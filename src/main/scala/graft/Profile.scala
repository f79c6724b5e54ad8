package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.GraftSparkInternals
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode

/** Where a query's time goes: for each named query, [[Bench.medianOf3]]'s
  * time, then the jobs and per-stage table ([[QueryMetrics]]) of the last
  * of those runs — executed stages only, attempt 0, with the jobs the
  * query ran while it was being built, and each run's codegen work: the
  * Janino compilations it triggered and the seconds they took (JVM-wide
  * counters, read around the run; the first run of a query compiles
  * most). Stages are named by operator scope. With `--plans outDir` it also
  * writes the query's `explain("formatted")` to `outDir/<query>.txt`.
  * Each timed run includes draining the listener bus after the query
  * (milliseconds), which Bench's runs do not.
  *
  * Usage: runMain graft.Profile <sfDir> <q1,q2,...> [--plans outDir | --passes n]
  *
  * `--passes n` instead runs the named list n times in the given order,
  * collecting each result as a client would, and prints one line per
  * pass: wall seconds, jobs, Janino compilations and compile seconds
  * (the steady state of a mix shows from the second or third pass on),
  * then the last pass's split per query.
  *
  * Runs on `GraftSession.local(GraftSession.cpus)`. Iterative queries
  * (pagerank, BFS, k-core, components) pin their result with
  * localCheckpoint, so the written plan shows only the final consumer;
  * their per-round work is in the stage table. */
object Profile {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <sfDir> <q1,q2,...> [--plans outDir | --passes n]"
    require(args.length == 2 ||
      (args.length == 4 && Set("--plans", "--passes").contains(args(2))), usage)
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown query names: ${unknown.mkString(", ")}")
    val opt = args.drop(2).grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val plansDir = opt.get("--plans")
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val nPasses = opt.get("--passes").map(_.toInt)
    require(nPasses.forall(_ >= 1), usage)

    val spark = GraftSession.local(GraftSession.cpus, "graft-profile")
    val metrics = QueryMetrics.register(spark.sparkContext)
    try nPasses match {
      case Some(n) => passes(spark, metrics, sfDir, names, n)
      case None => names.foreach(profile(spark, metrics, sfDir, _, plansDir))
    } finally {
      metrics.close()
      spark.stop()
    }
  }

  /** [[Bench.medianOf3]] of one query, then its last run's jobs, stages
    * and codegen work; its formatted plan to `plansDir` when given. */
  private def profile(spark: org.apache.spark.sql.SparkSession, metrics: QueryMetrics,
                      sfDir: String, name: String, plansDir: Option[String]): Unit = {
    val fn = SparkEntry.queries(name)
    var rep = 0
    var last: DataFrame = null
    val codegen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val sec = Bench.medianOf3 {
      rep += 1
      val (n0, t0) = (GraftSparkInternals.codegenCompilations, CodeGenerator.compileTime)
      try metrics.measure(s"$name#$rep") { last = fn(spark, sfDir); last.count() }
      finally codegen += ((GraftSparkInternals.codegenCompilations - n0,
        (CodeGenerator.compileTime - t0) / 1e9))
    }
    sec match {
      case Left(e) => println(s"[profile] $name failed in run $rep: $e")
      case Right(s) =>
        val stages = metrics.stages(s"$name#$rep")
        println(f"[profile] $name: median $s%.3f s; last run ${metrics.jobs(s"$name#$rep")} jobs, " +
          f"${stages.size} stages, executor run ${stages.map(_.runMs).sum} ms")
        println(s"[profile] $name: codegen per run ${codegen.map(_._1).mkString("/")} " +
          s"compilations, ${codegen.map(c => f"${c._2}%.2f").mkString("/")} s compiling")
        println("stage  tasks   runMs      inMB     srMB     swMB  name")
        stages.foreach { st =>
          println(f"${st.id}%5d ${st.tasks}%6d ${st.runMs}%7d ${st.inputBytes / 1e6}%9.1f " +
            f"${st.shuffleReadBytes / 1e6}%8.1f ${st.shuffleWriteBytes / 1e6}%8.1f  ${st.name}")
        }
    }
    for (d <- plansDir; df <- Option(last)) {
      val out = Paths.get(d, s"$name.txt")
      Files.writeString(out, df.queryExecution.explainString(FormattedMode))
      println(s"[profile] wrote $out")
    }
  }

  /** Runs `names` in order `n` times; per pass one line of wall seconds,
    * jobs, compilations and compile seconds, and the last pass per query. */
  private def passes(spark: org.apache.spark.sql.SparkSession, metrics: QueryMetrics,
                     sfDir: String, names: Seq[String], n: Int): Unit =
    for (p <- 1 to n) {
      val rows = names.map { name =>
        val (n0, t0, w0) =
          (GraftSparkInternals.codegenCompilations, CodeGenerator.compileTime, System.nanoTime())
        val failure = scala.util.Try(metrics.measure(s"$name@$p") {
          SparkEntry.queries(name)(spark, sfDir).collect()
        }).failed.toOption
        failure.foreach(e => println(s"[profile] pass $p: $name failed: $e"))
        (name, (System.nanoTime() - w0) / 1e9, metrics.jobs(s"$name@$p"),
          GraftSparkInternals.codegenCompilations - n0, (CodeGenerator.compileTime - t0) / 1e9)
      }
      println(f"[profile] pass $p: ${rows.map(_._2).sum}%.2f s, ${rows.map(_._3).sum} jobs, " +
        f"${rows.map(_._4).sum} compilations, ${rows.map(_._5).sum}%.2f s compiling")
      if (p == n) rows.foreach { case (name, sec, jobs, comp, compS) =>
        println(f"[profile]   $name%-24s $sec%7.3f s $jobs%4d jobs $comp%4d compilations " +
          f"$compS%6.2f s compiling")
      }
    }
}
