package graft.tagbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.TagbenchBus
import org.apache.spark.sql.SparkSession

/** The measured process of one benchmark run: set up a session, warm up,
  * run timed passes of one workload for the requested seconds (when
  * tracing, alternating with traced passes), check the outputs and, when
  * tracing, make one isolated call per layer. Results go to the --out file
  * as JSON; `tagbench/run.py` turns them into the benchmark's metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --input DIR --work DIR --out FILE [--warm DIR] [--fault 1] */
object Main {
  /** Most untraced/traced pass pairs of a traced run. */
  val MaxTracePairs = 3

  def main(args: Array[String]): Unit = {
    val epochMain = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))
    val input = Paths.get(opt("input"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("tagbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = opt("workload") match {
      case "tag_photos" => new TagPhotos(spark, input)
      case "retag_logits" => new RetagLogits(spark, input, work)
      case "query_mix" => new QueryMix(spark, input, Paths.get(opt("warm")), opt("seed").toLong, work)
    }
    val t1 = System.nanoTime()
    w.reset()
    val warmWalls = w.warmUp()
    val warmupS = (System.nanoTime() - t1) / 1e9

    val epochFirstPass = System.currentTimeMillis()
    val tracing = opt("trace") == "1"
    val sc = spark.sparkContext
    val passes = mutable.ArrayBuffer.empty[Pass]
    var tally = Tally(0, 0)
    // A traced run reports per-layer metrics only. Its untraced passes
    // alternate with traced ones, so both sides of a pair see the same
    // warm-up state, and the tracing overhead is the median pair ratio.
    // Each traced pass gets fresh listeners, removed before the next
    // untraced pass; the last traced pass's feed the layer metrics.
    val ratios = mutable.ArrayBuffer.empty[Double]
    var lastTrace: Option[(Tracer, RuntimeListener, PlanListener, Map[String, Any])] = None
    val loop0 = System.nanoTime()
    // pairs take twice a pass, so a traced run may take up to three windows
    while (passes.isEmpty || (System.nanoTime() - loop0) / 1e9 < (if (tracing) 3 * seconds else seconds) &&
           (!tracing || passes.size < MaxTracePairs)) {
      lastTrace.foreach { case (_, rt, plan, _) =>
        sc.removeSparkListener(rt)
        spark.listenerManager.unregister(plan)
      }
      w.reset()
      val p = w.pass(None)
      passes += p
      tally += w.check(p)
      if (tracing) {
        val rt = new RuntimeListener
        val plan = new PlanListener
        sc.addSparkListener(rt)
        spark.listenerManager.register(plan)
        val tr = new Tracer(sc)
        w.reset()
        val traced = tr("pass")(w.pass(Some(tr)))
        TagbenchBus.drain(sc)
        val runtime = runtimeMetrics(rt, traced.wallS, cores) ++
          (if (opt("workload") == "query_mix") Map("query.plan_s" -> plan.planSeconds) else Map.empty)
        tally += w.check(traced)
        ratios += traced.wallS / p.wallS
        lastTrace = Some((tr, rt, plan, runtime))
      }
    }
    if (opt.contains("fault")) {
      w.injectFault()
      tally += w.check(passes.last)
    }
    tally += w.finalCheck()

    val trace = lastTrace.map { case (tr, rt, _, runtime) =>
      val (layerMetrics, spanMetrics) = w.layers(tr, rt)
      TagbenchBus.drain(sc)
      w.reset()
      Map(
        "metrics" -> (runtime ++ layerMetrics ++ Map(
          "setup.session_s" -> sessionS,
          "setup.warmup_s" -> warmupS,
          "trace.overhead_share" -> (median(ratios.toSeq) - 1))),
        "span_metrics" -> spanMetrics,
        "spans" -> tr.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
        "groups" -> rt.groups.map { case (g, st) => g -> Map("jobs" -> st.jobs,
          "stages" -> st.stages, "tasks" -> st.tasks, "executor_run_s" -> st.runMs / 1e3,
          "shuffle_write_bytes" -> st.shuffleWrite) }.toMap,
        "overhead_ratios" -> ratios)
    }

    val result = Map(
      "workload" -> opt("workload"),
      "cores" -> cores,
      "epoch_main_ms" -> epochMain,
      "epoch_first_pass_ms" -> epochFirstPass,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "warmup_walls_s" -> warmWalls,
      "passes" -> passes.map(p => Map("wall_s" -> p.wallS, "items" -> p.items,
        "ops" -> p.opLatencyS.toMap)),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "input" -> w.inputInfo,
      "peak_rss_mb" -> peakRssMb,
      "trace" -> trace)
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Workloads.toJson(result))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Spark runtime totals over every job group of the traced pass. */
  private def runtimeMetrics(rt: RuntimeListener, wallS: Double, cores: Int): Map[String, Any] = {
    val g = rt.groups.filter(_._1 != "(none)").values.toSeq
    val runS = g.map(_.runMs).sum / 1e3
    val stages = g.flatMap(st => st.stageWallMs.toSeq.map { case (id, ms) => (ms, st.stageTasks(id)) })
    val skew = if (stages.isEmpty) 1.0 else {
      val tasks = stages.maxBy(_._1)._2.map(_.toDouble).toSeq
      tasks.max / math.max(1.0, median(tasks))
    }
    Map(
      "spark.jobs" -> g.map(_.jobs).sum,
      "spark.stages" -> g.map(_.stages).sum,
      "spark.tasks" -> g.map(_.tasks).sum,
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> g.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> g.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> g.map(_.shuffleWrite).sum,
      "spark.shuffle_read_bytes" -> g.map(_.shuffleRead).sum,
      "spark.spill_bytes" -> g.map(_.spill).sum,
      "spark.core_busy_share" -> runS / (wallS * cores),
      "spark.task_skew" -> skew)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
