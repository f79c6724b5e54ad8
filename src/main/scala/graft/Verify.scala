package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir>")
    val sfDir = args(0)
    val outDir = args(1)
    val spark = GraftSession.local(GraftSession.cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (SPARK_GRAFT_ONLY=q1,q2, or a third CLI arg
    // for dev loops driven from a persistent sbt shell whose forked env
    // is fixed at launch); driver leaves both unset. Names are trimmed
    // and empties dropped (a trailing comma or padded space must not
    // silently skip queries); unknown names are FATAL — a typo'd subset
    // must not exit 0 having verified nothing.
    val only = args.drop(2).headOption
      .orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query names in SPARK_GRAFT_ONLY: ${unknown.mkString(", ")}")
    }
    // a subset run names its queries in subset.txt, so the compare
    // scores those alone; a full run removes a stale list
    val subsetFile = Paths.get(s"$outDir/subset.txt")
    only match {
      case Some(names) => Files.writeString(subsetFile, names.toSeq.sorted.mkString("", "\n", "\n"))
      case None => Files.deleteIfExists(subsetFile)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // stderr marker BEFORE each query: lets engine WARNs (e.g.
      // single-partition WindowExec) be attributed to their query when
      // auditing the log
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure BEFORE the overwrite reached $outDir/$name (analysis/
        // planning error) leaves a previous invocation's parquet in
        // place — the oracle compare would then "pass" on stale data.
        // A failed query must have NO output: the compare records a
        // missing-result FAIL instead.
        val stale = new java.io.File(s"$outDir/$name")
        if (stale.exists) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(stale)
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
