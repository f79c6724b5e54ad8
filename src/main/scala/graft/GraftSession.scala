package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its SparkSession: every main and
  * the test suites go through [[local]], so master width, shuffle width,
  * time zone and UI agree wherever the engine runs. */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS` when set, else every
    * available core. `env` is a parameter so a test can resolve it
    * without touching the process environment. */
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def cpus: Int = cpus(sys.env)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time zone,
    * no UI and WARN logging. */
  def local(cpus: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
