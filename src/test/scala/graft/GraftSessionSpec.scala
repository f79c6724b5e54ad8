package graft

class GraftSessionSpec extends SparkSpec {

  test("the shared test session is GraftSession.local(4): width, time zone, no UI") {
    // getOrCreate hands back the running session, so this starts no
    // second SparkContext
    assert(GraftSession.local(4, "graft-test") eq spark)
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("cpus: SPARK_GRAFT_CPUS when set, else the available processors") {
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(GraftSession.cpus(Map.empty) === Runtime.getRuntime.availableProcessors)
  }
}
