package graft

import org.apache.spark.sql.functions._

/** Schema evolution across parquet batches — the lake reality that a
  * corpus directory written over months carries several schema
  * versions. Pins the two read postures: mergeSchema (footer union —
  * correct but reads EVERY file's footer, an extra pass at 100 TB) and
  * the production posture of an explicit superset schema (no footer
  * scan, old files null-fill the new columns). */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatches(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "alpha"), (2L, "beta"))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((3L, "gamma", "en", 0.9), (4L, "delta", "de", 0.4))
      .toDF("doc_id", "text", "lang", "quality")
      .write.mode("append").parquet(dir)
    dir
  }

  test("mergeSchema unions batch schemas and null-fills missing columns") {
    val merged = spark.read.option("mergeSchema", "true").parquet(writeBatches())
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "lang", "quality", "text"))
    val rows = merged.orderBy("doc_id").collect()
    assert(rows.length === 4)
    assert(rows(0).isNullAt(rows(0).fieldIndex("lang")),
      "pre-evolution rows must null-fill the added column")
    assert(rows(2).getString(rows(2).fieldIndex("lang")) === "en")
  }

  test("explicit superset schema reads all batches without a footer scan") {
    val evolved = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, quality DOUBLE")
      .parquet(writeBatches())
    assert(evolved.count() === 4)
    // aggregation treats null-filled history correctly: count ignores,
    // avg ignores — no sentinel pollution from the old batches
    val r = evolved.agg(
      count(col("lang")).as("n_lang"),
      round(avg(col("quality")), 2).as("avg_q")).collect()(0)
    assert(r.getLong(0) === 2L)
    assert(r.getDouble(1) === 0.65)
  }

  test("without mergeSchema or a schema, a single footer wins — columns can vanish") {
    // the FAILURE MODE the explicit schema protects against: schema
    // inference picks an arbitrary footer, so the added columns may or
    // may not appear depending on file listing order
    val got = spark.read.parquet(writeBatches()).columns.toSet
    assert(got.contains("doc_id") && got.contains("text"))
    assert(Set(2, 4).contains(got.size))
  }

  test("Tables.load: a TIMESTAMP(NANOS) events schema cached by one session reads in another") {
    // Tables caches schemas per path for the whole JVM, but the NANOS
    // layout is only inferred under a per-session legacy conf: the second
    // session gets the cached LONG schema without tripping the inference
    // failure, so it must set the conf itself. Fixture:
    // tools/make_nanos_events_fixture.py.
    val dir = new java.io.File(
      getClass.getResource("/graft/events_nanos/events.parquet").toURI).getParent
    val want = Seq(0L -> 1704067200123456L, 1L -> 1704067260000000L, 2L -> -1L, 3L -> 0L)
    for (_ <- 1 to 2) {
      val s = spark.newSession()
      val got = Tables.events(s, dir).select(col("event_id"), unix_micros(col("ts")))
        .orderBy("event_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(got === want)
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    }
  }
}
