package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixture tables (TESTDATA.md).
  *
  * All tables are plain parquet reads — Spark's vectorized reader plus
  * Catalyst predicate pushdown / column pruning make these the scan layer
  * of the engine; at cluster scale the same loaders work on a directory of
  * many files (Spark parallelizes file listing and splits row groups).
  *
  * `events.ts` normalizes to a session-UTC microsecond TIMESTAMP from
  * whichever physical layout the fixture generation used (see the branch
  * in `load` — TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS)-as-NTZ have
  * both appeared across rounds; the conversion is lossless for either).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalog-style schema cache (r15, the rowCountCache argument): a bare
    * `spark.read.parquet(path)` re-lists the path and re-reads a footer to
    * infer the schema on EVERY call — measured ~50-60 ms of driver time
    * per call warm (timed in a loop of repeated `spark.read.parquet`
    * calls on one path), paid 1-7× per query per bench rep,
    * ~20 s across the 199-query registry. A real deployment reads the
    * schema from its catalog (metastore / Iceberg manifest) instead of
    * re-inferring it per query; the fixtures are immutable for the life of
    * the JVM, so the first inference IS the catalog entry. Only metadata
    * is memoized — every query still scans the parquet data itself.
    *
    * The cache is keyed by path only and shared by every session in the
    * JVM, but how a schema decodes can depend on session conf: a cached
    * schema that was inferred under a conf sets that conf in every
    * session that reads through it (see the `events` branch of `load`). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      // The fixture has shipped two layouts for `ts`: parquet
      // TIMESTAMP(NANOS) (surfaces as raw nano LONGs under the legacy
      // conf) and TIMESTAMP(MICROS) isAdjustedToUTC=false (surfaces as
      // TIMESTAMP_NTZ). Both normalize to the same session-UTC
      // microsecond TIMESTAMP — the naive values ARE UTC instants in
      // the generator, and the session timezone is pinned to UTC at
      // every entry point, so the cast is value-preserving.
      // The legacy conf is session-wide (it changes how EVERY later
      // parquet read in the session decodes TIMESTAMP(NANOS) columns),
      // so it is only flipped on when the plain read actually trips over
      // the NANOS layout — sessions on the modern fixtures never see a
      // mutated conf. Once needed it must STAY set: the lazy scan
      // re-consults it at execution time.
      val path = s"$sfDir/events.parquet"
      val raw =
        try readCached(spark, path)
        catch {
          // ONLY the NANOS-schema failure earns the legacy-conf retry: a
          // missing file / permission / corrupt-footer error must not
          // flip the session-global conf on its way to failing again
          // (a failed inference is never cached — computeIfAbsent leaves
          // the map empty on throw, so the retry re-infers)
          case e: Throwable if Option(e.getMessage).exists(m =>
              m.contains("TIMESTAMP(NANOS") || m.contains("Illegal Parquet type")) =>
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            readCached(spark, path)
        }
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // a LONG `ts` is the NANOS layout as decoded under the legacy
          // conf. The schema may come from the cache, filled by another
          // session, so the conf is set in THIS session too. Spark 4.1's
          // parquet reader happens to accept a NANOS column under a
          // supplied LONG schema without it (SchemaEvolutionSpec reads
          // one fixture from two sessions), but only the conf makes that
          // decoding the documented one.
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          // FLOOR division, not `div` (truncate-toward-zero): a pre-1970
          // nano timestamp that is not a whole microsecond would
          // otherwise land one microsecond late (the Intervals.scala
          // binning pattern — pmod is non-negative, so subtracting it
          // floors for negatives too)
          raw.withColumn("ts",
            timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case org.apache.spark.sql.types.TimestampType => raw
        case other =>
          // the layout has already changed twice across fixture
          // generations — a third unknown layout must fail HERE with a
          // name, not propagate misread instants into every query
          throw new IllegalStateException(
            s"events.ts: unexpected physical type $other — " +
              "extend Tables.load's normalization for this layout")
      }
    case n =>
      readCached(spark, s"$sfDir/$n.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every fixture table as a temp view so `spark.sql` queries and
    * the DuckDB oracle share identical table names. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Catalog-style table row count, computed once per (sfDir, table) and
    * memoized for the life of the JVM. Queries that size a data structure
    * from the corpus cardinality (e.g. the ANN family's √N coarse
    * quantizer) read THIS instead of re-running `count()` per query — the
    * analogue of the `ANALYZE TABLE` statistics a real deployment keeps in
    * its catalog for an immutable corpus, and one fewer full-scan action
    * per query here. Parquet makes the first computation metadata-cheap
    * (footer row counts; no data pages are read). */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    rowCountCache.computeIfAbsent(s"$sfDir/$name",
      _ => load(spark, sfDir, name).count())
}
