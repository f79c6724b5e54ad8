package graft

import graft.ops.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The text-pipeline twin of TagDirectory: the engine's LLM-data
  * curation ops as a batch tool. Point it at a parquet corpus with a
  * `text` column, get back a cleaned corpus plus a yield report:
  *
  *   1. quality filter  — length/diversity/stopword score ≥ --min-quality
  *   2. exact dedup     — md5 hash-groupBy, min-id keeper
  *   3. near-dup dedup  — minhash-LSH candidates (row-local signatures)
  *      verified with exact Jaccard ≥ --jaccard; non-keeper cluster
  *      members dropped (min-id keeper via connected components)
  *   4. optional deterministic 1-in-N hash sampling (--sample-mod N)
  *
  * Every stage is one of the oracle-checked primitives from
  * graft.queries; this main just composes them and writes parquet.
  *
  * Usage:
  *   runMain graft.CurateCorpus <inParquet> <outDir>
  *     [--id doc_id] [--text text] [--min-quality 0.5]
  *     [--jaccard 0.8] [--sample-mod 0]
  */
object CurateCorpus {

  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: CurateCorpus <inParquet> <outDir> " +
        "[--id doc_id] [--text text] [--min-quality 0.5] [--jaccard 0.8] [--sample-mod 0]")
      sys.exit(2)
    }
    val in = args(0)
    val out = args(1)
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val idCol = opt("--id").getOrElse("doc_id")
    val textCol = opt("--text").getOrElse("text")
    val minQuality = opt("--min-quality").map(_.toDouble).getOrElse(0.5)
    val jaccardT = opt("--jaccard").map(_.toDouble).getOrElse(0.8)
    val sampleMod = opt("--sample-mod").map(_.toLong).getOrElse(0L)

    val spark = GraftSession.local(GraftSession.cpus, "graft-curate-corpus")

    val t0 = System.nanoTime()
    val report = curate(spark, spark.read.parquet(in), out,
      idCol, textCol, minQuality, jaccardT, sampleMod)
    val sec = (System.nanoTime() - t0) / 1e9
    println("=== curation report ===")
    report.foreach { case (stage, n) => println(f"$stage%-22s $n%,10d docs") }
    println(f"total: $sec%.2f s")
    spark.stop()
  }

  /** Runs the curation chain, writes the surviving corpus to `out`,
    * returns (stage, surviving-count) pairs in order. */
  def curate(spark: SparkSession, docsIn: org.apache.spark.sql.DataFrame,
             out: String, idCol: String, textCol: String,
             minQuality: Double, jaccardT: Double,
             sampleMod: Long): Seq[(String, Long)] = {
    val docs = docsIn.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("string").as("text"))
      .localCheckpoint()
    // ONE validation pass: total, null ids, distinct ids. A non-numeric
    // id column (string/UUID corpus) casts to ALL NULLs and every
    // downstream join would match nothing — an empty output
    // misattributed to the quality filter; DUPLICATE ids are just as
    // gate-blind and worse at scale: every equi-join stage multiplies a
    // duplicate group geometrically (4 rows after the quality join, 8
    // after the keeper join, ...), silently inflating the written
    // corpus and every reported count. Fail with the actual cause.
    val idStats = docs.agg(count(lit(1)),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)),
        countDistinct(col("doc_id"))).collect().head
    val nIn = idStats.getLong(0)
    val nullIds = Option(idStats.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nDistinct = idStats.getLong(2)
    require(nullIds == 0,
      s"$nullIds of $nIn rows have a NULL/non-numeric '$idCol' after the " +
        s"long cast — curation joins on this id; map non-numeric ids to " +
        s"a numeric surrogate (hash + collision-check) before calling curate")
    require(nDistinct == nIn,
      s"'$idCol' is not unique: $nIn rows but $nDistinct distinct ids — " +
        s"every curation join would multiply duplicate-id groups " +
        s"geometrically; deduplicate ids before calling curate")

    // 1. quality filter (same formula as text_quality_score; n_chars
    // derived from the text so any corpus works; stats row-local)
    val quality = TextOps.qualityStatsLocal(docs,
        "doc_id", "text", length(col("text")), stopwords)
      .select(col("doc_id"),
        (lit(0.4) * least(col("n_chars") / 500.0, lit(1.0))
          + lit(0.3) * (col("n_uniq") / col("n_tokens").cast("double"))
          + lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tokens").cast("double")))
          .as("quality"))
      .filter(col("quality") >= minQuality)
      .select("doc_id")
    val afterQuality = docs.join(quality, "doc_id").localCheckpoint()
    val nQuality = afterQuality.count()

    // 2. exact dedup → min-id keepers
    val exactKeepers = afterQuality
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val afterExact = afterQuality.join(exactKeepers, "doc_id").localCheckpoint()
    val nExact = afterExact.count()

    // 3. near-dup dedup: minhash-LSH candidates → exact-Jaccard verify →
    // connected components → drop non-keepers
    val sig = TextOps.minhashSignaturesLocal(afterExact, "doc_id", "text", 3, 16)
      .localCheckpoint()
    val bands0 = TextOps.lshBands(sig, "doc_id", 16, 4)
    // hot-bucket guard (the TextOps.jaccardPairsCapped maxDf convention,
    // applied to LSH buckets): one template-spam cluster puts m
    // near-identical docs into the same (band, band_key) bucket, and
    // the self-join below generates m²/2 candidate rows BEFORE any
    // verification — at m = 10⁶ that is ~2·10¹² joined rows, a job
    // that never finishes, invisible at fixture scale. Buckets above
    // the cap are dropped from the candidate stage: a recall posture
    // (their members still pair through their other 3 bands when below
    // the cap there), never a correctness one, and the cap is far
    // above any honest bucket.
    val maxBucket = 4096
    val hotBuckets = bands0.groupBy("band", "band_key")
      .agg(count(lit(1)).as("m")).filter(col("m") > maxBucket)
      .select("band", "band_key")
    val bands = bands0.join(hotBuckets, Seq("band", "band_key"), "left_anti")
    // pinned: cand feeds BOTH candDocs (via the arrs checkpoint) and
    // scoredPairs — un-checkpointed, the band self-join + distinct (the
    // dominant shuffle of this stage) would execute twice
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
      .localCheckpoint()
    val candDocs = cand.select(col("id1").as("doc_id"))
      .union(cand.select(col("id2"))).distinct()
    // exact verify via the shared sorted-merge array kernel (same path
    // as dedup_minhash_lsh) — only candidate docs are ever shingled
    val arrs = TextOps.pinShingleArrays(TextOps.shingleArraysLocal(
      afterExact.join(candDocs, "doc_id"), "doc_id", "text", 3))
    val dupPairs = TextOps.scoredPairs(cand, arrs, "doc_id", jaccardT)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val comp = ops.Components.connectedComponents(dupPairs)
    val dropNearDups = comp.filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
    val afterNear = afterExact.join(dropNearDups, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nNear = afterNear.count()

    // 4. optional deterministic hash sampling
    val kept =
      if (sampleMod > 1)
        afterNear.filter(TextOps.md5Long(col("doc_id")) % sampleMod === 0)
      else afterNear
    val nKept = kept.count()

    kept.write.mode("overwrite").parquet(out)
    Seq("input" -> nIn, "quality >= threshold" -> nQuality,
      "exact-deduped" -> nExact, "near-dup-deduped" -> nNear,
      "sampled/written" -> nKept)
  }
}
