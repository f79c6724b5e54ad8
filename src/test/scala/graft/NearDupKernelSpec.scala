package graft

import graft.ops.TextOps
import graft.queries.DedupQueries
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join

/** The broadcast near-dup kernel (TextOps.indexedPairs) against the
  * relational path it replaces below the broadcast bound: the same
  * multiset of pairs, for both callers (the df-capped n-gram index and
  * MinHash-LSH banding), on the fixture corpus and on an adversarial one.
  * The relational path is forced by the bound itself (maxBroadcastDocs
  * = 0), not by a conf key. */
class NearDupKernelSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val maxDf = 10

  /** Duplicate ids, null text, docs under 3 words, a bucket of 20
    * identical docs, one rare shingle at df = maxDf and one at maxDf + 1,
    * exact and near duplicates. */
  private lazy val adversarial: DataFrame = {
    val w = (1 to 40).map(i => s"w$i")
    val a = w.take(30).mkString(" ")
    val rows =
      Seq[(Long, String)](
        1L -> a, 2L -> a,                                  // exact dup pair
        3L -> (w.take(28) ++ Seq("x", "y")).mkString(" "), // near dup of a
        3L -> w.slice(5, 35).mkString(" "),                // duplicate id 3
        4L -> null, 5L -> "ab cd", 6L -> "", 7L -> "one two three",
        8L -> "one two three") ++
        (100L until 120L).map(_ -> (1 to 25).map(i => s"c$i").mkString(" ")) ++
        (200L until 200L + maxDf).map(i => i -> s"k1 k2 k3 u$i") ++
        (300L until 300L + maxDf + 1).map(i => i -> s"m1 m2 m3 v$i")
    rows.toDF("doc_id", "text")
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Long, Long, Long, Double)] =
    df.select("id1", "id2", "inter", "sz1", "sz2", "jaccard").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
      .sorted

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case j: Join => j }.isDefined

  test("boundedInterCount equals interCount on every pair that can reach t") {
    val rnd = new scala.util.Random(11)
    def sortedArr(len: Int, range: Int, distinct: Boolean): Array[Long] = {
      val xs = Array.fill(len)(rnd.nextInt(range).toLong)
      java.util.Arrays.sort(xs)
      if (distinct) xs.distinct else xs
    }
    var (kept, pruned) = (0, 0)
    for (_ <- 0 until 4000; t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val a = sortedArr(1 + rnd.nextInt(40), 45, distinct = true)
      val b = sortedArr(1 + rnd.nextInt(40), 45, distinct = true)
      val exact = TextOps.interCount(a, b)
      val jac = exact.toDouble / (a.length + b.length - exact)
      TextOps.boundedInterCount(a, b, t) match {
        case -1L =>
          pruned += 1
          assert(jac < t - 1e-6, s"pruned a pair at jaccard $jac >= ${t - 1e-6}")
        case got =>
          kept += 1
          assert(got === exact)
      }
    }
    assert(kept > 200 && pruned > 200, s"kept $kept, pruned $pruned")
  }

  test("indexedPairs keeps arrays with repeated elements on run-product counting") {
    // every array repeats one of a few values, so interCount's run
    // products count a shared repeat 4 times — the bounded merge would
    // be wrong here. ≥ 4 distinct elements keep sz1 + sz2 − inter > 0.
    val rnd = new scala.util.Random(5)
    val arrs = Array.fill(60) {
      val xs = Array.fill(4 + rnd.nextInt(10))(rnd.nextInt(16).toLong).distinct
      val withRepeat = if (xs.length >= 4) xs :+ xs(rnd.nextInt(2)) else xs
      java.util.Arrays.sort(withRepeat)
      withRepeat
    }
    val ids = Array.tabulate(arrs.length)(i => (i / 2).toLong) // every id twice
    val keys = TextOps.denseKeys(arrs.map(_.toSeq: Seq[Long]))
    for (t <- Seq(0.0, 0.5)) {
      val got = pairs(TextOps.indexedPairs(spark, ids, keys, arrs, t))
      // candidates are id pairs sharing a key in any of their rows; each
      // pairs every row of one id with every row of the other
      val idKeys = ids.indices.groupMapReduce(ids(_))(keys(_).toSet)(_ ++ _)
      val want = for {
        i <- arrs.indices; j <- arrs.indices
        if ids(i) < ids(j) && idKeys(ids(i)).exists(idKeys(ids(j)))
        inter = TextOps.interCount(arrs(i), arrs(j))
        (sz1, sz2) = (arrs(i).length.toLong, arrs(j).length.toLong)
        jac = BigDecimal(inter.toDouble / (sz1 + sz2 - inter))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if jac >= t
      } yield ((ids(i), ids(j), inter, sz1, sz2, jac),
        inter > arrs(i).distinct.intersect(arrs(j).distinct).length)
      assert(got === want.map(_._1).sorted, s"t = $t")
      assert(want.exists(_._2), s"t = $t: no pair with run-product counting in play")
    }
  }

  test("capped n-gram: kernel and relational branch give equal multisets") {
    val fixture = Tables.documents(spark, sf)
    for ((docs, t) <- Seq(fixture -> 0.8, fixture -> 0.3, adversarial -> 0.0,
        adversarial -> 0.3, adversarial -> 0.8)) {
      val kernel = TextOps.jaccardPairsCapped(docs, "doc_id", "text", 3, maxDf, t)
      val joined = TextOps.jaccardPairsCapped(docs, "doc_id", "text", 3, maxDf, t,
        maxBroadcastDocs = 0L)
      assert(!hasJoin(kernel) && hasJoin(joined), "a branch took the wrong path")
      val got = pairs(kernel)
      assert(got.nonEmpty)
      assert(got === pairs(joined), s"t = $t")
    }
    val adv = pairs(TextOps.jaccardPairsCapped(adversarial, "doc_id", "text", 3, maxDf, 0.3))
    val ids = adv.flatMap(p => Seq(p._1, p._2)).toSet
    // df = maxDf stays in the index, df = maxDf + 1 and the 20-doc
    // bucket do not; the duplicate id pairs once per row
    assert(ids.contains(200L) && !ids.contains(300L) && !ids.contains(100L))
    assert(adv.count(p => p._1 == 1L && p._2 == 3L) === 2)
  }

  test("MinHash-LSH: kernel and relational branch give equal multisets") {
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    adversarial.write.parquet(s"$dir/documents.parquet")
    for (d <- Seq(sf, dir)) {
      val kernel = DedupQueries.minhashVerifiedPairs(spark, d)
      val joined = DedupQueries.minhashVerifiedPairs(spark, d, maxBroadcastDocs = 0L)
      assert(!hasJoin(kernel) && hasJoin(joined), s"$d: a branch took the wrong path")
      val got = pairs(kernel)
      assert(got.nonEmpty)
      assert(got === pairs(joined), d)
      if (d == dir) // the 20 identical docs agree on every band
        assert(got.count(p => p._1 >= 100L && p._2 < 120L) === 190)
    }
  }

  test("the dedup queries take the kernel by default, in fewer jobs") {
    val metrics = QueryMetrics.register(spark.sparkContext)
    try {
      for (q <- Seq("dedup_ngram_capped", "dedup_minhash_lsh", "dedup_clusters")) {
        val df = metrics.measure(q) {
          val df = SparkEntry.queries(q)(spark, sf)
          df.collect()
          df
        }
        assert(!hasJoin(df) || q == "dedup_clusters", s"$q planned a join")
      }
      def run(tag: String)(df: => DataFrame): Array[Row] = metrics.measure(tag)(df.collect())
      run("minhash-kernel")(DedupQueries.minhashVerifiedPairs(spark, sf))
      run("minhash-join")(DedupQueries.minhashVerifiedPairs(spark, sf, maxBroadcastDocs = 0L))
      assert(metrics.jobs("minhash-kernel") < metrics.jobs("minhash-join"),
        s"kernel ${metrics.jobs("minhash-kernel")} jobs, join ${metrics.jobs("minhash-join")}")
      assert(metrics.jobs("dedup_ngram_capped") <= 6 && metrics.jobs("dedup_minhash_lsh") <= 6,
        s"capped ${metrics.jobs("dedup_ngram_capped")}, minhash ${metrics.jobs("dedup_minhash_lsh")} jobs")
    } finally metrics.close()
  }
}
