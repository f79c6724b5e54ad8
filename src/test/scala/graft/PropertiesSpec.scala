package graft

import graft.ops.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated property tests (SURVEY.md §5.3). The scalatest/
  * scalacheck bridge artifact isn't available offline, so generators are
  * sampled explicitly under fixed seeds — same coverage, deterministic. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic samples from a generator. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private lazy val vocab = Vocab.fromJson(spark,
    """{"0": {"tag": "safe", "category": "rating"},
      | "1": {"tag": "nsfw", "category": "rating"},
      | "2": {"tag": "good", "category": "quality"},
      | "3": {"tag": "hair", "category": "general"},
      | "4": {"tag": "sky", "category": "general"},
      | "5": {"tag": "alice", "category": "character"}}""".stripMargin)

  private val logitsGen: Gen[List[Double]] =
    Gen.listOfN(6, Gen.chooseNum(-40.0, 40.0))

  test("property: sigmoid bounded in (0,1) across extreme logits") {
    val xs = samples(Gen.chooseNum(-200.0, 200.0), 40)
    val ps = xs.toDF("x").select(RelationalTagging.clippedSigmoid(col("x")).as("p"))
      .collect().map(_.getDouble(0))
    assert(ps.forall(p => p > 0.0 && p < 1.0))
  }

  test("property: raising thresholds never adds tags (monotonicity)") {
    for (logits <- samples(logitsGen, 8)) {
      val scores = Seq((1L, logits)).toDF("image_id", "logits")
      def tagsAt(t: Double): Set[String] =
        Tagging.pipeline(scores, vocab, t, t).collect().head.getString(1)
          .split(", ").filter(_.nonEmpty).toSet
      val loose = tagsAt(0.45)
      val strict = tagsAt(0.65)
      assert(strict.subsetOf(loose), s"logits=$logits")
    }
  }

  test("property: tag output invariant to input row order") {
    for (vs <- samples(Gen.listOfN(4, logitsGen), 4)) {
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      def run(rs: Seq[(Long, List[Double])]) =
        Tagging.pipeline(rs.toDF("image_id", "logits"), vocab)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(run(rows) === run(rows.reverse))
    }
  }

  test("property: exact dedup idempotent") {
    for (texts <- samples(Gen.listOfN(30,
        Gen.oneOf("a b c", "x y z", "q w e")), 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val once = df.dropDuplicates("text")
      assert(once.dropDuplicates("text").count() === once.count())
    }
  }

  test("property: jaccard pairs bounded in (0,1], canonical id1<id2") {
    for (docs <- samples(Gen.listOfN(6,
        Gen.listOfN(8, Gen.oneOf("w1", "w2", "w3", "w4", "w5"))), 4)) {
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val pairs = TextOps.jaccardPairs(
        TextOps.shingles(df, "doc_id", "text", 2), "doc_id").collect()
      pairs.foreach { r =>
        val j = r.getAs[Double]("jaccard")
        assert(j > 0.0 && j <= 1.0)
        assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"))
      }
    }
  }

  test("prefix-filtered jaccard ≡ full inverted-index join (fixture + adversarial)") {
    // real corpus: identical thresholded pairs (all columns)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Long]("inter"),
        r.getAs[Long]("sz1"), r.getAs[Long]("sz2"), r.getAs[Double]("jaccard"))
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val full = TextOps.jaccardPairs(
          TextOps.shinglesHashedLocal(docs, "doc_id", "text", 3), "doc_id")
        .filter(col("jaccard") >= t).collect().map(key).toSet
      val pref = TextOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      assert(pref === full, s"threshold $t")
    }
    // adversarial: doc sizes that are multiples of 5 (0.8·sz lands on an
    // exact integer — the ⌈⌉ slack edge), exact duplicates, boundary pairs
    val words = (1 to 60).map(i => s"w$i")
    val adversarial = Seq(
      1L -> words.take(52).mkString(" "),             // sz = 50 shingles
      2L -> words.take(52).mkString(" "),             // exact dup of 1
      3L -> (words.take(47) :+ "zz").mkString(" "),   // near-dup of 1
      4L -> words.slice(10, 62).mkString(" "),        // partial overlap
      5L -> "tiny doc here",                          // sz = 1
      6L -> "tiny doc here",                          // dup of 5
      7L -> "ab cd"                                   // no shingles (2 words)
    ).toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.8)) {
      val full = TextOps.jaccardPairs(
          TextOps.shinglesHashedLocal(adversarial, "doc_id", "text", 3), "doc_id")
        .filter(col("jaccard") >= t).collect().map(key).toSet
      val pref = TextOps.jaccardPairsPrefix(adversarial, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      assert(pref === full, s"adversarial threshold $t")
      assert(full.exists(_._6 == 1.0)) // the exact dups really are in play
    }
    // the join-path fallback (maxBroadcastDocs exceeded) agrees too
    val joinPath = TextOps.jaccardPairsPrefix(adversarial, "doc_id", "text", 3, 0.4,
        maxBroadcastDocs = 2)
      .collect().map(key).toSet
    val bcPath = TextOps.jaccardPairsPrefix(adversarial, "doc_id", "text", 3, 0.4)
      .collect().map(key).toSet
    assert(joinPath === bcPath)
  }

  test("row-local kernels ≡ declarative forms: simhash + minhash signatures on real docs") {
    // the scale-path kernels must reproduce the exact md5-derived
    // integers of the explode/groupBy forms on the fixture corpus
    // (including multi-space/empty-token edge cases in real text)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val simDecl = TextOps.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simLocal = TextOps.simhashLocal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(simLocal === simDecl)
    val mhDecl = TextOps.minhashSignatures(
      TextOps.shingles(docs, "doc_id", "text", 3), "doc_id", 16)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val mhLocal = TextOps.minhashSignaturesLocal(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(mhLocal === mhDecl)
    // the hashed-shingle kernel == declarative shingles ∘ md5Long
    val shDecl = TextOps.shingles(docs, "doc_id", "text", 3)
      .select(col("doc_id"), TextOps.md5Long(col("shingle")).as("shingle"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shLocal = TextOps.shinglesHashedLocal(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shLocal === shDecl)
    // and the kernels shuffle nothing
    val plan = TextOps.simhashLocal(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("lshBands: one posexplode gives the per-band union's rows and types on real docs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val sig = TextOps.minhashSignaturesLocal(docs, "doc_id", "text", 3, 16)
      .localCheckpoint()
    // the former formulation: one projection per band, unioned
    val union = (0 until 4).map { b =>
      sig.select(col("doc_id"), lit(b).as("band"),
        concat_ws(",", (b * 4 until b * 4 + 4).map(j => col(s"h$j").cast("string")): _*)
          .as("band_key"))
    }.reduce(_ unionByName _)
    val got = TextOps.lshBands(sig, "doc_id", 16, 4)
    assert(got.schema === union.schema)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(identity).view.mapValues(_.length).toMap
    val want = multiset(union)
    assert(want.values.sum === 4 * sig.count())
    assert(multiset(got) === want)
  }

  test("row-local kernels ≡ declarative forms: term counts + quality stats") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // termCountsLocal == explode + groupBy(id, word).count
    val tcDecl = docs.select(col("doc_id"), explode(TextOps.words(col("text"))).as("word"))
      .groupBy("doc_id", "word").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val tcLocal = TextOps.termCountsLocal(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tcLocal === tcDecl)
    // qualityStatsLocal == explode + groupBy aggregates
    val stops = Seq("the", "a", "of")
    val qDecl = docs
      .select(col("doc_id"), col("n_chars"), explode(TextOps.words(col("text"))).as("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("word")).as("n_uniq"),
        sum(when(col("word").isin(stops: _*), 1L).otherwise(0L)).as("n_stop"),
        first(col("n_chars")).as("n_chars"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val qLocal = TextOps.qualityStatsLocal(docs, "doc_id", "text", col("n_chars"), stops)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(qLocal === qDecl)
    // and both kernels shuffle nothing
    for (k <- Seq(TextOps.termCountsLocal(docs, "doc_id", "text"),
        TextOps.qualityStatsLocal(docs, "doc_id", "text", col("n_chars"), stops))) {
      assert(!k.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }

  test("property: identical texts get identical minhash signatures") {
    for (texts <- samples(Gen.listOfN(6,
        Gen.oneOf("p q r s t", "s t u v w", "m n o p q")), 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sig = TextOps.minhashSignatures(
        TextOps.shingles(df, "doc_id", "text", 3), "doc_id", 8)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      for {
        (ti, i) <- texts.zipWithIndex
        (tj, j) <- texts.zipWithIndex if i < j && ti == tj
      } assert(sig(i.toLong) === sig(j.toLong))
    }
  }

  // word-salad corpora with planted shared runs — the contamination and
  // packing kernels get brute-force Scala oracles on top of these
  private val saladGen: Gen[List[String]] = for {
    n <- Gen.chooseNum(8, 24)
    texts <- Gen.listOfN(n, for {
      len <- Gen.chooseNum(6, 30)
      ws <- Gen.listOfN(len, Gen.oneOf(
        "data", "query", "spark", "row", "scan", "hash", "join", "agg"))
    } yield ws.mkString(" "))
  } yield texts

  test("contamination join ≡ brute-force n-gram set intersection (randomized)") {
    val n = 4 // shorter grams than the query's 8 so tiny corpora overlap
    for (texts <- samples(saladGen, 5)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def gramSet(t: String): Set[String] = {
        val ws = t.split(" ")
        (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).toSet
      }
      val evalGrams = texts.zipWithIndex.collect {
        case (t, i) if i % 3 == 0 => gramSet(t)
      }.foldLeft(Set.empty[String])(_ ++ _)
      val expected = texts.zipWithIndex.collect {
        case (t, i) if i % 3 != 0 && (gramSet(t) & evalGrams).nonEmpty =>
          i.toLong -> (gramSet(t) & evalGrams).size.toLong
      }.toMap
      // the engine pipeline (same shape as text_contamination)
      val grams = TextOps.shinglesHashedLocal(docs, "doc_id", "text", n)
      val ev = grams.filter(col("doc_id") % 3 === 0).select(col("shingle")).distinct()
      val got = grams.filter(col("doc_id") % 3 =!= 0)
        .join(broadcast(ev), "shingle")
        .groupBy("doc_id").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"texts=$texts")
    }
  }

  test("sequence packing ≡ sequential tape simulation (randomized)") {
    val seqLen = 7
    for (lens <- samples(Gen.listOfN(20, Gen.chooseNum(1, 15)), 5)) {
      // brute force: walk the tape doc by doc
      var off = 0L
      val expected = lens.zipWithIndex.map { case (l, i) =>
        val pack = off / seqLen; off += l; (i.toLong, pack)
      }.toMap
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val got = lens.zipWithIndex.map { case (l, i) => (i.toLong, l.toLong) }
        .toDF("doc_id", "n_tokens")
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id", floor((col("cum") - col("n_tokens")) / seqLen))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got === expected, s"lens=$lens")
    }
  }

  test("MAD outlier filter is robust where 3-sigma masks (planted outliers)") {
    for (base <- samples(Gen.listOfN(60, Gen.chooseNum(95.0, 105.0)), 3)) {
      // plant 5 extreme points: they inflate stddev (masking each other)
      // but barely move the median/MAD
      val data = base ++ Seq(1e6, 2e6, 3e6, 4e6, 5e6)
      val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "x")
      val med = df.agg(expr("median(x)")).head.getDouble(0)
      val mad = df.select(abs(col("x") - med).as("d"))
        .agg(expr("median(d)")).head.getDouble(0)
      val sd = df.agg(stddev_samp(col("x"))).head.getDouble(0)
      val mean = df.agg(avg(col("x"))).head.getDouble(0)
      val madFlagged = data.count(v => math.abs(v - med) > 3.0 * 1.4826 * mad)
      val sigmaFlagged = data.count(v => math.abs(v - mean) > 3.0 * sd)
      assert(madFlagged == 5, s"MAD must catch exactly the 5 planted outliers, got $madFlagged")
      assert(sigmaFlagged < 5, s"3-sigma should mask some planted outliers (got $sigmaFlagged) — else the robustness claim is untested")
    }
  }

  test("subspaceL2 kernel ≡ declarative HOF distances, bit-for-bit (randomized)") {
    import graft.ops.SimilarityOps
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-2.0f, 2.0f))
    for (vs <- samples(Gen.listOfN(12, vecGen), 3)) {
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val cent = df.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      val got = SimilarityOps.subspaceL2(df, "vec_id", "embedding",
          cent, "cid", "cemb", nSub = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3)).toMap
      // declarative mirror: HOF fold over the same subspace slices — the
      // fold visits elements in index order, the SAME order the kernel
      // sums, so the doubles must agree exactly (not just approximately)
      def subD2(s: Int) = aggregate(
        zip_with(
          slice(col("embedding"), s * 8 + 1, 8), slice(col("cemb"), s * 8 + 1, 8),
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
      val expected = df.crossJoin(cent)
        .select(col("vec_id") +: col("cid") +:
          (0 until 2).map(s => subD2(s).as(s"d2_$s")): _*)
        .selectExpr("vec_id", "cid", "stack(2, 0, d2_0, 1, d2_1) AS (s, d2)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3)).toMap
      assert(got.keySet === expected.keySet)
      got.foreach { case (k, v) =>
        assert(java.lang.Double.compare(v, expected(k)) == 0,
          s"$k: kernel $v != declarative ${expected(k)}")
      }
    }
  }

  test("pqEncodeLocal ≡ relational round(6)+struct-min assignment (randomized)") {
    import graft.ops.SimilarityOps
    // values quantized to a coarse grid so distinct cells frequently TIE
    // at 6 dp — the case where the kernel's replicated HALF_UP rounding
    // and ascending-cid strict-< scan must match Spark's
    // min(struct(round(d2,6), cid)) decision exactly
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-4, 4).map(_ / 2.0f))
    for (vs <- samples(Gen.listOfN(20, vecGen), 3)) {
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val cent = df.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      val codebook = SimilarityOps.collectCodebook(cent, "cid", "cemb")
      val got = SimilarityOps
        .pqEncodeLocal(df, "vec_id", "embedding", codebook, nSub = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val want = SimilarityOps
        .subspaceL2(df, "vec_id", "embedding", codebook, nSub = 2)
        .select(col("vec_id"), col("cid"), col("s"),
          round(col("d2raw"), 6).as("d2"))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("s"), col("m.cid"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(got === want)
    }
  }

  test("pqEncodeLocal NaN contract (ADVICE r12): finite candidates beat " +
      "NaN distances; an all-NaN subspace yields cid -1, not a crash") {
    import graft.ops.SimilarityOps
    // Deliberate pin of a behavior change the two-pass rewrite made
    // incidental: the old per-candidate BigDecimal.valueOf(d2) crashed
    // the JOB with NumberFormatException on any NaN distance; the
    // two-pass primitive-< fold skips NaN candidates (NaN < x false)
    // and emits -1 when no candidate is finite — matching DuckDB's
    // NaN-greatest ordering in the oracle and the engine's own
    // dirty-row tolerance everywhere else.
    val codebook: Array[(Long, Array[Float])] = Array(
      0L -> Array(Float.NaN, Float.NaN, 0f, 0f), // NaN centroid: skipped in s=0
      1L -> Array(1f, 1f, 9f, 9f))               // finite: must win s=0
    // vec 10: finite everywhere → s=0 picks cid 1 (cid 0's d2 is NaN),
    //         s=1 picks cid 0 (its finite sub-centroid is nearer)
    // vec 11: NaN in BOTH subspace-1 dims → every s=1 d2 is NaN → -1
    val df = Seq(
      (10L, Array(1f, 1f, 0.5f, 0.5f)),
      (11L, Array(1f, 1f, Float.NaN, Float.NaN)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps
      .pqEncodeLocal(df, "vec_id", "embedding", codebook, nSub = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (10L, 0) -> 1L, (10L, 1) -> 0L,
      (11L, 0) -> 1L, (11L, 1) -> -1L))
  }

  test("srpPlane ≡ the oracle's SQL md5 derivation, bit-for-bit") {
    import graft.ops.SimilarityOps
    // the same conv(substr(md5(...))) chain the DuckDB oracle runs,
    // evaluated by Spark SQL — both must reproduce the Scala kernel value
    val rows = spark.range(8).selectExpr("CAST(id AS INT) AS p")
      .crossJoin(spark.range(8).selectExpr("CAST(id AS INT) AS d"))
      .selectExpr("p", "d",
        """CAST(conv(substr(md5(concat('srp_', p, '_', d)), 1, 15), 16, 10) AS DOUBLE)
           / 1152921504606846976.0 * 2 - 1 AS u""")
      .collect()
    rows.foreach { r =>
      val (p, dd, u) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      assert(java.lang.Double.compare(u, SimilarityOps.srpPlane(p, dd)) == 0,
        s"plane ($p,$dd): SQL $u != kernel ${SimilarityOps.srpPlane(p, dd)}")
    }
  }

  test("funnel stages ≡ driver-side event-stream simulation (randomized)") {
    val evGen = for {
      u <- Gen.chooseNum(0L, 9L)
      ty <- Gen.oneOf("view", "click", "purchase", "other")
      t <- Gen.chooseNum(0L, 1000L)
    } yield (u, ty, t)
    val wClick = 100L
    val wBuy = 300L
    for (evs <- samples(Gen.listOfN(120, evGen), 4)) {
      // driver oracle: first view; first click in (view, view+wClick];
      // first purchase in (click, click+wBuy]
      val byUser = evs.groupBy(_._1)
      val views = byUser.flatMap { case (u, es) =>
        es.filter(_._2 == "view").map(_._3).minOption.map(u -> _)
      }
      val clicks = views.flatMap { case (u, tv) =>
        byUser(u).filter(e => e._2 == "click" && e._3 > tv && e._3 <= tv + wClick)
          .map(_._3).minOption.map(u -> _)
      }
      val buys = clicks.flatMap { case (u, tc) =>
        byUser(u).filter(e => e._2 == "purchase" && e._3 > tc && e._3 <= tc + wBuy)
          .map(_._3).minOption.map(u -> _)
      }
      // engine pipeline, same shape as q_funnel_conversion
      val ev = evs.toDF("user_id", "event_type", "tus")
      val v = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("tus"))).as("t_view"))
        .filter(col("t_view").isNotNull)
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("tus") > col("t_view") && col("tus") <= col("t_view") + wClick)
        .groupBy("user_id").agg(min(col("tus")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("tus") > col("t_click") && col("tus") <= col("t_click") + wBuy)
        .groupBy("user_id").agg(min(col("tus")).as("t_purchase"))
      assert(v.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === views)
      assert(c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === clicks)
      assert(p.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === buys)
    }
  }

  test("skyline2d ≡ O(n²) brute force on random points incl. exact duplicates (randomized)") {
    // small coordinate range forces x-ties, y-ties, and full (x,y)
    // duplicates — the cases where the candidate-superset window trick
    // could go wrong
    val ptsGen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 8L), Gen.chooseNum(0L, 8L)))
    for (pts <- samples(ptsGen, 6)) {
      def dom(a: (Long, Long), b: (Long, Long)) =
        a._1 >= b._1 && a._2 >= b._2 && (a._1 > b._1 || a._2 > b._2)
      val expected = pts.filter(p => !pts.exists(q => dom(q, p)))
        .groupBy(identity).map { case (p, l) => p -> l.size }
      val got = graft.queries.AdvancedQueries
        .skyline2d(pts.toDF("x", "y"), "x", "y")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).map { case (p, l) => p -> l.size }
      assert(got === expected, s"pts=$pts")
    }
  }

  test("pointerDoubleRollup ≡ chain replay on random forests incl. a 120-deep path (randomized)") {
    // parent(i) < i keeps it a forest; include a pure path graph, the
    // depth-adversarial case where doubling (log rounds) matters
    val forestGen = Gen.listOfN(60, Gen.chooseNum(0, 4))
    val cases = samples(forestGen, 4).map { picks =>
      // node i's parent drawn from {i/2, i-1, i/3, root...} variants
      (1 until picks.length).map { i =>
        i.toLong -> (picks(i) match {
          case 0 => 0L
          case 1 => (i - 1).toLong
          case 2 => (i / 2).toLong
          case 3 => (i / 3).toLong
          case _ => (i * 2 / 3).toLong
        })
      }.toMap
    } :+ (1 until 120).map(i => i.toLong -> (i - 1).toLong).toMap
    for (parent <- cases) {
      val nodes = 0L +: parent.keys.toSeq.sorted
      def chase(n: Long): (Long, Int) = {
        var (c, d) = (n, 0)
        while (parent.contains(c)) { c = parent(c); d += 1 }
        (c, d)
      }
      val expected = nodes.map(n => n -> chase(n)).toMap
      val init = nodes.map { n =>
        parent.get(n) match {
          case Some(p) => (n, p, 1)
          case None => (n, n, 0)
        }
      }.toDF("node", "anc", "dist")
      val got = graft.queries.AdvancedQueries.pointerDoubleRollup(init)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
      assert(got === expected)
    }
  }

  test("triangleStats ≡ brute-force enumeration on random graphs (randomized)") {
    val edgeGen = Gen.listOfN(50, Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
    for (raw <- samples(edgeGen, 5)) {
      val edges = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b))
      }.distinct
      val eset = edges.toSet
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val triangles = (for {
        a <- nodes; b <- nodes if a < b && eset((a, b))
        c <- nodes if b < c && eset((b, c)) && eset((a, c))
      } yield 1).size
      val r = graft.queries.AdvancedQueries
        .triangleStats(edges.toDF("u", "v")).collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
        ((nodes.size.toLong, edges.size.toLong, triangles.toLong)), s"edges=$edges")
    }
  }

  test("CDC compaction ≡ last-writer-wins replay on random changelogs (randomized)") {
    // random per-key version chains with interleaved I/U/D ops — the
    // arg-max-by-version window must agree with a driver-side replay
    val logGen = Gen.listOfN(80,
      Gen.zip(Gen.chooseNum(0L, 14L), Gen.chooseNum(1L, 9L), Gen.oneOf("I", "U", "D")))
    for (raw <- samples(logGen, 5)) {
      // de-dup (key, version) collisions: keep the first occurrence, so
      // both sides see an identical, well-defined changelog
      val log = raw.groupBy(e => (e._1, e._2)).map(_._2.head).toSeq
      val expected = log.groupBy(_._1).flatMap { case (k, es) =>
        val last = es.maxBy(_._2)
        if (last._3 == "D") None else Some(k -> ((last._3, last._2)))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(desc("version"))
      val got = log.toDF("k", "version", "op")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(1)))).toMap
      assert(got === expected, s"log=$log")
    }
  }

  test("interval sweep max-concurrency ≡ brute force over boundaries (randomized)") {
    val ivGen = Gen.listOfN(30, Gen.chooseNum(0L, 500L))
    val width = 40L
    for (starts <- samples(ivGen, 5)) {
      // brute force: concurrency with half-open [s, s+width) evaluated
      // at every start point
      val expected = starts.map(t => starts.count(s => s <= t && t < s + width)).max
      val deltas = starts.map(s => (s, 1)) ++ starts.map(s => (s + width, -1))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"), col("delta"))
      val got = deltas.toDF("t", "delta")
        .withColumn("c", sum("delta").over(w))
        .agg(max("c")).collect().head.getLong(0)
      assert(got === expected.toLong, s"starts=$starts")
    }
  }

  test("approx_percentile stays within its rank-error contract vs exact percentile") {
    // SCALE.md names approx_percentile (mergeable sketch) as the 100 TB
    // replacement for the exact oracle-checked form — this pins that the
    // swap is actually safe: with accuracy a, the sketch's result must
    // sit within ±1/a of the requested RANK. Checked on the real
    // fixture distribution, both tails and the median.
    val d = "/root/testdata/sf0.01"
    val li = Tables.lineitem(spark, d).select(col("l_extendedprice").as("x"))
    val n = li.count()
    val accuracy = 1000
    val sorted = li.orderBy("x").collect().map(_.getDouble(0))
    Seq(0.05, 0.5, 0.95).foreach { q =>
      val approx = li.agg(
        expr(s"approx_percentile(x, $q, $accuracy)").as("p"))
        .collect().head.getDouble(0)
      // translate the value back to its rank in the exact ordering
      val rank = sorted.count(_ <= approx).toDouble / n
      assert(math.abs(rank - q) <= 1.0 / accuracy + 1.0 / n,
        s"q=$q: approx value $approx sits at rank $rank")
    }
  }

  test("EWMA fold ≡ closed-form weighted sum (randomized)") {
    val xsGen = Gen.listOfN(25, Gen.chooseNum(-50.0, 50.0))
    for (xs <- samples(xsGen, 5)) {
      val alpha = 0.2
      // closed form: ewma_n = (1-a)^(n-1) x_1 + a·Σ (1-a)^(n-1-i) x_i
      val n = xs.length
      val closed = math.pow(1 - alpha, n - 1) * xs.head +
        xs.tail.zipWithIndex.map { case (x, i) =>
          alpha * math.pow(1 - alpha, n - 2 - i) * x
        }.sum
      val w = org.apache.spark.sql.expressions.Window.orderBy("i")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val folded = xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "x")
        .withColumn("xs", collect_list(col("x")).over(w))
        .withColumn("ewma",
          aggregate(slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
            element_at(col("xs"), 1),
            (acc, x) => acc * lit(1 - alpha) + x * lit(alpha)))
        .orderBy(desc("i")).select("ewma").collect().head.getDouble(0)
      assert(math.abs(folded - closed) < 1e-9 * (1 + math.abs(closed)), s"xs=$xs")
    }
  }

  test("property: graft_topk == sorted.take(k) for random multisets, k, partitioning") {
    graft.functions.GraftFunctions.register(spark)
    val caseGen = for {
      n <- Gen.chooseNum(0, 200)
      // narrow value domain forces duplicates (the tie-heavy regime)
      xs <- Gen.listOfN(n, Gen.chooseNum(-50L, 50L))
      k <- Gen.chooseNum(1, 12)
      parts <- Gen.chooseNum(1, 16)
    } yield (xs, k, parts)
    for (((xs, k, parts), i) <- samples(caseGen, 12).zipWithIndex) {
      val df = (xs.map(Option(_)) :+ (None: Option[Long]))
        .toDF("v").repartition(parts)
      df.createOrReplaceTempView(s"prop_topk_$i")
      val got = spark.sql(s"SELECT graft_topk(v, $k) AS arr FROM prop_topk_$i")
        .collect().head.getSeq[Long](0)
      val want = xs.sorted(Ordering[Long].reverse).take(k)
      assert(got === want, s"xs=$xs k=$k parts=$parts")
    }
  }

  test("property: Intervals.overlapPairs == brute force for random intervals and bin widths") {
    // the bin-ownership dedup must hold for ANY interval lengths (longer
    // and shorter than the bin), any alignment, and duplicate spans
    val caseGen = for {
      n <- Gen.chooseNum(2, 60)
      keys <- Gen.listOfN(n, Gen.chooseNum(0L, 3L))
      starts <- Gen.listOfN(n, Gen.chooseNum(-40L, 40L))
      // lens from 0: a zero-length [x,x) is EMPTY and must pair with
      // NOTHING (the raw s1<e2 ∧ s2<e1 predicate alone would wrongly
      // admit it against any interval covering x)
      lens <- Gen.listOfN(n, Gen.chooseNum(0L, 25L))
      w <- Gen.chooseNum(1L, 12L)
    } yield (keys, starts, lens, w)
    for (((keys, starts, lens, w), i) <- samples(caseGen, 10).zipWithIndex) {
      val rows = keys.indices.map(j => (keys(j), j.toLong, starts(j), starts(j) + lens(j)))
      val rawRows = graft.ops.Intervals
        .overlapPairs(rows.toDF("key", "id", "s", "e"), "key", "id", "s", "e", w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = (for {
        a <- rows; b <- rows
        if a._1 == b._1 && a._2 < b._2 &&
          a._3 < a._4 && b._3 < b._4 && // both non-empty
          a._3 < b._4 && b._3 < a._4
      } yield (a._1, a._2, b._2)).toSet
      assert(rawRows.toSet === want, s"case $i: w=$w rows=$rows")
      // each pair appears EXACTLY once — the Set comparison above would
      // mask duplicate bin matches, the raw length does not
      assert(rawRows.length == want.size, s"case $i: duplicate bin matches, w=$w")
    }
    // epoch-nanosecond magnitudes: ulp(1.7e18) = 256, so a double-based
    // floor division mis-bins boundary endpoints — the integer div path
    // must not
    locally {
      val base = 1700000000000000000L
      val rows = (0 until 40).map(j =>
        (0L, j.toLong, base + j * 3L - 60L, base + j * 3L - 60L + (j % 9) + 1L))
      val got = graft.ops.Intervals
        .overlapPairs(rows.toDF("key", "id", "s", "e"), "key", "id", "s", "e", 7L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = (for {
        a <- rows; b <- rows
        if a._2 < b._2 && a._3 < b._4 && b._3 < a._4
      } yield (a._1, a._2, b._2)).toSet
      assert(got.toSet === want && got.length == want.size,
        "epoch-nano magnitudes mis-binned")
    }
    // LONG-SPAN safety: an open-ended sentinel (e = Long.MaxValue, the
    // SCD "current row" idiom) must ride the exact theta path, not
    // explode ~10^14 sequence() bins and kill the job — and the pair
    // set must stay exactly the brute-force one
    locally {
      val rows = Seq((0L, 0L, 5L, Long.MaxValue), (0L, 1L, 0L, 10L),
        (0L, 2L, 100L, 120L), (1L, 3L, 0L, 4L), (0L, 4L, 200L, Long.MaxValue))
      val got = graft.ops.Intervals
        .overlapPairs(rows.toDF("key", "id", "s", "e"), "key", "id", "s", "e", 7L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = (for {
        a <- rows; b <- rows
        if a._1 == b._1 && a._2 < b._2 && a._3 < b._4 && b._3 < a._4
      } yield (a._1, a._2, b._2)).toSet
      assert(got.toSet === want && got.length == want.size,
        s"sentinel intervals mishandled: got ${got.toSeq.sorted}")
    }
    // OVERFLOW safety (ADVICE r11 #4 + review): an interval spanning
    // nearly the full Long range at binWidth=1 makes ebin − sbin
    // overflow (try_subtract → NULL → long/theta path, not a 2^64-bin
    // explode); and at binWidth=86400 a start within one bin of
    // Long.MinValue used to underflow inside the BINNING expression
    // itself (ANSI throw) — the floor-div must be subtraction-free
    locally {
      for (w <- Seq(1L, 86400L)) {
        val rows = Seq((0L, 0L, Long.MinValue + 2L, Long.MaxValue),
          (0L, 1L, -5L, 10L), (0L, 2L, 50L, 60L), (1L, 3L, 0L, 4L),
          (1L, 4L, Long.MinValue, -1L), (1L, 5L, -100L, 3L))
        val got = graft.ops.Intervals
          .overlapPairs(rows.toDF("key", "id", "s", "e"), "key", "id", "s", "e", w)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val want = (for {
          a <- rows; b <- rows
          if a._1 == b._1 && a._2 < b._2 && a._3 < b._4 && b._3 < a._4
        } yield (a._1, a._2, b._2)).toSet
        assert(got.toSet === want && got.length == want.size,
          s"w=$w: full-range interval mishandled: got ${got.toSeq.sorted}")
      }
    }
    // mixed paths under fuzz: a tiny maxBinsPerInterval forces most
    // intervals down the long path — the union must still be exact and
    // duplicate-free for any split
    for (((keys, starts, lens, w), i) <- samples(caseGen, 5).zipWithIndex) {
      val rows = keys.indices.map(j => (keys(j), j.toLong, starts(j), starts(j) + lens(j)))
      val got = graft.ops.Intervals
        .overlapPairs(rows.toDF("key", "id", "s", "e"), "key", "id", "s", "e", w,
          maxBinsPerInterval = 2L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = (for {
        a <- rows; b <- rows
        if a._1 == b._1 && a._2 < b._2 &&
          a._3 < a._4 && b._3 < b._4 && a._3 < b._4 && b._3 < a._4
      } yield (a._1, a._2, b._2)).toSet
      assert(got.toSet === want && got.length == want.size,
        s"mixed-path case $i: w=$w rows=$rows")
    }
  }

  test("property: Money.centsMean is partition-invariant and matches the " +
      "declared double chain exactly (rule 12)") {
    // the contract: exact integer cents sum, then ONE fixed division
    // chain (/100.0 then /n), emitted RAW — reproducible under any
    // partitioning / partial-agg order, and bit-identical to what the
    // DuckDB dual computes from the same integers. No final round():
    // rounding is exactly where Spark (shortest-repr HALF_UP) and
    // DuckDB (scaled multiply) disagree on boundary rationals.
    def ref(cents: Seq[Long]): Double = cents.sum.toDouble / 100.0 / cents.size
    val caseGen = for {
      n <- Gen.chooseNum(1, 80)
      cents <- Gen.listOfN(n, Gen.chooseNum(-999999L, 999999L))
    } yield cents
    for ((cents, i) <- samples(caseGen, 20).zipWithIndex) {
      val vals = cents.map(_ / 100.0)
      def run(parts: Int): Double = vals.toDF("v").repartition(parts)
        .agg(graft.ops.Money.centsMean(col("v"))).collect().head.getDouble(0)
      val (a, b) = (run(1), run(13))
      assert(a == b, s"case $i: partitioning changed the mean: $a vs $b")
      assert(a == ref(cents), s"case $i: ${ref(cents)} expected, got $a")
    }
    // the q_hourly_seasonality regression shape: 8 two-dp values whose
    // TRUE mean 41681/800 = 52.10125 sits exactly on a 4dp half-
    // boundary — round(avg(double), 4) resolves it by summation-order
    // luck, and even an exact-sum round() would still desync the
    // engines' rounding rules; the raw emit is exact on both
    locally {
      val cents = Seq(5210L, 5210L, 5210L, 5210L, 5210L, 5210L, 5210L, 5211L)
      assert(cents.sum == 41681L) // mean 41681/800 = 52.10125 exactly
      val got = cents.map(_ / 100.0).toDF("v").repartition(5)
        .agg(graft.ops.Money.centsMean(col("v"))).collect().head.getDouble(0)
      assert(got == ref(cents), s"half-boundary mean: got $got")
    }
  }

  test("property: Money.centsMean on CONSTRUCTED exact half-boundary " +
      "rationals with 2^a·5^b denominators (rule 12's hazard class)") {
    // the denominators that seek the rounding grid: group size n=2^a·5^b
    // makes the true mean S/(100n) a terminating decimal, and with
    // S = m·k (k odd, n = 200m) it lands EXACTLY on an odd multiple of
    // 5e-5 — the 4dp half-boundary where Spark's shortest-repr HALF_UP
    // and DuckDB's scaled away-from-zero round apart on ~10% of
    // rationals (COVERAGE rule 12, probed). Every case below verifiably
    // HITS the boundary (200·S/n is odd by construction); the raw-emit
    // contract must hold regardless: exact integer cents through the one
    // fixed IEEE chain /100.0/n, bit-identical in both engines and under
    // any partitioning. The plain-Scala chain below IS DuckDB's
    // evaluation of the mirrored centsMeanSql — same integers, same
    // IEEE ops.
    val caseGen = for {
      m <- Gen.oneOf(1, 2, 4, 5, 8, 10) // n = 200m = 2^(a+3)·5^(b+2)
      k <- Gen.chooseNum(-400000L, 400000L).map(v => 2 * v + 1) // odd
      others <- Gen.listOfN(200 * m - 1, Gen.chooseNum(-999L, 999L))
    } yield {
      val s = m * k // Σcents: mean = mk/(100·200m) = k/20000, k odd
      (others :+ (s - others.sum), s)
    }
    def ref(s: Long, n: Int): Double = s.toDouble / 100.0 / n
    for (((cents, s), i) <- samples(caseGen, 15).zipWithIndex) {
      val n = cents.size
      assert(cents.sum == s && (200L * s) % n == 0 && ((200L * s / n) % 2L != 0),
        s"case $i: constructed mean is not an exact 4dp half-boundary")
      def run(parts: Int): Double = cents.map(_ / 100.0).toDF("v")
        .repartition(parts)
        .agg(graft.ops.Money.centsMean(col("v"))).collect().head.getDouble(0)
      val (a, b) = (run(1), run(17))
      assert(a == b, s"case $i: partitioning changed the boundary mean")
      assert(a == ref(s, n), s"case $i: ${ref(s, n)} expected, got $a")
    }
  }

  test("property: rule-12 raw-ratio emission (exact ints, one division) " +
      "is partition-invariant and matches the IEEE reference chain") {
    // the shared_frac / quality-score shape: two exact integer
    // aggregates, ONE division, emitted raw. Denominators drawn from
    // the 2^a·5^b boundary-seeking class — with a final round() these
    // are exactly the group sizes whose ratios land on grid half-
    // boundaries; raw emission has no rounding step to disagree on.
    val caseGen = for {
      a <- Gen.chooseNum(0, 5)
      b <- Gen.chooseNum(0, 3)
      n = (1 << a) * math.pow(5, b).toInt
      hits <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield hits
    for ((hits, i) <- samples(caseGen, 25).zipWithIndex) {
      val want = hits.count(identity).toLong / hits.size.toDouble
      def run(parts: Int): Double = hits.toDF("hit").repartition(parts)
        .agg(sum(when(col("hit"), lit(1L)).otherwise(lit(0L))).as("a"),
          count(lit(1)).as("n"))
        .select(col("a") / col("n").cast("double"))
        .collect().head.getDouble(0)
      val (x, y) = (run(1), run(13))
      assert(x == y, s"case $i: partitioning changed the ratio: $x vs $y")
      assert(x == want, s"case $i: $want expected, got $x")
    }
  }
}
