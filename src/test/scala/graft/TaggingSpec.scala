package graft

import org.apache.spark.sql.functions._

/** Golden-fixture tests for the tagging core. Expected strings
  * were produced by executing the reference's own get_tags/load_tag_mapping
  * (appV2.py:51-101) on identical inputs — they pin:
  * unthresholded rating/quality argmax, argmax tie→lowest idx (via the
  * ±30 sigmoid clip), category-dependent thresholds with >= semantics,
  * the substring (not word) meta blacklist incl. the 'holiday' trap,
  * underscore→space, hole/unknown-category drops, and the exact emission
  * order rating, quality, general, meta, model, character, copyright,
  * artist with ascending tag_idx inside a category. */
class TaggingSpec extends SparkSpec {
  import spark.implicits._

  private val vocabJson =
    """{"0": {"tag": "safe", "category": "rating"},
      | "1": {"tag": "questionable", "category": "rating"},
      | "2": {"tag": "masterpiece", "category": "quality"},
      | "3": {"tag": "low_quality", "category": "quality"},
      | "4": {"tag": "long_hair", "category": "general"},
      | "5": {"tag": "short_hair", "category": "general"},
      | "6": {"tag": "holiday", "category": "meta"},
      | "7": {"tag": "english_commentary", "category": "meta"},
      | "8": {"tag": "watermark", "category": "meta"},
      | "9": {"tag": "some_model", "category": "model"},
      | "10": {"tag": "alice", "category": "character"},
      | "11": {"tag": "bob_the_builder", "category": "character"},
      | "12": {"tag": "acme_copyright", "category": "copyright"},
      | "13": {"tag": "famous_artist", "category": "artist"},
      | "15": {"tag": "weird_tag", "category": "unknown_cat"}}""".stripMargin

  private lazy val vocab = Vocab.fromJson(spark, vocabJson)

  private val img1 = Seq(2.0, 1.0, -5.0, -6.0, 0.3, 0.1, 5.0, 5.0, 0.5,
    0.2, 0.5, 0.3, 1.0, 0.4, 10.0, 10.0)
  private val img2 = Seq(-10.0, -9.0, -50.0, -50.0) ++ Seq.fill(12)(-10.0)

  private def run(scores: Seq[(Long, Seq[Double])],
                  genT: Double = 0.55, charT: Double = 0.60): Map[Long, String] =
    Tagging.pipeline(scores.toDF("image_id", "logits"), vocab, genT, charT)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("golden: full pipeline matches the reference") {
    val got = run(Seq(1L -> img1, 2L -> img2))
    assert(got(1L) === "safe, masterpiece, long hair, watermark, alice, acme copyright")
    // img2: argmax emits even at vanishing probabilities; the two quality
    // logits clip to -30 and tie → lowest tag_idx (numpy argmax) wins.
    assert(got(2L) === "questionable, masterpiece")
  }

  test("an item with no selected tags still yields an empty string") {
    val generalOnly = Vocab.fromJson(spark,
      """{"0": {"tag": "a", "category": "general"}}""")
    val out = Tagging.pipeline(
      Seq((7L, Seq(-5.0))).toDF("image_id", "logits"), generalOnly)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out === Array((7L, "")))
  }

  test("raising thresholds never adds tags (monotonicity)") {
    val base = run(Seq(1L -> img1))(1L).split(", ").filter(_.nonEmpty).toSet
    val strict = run(Seq(1L -> img1), genT = 0.70, charT = 0.75)(1L)
      .split(", ").filter(_.nonEmpty).toSet
    assert(strict.subsetOf(base))
  }

  test("clipped sigmoid: bounds and saturation σ(31)==σ(30)") {
    val df = Seq(-100.0, -31.0, -30.0, 0.0, 30.0, 31.0, 100.0).toDF("x")
      .select(RelationalTagging.clippedSigmoid(col("x")).as("p"))
    val ps = df.collect().map(_.getDouble(0))
    assert(ps.forall(p => p > 0.0 && p < 1.0))
    assert(ps(0) === ps(1) && ps(1) === ps(2)) // clip at -30
    assert(ps(4) === ps(5) && ps(5) === ps(6)) // clip at +30
    assert(math.abs(ps(3) - 0.5) < 1e-15)
  }

  test("row-order permutation invariance of the final tag string") {
    val shuffled = Seq(2L -> img2, 1L -> img1).reverse
    assert(run(Seq(1L -> img1, 2L -> img2)) === run(shuffled))
  }

  test("meta blacklist is substring, not word: 'holiday' contains 'id'") {
    // img1 sets holiday's prob to ~0.993, far above threshold — it must
    // still be dropped (appV2.py:98), while watermark survives.
    val got = run(Seq(1L -> img1))(1L)
    assert(!got.contains("holiday") && got.contains("watermark"))
  }

  test("pipelineLocal (zero-shuffle scale path) is output-identical to the relational pipeline") {
    import org.apache.spark.sql.functions.{col => c, transform => tf, sin, lit, sequence}
    val entries = Vocab.parseJson(vocabJson)
    // deterministic pseudo-random logit matrix incl. clip saturation and
    // exact ties (sin repeats), 200 items × 16 logits
    val scores = spark.range(200).select(
      c("id").as("image_id"),
      tf(sequence(lit(0), lit(15)),
        j => sin(c("id") * 0.37 + j.cast("double") * 1.13) * 40.0).as("logits"))
    val relational = RelationalTagging.pipeline(scores, vocab)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val local = Tagging.pipelineLocal(scores, entries)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(local === relational)
    // and with non-default thresholds
    val rel2 = RelationalTagging.pipeline(scores, vocab, 0.9, 0.95)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val loc2 = Tagging.pipelineLocal(scores, entries, 0.9, 0.95)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loc2 === rel2)
  }

  test("pipelineLocal preserves STRING ids (the scoreImages path-id wiring)") {
    import org.apache.spark.sql.functions.{col => c, transform => tf, sin, lit, sequence, concat}
    val entries = Vocab.parseJson(vocabJson)
    // path-shaped string ids, as scoreImages emits — the old
    // cast("long") nulled every one of them
    val scores = spark.range(20).select(
      concat(lit("file:/imgs/pic_"), c("id").cast("string"), lit(".png")).as("image_id"),
      tf(sequence(lit(0), lit(15)),
        j => sin(c("id") * 0.37 + j.cast("double") * 1.13) * 40.0).as("logits"))
    val relational = RelationalTagging.pipeline(scores, vocab)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = Tagging.pipelineLocal(scores, entries)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local.keys.forall(_.startsWith("file:/imgs/pic_")),
      "string ids must ride through un-nulled")
    assert(local === relational)
  }

  test("NaN logits propagate like numpy: win argmax, fail every threshold") {
    val entries = Vocab.parseJson(vocabJson)
    val nan = Double.NaN
    // reference semantics (appV2.py:174: np.clip(NaN) = NaN): a NaN prob
    // WINS np.argmax (NaN poisons numpy's running maximum — the first
    // NaN's index is returned), so the NaN rating tag IS emitted; but
    // numpy's `NaN >= θ` is False, so the NaN general tag is NOT.
    val rows = Seq(
      1L -> (Seq(nan, 20.0, -5.0, -6.0, nan) ++ Seq.fill(11)(-40.0)),
      2L -> img1.updated(2, nan))
    val df = rows.toDF("image_id", "logits")
    val rel = RelationalTagging.pipeline(df, vocab)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val loc = Tagging.pipelineLocal(df, entries)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loc === rel)
    assert(rel(1L).startsWith("safe"), "NaN rating wins the argmax and emits")
    assert(!rel(1L).contains("long hair"), "NaN fails the general threshold")
    // NaN in the quality argmax lane: wins over the finite runner-up
    assert(rel(2L).contains("masterpiece"))
  }

  test("empty tag names: selected but never emitted (names[] truthiness, appV2.py:82,96)") {
    // one empty-named rating tag (empty names share one tag_to_category
    // slot — the reference's name-keyed dict — so only ONE lane may
    // carry an empty name per mapping)
    val vj = """{"0": {"tag": "", "category": "rating"},
      | "1": {"tag": "questionable", "category": "rating"},
      | "4": {"tag": "real_tag", "category": "general"}}""".stripMargin
    val entries = Vocab.parseJson(vj)
    val v = Vocab.fromJson(spark, vj)
    // idx 0 (empty name) WINS the rating argmax: the reference emits
    // NOTHING for rating — no runner-up fallback — and the general tag
    // emits normally
    val df = Seq(1L -> Seq(5.0, 2.0, -40.0, -40.0, 5.0)).toDF("image_id", "logits")
    val rel = RelationalTagging.pipeline(df, v)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val loc = Tagging.pipelineLocal(df, entries)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rel(1L) === "real tag",
      "empty-named argmax winner blocks the runner-up and emits nothing")
    assert(loc === rel)
  }

  test("pipelineLocal golden + vocab holes + zero-shuffle plan") {
    val entries = Vocab.parseJson(vocabJson) // has a hole at 14 (idx 15 unknown-cat)
    val out = Tagging.pipelineLocal(
      Seq(1L -> img1, 2L -> img2).toDF("image_id", "logits"), entries)
    val got = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "safe, masterpiece, long hair, watermark, alice, acme copyright")
    assert(got(2L) === "questionable, masterpiece")
    // vector SHORTER than the vocab's max tag_idx: the reference's
    // numpy indexing raises IndexError (appV2.py:79,92) and the image
    // FAILS — pipelineLocal returns null tags, never a partial tag set
    // (this row used to pin the old silent-skip behavior, which the
    // r11 parity sweep found reference-unfaithful)
    val short = Tagging.pipelineLocal(
      Seq((3L, Seq(40.0, -40.0, 40.0, -40.0, 40.0, -40.0, 40.0, -40.0)))
        .toDF("image_id", "logits"), entries)
      .collect().head
    assert(short.isNullAt(1),
      "an overrun vocab must fail the row like the reference's IndexError")
    // THE scale property: no Exchange anywhere in the physical plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("syntheticVocabEntries is in lockstep with syntheticVocab") {
    val df = Tagging.syntheticVocab(spark, 64)
      .collect().map(r => Vocab.Entry(r.getLong(0), r.getString(2), r.getString(3), r.getLong(1)))
    assert(df.toSeq === Tagging.syntheticVocabEntries(64))
  }

  test("non-ascending JSON keys: emission + argmax ties follow insertion order, not tag_idx") {
    // The reference builds its category index arrays by iterating the
    // mapping dict in INSERTION order (appV2.py:62-68): tag 9 is inserted
    // before tag 3, so it wins argmax ties (numpy first-max) and leads
    // the emitted general tags, even though 3 < 9.
    val outOfOrder = Vocab.fromJson(spark,
      """{"9": {"tag": "zeta_quality", "category": "quality"},
        | "3": {"tag": "alpha_quality", "category": "quality"},
        | "8": {"tag": "late_general", "category": "general"},
        | "2": {"tag": "early_general", "category": "general"}}""".stripMargin)
    // logits: idx 2,3,8,9 all +40 → clip to +30 → identical probs
    val logits = Seq.fill(10)(40.0)
    val out = Tagging.pipeline(
      Seq((1L, logits)).toDF("image_id", "logits"), outOfOrder)
      .collect().map(r => r.getString(1)).head
    // quality argmax tie → zeta_quality (inserted first, despite idx 9);
    // general threshold emission order → late_general before early_general
    assert(out === "zeta quality, late general, early general")
  }

  test("vocab overrunning the model dimension fails EVERY row like numpy's " +
      "IndexError (appV2.py:79,92) — never a silent skip") {
    // the reference indexes probs[categories[cat]] with the FULL
    // category array: an out-of-bounds entry raises inside the
    // per-image try and no image is tagged. First offender follows the
    // traversal order (category emission rank, then insertion
    // position) — here the general-lane idx 40 beats the artist-lane
    // idx 35 despite 35 < 40, and a BLACKLISTED meta overrun still
    // offends (indexing precedes every emission check).
    val entries = Seq(
      Vocab.Entry(1, "ok_tag", "general", 0),
      Vocab.Entry(35, "painter", "artist", 1),
      Vocab.Entry(40, "wide_general", "general", 2))
    assert(Tagging.overrunError(entries, 32) ===
      Some("index 40 is out of bounds for axis 0 with size 32"))
    assert(Tagging.overrunError(entries, 64) === None)
    assert(Tagging.overrunError(Seq(
      Vocab.Entry(50, "tag_id_card", "meta", 0)), 32) ===
      Some("index 50 is out of bounds for axis 0 with size 32"))
    // pipelineLocal: the row fails (null tags), same convention as
    // tagImages' left join for decode-failed rows
    val out = Tagging.pipelineLocal(
      Seq((7L, Seq(40.0, 40.0))).toDF("image_id", "logits"), entries)
      .collect()
    assert(out.length === 1 && out.head.isNullAt(1),
      "overrun must fail the row, not emit the in-range tags")
    // and a vocab that FITS still tags normally through the same path
    val okOut = Tagging.pipelineLocal(
      Seq((7L, Seq(40.0, 40.0))).toDF("image_id", "logits"),
      Seq(Vocab.Entry(1, "ok_tag", "general", 0)))
      .collect()
    assert(okOut.head.getString(1) === "ok tag")
  }

  test("an UNRECOGNIZED-category entry with an out-of-range index neither " +
      "raises nor nulls: the reference drops it at load (appV2.py:68)") {
    // overrunError already filters unrecognized categories (ADVICE r11);
    // the bounds pre-check in SelectionProgram must apply the SAME
    // filter (ADVICE r12) — otherwise pipelineLocal nulls every image
    // where the reference (and the relational path's inner join on the
    // category dimension) tags normally.
    val entries = Seq(
      Vocab.Entry(1, "ok_tag", "general", 0),
      Vocab.Entry(9999, "phantom", "no_such_category", 1),
      Vocab.Entry(-9999, "phantom_neg", "no_such_category", 2))
    assert(Tagging.overrunError(entries, 32) === None)
    val out = Tagging.pipelineLocal(
      Seq((1L, Seq(-40.0, 40.0))).toDF("image_id", "logits"), entries)
      .collect().head.getString(1)
    assert(out === "ok tag",
      "unrecognized-category overrun must not null the row")
    // a RECOGNIZED-category overrun through the same vocab still fails
    // the row (the entry sits in a real category array)
    val bad = entries :+ Vocab.Entry(77, "real_overrun", "general", 3)
    assert(Tagging.overrunError(bad, 32).isDefined)
    assert(Tagging.pipelineLocal(
      Seq((1L, Seq(-40.0, 40.0))).toDF("image_id", "logits"), bad)
      .collect().head.isNullAt(1))
  }

  test("negative vocab indices WRAP like numpy (probs[-1] = last logit); " +
      "below -len raises — never an executor ArrayIndexOutOfBounds") {
    // int("-1") parses as a JSON key and numpy fancy indexing wraps;
    // the old code crashed the whole JOB on vec(-1) where the reference
    // has well-defined per-image behavior
    val wrap = Seq(Vocab.Entry(-1, "last_logit", "general", 0))
    // logits: idx 0 low, idx 1 (== -1) high -> the wrapped entry fires
    val hit = Tagging.pipelineLocal(
      Seq((1L, Seq(-40.0, 40.0))).toDF("image_id", "logits"), wrap)
      .collect().head.getString(1)
    assert(hit === "last logit")
    // idx -1 == idx 0 when len is 1: reads the only logit
    val miss = Tagging.pipelineLocal(
      Seq((2L, Seq(-40.0))).toDF("image_id", "logits"), wrap)
      .collect().head.getString(1)
    assert(miss === "")
    // idx -3 with a 2-logit vector: numpy IndexError -> row fails
    val oob = Tagging.pipelineLocal(
      Seq((3L, Seq(40.0, 40.0))).toDF("image_id", "logits"),
      Seq(Vocab.Entry(-3, "too_negative", "general", 0)))
      .collect().head
    assert(oob.isNullAt(1), "index below -len must fail like numpy")
    assert(Tagging.overrunError(Seq(Vocab.Entry(-33, "t", "general", 0)), 32) ===
      Some("index -33 is out of bounds for axis 0 with size 32"))
    assert(Tagging.overrunError(Seq(Vocab.Entry(-32, "t", "general", 0)), 32) ===
      None, "-len is the last VALID negative index")
  }

  test("pipelineLocal: a null logits vector fails only its own row") {
    val entries = Vocab.parseJson(vocabJson)
    val rows = Seq[(Long, Option[Seq[Double]])]((1L, Some(img1)), (2L, None))
    val out = Tagging.pipelineLocal(rows.toDF("image_id", "logits"), entries)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) === Some("safe, masterpiece, long hair, watermark, alice, acme copyright"))
    assert(out(2L) === None, "a null vector fails its row with null tags")
  }

  test("pipelineLocal: a null element fails only its own row") {
    val entries = Vocab.parseJson(vocabJson)
    val withNull = img1.map(Option(_)).updated(9, None)
    val rows = Seq[(Long, Seq[Option[Double]])]((1L, img1.map(Option(_))), (2L, withNull))
    val out = Tagging.pipelineLocal(rows.toDF("image_id", "logits"), entries)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).exists(_.startsWith("safe")))
    assert(out(2L) === None, "a null element fails its row with null tags")
  }

  test("pipelineLocal: a null LONG id passes through as null") {
    val entries = Vocab.parseJson(vocabJson)
    val rows = Seq[(Option[Long], Seq[Double])]((Some(1L), img1), (None, img2))
    val out = Tagging.pipelineLocal(rows.toDF("image_id", "logits"), entries)
      .collect().map(r => Option(r.get(0)) -> r.getString(1)).toMap
    assert(out(None) === "questionable, masterpiece")
    assert(out(Some(1L)).startsWith("safe"))
  }

  test("pipelineLocal: an INT id stays INT") {
    val entries = Vocab.parseJson(vocabJson)
    val df = Seq((7, img2)).toDF("image_id", "logits")
    val out = Tagging.pipelineLocal(df, entries)
    assert(out.schema("image_id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => r.getInt(0) -> r.getString(1)).toSeq ===
      Seq(7 -> "questionable, masterpiece"))
  }

  test("differential: row-local pipeline ≡ the relational form on seeded " +
      "edge-case vectors, vocabs and id types") {
    val rnd = new scala.util.Random(20261019L)
    val cats = Vocab.recognized :+ "unknown_cat"
    val names = Seq("long_hair", "tag_request", "holiday", "", "blue_sky",
      "size_mismatch", "alice", "some_model", "watermark", "x")
    val vocabs = (0 until 6).map { _ =>
      val n = 4 + rnd.nextInt(20)
      // indices in [-3, 20): negative, in range and past the end of the
      // 0..16-long vectors below; emit_pos a permutation (insertion order)
      val pos = rnd.shuffle((0 until n).toList)
      (0 until n).map(i => Vocab.Entry(rnd.nextInt(23) - 3,
        names(rnd.nextInt(names.size)) + (if (rnd.nextBoolean()) s"_$i" else ""),
        cats(rnd.nextInt(cats.size)), pos(i).toLong))
    }
    // clip saturation (±40 → ±30 ties), exact ties, NaN, null elements,
    // empty, short and null vectors
    val pool = Seq(40.0, -40.0, 35.0, 0.5, 0.2, -0.2, Double.NaN)
    def element(): Option[Double] = rnd.nextInt(10) match {
      case 0 => None
      case 1 | 2 => Some(pool(rnd.nextInt(pool.size)))
      case _ => Some(rnd.nextGaussian() * 3.0)
    }
    val rows = (0 until 300).map { i =>
      val vec = if (i % 23 == 0) None else Some(Seq.fill(rnd.nextInt(17))(element()))
      (i.toLong, vec)
    }
    val base = rows.toDF("rk", "logits")
      .withColumn("int_id", col("rk").cast("int"))
      .withColumn("str_id", concat(lit("file:/p/"), col("rk").cast("string")))
      .withColumn("null_id", when(col("rk") % 7 =!= 0, col("rk")))
    for (vocab <- vocabs; (genT, charT) <- Seq((0.55, 0.60), (0.3, 0.9));
         vecType <- Seq("array<double>", "array<float>")) {
      val df = base.withColumn("logits", col("logits").cast(vecType))
      val vocabDf = Vocab.toDF(spark, vocab)
      val want = RelationalTagging.pipeline(df, vocabDf, genT, charT, idCol = "rk")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val inputs = df.collect()
      for (idCol <- Seq("rk", "int_id", "str_id", "null_id")) {
        val out = Tagging.pipeline(df, vocabDf, genT, charT, idCol = idCol)
        assert(out.schema("image_id").dataType === df.schema(idCol).dataType)
        val got = out.collect()
        assert(got.length === inputs.length)
        // one narrow projection over a local relation keeps row order,
        // so output row i is input row i
        inputs.zip(got).foreach { case (in, o) =>
          assert(o.get(0) === in.get(in.fieldIndex(idCol)))
          assert(o.getString(1) === want(in.getLong(0)),
            s"rk=${in.getLong(0)} $vecType θ=($genT,$charT) vocab=$vocab")
        }
      }
    }
  }

  test("pipeline is one whole-stage-codegen projection: no Exchange, no join") {
    val conf = spark.conf
    val key = "spark.sql.codegen.fallback"
    val prev = conf.getOption(key)
    // a codegen compile error must fail here, not fall back silently
    conf.set(key, "false")
    try {
      // array() of built-ins, not a transform() lambda: an HOF input is
      // itself interpreted and would split the codegen stage
      val scores = spark.range(50).select(col("id").as("image_id"),
        array((0 until 16).map(j => sin(col("id") + j) * 10.0): _*).as("logits"))
      val out = Tagging.pipeline(scores, vocab)
      val plan = out.queryExecution.executedPlan
      assert(!plan.toString.contains("Exchange"), plan.toString)
      assert(!plan.toString.contains("Join"), plan.toString)
      assert(plan.collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
        .exists(_.toString.contains("graft_select_tags")), plan.toString)
      assert(out.count() === 50)
      assert(out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
        RelationalTagging.pipeline(scores, vocab).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap)
    } finally prev match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }
}
