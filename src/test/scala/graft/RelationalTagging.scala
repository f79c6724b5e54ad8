package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The relational form of tag selection, kept as the differential
  * reference for the row-local [[Tagging.pipeline]] (SURVEY.md §2): the
  * score vector as a long-format relation scores(image_id, tag_idx,
  * prob) joined to the vocabulary dimension, with
  *   - per-category top-1 (unthresholded) for rating/quality (appV2.py:77-83)
  *   - per-category threshold filter for the other six (appV2.py:86-97)
  *   - a substring blacklist anti-filter on meta tags (appV2.py:98-99)
  *   - underscore→space projection (appV2.py:83,97)
  *   - ordered group-concat, order = (category emission rank, JSON
  *     insertion position) (appV2.py:62-68,77,86-89,93)
  *
  * Built from Catalyst built-ins only, so it shares no code with the
  * compiled `SelectionProgram` it checks. The DuckDB `pipelineSql` in
  * TaggerQueries is the independent oracle of the same contract. */
object RelationalTagging {

  /** Clipped sigmoid 1/(1+e^-clip(x,-30,30)) (appV2.py:174), the column
    * twin of `SelectionProgram`'s per-row sigmoid.
    *
    * NaN PROPAGATES (reference parity): np.clip(NaN) is NaN and the
    * reference's σ(NaN) = NaN then fails every `>= θ` comparison (numpy
    * comparisons with NaN are False) while WINNING np.argmax (NaN
    * poisons numpy's running maximum). Spark's least/greatest would
    * instead clip NaN to 30 (NaN sorts greatest), silently scoring a
    * broken logit as near-certain — the explicit isnan branch keeps the
    * reference's semantics. A NULL logit does NOT propagate: least and
    * greatest skip a null argument, so it scores σ(30); [[pipeline]]
    * guards null logits itself. */
  def clippedSigmoid(x: Column): Column = {
    val xd = x.cast("double")
    val s = lit(1.0) /
      (lit(1.0) + exp(-greatest(least(xd, lit(30.0)), lit(-30.0))))
    when(isnan(xd), xd).otherwise(s)
  }

  /** Vector → long format: (id, tag_idx LONG, logit DOUBLE). posexplode is
    * the Spark dual of numpy fancy-indexing over the score vector
    * (appV2.py:79,92). */
  def explodeScores(scores: DataFrame, idCol: String = "image_id",
                    vecCol: String = "logits"): DataFrame =
    scores.select(
      col(idCol).as("image_id"),
      posexplode(col(vecCol)).as(Seq("tag_idx", "logit")))
      .select(col("image_id"), col("tag_idx").cast("long").as("tag_idx"),
        col("logit").cast("double").as("logit"))

  /** Category → emission rank (appV2.py:77,86-89): rating, quality first
    * (argmax loop order), then threshold_map insertion order. */
  def catRank(category: Column): Column =
    Vocab.emissionRank.foldLeft(lit(-1)) { case (acc, (cat, rank)) =>
      when(category === cat, lit(rank)).otherwise(acc)
    }

  /** From long-format probs (image_id, tag_idx, prob) and the vocab
    * dimension (must carry emit_pos — Vocab.toDF / syntheticVocab do),
    * select tags per the reference contract. Returns
    * (image_id, cat_rank INT, emit_pos LONG, tag_idx LONG, display STRING). */
  def selectTags(probs: DataFrame, vocab: DataFrame,
                 genThreshold: Double = 0.55, charThreshold: Double = 0.60): DataFrame = {
    // Inner join reproduces both the dense-array hole skip and the
    // None-name guard (appV2.py:82,96): a tag_idx with no vocab row
    // selects nothing.
    val joined = probs.join(broadcast(vocab), "tag_idx")

    // Unthresholded per-category argmax for rating/quality (appV2.py:77-83).
    // numpy argmax returns the FIRST max in the category index array,
    // which is built in JSON-insertion order (appV2.py:62-68) → ties
    // break to the lowest emit_pos, NOT the lowest tag_idx (they differ
    // when the mapping's keys are not ascending); max_by over
    // struct(prob, -emit_pos) encodes exactly that.
    val argmax = joined
      .filter(col("category").isin(Vocab.argmaxCategories: _*))
      .groupBy("image_id", "category")
      .agg(max_by(
        struct(col("emit_pos"), col("tag_idx"), col("tag_name")),
        struct(col("prob"), negate(col("emit_pos")))).as("best"))
      .select(col("image_id"), col("category"),
        col("best.emit_pos").as("emit_pos"),
        col("best.tag_idx").as("tag_idx"), col("best.tag_name").as("tag_name"))

    // Category-dependent threshold filter (appV2.py:86-97); >= not >.
    // !isnan: numpy's `NaN >= θ` is False (tag NOT emitted), but Spark
    // orders NaN greatest so its `>=` would be TRUE — without the guard
    // a NaN prob would emit through every threshold lane.
    val thresholded = joined
      .filter(!isnan(col("prob")) &&
        ((col("category").isin(Vocab.genThresholdCategories: _*) &&
          col("prob") >= lit(genThreshold)) ||
        (col("category").isin(Vocab.charThresholdCategories: _*) &&
          col("prob") >= lit(charThreshold))))
      .select("image_id", "category", "emit_pos", "tag_idx", "tag_name")

    val display = regexp_replace(col("tag_name"), "_", " ")
    // Substring (not word) blacklist on meta tags, checked on the
    // lower-cased underscore-replaced name (appV2.py:97-98 — replace
    // happens BEFORE the check).
    val blacklisted = Vocab.metaBlacklist
      .map(s => lower(display).contains(s))
      .reduce(_ || _)

    argmax.unionByName(thresholded)
      // the reference's `names[global_idx]` TRUTHINESS guard
      // (appV2.py:82,96): an empty-string tag name is selected but never
      // EMITTED — for argmax lanes the empty-named winner still blocks
      // the runner-up (no fallback), which is why this filter sits AFTER
      // the argmax, not in the vocab
      .filter(col("tag_name").isNotNull && col("tag_name") =!= "")
      .filter(!(col("category") === "meta" && blacklisted))
      .select(col("image_id"), catRank(col("category")).as("cat_rank"),
        col("emit_pos"), col("tag_idx"), display.as("display"))
  }

  /** Ordered group-concat (appV2.py:101): ", ".join in (cat_rank,
    * emit_pos) order — the reference emits threshold tags in category-
    * index (JSON insertion) order. `ids` must hold one row per input item
    * (column image_id) so items with zero selected tags still emit an
    * empty string, like the reference writing an empty .txt. Rows that
    * share an id get the merged tags of all of them, and a null id never
    * matches its own tags (equi-join): both differ from the row-local
    * `Tagging.pipeline`, so differential inputs use unique non-null ids. */
  def concatTags(ids: DataFrame, selected: DataFrame): DataFrame = {
    val agg = selected
      .groupBy("image_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("cat_rank"), col("emit_pos"), col("display")))),
          x => x.getField("display")),
        ", ").as("tags"))
    ids.select(col("image_id")).join(agg, Seq("image_id"), "left")
      .withColumn("tags", coalesce(col("tags"), lit("")))
  }

  /** Full relational pipeline: scores(id, logits ARRAY) × vocab → (image_id, tags). */
  def pipeline(scores: DataFrame, vocab: DataFrame,
               genThreshold: Double = 0.55, charThreshold: Double = 0.60,
               idCol: String = "image_id", vecCol: String = "logits"): DataFrame = {
    // a null logit is a null prob — it passes no threshold and loses
    // every argmax (max_by orders a null struct field first); bare
    // clippedSigmoid would score it σ(30), because least/greatest skip
    // nulls, and that is how this form behaved while it was the engine's
    val probs = explodeScores(scores, idCol, vecCol)
      .withColumn("prob", when(col("logit").isNotNull, clippedSigmoid(col("logit"))))
    val selected = selectTags(probs, vocab, genThreshold, charThreshold)
    concatTags(scores.select(col(idCol).as("image_id")), selected)
  }
}
