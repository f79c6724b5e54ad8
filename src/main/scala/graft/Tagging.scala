package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The tagging core — the reference's `get_tags` + sigmoid
  * (reference appV2.py:74-101,174) as a compiled per-row program.
  *
  * Tag selection is a function of ONE row's score vector plus the
  * vocabulary dimension (SURVEY.md §2):
  *   - per-category top-1 (unthresholded) for rating/quality (appV2.py:77-83)
  *   - per-category threshold filter for the other six (appV2.py:86-97)
  *   - a substring blacklist anti-filter on meta tags (appV2.py:98-99)
  *   - underscore→space projection (appV2.py:83,97)
  *   - ordered concat, order = (category emission rank, JSON insertion
  *     position) (appV2.py:62-68,77,86-89,93)
  *
  * PRECISION (deliberate divergence, r9 review): probabilities compute
  * in f64; the reference's numpy chain stays in f32 (appV2.py:174 —
  * outputs are float32 and numpy preserves the dtype). Consequences are
  * (a) sub-ulp differences at threshold boundaries (a prob within one
  * f32 ulp of θ can flip sides) and (b) argmax ordering among
  * NEAR-SATURATED logits: f32 σ(x) rounds to exactly 1.0 for x ≳ 16.6,
  * so the reference ties all such tags and emits the first by insertion
  * order, while this engine keeps the true σ ordering. Quantizing to
  * f32 here would also quantize ties into the oracle contract (adjacent
  * fixture logits near p≈0.98 collide in f32), forcing every tagger
  * oracle onto struct-ordered argmax — traded away for keeping the
  * strictly-more-precise math. The NaN and empty-name contracts ARE
  * mirrored exactly (see SelectionProgram).
  *
  * Distribution: the vocabulary is collected to the driver once and
  * compiled into a [[SelectionProgram]]; every row is then tagged inside
  * one narrow projection over the scan — no explode, no shuffle, no join
  * (the executor-side dual of the reference's in-memory loop,
  * appV2.py:165-185). The relational long-format form lives on as the
  * test-side differential reference and as the DuckDB oracle SQL.
  */
object Tagging {

  /** appV2 parity for a vocabulary that OVERRUNS the model's output
    * dimension (appV2.py:79,92 — `probs[categories[cat]]`): numpy fancy
    * indexing raises IndexError inside the per-image try/except, so
    * EVERY image fails; a silent "skip the overrun entries" would be
    * reference-unfaithful for this misconfiguration. Returns numpy's
    * error text for the FIRST offending index in the reference's
    * traversal order (category emission rank, then JSON insertion
    * position — the order the arrays are built and indexed), None when
    * the vocab fits. Blacklisted and empty-named entries still offend:
    * the reference indexes the full category array before any emission
    * check runs. */
  def overrunError(entries: Seq[Vocab.Entry], nOutputs: Int): Option[String] =
    entries
      // an unrecognized category is dropped at LOAD in the reference
      // (appV2.py:68 `if cat in categories`) — its index never enters a
      // category array, so it can never raise. Vocab.parseJson already
      // drops these, but tagImages accepts an arbitrary vocab DataFrame;
      // without this filter such an entry would NoSuchElementException
      // the emissionRank sort below (ADVICE r11) where the reference
      // tags normally.
      .filter(e => Vocab.emissionRank.contains(e.category))
      // python-faithful bounds: negative indices WRAP (int("-1") parses,
      // numpy probs[-1] is the last logit — see SelectionProgram.tags);
      // only idx ≥ n or idx < −n raises
      .filter(e => e.tagIdx >= nOutputs || e.tagIdx < -nOutputs.toLong)
      .sortBy(e => (Vocab.emissionRank(e.category), e.emitPos))
      .headOption
      .map(e => s"index ${e.tagIdx} is out of bounds for axis 0 with size $nOutputs")

  /** A compiled, serializable form of the whole tag-selection program:
    * per-lane primitive index arrays in emission order, displays
    * pre-normalized, the meta blacklist applied at BUILD time (it depends
    * only on the tag name, appV2.py:98) — the executor-side equivalent
    * of the reference's precomputed category index (appV2.py:62-71).
    *
    * Two modes differ only at the edges of a row's score vector:
    *   - REFERENCE mode (`joinMode = false`; tagImages, pipelineLocal) is
    *     numpy's `probs[categories[cat]]`: a negative index wraps
    *     (probs[-1] = last logit), an index at or past the vector's end
    *     or below −len raises IndexError, and so does a null element or
    *     a null vector (σ over an object array holding None raises
    *     TypeError) — the row fails with null tags, never the job.
    *   - JOIN mode (`joinMode = true`; pipeline) is the relational
    *     contract, where the vocab meets posexplode's positions through
    *     an inner join: an index outside [0, len) selects nothing, a
    *     null vector gives "", and a null element never passes a
    *     threshold and loses the argmax to every non-null value (ties
    *     between nulls go to the lowest emit_pos). */
  private[graft] final case class SelectionProgram(
      argmaxLanes: Array[(Array[Int], Array[String])],
      thresholdLanes: Array[(Array[Int], Array[String], Double)],
      maxIdx: Int, minIdx: Int, joinMode: Boolean) extends Serializable {

    // clipped sigmoid 1/(1+e^-clip(x,-30,30)) (appV2.py:174): the clip
    // is semantic — logits beyond ±30 saturate to the SAME prob, so
    // argmax tie-breaking (first in insertion order, numpy's contract)
    // engages where raw logits would differ. Identical double math to
    // Spark's exp builtin (java.lang.Math.exp in codegen) → bit-identical
    // probs vs the test-side column form, RelationalTagging.clippedSigmoid.
    // NaN PROPAGATES, mirroring the reference (np.clip(NaN) is NaN):
    // a NaN prob wins argmax (numpy's poisoned running maximum ≡
    // Double.compare treating NaN greatest) but is excluded from every
    // threshold lane (numpy `NaN >= θ` is False).
    @inline private def sigmoid(x: Double): Double =
      if (x.isNaN) x
      else {
        val clipped = if (x > 30.0) 30.0 else if (x < -30.0) -30.0 else x
        1.0 / (1.0 + java.lang.Math.exp(-clipped))
      }

    /** The reference's get_tags over one score vector (appV2.py:74-101);
      * `floats` says whether `vec` holds FLOAT (else DOUBLE) elements.
      * Returns null when the row fails (reference mode only, see the
      * class doc and [[Tagging.overrunError]]).
      *
      * DELIBERATE DIVERGENCE (ADVICE r11, documented not replicated):
      * the PROBS wrap is faithful, but the reference's display-name
      * lookup goes through a dense `names` list sized max(keys)+1
      * (appV2.py:62), so a negative KEY there python-wraps the list
      * ASSIGNMENT at load: `names[-1] = tag` overwrites the top slot,
      * aliasing the max-index entry's display name to the negative
      * entry's (both then emit the negative entry's name), and a key
      * below −(max+1) IndexErrors at LOAD — the reference dies before
      * tagging any image. This engine has no names array (hole = absent
      * row; each entry carries its own name), so each entry displays its
      * OWN name and a deeply-negative key is a per-image failure (the
      * overrun contract above) rather than a load-time crash. Chosen:
      * per-image well-defined behavior over replicating load-order-
      * dependent slot aliasing; display output can differ from the
      * reference on vocabs with negative keys. */
    def tags(vec: ArrayData, floats: Boolean): String = {
      if (vec == null) return if (joinMode) "" else null
      val n = vec.numElements()
      if (!joinMode) {
        if (maxIdx >= n || minIdx < -n) return null
        var i = 0
        while (i < n) { if (vec.isNullAt(i)) return null; i += 1 }
      }
      // the vector position of a lane entry, or −1 when it selects
      // nothing: join mode dropped negative entries at build and skips
      // those past the end; reference mode has already bounds-checked
      // and wraps a negative index like numpy
      @inline def position(raw: Int): Int =
        if (raw < 0) raw + n else if (raw >= n) -1 else raw
      @inline def logit(i: Int): Double =
        if (floats) vec.getFloat(i).toDouble else vec.getDouble(i)
      val sb = new java.lang.StringBuilder(64)
      var lane = 0
      while (lane < argmaxLanes.length) {
        val (idxs, displays) = argmaxLanes(lane)
        // numpy argmax: first strict max in category-index insertion
        // order; emits even at vanishing probability (appV2.py:77-83)
        var best = -1; var bestP = Double.NaN
        var i = 0
        while (i < idxs.length) {
          val pos = position(idxs(i))
          if (pos >= 0) {
            // a null element (join mode) ranks below every σ value and
            // NaN under Double.compare, and ties with other nulls
            val p = if (vec.isNullAt(pos)) Double.NegativeInfinity else sigmoid(logit(pos))
            // Double.compare ≡ Spark's max_by struct ordering (NaN-safe)
            if (best < 0 || java.lang.Double.compare(p, bestP) > 0) { best = i; bestP = p }
          }
          i += 1
        }
        // displays(best) == null marks an EMPTY-NAMED winner (the
        // reference's names[global_idx] truthiness, appV2.py:82): it won
        // the argmax — no runner-up — but emits nothing
        if (best >= 0 && displays(best) != null) {
          if (sb.length > 0) sb.append(", ")
          sb.append(displays(best))
        }
        lane += 1
      }
      lane = 0
      while (lane < thresholdLanes.length) {
        val (idxs, displays, theta) = thresholdLanes(lane)
        var i = 0
        while (i < idxs.length) {
          val pos = position(idxs(i))
          // primitive >= is already numpy's semantics: NaN >= θ false
          if (pos >= 0 && !vec.isNullAt(pos) && sigmoid(logit(pos)) >= theta) {
            if (sb.length > 0) sb.append(", ")
            sb.append(displays(i))
          }
          i += 1
        }
        lane += 1
      }
      sb.toString
    }
  }

  private[graft] object SelectionProgram {
    def apply(vocabEntries: Seq[Vocab.Entry],
              genThreshold: Double, charThreshold: Double,
              joinMode: Boolean = false): SelectionProgram = {
      // join mode: an index outside [0, Int.MaxValue] can never meet a
      // posexplode position, so it is dropped here — never wrapped, and
      // never narrowed through toInt into a valid-looking one
      val usable =
        if (joinMode) vocabEntries.filter(e => e.tagIdx >= 0 && e.tagIdx <= Int.MaxValue)
        else vocabEntries
      val boundEntries = usable.filter(e => Vocab.emissionRank.contains(e.category))
      val byCat = usable.groupBy(_.category)
        .map { case (c, es) => c -> es.sortBy(_.emitPos) }
      def lane(cat: String, argmaxLane: Boolean): (Array[Int], Array[String]) = {
        val es = byCat.getOrElse(cat, Seq.empty)
        // plan-time blacklist: a meta tag whose display contains a
        // blacklisted substring can never be emitted (appV2.py:98).
        // Empty-NAMED entries (the names[global_idx] truthiness guard,
        // appV2.py:82,96) also never emit — but an argmax lane must KEEP
        // them in the index array (they can still WIN and block the
        // runner-up), marked with a null display; threshold lanes drop
        // them outright (selection there is per-entry).
        val kept =
          if (cat == "meta")
            es.filterNot(e => e.tagName != null && Vocab.metaBlacklist.exists(
              e.tagName.replace('_', ' ').toLowerCase.contains(_)))
          else es
        val emittable = kept.filter(e => e.tagName != null && e.tagName.nonEmpty)
        if (argmaxLane)
          (kept.map(_.tagIdx.toInt).toArray,
           kept.map(e => if (e.tagName == null || e.tagName.isEmpty) null
                         else e.tagName.replace('_', ' ')).toArray)
        else
          (emittable.map(_.tagIdx.toInt).toArray,
           emittable.map(_.tagName.replace('_', ' ')).toArray)
      }
      SelectionProgram(
        Vocab.argmaxCategories.map(lane(_, argmaxLane = true)).toArray,
        (Vocab.genThresholdCategories.map(c => {
           val (i, d) = lane(c, argmaxLane = false); (i, d, genThreshold) }) ++
         Vocab.charThresholdCategories.map(c => {
           val (i, d) = lane(c, argmaxLane = false); (i, d, charThreshold) }))
          .toArray,
        // from the RECOGNIZED-category entries only (the same filter as
        // overrunError, ADVICE r12): an unrecognized category is dropped
        // at LOAD in the reference (appV2.py:68), so its index never
        // enters a category array and can never trip the IndexError —
        // bounds-checking it here would null every image's tags where
        // the reference tags normally. Blacklisted and empty-named
        // entries are KEPT: they do sit in the reference's category
        // arrays and do raise.
        // clamped, not truncated: a Long index past Int range must trip
        // the bounds pre-check, never wrap through toInt into the lanes
        if (boundEntries.isEmpty) -1
        else math.min(boundEntries.map(_.tagIdx).max, Int.MaxValue.toLong).toInt,
        if (boundEntries.isEmpty) 0
        else math.max(boundEntries.map(_.tagIdx).min, Int.MinValue.toLong).toInt,
        joinMode)
    }
  }

  /** [[SelectionProgram.tags]] as a Catalyst expression over the score-
    * vector column: the vector is read in place (no copy, no boxing) from
    * a FLOAT or DOUBLE array, so the selection runs inside the scan's own
    * whole-stage-codegen projection.
    *
    * Why an expression and not Column built-ins (SURVEY §7.4 ladder):
    * Spark's higher-order functions (transform/filter/aggregate lambdas)
    * do NOT participate in whole-stage codegen — an HOF formulation
    * evaluates ~|vocab| interpreted, boxing lambda calls per row (5×
    * SLOWER than the relational form, measured), and a flat when-chain
    * expression tree codegens only while |vocab| stays under the 64KB
    * method limit (the real CL tagger vocabulary is ~12k tags). */
  private[graft] final case class SelectTags(child: Expression, program: SelectionProgram)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = !program.joinMode
    override def prettyName: String = "graft_select_tags"
    // plans print the vector column, not the compiled program's arrays
    override protected def stringArgs: Iterator[Any] = Iterator(child)

    private lazy val floats: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.simpleString}")
    }

    def select(vec: ArrayData): UTF8String = {
      val t = program.tags(vec, floats)
      if (t == null) null else UTF8String.fromString(t)
    }

    override def eval(input: InternalRow): Any =
      select(child.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("selectTags", this, classOf[SelectTags].getName)
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        UTF8String ${ev.value} = $self.select(${c.isNull} ? null : ${c.value});
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
    }

    override protected def withNewChildInternal(newChild: Expression): SelectTags =
      copy(child = newChild)
  }

  /** The vocabulary dimension as driver-side entries — one small collect
    * (the dimension is broadcast-sized, the dual of the reference's
    * in-memory index, appV2.py:70-71). A null tag_idx never joins a
    * position, so its row is dropped. */
  private[graft] def collectEntries(vocab: DataFrame): Seq[Vocab.Entry] =
    vocab.where(col("tag_idx").isNotNull)
      .select(col("tag_idx").cast("long"), col("tag_name"), col("category"),
        col("emit_pos").cast("long"))
      .collect()
      .map(r => Vocab.Entry(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  /** (image_id, tags): the id column passes through unchanged — its own
    * type, its nulls — and the tags come from one SelectTags projection. */
  private def selectRows(scores: DataFrame, program: SelectionProgram,
                         idCol: String, vecCol: String): DataFrame = {
    val vec = scores.schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType, _) => col(vecCol)
      case _ => col(vecCol).cast("array<double>")
    }
    scores.select(col(idCol).as("image_id"),
      GraftSqlShims.columnOf(SelectTags(GraftSqlShims.exprOf(vec), program)).as("tags"))
  }

  /** Full pipeline: scores(id, logits ARRAY) × vocab → (image_id, tags),
    * one row per input row, with the relational contract of the
    * long-format form (JOIN mode, see [[SelectionProgram]]): an index
    * outside a row's own [0, len) selects nothing, a null vector gives
    * "", a null element never passes a threshold and loses every argmax
    * to a non-null value. No shuffle, no join: one narrow projection.
    *
    * DELIBERATE CHANGE from the relational form: rows that share an id
    * are tagged separately, each from its own vector. The relational
    * form grouped by id, merged the tags of every row with that id and
    * repeated the merged string on each; it also gave a null-id row ""
    * (its equi-join never matches null). The oracle inputs have unique
    * non-null ids (`embeddings.vec_id`), so the DuckDB gate is unmoved. */
  def pipeline(scores: DataFrame, vocab: DataFrame,
               genThreshold: Double = 0.55, charThreshold: Double = 0.60,
               idCol: String = "image_id", vecCol: String = "logits"): DataFrame =
    selectRows(scores,
      SelectionProgram(collectEntries(vocab), genThreshold, charThreshold, joinMode = true),
      idCol, vecCol)

  /** The same projection in REFERENCE mode (see [[SelectionProgram]]): a
    * row whose vector the vocab overruns, or that holds a null, fails
    * with null tags — the reference's per-image IndexError, see
    * [[overrunError]] — and a negative index wraps per row against the
    * vector's length. Agrees with [[pipeline]] on every null-free row
    * whose vector the vocab fits with non-negative indices. Pinned by
    * TaggingSpec and the tagger_pipeline_local oracle query. */
  def pipelineLocal(scores: DataFrame, vocabEntries: Seq[Vocab.Entry],
                    genThreshold: Double = 0.55, charThreshold: Double = 0.60,
                    idCol: String = "image_id", vecCol: String = "logits"): DataFrame =
    selectRows(scores, SelectionProgram(vocabEntries, genThreshold, charThreshold),
      idCol, vecCol)

  /** Deterministic synthetic vocabulary over tag_idx 0..n-1, mirrored
    * exactly by SQL in the DuckDB oracle (see SparkEntry.oracleSql):
    * category cycles through the 8 recognized ones; every 16th index in
    * the meta lane gets a blacklisted name (substring "id") to keep the
    * anti-filter under oracle test; underscore names exercise the
    * underscore→space projection. */
  def syntheticVocab(spark: SparkSession, n: Int = 64): DataFrame =
    spark.range(n).select(
      col("id").as("tag_idx"),
      // synthetic mapping is ascending → insertion order == tag_idx
      col("id").as("emit_pos"),
      expr("CASE WHEN id % 8 = 5 AND id % 16 = 13 " +
        "THEN concat('meta_id_', CAST(id AS STRING)) " +
        "ELSE concat('tag_', CAST(id AS STRING)) END").as("tag_name"),
      expr("CASE CAST(id % 8 AS INT) " +
        "WHEN 0 THEN 'rating' WHEN 1 THEN 'general' WHEN 2 THEN 'artist' " +
        "WHEN 3 THEN 'character' WHEN 4 THEN 'copyright' WHEN 5 THEN 'meta' " +
        "WHEN 6 THEN 'quality' ELSE 'model' END").as("category"))

  /** Driver-side twin of syntheticVocab for pipelineLocal (same generator,
    * materialized as entries; lockstep pinned by TaggingSpec). */
  def syntheticVocabEntries(n: Int = 64): Seq[Vocab.Entry] =
    (0L until n.toLong).map { id =>
      val name =
        if (id % 8 == 5 && id % 16 == 13) s"meta_id_$id" else s"tag_$id"
      val cat = (id % 8) match {
        case 0 => "rating"; case 1 => "general"; case 2 => "artist"
        case 3 => "character"; case 4 => "copyright"; case 5 => "meta"
        case 6 => "quality"; case _ => "model"
      }
      Vocab.Entry(id, name, cat, id)
    }

  /** SQL text of the synthetic vocab for the DuckDB oracle (DuckDB `range`
    * produces column `range`). Must stay in lockstep with syntheticVocab. */
  def syntheticVocabSql(n: Int = 64): String =
    s"""SELECT range AS tag_idx,
       |  CASE WHEN range % 8 = 5 AND range % 16 = 13
       |       THEN 'meta_id_' || CAST(range AS VARCHAR)
       |       ELSE 'tag_' || CAST(range AS VARCHAR) END AS tag_name,
       |  CASE CAST(range % 8 AS INT)
       |       WHEN 0 THEN 'rating' WHEN 1 THEN 'general' WHEN 2 THEN 'artist'
       |       WHEN 3 THEN 'character' WHEN 4 THEN 'copyright' WHEN 5 THEN 'meta'
       |       WHEN 6 THEN 'quality' ELSE 'model' END AS category
       |FROM range(0, $n)""".stripMargin
}
