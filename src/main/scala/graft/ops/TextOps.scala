package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline surface
  * (north-star ops; no counterpart in the reference, which processes
  * images — appV2.py handles text only as tag names R13/R14).
  *
  * Cross-engine determinism rule: every hash in the dedup/fingerprint
  * family derives from md5 (bit-identical in Spark and DuckDB), never from
  * engine hash() builtins (murmur3 vs duckdb-hash would break the oracle).
  * A 15-hex-digit prefix of the md5 is parsed as a 60-bit integer — fits a
  * signed BIGINT in both engines. */
object TextOps {

  /** Tokenize on single spaces (the documents fixture is space-separated
    * words, FIXTURES.md). */
  def words(text: Column): Column = split(text, " ")

  /** Case-folded whitespace tokenization — the convention of the BPE
    * family (text_bpe_pairs), DELIBERATELY divergent from [[words]]:
    * BPE merge training is case-insensitive over arbitrary whitespace
    * (Sennrich et al., ACL 2016 lowercase their corpora), while the
    * fingerprinting/classifier family keeps case because winnowing and
    * hashed features treat "The"≠"the" as signal. Any new query picks
    * ONE of these two helpers — never a third inline variant. */
  def lowerWords(text: Column): Column =
    filter(split(lower(text), "\\s+"), x => x =!= "")

  /** 60-bit integer from a string via md5 — the engine-portable hash.
    * Routed through the native [[graft.functions.Md5Long60]] expression
    * (digest → long directly, thread-local MessageDigest) — bit-identical
    * to the composed conv(substring(md5(x),1,15),16,10) form it replaced
    * (FunctionsSpec pins it) at a fraction of the per-value cost.
    * DuckDB dual: ('0x' || substr(md5(x),1,15))::BIGINT. */
  def md5Long(c: Column): Column =
    org.apache.spark.sql.GraftSqlShims.columnOf(
      graft.functions.Md5Long60(
        org.apache.spark.sql.GraftSqlShims.exprOf(c.cast("string"))))

  /** Winnowing selection (Schleimer/Wilkerson/Aiken, SIGMOD'03 — MOSS):
    * hash every k-gram, slide a w-window over the hash sequence, keep
    * each window's minimum. GUARANTEE: two documents sharing any run of
    * ≥ k+w−1 identical tokens share a selected hash (a w-window of
    * k-grams fits inside the run on both sides, and its minimum is the
    * same value) — at ~2/(w+1) the storage of full shingling. Returns
    * (idCol, n_windows, sel: array<bigint>); docs shorter than k+w−1
    * tokens (no full window) are dropped.
    *
    * Hashing is the polynomial scheme proven cross-engine in
    * text_token_regex, NOT per-k-gram md5: each token folds once to
    * h ← (31h + code) mod (2³¹−1) over its characters (O(chars) total),
    * and each k-gram combines its k token hashes with multiply-add mod
    * the same prime (O(k) integer ops — no string concat, no md5, no
    * hex→decimal conv per k-gram). That swap took the sf1 wall of
    * text_winnowing from 6.6 s to the linear row-local cost the query's
    * scale posture claims. All three passes are row-local transforms;
    * the token-hash array is pinned (localCheckpoint) between them
    * because the k-gram lambda references it k× per element and
    * Catalyst's CollapseProject would otherwise re-inline the char fold
    * per reference (the same trap `shingles` documents). */
  def winnowSelect(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k,w >= 1 (got k=$k w=$w)")
    val p = 2147483647L // 2^31 − 1; token hash < p keeps th*B+th' < 2^52
    val b = 1000003L    // k-gram combiner base
    // per-token char fold, once per token
    val th = docs
      .select(col(idCol), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= k + w - 1)
      .select(col(idCol), expr(
        s"""transform(ws, t -> aggregate(
           |  transform(regexp_extract_all(t, '(?s).', 0), c -> cast(ascii(c) as bigint)),
           |  cast(0 as bigint), (h, c) -> (h * 31 + c) % $p))""".stripMargin)
        .as("th"))
      .localCheckpoint()
    // k-gram hash: multiply-add over k consecutive token hashes
    val gram = (1 until k).foldLeft(s"element_at(th, i)")((acc, j) =>
      s"(($acc) * $b + element_at(th, i + $j)) % $p")
    val hs = th.select(col(idCol), expr(
      s"transform(sequence(1, size(th) - ${k - 1}), i -> $gram)").as("hs"))
      .localCheckpoint()
    hs.select(col(idCol),
      (size(col("hs")) - (w - 1)).cast("long").as("n_windows"),
      expr(s"array_distinct(transform(sequence(1, size(hs) - ${w - 1}), " +
        s"i -> array_min(slice(hs, i, $w))))").as("sel"))
  }

  /** Margin of the 1024-bucket hashed ("hashing trick") linear text
    * classifier: mean over tokens of a deterministic pseudo-weight in
    * [-1, 1] looked up by md5 bucket. Shared by `text_hash_classifier`
    * (scores + labels) and `q_model_lift` (decile lift of those scores)
    * so the two queries grade the SAME model. The fold is row-local and
    * codegen'd — no UDF, no shuffle. */
  def hashClassifierMargin(ws: Column): Column = {
    val dim = 1024
    def bucket(w: Column): Column = md5Long(w) % dim
    def weight(b: Column): Column =
      (md5Long(b.cast("string")) % 2001 - 1000) / lit(1000.0)
    aggregate(ws, lit(0.0), (acc, w) => acc + weight(bucket(w))) / size(ws)
  }

  /** Distinct word n-gram shingles, exploded to (id, shingle) rows.
    * Documents shorter than n words contribute no shingles (mirrors the
    * DuckDB generate_series dual, which emits an empty series).
    *
    * Implementation note: posexplode + lead() windows, NOT
    * transform(sequence, i => element_at(split(text), i+k)) — Catalyst's
    * CollapseProject inlines the split() into every element_at call, so
    * the array form re-splits the text O(n_shingles·n) times per row
    * (measured 14 s at sf0.1 vs ~1 s for this shape). Here the text is
    * split once, and the window is a single per-doc sort. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val withLeads = df
      .select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "w0")))
      .select(col(idCol) +: col("w0") +:
        (1 until n).map(k => lead(col("w0"), k).over(w).as(s"w$k")): _*)
    withLeads
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(k => col(s"w$k")): _*).as("shingle"))
      .distinct()
  }

  /** Non-distinct word n-grams with multiplicity, exploded to
    * (id, gram) rows — the input to repetition-based quality metrics
    * (Gopher-style duplicate-n-gram fractions), where multiplicity is
    * the whole point (shingles() deduplicates). Same
    * posexplode + lead shape as shingles (split once, no re-split). */
  def ngrams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    df.select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "w0")))
      .select(col(idCol) +: col("w0") +:
        (1 until n).map(k => lead(col("w0"), k).over(w).as(s"w$k")): _*)
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(k => col(s"w$k")): _*).as("gram"))
  }

  /** Exact Jaccard similarity for every pair sharing ≥1 shingle.
    * The shingle equi-join only materializes CO-OCCURRING pairs — at scale
    * this is the standard inverted-index trick: cost is Σ_shingle df², not
    * n². Very frequent shingles can be stopworded upstream if needed. */
  def jaccardPairs(sh: DataFrame, idCol: String): DataFrame = {
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("id1"), col("shingle"))
    val b = sh.select(col(idCol).as("id2"), col("shingle"))
    val inter = a.join(b, "shingle")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard",
        round(col("inter") / (col("sz1") + col("sz2") - col("inter")), 6))
  }

  /** Affine universal-hash family over a single md5 base hash:
    * h_j(x) = (a_j·(md5_60(x) & (2³⁰−1)) + b_j) mod (2³¹−1).
    * One md5 per shingle instead of k — the md5 is the expensive part —
    * and every operation is exact BIGINT arithmetic, identical in DuckDB
    * (a_j·2³⁰ + b_j < 2⁶² never overflows a signed 64-bit). */
  val minhashPrime: Long = 2147483647L // 2^31 − 1
  def minhashFamily(k: Int): Seq[(Long, Long)] =
    (0 until k).map(j => (104729L * (j + 1) + 7L, 95261L * j + 13L))

  /** MinHash signatures: k affine min-hashes over the shingle set.
    * Returns (id, h0..h{k-1}). One shuffle (groupBy id); signatures are
    * k×8 bytes per doc — tiny at any scale. */
  def minhashSignatures(sh: DataFrame, idCol: String, k: Int = 16): DataFrame = {
    val base = md5Long(col("shingle")).bitwiseAND(lit((1L << 30) - 1))
    val fam = minhashFamily(k)
    sh.groupBy(idCol)
      .agg(
        min((lit(fam.head._1) * base + lit(fam.head._2)) % lit(minhashPrime)).as("h0"),
        fam.zipWithIndex.tail.map { case ((a, b), j) =>
          min((lit(a) * base + lit(b)) % lit(minhashPrime)).as(s"h$j")
        }: _*)
  }

  /** LSH banding over a minhash signature: k hashes → `bands` bands of
    * k/bands rows each; docs agreeing on ANY band become candidates.
    * Banded keys make the candidate join an equi-join — the LSH scale
    * path (no all-pairs comparison ever happens). Returns (id, band INT,
    * band_key), `bands` rows per signature, from ONE posexplode of the
    * band-key array: each side of a band self-join is one projection,
    * where a per-band union was `bands` projections. */
  def lshBands(sig: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    // bands must tile the signature exactly: a remainder would silently
    // change recall (ignored hashes), and bands > k would make every
    // band_key "" — collapsing the LSH equi-join into the all-pairs
    // cross product the banding exists to prevent
    require(k > 0 && bands > 0 && k % bands == 0,
      s"lshBands: bands=$bands must divide signature length k=$k > 0")
    val rowsPerBand = k / bands
    val keys = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"h$j"))
      concat_ws(",", cols.map(_.cast("string")): _*)
    }
    sig.select(col(idCol), posexplode(array(keys: _*)).as(Seq("band", "band_key")))
  }

  // ------------------------------------------------------------------
  // Row-local kernels (the scale path).
  //
  // Signatures (minhash, simhash) are pure per-document functions, so
  // computing them via corpus-wide explodes + shuffles (60× vote rows for
  // simhash; posexplode + per-doc window sort for shingles) does O(corpus
  // × blowup) shuffle work for what is O(doc) local arithmetic. These
  // kernels run inside mapPartitions over the scan — zero shuffles — and
  // reproduce the exact md5-derived integers of the declarative forms
  // (same UTF-8 md5, same 15-hex-digit prefix, same affine family), so
  // the DuckDB oracles are unchanged. Equivalence with the declarative
  // forms is pinned by PropertiesSpec.
  // ------------------------------------------------------------------

  /** Driver/executor-side md5 60-bit hash — bit-identical to md5Long.
    * Shares the native expression's thread-local digest: the old
    * per-call MessageDigest.getInstance was a provider lookup + alloc
    * on EVERY shingle of every document. */
  @inline private[graft] def md5Long60(s: String): Long =
    graft.functions.Md5Long60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))

  /** Row-local 60-bit SimHash: one pass over the words of each document.
    * Matches `simhash` exactly (PropertiesSpec). */
  def simhashLocal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      // dirty-row guard (file convention): null text would NPE in
      // text.split and a null id fails the non-nullable Long encoder —
      // the declarative twins emit no rows for the same input
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val votes = new Array[Int](60)
          // split(" ", -1) mirrors Spark's split(): keeps empty tokens
          text.split(" ", -1).foreach { w =>
            val h = md5Long60(w)
            var i = 0
            while (i < 60) {
              votes(i) += (((h >>> i) & 1L).toInt << 1) - 1
              i += 1
            }
          }
          var sig = 0L
          var i = 0
          while (i < 60) { if (votes(i) > 0) sig |= 1L << i; i += 1 }
          (id, sig)
        }
      }
      .toDF(idCol, "simhash")
  }

  /** Row-local distinct word-n-gram shingle set of one document (the
    * kernel twin of `shingles`; docs shorter than n words → empty). */
  private[graft] def shingleSet(text: String, n: Int): scala.collection.mutable.Set[String] = {
    val ws = text.split(" ", -1)
    val out = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i + n <= ws.length) {
      val sb = new java.lang.StringBuilder(ws(i))
      var k = 1
      while (k < n) { sb.append(' ').append(ws(i + k)); k += 1 }
      out += sb.toString
      i += 1
    }
    out
  }

  /** Row-local DISTINCT shingle relation with the shingle pre-hashed to
    * its md5-derived 60-bit long: (id, shingle LONG). Two scale moves in
    * one — the shingle set is built per row in mapPartitions (no
    * posexplode, no per-doc window sort), and every downstream
    * inverted-index join/groupBy shuffles 8-byte keys instead of ~20-byte
    * strings. The column keeps the name "shingle" so jaccardPairs works
    * unchanged; hash collisions (≈ |shingles|²/2⁶¹) are reproduced
    * identically by the oracle, which applies the same md5 hash. */
  def shinglesHashedLocal(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      // dirty-row guard (file convention): null text would NPE in
      // text.split and a null id fails the non-nullable Long encoder —
      // the declarative twins emit no rows for the same input
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          shingleSet(text, n).iterator.map(s => (id, md5Long60(s)))
        }
      }
      .toDF(idCol, "shingle")
  }

  /** Row-local POSITIONED shingle relation: (id, pos, shingle LONG), one
    * row per occurrence (non-distinct — position identity is the point),
    * hashed to the same 60-bit md5 keys as shinglesHashedLocal. Feeds
    * span-level operators that must map a duplicated gram back onto the
    * token range it covers (ExactSubstr-style removal). Same scale
    * posture as the other kernels: built per row in mapPartitions, no
    * posexplode, no per-doc window sort, 8-byte join keys. */
  def shinglePositionsLocal(df: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      // dirty-row guard (file convention): null text would NPE in
      // text.split and a null id fails the non-nullable Long encoder —
      // the declarative twins emit no rows for the same input
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val ws = text.split(" ", -1)
          (0 to ws.length - n).iterator.map { i =>
            val sb = new java.lang.StringBuilder(ws(i))
            var k = 1
            while (k < n) { sb.append(' ').append(ws(i + k)); k += 1 }
            (id, i.toLong, md5Long60(sb.toString))
          }
        }
      }
      .toDF(idCol, "pos", "shingle")
  }

  /** Exact thresholded Jaccard pairs via PREFIX FILTERING — identical
    * output to `jaccardPairs(shinglesHashedLocal(df)).filter(jaccard >=
    * minJaccard)`, at a fraction of the cost (5.5× fewer index rows and
    * a 5× smaller candidate aggregate on the fixture corpus).
    *
    * The classic all-pairs-similarity-search result (Chaudhuri/Ganti/
    * Kaushik, ICDE'06 "A Primitive Operator for Similarity Joins";
    * Bayardo/Ma/Srikant, WWW'07 "Scaling Up All Pairs Similarity
    * Search"): if J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so under ANY global
    * element order the first |A| − ⌈t·|A|⌉ + 1 elements of A must
    * intersect B's corresponding prefix. Only prefixes are indexed;
    * candidate pairs come from the (much smaller) prefix equi-join; the
    * exact intersection is then computed per candidate by an O(|A|+|B|)
    * sorted-merge over the full arrays. The merge counts run-products
    * (Σ cA·cB per equal value), reproducing the inverted-index join's
    * count semantics bit-for-bit even under 60-bit hash collisions.
    *
    * The kernel emits exact INTEGER (inter, sz1, sz2); the jaccard
    * division, round(…, 6) and the threshold predicate stay relational —
    * no floating-point parity risk vs the oracle's identical SQL.
    *
    * Scale: ≤ `maxBroadcastDocs` docs (arrays are ~8·|shingles| bytes)
    * the full arrays are broadcast and verification is a narrow map over
    * the candidate pairs; above it, verification is two shuffle joins of
    * the candidate pairs against the array relation — both paths share
    * the same merge kernel. The prefix length is computed from
    * t − 1e-6, not t: callers accept pairs by `round(jaccard, 6) ≥ t`,
    * which admits raw jaccard down to t − 5e-7 — the prefix bound must
    * cover that whole band or rounding could resurrect a pair the
    * candidate stage never generated (the allPairsCosineLocal
    * θ − 1e-5 prefilter convention). The additional 1e-9 slack makes an
    * upward double error (0.8·50 → 40.000…01) only LENGTHEN the
    * prefix, never create a false negative. */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, minJaccard: Double = 0.8,
                         maxBroadcastDocs: Long = 100000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val t = minJaccard
    // (id, sorted multiset array) + prefix length, checkpointed — read by
    // the prefix index and again by verification. p is relational: the
    // same ceil-with-1e-9-slack math as documented above (a double error
    // can only LENGTHEN the prefix).
    val arrs = pinShingleArrays(shingleArraysLocal(df, idCol, textCol, n)
      .withColumn("p",
        greatest(lit(1),
          (size(col("sh_arr")).cast("long")
            - ceil(lit(t - 1e-6) * size(col("sh_arr")) - lit(1e-9)) + 1L).cast("int"))))
    // The prefix theorem holds under ANY consistent global element
    // order, and the ORDER is the whole scale story: with the arrays'
    // native hash order, prefixes index a uniform sample of shingles, so
    // a shingle of document frequency df contributes ~df² candidate
    // pairs and the join grows QUADRATICALLY with corpus growth (the sf1
    // headroom run measured 10× docs → 100× candidates → 30× wall
    // time). Bayardo/Ma/Srikant's canonical order — df ASCENDING, i.e.
    // each doc's RAREST p shingles form its prefix — bounds every
    // prefix shingle's contribution by the rare-df tail and keeps the
    // candidate join near-linear (10× docs → 11× candidates, measured).
    // Output is UNCHANGED: prefix order affects only which superset of
    // the true pairs reaches exact verification.
    val docFreq = arrs.df
      .select(explode(array_distinct(col("sh_arr"))).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefix = arrs.df
      .select(col(idCol), col("p"), explode(col("sh_arr")).as("shingle"))
      .join(docFreq, "shingle")
      .groupBy(col(idCol), col("p"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle"))))
        .as("by_df"))
      .select(col(idCol),
        explode(slice(transform(col("by_df"), x => x.getField("shingle")),
          lit(1), col("p"))).as("shingle"))
      // pinned: the candidate equi-join reads this relation twice, and
      // (unlike the old slice-of-checkpoint) it now costs a df join +
      // per-doc rebuild
      .localCheckpoint()
    val cand = prefix.select(col(idCol).as("id1"), col("shingle"))
      .join(prefix.select(col(idCol).as("id2"), col("shingle")), "shingle")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    scoredPairs(cand, arrs, idCol, t, maxBroadcastDocs,
      spreadVerify = true)
  }

  /** Exact thresholded Jaccard over a DF-CAPPED candidate index — the
    * array-kernel formulation of the web-scale Σdf² guard: shingles with
    * document frequency > `maxDf` are dropped from CANDIDATE GENERATION
    * (bounding the index at Σ_{df≤cap} df² ≤ cap·|rows| candidates),
    * while the surviving pairs are verified by exact sorted-merge
    * intersection over the FULL shingle arrays. Output ≡ restricting
    * `jaccardPairs(shinglesHashedLocal(df))` to pairs sharing ≥1 rare
    * shingle, then filtering jaccard ≥ minJaccard — the relation the
    * dedup_ngram_capped oracle computes — without ever rebuilding the
    * full inverted index for verification.
    *
    * Two branches, one output. When the pinned arrays fit the broadcast
    * bound ([[fitsBroadcast]]: ≤ `maxBroadcastDocs` docs and ≤ 1 GB of
    * elements), the df histogram is counted on the driver over the
    * collected arrays (df counts array ELEMENTS, exactly as
    * explode(sh_arr) would) and [[indexedPairs]] generates and verifies
    * the candidates in one map. Above it, the rare-shingle rows are
    * pinned and self-joined, and the distinct candidates are verified by
    * [[scoredPairs]]' join path. */
  def jaccardPairsCapped(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, maxDf: Long = 10L, minJaccard: Double = 0.8,
                         maxBroadcastDocs: Long = 100000L): DataFrame = {
    val arrs = pinShingleArrays(shingleArraysLocal(df, idCol, textCol, n))
    if (fitsBroadcast(arrs, maxBroadcastDocs)) {
      val spark = df.sparkSession
      import spark.implicits._
      val rows = arrs.df.select(col(idCol), col("sh_arr")).as[(Long, Array[Long])].collect()
      indexedPairs(spark, rows.map(_._1), rareKeys(rows.map(_._2), maxDf),
        rows.map(_._2), minJaccard)
    } else {
      val sh = arrs.df.select(col(idCol), explode(col("sh_arr")).as("shingle"))
      val rareShingles = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("shingle")
      // checkpointed: the candidate self-join references rare twice — the
      // shingle explode + df histogram + join would otherwise run twice
      val rare = sh.join(rareShingles, "shingle").localCheckpoint()
      val cand = rare.select(col(idCol).as("id1"), col("shingle"))
        .join(rare.select(col(idCol).as("id2"), col("shingle")), "shingle")
        .filter(col("id1") < col("id2"))
        .select("id1", "id2").distinct()
      scoredPairs(cand, arrs, idCol, minJaccard, maxBroadcastDocs)
    }
  }

  /** Per array, the dense ids of its elements whose document frequency
    * is ≤ `maxDf` — df counting array ELEMENTS over all arrays, as
    * explode(sh_arr) + count would. One sort of every element: the runs
    * of the sorted copy are the distinct values and their df, and a
    * value's id is its index among them. */
  private def rareKeys(arrays: Array[Array[Long]], maxDf: Long): Array[Array[Int]] = {
    val all = new Array[Long](arrays.iterator.map(_.length).sum)
    var o = 0
    arrays.foreach { a => System.arraycopy(a, 0, all, o, a.length); o += a.length }
    java.util.Arrays.sort(all)
    val values = scala.collection.mutable.ArrayBuilder.make[Long]
    val rare = scala.collection.mutable.ArrayBuilder.make[Boolean]
    var i = 0
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j) == all(i)) j += 1
      values += all(i); rare += (j - i) <= maxDf
      i = j
    }
    val (vals, isRare) = (values.result(), rare.result())
    arrays.map(_.map(java.util.Arrays.binarySearch(vals, _)).filter(k => isRare(k)).distinct)
  }

  /** Shared tail of the candidate-based jaccard family: exact
    * (inter, sz1, sz2) per pair via `verifyCandidates`, then the
    * rounded jaccard and the threshold — kept in ONE place because the
    * rounding scale is an oracle-parity constant shared by every
    * caller. */
  def scoredPairs(cand: DataFrame, arrs: ShingleArrays, idCol: String,
                  minJaccard: Double, maxBroadcastDocs: Long = 100000L,
                  spreadVerify: Boolean = false): DataFrame =
    thresholded(verifyCandidates(cand, arrs, idCol, maxBroadcastDocs,
      spreadVerify = spreadVerify), minJaccard)

  /** (id1, id2, inter, sz1, sz2) → + jaccard, rounded to 6 places, and
    * the threshold on the rounded value. */
  private def thresholded(verified: DataFrame, minJaccard: Double): DataFrame =
    verified
      .withColumn("jaccard",
        round(col("inter") / (col("sz1") + col("sz2") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)

  /** Row-local (id, sh_arr): the document's hashed-shingle multiset as a
    * SORTED long array, one narrow pass over the scan (no explode, no
    * window). Sorted order gives an O(|A|+|B|) merge intersection in
    * `verifyCandidates`; docs with no shingles (< n words) yield no row,
    * like the relational shingle forms. */
  def shingleArraysLocal(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      // dirty-row guard (file convention): null text would NPE in
      // text.split and a null id fails the non-nullable Long encoder —
      // the declarative twins emit no rows for the same input
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val arr = shingleHashes(text, n)
          if (arr.isEmpty) None
          else { java.util.Arrays.sort(arr); Some((id, arr)) }
        }
      }
      .toDF(idCol, "sh_arr")
  }

  /** [[shingleArraysLocal]] plus each document's MinHash signature,
    * (id, sig: array<bigint> of k, sh_arr), from ONE shingle set per
    * document: the signature is [[minhashFold]] over the same md5 hashes
    * the sorted array holds. Same rows as shingleArraysLocal (null id or
    * text, or < n words → no row), and `sig` ≡ [[minhashSignaturesLocal]]. */
  def signedShingleArraysLocal(df: DataFrame, idCol: String, textCol: String,
                               n: Int = 3, k: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fam = minhashFamily(k).toArray
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val arr = shingleHashes(text, n)
          if (arr.isEmpty) None
          else {
            val sig = minhashFold(arr, fam)
            java.util.Arrays.sort(arr)
            Some((id, sig, arr))
          }
        }
      }
      .toDF(idCol, "sig", "sh_arr")
  }

  /** The md5-derived 60-bit hashes of one document's distinct
    * n-shingles, unsorted (a 60-bit collision repeats a value); empty
    * when the document is shorter than n words. */
  private[graft] def shingleHashes(text: String, n: Int): Array[Long] = {
    val sh = shingleSet(text, n)
    val out = new Array[Long](sh.size)
    var i = 0
    sh.foreach { s => out(i) = md5Long60(s); i += 1 }
    out
  }

  /** A pinned (id, sh_arr, …) relation with the two totals
    * [[verifyCandidates]] sizes its broadcast by: documents and array
    * elements. */
  final case class ShingleArrays(df: DataFrame, docs: Long, elems: Long)

  /** Pins `arrs` with localCheckpoint; the totals ride the pin's own job
    * through observe(), so verification needs no sizing job of its own. */
  def pinShingleArrays(arrs: DataFrame): ShingleArrays = {
    val obs = org.apache.spark.sql.Observation()
    val df = arrs.observe(obs, count(lit(1)).as("docs"),
      coalesce(sum(size(col("sh_arr")).cast("long")), lit(0L)).as("elems"))
      .localCheckpoint()
    ShingleArrays(df, obs.get("docs").asInstanceOf[Long],
      obs.get("elems").asInstanceOf[Long])
  }

  /** Sorted-merge steps per task when a verify map is spread by its
    * work. */
  private val stepsPerTask = 3000000L

  /** Exact sorted-merge intersection with run-product counting — the
    * precise count the inverted-index join's groupBy would produce,
    * collision-identical included. */
  private[graft] def interCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var inter = 0L
    while (i < a.length && j < b.length) {
      val ai = a(i); val bj = b(j)
      if (ai == bj) {
        var ca = 0; var cb = 0
        while (i < a.length && a(i) == ai) { ca += 1; i += 1 }
        while (j < b.length && b(j) == ai) { cb += 1; j += 1 }
        inter += ca.toLong * cb
      } else if (ai < bj) i += 1
      else j += 1
    }
    inter
  }

  /** [[interCount]] when the pair can reach Jaccard ≥ t − 1e-6, else −1
    * — without finishing the merge for most pairs that cannot. A pair
    * is dropped up front when its size ratio already bounds Jaccard
    * below t − 1e-6 (J ≤ min/max), and the merge stops as soon as the
    * overlap counted so far plus the shorter remainder falls short of the
    * overlap that Jaccard needs (J ≥ t' ⇔ inter ≥ t'·(|a|+|b|)/(1+t')).
    * Callers keep pairs by round(J, 6) ≥ t, which no pair below
    * t − 5e-7 passes, so a dropped pair is one the threshold drops. Valid
    * only for t > 0 and arrays without repeated elements: run-product
    * counting lets one step add more than the shorter remainder. */
  private[graft] def boundedInterCount(a: Array[Long], b: Array[Long], t: Double): Long = {
    val tp = t - 1e-6
    val (la, lb) = (a.length, b.length)
    if (math.min(la, lb) < tp * math.max(la, lb)) return -1L
    // relative slack: a double error may only LOWER the overlap needed
    val need = math.ceil(tp * (la + lb) / (1 + tp) * (1 - 1e-9)).toLong
    var i = 0; var j = 0; var inter = 0L
    while (i < la && j < lb && inter + math.min(la - i, lb - j) >= need) {
      val ai = a(i); val bj = b(j)
      if (ai == bj) { inter += 1; i += 1; j += 1 }
      else if (ai < bj) i += 1
      else j += 1
    }
    if (inter >= need) inter else -1L
  }

  /** True when the pinned arrays may be collected to the driver and
    * broadcast: ≤ `maxBroadcastDocs` rows AND ≤ `maxBroadcastBytes` of
    * elements (8 B each). */
  private[graft] def fitsBroadcast(arrs: ShingleArrays, maxBroadcastDocs: Long,
                                   maxBroadcastBytes: Long = 1L << 30): Boolean =
    arrs.docs <= maxBroadcastDocs && arrs.elems * 8L <= maxBroadcastBytes

  /** Dense ids 0, 1, … for per-row key lists — equal keys (by value)
    * get equal ids: the key space [[indexedPairs]] indexes. */
  private[graft] def denseKeys[K](rowKeys: Array[Seq[K]]): Array[Array[Int]] = {
    val ids = new java.util.HashMap[K, Integer]()
    rowKeys.map(_.map(k => ids.computeIfAbsent(k, _ => Int.box(ids.size)).intValue).toArray)
  }

  /** The broadcast side of [[indexedPairs]]. Documents are the distinct
    * ids, ascending; document d owns the rows rows(rowOff(d) until
    * rowOff(d + 1)); its keys (the union of its rows' keys) are
    * keys(keyOff(d) until keyOff(d + 1)); key k's postings — the
    * documents holding it, ascending — are post(postOff(k) until
    * postOff(k + 1)). Slice s is the documents bounds(s) until
    * bounds(s + 1). */
  private[graft] final class PairIndex(
      docIds: Array[Long], rowOff: Array[Int], rows: Array[Int],
      keyOff: Array[Int], keys: Array[Int], postOff: Array[Int], post: Array[Int],
      arrs: Array[Array[Long]], distinctRow: Array[Boolean], bounds: Array[Int])
      extends Serializable {

    /** (id1, id2, inter, sz1, sz2) for every pair of rows whose documents
      * d < d2 share a key, d in slice `s` — minus the pairs
      * [[boundedInterCount]] proves below t. */
    def pairs(s: Int, t: Double): Iterator[(Long, Long, Long, Long, Long)] = {
      val mark = Array.fill(docIds.length)(-1)
      val cand = new Array[Int](docIds.length)
      (bounds(s) until bounds(s + 1)).iterator.flatMap { d =>
        // candidates: the union of d's postings past d, each once
        var nc = 0
        var q = keyOff(d)
        while (q < keyOff(d + 1)) {
          val k = keys(q)
          var e = upperBound(postOff(k), postOff(k + 1), d)
          while (e < postOff(k + 1)) {
            val d2 = post(e)
            if (mark(d2) != d) { mark(d2) = d; cand(nc) = d2; nc += 1 }
            e += 1
          }
          q += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
        var c = 0
        while (c < nc) {
          val d2 = cand(c)
          for (ra <- rowOff(d) until rowOff(d + 1); rb <- rowOff(d2) until rowOff(d2 + 1)) {
            val (a, b) = (arrs(rows(ra)), arrs(rows(rb)))
            val bounded = t > 0 && distinctRow(rows(ra)) && distinctRow(rows(rb))
            val inter = if (bounded) boundedInterCount(a, b, t) else interCount(a, b)
            if (inter >= 0)
              out += ((docIds(d), docIds(d2), inter, a.length.toLong, b.length.toLong))
          }
          c += 1
        }
        out
      }
    }

    /** First index in post[from, to) holding a document > d. */
    private def upperBound(from: Int, to: Int, d: Int): Int = {
      var (lo, hi) = (from, to)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (post(mid) <= d) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Exact thresholded Jaccard pairs of the rows (ids(i), keys(i),
    * arrs(i)) that share a key — candidate index, candidates and exact
    * verify in ONE broadcast map. The driver builds a key → documents
    * postings index over the collected rows (O(elements)) and broadcasts
    * it with the sorted arrays; each task takes a work-sized slice of
    * id1s, unions the postings of id1's keys, keeps ids > id1 once each,
    * and scores every row pair of the two ids with [[interCount]]
    * ([[boundedInterCount]] when t > 0 and neither array repeats an
    * element). No candidate relation is ever joined, deduplicated,
    * pinned or repartitioned. Rows sharing an id pair with every row of
    * the other id, as the join path's two inner joins do. Output ≡
    * [[scoredPairs]] over the distinct key-sharing pairs (id1 < id2),
    * same schema and rounding; `arrs` must be sorted, and must fit the
    * [[fitsBroadcast]] bound. */
  private[graft] def indexedPairs(spark: org.apache.spark.sql.SparkSession,
                                  ids: Array[Long], keys: Array[Array[Int]],
                                  arrs: Array[Array[Long]], minJaccard: Double): DataFrame = {
    import spark.implicits._
    val rows = ids.indices.sortBy(ids(_)).toArray
    val docIdsB = scala.collection.mutable.ArrayBuilder.make[Long]
    val rowOffB = scala.collection.mutable.ArrayBuilder.make[Int]
    for (r <- rows.indices if r == 0 || ids(rows(r)) != ids(rows(r - 1))) {
      docIdsB += ids(rows(r)); rowOffB += r
    }
    rowOffB += rows.length
    val (docIds, rowOff) = (docIdsB.result(), rowOffB.result())
    val nDocs = docIds.length
    val nKeys = keys.iterator.flatMap(_.iterator).foldLeft(-1)(math.max) + 1
    // a document's keys: the union of its rows' keys, each once
    val seen = Array.fill(nKeys)(-1)
    val keyOff = new Array[Int](nDocs + 1)
    val docKeysB = scala.collection.mutable.ArrayBuilder.make[Int]
    var n = 0
    for (d <- 0 until nDocs) {
      for (r <- rowOff(d) until rowOff(d + 1); k <- keys(rows(r)) if seen(k) != d) {
        seen(k) = d; docKeysB += k; n += 1
      }
      keyOff(d + 1) = n
    }
    val docKeys = docKeysB.result()
    // postings: count per key, prefix-sum, fill in document order — so
    // every posting list is ascending
    val postOff = new Array[Int](nKeys + 1)
    docKeys.foreach(k => postOff(k + 1) += 1)
    for (k <- 0 until nKeys) postOff(k + 1) += postOff(k)
    val fill = postOff.clone()
    val post = new Array[Int](docKeys.length)
    for (d <- 0 until nDocs; q <- keyOff(d) until keyOff(d + 1)) {
      post(fill(docKeys(q))) = d; fill(docKeys(q)) += 1
    }
    // work-sized slices: a document's work is its postings (a bound on
    // its candidates) × its rows × the mean array length (merge steps
    // per pair); stepsPerTask each, at most defaultParallelism tasks
    val avgLen = math.max(1L, arrs.iterator.map(_.length.toLong).sum / math.max(1, arrs.length))
    val work = Array.tabulate(nDocs) { d =>
      (keyOff(d) until keyOff(d + 1)).iterator
        .map(q => (postOff(docKeys(q) + 1) - postOff(docKeys(q))).toLong).sum *
        (rowOff(d + 1) - rowOff(d)) * avgLen
    }
    val total = work.sum
    val p = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      total / stepsPerTask)).toInt
    val bounds = new Array[Int](p + 1)
    var (acc, s) = (0L, 1)
    for (d <- 0 until nDocs) {
      acc += work(d)
      while (s < p && acc * p >= total * s) { bounds(s) = d + 1; s += 1 }
    }
    while (s <= p) { bounds(s) = nDocs; s += 1 }
    val distinctRow = arrs.map(a => (1 until a.length).forall(i => a(i) != a(i - 1)))
    val bc = spark.sparkContext.broadcast(new PairIndex(docIds, rowOff, rows,
      keyOff, docKeys, postOff, post, arrs, distinctRow, bounds))
    thresholded(spark.range(0, p, 1, p).as[Long]
      .mapPartitions { it =>
        val ix = bc.value
        it.flatMap(s => ix.pairs(s.toInt, minJaccard))
      }
      .toDF("id1", "id2", "inter", "sz1", "sz2"), minJaccard)
  }

  /** Exact (inter, sz1, sz2) for each candidate pair against the
    * (id, sh_arr) sorted-array relation. ≤ `maxBroadcastDocs`: the arrays
    * are broadcast and verification is a narrow map over the pairs;
    * above: two shuffle joins ship each pair its arrays. Both paths run
    * `interCount`. */
  private[graft] def verifyCandidates(cand: DataFrame, arrs: ShingleArrays, idCol: String,
                                      maxBroadcastDocs: Long,
                                      maxBroadcastBytes: Long = 1L << 30,
                                      spreadVerify: Boolean = false): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    // the decision is (rows, BYTES), not rows alone: a row cap bounds
    // cardinality but not payload — 100k docs averaging 100k shingles
    // is ~80 GB "within budget" under a docs-only guard, then doubled
    // by toMap and broadcast: a driver OOM the cap existed to prevent.
    // Both totals were observed when the arrays were pinned; the collect
    // runs only when BOTH fit.
    val rel = arrs.df.select(col(idCol), col("sh_arr"))
    val fits = fitsBroadcast(arrs, maxBroadcastDocs, maxBroadcastBytes)
    val collected =
      if (!fits) Array.empty[(Long, Array[Long])]
      else rel.as[(Long, Array[Long])].collect()
    if (fits) {
      val bc = spark.sparkContext.broadcast(collected.toMap)
      // COST-BASED SPREAD (r15, VERDICT r14 #6 — supersedes the r14
      // rejected experiment): AQE coalesces this stage's input by BYTES
      // (4 MB of pairs → ~4 tasks at sf0.1) while its cost is CPU
      // (sorted-merge steps ∝ pairs × 2·avgArrLen — ~75% of
      // dedup_ngram_capped's executor time serialized into those 4
      // tasks). The r14 fix — blind round-robin repartition to
      // defaultParallelism(32) — lost to 32 × ~55 ms task overhead; the
      // cost model picks the partition count from the WORK instead:
      // the pair relation is pinned (one cheap barrier; pair count
      // rides the checkpoint via observe, free) and spread over
      // work / stepsPerTask (3M merge-steps per task), capped at
      // defaultParallelism. Small candidate sets compute p = 1 and pay
      // only the pin; opt-in (spreadVerify) so row-trivial callers
      // don't pay even that.
      val candSrc =
        if (!spreadVerify) cand
        else {
          val (pinned, nPairs) = Components.pinCounted(cand)
          val avgLen = if (arrs.docs > 0L) arrs.elems / arrs.docs else 0L
          val work = nPairs * 2L * math.max(avgLen, 1L)
          val p = math.max(1L, math.min(
            spark.sparkContext.defaultParallelism.toLong,
            work / stepsPerTask)).toInt
          if (p > 1) pinned.repartition(p) else pinned
        }
      candSrc.as[(Long, Long)].mapPartitions { it =>
        val data = bc.value
        // a candidate id absent from arrs (possible when candidates come
        // from a non-shingle source) is SKIPPED — the same behavior the
        // join path gets from its inner joins
        it.flatMap { case (id1, id2) =>
          (data.get(id1), data.get(id2)) match {
            case (Some(a), Some(b)) =>
              Some((id1, id2, interCount(a, b), a.length.toLong, b.length.toLong))
            case _ => None
          }
        }
      }.toDF("id1", "id2", "inter", "sz1", "sz2")
    } else {
      cand
        .join(rel.select(col(idCol).as("id1"), col("sh_arr").as("arr1")), "id1")
        .join(rel.select(col(idCol).as("id2"), col("sh_arr").as("arr2")), "id2")
        .select(col("id1"), col("id2"), col("arr1"), col("arr2"))
        .as[(Long, Long, Array[Long], Array[Long])]
        .mapPartitions { it =>
          it.map { case (id1, id2, a, b) =>
            (id1, id2, interCount(a, b), a.length.toLong, b.length.toLong)
          }
        }.toDF("id1", "id2", "inter", "sz1", "sz2")
    }
  }

  /** Row-local per-document quality statistics: (id, n_tokens, n_uniq,
    * n_stop, n_chars) in one narrow pass — the zero-shuffle form of
    * `explode(words).groupBy(id).agg(count, countDistinct, stopword
    * sum)`. Identical integers (split keeps empty tokens; n_stop counts
    * OCCURRENCES), so the quality formula computed on top matches the
    * exploded form bit-for-bit. `nCharsCol` is whatever the caller's
    * n_chars definition is (a stored column, or length(text)).
    * NULL handling mirrors the exploded form where it matters: a NULL
    * text (or NULL id) yields NO stats row — explode of a null word
    * array emits nothing — and a NULL n_chars flows through as a null
    * column, so the quality formula null-propagates identically. */
  def qualityStatsLocal(df: DataFrame, idCol: String, textCol: String,
                        nCharsCol: Column, stopwords: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stops = stopwords.toSet
    df.select(col(idCol).cast("long"), col(textCol).cast("string"),
        nCharsCol.cast("long"))
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String, Option[Long])]
      .mapPartitions { it =>
        it.map { case (id, text, nChars) =>
          val ws = text.split(" ", -1)
          val uniq = new java.util.HashSet[String]()
          var nStop = 0L
          var i = 0
          while (i < ws.length) {
            uniq.add(ws(i))
            if (stops(ws(i))) nStop += 1
            i += 1
          }
          (id, ws.length.toLong, uniq.size.toLong, nStop, nChars)
        }
      }
      .toDF(idCol, "n_tokens", "n_uniq", "n_stop", "n_chars")
  }

  /** Row-local per-document term counts: (id, word, tf) with one row per
    * DISTINCT word — the pre-aggregated form of
    * `explode(words).groupBy(id, word).count`. The explode+shuffle form
    * moves one row per TOKEN; this moves one row per distinct term
    * (~4× less here) and needs no first aggregation at all. Counts are
    * identical integers; split semantics match words() (single space,
    * empty tokens kept); a NULL text/id yields no rows, exactly like
    * explode of a null word array. */
  def termCountsLocal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val counts = new java.util.LinkedHashMap[String, Long]()
          text.split(" ", -1).foreach { w =>
            counts.merge(w, 1L, (a, b) => a + b)
          }
          val out = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)](counts.size)
          counts.forEach((w, c) => out += ((id, w, c)))
          out
        }
      }
      .toDF(idCol, "word", "tf")
  }

  /** Row-local MinHash signatures: per document, shingle → md5 base →
    * k affine min-hashes, one narrow map over the scan (no shingle
    * explode, no window sort, no groupBy). Documents with no shingles
    * (< n words) are dropped, like the groupBy form. Matches
    * `minhashSignatures ∘ shingles` exactly (PropertiesSpec). */
  def minhashSignaturesLocal(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, k: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fam = minhashFamily(k).toArray
    val sigs = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      // null ids cannot ride the non-nullable Long encoder — dirty rows
      // drop (the SimilarityOps convention); null text is handled by
      // minhashVector itself (None, like a too-short doc)
      .where(col(idCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          minhashVector(text, n, fam).map(mins => (id, mins))
        }
      }
    sigs.select(col("_1").as(idCol) +:
      (0 until k).map(j => col("_2")(j).as(s"h$j")): _*)
  }

  /** The per-document MinHash fold itself — fam.length affine hashes
    * over the n-shingle set's masked 60-bit md5 bases; None when the
    * document is too short to shingle. ONE implementation shared by
    * [[minhashSignaturesLocal]] (batch) and the streaming ingest
    * filter's signature key (streaming/Streams.scala), so the two dedup
    * arms cannot silently drift apart on the hash family, prime, mask,
    * or shingle width. */
  def minhashVector(text: String, n: Int,
                    fam: Array[(Long, Long)]): Option[Array[Long]] = {
    // null text has no fingerprint — None, the same answer as
    // too-short text. shingleSet would NPE, and one null row must not
    // kill a whole streaming query or signature job.
    if (text == null) return None
    val hashes = shingleHashes(text, n)
    if (hashes.isEmpty) None else Some(minhashFold(hashes, fam))
  }

  /** fam.length affine min-hashes over the masked 60-bit shingle
    * hashes — the fold [[minhashVector]] and
    * [[signedShingleArraysLocal]] share. */
  private[graft] def minhashFold(hashes: Array[Long],
                                 fam: Array[(Long, Long)]): Array[Long] = {
    val mins = Array.fill(fam.length)(Long.MaxValue)
    hashes.foreach { h0 =>
      val base = h0 & ((1L << 30) - 1)
      var j = 0
      while (j < fam.length) {
        val (a, b) = fam(j)
        val h = (a * base + b) % minhashPrime
        if (h < mins(j)) mins(j) = h
        j += 1
      }
    }
    mins
  }

  /** All-pairs Levenshtein over a SMALL string dimension as a
    * broadcast kernel (manual BroadcastExchange: collect once, broadcast,
    * partition the ids) — same rationale as
    * SimilarityOps.allPairsCosineLocal: the declarative self-join
    * materializes every joined row before the distance filter runs.
    * Emits only pairs with dist ≤ maxDist. Classic DP, identical
    * integers to Spark's levenshtein() and DuckDB's levenshtein().
    *
    * Guarded collect (the verifyCandidates pattern): one limit-guarded
    * job decides the path and fetches the payload; an input over
    * `maxCollectRows` never reaches the driver — it routes to the
    * distributed self-join over Spark's built-in levenshtein()
    * (identical integers), so misuse degrades to a slower shuffle
    * instead of a silent driver OOM. */
  def allPairsLevenshteinLocal(df: DataFrame, idCol: String, strCol: String,
                               maxDist: Int,
                               maxCollectRows: Long = 2000000L,
                               maxCollectBytes: Long = 1L << 30): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // dirty-row guard (file convention): a null string NPEs the DP loop
    // and a null id fails the Long encoder, while the distributed
    // fallback silently drops the same rows (levenshtein(null,·) → null
    // → filter) — behavior must not flip from drop to crash on size
    val clean = df.where(col(idCol).isNotNull && col(strCol).isNotNull)
    // (rows, BYTES) decision, like verifyCandidates: 2M strings of
    // unbounded length can dwarf the row cap
    val rel = clean.select(col(idCol).cast("long"), col(strCol).cast("string"))
    val dec = rel.agg(count(lit(1)),
      coalesce(sum(length(col(strCol)).cast("long")), lit(0L))).collect().head
    val fits = dec.getLong(0) <= maxCollectRows &&
      dec.getLong(1) * 2L <= maxCollectBytes
    val collected: Array[(Long, String)] =
      if (!fits) Array.empty else rel.as[(Long, String)].collect()
    if (!fits) {
      val s = clean.select(col(idCol).cast("long").as("pid"),
        col(strCol).cast("string").as("pstr"))
      return s.as("a").join(s.as("b"), col("a.pid") < col("b.pid"))
        .select(col("a.pid").as("id1"), col("b.pid").as("id2"),
          levenshtein(col("a.pstr"), col("b.pstr")).as("dist"))
        .filter(col("dist") <= maxDist)
        .withColumn("dist", col("dist").cast("int"))
    }
    val rows = collected.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(rows)
    // partition count sized to the WORK (n²/2 DP cells·pairs), not to
    // defaultParallelism: a 100-row short-set fanned over 32 tasks pays
    // 32 × (task launch + fresh-codegen warmup) ≈ 1.4 s executor time
    // for ~5k pairs of work (r14 StageProfile on q_er_resolve); one task
    // computes them in milliseconds. Large sets still clamp up to full
    // parallelism, so the 2M-row cap keeps its distribution.
    val pairsPerTask = 250000L
    val nParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (rows.length.toLong * rows.length / 2 + pairsPerTask - 1) / pairsPerTask)).toInt
    spark.range(rows.length).repartition(nParts)
      .as[Long]
      .mapPartitions { it =>
        val data = bc.value
        // CODE POINTS, not UTF-16 code units: Spark's levenshtein()
        // (UTF8String) and DuckDB both count code points, so a charAt
        // DP would score a surrogate-pair substitution as 2 and make
        // the broadcast path disagree with its own distributed fallback
        // on non-BMP input. Decoded once per partition, not per pair.
        val cps: Array[Array[Int]] = data.map(_._2.codePoints().toArray)
        def lev(a: Array[Int], b: Array[Int]): Int = {
          val m = a.length; val n = b.length
          var prev = Array.tabulate(n + 1)(identity)
          var cur = new Array[Int](n + 1)
          var i = 1
          while (i <= m) {
            cur(0) = i
            var j = 1
            while (j <= n) {
              val cost = if (a(i - 1) == b(j - 1)) 0 else 1
              cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
              j += 1
            }
            val t = prev; prev = cur; cur = t
            i += 1
          }
          prev(n)
        }
        it.flatMap { i0 =>
          val i = i0.toInt
          val id1 = data(i)._1
          val a = cps(i)
          (i + 1 until data.length).iterator.flatMap { j =>
            val d = lev(a, cps(j))
            if (d <= maxDist) Some((id1, data(j)._1, d)) else None
          }
        }
      }
      .toDF("id1", "id2", "dist")
      .withColumn("dist", col("dist").cast("int"))
  }

  /** 60-bit SimHash from word-occurrence md5 hashes: bit i is set iff the
    * (+1/−1) vote sum over all word occurrences is positive.
    * Declarative reference form — simhashLocal is the scale path. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol), explode(words(col(textCol))).as("word"))
      .withColumn("h", md5Long(col("word")))
    tokens
      .select(col(idCol), col("h"),
        explode(sequence(lit(0), lit(59))).as("i"))
      .withColumn("vote",
        expr("CAST(shiftright(h, CAST(i AS INT)) & 1 AS INT) * 2 - 1"))
      .groupBy(idCol, "i")
      .agg(sum(col("vote")).as("s"))
      .groupBy(idCol)
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))")).otherwise(lit(0L)))
        .as("simhash"))
  }
}
