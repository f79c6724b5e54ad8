package graft.queries

import graft.Tables
import graft.ops.SimilarityOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embedding column (north-star ops):
  * brute-force cosine top-k as the correctness baseline and an IVF
  * (inverted-file) variant as the scale path — coarse quantize to the
  * nearest centroid, probe the nprobe closest cells, rerank exactly.
  * At cluster scale the IVF assignment is a broadcast join against the
  * (tiny) centroid set and the candidate set per query shrinks by
  * ~n_cells/nprobe, turning O(n²) into O(n²·nprobe/cells). */
object SimilarityQueries extends QueryRegistry {

  private val topK = 5
  private val nProbe = 2

  private def vecs(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))

  // ---- Brute-force exact top-k for query vectors vec_id < 50.
  private val brute = NamedQuery(
    "sim_cosine_topk",
    (spark, d) => {
      val v = vecs(spark, d)
      val q = v.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("cosine"), col("neighbor_id"))
      q.crossJoin(v)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          SimilarityOps.cosineNative6(spark, col("qemb"), col("embedding")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= topK)
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
        .orderBy("query_id", "rnk")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.emb, v.emb), 6) AS cosine
        |  FROM v q CROSS JOIN v
        |  WHERE q.vec_id < 50 AND v.vec_id <> q.vec_id)
        |SELECT query_id, rnk, neighbor_id, cosine FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored) t
        |WHERE rnk <= $topK
        |ORDER BY query_id, rnk""".stripMargin))

  // ---- IVF: centroids = vec_id % centroidStride == 0 (deterministic coarse
  // quantizer); assign all vectors; probe nprobe cells per query; rerank.
  private val ivf = NamedQuery(
    "sim_ann_ivf",
    (spark, d) => {
      val v = vecs(spark, d)
      val stride =
        SimilarityOps.centroidStride(Tables.rowCount(spark, d, "embeddings"))
      val cent = v.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      def nearestCells(points: DataFrame, idCol: String, embCol: String, n: Int) = {
        val w = Window.partitionBy(col(idCol)).orderBy(desc("ccos"), col("cid"))
        points.crossJoin(broadcast(cent))
          .select(col(idCol), col("cid"),
            SimilarityOps.cosineNative6(spark, col(embCol), col("cemb")).as("ccos"))
          .withColumn("crn", row_number().over(w))
          .filter(col("crn") <= n)
          .select(col(idCol), col("cid"))
      }
      // n=1 over the full corpus → map-side max_by (no window sort of the
      // crossJoin); the n=nProbe window only runs over the 20 queries
      val assign = SimilarityOps.assignNearestCell(spark, v, "vec_id", "embedding", cent)
      val q = v.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
      val probes = nearestCells(
        q.select(col("query_id"), col("qemb")), "query_id", "qemb", nProbe)
      val cand = probes.join(assign, "cid")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .distinct()
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("cosine"), col("neighbor_id"))
      cand
        .join(q, "query_id")
        .join(v.select(col("vec_id").as("neighbor_id"), col("embedding").as("nemb")),
          "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          SimilarityOps.cosineNative6(spark, col("qemb"), col("nemb")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= topK)
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
        .orderBy("query_id", "rnk")
    },
    // streaming assign CTE (SimilarityOps.assignSqlCtes): the window
    // form spilled the 89M-row cross-join sort past the disk at sf10
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |${SimilarityOps.centroidSqlCte},
        |${SimilarityOps.assignSqlCtes},
        |probes AS (
        |  SELECT query_id, cid FROM (
        |    SELECT v.vec_id AS query_id, cent.cid, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY round(list_cosine_similarity(v.emb, cent.cemb), 6) DESC, cent.cid)
        |      AS crn
        |    FROM v CROSS JOIN cent WHERE v.vec_id < 20) t
        |  WHERE crn <= $nProbe),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        |  FROM probes p JOIN assign a USING (cid)
        |  WHERE a.vec_id <> p.query_id),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    round(list_cosine_similarity(qv.emb, nv.emb), 6) AS cosine
        |  FROM cand c
        |  JOIN v qv ON qv.vec_id = c.query_id
        |  JOIN v nv ON nv.vec_id = c.neighbor_id)
        |SELECT query_id, rnk, neighbor_id, cosine FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored) t
        |WHERE rnk <= $topK
        |ORDER BY query_id, rnk""".stripMargin))

  // ---- Label-centroid similarity: per-label mean vector, then each
  // label's nearest other label — a group-then-compare pattern (the
  // aggregation shrinks n vectors to 10 centroids before any pairwise
  // work, the canonical pre-aggregate-then-join scale move).
  private val labelCentroids = NamedQuery(
    "sim_label_centroids",
    (spark, d) => {
      val cent = Tables.embeddings(spark, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("label", "i")
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("pairs"))
        .select(col("label"), transform(col("pairs"), p => p.getField("m")).as("cemb"))
      val w = Window.partitionBy(col("l1")).orderBy(desc("cosine"), col("l2"))
      cent.as("a").join(cent.as("b"), col("a.label") =!= col("b.label"))
        .select(col("a.label").as("l1"), col("b.label").as("l2"),
          SimilarityOps.cosine6(col("a.cemb"), col("b.cemb")).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("l1"), col("l2").as("nearest_label"), col("cosine"))
        .orderBy("l1")
    },
    Some("""WITH e AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |m AS (SELECT label, i, avg(x) AS m FROM e GROUP BY label, i),
        |cent AS (SELECT label, list(m ORDER BY i) AS cemb FROM m GROUP BY label),
        |scored AS (
        |  SELECT a.label AS l1, b.label AS l2,
        |    round(list_cosine_similarity(a.cemb, b.cemb), 6) AS cosine
        |  FROM cent a JOIN cent b ON a.label <> b.label)
        |SELECT l1, l2 AS nearest_label, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l1 ORDER BY cosine DESC, l2) AS rnk
        |  FROM scored) t
        |WHERE rnk = 1 ORDER BY l1""".stripMargin))

  // ---- Same top-k through the engine's bounded-heap TopKPerGroup
  // operator (plans/TopKPerGroup): each map task keeps at most k rows
  // per query before the exchange, so the shuffle carries ≤ k·queries
  // rows per partition instead of every scored candidate, and the rank
  // window only sorts those k rows per query. Same total order (cosine
  // DESC with NaN first, neighbor_id tie-break) → same oracle as
  // sim_cosine_topk.
  private val bruteAgg = NamedQuery(
    "sim_cosine_topk_agg",
    (spark, d) => {
      val v = vecs(spark, d)
      val q = v.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
      val order = Seq(desc("cosine"), col("neighbor_id"))
      val scored = q.crossJoin(v)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          SimilarityOps.cosineNative6(spark, col("qemb"), col("embedding")).as("cosine"))
      val w = Window.partitionBy(col("query_id")).orderBy(order: _*)
      graft.plans.TopK.perGroup(scored, Seq("query_id"), order, topK)
        .withColumn("rnk", row_number().over(w))
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cosine"))
        .orderBy("query_id", "rnk")
    },
    brute.oracle)

  // ---- ANN quality harness: recall@k of the IVF index against the
  // exact brute-force ranking, per query and fully oracle-checked — the
  // evaluation loop every production ANN deployment runs before trading
  // recall for probe count. Both sides reuse the EXACT pipelines of
  // sim_cosine_topk / sim_ann_ivf (same fns, same tie-breaks), so this
  // measures the index, not a reimplementation. The recall join is a
  // left-semi on (query_id, neighbor_id) over two k·queries-row
  // relations — negligible at any corpus size.
  private val annRecall = NamedQuery(
    "sim_ann_recall",
    (spark, d) => {
      // pin: `exact` feeds BOTH the semi-join and the per-query k count —
      // without the checkpoint the O(n·queries) brute-force scoring
      // subtree plans twice, and exchange reuse is not reliable under
      // AQE (the Components.scala lesson: observed 2x cost per round)
      val exact = brute.fn(spark, d).filter(col("query_id") < 20)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
      val approx = ivf.fn(spark, d).select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("k"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("k"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / col("k"), 4)
            .as("recall"))
        .orderBy("query_id")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.emb, v.emb), 6) DESC, v.vec_id)
        |        AS rnk
        |    FROM v q CROSS JOIN v
        |    WHERE q.vec_id < 20 AND v.vec_id <> q.vec_id) t
        |  WHERE rnk <= $topK),
        |${SimilarityOps.centroidSqlCte},
        |${SimilarityOps.assignSqlCtes},
        |probes AS (
        |  SELECT query_id, cid FROM (
        |    SELECT v.vec_id AS query_id, cent.cid, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY round(list_cosine_similarity(v.emb, cent.cemb), 6) DESC, cent.cid)
        |      AS crn
        |    FROM v CROSS JOIN cent WHERE v.vec_id < 20) t
        |  WHERE crn <= $nProbe),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        |  FROM probes p JOIN assign a USING (cid)
        |  WHERE a.vec_id <> p.query_id),
        |scored AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    round(list_cosine_similarity(qv.emb, nv.emb), 6) AS cosine
        |  FROM cand c
        |  JOIN v qv ON qv.vec_id = c.query_id
        |  JOIN v nv ON nv.vec_id = c.neighbor_id),
        |approx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |    FROM scored) t
        |  WHERE rnk <= $topK)
        |SELECT e.query_id, cast(count(*) AS BIGINT) AS k,
        |  cast(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hits,
        |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
        |        / count(*), 4) AS recall
        |FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin))

  // Symmetric int8 quantization of the embedding column — the storage/
  // bandwidth move every large vector corpus makes (4 bytes → 1 byte per
  // dim). Rounding is floor(x·scale + 0.5), NOT round(): floor of a
  // double is bit-exact in both engines while round() half-way
  // tie-breaking diverges (COVERAGE.md determinism rule 2). Saturation
  // is structural: max|x|·scale = 127 exactly. Output pins per-vector
  // scale and quantized-lattice stats (sum/extremes/zero count) rather
  // than the raw int array, which exercises the full quantize math.
  private val quantize = NamedQuery(
    "q_embedding_quantize",
    (spark, d) => {
      val emb = transform(col("embedding"), x => x.cast("double"))
      val maxabs = array_max(transform(emb, x => abs(x)))
      val q = transform(col("emb"), x =>
        floor(x * (lit(127.0) / col("maxabs")) + lit(0.5)).cast("long"))
      // an ALL-ZERO vector has no scale (127/0 → Infinity, then
      // floor(0·Inf) = floor(NaN) — which Spark silently casts to 0
      // while DuckDB ERRORS casting NaN to BIGINT): the row survives
      // with NULL scale/stats, symmetric in both engines, instead of
      // crashing the oracle or emitting garbage codes
      Tables.embeddings(spark, d)
        .select(col("vec_id"), emb.as("emb"), maxabs.as("maxabs"))
        .select(col("vec_id"),
          when(col("maxabs") > 0, lit(127.0) / col("maxabs")).as("scale"),
          when(col("maxabs") > 0, q).as("q"))
        .select(col("vec_id"), col("scale"),
          when(col("q").isNotNull,
            aggregate(col("q"), lit(0L), (a, x) => a + x)).as("qsum"),
          array_max(col("q")).as("qmax"),
          array_min(col("q")).as("qmin"),
          when(col("q").isNotNull,
            size(filter(col("q"), x => x === 0L))).as("n_zero"))
        .orderBy("vec_id")
    },
    Some("""SELECT vec_id, scale,
        |  CAST(list_sum(q) AS BIGINT) AS qsum,
        |  list_max(q) AS qmax, list_min(q) AS qmin,
        |  CAST(len(list_filter(q, x -> x = 0)) AS INT) AS n_zero
        |FROM (
        |  SELECT vec_id,
        |    CASE WHEN maxabs > 0 THEN 127.0 / maxabs END AS scale,
        |    CASE WHEN maxabs > 0 THEN list_transform(emb,
        |      x -> CAST(floor(x * (127.0 / maxabs) + 0.5) AS BIGINT)) END AS q
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |          list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
        |        FROM embeddings) t) s
        |ORDER BY vec_id""".stripMargin))

  // ---- k-NN majority-vote classification: label a FIXED held-out
  // query set (vec_id % 100 = 1 below the 2000-id cap — ≤20 queries at
  // every sf) from its 5 nearest labeled neighbors — the
  // label-propagation / weak-supervision pattern over an embedding
  // corpus. The cap is the scale contract: a recall/labeling evaluation
  // needs a REPRESENTATIVE query set, not a corpus-proportional one, so
  // |q| is a constant and total work is |q|·N — linear in the corpus,
  // where the uncapped % 100 filter made it N²/100 (10 000× compute at
  // 100× data, a scale-killer by construction; round-9 verdict). At the
  // sf0.01 gate every vec_id is < 2000, so the capped query is
  // result-identical to the historical one. Vote argmax ties break on
  // the smaller label; neighbor rank ties on the smaller neighbor_id —
  // fully deterministic, so the oracle reproduces it exactly. Scale
  // shape: the query side broadcasts (now a bounded set by
  // construction, not a fraction), each side's norm is computed ONCE per
  // row BELOW the join (the hoisted-cosine kernel — a third of the
  // per-pair flops of the self-normalizing form, bit-identical results),
  // and the neighbor cut runs through the engine's TopKPerGroup
  // bounded-heap operator — each partition surrenders at most k rows per
  // query to the exchange, so the shuffle carries ≤ k·|queries|·
  // partitions rows, never the |q|·|train| scored matrix a row_number
  // window would sort and move wholesale. TopKPerGroup's ordering
  // contract (NaN-greatest, id tie-break) is pinned equivalent to the
  // window form by TopKSpec.
  private val knnClassify = NamedQuery(
    "sim_knn_classify",
    (spark, d) => {
      val v = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      // fixed query set: % 100 picks the held-out residue class, the
      // id cap pins |q| ≤ 20 at every corpus size (see header comment);
      // train is the exact complement so no row is silently dropped
      val isQuery = col("vec_id") % 100 === 1 && col("vec_id") < 2000
      val q = v.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb"),
          SimilarityOps.norm(col("embedding")).as("qnorm"))
      // the NOT(AND) complement pushes nothing on its own; the
      // semantically-implied IsNotNull (a null vec_id never survives
      // either branch) gives the parquet scan a pushable predicate
      // (PlanSweepSpec rule 4, the r9 pattern)
      val train = v.filter(col("vec_id").isNotNull && !isQuery)
        .select(col("vec_id"), col("embedding"), col("label"),
          SimilarityOps.norm(col("embedding")).as("tnorm"))
      val scored = broadcast(q).crossJoin(train)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
          SimilarityOps.cosineHoisted6(spark, col("qemb"), col("embedding"),
            col("qnorm"), col("tnorm")).as("cosine"))
      val neigh = graft.plans.TopK.perGroup(scored, Seq("query_id"),
        Seq(desc("cosine"), col("neighbor_id")), topK)
      val wV = Window.partitionBy(col("query_id"))
        .orderBy(desc("n_votes"), col("label"))
      neigh.groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("n_votes"),
          round(max(col("cosine")), 6).as("best_cosine"))
        .withColumn("vr", row_number().over(wV))
        .filter(col("vr") === 1)
        .select(col("query_id"), col("label").as("pred_label"),
          col("n_votes"), col("best_cosine"))
        .orderBy("query_id")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |           FROM embeddings),
        |neigh AS (
        |  SELECT query_id, neighbor_id, label, cosine, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM (
        |    SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id, t.label,
        |      round(list_cosine_similarity(q.emb, t.emb), 6) AS cosine
        |    FROM v q CROSS JOIN v t
        |    WHERE q.vec_id % 100 = 1 AND q.vec_id < 2000
        |      AND NOT (t.vec_id % 100 = 1 AND t.vec_id < 2000)) s),
        |votes AS (
        |  SELECT query_id, label, count(*) AS n_votes,
        |    round(max(cosine), 6) AS best_cosine
        |  FROM neigh WHERE rnk <= $topK
        |  GROUP BY query_id, label)
        |SELECT query_id, label AS pred_label, n_votes, best_cosine FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY n_votes DESC, label) AS vr
        |  FROM votes) t
        |WHERE vr = 1 ORDER BY query_id""".stripMargin))

  // ---- SRP binary codes (random-hyperplane simhash for embeddings,
  // Charikar STOC'02): 60 hyperplanes with md5-derived deterministic
  // components compress each 64-float vector to ONE 60-bit long; nearest
  // neighbors are then ranked by hamming distance over the codes
  // (P[bits agree] = 1 − θ/π, so hamming is a monotone estimator of
  // angular distance). This is the compress-then-rank ANN path: at
  // 100 TB the codes are 32× smaller than the vectors, the scan is one
  // linear pass, and the distance kernel is xor+popcount — no float math
  // touches the hot loop. Sibling of sim_ann_ivf (which prunes by
  // partitioning; this prunes by representation). The plane matrix is a
  // 3 840-row broadcast; signature build is one explode→join→two-level
  // aggregation, all map-side-combined. The dot products are
  // order-dependent sums → round(6) before the sign, per COVERAGE rule 2.
  private val srpHamming = NamedQuery(
    "sim_srp_hamming",
    (spark, d) => {
      val v = vecs(spark, d)
      // projections via the row-local kernel (one pass per vector, no
      // plane join); sign+pack stay relational so Spark's OWN round()
      // makes the sign decision — the oracle reproduces the projections
      // with the identical md5 plane derivation (SimilarityOps.srpPlane)
      val sig = SimilarityOps.srpDots(v, "vec_id", "embedding", nPlanes = 60)
        .select(col("vec_id"), posexplode(col("dots")))
        .select(col("vec_id"), col("pos").as("p"),
          round(col("col"), 6).as("dot"))
        .groupBy("vec_id")
        .agg(sum(when(col("dot") >= 0, expr("shiftleft(1L, p)"))
          .otherwise(lit(0L))).cast("long").as("code"))
        // read twice (query filter + ranking side): pin the codes or the
        // projection kernel and pack aggregation run twice over the corpus
        .localCheckpoint()
      val q = sig.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("code").as("qcode"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("neighbor_id"))
      broadcast(q).crossJoin(sig)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          bit_count(col("qcode").bitwiseXOR(col("code"))).as("hamming"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= topK)
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("hamming"))
        .orderBy("query_id", "rnk")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |planes AS (
        |  SELECT p, d,
        |    ('0x'||substr(md5('srp_'||p||'_'||d),1,15))::BIGINT
        |      / 1152921504606846976.0 * 2 - 1 AS u
        |  FROM generate_series(0,59) tp(p), generate_series(0,63) td(d)),
        |elems AS (
        |  SELECT vec_id, generate_subscripts(emb,1)-1 AS d, unnest(emb) AS e
        |  FROM v),
        |dots AS (
        |  SELECT vec_id, p, round(sum(e*u), 6) AS dot
        |  FROM elems JOIN planes USING (d) GROUP BY vec_id, p),
        |sig AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN 1::BIGINT << p ELSE 0 END)
        |      AS BIGINT) AS code
        |  FROM dots GROUP BY vec_id),
        |ranked AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(q.code, n.code)) AS INT) AS hamming,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY bit_count(xor(q.code, n.code)), n.vec_id) AS rnk
        |  FROM sig q JOIN sig n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20)
        |SELECT query_id, rnk, neighbor_id, hamming FROM ranked
        |WHERE rnk <= $topK
        |ORDER BY query_id, rnk""".stripMargin))

  // ---- kNN-graph construction (the primitive under SemDeDup-style
  // semantic clustering and graph-based ANN indexes): for EVERY vector,
  // its top-k most-cosine-similar neighbors — but never all-pairs. The
  // declared scale shape is TWO-LEVEL IVF-cell-blocked: every vector
  // assigns to its nearest deterministic coarse centroid (the
  // sim_ann_ivf quantizer, one mapPartitions kernel pass against the
  // broadcast centroid matrix), cells are then capped at
  // SimilarityOps.cellCap members by similarity-to-centroid banding
  // (bandCells — the second quantization level), the candidate set is
  // same-(cell, band) pairs, exact-cosine rerank runs on candidates
  // alone, and the per-vector top-k window partitions by vec_id (no
  // global sort). Neighbors in other cells/bands are invisible — that
  // recall trade-off IS the algorithm (pinned by the oracle, which
  // states the identical two-level blocking; the spec checks the graph
  // agrees with brute force for same-block true neighbors). At 100 TB:
  // one corpus exchange keyed on (cid, band), per-block work bounded by
  // the CONSTANT cellCap² — the pair stage is linear in the corpus, not
  // N^1.5 (the round-7 residual this banding removed, SCALE.md).
  private val knnGraph = NamedQuery(
    "sim_knn_graph",
    (spark, d) => {
      val v = vecs(spark, d)
      val stride =
        SimilarityOps.centroidStride(Tables.rowCount(spark, d, "embeddings"))
      val cent = v.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      val assign = SimilarityOps.bandCells(SimilarityOps
          .assignNearestCell(spark, v, "vec_id", "embedding", cent,
            carrySim = true))
        .select(col("vec_id"), col("cid"), col("band"))
        .localCheckpoint() // same-block self-join reads the assignment twice
      val cand = assign.as("a").join(assign.as("b"),
          col("a.cid") === col("b.cid") && col("a.band") === col("b.band") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"))
      val scored = cand
        .join(v.select(col("vec_id"), col("embedding").as("e1")), "vec_id")
        .join(v.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("e2")), "neighbor_id")
        .select(col("vec_id"), col("neighbor_id"),
          SimilarityOps.cosineNative6(spark, col("e1"), col("e2")).as("cosine"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(desc("cosine"), col("neighbor_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= topK)
        .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("cosine"))
        .orderBy("vec_id", "rnk")
    },
    // streaming assign CTE: the window form spilled past the disk at sf10
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |${SimilarityOps.centroidSqlCte},
        |${SimilarityOps.assignSqlCtes},
        |${SimilarityOps.bandSqlCte},
        |cand AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id
        |  FROM banded a JOIN banded b
        |    ON a.cid = b.cid AND a.band = b.band AND a.vec_id <> b.vec_id),
        |scored AS (
        |  SELECT c.vec_id, c.neighbor_id,
        |    round(list_cosine_similarity(v1.emb, v2.emb), 6) AS cosine
        |  FROM cand c
        |  JOIN v v1 ON c.vec_id = v1.vec_id
        |  JOIN v v2 ON c.neighbor_id = v2.vec_id)
        |SELECT vec_id, rnk, neighbor_id, cosine FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored) t
        |WHERE rnk <= $topK
        |ORDER BY vec_id, rnk""".stripMargin))

  // ---- Product quantization with asymmetric distance (Jégou et al.,
  // TPAMI'11, reduced to a deterministic codebook): the third classic
  // ANN tool beside IVF (partition pruning) and SRP (binary codes).
  // Each 64-dim vector splits into 4 subspaces of 16 dims; per subspace
  // a vector stores only the id of its nearest codebook centroid (the
  // same deterministic centroidStride quantizer the IVF path uses), so a
  // vector compresses to 4 small ints. Query-time ADC: the query
  // precomputes its distance to EVERY (centroid, subspace) cell — a
  // |queries|·|codebook|·4 broadcast-size table — and a neighbor's
  // distance is just the sum of 4 table lookups; the full vectors are
  // never touched after encoding. At 100 TB: codes are ~1/64 of vector
  // bytes, the lookup table is KBs, and the scan is a broadcast join +
  // sum — no float math against the corpus. Subspace distances are
  // order-dependent sums → round(6) before the argmin and again after
  // the 4-term ADC sum (COVERAGE rule 2); argmin ties break on
  // centroid id via the lexicographic struct-min, identical to the
  // oracle's row_number tie-break.
  private val pqAdc = NamedQuery(
    "sim_pq_adc",
    (spark, d) => {
      val v = vecs(spark, d)
      // PQ's codebook is FIXED-SIZE — a design constant, NOT a function
      // of the corpus (Jégou's 2^k entries/subspace; k=6 here → 6-bit
      // codes, the common small-codebook IVFPQ configuration). A
      // corpus-growing codebook turns the N×|codebook| encoding pass
      // super-linear — the sf1 headroom run measured the √N-centroid
      // variant at N^1.5 (SCALE.md). The 64 cap admits every centroid
      // at the fixture SFs (max vec_id ≪ 64·stride), so tested outputs
      // are unchanged; beyond N=4096 the codebook pins at 64 and the
      // encoding pass is LINEAR in the corpus.
      val stride =
        SimilarityOps.centroidStride(Tables.rowCount(spark, d, "embeddings"))
      val cent = v.filter(col("vec_id") % stride === 0 &&
          col("vec_id") < lit(64L) * stride)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      // encoding kernel: one primitive-loop pass per vector against the
      // broadcast codebook (SimilarityOps.subspaceL2); Spark's round()
      // then makes every comparison decision.
      // lexicographic struct-min = argmin(d2) with smallest-cid ties —
      // and because the partial aggregation fuses into the kernel's own
      // stage, the N×|codebook|×4 distance relation is never
      // materialized or shuffled: each task collapses its rows to one
      // per (vec, s) before the exchange. (The old form checkpointed
      // the full cross product to share it with the query lookup table;
      // the queries are 20 rows — they get their own kernel pass.)
      val codebook = SimilarityOps.collectCodebook(cent, "cid", "cemb")
      // fused encode: argmin inside the kernel, N x nSub code rows out —
      // the N x |codebook| distance relation never exists (see
      // SimilarityOps.pqEncodeLocal for the round/tie parity contract)
      val assign = SimilarityOps.pqEncodeLocal(v, "vec_id", "embedding",
        codebook, nSub = 4)
      val qd2 = SimilarityOps.subspaceL2(v.filter(col("vec_id") < 20),
          "vec_id", "embedding", codebook, nSub = 4)
        .select(col("vec_id").as("query_id"), col("cid"), col("s"),
          round(col("d2raw"), 6).as("d2"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc"), col("neighbor_id"))
      assign.join(broadcast(qd2), Seq("cid", "s"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(round(sum(col("d2")), 6).as("adc"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= topK)
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc"))
        .orderBy("query_id", "rnk")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, emb AS cemb FROM v,
        |    (SELECT greatest(100, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride
        |     FROM v) st
        |  WHERE vec_id % stride = 0 AND vec_id < 64 * stride),
        |ev AS (
        |  SELECT vec_id, generate_subscripts(emb,1)-1 AS d, unnest(emb) AS e
        |  FROM v),
        |ec AS (
        |  SELECT cid, generate_subscripts(cemb,1)-1 AS d, unnest(cemb) AS e
        |  FROM cent),
        |d2 AS (
        |  SELECT ev.vec_id, ec.cid, ev.d // 16 AS s,
        |    round(sum((ev.e - ec.e) * (ev.e - ec.e)), 6) AS d2
        |  FROM ev JOIN ec USING (d)
        |  GROUP BY ev.vec_id, ec.cid, ev.d // 16),
        |assign AS (
        |  SELECT vec_id, s, cid FROM (
        |    SELECT vec_id, s, cid,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        |    FROM d2) t
        |  WHERE rn = 1),
        |adc AS (
        |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
        |    round(sum(q.d2), 6) AS adc
        |  FROM assign a
        |  JOIN d2 q ON q.cid = a.cid AND q.s = a.s
        |  WHERE q.vec_id < 20 AND a.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, a.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, adc,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc, neighbor_id) AS rnk
        |  FROM adc)
        |SELECT query_id, rnk, neighbor_id, adc FROM ranked
        |WHERE rnk <= $topK
        |ORDER BY query_id, rnk""".stripMargin))

  // ---- K-means (Lloyd), 2 full fixed iterations, k=4, deterministic
  // init (the first k vectors) — the clustering step behind semantic
  // dedup and IVF-index training. Spark-first shape: the centroid set
  // is TINY (k×64 doubles) and broadcast, so ASSIGNMENT IS MAP-ONLY —
  // the squared distance is a higher-order left fold over
  // zip_with(emb, cemb) (index order, no explode, no shuffle) and the
  // argmin is a map-side-combinable min(struct(d2, cid)); the only
  // shuffles per iteration are the k×64-cell aggregations of the
  // UPDATE step (here an exploded (cid, dim) partial agg; at 100 TB a
  // mapPartitions fold of per-partition vector sums — the same
  // two-phase partial-agg plan with less explode traffic). Distances
  // and updated centroid means are round(6)-ed identically on both
  // engines so iteration 2 consumes identical inputs (avg/sum
  // reassociation, determinism rule 2); ties break on cid.
  private val kmeans = NamedQuery(
    "sim_kmeans",
    (spark, d) => {
      val k = 4
      val v = vecs(spark, d)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("emb"))
      val expl = v.select(col("vec_id"), posexplode(col("emb")).as(Seq("i", "x")))
      def assign(cent: DataFrame): DataFrame =
        v.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("cid"),
            round(aggregate(
              zip_with(col("emb"), col("cemb"), (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, z) => acc + z), 6).as("d2"))
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("cid"))).as("b"))
          .select(col("vec_id"), col("b.cid").as("cid"), col("b.d2").as("d2"))
      def update(asg: DataFrame): DataFrame =
        asg.select("vec_id", "cid").join(expl, "vec_id")
          .groupBy("cid", "i")
          .agg(round(avg(col("x")), 6).as("m"))
          .groupBy("cid")
          .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("p"))
          .select(col("cid"), transform(col("p"), p => p.getField("m")).as("cemb"))
      val cent0 = v.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val cent2 = update(assign(update(assign(cent0))))
      assign(cent2)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("d2")), 3).as("inertia"))
        .orderBy("cid")
    },
    Some("""WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT vec_id, generate_subscripts(emb, 1) AS i,
        |        unnest(emb) AS x FROM v),
        |c0 AS (SELECT vec_id AS cid, i, x AS m FROM e WHERE vec_id < 4),
        |d1 AS (SELECT e.vec_id, c.cid,
        |         round(sum((e.x - c.m) * (e.x - c.m)), 6) AS d2
        |       FROM e JOIN c0 c USING (i) GROUP BY e.vec_id, c.cid),
        |a1 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1) t
        |       WHERE rn = 1),
        |c1 AS (SELECT a.cid, e.i, round(avg(e.x), 6) AS m
        |       FROM a1 a JOIN e USING (vec_id) GROUP BY a.cid, e.i),
        |d2_ AS (SELECT e.vec_id, c.cid,
        |          round(sum((e.x - c.m) * (e.x - c.m)), 6) AS d2
        |        FROM e JOIN c1 c USING (i) GROUP BY e.vec_id, c.cid),
        |a2 AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2_) t
        |       WHERE rn = 1),
        |c2 AS (SELECT a.cid, e.i, round(avg(e.x), 6) AS m
        |       FROM a2 a JOIN e USING (vec_id) GROUP BY a.cid, e.i),
        |d3 AS (SELECT e.vec_id, c.cid,
        |         round(sum((e.x - c.m) * (e.x - c.m)), 6) AS d2
        |       FROM e JOIN c2 c USING (i) GROUP BY e.vec_id, c.cid),
        |a3 AS (SELECT vec_id, cid, d2 FROM (
        |         SELECT vec_id, cid, d2, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d3) t
        |       WHERE rn = 1)
        |SELECT cid, count(*) AS n_members, round(sum(d2), 3) AS inertia
        |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin))

  val all: Seq[NamedQuery] =
    Seq(brute, bruteAgg, ivf, annRecall, labelCentroids, quantize, knnClassify,
      srpHamming, knnGraph, pqAdc, kmeans)
}
