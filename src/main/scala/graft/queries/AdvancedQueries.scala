package graft.queries

import graft.Tables
import graft.ops.{Components, TextOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Round-4 surface growth: the operator families a production lakehouse
  * pipeline leans on that earlier rounds had not yet pinned —
  * CDC changelog compaction, sketch-prefiltered joins (Bloom), weighted
  * reservoir sampling, multi-dimensional clustering keys (Z-order),
  * sequential-fold analytics (EWMA), skyline/Pareto queries, interval
  * concurrency sweeps, and fixed-point iterative graph ranking
  * (PageRank). Every query keeps the engine's determinism contract
  * (COVERAGE.md §determinism): integer-cents money, md5-derived
  * randomness, ORDER BY with id tie-breaks, doubles emitted raw only
  * when both engines compute bit-identical sequences.
  */
object AdvancedQueries extends QueryRegistry {

  /** floor-to-cents: exact integer money, immune to double-sum order and
    * to the Spark-vs-DuckDB round() tie-break divergence. */
  private def cents(c: Column): Column = graft.ops.Money.quantizeCents(c)

  /** 2-D skyline (maximize both columns), grid-prefiltered so no window
    * ever runs unpartitioned: phase 1 hashes each point into one of 32
    * cells and computes a PER-CELL dominator prefilter (sorted by x
    * desc within the cell, a point strictly below the running max of y
    * has a strict in-cell dominator and cannot be in the skyline — the
    * window is partitioned by cell, so every partition sorts locally).
    * Survivors are a superset of the true skyline: every pruned point
    * has a strict dominator among the survivors (strict dominance is a
    * finite strict partial order, so the dominator chain ends at an
    * unpruned point). Phase 2 anti-joins the survivors against the
    * broadcast survivor set — exact because any global dominator of a
    * survivor is itself dominated only by survivors (transitivity).
    * Exercised on random point sets (incl. exact duplicates, which are
    * mutually non-dominating) by PropertiesSpec.
    *
    * GUARDED broadcast (r9 review): the per-cell prefilter prunes
    * nothing on anti-correlated data (within a cell sorted by x desc, y
    * rises monotonically, so the running-max test passes every point) —
    * and the 2-D skyline's OUTPUT is inherently O(n) in that worst case,
    * so no algorithm makes the broadcast bounded. The survivor count is
    * therefore checked first (one cheap count on the pinned survivors)
    * and an over-limit input FAILS FAST with the actual cause instead of
    * OOMing the driver mid-broadcast; a frontier that size means the
    * skyline is the wrong tool for the data, not a missing fallback. */
  private[graft] def skyline2d(pts: DataFrame, xCol: String, yCol: String,
                               maxSurvivors: Long = 2000000L): DataFrame = {
    val w = Window.partitionBy("skyline_cell").orderBy(desc(xCol), desc(yCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val surv = pts
      .withColumn("skyline_cell", pmod(hash(col(xCol), col(yCol)), lit(32)))
      .withColumn("pm", max(yCol).over(w))
      .filter(col("pm").isNull || col(yCol) >= col("pm"))
      .drop("pm")
      .localCheckpoint() // counted below, then read twice by the anti-join
    val nSurv = surv.count()
    require(nSurv <= maxSurvivors,
      s"skyline prefilter left $nSurv survivors (> $maxSurvivors): the " +
        s"candidate frontier would not broadcast — the data is too " +
        s"anti-correlated for a 2-D skyline of this size")
    val cand = surv.select(col(xCol).as("d_x"), col(yCol).as("d_y"))
    surv.join(broadcast(cand),
      col("d_x") >= col(xCol) && col("d_y") >= col(yCol) &&
        (col("d_x") > col(xCol) || col("d_y") > col(yCol)),
      "left_anti")
      .drop("skyline_cell")
  }

  /** Pointer-doubling ancestor rollup: `init` is (node, anc, dist) with
    * anc = parent (or self for roots) and dist = 1 (or 0 for roots);
    * every anc must itself be a node. Each round substitutes anc := anc's
    * anc and adds distances, so an h-deep forest converges in ⌈log₂ h⌉
    * rounds; convergence is detected by two consecutive equal dist sums
    * on the observe() channel (dist only grows). Returns the converged
    * (node, anc = root, dist = depth). */
  private[graft] def pointerDoubleRollup(init: DataFrame, maxIter: Int = 12): DataFrame = {
    var state = init.localCheckpoint()
    var prevSum: Option[Option[Any]] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val obs = org.apache.spark.sql.Observation(s"hier_round_${System.nanoTime()}")
      val next = state.as("a")
        .join(state.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node"),
          col("b.anc").as("anc"),
          (col("a.dist") + col("b.dist")).as("dist"))
        .observe(obs, sum(col("dist").cast("decimal(38,0)")).as("dist_sum"))
        .localCheckpoint()
      val cur = Option(obs.get("dist_sum"))
      converged = prevSum.contains(cur)
      prevSum = Some(cur)
      Components.freeCheckpoint(state)
      state = next
      iter += 1
    }
    require(converged, s"pointerDoubleRollup did not converge in $iter rounds")
    state
  }

  /** q_pagerank's directed edge relation: every pinned (a, b) pair in
    * both directions, from ONE scan of the pairs (the union-of-two-selects
    * formulation read the pairs twice). */
  private def bothDirections(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** q_pagerank under the broadcast threshold: the five iterations over
    * the collected (a, b) pairs, on the driver. Same node set, degrees,
    * damping, iteration count and rows as [[distributedPageRank]],
    * nulls included (a null node counts in n and receives rank but
    * passes none on, as it joins nothing); returns a local relation of
    * (node, round(rank, 8)). Frees `pairs`. */
  private def localPageRank(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    // the loop's node type: both ends widened to one type by the explode
    val nodeType = bothDirections(pairs).schema("src").dataType
    val rows = pairs.select(col("a").cast(nodeType), col("b").cast(nodeType)).collect()
    Components.freeCheckpoint(pairs)
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def node(v: Any): Int = index.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    val (src, dst) = (new Array[Int](2 * rows.length), new Array[Int](2 * rows.length))
    rows.indices.foreach { i =>
      val (a, b) = (node(rows(i).get(0)), node(rows(i).get(1)))
      src(2 * i) = a; dst(2 * i) = b
      src(2 * i + 1) = b; dst(2 * i + 1) = a
    }
    val deg = new Array[Long](ids.length)
    src.foreach(s => deg(s) += 1)
    val nullNode = index.getOrElse(null, -1)
    val n = ids.length.toDouble
    var rank = Array.fill(ids.length)(1.0 / n)
    var ranked = Array.fill(ids.length)(true)
    for (_ <- 1 to 5) {
      val sum = new Array[Double](ids.length)
      val reached = new Array[Boolean](ids.length)
      for (k <- src.indices) {
        val s = src(k)
        if (ranked(s) && s != nullNode) {
          sum(dst(k)) += rank(s) / deg(s)
          reached(dst(k)) = true
        }
      }
      rank = sum.map(x => 0.15 / n + 0.85 * x)
      ranked = reached
    }
    val out = new java.util.ArrayList[Row]()
    ids.indices.filter(ranked).foreach(i => out.add(Row(ids(i), rank(i))))
    spark.createDataFrame(out,
        StructType(Seq(StructField("node", nodeType), StructField("rank", DoubleType))))
      .select(col("node"), round(col("rank"), 8).as("rank"))
  }

  /** q_pagerank above the broadcast threshold: five iterations as a
    * distributed loop over the pinned (a, b) pairs; returns the pinned
    * (node, round(rank, 8)) relation. Frees `pairs`. */
  private def distributedPageRank(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    // degree attached by an UNORDERED window over src (one exchange; a
    // groupBy+join formulation costs three for the identical relation).
    //
    // The relation is pinned with localCheckpoint, NOT cache (r14
    // opt): all five iterations re-scan it, and the columnar
    // InMemoryRelation paid decompression + ColumnarToRow on every
    // scan through a FRESH codegen class per iteration — measured
    // 6.5–9.1 s executorRunTime per iteration-scan against 0.3–0.7 s
    // for the same scan over checkpoint-pinned UnsafeRows (eager scans
    // of the cached vs the checkpointed relation, sf0.1). The cache's one advantage
    // — preserving the src hash-partitioning — buys nothing here:
    // the per-round join broadcasts the (1 row/node) rank relation,
    // so the edge side is never shuffled either way, and the
    // groupBy(dst) reduction needs its own exchange regardless.
    val edges = bothDirections(pairs)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .localCheckpoint()
    Components.freeCheckpoint(pairs)
    val nodes = edges.select(col("src")).distinct()
    val n = nodes.count().toDouble
    // the five iterations stay LAZY — one deep plan where each round
    // is a join against the pinned edges plus a group-sum of the
    // (1 row/node) rank relation, executed as one AQE job. Round 5
    // measured the alternative (eager localCheckpoint per round) at
    // 7-32s on identical code: five driver-synchronized barrier jobs
    // amplify every GC pause / shared-VM hiccup into the query time.
    // One lazy job has one scheduling boundary, and only the FINAL
    // (small) rank relation is materialized — after which the
    // checkpoint can be freed before the caller consumes the result.
    //
    // SIZE-AWARE broadcast hint (r14): a checkpointed LogicalRDD has
    // no stats, so the INITIAL plan estimates the rank side huge and
    // plans shuffle joins; AQE converts them to broadcast at runtime
    // but only after the edge exchanges are already materialized —
    // StageProfile showed two full 108 MB checkpoint re-scans
    // shuffle-writing 1.17M rows that a statically-planned broadcast
    // join never performs. We KNOW the rank cardinality exactly (n,
    // one row per node), so hint broadcast iff n × 32 B clears the
    // session's own broadcast threshold — at a node count too big to
    // broadcast the hint vanishes and the planner's shuffle join
    // stands, so no OOM is forced at scale.
    val rankBroadcasts = Components.fitsBroadcast(spark, n.toLong)
    def rankSide(df: DataFrame) = if (rankBroadcasts) broadcast(df) else df
    // ABOVE-THRESHOLD posture (r15, VERDICT r14 #2-wrong): when the
    // rank relation cannot broadcast, the per-round join would
    // reshuffle the full 2E-row checkpoint every iteration (the shape
    // the old dst-partitioned cache existed to prevent). In that
    // regime the loop reads a src-partitioned columnar cache instead:
    // one extra edge shuffle up front, then every round moves only
    // the n-row rank relation. The cache's decompression-per-scan
    // cost (r14 lesson 1) is accepted here — it is per-round CPU,
    // small against the per-round 2E-row network reshuffle it
    // replaces. sf1 A/B with the threshold forced to 1 KB (hint
    // cannot fire): shipped form 5.80 s, partitioned pin 5.54 s warm.
    val loopEdges =
      if (rankBroadcasts) edges
      else edges.repartition(col("src")).cache()
    var pr = nodes.select(col("src").as("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to 5) {
      pr = loopEdges
        .join(rankSide(pr), loopEdges("src") === pr("node"))
        .groupBy(col("dst").as("node"))
        .agg((lit(0.15 / n) + lit(0.85) * sum(col("rank") / col("deg"))).as("rank"))
    }
    val out = pr.select(col("node"), round(col("rank"), 8).as("rank"))
      .localCheckpoint()
    if (loopEdges ne edges) loopEdges.unpersist(false)
    Components.freeCheckpoint(edges)
    out
  }

  /** Graph metrics over canonically-oriented (u < v) edges: node count,
    * edge count, and the wedge-close triangle count (each triangle
    * {a<b<c} found exactly once as (a,b)+(b,c)+(a,c)). */
  private[graft] def triangleStats(edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint()
    val nodes = edges.select(col("u").as("x"))
      .unionByName(edges.select(col("v").as("x"))).distinct()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .join(edges.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
    val out = nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .localCheckpoint()
    Components.freeCheckpoint(edges)
    out
  }

  // ---- CDC changelog apply (compaction): replay a keyed stream of
  // versioned I/U/D changes into final table state — the core of every
  // lakehouse MERGE/CDC sink (Debezium→Delta/Hudi/Iceberg shape). The
  // changelog is synthesized deterministically from orders: an insert for
  // every key, an update (+123.45) for keys ≡1 (mod 3), a delete for keys
  // ≡2 (mod 5). Compaction = arg-max-by-version per key, drop deletes —
  // ONE hash shuffle on the key (row_number over a key-partitioned
  // window); at 100 TB this is the same single shuffle, and since
  // changelog sinks are usually date-partitioned the window runs
  // per-partition with no global sort anywhere.
  private val cdcApply = NamedQuery(
    "q_cdc_apply",
    (spark, d) => {
      val o = Tables.orders(spark, d)
      val ins = o.select(col("o_orderkey").as("k"), lit("I").as("op"),
        lit(1L).as("version"), cents(col("o_totalprice")).as("price_cents"))
      val upd = o.filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          lit(2L).as("version"), (cents(col("o_totalprice")) + 12345L).as("price_cents"))
      val del = o.filter(col("o_orderkey") % 5 === 2)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(3L).as("version"), lit(0L).as("price_cents"))
      val w = Window.partitionBy("k").orderBy(desc("version"))
      ins.unionByName(upd).unionByName(del)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("k").as("o_orderkey"), col("op"), col("version"), col("price_cents"))
        .orderBy("o_orderkey")
    },
    Some("""WITH log AS (
        |  SELECT o_orderkey AS k, 'I' AS op, CAST(1 AS BIGINT) AS version,
        |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U', 2, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 12345
        |  FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 3, 0 FROM orders WHERE o_orderkey % 5 = 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY version DESC) AS rn
        |      FROM log)
        |SELECT k AS o_orderkey, op, version, price_cents
        |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin))

  // ---- Bloom-prefiltered decontamination: the 100 TB posture for
  // text_contamination. When the held-out gram set is too large to
  // broadcast as a JOIN relation (100M 8-byte keys ≈ GBs of hash table),
  // a Bloom filter at ~10 bits/key still broadcasts, and prefiltering
  // the corpus-side grams with it cuts the shuffled join input by the
  // corpus' true-negative rate (≈99% at fpp=0.01) BEFORE the exact
  // verify join. The final answer is EXACT — Bloom false positives are
  // killed by the equi-join — so the oracle is the plain exact SQL; the
  // sketch only moves bytes out of the shuffle. Built with
  // DataFrameStatFunctions.bloomFilter: one distributed treeAggregate
  // pass over the eval grams, no driver-side collect of the gram set.
  private val bloomDecontaminate = NamedQuery(
    "text_contamination_bloom",
    (spark, d) => {
      val docs = Tables.documents(spark, d)
      def grams(pred: Column) =
        TextOps.shinglesHashedLocal(docs.filter(pred), "doc_id", "text", 8)
          .select(col("doc_id"), col("shingle").as("g"))
      // materialized once: the gram set feeds the capacity count, the
      // bloomFilter treeAggregate, AND the exact verify join —
      // un-checkpointed the eval split would be shingled three times
      val evalGrams = grams(col("doc_id") % 10 === 0).select("g").distinct()
        .localCheckpoint()
      // capacity from the REAL cardinality (cheap count on the
      // checkpoint): a hardcoded guess saturates the filter past its
      // design size and the prefilter quietly stops filtering (fpp→1)
      val bloom = evalGrams.stat.bloomFilter("g",
        math.max(1000L, evalGrams.count()), 0.01)
      val bc = spark.sparkContext.broadcast(bloom)
      val mightContain = udf((g: Long) => bc.value.mightContainLong(g))
      val contaminated = grams(col("doc_id") % 10 =!= 0)
        .filter(mightContain(col("g"))) // sketch gate: kills ~99% pre-shuffle
        .join(evalGrams, "g")           // exact verify: kills the fp remainder
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 10 =!= 0)
        .join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("n_clean", col("n_docs") - col("n_contaminated"))
        .orderBy("lang")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g_s AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+7], ' ') AS gram
        |        FROM w, unnest(generate_series(1, len(words) - 7)) AS t(i)),
        |g AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g FROM g_s),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
        |cont AS (SELECT DISTINCT doc_id FROM g JOIN ev USING (g) WHERE doc_id % 10 <> 0)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
        |  CAST(count(*) - sum(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
        |FROM documents d LEFT JOIN cont c USING (doc_id)
        |WHERE d.doc_id % 10 <> 0
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin))

  // ---- Weighted sampling without replacement (Efraimidis–Spirakis
  // A-Res): priority = ln(u)/w with u an md5-derived uniform — taking
  // the top-k priorities draws a weighted sample WITHOUT replacement,
  // exactly reproducible on recompute (the data-mixing sampler when
  // "sample 1M docs proportional to quality score" must be re-runnable).
  // The top-k runs through the repo's own bounded-heap operator
  // (TopKPerGroup with a constant group): each mapper keeps k rows, the
  // exchange carries ≤ k rows per input partition, and NO global sort
  // ever materializes — the only window is the rank assignment over the
  // 20 surviving rows, partitioned on the constant group key. ln() is
  // evaluated per row on IDENTICAL doubles in both engines; selection
  // flips only if two rows' priorities collide within 1 ulp (≈1e-8
  // probability corpus-wide) — the ranks themselves carry an id
  // tie-break.
  private val weightedSample = NamedQuery(
    "q_weighted_sample",
    (spark, d) => {
      val u = TextOps.md5Long(col("o_orderkey")) / lit(1152921504606846976.0) // 2^60
      val scored = Tables.orders(spark, d)
        .withColumn("priority", log(u) / col("o_totalprice"))
        .withColumn("g", lit(0))
      val top = graft.plans.TopK.perGroup(scored, Seq("g"),
        Seq(col("priority").desc, col("o_orderkey").asc), 20)
      val w = Window.partitionBy("g").orderBy(desc("priority"), asc("o_orderkey"))
      top
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy("rank")
    },
    Some("""SELECT rank, o_orderkey, price_cents FROM (
        |  SELECT row_number() OVER (
        |      ORDER BY ln(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
        |                  / 1152921504606846976.0) / o_totalprice DESC,
        |        o_orderkey) AS rank,
        |    o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        |  FROM orders) t
        |WHERE rank <= 20 ORDER BY rank""".stripMargin))

  // ---- Z-order clustering key: interleave the bits of two dimensions
  // (customer mod 256 × day-of-year mod 256) into a 16-bit Morton code
  // and bucket the table by its high bits. Rows near in Z-value are near
  // in BOTH dimensions, so every bucket's per-dimension min/max spans
  // are narrow — which is exactly what makes parquet row-group min/max
  // stats prune multi-dimension predicates after a Z-order write
  // (Delta/Iceberg OPTIMIZE ZORDER BY). The emitted per-bucket spans ARE
  // the pruning statistics: a query box touches only buckets whose
  // spans intersect it. Pure bitwise arithmetic — bit-identical across
  // engines.
  private val zorder = NamedQuery(
    "q_zorder_cluster",
    (spark, d) => {
      val x = (col("o_custkey") % 256).cast("long")
      val y = (dayofyear(col("o_orderdate")) % 256).cast("long")
      val morton = (0 until 8).map { b =>
        shiftright(x, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)) +
          shiftright(y, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1))
      }.reduce(_ + _)
      Tables.orders(spark, d)
        .select(x.as("x"), y.as("y"), morton.as("z"))
        .withColumn("bucket", shiftright(col("z"), 10)) // 64 buckets of 1024 codes
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_lo"), max("x").as("x_hi"),
          min("y").as("y_lo"), max("y").as("y_hi"))
        .orderBy("bucket")
    },
    Some {
      val terms = (0 until 8).map { b =>
        s"((x >> $b) & 1) * ${1L << (2 * b)} + ((y >> $b) & 1) * ${1L << (2 * b + 1)}"
      }.mkString(" + ")
      s"""WITH pts AS (
         |  SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
         |         CAST(dayofyear(o_orderdate) % 256 AS BIGINT) AS y
         |  FROM orders),
         |z AS (SELECT x, y, ($terms) AS z FROM pts)
         |SELECT z >> 10 AS bucket, count(*) AS n,
         |  min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
    })

  // ---- EWMA (exponentially weighted moving average) of daily revenue:
  // the smoothing/anomaly-baseline primitive. EWMA is a RECURSION
  // (ewma_t = 0.8·ewma_{t-1} + 0.2·x_t), which window frames cannot
  // express with pow() weights without transcendental drift — instead
  // the ordered frame is collected and folded sequentially with
  // aggregate() (Spark) / list_reduce (DuckDB): the SAME left fold of
  // the SAME IEEE multiply-adds over the SAME integer-cents inputs, so
  // both engines produce bit-identical doubles and the output needs no
  // round(). The day count is bounded (one row per day), so the O(days²)
  // window-collect is trivia; at 100 TB the daily rollup before it is
  // the only big shuffle.
  private val ewma = NamedQuery(
    "q_ewma_daily",
    (spark, d) => {
      val daily = Tables.orders(spark, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      // WINDOW-FREE sequential fold: the EWMA recursion is inherently
      // sequential across ALL days, and the daily rollup is
      // domain-bounded (one row per day) — so the whole series is
      // gathered by ONE day-sorted collect_list aggregate (the intended
      // single reducer, no WindowExec) and each day's prefix is folded
      // back out after posexplode
      val series = daily
        .agg(array_sort(collect_list(struct(col("day"), col("rev_cents")))).as("xs"))
        .select(posexplode(col("xs")).as(Seq("i", "s")), col("xs"))
        .select(col("s.day").as("day"), col("s.rev_cents").as("rev_cents"),
          transform(slice(col("xs"), lit(1), col("i") + 1),
            e => e("rev_cents").cast("double")).as("vals"))
      series
        .withColumn("ewma",
          aggregate(slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
            element_at(col("vals"), 1),
            (acc, x) => acc * lit(0.8) + x * lit(0.2)))
        .select(col("day"), col("rev_cents"), col("ewma"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |seq AS (
        |  SELECT day, rev_cents,
        |    list(CAST(rev_cents AS DOUBLE))
        |      OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        |  FROM daily)
        |SELECT day, rev_cents,
        |  list_reduce(xs, (acc, x) -> acc * 0.8 + x * 0.2) AS ewma
        |FROM seq ORDER BY day""".stripMargin))

  // ---- Skyline (Pareto frontier): customers not dominated on (total
  // spend, order count). The scalable shape: one sort-order window pass
  // computes a CANDIDATE dominator set (sorted by spend desc, a point
  // below the running max of order-count is dominated by that argmax —
  // so survivors form a superset of the true skyline), then one
  // broadcast anti-join against that small set removes the dominated —
  // exact because domination is transitive, so every dominated point
  // has a dominator inside the candidate set. No O(n²) self-join ever
  // materializes at scale; the oracle states the NOT EXISTS definition
  // directly. Integer-cents spend keeps domination comparisons exact.
  private val skyline = NamedQuery(
    "q_skyline_pareto",
    (spark, d) => {
      val pts = Tables.orders(spark, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("spend_cents"),
          count(lit(1)).as("n_orders"))
      skyline2d(pts, "spend_cents", "n_orders")
        .orderBy(desc("spend_cents"), asc("o_custkey"))
    },
    Some("""WITH pts AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, spend_cents, n_orders FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.spend_cents >= p.spend_cents AND q.n_orders >= p.n_orders
        |    AND (q.spend_cents > p.spend_cents OR q.n_orders > p.n_orders))
        |ORDER BY spend_cents DESC, o_custkey""".stripMargin))

  // ---- Interval-overlap sweep: maximum concurrent 30-minute sessions
  // per day — the classic +1/−1 event-boundary prefix sum (room
  // scheduling, peak concurrency, resource sizing). Half-open [s, e)
  // semantics via the tie order (ends sort before starts at the same
  // instant, with zero-delta samples between them); the RANGE window
  // frame makes tied rows peers sharing one cumulative value, so the
  // prefix sum is permutation-proof. Each day also gets a ZERO-delta
  // midnight sample row: without it, a day whose peak is carried in
  // from intervals straddling midnight (starts at 23:50, no boundary
  // until the next morning) would under-report — the midnight sample
  // records the carried-in level in the day it belongs to. TWO-PHASE
  // prefix sum (the 100 TB shape — no global sort anywhere): the
  // running sum is computed per DAY (a partitioned window, each day
  // sorts locally), and each day's carried-in level is the sum of all
  // earlier days' deltas — a per-day aggregate (≤ one row per day)
  // whose strictly-earlier cumulation is a broadcast non-equi
  // self-join on that tiny relation. carry + local prefix = the
  // identical global prefix, because a day's rows are exactly the
  // global-order rows after every earlier day's.
  private val intervalOverlap = NamedQuery(
    "q_interval_overlap",
    (spark, d) => {
      val v = Tables.events(spark, d)
        .filter(col("event_type") === "view")
        .select(col("ts"))
      val boundaries = v.select(col("ts").as("t"), lit(1).as("delta"))
        .unionByName(v.select((col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
          lit(-1).as("delta")))
      val midnights = boundaries
        .select(date_trunc("day", col("t")).as("t"), lit(0).as("delta"))
        .distinct()
      val deltas = boundaries.unionByName(midnights)
        .withColumn("day0", date_trunc("day", col("t")))
      val wDay = Window.partitionBy("day0")
        .orderBy(col("t"), col("delta")) // RANGE frame: peers share the sum
      val daySums = deltas.groupBy(col("day0").as("dd"))
        .agg(sum(col("delta")).as("dsum"))
      val carry = daySums.as("a")
        .join(broadcast(daySums.as("b")), col("b.dd") < col("a.dd"), "left")
        .groupBy(col("a.dd").as("day0"))
        .agg(coalesce(sum(col("b.dsum")), lit(0L)).as("carry"))
      deltas
        .withColumn("c_local", sum("delta").over(wDay))
        .join(broadcast(carry), "day0")
        .withColumn("c", col("carry") + col("c_local"))
        .groupBy(date_format(col("day0"), "yyyy-MM-dd").as("day"))
        .agg(max("c").as("max_concurrent"),
          sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_starts"))
        .orderBy("day")
    },
    Some("""WITH s AS (SELECT ts FROM events WHERE event_type = 'view'),
        |b AS (
        |  SELECT ts AS t, 1 AS delta FROM s
        |  UNION ALL
        |  SELECT ts + INTERVAL 30 MINUTE, -1 FROM s),
        |deltas AS (
        |  SELECT t, delta FROM b
        |  UNION ALL
        |  SELECT DISTINCT date_trunc('day', t), 0 FROM b),
        |sweep AS (
        |  SELECT t, delta, sum(delta) OVER (ORDER BY t, delta) AS c FROM deltas)
        |SELECT strftime(t, '%Y-%m-%d') AS day,
        |  CAST(max(c) AS BIGINT) AS max_concurrent,
        |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
        |FROM sweep GROUP BY 1 ORDER BY day""".stripMargin))

  // ---- PageRank, 5 fixed iterations (damping 0.85) over the
  // supplier↔customer trade graph (distinct lineitem⋈orders pairs,
  // symmetrized; suppliers offset by 1e6 into a shared id space). The
  // canonical iterative-relational workload; the fixed iteration count
  // makes the result an exact relational fixed point the oracle replays
  // with a recursive CTE. The distinct pairs are pinned ONCE, their
  // count observed on the pin, and that count picks the engine:
  //  - under the broadcast threshold (pairs × 32 B, the graph family's
  //    row estimate; Components.fitsBroadcast) the pairs are collected
  //    and the five iterations run on the driver (localPageRank), with
  //    degrees counted in the same pass — a local relation comes back,
  //    and the query runs no per-round jobs or generated classes;
  //  - above it, the distributed loop (distributedPageRank): each
  //    iteration is one edge⋈rank join + one group-sum over an edge
  //    relation pinned once and reused by all five iterations (only the
  //    small rank relation moves per round, the
  //    Components.connectedComponents posture).
  // Per-node incoming sums are order-unspecified in both engines →
  // round(8) on ranks ~1e-3 absorbs the ~1e-15 reassociation drift.
  private val pagerank = NamedQuery(
    "q_pagerank",
    (spark, d) => {
      val (pairs, nPairs) = Components.pinCounted(Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") + 1000000L).as("a"), col("o_custkey").as("b"))
        .distinct())
      val ranks =
        if (Components.fitsBroadcast(spark, nPairs)) localPageRank(pairs)
        else distributedPageRank(pairs)
      ranks.orderBy("node")
    },
    Some("""WITH RECURSIVE
        |edges AS (
        |  SELECT DISTINCT l_suppkey + 1000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
        |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
        |pr(iter, node, rank) AS (
        |  SELECT 0, src, 1.0::DOUBLE / (SELECT n FROM n) FROM deg
        |  UNION ALL
        |  SELECT p.iter + 1, s.dst,
        |    0.15::DOUBLE / (SELECT n FROM n) + 0.85::DOUBLE * sum(p.rank / g.deg)
        |  FROM pr p JOIN sym s ON p.node = s.src JOIN deg g ON g.src = p.node
        |  WHERE p.iter < 5
        |  GROUP BY p.iter, s.dst)
        |SELECT node, round(rank, 8) AS rank FROM pr WHERE iter = 5
        |ORDER BY node""".stripMargin))

  // ---- Hierarchy rollup (org chart / BOM ancestry): every node's root
  // and depth in a forest given as a parent pointer (here synthesized:
  // parent(c) = c/10, roots 0..9 — custkeys are contiguous so every
  // parent exists). The relational form of recursive-CTE traversal,
  // which Spark lacks: POINTER DOUBLING on (node, anc, dist) — each
  // round replaces anc by anc's anc and adds the distances, so chains
  // halve and an h-deep hierarchy resolves in ⌈log₂ h⌉ self-joins, not
  // h (the difference between 4 rounds and 40 on a deep BOM).
  // Convergence rides observe() on sum(dist) exactly like
  // Components.connectedComponents: dist only grows, two equal sums =
  // every pointer reached its root, no separate probe job.
  private val hierarchy = NamedQuery(
    "q_hierarchy_rollup",
    (spark, d) => {
      val init = Tables.customer(spark, d)
        .select(col("c_custkey").as("node"),
          when(col("c_custkey") >= 10, (col("c_custkey") / 10).cast("long"))
            .otherwise(col("c_custkey")).as("anc"),
          when(col("c_custkey") >= 10, lit(1)).otherwise(lit(0)).as("dist"))
      pointerDoubleRollup(init)
        .select(col("node"), col("anc").as("root"), col("dist").as("depth"))
        .orderBy("node")
    },
    Some("""WITH RECURSIVE chain(node, anc, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT node, anc // 10, depth + 1 FROM chain WHERE anc >= 10),
        |final AS (
        |  SELECT node, anc AS root, depth,
        |    row_number() OVER (PARTITION BY node ORDER BY depth DESC) AS rn
        |  FROM chain)
        |SELECT node, root, depth FROM final WHERE rn = 1 ORDER BY node""".stripMargin))

  /** Co-purchase graph: distinct part pairs appearing in the same order
    * (high-quantity lines only, to keep the demo graph an interesting
    * size), canonically oriented u < v. Shared by the two graph-metric
    * queries below. */
  private[queries] def copurchaseEdges(spark: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(spark, d)
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    items.as("a")
      .join(items.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  private[queries] val copurchaseCte =
    """items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |  FROM lineitem WHERE l_quantity >= 48),
      |edges AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p)""".stripMargin

  // ---- Triangle count: the clustering-coefficient primitive. Edges are
  // canonically ordered (u < v), so each triangle {a<b<c} is counted
  // exactly once by the two-join wedge-close (e1=(a,b), e2=(b,c),
  // e3=(a,c)). At 100 TB the orientation key becomes (degree, id)
  // instead of raw id — listing every edge under its LOWER-DEGREE
  // endpoint bounds the wedge fan-out per node and gives the O(m^1.5)
  // bound; same plan shape, different sort key. The edge relation is
  // checkpointed once and read by all three legs.
  private val triangles = NamedQuery(
    "q_triangle_count",
    (spark, d) => triangleStats(copurchaseEdges(spark, d)),
    Some(s"""WITH $copurchaseCte
        |SELECT
        |  (SELECT count(*) FROM (SELECT u FROM edges UNION SELECT v FROM edges)) AS n_nodes,
        |  (SELECT count(*) FROM edges) AS n_edges,
        |  (SELECT count(*) FROM edges e1
        |     JOIN edges e2 ON e1.v = e2.u
        |     JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin))

  // ---- Degree distribution of the same graph — the first diagnostic
  // run on any graph (skew detection: a power-law tail tells you which
  // joins need the salting/orientation treatments). One union + two
  // partial-aggregated shuffles.
  private val degreeHist = NamedQuery(
    "q_degree_histogram",
    (spark, d) => {
      val edges = copurchaseEdges(spark, d)
      edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },
    Some(s"""WITH $copurchaseCte,
        |deg AS (
        |  SELECT node, count(*) AS degree FROM (
        |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) t
        |  GROUP BY node)
        |SELECT degree, count(*) AS n_nodes FROM deg
        |GROUP BY degree ORDER BY degree""".stripMargin))

  // ---- Snapshot diff / reconciliation: classify every key across two
  // table snapshots as added / removed / changed / unchanged by
  // comparing row CONTENT HASHES, never row contents — the anti-entropy
  // check between a source table and its replicated/lakehouse copy.
  // The two snapshots derive deterministically from orders (the "old"
  // snapshot is missing keys ≡0 mod 7, the "new" one dropped keys ≡0
  // mod 11 and re-priced keys ≡0 mod 5). Scale shape: each side
  // reduces to (key, md5(content)) BEFORE the full-outer join, so the
  // shuffle carries two narrow columns per row regardless of how wide
  // the table is; the classification is a map over the joined pairs
  // and the report is a 4-row aggregate. At 100 TB both sides
  // partition on the key, so the join co-locates; a bucketed layout
  // (BucketingSpec) removes even that exchange.
  private val tableDiff = NamedQuery(
    "q_table_diff",
    (spark, d) => {
      val base = Tables.orders(spark, d).select(col("o_orderkey").as("k"),
        cents(col("o_totalprice")).as("price_cents"),
        col("o_orderstatus").as("status"))
      val oldSnap = base.filter(pmod(col("k"), lit(7)) =!= 0)
      val newSnap = base.filter(pmod(col("k"), lit(11)) =!= 0)
        .withColumn("price_cents",
          when(pmod(col("k"), lit(5)) === 0, col("price_cents") + 100L)
            .otherwise(col("price_cents")))
      def hashed(s: DataFrame, as: String) = s.select(col("k"),
        md5(concat_ws("|", col("price_cents"), col("status"))).as(as))
      hashed(oldSnap, "h_old")
        .join(hashed(newSnap, "h_new"), Seq("k"), "full_outer")
        .select(when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("change_type"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("change_type")
    },
    Some("""WITH base AS (SELECT o_orderkey AS k,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
        |  o_orderstatus AS status FROM orders),
        |olds AS (SELECT k, md5(concat_ws('|', price_cents, status)) AS h_old
        |  FROM base WHERE k % 7 <> 0),
        |news AS (SELECT k,
        |  md5(concat_ws('|',
        |    CASE WHEN k % 5 = 0 THEN price_cents + 100 ELSE price_cents END,
        |    status)) AS h_new
        |  FROM base WHERE k % 11 <> 0)
        |SELECT change_type, count(*) AS n_keys FROM (
        |  SELECT CASE WHEN h_old IS NULL THEN 'added'
        |              WHEN h_new IS NULL THEN 'removed'
        |              WHEN h_old <> h_new THEN 'changed'
        |              ELSE 'unchanged' END AS change_type
        |  FROM olds FULL OUTER JOIN news USING (k)) t
        |GROUP BY change_type ORDER BY change_type""".stripMargin))

  // ---- Binned range join: assign each order to a price tier given by
  // IRREGULAR, non-overlapping [lo, hi) boundaries (cut points
  // harvested from the data — every 997th orderkey's price). The naive
  // tier lookup is a theta-join (BroadcastNestedLoop at best, O(n·m));
  // the scale technique COMPILES the range predicate into an equi-join:
  // each tier is exploded onto the fixed-width integer bins it covers,
  // each fact row computes its bin with one division, the join runs
  // hash-partitioned on the bin, and the exact [lo, hi) residual
  // filters after the match. Non-overlapping tiers → at most one
  // surviving match per fact row. Bin width W trades dimension
  // expansion ((hi−lo)/W rows per tier) against residual selectivity.
  // The oracle states the range join directly — identical answer.
  private val rangeBinJoin = NamedQuery(
    "q_range_bin_join",
    (spark, d) => {
      val W = 5000000L // $50k bins over a ~$1k..$500k price domain
      val priceCents = cents(col("o_totalprice"))
      // the cut set is BOUNDED BY CONSTRUCTION, not by a fixed modulus:
      // a fixed 1/997 sample is a corpus FRACTION (the r9 review's
      // fraction fallacy — at 1e11 orders that is 1e8 "tiny" rows whose
      // broadcast self-join evaluates 1e16 pairs). The stride scales
      // with the table (the SimilarityOps.centroidStride pattern), so
      // |cuts| ≲ 1000 at ANY size and the window-free consecutive-cut
      // pairing below (hi = min cut above lo; tier = #cuts ≤ lo —
      // broadcast self-joins, no single-partition WindowExec) stays a
      // genuinely driver-sized O(|cuts|²) ≤ 1e6.
      val nOrders = Tables.orders(spark, d).count()
      val stride = math.max(997L, nOrders / 1000L + 1L)
      val cuts = Tables.orders(spark, d)
        .filter(pmod(col("o_orderkey"), lit(stride)) === 0)
        .filter(col("o_totalprice").isNotNull) // pushable twin: null
        // prices never join (their bins are null) — see fact below
        .select(priceCents.as("c")).distinct()
      val bounds = cuts.as("a")
        .join(broadcast(cuts.as("b")), col("b.c") > col("a.c"))
        .groupBy(col("a.c").as("lo")).agg(min(col("b.c")).as("hi"))
      val tiers = bounds
        .join(broadcast(cuts.as("r")), col("r.c") <= col("lo"))
        .groupBy("lo", "hi").agg(count(lit(1)).as("tier"))
        .select(col("tier"), col("lo"), col("hi"))
      val binnedTiers = tiers
        .withColumn("bin",
          explode(sequence(floor(col("lo") / W).cast("long"),
            floor((col("hi") - 1) / W).cast("long"))))
      val fact = Tables.orders(spark, d)
        // pushable twin of the equi-join's inferred floor(pc/W) IS NOT
        // NULL (a null price has a null bin and never matches): without
        // it the scan pushes nothing (PlanSweepSpec check 4)
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderkey"), priceCents.as("pc"))
        .withColumn("bin", floor(col("pc") / W).cast("long"))
      // broadcast: the exploded tier dim stays tiny here; with a large
      // tier table the same plan runs as a shuffled hash join on `bin`
      fact.join(broadcast(binnedTiers), Seq("bin"))
        .filter(col("pc") >= col("lo") && col("pc") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_orders"), sum(col("pc")).as("sum_cents"))
        .orderBy("tier")
    },
    Some("""WITH stride AS (
        |  SELECT greatest(997, count(*) // 1000 + 1) AS s FROM orders),
        |cuts AS (
        |  SELECT DISTINCT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % (SELECT s FROM stride) = 0),
        |tiers AS (SELECT row_number() OVER (ORDER BY c) AS tier, c AS lo,
        |  lead(c, 1) OVER (ORDER BY c) AS hi FROM cuts),
        |t AS (SELECT tier, lo, hi FROM tiers WHERE hi IS NOT NULL),
        |f AS (SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc FROM orders)
        |SELECT tier, count(*) AS n_orders, CAST(sum(pc) AS BIGINT) AS sum_cents
        |FROM f JOIN t ON f.pc >= t.lo AND f.pc < t.hi
        |GROUP BY tier ORDER BY tier""".stripMargin))

  // Market-basket association rules (support / confidence / lift) — the
  // classic co-occurrence miner, here over order baskets of parts. Scale
  // shape: ONE shuffle of the (order, item) relation builds sorted
  // basket arrays (collect_set dedups in-aggregation); candidate pairs
  // expand row-locally via codegen Generate nodes — O(Σ|basket|²)
  // fan-out with |basket| bounded by order width (≤13 here), keyed by
  // the ORDER, so no skew can follow the hottest ITEM. Item supports
  // ride the same basket relation; the pair→support join is a
  // broadcast (rules above min-support are few by construction).
  // Confidence/lift are single IEEE divisions over exact integer
  // counts, written identically both engines → emitted raw.
  private val assocRules = NamedQuery(
    "q_assoc_rules",
    (spark, d) => {
      val minSupp = 3
      // r15 (VERDICT r14 #3/#4): baskets are SORTED ARRAYS again — ONE
      // full shuffle of the (order, item) relation (collect_set dedups
      // inside the aggregation, so no separate distinct exchange), where
      // the r14 flat self-join shipped the relation TWICE (the distinct
      // exchange keyed (o,p) plus the SHUFFLE_HASH self-join exchange
      // keyed o — the committed +50-87% shuffle-byte growth the r14
      // verdict flagged as the at-scale risk). The pair expansion is
      // posexplode + explode(slice(...)) — two codegen Generate nodes,
      // NOT the r13 nested transform/flatten HOF chain that measured
      // 2.3 s of non-codegen expression time. Sorted arrays make the
      // slice emit exactly the item_a < item_b pairs the self-join
      // produced; |basket| ≤ order width (≤13) bounds the per-row
      // fan-out, and the expansion key is the ORDER, so a hot ITEM
      // still never concentrates a partition. sf1 A/B: flat self-join
      // 6.2-6.9 s warm, this form 3.2-3.8 s (0.55×) — the byte
      // reduction compounds with scale exactly as §2.3 predicts.
      // Checkpointed: read by the pair expansion, the item supports,
      // and the basket count.
      val b0 = Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy(col("o"))
        .agg(sort_array(collect_set(col("p"))).as("items"))
        .localCheckpoint()
      val nBaskets = b0.agg(count(lit(1)).as("n_baskets"))
      val itemSupp = b0
        .select(explode(col("items")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("supp"))
      val pairs = b0
        .select(posexplode(col("items")).as(Seq("i", "item_a")), col("items"))
        .select(col("item_a"),
          explode(slice(col("items"), col("i") + lit(2),
            greatest(size(col("items")) - col("i") - 1, lit(0)))).as("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("supp_ab"))
        .filter(col("supp_ab") >= minSupp)
      pairs
        .join(broadcast(itemSupp.select(col("item").as("item_a"),
          col("supp").as("supp_a"))), "item_a")
        .join(broadcast(itemSupp.select(col("item").as("item_b"),
          col("supp").as("supp_b"))), "item_b")
        .crossJoin(broadcast(nBaskets))
        .select(col("item_a"), col("item_b"), col("supp_ab"),
          (col("supp_ab").cast("double") / col("supp_a")).as("conf_ab"),
          (col("supp_ab").cast("double") / col("supp_b")).as("conf_ba"),
          (col("supp_ab").cast("double") * col("n_baskets")
            / (col("supp_a") * col("supp_b"))).as("lift"))
        .orderBy(desc("lift"), col("item_a"), col("item_b"))
    },
    Some("""WITH b AS (SELECT l_orderkey,
        |         list_sort(list(DISTINCT l_partkey)) AS items
        |       FROM lineitem GROUP BY 1),
        |n AS (SELECT count(*) AS n_baskets FROM b),
        |it AS (SELECT item, count(*) AS supp
        |       FROM (SELECT unnest(items) AS item FROM b) t GROUP BY 1),
        |p AS (SELECT items[i] AS item_a, items[j] AS item_b,
        |         count(*) AS supp_ab
        |      FROM b,
        |        unnest(generate_series(1, len(items))) AS t(i),
        |        unnest(generate_series(1, len(items))) AS u(j)
        |      WHERE j > i GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT item_a, item_b, supp_ab,
        |  CAST(supp_ab AS DOUBLE) / sa.supp AS conf_ab,
        |  CAST(supp_ab AS DOUBLE) / sb.supp AS conf_ba,
        |  CAST(supp_ab AS DOUBLE) * n.n_baskets / (sa.supp * sb.supp) AS lift
        |FROM p
        |JOIN it sa ON p.item_a = sa.item
        |JOIN it sb ON p.item_b = sb.item
        |CROSS JOIN n
        |ORDER BY lift DESC, item_a, item_b""".stripMargin))

  // ---- Interval×interval overlap join where BOTH sides are fact-sized
  // (q_range_bin_join compiles point-in-range; this compiles
  // range-meets-range): each customer's orders carry a 7-day fulfillment
  // window [orderdate, +7d), and the query counts same-customer pairs of
  // overlapping windows (the double-booking audit). The naive form is a
  // theta-self-join; the scale form explodes each interval onto the
  // ≤2 fixed 7-day bins it touches and equi-joins on (cust, bin). The
  // classic duplicate problem (a pair overlapping in several shared
  // bins counts once per bin) is solved WITHOUT a distinct: a pair is
  // counted only in the later interval's start bin — overlap guarantees
  // the earlier interval also covers that day, so exactly one joined
  // bin row satisfies `bin = greatest(start_bin_a, start_bin_b)`.
  // One exchange keyed (cust, bin), partial-aggregated rollup on the
  // customer — no quadratic blowup beyond genuine per-bin co-residency.
  private val intervalJoin = NamedQuery(
    "q_interval_join",
    (spark, d) => {
      val o = Tables.orders(spark, d).select(col("o_custkey").as("cust"),
        col("o_orderkey").as("k"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("s"))
        .withColumn("e", col("s") + 7)
      graft.ops.Intervals.overlapPairs(o, "cust", "k", "s", "e", 7L)
        .groupBy("cust")
        .agg(count(lit(1)).cast("bigint").as("n_pairs"))
        .orderBy("cust")
    },
    Some("""WITH o AS (SELECT o_custkey AS cust, o_orderkey AS k,
        |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS s,
        |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 7 AS e
        |  FROM orders)
        |SELECT a.cust, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM o a JOIN o b ON a.cust = b.cust AND a.k < b.k
        |  AND a.s < b.e AND b.s < a.e
        |GROUP BY a.cust ORDER BY a.cust""".stripMargin))

  val all: Seq[NamedQuery] = Seq(cdcApply, bloomDecontaminate, weightedSample,
    zorder, ewma, skyline, intervalOverlap, pagerank, hierarchy,
    triangles, degreeHist, tableDiff, rangeBinJoin, assocRules,
    intervalJoin)
}
