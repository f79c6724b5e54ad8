package graft.queries

import graft.Tables
import graft.ops.Money
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Aggregation breadth (SURVEY.md §2.2 "Aggregations"): rollup/cube
  * grouping sets, argmax-by-window, exact + approximate distinct counts,
  * and numeric stats. All group-bys partial-aggregate map-side; rollup and
  * cube expand grouping sets BEFORE the shuffle, so the exchange carries
  * only (group keys × sets) — fine at any scale. */
object AggQueries extends QueryRegistry {

  private val rollup = NamedQuery(
    "q_rollup_lineitem",
    (spark, d) => Tables.lineitem(spark, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin))

  private val cube = NamedQuery(
    "q_cube_orders",
    (spark, d) => Tables.orders(spark, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Money.centsSum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
    Some(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  ${Money.centsSumSql("o_totalprice")} AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))

  // Top customer per nation — the argmax idiom again (same shape as the
  // reference's rating/quality argmax), deterministic via composite sort.
  private val argmax = NamedQuery(
    "q_argmax_customer",
    (spark, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      Tables.customer(spark, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey, c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) t
        |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin))

  private val distincts = NamedQuery(
    "q_distinct_counts",
    (spark, d) => Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  // HLL sketch — values are engine-specific, so the oracle checks the
  // EXACT distinct count and the query reports both plus the relative
  // error bound holding (boolean), which is engine-portable.
  private val approx = NamedQuery(
    "q_approx_distinct",
    (spark, d) => Tables.lineitem(spark, d)
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .select(col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * 0.1).as("approx_within_10pct")),
    Some("""SELECT count(DISTINCT l_orderkey) AS exact_orders,
        |  true AS approx_within_10pct FROM lineitem""".stripMargin))

  private val stats = NamedQuery(
    "q_stats_summary",
    (spark, d) => Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        Money.centsMean(col("l_extendedprice")).as("avg_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(expr("median(l_extendedprice)"), 4).as("med_price"))
      .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price,
        |  ${Money.centsMeanSql("l_extendedprice")} AS avg_price,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(median(l_extendedprice), 4) AS med_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  // Monthly revenue trend with MoM delta — aggregate-then-window: the
  // window runs over ~80 month rows, never over raw orders.
  private val trend = NamedQuery(
    "q_monthly_trend",
    (spark, d) => {
      val monthly = Tables.orders(spark, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(Money.centsSum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        // pinned: FOUR consumers below (both sides of the prevKey
        // self-join, the prev_revenue lookup, the output) — unpinned,
        // each re-runs the full orders scan + rollup
        .localCheckpoint()
      // WINDOW-FREE lag: the month rollup is domain-bounded (~80 rows),
      // so the "previous existing month" is two broadcast self-joins on
      // that tiny relation (argmax of earlier months, then its revenue)
      // — exact lag() semantics incl. gaps, and no single-partition
      // WindowExec anywhere in the suite's plans
      val prevKey = monthly.as("a")
        .join(broadcast(monthly.as("b")), col("b.ym") < col("a.ym"), "left")
        .groupBy(col("a.ym").as("ym"))
        .agg(max(col("b.ym")).as("prev_ym"))
      monthly
        .join(broadcast(prevKey), "ym")
        .join(broadcast(monthly.select(col("ym").as("prev_ym"),
          col("revenue").as("prev_revenue"))), Seq("prev_ym"), "left")
        .withColumn("mom_delta",
          round(col("revenue") - coalesce(col("prev_revenue"), col("revenue")), 2))
        .select("ym", "revenue", "n_orders", "prev_revenue", "mom_delta")
        .orderBy("ym")
    },
    Some(s"""SELECT ym, revenue, n_orders, prev_revenue,
        |  round(revenue - coalesce(prev_revenue, revenue), 2) AS mom_delta
        |FROM (
        |  SELECT ym, revenue, n_orders,
        |    lag(revenue, 1) OVER (ORDER BY ym) AS prev_revenue
        |  FROM (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
        |          ${Money.centsSumSql("o_totalprice")} AS revenue,
        |          count(*) AS n_orders
        |        FROM orders GROUP BY 1) m) t
        |ORDER BY ym""".stripMargin))

  // Calendar-spine densification: generate EVERY month between the data's
  // min and max (sequence + explode), left-join the sparse per-customer
  // aggregate onto it, and zero-fill the gaps — the dense series
  // downstream window math needs (a month with no orders must be a 0 row,
  // not a missing row). At scale the spine is a tiny generated relation
  // broadcast against the aggregate.
  private val spine = NamedQuery(
    "q_calendar_spine",
    (spark, d) => {
      // one orders scan feeds all three derivations (spine bounds, the
      // customer set, the per-month rollup): pin the filtered slice —
      // the tiny per-customer aggregate — instead of scanning orders 3×
      val slice = Tables.orders(spark, d)
        .filter(col("o_custkey") < 20)
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .localCheckpoint()
      val perMonth = slice
        .groupBy(col("o_custkey"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("ym"))
        .agg(Money.centsSum(col("o_totalprice")).as("revenue"))
      val bounds = Tables.orders(spark, d)
        .agg(date_trunc("month", min(col("o_orderdate"))).as("lo"),
          date_trunc("month", max(col("o_orderdate"))).as("hi"))
      val months = bounds
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 MONTH"))).as("m"))
        .select(date_format(col("m"), "yyyy-MM").as("ym"))
      val custs = slice.select(col("o_custkey")).distinct()
      custs.crossJoin(broadcast(months))
        .join(perMonth, Seq("o_custkey", "ym"), "left")
        .select(col("o_custkey"), col("ym"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"),
          col("revenue").isNull.as("gap_filled"))
        .orderBy("o_custkey", "ym")
    },
    Some(s"""WITH bounds AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi
        |  FROM orders),
        |months AS (
        |  SELECT strftime(m, '%Y-%m') AS ym
        |  FROM bounds, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) t(m)),
        |per_month AS (
        |  SELECT o_custkey, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
        |    ${Money.centsSumSql("o_totalprice")} AS revenue
        |  FROM orders WHERE o_custkey < 20 GROUP BY 1, 2),
        |custs AS (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey < 20)
        |SELECT c.o_custkey, m.ym,
        |  coalesce(p.revenue, 0.0) AS revenue,
        |  p.revenue IS NULL AS gap_filled
        |FROM custs c CROSS JOIN months m
        |LEFT JOIN per_month p ON p.o_custkey = c.o_custkey AND p.ym = m.ym
        |ORDER BY c.o_custkey, m.ym""".stripMargin))

  // Data-quality audit: the validation gate every ingest runs before
  // promoting a batch. ALL row-local rules are conditional sums in ONE
  // fact scan (adding a rule costs zero passes); only the referential
  // check (orphan lineitem → orders) needs a join — anti-join on the
  // natural key, broadcast-able when the key side is a dimension. The
  // output is the per-rule violation count relation a scheduler gates
  // on; rules that SHOULD be zero and a rule that fires (returned rows
  // still marked open) both appear, so the oracle pins firing and
  // non-firing paths.
  private val dqAudit = NamedQuery(
    "q_dq_audit",
    (spark, d) => {
      val li = Tables.lineitem(spark, d)
      val rowLocal = li.agg(
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
          .as("nonpositive_price"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("quantity_out_of_range"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("discount_out_of_range"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
          .as("null_shipdate"),
        sum(when(col("l_returnflag") === "R" && col("l_linestatus") === "O",
          1L).otherwise(0L)).as("returned_but_open"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("nonpositive_price"), col("quantity_out_of_range"),
            col("discount_out_of_range"), col("null_shipdate"),
            col("returned_but_open")),
          "rule", "n_violations")
      val orphans = li.select(col("l_orderkey"))
        .join(Tables.orders(spark, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orphan_lineitem").as("rule"), col("n_violations"))
      rowLocal.unionByName(orphans).orderBy("rule")
    },
    Some("""SELECT rule, n_violations FROM (
        |  SELECT 'nonpositive_price' AS rule,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations FROM lineitem
        |  UNION ALL SELECT 'quantity_out_of_range',
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lineitem
        |  UNION ALL SELECT 'discount_out_of_range',
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lineitem
        |  UNION ALL SELECT 'null_shipdate',
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lineitem
        |  UNION ALL SELECT 'returned_but_open',
        |    CAST(sum(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O'
        |             THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'orphan_lineitem',
        |    (SELECT count(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                       WHERE o.o_orderkey = l.l_orderkey))
        |) t ORDER BY rule""".stripMargin))

  // ---- Bounded value top-k inside an agg list: graft_topk, the SQL
  // alias for Spark's CollectTopK (functions/GraftFunctions.topkBuilder)
  // — per-nation 3 largest balances, carried as a bounded k-heap through
  // two-phase aggregation (map tasks ship ≤k values per group into the
  // shuffle, never the group itself), then exploded to rows for the
  // oracle compare. Values only — ties beyond the boundary are equal
  // values, so the array is deterministic under any merge order.
  private val topkAgg = NamedQuery(
    "q_topk_agg",
    (spark, d) => {
      graft.functions.GraftFunctions.register(spark)
      Tables.customer(spark, d)
        .groupBy(col("c_nationkey").as("nation"))
        .agg(expr("graft_topk(c_acctbal, 3)").as("arr"))
        .select(col("nation"), posexplode(col("arr")))
        .select(col("nation"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("bal"))
        .orderBy("nation", "pos")
    },
    Some("""WITH g AS (
        |  SELECT c_nationkey AS nation,
        |    (list(c_acctbal ORDER BY c_acctbal DESC))[1:3] AS arr
        |  FROM customer GROUP BY 1)
        |SELECT nation, CAST(generate_subscripts(arr, 1) AS BIGINT) AS pos,
        |  unnest(arr) AS bal
        |FROM g ORDER BY nation, pos""".stripMargin))

  // Incremental aggregate maintenance — the production incremental-ETL
  // shape: a materialized per-customer aggregate is REFRESHED by merging
  // a delta partition's partial aggregate into it, never by re-scanning
  // the base. Works because every kept statistic is algebraically
  // mergeable (count/sum add, min/max combine; avg is DERIVED from
  // sum÷count at read time, which is also why avg itself is never
  // materialized). At 100 TB the base relation costs nothing per
  // refresh — only the delta is aggregated, and the merge is a join
  // between two agg relations keyed the same way. The oracle is the full
  // recompute: merged == recomputed is exactly the invariant an
  // incremental pipeline must hold. Money in floor-cents (exact longs),
  // dates as strings.
  private val incrementalMerge = NamedQuery(
    "q_incremental_agg_merge",
    (spark, d) => {
      val split = "2000-01-01"
      def aggOf(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("o_custkey").as("cust"))
        .agg(count(lit(1)).as("n"),
          sum(Money.quantizeCents(col("o_totalprice"))).as("sum_cents"),
          max(col("o_orderdate")).as("last_dt"))
      val orders = Tables.orders(spark, d)
      val base = aggOf(orders.filter(col("o_orderdate") < lit(split).cast("timestamp_ntz")))
      val delta = aggOf(orders.filter(col("o_orderdate") >= lit(split).cast("timestamp_ntz")))
      base.as("b").join(delta.as("dl"), col("b.cust") === col("dl.cust"), "full_outer")
        .select(
          coalesce(col("b.cust"), col("dl.cust")).as("cust"),
          (coalesce(col("b.n"), lit(0L)) + coalesce(col("dl.n"), lit(0L))).as("n"),
          (coalesce(col("b.sum_cents"), lit(0L))
            + coalesce(col("dl.sum_cents"), lit(0L))).as("sum_cents"),
          date_format(greatest(col("b.last_dt"), col("dl.last_dt")),
            "yyyy-MM-dd").as("last_day"))
        // floor BEFORE the long cast: Spark's double→long cast truncates
        // but DuckDB's CAST rounds — floor() makes both sides identical
        .withColumn("avg_cents", floor(col("sum_cents") / col("n")).cast("long"))
        .orderBy("cust")
    },
    Some("""SELECT o_custkey AS cust, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  strftime(max(o_orderdate), '%Y-%m-%d') AS last_day,
        |  CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    / count(*)) AS BIGINT) AS avg_cents
        |FROM orders GROUP BY 1 ORDER BY cust""".stripMargin))

  val all: Seq[NamedQuery] =
    Seq(rollup, cube, argmax, distincts, approx, stats, trend, spine, dqAudit,
      topkAgg, incrementalMerge)
}
