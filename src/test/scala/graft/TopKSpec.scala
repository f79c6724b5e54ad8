package graft

import graft.plans.{TopK, TopKPerGroupExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom whole-operator path (LogicalPlan + SparkStrategy +
  * SparkPlan): bounded-heap top-k per group must return EXACTLY the
  * window row_number()<=k rows under a total order, at any partition
  * count, without a WindowExec / full sort in the plan. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  // deterministic data with heavy ties: 10 groups × 1000 rows, score has
  // only 17 distinct values so the id tie-break matters everywhere
  private def data(parts: Int): DataFrame =
    spark.range(10000).repartition(parts)
      .select(col("id"),
        (col("id") % 10).as("g"),
        (col("id") * 37 % 17).cast("double").as("score"))

  private def windowForm(df: DataFrame, k: Int): Set[(Long, Long, Double)] = {
    val w = Window.partitionBy(col("g")).orderBy(desc("score"), col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("id", "g", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def customForm(df: DataFrame, k: Int): Set[(Long, Long, Double)] =
    TopK.perGroup(df, Seq("g"), Seq(desc("score"), col("id")), k)
      .select("id", "g", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("equivalence with the window form under heavy ties") {
    val df = data(8)
    for (k <- Seq(1, 3, 25)) {
      assert(customForm(df, k) === windowForm(df, k), s"k=$k")
    }
  }

  test("partition-count invariance (partial heaps merge correctly)") {
    val expected = customForm(data(1), 7)
    for (parts <- Seq(2, 13, 32)) {
      assert(customForm(data(parts), 7) === expected, s"parts=$parts")
    }
  }

  test("groups smaller than k emit all their rows") {
    val tiny = Seq((1L, 0L, 5.0), (2L, 0L, 4.0), (3L, 1L, 9.0))
      .toDF("id", "g", "score")
    assert(customForm(tiny, 10) ===
      Set((1L, 0L, 5.0), (2L, 0L, 4.0), (3L, 1L, 9.0)))
  }

  test("TopK.perGroup ranks a NaN score first, matching Spark SQL desc() semantics") {
    // Spark SQL's total order puts NaN above every double, so under
    // desc() a NaN score (a zero-norm embedding's cosine) ranks FIRST;
    // the operator's generated ordering must agree with the window form
    val rows = Seq((1L, 0L, 0.9), (2L, 0L, Double.NaN), (3L, 0L, 0.95), (4L, 0L, 0.1))
    val df = rows.toDF("id", "g", "score").repartition(2)
    for ((k, want) <- Seq(1 -> Set(2L), 2 -> Set(2L, 3L))) {
      val got = TopK.perGroup(df, Seq("g"), Seq(desc("score"), col("id")), k)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === want, s"k=$k")
      assert(windowForm(df, k).map(_._1) === got, s"k=$k")
    }
  }

  test("plan shape: partial+final custom exec, exchange between, no WindowExec") {
    val df = TopK.perGroup(data(8), Seq("g"), Seq(desc("score"), col("id")), 3)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val execs = plan.toString
    assert(execs.contains("TopKPerGroupPartial"), s"no partial exec in:\n$execs")
    assert(execs.contains("TopKPerGroup\n") || execs.contains("TopKPerGroup ") ||
      plan.collectWithSubqueries { case e: TopKPerGroupExec if !e.partial => e }.nonEmpty,
      s"no final exec in:\n$execs")
    assert(!execs.contains("Window"), s"WindowExec crept in:\n$execs")
    assert(execs.contains("Exchange"), s"no exchange between phases:\n$execs")
    // the final phase's memory-safety shape: a Spark-managed (spillable)
    // SortExec above the exchange feeds the streaming first-k pass — the
    // alternative (a hash-of-heaps final) holds every group of the
    // partition in an untracked map and OOMs at high cardinality
    assert(execs.contains("Sort"), s"no spillable sort above the exchange:\n$execs")
  }

  test("whole-stage codegen OFF: non-UnsafeRow child rows are normalized") {
    // with codegen disabled a columnar parquet scan feeds the partial
    // exec non-UnsafeRow InternalRows — the operator must not assume
    val saved = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val o = Tables.orders(spark, "/root/testdata/sf0.001")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      val got = graft.plans.TopK.perGroup(o, Seq("o_orderpriority"),
          Seq(desc("o_totalprice"), col("o_orderkey")), 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      val expected = o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === expected)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.codegen.wholeStage", v)
      case None => spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("partial-phase group-count fallback flushes without losing rows") {
    // force the memory fallback on every few groups: results stay exact
    // because the final phase re-reduces per group
    val saved = spark.conf.getOption("spark.graft.topk.maxGroupsInMemory")
    spark.conf.set("spark.graft.topk.maxGroupsInMemory", "2")
    try {
      // 500 groups per partition >> the 2-group bound → many flushes
      val df = spark.range(10000).repartition(4)
        .select(col("id"), (col("id") % 500).as("g"),
          (col("id") * 37 % 17).cast("double").as("score"))
      val w = Window.partitionBy(col("g")).orderBy(desc("score"), col("id"))
      val expected = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("id").collect().map(_.getLong(0)).toSet
      val got = TopK.perGroup(df, Seq("g"), Seq(desc("score"), col("id")), 3)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === expected)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.graft.topk.maxGroupsInMemory", v)
      case None => spark.conf.unset("spark.graft.topk.maxGroupsInMemory")
    }
  }

  test("randomized shapes: equivalence holds for random k, cardinality, skew") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val n = 500 + rnd.nextInt(3000)
      val nGroups = 1 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(8)
      val parts = 1 + rnd.nextInt(8)
      val rows = Seq.fill(n)((rnd.nextLong().abs % 100000,
        (rnd.nextInt(nGroups)).toLong, rnd.nextInt(5).toDouble))
      val df = rows.toDF("id", "g", "score").repartition(parts)
      val w = Window.partitionBy(col("g")).orderBy(desc("score"), col("id"))
      val expected = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select("id", "g").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = TopK.perGroup(df, Seq("g"), Seq(desc("score"), col("id")), k)
        .select("id", "g").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"trial $trial (n=$n groups=$nGroups k=$k parts=$parts)")
    }
  }

  test("float group keys: 0.0 and -0.0 (and NaN bit patterns) are ONE group, like the window form") {
    import spark.implicits._
    // four rows whose double group key is ±0.0 — the window form
    // normalizes and keeps k per single group; a byte-keyed grouping
    // without NormalizeFloatingNumbers would keep 2k rows in 2 groups
    val df = Seq(
      (1L, 0.0, 10.0), (2L, -0.0, 20.0), (3L, 0.0, 30.0), (4L, -0.0, 40.0),
      (5L, 1.5, 50.0))
      .toDF("id", "gkey", "score")
    val got = TopK.perGroup(df, Seq("gkey"), Seq(desc("score"), col("id")), 2)
      .select("id").collect().map(_.getLong(0)).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("gkey").orderBy(desc("score"), col("id"))
    val want = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(want === Set(3L, 4L, 5L), "window form sanity: ±0.0 is one group")
    assert(got === want, "custom operator must group ±0.0 together")
  }

  test("via SparkSessionExtensions: strategy is injected by GraftExtensions") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(e)
    // build a session-independent check: the strategy object plans the node
    val df = data(4)
    val analyzed = TopK.perGroup(df, Seq("g"), Seq(desc("score"), col("id")), 2)
    assert(analyzed.count() === 20) // 10 groups × k=2
  }
}
