package graft

import graft.functions.GraftFunctions
import graft.ops.SimilarityOps
import org.apache.spark.sql.functions._

/** Native Catalyst expression contract: bit-identical to the composed
  * higher-order-function form, SQL-registered, and inside whole-stage
  * codegen (no eval fallback on the hot path). */
class FunctionsSpec extends SparkSpec {

  private lazy val v = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id"), col("embedding"))

  test("graft_cosine is bit-identical to the HOF composition on all pairs of first 40") {
    val pairs = v.filter(col("vec_id") < 40).as("a")
      .join(v.filter(col("vec_id") < 40).as("b"), col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
        SimilarityOps.cosine6(col("a.embedding"), col("b.embedding")).as("hof"),
        SimilarityOps.cosineNative6(spark, col("a.embedding"), col("b.embedding")).as("nat"))
      .filter(col("hof") =!= col("nat"))
      .count()
    assert(diff === 0)
  }

  test("norm-hoisted cosine (graft_dot / norms) is bit-identical to graft_cosine") {
    // the knn-classify hot path: norms computed once per row below the
    // join must reproduce the self-normalizing kernel EXACTLY — same
    // double promotion, same left-to-right sums, sqrt's merely hoisted
    val a = v.filter(col("vec_id") < 40)
      .select(col("vec_id"), col("embedding"), SimilarityOps.norm(col("embedding")).as("nrm"))
    val pairs = a.as("a").join(a.as("b"), col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
        SimilarityOps.cosineNative6(spark, col("a.embedding"), col("b.embedding")).as("nat"),
        SimilarityOps.cosineHoisted6(spark, col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("hoist"))
      .filter(col("nat") =!= col("hoist"))
      .count()
    assert(diff === 0)
  }

  test("graft_dot edge parity: unequal lengths and NULL elements yield NULL") {
    GraftFunctions.register(spark)
    val edge = spark.sql(
      """SELECT
        |  graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |            CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>)) AS uneq,
        |  graft_dot(CAST(array(1.0, NULL) AS ARRAY<FLOAT>),
        |            CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)) AS nullelem,
        |  graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |            CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS ok""".stripMargin)
      .collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getDouble(2) === 11.0)
  }

  test("graft_md5_60 is bit-identical to the composed conv(md5) form on real text") {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val diff = docs.select(
        graft.ops.TextOps.md5Long(col("w")).as("nat"),
        conv(substring(md5(col("w").cast("string")), 1, 15), 16, 10)
          .cast("long").as("composed"))
      .filter(col("nat") =!= col("composed"))
      .count()
    assert(diff === 0)
    // edge cases: empty string, unicode, null (null in -> null out)
    GraftFunctions.register(spark)
    val edge = spark.sql(
      "SELECT graft_md5_60('') AS a, graft_md5_60('héllo wörld') AS b, " +
        "graft_md5_60(CAST(NULL AS STRING)) AS c, " +
        "conv(substring(md5(''), 1, 15), 16, 10) AS a2, " +
        "conv(substring(md5('héllo wörld'), 1, 15), 16, 10) AS b2").collect().head
    assert(edge.getLong(0) === edge.getString(3).toLong)
    assert(edge.getLong(1) === edge.getString(4).toLong)
    assert(edge.isNullAt(2))
    // JVM kernel twin agrees too
    assert(graft.ops.TextOps.md5Long60("héllo wörld") === edge.getLong(1))
  }

  test("registered for SQL: usable from spark.sql text") {
    GraftFunctions.register(spark)
    v.limit(5).createOrReplaceTempView("fs_vecs")
    val self = spark.sql(
      "SELECT vec_id, round(graft_cosine(embedding, embedding), 6) AS c FROM fs_vecs")
      .collect().map(_.getDouble(1))
    assert(self.forall(_ === 1.0)) // unit vectors: self-cosine = 1
  }

  test("graft_jaccard matches the interCount kernel on real shingle arrays") {
    GraftFunctions.register(spark)
    val arrs = graft.ops.TextOps.shingleArraysLocal(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text", 3)
      .localCheckpoint()
    // expression vs JVM kernel over all pairs of the first 30 docs
    val docs = arrs.limit(30).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    arrs.limit(30).createOrReplaceTempView("fj_arrs")
    val got = spark.sql(
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  graft_jaccard(a.sh_arr, b.sh_arr) AS j
        |FROM fj_arrs a JOIN fj_arrs b ON a.doc_id < b.doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    got.foreach { case ((id1, id2), j) =>
      val a = docs.find(_._1 == id1).get._2
      val b = docs.find(_._1 == id2).get._2
      val inter = graft.ops.TextOps.interCount(a, b)
      assert(j === inter.toDouble / (a.length.toLong + b.length - inter),
        s"pair ($id1,$id2)")
      assert(j >= 0.0 && j <= 1.0)
    }
    // edge cases: self-similarity 1.0; NULL array; NULL element
    val self = spark.sql(
      "SELECT graft_jaccard(sh_arr, sh_arr) AS j FROM fj_arrs").collect()
    assert(self.forall(_.getDouble(0) === 1.0))
    val edge = spark.sql(
      """SELECT graft_jaccard(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS a,
        |  graft_jaccard(array(1L, NULL), array(1L)) AS b,
        |  graft_jaccard(array(1L, 2L), array(3L)) AS c""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getDouble(2) === 0.0)
    // duplicate elements: Σ min(cA,cB) multiset semantics keep [0,1]
    // (run-product counting would give 4/(2+2−4) = ∞ on the first)
    val dup = spark.sql(
      """SELECT graft_jaccard(array(1L, 1L), array(1L, 1L)) AS a,
        |  graft_jaccard(array(1L, 1L, 2L), array(1L, 2L)) AS b""".stripMargin)
      .collect().head
    assert(dup.getDouble(0) === 1.0)
    assert(dup.getDouble(1) === 2.0 / 3.0) // inter = min(2,1)+min(1,1) = 2
  }

  test("wrong arity is a clean analysis error, not IndexOutOfBounds") {
    GraftFunctions.register(spark)
    v.limit(1).createOrReplaceTempView("fs_arity")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_cosine(embedding) FROM fs_arity").collect()
    }
    assert(e.getMessage.contains("graft_cosine"))
  }

  test("edge parity with the composed form: unequal lengths and NULL elements yield NULL") {
    GraftFunctions.register(spark)
    // unequal-length arrays: zip_with null-pads → NULL; graft_cosine must
    // agree (it used to min-length truncate)
    val uneq = spark.sql(
      "SELECT graft_cosine(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), " +
        "CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>)) AS c")
      .collect().head
    assert(uneq.isNullAt(0))
    // a NULL element propagates (composed form: null through the lambda)
    val nullElem = spark.sql(
      "SELECT graft_cosine(CAST(array(1.0, NULL) AS ARRAY<FLOAT>), " +
        "CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)) AS c")
      .collect().head
    assert(nullElem.isNullAt(0))
    // equal-length non-null still computes
    val ok = spark.sql(
      "SELECT round(graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), " +
        "CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)), 6) AS c")
      .collect().head.getDouble(0)
    assert(ok === 1.0)
  }

  test("participates in whole-stage codegen (no CodegenFallback)") {
    val df = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(SimilarityOps.cosineNative6(spark,
        col("a.embedding"), col("b.embedding")).as("c"))
    assert(df.collect().length > 0)
    // the generated whole-stage source must contain the fused loop from
    // doGenCode (a CodegenFallback would instead call nullSafeEval
    // reflectively and none of this code would exist)
    import org.apache.spark.sql.execution.debug._
    val gen = codegenString(df.queryExecution.executedPlan)
    assert(gen.contains("Math.sqrt("))
    assert(gen.contains(".numElements()"))
    assert(!gen.contains("CodegenFallback"))
    // graft_jaccard too: its merge loop must appear in generated code
    GraftFunctions.register(spark)
    import spark.implicits._
    val arrs = Seq((1L, Array(1L, 2L, 3L)), (2L, Array(2L, 3L, 4L)))
      .toDF("id", "arr")
    arrs.createOrReplaceTempView("fj_cg")
    val jdf = spark.sql(
      "SELECT graft_jaccard(a.arr, b.arr) AS j FROM fj_cg a JOIN fj_cg b ON a.id < b.id")
    assert(jdf.collect().head.getDouble(0) === 0.5)
    val jgen = codegenString(jdf.queryExecution.executedPlan)
    assert(jgen.contains(".getLong(") && !jgen.contains("CodegenFallback"))
  }

  // ---- graft_topk: SQL alias for Spark's CollectTopK ----

  test("graft_topk equals sort-desc-take under forced partial merges") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // 32 partitions force map-side partials + serialize/merge on every key
    val rows = (1 to 5000).map(i => ((i % 7).toLong, (i * 2654435761L % 10007).toDouble))
    val df = rows.toDF("key", "v").repartition(32)
    df.createOrReplaceTempView("fs_topk")
    val got = spark.sql(
      "SELECT key, graft_topk(v, 5) AS arr FROM fs_topk GROUP BY key")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val want = rows.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sorted(Ordering[Double].reverse).take(5) }
    assert(got.keySet === want.keySet)
    want.foreach { case (k, vs) => assert(got(k) === vs, s"key $k") }
  }

  test("graft_topk skips nulls, handles k > group size, and works on strings") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("a", Some(3L)), ("a", None), ("a", Some(9L)), ("b", None))
      .toDF("g", "v").createOrReplaceTempView("fs_topk_n")
    val rows = spark.sql(
      "SELECT g, graft_topk(v, 4) AS arr FROM fs_topk_n GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1))
    assert(rows(0) === ("a" -> Seq(9L, 3L)), "nulls skipped, short group kept whole")
    assert(rows(1) === ("b" -> Seq.empty[Long]), "all-null group yields empty array")
    Seq("pear", "apple", "quince", "fig").toDF("s").createOrReplaceTempView("fs_topk_s")
    val top2 = spark.sql("SELECT graft_topk(s, 2) AS arr FROM fs_topk_s")
      .collect().head.getSeq[String](0)
    assert(top2 === Seq("quince", "pear"))
  }

  test("graft_topk rejects bad arity and non-literal k with analysis errors") {
    GraftFunctions.register(spark)
    spark.range(5).createOrReplaceTempView("fs_topk_e")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(id) FROM fs_topk_e").collect()
    }
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(id, id) FROM fs_topk_e").collect()
    }
    // arity is correct here, so the structured class must be a DATATYPE
    // error (not a repurposed WRONG_NUM_ARGS) — callers match on this
    assert(e.getCondition == "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT", e.getCondition)
  }

  test("graft_topk rejects k <= 0 at analysis, not with an executor assert") {
    GraftFunctions.register(spark)
    spark.range(5).createOrReplaceTempView("fs_topk_k")
    for (k <- Seq(0, -3)) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT graft_topk(id, $k) FROM fs_topk_k")
      }
      assert(e.getCondition == "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", e.getCondition)
    }
  }

  test("graft_topk retains owned copies of strings from a columnar parquet scan") {
    // parquet's vectorized reader hands out UTF8Strings backed by
    // batch-reused buffers; a heap that retains them uncopied returns
    // garbage once the scan crosses a batch boundary (>4096 rows here)
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    docs.createOrReplaceTempView("fs_docs_str")
    val got = spark.sql("SELECT graft_topk(text, 3) AS arr FROM fs_docs_str")
      .collect().head.getSeq[String](0)
    val want = docs.select("text").orderBy(desc("text")).limit(3)
      .collect().map(_.getString(0)).toSeq
    assert(got === want)
  }

  test("graft_topk composes in an agg list and partial-aggregates map-side") {
    GraftFunctions.register(spark)
    val c = Tables.customer(spark, "/root/testdata/sf0.001")
    c.createOrReplaceTempView("fs_cust")
    val df = spark.sql(
      """SELECT c_nationkey, graft_topk(c_acctbal, 3) AS top3,
        |  count(*) AS n FROM fs_cust GROUP BY c_nationkey""".stripMargin)
    // partial aggregation: plan carries two HashAggregate/ObjectHashAggregate
    // phases (partial_collect_top_k before the exchange)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_collect_top_k"), s"no map-side partial in:\n$plan")
    assert(df.count() === c.select("c_nationkey").distinct().count())
  }
}
