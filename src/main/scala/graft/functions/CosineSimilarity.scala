package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: fused cosine similarity over two
  * ARRAY<FLOAT> columns.
  *
  * Why a custom Expression (SURVEY.md §7.4 preference order b): the
  * composable form `aggregate(zip_with(a,b,*),0,+) / (norm·norm)`
  * materializes THREE intermediate arrays per pair and walks the vectors
  * five times; inside an O(n²) candidate join that dominates the profile.
  * This expression is one fused loop, participates in whole-stage codegen
  * (doGenCode below), allocates nothing, and keeps the exact arithmetic
  * of the composed form (per-element double promotion, left-to-right
  * summation) so results — and the DuckDB oracle hashes — are bit-for-bit
  * unchanged. Edge semantics also mirror the composed
  * `aggregate(zip_with(a,b,*),...)` form: unequal-length arrays yield
  * NULL (zip_with pads with nulls → the sum is NULL), and a NULL element
  * on either side yields NULL (null propagates through the lambda). The
  * per-element null check is only emitted when the array type admits
  * nulls, so the common non-null hot loop is unchanged.
  *
  * Registered for SQL as `graft_cosine` via GraftFunctions.register. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def nullable: Boolean = true

  /** Per-element null checks are needed only when either array type can
    * contain nulls. Depends only on the static input types, so computed
    * once (lazy: children's dataType is not resolvable at construction). */
  private lazy val elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val checkNulls = elementsNullable
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session-level registration of the engine's native functions (usable
  * from spark.sql / expr after calling register). */
object GraftFunctions {
  /** Builder with an explicit arity check so SQL calling an engine
    * function with the wrong argument count gets a clean analysis error
    * instead of an IndexOutOfBoundsException. */
  private def binary(name: String,
                     mk: (Expression, Expression) => Expression): Seq[Expression] => Expression = {
    exprs =>
      if (exprs.length != 2)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> "2",
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      mk(exprs(0), exprs(1))
  }

  private def unary(name: String,
                    mk: Expression => Expression): Seq[Expression] => Expression = {
    exprs =>
      if (exprs.length != 1)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> "1",
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      mk(exprs(0))
  }

  val cosineBuilder: Seq[Expression] => Expression =
    binary("graft_cosine", CosineSimilarity.apply)
  val md5Long60Builder: Seq[Expression] => Expression =
    unary("graft_md5_60", Md5Long60.apply)
  val dotBuilder: Seq[Expression] => Expression =
    binary("graft_dot", DotProduct.apply)
  val jaccardBuilder: Seq[Expression] => Expression =
    binary("graft_jaccard", JaccardSimilarity.apply)

  /** graft_topk(col, k): the k LARGEST non-null values of the group as a
    * descending array. A SQL alias for Spark's own `CollectTopK`, which
    * Spark ships but does not name in SQL: a bounded k-heap carried
    * through two-phase aggregation, so map tasks ship ≤k values per
    * group into the shuffle whatever the group size. Row-shaped top-k
    * (keep the whole row) is plans/TopKPerGroup instead.
    *
    * k must be a foldable positive INT literal — it sizes the
    * aggregation buffer, so a per-row k is meaningless, and CollectTopK
    * only `assert`s k > 0, so a bad k is rejected here at analysis. The
    * analyzer wraps the returned AggregateFunction in an
    * AggregateExpression. */
  val topkBuilder: Seq[Expression] => Expression =
    binary("graft_topk", (child, kExpr) => {
      // arity here is CORRECT (two args) — a bad k is a data-type
      // problem, so the structured error is DATATYPE_MISMATCH (callers
      // matching on error class see the truthful category), not a
      // repurposed WRONG_NUM_ARGS with prose stuffed into its counts
      val sqlExpr = s"\"graft_topk(${child.sql}, ${kExpr.sql})\""
      val k = kExpr match {
        case e if e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType =>
          e.eval() match {
            case i: Integer => i.intValue()
            case _ => throw new org.apache.spark.sql.AnalysisException(
              errorClass = "DATATYPE_MISMATCH.UNEXPECTED_NULL",
              messageParameters = Map("sqlExpr" -> sqlExpr, "exprName" -> "`k`"))
          }
        case other => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
          messageParameters = Map(
            "sqlExpr" -> sqlExpr,
            "inputName" -> "`k`",
            "inputType" -> "\"INT\"",
            "inputExpr" -> s"\"${other.sql}\""))
      }
      if (k <= 0)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE",
          messageParameters = Map(
            "sqlExpr" -> sqlExpr,
            "exprName" -> "`k`",
            "valueRange" -> s"[1, ${Int.MaxValue}]",
            "currentValue" -> k.toString))
      new CollectTopK(child, k)
    })

  /** SINGLE source of truth for the engine's SQL function surface —
    * both registration paths (per-session [[register]] and the
    * spark.sql.extensions GraftExtensions) iterate this list, so a new
    * native function can never be reachable from one path and
    * UNRESOLVED_ROUTINE from the other (the drift the r9 review caught
    * when graft_dot/graft_md5_60 were missing from the extension). */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSimilarity], cosineBuilder),
    ("graft_dot", classOf[DotProduct], dotBuilder),
    ("graft_md5_60", classOf[Md5Long60], md5Long60Builder),
    ("graft_jaccard", classOf[JaccardSimilarity], jaccardBuilder),
    ("graft_topk", classOf[CollectTopK], topkBuilder))

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
