package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Domain optimizer rule (SURVEY.md §7.4 tier (c)): rewrite
  * `sigmoid(clip(x)) >= t` filters into logit space, `x >= ln(t/(1−t))`.
  *
  * A relational threshold filter over long-format scores (the shape of
  * appV2.py:86-97 that the test-side relational tagging reference
  * builds; the engine's own tagger selects row-locally in
  * Tagging.SelectionProgram) compares a clipped sigmoid against a
  * constant. The sigmoid is strictly increasing and the clip is monotone, so for
  * σ(−30) < t < σ(30) the comparison is equivalent to a bare comparison
  * on the raw logit — no exp() per row, and column pruning can then drop
  * the prob computation from the filter branch altogether. On a 100 TB
  * score table the threshold filter touches every exploded row, so
  * removing the transcendental from it matters.
  *
  * Numerical note: the rewrite moves the rounding point (σ computed in
  * double vs. logit constant computed once). A logit within 1 ulp of the
  * threshold can flip sides. That is why the rule ships as an OPT-IN
  * extension (spark.sql.extensions=graft.plans.GraftExtensions or
  * spark.experimental.extraOptimizations) rather than being fused into
  * the oracle-verified query definitions.
  *
  * Matches only the exact clippedSigmoid shape the engine emits
  * (Tagging.clippedSigmoid): 1.0 / (1.0 + exp(-greatest(least(x, 30),
  * -30))).
  */
object SigmoidThresholdRewrite extends Rule[LogicalPlan] {

  private val ClipHi = 30.0
  private val ClipLo = -30.0

  /** Extract x from the engine's clipped-sigmoid expression tree —
    * either the bare Divide form or the NaN-propagating
    * `when(isnan(x), x).otherwise(σ)` wrapper Tagging.clippedSigmoid
    * emits (reference parity, appV2.py:174). The rewrite stays exact
    * for the wrapper under Spark's NaN-greatest ordering: a NaN prob
    * compares exactly like the NaN logit does on the rewritten side
    * (greatest in both spaces), so every orientation is preserved. */
  private object BareSigmoid {
    def unapply(e: Expression): Option[Expression] = e match {
      case Divide(
            Literal(one1, DoubleType),
            Add(Literal(one2, DoubleType),
              Exp(UnaryMinus(
                Greatest(Seq(Least(Seq(x, Literal(hi, DoubleType))),
                  Literal(lo, DoubleType))), _)), _),
            _)
          if one1 == 1.0 && one2 == 1.0 && hi == ClipHi && lo == ClipLo =>
        Some(x)
      case _ => None
    }
  }

  private object ClippedSigmoid {
    def unapply(e: Expression): Option[Expression] = e match {
      case BareSigmoid(x) => Some(x)
      case CaseWhen(Seq((IsNaN(x1), x2)), Some(BareSigmoid(x)))
          if x1.semanticEquals(x) && x2.semanticEquals(x) =>
        Some(x)
      case _ => None
    }
  }

  private def logit(t: Double): Double = math.log(t / (1.0 - t))
  private def inOpenRange(t: Double): Boolean = {
    val sLo = 1.0 / (1.0 + math.exp(ClipHi))  // σ(-30)
    val sHi = 1.0 / (1.0 + math.exp(-ClipHi)) // σ(30)
    t > sLo && t < sHi
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // all eight orientation/strictness spellings: strict monotonicity
      // makes every one of σ(x) ⋈ t ⇔ x ⋈ logit(t) equally exact, and a
      // user writing `> t` instead of `>= t` should not silently keep
      // the per-row exp() on the hot path
      case GreaterThanOrEqual(ClippedSigmoid(x), Literal(t: Double, DoubleType))
          if inOpenRange(t) =>
        GreaterThanOrEqual(x, Literal(logit(t), DoubleType))
      case GreaterThan(ClippedSigmoid(x), Literal(t: Double, DoubleType))
          if inOpenRange(t) =>
        GreaterThan(x, Literal(logit(t), DoubleType))
      case LessThan(ClippedSigmoid(x), Literal(t: Double, DoubleType))
          if inOpenRange(t) =>
        LessThan(x, Literal(logit(t), DoubleType))
      case LessThanOrEqual(ClippedSigmoid(x), Literal(t: Double, DoubleType))
          if inOpenRange(t) =>
        LessThanOrEqual(x, Literal(logit(t), DoubleType))
      case GreaterThan(Literal(t: Double, DoubleType), ClippedSigmoid(x))
          if inOpenRange(t) =>
        GreaterThan(Literal(logit(t), DoubleType), x)
      case GreaterThanOrEqual(Literal(t: Double, DoubleType), ClippedSigmoid(x))
          if inOpenRange(t) =>
        GreaterThanOrEqual(Literal(logit(t), DoubleType), x)
      case LessThanOrEqual(Literal(t: Double, DoubleType), ClippedSigmoid(x))
          if inOpenRange(t) =>
        LessThanOrEqual(Literal(logit(t), DoubleType), x)
      case LessThan(Literal(t: Double, DoubleType), ClippedSigmoid(x))
          if inOpenRange(t) =>
        LessThan(Literal(logit(t), DoubleType), x)
    }
}

/** Session-extension entry point:
  * spark.sql.extensions=graft.plans.GraftExtensions
  *
  * Injects the optimizer rule AND registers the engine's native
  * functions permanently (vs GraftFunctions.register's per-session temp
  * registration) — the production deployment shape: one config line,
  * every session gets the full engine surface. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SigmoidThresholdRewrite)
    e.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    // the FULL function surface, from the shared list — a function added
    // to GraftFunctions.all is reachable from both registration paths
    graft.functions.GraftFunctions.all.foreach { case (name, cls, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          cls.getName, name),
        builder))
    }
  }
}
