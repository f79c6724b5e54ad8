package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point:
  * spark.sql.extensions=graft.plans.GraftExtensions
  *
  * Injects the top-k planner strategy AND registers the engine's native
  * functions permanently (vs GraftFunctions.register's per-session temp
  * registration) — the production deployment shape: one config line,
  * every session gets the full engine surface. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
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
