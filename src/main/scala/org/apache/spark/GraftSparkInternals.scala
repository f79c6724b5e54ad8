package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.StageInfo

/** Bridge into `private[spark]` internals that [[graft.QueryMetrics]]
  * and [[graft.Profile]] read. */
object GraftSparkInternals {

  /** Listener events arrive asynchronously, so [[graft.QueryMetrics]]
    * drains the bus before it reads its counters.
    * `SparkContext.listenerBus` is package-private; Spark's own test
    * suites drain it the same way. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Janino compilations run so far in this JVM (driver and, in local
    * mode, executors). */
  def codegenCompilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The operator scopes a stage's RDDs were built under, in RDD order
    * with repeats collapsed, e.g. `Scan parquet > WholeStageCodegen (1) >
    * Exchange`: the last is the stage's own operator. The stage name is
    * only the call site that submitted the job, which under AQE is a
    * thread pool's. None when no RDD carries a scope. */
  def stageScopes(si: StageInfo): Option[String] = {
    val names = si.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name)
      .foldLeft(Vector.empty[String])((acc, n) => if (acc.lastOption.contains(n)) acc else acc :+ n)
    Option.when(names.nonEmpty)(names.mkString(" > "))
  }
}
