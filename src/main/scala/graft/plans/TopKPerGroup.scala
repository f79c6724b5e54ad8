package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator custom plan (SURVEY.md §7.4 tier (c)): exact top-k
  * rows per group under a total order, as a first-class
  * LogicalPlan + SparkStrategy + SparkPlan.
  *
  * Why a custom operator: Spark 4.1 plans the declarative form —
  * `row_number().over(Window.partitionBy(g).orderBy(o)) <= k` — with a
  * `WindowGroupLimit … Partial` before the exchange, so it no longer
  * shuffles every input row, but that partial limit first SORTS each
  * whole map partition by (group, order): O(n log n) per mapper for k
  * survivors per group. This operator keeps a bounded heap of k rows per
  * group on each mapper instead (partial phase, O(n log k), no sort of
  * the input), so the exchange carries at most k·|groups| rows per input
  * partition; the final phase then sorts the (already k-per-group-
  * reduced) shuffle output by (group, order) — Spark's own spillable
  * SortExec, inserted via requiredChildOrdering — and streams out the
  * first k rows of each group with O(1) state. Measured on local[4]
  * (4-core VM, 10M rows, median of 3 alternating runs), this operator
  * against the window form: 1k groups 1.50 s vs 4.49 s at k=3 and
  * 1.61 s vs 4.80 s at k=100. With 10 rows per group (1M groups, k=3)
  * the heaps barely prune and the window form wins, 7.95 s vs 3.90 s;
  * the top-k callers here select a few rows from large groups, the
  * shape the heap is for.
  *
  * Determinism contract: `order` must be a TOTAL order (callers append
  * an id tie-break), in which case the output row set is exactly the
  * window form's — TopKSpec pins the equivalence, partition-count
  * invariance, and the plan shape (partial+final exec, no WindowExec).
  *
  * Registered in GraftExtensions (injectPlannerStrategy); the
  * `TopK.perGroup` API also self-registers via
  * `spark.experimental.extraStrategies` for ad-hoc sessions. */
final case class TopKPerGroupPlan(k: Int, group: Seq[Expression],
                                  order: Seq[SortOrder], child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** Physical bounded-heap top-k per group. `partial = true` runs
  * map-side with no distribution requirement; `partial = false`
  * requires the group clustering (EnsureRequirements inserts the
  * exchange) and produces the exact result. */
final case class TopKPerGroupExec(k: Int, group: Seq[Expression],
                                  order: Seq[SortOrder], partial: Boolean,
                                  child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(group))
  // FINAL phase is sort-based: requiring (group, order) makes
  // EnsureRequirements insert a memory-managed, SPILLABLE SortExec above
  // the exchange, and the reduce becomes a streaming first-k-per-group
  // pass with O(1) state — a hash-of-heaps final (the partial phase's
  // shape) would hold EVERY group of the partition in an untracked JVM
  // map with no spill path: at 10^10 distinct keys over a few hundred
  // partitions that is an executor OOM Spark's memory manager cannot
  // even see, in exactly the high-cardinality case this operator
  // exists for. The sort input is already reduced (≤ k rows per group
  // per mapper), never the corpus.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(group.map(g => SortOrder(g, Ascending)) ++ order)
  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroup"

  override protected def doExecute(): RDD[InternalRow] = {
    if (!partial) return doExecuteFinal()
    val kLocal = k
    val groupExprs = group
    val sortExprs = order
    val childOutput = child.output
    // partial-phase memory bound: above this many in-flight groups the
    // mapper flushes its heaps downstream and starts over (the
    // ObjectHashAggregate fallback shape) — partial output stays correct
    // because the final phase re-reduces per group; only some map-side
    // pruning is lost. The final phase runs after the group-clustered
    // exchange, where every group is confined to one partition, so its
    // map holds only that partition's groups.
    val maxGroups =
      conf.getConfString("spark.graft.topk.maxGroupsInMemory", "131072").toInt
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      // child rows are only guaranteed InternalRow (e.g. a non-codegen
      // columnar-to-row emits ColumnarBatchRow) — normalize to UnsafeRow
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val ordering = GenerateOrdering.generate(sortExprs, childOutput)
      // per group: a max-heap (reversed ordering) of the k best rows —
      // the root is the WORST kept row, evicted when a better arrives
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      val cmp = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ordering.compare(b, a)
      }
      def drain(): Iterator[InternalRow] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        heaps.values().forEach { heap =>
          val rows = new Array[UnsafeRow](heap.size())
          var i = rows.length - 1
          while (i >= 0) { rows(i) = heap.poll(); i -= 1 } // drain = worst first
          out ++= rows
        }
        heaps.clear()
        out.iterator
      }
      new Iterator[InternalRow] {
        private var flushed: Iterator[InternalRow] = Iterator.empty
        private var done = false
        private def advance(): Unit = {
          while (!flushed.hasNext && !done) {
            if (!it.hasNext) { done = true; flushed = drain() }
            else {
              // zero-copy fast path: rows are already UnsafeRow except
              // behind a non-codegen columnar-to-row boundary
              val row = it.next() match {
                case u: UnsafeRow => u
                case r => toUnsafe(r)
              }
              val key = keyProj(row)
              var heap = heaps.get(key)
              if (heap == null) {
                if (partial && heaps.size() >= maxGroups) {
                  // memory fallback: emit what we have, keep going
                  flushed = drain()
                }
                heap = new java.util.PriorityQueue[UnsafeRow](kLocal + 1, cmp)
                heaps.put(key.copy(), heap)
              }
              if (heap.size() < kLocal) heap.add(row.copy())
              else if (ordering.compare(row, heap.peek()) < 0) {
                heap.poll()
                heap.add(row.copy())
              }
            }
          }
        }
        override def hasNext: Boolean = { advance(); flushed.hasNext }
        override def next(): InternalRow = { advance(); flushed.next() }
      }
    }, preservesPartitioning = true)
  }

  /** The final reduce over (group, order)-sorted input: rows of one
    * group arrive contiguously, best first, so top-k is "emit the first
    * k rows of each group" — one UnsafeRow of state, no per-group map,
    * nothing for the memory manager to miss (the sort below holds the
    * spillable memory). Output order per group (best → worst) matches
    * the old heap drain, so consumers see identical rows in identical
    * per-group order. */
  private def doExecuteFinal(): RDD[InternalRow] = {
    val kLocal = k
    val groupExprs = group
    val childOutput = child.output
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      var curKey: UnsafeRow = null
      var emitted = 0
      it.flatMap { r =>
        val row = r match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        val key = keyProj(row)
        if (curKey == null || key != curKey) {
          curKey = key.copy()
          emitted = 0
        }
        if (emitted < kLocal) { emitted += 1; Some(row.copy()) }
        else None
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(k, group, order, child) =>
      // float-key normalization (-0.0 → 0.0, canonical NaN): the
      // optimizer's NormalizeFloatingNumbers rule covers Aggregate/
      // Window/Join but cannot see inside a custom node — without this,
      // the byte-keyed heap map AND the ClusteredDistribution hash
      // exchange would treat 0.0 and -0.0 as different groups, breaking
      // the claimed equivalence with the window form (TopKSpec pins it)
      val ng = group.map(org.apache.spark.sql.GraftSqlShims.normalizeFloats)
      TopKPerGroupExec(k, ng, order, partial = false,
        TopKPerGroupExec(k, ng, order, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User-facing API for the custom operator. */
object TopK {
  /** Exact top-k rows per group of `df`. `orderBy` should be a total
    * order (append an id tie-break) for deterministic output. */
  def perGroup(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column],
               k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    }
    val analyzed = df.queryExecution.analyzed
    val groupExprs: Seq[Expression] =
      groupCols.map(c => GraftSqlShims.expr(spark, df.col(c)))
    val sortOrders: Seq[SortOrder] = orderBy.map(c => GraftSqlShims.expr(spark, c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftSqlShims.ofRows(spark, TopKPerGroupPlan(k, groupExprs, sortOrders, analyzed))
  }
}
