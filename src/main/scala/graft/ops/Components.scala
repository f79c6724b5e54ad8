package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components over an undirected edge list — the last stage
  * of every near-dup pipeline: pair lists (minhash/simhash/jaccard
  * candidates) must become CLUSTERS with one canonical keeper per
  * cluster before documents can be dropped.
  *
  * Two branches, chosen from the edge count the input checkpoint
  * observes for free:
  *  - SMALL (edges × 32 B under the session's
  *    `spark.sql.autoBroadcastJoinThreshold`, the bound Spark itself
  *    uses when it collects a relation to broadcast it): the edges are
  *    collected and union-find runs on the driver, returning a local
  *    relation. One job instead of one materialized round per
  *    O(log diameter) hop, and no generated classes per round.
  *  - LARGE: a distributed min-label propagation WITH POINTER DOUBLING,
  *    a driver-controlled loop. Each materialized round is one
  *    propagation hop (every node adopts the minimum label among itself
  *    and its neighbors — self-loops in the edge relation make that a
  *    single join + min-aggregation) followed by one shortcut hop
  *    (next(v) = label(label(v))), so label chains halve every round and
  *    convergence takes O(log diameter) rounds, not O(diameter) — in the
  *    family of Kiveris et al. "Connected Components in MapReduce and
  *    Beyond" (SoCC'14) and the hash-to-min scheme of Rastogi et al.
  *    (ICDE'13). Dedup clusters usually have tiny diameters (≤3), but a
  *    chain of pairwise near-dups (template spam with a sliding field)
  *    builds a path graph, and a plain-propagation loop dies there.
  *    The edge relation is pre-partitioned on the join key and
  *    CACHED (an InMemoryRelation preserves its partitioning where a
  *    localCheckpoint does not), so every hop reshuffles only the (small)
  *    label relation while the big edge side stays put.
  *    Convergence rides the checkpoint action itself via observe(): labels
  *    only ever decrease, so the label SUM strictly decreases until the
  *    fixed point — two consecutive equal sums mean converged, with no
  *    separate probe job. Superseded per-round checkpoints are unpersisted
  *    so a long-lived session pins O(1) label copies, not O(rounds).
  *
  * Determinism: the fixed point is unique (min node id per component),
  * so both branches give the same rows and results are engine-portable —
  * the DuckDB oracle reproduces it with a recursive reachability CTE. */
object Components {

  /** Free the block-manager storage behind a localCheckpoint'd frame once
    * it has been superseded. localCheckpoint truncates lineage, so the
    * persisted blocks ARE the data — only unpersist frames no downstream
    * consumer will read again (the returned labels keep their final
    * checkpoint; everything intermediate is released here). */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** `df` pinned with localCheckpoint, with its row count observed on
    * the pin's own job. */
  private[graft] def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val pinned = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    (pinned, obs.get("n").asInstanceOf[Long])
  }

  /** Row size the graph family assumes when it sizes a relation against
    * the broadcast threshold. */
  private val bytesPerRow = 32L

  /** True when `rows` rows of [[bytesPerRow]] fit under the session's
    * `spark.sql.autoBroadcastJoinThreshold` (-1 or 0: never). */
  private[graft] def fitsBroadcast(spark: SparkSession, rows: Long): Boolean =
    rows * bytesPerRow < org.apache.spark.sql.GraftSqlShims.broadcastThreshold(spark)

  /** edges(src, dst) — treated as undirected; self-loops and duplicates
    * are tolerated. Returns (id, component) where component = min node
    * id reachable, one row per distinct node appearing in `edges`; a
    * null endpoint joins nothing, and a null id gets a row (labelled with
    * the min component among its neighbors) only when it has a non-null
    * neighbor. Integral ids below the broadcast threshold take the
    * union-find branch, everything else the propagation loop. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // checkpoint the INPUT first: the symmetrization union references the
    // edge subtree twice, and callers pass arbitrarily expensive pair
    // pipelines (e.g. the full Jaccard chain) as edges. The observe rides
    // the checkpoint action, so the edge count that picks the branch and
    // sizes the loop's partitions is free (no extra job).
    val (e0, nEdges) = pinCounted(edges.select(col("src"), col("dst")))
    // symmetrize only — NO distinct: min-aggregation is insensitive to
    // duplicate edges, and a distinct here would shuffle the full 2E-row
    // relation once just to drop rows the partial aggregation collapses
    // for free every round. At 100 TB the avoided distinct is the single
    // largest shuffle this function would otherwise run.
    val symRaw = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    // initial labels fold the FIRST propagation hop into the node-set
    // aggregation: component0(v) = min(v, neighbors(v)). One shuffle
    // (map-side partial agg) replaces the old distinct-nodes job and a
    // whole hop of the loop. Its (analysed, never executed) schema is
    // also the union-find branch's output schema.
    val labels0 = symRaw
      .groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("component"))
    val integralIds = labels0.schema.fields.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (integralIds && fitsBroadcast(e0.sparkSession, nEdges)) {
      val labels = unionFind(e0.collect(), labels0.schema, e0.sparkSession)
      freeCheckpoint(e0)
      labels
    } else propagate(e0, symRaw, labels0.localCheckpoint(), nEdges, maxIter)
  }

  /** The union-find branch: (id, component = min id of its component)
    * over collected (src, dst) rows, as a local relation of `schema`.
    * Rows match the propagation loop's, null endpoints included: an
    * edge with a null end unites nothing, and the null id is labelled
    * with the min component among its non-null neighbors. */
  private def unionFind(edges: Array[Row], schema: StructType,
                        spark: SparkSession): DataFrame = {
    val index = mutable.LongMap.empty[Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    val parent = mutable.ArrayBuffer.empty[Int]
    def node(v: Any): Int =
      index.getOrElseUpdate(v.asInstanceOf[Number].longValue, {
        ids += v.asInstanceOf[Number].longValue
        parent += parent.length
        parent.length - 1
      })
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    val nullNeighbors = mutable.ArrayBuffer.empty[Int]
    edges.foreach { e =>
      (Option(e.get(0)).map(node), Option(e.get(1)).map(node)) match {
        case (Some(a), Some(b)) =>
          val (ra, rb) = (find(a), find(b))
          // the root is always its component's min id
          if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
        case (Some(a), None) => nullNeighbors += a
        case (None, Some(b)) => nullNeighbors += b
        case (None, None) => ()
      }
    }
    def typed(dt: DataType)(v: Long): Any = dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case _ => v
    }
    val (asId, asComponent) = (typed(schema(0).dataType) _, typed(schema(1).dataType) _)
    val rows = new java.util.ArrayList[Row](ids.length + 1)
    ids.indices.foreach(i => rows.add(Row(asId(ids(i)), asComponent(ids(find(i))))))
    if (nullNeighbors.nonEmpty)
      rows.add(Row(null, asComponent(nullNeighbors.map(i => ids(find(i))).min)))
    spark.createDataFrame(rows, schema)
  }

  /** The propagation branch over the pinned input `e0`, its symmetrized
    * form and its pinned initial labels. */
  private def propagate(e0: DataFrame, symRaw: DataFrame, labels0: DataFrame,
                        nEdges: Long, maxIter: Int): DataFrame = {
    var labels = labels0
    // self-loops (v,v) — taken from the label relation, not a distinct
    // over edges — make min-over-(neighbors ∪ self) a single join per
    // hop. Pre-partition on dst, the per-round join key, and cache():
    // InMemoryRelation preserves outputPartitioning (a checkpoint's
    // LogicalRDD reports UnknownPartitioning, verified against Spark
    // 4.1), so every round's join reuses this one shuffle and only the
    // small label relation moves.
    // Partition count derived from the DATA (guide §2.2: fewer, larger
    // partitions), not pinned to spark.sql.shuffle.partitions: the
    // candidate graphs CC consumes span 400 nodes (q_er_resolve) to the
    // full dedup pair relation, and a 32-way repartition of a few
    // hundred rows makes every one of the O(log diameter) rounds pay 32
    // task launches + a fresh-codegen warmup per task to move bytes of
    // data (r14 StageProfile: 1.3 s executor per round on a 20 k-row
    // relation). ~2M rows (~32 MB at 16 B/row) per partition, floored
    // at 1; capped at 4× the configured shuffle parallelism so a huge
    // edge relation still scales out with the cluster's own setting
    // instead of exploding the M×R shuffle-block count.
    val shufP = e0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val symParts = math.max(1L, math.min(4L * shufP,
      (2L * nEdges) / 2000000L + 1L)).toInt
    val sym = symRaw
      .unionByName(labels.select(col("id").as("src"), col("id").as("dst")))
      .repartition(symParts, col("dst"))
      .cache()
    var iter = 0
    var converged = false
    // decimal(38,0) sum: immune to long overflow at any id scale
    var prevSum: Option[Option[Any]] = None
    while (!converged && iter < maxIter) {
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      // One POINTER-DOUBLING shortcut on the MATERIALIZED label relation
      // (doubled(v) = label(label(v)) — a self-join of the checkpoint, so
      // both sides read persisted blocks and nothing recomputes), then
      // one PROPAGATION hop streaming the cached pre-partitioned edges.
      // Labels only decrease and label(v) ≤ v, so label(v) is always
      // itself a labeled node and the shortcut join is total. Doubling
      // makes convergence O(log diameter) materialized rounds instead of
      // O(diameter) — plain propagation dies on a 300-node near-dup
      // chain (template-spam corpora produce exactly those). The
      // shortcut must NOT be applied to the un-materialized propagation
      // output: self-joining that subtree re-executes the edge join per
      // branch when exchange reuse doesn't engage under AQE (observed
      // 2x cost per round).
      val doubled = labels.as("l1")
        .join(labels.as("l2"), col("l1.component") === col("l2.id"))
        .select(col("l1.id"), col("l2.component").as("component"))
      val next = sym.as("s")
        .join(doubled.as("h"), col("s.dst") === col("h.id"))
        .groupBy(col("s.src").as("id"))
        .agg(min(col("h.component")).as("component"))
        .observe(obs, sum(col("component").cast("decimal(38,0)")).as("label_sum"))
        .localCheckpoint()
      val curSum = Option(obs.get("label_sum"))
      converged = prevSum.contains(curSum)
      prevSum = Some(curSum)
      // `next` is materialized (eager checkpoint): the previous round's
      // label blocks can no longer be read by the LOOP — but the initial
      // labels also live inside the cached `sym` lineage (its self-loop
      // branch), and a lost cached partition recomputes from there. Keep
      // labels0's blocks until sym itself is released below; free every
      // later round's labels eagerly.
      if (labels ne labels0) freeCheckpoint(labels)
      labels = next
      iter += 1
    }
    // the edge relations are only read inside the loop; once sym is
    // dropped nothing can recompute from labels0 or e0 anymore
    sym.unpersist(false)
    if (labels ne labels0) freeCheckpoint(labels0)
    freeCheckpoint(e0)
    if (!converged) {
      // free the final round's checkpoint too before throwing — a long-
      // lived session that catches the failure must not keep one full
      // label-relation copy pinned in the block manager
      if (labels ne labels0) freeCheckpoint(labels)
      throw new IllegalArgumentException(
        s"connectedComponents did not converge in $maxIter rounds")
    }
    labels
  }
}
