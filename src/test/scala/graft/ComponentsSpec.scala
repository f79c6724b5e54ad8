package graft

import graft.ops.Components
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** Connected components: the pair→cluster stage of the dedup family.
  * Fixed point is min-reachable-id per component, so expectations are
  * exact. Every test runs on both branches: the default session (small
  * graphs take union-find) and a session with the broadcast threshold
  * off, which takes the distributed propagation loop. */
class ComponentsSpec extends SparkSpec {

  /** Same SparkContext, its own conf: nothing fits under the threshold. */
  private lazy val loopSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private val branches: Seq[(String, () => SparkSession)] =
    Seq("" -> (() => spark), " (distributed loop)" -> (() => loopSession))

  for ((suffix, session) <- branches) {
    def edgesOf(edges: Seq[(Long, Long)]): DataFrame = {
      val s = session()
      import s.implicits._
      edges.toDF("src", "dst")
    }

    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Components.connectedComponents(edgesOf(edges))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    test("chains, triangles, singleton edges, and multi-component graphs" + suffix) {
      // chain 1-2-3-4 (diameter > 1 forces multiple rounds), triangle
      // 10-11-12, isolated pair 20-21, self-loop 30
      val got = cc(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 10L -> 11L, 11L -> 12L,
        10L -> 12L, 20L -> 21L, 30L -> 30L))
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
    }

    test("long path converges to one component (propagation over diameter)" + suffix) {
      val n = 12L
      val got = cc((1L until n).map(i => i -> (i + 1)))
      assert(got === (1L to n).map(_ -> 1L).toMap)
    }

    test("pointer doubling: a 300-node path converges within the round budget" + suffix) {
      // diameter 299 — plain 2-hop propagation needs 150 materialized
      // rounds and died at maxIter; pointer doubling closes it in O(log d)
      val n = 300L
      val got = cc((0L until n - 1).map(i => i -> (i + 1)))
      assert(got.size == n && got.values.forall(_ == 0L))
    }

    test("edge direction does not matter" + suffix) {
      assert(cc(Seq(5L -> 3L, 3L -> 9L)) === Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
    }

    test("empty edge list yields empty labels (no NPE from the observed metric)" + suffix) {
      assert(cc(Seq.empty) === Map.empty)
    }

    test("randomized graphs match a union-find oracle" + suffix) {
      val rnd = new scala.util.Random(42)
      for (trial <- 1 to 5) {
        val nNodes = 30 + rnd.nextInt(40)
        val nEdges = rnd.nextInt(60)
        val edges = Seq.fill(nEdges)(
          (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        if (edges.nonEmpty) {
          // driver-side union-find oracle (test-only)
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            val p = parent.getOrElseUpdate(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          edges.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
          // canonical label = min member id per component
          val byRoot = nodes.groupBy(find)
          val expected = byRoot.values.flatMap { members =>
            val m = members.min
            members.map(_ -> m)
          }.toMap
          assert(cc(edges) === expected, s"trial $trial ($nNodes nodes, $nEdges edges)")
        }
      }
    }

    test("superseded per-round checkpoints are unpersisted (bounded storage)" + suffix) {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      // diameter 7 → several rounds, each with its own localCheckpoint
      val labels = Components.connectedComponents(
        edgesOf((1L until 8L).map(i => i -> (i + 1))))
      labels.count()
      val added = sc.getPersistentRDDs.keySet -- before
      // only the FINAL labels checkpoint may remain pinned — the input,
      // symmetrized edges, and every superseded round must be freed
      assert(added.size <= 1, s"leaked ${added.size} persisted RDDs")
      // and the surviving frame is still readable after the frees
      assert(labels.count() === 8L)
    }
  }

  /** Rows and schema of both branches over the same edges. */
  private def bothBranches(build: SparkSession => DataFrame): Seq[(Set[Row], String)] =
    Seq(spark, loopSession).map { s =>
      val out = Components.connectedComponents(build(s))
      (out.collect().toSet, out.schema.map(_.dataType.simpleString).mkString(","))
    }

  test("the default threshold takes union-find, a disabled one the loop") {
    def plan(s: SparkSession) = {
      import s.implicits._
      Components.connectedComponents(Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst"))
        .queryExecution.analyzed
    }
    assert(plan(spark).collectFirst { case r: LocalRelation => r }.isDefined)
    assert(plan(loopSession).collectFirst { case r: LogicalRDD => r }.isDefined)
  }

  test("INT ids stay INT and label the same on both branches") {
    val Seq(small, loop) = bothBranches { s =>
      import s.implicits._
      Seq(3 -> 1, 1 -> 2, 7 -> 8).toDF("src", "dst")
    }
    assert(small === loop)
    assert(small._2 === "int,int")
    assert(small._1 === Set(Row(1, 1), Row(2, 1), Row(3, 1), Row(7, 7), Row(8, 7)))
  }

  test("a null endpoint unites nothing; the null id takes its neighbors' min label") {
    val Seq(small, loop) = bothBranches { s =>
      import s.implicits._
      Seq(Some(1L) -> Some(2L), None -> Some(4L), Some(4L) -> Some(3L),
        Some(5L) -> None, (None: Option[Long]) -> (None: Option[Long]))
        .toDF("src", "dst")
    }
    assert(small === loop)
    assert(small._1 === Set(Row(1L, 1L), Row(2L, 1L), Row(3L, 3L), Row(4L, 3L),
      Row(5L, 5L), Row(null, 3L)))
    // an all-null edge list labels nothing
    val Seq(nullOnly, nullOnlyLoop) = bothBranches { s =>
      import s.implicits._
      Seq((None: Option[Long]) -> (None: Option[Long])).toDF("src", "dst")
    }
    assert(nullOnly === nullOnlyLoop)
    assert(nullOnly._1.isEmpty)
  }

  test("duplicate edges and self-loops label the same on both branches") {
    val Seq(small, loop) = bothBranches { s =>
      import s.implicits._
      Seq(2L -> 1L, 1L -> 2L, 2L -> 1L, 1L -> 1L, 9L -> 9L, 9L -> 9L, 3L -> 2L, 3L -> 3L)
        .toDF("src", "dst")
    }
    assert(small === loop)
    assert(small._1 === Set(Row(1L, 1L), Row(2L, 1L), Row(3L, 1L), Row(9L, 9L)))
  }
}
