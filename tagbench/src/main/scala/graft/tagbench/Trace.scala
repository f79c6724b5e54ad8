package graft.tagbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer call: name, start, end and the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)

/** Records one span per layer call and tags the call's Spark jobs with a
  * job group of the same name, so [[RuntimeListener]] can attribute
  * executor work to the layer. Spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime(), -1L)
    spans += s
    stack = s :: stack
    sc.setJobGroup(name, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def last(name: String): Span = spans.reverseIterator.find(_.name == name).get
}

object Tracer {
  /** `body` inside a span when tracing, bare otherwise: the untraced
    * passes carry no wrappers. */
  def span[T](tr: Option[Tracer], name: String)(body: => T): T = tr match {
    case Some(t) => t(name)(body)
    case None => body
  }
}

/** Spark runtime counters of one job group. */
final class GroupStats {
  var jobs, stages, tasks = 0
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  /** per stage: (wall ms, task durations ms) */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.Map.empty[Int, Long]
}

/** Aggregates task metrics per job group (one group per layer call). */
final class RuntimeListener extends SparkListener {
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    stats(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val st = stats(stageGroup.getOrElse(info.stageId, "(none)"))
    st.stages += 1
    for (a <- info.submissionTime; b <- info.completionTime) st.stageWallMs(info.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stats(stageGroup.getOrElse(e.stageId, "(none)"))
    st.tasks += 1
    st.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Planning time (analysis + optimization + physical planning) of every
  * query execution that reaches an action. */
final class PlanListener extends QueryExecutionListener {
  private var ms = 0L
  def planSeconds: Double = synchronized(ms / 1000.0)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { ms += qe.tracker.phases.values.map(_.durationMs).sum }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
