package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftSparkInternals, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query Spark work: the jobs a query starts and the stages it
  * executes, with their tasks, executor run time and input and shuffle
  * volumes.
  *
  * Attribution is by job group. [[measure]] runs its body under the group
  * `graft-query:<tag>`, so the jobs a query runs while it is being BUILT
  * (eager localCheckpoint/observe loops) count as well as its final
  * action. Spark propagates local properties into AQE stage-materialization
  * and broadcast threads (SPARK-33933), so queries measured concurrently
  * on one session do not pollute each other's counts.
  *
  * Only attempt 0 of a stage counts: a scheduler retry re-fires the
  * completion event for the same stage, and a transient fetch failure
  * must not read as more work. Skipped stages fire no completion event,
  * so the stages are the EXECUTED ones. A stage is named by the operator
  * scopes of its RDDs, ending at its own (its call site when none has
  * one).
  *
  * Register once per session with [[QueryMetrics.register]] and [[close]]
  * when done: a listener left on a shared session would count every later
  * measurement once more. */
final class QueryMetrics private (sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  private val jobsByTag = new ConcurrentHashMap[String, AtomicInteger]()
  private val stagesByTag = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Stage]]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()

  override def onJobStart(job: SparkListenerJobStart): Unit =
    Option(job.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(groupPrefix)).foreach { g =>
        val tag = g.stripPrefix(groupPrefix)
        jobsByTag.computeIfAbsent(tag, _ => new AtomicInteger).incrementAndGet()
        job.stageIds.foreach(id => stageOwner.put(id, tag))
      }

  override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
    val si = st.stageInfo
    val tag = stageOwner.get(si.stageId)
    if (si.attemptNumber == 0 && tag != null) {
      val m = si.taskMetrics
      stagesByTag.computeIfAbsent(tag, _ => new ConcurrentLinkedQueue[Stage])
        .add(Stage(si.stageId,
          GraftSparkInternals.stageScopes(si).getOrElse(si.name.takeWhile(_ != '\n')),
          si.numTasks,
          m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
    }
  }

  /** Runs `body` under `tag`'s job group and drains the listener bus, so
    * [[jobs]] and [[stages]] are complete when it returns. */
  def measure[A](tag: String)(body: => A): A = {
    sc.setJobGroup(groupPrefix + tag, s"graft query: $tag", interruptOnCancel = false)
    try body finally {
      sc.clearJobGroup()
      GraftSparkInternals.drain(sc)
    }
  }

  def jobs(tag: String): Int = Option(jobsByTag.get(tag)).map(_.get).getOrElse(0)

  /** Executed stages of `tag`, in stage-id order. */
  def stages(tag: String): Seq[Stage] =
    Option(stagesByTag.get(tag)).map(_.asScala.toSeq.sortBy(_.id)).getOrElse(Nil)

  def shuffleWriteBytes(tag: String): Long = stages(tag).map(_.shuffleWriteBytes).sum

  def close(): Unit = sc.removeSparkListener(this)
}

object QueryMetrics {
  private val groupPrefix = "graft-query:"

  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                         inputBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long)

  def register(sc: SparkContext): QueryMetrics = {
    val m = new QueryMetrics(sc)
    sc.addSparkListener(m)
    m
  }
}
