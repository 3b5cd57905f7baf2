package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Attributes Spark's work to benchmark spans, exactly.
  *
  * The harness tags each span with a Spark job tag (the `spark.job.tags`
  * local property) while it calls into the engine. Every job, stage and
  * SQL execution started inside the call carries that tag, including
  * those started on broadcast and subquery threads, which inherit the
  * caller's local properties. This listener keys jobs, stages and tasks
  * by the tag they started under, and SQL executions by the tags in
  * their start event. Nothing is sampled or timed here, so the counts
  * repeat exactly once the listener bus has drained.
  *
  * The planning time of an execution comes from its
  * `QueryExecution.tracker`. A `QueryExecution` does not carry the
  * execution id or tags, so [[plans]] keeps each execution's planning
  * milliseconds with the wall-clock midpoint of its phases; the harness
  * charges it to the span whose interval holds that midpoint. The client
  * is single-threaded, so exactly one span is open at that instant. */
final class SpanTracer extends SparkListener with QueryExecutionListener {
  import SpanTracer._

  private val stats = new ConcurrentHashMap[String, Stats]()
  private val stageSpan = new ConcurrentHashMap[(Int, Int), String]()
  private val planned = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def of(span: String): Stats = stats.computeIfAbsent(span, _ => new Stats)

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(JobTagsKey)))
      .flatMap(spanOfTags).getOrElse(Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = of(spanOf(e.properties))
    s.synchronized(s.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), span)
    val s = of(span)
    s.synchronized(s.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get((e.stageId, e.stageAttemptId)))
      .getOrElse(Unattributed)
    val s = of(span)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val st = of(s.jobTags.iterator.flatMap(spanOfTags).nextOption().getOrElse(Unattributed))
      st.synchronized(st.executions += 1)
    case _ => ()
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) planned.add(
      ((phases.map(_.startTimeMs).min + phases.map(_.endTimeMs).max) / 2,
        phases.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Per-span totals. Read only after the listener bus has drained. */
  def totals: Map[String, Stats] = stats.asScala.toMap

  /** (wall-clock midpoint in epoch ms, planning ms) of every execution. */
  def plans: Seq[(Long, Long)] = planned.asScala.toSeq
}

object SpanTracer {
  val JobTagsKey = "spark.job.tags"
  val TagPrefix = "perfbench-span-"
  val Unattributed = "unattributed"

  def tag(span: String): String = TagPrefix + span

  private def spanOfTags(tags: String): Option[String] =
    tags.split(",").iterator.map(_.trim).find(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix))

  final class Stats {
    var jobs, stages, tasks, executions = 0L
    var runMs, cpuNs, gcMs, resultBytes, inputBytes, inputRecords = 0L
    var shuffleWriteBytes, fetchWaitMs = 0L
  }
}
