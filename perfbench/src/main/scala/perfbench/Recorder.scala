package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Scheduler-side counts, attributed to the benchmark span that was
  * current on the submitting thread. The harness sets the local
  * property [[Recorder.SpanKey]] to a span id before each call into
  * the engine; every job started under it carries that id, and its
  * stages and tasks inherit it through the job.
  *
  * With `detailed` off only CPU time per span is kept (what an
  * untraced pass needs for `core_s`); with it on, each job, stage and
  * task is kept for the per-layer report.
  */
final class Recorder extends SparkListener {
  import Recorder._

  @volatile var detailed: Boolean = false

  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val taskCpuNs = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[(Int, Int), StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  private val routes = mutable.HashMap.empty[Long, Long]

  /** Attribute jobs tagged `channel` to `span` from now on: a
    * long-running stream keeps the tag its thread started with.
    */
  def route(channel: Long, span: Long): Unit = synchronized { routes(channel) = span }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val span = routes.getOrElse(tag, tag)
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
    if (detailed) jobs += JobRec(e.jobId, span, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detailed) synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = StageRec(i.stageId,
        stageSpan.getOrElse(i.stageId, 0L), i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, 0L)
    val m = Option(e.taskMetrics)
    val run = m.map(_.executorRunTime).getOrElse(0L)
    val cpu = m.map(_.executorCpuTime).getOrElse(0L)
    taskCpuNs(span) += cpu
    if (detailed) {
      val info = e.taskInfo
      val sched = m.map { t =>
        math.max(0L, info.duration - t.executorRunTime -
          t.executorDeserializeTime - t.resultSerializationTime)
      }.getOrElse(0L)
      tasks += TaskRec(e.stageId, span, run, cpu,
        m.map(_.jvmGCTime).getOrElse(0L), sched,
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(t => t.shuffleReadMetrics.remoteBytesRead +
          t.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        m.map(t => t.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        retried = info.attemptNumber > 0 || e.reason != Success)
    }
  }

  /** Executor CPU seconds of the tasks run under the given spans.
    * CPU time, not task wall time, so a core the host takes away
    * (steal) does not read as work.
    */
  def cpuSeconds(spans: Set[Long]): Double = synchronized {
    spans.iterator.map(taskCpuNs).sum / 1e9
  }

  def jobsUnder(spans: Set[Long]): Seq[JobRec] =
    synchronized(jobs.filter(j => spans(j.span)).toVector)
  def stagesUnder(spans: Set[Long]): Seq[StageRec] =
    synchronized(stages.values.filter(s => spans(s.span)).toVector)
  def tasksUnder(spans: Set[Long]): Seq[TaskRec] =
    synchronized(tasks.filter(t => spans(t.span)).toVector)
}

object Recorder {
  val SpanKey = "perfbench.span"

  final case class JobRec(jobId: Int, span: Long, startMs: Long)
  final case class StageRec(stageId: Int, span: Long, numTasks: Int,
                            submitMs: Long, completeMs: Long)
  final case class TaskRec(stageId: Int, span: Long, runMs: Long,
                           cpuNs: Long, gcMs: Long, schedMs: Long,
                           shuffleWrite: Long, shuffleRead: Long,
                           spill: Long, inBytes: Long, inRows: Long,
                           retried: Boolean)

  /** Run `body` with jobs it submits attributed to `span`. */
  def under[T](sc: SparkContext, span: Long)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span.toString)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}
