package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Closed loop over a batch workload: one client, one query at a time.
  * Each query is timed in two calls into the engine's public entry
  * points: building the DataFrame (`operators`) and full
  * materialization into the noop sink, which plans the query once
  * (`plans`) and runs it (`exec`). A traced pass splits the write at
  * the end of its planning phases, read from the write's own
  * [[QueryExecution]]; an untraced pass times the write whole.
  */
final class BatchRunner(ctx: Ctx, spec: Workloads.Batch,
                        digests: Map[String, String],
                        record: Option[java.io.File]) extends Runner {
  import ctx.{spark, tracer}
  import BatchRunner.Ran

  private val queries = Workloads.resolve(spec)
  private val writes = new WriteLog
  ctx.sc.addSparkListener(writes)

  def setup(): Unit = {
    val recorded = Seq.newBuilder[(String, String)]
    order(0).foreach { case (name, fn) =>
      tracer.span("setup.query", 0L, Map("query" -> name)) { id =>
        ctx.execution(s"${spec.name}/$name digest") {
          val d = Recorder.under(ctx.sc, id)(Digest.of(fn(spark, ctx.data)))
          recorded += name -> d
          digests.get(name) match {
            case _ if record.isDefined => None
            case Some(want) if want == d => None
            case Some(want) => Some(s"digest $d, expected $want")
            case None => Some(s"no recorded digest (got $d)")
          }
        }
      }
    }
    record.foreach { f =>
      val w = new java.io.FileWriter(f, true)
      try recorded.result().foreach { case (q, d) => w.write(s"$q\t$d\n") }
      finally w.close()
    }
  }

  /** The first pass after the cold set-up pass still runs about a
    * third slower than the ones after it, while the JIT compiles.
    */
  def warmupPasses: Int = 1

  private def order(index: Int) =
    new scala.util.Random(ctx.seed * 1000003L + index).shuffle(queries)

  def pass(index: Int, traced: Boolean): Pass = {
    System.gc()
    ctx.rec.detailed = traced
    writes.detailed = traced
    val (ran, passSpan) = tracer.span("pass", 0L,
        Map("index" -> index, "traced" -> traced)) { pid =>
      order(index).flatMap { case (name, fn) => run(pid, name, fn) }
    }
    PerfbenchInternals.drain(ctx.sc)
    val planned = writes.take()
    val split = traced && planned.size == ran.size
    if (traced && !split)
      System.err.println(s"[perfbench] pass $index: ${planned.size} noop writes seen" +
        s" for ${ran.size} queries; planning is left inside exec.run")
    val runs = ran.zipWithIndex.map { case (r, i) =>
      val (w0, w1) = r.writeUs
      val (plan, stats) =
        if (!split) (None, PlanStats.empty)
        else {
          val end = math.min(math.max(planned(i).planEndUs, w0), w1)
          (Some(Span(tracer.newId(), r.query.id, "plans.plan", w0, end)), planned(i).stats)
        }
      plan.foreach(tracer.add)
      val exec = Span(r.execId, r.query.id, "exec.run", plan.fold(w0)(_.endUs), w1)
      tracer.add(exec)
      QueryRun(r.query, Some(r.build), plan, exec, stats,
        Seq(r.query.durUs / 1e6), r.cpuS,
        resultRows = digests.get(r.name).map(Digest.rows).getOrElse(0L))
    }
    Pass(index, traced, passSpan, runs)
  }

  private def run(parent: Long, name: String, fn: Workloads.Query): Option[Ran] = {
    var out: Option[Ran] = None
    ctx.execution(s"${spec.name}/$name") {
      val c0 = CpuMark.now()
      val (r, q) = tracer.span("query", parent, Map("query" -> name)) { qid =>
        val (df, b) = tracer.span("operators.build", qid) { id =>
          Recorder.under(ctx.sc, id)(fn(spark, ctx.data)) }
        val execId = tracer.newId()
        val w0 = tracer.nowUs
        Recorder.under(ctx.sc, execId)(df.write.format("noop").mode("overwrite").save())
        (b, execId, (w0, tracer.nowUs))
      }
      val (b, execId, w) = r
      out = Some(Ran(name, q, b, execId, w, c0.elapsedS))
      None
    }
    out
  }
}

object BatchRunner {
  /** A query that ran: its spans so far and the bounds of its write. */
  private final case class Ran(name: String, query: Span, build: Span,
                               execId: Long, writeUs: (Long, Long), cpuS: Double)
}

/** The noop writes' own query executions, in the order they ended:
  * when each one's planning phases (analysis, optimization, physical
  * planning) finished, and counts over its physical plan. Only kept
  * while `detailed` is on.
  */
final class WriteLog extends SparkListener {
  import WriteLog._

  @volatile var detailed: Boolean = false
  private val seen = mutable.ArrayBuffer.empty[Planned]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if detailed =>
      PerfbenchInternals.queryExecution(end).filter(isNoopWrite).foreach { qe =>
        val phases = qe.tracker.phases.values
        val planEnd = if (phases.isEmpty) 0L else phases.map(_.endTimeMs).max * 1000L
        val p = Planned(planEnd, PlanStats.of(qe.executedPlan))
        synchronized(seen += p)
      }
    case _ =>
  }

  /** The writes seen since the last call. */
  def take(): Seq[Planned] = synchronized {
    val out = seen.toVector
    seen.clear()
    out
  }
}

object WriteLog {
  /** End of a write's planning, epoch microseconds, and its plan. */
  final case class Planned(planEndUs: Long, stats: PlanStats)

  def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name() == "noop-table"
      case _ => false
    }
    case _ => false
  }
}
