package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What every workload runner shares: the session, the fixture
  * directory, the tracer and listener, and the run's tallies of
  * executions attempted and failed (threw, or output check failed).
  */
final class Ctx(val spark: SparkSession, val data: String, val cores: Int,
                val seed: Long, val work: File, val tracer: Tracer,
                val rec: Recorder) {
  private var attempted0 = 0
  private var failed0 = 0
  def attempted: Int = attempted0
  def failed: Int = failed0

  /** Count one execution; `body` returns None when its output is right
    * and an explanation otherwise. A throw counts as a failure too.
    */
  def execution(what: String)(body: => Option[String]): Boolean = {
    attempted0 += 1
    val err =
      try body
      catch { case NonFatal(t) => Some(s"threw ${t.getClass.getSimpleName}: ${t.getMessage}") }
    err.foreach { e =>
      failed0 += 1
      System.err.println(s"[perfbench] FAILED $what: ${e.take(500)}")
    }
    err.isEmpty
  }

  def sc = spark.sparkContext
}

/** CPU time of each live Java thread at one moment. The difference
  * to a later moment is the CPU the engine's threads used in between:
  * client, scheduler, stream execution and executor task threads.
  * GC and JIT compiler threads are not Java threads and are left out,
  * and so is time the host steals from the machine.
  */
final case class CpuMark(byThread: Map[Long, Long]) {
  def elapsedS: Double = {
    val later = CpuMark.now().byThread
    later.iterator.map { case (id, ns) => ns - byThread.getOrElse(id, 0L) }
      .filter(_ > 0).sum / 1e9
  }
}

object CpuMark {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def now(): CpuMark = CpuMark(threads.getAllThreadIds.iterator
    .map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap)
}

/** Counts over one physical plan (traced passes only), and the
  * fixture tables it scans.
  */
final case class PlanStats(nodes: Int, exchanges: Int, sortAggregates: Int,
                           custom: Int, tables: Set[String])

object PlanStats {
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.aggregate.SortAggregateExec
  import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
  import org.apache.spark.sql.execution.exchange.Exchange

  val empty: PlanStats = PlanStats(0, 0, 0, 0, Set.empty)

  /** Every node of `p`, looking through adaptive wrappers (their plan
    * before any stage has run) and into subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    // the noop sink's write node is the benchmark's, not the query's
    case w: V2TableWriteExec => nodes(w.query)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(p: SparkPlan): PlanStats = {
    val all = nodes(p)
    PlanStats(all.size,
      all.count(_.isInstanceOf[Exchange]),
      all.count(_.isInstanceOf[SortAggregateExec]),
      all.count { n =>
        val c = n.getClass.getSimpleName
        c.contains("TopKPerGroup") || c.contains("LazySeal")
      },
      all.collect { case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      }.flatten.toSet)
  }
}

/** One registered query or stream operator run once inside a pass.
  * `latenciesS` holds the wall time of each request (a query, or a
  * micro-batch from send to commit); `cpuS` is the CPU time the
  * engine's threads spent on them ([[CpuMark]]).
  */
final case class QueryRun(query: Span,
                          build: Option[Span], plan: Option[Span], exec: Span,
                          planStats: PlanStats, latenciesS: Seq[Double],
                          cpuS: Double,
                          progress: Seq[StreamingQueryProgress] = Nil,
                          resultRows: Long = 0L) {
  def name: String = query.attrs("query").toString
  def spanIds: Set[Long] = Set(query.id, exec.id) ++ build.map(_.id) ++ plan.map(_.id)
}

/** One pass over a workload's queries. */
final case class Pass(index: Int, traced: Boolean, span: Span, runs: Seq[QueryRun]) {
  /** Engine time of the pass: the queries' spans, not the checks. */
  def wallS: Double = runs.map(_.query.durUs).sum / 1e6
  /** CPU time of the engine's threads in the pass's requests. */
  def cpuS: Double = runs.map(_.cpuS).sum
  def spanIds: Set[Long] = runs.flatMap(_.spanIds).toSet
}

trait Runner {
  /** Untimed first pass: cold caches, with every output checked. */
  def setup(): Unit
  /** Throughput note for the run summary, given the typical pass time. */
  def rateNote(passS: Double): String = ""
  /** Untimed passes between set-up and the timed ones. */
  def warmupPasses: Int
  def pass(index: Int, traced: Boolean): Pass
  /** End of the run: release what set-up started, check what remains. */
  def finish(): Unit = ()
}
