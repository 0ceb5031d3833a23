package perfbench

/** Per-layer metrics of one traced pass, from its spans, the
  * listener's records under them and the streams' progress reports.
  */
object Layers {

  def ofPass(ctx: Ctx, p: Pass): Map[String, Double] = {
    val rec = ctx.rec
    val runs = p.runs
    val execIds = runs.map(_.exec.id).toSet
    val buildIds = runs.flatMap(_.build).map(_.id).toSet
    val execTasks = rec.tasksUnder(execIds)
    val execStages = rec.stagesUnder(execIds)
    val scans = rec.tasksUnder(p.spanIds).filter(t => t.inRows > 0 || t.inBytes > 0)
    val execWallS = runs.map(_.exec.durUs).sum / 1e6
    val taskS = execTasks.map(_.runMs).sum / 1e3
    val stageIv = execStages.groupBy(_.span).map { case (s, ss) =>
      s -> ss.map(st => (st.submitMs * 1000L, st.completeMs * 1000L)) }
    val gapS = runs.map(r => Spans.selfUs(r.exec, stageIv.getOrElse(r.exec.id, Nil))).sum / 1e6
    // per query: slowest over median task of its longest-running stage
    val skews = runs.flatMap { r =>
      val st = execStages.filter(_.span == r.exec.id)
      if (st.isEmpty) None
      else {
        val longest = st.maxBy(s => s.completeMs - s.submitMs)
        Some(Stats.skew(execTasks.filter(t =>
          t.span == r.exec.id && t.stageId == longest.stageId).map(_.runMs)))
      }
    }
    val resultRows = runs.map(_.resultRows).sum
    val scanRows = scans.map(_.inRows).sum
    val progress = runs.flatMap(_.progress).filter(_.numInputRows > 0)
    def dur(key: String) =
      progress.map(pr => Option(pr.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val batchS = progress.map(pr =>
      Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) / 1e3)
    def pct(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q).value
    // state held at the end of each operator's run
    val lastState = runs.flatMap(_.progress.lastOption).flatMap(_.stateOperators)
    val allState = progress.flatMap(_.stateOperators)

    Map(
      "sources.scan_tasks" -> scans.size.toDouble,
      "sources.scan_rows" -> scanRows.toDouble,
      "sources.scan_bytes" -> scans.map(_.inBytes).sum.toDouble,
      "sources.scan_task_s" -> scans.map(_.runMs).sum / 1e3,
      "sources.rows_per_result_row" ->
        (if (resultRows > 0) scanRows.toDouble / resultRows else 0.0),
      "operators.build_s" -> runs.flatMap(_.build).map(_.durUs).sum / 1e6,
      "operators.eager_jobs" -> rec.jobsUnder(buildIds).size.toDouble,
      "plans.plan_s" -> runs.flatMap(_.plan).map(_.durUs).sum / 1e6,
      "plans.nodes" -> runs.map(_.planStats.nodes).sum.toDouble,
      "plans.exchanges" -> runs.map(_.planStats.exchanges).sum.toDouble,
      "plans.sort_aggregates" -> runs.map(_.planStats.sortAggregates).sum.toDouble,
      "plans.custom_nodes" -> runs.map(_.planStats.custom).sum.toDouble,
      "exec.jobs" -> rec.jobsUnder(execIds).size.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> execTasks.size.toDouble,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> execTasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> execTasks.map(_.gcMs).sum / 1e3,
      "exec.sched_delay_s" -> execTasks.map(_.schedMs).sum / 1e3,
      "exec.driver_gap_s" -> gapS,
      "exec.core_util" -> Stats.coreUtil(taskS, execWallS, ctx.cores),
      "exec.shuffle_write_bytes" -> execTasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> execTasks.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> execTasks.map(_.spill).sum.toDouble,
      "exec.skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "exec.task_retries" -> execTasks.count(_.retried).toDouble,
      "streaming.batch_s.p50" -> pct(batchS, 50),
      "streaming.batch_s.p90" -> pct(batchS, 90),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.plan_s" -> dur("queryPlanning"),
      "streaming.wal_s" -> (dur("walCommit") + dur("commitOffsets")),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
      "streaming.state_commit_s" -> allState.map(_.commitTimeMs).sum / 1e3,
      "streaming.late_rows_dropped" -> allState.map(_.numRowsDroppedByWatermark).sum.toDouble,
      // query time outside build, plan and exec: ~0 when the three
      // account for the query's wall time
      "trace.unattributed_s" -> runs.map { r =>
        Spans.selfUs(r.query, (Seq(r.exec) ++ r.build ++ r.plan).map(Spans.interval))
      }.sum / 1e6)
  }

  /** Median of each metric over the traced passes. */
  def median(perPass: Seq[Map[String, Double]]): Map[String, Double] =
    perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
}
