package graft

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts enforced across the WHOLE query surface — the
  * properties that make plans survive a 100x scale-up, asserted so a
  * future edit can't silently regress them:
  *  - no query plans a global-order (empty-partition-spec) window;
  *  - flagship scans prune columns and push predicates;
  *  - dimension joins broadcast; rank filters use the TopK operator.
  */
class PlanContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("every query has a DuckDB oracle unless explicitly rows-only") {
    // rows-only queries must be justified here: mm_decode, mm_resize,
    // dedup_image and dedup_audio run real JDK codecs (PNG/WAV
    // decode, pixel resample, perceptual dHash, PCM energy-contour
    // fingerprint) that DuckDB cannot mirror in SQL; their exact
    // values are pinned in MultimodalSpec instead (dedup_image /
    // dedup_audio: the exact planted-duplicate pair sets).
    val rowsOnly = Set("mm_decode", "mm_resize", "dedup_image", "dedup_audio")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    val stray = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty,
      s"queries silently skipping the oracle hash gate: $missing")
    assert(stray.isEmpty, s"oracles without queries: $stray")
  }

  test("every baseline twin names a registered production-tier counterpart") {
    val tier = SparkEntry.scaleClass
    val bad = SparkEntry.baselineQueries.filter { case (baseline, prod) =>
      !tier.get(baseline).contains("baseline") || !tier.get(prod).contains("production")
    }
    assert(bad.isEmpty, s"baseline -> counterpart not production-tier: $bad")
  }

  test("no query buffers a full distribution (exact-percentile ban)") {
    // the built-in `percentile()` holds a group's entire value
    // distribution in one executor's aggregation buffer — the shape a
    // 100 TB group kills. ScaleOps.sortedPercentiles (rank window,
    // spilling sort, ≤2 order statistics aggregated) is the sanctioned
    // exact form; approx_percentile the sanctioned sketch. This test
    // keeps the ban from regressing. The approx forms are stripped
    // before matching: "approx_percentile(" CONTAINS the substring
    // "percentile(" (this bit round 10's first matcher).
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
        .replace("approx_percentile", "")
        .replace("percentile_approx", "")
      if (plan.contains("percentile(")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"exact percentile() aggregate (memory-unbounded) in: $offenders")
  }

  test("no query in the library plans a single-partition window") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = unwrap(fn(spark, sf).queryExecution.executedPlan)
      val global = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      if (global.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"global-order windows (all-rows-to-one-partition) in: $offenders")
  }

  test("every registered query builds lazily — no driver-side jobs at plan time") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        fn(spark, sf) // first build may trigger one-time file listing
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
        jobs.set(0)
        fn(spark, sf) // steady-state build must run zero jobs
        org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
        if (jobs.get() > 0) Some(name -> jobs.get()) else None
      }
      assert(offenders.isEmpty,
        s"queries running driver-side jobs while building the plan: $offenders")
    } finally sc.removeSparkListener(listener)
  }

  test("q6 pushes its predicates and prunes to a narrow schema") {
    val plan = SparkEntry.queries("q6_revenue_forecast")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"), plan)
    assert(plan.contains("l_shipdate"), plan)
    // narrow read schema: the scan must not read all 16 lineitem columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .flatMap(l => "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(l).map(_.group(1)))
      .getOrElse("")
    assert(readSchema.nonEmpty && readSchema.count(_ == ',') < 6, readSchema)
  }

  test("q2's dimension joins broadcast") {
    val plan = SparkEntry.queries("q2_revenue_by_nation")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q2 probes one broadcast join per lineitem row and aggregates on c_nationkey") {
    val plan = unwrap(SparkEntry.queries("q2_revenue_by_nation")(spark, sf)
      .queryExecution.executedPlan)
    def streamed(j: BroadcastHashJoinExec) =
      if (j.buildSide == BuildRight) j.left else j.right
    // true when `p` pipelines lineitem rows: no exchange or aggregate between
    def streamsLineitem(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == "lineitem.parquet")
      case f: FilterExec => streamsLineitem(f.child)
      case q: ProjectExec => streamsLineitem(q.child)
      case j: BroadcastHashJoinExec => streamsLineitem(streamed(j))
      case _ => false
    }
    val probes = plan.collect {
      case j: BroadcastHashJoinExec if streamsLineitem(streamed(j)) => j
    }
    assert(probes.size == 1, s"lineitem must stream exactly one broadcast join:\n$plan")
    val partial = plan.collect {
      case a: HashAggregateExec if a.child.find(_ eq probes.head).nonEmpty => a
    }.last // the innermost aggregate above the probe is the partial one
    assert(partial.groupingExpressions.map(_.name) == Seq("c_nationkey"), partial)
  }

  test("dedup_simhash_pairs ships the blocked plan — no nested-loop join") {
    val plan = unwrap(SparkEntry.queries("dedup_simhash_pairs")(spark, sf)
      .queryExecution.executedPlan)
    val nlj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(nlj.isEmpty,
      s"dedup_simhash_pairs must use the pigeonhole equi-join, found: $nlj")
  }

  test("ann_lsh_mp keeps the broadcast bucket equi-join — no nested-loop scan") {
    val plan = unwrap(SparkEntry.queries("ann_lsh_mp")(spark, sf)
      .queryExecution.executedPlan)
    val nlj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(nlj.isEmpty,
      s"multi-probe LSH must equi-join on bucket, found: $nlj")
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "probe side must broadcast into a hash join")
  }

  test("txt_repetition is map-side: no aggregate, no hash exchange") {
    // the per-document metric must never shuffle gram rows — the only
    // exchange allowed is the range partition of the output sort
    val plan = unwrap(SparkEntry.queries("txt_repetition")(spark, sf)
      .queryExecution.executedPlan)
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.isEmpty, s"unexpected aggregation: $aggs")
    val hashExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.isEmpty,
      s"per-doc metric must not hash-shuffle: $hashExchanges")
  }

  test("argmins plan no window and no top-k: Lloyd training and the near-dup scans") {
    val plans = Seq(
      "trainIvfCentroids" -> graft.operators.Similarity
        .trainIvfCentroids(spark, sf, checkpoint = false),
      "sim_near_dup" -> SparkEntry.queries("sim_near_dup")(spark, sf),
      "sim_near_dup_lsh" -> SparkEntry.queries("sim_near_dup_lsh")(spark, sf))
    for ((name, df) <- plans) {
      val plan = unwrap(df.queryExecution.executedPlan)
      val sorted = plan.collect {
        case w: WindowExec => w
        case t: graft.plans.TopKPerGroupExec => t
      }
      assert(sorted.isEmpty, s"$name still ranks with a sort: $sorted")
    }
  }

  test("queries built on the argmin helper plan no SortAggregate") {
    val converted = Seq("ann_ivf", "ann_ivf_lists", "ann_ivf_recall",
      "ann_ivf_trained", "ann_ivf_pq", "ann_ivf_pq_idx", "ann_ivf_pq_res",
      "ann_ivf_pq_res_idx", "ann_cluster_purity", "smp_decontam_sem",
      "smp_decontam_sem_ivf", "smp_cluster_temp", "dedup_semantic",
      "dedup_semantic_capped", "sim_near_dup", "sim_near_dup_lsh",
      "dedup_keep_best", "dedup_keep_best_idx", "pipe_drift",
      "smp_shuffle_shards")
    val sortAggs = converted.map { q =>
      val plan = unwrap(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      // a string buffer (the near-dup collapse prepass's max(text)
      // exemplar) is the one SortAggregate source that is not an argmin;
      // the argmin itself never joins its winners back on the rank
      q -> plan.collect {
        case a: SortAggregateExec if !a.output.exists(_.dataType == StringType) =>
          a.output.map(_.name)
        case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(_.references
            .exists(_.name == "__rank")) =>
          Seq(s"join on __rank: ${j.nodeName}")
      }
    }.filter(_._2.nonEmpty)
    assert(sortAggs.isEmpty, sortAggs.mkString("\n"))
  }

  test("rank-filter queries plan through TopKPerGroup") {
    for (q <- Seq("q7_top_orders_per_customer", "txt_tfidf")) {
      val plan = unwrap(SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan)
      val topk = plan.collect { case t: graft.plans.TopKPerGroupExec => t }
      assert(topk.size == 2, s"$q should plan partial+final TopKPerGroup")
    }
  }
}
