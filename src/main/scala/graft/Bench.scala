package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query timed on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query runs once UNTIMED (plan analysis, file listing, codegen,
  * broadcast build) and then three timed runs; the JSON carries the
  * per-query mean AND sample standard deviation, so a
  * round-over-round swing can be adjudicated as noise or a real
  * regression instead of guessed from a single shot. A query that
  * throws reports -1 (and is listed in "failed") rather than its
  * time-to-throw — a fast failure must never read as a speedup.
  *
  * Build vs steady (round 12): the recorded warm-up (first call) pays
  * any one-time memoized index/model build for the queries in
  * SparkEntry.buildBackedQueries; the JSON reports
  * `queries_build` = max(0, first − steady mean) per such query and a
  * `build` total, so cross-round per-query comparisons never conflate
  * one-time build cost with steady serving cost. Steady totals are
  * also split per registry tier (`steady_production` vs
  * `steady_baseline_twins` — the five documented-quadratic
  * differential twins), so a baseline's designed cost can't read as a
  * production regression.
  *
  * Two timings per query:
  *  - `queries` (count-based, the protocol since round 1, kept for
  *    round-over-round comparability): `df.count()` lets Catalyst
  *    prune unused aggregate expressions, eliminate final sorts and
  *    even drop row-preserving left joins — it measures the query's
  *    SHAPE cost, not its full expression work.
  *  - `queries_full` (one run, noop-sink): `write.format("noop")`
  *    materializes every output row and column, so expression-heavy
  *    or join-crowned queries can't read as fake-fast (observed:
  *    a left-join-crowned query benched 20× under its real cost
  *    because count() eliminated the join).
  *
  * Variance gate (round 13): a query whose steady sd exceeds
  * mean/2 was measured under interference (round 12: one query read
  * 20.79 s ± 27.93 in the sweep vs 1.85-2.0 s isolated — a 10×
  * phantom regression from box noise alone). Every such query is
  * automatically RE-TIMED after the sweep completes — the end of the
  * run is the quietest interval this process can reach: no other
  * query's cancelled stages or shuffle cleanup overlap it, and a GC
  * precedes each run. The re-time (mean + sd of 3 runs) is appended
  * as `queries_retime`/`queries_retime_sd`, so the artifact itself
  * carries the noise adjudication: a per-query number is trustworthy
  * iff its sd < mean/2 OR its re-time row agrees. Queries under
  * [[RetimeFloorSec]] are exempt — at that size sd/mean is
  * scheduling jitter, not signal anyone adjudicates.
  */
object Bench {
  private val Runs = 3

  /** Re-write each single-file parquet fixture into a multi-row-group
    * copy under a fresh temp dir and return that dir (r15, ordered by
    * the r14 verdict: the sf fixtures ship as ONE row group per
    * table, so every first scan of the heavy text expressions ran as
    * ONE task regardless of core count, serializing the scan stage
    * and polluting the driver's 8-vs-32-core scaling ratios).
    *
    * LAYOUT ONLY — content identical: same rows, same order (the
    * source is a single row group, so the coalesce(1) rewrite
    * preserves row order bit-for-bit), same schema modulo the
    * TIMESTAMP(NANOS)→raw-ns-long representation the session already
    * reads through (Tables.events adapts to either). Announced in
    * the bench JSON as "fixture_relayout" so the driver's cross-round
    * compare is flagged once. This is NOT result caching or
    * precomputation: no query output or intermediate is stored, the
    * copy is rebuilt from the parquet inputs on every Bench
    * invocation, outside every timed region, and deleted on exit.
    *
    * Block size targets ~cpus row groups per file (uncompressed
    * writer-buffer bytes ≈ 3× the compressed file, floored at 64 KiB
    * so tiny tables stay one group): enough groups that every
    * scan-split owns work, few enough that footer metadata and
    * per-group reader setup stay negligible (a first cut at a fixed
    * 64 KiB block produced ~10³ groups for lineitem and measurably
    * slowed every small query). With [[GraftSession]]'s
    * openCostInBytes floor the scan planner then yields ≥ cores
    * splits for documents.parquet at sf0.1 (the verdict's done-bar:
    * ≥ 8 tasks at 8 cores).
    */
  private def relayoutFixtures(spark: SparkSession, sfDir: String,
                               cpus: Int): String = {
    val src = new java.io.File(sfDir)
    val files = Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (files.isEmpty) return sfDir
    val dst = java.nio.file.Files.createTempDirectory("graft-bench-sf").toFile
    // backstop for an aborted run (signal, System.exit); a normal or
    // failing run deletes the copy in main's finally
    sys.addShutdownHook(deleteRecursively(dst))
    files.foreach { f =>
      val block = math.max(64L * 1024, f.length() * 3 / math.max(cpus, 1))
      spark.read.parquet(f.getPath)
        .coalesce(1)
        .write
        .option("parquet.block.size", block.toString)
        .mode("overwrite")
        .parquet(new java.io.File(dst, f.getName).getPath)
    }
    System.err.println(s"[bench] fixtures re-laid out row-group-wise into $dst " +
      s"(layout only, content identical; see OPTIMIZATION_r15.md)")
    dst.getPath
  }

  /** Best-effort recursive delete of the relayout temp dir. */
  private def deleteRecursively(path: java.io.File): Unit = {
    Option(path.listFiles()).foreach(_.foreach(deleteRecursively))
    path.delete()
  }

  /** Don't re-time queries faster than this: sub-300 ms means are
    * all scheduling jitter and never drive a regression call.
    */
  private val RetimeFloorSec = 0.3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)
    val spark = GraftSession.builder(s"local[$cpus, 4]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one warm-up action so JIT/codegen cost doesn't land on the first query
    spark.range(1000000).selectExpr("sum(id)").collect()
    // multi-row-group fixture copy (layout only; see relayoutFixtures) —
    // every timed query below reads this copy; sfDir itself is still
    // what the JSON reports as "sf" (it names the scale factor)
    val benchDir = relayoutFixtures(spark, sfDir, cpus)
    try run(spark, sfDir, benchDir)
    finally {
      spark.stop()
      if (benchDir != sfDir) deleteRecursively(new java.io.File(benchDir))
    }
  }

  private def run(spark: SparkSession, sfDir: String, benchDir: String): Unit = {
    // single-threaded codec JIT warm-up: a 32-thread flood into
    // interpreted codec code starves the C2 compiler threads (the
    // round-14 find — see Multimodal.warmCodecPaths); each codec
    // query's untimed first run would eventually absorb it, but on a
    // cold path that flood itself can waste minutes of wall
    operators.Multimodal.warmCodecPaths()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): Double =
        try {
          val t0 = System.nanoTime()
          fn(spark, benchDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      def fullOnce(): Double =
        try {
          val t0 = System.nanoTime()
          fn(spark, benchDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      // warm-up (untimed for the steady means) — but RECORDED: for the
      // build-backed queries (SparkEntry.buildBackedQueries) this first
      // call pays the one-time memoized index/model build, so
      // first − steady-mean is the build cost the JSON reports
      // separately instead of letting it contaminate a first-call mean
      val first = once()
      // drop broadcast/shuffle refs before measuring: letting them pile
      // up across 80+ queries drives old-gen full GCs that contaminate
      // later measurements (observed 5-20x inflation)
      System.gc()
      val runs = Seq.fill(Runs)(once())
      val full = fullOnce()
      System.gc()
      val ok = runs.filter(_ >= 0)
      val mean = if (ok.isEmpty) -1.0 else ok.sum / ok.size
      val sd =
        if (ok.size < 2) 0.0
        else math.sqrt(ok.map(x => (x - mean) * (x - mean)).sum / (ok.size - 1))
      val build =
        if (SparkEntry.buildBackedQueries(name) && first >= 0 && mean >= 0)
          math.max(0.0, first - mean)
        else 0.0
      (name, mean, sd, full, build)
    }
    // variance gate: re-time flagged queries on the post-sweep quiet
    // interval (see object doc) — the artifact then carries both the
    // in-sweep number and its isolation check
    val retimes = results.collect {
      case (name, mean, sd, _, _)
          if mean >= RetimeFloorSec && sd > mean / 2 => name
    }.map { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double =
        try {
          System.gc()
          val t0 = System.nanoTime()
          fn(spark, benchDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      val ok = Seq.fill(Runs)(once()).filter(_ >= 0)
      val m = if (ok.isEmpty) -1.0 else ok.sum / ok.size
      val sd2 =
        if (ok.size < 2) 0.0
        else math.sqrt(ok.map(x => (x - m) * (x - m)).sum / (ok.size - 1))
      (name, m, sd2)
    }
    def num(d: Double): String = if (d == d.floor && d.abs < 1e15) d.toString else f"$d%.6f"
    val qs = results.map { case (k, m, _, _, _) => "\"" + k + "\":" + num(m) }
      .mkString("{", ",", "}")
    val sds = results.map { case (k, _, s, _, _) => "\"" + k + "\":" + num(s) }
      .mkString("{", ",", "}")
    val fulls = results.map { case (k, _, _, f, _) => "\"" + k + "\":" + num(f) }
      .mkString("{", ",", "}")
    val builds = results.collect { case (k, _, _, _, b) if b > 0 =>
        "\"" + k + "\":" + num(b) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, m, _, _, _) if m < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, m, _, _, _) if m >= 0 => m }.sum
    val totalFull = results.collect { case (_, _, _, f, _) if f >= 0 => f }.sum
    val totalBuild = results.map(_._5).sum
    // steady totals per scale tier: the baseline twins are registered
    // for the oracle gate, not as production plans — surfacing their
    // share keeps cross-round totals adjudicable
    val baseNames = SparkEntry.baselineQueries.keySet
    val totalBaseline = results
      .collect { case (k, m, _, _, _) if m >= 0 && baseNames(k) => m }.sum
    // "total_detail", NOT "total": exactly ONE stdout line may carry
    // "metric":"total" (the truncation-surviving LAST line below), so
    // a consumer grepping for it can't nondeterministically pick this
    // full-precision layout instead.
    println(s"""{"metric":"total_detail","layout":"full_detail",""" +
      s""""value":$total,"unit":"sec","runs":$Runs,""" +
      s""""total_full":${num(totalFull)},""" +
      s""""build":${num(totalBuild)},""" +
      s""""steady_production":${num(total - totalBaseline)},""" +
      s""""steady_baseline_twins":${num(totalBaseline)},""" +
      s""""queries":$qs,"queries_sd":$sds,"queries_full":$fulls,""" +
      s""""queries_build":$builds,""" +
      s""""queries_retime":${retimes.map { case (k, m, _) =>
        "\"" + k + "\":" + num(m) }.mkString("{", ",", "}")},""" +
      s""""queries_retime_sd":${retimes.map { case (k, _, sd2) =>
        "\"" + k + "\":" + num(sd2) }.mkString("{", ",", "}")},""" +
      s""""baseline_queries":${baseNames.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""fixture_relayout":${benchDir != sfDir},""" +
      s""""failed":$failed,"sf":"$sfDir"}""")
    // The driver's BENCH_r{N}.json keeps only the last ~2000 chars of
    // stdout, which in round 8 truncated away the per-query MEANS (the
    // queries_full map happened to come last), so round-over-round perf
    // adjudication compared count-times to full-sink-times. This LAST
    // line is laid out for exactly that truncation: means sorted
    // ASCENDING (head-truncation drops only the fastest, least
    // adjudicable queries), sd for the 12 slowest (where noise-vs-
    // regression calls actually happen), and the scalar summary at the
    // very END where the tail always preserves it.
    def num2(d: Double): String = f"$d%.2f"
    val asc = results.sortBy(_._2)
    val meansAsc = asc.map { case (k, m, _, _, _) => "\"" + k + "\":" + num2(m) }
      .mkString("{", ",", "}")
    val sdSlowest = asc.takeRight(12)
      .map { case (k, _, s, _, _) => "\"" + k + "\":" + num2(s) }
      .mkString("{", ",", "}")
    val retimeTail = retimes.map { case (k, m, sd2) =>
      "\"" + k + "\":\"" + num2(m) + "+-" + num2(sd2) + "\"" }
      .mkString("{", ",", "}")
    println(s"""{"layout":"truncation_tail",""" +
      s""""queries_mean_asc":$meansAsc,"sd_slowest":$sdSlowest,""" +
      s""""retimed":$retimeTail,""" +
      s""""failed":$failed,"total_full":${num(totalFull)},""" +
      s""""build":${num2(totalBuild)},""" +
      s""""steady_production":${num2(total - totalBaseline)},""" +
      s""""steady_baseline_twins":${num2(totalBaseline)},""" +
      s""""fixture_relayout":${benchDir != sfDir},""" +
      s""""metric":"total","value":${num(total)},"unit":"sec","runs":$Runs,"sf":"$sfDir"}""")
  }
}
