package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/** The benchmark harness. One process, one session at local[n, 4]
  * with n = available cores, one client thread in a closed loop.
  *
  *   --workload relational|stream_ingest
  *   --seed N --seconds S --trace 0|1
  *   --data DIR        fixture directory (read only)
  *   --work DIR        scratch directory, deleted on every exit path
  *   --digests FILE    recorded `query<TAB>rows:hash` lines
  *   --record FILE     append this run's digests instead of checking
  *   --spans FILE      span file written by a traced run
  *
  * After set-up (session start and a cold, output-checked first pass)
  * and the runner's untimed warm-up passes it runs whole passes until
  * S seconds have elapsed (at least four; six when traced) and prints
  * one JSON line: end-to-end metrics untraced, per-layer metrics
  * traced. A traced run mixes untraced and traced passes, so it also
  * reports the tracing overhead.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, work: File,
                        digests: Option[File], record: Option[File],
                        spans: Option[File])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), new File(need("work")).getAbsoluteFile,
      kv.get("digests").map(new File(_)), kv.get("record").map(new File(_)),
      kv.get("spans").map(new File(_)))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    // the scratch directory goes on every exit path: normal return,
    // exception (finally) and signal or System.exit (shutdown hook)
    sys.addShutdownHook(deleteTree(o.work))
    val code =
      try run(o)
      catch { case t: Throwable => t.printStackTrace(); 2 }
      finally deleteTree(o.work)
    sys.exit(code)
  }

  private def loadDigests(f: Option[File]): Map[String, String] =
    f.filter(_.isFile).map { file =>
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines().filter(_.contains('\t')).map { l =>
        val Array(q, d) = l.split('\t'); q -> d }.toMap
      finally src.close()
    }.getOrElse(Map.empty)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def run(o: Opts): Int = {
    require(new File(o.data).isDirectory, s"fixture directory ${o.data} not found")
    o.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores, 4]", cores)
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      // a micro-batch only when data arrives, so the batch count and
      // the state each batch leaves do not depend on timing
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      val ctx = new Ctx(spark, o.data, cores, o.seed, o.work, new Tracer, rec)
      val runner: Runner = Workloads.batch.get(o.workload) match {
        case Some(b) => new BatchRunner(ctx, b, loadDigests(o.digests), o.record)
        case None    => new StreamWorkload(ctx)
      }
      runner.setup()
      val setupS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $setupS%.2f s: session $sessionS%.2f s," +
        f" checked first pass ${setupS - sessionS}%.2f s")
      if (o.record.isDefined) return if (ctx.failed == 0) 0 else 1
      def coreS(r: QueryRun) = ctx.rec.cpuSeconds(r.spanIds)
      def logPass(p: Pass, kind: String = ""): Pass = {
        val k = if (kind.nonEmpty) kind else if (p.traced) "traced" else "untraced"
        System.err.println(f"[perfbench] pass ${p.index} ($k)" +
          f" wall ${p.wallS}%.3f s cpu ${p.cpuS}%.3f s executor cpu ${p.runs.map(coreS).sum}%.3f s" +
          p.runs.sortBy(_.name).map(r => f" ${r.name}=${r.cpuS}%.3f/${coreS(r)}%.3f").mkString)
        p
      }

      // The JIT is still compiling the engine's hot paths over the first
      // passes. The runner's warm-up passes run them untimed; per-query
      // medians over at least four timed passes leave the slowest of the
      // rest out. A traced run goes untraced, traced, traced, untraced,
      // ... so that drift does not land on one side of the overhead ratio.
      val warmup = runner.warmupPasses
      (1 to warmup).foreach(k => logPass(runner.pass(k, traced = false), "warm-up"))
      val passes = ArrayBuffer.empty[Pass]
      def tracedPass(k: Int) = o.trace && (k % 4 == 1 || k % 4 == 2)
      val minPasses = if (o.trace) 6 else 4
      val end = System.nanoTime() + o.seconds * 1000000000L
      while (passes.size < minPasses || System.nanoTime() < end)
        passes += logPass(runner.pass(warmup + passes.size + 1, tracedPass(passes.size)))
      val plain = passes.filterNot(_.traced).toSeq.flatMap(_.runs)
      /** A typical pass of `f`: each query's median, summed. */
      def typicalPass(f: QueryRun => Double) = Stats.sumOfMedians(plain.map(r => r.name -> f(r)))
      val latencies = plain.flatMap(_.latenciesS)
      val latency = Stats.percentile(latencies, 90)
      val passS = typicalPass(_.query.durUs / 1e6)
      val rssMb = peakRssMb()

      val metrics: Seq[(String, Double)] =
        if (!o.trace) Seq(
          "cpu_s" -> typicalPass(_.cpuS),
          "core_s" -> typicalPass(coreS),
          "setup_s" -> setupS)
        else {
          val traced = passes.filter(_.traced).toSeq
          val layers = Layers.median(traced.map(Layers.ofPass(ctx, _)))
          val extra = Map(
            "session.start_s" -> sessionS,
            "sources.load_s" -> Probes.sources(ctx,
              traced.flatMap(_.runs.flatMap(_.planStats.tables)).distinct.sorted),
            "trace.overhead" -> Stats.median(traced.map(_.wallS)) /
              Stats.median(passes.filterNot(_.traced).map(_.wallS).toSeq),
            "pass_s" -> passS,
            "latency_s.p50" -> Stats.median(latencies),
            "latency_s.p90" -> latency.value,
            "peak_rss_mb" -> rssMb
          ) ++ Probes.functions(ctx)
          o.spans.foreach(ctx.tracer.write)
          (layers ++ extra).toSeq.sortBy(_._1)
        }

      val f0 = System.nanoTime()
      runner.finish()
      System.err.println(f"[perfbench] run ended and outputs checked in ${(System.nanoTime() - f0) / 1e9}%.2f s")
      System.err.println(f"[perfbench] ${o.workload} seed=${o.seed}" +
        f" passes=${passes.count(!_.traced)} request samples n=${latency.n}" +
        f" (${latency.beyond} beyond p90) pass_s=$passS%.3f latency_s.p90=${latency.value}%.3f" +
        f" peak_rss_mb=$rssMb%.0f failed_frac=${ctx.failed.toDouble / math.max(ctx.attempted, 1)}%.4f" +
        runner.rateNote(passS))
      println(Json.write(ListMap(
        "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> ListMap(metrics.map { case (k, v) =>
          k -> ListMap("value" -> v, "unit" -> unitOf(k)) }: _*))))
      0
    } finally spark.stop()
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("rows_per_s")) "1/s"
    else if (metric.endsWith("_s") || metric.contains("_s.")) "s"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric == "exec.core_util" || metric == "trace.overhead" ||
             metric == "exec.skew" || metric.endsWith("rows_per_result_row")) "ratio"
    else "count"
}
