package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming._

/** `stream_ingest`: seeded documents pushed through long-running
  * streaming queries in fixed micro-batches.
  *
  * Set-up builds and starts one query per operator and sends each its
  * first (cold) batch. Every pass then sends each operator, in a
  * seed-permuted order, the next [[StreamWorkload.BatchesPerPass]]
  * batches: a batch is added to the operator's in-memory source and the
  * client waits for the sink to commit it before sending the next
  * (closed loop). Batch boundaries, state and output are therefore the
  * same on every run with the same seed. When the run ends the queries
  * stop and each operator's whole output is checked against answers
  * computed from the generator.
  */
final class StreamWorkload(ctx: Ctx) extends Runner {
  import ctx.{spark, tracer}
  import spark.implicits._
  import StreamWorkload._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val gen = StreamGen(BatchSize * (1 + BatchesPerPass * MaxPasses), BatchSize, ctx.seed)
  private val Horizon = "10 seconds"
  /** Batches every operator has been sent so far. */
  private var sent = 0

  private def docRows(b: Int): Seq[(Long, String, Timestamp)] =
    gen.batches(b).map(i => (gen.ids(i), gen.texts(i), new Timestamp(gen.tsMs(i))))

  private def memorySink(df: DataFrame, name: String, dir: File): StreamingQuery =
    df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", new File(dir, "ckpt").getPath)
      .outputMode("append").start()

  private def docsOp(pipe: DataFrame => DataFrame,
                     check: String => Option[String])(name: String, dir: File): Started = {
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = memorySink(pipe(in.toDF().toDF("doc_id", "text", "ts")), name, dir)
    Started(q, b => in.addData(docRows(b)), () => check(name))
  }

  /** The composed ingest must report every planted near-dup pair,
    * each once, and no pair naming an exact repeat. Its pairs are LSH
    * candidates, not verified matches: two unrelated documents that
    * share a word 3-gram can collide in a band, so other pairs of
    * first-seen documents may appear too.
    */
  private def nearPairsCheck(name: String): Option[String] = {
    val got = spark.table(name).select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .collect().toSeq
    val want = gen.nearPairs(sent * BatchSize)
    val repeats = gen.repeatIds(sent * BatchSize)
    val have = got.toSet
    val missing = want -- have
    val bad = have.filter { case (a, b) => a >= b || repeats(a) || repeats(b) }
    if (got.size == have.size && missing.isEmpty && bad.isEmpty) None
    else Some(s"${got.size} pairs (${have.size} distinct), ${want.size} planted;" +
      s" missing ${missing.take(3)}, unordered or naming a repeat ${bad.take(3)}")
  }

  private val ops: Seq[(String, (String, File) => Started)] = Seq(
    "content_dedup" -> docsOp(ContentDedup.firstSeen(_, Horizon), { name =>
      val got = spark.table(name).select(col("doc_id")).as[Long].collect().toSeq
      val want = gen.firstSeenIds(sent * BatchSize)
      if (got.size == want.size && got.toSet == want) None
      else Some(s"${got.size} first-seen docs (${got.toSet.size} distinct), expected ${want.size}")
    }) _,
    // exact repeats are dropped before the near-dup stage
    "ingest_composed" -> docsOp(StreamingIngest.ingest(_, watermark = Horizon),
      nearPairsCheck) _,
    "replicated_log" -> { (name: String, dir: File) =>
      val in = MemoryStream[(Long, String, Timestamp)]
      val out = new File(dir, "sink").getPath
      val q = ReplicatedLog.start(in.toDF().toDF("id", "value", "ts"),
        new File(dir, "ckpt").getPath, out, trigger = Trigger.ProcessingTime(0L))
      Started(q, { b =>
        val idx = gen.batches(b) ++ gen.resends(b)
        in.addData(idx.map(i => (gen.ids(i), s"line-${gen.ids(i)}", new Timestamp(gen.tsMs(i)))))
      }, { () =>
        val sink = spark.read.parquet(out)
        val r = sink.agg(count(lit(1)), countDistinct(col("id")), min(col("id")),
          max(col("id"))).head()
        val gaps = ReplicatedLog.gapRanges(sink).count()
        val n = (sent * BatchSize).toLong
        val want = (n, n, 1L, n)
        val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        if (got == want && gaps == 0) None
        else Some(s"sink (rows, ids, min, max) = $got with $gaps gaps, expected $want and none")
      })
    })

  private var running = Seq.empty[Running]

  /** A micro-batch is mostly driver-side planning and state-store
    * commit code; its CPU time is still falling for the first three
    * passes after set-up, while the JIT compiles that code.
    */
  def warmupPasses: Int = 3

  override def rateNote(passS: Double): String =
    f" docs_per_s=${BatchSize * BatchesPerPass * ops.size / passS}%.1f"

  /** Start every operator and send it its first batch. */
  def setup(): Unit = {
    running = ops.flatMap { case (op, start) =>
      val name = s"perfbench_$op"
      val dir = new File(ctx.work, s"stream/$name")
      val channel = tracer.newId()
      var r: Option[Running] = None
      ctx.execution(s"stream_ingest/$op start") {
        // the stream thread copies the local properties current at
        // start(); the channel id lets each pass route its jobs
        val (started, b) = tracer.span("operators.build", 0L, Map("query" -> op)) { id =>
          ctx.rec.route(channel, id)
          Recorder.under(ctx.sc, channel)(start(name, dir))
        }
        val run = Running(op, name, dir, started, channel)
        send(run, b.id, sent)
        r = Some(run)
        None
      }
      r
    }
    sent += 1
  }

  /** Send batch `k` and wait for its commit; the batch's progress. */
  private def send(r: Running, span: Long, k: Int): StreamingQueryProgress = {
    ctx.rec.route(r.channel, span)
    r.started.send(k)
    r.started.q.processAllAvailable()
    r.started.q.lastProgress
  }

  def pass(index: Int, traced: Boolean): Pass = {
    require(sent + BatchesPerPass <= gen.batches.size,
      s"more than $MaxPasses passes: the generated stream is exhausted")
    System.gc()
    ctx.rec.detailed = traced
    val order = new scala.util.Random(ctx.seed * 1000003L + index).shuffle(running)
    val (rs, passSpan) = tracer.span("pass", 0L, Map("index" -> index, "traced" -> traced)) { pid =>
      order.flatMap(r => runOp(pid, r))
    }
    sent += BatchesPerPass
    PerfbenchInternals.drain(ctx.sc)
    Pass(index, traced, passSpan, rs)
  }

  /** Send the operator its next batches of this pass. */
  private def runOp(parent: Long, r: Running): Option[QueryRun] = {
    var out: Option[QueryRun] = None
    ctx.execution(s"stream_ingest/${r.op}") {
      val (timed, q) = tracer.span("query", parent, Map("query" -> r.op)) { qid =>
        tracer.span("exec.run", qid) { eid =>
          (sent until sent + BatchesPerPass).map { k =>
            val s0 = System.nanoTime()
            val c0 = CpuMark.now()
            val pr = send(r, eid, k)
            ((System.nanoTime() - s0) / 1e9, c0.elapsedS, pr)
          }
        }
      }
      val (batches, e) = timed
      batches.foreach { case (_, _, pr) =>
        val st = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000L
        val d = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        tracer.add(Span(tracer.newId(), e.id, "micro_batch", st, st + d * 1000L,
          Map("batch" -> pr.batchId, "rows" -> pr.numInputRows)))
      }
      out = Some(QueryRun(q, None, None, e, PlanStats.empty, batches.map(_._1),
        batches.map(_._2).sum, batches.map(_._3)))
      None
    }
    out
  }

  /** Stop every query, then check each operator's whole output. */
  override def finish(): Unit = {
    running.foreach(r => r.started.q.stop())
    running.foreach { r =>
      ctx.execution(s"stream_ingest/${r.op} output") {
        tracer.span("check", 0L, Map("query" -> r.op))(_ => r.started.check())._1
      }
      spark.catalog.dropTempView(r.name)
      Main.deleteTree(r.dir)
    }
    running = Nil
  }
}

object StreamWorkload {
  val Name = "stream_ingest"
  val BatchSize = 250
  /** Micro-batches each operator gets per pass. */
  val BatchesPerPass = 1
  /** Passes, warm-up included, the generated stream has room for. */
  val MaxPasses = 64

  /** A started operator: how to send batch b, and how to check it. */
  private final case class Started(q: StreamingQuery, send: Int => Unit,
                                   check: () => Option[String])

  /** An operator's running query and the channel its jobs are tagged with. */
  private final case class Running(op: String, name: String, dir: File,
                                   started: Started, channel: Long)
}
