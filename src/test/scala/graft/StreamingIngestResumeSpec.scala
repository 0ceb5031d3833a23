package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** Recovery of the composed ingest across a state-store snapshot
  * boundary. The state stores commit changelogs and take a snapshot
  * every 10 versions, so a query restarted after 12 micro-batches
  * rebuilds the exact-dedup state, the near-dup bucket lists and
  * their timers from a snapshot (or the first changelog) plus the
  * changelogs after it. Its output must equal an uninterrupted run's.
  */
class StreamingIngestResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Batches = 14
  private val RestartAfter = 12

  /** Per batch (event time 100 + 4·b s, so the 10 s watermark evicts
    * documents about three batches later): three fresh documents, a
    * punctuation clone of the previous batch's first (a pair in every
    * band), a one-word variant of its second (a pair in some bands,
    * not always the first), an exact repeat of the first from two
    * batches back (dropped by the exact dedup) and a document below
    * the quality gate.
    */
  private val batches: Seq[Seq[(Long, String, Timestamp)]] = {
    val rnd = new scala.util.Random(17)
    // letters only: the tokenizer drops digits and punctuation
    val vocab = Seq.fill(300)(Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString)
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    var next = 0L
    def id(): Long = { next += 1; next }
    val fresh = (0 until Batches).map(_ => Seq.fill(3)(words(12)))
    (0 until Batches).map { b =>
      val ts = new Timestamp((100L + 4L * b) * 1000L)
      val docs = fresh(b).map(_.mkString(" ")) ++
        (if (b >= 1) Seq(fresh(b - 1)(0).mkString(" ") + "!!!",
                         (fresh(b - 1)(1).init :+ "changed").mkString(" "))
         else Nil) ++
        (if (b >= 2) Seq(fresh(b - 2)(0).mkString(" ")) else Nil) :+
        "tiny"
      docs.map(t => (id(), t, ts))
    }
  }

  private def idOf(b: Int, i: Int): Long = batches(b)(i)._1

  test("ingest restarted past a state snapshot equals an uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    /** Feed batches [from, until) to a query on `dir`'s checkpoint. */
    def run(dir: String, in: MemoryStream[(Long, String, Timestamp)],
            from: Int, until: Int): StreamingQuery = {
      val q = StreamingIngest.ingest(in.toDF().toDF("doc_id", "text", "ts"))
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").start()
      try (from until until).foreach { b =>
        in.addData(batches(b))
        q.processAllAvailable()
      } finally q.stop()
      q
    }
    def pairs(dir: String): Seq[(Long, Long, Timestamp)] =
      spark.read.parquet(s"$dir/out").select("doc_a", "doc_b", "ts")
        .as[(Long, Long, Timestamp)].collect().toSeq.sortBy(p => (p._1, p._2))
    def stateRows(q: StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum

    val whole = java.nio.file.Files.createTempDirectory("ingest_whole").toString
    val wholeIn = MemoryStream[(Long, String, Timestamp)]
    val qw = run(whole, wholeIn, 0, Batches)

    val split = java.nio.file.Files.createTempDirectory("ingest_resume").toString
    val splitIn = MemoryStream[(Long, String, Timestamp)]
    val q1 = run(split, splitIn, 0, RestartAfter)
    assert(q1.lastProgress.batchId >= 11, "the first run must pass 10 versions")
    val q2 = run(split, splitIn, RestartAfter, Batches)

    val expected = pairs(whole)
    val resumed = pairs(split)
    assert(resumed === expected)
    assert(resumed.map(p => (p._1, p._2)).distinct.size === resumed.size,
      s"repeated pairs: $resumed")
    // not vacuous: the clone sent after the restart pairs with its
    // original from before it, and the exact repeat of a pre-restart
    // document is dropped instead of pairing
    val got = resumed.map(p => (p._1, p._2)).toSet
    assert(got.contains((idOf(RestartAfter - 1, 0), idOf(RestartAfter, 3))))
    val repeat = idOf(RestartAfter, 5)
    assert(!got.exists(p => p._1 == repeat || p._2 == repeat))
    // restored timers clear the same buckets as in the uninterrupted run
    assert(stateRows(q2) === stateRows(qw))
  }
}
