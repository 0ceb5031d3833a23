package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ReplicatedLog
import graft.streaming.ReplicatedLog.LogRecord

/** Streaming replication pipeline (SURVEY §2.7 W1-W7) against
  * MemoryStream fixtures (FIXTURES.md §3).
  */
class ReplicatedLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("gapRanges finds every missing range incl. the leading one (W3)") {
    import spark.implicits._
    val observed = Seq(3L, 4L, 8L, 9L, 12L).toDF("id")
    val gaps = ReplicatedLog.gapRanges(observed, startId = 1L)
      .as[(Long, Long)].collect().toSeq
    assert(gaps == Seq((1L, 2L), (5L, 7L), (10L, 11L)))
  }

  test("gapRanges is empty on a dense sequence") {
    import spark.implicits._
    val observed = Seq(1L, 2L, 3L, 4L).toDF("id")
    assert(ReplicatedLog.gapRanges(observed).isEmpty)
  }

  test("missingIds = anti-join form of the same scan (W3/W4)") {
    import spark.implicits._
    val observed = Seq(1L, 4L, 5L).toDF("id")
    val missing = ReplicatedLog.missingIds(spark, observed, maxId = 6L)
      .as[Long].collect().toSeq
    assert(missing == Seq(2L, 3L, 6L))
  }

  test("streaming dedupe: duplicate ids collapse within and across batches (W6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LogRecord]
    val q = ReplicatedLog.dedupe(in.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(LogRecord(1, "a", ts(100)), LogRecord(2, "b", ts(100)),
                 LogRecord(1, "a-dup", ts(100)))
      q.processAllAvailable()
      in.addData(LogRecord(2, "b-dup", ts(101)), LogRecord(3, "c", ts(101)))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("watermark drops stale rows (W2: older than 2 s is discarded)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[LogRecord]
    val q = ReplicatedLog.dedupe(in.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      in.addData(LogRecord(1, "fresh", ts(100)))
      q.processAllAvailable() // watermark advances to 98 s
      in.addData(LogRecord(99, "stale", ts(10))) // way below watermark
      q.processAllAvailable()
      val ids = spark.table("late_out").select("id").as[Long].collect().toSeq
      assert(ids == Seq(1L))
    } finally q.stop()
  }

  test("checkpointJson renders the reference's id->line map format (S8)") {
    import spark.implicits._
    val sink = Seq((1L, "a 1"), (2L, "b 2")).toDF("id", "value")
    val json = ReplicatedLog.checkpointJson(sink)
    assert(json == """{"1":"a 1","2":"b 2"}""")
  }

  test("checkpointJson refuses sinks beyond the driver-side size guard") {
    import spark.implicits._
    val sink = Seq((1L, "a 1"), (2L, "b 2"), (3L, "c 3")).toDF("id", "value")
    val e = intercept[IllegalArgumentException] {
      ReplicatedLog.checkpointJson(sink, maxRows = 2)
    }
    assert(e.getMessage.contains("writeJsonl"))
  }

  test("checkpointed sink resumes without loss or dupes (W5/W7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("repl").toString
    val in = MemoryStream[LogRecord]
    def start() = ReplicatedLog.start(in.toDF(), s"$dir/ckpt", s"$dir/out",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    def sink(): Seq[(Long, String)] = spark.read.parquet(s"$dir/out")
      .select("id", "value").as[(Long, String)].collect().sortBy(_._1).toSeq

    val q1 = start()
    try {
      in.addData(LogRecord(1, "a", ts(100)), LogRecord(2, "b", ts(100)),
                 LogRecord(2, "dup", ts(100)))
      q1.processAllAvailable()
    } finally q1.stop()
    val before = sink()
    assert(before.map(_._1) == Seq(1L, 2L))

    // restart on the same checkpoint, then re-send ids 1 and 2 (inside
    // the watermark, so only the restored dedup state can drop them)
    // together with new ids 3 and 4
    val q2 = start()
    try {
      in.addData(LogRecord(2, "b-again", ts(101)), LogRecord(3, "c", ts(101)),
                 LogRecord(1, "a-again", ts(101)), LogRecord(4, "d", ts(102)))
      q2.processAllAvailable()
      val batchIds = q2.recentProgress.map(_.batchId)
      assert(batchIds.nonEmpty && batchIds.min >= 1,
        s"the restarted query resumes after the checkpointed batches: $batchIds")
    } finally q2.stop()
    val rows = sink()
    assert(rows.map(_._1) == Seq(1L, 2L, 3L, 4L), rows)
    assert(rows.take(2) == before, "re-sent ids keep their first value")
  }
}
