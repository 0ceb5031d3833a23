package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalytics
import graft.streaming.ReplicatedLog

/** Entry point 3 of the reference (SURVEY §3.3) end-to-end: replay
  * the real golden output (`mr-out-final`, 26,010 ID'd lines) — and
  * the fixture corpus's word-count lines — through the streaming
  * pipeline into a checkpointed sink, then prove the replication
  * guarantee with the reconciliation queries — every ID durable
  * exactly once, no gaps.
  */
class ReplicationE2ESpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  /** Replays `lines` as ID'd lines, `perFile` to a file so the stream
    * sees several source batches (W1), and reconciles the sink
    * against `n` ids.
    */
  private def replicates(lines: Vector[String], perFile: Int, n: Long): Unit = {
    import spark.implicits._
    val dir = tempDir("repl_e2e")
    val ided = lines.zipWithIndex.map { case (l, i) => s"${i + 1}\t$l" }
    new java.io.File(s"$dir/in").mkdirs()
    ided.grouped(perFile).zipWithIndex.foreach { case (chunk, f) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/in/part-$f.txt"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }

    val stream = ReplicatedLog.replaySource(spark, s"$dir/in", maxFilesPerTrigger = 2)
      .select(split(col("value"), "\t").getItem(0).cast("long").as("id"),
              split(col("value"), "\t").getItem(1).as("value"),
              col("ts"))
    val q = ReplicatedLog.start(stream, s"$dir/ckpt", s"$dir/out",
      trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)

    val sink = spark.read.parquet(s"$dir/out")
    assert(sink.count() == n)
    assert(sink.select("id").distinct().count() == n)
    // reconciliation (W3/W4): no missing ranges, no missing ids
    assert(ReplicatedLog.gapRanges(sink.select("id")).isEmpty)
    assert(ReplicatedLog.missingIds(spark, sink.select("id"), n).isEmpty)
    // payload fidelity: re-sorting by id reproduces the input lines
    val replicated = sink.orderBy("id").select("value").as[String].collect()
    assert(replicated.sameElements(lines))
  }

  test("golden output replicates exactly-once with no gaps (W1-W7 e2e)") {
    val golden = ReferenceData.golden
    // leader side: the golden result as ID'd lines, split over several
    // files so the stream sees multiple source batches (W1)
    val lines = {
      val src = scala.io.Source.fromFile(golden)(scala.io.Codec.UTF8)
      try src.getLines().toVector finally src.close()
    }
    replicates(lines, perFile = 7000, n = 26010L)
  }

  test("the fixture word-count lines replicate exactly-once with no gaps") {
    val lines = TextAnalytics.toOutputLines(
      TextAnalytics.wordCount(ReferenceData.fixtureDocs(spark))).collect().toVector
    assert(lines.length > 50)
    replicates(lines, perFile = lines.length / 4 + 1, n = lines.length.toLong)
  }
}
