package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.NearDedup

/** Streaming near-dup candidate pairs must be the batch
  * `dedup_minhash_pairs` computed incrementally: same signatures,
  * same pairs, state bounded by the watermark horizon.
  */
class NearDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("per-row band keys are bit-identical to the batch band table") {
    // sf0.001 sits below the adaptive boundary, so the batch table is
    // 8 bands of 2 rows — the per-row form must match at the SAME
    // explicit geometry (streams pin theirs to the state they join)
    val batch = Dedup.minhashBands(spark, sf)
      .select("doc_id", "band", "sig")
    val perRow = Dedup.withBandKeys(
        graft.sources.Tables.documents(spark, sf), "text", bandRows = 2)
      .select(col("doc_id"), explode(col("bands")).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    assert(batch.except(perRow).isEmpty && perRow.except(batch).isEmpty)
    // every doc with >=3 tokens carries all 8 bands
    assert(perRow.groupBy("doc_id").count().filter(col("count") =!= 8).isEmpty)
  }

  // docs: 1 and 2 are exact dups (every band collides — guaranteed
  // pair), 4 duplicates 1 across batches, 3 and 5 are unrelated.
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again", 100L),
    (2L, "the quick brown fox jumps over the lazy dog again and again", 100L),
    (3L, "completely different words about distributed query engines here", 101L),
    (4L, "the quick brown fox jumps over the lazy dog again and again", 102L),
    (5L, "another unrelated document mentioning parquet files and shuffles", 102L))

  test("streaming pairs equal the batch minhash pair scan on the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("neardedup").toString
    corpus.toDF("doc_id", "text", "sec")
      .select(col("doc_id"), col("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batchPairs = Dedup.minhashPairs(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

    val in = MemoryStream[(Long, String, Timestamp)]
    // geometry-EXPLICIT parity: the batch plan adapts to this tiny
    // corpus (8×2 bands), so the stream must pin the same geometry —
    // the default 4×4 would only agree on corpora whose near-dups are
    // exact clones (which collide under any banding)
    val q = NearDedup.candidatePairs(
        in.toDF().toDF("doc_id", "text", "ts"), bandRows = 2)
      .writeStream.format("memory").queryName("nd_out")
      .outputMode("append").start()
    try {
      in.addData(corpus.take(3).map { case (id, t, s) => (id, t, ts(s)) })
      q.processAllAvailable()
      in.addData(corpus.drop(3).map { case (id, t, s) => (id, t, ts(s)) })
      q.processAllAvailable()
      val emitted = spark.table("nd_out").select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSeq
      val streamed = emitted.toSet
      assert(streamed === batchPairs)
      assert(streamed.contains((1L, 2L)) && streamed.contains((1L, 4L)))
      // exactly once: docs 1, 2 and 4 collide in all 8 bands, and each
      // of their pairs comes out of the lowest band only
      assert(emitted.size === streamed.size, s"repeated pairs: ${emitted.sorted}")
    } finally q.stop()
  }

  test("state is bounded by the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val in = MemoryStream[(Long, String, Timestamp)]
    val q = NearDedup.candidatePairs(
        in.toDF().toDF("doc_id", "text", "ts"), watermark = "10 seconds")
      .writeStream.format("memory").queryName("nd_horizon")
      .outputMode("append").start()
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog again", ts(100)))
      q.processAllAvailable()
      // advances the watermark to 990 s — far past doc 1
      in.addData((2L, "completely unrelated filler text to push the watermark", ts(1000)))
      q.processAllAvailable()
      // exact dup of doc 1, but doc 1's state fell behind the horizon
      in.addData((3L, "the quick brown fox jumps over the lazy dog again", ts(995)))
      q.processAllAvailable()
      val pairs = spark.table("nd_horizon").select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      assert(!pairs.exists(p => p._1 == 1L || p._2 == 3L),
        s"evicted member must not pair: $pairs")
    } finally q.stop()
  }

  test("buckets never revisited are cleared by event-time timers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val in = MemoryStream[(Long, String, Timestamp)]
    val q = NearDedup.candidatePairs(
        in.toDF().toDF("doc_id", "text", "ts"), watermark = "10 seconds")
      .writeStream.format("memory").queryName("nd_ttl")
      .outputMode("append").start()
    try {
      def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      in.addData((1L, "the quick brown fox jumps over the lazy dog again", ts(100)))
      q.processAllAvailable()
      val perDoc = stateRows
      assert(perDoc > 0, "expected state rows for doc 1's buckets")
      // watermark jumps to 990 s; doc 1's timers are not yet expired
      // DURING this batch (it runs at the previous watermark)
      in.addData((2L, "completely unrelated filler text to push the watermark", ts(1000)))
      q.processAllAvailable()
      // this batch runs with watermark 990 s: doc 1's bucket timers
      // fire and clear its state even though nothing touched them
      in.addData((3L, "more unrelated words about columnar shuffles", ts(1001)))
      q.processAllAvailable()
      val after = stateRows
      info(s"state rows: one doc = $perDoc, after 3 docs + expiry = $after")
      assert(after <= 2 * perDoc,
        s"never-revisited buckets kept state: $after rows vs $perDoc per doc")
    } finally q.stop()
  }
}
