package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** The composed live-ingest pipeline must equal the batch
  * composition: quality gate → exact dedup → near-dup pairs, fed
  * incrementally, yields exactly the pairs the batch operators
  * produce on the surviving documents.
  */
class StreamingIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private val base =
    "the quick brown fox jumps over the lazy dog again and again tonight"
  private val corpus = Seq(
    (1L, base, 100L),
    (2L, base, 100L),            // exact dup — dropped by the cleanse
    (3L, "tiny", 101L),          // below the quality gate
    // same token stream as doc 1 (punctuation only) — different md5,
    // identical minhash signature, so a GUARANTEED candidate pair
    (5L, base + "!!!", 102L))

  test("streaming ingest equals the batch cleanse + pair composition") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // batch twin: gate, exact-dedup keeping lowest doc_id, then the
    // batch minhash pair scan over the survivors
    val survivors = corpus.toDF("doc_id", "text", "sec")
      .filter(graft.functions.ColumnShims.countTokens(col("text")) >= 5)
      .withColumn("text_md5", md5(col("text").cast("binary")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("text_md5")).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("ingest").toString
    survivors.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val batchPairs = graft.operators.Dedup.minhashPairs(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(batchPairs === Set((1L, 5L)))

    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingIngest.ingest(in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      in.addData(corpus.take(3).map { case (id, t, s) => (id, t, ts(s)) })
      q.processAllAvailable()
      in.addData(corpus.drop(3).map { case (id, t, s) => (id, t, ts(s)) })
      q.processAllAvailable()
      val emitted = spark.table("ingest_out").select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSeq
      val streamed = emitted.toSet
      assert(streamed === batchPairs)
      // docs 1 and 5 collide in every band; the pair comes out once
      assert(emitted.size === streamed.size, s"repeated pairs: ${emitted.sorted}")
      // the exact dup and the gated doc never surface
      assert(!streamed.exists(p => p._1 == 2L || p._2 == 2L || p._2 == 3L))
    } finally q.stop()
  }

  test("decontam gate drops every contaminated arrival, admits the rest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma"
    val evalDf = Seq((100L, evalText)).toDF("doc_id", "text")
    val contaminated =
      "prefix words alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu and then a different ending here"
    val stream = Seq(
      (1L, base, 100L),
      (2L, contaminated, 101L),  // shares a 13-gram with the eval set
      (3L, "an entirely clean document about columnar execution engines " +
           "and shuffle exchanges with enough tokens to pass the gate", 102L))

    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingIngest.decontamGate(
        in.toDF().toDF("doc_id", "text", "ts"), evalDf)
      .writeStream.format("memory").queryName("decontam_gate")
      .outputMode("append").start()
    try {
      in.addData(stream.map { case (id, t, s) => (id, t, ts(s)) })
      q.processAllAvailable()
      val admitted = spark.table("decontam_gate").select("doc_id")
        .as[Long].collect().toSet
      // Bloom has no false negatives: doc 2 can never pass
      assert(!admitted.contains(2L), s"contaminated doc admitted: $admitted")
      // clean docs pass (no false positive at this sketch size/corpus)
      assert(admitted == Set(1L, 3L))
    } finally q.stop()
  }

  test("ingest metrics count admitted docs per window, after gate and dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingIngest.metrics(in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("ingest_metrics")
      .outputMode("append").start()
    try {
      // window [100,105): 4 arrivals, 1 gated + 1 exact dup → 2 admitted
      in.addData(corpus.map { case (id, t, s) => (id, t, ts(s)) })
      q.processAllAvailable()
      // advance the watermark far past the window so it finalizes
      in.addData((9L, "late filler document to advance the watermark", ts(200)))
      q.processAllAvailable()
      val rows = spark.table("ingest_metrics")
        .select("win_start", "n_docs").as[(Timestamp, Long)].collect().toMap
      assert(rows(ts(100)) == 2L, s"admitted per window: $rows")
    } finally q.stop()
  }
}
