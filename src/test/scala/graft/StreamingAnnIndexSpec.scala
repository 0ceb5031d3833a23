package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.streaming.StreamingAnnIndex

/** The streaming IVF-PQ index maintainer must serve, after any number
  * of micro-batches, exactly what a batch re-encode of the full
  * ingested corpus against the SAME frozen centroids/codebooks would
  * serve; its state must stay codes-only (no raw vectors); its drift
  * metrics must flag a shifted stream and reset after [[retrain]];
  * and a replayed micro-batch must be idempotent.
  */
class StreamingAnnIndexSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = tempDir(s"graft_sann_$tag")

  private def rawOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("streamed index == batch re-encode at the frozen geometry, across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val all = graft.sources.Tables.embeddings(s, sf)
    val initial = rawOf(all.filter(col("vec_id") % 2 === 0))
    val root = tmp("parity")
    StreamingAnnIndex.init(s, initial, root)

    // stream the odd half in 3 micro-batches
    val odd = all.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val in = MemoryStream[(Long, Array[Double])]
    val q = StreamingAnnIndex.run(in.toDS(), root, tmp("ckpt"))
    try {
      odd.grouped((odd.length + 2) / 3).foreach { b =>
        in.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val lake = rawOf(all)
    val got = rows(StreamingAnnIndex.search(s, lake, root))

    // batch recompute at the SAME frozen geometry: v0's centroids and
    // codebooks, the full corpus re-assigned and re-encoded in one go
    val cb = Similarity.loadPqCodebooks(s, s"$root/v0/codebooks")
    val cents = Similarity.loadCentroids(s, s"$root/v0/centroids")
      .withColumn("cnrm",
        sqrt(graft.functions.DotProduct.dot_product(col("cv"), col("cv"))))
    val e = Similarity.vectorsOf(lake)
    val en = e.select(col("vec_id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    val expected = rows(Similarity.ivfPqSearchFrom(e, cb,
      Similarity.pqEncodeWith(en, cb),
      Similarity.assignWithCentroids(e, cents).select(col("vec_id"), col("cid")),
      cents))
    assert(got == expected, s"${got.size} streamed vs ${expected.size} batch rows")
    assert(got.nonEmpty)
  }

  test("state is codes-only: no raw vectors in any delta artifact") {
    val s = spark
    val all = graft.sources.Tables.embeddings(s, sf)
    val root = tmp("bounded")
    StreamingAnnIndex.init(s, rawOf(all.filter(col("vec_id") % 2 === 0)), root)
    StreamingAnnIndex.applyBatch(
      rawOf(all.filter(col("vec_id") % 2 === 1)), root, 0L)
    for (art <- Seq("codes", "coarse", "stats")) {
      val schema = s.read.parquet(s"$root/v1/$art").schema
      assert(!schema.exists(_.dataType.typeName == "array"),
        s"delta $art must carry no vector arrays: $schema")
    }
    // the delta encodes exactly the batch's vectors, nothing historical
    val n = s.read.parquet(s"$root/v1/coarse").count()
    assert(n == all.filter(col("vec_id") % 2 === 1).count())
  }

  // clustered planted corpus: 3 tight clusters along distinct axes
  private def plantedRaw(ids: Range, axis: Int => Int): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      val v = Array.fill(64)(0.01)
      v(axis(i)) = 10.0 + (i % 7) * 0.01
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("drift: a shifted stream trips needsRetrain; retrain resets it") {
    val s = spark
    val root = tmp("drift")
    // train on clusters along axes 0/1/2 (ids 0..299 → stride 2^4=16
    // keeps ~19 centroids over them)
    val init = plantedRaw(0 until 300, i => i % 3)
    StreamingAnnIndex.init(s, init, root)
    assert(!StreamingAnnIndex.needsRetrain(s, root),
      "freshly trained index must not demand retraining")
    // stream vectors along axis 40 — near-orthogonal to every trained
    // centroid: best-centroid cosine collapses
    val shifted = plantedRaw(1000 until 1200, _ => 40)
    StreamingAnnIndex.applyBatch(shifted, root, 0L)
    val d = StreamingAnnIndex.drift(s, root).collect().head
    assert(StreamingAnnIndex.needsRetrain(s, root),
      s"orthogonal batch must trip the drift gate: $d")
    // retrain over the full grown lake (quiesced stream): the new
    // base explains both regimes again
    val lake = init.unionByName(plantedRaw(1000 until 1200, _ => 40))
    StreamingAnnIndex.retrain(s, lake, root)
    assert(!StreamingAnnIndex.needsRetrain(s, root),
      "retrained index must clear the drift gate")
    // and serving equals a fresh one-shot build over the same lake
    val fresh = tmp("fresh")
    Similarity.buildIvfPqIndexOf(Similarity.vectorsOf(lake), fresh)
    val cb = Similarity.loadPqCodebooks(s, s"$fresh/codebooks")
    val cents = Similarity.loadCentroids(s, s"$fresh/centroids")
      .withColumn("cnrm",
        sqrt(graft.functions.DotProduct.dot_product(col("cv"), col("cv"))))
    val expected = rows(Similarity.ivfPqSearchFrom(
      Similarity.vectorsOf(lake), cb,
      Similarity.loadPqCodes(s, s"$fresh/codes"),
      Similarity.loadCoarseAssignment(s, s"$fresh/coarse"), cents))
    assert(rows(StreamingAnnIndex.search(s, lake, root)) == expected)
  }

  test("a replayed micro-batch is idempotent; incomplete versions invisible") {
    val s = spark
    val root = tmp("replay")
    val all = graft.sources.Tables.embeddings(s, sf)
    StreamingAnnIndex.init(s, rawOf(all.filter(col("vec_id") % 2 === 0)), root)
    val b0 = rawOf(all.filter(col("vec_id") % 4 === 1))
    StreamingAnnIndex.applyBatch(b0, root, 0L)
    val lake = rawOf(all.filter(col("vec_id") % 2 === 0).unionByName(
      all.filter(col("vec_id") % 4 === 1)))
    val first = rows(StreamingAnnIndex.search(s, lake, root))
    StreamingAnnIndex.applyBatch(b0, root, 0L) // the failure-replay path
    assert(StreamingAnnIndex.currentVersion(root) == 1L)
    assert(rows(StreamingAnnIndex.search(s, lake, root)) == first,
      "replaying batch 0 must rewrite v1 identically, not double-append")
    // a version dir without its marker stays invisible
    new java.io.File(s"$root/v2/codes").mkdirs()
    assert(StreamingAnnIndex.currentVersion(root) == 1L)
  }
}
