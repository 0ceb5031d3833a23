package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Persistent ANN index state: the trained index (coarse centroids,
  * PQ codebooks) is the only state carried between runs. A
  * save→load round trip must search identically to the in-session
  * index, and incremental assignment of a corpus slice must equal
  * the restriction of the full assignment — the property that makes
  * batch-by-batch ingest against a frozen index exact.
  */
class IvfStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.01"

  private def vecs = graft.sources.Tables.embeddings(spark, sf)
    .select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    .withColumn("nrm",
      sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))))

  test("centroid save -> load searches identically to the trained index") {
    val cents = Similarity.trainIvfCentroids(spark, sf)
    val path = "target/ivf_state/cents"
    Similarity.saveCentroids(cents, path)
    val loaded = Similarity.loadCentroids(spark, path)
    val direct = Similarity.annIvfTrained(spark, sf).collect().toSeq
    val viaState = Similarity.annIvfWithCentroids(spark, sf, loaded).collect().toSeq
    assert(viaState === direct)
  }

  test("incremental slice assignment equals the full assignment restricted") {
    val loaded = Similarity.loadCentroids(spark, "target/ivf_state/cents")
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
      df.select($"vec_id", $"cid", round($"ccos", 9)).as[(Long, Long, Double)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val full = rows(Similarity.assignWithCentroids(vecs, loaded))
    val slice = rows(Similarity.assignWithCentroids(
      vecs.filter($"vec_id" % 3 === 0), loaded))
    assert(slice.nonEmpty &&
      slice === full.view.filterKeys(_ % 3 == 0).toMap)
  }

  test("PQ codebook save -> load encodes identically") {
    val en = vecs.select(col("vec_id"),
      expr("transform(v, x -> x / nrm)").as("v"))
    val cb = Similarity.trainPqCodebooks(en, checkpoint = true)
    val path = "target/ivf_state/pq"
    Similarity.savePqCodebooks(cb, path)
    val loaded = Similarity.loadPqCodebooks(spark, path)
    import spark.implicits._
    def codes(c: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      Similarity.pqEncodeWith(en, c)
        .select($"vec_id", $"m".cast("int"), $"kid").as[(Long, Int, Long)]
        .collect().toSet
    val direct = codes(cb)
    assert(direct.nonEmpty && codes(loaded) === direct)
  }

  test("zero-norm and NaN vectors fail assignment with the packed-range error") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cv")
    // a zero norm divides by zero; a NaN cosine floors to 0 and would
    // otherwise rank as ccos = 0
    for (bad <- Seq(Seq(0.0, 0.0), Seq(Double.NaN, 1.0))) {
      val e = Seq((1L, Seq(0.6, 0.8)), (2L, bad)).toDF("vec_id", "v")
        .withColumn("nrm",
          sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))))
      val err = intercept[Exception](
        Similarity.assignWithCentroids(e, cents).collect())
      val messages = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains("assignAgainst:")),
        s"$bad: expected the assignAgainst guard, got: ${messages.head}")
    }
  }
}
