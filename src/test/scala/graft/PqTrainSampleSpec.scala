package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** PQ codebook training reads ONLY the bounded pqTrainStride sample:
  * perturbing every non-sample vector must leave the trained
  * codebooks bit-identical. 8192 synthetic vectors → tstride 4
  * (2^(bitlen(8192/2048)−1)), so 3/4 of the corpus is perturbable.
  */
class PqTrainSampleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def corpus(n: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> cos(cast(vec_id * 67 + d AS double)))")
        .as("v"))

  private def cbRows(df: DataFrame): Set[(Int, Long, Seq[Double])] = {
    import spark.implicits._
    df.select(col("m").cast("int"), col("kid").cast("long"), col("kv"))
      .as[(Int, Long, Seq[Double])].collect().toSet
  }

  test("codebooks ignore perturbations outside the training sample") {
    val base = corpus(8192)
    val perturbed = base.select(col("vec_id"),
      when(col("vec_id") % 4 =!= 0,
        expr("transform(v, x -> x * 7.0 + 1.0)")).otherwise(col("v")).as("v"))
    val cb = cbRows(Similarity.trainPqCodebooks(base))
    val cbP = cbRows(Similarity.trainPqCodebooks(perturbed))
    assert(cb.nonEmpty && cb === cbP)
  }

  test("perturbing a sample vector does change the codebooks") {
    val base = corpus(8192)
    val perturbed = base.select(col("vec_id"),
      when(col("vec_id") % 4 === 0,
        expr("transform(v, x -> x * 7.0 + 1.0)")).otherwise(col("v")).as("v"))
    assert(cbRows(Similarity.trainPqCodebooks(base)) !==
      cbRows(Similarity.trainPqCodebooks(perturbed)))
  }

  // the encode runs Argmin's packed form and training its unbounded
  // two-pass form: they must agree wherever the encode's range
  // contract (unit-normalized input, d2 <= 16) holds — including the
  // micro-rounded-tie / lowest-kid tiebreak behavior
  test("bounded encode argmin equals the unbounded training argmin on normalized vectors") {
    val en = corpus(2048).select(col("vec_id"),
      expr("transform(v, x -> x / sqrt(aggregate(v, 0.0d, (a, y) -> a + y * y)))")
        .as("v"))
    val cb = Similarity.trainPqCodebooks(en)
    val sub = Similarity.subVectors(en)
    val bounded = Similarity.assignCodesBounded(sub, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val unbounded = Similarity.assignCodesNarrow(sub, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(bounded.nonEmpty && bounded === unbounded)
  }
}
