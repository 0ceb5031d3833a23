package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** The persisted-index ANN gate: `ann_ivf_pq_idx` must return the
  * SAME rows as the in-plan `ann_ivf_pq` (training is deterministic
  * and doubles round-trip parquet bit-exactly), and its plan must be
  * search-only — no training subtree.
  */
class IvfPqIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("persisted-index search equals the in-plan train+search rows") {
    val live = Similarity.queries("ann_ivf_pq")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val idx = Similarity.queries("ann_ivf_pq_idx")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(idx == live, "saved index must reproduce the in-plan index")
    assert(idx.nonEmpty)
  }

  test("the idx plan is search-only: no training aggregate in the tree") {
    val plan = Similarity.queries("ann_ivf_pq_idx")(spark, sf)
      .queryExecution.executedPlan.toString
    // the training loop's signature operator is the VectorMean
    // codebook aggregate; a search-only plan must not contain it
    assert(!plan.contains("vector_mean"), plan)
    // ...and it must scan the four persisted index tables
    Seq("centroids", "codebooks", "codes", "coarse").foreach { t =>
      assert(plan.contains(t), s"missing index scan: $t")
    }
  }

  test("persisted RESIDUAL index search equals in-plan ann_ivf_pq_res") {
    val live = Similarity.queries("ann_ivf_pq_res")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val idx = Similarity.queries("ann_ivf_pq_res_idx")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(idx == live, "saved residual index must reproduce the in-plan one")
    assert(idx.nonEmpty)
    val plan = Similarity.queries("ann_ivf_pq_res_idx")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("vector_mean"), plan)
  }

  test("a rebuilt index is byte-deterministic: same search rows again") {
    // second build into a fresh path (not the memoized one): the
    // build must be corpus-deterministic, not run-dependent
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_spec").toFile
    try {
      Similarity.buildIvfPqIndex(spark, sf, tmp.toString)
      val again = Similarity.annIvfPqSearch(spark, sf, tmp.toString)
        .collect().map(_.toSeq).toSeq
      val memo = Similarity.queries("ann_ivf_pq_idx")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(again == memo)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }
}
