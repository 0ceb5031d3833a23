package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** ann_cluster_purity on planted geometry: identical vectors per
  * group make assignment tie-deterministic (pround cosine ties break
  * to the smallest cid), so purity and majority-label tiebreaks are
  * exactly predictable.
  */
class ClusterPuritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("purity and majority tiebreaks are exact on planted clusters") {
    import spark.implicits._
    // stride = max(50, 2^(bits(220)/2)) = 50 → centroids 0,50,100,150,200.
    // group A (ids 0-99): identical [1,0,0,0]; 95x label 1, 5x label 2
    //   → cos 1.0 to BOTH centroids 0 and 50 → all tie-break to cid 0
    // group B (ids 100-199): identical [0,1,0,0], label 2 → cid 100
    // group C (ids 200-219): identical [0,0,1,0]; 10x label 3, 10x
    //   label 1 → cid 200, 50/50 tie → majority = smaller label 1
    val rows =
      (0L until 100L).map(i => (i, if (i < 5) 2 else 1, Seq(1.0, 0.0, 0.0, 0.0))) ++
      (100L until 200L).map(i => (i, 2, Seq(0.0, 1.0, 0.0, 0.0))) ++
      (200L until 220L).map(i => (i, if (i < 210) 3 else 1, Seq(0.0, 0.0, 1.0, 0.0)))
    val df = rows.toDF("vec_id", "label", "v")
      .withColumn("nrm", lit(1.0))
    val got = Similarity.clusterPurityOf(
        df.select(col("vec_id"), col("v"), col("nrm")),
        df.select(col("vec_id"), col("label")))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      0L   -> ((100L, 1, 95L, 950L)),
      100L -> ((100L, 2, 100L, 1000L)),
      200L -> ((20L, 1, 10L, 500L))))
  }

  test("label guard: polices joined rows, ignores unjoined, names null") {
    import spark.implicits._
    val vecs = (0L until 4L).map(i => (i, Seq(1.0, 0.0), 1.0))
      .toDF("vec_id", "v", "nrm")
    def run(lbl: (Long, java.lang.Long)*) =
      Similarity.clusterPurityOf(vecs,
        lbl.toDF("vec_id", "label")).collect()
    // any label value ranks: the majority is the window reference's
    // row_number() over (order by n desc, label) = 1 among the
    // labels that join (identical vectors, so one cluster)
    def reference(lbl: (Long, java.lang.Long)*): (Int, Long) = {
      val joined = lbl.filter(_._1 < 4L).map(_._2.longValue)
      val (label, n) = joined.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.minBy { case (l, c) => (-c, l) }
      (label.toInt, n)
    }
    for (lbl <- Seq(
        Seq[(Long, java.lang.Long)](0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1000000L),
        Seq[(Long, java.lang.Long)](0L -> 1000000L, 1L -> 1000000L, 2L -> -1L, 3L -> -1L),
        Seq[(Long, java.lang.Long)](0L -> 1000000L, 1L -> 1000000L, 2L -> -1L, 3L -> 5L))) {
      val got = run(lbl: _*)
      assert(got.length == 1 && got(0).getLong(1) == 4L)
      assert((got(0).getInt(2), got(0).getLong(3)) == reference(lbl: _*), lbl)
    }
    // null label on a joined vec_id → its own message, not
    // a null-concatenated one
    val e2 = intercept[Exception](run(0L -> 1L, 1L -> null, 2L -> 1L, 3L -> 1L))
    assert(e2.getMessage.contains("null label"), e2.getMessage)
    // bad labels on vec_ids ABSENT from the assignment are dropped by
    // the join exactly as before the guard — no spurious abort
    val ok = run(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      99L -> 1000000L, 98L -> null)
    assert(ok.map(_.getLong(1)).sum == 4L)
  }

  test("purity conserves the corpus on the real embeddings table") {
    val sf = "/root/testdata/sf0.001"
    val rows = Similarity.clusterPurity(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1))
      assert(r.getLong(4) > 0L && r.getLong(4) <= 1000L)
    }
  }
}
