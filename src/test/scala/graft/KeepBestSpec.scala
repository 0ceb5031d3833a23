package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Pins for the component keep-best argmax: longest member wins, ties
  * go to the lowest doc_id, singleton components keep themselves, and
  * no length or doc_id range is special.
  */
class KeepBestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def frames(comp: Seq[(Long, Long)], docs: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    (comp.toDF("doc_id", "component_id"),
      docs.toDF("doc_id", "n_chars"))
  }

  test("longest member wins; ties break to the lowest doc_id") {
    val (comp, docs) = frames(
      comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), // c1: 2 is longest
                 (4L, 4L), (5L, 4L),           // c4: tie on length → 4
                 (9L, 9L)),                    // singleton
      docs = Seq((1L, 10L), (2L, 50L), (3L, 49L),
                 (4L, 7L), (5L, 7L), (9L, 3L)))
    val got = Dedup.keepBestOf(comp, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 50L), (4L, 2L, 4L, 7L), (9L, 1L, 9L, 3L)))
  }

  test("oracle arithmetic: decode inverts the packed encoding at the edges") {
    val u = 1L << 42
    val (comp, docs) = frames(
      comp = Seq((0L, 0L), (u - 1, 0L)),
      docs = Seq((0L, (1L << 20) - 1), (u - 1, (1L << 20) - 1)))
    // same length → lowest doc_id (0) wins even against the max id
    val got = Dedup.keepBestOf(comp, docs).collect()(0)
    assert(got.getLong(2) == 0L && got.getLong(3) == (1L << 20) - 1)
  }

  test("lengths of 2^20 and more and doc_ids beyond 2^42 rank like any other") {
    val u = 1L << 42
    val (comp, docs) = frames(
      comp = Seq((1L, 1L), (u + 5, 1L), (u + 9, 1L), (2L, 2L)),
      docs = Seq((1L, 1L << 20), (u + 5, 1L << 40), (u + 9, 1L << 40),
                 (2L, Long.MaxValue)))
    val got = Dedup.keepBestOf(comp, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, u + 5, 1L << 40), (2L, 1L, 2L, Long.MaxValue)))
  }
}
