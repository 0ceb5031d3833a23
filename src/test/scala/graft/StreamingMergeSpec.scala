package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational
import graft.streaming.StreamingMerge

/** The streaming MERGE maintainer must leave table state that
  * row-equals the one-shot batch `ops_merge_upsert` after the same
  * change log arrives split across micro-batches — in any split —
  * and a replayed micro-batch must rewrite its version with
  * identical rows instead of double-applying its deltas.
  */
class StreamingMergeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = tempDir(s"graft_smerge_$tag")

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] = {
    import spark.implicits._
    df.select("key", "action", "bal_milli").as[(Long, String, Long)]
      .collect().toSet
  }

  test("post-stream state equals the one-shot batch merge, replay-idempotent") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmp("state")
    StreamingMerge.init(Relational.mergeTargetOf(s, sf), root)

    // the SAME change log the batch query derives, split into three
    // micro-batches by key hash (keys don't repeat across batches —
    // the netted-derivation contract the scaladoc documents)
    val changes = Relational.mergeChangesOf(s, sf)
      .as[(Long, String, Long)].collect()
    val batches = (0 until 3).map(i => changes.filter(c =>
      math.floorMod(c._1.##, 3) == i).toSeq)
    assert(batches.forall(_.nonEmpty))

    val in = MemoryStream[(Long, String, Long)]
    val q = StreamingMerge.run(
      in.toDS().toDF("key", "op", "delta_milli"), root, tmp("ckpt"))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val expected = rowSet(
      SparkEntry.queries("ops_merge_upsert")(s, sf))
    val streamed = rowSet(StreamingMerge.state(s, root, 3L))
    assert(streamed === expected)

    // replay micro-batch 2 (at-least-once delivery): version 3 must
    // be rewritten with IDENTICAL rows, not double-applied
    StreamingMerge.applyBatch(root)(
      batches(2).toDF("key", "op", "delta_milli"), 2L)
    assert(rowSet(StreamingMerge.state(s, root, 3L)) === expected)
  }

  test("delete in one batch then insert in a later one re-inserts (CDC order)") {
    val s = spark
    import s.implicits._
    val root = tmp("cdc")
    StreamingMerge.init(Seq((1L, 100L)).toDF("key", "bal_milli"), root)
    StreamingMerge.applyBatch(root)(
      Seq((1L, "delete", 0L)).toDF("key", "op", "delta_milli"), 0L)
    assert(rowSet(StreamingMerge.state(s, root, 1L)).isEmpty)
    StreamingMerge.applyBatch(root)(
      Seq((1L, "insert", 7L)).toDF("key", "op", "delta_milli"), 1L)
    // sequential semantics: the later insert wins (one-shot netting
    // would delete-wins — the documented policy difference)
    assert(rowSet(StreamingMerge.state(s, root, 2L)) ===
      Set((1L, "insert", 7L)))
  }
}
