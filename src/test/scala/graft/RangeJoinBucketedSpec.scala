package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** The bucketed range join must equal the plain one row for row —
  * including clicks that land in the PREVIOUS 10-minute bucket and
  * clicks exactly on the window edges — while actually planning the
  * (user, bucket) equi key that bounds its candidate space.
  */
class RangeJoinBucketedSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("bucketed equals plain on the corpus") {
    val a = Relational.q27RangeJoin(spark, sf).collect().toSeq
    val b = Relational.q27RangeJoinBucketed(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("planted edge cases: previous bucket, exact window edges") {
    val s = spark
    import s.implicits._
    // bucket width = 10 min; purchase at 12:05 → bucket b; clicks:
    //   11:54:59 — 10m01s before: OUTSIDE (cts < pts - 10min)
    //   11:55:00 — exactly pts - 10min: INSIDE, lives in bucket b-1
    //   11:59:59 — inside, bucket b-1
    //   12:04:59 — inside, bucket b (same bucket)
    //   12:05:00 — exactly pts: OUTSIDE (cts < pts is strict)
    val base = Timestamp.valueOf("2024-03-01 12:05:00")
    def ts(off: Long) = new Timestamp(base.getTime + off * 1000L)
    val rows = Seq(
      (1L, ts(0), 7L, "purchase", 0.0),
      (2L, ts(-601), 7L, "click", 0.0),
      (3L, ts(-600), 7L, "click", 0.0),
      (4L, ts(-301), 7L, "click", 0.0),
      (5L, ts(-1), 7L, "click", 0.0),
      (6L, ts(0), 7L, "click", 0.0),
      // a different user's click inside the window must not count
      (7L, ts(-5), 8L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = tempDir("graft_rjb")
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q27RangeJoinBucketed(spark, dir).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 1L && got(0).getLong(2) == 3L,
      s"expected 3 in-window clicks, got ${got.toSeq}")
    // and the plain form agrees on the same planted frame
    assert(Relational.q27RangeJoin(spark, dir).collect().toSeq == got.toSeq)
  }

  test("the join plans the (user, bucket) equi key") {
    val plan = Relational.q27RangeJoinBucketed(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("bkt"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"))
  }
}
