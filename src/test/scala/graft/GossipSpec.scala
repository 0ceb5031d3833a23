package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Gossip
import graft.sources.Tables

/** Branch coverage of Gossip.mergeLeft against the reference rules
  * (gossip/gossip.go:87-108): staleness flip, alive-gated higher-hb
  * win, dead-rumor rejection, restart revival, equal-hb keep-left,
  * one-sided pass-through. `merge_lww`'s one-scan form is pinned to
  * the two-scan composition it replaced (two per-parity membership
  * aggregates, full-outer merged by `mergeLeft`).
  */
class GossipSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val now = 10_000_000_000L // epoch µs
  private val timeoutSec = 100L     // stale once ts_us < now - 100e6

  private def table(rows: Seq[(Long, Long, Long, Boolean)]) = {
    import spark.implicits._
    rows.toDF("id", "hb", "ts_us", "alive")
  }

  private val fresh = now - 1000000L      // well within the timeout
  private val stale = now - 200000000L    // 200 s ago — past the timeout

  test("mergeLeft applies every reference branch") {
    val left = table(Seq(
      (1L, 5L, fresh, true),   // right has higher hb + alive → right wins
      (2L, 5L, fresh, true),   // right higher hb but DEAD → left stands
      (3L, 9L, stale, true),   // left goes stale; right alive lower hb → revival
      (4L, 5L, fresh, true),   // equal hb → left stands
      (5L, 5L, stale, true),   // left-only: stale pass flips alive to false
      (7L, 2L, fresh, false),  // left dead, right alive higher hb → right wins
    ))
    val right = table(Seq(
      (1L, 8L, fresh, true),
      (2L, 9L, fresh, false),
      (3L, 1L, fresh, true),
      (4L, 5L, fresh, false),
      (6L, 3L, fresh, true),   // right-only: passes through
      (7L, 4L, fresh, true),
    ))
    val out = graft.operators.Gossip.mergeLeft(left, right, now, timeoutSec)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getString(4)))).toMap

    assert(out(1L) == ((8L, fresh, true, "right")))
    assert(out(2L) == ((5L, fresh, true, "left")))
    assert(out(3L) == ((1L, fresh, true, "right")), "restart revival must win")
    assert(out(4L) == ((5L, fresh, true, "left")), "equal hb keeps local")
    assert(out(5L) == ((5L, stale, false, "left")), "stale left flips to dead")
    assert(out(6L) == ((3L, fresh, true, "right")))
    assert(out(7L) == ((4L, fresh, true, "right")))
    assert(out.size == 7)
  }

  test("merge is idempotent: merging a table into itself is a no-op on fresh rows") {
    val t = table(Seq((1L, 5L, fresh, true), (2L, 3L, fresh, false)))
    val out = graft.operators.Gossip.mergeLeft(t, t, now, timeoutSec)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3), r.getString(4)))
    assert(out.toSet == Set((1L, 5L, true, "left"), (2L, 3L, false, "left")))
  }

  /** The two-scan `merge_lww` composition: one membership aggregate
    * per event-id parity, merged by the generic full-outer `mergeLeft`.
    */
  private def twoScanMergeLww(events: DataFrame): DataFrame = {
    def membership(parity: Int) = events
      .filter(col("event_id") % 2 === parity)
      .groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).as("hb"), max(unix_micros(col("ts"))).as("ts_us"))
      .withColumn("alive", col("hb") % 3 =!= 0)
    Gossip.mergeLeft(membership(0), membership(1),
      Gossip.CurrTimeUs, Gossip.FailTimeoutSec).orderBy(col("node_id"))
  }

  test("one-scan merge_lww equals the two-scan composition at sf0.01") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val got = Gossip.mergeLwwOf(ev).collect().toSeq
    assert(got.nonEmpty)
    assert(got == twoScanMergeLww(ev).collect().toSeq)
  }

  test("one-scan merge_lww equals the two-scan composition on edge cases") {
    import spark.implicits._
    val nowMs = Gossip.CurrTimeUs / 1000
    val fresh = new Timestamp(nowMs - 3600000L)       // 1 h before now
    val old = new Timestamp(nowMs - 86400000L)        // 24 h: past the 4 h timeout
    val ev = Seq[(Option[Long], Timestamp, Option[Long])](
      (Some(0L), fresh, Some(1L)),                    // 1: even only → left-only
      (Some(1L), fresh, Some(2L)),                    // 2: odd only → right-only
      (Some(3L), fresh, Some(2L)),
      (Some(2L), fresh, Some(3L)),                    // 3: -3 and null ids dropped
      (Some(-3L), fresh, Some(3L)),
      (None, fresh, Some(3L)),
      (Some(-5L), fresh, Some(9L)),                   // 9: only dropped ids → absent
      (Some(4L), old, Some(4L)),                      // 4: stale left (hb 2, alive→dead),
      (Some(6L), old, Some(4L)),                      //    right alive lower hb → revival
      (Some(5L), fresh, Some(4L)),
      (Some(8L), old, Some(5L)),                      // 5: stale left (hb 2), right dead
      (Some(10L), old, Some(5L)),                     //    (hb 3) → left wins, dead
      (Some(7L), fresh, Some(5L)),
      (Some(9L), fresh, Some(5L)),
      (Some(11L), fresh, Some(5L)),
      (Some(12L), fresh, Some(6L)),                   // 6: equal hb, both fresh → left
      (Some(14L), fresh, Some(6L)),
      (Some(13L), fresh, Some(6L)),
      (Some(15L), fresh, Some(6L)),
      (Some(16L), fresh, None),                       // null node id on both parities:
      (Some(17L), fresh, None),                       //    null keys never pair
    ).toDF("event_id", "ts", "user_id")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = rows(Gossip.mergeLwwOf(ev))
    assert(got == rows(twoScanMergeLww(ev)))
    val fUs = fresh.getTime * 1000; val oUs = old.getTime * 1000
    assert(got == Seq(
      s"[1,1,$fUs,true,left]",
      s"[2,2,$fUs,true,right]",
      s"[3,1,$fUs,true,left]",
      s"[4,1,$fUs,true,right]",
      s"[5,2,$oUs,false,left]",
      s"[6,2,$fUs,true,left]",
      s"[null,1,$fUs,true,left]",
      s"[null,1,$fUs,true,right]").sorted)
  }
}
