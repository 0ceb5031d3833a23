package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The reference's gossip-membership merge as a batch operator.
  *
  * Reference semantics (gossip/gossip.go:87-108 `MergeLeft`, plus the
  * per-node rule in `Update` at gossip.go:64-73): each node carries a
  * heartbeat counter, a last-seen time and an alive flag; merging a
  * received table into the local one is
  *   1. a staleness pass over the LOCAL table — alive rows whose time
  *      is more than FAIL_TIMEOUT behind now flip to dead;
  *   2. a keyed last-writer-wins pass — the remote row replaces the
  *      local one iff the remote is alive AND (its heartbeat is
  *      strictly higher, OR the local row is dead and the remote
  *      heartbeat is strictly LOWER — the restart-revival rule, a
  *      rejoined node restarts its counter from zero);
  *   3. keys present on only one side pass through unchanged.
  *
  * Note the asymmetries that make this more than `max_by(hb)`: a dead
  * remote rumor never wins regardless of its counter, and equal
  * counters keep the local row.
  *
  * Scale shape: `merge_lww` builds both tables in one `events` scan
  * and one aggregate on the node id (each side a conditional aggregate
  * over its parity), so the rule runs with no join. The generic
  * [[Gossip.mergeLeft]] keeps the full-outer join for two independent
  * tables; it shuffles (id, hb, time, alive) rows, never events.
  */
object Gossip {

  /** Generic keyed LWW merge. `left`/`right` need columns
    * (id, hb: long, ts_us: long, alive: boolean); times are epoch
    * microseconds (the engine-portable representation — see
    * sources/Tables.events).
    */
  def mergeLeft(left: DataFrame, right: DataFrame,
                currTimeUs: Long, failTimeoutSec: Long): DataFrame = {
    def side(t: DataFrame, name: String) = t.select(col("id"),
      struct(col("hb"), col("ts_us"), col("alive")).as(name))
    mergePaired(side(left, "l").join(side(right, "r"), Seq("id"), "full_outer"),
      currTimeUs, failTimeoutSec)
  }

  /** The merge rule over rows (id, l, r) of (hb, ts_us, alive) structs,
    * null where the key is absent on a side. The staleness-flipped local
    * `alive` gates the revival rule and is what a winning local row emits.
    */
  private def mergePaired(paired: DataFrame,
                          currTimeUs: Long, failTimeoutSec: Long): DataFrame = {
    val stale = paired.withColumn("l", col("l").withField("alive",
      col("l.alive") &&
        !(lit(currTimeUs) > col("l.ts_us") + lit(failTimeoutSec * 1000000L))))
    val rightWins = col("r.alive") && (col("r.hb") > col("l.hb") ||
      (!col("l.alive") && col("r.hb") < col("l.hb")))
    def won(f: String) =
      when(col("winner") === "right", col(s"r.$f")).otherwise(col(s"l.$f"))
    stale
      .withColumn("winner",
        when(col("l").isNull, lit("right"))
          .when(col("r").isNull, lit("left"))
          .when(rightWins, lit("right"))
          .otherwise(lit("left")))
      .select(col("id").as("node_id"), won("hb").as("hb"),
        won("ts_us").as("last_us"), won("alive").as("alive"), col("winner"))
  }

  // Deterministic merge scenario built from `events`: two membership
  // tables (odd/even event ids = two gossip partners), hb = event
  // count, last-seen = max ts, and a synthetic liveness bit (hb%3<>0)
  // standing in for the gossip alive flag so every merge branch is
  // exercised. "now" = 2024-01-31T00:00:00 (just past the data's max
  // ts), FAIL_TIMEOUT = 4 h — wide enough that both stale and fresh
  // left rows exist.
  private[graft] val CurrTimeUs = 1706659200000000L
  private[graft] val FailTimeoutSec = 14400L

  /** Shipped `merge_lww` query: MergeLeft of the two event-derived
    * membership tables.
    */
  def mergeLww(s: SparkSession, d: String): DataFrame =
    mergeLwwOf(Tables.events(s, d))

  /** [[mergeLww]] over an explicit events frame (spec entry): each
    * parity's (hb, ts_us) is a conditional count/max in one aggregate,
    * a side without events a null struct; a null node id is grouped
    * per parity, since null keys never pair in a full-outer join.
    */
  private[graft] def mergeLwwOf(events: DataFrame): DataFrame = {
    val parity = col("event_id") % 2
    def member(p: Int) = {
      val hb = count(when(parity === p, 1))
      when(hb > 0, struct(hb.as("hb"),
        max(when(parity === p, unix_micros(col("ts")))).as("ts_us"),
        (hb % 3 =!= 0).as("alive")))
    }
    val paired = events.filter(parity === 0 || parity === 1)
      .groupBy(col("user_id").as("id"),
        when(col("user_id").isNull, parity).as("null_id_side"))
      .agg(member(0).as("l"), member(1).as("r"))
    mergePaired(paired, CurrTimeUs, FailTimeoutSec).orderBy(col("node_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "merge_lww" -> mergeLww _,
  )

  private val memberCte =
    """lm AS (SELECT user_id AS id, count(*) AS hb, max(epoch_us(ts)) AS ts_us
      |       FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
      |l0 AS (SELECT id, hb, ts_us, (hb % 3 <> 0) AS alive FROM lm),
      |l AS (SELECT id, hb, ts_us,
      |        alive AND NOT (1706659200000000 > ts_us + 14400000000) AS alive
      |      FROM l0),
      |rm AS (SELECT user_id AS id, count(*) AS hb, max(epoch_us(ts)) AS ts_us
      |       FROM events WHERE event_id % 2 = 1 GROUP BY user_id),
      |r AS (SELECT id, hb, ts_us, (hb % 3 <> 0) AS alive FROM rm)""".stripMargin

  val oracles: Map[String, String] = Map(
    "merge_lww" ->
      s"""WITH $memberCte,
         |m AS (SELECT coalesce(l.id, r.id) AS node_id,
         |        CASE WHEN l.id IS NULL THEN 'right'
         |             WHEN r.id IS NULL THEN 'left'
         |             WHEN r.alive AND (r.hb > l.hb OR (NOT l.alive AND r.hb < l.hb))
         |               THEN 'right'
         |             ELSE 'left' END AS winner,
         |        l.hb AS lhb, l.ts_us AS lts, l.alive AS lal,
         |        r.hb AS rhb, r.ts_us AS rts, r.alive AS ral
         |      FROM l FULL OUTER JOIN r ON l.id = r.id)
         |SELECT node_id,
         |  CASE WHEN winner = 'right' THEN rhb ELSE lhb END AS hb,
         |  CASE WHEN winner = 'right' THEN rts ELSE lts END AS last_us,
         |  CASE WHEN winner = 'right' THEN ral ELSE lal END AS alive,
         |  winner
         |FROM m
         |ORDER BY node_id""".stripMargin,
  )
}
