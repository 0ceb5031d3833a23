package graft.streaming

import java.sql.Timestamp
import java.time.Duration
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Live conversion funnel — the streaming twin of the batch
  * `q32_funnel` (view → click → purchase with strict event-time
  * ordering) as a Spark 4 `transformWithState` per-user state
  * machine.
  *
  * State is ONE fixed-size row per user (depth + the event time that
  * reached it — 12 bytes of payload), so state volume is bounded by
  * the user population, not by event count; the optional `ttlIdleMs`
  * state TTL further bounds it to the ACTIVE population by evicting
  * users idle past the analysis horizon (spec: `StreamingFunnelSpec`
  * churn workload).
  *
  * Emission is delta-only: a user emits one `FunnelStep` row per
  * depth ADVANCEMENT (append-friendly, keyed upserts downstream);
  * batches that advance nothing emit nothing.
  *
  * Ordering contract: rows within a micro-batch are sorted by event
  * time before applying the state machine, so intra-batch disorder is
  * invisible; ACROSS batches the machine consumes each user's events
  * in arrival order — the standard streaming-funnel contract (a step
  * event arriving after a later-step event was already processed does
  * not retro-advance; the batch twin, which sees all data, is the
  * reconciliation query). Under per-user event-time-ordered arrival
  * the streaming result provably equals the batch funnel
  * (spec-enforced, including cross-batch advancement).
  */
object StreamingFunnel {

  /** One funnel advancement: `user_id` reached `depth` (1 = view,
    * 2 = click, 3 = purchase) at event time `reached_ts`. */
  case class FunnelStep(user_id: Long, depth: Int, reached_ts: Timestamp)

  case class FunnelEvent(user_id: Long, event_type: String, ts: Timestamp)

  /** Internal state machine record. NOT `private`: Spark's generated
    * encoder invokes `FunnelState.depth()`/`reachedMicros()` from
    * janino-compiled code outside this object, so a private class
    * forces a `CompileException` + interpreted-fallback on EVERY
    * micro-batch (ERROR trace + recompile cost). Companion-object
    * placement keeps it out of the public query surface. */
  case class FunnelState(depth: Int, reachedMicros: Long)

  private val FunnelStateEncoder = Encoders.product[FunnelState]

  /** The ordered steps; depth d waits for `Steps(d)`. */
  private val Steps = Array("view", "click", "purchase")

  /** Full-precision event-time micros. `Timestamp.getTime` is
    * millisecond-truncated, which would turn sub-ms-separated events
    * into ties under the strict `>` ordering below while the batch
    * `q32_funnel` compares full microsecond timestamps — so both the
    * intra-batch sort and the ordering comparison go through this. */
  private def microsOf(ts: Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** @param ttlIdleMs evict a user's funnel state after this many ms
    *   of processing-time idleness (<= 0 disables TTL). Caps state
    *   by the ACTIVE user population under churn: a funnel horizon of
    *   e.g. 7 days means a user silent that long restarts at depth 0,
    *   which is the standard analysis-window semantic. */
  class Processor(ttlIdleMs: Long = 0L)
      extends StatefulProcessor[Long, FunnelEvent, FunnelStep] {

    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl =
        if (ttlIdleMs > 0) new TTLConfig(Duration.ofMillis(ttlIdleMs))
        else TTLConfig.NONE
      st = getHandle.getValueState[FunnelState](
        "funnel", FunnelStateEncoder, ttl)
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelStep] = {
      var s = if (st.exists()) st.get() else FunnelState(0, Long.MinValue)
      val out = Seq.newBuilder[FunnelStep]
      // sort the batch by event time: intra-batch disorder must not
      // change the machine's outcome
      rows.toSeq.sortBy(e => microsOf(e.ts)).foreach { e =>
        if (s.depth < Steps.length && e.event_type == Steps(s.depth)) {
          val micros = microsOf(e.ts)
          // strict ordering: the next step must be LATER than the
          // time the current depth was reached (first view exempt)
          if (s.depth == 0 || micros > s.reachedMicros) {
            s = FunnelState(s.depth + 1, micros)
            out += FunnelStep(user, s.depth, e.ts)
          }
        }
      }
      st.update(s)
      out.result().iterator
    }

    override def handleExpiredTimer(
        user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelStep] =
      Iterator.empty
  }

  /** Per-user funnel advancement stream (append mode).
    *
    * @param ttlIdleMs optional idle-state TTL (processing time; <= 0
    *   disables). TTL requires `TimeMode.ProcessingTime` so the state
    *   store can stamp entries — selected automatically. */
  def steps(stream: Dataset[FunnelEvent], ttlIdleMs: Long = 0L): Dataset[FunnelStep] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val timeMode =
      if (ttlIdleMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    stream
      .groupByKey(_.user_id)
      .transformWithState(new Processor(ttlIdleMs), timeMode, OutputMode.Append())
  }
}
