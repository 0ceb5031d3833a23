package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Live SCD2 / change-data-capture — the streaming twin of the batch
  * `evt_scd2` query: each user's event stream compresses to runs of
  * identical consecutive event_type; a run row is emitted the moment
  * the state CHANGES (the next run's first event closes the previous
  * run), so downstream consumers see the temporal dimension grow in
  * real time instead of waiting for a batch rebuild.
  *
  * Input contract: per user, events arrive in (ts, event_id) order
  * ACROSS micro-batches (the replayed-log / CDC-feed semantics of
  * [[ReplicatedLog.replaySource]]); disorder WITHIN a micro-batch is
  * sorted away before applying. Under that contract
  * StreamingScd2Spec proves the closed runs equal the batch query's
  * rows exactly — the still-open tail run per user is the one row
  * streaming cannot emit yet by definition (a drain would read it
  * straight from the state store; the batch query IS that drain).
  *
  * Scale shape: state is ONE fixed-size ValueState row per user
  * (current type, run counter, span, count) — bounded regardless of
  * history length; emission is delta-only (nothing re-emits when a
  * run merely extends).
  */
object StreamingScd2 {

  /** (cur type, 1-based run seq, from/to epoch µs, events in run) */
  case class RunState(typ: String, seq: Long, fromUs: Long, toUs: Long,
                      n: Long)
  case class RunRow(user_id: Long, run_seq: Long, event_type: String,
                    n_events: Long, from_us: Long, to_us: Long)

  private val RunStateEncoder = Encoders.product[RunState]

  /** Input event: (user_id, ts epoch µs, event_id, event_type). */
  type In = (Long, Long, Long, String)

  class Processor extends StatefulProcessor[Long, In, RunRow] {

    @transient private var run: ValueState[RunState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      run = getHandle.getValueState[RunState](
        "run", RunStateEncoder, TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[In],
        timerValues: TimerValues): Iterator[RunRow] = {
      var cur: RunState = if (run.exists()) run.get() else null
      val out = Vector.newBuilder[RunRow]
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, _, typ) =>
        if (cur == null) {
          cur = RunState(typ, 1L, us, us, 1L)
        } else if (cur.typ == typ) {
          cur = cur.copy(toUs = math.max(cur.toUs, us), n = cur.n + 1)
        } else {
          out += RunRow(user, cur.seq, cur.typ, cur.n, cur.fromUs, cur.toUs)
          cur = RunState(typ, cur.seq + 1, us, us, 1L)
        }
      }
      run.update(cur)
      out.result().iterator
    }

    override def handleExpiredTimer(
        user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[RunRow] =
      Iterator.empty
  }

  /** stream: (user_id, ts_us, event_id, event_type) in per-user order
    * across batches. Emits each run when its successor opens.
    */
  def runs(stream: Dataset[In]): Dataset[RunRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_._1)
      .transformWithState(
        new Processor,
        TimeMode.None(),
        OutputMode.Append())
  }
}
