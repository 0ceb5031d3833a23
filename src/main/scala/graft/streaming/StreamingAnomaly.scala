package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Live traffic-anomaly detection — the streaming twin of the batch
  * `evt_anomaly` query: each finalized (event_type, hour) count is
  * z-scored against that type's trailing 24-hour window, held in
  * `transformWithState` state.
  *
  * Input contract: FINALIZED hourly counts (event_type, hour_id, cnt)
  * — upstream is the watermarked tumbling-window aggregation
  * ([[EventAnalytics.windowedStats]] shape, append mode), which emits
  * each window exactly once when the watermark passes it, in
  * nondecreasing hour order per key.
  *
  * Determinism contract: the arithmetic is byte-for-byte the batch
  * query's — integer sufficient statistics (n, Σcnt, Σcnt²) over the
  * trailing RANGE-24 frame, mean/variance/z in the same double
  * expression order, the same exact-integer zero-variance guard
  * s2·n > sm² and n ≥ 12 warm-up — so StreamingAnomalySpec can assert
  * row equality, not approximate agreement.
  *
  * Scale shape: state is ONE ValueState row per event_type holding at
  * most 24 (hour, cnt) pairs — bounded regardless of stream length;
  * keys distribute across executors. Out-of-order rows WITHIN a
  * micro-batch are sorted by hour before applying; entries older than
  * maxHour − 24 are evicted on every update. At-least-once upstream
  * delivery is handled: a replayed (type, hour) at or below the
  * state's high-water hour is dropped, so the append sink sees each
  * finalized hour's row exactly once.
  */
object StreamingAnomaly {

  case class History(hours: Seq[Long], cnts: Seq[Long])
  case class AnomalyRow(event_type: String, hour_id: Long, cnt: Long,
                        n_frame: Long, mean: Double, z: Double,
                        is_anomaly: Boolean)

  private val HistoryEncoder = Encoders.product[History]

  private def pround4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  /** The batch query's arithmetic on a trailing frame; None when the
    * warm-up or zero-variance guard rejects the hour.
    */
  private[streaming] def score(frame: Seq[Long], hour: Long, cnt: Long,
                               typ: String): Option[AnomalyRow] = {
    val n = frame.size.toLong
    val sm = frame.sum
    val s2 = frame.map(c => c * c).sum
    if (n < 12 || s2 * n <= sm * sm) None
    else {
      val mean = sm.toDouble / n
      val variance = (s2 - sm.toDouble * sm / n) / (n - 1)
      val z = (cnt - mean) / math.sqrt(variance)
      Some(AnomalyRow(typ, hour, cnt, n, pround4(mean), pround4(z),
        math.abs(z) > 2.0))
    }
  }

  class Processor extends
      StatefulProcessor[String, (String, Long, Long), AnomalyRow] {

    @transient private var hist: ValueState[History] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getValueState[History](
        "hist", HistoryEncoder, TTLConfig.NONE)

    override def handleInputRows(
        typ: String,
        rows: Iterator[(String, Long, Long)],
        timerValues: TimerValues): Iterator[AnomalyRow] = {
      var entries: Vector[(Long, Long)] =
        if (hist.exists()) {
          val h = hist.get()
          h.hours.zip(h.cnts).toVector
        } else Vector.empty
      val out = Vector.newBuilder[AnomalyRow]
      // at-least-once replay guard: a re-delivered finalized hour would
      // recompute the identical frame and re-emit a duplicate row into
      // the append sink. Entries always retain the last APPLIED hour
      // (the current hour survives every eviction filter), so
      // max(entry hour) IS the high-water mark — no extra state field.
      var lastApplied: Long =
        if (entries.nonEmpty) entries.map(_._1).max else Long.MinValue
      rows.toSeq.sortBy(_._2).foreach { case (_, hour, cnt) =>
        if (hour > lastApplied) {
          val frame = entries.collect {
            case (h, c) if h >= hour - 24 && h <= hour - 1 => c
          }
          score(frame, hour, cnt, typ).foreach(out += _)
          entries = (entries :+ (hour, cnt))
            .filter(_._1 > hour - 24) // only the trailing day feeds future frames
            .sortBy(_._1)
          lastApplied = hour
        } // else: replayed (type, hour) — already applied, drop silently
      }
      hist.update(History(entries.map(_._1), entries.map(_._2)))
      out.result().iterator
    }

    override def handleExpiredTimer(
        typ: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AnomalyRow] =
      Iterator.empty
  }

  /** The composed live pipeline from RAW events: watermarked tumbling
    * 1-hour counts (append mode — each window emits once, finalized,
    * in nondecreasing hour order per key, satisfying [[anomalies]]'
    * input contract by construction) chained into the anomaly state —
    * TWO stateful operators in one continuous query, the watermark
    * propagating through the aggregation into the
    * `transformWithState` stage. StreamingAnomalySpec proves the
    * end-to-end composition equals batch `evt_anomaly` on every
    * finalized hour.
    */
  def fromEvents(events: org.apache.spark.sql.DataFrame,
                 lateness: String = "10 minutes"): Dataset[AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val hourly = events
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("ts"), "1 hour"),
        org.apache.spark.sql.functions.col("event_type"))
      .count()
      .selectExpr("event_type", "unix_micros(window.start) div 3600000000",
        "count")
      .as[(String, Long, Long)]
    anomalies(hourly)
  }

  /** stream: (event_type, hour_id, cnt) finalized hourly counts.
    * State per type ≤ 24 (hour, cnt) pairs.
    */
  def anomalies(
      stream: Dataset[(String, Long, Long)]): Dataset[AnomalyRow] = {
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
