package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Live heavy hitters — the streaming twin of the batch
  * `wc_heavy_hitters` query: a space-saving summary (Metwally et al.,
  * same replacement rule as graft.functions.ApproxTopK) maintained
  * incrementally per shard in `transformWithState` state.
  *
  * Scale shape: state is ONE ValueState row per shard holding at most
  * `capacity` (term, count) pairs — bounded regardless of stream
  * length or vocabulary; shards distribute across executors and their
  * summaries merge associatively downstream (same merge the batch
  * aggregate uses between partitions). Emission is the shard's
  * current top `emitK` after each batch that touched it.
  */
object StreamingTopK {

  case class Summary(terms: Seq[String], cnts: Seq[Long])
  case class TopKUpdate(shard: Long, rank: Int, term: String, cnt: Long)

  private val SummaryEncoder = Encoders.product[Summary]

  private[streaming] def add(buf: mutable.HashMap[String, Long],
                             term: String, n: Long, capacity: Int): Unit =
    buf.get(term) match {
      case Some(c) => buf.update(term, c + n)
      case None if buf.size < capacity => buf.update(term, n)
      case None =>
        val (minTerm, minCnt) = buf.minBy { case (t, c) => (c, t) }
        buf.remove(minTerm)
        buf.update(term, minCnt + n)
    }

  class Processor(capacity: Int, emitK: Int)
      extends StatefulProcessor[Long, (Long, String), TopKUpdate] {

    @transient private var summary: ValueState[Summary] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      summary = getHandle.getValueState[Summary](
        "summary", SummaryEncoder, TTLConfig.NONE)

    override def handleInputRows(
        shard: Long,
        rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[TopKUpdate] = {
      val buf = mutable.HashMap.empty[String, Long]
      if (summary.exists()) {
        val s = summary.get()
        s.terms.zip(s.cnts).foreach { case (t, c) => buf.update(t, c) }
      }
      rows.foreach { case (_, w) => add(buf, w, 1L, capacity) }
      val sorted = buf.toSeq.sortBy { case (t, c) => (-c, t) }
      summary.update(Summary(sorted.map(_._1), sorted.map(_._2)))
      sorted.take(emitK).zipWithIndex.iterator.map { case ((t, c), i) =>
        TopKUpdate(shard, i + 1, t, c)
      }
    }

    override def handleExpiredTimer(
        shard: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TopKUpdate] =
      Iterator.empty
  }

  /** stream: (shardKey, term). State per shard ≤ capacity entries. */
  def topK(stream: Dataset[(Long, String)],
           capacity: Int = 64,
           emitK: Int = 10): Dataset[TopKUpdate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_._1)
      .transformWithState(
        new Processor(capacity, emitK),
        TimeMode.None(),
        OutputMode.Update())
  }
}
