package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** One smoothed point per event: the value observed and the EMA
  * after folding it in (integer cents, floored once at emission). */
final case class EmaPoint(userId: Long, eventId: Long, valueC: Long, emaC: Long)

/** Streaming exponential moving average — the true RECURSIVE form
  * (state = α·x + (1−α)·state) that the batch operator
  * Events.ts_ema can only truncate (a batch window can't thread a
  * recursion; a ValueState can). This is the canonical
  * batch-vs-stream asymmetry the SURVEY calls out for smoothing: the
  * stream keeps one double per key and is EXACT over the full
  * history, the batch twin re-derives a K-term approximation per row.
  *
  * State: one ValueState[Double] per user — constant bytes per key,
  * point read + write per trigger per key. Rows within a trigger are
  * folded in ascending event_id order (micro-batch iterators carry
  * no order guarantee); cross-trigger order is arrival order, as for
  * any streaming accumulator fed by an ordered source (the keyed
  * journal replay / KeyedOrderedSink contract upstream).
  */
class EmaProcessor(alpha: Double)
    extends StatefulProcessor[Long, (Long, Long, Long), EmaPoint] {

  @transient private var ema: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    ema = getHandle.getValueState[Double]("ema", Encoders.scalaDouble,
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      tv: TimerValues): Iterator[EmaPoint] = {
    val ordered = rows.toVector.sortBy(_._2)
    val out = Vector.newBuilder[EmaPoint]
    var cur = if (ema.exists()) Some(ema.get()) else None
    ordered.foreach { case (_, eventId, valueC) =>
      val next = cur match {
        case None => valueC.toDouble // first observation seeds the EMA
        case Some(s) => alpha * valueC + (1 - alpha) * s
      }
      cur = Some(next)
      out += EmaPoint(key, eventId, valueC, math.floor(next).toLong)
    }
    cur.foreach(ema.update)
    out.result().iterator
  }
}

object EmaProcessor {

  /** (userId, eventId, valueCents) triples → per-event smoothed
    * points, Append mode (each input row emits exactly one output). */
  def smoothed(points: Dataset[(Long, Long, Long)], alpha: Double = 0.3)
      : Dataset[EmaPoint] = {
    import points.sparkSession.implicits._
    // TimeMode.None: no timers and no TTL, so a run-once (AvailableNow)
    // backfill ends with its input; ProcessingTime would schedule
    // no-data batches forever.
    points
      .groupByKey(_._1)
      .transformWithState(new EmaProcessor(alpha),
        TimeMode.None(), OutputMode.Append, Encoders.product[EmaPoint])
  }
}
