package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** One scored point per event: the value, how many observations the
  * key had BEFORE this one, the z-score of this value against that
  * history, and the drift verdict. */
final case class DriftPoint(userId: Long, eventId: Long, valueC: Long,
    nBefore: Long, zX100: Long, isDrift: Boolean)

/** Streaming distribution-drift detector on Welford's online
  * mean/variance — the numerically stable single-pass recurrence
  * (n, mean, M2) that a batch window cannot thread incrementally
  * (the same batch-vs-stream asymmetry as EmaProcessor: the batch
  * twin ev_anomaly re-derives its z-test from full-history
  * aggregates every run; this keeps three numbers per key and scores
  * every arriving point in O(1)).
  *
  * Each point is scored against the state BEFORE folding it in
  * (a point must not soften its own anomaly), then absorbed.
  * Scoring starts once the key has `minN` observations; a |z| ≥
  * threshold flags drift. State: one ValueState[(n, mean, M2)] —
  * constant bytes per key on RocksDB, exactly-once under checkpoint
  * restart like every transformWithState processor here.
  */
class DriftProcessor(minN: Int, zThresholdX100: Long)
    extends StatefulProcessor[Long, (Long, Long, Long), DriftPoint] {

  @transient private var st: ValueState[(Long, Double, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Double, Double)]("welford",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      tv: TimerValues): Iterator[DriftPoint] = {
    // In-batch determinism: fold in ascending event_id order, the
    // same arrival-order discipline as EmaProcessor.
    val ordered = rows.toVector.sortBy(_._2)
    val out = Vector.newBuilder[DriftPoint]
    var (n, mean, m2) =
      if (st.exists()) st.get() else (0L, 0.0, 0.0)
    ordered.foreach { case (_, eventId, valueC) =>
      val x = valueC.toDouble
      // m2 == 0 after minN observations means a CONSTANT history: any
      // deviation from it is an infinite-z level shift and must flag —
      // the old `z = 0` guard made a jump after a constant run
      // invisible forever. Represent ±∞ as ±Long.MaxValue (MinValue
      // would overflow math.abs).
      val zX100 =
        if (n < minN) 0L
        else if (m2 > 0) {
          val z = (x - mean) / math.sqrt(m2 / (n - 1))
          // Truncate toward zero, not floor: floor(z·100) flags at
          // z ≤ −2.995 but demands z ≥ +3.00 — sign-asymmetric.
          (z * 100).toLong
        } else if (x != mean) { if (x > mean) Long.MaxValue else -Long.MaxValue }
        else 0L
      out += DriftPoint(key, eventId, valueC, n, zX100,
        n >= minN && math.abs(zX100) >= zThresholdX100)
      n += 1
      val d = x - mean
      mean += d / n
      m2 += d * (x - mean)
    }
    st.update((n, mean, m2))
    out.result().iterator
  }
}

object DriftProcessor {

  /** (userId, eventId, valueCents) triples → per-event drift scores,
    * Append mode. minN=10 observations before scoring; |z| ≥ 3 flags. */
  def scored(points: Dataset[(Long, Long, Long)], minN: Int = 10,
      zThresholdX100: Long = 300L): Dataset[DriftPoint] = {
    import points.sparkSession.implicits._
    // TimeMode.None: no timers and no TTL, so a run-once (AvailableNow)
    // backfill ends with its input; ProcessingTime would schedule
    // no-data batches forever.
    points
      .groupByKey(_._1)
      .transformWithState(new DriftProcessor(minN, zThresholdX100),
        TimeMode.None(), OutputMode.Append, Encoders.product[DriftPoint])
  }
}
