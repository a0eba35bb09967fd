package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** One admission decision per event: allowed or shed, plus the bucket
  * level after the decision (milli-tokens, for observability). */
final case class RateDecision(key: String, eventId: Long, tsMs: Long,
  allowed: Boolean, tokensMilli: Long)

/** Per-key token-bucket rate limiter — the admission-control twin of
  * the reference proxy's backpressure concern (a connection that
  * floods frames must be shed per key, not by collapsing the whole
  * listener; cf. trike's per-connection mailbox pressure,
  * lib/trike/health_checker.ex:60-72 — the metric HealthReporter
  * mirrors). Decisions are EVENT-TIME driven and all-integer
  * (milli-tokens, integer ms), so a replay of the same keyed journal
  * reproduces the same admit/shed sequence bit-for-bit — the same
  * determinism contract as the batch operators' oracles.
  *
  * State per key: (tokensMilli, lastTsMs) — constant bytes, one point
  * read/write per trigger per key. Refill is lazy: tokens accrue as
  * rate·Δt at the next arrival, capped at the burst capacity; no
  * timers, no background work. Rows within a trigger fold in
  * (tsMs, eventId) order — micro-batch iterators carry no order
  * guarantee; cross-trigger order is the ordered-source contract
  * (KeyedOrderedSink / journal replay upstream).
  */
class RateLimiterProcessor(capacityTokens: Long, refillPerSecMilli: Long)
    extends StatefulProcessor[String, (String, Long, Long), RateDecision] {

  private val capMilli = capacityTokens * 1000L

  @transient private var bucket: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    bucket = getHandle.getValueState[(Long, Long)]("bucket",
      Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long)],
      tv: TimerValues): Iterator[RateDecision] = {
    val ordered = rows.toVector.sortBy(r => (r._3, r._2))
    val out = Vector.newBuilder[RateDecision]
    var (tokens, last) =
      if (bucket.exists()) bucket.get() else (capMilli, Long.MinValue)
    ordered.foreach { case (_, eventId, tsMs) =>
      // Lazy refill since the last decision; a first-ever arrival (or
      // an out-of-order ts behind state) refills nothing extra.
      if (last != Long.MinValue && tsMs > last)
        tokens = math.min(capMilli,
          tokens + (tsMs - last) * refillPerSecMilli / 1000L)
      last = math.max(last, tsMs)
      val allowed = tokens >= 1000L
      if (allowed) tokens -= 1000L
      out += RateDecision(key, eventId, tsMs, allowed, tokens)
    }
    bucket.update((tokens, last))
    out.result().iterator
  }
}

object RateLimiterProcessor {

  /** (key, eventId, tsMs) triples → one admit/shed decision per event,
    * Append mode. capacityTokens = burst size; refillPerSecMilli =
    * sustained rate in milli-tokens/second (1000 = 1 event/s). */
  def decisions(events: Dataset[(String, Long, Long)],
      capacityTokens: Long = 10L,
      refillPerSecMilli: Long = 1000L): Dataset[RateDecision] = {
    import events.sparkSession.implicits._
    // TimeMode.None: no timers and no TTL, so a run-once (AvailableNow)
    // backfill ends with its input; ProcessingTime would schedule
    // no-data batches forever.
    events
      .groupByKey(_._1)
      .transformWithState(
        new RateLimiterProcessor(capacityTokens, refillPerSecMilli),
        TimeMode.None(), OutputMode.Append,
        Encoders.product[RateDecision])
  }
}
