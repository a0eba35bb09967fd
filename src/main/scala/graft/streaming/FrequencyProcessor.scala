package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Running per-(group, member) frequency — the streaming heavy-hitters
  * state. */
final case class FreqCount(group: String, member: Long, n: Long)

/** Streaming frequency counting on MapState (arbitrary-state v2): one
  * state operator keyed by the GROUP, with the per-member counts as a
  * MapState inside the key — so member-level updates are point reads/
  * writes against RocksDB, not a read-modify-write of one blob the
  * way flatMapGroupsWithState would store a Map[Long, Long]
  * (re-serialized whole every trigger). That access-pattern
  * difference is the reason v2 exists: per-key state can be LARGE
  * (millions of members) while each trigger touches only the members
  * that arrived.
  *
  * TTL is set per state variable (here 24 h processing-time): counts
  * for members not updated within the horizon are dropped by the
  * store itself — the decayed-heavy-hitters contract, with no timer
  * bookkeeping in user code.
  *
  * Emits the refreshed count for every (group, member) touched by the
  * trigger (Update-mode sink keeps the latest row per pair).
  */
class FrequencyProcessor(protected val ttl: java.time.Duration)
    extends StatefulProcessor[String, (String, Long), FreqCount] with FrequencyCounting

/** The batch→stream migration shape: identical counting logic, but
  * state is SEEDED from a batch-computed snapshot before the first
  * micro-batch (StatefulProcessorWithInitialState). This is how a
  * pipeline cuts over from nightly batch aggregation to streaming
  * without losing history — the snapshot is the last batch output,
  * the stream continues from it, and no reprocessing of the
  * historical log ever happens. handleInitialState runs once per
  * seed row, before any input. */
class SeededFrequencyProcessor(protected val ttl: java.time.Duration)
    extends StatefulProcessorWithInitialState[String, (String, Long), FreqCount, FreqCount]
    with FrequencyCounting {

  override def handleInitialState(key: String, row: FreqCount,
      tv: TimerValues): Unit =
    add(row.member, row.n)
}

/** The counting body both processors share: the TTL'd MapState and the
  * per-trigger update. */
trait FrequencyCounting extends StatefulProcessor[String, (String, Long), FreqCount] {

  protected def ttl: java.time.Duration

  @transient private var counts: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[Long, Long]("counts",
      Encoders.scalaLong, Encoders.scalaLong, TTLConfig(ttl))

  /** Add `d` to `member`'s count; returns the new count. */
  protected def add(member: Long, d: Long): Long = {
    val n = (if (counts.containsKey(member)) counts.getValue(member) else 0L) + d
    counts.updateValue(member, n)
    n
  }

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
      tv: TimerValues): Iterator[FreqCount] = {
    // Batch-local pre-aggregation: one state write per touched member
    // per trigger, not per row.
    val delta = rows.foldLeft(Map.empty[Long, Long]) { case (m, (_, member)) =>
      m.updated(member, m.getOrElse(member, 0L) + 1L)
    }
    // Eager: the state writes must happen inside this call, not when
    // the engine later drains the returned iterator.
    delta.map { case (member, d) => FreqCount(key, member, add(member, d)) }
      .toVector.iterator
  }
}

object FrequencyProcessor {

  /** (group, member) pairs → running per-pair counts, Update mode.
    *
    * The TTL runs on processing time, so under `Trigger.AvailableNow`
    * the engine keeps scheduling no-data batches to evict expired state
    * and the query does not terminate. An AvailableNow run (a backfill)
    * over this operator must set
    * `spark.sql.streaming.noDataMicroBatches.enabled=false`; TTL eviction
    * then happens in data batches only. The same holds for
    * `countsSeeded`. */
  def counts(pairs: Dataset[(String, Long)],
      ttl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[FreqCount] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_._1)
      .transformWithState(new FrequencyProcessor(ttl),
        TimeMode.ProcessingTime, OutputMode.Update, Encoders.product[FreqCount])
  }

  /** Same, with state seeded from a batch snapshot (the cutover
    * shape): `seed` is the last batch aggregate, read once into state
    * before the first trigger. Like `counts`, an AvailableNow run ends
    * only with `spark.sql.streaming.noDataMicroBatches.enabled=false`. */
  def countsSeeded(pairs: Dataset[(String, Long)], seed: Dataset[FreqCount],
      ttl: java.time.Duration = java.time.Duration.ofHours(24)): Dataset[FreqCount] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_._1)
      .transformWithState(new SeededFrequencyProcessor(ttl),
        TimeMode.ProcessingTime, OutputMode.Update,
        seed.groupByKey(_.group),
        Encoders.product[FreqCount], Encoders.product[FreqCount])
  }
}
