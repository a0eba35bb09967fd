package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.streaming.{KeyedOrderedSink, KinesisLikeSink}

/** A `PutClient` that delegates to one `KinesisLikeSink`, times the
  * calls into it and checks the sequence chain on its own side, not
  * trusting the sink's. Untraced it reads the clock once per put, after
  * the put returns, which is what latency needs; traced it also times
  * every call and aggregates puts per (batch, key). */
final class TimedClient(val sink: KinesisLikeSink, traced: Boolean)
    extends KeyedOrderedSink.PutClient {

  /** Put-return time in microseconds, indexed by the sequence number
    * the sink assigned. Guarded by the sink's own monitor. */
  private var returned = new Array[Long](1 << 16)
  val puts = new AtomicLong
  val failures = new AtomicLong
  val putNs = new AtomicLong
  val cursorNs = new AtomicLong
  val lastSeqNs = new AtomicLong
  val replaySkips = new AtomicLong
  /** The chain as this client saw it: the sequence number each key's
    * last put returned. Guarded by the sink's own monitor. */
  private val chain = scala.collection.mutable.Map.empty[String, Long]
  /** Puts whose `seqForOrdering` was not the sequence number the key's
    * previous put returned, or that returned a number not above it. */
  val badChain = new AtomicLong
  /** (batchId, key) -> (puts, put ns, first put µs, last put µs). */
  val perBatchKey = new ConcurrentHashMap[(Long, String), Array[Long]]()

  override def put(partitionKey: String, data: String,
      seqForOrdering: Option[Long], batchId: Long): Long = {
    val t0 = if (traced) System.nanoTime() else 0L
    try sink.synchronized {
      val prev = chain.get(partitionKey)
      if (seqForOrdering != prev) badChain.incrementAndGet()
      val seq = sink.put(partitionKey, data, seqForOrdering, batchId)
      val now = Clock.micros()
      if (prev.exists(_ >= seq)) badChain.incrementAndGet()
      chain(partitionKey) = seq
      if (seq >= returned.length)
        returned = java.util.Arrays.copyOf(returned,
          math.max(returned.length * 2, seq.toInt + 1))
      returned(seq.toInt) = now
      puts.incrementAndGet()
      if (traced) {
        val ns = System.nanoTime() - t0
        putNs.addAndGet(ns)
        val a = perBatchKey.computeIfAbsent((batchId, partitionKey),
          _ => Array(0L, 0L, now, now))
        a(0) += 1; a(1) += ns; a(3) = now
      }
      seq
    } catch {
      case e: Throwable => failures.incrementAndGet(); throw e
    }
  }

  override def lastSequence(partitionKey: String): Option[Long] =
    if (!traced) sink.lastSequence(partitionKey)
    else {
      val t0 = System.nanoTime()
      try sink.lastSequence(partitionKey)
      finally lastSeqNs.addAndGet(System.nanoTime() - t0)
    }

  override def putsInBatch(partitionKey: String, batchId: Long): Long =
    if (!traced) sink.putsInBatch(partitionKey, batchId)
    else {
      val t0 = System.nanoTime()
      val n = try sink.putsInBatch(partitionKey, batchId)
        finally cursorNs.addAndGet(System.nanoTime() - t0)
      replaySkips.addAndGet(n)
      n
    }

  /** Put-return time (µs) of the record the sink numbered `seq`. */
  def returnedAt(seq: Long): Long = sink.synchronized(returned(seq.toInt))
}

/** Static holder the task closures resolve, as `Main.main` holds its
  * sink: executors in local mode share the driver's instance instead
  * of deserializing a copy. */
object Wire {
  @volatile var client: TimedClient = _
  /** Client factory calls: one per sink task. */
  val factoryCalls = new AtomicLong
  val factory: () => KeyedOrderedSink.PutClient = () => {
    factoryCalls.incrementAndGet()
    client
  }
}
