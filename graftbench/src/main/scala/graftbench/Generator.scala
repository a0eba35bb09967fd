package graftbench

import java.io.{BufferedOutputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Shape of one workload's traffic. The seed never sets a rate. */
final case class Traffic(conns: Int, frameBytes: Int, framesPerPacket: Int,
  heartbeatShare: Double, split: Boolean)

/** One connection's seeded frame stream, cut into newline-terminated
  * packets (the source is line-delimited).
  *
  * A data frame reads `D<conn>.<n>.<filler>.<dueMicros>`: `n` counts
  * the connection's data frames from 0 and `dueMicros` is the due time
  * of the packet that completes the frame. The stamp sits after the
  * filler, so a split frame can only be cut inside its filler and the
  * completing packet appends the stamp when it is built. */
final class Feed(conn: Int, seed: Long, t: Traffic) {
  import Feed._
  private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + conn)
  /** The rest of a frame whose head went out in the previous packet:
    * a heartbeat's remaining letters, or a data frame's remaining
    * filler (its stamp still to come). */
  private var openRest: String = null
  private var openIsData = false
  var dataFrames = 0L
  var frames = 0L
  var packets = 0L

  /** Seeded fillers of varied length, drawn per frame: one random draw
    * per frame keeps the generator's own CPU use small next to the
    * pipeline it loads. */
  private val fillers: Array[String] = Array.fill(FillerPool) {
    val spread = t.frameBytes / 4
    val n = math.max(8, t.frameBytes - 24 - spread + rng.nextInt(2 * spread + 1))
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = Alphabet.charAt(rng.nextInt(Alphabet.length)); i += 1 }
    new String(c)
  }

  private def filler(): String = fillers(rng.nextInt(FillerPool))

  private def completeOpen(sb: java.lang.StringBuilder, due: Long): Unit = {
    sb.append(openRest)
    if (openIsData) { sb.append('.').append(due); dataFrames += 1 }
    sb.append(EOT)
    frames += 1
    openRest = null
  }

  private def fullFrame(sb: java.lang.StringBuilder, due: Long): Unit =
    if (rng.nextDouble() < t.heartbeatShare) {
      sb.append(Heartbeat).append(EOT); frames += 1
    } else {
      sb.append('D').append(conn).append('.').append(dataFrames).append('.')
        .append(filler()).append('.').append(due).append(EOT)
      dataFrames += 1; frames += 1
    }

  /** Head of the next frame; its rest goes out with the next packet. */
  private def openFrame(sb: java.lang.StringBuilder): Unit =
    if (rng.nextDouble() < t.heartbeatShare) {
      val cut = 1 + rng.nextInt(Heartbeat.length - 1)
      sb.append(Heartbeat, 0, cut)
      openRest = Heartbeat.substring(cut); openIsData = false
    } else {
      val f = filler()
      val cut = 1 + rng.nextInt(f.length - 1)
      sb.append('D').append(conn).append('.').append(dataFrames).append('.')
        .append(f, 0, cut)
      openRest = f.substring(cut); openIsData = true
    }

  /** The next packet, every frame it completes stamped `dueMicros`.
    * Returns the packet bytes and the number of frames it completes. */
  def next(dueMicros: Long): (Array[Byte], Int) = {
    val before = frames
    val sb = new java.lang.StringBuilder(t.framesPerPacket * (t.frameBytes + 24))
    if (openRest != null) completeOpen(sb, dueMicros)
    val full =
      if (t.split) math.max(1, t.framesPerPacket - 2 + rng.nextInt(3))
      else t.framesPerPacket
    var i = 0
    while (i < full) { fullFrame(sb, dueMicros); i += 1 }
    if (t.split) openFrame(sb)
    sb.append('\n')
    packets += 1
    (sb.toString.getBytes(US_ASCII), (frames - before).toInt)
  }

  /** The packet that completes an open frame, if one is open. */
  def finish(dueMicros: Long): Option[Array[Byte]] =
    if (openRest == null) None
    else {
      val sb = new java.lang.StringBuilder()
      completeOpen(sb, dueMicros)
      sb.append('\n')
      packets += 1
      Some(sb.toString.getBytes(US_ASCII))
    }
}

object Feed {
  val EOT: Char = '\u0004'
  val Heartbeat = "HEARTBEAT"
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val FillerPool = 256

  /** (conn, n, dueMicros) of a data frame's raw text. */
  def parse(raw: String): Option[(Int, Long, Long)] =
    if (raw.isEmpty || raw.charAt(0) != 'D') None
    else {
      val a = raw.indexOf('.')
      val b = raw.indexOf('.', a + 1)
      val z = raw.lastIndexOf('.')
      if (a < 0 || b < 0 || z <= b) None
      else scala.util.Try((raw.substring(1, a).toInt,
        raw.substring(a + 1, b).toLong, raw.substring(z + 1).toLong)).toOption
    }
}

/** Microseconds on the harness's monotonic clock: the generator stamps
  * due times with it and the put client reads it, in one JVM. */
object Clock {
  def micros(): Long = System.nanoTime() / 1000L
}

/** A stretch of the generator's schedule; no rate means saturation.
  * It ends at `endNs` or once each connection has sent `packets`. */
final case class Segment(startNs: Long, endNs: Long, framesPerSecPerConn: Option[Double],
  packets: Long = Long.MaxValue)

/** The open-loop load generator: one thread and one connection per
  * feed. On the fixed schedule a packet is due when the frames before
  * it, at the per-connection rate, have been due; a packet sent late is
  * still stamped with its due time, so a stall counts against every
  * frame it delays. When a segment ends it completes any open frame. */
final class Generator(port: Int, seed: Long, t: Traffic,
    localPorts: Seq[Int]) {
  val feeds: IndexedSeq[Feed] = (0 until t.conns).map(new Feed(_, seed, t))
  val sockets: IndexedSeq[Socket] = localPorts.map { lp =>
    val s = new Socket()
    s.setReuseAddress(true)
    s.setSoLinger(true, 0)
    s.setTcpNoDelay(true)
    // A small send buffer keeps the bytes in flight at the end of
    // saturation, and so the drain, short.
    s.setSendBufferSize(1 << 16)
    s.bind(new InetSocketAddress("127.0.0.1", lp))
    s.connect(new InetSocketAddress("127.0.0.1", port))
    s
  }.toIndexedSeq
  // Buffered so saturation can batch packets into few writes; a packet
  // sent on the schedule is flushed at once.
  private val outs: IndexedSeq[OutputStream] =
    sockets.map(s => new BufferedOutputStream(s.getOutputStream, 1 << 15))
  /** Lateness of each packet due inside the measured fixed window. */
  val lateNs: IndexedSeq[ArrayBuffer[Long]] = feeds.map(_ => ArrayBuffer.empty[Long])
  @volatile private var failure: Throwable = null

  def dataFrames: Long = feeds.map(_.dataFrames).sum
  def frames: Long = feeds.map(_.frames).sum
  def packets: Long = feeds.map(_.packets).sum

  /** Send `n` packets per connection at once, stamped now. */
  def burst(n: Int): Unit = feeds.indices.foreach { c =>
    for (_ <- 0 until n) outs(c).write(feeds(c).next(Clock.micros())._1)
    outs(c).flush()
  }

  /** Run `seg` on one thread per connection and wait for it. With a
    * rate it sends on that schedule, counted from the segment's start;
    * without one it sends as fast as TCP accepts. Lateness is recorded
    * for packets due in [lateFromNs, lateToNs). */
  def run(seg: Segment, lateFromNs: Long, lateToNs: Long): Unit = {
    val threads = feeds.indices.map { c =>
      val th = new Thread(() => try {
        val feed = feeds(c)
        val out = outs(c)
        val nsPerFrame = seg.framesPerSecPerConn.map(1e9 / _)
        var scheduled = 0L
        var sent = 0L
        var now = System.nanoTime()
        if (now < seg.startNs) {
          java.util.concurrent.locks.LockSupport.parkNanos(seg.startNs - now)
          now = System.nanoTime()
        }
        while (now < seg.endNs && sent < seg.packets) {
          val pkt = nsPerFrame match {
            case Some(ns) =>
              val due = seg.startNs + (scheduled * ns).toLong
              if (due >= seg.endNs) {
                java.util.concurrent.locks.LockSupport.parkNanos(seg.endNs - now)
                null
              } else {
                if (now < due) java.util.concurrent.locks.LockSupport.parkNanos(due - now)
                if (due >= lateFromNs && due < lateToNs)
                  lateNs(c) += math.max(0L, System.nanoTime() - due)
                feed.next(due / 1000L)
              }
            case None => feed.next(Clock.micros())
          }
          if (pkt != null) {
            out.write(pkt._1)
            if (nsPerFrame.isDefined) out.flush()
            scheduled += pkt._2
            sent += 1
          }
          now = System.nanoTime()
        }
        feed.finish(Clock.micros()).foreach(out.write)
        out.flush()
      } catch { case e: Throwable => failure = e })
      th.setName(s"graftbench-gen-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    if (failure != null) throw new IllegalStateException("generator failed", failure)
  }

  def close(): Unit = sockets.foreach(s => scala.util.Try(s.close()))
}

object Generator {
  /** `n` distinct local ports for the generator's connections, drawn
    * from the seed. The connection id (`127.0.0.1:port`) is the
    * partition key, so the ports decide which shuffle partition each key
    * lands in; each run records that placement. Ports lie below the
    * kernel's ephemeral range; a port already bound is skipped. */
  def localPorts(seed: Long, n: Int): Seq[Int] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val out = ArrayBuffer.empty[Int]
    var tries = 0
    while (out.size < n) {
      require(tries < 100000, "no free local ports")
      tries += 1
      val p = 20000 + rng.nextInt(12000)
      if (!out.contains(p) && free(p)) out += p
    }
    out.toSeq
  }

  /** Shuffle partition of a connection's key, as Spark's hash
    * partitioning computes it: pmod(murmur3(key, 42), partitions). */
  def partitionOf(port: Int, partitions: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"127.0.0.1:$port"),
      org.apache.spark.sql.types.StringType, 42L).toInt
    ((h % partitions) + partitions) % partitions
  }

  private def free(p: Int): Boolean = scala.util.Try {
    val s = new Socket()
    s.setReuseAddress(true)
    try s.bind(new InetSocketAddress("127.0.0.1", p)) finally s.close()
  }.isSuccess
}
