package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's pure parts. */
class StatsSpec extends AnyFunSuite {

  test("a percentile needs ten batches beyond it") {
    // 12 batches of 10 frames, every batch waits the same: the slowest
    // frame of each batch lies beyond p90, so all 12 batches support it.
    val even = for (b <- 0 until 12; f <- 0 until 10) yield (b.toLong, f * 100.0 + b)
    val values = even.map(_._2).toArray
    val batches = even.map(_._1).toArray
    assert(Stats.supportBeyond(values, batches, 0.9) == 12)
    assert(Stats.supported(values, batches, 0.9))
    // One slow batch owns most of the tail: the 12 values beyond p90 are
    // its 10 frames and the slowest frames of two other batches.
    val skewed = even.map { case (b, v) => (b, if (b == 3) v + 10000 else v) }
    val sv = skewed.map(_._2).toArray
    assert(Stats.supportBeyond(sv, batches, 0.9) == 3)
    assert(!Stats.supported(sv, batches, 0.9))
    assert(Stats.highestSupported(sv, batches).contains(0.75))
    assert(Stats.highestSupported(Array(1.0, 2.0), Array(0L, 1L)).isEmpty)
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Array(7.0), 0.5) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("backlog slope: exact on a line, near zero on a flat sawtooth") {
    val t = (0 until 200).map(_ * 0.1).toArray
    assert(math.abs(Stats.slope(t, t.map(5.0 * _ + 3.0)) - 5.0) < 1e-9)
    // Buffered rows fill for one trigger interval, then the batch takes them.
    val saw = t.map(x => 1000.0 * (x % 1.0))
    assert(math.abs(Stats.slope(t, saw)) < 10.0)
    val growing = t.zip(saw).map { case (x, y) => y + 400.0 * x }
    assert(math.abs(Stats.slope(t, growing) - 400.0) < 10.0)
  }

  test("order checker catches one swapped pair") {
    assert(Stats.firstOrderViolation(Array(0L, 1L, 2L, 3L, 4L)) == -1)
    assert(Stats.firstOrderViolation(Array(0L, 1L, 3L, 2L, 4L)) == 3)
    assert(Stats.firstOrderViolation(Array(0L, 1L, 1L, 2L)) == 2)
    assert(Stats.firstOrderViolation(Array.empty[Long]) == -1)
  }

  test("id recompute matches the CloudEventIdSpec vectors") {
    // base64(sha1(time ++ raw)), computed independently of the JVM.
    assert(Stats.cloudEventId("2024-01-02T03:04:05.123456Z", "4,050,TMOV") ==
      "iEzrsqNpd7vmcjdbQ1RAHW9lrng=")
    assert(Stats.cloudEventId("2024-01-02T03:04:05.123456Z", "") ==
      "IuRHbOJZHn8zEMKyar2lW4lCaNI=")
    assert(Stats.cloudEventId("2026-08-12T00:00:00.000000Z", "click,12345") ==
      "cr5n1zb+epTtgkbl59bSqakXcSg=")
  }

  test("CloudEvent fields are read by key; an escape defers to a parser") {
    val json = """{"data":{"raw":"D0.7.abc.123"},"id":"x+y=","partitionkey":"127.0.0.1:1","source":"s","sourceip":"127.0.0.1","specversion":"1.0","time":"2024-01-02T03:04:05.123456Z","type":"t"}"""
    assert(Stats.eventFields(json).contains(("D0.7.abc.123", "2024-01-02T03:04:05.123456Z", "x+y=")))
    assert(Stats.eventFields(json.replace("abc", "a\\\"bc")).isEmpty)
  }

  test("a fleet feed's packets reassemble into stamped frames across splits") {
    val t = Traffic(conns = 4, frameBytes = 64, framesPerPacket = 4,
      heartbeatShare = 0.5, split = true)
    val feed = new Feed(2, 7L, t)
    val packets = (0 until 200).map(i => feed.next(1000L + i)) ++ feed.finish(9999L).map(p => (p, 1))
    val text = packets.map(p => new String(p._1, "US-ASCII").stripSuffix("\n")).mkString
    val frames = text.split(Feed.EOT.toString, -1)
    assert(frames.last.isEmpty, "the last frame is complete")
    val data = frames.dropRight(1).flatMap(Feed.parse)
    assert(data.length == feed.dataFrames)
    assert(data.map(_._2).toSeq == (0L until feed.dataFrames))
    assert(data.forall(_._1 == 2))
    assert(frames.count(_ == Feed.Heartbeat) + data.length == feed.frames)
    val hb = frames.count(_ == Feed.Heartbeat).toDouble / feed.frames
    assert(hb > 0.4 && hb < 0.6)
    // A packet ends inside a frame; its tail comes with the next packet.
    assert(packets.take(199).forall(p => new String(p._1, "US-ASCII").stripSuffix("\n").last != Feed.EOT))
    // Same seed, same bytes.
    val again = new Feed(2, 7L, t)
    assert((0 until 200).map(i => again.next(1000L + i)._1.toSeq) == packets.take(200).map(_._1.toSeq))
  }

  test("ports are drawn from the seed alone") {
    val ports = Generator.localPorts(11L, 4)
    assert(ports.distinct.size == 4)
    assert(Generator.localPorts(11L, 4) == ports)
    assert(Generator.localPorts(12L, 4) != ports)
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(Span(1, 0, "batch", "b", 0, 10000),
      Span(2, 1, "stage", "s1", 1000, 3000), Span(3, 1, "stage", "s2", 2000, 5000),
      Span(4, 1, "stage", "s3", 9000, 12000))
    val self = Span.selfSeconds(spans)
    assert(math.abs(self("batch") - 5.0) < 1e-9)
    assert(math.abs(self("stage") - 8.0) < 1e-9)
  }
}
