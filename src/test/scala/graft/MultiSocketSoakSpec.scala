package graft

import java.net.Socket
import java.nio.charset.StandardCharsets

import graft.sources.MultiSocketSource
import graft.streaming.{KinesisLikeSink, OcsPipeline, RawPacket}
import org.scalatest.funsuite.AnyFunSuite

/** Soak of the PRODUCTION default path: Main's
  * default source is now `graft-multisocket` (the reference's Ranch
  * listener, application.ex:1-30), so this drives Main.start's exact
  * wiring — multi-connection TCP → watermark → stateful framing →
  * CloudEvent JSON → KeyedOrderedSink — with N concurrent connections
  * sending M bursts each, a mid-run stop, and a restart from the same
  * checkpoint. Asserts: every frame lands exactly once, per-connection
  * put order equals send order, and the sequence chain never breaks
  * (KinesisLikeSink.put throws on a stale seqForOrdering, so surviving
  * the run IS the ordering assertion). */
class MultiSocketSoakSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val EOT = OcsPipeline.EOT

  private val nConns = 4
  private val nBursts = 3
  private val framesPerBurst = 5
  private val perPhase = nConns * nBursts * framesPerBurst

  private def awaitPort(name: String): Int = {
    var port = 0
    val deadline = System.nanoTime() + 10e9.toLong
    while (port == 0 && System.nanoTime() < deadline) {
      val p = MultiSocketSource.boundPorts.get(name)
      if (p != null) port = p.intValue() else Thread.sleep(50)
    }
    assert(port > 0, "source did not publish its bound port")
    port
  }

  private def awaitPuts(q: org.apache.spark.sql.streaming.StreamingQuery,
      want: Int): Unit = {
    val until = System.nanoTime() + 60e9.toLong
    while (MultiSocketSoakSpec.sink.all.size < want &&
        System.nanoTime() < until) {
      q.processAllAvailable()
      if (MultiSocketSoakSpec.sink.all.size < want) Thread.sleep(100)
    }
    assert(MultiSocketSoakSpec.sink.all.size >= want,
      s"timed out at ${MultiSocketSoakSpec.sink.all.size}/$want puts")
  }

  test("soak: 4 connections x 3 bursts through Main.start, mid-run restart") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("soak-ckpt").toString
    MultiSocketSoakSpec.sink = new KinesisLikeSink
    val cfg = Main.Config(
      staleTimeoutMs = 24 * 3600 * 1000L, checkpointDir = ckpt,
      queryName = "graft-soak")

    def startPipeline() = Main.start(
      spark.readStream.format("graft-multisocket")
        .option("port", "0").option("name", "soak1").load().as[RawPacket],
      cfg, () => MultiSocketSoakSpec.sink)

    def phase(q: org.apache.spark.sql.streaming.StreamingQuery,
        tag: String, already: Int): Unit = {
      val port = awaitPort("soak1")
      val socks = (0 until nConns).map(_ => new Socket("127.0.0.1", port))
      try {
        for (m <- 0 until nBursts) {
          socks.zipWithIndex.foreach { case (s, c) =>
            // One PACKET (the source is line-delimited, like the
            // reference's gen_tcp packet: :line) carrying an EOT-framed
            // burst — the multi-frame-per-packet shape StatefulFraming
            // splits and pos-orders.
            val burst = (0 until framesPerBurst)
              .map(f => s"$tag-c$c-m$m-f$f$EOT").mkString + "\n"
            s.getOutputStream.write(burst.getBytes(StandardCharsets.UTF_8))
            s.getOutputStream.flush()
          }
          awaitPuts(q, already + (m + 1) * nConns * framesPerBurst)
        }
      } finally socks.foreach(_.close())
    }

    val q1 = startPipeline()
    try phase(q1, "p1", 0) finally q1.stop()

    // Mid-run restart: same checkpoint, fresh listener (new ephemeral
    // port), new connections. The restored source offset must
    // fast-forward past phase 1 and the sink's replay cursor must not
    // re-put anything.
    MultiSocketSource.boundPorts.remove("soak1")
    val q2 = startPipeline()
    try phase(q2, "p2", perPhase) finally q2.stop()

    val sink = MultiSocketSoakSpec.sink
    val all = sink.all
    assert(all.size == 2 * perPhase,
      s"exactly-once across the restart: ${all.size} vs ${2 * perPhase}")
    def raw(data: String): String = {
      val pre = "\"data\":{\"raw\":\""
      val i = data.indexOf(pre) + pre.length
      data.substring(i, data.indexOf("\"", i))
    }
    val raws = all.map(r => raw(r.data))
    assert(raws.distinct.size == raws.size, "no duplicate frames")
    assert(raws.toSet ==
      (for (t <- Seq("p1", "p2"); c <- 0 until nConns; m <- 0 until nBursts;
            f <- 0 until framesPerBurst) yield s"$t-c$c-m$m-f$f").toSet)
    // Per-connection order: each TCP connection is one partition key;
    // within it, (burst, frame) must arrive in send order. (The chain
    // check in put() already enforces seq monotonicity per key.)
    all.groupBy(_.partitionKey).foreach { case (k, puts) =>
      val ordered = puts.sortBy(_.seq).map(r => raw(r.data))
      assert(ordered == ordered.sortBy { s =>
        val Array(_, _, m, f) = s.split("-")
        (m.drop(1).toInt, f.drop(1).toInt)
      }, s"$k: per-connection put order must equal send order")
    }
  }
}

object MultiSocketSoakSpec {
  /** Static holder (see KeyedOrderedSink.PutClient docs): executor
    * closures resolve the shared sink instead of serializing it. */
  @volatile var sink: KinesisLikeSink = _
}
