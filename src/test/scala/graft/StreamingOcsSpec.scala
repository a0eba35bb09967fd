package graft

import graft.streaming.{KeyedOrderedSink, KinesisLikeSink, OcsPipeline, RawPacket}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

final case class UserEv(user_id: Long, ts: java.sql.Timestamp)

/** SURVEY §2 #8: end-to-end readStream → frame → heartbeat filter →
  * CloudEvent → partition-keyed sink with per-key ordering. */
class StreamingOcsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val EOT = OcsPipeline.EOT

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("ocs pipeline end-to-end over a memory stream with ordered keyed sink") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val input = MemoryStream[RawPacket]
    val sink = new KinesisLikeSink
    StreamingOcsSpec.sharedSink = sink

    val query = OcsPipeline.cloudEvents(input.toDF())
      .writeStream
      .outputMode("append")
      // The production writer: distributed per-key chain enforcement
      // (KeyedOrderedSinkSpec covers its contract in isolation).
      .foreachBatch(KeyedOrderedSink.orderedPuts(
        () => StreamingOcsSpec.sharedSink,
        keyCol = "partitionkey", dataCol = "raw",
        orderCols = Seq("receiveTs", "pos")))
      .start()

    try {
      // batch 1: conn-a gets two frames + a heartbeat + partial tail;
      // conn-b one frame.
      input.addData(
        RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:00:00"),
          s"m1${EOT}HEARTBEAT${EOT}m2${EOT}PARTIAL"),
        RawPacket("conn-b", "10.0.0.2", ts("2026-01-01 10:00:01"),
          s"b1${EOT}"))
      query.processAllAvailable()
      // batch 2: more data for conn-a — must chain after batch 1.
      input.addData(
        RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:00:05"),
          s"m3${EOT}"))
      query.processAllAvailable()
    } finally query.stop()

    assert(sink.byKey("conn-a").map(_.data) == Seq("m1", "m2", "m3"),
      "frames in order, heartbeat and partial tail dropped")
    assert(sink.byKey("conn-b").map(_.data) == Seq("b1"))
    val seqA = sink.byKey("conn-a").map(_.seq)
    assert(seqA == seqA.sorted, "per-key sequence strictly ordered")
  }

  test("watermarked tumbling window aggregate on a stream (SURVEY #29)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count()
    val query = agg.writeStream
      .outputMode("append")
      .format("memory").queryName("win_counts")
      .start()

    try {
      input.addData(
        (ts("2026-01-01 10:10:00"), "click"),
        (ts("2026-01-01 10:20:00"), "click"),
        (ts("2026-01-01 10:40:00"), "purchase"))
      query.processAllAvailable()
      // advance the watermark beyond 11:00 so the 10:00 window closes…
      input.addData((ts("2026-01-01 13:00:00"), "click"))
      query.processAllAvailable()
      // …and one more batch so the closed window is emitted (append
      // mode emits finalized windows on the following trigger).
      input.addData((ts("2026-01-01 13:05:00"), "click"))
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("win_counts")
      .select(col("window.start").cast("string"), col("event_type"), col("count"))
      .as[(String, String, Long)].collect().toSet
    assert(out.contains(("2026-01-01 10:00:00", "click", 2L)))
    assert(out.contains(("2026-01-01 10:00:00", "purchase", 1L)))
  }

  test("native session_window sessionizes a stream, emitting closed sessions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val in = MemoryStream[UserEv]
    val out = in.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count()
      .select(col("user_id"), col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("count"))
      .writeStream.format("memory").queryName("ssw").outputMode("append").start()
    try {
      // user 7: two events 10 min apart (one session), then a 40-min
      // silence, then one more (second session).
      in.addData(
        UserEv(7, ts("2026-01-01 10:00:00")),
        UserEv(7, ts("2026-01-01 10:10:00")))
      out.processAllAvailable()
      in.addData(UserEv(7, ts("2026-01-01 10:50:00")))
      out.processAllAvailable()
      // Advance the watermark far enough to close both sessions.
      in.addData(UserEv(7, ts("2026-01-01 12:30:00")))
      out.processAllAvailable()
    } finally out.stop()

    val got = spark.table("ssw")
      .select(col("s").cast("string"), col("e").cast("string"), col("count"))
      .as[(String, String, Long)].collect().toSet
    assert(got.contains(("2026-01-01 10:00:00", "2026-01-01 10:40:00", 2L)),
      s"first session (2 events, end = last+gap): $got")
    assert(got.contains(("2026-01-01 10:50:00", "2026-01-01 11:20:00", 1L)),
      s"second session after the 40-min gap: $got")
  }

  test("stream-static enrichment joins the stream against a broadcast dimension") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // Static dimension from the batch tables; the stream enriches
    // against it per micro-batch — the standard lookup-join shape.
    // The dim is broadcast, so the stream side never shuffles.
    val dim = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("lang"))
    val in = MemoryStream[UserEv]
    val out = in.toDF()
      .join(broadcast(dim), col("user_id") === col("doc_id"))
      .select(col("user_id"), col("lang"))
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      in.addData(UserEv(0, ts("2026-01-01 10:00:00")),
        UserEv(1, ts("2026-01-01 10:00:01")),
        UserEv(999999, ts("2026-01-01 10:00:02"))) // no dim row: dropped
      out.processAllAvailable()
    } finally out.stop()

    val expected = dim.filter(col("doc_id").isin(0L, 1L))
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect().toSet
    val got = spark.table("enrich").as[(Long, String)].collect().toSet
    assert(got == expected, s"got $got expect $expected")
  }
}

object StreamingOcsSpec {
  /** foreachBatch closures are serialized; route the assertion sink
    * through a static field so the driver-side spec can read it. */
  @volatile var sharedSink: KinesisLikeSink = _
}
