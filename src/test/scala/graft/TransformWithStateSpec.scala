package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{SessionProcessor, UserEvent}

/** The arbitrary-state v2 API (transformWithState, Spark 4): gap
  * sessionization with ValueState + event-time timers. Sessions close
  * ONLY when the watermark passes lastSeen + gap — assert both the
  * emission (with exact aggregate) and the non-emission of a session
  * the watermark hasn't proven closed yet. Runs on RocksDB, the
  * provider the v2 API requires (and the 100 TB default). */
class TransformWithStateSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("transformWithState closes sessions via event-time timers") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[UserEvent]
      val out = SessionProcessor.closedSessions(in.toDS(), gapMs = 60000L)
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("tws_sessions").start()
      try {
        // User 1: three events inside one session (10 s apart).
        in.addData(UserEvent(1L, ts(100), 500L), UserEvent(1L, ts(110), 250L),
          UserEvent(1L, ts(120), 250L))
        q.processAllAvailable()
        // Watermark is only at 120 s — no session may close yet.
        assert(spark.table("tws_sessions").count() == 0)

        // User 2 far in the future pushes the watermark past 120+60 s;
        // the timer for user 1 fires on the following trigger.
        in.addData(UserEvent(2L, ts(1000), 100L))
        q.processAllAvailable()
        in.addData(UserEvent(2L, ts(1010), 100L))
        q.processAllAvailable()

        val rows = spark.table("tws_sessions")
          .as[graft.streaming.SessionSummary].collect()
        assert(rows.map(_.userId).toSet == Set(1L), s"got $rows")
        val s1 = rows.find(_.userId == 1L).get
        assert(s1.nEvents == 3 && s1.valueCents == 1000L)
        assert(s1.startMs == 100000L && s1.endMs == 120000L)

        // User 2's session is still open: watermark (1010 s) has not
        // passed its lastSeen + gap (1070 s).
        assert(!rows.exists(_.userId == 2L))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("MapState frequency counts accumulate across a checkpointed restart") {
    // NOTE on draining: the processing-time TTL makes the state
    // operator ask for a no-data batch after every batch, so neither
    // processAllAvailable nor an AvailableNow run would ever end. With
    // no-data batches off, an AvailableNow run ends with its input (TTL
    // eviction then happens in data batches only) — and restarting from
    // the checkpoint between phases additionally proves MapState
    // survives recovery.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("tws_freq_ckpt").toString
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[(String, Long)]
      // foreachBatch, not the memory sink: only the former supports
      // restarting from a checkpoint.
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[graft.streaming.FreqCount]()
      def drain(): Unit = {
        val q = graft.streaming.FrequencyProcessor.counts(in.toDS())
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.FreqCount], _: Long) =>
            df.collect().foreach(buf.add)
          }.start()
        try assert(q.awaitTermination(120000L), "AvailableNow drain must terminate")
        finally q.stop()
      }
      in.addData(("click", 1L), ("click", 1L), ("view", 2L))
      drain()
      in.addData(("click", 1L), ("click", 3L))
      drain()
      val latest = buf.toArray(Array.empty[graft.streaming.FreqCount])
        .groupBy(r => (r.group, r.member))
        .map { case (k, rs) => k -> rs.map(_.n).max }
      assert(latest(("click", 1L)) == 3L) // 2 before the restart, +1 after
      assert(latest(("click", 3L)) == 1L)
      assert(latest(("view", 2L)) == 1L)
    } finally {
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("EmaProcessor: recursive EMA matches the reference fold across a restart") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("tws_ema_ckpt").toString
    try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      import graft.streaming.EmaPoint
      val in = MemoryStream[(Long, Long, Long)]
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[EmaPoint]()
      def drain(): Unit = {
        // α=0.5 is exactly representable, so the reference integers
        // below are bit-exact (0.3·2000 rounds half-ulp-ambiguously).
        val q = graft.streaming.EmaProcessor.smoothed(in.toDS(), alpha = 0.5)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[EmaPoint], _: Long) =>
            df.collect().foreach(buf.add)
          }.start()
        try assert(q.awaitTermination(120000L), "AvailableNow drain must terminate")
        finally q.stop()
      }
      // One trigger with out-of-order event ids (must fold 1,2 in id
      // order), then a restart carrying the state forward.
      in.addData((1L, 2L, 2000L), (1L, 1L, 1000L), (2L, 1L, 500L))
      drain()
      in.addData((1L, 3L, 3000L))
      drain()
      val got = buf.toArray(Array.empty[EmaPoint])
        .map(p => (p.userId, p.eventId) -> p.emaC).toMap
      // Reference fold at α=0.5: 1000; .5·2000+.5·1000 = 1500;
      // .5·3000+.5·1500 = 2250 — the THIRD point proves the state
      // (not the batch) carried the recursion across the restart.
      assert(got((1L, 1L)) == 1000L, s"got $got")
      assert(got((1L, 2L)) == 1500L, s"got $got")
      assert(got((1L, 3L)) == 2250L, s"got $got")
      assert(got((2L, 1L)) == 500L, s"got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("initial-state seeding: stream continues from the batch snapshot") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("tws_seed_ckpt").toString
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      import graft.streaming.FreqCount
      // "Last night's batch aggregate": click/1 seen 5 times, view/9 twice.
      val seed = Seq(FreqCount("click", 1L, 5L), FreqCount("view", 9L, 2L)).toDS()
      val in = MemoryStream[(String, Long)]
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[FreqCount]()
      in.addData(("click", 1L), ("click", 1L), ("click", 7L))
      val q = graft.streaming.FrequencyProcessor.countsSeeded(in.toDS(), seed)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[FreqCount], _: Long) =>
          df.collect().foreach(buf.add)
        }.start()
      try assert(q.awaitTermination(120000L), "AvailableNow drain must terminate")
      finally q.stop()
      val latest = buf.toArray(Array.empty[FreqCount])
        .groupBy(r => (r.group, r.member))
        .map { case (k, rs) => k -> rs.map(_.n).max }
      assert(latest(("click", 1L)) == 7L, // 5 seeded + 2 streamed
        s"stream must continue from the snapshot: $latest")
      assert(latest(("click", 7L)) == 1L) // unseeded member starts at 0
      // view/9 was seeded but saw no stream rows — correctly silent in
      // Update mode.
      assert(!latest.contains(("view", 9L)))
    } finally {
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("ListState funnel completes across batches, partials expire") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      import graft.streaming.{FunnelProcessor, StepEvent, FunnelHit}
      val in = MemoryStream[StepEvent]
      val out = FunnelProcessor.hits(in.toDS(),
        Seq("signup", "click", "purchase"), windowMs = 600000L)
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("tws_funnel").start()
      try {
        // User 1 walks the funnel ACROSS batches (list must persist);
        // user 2 signs up but never converts inside the window.
        in.addData(StepEvent(1L, ts(100), "signup"), StepEvent(2L, ts(100), "signup"))
        q.processAllAvailable()
        in.addData(StepEvent(1L, ts(200), "click"))
        q.processAllAvailable()
        in.addData(StepEvent(1L, ts(300), "purchase"))
        q.processAllAvailable()
        val hits = spark.table("tws_funnel").as[FunnelHit].collect()
        assert(hits.toSeq == Seq(FunnelHit(1L, 100000L, 300000L)))

        // Push the watermark past user 2's GC deadline (100 s + 600 s),
        // then complete the steps too late — the expired signup must
        // not anchor a hit.
        in.addData(StepEvent(3L, ts(2000), "signup"))
        q.processAllAvailable()
        in.addData(StepEvent(2L, ts(2100), "click"),
          StepEvent(2L, ts(2200), "purchase"))
        q.processAllAvailable()
        val after = spark.table("tws_funnel").as[FunnelHit].collect()
        assert(!after.exists(_.userId == 2L),
          s"expired partial must not complete: ${after.toSeq}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("DriftProcessor: level shift flags drift across a restart, stable tail does not") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("tws_drift_ckpt").toString
    try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      import graft.streaming.DriftPoint
      val in = MemoryStream[(Long, Long, Long)]
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[DriftPoint]()
      def drain(): Unit = {
        val q = graft.streaming.DriftProcessor.scored(in.toDS(), minN = 10)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[DriftPoint], _: Long) =>
            df.collect().foreach(buf.add)
          }.start()
        try assert(q.awaitTermination(120000L), "AvailableNow drain must terminate")
        finally q.stop()
      }
      // 12 stable points (alternating 990/1010 around 1000)…
      in.addData((1 to 12).map(i =>
        (1L, i.toLong, if (i % 2 == 0) 1010L else 990L)): _*)
      drain()
      // …then, AFTER a restart (state must carry n/mean/M2), one
      // outlier and one more stable point.
      in.addData((1L, 13L, 2000L), (1L, 14L, 1000L))
      drain()
      val got = buf.toArray(Array.empty[DriftPoint])
        .map(p => p.eventId -> p).toMap
      assert(got.size == 14)
      // warm-up: first 10 points are unscored by contract
      (1 to 10).foreach(i => assert(!got(i.toLong).isDrift && got(i.toLong).zX100 == 0L))
      // stable points inside the band never flag
      assert(!got(11L).isDrift && !got(12L).isDrift)
      assert(math.abs(got(12L).zX100) < 300)
      // the 2000-cent outlier is ~100σ out against the ±10 history
      assert(got(13L).isDrift, s"outlier must flag: ${got(13L)}")
      assert(got(13L).zX100 > 300)
      assert(got(13L).nBefore == 12L, "restart carried the observation count")
      // the point AFTER the outlier is scored against a state the
      // outlier has widened — honest Welford absorption, no flag
      assert(!got(14L).isDrift, s"post-outlier stable point: ${got(14L)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("DriftProcessor: a level shift after a CONSTANT history flags (m2 == 0)") {
    // The r8 ADVICE defect: a key whose first minN observations are
    // identical has m2 == 0, and the old z-guard pinned z to 0 forever
    // — an arbitrary jump after a flat history was invisible. The fix
    // scores x != mean against a zero-variance history as ±∞
    // (±Long.MaxValue), which always flags; x == mean stays quiet.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.streaming.DriftPoint
    val in = MemoryStream[(Long, Long, Long)]
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[DriftPoint]()
    // Key 7: 12 identical points, one more identical (quiet), one
    // shifted up (flag, +∞). Key 8: constant history then a DOWN
    // shift (flag, −∞ — the sign-symmetry half of the fix; it needs
    // its own key because key 7's first shift makes m2 > 0).
    in.addData((1 to 12).map(i => (7L, i.toLong, 500L)) ++
      Seq((7L, 13L, 500L), (7L, 14L, 501L)) ++
      (1 to 12).map(i => (8L, (20 + i).toLong, 500L)) ++
      Seq((8L, 33L, 499L)): _*)
    val q = graft.streaming.DriftProcessor.scored(in.toDS(), minN = 10)
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[DriftPoint], _: Long) =>
        df.collect().foreach(buf.add)
      }.start()
    try assert(q.awaitTermination(120000L), "AvailableNow drain must terminate")
    finally q.stop()
    val got = buf.toArray(Array.empty[DriftPoint])
      .map(p => p.eventId -> p).toMap
    assert(got.size == 27)
    assert(!got(13L).isDrift && got(13L).zX100 == 0L,
      s"constant point on constant history must stay quiet: ${got(13L)}")
    assert(got(14L).isDrift && got(14L).zX100 == Long.MaxValue,
      s"up-shift after constant history must flag: ${got(14L)}")
    assert(got(33L).isDrift && got(33L).zX100 == -Long.MaxValue,
      s"down-shift after constant history must flag: ${got(33L)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("token-bucket rate limiter sheds bursts, refills on event time, keeps state across restarts") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("tws_rate_ckpt").toString
    try {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      import graft.streaming.RateDecision
      val in = MemoryStream[(String, Long, Long)]
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[RateDecision]()
      // Each drain is a fresh checkpointed run, so cross-drain carry IS
      // restart recovery.
      def drain(): Unit = {
        val q = graft.streaming.RateLimiterProcessor
          .decisions(in.toDS(), capacityTokens = 2L, refillPerSecMilli = 1000L)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (df: org.apache.spark.sql.Dataset[RateDecision], _: Long) =>
            df.collect().foreach(buf.add)
          }.start()
        try assert(q.awaitTermination(120000L), "AvailableNow drain must terminate")
        finally q.stop()
      }
      // Burst of 3 at t=0: the 2-token bucket admits 2, sheds 1.
      in.addData(("c1", 1L, 0L), ("c1", 2L, 0L), ("c1", 3L, 0L))
      drain()
      // AFTER a restart (bucket level + last-ts must carry): 1.5 s
      // later, 1.5 tokens accrued -> admit, leaving 0.5; immediate
      // retry sheds. An independent key gets its own full bucket.
      in.addData(("c1", 4L, 1500L), ("c1", 5L, 1500L), ("c2", 6L, 0L))
      drain()
      val got = buf.toArray(Array.empty[RateDecision])
        .map(d => d.eventId -> d).toMap
      assert(got.size == 6)
      assert(got(1L).allowed && got(1L).tokensMilli == 1000L)
      assert(got(2L).allowed && got(2L).tokensMilli == 0L)
      assert(!got(3L).allowed && got(3L).tokensMilli == 0L,
        "third event of the burst must shed")
      assert(got(4L).allowed && got(4L).tokensMilli == 500L,
        s"refill must follow event time across a restart: ${got(4L)}")
      assert(!got(5L).allowed && got(5L).tokensMilli == 500L,
        "half a token does not admit")
      assert(got(6L).allowed && got(6L).tokensMilli == 1000L,
        "keys are isolated")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
