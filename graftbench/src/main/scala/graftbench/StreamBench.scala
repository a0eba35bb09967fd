package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, Main}
import graft.sources.MultiSocketSource
import graft.streaming.{HealthListener, KinesisLikeSink, RawPacket}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Settings of one benchmark run: the command line, plus the
  * workload's entry in `workloads.json`. */
final case class Opts(workload: String, seed: Long, seconds: Int,
  trace: Boolean, out: Path, workDir: Path, cpus: Int, traffic: Traffic,
  rateFps: Double, maxBufferedRows: Int, satPackets: Long, stamps: Map[String, Any])

/** What one pass measured. `e2e` holds the end-to-end metrics (a
  * latency is None when the run is invalid); `layers` the per-layer
  * ones, filled only when the pass was traced. */
final case class PassResult(e2e: Map[String, Option[Double]], setups: Seq[Double],
  layers: Map[String, Any], attempted: Long, failed: Long, correct: Boolean,
  stamps: Map[String, Any], info: Map[String, Any], spans: Seq[Span])

/** The benchmark harness for graft's streaming product: an open-loop
  * generator feeding the production wiring (`Main.start` over a
  * `graft-multisocket` source, `HealthListener` registered, one
  * `KinesisLikeSink` behind a timing `PutClient`).
  *
  * A pass is: set up one or more times (session, source and query,
  * generator connections, a warm burst put end to end) keeping the
  * last; warm up flat out, then at the fixed rate; measure at the
  * fixed rate (a window of at least `MinWindowBatches` batches); let the
  * fixed window's frames land; measure in saturation; drain; check
  * every put. */
object StreamBench {

  /** Set-ups in the traced run's untraced pass: the first, cold one is
    * `setup_s` and the warm one is what the traced pass's set-up is
    * compared with. An end-to-end run sets up once, cold. */
  val SetupReps = 2
  /** Source buffers of packets sent flat out in the untimed warm-up. */
  val WarmupBuffers = 2
  /** Seconds at the fixed rate before the measured window opens. */
  val WarmupS = 1.0
  /** Share of `--seconds` at the fixed rate; saturation has the rest. */
  val FixedShare = 0.75
  /** Micro-batches the fixed window must span, so that the tail has
    * support to spare. A window that spans fewer, because the host made
    * batches outlast the trigger interval, is extended a trigger
    * interval at a time, by at most `MaxExtendS`. */
  val MinWindowBatches = 15
  val MaxExtendS = 10.0
  /** The tail percentile, the highest that the support rule (10
    * batches beyond it) holds run after run. */
  val TailPct = 0.75
  /** A run whose generator ran later than this at p99 is invalid. */
  val LateBoundMs = 100.0
  /** Packets per connection in each set-up's warm pass. */
  val WarmPackets = 50
  /** Seconds of saturation in the `local[1]` baseline pass. */
  val Local1SatS = 5.0
  /** Longest wait for sent frames to be put. */
  val DrainTimeoutS = 40.0

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
  private val trigger = Main.Config().triggerMs

  final class Live(val spark: SparkSession, val query: StreamingQuery,
    val client: TimedClient, val probe: MultiSocketSource.StreamProbe,
    val gen: Generator, val ports: Seq[Int], val ckpt: Path)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try {
      val rec = if (!o.trace) {
        val p = pass(o, o.cpus, traced = false, saturationOnly = false, 1)
        record(o, p.e2e, p.attempted, p.failed, p.correct, p.stamps,
          Map("pass" -> p.info))
      } else traced(o)
      Files.write(o.out, rec.getBytes("UTF-8"))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  /** The traced run: an untraced pass, a traced pass (per-layer
    * metrics and tracing overhead), and a `local[1]` saturation pass. */
  private def traced(o: Opts): String = {
    val plain = pass(o, o.cpus, traced = false, saturationOnly = false, SetupReps)
    val tr = pass(o, o.cpus, traced = true, saturationOnly = false, 1)
    val base = pass(o, 1, traced = false, saturationOnly = true, 1)
    val overhead = plain.e2e.keys.map { k =>
      // The traced pass sets up in a warm JVM, so its set-up is compared
      // with the untraced pass's warm one.
      val before = if (k == "setup_s") plain.setups.lift(1) else plain.e2e(k)
      s"overhead.$k" -> (for (a <- tr.e2e(k); b <- before) yield a - b)
    }
    val self = Span.selfSeconds(tr.spans).map { case (l, v) => s"self.${l}_s" -> v }
    val layers = tr.layers ++ overhead ++ self ++ Map(
      "baseline.local1_sustained_fps" -> base.e2e("sustained_fps"))
    val dump = o.workDir.resolve("traces")
    Files.createDirectories(dump)
    val spanFile = dump.resolve(s"${o.workload}-seed${o.seed}.json")
    Files.write(spanFile, mapper.writeValueAsString(Map("stamps" -> (o.stamps ++ tr.stamps),
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "attrs" -> s.attrs)))).getBytes("UTF-8"))
    record(o, layers, plain.attempted + tr.attempted,
      plain.failed + tr.failed, plain.correct && tr.correct, tr.stamps,
      Map("untraced" -> plain.info, "traced" -> tr.info, "local1" -> base.info,
        "untraced_e2e" -> plain.e2e, "traced_e2e" -> tr.e2e,
        "spans" -> spanFile.toString))
  }

  /** The run record: the result, and every setting that can move a
    * number stamped beside it. */
  private def record(o: Opts, metrics: Map[String, Any], attempted: Long,
      failed: Long, correct: Boolean, stamps: Map[String, Any],
      info: Map[String, Any]): String =
    mapper.writeValueAsString(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "stamps" -> (o.stamps ++ stamps),
      "info" -> info))

  // ---------------------------------------------------------------- pass

  def pass(o: Opts, cpus: Int, traced: Boolean, saturationOnly: Boolean,
      reps: Int): PassResult = {
    val wall0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def wallOf(ns: Long): Double = wall0 + (ns - nano0) / 1e6
    val phases = ArrayBuffer.empty[(String, Long, Long)]

    val setups = ArrayBuffer.empty[Double]
    val triggerWaits = ArrayBuffer.empty[Double]
    val setupSteps = ArrayBuffer.empty[Seq[Double]]
    var live: Live = null
    for (i <- 0 until reps) {
      if (live != null) teardown(live)
      val t0 = System.nanoTime()
      val (l, wait, steps) = setup(o, cpus, traced)
      live = l
      setupSteps += steps
      val t1 = System.nanoTime()
      setups += (t1 - t0) / 1e9 - wait
      triggerWaits += wait
      phases += ((s"setup$i", t0, t1))
    }
    val stageTrace = if (traced) Some(new StageTrace) else None
    stageTrace.foreach(live.spark.sparkContext.addSparkListener)

    val t = o.traffic
    val perConnFps = o.rateFps / t.conns / (1.0 - t.heartbeatShare)
    val fixedS = if (saturationOnly) 0.0 else math.rint(o.seconds * FixedShare)
    val satS = if (saturationOnly) Local1SatS else o.seconds - fixedS
    // Warm-up: `WarmupBuffers` source buffers of packets sent flat out
    // and put end to end, so the JIT has compiled the saturated path
    // before saturation is timed, then `WarmupS` at the fixed rate
    // before the measured window opens.
    val warmStart = System.nanoTime()
    if (!saturationOnly) {
      live.gen.run(Segment(warmStart, warmStart + (DrainTimeoutS * 1e9).toLong, None,
        WarmupBuffers * o.maxBufferedRows / t.conns), 0L, 0L)
      require(awaitPuts(live, live.gen.dataFrames, warmStart + (DrainTimeoutS * 1e9).toLong),
        "warm-up did not drain")
    }
    val backlog = new Sampler(live.probe)
    val gc0 = gcTotals()
    val steal0 = stealJiffies()
    backlog.start()
    var fixedStart, fixedEnd = System.nanoTime()
    var fixedLanded = true
    if (!saturationOnly) {
      val start = System.nanoTime() + 20000000L
      fixedStart = start + (WarmupS * 1e9).toLong
      fixedEnd = fixedStart + (fixedS * 1e9).toLong
      live.gen.run(Segment(start, fixedEnd, Some(perConnFps)), fixedStart, fixedEnd)
      val extendTo = fixedEnd + (MaxExtendS * 1e9).toLong
      while (batchesFrom(live, wallOf(fixedStart)) < MinWindowBatches && fixedEnd < extendTo) {
        val next = fixedEnd + trigger * 1000000L
        live.gen.run(Segment(fixedEnd, next, Some(perConnFps)), fixedEnd, next)
        fixedEnd = next
      }
      phases += (("warmup", warmStart, fixedStart))
      phases += (("fixed", fixedStart, fixedEnd))
      // Saturation starts once every frame of the fixed window is put,
      // so no fixed-rate frame waits in a saturated batch.
      fixedLanded = awaitPuts(live, live.gen.dataFrames, fixedEnd + (DrainTimeoutS * 1e9).toLong)
    }
    val satStart = System.nanoTime() + 20000000L
    // Saturation sends a set number of packets per connection, about
    // `satS` worth at the saturated rate, so the records the sink
    // retains, and the heap figure, do not follow the host's speed. Its
    // deadline only guards a stalled pipeline. The `local[1]` pass runs
    // for `Local1SatS` instead.
    val satEnd = satStart + ((if (saturationOnly) 1.0 else 4.0) * satS * 1e9).toLong
    val satPackets = if (saturationOnly) Long.MaxValue else o.satPackets
    if (!saturationOnly) phases += (("settle", fixedEnd, satStart))
    val satSteal0 = stealJiffies()
    val satCpu0 = processCpuNs()
    val satJit0 = jitMs()
    live.gen.run(Segment(satStart, satEnd, None, satPackets), 0L, 0L)
    val genDone = System.nanoTime()
    val satCpuS = (processCpuNs() - satCpu0) / 1e9
    val satJitS = (jitMs() - satJit0) / 1000.0
    val gc1 = gcTotals()
    val steal1 = stealJiffies()
    phases += (("saturation", satStart, genDone))

    val sent = live.gen.dataFrames
    val drainBy = System.nanoTime() + (DrainTimeoutS * 1e9).toLong
    if (saturationOnly) awaitSaturatedBatch(live, wallOf(satStart), drainBy)
    else if (awaitPuts(live, sent, drainBy)) {
      // Let the last batch commit, so the heap figure below does not
      // depend on where that batch stood.
      live.query.processAllAvailable()
    }
    val drained = System.nanoTime()
    backlog.halt()
    phases += (("drain", genDone, drained))
    val progress = live.query.recentProgress.toSeq
    stageTrace.foreach(live.spark.sparkContext.removeSparkListener)

    // Spark releases cached batches and shuffle data asynchronously,
    // some of it only once a collection has queued their references:
    // collect, let that cleanup run, collect again.
    System.gc()
    Thread.sleep(500)
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val records = live.client.sink.all
    val putsByBatch = records.groupBy(_.batchId).map { case (b, rs) => b -> rs.size.toLong }
    val batches = progress.map(p => BatchRec(p, putsByBatch.getOrElse(p.batchId, 0L)))
    val sat = sustained(batches, wallOf(satStart), live.probe.maxRows)

    val checks = if (saturationOnly) None else Some(check(live, records))
    val checked = System.nanoTime()
    phases += (("checks", drained, checked))

    // Latency over frames due inside the fixed window.
    val lat = ArrayBuffer.empty[Double]
    val latBatch = ArrayBuffer.empty[Long]
    checks.foreach(_.due.foreach { case (seq, due, batch) =>
      if (due >= fixedStart / 1000L && due < fixedEnd / 1000L) {
        lat += (live.client.returnedAt(seq) - due) / 1000.0
        latBatch += batch
      }
    })
    val latArr = lat.toArray
    val latSorted = latArr.sorted
    val batchArr = latBatch.toArray
    val late = live.gen.lateNs.flatten.map(_ / 1e6).toArray.sorted
    val lateP99 = if (late.isEmpty) 0.0 else Stats.percentile(late, 0.99)
    val windowS = (fixedEnd - fixedStart) / 1e9
    val fixedSamples = backlog.list.filter { case (ns, _) =>
      ns >= fixedStart && ns < fixedEnd }
    val slope = if (fixedSamples.size < 2) 0.0 else Stats.slope(
      fixedSamples.map(s => (s._1 - fixedStart) / 1e9).toArray,
      fixedSamples.map(_._2.toDouble).toArray)
    // The backlog grew at the fixed rate when its trend over the window
    // exceeds half a trigger's worth of offered packets.
    val pktPerS = o.rateFps / (1.0 - t.heartbeatShare) / t.framesPerPacket
    val slopeBound = 0.5 * pktPerS * trigger / 1000.0 / math.max(1.0, windowS)
    val support = if (latArr.isEmpty) 0 else Stats.supportBeyond(latArr, batchArr, TailPct)
    val genLate = lateP99 > LateBoundMs
    val backlogGrew = slope > slopeBound
    val tailUnsupported = support < 10
    val valid = saturationOnly ||
      (latArr.nonEmpty && fixedLanded && !genLate && !backlogGrew && !tailUnsupported)

    def latency(p: Double) =
      if (valid && latArr.nonEmpty) Some(Stats.percentile(latSorted, p)) else None
    val e2e = Map(
      "sustained_fps" -> sat.map(_._1),
      "lat_p50_ms" -> latency(0.5),
      "lat_tail_ms" -> latency(TailPct),
      "setup_s" -> Some(setups.head),
      "heap_live_mb" -> Some(heapMb))

    val ended = System.nanoTime()
    val placement = live.ports.map(p => s"127.0.0.1:$p" -> Generator.partitionOf(p, cpus)).toMap
    val failed = checks.map(_.failed).getOrElse(0L)
    // Steal over the generator's run; None when either read failed.
    val satSteal = for (a <- satSteal0; b <- steal1) yield (b - a) / 100.0
    val host = Map("host_steal_s" -> (for (a <- steal0; b <- steal1) yield (b - a) / 100.0),
      "host_load1" -> load1())
    val stamps = host ++ Map[String, Any](
      "cpus" -> cpus,
      "spark_version" -> live.spark.version,
      "initial_partition_num" -> live.spark.conf
        .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum").orNull,
      "trigger_ms" -> trigger,
      "max_buffered_rows" -> live.probe.maxRows,
      "fixed_rate_fps" -> o.rateFps,
      "phases_s" -> Map("warmup" -> (if (saturationOnly) 0.0 else WarmupS),
        "fixed" -> windowS, "saturation" -> (genDone - satStart) / 1e9),
      "saturation_packets" -> (if (saturationOnly) None else Some(satPackets)),
      "min_window_batches" -> MinWindowBatches,
      "lat_tail_pct" -> TailPct,
      "placement" -> placement,
      // The streaming workloads read no table directory.
      "sf_dir" -> None)
    val info = Map[String, Any](
      "traced" -> traced,
      "setup_reps_s" -> setups.toSeq,
      "setup_idle_s" -> triggerWaits.toSeq,
      "setup_steps_s" -> Map("order" -> Seq("session", "source", "first_trigger",
        "idle", "warm_pass"), "reps" -> setupSteps.toSeq),
      "nonempty_partitions" -> placement.values.toSet.size,
      "placement_loads" -> placement.values.groupBy(identity).values.map(_.size)
        .toSeq.sorted.reverse,
      "lat_n_frames" -> latArr.length,
      "lat_n_batches" -> batchArr.toSet.size,
      "lat_tail_support_batches" -> support,
      "lat_highest_supported_pct" -> Stats.highestSupported(latArr, batchArr),
      "lat_support_by_pct" -> (if (latArr.isEmpty) Map.empty else
        Seq(0.5, 0.75, 0.9, 0.95, 0.99).map(q => q.toString -> Stats.supportBeyond(latArr, batchArr, q)).toMap),
      "phase_wall_s" -> phases.toSeq.map { case (n, a, b) => Seq(n, (a - nano0) / 1e9, (b - a) / 1e9) },
      "batches" -> Map("order" -> Seq("id", "start_s", "input_rows", "puts", "trigger_ms",
          "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "state_commit_ms"),
        "rows" -> batches.map(b => Seq[Any](b.p.batchId, (b.startMs - wall0) / 1000.0,
          b.p.numInputRows, b.puts, b.dur("triggerExecution"), b.dur("addBatch"),
          b.dur("walCommit"), b.dur("commitOffsets"),
          b.p.stateOperators.map(_.commitTimeMs).sum))),
      // Where the saturated rate went: the generator's saturation
      // window, its host steal and this process's CPU.
      "saturation_steal_s" -> satSteal,
      "saturation_cpu_s" -> satCpuS,
      "saturation_jit_s" -> satJitS,
      "sat_batches" -> sat.map(_._2).getOrElse(0),
      "valid" -> valid,
      "invalid_reasons" -> Seq(
        if (genLate) Some(s"generator late p99 ${lateP99}ms > ${LateBoundMs}ms") else None,
        if (backlogGrew) Some(s"backlog slope $slope rows/s > $slopeBound") else None,
        if (!fixedLanded) Some("fixed window's frames not put before saturation") else None,
        if (!saturationOnly && tailUnsupported) Some(s"tail support $support < 10 batches") else None,
        if (!saturationOnly && latArr.isEmpty) Some("no latency samples") else None).flatten,
      "checks" -> checks.map(_.summary),
      "setup_warm_median_s" -> (if (setups.size > 1) Some(Stats.median(setups.tail.toSeq)) else None),
      "sent_data_frames" -> sent,
      "drain_complete" -> (saturationOnly || live.client.puts.get >= sent),
      "wall_s" -> (ended - nano0) / 1e9)

    val layers =
      if (!traced) Map.empty[String, Any]
      else perLayer(live, batches, stageTrace.get, wallOf(fixedStart),
        wallOf(genDone), backlog, slope, lateP99, gc0, gc1, host,
        records.size.toLong, sent, failed)

    val spanSeq =
      if (!traced) Nil
      else buildSpans(wallOf(nano0), wallOf(ended),
        phases.toSeq.map { case (n, a, b) => (n, wallOf(a), wallOf(b)) },
        batches, stageTrace.get, live.client, placement)

    teardown(live)
    val correct = saturationOnly || (valid && checks.exists(_.ok) && sat.nonEmpty)
    PassResult(e2e, setups.toSeq, layers, checks.map(_.attempted).getOrElse(0L), failed,
      correct, stamps, info, spanSeq)
  }

  // --------------------------------------------------------------- setup

  /** One set-up: session, source and query, generator connections, and
    * a warm burst put end to end. Returns the live pipeline, the seconds
    * it spent idle waiting for the trigger clock, and each step's
    * seconds (session, source, first trigger, idle, warm pass). */
  private def setup(o: Opts, cpus: Int, traced: Boolean): (Live, Double, Seq[Double]) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cpus)
      .config("spark.local.dir", o.workDir.resolve("spark").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new HealthListener())
    val client = new TimedClient(new KinesisLikeSink, traced)
    Wire.client = client
    Wire.factoryCalls.set(0L)
    val name = s"graftbench-${java.util.UUID.randomUUID()}"
    Files.createDirectories(o.workDir)
    val ckpt = Files.createTempDirectory(o.workDir, "ckpt")
    import spark.implicits._
    val pkts = spark.readStream.format("graft-multisocket")
      .option("port", "0").option("name", name)
      .option("maxBufferedRows", o.maxBufferedRows.toString).load().as[RawPacket]
    val query = Main.start(pkts, Main.Config().copy(checkpointDir = ckpt.toString),
      Wire.factory)
    val tSession = System.nanoTime()
    val until = System.nanoTime() + 60e9.toLong
    while (MultiSocketSource.activeStreams.get(name) == null && System.nanoTime() < until) {
      query.exception.foreach(e => throw e)
      Thread.sleep(10)
    }
    val probe = Option(MultiSocketSource.activeStreams.get(name))
      .getOrElse(sys.error("source did not start"))
    val port = MultiSocketSource.boundPorts.get(name).intValue
    val ports = Generator.localPorts(o.seed, o.traffic.conns)
    val gen = new Generator(port, o.seed, o.traffic, ports)
    // The processing-time trigger fires on whole multiples of its
    // interval since the epoch. Once the query's first trigger is done,
    // send the warm burst shortly before a tick, so the batch that takes
    // it starts on that tick; the idle stretch until the tick is not
    // set-up work and is subtracted.
    val tSource = System.nanoTime()
    def idle = { val st = query.status; !st.isTriggerActive && st.message.startsWith("Waiting") }
    while (!idle && System.nanoTime() < until) Thread.sleep(5)
    val tIdle = System.nanoTime()
    val idleFrom = System.currentTimeMillis()
    val lead = trigger / 5
    val tick = (idleFrom + lead) / trigger * trigger + trigger
    Thread.sleep(tick - lead - idleFrom)
    val tSend = System.nanoTime()
    gen.burst(WarmPackets)
    val live = new Live(spark, query, client, probe, gen, ports, ckpt)
    require(awaitPuts(live, gen.dataFrames, until), "warm pass did not drain")
    while (!query.recentProgress.exists(_.numInputRows > 0) && System.nanoTime() < until)
      Thread.sleep(5)
    val tEnd = System.nanoTime()
    (live, (tick - idleFrom) / 1000.0, Seq(tSession - t0, tSource - tSession,
      tIdle - tSource, tSend - tIdle, tEnd - tSend).map(_ / 1e9))
  }

  /** Micro-batches completed that started at or after `fromMs`. */
  private def batchesFrom(l: Live, fromMs: Double): Int =
    l.query.recentProgress.count(p => BatchRec(p, 0L).startMs >= fromMs)

  /** Wait until `want` frames are put; false if `byNs` passes first. */
  private def awaitPuts(l: Live, want: Long, byNs: Long): Boolean = {
    while (l.client.puts.get < want && System.nanoTime() < byNs &&
        l.query.exception.isEmpty)
      Thread.sleep(5)
    l.client.puts.get >= want
  }

  private def teardown(l: Live): Unit = {
    l.gen.close()
    scala.util.Try(l.query.stop())
    l.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Wire.client = null
    deleteTree(l.ckpt)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(f => scala.util.Try(Files.delete(f)))
  }

  // ------------------------------------------------------------ measures

  final case class BatchRec(p: StreamingQueryProgress, puts: Long) {
    val startMs: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val endMs: Double = startMs + dur("triggerExecution")
  }

  /** Saturated put rate: puts over trigger time of the batches that
    * started in saturation and were planned with the source buffer at
    * its cap. Returns (frames/s, batches used). */
  def sustained(bs: Seq[BatchRec], satStartMs: Double, cap: Int): Option[(Double, Int)] = {
    val full = bs.filter(b => b.startMs >= satStartMs && b.p.numInputRows >= 0.9 * cap)
    val ms = full.map(_.dur("triggerExecution")).sum
    if (full.isEmpty || ms == 0) None
    else Some((full.map(_.puts).sum * 1000.0 / ms, full.size))
  }

  private def awaitSaturatedBatch(l: Live, satStartMs: Double, by: Long): Unit = {
    def done = l.query.recentProgress.exists(p =>
      BatchRec(p, 0).startMs >= satStartMs && p.numInputRows >= 0.9 * l.probe.maxRows)
    while (!done && System.nanoTime() < by) Thread.sleep(50)
  }

  /** 10 Hz samples of the source backlog (buffered rows). */
  final class Sampler(probe: MultiSocketSource.StreamProbe) extends Thread {
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    @volatile private var on = true
    setDaemon(true)
    override def run(): Unit = while (on) {
      samples.add((System.nanoTime(), probe.bufferedRows))
      Thread.sleep(100)
    }
    def halt(): Unit = { on = false; join() }
    def list: Seq[(Long, Int)] = samples.asScala.toSeq
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).filter(_ >= 0).sum,
      gcs.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  /** Cumulative steal jiffies from /proc/stat, None when unreadable. */
  def stealJiffies(): Option[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong)
    finally src.close()
  }.toOption.flatten

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Milliseconds the JIT compilers have spent so far. */
  private def jitMs(): Long =
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  private def load1(): Option[Double] =
    Some(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage).filter(_ >= 0)

  // -------------------------------------------------------------- checks

  final case class CheckResult(attempted: Long, missing: Long, dups: Long,
      threw: Long, badId: Long, badOrder: Long, badChain: Long, badKey: Long,
      due: Seq[(Long, Long, Long)]) {
    def failed: Long = missing + dups + threw
    def ok: Boolean = failed == 0 && badId == 0 && badOrder == 0 &&
      badChain == 0 && badKey == 0
    def summary: Map[String, Long] = Map("attempted" -> attempted,
      "missing" -> missing, "duplicates" -> dups, "puts_threw" -> threw,
      "bad_id" -> badId, "bad_order_keys" -> badOrder,
      "bad_chain" -> badChain, "bad_key" -> badKey)
  }

  /** Every sent data frame put exactly once, per-connection put order
    * equal to send order, an intact sequence chain per key (as the put
    * client saw it), and every
    * CloudEvent id equal to base64(sha1(time ++ raw)). Returns the
    * (sink seq, due µs, batch) of every put for the latency pass. */
  def check(l: Live, records: Seq[KinesisLikeSink#PutRecord]): CheckResult = {
    val feeds = l.gen.feeds
    val seen = feeds.map(f => new Array[Int](f.dataFrames.toInt))
    var dups, badId, badKey, unknown = 0L
    val due = new ArrayBuffer[(Long, Long, Long)](records.size)
    val frameOrder = mutable.LinkedHashMap.empty[String, ArrayBuffer[Long]]
    records.foreach { r =>
      val (raw, time, id) = Stats.eventFields(r.data).getOrElse {
        val js = mapper.readTree(r.data)
        (js.path("data").path("raw").asText(""), js.path("time").asText(""),
          js.path("id").asText(""))
      }
      if (Stats.cloudEventId(time, raw) != id) badId += 1
      Feed.parse(raw) match {
        case Some((c, n, d)) if c < feeds.size && n < seen(c).length =>
          seen(c)(n.toInt) += 1
          if (seen(c)(n.toInt) > 1) dups += 1
          if (r.partitionKey != s"127.0.0.1:${l.ports(c)}") badKey += 1
          due += ((r.seq, d, r.batchId))
          frameOrder.getOrElseUpdate(r.partitionKey, ArrayBuffer.empty) += n
        case _ => unknown += 1
      }
    }
    val missing = seen.map(_.count(_ == 0).toLong).sum
    val badOrder = frameOrder.values.count(xs => Stats.firstOrderViolation(xs.toArray) >= 0)
    CheckResult(feeds.map(_.dataFrames).sum, missing, dups + unknown,
      l.client.failures.get, badId, badOrder, l.client.badChain.get, badKey, due.toSeq)
  }

  // ----------------------------------------------------------- per layer

  private def perLayer(l: Live, bs: Seq[BatchRec], st: StageTrace,
      fromMs: Double, toMs: Double, backlog: Sampler, slope: Double,
      lateP99: Double, gc0: (Long, Long), gc1: (Long, Long),
      host: Map[String, Option[Double]], retained: Long, sent: Long,
      failed: Long): Map[String, Any] = {
    val in = bs.filter(b => b.startMs >= fromMs && b.startMs < toMs)
    def sum(k: String): Long = in.map(_.dur(k)).sum
    val trig = in.map(_.dur("triggerExecution").toDouble)
    val ops = in.flatMap(_.p.stateOperators.toSeq)
    val stages = st.stageList.filter(s => s.submitMs >= fromMs && s.submitMs < toMs)
    val tasks = st.taskList.groupBy(t => (t.stageId, t.attempt))
    val (framing, sink) = st.framingAndSinkStages
    def isFraming(s: StageRec) = framing.contains(s.stageId)
    def isSink(s: StageRec) = sink.contains(s.stageId)
    def skew(s: StageRec): Option[Double] = {
      val ts = tasks.getOrElse((s.stageId, s.attempt), Nil).map(_.runMs.toDouble)
      if (ts.isEmpty || ts.sum == 0) None else Some(ts.max / (ts.sum / ts.size))
    }
    def runS(p: StageRec => Boolean) =
      stages.filter(p).map(s => (s.endMs - s.submitMs) / 1000.0).sum
    def medSkew(p: StageRec => Boolean) = {
      val xs = stages.filter(p).flatMap(skew)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val nonEmpty = stages.filter(isFraming).map(s =>
      tasks.getOrElse((s.stageId, s.attempt), Nil).count(_.recordsRead > 0).toDouble)
    val c = l.client
    val maxRows = backlog.list.map(_._2).maxOption.getOrElse(0)
    Map(
      "gen.sent_frames" -> l.gen.frames,
      "gen.sent_packets" -> l.gen.packets,
      "gen.late_ms_p99" -> lateP99,
      "source.backlog_rows_max" -> maxRows,
      "source.backlog_slope_rows_s" -> slope,
      "source.input_rows" -> in.map(_.p.numInputRows).sum,
      "source.latest_offset_ms" -> sum("latestOffset"),
      "source.get_batch_ms" -> sum("getBatch"),
      "engine.batches" -> in.size,
      "engine.trigger_ms_p50" -> (if (trig.isEmpty) None else Some(Stats.median(trig))),
      "engine.trigger_ms_max" -> trig.maxOption,
      "engine.query_planning_ms" -> sum("queryPlanning"),
      "engine.wal_commit_ms" -> sum("walCommit"),
      "engine.commit_offsets_ms" -> sum("commitOffsets"),
      "engine.add_batch_ms" -> sum("addBatch"),
      "state.rows_total" -> in.lastOption.map(_.p.stateOperators.map(_.numRowsTotal).sum),
      "state.rows_updated" -> ops.map(_.numRowsUpdated).sum,
      "state.memory_bytes" -> ops.map(_.memoryUsedBytes).maxOption,
      "state.commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state.update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
      "stage.framing.run_s" -> runS(isFraming),
      "stage.framing.skew" -> medSkew(isFraming),
      "stage.framing.nonempty_tasks" ->
        (if (nonEmpty.isEmpty) None else Some(Stats.median(nonEmpty))),
      "stage.sink.run_s" -> runS(isSink),
      "stage.sink.skew" -> medSkew(isSink),
      "stage.shuffle_bytes" -> stages.map(_.shuffleWriteBytes).sum,
      "stage.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "sink.puts" -> c.puts.get,
      "sink.put_s" -> c.putNs.get / 1e9,
      "sink.cursor_s" -> c.cursorNs.get / 1e9,
      "sink.last_seq_s" -> c.lastSeqNs.get / 1e9,
      "sink.replay_skips" -> c.replaySkips.get,
      "sink.failures" -> c.failures.get,
      "sink.tasks" -> Wire.factoryCalls.get,
      "sink.records_retained" -> retained,
      "put_fail_ratio" -> (if (sent == 0) None else Some(failed.toDouble / sent)),
      "jvm.gc_s" -> (gc1._1 - gc0._1) / 1000.0,
      "jvm.gc_count" -> (gc1._2 - gc0._2),
      "host.steal_s" -> host("host_steal_s"),
      "host.load1" -> host("host_load1"))
  }

  private def buildSpans(runStart: Double, runEnd: Double,
      phases: Seq[(String, Double, Double)], bs: Seq[BatchRec], st: StageTrace,
      c: TimedClient, placement: Map[String, Int]): Seq[Span] = {
    val log = new SpanLog
    val run = log.add(0, "run", "run", runStart, runEnd,
      Map("placement" -> placement))
    val phaseIds = phases.map { case (n, a, b) => (log.add(run, "phase", n, a, b), a, b) }
    def phaseOf(ms: Double): Long =
      phaseIds.find { case (_, a, b) => ms >= a && ms < b }.map(_._1).getOrElse(run)
    val batchIds = bs.map { b =>
      b.p.batchId -> log.add(phaseOf(b.startMs), "batch", s"batch ${b.p.batchId}",
        b.startMs, b.endMs, Map("input_rows" -> b.p.numInputRows, "puts" -> b.puts,
          "duration_ms" -> b.p.durationMs.asScala.map { case (k, v) => k -> v.longValue }))
    }.toMap
    val stageBatch = st.stageBatch
    val (framing, sink) = st.framingAndSinkStages
    val stageIds = st.stageList.map { s =>
      val parent = stageBatch.get(s.stageId).flatMap(batchIds.get)
        .getOrElse(phaseOf(s.submitMs.toDouble))
      val role = if (framing(s.stageId)) "framing" else if (sink(s.stageId)) "sink" else "map"
      (s.stageId, s.attempt) -> log.add(parent, "stage", s"$role: ${s.name}",
        s.submitMs.toDouble, s.endMs.toDouble, Map("cpu_s" -> s.cpuNs / 1e9,
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "stage_id" -> s.stageId))
    }.toMap
    st.taskList.foreach { t =>
      stageIds.get((t.stageId, t.attempt)).foreach(p =>
        log.add(p, "task", s"task stage ${t.stageId}", t.launchMs.toDouble,
          t.endMs.toDouble, Map("records_read" -> t.recordsRead)))
    }
    // Per-(batch, key) put aggregates, on the clock of the put client.
    val nanoNow = Clock.micros()
    val wallNow = System.currentTimeMillis()
    c.perBatchKey.asScala.toSeq.sortBy(_._1._1).foreach { case ((b, k), a) =>
      def wall(us: Long) = wallNow - (nanoNow - us) / 1000.0
      log.add(batchIds.getOrElse(b, run), "puts", s"puts $k", wall(a(2)), wall(a(3)),
        Map("batch" -> b, "key" -> k, "puts" -> a(0), "put_s" -> a(1) / 1e9))
    }
    val self = Span.selfSeconds(log.spans.toSeq)
    log.add(0, "summary", "self_time_s", runStart, runStart, self)
    log.spans.toSeq
  }

  // --------------------------------------------------------------- args

  /** Command-line arguments (`--key value`) plus the workload's entry in
    * the workloads file; `--stamp.<key>` values are stamped as given. */
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def arg(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = Option(mapper.readTree(Paths.get(arg("config")).toFile).get(arg("workload")))
      .getOrElse(sys.error(s"unknown workload ${arg("workload")}"))
    def num(k: String): Double = {
      require(w.has(k), s"workloads file lacks $k")
      w.get(k).asDouble
    }
    val fpp = num("frames_per_packet").toInt
    Opts(arg("workload"), arg("seed").toLong, arg("seconds").toInt, arg("trace") == "1",
      Paths.get(arg("out")), Paths.get(arg("work-dir")).toAbsolutePath, arg("cpus").toInt,
      // Multi-frame packets end inside a frame that the next one finishes.
      Traffic(num("connections").toInt, num("frame_bytes").toInt, fpp,
        num("heartbeat_share"), split = fpp > 1),
      num("rate_fps"), num("max_buffered_rows").toInt, num("saturation_packets").toLong,
      Map[String, Any]("git" -> None, "workload" -> arg("workload"),
        "seed" -> arg("seed").toLong, "seconds" -> arg("seconds").toInt,
        "java_version" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576) ++
        m.collect { case (k, v) if k.startsWith("stamp.") => k.drop(6) -> v })
  }
}
