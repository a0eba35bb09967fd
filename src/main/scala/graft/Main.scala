package graft

import graft.sources.PacketSources
import graft.streaming.{HealthListener, KeyedOrderedSink, KinesisLikeSink,
  OcsPipeline, RawPacket}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Deployable streaming entrypoint — the twin of the reference's OTP
  * application boot (/root/reference/lib/trike/application.ex:1-30,
  * which reads listen_port/kinesis_stream/kinesis_client from config,
  * starts the Ranch listener with one Proxy per connection, and
  * supervises a HealthChecker alongside).
  *
  * graft's rendition along Spark's seams: an env-configured packet
  * SOURCE (the listener), the stateful framing + CloudEvent projection
  * (the proxy), the keyed ordered-put sink (the Kinesis client), a
  * checkpointLocation (the supervisor — restart-with-state), and a
  * registered HealthListener (the health checker). Run under
  * spark-submit:
  *
  * {{{
  * spark-submit --class graft.Main graft.jar
  *   # env: GRAFT_SOURCE=multisocket|socket|fake (default multisocket —
  *   #        the reference's Ranch listener; fake/socket are dev shims)
  *   #      GRAFT_CHECKPOINT_DIR=/path
  *   #      GRAFT_HOST/GRAFT_PORT (socket/multisocket)
  *   #      GRAFT_RATE/GRAFT_CONNS (fake)
  *   #      GRAFT_STALE_TIMEOUT_MS  GRAFT_WATERMARK  GRAFT_TRIGGER_MS
  * }}}
  *
  * The wiring (`start`) is source- and sink-agnostic so the end-to-end
  * spec drives the exact production plan from a MemoryStream into the
  * in-memory Kinesis twin; `main` only resolves config and blocks on
  * awaitTermination.
  */
object Main {

  final case class Config(
    // multisocket IS the production default — the reference boots a
    // Ranch listener accepting N OCS connections (application.ex:1-30);
    // `fake` (fake_source.ex's twin) and `socket` are dev shims a
    // deployment opts INTO via GRAFT_SOURCE, not out of.
    source: String = "multisocket",
    host: String = "localhost",
    port: Int = 8001,
    rowsPerSecond: Int = 100,
    nConns: Int = 8,
    // The reference's stale_timeout_ms config key (proxy.ex:21,66).
    staleTimeoutMs: Long = 5 * 60 * 1000L,
    watermark: String = "10 minutes",
    checkpointDir: String = "/tmp/graft-checkpoint",
    queryName: String = "graft-trike",
    triggerMs: Long = 1000L)

  def fromEnv(env: Map[String, String] = sys.env): Config = Config(
    source = env.getOrElse("GRAFT_SOURCE", "multisocket"),
    host = env.getOrElse("GRAFT_HOST", "localhost"),
    port = env.getOrElse("GRAFT_PORT", "8001").toInt,
    rowsPerSecond = env.getOrElse("GRAFT_RATE", "100").toInt,
    nConns = env.getOrElse("GRAFT_CONNS", "8").toInt,
    staleTimeoutMs = env.getOrElse("GRAFT_STALE_TIMEOUT_MS", "300000").toLong,
    watermark = env.getOrElse("GRAFT_WATERMARK", "10 minutes"),
    checkpointDir = env.getOrElse("GRAFT_CHECKPOINT_DIR", "/tmp/graft-checkpoint"),
    queryName = env.getOrElse("GRAFT_QUERY_NAME", "graft-trike"),
    triggerMs = env.getOrElse("GRAFT_TRIGGER_MS", "1000").toLong)

  /** Source selection — the one line a deployment changes.
    * `multisocket` is the Ranch-listener twin (one listening port, N
    * accepted OCS connections, per-connection identity); `socket` is
    * Spark's test-only single-connection TCP source; `fake` the
    * reference's fake_source.ex twin on the rate source. */
  def packets(spark: SparkSession, cfg: Config): Dataset[RawPacket] = {
    import spark.implicits._
    cfg.source match {
      case "fake" => PacketSources.fake(spark, cfg.rowsPerSecond, cfg.nConns)
      case "socket" => PacketSources.socket(spark, cfg.host, cfg.port)
      case "multisocket" => spark.readStream.format("graft-multisocket")
        .option("port", cfg.port.toString).load().as[RawPacket]
      case other => throw new IllegalArgumentException(
        s"GRAFT_SOURCE=$other (expected fake|socket|multisocket)")
    }
  }

  /** Wire the full production pipeline onto any packet source and
    * start it: watermark → stateful framing/CloudEvent projection →
    * stale-marker split (logged, like the reference closing idle
    * sockets) → per-key ordered puts, checkpointed. The stale split is
    * driver-side but bounded by fleet size (one marker per idle
    * connection per trigger), not by data volume. */
  def start(pkts: Dataset[RawPacket], cfg: Config,
    client: () => KeyedOrderedSink.PutClient,
    publish: String => Unit =
      m => graft.telemetry.Telemetry.info(m)): StreamingQuery = {
    val events = OcsPipeline.statefulCloudEvents(
      pkts.withWatermark("receiveTs", cfg.watermark), cfg.staleTimeoutMs)
    val puts = KeyedOrderedSink.orderedPuts(
      client, keyCol = "partitionkey", dataCol = "json",
      // pos totally orders a key's frames within a batch (emission
      // order from the stateful framer) — receiveTs alone ties for
      // frames split out of one packet.
      orderCols = Seq("receiveTs", "pos"))
    events.writeStream
      .queryName(cfg.queryName)
      .outputMode("append")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // Two actions consume this batch (the stale split and the
        // ordered puts); without a persist each would re-execute the
        // whole stateful plan — including flatMapGroupsWithState state
        // -store load/commit — twice per trigger. Materialize once.
        batch.persist()
        try {
          val stale = batch.filter(col("kind") === "stale")
            .select(col("partitionkey")).collect()
          stale.foreach(r =>
            publish(s"stale_connection conn=${r.getString(0)} batch=$batchId"))
          // The sink receives the canonical JSON encoding, the exact
          // bytes the reference puts (proxy.ex:171, cloud_event JSON).
          puts(batch.filter(col("kind") === "frame")
            .withColumn("json", OcsPipeline.eventJson), batchId)
        } finally batch.unpersist()
      }
      .start()
  }

  def main(args: Array[String]): Unit = {
    val cfg = fromEnv()
    // Backend selection from env, exactly the reference's truth table
    // (runtime.exs:42-49): console always, Splunk-HEC spool iff
    // GRAFT_SPLUNK_TOKEN, Sentry-like error capture iff
    // GRAFT_SENTRY_DSN + GRAFT_SENTRY_ENV.
    graft.telemetry.Telemetry.configure()
    val spark = GraftSession.live(GraftSession.builder(GraftSession.cpus))
    spark.streams.addListener(new HealthListener())
    graft.telemetry.Telemetry.info(
      s"Starting graft on source=${cfg.source} -> keyed ordered sink " +
        s"(checkpoint=${cfg.checkpointDir})")
    // In-memory put client: this container has no Kinesis endpoint
    // (zero egress); a deployment implements PutClient over its real
    // service and swaps the factory — the wiring is identical. Held in
    // a static so the task closure ships only the module reference,
    // not the (unserializable, driver-local) sink instance.
    mainSink = new KinesisLikeSink
    val query = start(packets(spark, cfg), cfg, () => mainSink)
    query.awaitTermination()
  }

  /** See main: static holder so executor closures resolve the shared
    * local-mode sink without serializing it. */
  @volatile private var mainSink: KinesisLikeSink = _
}
