package graft.streaming

import graft.functions.CloudEventId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A raw TCP packet as the trike proxy receives it: connection id,
  * peer ip, receive time, the byte payload (possibly containing
  * several EOT-delimited OCS messages plus a partial tail), and a
  * monotonic per-source arrival sequence. `seq` is the within-batch
  * tiebreak for equal-timestamp packets — the reference applies
  * packets in strict arrival order (proxy.ex:154), which a
  * millisecond clock alone can't reconstruct. */
final case class RawPacket(connId: String, sourceIp: String,
  receiveTs: java.sql.Timestamp, payload: String, seq: Long = 0L)

/** The trike proxy pipeline on Structured Streaming: packets →
  * EOT framing → heartbeat filter → CloudEvent projection → keyed
  * sink. The transform is a pure function of the DataFrame, so the
  * exact same plan runs on a static frame (unit-testable) and a
  * `readStream` source (production) — the Structured Streaming
  * contract.
  *
  * Reference: framing lib/trike/proxy.ex:212-217 (split on 0x04, last
  * split element is the unframed rest), heartbeat drop proxy.ex:242-244,
  * CloudEvent build lib/trike/cloud_event.ex:31-44, one clock read per
  * packet proxy.ex:150, partition-keyed ordered put proxy.ex:171-204.
  *
  * Like the reference's per-packet `extract/1`, framing here is
  * within-packet: the partial tail after the last EOT is dropped
  * rather than carried into the next packet's buffer (the reference
  * carries it in connection state; the streaming twin of that carry is
  * flatMapGroupsWithState keyed by connection — a planned r2 depth
  * item; the fixture generators always emit whole frames per packet,
  * so batch results are unaffected).
  *
  * Scale posture: framing/filter/projection are stateless and narrow —
  * they run at source parallelism with no shuffle; the only shuffle is
  * whatever keyed sink or windowed agg is attached downstream.
  */
object OcsPipeline {

  val EOT = "\u0004"
  private val isoFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

  /** CloudEvent `source`. The reference interpolates the live hostname
    * (":inet.gethostname" — cloud_event.ex:24); embedding that into
    * deterministic batch output would make results and the generated
    * oracle SQL host-dependent, so the batch/oracle value comes from
    * SPARK_GRAFT_EVENT_SOURCE with a fixed default. A production
    * streaming deployment that wants hostname fidelity sets the env
    * var to the host's name, e.g. `$(hostname).mbta.com/trike`. */
  val eventSource: String =
    sys.env.getOrElse("SPARK_GRAFT_EVENT_SOURCE", "graft.mbta.com/trike")

  /** packets(connId, sourceIp, receiveTs, payload) → one row per
    * complete frame, partial tail dropped. */
  def frames(packets: DataFrame): DataFrame =
    packets
      .withColumn("f", split(col("payload"), EOT))
      .withColumn("f", expr("slice(f, 1, size(f) - 1)"))
      .select(col("connId"), col("sourceIp"), col("receiveTs"),
        posexplode(col("f")).as(Seq("pos", "message")))

  /** Full pipeline: frames → drop heartbeats → CloudEvent columns.
    * Uses the faithful sha1 id (CloudEventId.sha1Base64). */
  def cloudEvents(packets: DataFrame): DataFrame =
    projected(frames(packets).filter(col("message") =!= "HEARTBEAT"), None)

  /** The CloudEvent columns over framed rows (connId, sourceIp,
    * receiveTs, pos, message). With `kind`, only rows of kind "frame"
    * get an id, and the kind column rides along before receiveTs. */
  private def projected(framed: DataFrame, kind: Option[Column]): DataFrame = {
    val timeIso = date_format(col("receiveTs"), isoFmt)
    val id = CloudEventId.sha1Base64(timeIso, col("message"))
    framed.select(Seq(
      kind.fold(id)(k => when(k === "frame", id)).as("id"),
      col("connId").as("partitionkey"),
      col("sourceIp").as("sourceip"),
      timeIso.as("time"),
      lit("com.mbta.ocs.raw_message").as("type"),
      lit("1.0").as("specversion"),
      lit(eventSource).as("source"),
      col("message").as("raw")) ++ kind ++ Seq(col("receiveTs"), col("pos")): _*)
  }

  /** Canonical JSON encoding (alphabetical keys, Jason parity over the
    * FULL struct of cloud_event.ex:19-26 — including `type`, which
    * downstream consumers key on). */
  def eventJson: Column =
    to_json(struct(
      struct(col("raw")).as("data"), col("id"), col("partitionkey"),
      col("source"), col("sourceip"), col("specversion"), col("time"),
      col("type")))

  /** The full stateful pipeline in one call: cross-packet buffer carry
    * + stale markers (StatefulFraming), heartbeat filter, CloudEvent
    * projection. `packets` must already carry a watermark on
    * receiveTs. Stale markers pass through with kind="stale" so a
    * monitoring sink can split them off. */
  def statefulCloudEvents(packets: org.apache.spark.sql.Dataset[RawPacket],
    staleTimeoutMs: Long): DataFrame =
    // timestamp_micros, not _millis: the id is content-addressed over
    // the formatted time, so truncating here would give the stateful
    // and stateless variants different ids for the same packet.
    projected(StatefulFraming.frames(packets, staleTimeoutMs).toDF()
      .withColumn("receiveTs", expr("timestamp_micros(receiveMicros)"))
      .filter(col("kind") === "stale" || col("message") =!= "HEARTBEAT"),
      Some(col("kind")))
}
