package graft

import org.apache.spark.sql.SparkSession

/** Session factory. Local settings sized for local[N] smoke/bench runs;
  * on a real cluster the same conf keys scale out (AQE handles skew and
  * runtime partition coalescing, shuffle partitions follow cores).
  */
object GraftSession {

  /** Local cores for every main: SPARK_GRAFT_CPUS, else this machine's
    * processor count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int): SparkSession.Builder = builder(cores, cores * 8)

  def builder(cores: Int, initialParts: Int): SparkSession.Builder =
    SparkSession
      .builder()
      // local[N,2]: the second slot is maxTaskFailures. In local mode
      // Spark's createTaskScheduler hard-codes maxTaskFailures=1 for
      // plain local[N] and IGNORES spark.task.maxFailures — the only
      // way to get a retry is the local[N,F] master form. One retry
      // absorbs the transient spill race below, like production
      // (cluster default 4).
      .master(s"local[$cores,2]")
      .appName("graft")
      .withExtensions(GraftExtensions.register)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Initial shuffle granularity scales ABOVE the core count and
      // AQE coalesces DOWN to the advisory size — the standard cluster
      // posture (high initial partitions, runtime coalesce). At sf10
      // the 50-100M-row shingle self-join over `cores` partitions put
      // ~3M rows in each sort task; the resulting concurrent-spill
      // storm tripped a JDK NIO race (NativeThreadSet.remove AIOOBE in
      // DiskBlockObjectWriter) and killed the job. 8× cores keeps the
      // per-task sort buffer bounded as data grows while small-SF runs
      // coalesce back to few partitions at no cost. Tests (4 cores)
      // move from 4 to 32 initial partitions — a deliberate change;
      // AQE coalesces them back down on tiny suite data.
      // The harness passes its own count instead (Families.initialParts):
      // round-17 isolated the r16 "sketch_hll ×3.2 regression" to exactly
      // this setting — the whole sketch family's sf0.1 wall rose ×2-3
      // with CPU flat, because 256 initial partitions tax every tiny
      // shuffle with map-side file/buffer setup and AQE coalesce latency
      // that sub-second stages cannot amortize.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialParts)
      // events.parquet carries TIMESTAMP(NANOS), which the vectorized
      // reader rejects; read as raw nanos (Tables.events converts).
      // Set here, once, at construction — not as a side effect of a
      // table getter.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // The checkpoint-file checksum writer (Spark 4.1's
      // ChecksumCheckpointFileManager) hands every checkpoint close()
      // to a background pool and awaits it without a timeout; under a
      // long-lived local session with many accumulated state-store
      // providers the await has been observed to park forever inside
      // RocksDB snapshot zip uploads, wedging the stream. Corruption
      // detection on local-disk checkpoints buys nothing; turn it off.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Shared test session (one JVM-wide session for all suites).
    *
    * NOT a `lazy val` (round-17 verdict item 2): a stopped
    * SparkContext — an earlier suite's teardown, an executor fault,
    * anything — would make a cached session a corpse that every later
    * suite inherits ("SparkContext was stopped" cascades through the
    * rest of the JVM's suites, as the round-17 driver run showed with
    * StreamingOcsSpec). Rebuild whenever the cached context is gone so
    * one fault can fail at most the suite that caused it. */
  @volatile private var testSession: SparkSession = _
  def test: SparkSession = synchronized {
    if (testSession == null || testSession.sparkContext.isStopped) {
      // Fixtures still reference the dead context's blocks.
      Families.invalidateFixtures()
      testSession = live(builder(4))
    }
    testSession
  }

  /** A session from `b`, after dropping any stopped default or active
    * session from Spark's registries — getOrCreate could otherwise hand
    * the same corpse back. */
  def live(b: SparkSession.Builder): SparkSession = {
    if ((SparkSession.getDefaultSession ++ SparkSession.getActiveSession)
        .exists(_.sparkContext.isStopped)) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
