package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema'd readers over the driver-generated parquet tables
  * (TESTDATA.md). Plain parquet scans: Catalyst prunes columns and
  * pushes filters down to the scan, so operators never pre-select.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts normalized to the native microsecond TimestampType,
    * adapting to whatever physical type the driver-generated parquet
    * carries (the generator has changed it TWICE between rounds):
    *  - TIMESTAMP(NANOS): read as raw nanos
    *    (spark.sql.legacy.parquet.nanosAsLong, set by GraftSession);
    *  - TIMESTAMP(MICROS) without tz: arrives as TIMESTAMP_NTZ; cast
    *    to TimestampType (identity under the session's UTC zone);
    *  - TIMESTAMP(MICROS) with tz: already TimestampType, no-op.
    *
    * A raw INT64 column is disambiguated by MAGNITUDE, not assumed to
    * be nanos (the hazard: an unannotated-micros file silently
    * divided by 1000): epoch seconds (~2·10⁹), millis
    * (~2·10¹²), micros (~2·10¹⁵) and nanos (~2·10¹⁸) occupy disjoint
    * decades for any instant between 1973 and 5138, so one codegen'd
    * per-row comparison picks the right unit for every physical
    * encoding the generator could emit — integer DIV throughout, no
    * double round-off. (TablesTsSpec pins all four units + both
    * timestamp physical types.) */
  def events: DataFrame = normalizeTs(t("events"))

  private def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr(
        """timestamp_micros(CASE
          |  WHEN ts >= 100000000000000000 THEN ts DIV 1000
          |  WHEN ts >= 100000000000000    THEN ts
          |  WHEN ts >= 100000000000       THEN ts * 1000
          |  ELSE                               ts * 1000000
          |END)""".stripMargin))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Layout-aware scan parallelization (round 17) — OPT-IN for
    * CPU-heavy consumers. A parquet row group is Spark's atomic split
    * unit: a file written with giant row groups caps scan-stage
    * parallelism at the group count no matter how many cores the
    * session has, and every expression Catalyst collapses into the
    * scan stage (regex scrubbing, JSON parsing, sketch register
    * updates, replicate fan-outs) runs at that width — measured at
    * sf10, documents arrives as ONE 500k-row group and text_pii_redact
    * ran 85 s wall / 90 s cpu on a 32-core session. At production
    * scale data arrives in many well-sized groups and this is a no-op
    * (the footer check short-circuits); on a pathological layout the
    * table is hash-repartitioned BY ITS PRIMARY KEY to the session's
    * parallelism — hash, not round-robin, so the exchange is
    * deterministic without the sort-before-repartition pre-pass, and a
    * downstream shuffle on the same key can reuse the distribution.
    * The footer read is driver-side, microseconds, cached per path.
    *
    * NOT the default for every read: a scan→partial-agg query (q1_agg)
    * is better off aggregating inside the scan stage than paying a
    * full-table exchange; only operators whose per-row work dominates
    * the shuffle write opt in.
    */
  def parallelized(name: String, key: String*): DataFrame = {
    val raw = t(name)
    val (rows, rgs) = Tables.footerStats(spark, s"$dir/$name.parquet")
    val par = spark.sparkContext.defaultParallelism
    // Trigger: the layout is starved (fewer groups than half the
    // cores) AND each core would get enough rows (≥15k) to amortize
    // the exchange's fixed stage cost — measured at sf0.1 (100k-row
    // events, 32 cores) an always-on repartition ADDED 0.3–1.3 s per
    // sub-second query, while at sf1/sf10 (≥1M rows) it wins 2–17×.
    val widened =
      if (rgs < math.max(1, par / 2) &&
          rows / math.max(rgs, 1) >= 15000L * par) {
        // Key choice: pass the column(s) the consumer will aggregate /
        // window on and the downstream exchange is satisfied by this
        // one (the repartition IS the groupBy's shuffle, moved below
        // the heavy expressions); default to the table's primary key
        // for pure map-shaped consumers.
        val ks = if (key.nonEmpty) key else Seq(Tables.primaryKey(name))
        raw.repartition(par, ks.map(raw.col): _*)
      } else raw
    if (name == "events") normalizeTs(widened) else widened
  }
}

object Tables {
  /** Money/ratio → integer fixed-point (x100 "cents"): dodges
    * float-summation-order divergence between engines in the oracle
    * compare while keeping 2dp resolution. */
  def centsSql(x: String): String = s"CAST(floor(($x) * 100 + 0.5) AS BIGINT)"
  /** Ratio → basis points (x10000). */
  def bpSql(x: String): String = s"CAST(floor(($x) * 10000 + 0.5) AS BIGINT)"

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-table hash-repartition key for [[Tables.parallelized]]:
    * unique (or near-unique) so the exchange spreads evenly. */
  private[graft] def primaryKey(name: String): String = name match {
    case "region"     => "r_regionkey"
    case "nation"     => "n_nationkey"
    case "customer"   => "c_custkey"
    case "supplier"   => "s_suppkey"
    case "part"       => "p_partkey"
    case "orders"     => "o_orderkey"
    case "lineitem"   => "l_orderkey"
    case "events"     => "event_id"
    case "documents"  => "doc_id"
    case "embeddings" => "vec_id"
  }

  /** (rows, rowGroups) from a parquet file footer — driver-side,
    * cached per path; anything unreadable (a directory of part files,
    * a missing path) reports as healthy so [[Tables.parallelized]]
    * degrades to the plain scan. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()
  private[graft] def footerStats(
      spark: SparkSession, path: String): (Long, Int) =
    footerCache.computeIfAbsent(path, { p =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p),
          spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks
          var rows = 0L
          blocks.forEach(b => rows += b.getRowCount)
          (rows, blocks.size)
        } finally r.close()
      } catch { case _: Throwable => (0L, Int.MaxValue) }
    })

  /** SQL-first entry point: register every table as a temp view so
    * `spark.sql("SELECT … FROM lineitem JOIN orders …")` works
    * directly — the same schema'd readers (events keeps its
    * nanos→micros conversion), so SQL and DataFrame callers see
    * identical data. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }
}
