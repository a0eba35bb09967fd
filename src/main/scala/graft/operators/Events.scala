package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table: windowed
  * aggregation, gap sessionization, JSON payload extraction, ordered
  * funnels. These are the batch twins of the Structured Streaming
  * pipeline in graft.streaming (same logical transforms, different
  * source/sink), mirroring how the reference's TCP stream would be
  * analyzed downstream of ingestion.
  *
  * Scale posture: everything keys/shuffles on user_id (or the window
  * bucket) exactly once; sessionization is a per-key linear window
  * scan, never a self-join.
  */
object Events {
  import Relational.{cents, epochS}

  // ─── ev_tumbling: tumbling event-time window aggregate ───
  def evTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        cents(sum(col("value"))).as("value_cents"))
      .select(epochS(col("hour_ts")).as("hour_epoch"), col("event_type"),
        col("n_events"), col("value_cents"))
      .orderBy(col("hour_epoch"), col("event_type"))

  val evTumblingSql: String =
    s"""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
       |  event_type, count(*) AS n_events,
       |  ${Tables.centsSql("sum(value)")} AS value_cents
       |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin

  // ─── ev_sessionize: 30-minute-gap sessionization ───
  // New session when the gap to the previous event of the same user
  // exceeds 1800s. One shuffle on user_id; two linear window passes.
  def evSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("prev_epoch", lag(col("epoch"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_epoch").isNull ||
          col("epoch") - col("prev_epoch") > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("epoch")).as("session_start_epoch"),
        max(col("epoch")).as("session_end_epoch"),
        count(lit(1)).as("n_events"),
        cents(sum(col("value"))).as("value_cents"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val evSessionizeSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch, ts
       |  FROM events
       |), flagged AS (
       |  SELECT *, CASE WHEN lag(epoch) OVER w IS NULL
       |      OR epoch - lag(epoch) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT *, CAST(sum(is_new) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged
       |)
       |SELECT user_id, session_id, min(epoch) AS session_start_epoch,
       |  max(epoch) AS session_end_epoch, count(*) AS n_events,
       |  ${Tables.centsSql("sum(value)")} AS value_cents
       |FROM sess GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // ─── ev_attribution: last-touch attribution for purchases ───
  // The marketing/analytics staple: each purchase is credited to the
  // most recent click or view by the same user within a 48 h lookback,
  // else 'direct'. One shuffle on user_id, one linear window pass —
  // the as-of join collapsed into a running max, never a self-join.
  // The preceding touch is carried as a single BIGINT key
  // ((epoch·10^7 + event_id)·10 + type_code) so ONE window max yields
  // epoch, id and type at once, integer-exact in both engines (the
  // max-of-key IS the latest touch because epoch leads the encoding;
  // fits a BIGINT for event_id < 10^7 — true at every testdata SF).
  private val attrLookbackS = 172800L // 48 h
  def evAttribution(spark: SparkSession, dir: String): DataFrame = {
    val prec = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val code = when(col("event_type") === "click", 1L)
      .when(col("event_type") === "view", 2L)
    val key = (epochS(col("ts")) * 10000000L + col("event_id")) * 10L + code
    Tables(spark, dir).events
      .withColumn("attr_key", max(key).over(prec))
      .filter(col("event_type") === "purchase")
      .withColumn("purchase_epoch", epochS(col("ts")))
      .withColumn("attr_epoch", expr("attr_key div 10 div 10000000"))
      .withColumn("ok",
        col("attr_key").isNotNull &&
          col("attr_epoch") >= col("purchase_epoch") - attrLookbackS)
      .select(col("event_id"), col("user_id"), col("purchase_epoch"),
        when(!col("ok"), "direct")
          .when(col("attr_key") % 10 === 1, "click").otherwise("view")
          .as("attr_type"),
        when(col("ok"), expr("attr_key div 10 % 10000000")).as("attr_event_id"),
        when(col("ok"), col("purchase_epoch") - col("attr_epoch")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  val evAttributionSql: String =
    s"""WITH e AS (
       |  SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events
       |), k AS (
       |  SELECT *, epoch AS purchase_epoch,
       |    max(CASE WHEN event_type = 'click' THEN (epoch * 10000000 + event_id) * 10 + 1
       |             WHEN event_type = 'view'  THEN (epoch * 10000000 + event_id) * 10 + 2
       |        END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_key
       |  FROM e
       |), p AS (
       |  SELECT *, attr_key // 10 // 10000000 AS attr_epoch,
       |    attr_key IS NOT NULL
       |      AND attr_key // 10 // 10000000 >= purchase_epoch - $attrLookbackS AS ok
       |  FROM k WHERE event_type = 'purchase'
       |)
       |SELECT event_id, user_id, purchase_epoch,
       |  CASE WHEN NOT coalesce(ok, FALSE) THEN 'direct'
       |       WHEN attr_key % 10 = 1 THEN 'click' ELSE 'view' END AS attr_type,
       |  CASE WHEN ok THEN attr_key // 10 % 10000000 END AS attr_event_id,
       |  CASE WHEN ok THEN purchase_epoch - attr_epoch END AS gap_s
       |FROM p ORDER BY event_id""".stripMargin

  // ─── ev_concurrency: peak concurrent sessions (sweep line) ───
  // Capacity planning's classic question — how many sessions are
  // active at once? — answered with the ±1 boundary sweep: +1 at each
  // session start, −1 one second after its (inclusive) end, running
  // sum = active count on [epoch, next boundary). The running sum is
  // a DISTRIBUTED two-level prefix sum, not one global-window task:
  // per-day partial sums roll up on a days-sized frame (the only
  // single-partition window, bounded by calendar days at any data
  // scale), then each day's boundaries cumulate in parallel with the
  // day's carry added — the textbook scan-primitive decomposition.
  def evConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = evSessionize(spark, dir)
    // Round 18 (guide §1.2): `deltas` is consumed TWICE (the day-carry
    // rollup and the per-day cumulation), and without a
    // materialization Spark re-ran the whole sessionize → explode →
    // groupBy chain per consumer. Lazy localCheckpoint makes both
    // branches read one computation. The checkpoint hides the frame's
    // size from the planner (the graph_louvain lesson), so the
    // days-sized carry frame gets an EXPLICIT broadcast hint — sound
    // unconditionally: dayCarry has one row per calendar day, bounded
    // by the time horizon, never by event volume.
    val deltas = sess.select(explode(array(
        struct(col("session_start_epoch").as("epoch"), lit(1L).as("d")),
        struct((col("session_end_epoch") + 1).as("epoch"), lit(-1L).as("d"))))
        .as("b"))
      .select(col("b.epoch").as("epoch"), col("b.d").as("d"))
      .groupBy(col("epoch")).agg(sum(col("d")).as("delta"))
      .withColumn("day", expr("epoch div 86400"))
      .localCheckpoint(eager = false)
    val dayCarry = deltas.groupBy(col("day"))
      .agg(sum(col("delta")).as("day_delta"))
      .withColumn("carry", coalesce(
        sum(col("day_delta")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry"))
    deltas
      .withColumn("cum", sum(col("delta")).over(
        Window.partitionBy(col("day")).orderBy(col("epoch"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(dayCarry), Seq("day"))
      .select(col("epoch"), col("delta"), (col("carry") + col("cum")).as("active"))
      .orderBy(col("epoch"))
  }

  /** The sessionize CTE chain, shared verbatim with evSessionizeSql. */
  private val sessCtes: String =
    s"""e AS (
       |  SELECT user_id, event_id, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch, ts
       |  FROM events
       |), flagged AS (
       |  SELECT *, CASE WHEN lag(epoch) OVER w IS NULL
       |      OR epoch - lag(epoch) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT *, CAST(sum(is_new) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged
       |)""".stripMargin

  val evConcurrencySql: String =
    s"""WITH $sessCtes,
       |s AS (
       |  SELECT user_id, session_id, min(epoch) AS st, max(epoch) AS en
       |  FROM sess GROUP BY user_id, session_id
       |), b AS (
       |  SELECT st AS epoch, 1 AS d FROM s
       |  UNION ALL SELECT en + 1, -1 FROM s
       |), dl AS (
       |  SELECT epoch, CAST(sum(d) AS BIGINT) AS delta FROM b GROUP BY epoch
       |)
       |SELECT epoch, delta,
       |  CAST(sum(delta) OVER (ORDER BY epoch
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
       |FROM dl ORDER BY epoch""".stripMargin

  // ─── ev_session_native: Spark's native session_window operator ───
  // The same 30-minute-gap semantics as ev_sessionize but via the
  // built-in session_window aggregate — the operator a Spark-first
  // user reaches for, and the one that carries over unchanged to
  // Structured Streaming (StreamingOcsSpec drives it on a
  // stream with a watermark). Native semantics are µs-precise: a
  // session extends while ts < session_end (= last ts + gap), so the
  // DuckDB twin flags a new session at gap ≥ 1800s in epoch_us —
  // NOT the floored-seconds logic of ev_sessionize; keeping both
  // queries documents the subtle boundary difference.
  def evSessionNative(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        cents(sum(col("value"))).as("value_cents"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("value_cents"))
      .orderBy(col("user_id"), col("start_us"))

  val evSessionNativeSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) AS us, ts FROM events
       |), flagged AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess AS (
       |  SELECT *, sum(is_new) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged
       |)
       |SELECT user_id, min(us) AS start_us,
       |  max(us) + 1800000000 AS end_us, count(*) AS n_events,
       |  ${Tables.centsSql("sum(value)")} AS value_cents
       |FROM sess GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin

  // ─── ev_json_props: JSON payload extraction ───
  def evJsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).parallelized("events")
      .withColumn("k_val",
        get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k_val")).as("k_sum"),
        max(col("k_val")).as("k_max"),
        count(when(col("k_val") > 50, 1)).as("n_high"))
      .orderBy(col("event_type"))

  val evJsonPropsSql: String =
    """SELECT event_type,
      |  CAST(sum(k_val) AS BIGINT) AS k_sum, max(k_val) AS k_max,
      |  count(CASE WHEN k_val > 50 THEN 1 END) AS n_high
      |FROM (SELECT event_type,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ─── ev_funnel: ordered signup→purchase funnel per user ───
  def evFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    e.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("signup_ts"),
        max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase_ts"))
      .withColumn("converted",
        when(col("signup_ts").isNotNull &&
          col("last_purchase_ts") > col("signup_ts"), 1).otherwise(0))
      .select(col("user_id"), epochS(col("signup_ts")).as("signup_epoch"),
        col("converted"))
      .orderBy(col("user_id"))
  }

  val evFunnelSql: String =
    """SELECT user_id,
      |  CAST(floor(epoch(min(CASE WHEN event_type = 'signup' THEN ts END))) AS BIGINT) AS signup_epoch,
      |  CASE WHEN min(CASE WHEN event_type = 'signup' THEN ts END) IS NOT NULL
      |    AND max(CASE WHEN event_type = 'purchase' THEN ts END)
      |      > min(CASE WHEN event_type = 'signup' THEN ts END)
      |    THEN 1 ELSE 0 END AS converted
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ─── ev_pattern: adjacent-event sequence detection ───
  // MATCH_RECOGNIZE-lite: an error IMMEDIATELY followed (no
  // intervening event for that user) by a purchase within one hour.
  // lead() over the per-user event-time order — one shuffle on
  // user_id, linear per key; never a self-join on proximity (which
  // would be a range join over the whole event stream). Ties broken
  // by event_id so the adjacency relation is total and both engines
  // see the same sequence.
  def evPattern(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .withColumn("next_ts", lead(col("ts"), 1).over(byUser))
      .filter(col("event_type") === "error" && col("next_type") === "purchase" &&
        epochS(col("next_ts")) - epochS(col("ts")) <= 3600)
      .select(col("user_id"), col("event_id").as("err_id"),
        epochS(col("ts")).as("err_epoch"),
        (epochS(col("next_ts")) - epochS(col("ts"))).as("gap_sec"))
      .orderBy(col("err_id"))
  }

  val evPatternSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    lead(event_type) OVER w AS next_type,
      |    lead(ts) OVER w AS next_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id AS err_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS err_epoch,
      |  CAST(floor(epoch(next_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS gap_sec
      |FROM seq
      |WHERE event_type = 'error' AND next_type = 'purchase'
      |  AND CAST(floor(epoch(next_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) <= 3600
      |ORDER BY err_id""".stripMargin

  // ─── seqMatch: k-step MATCH_RECOGNIZE-lite compiler ───
  // Generalizes the round-4 hand-built quantified query: a pattern is
  // m ≥ 2 anchor predicates a_1..a_m with a quantified FILLER between
  // consecutive anchors (at least minCount events matching fillPred
  // strictly between them), all inside windowSec from the first to
  // the last anchor. Semantics: skip-till-next-match with greedy
  // earliest anchors — anchor i+1 is the first matching event after
  // anchor i (the semantics the 3-step query shipped with).
  //
  // Compilation keeps the one-pass shape at any m: ONE shuffle on
  // user_id; per-slot cumulative counts plus m−1 argmin-struct window
  // passes all share the same (ts, event_id) sort. The chain trick:
  // anchor i's window min carries a STRUCT snapshot of that row —
  // (us, event_id, every cum counter, and anchor i+1's snapshot
  // taken at that row) — so "the b after my a, then the c after that
  // b" resolves by struct field access, never a self-join. Struct
  // min is lexicographic with event time first, so it picks the
  // earliest matching row; cum counters are monotone in event order,
  // so count-between = cum difference between snapshots.
  def seqMatch(events: DataFrame, anchors: Seq[Column],
      fills: Seq[(Column, Int)], windowSec: Long): DataFrame = {
    require(anchors.size >= 2 && fills.size == anchors.size - 1,
      "pattern = m >= 2 anchors with m-1 quantified fillers")
    val m = anchors.size
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val upTo = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = order.rowsBetween(1, Window.unboundedFollowing)
    val withCums = fills.zipWithIndex.foldLeft(
      events.withColumn("us", unix_micros(col("ts")))) {
      case (df, ((fp, _), j)) =>
        df.withColumn(s"cum_$j", sum(when(fp, 1L).otherwise(0L)).over(upTo))
    }
    val chained = ((m - 1) to 1 by -1).foldLeft(withCums) { (df, i) =>
      val payload = Seq(col("us").as("us"), col("event_id").as("eid")) ++
        fills.indices.map(j => col(s"cum_$j").as(s"cum_$j")) ++
        (if (i < m - 1) Seq(col(s"nx_${i + 1}").as("nx")) else Nil)
      df.withColumn(s"nx_$i",
        min(when(anchors(i), struct(payload: _*))).over(after))
    }
    // The snapshot of anchor i (1-based): nx_1(.nx)^(i-1). A broken
    // chain surfaces as a null at the first missing link (getField on
    // null is null), so one isNotNull per anchor covers it.
    def at(i: Int): Column =
      (2 to i).foldLeft(col("nx_1"))((c, _) => c.getField("nx"))
    def epochOf(us: Column): Column = floor(us / 1e6).cast("long")
    val gap = epochOf(at(m - 1).getField("us")) - epochOf(col("us"))
    val fillConds = fills.zipWithIndex.map { case ((_, minN), j) =>
      val prev = if (j == 0) col(s"cum_$j") else at(j).getField(s"cum_$j")
      (at(j + 1).getField(s"cum_$j") - prev) >= minN
    }
    chained.filter(anchors.head)
      .filter((1 until m).map(i => at(i).isNotNull).reduce(_ && _))
      .filter(gap <= windowSec)
      .filter(fillConds.reduce(_ && _))
      .select(
        Seq(col("user_id"), col("event_id").as("a1_id"),
          epochOf(col("us")).as("a1_epoch")) ++
        (2 to m).map(i => epochOf(at(i - 1).getField("us")).as(s"a${i}_epoch")) ++
        Seq(gap.as("gap_sec")) ++
        fills.indices.map { j =>
          val prev = if (j == 0) col(s"cum_$j") else at(j).getField(s"cum_$j")
          (at(j + 1).getField(s"cum_$j") - prev).as(s"n_fill_$j")
        }: _*)
      .orderBy(col("a1_id"))
  }

  /** DuckDB twin generator for seqMatch — the same cum-counter +
    * struct-argmin chain emitted from the same pattern description
    * (DuckDB orders structs lexicographically by field position, like
    * Spark, so both engines pick identical anchor rows). */
  def seqMatchSql(anchorsSql: Seq[String], fillsSql: Seq[(String, Int)],
      windowSec: Long): String = {
    val m = anchorsSql.size
    val cumCols = fillsSql.zipWithIndex.map { case ((fp, _), j) =>
      s"""sum(CASE WHEN $fp THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_$j""".stripMargin
    }
    val after = """PARTITION BY user_id ORDER BY ts, event_id
                  |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING""".stripMargin
    val ctes = ((m - 1) to 1 by -1).map { i =>
      val fields = Seq("'us': us", "'eid': event_id") ++
        fillsSql.indices.map(j => s"'cum_$j': cum_$j") ++
        (if (i < m - 1) Seq(s"'nx': nx_${i + 1}") else Nil)
      val src = if (i == m - 1) "cums" else s"n${i + 1}"
      s"""n$i AS (SELECT *, min(CASE WHEN ${anchorsSql(i)}
         |    THEN {${fields.mkString(", ")}} END) OVER (
         |      $after) AS nx_$i FROM $src)""".stripMargin
    }
    def path(i: Int): String =
      (2 to i).foldLeft("nx_1")((s, _) => s"struct_extract($s, 'nx')")
    def fld(i: Int, f: String): String = s"struct_extract(${path(i)}, '$f')"
    val epoch1 = "CAST(us // 1000000 AS BIGINT)"
    def epochAt(i: Int) = s"CAST(${fld(i, "us")} // 1000000 AS BIGINT)"
    val gap = s"${epochAt(m - 1)} - $epoch1"
    val notNulls = (1 until m).map(i => s"${path(i)} IS NOT NULL")
    val fillConds = fillsSql.zipWithIndex.map { case ((_, minN), j) =>
      val prev = if (j == 0) s"cum_$j" else fld(j, s"cum_$j")
      s"${fld(j + 1, s"cum_$j")} - $prev >= $minN"
    }
    val nFills = fillsSql.indices.map { j =>
      val prev = if (j == 0) s"cum_$j" else fld(j, s"cum_$j")
      s"CAST(${fld(j + 1, s"cum_$j")} - $prev AS BIGINT) AS n_fill_$j"
    }
    val aEpochs = (2 to m).map(i => s"${epochAt(i - 1)} AS a${i}_epoch")
    s"""WITH base AS (SELECT *, epoch_us(ts) AS us FROM events),
       |cums AS (SELECT *,
       |    ${cumCols.mkString(",\n    ")}
       |  FROM base),
       |${ctes.mkString(",\n")}
       |SELECT user_id, event_id AS a1_id, $epoch1 AS a1_epoch,
       |  ${aEpochs.mkString(", ")},
       |  CAST($gap AS BIGINT) AS gap_sec,
       |  ${nFills.mkString(", ")}
       |FROM n1
       |WHERE ${anchorsSql.head} AND ${notNulls.mkString(" AND ")}
       |  AND $gap <= $windowSec AND ${fillConds.mkString(" AND ")}
       |ORDER BY a1_id""".stripMargin
  }

  // ─── ev_pattern_quant: quantified 3-step sequence ───
  // error, then AT LEAST ONE click, then the next purchase — all
  // inside 48 hours. Expressed through the seqMatch compiler; the
  // hand-written oracle below predates the compiler and pins the
  // semantics the builder must reproduce (it has, hash-exact, since
  // round 4).
  def evPatternQuant(spark: SparkSession, dir: String): DataFrame =
    seqMatch(Tables(spark, dir).events,
      anchors = Seq(col("event_type") === "error",
        col("event_type") === "purchase"),
      fills = Seq((col("event_type") === "click", 1)),
      windowSec = 172800)
      .select(col("user_id"), col("a1_id").as("err_id"),
        col("a1_epoch").as("err_epoch"), col("gap_sec"),
        col("n_fill_0").as("n_clicks_between"))
      .orderBy(col("err_id"))

  val evPatternQuantSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_clicks
      |  FROM events),
      |nxt AS (
      |  SELECT *,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) OVER w AS np_ts,
      |    min(CASE WHEN event_type = 'purchase' THEN cum_clicks END) OVER w AS np_cum
      |  FROM seq
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT user_id, event_id AS err_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS err_epoch,
      |  CAST(floor(epoch(np_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS gap_sec,
      |  CAST(np_cum - cum_clicks AS BIGINT) AS n_clicks_between
      |FROM nxt
      |WHERE event_type = 'error' AND np_ts IS NOT NULL
      |  AND CAST(floor(epoch(np_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) <= 172800
      |  AND np_cum - cum_clicks >= 1
      |ORDER BY err_id""".stripMargin

  // ─── ev_pattern_seq: 4-step quantified sequence via seqMatch ───
  // signup, then AT LEAST ONE click, then an error, then (≥0 clicks
  // and) a purchase — first to last anchor inside 30 days. The
  // 4-step pattern (3 anchors, 2 filler slots) exercises the nested
  // anchor chain the 2-anchor queries never reach; its oracle is
  // GENERATED from the same pattern description by seqMatchSql.
  def evPatternSeq(spark: SparkSession, dir: String): DataFrame =
    seqMatch(Tables(spark, dir).events,
      anchors = Seq(col("event_type") === "signup",
        col("event_type") === "error", col("event_type") === "purchase"),
      fills = Seq((col("event_type") === "click", 1),
        (col("event_type") === "click", 0)),
      windowSec = 2592000)
      .select(col("user_id"), col("a1_id").as("signup_id"),
        col("a1_epoch").as("signup_epoch"), col("a2_epoch").as("error_epoch"),
        col("a3_epoch").as("purchase_epoch"), col("gap_sec"),
        col("n_fill_0").as("n_clicks_before_error"),
        col("n_fill_1").as("n_clicks_after_error"))
      .orderBy(col("signup_id"))

  val evPatternSeqSql: String = {
    val inner = seqMatchSql(
      Seq("event_type = 'signup'", "event_type = 'error'",
        "event_type = 'purchase'"),
      Seq(("event_type = 'click'", 1), ("event_type = 'click'", 0)),
      2592000)
    s"""SELECT user_id, a1_id AS signup_id, a1_epoch AS signup_epoch,
       |  a2_epoch AS error_epoch, a3_epoch AS purchase_epoch, gap_sec,
       |  n_fill_0 AS n_clicks_before_error, n_fill_1 AS n_clicks_after_error
       |FROM ($inner) ORDER BY signup_id""".stripMargin
  }

  // ─── ts_fill: time-series resample + forward fill ───
  // Regularize the irregular event stream onto an hourly grid per
  // event_type, forward-filling empty hours with the last observed
  // hourly sum. The grid is data-derived (global [min, max] hour) so
  // the plan is deterministic; grid×type is a broadcast of two tiny
  // frames; the fill is last(ignoreNulls) over a per-type linear
  // window — one shuffle on event_type, no per-gap self-joins.
  def tsFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(cents(sum(col("value"))).as("sum_cents"))
    val span = ev.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.select(explode(
      expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour_ts"))
    val types = ev.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("hour_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .withColumn("filled", col("sum_cents").isNull)
      .withColumn("sum_cents",
        last(col("sum_cents"), ignoreNulls = true).over(w))
      .filter(col("sum_cents").isNotNull) // leading hours before first datum
      .select(epochS(col("hour_ts")).as("hour_epoch"), col("event_type"),
        col("sum_cents"), col("filled"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  val tsFillSql: String =
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       |    ${Tables.centsSql("sum(value)")} AS sum_cents
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT date_trunc('hour', min(ts)) AS h0,
       |                date_trunc('hour', max(ts)) AS h1 FROM events),
       |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
       |         FROM span),
       |typed AS (SELECT g.hour_ts, t.event_type
       |          FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
       |joined AS (
       |  SELECT t.hour_ts, t.event_type, h.sum_cents,
       |    h.sum_cents IS NULL AS filled
       |  FROM typed t LEFT JOIN hourly h
       |    ON t.hour_ts = h.hour_ts AND t.event_type = h.event_type),
       |flled AS (
       |  SELECT CAST(floor(epoch(hour_ts)) AS BIGINT) AS hour_epoch, event_type,
       |    last_value(sum_cents IGNORE NULLS) OVER (
       |      PARTITION BY event_type ORDER BY hour_ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_fill,
       |    filled
       |  FROM joined)
       |SELECT hour_epoch, event_type, sum_fill AS sum_cents, filled
       |FROM flled WHERE sum_fill IS NOT NULL
       |ORDER BY hour_epoch, event_type""".stripMargin

  // ─── ev_retention: weekly cohort retention matrix ───
  // Cohort = the week of a user's first event; a cell (cohort, k) =
  // users of that cohort active k weeks later. Two bounded shuffles:
  // first-seen per user (groupBy user_id), then the matrix aggregate
  // over DISTINCT (user, week) activity — at 100 TB both key on
  // user_id / (cohort, offset), never on events. count(*) suffices in
  // the matrix because the activity frame is already distinct per
  // (user, week) and the offset is a function of the week.
  def evRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_w"))
    val act = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("act_w"))
      .distinct()
    val ret = act.join(first, "user_id")
      // Both ends are Monday-midnight truncations, so the day span is
      // an exact multiple of 7 — the double division is exact.
      .withColumn("week_offset",
        (datediff(col("act_w"), col("cohort_w")) / lit(7)).cast("int"))
      .groupBy(col("cohort_w"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val size = first.groupBy(col("cohort_w")).agg(count(lit(1)).as("cohort_n"))
    ret.join(size, "cohort_w")
      .select(epochS(col("cohort_w")).as("cohort_epoch"), col("week_offset"),
        col("n_users"),
        floor(col("n_users") * 10000.0 / col("cohort_n") + 0.5)
          .cast("long").as("retention_bp"))
      .orderBy(col("cohort_epoch"), col("week_offset"))
  }

  val evRetentionSql: String =
    s"""WITH cohort AS (
       |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_w
       |  FROM events GROUP BY user_id),
       |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_w
       |        FROM events),
       |ret AS (
       |  SELECT f.cohort_w,
       |    CAST(date_diff('day', f.cohort_w, a.act_w) // 7 AS INT) AS week_offset,
       |    count(*) AS n_users
       |  FROM act a JOIN cohort f USING (user_id) GROUP BY 1, 2),
       |sz AS (SELECT cohort_w, count(*) AS cohort_n FROM cohort GROUP BY 1)
       |SELECT CAST(floor(epoch(r.cohort_w)) AS BIGINT) AS cohort_epoch,
       |  r.week_offset, r.n_users,
       |  CAST(floor(r.n_users * 10000.0 / s.cohort_n + 0.5) AS BIGINT)
       |    AS retention_bp
       |FROM ret r JOIN sz s USING (cohort_w)
       |ORDER BY cohort_epoch, week_offset""".stripMargin

  // ─── ev_anomaly: hourly-volume outliers, exact-integer z-test ───
  // Hours whose event count sits more than 2.5σ from the type's mean.
  // The membership test is ALL-INTEGER: with H observed hours, S=Σn,
  // SS=Σn², flag n iff 4·(H·n−S)²·(H−1) > 25·H·(H·SS−S²) — identical
  // to |z|>2.5 under the sample stddev, but no float ever decides
  // whether a row appears, so the oracle can't diverge on a rounding
  // boundary (a z_bp-style threshold could). Strict '>' keeps a
  // zero-variance series from flagging itself. Longs hold the
  // products up to n·H ≈ 3·10⁹ — beyond that (far past these SFs)
  // promote to decimal(38,0). One aggregate per type (broadcast-sized)
  // joined back to the hourly frame.
  def evAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir).events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("h"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
    val dev = col("h") * col("n") - col("s")
    hourly.join(broadcast(stats), col("event_type") === col("et"))
      .filter(col("h") >= 2 &&
        lit(4) * dev * dev * (col("h") - 1) >
          lit(25) * col("h") * (col("h") * col("ss") - col("s") * col("s")))
      .select(epochS(col("hour_ts")).as("hour_epoch"), col("event_type"),
        col("n"), when(dev > 0, 1).otherwise(-1).cast("int").as("direction"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  val evAnomalySql: String =
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |stats AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS h,
       |    CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
       |  FROM hourly GROUP BY event_type)
       |SELECT CAST(floor(epoch(x.hour_ts)) AS BIGINT) AS hour_epoch,
       |  x.event_type, x.n,
       |  CAST(CASE WHEN t.h * x.n - t.s > 0 THEN 1 ELSE -1 END AS INT)
       |    AS direction
       |FROM hourly x JOIN stats t USING (event_type)
       |WHERE t.h >= 2
       |  AND 4 * (t.h * x.n - t.s) * (t.h * x.n - t.s) * (t.h - 1)
       |      > 25 * t.h * (t.h * t.ss - t.s * t.s)
       |ORDER BY hour_epoch, event_type""".stripMargin

  // ─── ts_interp: linear interpolation on the hourly grid ───
  // tsFill's twin for quantities where carry-forward lies (gauges,
  // rates): interior gaps are filled by the line between the
  // bracketing observations. Same grid × types shape as tsFill; the
  // bracketing points come from two linear window passes (last/first
  // IGNORE NULLS), never a self-join. The interpolation itself is one
  // fixed float expression — prev + (next−prev)·(Δt/len) — evaluated
  // in the same operation order by both engines, then cents-rounded.
  // Leading/trailing edges (no bracket) are dropped: interpolation
  // has no mandate there, extrapolation is tsFill's job.
  def tsInterp(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(cents(sum(col("value"))).as("obs_cents"))
    val span = ev.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.select(explode(
      expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour_ts"))
    val types = ev.select(col("event_type")).distinct()
    val byType = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
    val back = byType.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = byType.rowsBetween(0, Window.unboundedFollowing)
    val he = epochS(col("hour_ts"))
    grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .withColumn("he", he)
      .withColumn("pv", last(col("obs_cents"), ignoreNulls = true).over(back))
      .withColumn("pt", last(when(col("obs_cents").isNotNull, col("he")),
        ignoreNulls = true).over(back))
      .withColumn("nv", first(col("obs_cents"), ignoreNulls = true).over(fwd))
      .withColumn("nt", first(when(col("obs_cents").isNotNull, col("he")),
        ignoreNulls = true).over(fwd))
      .filter(col("pv").isNotNull && col("nv").isNotNull)
      .select(col("he").as("hour_epoch"), col("event_type"),
        when(col("obs_cents").isNotNull, col("obs_cents"))
          .otherwise(floor(col("pv") + (col("nv") - col("pv")) *
            ((col("he") - col("pt")) / (col("nt") - col("pt"))) + 0.5)
            .cast("long")).as("cents"),
        col("obs_cents").isNull.as("interpolated"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  val tsInterpSql: String =
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       |    ${Tables.centsSql("sum(value)")} AS obs_cents
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT date_trunc('hour', min(ts)) AS h0,
       |                date_trunc('hour', max(ts)) AS h1 FROM events),
       |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
       |         FROM span),
       |typed AS (SELECT g.hour_ts, t.event_type
       |          FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
       |joined AS (
       |  SELECT t.hour_ts, t.event_type, h.obs_cents,
       |    CAST(floor(epoch(t.hour_ts)) AS BIGINT) AS he
       |  FROM typed t LEFT JOIN hourly h
       |    ON t.hour_ts = h.hour_ts AND t.event_type = h.event_type),
       |brk AS (
       |  SELECT *,
       |    last_value(obs_cents IGNORE NULLS) OVER (
       |      PARTITION BY event_type ORDER BY hour_ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
       |    last_value(CASE WHEN obs_cents IS NOT NULL THEN he END IGNORE NULLS)
       |      OVER (PARTITION BY event_type ORDER BY hour_ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
       |    first_value(obs_cents IGNORE NULLS) OVER (
       |      PARTITION BY event_type ORDER BY hour_ts
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
       |    first_value(CASE WHEN obs_cents IS NOT NULL THEN he END IGNORE NULLS)
       |      OVER (PARTITION BY event_type ORDER BY hour_ts
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
       |  FROM joined)
       |SELECT he AS hour_epoch, event_type,
       |  CASE WHEN obs_cents IS NOT NULL THEN obs_cents
       |       ELSE CAST(floor(pv + (nv - pv) * ((he - pt) / (nt - pt)) + 0.5)
       |                 AS BIGINT) END AS cents,
       |  obs_cents IS NULL AS interpolated
       |FROM brk WHERE pv IS NOT NULL AND nv IS NOT NULL
       |ORDER BY hour_epoch, event_type""".stripMargin

  // ─── ev_markov: event-type transition matrix ───
  // First-order Markov model of user behavior: P(next type | type),
  // estimated from adjacent event pairs within each user's stream.
  // One window pass for the lag (shuffle on user_id), one map-side-
  // combining count over at most |types|² keys, and a tiny window for
  // the row-normalization — the transition matrix itself is broadcast-
  // sized no matter how large the event log grows. Ties on ts break by
  // event_id, the same arrival-order discipline as cdc/scd2.
  def evMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_bp",
        floor(col("n") * 10000.0 /
          sum(col("n")).over(Window.partitionBy(col("from_type"))) + 0.5)
          .cast("long"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val evMarkovSql: String =
    """WITH pairs AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |counts AS (
      |  SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
      |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(floor(n * 10000.0 / sum(n) OVER (PARTITION BY from_type) + 0.5)
      |    AS BIGINT) AS p_bp
      |FROM counts ORDER BY from_type, to_type""".stripMargin

  // ─── ev_next_entropy: how predictable is the next event? ───
  // The information-theoretic readout over ev_markov's transition
  // counts: per current type, the conditional entropy of the NEXT
  // event type in the fl2 = ⌊log₂⌋ surrogate (the ev_entropy
  // discipline — libm-free, exact at powers of two, identical in both
  // engines), plus the fl2(out-degree) ceiling and predictability in
  // bp (10⁴ − uniform share). The '__all__' row is the
  // transition-mass-weighted mean H(next|cur) — the one number that
  // says whether the behavior chain is worth a sequence model or is
  // basically a coin flip. One user-keyed lag pass (the ev_markov
  // edge derivation), then everything is ‖types‖²-frame arithmetic.
  def evNextEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables(spark, dir).events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("cur_type"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    // Round 18: the per-cur-type total used to ride a Window over the
    // counts frame before the groupBy; with n_c = sum(c) constant per
    // group, Σ c·(len(bin(n_c)) − len(bin(c))) = len(bin(Σc))·Σc −
    // Σ c·len(bin(c)) — all exact integer arithmetic — so one
    // aggregate computes the same h_milli and the WindowExec (plus
    // its sort) disappears from the plan.
    val perCur = counts
      .groupBy(col("cur_type"))
      .agg(sum(col("c")).as("n_out"),
        count(lit(1)).as("n_next_types"),
        expr("sum(c * length(bin(c)))").as("sclb"))
      .withColumn("h_milli",
        expr("(n_out * length(bin(n_out)) - sclb) * 1000 div n_out"))
      .drop("sclb")
      .withColumn("h_max_milli",
        expr("cast((length(bin(n_next_types)) - 1) * 1000 AS BIGINT)"))
    val overall = perCur.agg(
      sum(col("n_out")).as("n_out"),
      max(col("n_next_types")).as("n_next_types"),
      expr("sum(n_out * h_milli) div sum(n_out)").as("h_milli"),
      max(col("h_max_milli")).as("h_max_milli"))
      .select(lit("__all__").as("cur_type"), col("n_out"),
        col("n_next_types"), col("h_milli"), col("h_max_milli"))
    perCur.select(col("cur_type"), col("n_out"), col("n_next_types"),
        col("h_milli"), col("h_max_milli"))
      .unionByName(overall)
      .orderBy(col("cur_type"))
  }

  val evNextEntropySql: String =
    """WITH pairs AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |counts AS (
      |  SELECT prev_type AS cur_type, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |wn AS (
      |  SELECT cur_type, c,
      |    CAST(sum(c) OVER (PARTITION BY cur_type) AS BIGINT) AS n_c
      |  FROM counts),
      |per AS (
      |  SELECT cur_type, max(n_c) AS n_out,
      |    CAST(count(*) AS BIGINT) AS n_next_types,
      |    CAST(sum(c * (length(bin(n_c)) - length(bin(c)))) * 1000 // max(n_c)
      |      AS BIGINT) AS h_milli,
      |    (length(bin(CAST(count(*) AS BIGINT))) - 1) * 1000 AS h_max_milli
      |  FROM wn GROUP BY cur_type)
      |SELECT cur_type, n_out, n_next_types, h_milli, h_max_milli FROM per
      |UNION ALL
      |SELECT '__all__', CAST(sum(n_out) AS BIGINT),
      |  max(n_next_types),
      |  CAST(sum(n_out * h_milli) AS BIGINT) // CAST(sum(n_out) AS BIGINT),
      |  max(h_max_milli)
      |FROM per
      |ORDER BY cur_type""".stripMargin

  // ─── ev_dormancy: time-since-last-activity distribution ───
  // The churn-risk counterpart of ev_retention's backward look: how
  // long has each user been silent as of the corpus horizon (max ts —
  // broadcast, so "now" is identical on every executor and in the
  // oracle), rolled to an fl2 = ⌊log₂(days+1)⌋ histogram with user
  // share and cumulative coverage — the re-engagement campaign sizing
  // table (bucket 0 = active within ~1 day, each bucket doubles the
  // silence). One per-user max aggregate, then ≤40-row frame
  // arithmetic; exact integer days.
  def evDormancy(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val horizon = ev.agg(max(epochS(col("ts"))).as("now_e"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(epochS(col("ts"))).as("last_e"))
      .crossJoin(broadcast(horizon))
      .withColumn("days", expr("(now_e - last_e) div 86400"))
      .withColumn("bucket",
        (length(bin(col("days") + 1)) - 1).cast("long"))
    perUser.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("days")).as("min_days"), max(col("days")).as("max_days"))
      .withColumn("share_bp",
        expr("n_users * 10000 div sum(n_users) over ()"))
      .withColumn("cum_bp",
        expr("sum(n_users) over (order by bucket) * 10000" +
          " div sum(n_users) over ()"))
      .orderBy(col("bucket"))
  }

  val evDormancySql: String =
    """WITH h AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS now_e
      |           FROM events),
      |pu AS (
      |  SELECT user_id,
      |    (h.now_e - max(CAST(floor(epoch(ts)) AS BIGINT))) // 86400 AS days
      |  FROM events CROSS JOIN h GROUP BY user_id, h.now_e),
      |b AS (
      |  SELECT CAST(length(bin(days + 1)) - 1 AS BIGINT) AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_users,
      |    min(days) AS min_days, max(days) AS max_days
      |  FROM pu GROUP BY 1)
      |SELECT bucket, n_users, min_days, max_days,
      |  n_users * 10000 // CAST(sum(n_users) OVER () AS BIGINT) AS share_bp,
      |  CAST(sum(n_users) OVER (ORDER BY bucket) AS BIGINT) * 10000
      |    // CAST(sum(n_users) OVER () AS BIGINT) AS cum_bp
      |FROM b ORDER BY bucket""".stripMargin

  // ─── ev_cohort: weekly signup-cohort retention matrix ───
  // Cohort = ISO week (Monday-truncated) of a user's first event;
  // offset = whole weeks between an activity week and the cohort
  // week; cell = distinct active users. Shape: one user-keyed
  // aggregate for the cohort week, one user-keyed join back (AQE
  // broadcasts the cohort side while it fits; at 100 TB both sides
  // shuffle on user_id — the only key this ever needs), then a
  // count-distinct over a (weeks × offsets)-sized key space, which
  // stays broadcast-sized regardless of event volume.
  def evCohort(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .withColumn("wk", floor(epochS(date_trunc("week", col("ts"))) / 86400L))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("cohort_wk"),
        ((col("wk") - col("cohort_wk")) / 7).cast("long").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  val evCohortSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(date_trunc('week', ts)) / 86400) AS BIGINT) AS wk
      |  FROM events),
      |cohorts AS (
      |  SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
      |SELECT c.cohort_wk, CAST((e.wk - c.cohort_wk) // 7 AS BIGINT) AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN cohorts c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin

  // ─── ev_dwell: inter-event dwell-time stats per event type ───
  // Gap from the previous event in the same user's timeline (arrival
  // order: ts then event_id, the repo-wide tie-break), attributed to
  // the *current* event's type. One shuffle on user_id for the lag,
  // then a 5-key map-side-combining aggregate.
  def evDwell(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).parallelized("events", "user_id")
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("gap_s", col("epoch") - lag(col("epoch"), 1).over(w))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        cents(avg(col("gap_s"))).as("avg_gap_cents"),
        min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("event_type"))
  }

  val evDwellSql: String =
    s"""WITH g AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT)
       |      - lag(CAST(floor(epoch(ts)) AS BIGINT))
       |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
       |  FROM events)
       |SELECT event_type, count(*) AS n_gaps,
       |  ${Tables.centsSql("avg(gap_s)")} AS avg_gap_cents,
       |  min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
       |FROM g WHERE gap_s IS NOT NULL
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ─── ev_topk_day: top-3 event types per day by revenue ───
  // Two-level: a (day × type)-keyed partial-combining aggregate first
  // (the only pass over the raw log), then the rank window runs on
  // the aggregate — at most days×types rows — so the window never
  // sees event-scale data. Ranking ties break on event_type.
  def evTopkDay(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("day_epoch"))
      .orderBy(col("value_cents").desc, col("event_type"))
    Tables(spark, dir).events
      .groupBy(floor(epochS(date_trunc("day", col("ts"))) / 86400L)
          .as("day_epoch"),
        col("event_type"))
      .agg(cents(sum(col("value"))).as("value_cents"),
        count(lit(1)).as("n_events"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("day_epoch"), col("rank"))
  }

  val evTopkDaySql: String =
    s"""WITH d AS (
       |  SELECT CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT)
       |      AS day_epoch,
       |    event_type, ${Tables.centsSql("sum(value)")} AS value_cents,
       |    count(*) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT day_epoch, event_type, value_cents, n_events,
       |  CAST(rank AS BIGINT) AS rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY day_epoch ORDER BY value_cents DESC, event_type) AS rank
       |  FROM d)
       |WHERE rank <= 3 ORDER BY day_epoch, rank""".stripMargin

  // ─── ev_wau: trailing-7-day active users per day ───
  // Exact sliding-window COUNT DISTINCT — the aggregate that does NOT
  // decompose into per-window sums, so the scale-honest exact shape
  // is contribution explosion: shrink to distinct (user, day) pairs
  // FIRST (the corpus-sized dedup, one shuffle), then each pair
  // contributes to the ≤7 window-ends it can serve — a bounded ×7
  // expand of the already-small pair set — and a final
  // (day × user)-keyed distinct count. Sketch alternatives (HLL
  // merge) trade exactness; this stays exact with bounded blowup.
  def evWau(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(floor(epochS(date_trunc("day", col("ts"))) / 86400L).as("day"),
        col("user_id"))
      .distinct()
      .select(explode(sequence(col("day"), col("day") + 6)).as("day_epoch"),
        col("user_id"))
      .groupBy(col("day_epoch"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy(col("day_epoch"))

  val evWauSql: String =
    """WITH du AS (
      |  SELECT DISTINCT
      |    CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day,
      |    user_id
      |  FROM events),
      |contrib AS (
      |  SELECT unnest(generate_series(day, day + 6)) AS day_epoch, user_id
      |  FROM du)
      |SELECT day_epoch, count(DISTINCT user_id) AS wau
      |FROM contrib GROUP BY 1 ORDER BY day_epoch""".stripMargin

  // ─── ev_funnel_steps: k-step ordered funnel with per-step rates ───
  // The dashboard funnel: signup → click → purchase, each step's
  // first qualifying event strictly AFTER the previous step's (the
  // ev_funnel strict-order discipline extended to k steps). Step
  // times chain through three window projections over ONE user_id
  // partitioning — Catalyst reuses the single exchange, so the whole
  // funnel costs one shuffle — then a user rollup and a 3-row
  // readout exploded off the single aggregate row (the profile_corr
  // one-pass trick): per-step users, step-over-step conv_bp, and
  // overall_bp vs step 1.
  def evFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val per = Tables(spark, dir).events
      .withColumn("s1",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("s2",
        min(when(col("event_type") === "click" && col("ts") > col("s1"),
          col("ts"))).over(w))
      .withColumn("s3",
        min(when(col("event_type") === "purchase" && col("ts") > col("s2"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("s1")).as("s1"), max(col("s2")).as("s2"),
        max(col("s3")).as("s3"))
    val m = per.agg(count(col("s1")).as("n1"), count(col("s2")).as("n2"),
      count(col("s3")).as("n3"))
    def bp(n: String, d: String): String =
      s"CASE WHEN $d > 0 THEN $n * 10000 div $d ELSE CAST(0 AS BIGINT) END"
    m.select(explode(expr(
        s"""array(
           |  struct(CAST(1 AS BIGINT) AS step, 'signup' AS stage,
           |    n1 AS n_users, CAST(10000 AS BIGINT) AS conv_bp,
           |    CAST(10000 AS BIGINT) AS overall_bp),
           |  struct(CAST(2 AS BIGINT) AS step, 'click' AS stage,
           |    n2 AS n_users, ${bp("n2", "n1")} AS conv_bp,
           |    ${bp("n2", "n1")} AS overall_bp),
           |  struct(CAST(3 AS BIGINT) AS step, 'purchase' AS stage,
           |    n3 AS n_users, ${bp("n3", "n2")} AS conv_bp,
           |    ${bp("n3", "n1")} AS overall_bp))""".stripMargin)).as("p"))
      .select(col("p.step"), col("p.stage"), col("p.n_users"),
        col("p.conv_bp"), col("p.overall_bp"))
      .orderBy(col("step"))
  }

  val evFunnelStepsSql: String = {
    def bp(n: String, d: String): String =
      s"CASE WHEN $d > 0 THEN $n * 10000 // $d ELSE 0 END"
    s"""WITH e1 AS (
       |  SELECT user_id, event_type, ts,
       |    min(CASE WHEN event_type = 'signup' THEN ts END)
       |      OVER (PARTITION BY user_id) AS s1
       |  FROM events),
       |e2 AS (
       |  SELECT user_id, event_type, ts, s1,
       |    min(CASE WHEN event_type = 'click' AND ts > s1 THEN ts END)
       |      OVER (PARTITION BY user_id) AS s2
       |  FROM e1),
       |e3 AS (
       |  SELECT user_id, s1, s2,
       |    min(CASE WHEN event_type = 'purchase' AND ts > s2 THEN ts END)
       |      OVER (PARTITION BY user_id) AS s3
       |  FROM e2),
       |per AS (
       |  SELECT user_id, max(s1) AS s1, max(s2) AS s2, max(s3) AS s3
       |  FROM e3 GROUP BY user_id),
       |m AS (
       |  SELECT CAST(count(s1) AS BIGINT) AS n1,
       |    CAST(count(s2) AS BIGINT) AS n2,
       |    CAST(count(s3) AS BIGINT) AS n3
       |  FROM per)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS stage, n1 AS n_users,
       |    CAST(10000 AS BIGINT) AS conv_bp, CAST(10000 AS BIGINT) AS overall_bp
       |  FROM m
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'click', n2,
       |    ${bp("n2", "n1")}, ${bp("n2", "n1")} FROM m
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'purchase', n3,
       |    ${bp("n3", "n2")}, ${bp("n3", "n1")} FROM m)
       |ORDER BY step""".stripMargin
  }

  // ─── ev_markov_stationary: stationary distribution (power iteration) ───
  // Where does user behavior SETTLE? The stationary distribution π of
  // ev_markov's transition matrix, by k=8 rounds of power iteration.
  // Cross-engine float discipline for iterated linear algebra: a
  // float matrix-vector product SUMS in engine-dependent order, so
  // the whole iteration runs in INTEGER bp — π'(t) = (Σ_f π(f)·
  // p_bp(f→t)) div 10⁴ — every round exactly reproducible (the
  // flooring leaks ≤|V| bp of mass per round, a documented bias, not
  // nondeterminism). The matrix is the broadcast-sized |types|²
  // frame; 8 joins over it are metadata-scale compute on the one
  // corpus-scale lag-window derivation (the graph_walk posture).
  private val statIters = 8

  def evMarkovStationary(spark: SparkSession, dir: String): DataFrame = {
    // The matrix is consumed exactly once now (the collect below), so
    // the old 8×-reference localCheckpoint is gone with the loop.
    val trans = evMarkov(spark, dir)
      .select(col("from_type"), col("to_type"), col("p_bp"))
    // Round-17 (guide §1.2/§5): the transition matrix is |types|² —
    // event_type is a bounded ENUM, so the matrix is metadata-sized at
    // ANY corpus scale (25 cells on this data; never data-scale) — yet
    // the old 8-round join/groupBy loop paid ~2 shuffle stages per
    // round over ≤|types| rows: the whole sf0.1 wall was stage setup
    // and AQE latency on microscopic frames. The corpus-scale work
    // (evMarkov's lag-window pass) stays distributed and checkpointed;
    // the power iteration on the collected matrix moves to the driver
    // under the engine's existing bounded-collect discipline (the
    // Graph convergence scalar / shard-id control-plane precedent:
    // collects are legitimate when the payload is metadata-sized by
    // construction). Arithmetic is replicated exactly: π₀ = 10000 div
    // n (long division); per round π'(t) = trunc(toDouble(Σ_f π(f)·
    // p_bp(f,t)) / 10000) — the same long-exact sum and the same
    // double-divide-then-cast the old Spark expressions performed, so
    // every output bit matches the unchanged DuckDB oracle. Empty
    // input ⇒ empty matrix ⇒ empty result frame (row-82 contract).
    val rows = trans.collect()
    val types = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val byTo = rows.groupBy(_.getString(1))
    var pi: Map[String, Long] = {
      val n = types.length.toLong
      types.map(t => t -> (if (n == 0) 0L else 10000L / n)).toMap
    }
    for (_ <- 1 to statIters) {
      pi = types.map { t =>
        val s = byTo.getOrElse(t, Array.empty)
          .map(r => pi(r.getString(0)) * r.getLong(2)).sum
        t -> (s.toDouble / 10000).toLong
      }.toMap
    }
    import spark.implicits._
    types.map(t => (t, pi(t))).toSeq
      .toDF("event_type", "pi_bp")
      .orderBy(col("event_type"))
  }

  val evMarkovStationarySql: String = {
    val step = (i: Int) =>
      s"""v$i AS (
         |  SELECT ty.event_type,
         |    coalesce(s.pi_next, 0) AS pi_bp
         |  FROM types ty LEFT JOIN (
         |    SELECT t.to_type AS event_type,
         |      CAST(sum(v.pi_bp * t.p_bp) // 10000 AS BIGINT) AS pi_next
         |    FROM v${i - 1} v JOIN trans t ON v.event_type = t.from_type
         |    GROUP BY t.to_type) s USING (event_type))""".stripMargin
    s"""WITH pairs AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS prev_type
       |  FROM events),
       |counts AS (
       |  SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
       |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |trans AS (
       |  SELECT from_type, to_type,
       |    CAST(floor(n * 10000.0 / sum(n) OVER (PARTITION BY from_type)
       |      + 0.5) AS BIGINT) AS p_bp
       |  FROM counts),
       |types AS (
       |  SELECT from_type AS event_type FROM trans
       |  UNION SELECT to_type FROM trans),
       |v0 AS (
       |  SELECT event_type,
       |    10000 // (SELECT count(*) FROM types) AS pi_bp
       |  FROM types),
       |${(1 to statIters).map(step).mkString(",\n")}
       |SELECT event_type, pi_bp FROM v$statIters
       |ORDER BY event_type""".stripMargin
  }

  // ─── ev_stickiness: DAU/MAU engagement ratio per day ───
  // The product-health number: what share of the trailing-28-day
  // actives showed up TODAY. Same contribution-explosion discipline
  // as ev_wau (the sliding COUNT DISTINCT that doesn't decompose):
  // shrink to distinct (user, day) pairs once, each pair serves its
  // ≤28 window-ends (bounded ×28 expand of the already-small pair
  // set), and DAU joins MAU on the day key — reported only for days
  // with activity, stickiness_bp = dau·10⁴ div mau.
  def evStickiness(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables(spark, dir).events
      .select(floor(epochS(date_trunc("day", col("ts"))) / 86400L).as("day"),
        col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = du
      .select(explode(sequence(col("day"), col("day") + 27)).as("day"),
        col("user_id"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day").as("day_epoch"), col("dau"), col("mau"),
        expr("dau * 10000 div mau").as("stickiness_bp"))
      .orderBy(col("day_epoch"))
  }

  val evStickinessSql: String =
    """WITH du AS (
      |  SELECT DISTINCT
      |    CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day,
      |    user_id
      |  FROM events),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day),
      |mau AS (
      |  SELECT day, count(DISTINCT user_id) AS mau
      |  FROM (SELECT unnest(generate_series(day, day + 27)) AS day, user_id
      |        FROM du)
      |  GROUP BY day)
      |SELECT d.day AS day_epoch, d.dau, m.mau,
      |  d.dau * 10000 // m.mau AS stickiness_bp
      |FROM dau d JOIN mau m ON d.day = m.day
      |ORDER BY day_epoch""".stripMargin

  // ─── ts_sax: Symbolic Aggregate approXimation of the series ───
  // SAX (Lin/Keogh et al., DMKD 2007): compress each event type's
  // hourly series into PAA segments, z-normalize per type, emit one
  // SYMBOL per segment from the quartile breakpoints (±0.6745, 0) —
  // the discrete alphabet similarity search / motif discovery runs
  // on. Determinism: segment mass is exact integer cents over the
  // observed hours; mean/std per type are fixed-shape doubles over
  // exact integer moments (the q35_corr rule); breakpoints are
  // literals, so every symbol decision replays bit-for-bit. Shape:
  // hour rollup (map-combining), segment rollup (÷4), a per-type
  // 4-long moment frame broadcast back — no windows, no sort except
  // the final presentation ORDER BY.
  private val saxSegHours = 4

  def tsSax(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(epochS(col("ts")) / 3600L).as("hour"))
      .agg(cents(sum(col("value"))).as("hc"))
    val seg = hourly
      .groupBy(col("event_type"),
        expr(s"hour div $saxSegHours").as("segment"))
      .agg(sum(col("hc")).as("paa_cents"), count(lit(1)).as("n_hours"))
    val stats = seg.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_seg"), sum(col("paa_cents")).as("s1"),
        sum(col("paa_cents") * col("paa_cents")).as("s2"))
    val nd = col("n_seg").cast("double")
    val mean = col("s1").cast("double") / nd
    val variance = col("s2").cast("double") / nd - mean * mean
    val z = (col("paa_cents").cast("double") - mean) /
      sqrt(variance)
    val symbol = when(variance <= 0.0, lit("c"))
      .when(z < -0.6745, lit("a"))
      .when(z < 0.0, lit("b"))
      .when(z < 0.6745, lit("c"))
      .otherwise(lit("d"))
    seg.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("segment"), col("paa_cents"),
        col("n_hours"), symbol.as("symbol"))
      .orderBy(col("event_type"), col("segment"))
  }

  val tsSaxSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
       |    ${Tables.centsSql("sum(value)")} AS hc
       |  FROM events GROUP BY 1, 2),
       |seg AS (
       |  SELECT event_type, hour // $saxSegHours AS segment,
       |    CAST(sum(hc) AS BIGINT) AS paa_cents,
       |    CAST(count(*) AS BIGINT) AS n_hours
       |  FROM hourly GROUP BY 1, 2),
       |stats AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_seg,
       |    CAST(sum(paa_cents) AS BIGINT) AS s1,
       |    CAST(sum(paa_cents * paa_cents) AS BIGINT) AS s2
       |  FROM seg GROUP BY event_type)
       |SELECT g.event_type, g.segment, g.paa_cents, g.n_hours,
       |  CASE
       |    WHEN (CAST(s2 AS DOUBLE) / n_seg
       |        - (CAST(s1 AS DOUBLE) / n_seg) * (CAST(s1 AS DOUBLE) / n_seg))
       |      <= 0.0 THEN 'c'
       |    WHEN (CAST(g.paa_cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n_seg)
       |        / sqrt(CAST(s2 AS DOUBLE) / n_seg
       |          - (CAST(s1 AS DOUBLE) / n_seg) * (CAST(s1 AS DOUBLE) / n_seg))
       |      < -0.6745 THEN 'a'
       |    WHEN (CAST(g.paa_cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n_seg)
       |        / sqrt(CAST(s2 AS DOUBLE) / n_seg
       |          - (CAST(s1 AS DOUBLE) / n_seg) * (CAST(s1 AS DOUBLE) / n_seg))
       |      < 0.0 THEN 'b'
       |    WHEN (CAST(g.paa_cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n_seg)
       |        / sqrt(CAST(s2 AS DOUBLE) / n_seg
       |          - (CAST(s1 AS DOUBLE) / n_seg) * (CAST(s1 AS DOUBLE) / n_seg))
       |      < 0.6745 THEN 'c'
       |    ELSE 'd' END AS symbol
       |FROM seg g JOIN stats USING (event_type)
       |ORDER BY g.event_type, g.segment""".stripMargin

  // ─── ts_m4: M4 min/max/first/last series downsampling ───
  // The OTHER canonical downsampler next to ts_lttb (Jugel et al.,
  // VLDB 2014 — M4): per pixel bucket keep min, max, first, last —
  // the four points that make the rendered line pixel-identical. LTTB
  // preserves visual SHAPE, M4 preserves EXTREMES; a dashboard wants
  // both. First/last are order statistics, not sums, so the exact
  // shape is one (type, bucket)-partitioned window pass: row_number
  // on micros+event_id (the total arrival order both engines agree
  // on) against the partition count — rn=1 is first, rn=cnt is last —
  // then a plain map-combining aggregate. No unpartitioned state;
  // buckets are 6-hour pixels.
  private val m4BucketS = 21600L

  def tsM4(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).events
      .select(col("event_type"),
        expr(s"unix_micros(ts) div ${m4BucketS * 1000000L}").as("bucket"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        cents(col("value")).as("c"))
    val w = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("us"), col("event_id"))
    val cw = Window.partitionBy(col("event_type"), col("bucket"))
    base
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("c")).as("min_cents"), max(col("c")).as("max_cents"),
        max(when(col("rn") === 1, col("c"))).as("first_cents"),
        max(when(col("rn") === col("cnt"), col("c"))).as("last_cents"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val tsM4Sql: String =
    s"""WITH base AS (
       |  SELECT event_type,
       |    epoch_us(ts) // ${m4BucketS * 1000000L} AS bucket,
       |    epoch_us(ts) AS us, event_id,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
       |  FROM events),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY event_type, bucket
       |      ORDER BY us, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type, bucket) AS cnt
       |  FROM base)
       |SELECT event_type, bucket, count(*) AS n,
       |  min(c) AS min_cents, max(c) AS max_cents,
       |  max(CASE WHEN rn = 1 THEN c END) AS first_cents,
       |  max(CASE WHEN rn = cnt THEN c END) AS last_cents
       |FROM ranked GROUP BY event_type, bucket
       |ORDER BY event_type, bucket""".stripMargin

  // ─── ev_histogram: per-type value distribution in fixed buckets ───
  // The profiling histogram: decade buckets of `value` per type.
  // Pure map-side bucketing then a (types × buckets)-bounded
  // aggregate — the distribution materializes without ever sorting
  // or windowing event-scale data.
  def evHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(col("value") / 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        cents(sum(col("value"))).as("sum_cents"))
      .orderBy(col("event_type"), col("bucket"))

  val evHistogramSql: String =
    s"""SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
       |  count(*) AS n, ${Tables.centsSql("sum(value)")} AS sum_cents
       |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  // ─── ev_new_users: daily new vs returning + cumulative reach ───
  // Running COUNT DISTINCT decomposed scale-honestly: a user is
  // counted on their FIRST day only (user-keyed min aggregate — the
  // one corpus shuffle), daily news and actives are day-keyed
  // aggregates, and the cumulative total is a prefix sum over the
  // days-sized frame — so no distinct-within-window state ever forms.
  def evNewUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir).events
      .select(floor(epochS(date_trunc("day", col("ts"))) / 86400L).as("day"),
        col("user_id"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val active = ev.distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val w = Window.partitionBy(lit(1)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    active.join(firstDay, Seq("day"), "left_outer")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select(col("day").as("day_epoch"), col("n_new"), col("n_active"),
        col("cum_users"))
      .orderBy(col("day_epoch"))
  }

  val evNewUsersSql: String =
    """WITH ev AS (
      |  SELECT CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT)
      |      AS day, user_id
      |  FROM events),
      |fd AS (
      |  SELECT day, count(*) AS n_new FROM (
      |    SELECT user_id, min(day) AS day FROM ev GROUP BY 1) GROUP BY 1),
      |act AS (
      |  SELECT day, count(*) AS n_active FROM (SELECT DISTINCT * FROM ev)
      |  GROUP BY 1)
      |SELECT act.day AS day_epoch,
      |  CAST(coalesce(fd.n_new, 0) AS BIGINT) AS n_new, act.n_active,
      |  CAST(sum(coalesce(fd.n_new, 0)) OVER (ORDER BY act.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM act LEFT JOIN fd ON act.day = fd.day
      |ORDER BY day_epoch""".stripMargin

  // ─── ts_winsorize: robust clipped-mean readout per stream ───
  // The metric-hardening step before anyone trusts a mean: clip each
  // type's value distribution at its exact p05/p95 order statistics
  // and report raw vs winsorized mean side by side with the clip
  // counts — a mean that moves a lot under winsorization is being
  // driven by its tails. Both cut points are EXACT ranks off the
  // Ranks.groupedRank bucket ledger (never a per-type full-sort
  // window); k = ⌈q·n⌉ all-integer, value-at-rank is tie-order
  // independent since equal values are interchangeable. One ranked
  // pass + a broadcast of the 2·|types| cut rows back onto the
  // aggregate. Cents sums stay in long to ~10¹² rows/type; promote
  // to DECIMAL(38,0) past that (ev_burstiness's discipline).
  def tsWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables(spark, dir).events
      .select(col("event_type"), cents(col("value")).as("v"))
    val ranked = Ranks.groupedRank(vals, Seq("event_type"),
      Seq(shiftright(col("v"), 6)), Seq(col("v")), "rk", "n")
    val cuts = ranked
      .filter(col("rk") === expr("(n + 19) div 20") ||
        col("rk") === expr("(n * 19 + 19) div 20"))
      .groupBy(col("event_type"))
      .agg(min(when(col("rk") === expr("(n + 19) div 20"), col("v")))
          .as("lo_cents"),
        min(when(col("rk") === expr("(n * 19 + 19) div 20"), col("v")))
          .as("hi_cents"))
    vals.join(broadcast(cuts), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("lo_cents")).as("lo_cents"),
        min(col("hi_cents")).as("hi_cents"),
        sum(col("v")).as("sum_raw"),
        sum(greatest(least(col("v"), col("hi_cents")), col("lo_cents")))
          .as("sum_wins"),
        sum(when(col("v") < col("lo_cents"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("v") > col("hi_cents"), 1L).otherwise(0L))
          .as("n_clip_hi"))
      .select(col("event_type"), col("n"), col("lo_cents"), col("hi_cents"),
        expr("sum_raw div n").as("mean_cents"),
        expr("sum_wins div n").as("wins_mean_cents"),
        col("n_clip_lo"), col("n_clip_hi"))
      .orderBy(col("event_type"))
  }

  val tsWinsorizeSql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT event_type, v,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY v)
      |      AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM v),
      |cuts AS (
      |  SELECT event_type,
      |    min(CASE WHEN rk = (n + 19) // 20 THEN v END) AS lo_cents,
      |    min(CASE WHEN rk = (n * 19 + 19) // 20 THEN v END) AS hi_cents
      |  FROM r
      |  WHERE rk = (n + 19) // 20 OR rk = (n * 19 + 19) // 20
      |  GROUP BY event_type)
      |SELECT v.event_type, CAST(count(*) AS BIGINT) AS n,
      |  min(c.lo_cents) AS lo_cents, min(c.hi_cents) AS hi_cents,
      |  CAST(sum(v.v) AS BIGINT) // count(*) AS mean_cents,
      |  CAST(sum(greatest(least(v.v, c.hi_cents), c.lo_cents)) AS BIGINT)
      |    // count(*) AS wins_mean_cents,
      |  CAST(sum(CASE WHEN v.v < c.lo_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_lo,
      |  CAST(sum(CASE WHEN v.v > c.hi_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_hi
      |FROM v JOIN cuts c USING (event_type)
      |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin

  // ─── ts_hampel: median/MAD robust outlier screen per stream ───
  // The robust sibling of ts_winsorize's trimmed mean: flag values
  // more than 5 MADs from the per-type MEDIAN (the Hampel identifier,
  // with the 1.4826 Gaussian consistency constant folded into the
  // deliberately-wide ×5 multiplier so everything stays integer).
  // Both statistics ride the same value-count ledger discipline as
  // profile_outliers — events.value cents are domain-bounded, so the
  // per-(type, value) ledger is metadata-sized at any corpus scale:
  // the median is value-at-rank ⌈n/2⌉ on the ledger cumulative, the
  // MAD re-groups the SAME ledger by |v − median| (pure arithmetic,
  // no second scan) and takes its weighted median, and the outlier
  // tally is a ledger sum. One corpus pass total, zero per-row
  // windows. A constant stream has mad = 0 and by contract flags
  // only values strictly off the median.
  def tsHampel(spark: SparkSession, dir: String): DataFrame = {
    // ONE lineage chain — median and MAD come back onto their ledgers
    // as window aggregates over the bounded per-type partition, never
    // a groupBy + re-join (which forks the lineage and replays the
    // corpus scan per branch; the plan guard pins one events scan).
    val wTot = Window.partitionBy(col("event_type"))
    val led = Tables(spark, dir).events
      .select(col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
    val withMed = led
      .withColumn("below", coalesce(sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(wTot))
      .withColumn("med",
        min(when(col("below") < expr("(n + 1) div 2") &&
          col("below") + col("cnt") >= expr("(n + 1) div 2"), col("v")))
          .over(wTot))
    val adLed = withMed
      .groupBy(col("event_type"), abs(col("v") - col("med")).as("ad"))
      .agg(sum(col("cnt")).as("cnt"), max(col("n")).as("n"),
        max(col("med")).as("med"))
    val withMad = adLed
      .withColumn("belowa", coalesce(sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("ad"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("mad",
        min(when(col("belowa") < expr("(n + 1) div 2") &&
          col("belowa") + col("cnt") >= expr("(n + 1) div 2"), col("ad")))
          .over(wTot))
    withMad.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("med")).as("median_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(col("ad") > col("mad") * 5, col("cnt"))
          .otherwise(0L)).as("n_out"))
      .withColumn("out_bp", expr("n_out * 10000 div n"))
      .orderBy(col("event_type"))
  }

  val tsHampelSql: String =
    """WITH led AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |l2 AS (
      |  SELECT event_type, v, cnt,
      |    CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS below,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM led),
      |meds AS (
      |  SELECT event_type, max(n) AS n,
      |    min(CASE WHEN below < (n + 1) // 2
      |      AND below + cnt >= (n + 1) // 2 THEN v END) AS med
      |  FROM l2 GROUP BY event_type),
      |adled AS (
      |  SELECT l.event_type, abs(l.v - m.med) AS v,
      |    CAST(sum(l.cnt) AS BIGINT) AS cnt
      |  FROM led l JOIN meds m USING (event_type) GROUP BY 1, 2),
      |a2 AS (
      |  SELECT event_type, v, cnt,
      |    CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS below,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM adled),
      |mads AS (
      |  SELECT event_type,
      |    min(CASE WHEN below < (n + 1) // 2
      |      AND below + cnt >= (n + 1) // 2 THEN v END) AS mad
      |  FROM a2 GROUP BY event_type)
      |SELECT l.event_type, max(m.n) AS n, max(m.med) AS median_cents,
      |  max(d.mad) AS mad_cents,
      |  CAST(sum(CASE WHEN abs(l.v - m.med) > d.mad * 5
      |    THEN l.cnt ELSE 0 END) AS BIGINT) AS n_out,
      |  CAST(sum(CASE WHEN abs(l.v - m.med) > d.mad * 5
      |    THEN l.cnt ELSE 0 END) AS BIGINT) * 10000 // max(m.n) AS out_bp
      |FROM led l JOIN meds m USING (event_type) JOIN mads d USING (event_type)
      |GROUP BY l.event_type ORDER BY l.event_type""".stripMargin

  // ─── ts_ohlc: resampled open/high/low/close bars ───
  // 4-hour bars per type. Open/close are ORDER-dependent aggregates,
  // so they ride the rank window (fully tie-broken by (ts, event_id),
  // both directions in ONE window pass — same partition, opposite
  // orders collapse to one exchange) and the bar aggregate picks them
  // out with rank-gated sums; high/low/volume are plain commutative
  // aggregates. One shuffle on the bar key.
  private val barSec = 4L * 3600

  def tsOhlc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("bar"), col("event_type"))
    // Order by the FULL-precision ts (not the truncated epoch): two
    // events in the same second but different micros must rank the
    // same way the oracle's ORDER BY ts does.
    val asc = w.orderBy(col("ts"), col("event_id"))
    val desc = w.orderBy(col("ts").desc, col("event_id").desc)
    Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("bar", (col("epoch") / barSec).cast("long") * barSec)
      .withColumn("ra", row_number().over(asc))
      .withColumn("rd", row_number().over(desc))
      .groupBy(col("bar"), col("event_type"))
      .agg(cents(sum(when(col("ra") === 1, col("value")))).as("open_cents"),
        cents(max(col("value"))).as("high_cents"),
        cents(min(col("value"))).as("low_cents"),
        cents(sum(when(col("rd") === 1, col("value")))).as("close_cents"),
        count(lit(1)).as("n_events"))
      .orderBy(col("bar"), col("event_type"))
  }

  val tsOhlcSql: String =
    s"""WITH r AS (
       |  SELECT event_type, value,
       |    CAST(floor(epoch(ts)) AS BIGINT) // $barSec * $barSec AS bar,
       |    row_number() OVER (PARTITION BY
       |        CAST(floor(epoch(ts)) AS BIGINT) // $barSec, event_type
       |      ORDER BY ts, event_id) AS ra,
       |    row_number() OVER (PARTITION BY
       |        CAST(floor(epoch(ts)) AS BIGINT) // $barSec, event_type
       |      ORDER BY ts DESC, event_id DESC) AS rd
       |  FROM events)
       |SELECT bar, event_type,
       |  ${Tables.centsSql("sum(CASE WHEN ra = 1 THEN value END)")} AS open_cents,
       |  ${Tables.centsSql("max(value)")} AS high_cents,
       |  ${Tables.centsSql("min(value)")} AS low_cents,
       |  ${Tables.centsSql("sum(CASE WHEN rd = 1 THEN value END)")} AS close_cents,
       |  count(*) AS n_events
       |FROM r GROUP BY 1, 2 ORDER BY bar, event_type""".stripMargin

  // ─── ts_lttb: triangle-based series downsampling (dashboard tier) ───
  // Largest-Triangle-Three-Buckets (Steinarsson 2013), the standard
  // "plot a billion points" reduction: per series (event_type), fixed
  // 6-hour buckets, keep ONE point per bucket — the one subtending the
  // largest triangle against its neighbor buckets — plus the exact
  // first and last points. Textbook LTTB chains each bucket's choice
  // to the PREVIOUS bucket's selected point (inherently sequential);
  // the distributed variant anchors BOTH sides on bucket averages —
  // the same approximation the original paper evaluates as
  // "LTTB-fixed" — so every bucket decides independently: one bounded
  // summary frame (|types|·|buckets| rows) carries lag/lead anchor
  // sums, broadcast-joins back to the events, and a per-(type, bucket)
  // rank window picks the argmax. Determinism: the area is ONE
  // fixed-shape double expression over integer sums (both engines
  // evaluate identical IEEE ops), ties broken by (ts, event_id).
  private val lttbSec = 6L * 3600

  def tsLttb(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).parallelized("events")
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("vc", cents(col("value")))
      .withColumn("b", (col("epoch") / lttbSec).cast("long") * lttbSec)
      .select(col("event_type"), col("b"), col("ts"), col("event_id"),
        col("epoch"), col("vc"))
    val wb = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val summ = ev.groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("epoch")).as("sx"),
        sum(col("vc")).as("sy"))
      .withColumn("bi", row_number().over(wb))
      .withColumn("nb", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("pn", lag(col("n"), 1).over(wb))
      .withColumn("psx", lag(col("sx"), 1).over(wb))
      .withColumn("psy", lag(col("sy"), 1).over(wb))
      .withColumn("nn", lead(col("n"), 1).over(wb))
      .withColumn("nsx", lead(col("sx"), 1).over(wb))
      .withColumn("nsy", lead(col("sy"), 1).over(wb))
      .drop("n", "sx", "sy")
    val m = ev.join(broadcast(summ), Seq("event_type", "b"))
    val wSel = Window.partitionBy(col("event_type"), col("b"))
    def pick(df: DataFrame, kind: String,
        order: Seq[Column]): DataFrame = df
      .withColumn("rn", row_number().over(wSel.orderBy(order: _*)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("b"), lit(kind).as("kind"),
        col("event_id"), col("epoch"), col("vc"))
    val area = abs(
      (col("psx") / col("pn") - col("nsx") / col("nn"))
        * (col("vc") - col("psy") / col("pn"))
        - (col("psx") / col("pn") - col("epoch"))
        * (col("nsy") / col("nn") - col("psy") / col("pn")))
    val firsts = pick(m.filter(col("bi") === 1), "first",
      Seq(col("ts"), col("event_id")))
    val lasts = pick(m.filter(col("bi") === col("nb") && col("nb") > 1),
      "last", Seq(col("ts").desc, col("event_id").desc))
    val mids = pick(m.filter(col("bi") > 1 && col("bi") < col("nb"))
        .withColumn("area", area), "lttb",
      Seq(col("area").desc, col("ts"), col("event_id")))
    firsts.unionByName(mids).unionByName(lasts)
      .select(col("event_type"), col("b").as("bucket_epoch"), col("kind"),
        col("event_id"), col("epoch").as("epoch_s"), col("vc").as("v_cents"))
      .orderBy(col("event_type"), col("bucket_epoch"))
  }

  val tsLttbSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, ts, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
       |    ${Tables.centsSql("value")} AS vc,
       |    CAST(floor(epoch(ts)) AS BIGINT) // $lttbSec * $lttbSec AS b
       |  FROM events),
       |s0 AS (
       |  SELECT event_type, b, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(epoch) AS BIGINT) AS sx, CAST(sum(vc) AS BIGINT) AS sy
       |  FROM ev GROUP BY 1, 2),
       |summ AS (
       |  SELECT event_type, b,
       |    row_number() OVER w AS bi,
       |    count(*) OVER (PARTITION BY event_type) AS nb,
       |    lag(n) OVER w AS pn, lag(sx) OVER w AS psx, lag(sy) OVER w AS psy,
       |    lead(n) OVER w AS nn, lead(sx) OVER w AS nsx, lead(sy) OVER w AS nsy
       |  FROM s0 WINDOW w AS (PARTITION BY event_type ORDER BY b)),
       |m AS (
       |  SELECT e.*, s.bi, s.nb, s.pn, s.psx, s.psy, s.nn, s.nsx, s.nsy
       |  FROM ev e JOIN summ s USING (event_type, b)),
       |firsts AS (
       |  SELECT event_type, b, 'first' AS kind, event_id, epoch, vc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_type, b
       |      ORDER BY ts, event_id) AS rn
       |    FROM m WHERE bi = 1) WHERE rn = 1),
       |lasts AS (
       |  SELECT event_type, b, 'last' AS kind, event_id, epoch, vc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_type, b
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM m WHERE bi = nb AND nb > 1) WHERE rn = 1),
       |mids AS (
       |  SELECT event_type, b, 'lttb' AS kind, event_id, epoch, vc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_type, b
       |      ORDER BY abs((psx / pn - nsx / nn) * (vc - psy / pn)
       |          - (psx / pn - epoch) * (nsy / nn - psy / pn)) DESC,
       |        ts, event_id) AS rn
       |    FROM m WHERE bi > 1 AND bi < nb) WHERE rn = 1)
       |SELECT event_type, b AS bucket_epoch, kind, event_id,
       |  epoch AS epoch_s, vc AS v_cents
       |FROM (SELECT * FROM firsts UNION ALL SELECT * FROM mids
       |      UNION ALL SELECT * FROM lasts)
       |ORDER BY event_type, bucket_epoch""".stripMargin

  // ─── ev_outage: feed-silence (outage) window detection ───
  // The operational mirror of stale_session at the feed level: gaps
  // over 10 minutes between CONSECUTIVE events of a type are outage
  // windows. One shuffle on event_type (5 keys — at scale the
  // partition key would be (type, day) to spread the lag window),
  // one lag pass, emit only breaches.
  private val outageGapSec = 600L

  def evOutage(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("prev_epoch", lag(col("epoch"), 1).over(w))
      .withColumn("gap_s", col("epoch") - col("prev_epoch"))
      .filter(col("gap_s") > outageGapSec)
      .select(col("event_type"), col("prev_epoch").as("outage_start_epoch"),
        col("epoch").as("outage_end_epoch"), col("gap_s"))
      .orderBy(col("event_type"), col("outage_start_epoch"))
  }

  val evOutageSql: String =
    s"""WITH l AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
       |    lag(CAST(floor(epoch(ts)) AS BIGINT))
       |      OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_epoch
       |  FROM events)
       |SELECT event_type, prev_epoch AS outage_start_epoch,
       |  epoch AS outage_end_epoch, epoch - prev_epoch AS gap_s
       |FROM l WHERE epoch - prev_epoch > $outageGapSec
       |ORDER BY event_type, outage_start_epoch""".stripMargin

  // ─── ev_rfm: recency/frequency/monetary quintile scoring ───
  // The segmentation workhorse: per-user last-purchase recency, visit
  // count and total spend, each quintiled by ntile(5). One user-keyed
  // aggregate over the log; each quintile is then an exact global
  // rank from Ranks.groupedRank (bucket-ledger decomposition — users
  // grow linearly with data, so the old single-partition ntile
  // windows were the "weak" class) fed through
  // ntileFromRank, fully tie-broken by user_id (ntile ties are
  // placement-nondeterministic otherwise). All three rank ascending,
  // so quintile 5 always means "best" (most recent / most visits /
  // highest spend). Buckets: epoch and cents quantized by >>12
  // (~68 min / ~$41 bands); n_purchases is low-cardinality exact with
  // a shifted-user sub-bucket. The three rank frames join back on
  // user_id — three co-partitioned equijoins. The rollup is
  // materialized ONCE (lazy localCheckpoint, same pattern as the
  // Dedup fixtures): without it the three rank branches plus the
  // join-back each re-scan and re-aggregate the events log — four
  // corpus scans where one suffices, which at 100 TB is the whole
  // cost of the query.
  def evRfm(spark: SparkSession, dir: String): DataFrame = {
    val rolled = Tables(spark, dir).events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(epochS(col("ts"))).as("last_epoch"),
        count(lit(1)).as("n_purchases"),
        cents(sum(col("value"))).as("spend_cents"))
      .localCheckpoint(eager = false)
    def rankOn(key: String, bucket: Seq[Column], rankName: String,
        totalName: String): DataFrame =
      Ranks.groupedRank(rolled.select(col("user_id"), col(key)), Nil,
          bucket, Seq(col(key), col("user_id")), rankName, totalName)
        .select(col("user_id"), col(rankName), col(totalName))
    val byR = rankOn("last_epoch",
      Seq(shiftright(col("last_epoch"), 12)), "__r_rank", "__n")
    val byF = rankOn("n_purchases",
      Seq(col("n_purchases"), shiftright(col("user_id"), 18)), "__f_rank", "__nf")
    val byM = rankOn("spend_cents",
      Seq(shiftright(col("spend_cents"), 12)), "__m_rank", "__nm")
    rolled
      .join(byR, Seq("user_id")).join(byF, Seq("user_id")).join(byM, Seq("user_id"))
      .withColumn("r_score", Ranks.ntileFromRank(col("__r_rank"), col("__n"), 5))
      .withColumn("f_score", Ranks.ntileFromRank(col("__f_rank"), col("__nf"), 5))
      .withColumn("m_score", Ranks.ntileFromRank(col("__m_rank"), col("__nm"), 5))
      .select(col("user_id"), col("last_epoch"), col("n_purchases"),
        col("spend_cents"), col("r_score"), col("f_score"), col("m_score"))
      .orderBy(col("user_id"))
  }

  val evRfmSql: String =
    s"""WITH agg AS (
       |  SELECT user_id,
       |    max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_epoch,
       |    count(*) AS n_purchases,
       |    ${Tables.centsSql("sum(value)")} AS spend_cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
       |SELECT user_id, last_epoch, n_purchases, spend_cents,
       |  CAST(ntile(5) OVER (ORDER BY last_epoch, user_id) AS BIGINT) AS r_score,
       |  CAST(ntile(5) OVER (ORDER BY n_purchases, user_id) AS BIGINT) AS f_score,
       |  CAST(ntile(5) OVER (ORDER BY spend_cents, user_id) AS BIGINT) AS m_score
       |FROM agg ORDER BY user_id""".stripMargin

  // ─── ev_seasonality: day-of-week × hour activity profile ───
  // The load-shape matrix capacity planning reads: one map-side
  // bucketing pass into a (7 × 24)-bounded aggregate, with the
  // per-cell share of total in bp (integer, vs the day's total being
  // broadcast-sized). Week-numbering parity: Spark's dayofweek is
  // 1=Sunday, DuckDB's 0=Sunday — the oracle shifts by one; UTC is
  // pinned by GraftSession so the hour never straddles a zone.
  def evSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    Tables(spark, dir).events
      .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"),
        cents(sum(col("value"))).as("value_cents"))
      .withColumn("share_bp",
        floor(col("n") * 10000L / sum(col("n")).over(all)).cast("long"))
      .orderBy(col("dow"), col("hour"))
  }

  val evSeasonalitySql: String =
    s"""WITH c AS (
       |  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |    CAST(hour(ts) AS BIGINT) AS hour,
       |    count(*) AS n, ${Tables.centsSql("sum(value)")} AS value_cents
       |  FROM events GROUP BY 1, 2)
       |SELECT dow, hour, n, value_cents,
       |  CAST(n * 10000 // sum(n) OVER () AS BIGINT) AS share_bp
       |FROM c ORDER BY dow, hour""".stripMargin

  // ─── ev_islands: consecutive-active-day streaks per user ───
  // The gaps-and-islands engagement primitive (login streaks, SLA
  // uptime runs): collapse each user's activity to distinct active
  // days, then day_n − row_number() is constant within a run of
  // consecutive days — the classic islands key, one shuffle on
  // user_id and two linear window passes, never a self-join. Output
  // per user: active days, streak count, longest streak, and the
  // start day of the (earliest) longest streak — the deterministic
  // tie-break rides a min(CASE) against the windowed max, not an
  // argmax whose tie behavior differs across engines.
  def evIslands(spark: SparkSession, dir: String): DataFrame = {
    val dayN = datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day_n"))
    val perUser = Window.partitionBy(col("user_id"))
    Tables(spark, dir).events
      .select(col("user_id"), dayN.as("day_n")).distinct()
      .withColumn("grp", col("day_n") - row_number().over(byUser))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day_n")).as("start_day"))
      .withColumn("max_len", max(col("len")).over(perUser))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"),
        min(when(col("len") === col("max_len"), col("start_day")))
          .as("longest_start_day"))
      .orderBy(col("user_id"))
  }

  val evIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
      |      AS day_n
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day_n - row_number() OVER (PARTITION BY user_id ORDER BY day_n) AS grp,
      |    day_n
      |  FROM days),
      |runs AS (
      |  SELECT user_id, grp, count(*) AS len, min(day_n) AS start_day
      |  FROM isl GROUP BY 1, 2),
      |mx AS (
      |  SELECT user_id, grp, len, start_day,
      |    max(len) OVER (PARTITION BY user_id) AS max_len
      |  FROM runs)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  count(*) AS n_streaks, max(len) AS max_streak,
      |  min(CASE WHEN len = max_len THEN start_day END) AS longest_start_day
      |FROM mx GROUP BY user_id ORDER BY user_id""".stripMargin

  // ─── ev_interarrival: per-user inter-arrival gap statistics ───
  // The arrival-process profile (burstiness, polling detection,
  // rate-limit tuning): integer-second gaps between consecutive
  // events of the same user, then count/min/max/mean/variance per
  // user — mean and variance in exact integer arithmetic
  // (sum div n and the (n·Σg²−(Σg)²) div (n·(n−1)) form) so both
  // engines agree bit-for-bit with no float accumulation order in
  // play. One shuffle on user_id, one lag pass, one aggregate.
  def evInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("gap", col("epoch") - lag(col("epoch"), 1).over(byUser))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("gap_min_s"),
        max(col("gap")).as("gap_max_s"),
        sum(col("gap")).as("sum_gap"),
        sum(col("gap") * col("gap")).as("sum_sq"))
      .filter(col("n_gaps") >= 2)
      .select(col("user_id"), col("n_gaps"), col("gap_min_s"),
        col("gap_max_s"),
        expr("sum_gap div n_gaps").as("gap_avg_s"),
        expr("(n_gaps * sum_sq - sum_gap * sum_gap) div (n_gaps * (n_gaps - 1))")
          .as("gap_var_s2"))
      .orderBy(col("user_id"))
  }

  val evInterarrivalSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT)
      |      - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
      |          PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events),
      |agg AS (
      |  SELECT user_id, count(*) AS n_gaps, min(gap) AS gap_min_s,
      |    max(gap) AS gap_max_s, CAST(sum(gap) AS BIGINT) AS sum_gap,
      |    CAST(sum(gap * gap) AS BIGINT) AS sum_sq
      |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_gaps, gap_min_s, gap_max_s,
      |  sum_gap // n_gaps AS gap_avg_s,
      |  (n_gaps * sum_sq - sum_gap * sum_gap) // (n_gaps * (n_gaps - 1))
      |    AS gap_var_s2
      |FROM agg WHERE n_gaps >= 2 ORDER BY user_id""".stripMargin

  // ─── ev_gap_quantiles: per-stream inter-arrival percentiles ───
  // ev_interarrival profiles USERS (mean/variance per user); this
  // profiles each STREAM's cadence tail — the p50/p90/p99 gap between
  // consecutive events of a type — which is the number a watermark
  // delay, an SLA alert, or a staleness budget is actually designed
  // against (the mean hides exactly the tail that pages). Gaps are
  // one lag pass over a (type)-keyed window; the percentiles are
  // EXACT ranks off Ranks.groupedRank's bucket ledger (16 s-wide
  // buckets via shiftright(gap, 4)), never a per-type full-sort
  // window — the discipline for order statistics on
  // data-sized frames. k = ⌈q·n⌉; value-at-rank is tie-order
  // independent.
  def evGapQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("gap", col("epoch") - lag(col("epoch"), 1).over(byType))
      .filter(col("gap").isNotNull)
      .select(col("event_type"), col("gap"))
    val ranked = Ranks.groupedRank(gaps, Seq("event_type"),
      Seq(shiftright(col("gap"), 4)), Seq(col("gap")), "rk", "n")
    ranked
      .filter(col("rk") === expr("(n + 1) div 2") ||
        col("rk") === expr("(9 * n + 9) div 10") ||
        col("rk") === expr("(99 * n + 99) div 100"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_gaps"),
        min(when(col("rk") === expr("(n + 1) div 2"), col("gap"))).as("p50_s"),
        min(when(col("rk") === expr("(9 * n + 9) div 10"), col("gap")))
          .as("p90_s"),
        min(when(col("rk") === expr("(99 * n + 99) div 100"), col("gap")))
          .as("p99_s"))
      .orderBy(col("event_type"))
  }

  val evGapQuantilesSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT)
      |      - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
      |          PARTITION BY event_type ORDER BY ts, event_id) AS gap
      |  FROM events),
      |r AS (
      |  SELECT event_type, gap,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY gap)
      |      AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM g WHERE gap IS NOT NULL)
      |SELECT event_type, max(n) AS n_gaps,
      |  min(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS p50_s,
      |  min(CASE WHEN rk = (9 * n + 9) // 10 THEN gap END) AS p90_s,
      |  min(CASE WHEN rk = (99 * n + 99) // 100 THEN gap END) AS p99_s
      |FROM r
      |WHERE rk = (n + 1) // 2 OR rk = (9 * n + 9) // 10
      |   OR rk = (99 * n + 99) // 100
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ─── ts_ema: exponential moving average over per-user values ───
  // The smoothing primitive of monitoring/finance pipelines. A true
  // EMA is a recursion (state_t = αx + (1−α)state_{t−1}) — the
  // streaming twin would be transformWithState — but the batch form
  // here is the K-term truncated EMA: weights α(1−α)^j over the last
  // K=8 observations, which at α=0.3 carries >94% of the mass and,
  // crucially, is a FIXED-SHAPE expression: 8 lag() columns combined
  // in one fixed-order double sum over integer cents, so both engines
  // round identically (the float-determinism discipline of q35_corr).
  // Rows before a full window are skipped (partial-window
  // normalization would divide by a varying weight sum — correct but
  // noisier to pin cross-engine). One shuffle on user_id, one linear
  // window pass, map-only arithmetic after.
  private val emaAlpha = 0.3
  private val emaK = 8

  def tsEma(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wNorm = (0 until emaK).map(j => emaAlpha * math.pow(1 - emaAlpha, j)).sum
    val withLags = Tables(spark, dir).events
      .withColumn("v_c", cents(col("value")).cast("long"))
      .withColumn("rn", row_number().over(byUser))
      .select(Seq(col("user_id"), col("event_id"), col("rn"), col("v_c")) ++
        (1 until emaK).map(j => lag(col("v_c"), j).over(byUser).as(s"l$j")): _*)
    val emaSum = (0 until emaK).map { j =>
      val term = if (j == 0) col("v_c") else col(s"l$j")
      term * lit(emaAlpha * math.pow(1 - emaAlpha, j))
    }.reduce(_ + _)
    withLags.filter(col("rn") >= emaK)
      .select(col("user_id"), col("event_id"), col("v_c"),
        floor(emaSum / lit(wNorm)).cast("long").as("ema_c"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val tsEmaSql: String = {
    val wNorm = (0 until emaK).map(j => emaAlpha * math.pow(1 - emaAlpha, j)).sum
    val lagCols = (1 until emaK).map { j =>
      s"lag(v_c, $j) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l$j"
    }.mkString(",\n    ")
    val emaSum = (0 until emaK).map { j =>
      val term = if (j == 0) "v_c" else s"l$j"
      s"$term * ${emaAlpha * math.pow(1 - emaAlpha, j)}"
    }.mkString(" + ")
    s"""WITH v AS (
       |  SELECT user_id, event_id, ts,
       |    CAST(${Tables.centsSql("value")} AS BIGINT) AS v_c
       |  FROM events),
       |l AS (
       |  SELECT user_id, event_id, v_c,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |    $lagCols
       |  FROM v)
       |SELECT user_id, event_id, v_c,
       |  CAST(floor(($emaSum) / $wNorm) AS BIGINT) AS ema_c
       |FROM l WHERE rn >= $emaK ORDER BY user_id, event_id""".stripMargin
  }

  // ─── ev_path: top event-type trigram paths ───
  // The "what do users actually do" query of product analytics:
  // adjacent 3-step event-type sequences per user (clickstream path
  // mining). Two lead() columns off ONE per-user window pass — the
  // sequence never self-joins — then a path-keyed aggregate whose
  // cardinality is bounded by |types|³, so the final top-k ranks a
  // tiny frame (TakeOrdered, no global rank window). At 100 TB the
  // only data-sized stage is the user-keyed window sort.
  private val pathTopK = 10

  def evPath(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).parallelized("events", "user_id")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(pathTopK)
  }

  val evPathSql: String =
    s"""WITH seq AS (
       |  SELECT event_type AS t1,
       |    lead(event_type, 1) OVER w AS t2,
       |    lead(event_type, 2) OVER w AS t3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) AS n
       |FROM seq WHERE t3 IS NOT NULL
       |GROUP BY 1 ORDER BY n DESC, path LIMIT $pathTopK""".stripMargin

  // ─── ev_burstiness: per-type Fano factor of hourly arrival counts ───
  // Dispersion diagnosis for capacity planning: Fano = var/mean of
  // the hourly count distribution. ≈10⁴ bp means Poisson-like
  // arrivals; ≫10⁴ means bursty (spikes), ≪10⁴ means regular
  // (metronomic). Exact-integer via the q35_corr sum technique:
  // var/mean = (n·Σc² − (Σc)²) / ((n−1)·Σc), one integer div, zero
  // float merge-order sensitivity. The numerator is widened to
  // DECIMAL(38,0) / HUGEINT: n_events² overflows a long at ~3·10⁹
  // events per type (exactly the 100 TB regime), and Spark would WRAP
  // SILENTLY where DuckDB raises — so the wide type is load-bearing,
  // not cosmetic; the quotient (a bp ratio) is cast back to long.
  // Observed hours only (an hour with zero events contributes no
  // row — documented bias toward regularity; the grid-join variant
  // is ts_fill's shape). Two map-side-combining aggregates, output
  // bounded by |types|.
  def evBurstiness(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sum_c2"))
      .filter(col("n_hours") > 1)
      .select(col("event_type"), col("n_hours"), col("n_events"),
        expr("CAST((CAST(n_hours AS DECIMAL(38,0)) * sum_c2" +
          " - CAST(n_events AS DECIMAL(38,0)) * n_events) * 10000" +
          " div ((n_hours - 1) * n_events) AS BIGINT)").as("fano_bp"))
      .orderBy(col("event_type"))

  val evBurstinessSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, count(*) AS n_hours,
      |    CAST(sum(c) AS BIGINT) AS n_events,
      |    CAST(sum(c * c) AS BIGINT) AS sum_c2
      |  FROM hourly GROUP BY event_type)
      |SELECT event_type, n_hours, n_events,
      |  CAST((CAST(n_hours AS HUGEINT) * sum_c2
      |      - CAST(n_events AS HUGEINT) * n_events) * 10000
      |    // ((n_hours - 1) * n_events) AS BIGINT) AS fano_bp
      |FROM s WHERE n_hours > 1 ORDER BY event_type""".stripMargin

  // ─── ev_bot_score: per-user automation fingerprint ───
  // The bot filter a training-data pipeline runs before any content
  // from "users" is trusted: humans are bursty, scripts are
  // metronomic. Per user off ONE user-keyed window pass: event count,
  // inter-arrival mean, sustained rate, and a `regular` flag that is
  // the all-integer CV test (ev_anomaly's discipline — no float ever
  // decides membership): CV < ½ ⇔ 4n·(n·Σg² − (Σg)²) < (n−1)·(Σg)²,
  // widened to DECIMAL(38,0)/HUGEINT since (Σg)² passes 10¹⁸ exactly
  // in the 100 TB regime (ev_burstiness's load-bearing cast). Arrival
  // order is (second, event_id) in BOTH engines — the lag and the
  // oracle must tie-break identically. Gated to ≥ 5 gaps: a CV of
  // two samples flags nothing but noise.
  def evBotScore(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("e"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), epochS(col("ts")).as("e"), col("event_id"))
      .withColumn("gap", col("e") - lag(col("e"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("gap")).as("n_gaps"),
        min(col("e")).as("e0"), max(col("e")).as("e1"),
        sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("ss"))
      .filter(col("n_gaps") >= 5)
      .select(col("user_id"), col("n_events"),
        expr("sg div n_gaps").as("mean_gap_s"),
        (col("e1") - col("e0")).as("span_s"),
        expr("n_events * 360000 div greatest(1, e1 - e0)").as("per_hour_x100"),
        expr("CAST(4 AS DECIMAL(38,0)) * n_gaps" +
          " * (CAST(n_gaps AS DECIMAL(38,0)) * ss" +
          "    - CAST(sg AS DECIMAL(38,0)) * sg)" +
          " < CAST(n_gaps - 1 AS DECIMAL(38,0)) * sg * sg").as("regular"))
      .orderBy(col("user_id"))
  }

  val evBotScoreSql: String =
    """WITH b AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e, event_id
      |  FROM events),
      |g AS (
      |  SELECT user_id, e,
      |    e - lag(e) OVER (PARTITION BY user_id ORDER BY e, event_id) AS gap
      |  FROM b),
      |s AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(count(gap) AS BIGINT) AS n_gaps,
      |    min(e) AS e0, max(e) AS e1,
      |    CAST(sum(gap) AS BIGINT) AS sg,
      |    CAST(sum(gap * gap) AS BIGINT) AS ss
      |  FROM g GROUP BY user_id)
      |SELECT user_id, n_events, sg // n_gaps AS mean_gap_s,
      |  e1 - e0 AS span_s,
      |  n_events * 360000 // greatest(1, e1 - e0) AS per_hour_x100,
      |  (CAST(4 AS HUGEINT) * n_gaps
      |     * (CAST(n_gaps AS HUGEINT) * ss - CAST(sg AS HUGEINT) * sg)
      |   < CAST(n_gaps - 1 AS HUGEINT) * sg * sg) AS regular
      |FROM s WHERE n_gaps >= 5 ORDER BY user_id""".stripMargin

  // ─── ev_autocorr: lag-1 autocorrelation of the hourly series ───
  // Short-memory diagnosis: does a busy hour predict the next hour?
  // Computed on the ZERO-FILLED hourly grid (ts_fill's data-derived
  // span — silent hours are real observations for autocorrelation,
  // unlike ev_burstiness's documented observed-hours shortcut), then
  // Pearson r over (c_t, c_{t+1}) pairs from one lead() pass, via
  // the exact-integer sum technique (q35_corr): the only IEEE math
  // is one fixed-shape formula per type, so the bp result
  // hash-matches cross-engine. Grid×types is broadcast-tiny; the
  // window sort keys on event_type — |types| partitions of
  // span-hours rows each.
  def evAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val span = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.select(explode(
      expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour_ts"))
    val types = ev.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
    val agg = grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .withColumn("x", coalesce(col("c"), lit(0L)))
      .withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
    val nd = col("n").cast("double")
    val num = nd * col("sum_xy") - col("sum_x").cast("double") * col("sum_y")
    val dx = nd * col("sum_x2") - col("sum_x").cast("double") * col("sum_x")
    val dy = nd * col("sum_y2") - col("sum_y").cast("double") * col("sum_y")
    agg.select(col("event_type"), col("n").as("n_pairs"),
      when(dx * dy > 0, floor(num * 10000 / sqrt(dx * dy)).cast("long"))
        .otherwise(lit(0L)).as("r1_bp"))
      .orderBy(col("event_type"))
  }

  val evAutocorrSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS h0,
      |                date_trunc('hour', max(ts)) AS h1 FROM events),
      |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      |         FROM span),
      |filled AS (
      |  SELECT t.hour_ts, t.event_type, coalesce(h.c, 0) AS x
      |  FROM (SELECT g.hour_ts, ty.event_type
      |        FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM events) ty) t
      |  LEFT JOIN hourly h
      |    ON t.hour_ts = h.hour_ts AND t.event_type = h.event_type),
      |pairs AS (
      |  SELECT event_type, x,
      |    lead(x, 1) OVER (PARTITION BY event_type ORDER BY hour_ts) AS y
      |  FROM filled),
      |s AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |    CAST(sum(x * x) AS BIGINT) AS sum_x2,
      |    CAST(sum(y * y) AS BIGINT) AS sum_y2
      |  FROM pairs WHERE y IS NOT NULL GROUP BY event_type)
      |SELECT event_type, n AS n_pairs,
      |  CASE WHEN (CAST(n AS DOUBLE) * sum_x2 - CAST(sum_x AS DOUBLE) * sum_x)
      |          * (CAST(n AS DOUBLE) * sum_y2 - CAST(sum_y AS DOUBLE) * sum_y) > 0
      |    THEN CAST(floor((CAST(n AS DOUBLE) * sum_xy
      |        - CAST(sum_x AS DOUBLE) * sum_y) * 10000
      |      / sqrt((CAST(n AS DOUBLE) * sum_x2 - CAST(sum_x AS DOUBLE) * sum_x)
      |           * (CAST(n AS DOUBLE) * sum_y2 - CAST(sum_y AS DOUBLE) * sum_y)))
      |      AS BIGINT)
      |    ELSE 0 END AS r1_bp
      |FROM s ORDER BY event_type""".stripMargin

  // ─── ev_forecast: seasonal-naive hour-of-day forecast + backtest ───
  // The capacity-planning baseline every fancier model must beat:
  // train on the first 21 days (integer per-hod mean: total at that
  // hour-of-day div 21 — each hod appears exactly trainDays times on
  // the whole-day train span, so no observed-hours bias), predict
  // every hour of the remaining test span on the zero-filled grid,
  // report per-type MAE ×100. All integer: counts, integer-div
  // means, absolute differences — the oracle matches to the digit.
  // Profile is (types × 24) rows — broadcast; the only data-sized
  // stage is the hourly rollup.
  private val forecastTrainDays = 21

  def evForecast(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val span = ev.agg(date_trunc("day", min(col("ts"))).as("d0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(col("h1"),
        expr(s"d0 + INTERVAL $forecastTrainDays DAYS").as("split"))
    val profile = hourly.crossJoin(broadcast(span))
      .filter(col("hour_ts") < col("split"))
      .groupBy(col("event_type"), hour(col("hour_ts")).as("hod"))
      .agg(expr(s"sum(c) div $forecastTrainDays").as("pred"))
    // Short-span guard: if the data covers fewer than trainDays,
    // split > h1 and Spark's sequence() THROWS (DuckDB's
    // generate_series just returns empty) — clamp the start and
    // filter, so the operator degrades to zero test rows instead of
    // hard-failing on short spans.
    val grid = span
      .select(explode(
        expr("sequence(least(split, h1), h1, INTERVAL 1 HOUR)")).as("hour_ts"),
        col("split"))
      .filter(col("hour_ts") >= col("split"))
      .select(col("hour_ts"))
    val types = ev.select(col("event_type")).distinct()
    grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .withColumn("actual", coalesce(col("c"), lit(0L)))
      .withColumn("hod", hour(col("hour_ts")))
      .join(broadcast(profile), Seq("event_type", "hod"), "left")
      .withColumn("pred", coalesce(col("pred"), lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("actual")).as("total_actual"),
        sum(col("pred")).as("total_pred"),
        sum(abs(col("actual") - col("pred"))).as("sum_abs"))
      .select(col("event_type"), col("n_hours"), col("total_actual"),
        col("total_pred"),
        expr("sum_abs * 100 div n_hours").as("mae_x100"))
      .orderBy(col("event_type"))
  }

  val evForecastSql: String =
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT date_trunc('day', min(ts)) + INTERVAL $forecastTrainDays DAY AS split,
       |                date_trunc('hour', max(ts)) AS h1 FROM events),
       |profile AS (
       |  SELECT event_type, CAST(hour(hour_ts) AS INT) AS hod,
       |    CAST(sum(c) AS BIGINT) // $forecastTrainDays AS pred
       |  FROM hourly CROSS JOIN span WHERE hour_ts < split
       |  GROUP BY 1, 2),
       |grid AS (SELECT unnest(generate_series(split, h1, INTERVAL 1 HOUR)) AS hour_ts
       |         FROM span),
       |test AS (
       |  SELECT t.event_type, coalesce(h.c, 0) AS actual,
       |    coalesce(p.pred, 0) AS pred
       |  FROM (SELECT g.hour_ts, ty.event_type
       |        FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM events) ty) t
       |  LEFT JOIN hourly h
       |    ON t.hour_ts = h.hour_ts AND t.event_type = h.event_type
       |  LEFT JOIN profile p
       |    ON t.event_type = p.event_type AND CAST(hour(t.hour_ts) AS INT) = p.hod),
       |s AS (
       |  SELECT event_type, count(*) AS n_hours,
       |    CAST(sum(actual) AS BIGINT) AS total_actual,
       |    CAST(sum(pred) AS BIGINT) AS total_pred,
       |    CAST(sum(abs(actual - pred)) AS BIGINT) AS sum_abs
       |  FROM test GROUP BY event_type)
       |SELECT event_type, n_hours, total_actual, total_pred,
       |  sum_abs * 100 // n_hours AS mae_x100
       |FROM s ORDER BY event_type""".stripMargin

  // ─── ev_ab_test: hash-split two-proportion z-test ───
  // The experimentation primitive: users deterministically assigned
  // to A/B by md5 parity (reproducible across runs AND engines — no
  // RNG state to ship), conversion = reached 'purchase', and the
  // pooled two-proportion z-score in one fixed-shape IEEE formula
  // from four integer sums (the q35_corr float discipline).
  // Conversion = lifetime purchase value above $600 (the corpus
  // median, so the split is non-degenerate at every SF — raw
  // "reached purchase" saturates at 100% under this event mix and
  // would test only the z=0 branch). Shape:
  // one user-keyed aggregate (map-side combine) → a 2-row group
  // rollup → a broadcast 1×1 join; nothing driver-side. At 100 TB
  // the z-test costs exactly one pass over events.
  def evAbTest(spark: SparkSession, dir: String): DataFrame = {
    val assign = Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(when(cents(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)))) > 60000L, 1L).otherwise(0L)
        .as("converted"))
      .withColumn("grp",
        when(conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val s = assign.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val a = s.filter(col("grp") === "A")
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = s.filter(col("grp") === "B")
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val p = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        when(se > 0, floor((pa - pb) * 100 / se).cast("long"))
          .otherwise(lit(0L)).as("z_x100"))
  }

  val evAbTestSql: String =
    """WITH assign AS (
      |  SELECT user_id,
      |    CASE WHEN CAST(floor((sum(CASE WHEN event_type = 'purchase'
      |        THEN value ELSE 0 END)) * 100 + 0.5) AS BIGINT) > 60000
      |      THEN 1 ELSE 0 END AS converted,
      |    CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS grp
      |  FROM events GROUP BY user_id),
      |s AS (SELECT grp, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
      |      FROM assign GROUP BY grp),
      |a AS (SELECT n AS n_a, conv AS conv_a FROM s WHERE grp = 'A'),
      |b AS (SELECT n AS n_b, conv AS conv_b FROM s WHERE grp = 'B')
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |      * (1.0 / n_a + 1.0 / n_b)) > 0
      |    THEN CAST(floor((CAST(conv_a AS DOUBLE) / n_a
      |        - CAST(conv_b AS DOUBLE) / n_b) * 100
      |      / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |        * (1.0 / n_a + 1.0 / n_b))) AS BIGINT)
      |    ELSE 0 END AS z_x100
      |FROM a CROSS JOIN b""".stripMargin

  // ─── ev_cuped: variance-reduced experiment readout (CUPED) ───
  // The industrial upgrade to ev_ab_test (Deng et al., WSDM 2013 —
  // "Improving the Sensitivity of Online Controlled Experiments"):
  // each user's PRE-period metric X is a covariate for their
  // post-period metric Y, and Y′ = Y − θ(X − X̄) with θ = cov(X,Y)/
  // var(X) strips the between-user variance X explains, shrinking the
  // effect's CI by the squared correlation ρ² — same assignment hash
  // as ev_ab_test ('ab:' md5 parity), so the two readouts describe
  // the same experiment. Pre/post split at the corpus time midpoint
  // (a broadcast 1-row integer). Cross-engine discipline: all moments
  // are exact integer-cents sums off ONE user-keyed pass; θ, the
  // adjusted means, and ρ² are fixed-shape double formulas over those
  // sums (the evAbTest/q35_corr float rule). Shape: one map-combine
  // aggregate over events → 2-row group rollup → broadcast 1×1 join;
  // one pass at any scale.
  def evCuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val mid = ev.agg((((epochS(min(col("ts"))) + epochS(max(col("ts"))))
      / 2).cast("long")).as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"), col("mid"))
      .agg(
        cents(sum(when(col("event_type") === "purchase"
            && epochS(col("ts")) < col("mid"), col("value"))
          .otherwise(lit(0.0)))).as("x"),
        cents(sum(when(col("event_type") === "purchase"
            && epochS(col("ts")) >= col("mid"), col("value"))
          .otherwise(lit(0.0)))).as("y"))
      .withColumn("grp",
        when(conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val g = per.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
    val a = g.filter(col("grp") === "A")
      .select(col("n").as("n_a"), col("sx").as("sx_a"), col("sy").as("sy_a"))
    val b = g.filter(col("grp") === "B")
      .select(col("n").as("n_b"), col("sx").as("sx_b"), col("sy").as("sy_b"))
    val pool = g.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
      sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
      sum(col("sxy")).as("sxy"), sum(col("syy")).as("syy"))
    // fixed-shape double formulas over the integer sums
    val num = col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = col("n").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val deny = col("n").cast("double") * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val theta = when(den > 0, num / den).otherwise(lit(0.0))
    val meanx = col("sx").cast("double") / col("n")
    val adjA = col("sy_a").cast("double") / col("n_a") -
      col("theta") * (col("sx_a").cast("double") / col("n_a") - col("meanx"))
    val adjB = col("sy_b").cast("double") / col("n_b") -
      col("theta") * (col("sx_b").cast("double") / col("n_b") - col("meanx"))
    val rawDiff = col("sy_a").cast("double") / col("n_a") -
      col("sy_b").cast("double") / col("n_b")
    a.crossJoin(broadcast(b)).crossJoin(broadcast(pool))
      .withColumn("theta", theta)
      .withColumn("meanx", meanx)
      .withColumn("rho2",
        when(den > 0 && deny > 0, (num * num) / (den * deny))
          .otherwise(lit(0.0)))
      .select(col("n_a"), col("n_b"),
        floor(rawDiff * 100).cast("long").as("raw_diff_x100"),
        floor((adjA - adjB) * 100).cast("long").as("cuped_diff_x100"),
        floor(col("theta") * 10000).cast("long").as("theta_x10000"),
        floor(col("rho2") * 10000).cast("long").as("var_red_bp"))
  }

  val evCupedSql: String =
    """WITH mid AS (
      |  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
      |        + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
      |  FROM events),
      |per AS (
      |  SELECT user_id,
      |    CAST(floor((sum(CASE WHEN event_type = 'purchase'
      |        AND CAST(floor(epoch(ts)) AS BIGINT) < mid.mid
      |      THEN value ELSE 0 END)) * 100 + 0.5) AS BIGINT) AS x,
      |    CAST(floor((sum(CASE WHEN event_type = 'purchase'
      |        AND CAST(floor(epoch(ts)) AS BIGINT) >= mid.mid
      |      THEN value ELSE 0 END)) * 100 + 0.5) AS BIGINT) AS y,
      |    CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS grp
      |  FROM events, mid GROUP BY user_id, mid.mid),
      |g AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM per GROUP BY grp),
      |a AS (SELECT n AS n_a, sx AS sx_a, sy AS sy_a FROM g WHERE grp = 'A'),
      |b AS (SELECT n AS n_b, sx AS sx_b, sy AS sy_b FROM g WHERE grp = 'B'),
      |pool AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
      |    CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxx) AS BIGINT) AS sxx,
      |    CAST(sum(sxy) AS BIGINT) AS sxy, CAST(sum(syy) AS BIGINT) AS syy
      |  FROM g),
      |pre AS (
      |  SELECT a.n_a, a.sx_a, a.sy_a, b.n_b, b.sx_b, b.sy_b,
      |    p.n, p.sx, p.sy,
      |    CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
      |      - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE) AS num,
      |    CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
      |      - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE) AS den,
      |    CAST(p.n AS DOUBLE) * CAST(p.syy AS DOUBLE)
      |      - CAST(p.sy AS DOUBLE) * CAST(p.sy AS DOUBLE) AS deny
      |  FROM a CROSS JOIN b CROSS JOIN pool p),
      |t AS (
      |  SELECT *,
      |    CASE WHEN den > 0 THEN num / den ELSE 0.0 END AS theta,
      |    CAST(sx AS DOUBLE) / n AS meanx
      |  FROM pre)
      |SELECT n_a, n_b,
      |  CAST(floor((CAST(sy_a AS DOUBLE) / n_a
      |    - CAST(sy_b AS DOUBLE) / n_b) * 100) AS BIGINT) AS raw_diff_x100,
      |  CAST(floor(((CAST(sy_a AS DOUBLE) / n_a
      |      - theta * (CAST(sx_a AS DOUBLE) / n_a - meanx))
      |    - (CAST(sy_b AS DOUBLE) / n_b
      |      - theta * (CAST(sx_b AS DOUBLE) / n_b - meanx))) * 100)
      |    AS BIGINT) AS cuped_diff_x100,
      |  CAST(floor(theta * 10000) AS BIGINT) AS theta_x10000,
      |  CAST(floor(CASE WHEN den > 0 AND deny > 0
      |      THEN (num * num) / (den * deny) ELSE 0.0 END * 10000)
      |    AS BIGINT) AS var_red_bp
      |FROM t""".stripMargin

  // ─── ev_power: experiment power / sample-size readout ───
  // The question after every A/B readout: "was the experiment big
  // enough?" Standard two-proportion power calculation at α=5% /
  // power=80% (z constants 1.96 and 0.8416 as literals — fixed-shape
  // doubles, no quantile function): per-arm required
  // n = ⌈(z_α+z_β)²·(p_A(1−p_A)+p_B(1−p_B)) / δ²⌉ to re-detect the
  // OBSERVED effect δ = p_A−p_B, plus powered = whether the arms
  // already clear it. Same 'ab:' parity assignment as the rest of the
  // experimentation family; same one-pass shape as ev_ab_test (user
  // rollup → 2-row group → broadcast 1×1 join).
  def evPower(spark: SparkSession, dir: String): DataFrame = {
    val assign = Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(cents(sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0)))).as("purchase_cents"))
      .withColumn("converted",
        when(col("purchase_cents") > 60000, 1L).otherwise(0L))
      .withColumn("grp",
        when(conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val s = assign.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val a = s.filter(col("grp") === "A")
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = s.filter(col("grp") === "B")
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val zsum2 = lit((1.96 + 0.8416) * (1.96 + 0.8416))
    val s2 = pa * (lit(1.0) - pa) + pb * (lit(1.0) - pb)
    val delta = pa - pb
    val nReq = when(delta =!= 0.0,
      ceil(zsum2 * s2 / (delta * delta)).cast("long")).otherwise(lit(0L))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        floor(delta * 10000).cast("long").as("delta_bp"),
        nReq.as("n_required"),
        when(nReq > 0 && col("n_a") >= nReq && col("n_b") >= nReq, 1L)
          .otherwise(lit(0L)).as("powered"))
  }

  val evPowerSql: String =
    """WITH assign AS (
      |  SELECT user_id,
      |    CASE WHEN CAST(floor((sum(CASE WHEN event_type = 'purchase'
      |        THEN value ELSE 0 END)) * 100 + 0.5) AS BIGINT) > 60000
      |      THEN 1 ELSE 0 END AS converted,
      |    CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS grp
      |  FROM events GROUP BY user_id),
      |s AS (SELECT grp, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
      |      FROM assign GROUP BY grp),
      |a AS (SELECT n AS n_a, conv AS conv_a FROM s WHERE grp = 'A'),
      |b AS (SELECT n AS n_b, conv AS conv_b FROM s WHERE grp = 'B'),
      |t AS (
      |  SELECT n_a, conv_a, n_b, conv_b,
      |    CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b
      |      AS delta,
      |    (CAST(conv_a AS DOUBLE) / n_a) * (1.0 - CAST(conv_a AS DOUBLE) / n_a)
      |      + (CAST(conv_b AS DOUBLE) / n_b)
      |        * (1.0 - CAST(conv_b AS DOUBLE) / n_b) AS s2
      |  FROM a CROSS JOIN b),
      |r AS (
      |  SELECT n_a, conv_a, n_b, conv_b,
      |    CAST(floor(delta * 10000) AS BIGINT) AS delta_bp,
      |    CASE WHEN delta <> 0
      |      THEN CAST(ceil((1.96 + 0.8416) * (1.96 + 0.8416) * s2
      |        / (delta * delta)) AS BIGINT)
      |      ELSE 0 END AS n_required
      |  FROM t)
      |SELECT n_a, conv_a, n_b, conv_b, delta_bp, n_required,
      |  CAST(CASE WHEN n_required > 0 AND n_a >= n_required
      |    AND n_b >= n_required THEN 1 ELSE 0 END AS BIGINT) AS powered
      |FROM r""".stripMargin

  // ─── ev_did: difference-in-differences readout ───
  // The third leg of the experimentation family (ev_ab_test's z-test,
  // ev_cuped's variance reduction): when "treatment" switches on at a
  // known time for one group, the causal read is the INTERACTION —
  // (Ā_post − Ā_pre) − (B̄_post − B̄_pre) — which cancels both the
  // group-level baseline difference and the shared time trend. Same
  // 'ab:' md5-parity groups and the same corpus-midpoint pre/post
  // split as ev_cuped, so all three readouts describe one experiment.
  // Cell means are exact integer division of integer-cents sums; only
  // the did interaction is one fixed-shape double expression (it
  // subtracts ratios with four different denominators). One user-keyed
  // pass → 2-row rollup → broadcast 1×1 join, any scale.
  def evDid(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val mid = ev.agg((((epochS(min(col("ts"))) + epochS(max(col("ts"))))
      / 2).cast("long")).as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"), col("mid"))
      .agg(
        cents(sum(when(col("event_type") === "purchase"
            && epochS(col("ts")) < col("mid"), col("value"))
          .otherwise(lit(0.0)))).as("x"),
        cents(sum(when(col("event_type") === "purchase"
            && epochS(col("ts")) >= col("mid"), col("value"))
          .otherwise(lit(0.0)))).as("y"))
      .withColumn("grp",
        when(conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
    val g = per.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
    val a = g.filter(col("grp") === "A")
      .select(col("n").as("n_a"), col("sx").as("sx_a"), col("sy").as("sy_a"))
    val b = g.filter(col("grp") === "B")
      .select(col("n").as("n_b"), col("sx").as("sx_b"), col("sy").as("sy_b"))
    val did = (col("sy_a").cast("double") / col("n_a")
      - col("sx_a").cast("double") / col("n_a"))
      .minus(col("sy_b").cast("double") / col("n_b")
        - col("sx_b").cast("double") / col("n_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        expr("sx_a div n_a").as("pre_a_cents"),
        expr("sy_a div n_a").as("post_a_cents"),
        expr("sx_b div n_b").as("pre_b_cents"),
        expr("sy_b div n_b").as("post_b_cents"),
        floor(did).cast("long").as("did_cents"))
  }

  val evDidSql: String =
    """WITH mid AS (
      |  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
      |        + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
      |  FROM events),
      |per AS (
      |  SELECT user_id,
      |    CAST(floor((sum(CASE WHEN event_type = 'purchase'
      |        AND CAST(floor(epoch(ts)) AS BIGINT) < mid.mid
      |      THEN value ELSE 0 END)) * 100 + 0.5) AS BIGINT) AS x,
      |    CAST(floor((sum(CASE WHEN event_type = 'purchase'
      |        AND CAST(floor(epoch(ts)) AS BIGINT) >= mid.mid
      |      THEN value ELSE 0 END)) * 100 + 0.5) AS BIGINT) AS y,
      |    CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS grp
      |  FROM events, mid GROUP BY user_id, mid.mid),
      |g AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
      |  FROM per GROUP BY grp),
      |a AS (SELECT n AS n_a, sx AS sx_a, sy AS sy_a FROM g WHERE grp = 'A'),
      |b AS (SELECT n AS n_b, sx AS sx_b, sy AS sy_b FROM g WHERE grp = 'B')
      |SELECT n_a, n_b,
      |  sx_a // n_a AS pre_a_cents, sy_a // n_a AS post_a_cents,
      |  sx_b // n_b AS pre_b_cents, sy_b // n_b AS post_b_cents,
      |  CAST(floor((CAST(sy_a AS DOUBLE) / n_a - CAST(sx_a AS DOUBLE) / n_a)
      |    - (CAST(sy_b AS DOUBLE) / n_b - CAST(sx_b AS DOUBLE) / n_b))
      |    AS BIGINT) AS did_cents
      |FROM a CROSS JOIN b""".stripMargin

  // ─── ts_changepoint: CUSUM level-shift detection per type ───
  // Where did the series change level? Classic CUSUM on the
  // zero-filled hourly grid: deviations from the per-type mean,
  // scaled ×n_hours to stay in exact integers (S_t = Σ(x·n − total)
  // — same sign/argmax as Σ(x − mean), no division), cumulated by
  // one window pass; the changepoint is the |S| peak (tie → earliest
  // hour). Everything after the hourly rollup is |types|×hours
  // rows; the peak pick is a second window pass over the same
  // partitioning — one exchange total.
  def tsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val span = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.select(explode(
      expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour_ts"))
    val types = ev.select(col("event_type")).distinct()
    val filled = grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .withColumn("x", coalesce(col("c"), lit(0L)))
    val tot = filled.groupBy(col("event_type"))
      .agg(sum(col("x")).as("total"), count(lit(1)).as("n_hours"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("s")).desc, col("hour_ts"))
    filled.join(broadcast(tot), Seq("event_type"))
      .withColumn("s", sum(col("x") * col("n_hours") - col("total")).over(wCum))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_hours"),
        epochS(col("hour_ts")).as("cp_epoch"),
        abs(col("s")).as("cusum_peak"))
      .orderBy(col("event_type"))
  }

  val tsChangepointSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS h0,
      |                date_trunc('hour', max(ts)) AS h1 FROM events),
      |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      |         FROM span),
      |filled AS (
      |  SELECT t.hour_ts, t.event_type, coalesce(h.c, 0) AS x
      |  FROM (SELECT g.hour_ts, ty.event_type
      |        FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM events) ty) t
      |  LEFT JOIN hourly h
      |    ON t.hour_ts = h.hour_ts AND t.event_type = h.event_type),
      |tot AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS total,
      |               count(*) AS n_hours
      |        FROM filled GROUP BY event_type),
      |cum AS (
      |  SELECT f.event_type, f.hour_ts, t.n_hours,
      |    CAST(sum(f.x * t.n_hours - t.total) OVER (
      |      PARTITION BY f.event_type ORDER BY f.hour_ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
      |  FROM filled f JOIN tot t ON f.event_type = t.event_type),
      |picked AS (
      |  SELECT event_type, n_hours, hour_ts, abs(s) AS cusum_peak,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(s) DESC, hour_ts) AS rn
      |  FROM cum)
      |SELECT event_type, n_hours,
      |  CAST(floor(epoch(hour_ts)) AS BIGINT) AS cp_epoch, cusum_peak
      |FROM picked WHERE rn = 1 ORDER BY event_type""".stripMargin

  // ─── ev_survival: user-lifetime survival and hazard curve ───
  // The Kaplan–Meier-style churn readout (here uncensored — the
  // corpus window closes, so every lifetime is observed and the KM
  // product-limit estimator collapses to the exact empirical survival
  // function — a ratio of integer counts, no cumulative float
  // product). Lifetime = whole days between a user's first and last
  // event, capped at the survival horizon. For each day t:
  // n_at_risk = |{u : life_u ≥ t}|, n_churned = |{u : life_u = t}|,
  // surv_bp = P(life ≥ t)·10⁴, hazard_bp = churned/at_risk·10⁴.
  // Shape: one user-keyed aggregate (map-side combined) shrinks the
  // corpus to one row per user, the ≤(horizon+1)-row at-risk counts
  // come from a bounded sequence-explode of that per-user frame
  // (each user contributes to exactly life+1 days — the ev_wau
  // contribution-explosion trick, ×31 worst case), and the population
  // total is a 1-row broadcast. No windows, no driver loop.
  private val survivalHorizonDays = 30L

  def evSurvival(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(least(
        expr("(unix_timestamp(max(ts)) - unix_timestamp(min(ts))) div 86400"),
        lit(survivalHorizonDays)).as("life"))
    val total = per.agg(count(lit(1)).as("n_users"))
    val atRisk = per
      .select(explode(sequence(lit(0L), col("life"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_at_risk"))
    val churned = per.groupBy(col("life").as("day"))
      .agg(count(lit(1)).as("n_churned"))
    atRisk.join(churned, Seq("day"), "left")
      .na.fill(0L, Seq("n_churned"))
      .crossJoin(broadcast(total))
      .select(col("day"), col("n_at_risk"), col("n_churned"),
        expr("n_at_risk * 10000 div n_users").as("surv_bp"),
        expr("n_churned * 10000 div n_at_risk").as("hazard_bp"))
      .orderBy(col("day"))
  }

  val evSurvivalSql: String =
    s"""WITH per AS (
       |  SELECT user_id,
       |    least((CAST(floor(epoch(max(ts))) AS BIGINT)
       |         - CAST(floor(epoch(min(ts))) AS BIGINT)) // 86400,
       |      $survivalHorizonDays) AS life
       |  FROM events GROUP BY user_id),
       |total AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM per),
       |at_risk AS (
       |  SELECT day, CAST(count(*) AS BIGINT) AS n_at_risk
       |  FROM (SELECT unnest(range(0, life + 1)) AS day FROM per)
       |  GROUP BY day),
       |churned AS (
       |  SELECT life AS day, CAST(count(*) AS BIGINT) AS n_churned
       |  FROM per GROUP BY life)
       |SELECT a.day, a.n_at_risk, coalesce(c.n_churned, 0) AS n_churned,
       |  a.n_at_risk * 10000 // t.n_users AS surv_bp,
       |  coalesce(c.n_churned, 0) * 10000 // a.n_at_risk AS hazard_bp
       |FROM at_risk a
       |LEFT JOIN churned c ON a.day = c.day
       |CROSS JOIN total t
       |ORDER BY a.day""".stripMargin

  // ─── ev_funnel_time: time-to-convert distribution ───
  // ev_funnel says WHO converts (first purchase after first signup);
  // this says HOW FAST — the conversion-lag histogram growth teams
  // actually plot. Per user: first signup time (a per-user window
  // min, one shuffle on user_id), then the first purchase strictly
  // after it (ev_funnel's exact converted predicate, so the two
  // operators partition the same user set). Lag lands
  // in whole-day buckets; each bucket reports converter count and its
  // share of all converters in bp (the total rides a 1-row
  // broadcast). The per-user frame is corpus-shrunk before any join;
  // buckets are ≤ the corpus day-span. Same ts,event_id tiebreak
  // discipline as cdc/scd2.
  def evFunnelTime(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val lag = Tables(spark, dir).events
      .withColumn("signup_ts",
        min(when(col("event_type") === "signup", col("ts"))).over(byUser))
      .filter(col("event_type") === "purchase" &&
        col("signup_ts").isNotNull && col("ts") > col("signup_ts"))
      .groupBy(col("user_id"))
      .agg(min(epochS(col("ts")) - epochS(col("signup_ts"))).as("lag_s"))
      .select(col("user_id"), expr("lag_s div 86400").as("lag_days"))
    val total = lag.agg(count(lit(1)).as("n_conv"))
    lag.groupBy(col("lag_days")).agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("lag_days"), col("n_users"),
        expr("n_users * 10000 div n_conv").as("share_bp"))
      .orderBy(col("lag_days"))
  }

  val evFunnelTimeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, ts,
      |    min(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS signup_ts
      |  FROM events),
      |lag AS (
      |  SELECT user_id,
      |    CAST(min(CAST(floor(epoch(ts)) AS BIGINT)
      |           - CAST(floor(epoch(signup_ts)) AS BIGINT)) // 86400
      |      AS BIGINT) AS lag_days
      |  FROM e
      |  WHERE event_type = 'purchase' AND signup_ts IS NOT NULL
      |    AND ts > signup_ts
      |  GROUP BY user_id),
      |total AS (SELECT CAST(count(*) AS BIGINT) AS n_conv FROM lag)
      |SELECT lag_days, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(count(*) AS BIGINT) * 10000 // t.n_conv AS share_bp
      |FROM lag CROSS JOIN total t
      |GROUP BY lag_days, t.n_conv
      |ORDER BY lag_days""".stripMargin

  // ─── ev_activity_gini: Lorenz deciles + Gini of user activity ───
  // Concentration readout: how unequal is event volume across users?
  // Feeds abuse triage (one user = 30 % of traffic) and sampling
  // design (per-user caps). Per-user counts ranked ascending via
  // Ranks.groupedRank (exact global rank, bucket ledger — a global
  // ntile/sort would single-task at corpus scale), Gini from the
  // rank identity G = Σ(2i−n−1)xᵢ / (n·Σxᵢ) in exact DECIMAL(38,0)
  // (rank·count sums pass 2⁶³ near 10⁹ users), Lorenz curve as the
  // per-decile cumulative share over the 10-row decile frame
  // (bounded carry, not a data window). One corpus aggregate, one
  // ledger rank, one 10-row rollup.
  def evActivityGini(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val ranked = Ranks.groupedRank(counts, Nil,
        Seq(col("cnt"), shiftright(col("user_id"), 18)),
        Seq(col("cnt"), col("user_id")), "rk", "n_users")
      .withColumn("decile",
        Ranks.ntileFromRank(col("rk"), col("n_users"), 10))
    val gini = ranked.agg(
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * rk")).as("s_rx"),
      sum(col("cnt").cast("decimal(38,0)")).as("s_x"),
      max(col("n_users")).as("n"))
    val wCum = Window.partitionBy(lit(1)).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users_dec"), sum(col("cnt")).as("events_dec"))
      .withColumn("cum_events", sum(col("events_dec")).over(wCum))
      .crossJoin(broadcast(gini))
      .select(col("decile"), col("n_users_dec"), col("events_dec"),
        expr("CAST(CAST(cum_events AS DECIMAL(38,0)) * 10000 div s_x AS BIGINT)")
          .as("cum_share_bp"),
        expr("CAST((2 * s_rx - (CAST(n AS DECIMAL(38,0)) + 1) * s_x) * 10000" +
          " div (CAST(n AS DECIMAL(38,0)) * s_x) AS BIGINT)").as("gini_bp"))
      .orderBy(col("decile"))
  }

  val evActivityGiniSql: String =
    """WITH cnts AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
      |rk AS (
      |  SELECT user_id, cnt,
      |    row_number() OVER (ORDER BY cnt, user_id) AS rk,
      |    count(*) OVER () AS n,
      |    ntile(10) OVER (ORDER BY cnt, user_id) AS decile
      |  FROM cnts),
      |g AS (
      |  SELECT CAST(sum(CAST(cnt AS HUGEINT) * rk) AS HUGEINT) AS s_rx,
      |    CAST(sum(cnt) AS HUGEINT) AS s_x,
      |    CAST(max(n) AS HUGEINT) AS n
      |  FROM rk),
      |d AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_users_dec,
      |    CAST(sum(cnt) AS BIGINT) AS events_dec
      |  FROM rk GROUP BY decile)
      |SELECT decile, n_users_dec, events_dec,
      |  CAST(CAST(sum(events_dec) OVER (ORDER BY decile) AS HUGEINT)
      |    * 10000 // g.s_x AS BIGINT) AS cum_share_bp,
      |  CAST((2 * g.s_rx - (g.n + 1) * g.s_x) * 10000
      |    // (g.n * g.s_x) AS BIGINT) AS gini_bp
      |FROM d CROSS JOIN g ORDER BY decile""".stripMargin

  // ─── ev_conversion_window: signup→purchase conversion by window ───
  // The growth-funnel readout product teams quote: of the users who
  // signed up, what share converted within 1 h / 24 h / 7 d? Per
  // user: first signup (one user-partitioned window min, the
  // ev_funnel_time discipline — never a per-user collect_list, whose
  // state grows with power-user activity), first purchase strictly
  // after it (filter + min on the SAME user partitioning, so the
  // second aggregate reuses the exchange), then the per-user lag row
  // fans out to the 3 window thresholds (constant ×3 explode of the
  // already-per-user frame) and rolls up to 3 rows. Users whose
  // first purchase precedes their signup count as signups, not
  // conversions — the funnel is ordered.
  private val convWindows = Seq(3600L, 86400L, 604800L)

  def evConversionWindow(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("signup", "purchase"))
      .withColumn("signup_e",
        min(when(col("event_type") === "signup", epochS(col("ts")))).over(byUser))
      .filter(col("signup_e").isNotNull)
    val firstP = ev
      .filter(col("event_type") === "purchase" &&
        epochS(col("ts")) > col("signup_e"))
      .groupBy(col("user_id"))
      .agg(min(epochS(col("ts"))).as("first_purch_e"))
    val perUser = ev.select(col("user_id"), col("signup_e")).distinct()
      .join(firstP, Seq("user_id"), "left")
    perUser
      .withColumn("window_s",
        explode(lit(convWindows.toArray)))
      .groupBy(col("window_s"))
      .agg(count(lit(1)).as("n_signups"),
        sum(when(col("first_purch_e").isNotNull &&
          col("first_purch_e") - col("signup_e") <= col("window_s"), 1L)
          .otherwise(0L)).as("n_converted"))
      .select(col("window_s"), col("n_signups"), col("n_converted"),
        expr("n_converted * 10000 div n_signups").as("conv_bp"))
      .orderBy(col("window_s"))
  }

  val evConversionWindowSql: String = {
    val windows = convWindows.mkString(", ")
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
      |    min(CASE WHEN event_type = 'signup'
      |      THEN CAST(floor(epoch(ts)) AS BIGINT) END)
      |      OVER (PARTITION BY user_id) AS signup_e
      |  FROM events WHERE event_type IN ('signup', 'purchase')),
      |s AS (
      |  SELECT DISTINCT user_id, signup_e FROM e WHERE signup_e IS NOT NULL),
      |fp AS (
      |  SELECT user_id, min(ep) AS first_purch_e
      |  FROM e
      |  WHERE event_type = 'purchase' AND signup_e IS NOT NULL
      |    AND ep > signup_e
      |  GROUP BY user_id),
      |lagged AS (
      |  SELECT s.user_id, s.signup_e, fp.first_purch_e
      |  FROM s LEFT JOIN fp USING (user_id)),
      |x AS (
      |  SELECT *, unnest([WINDOWS]) AS window_s FROM lagged)
      |SELECT CAST(window_s AS BIGINT) AS window_s,
      |  CAST(count(*) AS BIGINT) AS n_signups,
      |  CAST(sum(CASE WHEN first_purch_e IS NOT NULL
      |    AND first_purch_e - signup_e <= window_s THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_converted,
      |  CAST(sum(CASE WHEN first_purch_e IS NOT NULL
      |    AND first_purch_e - signup_e <= window_s THEN 1 ELSE 0 END)
      |    AS BIGINT) * 10000 // count(*) AS conv_bp
      |FROM x GROUP BY window_s ORDER BY window_s""".stripMargin
      .replace("WINDOWS", windows)
  }

  // ─── ev_week_over_week: WoW growth per stream ───
  // The Monday-dashboard number: this week's volume vs last week's,
  // in signed bp. Weekly rollup (map-combining), one lag carry per
  // type over the span-bounded week grid; first weeks report NULL
  // growth (no denominator) rather than a fake 0. Exact integers —
  // the subtraction-first form keeps the division single and
  // truncation identical across engines.
  def evWeekOverWeek(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("week"))
    Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(epochS(col("ts")) / 604800L).as("week"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("prev_n", lag(col("n_events"), 1).over(byType))
      .select(col("event_type"), col("week"), col("n_events"), col("prev_n"),
        when(col("prev_n").isNotNull,
          expr("(n_events - prev_n) * 10000 div prev_n")).as("wow_bp"))
      .orderBy(col("event_type"), col("week"))
  }

  val evWeekOverWeekSql: String =
    """WITH w AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT *, lag(n_events) OVER (
      |    PARTITION BY event_type ORDER BY week) AS prev_n
      |  FROM w)
      |SELECT event_type, week, n_events, prev_n,
      |  CASE WHEN prev_n IS NOT NULL
      |    THEN (n_events - prev_n) * 10000 // prev_n END AS wow_bp
      |FROM l ORDER BY event_type, week""".stripMargin

  // ─── ev_audience_overlap: feature-audience Jaccard matrix ───
  // "Do the users who do A also do B?" — the adoption-overlap matrix
  // product reviews before bundling/retiring features. Shrink to
  // distinct (type, user) FIRST (the ev_lift discipline), self-join
  // on the user key (fan-out ≤ ‖types‖ per user), then exact Jaccard
  // and conditional adoption bp per ordered pair from broadcast
  // marginals. ‖types‖² output rows.
  def evAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tu = Tables(spark, dir).parallelized("events", "user_id")
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint(eager = false)
    val marg = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val a = tu.select(col("event_type").as("type_a"), col("user_id"))
    val b = tu.select(col("event_type").as("type_b"), col("user_id"))
    a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("n_both * 10000 div (n_a + n_b - n_both)").as("jaccard_bp"),
        expr("n_both * 10000 div n_a").as("b_given_a_bp"),
        expr("n_both * 10000 div n_b").as("a_given_b_bp"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val evAudienceOverlapSql: String =
    """WITH tu AS (
      |  SELECT DISTINCT event_type, user_id FROM events),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |      FROM tu GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS n_both
      |  FROM tu a JOIN tu b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, ma.n AS n_a, mb.n AS n_b, n_both,
      |  n_both * 10000 // (ma.n + mb.n - n_both) AS jaccard_bp,
      |  n_both * 10000 // ma.n AS b_given_a_bp,
      |  n_both * 10000 // mb.n AS a_given_b_bp
      |FROM p
      |JOIN m ma ON ma.event_type = p.type_a
      |JOIN m mb ON mb.event_type = p.type_b
      |ORDER BY type_a, type_b""".stripMargin

  // ─── ev_lateness_hist: out-of-order arrival histogram ───
  // THE number that sets a streaming watermark: how late do events
  // actually arrive? Arrival order is the event_id sequence (the
  // stream's commit order); an event is LATE by (max event-time seen
  // before it) − (its own event-time) when positive. One per-user
  // carry (running max over the arrival order — user-keyed, never a
  // global single-partition scan), then a ⌊log₂⌋ histogram of
  // lateness seconds with bin −1 = in-order; cum_bp read bottom-up
  // IS the watermark-coverage curve ("a 2ᵇ-second watermark passes
  // this share of events").
  def evLatenessHist(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val byArrival = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("late_s",
        greatest(coalesce(max(col("epoch")).over(byArrival) - col("epoch"),
          lit(0L)), lit(0L)))
      .withColumn("late_bin",
        when(col("late_s") === 0L, lit(-1L))
          .otherwise((length(bin(col("late_s"))) - 1).cast("long")))
      .groupBy(col("late_bin"))
      .agg(count(lit(1)).as("n_events"), max(col("late_s")).as("max_late_s"))
      .withColumn("share_bp",
        Ranks.idiv(col("n_events") * 10000L, sum(col("n_events")).over(all)))
      .withColumn("cum_bp",
        Ranks.idiv(sum(col("n_events")).over(
          all.orderBy(col("late_bin"))
            .rowsBetween(Window.unboundedPreceding, 0)) * 10000L,
          sum(col("n_events")).over(all)))
      .orderBy(col("late_bin"))
  }

  val evLatenessHistSql: String =
    """WITH l AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
      |    max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
      |  FROM events),
      |late AS (
      |  SELECT greatest(coalesce(mx - epoch, 0), 0) AS late_s FROM l),
      |b AS (
      |  SELECT CASE WHEN late_s = 0 THEN -1
      |    ELSE CAST(length(bin(late_s)) - 1 AS BIGINT) END AS late_bin,
      |    late_s
      |  FROM late),
      |h AS (
      |  SELECT late_bin, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(max(late_s) AS BIGINT) AS max_late_s
      |  FROM b GROUP BY 1)
      |SELECT late_bin, n_events, max_late_s,
      |  CAST(n_events * 10000 // (sum(n_events) OVER ()) AS BIGINT)
      |    AS share_bp,
      |  CAST(sum(n_events) OVER (ORDER BY late_bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
      |    // (sum(n_events) OVER ()) AS BIGINT) AS cum_bp
      |FROM h ORDER BY late_bin""".stripMargin

  // ─── ts_theil_sen: robust trend slope (median of pair slopes) ───
  // OLS trend (q35's slope_ppm) breaks on one bad hour; Theil-Sen's
  // median-of-pairwise-slopes estimator has a 29 % breakdown point —
  // the robust answer to "is this series actually growing". Slopes
  // are exact rationals quantized once (×10⁴ integer div); the pair
  // frame is lag-bounded METADATA (span · maxLag hours, never events²
  // and never unbounded in the TIME axis either) built by an
  // hour-ordered self-join per type, and the median is the exact
  // lower order statistic off Ranks.groupedRank — no per-type sort
  // of anything data-sized.
  //
  // WINDOWED Theil-Sen (the round-14 watch item): an uncapped pair
  // join is hours²-bounded — fine on the VOLUME axis, but a 3-year
  // hourly series is ~3·10⁸ pairs per type. Pairs are limited to a
  // max lag of 1080 h (45 days — covering the bench data's full ~30-day
  // span, so results are byte-identical there, while a multi-year
  // series costs span·1080 pairs, linear in span). Windowed Theil-Sen
  // is the standard streaming/bounded-memory variant; trend estimates
  // stay robust because every point still pairs with 45 days of
  // context.
  private val theilSenMaxLagH = 1080L

  /** The lag-capped pair join + slope projection over the hourly
    * frame, in both shapes the span gate below picks from. Factored
    * out (round 18) so the spec can assert the two shapes produce the
    * identical slope multiset on a multi-block synthetic series — the
    * blocked shape is dead code at every bench SF by design. */
  private[graft] def theilSenSlopes(
      hourly: DataFrame, blocked: Boolean): DataFrame = {
    val blkOf = (h: String) => expr(s"$h div $theilSenMaxLagH")
    val a0 = hourly.select(col("event_type").as("et"), col("hour").as("h1"),
      col("hc").as("c1"))
    val b0 = hourly.select(col("event_type").as("et2"), col("hour").as("h2"),
      col("hc").as("c2"))
    // h1 < h2 lives in the JOIN condition, and the divisor is still
    // nullif-guarded: codegen can fuse the projection with the join's
    // residual filter and ANSI mode then throws on the equal-hour
    // pairs the filter is about to drop — nullif makes those evaluate
    // to NULL instead, and no surviving row has h1 = h2.
    val pairCond = col("et") === col("et2") && col("h1") < col("h2") &&
      col("h2") - col("h1") <= lit(theilSenMaxLagH)
    val joined =
      if (blocked) {
        val a = a0.withColumn("blk", blkOf("h1"))
        val b = b0.withColumn("blk2",
          explode(array(blkOf("h2"), blkOf("h2") - 1)))
        a.join(b, col("blk") === col("blk2") && pairCond)
      } else a0.join(b0, pairCond)
    joined.select(col("et").as("event_type"),
      expr("(c2 - c1) * 10000 div nullif(h2 - h1, 0)").as("slope"),
      col("h1"), col("h2"))
  }

  def tsTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(epochS(col("ts")) / 3600L).as("hour"))
      .agg(cents(sum(col("value"))).as("hc"))
      .localCheckpoint(eager = false)
    // Round 17 (guide §2.5/§2.6): the pair join used to key on
    // event_type ALONE — ≤ 5 distinct keys, so the join ran ≤ 5 tasks
    // wide at ANY scale (the round-17 watch item from the r16 plan
    // audit). Composite key (event_type, lag-block): a keeps its
    // hour's block (h1 div maxLag); b replicates into the ≤ 2 blocks
    // its partners can live in (h2 div maxLag and the one below).
    // Every (h1 < h2, h2−h1 ≤ maxLag) pair has h1's block in exactly
    // one of the two replicas, so the joined pair set — and therefore
    // every slope — is IDENTICAL, while the key space scales with the
    // series span. The b-side ×2 replication is hourly METADATA.
    //
    // Round 18 (verdict item 8): that replication DOUBLED the decade
    // CPU (sf10: 14.5 → 31.1 CPU-s) for a parallelism lever that only
    // pays on a multi-year span — every current SF fits a handful of
    // 1080 h blocks. Gate it on the MEASURED span (the bcastIf
    // discipline): below 4 blocks the composite key cannot buy
    // meaningful width (≤ 4·|enum| keys) and the single-key join is
    // replication-free; at a real multi-year span the blocked shape
    // kicks in unchanged. The span probe is the ONE action that also
    // materializes the hourly checkpoint, so the corpus pass still
    // runs exactly once. Both shapes compute the identical pair set
    // (the oracle replays the unblocked join).
    val spanRow = hourly
      .agg(min(col("hour")).as("mn"), max(col("hour")).as("mx")).head
    val nBlocks =
      if (spanRow.isNullAt(0)) 0L
      else (spanRow.getLong(1) - spanRow.getLong(0)) / theilSenMaxLagH + 1
    val slopes = theilSenSlopes(hourly, blocked = nBlocks >= 4)
    Ranks.groupedRank(slopes, Seq("event_type"),
        Seq(shiftright(col("slope"), 12)),
        Seq(col("slope"), col("h1"), col("h2")), "rk", "n_pairs")
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"),
        col("slope").as("slope_med_x10000"))
      .orderBy(col("event_type"))
  }

  val tsTheilSenSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
       |    ${Tables.centsSql("sum(value)")} AS hc
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT a.event_type,
       |    (b.hc - a.hc) * 10000 // (b.hour - a.hour) AS slope,
       |    a.hour AS h1, b.hour AS h2
       |  FROM hourly a JOIN hourly b
       |    ON a.event_type = b.event_type AND a.hour < b.hour
       |    AND b.hour - a.hour <= $theilSenMaxLagH),
       |r AS (
       |  SELECT event_type, slope,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY slope, h1, h2) AS rk,
       |    count(*) OVER (PARTITION BY event_type) AS n_pairs
       |  FROM p)
       |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  slope AS slope_med_x10000
       |FROM r WHERE rk = (n_pairs + 1) // 2
       |ORDER BY event_type""".stripMargin

  // ─── ev_incidents: alert-collapse of sustained burn-rate tickets ───
  // Alert fatigue is the failure mode of threshold alerting: one
  // slow burn pages every hour for a day. This collapses
  // ev_burn_rate's hourly ticket flags into INCIDENTS — maximal runs
  // of consecutive flagged hours (gap ≤ 1 h) — via gaps-and-islands
  // on the span-bounded hourly grid (lag + carry, the ev_islands
  // shape): per incident the bracket, duration, and peak 6 h burn.
  // The on-call surface shrinks from alert-hours to incidents — the
  // dedup factor IS the fatigue metric.
  def evIncidents(spark: SparkSession, dir: String): DataFrame = {
    val byHour = Window.partitionBy(lit(1)).orderBy(col("hour_epoch_h"))
    val flagged = evBurnRate(spark, dir).filter(col("ticket"))
      .select(col("hour_epoch_h"), col("burn_6h_x100"))
      .withColumn("prev_h", lag(col("hour_epoch_h"), 1).over(byHour))
      .withColumn("is_new",
        when(col("prev_h").isNull ||
          col("hour_epoch_h") - col("prev_h") > 1, 1L).otherwise(0L))
      .withColumn("incident_id",
        sum(col("is_new")).over(byHour.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("incident_id"))
      .agg(min(col("hour_epoch_h")).as("start_hour"),
        max(col("hour_epoch_h")).as("end_hour"),
        count(lit(1)).as("n_hours"),
        max(col("burn_6h_x100")).as("peak_burn_x100"))
      .orderBy(col("incident_id"))
  }

  lazy val evIncidentsSql: String =
    s"""WITH br AS ($evBurnRateSql),
       |f AS (
       |  SELECT hour_epoch_h, burn_6h_x100,
       |    lag(hour_epoch_h) OVER (ORDER BY hour_epoch_h) AS prev_h
       |  FROM br WHERE ticket),
       |inc AS (
       |  SELECT hour_epoch_h, burn_6h_x100,
       |    CAST(sum(CASE WHEN prev_h IS NULL OR hour_epoch_h - prev_h > 1
       |      THEN 1 ELSE 0 END) OVER (ORDER BY hour_epoch_h
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS incident_id
       |  FROM f)
       |SELECT incident_id, min(hour_epoch_h) AS start_hour,
       |  max(hour_epoch_h) AS end_hour,
       |  CAST(count(*) AS BIGINT) AS n_hours,
       |  max(burn_6h_x100) AS peak_burn_x100
       |FROM inc GROUP BY 1 ORDER BY incident_id""".stripMargin

  // ─── ts_drawdown: maximum drawdown of the cumulative series ───
  // The risk number for any cumulative metric (revenue, balance,
  // budget): the deepest peak-to-trough fall of the running total.
  // Two carries over the hourly rollup partitioned by type (running
  // sum, then running max of it — both span-bounded linear frames),
  // drawdown = peak − cum per hour, one rollup to the worst point.
  // All exact cents; trough hour reported via min(struct) argmin
  // (deterministic, no sort).
  def tsDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(epochS(col("ts")) / 3600L).as("hour"))
      .agg(cents(sum(col("value"))).as("hc"))
      .withColumn("cum", sum(col("hc")).over(byType))
      .withColumn("peak", max(col("cum")).over(byType))
      .withColumn("dd", col("peak") - col("cum"))
      .groupBy(col("event_type"))
      .agg(max(col("cum")).as("peak_cents"),
        max(col("dd")).as("max_drawdown_cents"),
        min(struct((col("dd") * -1).as("negdd"), col("hour")))
          .getField("hour").as("trough_hour"),
        sum(col("hc")).as("final_cents"))
      .orderBy(col("event_type"))
  }

  val tsDrawdownSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
       |    ${Tables.centsSql("sum(value)")} AS hc
       |  FROM events GROUP BY 1, 2),
       |c1 AS (
       |  SELECT event_type, hour, hc,
       |    CAST(sum(hc) OVER (PARTITION BY event_type ORDER BY hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM hourly),
       |c AS (
       |  SELECT *,
       |    CAST(max(cum) OVER (PARTITION BY event_type ORDER BY hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS peak
       |  FROM c1)
       |SELECT event_type,
       |  CAST(max(cum) AS BIGINT) AS peak_cents,
       |  CAST(max(peak - cum) AS BIGINT) AS max_drawdown_cents,
       |  CAST(min(struct_pack(negdd := -(peak - cum), hour := hour)).hour
       |    AS BIGINT) AS trough_hour,
       |  CAST(sum(hc) AS BIGINT) AS final_cents
       |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ─── ev_mttr: reliability rollup — MTTR / MTBF / availability ───
  // ev_outage lists the incidents; this is the number leadership
  // reads: per stream, mean time to recover (mean outage gap), mean
  // time between failures (uptime over incident count), and
  // availability in bp — all from the SAME >600 s gap derivation
  // (one user-free lag window per type, span-bounded), aggregated
  // exactly in integer seconds. Streams with zero outages report
  // availability 10⁴ and NULL-free sentinels (mttr 0, mtbf = span).
  def evMttr(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("prev_epoch", lag(col("epoch"), 1).over(byType))
      .withColumn("gap",
        when(col("prev_epoch").isNotNull &&
          col("epoch") - col("prev_epoch") > 600L,
          col("epoch") - col("prev_epoch")))
      .groupBy(col("event_type"))
      .agg((max(col("epoch")) - min(col("epoch"))).as("span_s"),
        count(col("gap")).as("n_outages"),
        coalesce(sum(col("gap")), lit(0L)).as("downtime_s"))
      .select(col("event_type"), col("span_s"), col("n_outages"),
        col("downtime_s"),
        when(col("n_outages") > 0,
          expr("downtime_s div n_outages")).otherwise(0L).as("mttr_s"),
        when(col("n_outages") > 0,
          expr("(span_s - downtime_s) div n_outages"))
          .otherwise(col("span_s")).as("mtbf_s"),
        expr("(span_s - downtime_s) * 10000 div span_s").as("avail_bp"))
      .orderBy(col("event_type"))
  }

  val evMttrSql: String =
    """WITH l AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
      |    lag(CAST(floor(epoch(ts)) AS BIGINT))
      |      OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_epoch
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CASE WHEN prev_epoch IS NOT NULL AND epoch - prev_epoch > 600
      |      THEN epoch - prev_epoch END AS gap, epoch
      |  FROM l),
      |a AS (
      |  SELECT event_type,
      |    CAST(max(epoch) - min(epoch) AS BIGINT) AS span_s,
      |    CAST(count(gap) AS BIGINT) AS n_outages,
      |    CAST(coalesce(sum(gap), 0) AS BIGINT) AS downtime_s
      |  FROM g GROUP BY 1)
      |SELECT event_type, span_s, n_outages, downtime_s,
      |  CASE WHEN n_outages > 0 THEN downtime_s // n_outages
      |    ELSE 0 END AS mttr_s,
      |  CASE WHEN n_outages > 0 THEN (span_s - downtime_s) // n_outages
      |    ELSE span_s END AS mtbf_s,
      |  (span_s - downtime_s) * 10000 // span_s AS avail_bp
      |FROM a ORDER BY event_type""".stripMargin

  // ─── ev_velocity_flags: trailing-window velocity rule (fraud ops) ───
  // The rate-limit/fraud primitive: flag any event whose user fired
  // ≥ 8 events in the trailing 24 h INCLUDING it — a sliding RANGE
  // frame on the epoch axis (value-based, so sparse activity costs
  // nothing; a ROWS frame would miscount under same-second ties).
  // One user-keyed shuffle, per-partition linear frame scan; only
  // the flagged tail (p99-calibrated threshold) is emitted, so the
  // output is alert-sized, never corpus-sized.
  private val velWindowS = 86400L
  private val velThreshold = 8L

  def evVelocityFlags(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch"))
      .rangeBetween(-(velWindowS - 1), 0)
    Tables(spark, dir).events
      .withColumn("epoch", epochS(col("ts")))
      .withColumn("n_24h", count(lit(1)).over(w))
      .filter(col("n_24h") >= velThreshold)
      .select(col("event_id"), col("user_id"), col("epoch"),
        col("n_24h"), col("event_type"))
      .orderBy(col("event_id"))
  }

  val evVelocityFlagsSql: String =
    s"""SELECT event_id, user_id, epoch, n_24h, event_type FROM (
       |  SELECT event_id, user_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
       |    count(*) OVER (PARTITION BY user_id
       |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
       |      RANGE BETWEEN ${velWindowS - 1} PRECEDING AND CURRENT ROW)
       |      AS n_24h
       |  FROM events)
       |WHERE n_24h >= $velThreshold
       |ORDER BY event_id""".stripMargin

  // ─── ev_heatmap: day-of-week × hour-of-day load grid ───
  // The ops-dashboard staple ev_seasonality's single hod axis can't
  // draw: WHICH weekday-hour cells carry the traffic (maintenance
  // windows, paging rosters, capacity plans all read this grid).
  // dow derived arithmetically from the epoch day (epoch day 0 =
  // Thursday = 4; dow 0 = Monday) so both engines agree without
  // locale-dependent date functions. One map-combining aggregate to
  // the ≤168-cell grid; share in exact bp against the total.
  def evHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    Tables(spark, dir).events
      .groupBy(
        pmod(expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT) + 3"), lit(7L))
          .as("dow"),
        pmod(expr("unix_timestamp(ts) div 3600"), lit(24L)).as("hod"))
      .agg(count(lit(1)).as("n_events"),
        cents(sum(col("value"))).as("value_cents"))
      .withColumn("share_bp",
        Ranks.idiv(col("n_events") * 10000L, sum(col("n_events")).over(all)))
      .orderBy(col("dow"), col("hod"))
  }

  val evHeatmapSql: String =
    s"""WITH g AS (
       |  SELECT
       |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7 AS dow,
       |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hod,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    ${Tables.centsSql("sum(value)")} AS value_cents
       |  FROM events GROUP BY 1, 2)
       |SELECT dow, hod, n_events, value_cents,
       |  CAST(n_events * 10000 // (sum(n_events) OVER ()) AS BIGINT)
       |    AS share_bp
       |FROM g ORDER BY dow, hod""".stripMargin

  // ─── ev_cohort_ltv: cumulative value per user by signup cohort ───
  // The LTV curve growth teams plot: users cohorted by signup week,
  // cumulative purchase value per cohort member as the cohort ages.
  // Cohort assignment is ONE user-keyed aggregate (first signup
  // week); purchases join their user's cohort (co-partitioned on
  // user_id), roll up to (cohort, age_week), and the running total
  // carries over the span-bounded per-cohort age frame. ltv_c is
  // exact integer division of cumulative cents by the FIXED cohort
  // head-count (denominator never shifts mid-curve — the retention
  // mistake this operator exists to avoid). Observed weeks only.
  def evCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(expr("min(CAST(floor(unix_timestamp(ts) / 604800) AS BIGINT))")
        .as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val weekly = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        floor(epochS(col("ts")) / 604800L).as("week"),
        col("value"))
      .join(cohort, Seq("user_id"))
      .filter(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_week"))
      .agg(cents(sum(col("value"))).as("spend_cents"))
    val byAge = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
      .rowsBetween(Window.unboundedPreceding, 0)
    weekly.join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_cents", sum(col("spend_cents")).over(byAge))
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        col("spend_cents"), expr("cum_cents div n_users").as("ltv_c"))
      .orderBy(col("cohort_week"), col("age_week"))
  }

  val evCohortLtvSql: String =
    """WITH cohort AS (
      |  SELECT user_id,
      |    min(CAST(floor(epoch(ts) / 604800) AS BIGINT)) AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
      |  FROM cohort GROUP BY 1),
      |weekly AS (
      |  SELECT c.cohort_week,
      |    CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - c.cohort_week
      |      AS age_week,
      |    CAST(floor(sum(e.value) * 100 + 0.5) AS BIGINT) AS spend_cents
      |  FROM events e JOIN cohort c USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(floor(epoch(e.ts) / 604800) AS BIGINT) >= c.cohort_week
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT w.cohort_week, w.age_week, s.n_users, w.spend_cents,
      |    CAST(sum(w.spend_cents) OVER (PARTITION BY w.cohort_week
      |      ORDER BY w.age_week
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents
      |  FROM weekly w JOIN sizes s USING (cohort_week))
      |SELECT cohort_week, age_week, n_users, spend_cents,
      |  cum_cents // n_users AS ltv_c
      |FROM cum ORDER BY cohort_week, age_week""".stripMargin

  // ─── ts_seasonal_strength: hour-of-day variance decomposition ───
  // "Is this series actually diurnal?" as ONE number per series: the
  // share of hourly variance explained by time-of-day — the one-way
  // ANOVA η² of the hour-of-day factor (Hyndman's seasonal-strength
  // measure with the seasonal component as the hod group mean).
  // Exactness discipline: group means are quantized ONCE to ×10⁴
  // integers (documented ≤1e-4 relative bias), so both SSB and SST
  // are pure 128-bit integer sums — no float accumulates across rows
  // in engine-dependent order. Shapes: hourly rollup → 24-bucket hod
  // rollup per type (bounded) → means broadcast back onto the hourly
  // frame for the residual sum. strength_bp ∈ [0, 10⁴].
  def tsSeasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(epochS(col("ts")) / 3600L).as("hour"))
      .agg(cents(sum(col("value"))).as("hc"))
      .withColumn("hod", pmod(col("hour"), lit(24L)))
      .localCheckpoint(eager = false)
    val tot = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("hc")).as("s"))
      .withColumn("mean_q", expr("s * 10000 div n"))
    val hod = hourly.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n_h"), sum(col("hc")).as("s_h"))
      .withColumn("mean_h_q", expr("s_h * 10000 div n_h"))
    val ssb = hod.join(broadcast(tot.select(col("event_type"), col("mean_q"))),
        Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(expr("n_h * CAST(mean_h_q - mean_q AS DECIMAL(38,0))" +
        " * (mean_h_q - mean_q)")).as("ssb"))
    val sst = hourly.join(broadcast(tot), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(expr("CAST(hc * 10000 - mean_q AS DECIMAL(38,0))" +
        " * (hc * 10000 - mean_q)")).as("sst"),
        max(col("n")).as("n"))
    ssb.join(sst, Seq("event_type"))
      .select(col("event_type"), col("n"),
        when(col("sst") > 0, expr("CAST(ssb * 10000 div sst AS BIGINT)"))
          .otherwise(lit(0L)).as("strength_bp"))
      .orderBy(col("event_type"))
  }

  val tsSeasonalStrengthSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
       |    ${Tables.centsSql("sum(value)")} AS hc
       |  FROM events GROUP BY 1, 2),
       |h AS (SELECT *, hour % 24 AS hod FROM hourly),
       |tot AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(hc) AS BIGINT) AS s,
       |    CAST(sum(hc) AS BIGINT) * 10000 // count(*) AS mean_q
       |  FROM h GROUP BY 1),
       |hod AS (
       |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_h,
       |    CAST(sum(hc) AS BIGINT) * 10000 // count(*) AS mean_h_q
       |  FROM h GROUP BY 1, 2),
       |ssb AS (
       |  SELECT hod.event_type,
       |    sum(n_h * CAST(mean_h_q - t.mean_q AS HUGEINT)
       |      * (mean_h_q - t.mean_q)) AS ssb
       |  FROM hod JOIN tot t USING (event_type) GROUP BY 1),
       |sst AS (
       |  SELECT h.event_type,
       |    sum(CAST(h.hc * 10000 - t.mean_q AS HUGEINT)
       |      * (h.hc * 10000 - t.mean_q)) AS sst,
       |    max(t.n) AS n
       |  FROM h JOIN tot t USING (event_type) GROUP BY 1)
       |SELECT event_type, n,
       |  CASE WHEN sst > 0 THEN CAST(ssb * 10000 // sst AS BIGINT)
       |    ELSE 0 END AS strength_bp
       |FROM ssb JOIN sst USING (event_type)
       |ORDER BY event_type""".stripMargin

  // ─── ev_burn_rate: multiwindow SLO error-budget burn alerts ───
  // The SRE alerting policy (Google SRE Workbook ch. 5, multiwindow
  // multi-burn-rate): error ratio over a short AND a long trailing
  // window, expressed as a multiple of the SLO's error budget —
  // page when BOTH windows burn hot (fast outage, debounced by the
  // long window), ticket on a sustained slow burn. Budget here is
  // 5 % — scaled to the synthetic stream's ~20 % baseline error rate
  // the way production scales 0.1 % to its own baseline: quiet hours
  // burn ~4×, a page needs ≥ 72 % errors in BOTH windows, so a
  // single-hour spike is debounced by the 6 h window exactly as the
  // policy intends (Round12OpsSpec proves it on a crafted outage).
  // Hourly rollup (map-combining), two bounded trailing frames on
  // the span-bounded hourly grid, exact integer ratios:
  // burn_x100 = err_bp·100 div budget_bp.
  private val budgetBp = 500L
  private val burnLongH = 6

  def evBurnRate(spark: SparkSession, dir: String): DataFrame = {
    val byHour = Window.partitionBy(lit(1)).orderBy(col("hour"))
    val short = byHour.rowsBetween(0, 0)
    val long = byHour.rowsBetween(-(burnLongH - 1), 0)
    Tables(spark, dir).events
      .groupBy(floor(epochS(col("ts")) / 3600L).as("hour"))
      .agg(count(lit(1)).as("tot"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"))
      .withColumn("tot_s", sum(col("tot")).over(short))
      .withColumn("err_s", sum(col("err")).over(short))
      .withColumn("tot_l", sum(col("tot")).over(long))
      .withColumn("err_l", sum(col("err")).over(long))
      .select(col("hour").as("hour_epoch_h"), col("tot"), col("err"),
        expr(s"err_s * 10000 div tot_s * 100 div $budgetBp").as("burn_1h_x100"),
        expr(s"err_l * 10000 div tot_l * 100 div $budgetBp").as("burn_6h_x100"))
      .withColumn("page",
        col("burn_1h_x100") >= 1440L && col("burn_6h_x100") >= 1440L)
      .withColumn("ticket", col("burn_6h_x100") >= 600L)
      .orderBy(col("hour_epoch_h"))
  }

  val evBurnRateSql: String =
    s"""WITH hourly AS (
       |  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
       |    CAST(count(*) AS BIGINT) AS tot,
       |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS err
       |  FROM events GROUP BY 1),
       |w AS (
       |  SELECT hour, tot, err,
       |    CAST(sum(tot) OVER s AS BIGINT) AS tot_s,
       |    CAST(sum(err) OVER s AS BIGINT) AS err_s,
       |    CAST(sum(tot) OVER l AS BIGINT) AS tot_l,
       |    CAST(sum(err) OVER l AS BIGINT) AS err_l
       |  FROM hourly
       |  WINDOW s AS (ORDER BY hour ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
       |    l AS (ORDER BY hour
       |      ROWS BETWEEN ${burnLongH - 1} PRECEDING AND CURRENT ROW)),
       |b AS (
       |  SELECT hour AS hour_epoch_h, tot, err,
       |    err_s * 10000 // tot_s * 100 // $budgetBp AS burn_1h_x100,
       |    err_l * 10000 // tot_l * 100 // $budgetBp AS burn_6h_x100
       |  FROM w)
       |SELECT hour_epoch_h, tot, err, burn_1h_x100, burn_6h_x100,
       |  burn_1h_x100 >= 1440 AND burn_6h_x100 >= 1440 AS page,
       |  burn_6h_x100 >= 600 AS ticket
       |FROM b ORDER BY hour_epoch_h""".stripMargin

  // ─── ev_srm: sample-ratio-mismatch guardrail for the A/B split ───
  // The first thing a trustworthy experiment platform checks before
  // reading ANY metric: does the observed unit split match the
  // designed 50/50? For a two-cell equal split the chi-square
  // statistic collapses to (n_A − n_B)² / (n_A + n_B) — exact
  // integer ×100 against the χ²₁ 95 % critical value 3.84. Same
  // md5 "ab:" unit-hash as ev_ab_test, so this guards exactly the
  // assignment that experiment reads. One distinct-user aggregate,
  // a 2-row frame after that.
  def evSrm(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir).events
      .select(col("user_id")).distinct()
      .withColumn("grp",
        when(conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val a = s.filter(col("grp") === "A").select(col("n").as("n_a"))
    val b = s.filter(col("grp") === "B").select(col("n").as("n_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 100 div (n_a + n_b)").as("chi2_x100"))
      .withColumn("srm", col("chi2_x100") > 384L)
  }

  val evSrmSql: String =
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events),
      |g AS (
      |  SELECT CASE WHEN CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
      |    user_id
      |  FROM u),
      |s AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY grp)
      |SELECT a.n AS n_a, b.n AS n_b,
      |  (a.n - b.n) * (a.n - b.n) * 100 // (a.n + b.n) AS chi2_x100,
      |  (a.n - b.n) * (a.n - b.n) * 100 // (a.n + b.n) > 384 AS srm
      |FROM (SELECT n FROM s WHERE grp = 'A') a
      |CROSS JOIN (SELECT n FROM s WHERE grp = 'B') b""".stripMargin

  // ─── ev_session_hist: log₂ histogram of session lengths ───
  // The distributional readout downstream of sessionization: how are
  // visit lengths distributed (bin = ⌊log₂ n_events⌋ — engagement
  // bands 1, 2-3, 4-7, 8-15… events)? Rides ev_sessionize's exact
  // session rollup (one user-keyed shuffle + linear windows), then
  // one bounded-cardinality aggregate; ⌊log₂⌋ via length(bin(n))−1,
  // no libm (the text_lm_score trick). share_bp exact against the
  // session total over the ≤64-row bin frame.
  def evSessionHist(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
    evSessionize(spark, dir)
      .groupBy((length(bin(col("n_events"))) - 1).cast("long").as("len_bin"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .withColumn("share_bp",
        Ranks.idiv(col("n_sessions") * 10000L, sum(col("n_sessions")).over(all)))
      .orderBy(col("len_bin"))
  }

  // Rides evSessionizeSql VERBATIM as the inner derivation — any
  // drift between the two sessionizations would silently change the
  // histogram's ground truth.
  val evSessionHistSql: String = {
    s"""WITH sess AS (
       |$evSessionizeSql),
       |h AS (
       |  SELECT CAST(length(bin(n_events)) - 1 AS BIGINT) AS len_bin,
       |    CAST(count(*) AS BIGINT) AS n_sessions,
       |    CAST(sum(n_events) AS BIGINT) AS n_events
       |  FROM sess GROUP BY 1)
       |SELECT len_bin, n_sessions, n_events,
       |  CAST(n_sessions * 10000 // (sum(n_sessions) OVER ()) AS BIGINT)
       |    AS share_bp
       |FROM h ORDER BY len_bin""".stripMargin
  }

  // ─── ts_bollinger: rolling-band outliers on the hourly series ───
  // Bollinger discipline (mean ± 2σ over a trailing 24-observation
  // band) with ZERO floating point: the outlier test |x − s₁/m| >
  // 2·√((m·s₂−s₁²)/m²) is squared into (x·m − s₁)² > 4·(m·s₂ − s₁²),
  // exact in DECIMAL(38,0)/HUGEINT (hour-cents pass 2³¹ at corpus
  // scale, so their squares need 128-bit). The rolling frame runs on
  // the HOURLY ROLLUP partitioned by event_type — rows bounded by
  // the data's time span, not its volume (the ev_autocorr posture);
  // observed hours only, like ev_burstiness's documented shortcut.
  // Warm-up rows (fewer than 8 observations in the band) report
  // is_outlier = false rather than flagging on a 1-point "band".
  def tsBollinger(spark: SparkSession, dir: String): DataFrame = {
    val band = Window.partitionBy(col("event_type"))
      .orderBy(col("hour")).rowsBetween(-23, 0)
    Tables(spark, dir).events
      .groupBy(col("event_type"),
        floor(epochS(col("ts")) / 3600L).as("hour"))
      .agg(cents(sum(col("value"))).as("hc"))
      .withColumn("m", count(lit(1)).over(band))
      .withColumn("s1", sum(col("hc")).over(band))
      .withColumn("s2", sum(expr("CAST(hc AS DECIMAL(38,0)) * hc")).over(band))
      .select(col("hour").as("hour_epoch_h"), col("event_type"), col("hc"),
        expr("s1 * 100 div m").as("mean_x100"),
        (col("m") >= 8 &&
          expr("(CAST(hc AS DECIMAL(38,0)) * m - s1) * (CAST(hc AS DECIMAL(38,0)) * m - s1)" +
            " > 4 * (m * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)")).as("is_outlier"))
      .orderBy(col("event_type"), col("hour_epoch_h"))
  }

  val tsBollingerSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
       |    ${Tables.centsSql("sum(value)")} AS hc
       |  FROM events GROUP BY 1, 2),
       |b AS (
       |  SELECT event_type, hour, hc,
       |    count(*) OVER w AS m,
       |    CAST(sum(hc) OVER w AS BIGINT) AS s1,
       |    CAST(sum(CAST(hc AS HUGEINT) * hc) OVER w AS HUGEINT) AS s2
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
       |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
       |SELECT hour AS hour_epoch_h, event_type, hc,
       |  s1 * 100 // m AS mean_x100,
       |  m >= 8 AND
       |    (CAST(hc AS HUGEINT) * m - s1) * (CAST(hc AS HUGEINT) * m - s1)
       |      > 4 * (m * s2 - CAST(s1 AS HUGEINT) * s1) AS is_outlier
       |FROM b ORDER BY event_type, hour_epoch_h""".stripMargin

  // ─── ev_lift: market-basket lift of event-type pairs ───
  // Which behaviors co-occur beyond chance? Basket = (user, day);
  // lift(a,b) = P(a∧b) / (P(a)·P(b)) in exact basis points. The
  // basket set shrinks to distinct (user, day, type) FIRST — the
  // self-join then fans out at most |types| rows per basket key, so
  // pair volume is baskets·|types|², never events². Marginals and
  // the basket total broadcast back. The distinct fixture is
  // localCheckpointed once: three consumers (pairs ×2 sides via
  // ReuseExchange, marginals, total) would otherwise each re-scan
  // the corpus.
  def evLift(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables(spark, dir).events
      .select(col("user_id"),
        floor(epochS(date_trunc("day", col("ts"))) / 86400L).as("day"),
        col("event_type"))
      .distinct()
      .localCheckpoint(eager = false)
    val total = b.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val marg = b.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val a = b.select(col("user_id"), col("day"), col("event_type").as("type_a"))
    val c = b.select(col("user_id"), col("day"), col("event_type").as("type_b"))
    a.join(c, Seq("user_id", "day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(marg.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * n_baskets * 10000" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_bp"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val evLiftSql: String =
    """WITH b AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day,
      |    event_type
      |  FROM events),
      |tot AS (
      |  SELECT count(*) AS n_baskets
      |  FROM (SELECT DISTINCT user_id, day FROM b)),
      |m AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS type_a, c.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS n_ab
      |  FROM b a JOIN b c
      |    ON a.user_id = c.user_id AND a.day = c.day
      |    AND a.event_type < c.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_ab,
      |  CAST(CAST(n_ab AS HUGEINT) * t.n_baskets * 10000
      |    // (CAST(ma.n AS HUGEINT) * mb.n) AS BIGINT) AS lift_bp
      |FROM p
      |JOIN m ma ON ma.event_type = p.type_a
      |JOIN m mb ON mb.event_type = p.type_b
      |CROSS JOIN tot t
      |ORDER BY type_a, type_b""".stripMargin

  // ─── ev_entropy: behavioral entropy of each user's type mix ───
  // The diversity signal bot/segmentation work keys on: a user whose
  // events are 99 % one type reads near-zero entropy, a uniform mixer
  // reads log₂|types|. Shannon entropy needs log — banned (libm
  // rounding diverges across engines) — so this uses the text_lm_score
  // trick: fl2(x) = length(bin(x))−1 = ⌊log₂x⌋ exactly, in BOTH
  // engines, giving H_milli = Σ cᵢ·(fl2(n)−fl2(cᵢ))·1000 div n — a
  // deterministic integer entropy surrogate (exact at powers of two,
  // within 1 bit elsewhere — calibration error, not engine error).
  // Rolled up to a 0.5-bit-bucket histogram: three map-combining
  // aggregates; the per-user frame the share window runs on is
  // |types|-bounded. No user-level output rows — the histogram is
  // metadata-sized at any corpus scale.
  def evEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val perUserType = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val perUser = perUserType
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("user_id"))))
      .withColumn("term",
        expr("c * (length(bin(n)) - length(bin(c)))"))
      .groupBy(col("user_id"))
      .agg(expr("sum(term) * 1000 div max(n)").as("h_milli"),
        max(col("n")).as("n_events"))
    perUser.groupBy(expr("h_milli div 500").as("bucket_half_bits"))
      .agg(count(lit(1)).as("n_users"),
        min(col("h_milli")).as("min_milli"),
        max(col("h_milli")).as("max_milli"),
        sum(col("n_events")).as("n_events"))
      .orderBy(col("bucket_half_bits"))
  }

  val evEntropySql: String =
    """WITH cnt AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |ent AS (
      |  SELECT user_id,
      |    CAST(sum(c * (length(bin(n)) - length(bin(c)))) * 1000 // max(n)
      |      AS BIGINT) AS h_milli,
      |    max(n) AS n_events
      |  FROM (SELECT *, sum(c) OVER (PARTITION BY user_id) AS n FROM cnt)
      |  GROUP BY user_id)
      |SELECT h_milli // 500 AS bucket_half_bits,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  min(h_milli) AS min_milli, max(h_milli) AS max_milli,
      |  CAST(sum(n_events) AS BIGINT) AS n_events
      |FROM ent GROUP BY 1 ORDER BY 1""".stripMargin

  // ─── ev_rolling_uniques: 7-day rolling distinct users per type ───
  // The rolling-reach metric (WAU generalized to every event class)
  // that a naive COUNT(DISTINCT) OVER (RANGE 6 PRECEDING) can't do —
  // distinct doesn't decompose over sliding frames, and neither engine
  // supports it as a window. The decomposition that DOES scale:
  // distinct (type, day, user) triples contribute each to the 7 target
  // days they're visible from — a ×7 explode (constant fan-out, the
  // q24 bucketing idea applied to windows) — then ONE distinct
  // aggregate on (type, target_day, user) and a count rollup, keeping
  // only observed days via a semi-join. Equijoins and grouped
  // aggregates only; never a per-day range self-join.
  def evRollingUniques(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val pairs = ev.select(col("event_type"), to_date(col("ts")).as("day"),
      col("user_id")).distinct()
    val observed = pairs.select(col("event_type"), col("day")).distinct()
    val contrib = pairs
      .select(col("event_type"), col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"),
        col("day"))
      .select(col("event_type"), col("user_id"),
        date_add(col("day"), col("off")).as("day"))
      .join(observed, Seq("event_type", "day"), "left_semi")
    val rolling = contrib.distinct()
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("uniques_7d"))
    val daily = pairs.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("uniques_1d"))
    daily.join(rolling, Seq("event_type", "day"))
      .orderBy(col("event_type"), col("day"))
  }

  val evRollingUniquesSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
      |  FROM events),
      |observed AS (SELECT DISTINCT event_type, day FROM pairs),
      |contrib AS (
      |  SELECT DISTINCT p.event_type,
      |    p.day + CAST(t.off AS INTEGER) AS day, p.user_id
      |  FROM pairs p CROSS JOIN range(0, 7) t(off)
      |  WHERE EXISTS (SELECT 1 FROM observed o
      |    WHERE o.event_type = p.event_type
      |      AND o.day = p.day + CAST(t.off AS INTEGER))),
      |rolling AS (
      |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS uniques_7d
      |  FROM contrib GROUP BY 1, 2),
      |daily AS (
      |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS uniques_1d
      |  FROM pairs GROUP BY 1, 2)
      |SELECT d.event_type, d.day, d.uniques_1d, r.uniques_7d
      |FROM daily d JOIN rolling r USING (event_type, day)
      |ORDER BY d.event_type, d.day""".stripMargin

  // ─── ts_holt: Holt double-exponential smoothing (level+trend) ───
  // ts_ema's fixed-K truncation trick can't carry a TREND term, so
  // this is the real recursion — l_t=(x_t+3(l+b))/4, b_t=((l_t−l)+3b)/4
  // with α=β=1/4 — run EXACTLY, in integer cents (truncating division
  // matches between engines, negatives included), so DuckDB replays it
  // via WITH RECURSIVE bit-for-bit. Scale shape: the corpus rolls up
  // to per-(type, day) means first (map-combining aggregate — the only
  // pass over data); the recursion then folds a |days|-bounded sorted
  // array per type inside one codegen'd `aggregate` HOF — state lives
  // per group, never on the driver, and a year of dailies is 365
  // elements. Output: fitted level/trend at the last day + a 7-day
  // linear forecast per type.
  def tsHolt(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr(s"${Tables.centsSql("sum(value)")} div count(*)").as("x"))
    daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
      .withColumn("xs", expr("transform(s, e -> e.x)"))
      .filter(size(col("xs")) >= 2)
      .withColumn("fit", expr(
        """aggregate(slice(xs, 3, size(xs) - 2),
          |  named_struct('l', xs[0], 'b', xs[1] - xs[0]),
          |  (acc, x) -> named_struct(
          |    'l', (x + 3 * (acc.l + acc.b)) div 4,
          |    'b', (((x + 3 * (acc.l + acc.b)) div 4 - acc.l) + 3 * acc.b)
          |           div 4))""".stripMargin))
      .select(col("event_type"), size(col("xs")).cast("long").as("n_days"),
        col("fit.l").as("level_cents"), col("fit.b").as("trend_cents"),
        expr("fit.l + 7 * fit.b").as("forecast7_cents"))
      .orderBy(col("event_type"))
  }

  val tsHoltSql: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    ${Tables.centsSql("sum(value)")} // count(*) AS x
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM daily),
       |rec AS (
       |  SELECT a.event_type, CAST(2 AS BIGINT) AS i, a.n,
       |    a.x AS l, b.x - a.x AS b
       |  FROM idx a JOIN idx b ON a.event_type = b.event_type
       |    AND a.i = 1 AND b.i = 2
       |  UNION ALL
       |  SELECT r.event_type, r.i + 1, r.n,
       |    (s.x + 3 * (r.l + r.b)) // 4,
       |    (((s.x + 3 * (r.l + r.b)) // 4 - r.l) + 3 * r.b) // 4
       |  FROM rec r JOIN idx s ON s.event_type = r.event_type
       |    AND s.i = r.i + 1
       |  WHERE r.i < r.n)
       |SELECT event_type, n AS n_days, l AS level_cents, b AS trend_cents,
       |  l + 7 * b AS forecast7_cents
       |FROM rec WHERE i = n
       |ORDER BY event_type""".stripMargin

  // ─── ev_periodogram: dominant period of the hourly series ───
  // ev_autocorr answers "does hour t predict t+1?"; this sweeps lags
  // 1..24 over the SAME zero-filled hourly grid and reports the full
  // correlogram per type plus the winning lag — the libm-free period
  // detector (a daily-rhythm type peaks at 24, a memoryless one reads
  // flat). The zero-filled grid is complete, so lead(x, L) is exactly
  // an equijoin of the grid to itself shifted by L hours — one
  // (type, hour)-keyed join after a ×24 constant fan-out on the
  // metadata-sized grid (span_hours × |types| × 24 rows, independent
  // of corpus volume; the only corpus pass is the hourly rollup).
  // Pearson per (type, lag) by the exact-integer-sums technique; the
  // winner rank runs on the 24-row-per-type frame.
  def evPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val span = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.select(explode(
      expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour_ts"))
    val types = ev.select(col("event_type")).distinct()
    val filled = grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .withColumn("x", coalesce(col("c"), lit(0L)))
      .select(col("event_type"), col("hour_ts"), col("x"))
    val shifted = filled
      .select(col("event_type"), col("hour_ts"), col("x").as("y"),
        explode(sequence(lit(1), lit(24))).as("lag"))
      .withColumn("hour_ts",
        col("hour_ts") - expr("make_interval(0, 0, 0, 0, lag, 0, 0)"))
    val agg = filled.join(shifted, Seq("event_type", "hour_ts"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
    val nd = col("n_pairs").cast("double")
    val num = nd * col("sum_xy") - col("sum_x").cast("double") * col("sum_y")
    val dx = nd * col("sum_x2") - col("sum_x").cast("double") * col("sum_x")
    val dy = nd * col("sum_y2") - col("sum_y").cast("double") * col("sum_y")
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("r_bp").desc, col("lag"))
    agg.select(col("event_type"), col("lag").cast("long").as("lag"),
        col("n_pairs"),
        when(dx * dy > 0, floor(num * 10000 / sqrt(dx * dy)).cast("long"))
          .otherwise(lit(0L)).as("r_bp"))
      .withColumn("is_best", (row_number().over(byType) === 1))
      .orderBy(col("event_type"), col("lag"))
  }

  val evPeriodogramSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS h0,
      |                date_trunc('hour', max(ts)) AS h1 FROM events),
      |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      |         FROM span),
      |filled AS MATERIALIZED (
      |  SELECT t.hour_ts, t.event_type, coalesce(h.c, 0) AS x
      |  FROM (SELECT g.hour_ts, ty.event_type
      |        FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM events) ty) t
      |  LEFT JOIN hourly h
      |    ON t.hour_ts = h.hour_ts AND t.event_type = h.event_type),
      |agg AS (
      |  SELECT a.event_type, l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(a.x) AS BIGINT) AS sum_x, CAST(sum(b.x) AS BIGINT) AS sum_y,
      |    CAST(sum(a.x * b.x) AS BIGINT) AS sum_xy,
      |    CAST(sum(a.x * a.x) AS BIGINT) AS sum_x2,
      |    CAST(sum(b.x * b.x) AS BIGINT) AS sum_y2
      |  FROM filled a
      |  CROSS JOIN range(1, 25) l(lag)
      |  JOIN filled b ON b.event_type = a.event_type
      |    AND b.hour_ts = a.hour_ts + to_hours(l.lag)
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
      |    CASE WHEN (n_pairs * sum_x2 - sum_x * sum_x)
      |           * (n_pairs * sum_y2 - sum_y * sum_y) > 0
      |      THEN CAST(floor(
      |        (CAST(n_pairs AS DOUBLE) * sum_xy
      |          - CAST(sum_x AS DOUBLE) * sum_y) * 10000
      |        / sqrt((CAST(n_pairs AS DOUBLE) * sum_x2
      |            - CAST(sum_x AS DOUBLE) * sum_x)
      |          * (CAST(n_pairs AS DOUBLE) * sum_y2
      |            - CAST(sum_y AS DOUBLE) * sum_y))) AS BIGINT)
      |      ELSE 0 END AS r_bp
      |  FROM agg)
      |SELECT event_type, lag, n_pairs, r_bp,
      |  row_number() OVER (PARTITION BY event_type
      |    ORDER BY r_bp DESC, lag) = 1 AS is_best
      |FROM r ORDER BY event_type, lag""".stripMargin

  // ─── ev_lifecycle: weekly growth accounting of the user base ───
  // The new/retained/resurrected/churned decomposition (and the quick
  // ratio) every growth team runs — ev_wau counts heads, this explains
  // the DELTA. Everything derives from distinct (user, week) pairs:
  // retained(w) = the pair set equijoined to itself shifted one week
  // (never a window over a user's full history), new(w) = first-week
  // join, resurrected = active ∧ ¬retained ∧ ¬new, churned(w) =
  // |active(w−1)| − retained(w) — pure arithmetic on two bounded
  // rollups. One shuffle on (user, week), one on user for first-week;
  // every output frame is |weeks|-sized. Quick ratio =
  // (new+resurrected)·10⁴ div max(1, churned).
  def evLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(spark, dir).events
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week")).distinct()
    val firstW = pairs.groupBy(col("user_id")).agg(min(col("week")).as("w0"))
    val prev = pairs.select(col("user_id"),
      date_add(col("week"), 7).as("week"), lit(1L).as("was_active"))
    val flagged = pairs
      .join(prev, Seq("user_id", "week"), "left")
      .join(firstW, Seq("user_id"))
      .withColumn("is_new", (col("week") === col("w0")).cast("long"))
      .withColumn("is_retained", coalesce(col("was_active"), lit(0L)))
      .withColumn("is_resurrected",
        ((col("is_new") === 0) && (col("is_retained") === 0)).cast("long"))
    val byWeek = flagged.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"), sum(col("is_new")).as("n_new"),
        sum(col("is_retained")).as("n_retained"),
        sum(col("is_resurrected")).as("n_resurrected"))
    val prevActive = pairs.groupBy(date_add(col("week"), 7).as("week"))
      .agg(count(lit(1)).as("n_prev"))
    byWeek.join(prevActive, Seq("week"), "left")
      .withColumn("n_churned",
        coalesce(col("n_prev"), lit(0L)) - col("n_retained"))
      .select(col("week"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"),
        expr("(n_new + n_resurrected) * 10000 div greatest(1, n_churned)")
          .as("quick_ratio_bp"))
      .orderBy(col("week"))
  }

  val evLifecycleSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
      |firstw AS (SELECT user_id, min(week) AS w0 FROM pairs GROUP BY user_id),
      |flagged AS (
      |  SELECT p.week,
      |    CASE WHEN p.week = f.w0 THEN 1 ELSE 0 END AS is_new,
      |    CASE WHEN q.user_id IS NULL THEN 0 ELSE 1 END AS is_retained
      |  FROM pairs p
      |  JOIN firstw f USING (user_id)
      |  LEFT JOIN pairs q ON q.user_id = p.user_id
      |    AND q.week + 7 = p.week),
      |byweek AS (
      |  SELECT week, CAST(count(*) AS BIGINT) AS n_active,
      |    CAST(sum(is_new) AS BIGINT) AS n_new,
      |    CAST(sum(is_retained) AS BIGINT) AS n_retained,
      |    CAST(sum(CASE WHEN is_new = 0 AND is_retained = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_resurrected
      |  FROM flagged GROUP BY week),
      |prev_active AS (
      |  SELECT week + 7 AS week, CAST(count(*) AS BIGINT) AS n_prev
      |  FROM pairs GROUP BY 1)
      |SELECT b.week, b.n_active, b.n_new, b.n_retained, b.n_resurrected,
      |  coalesce(p.n_prev, 0) - b.n_retained AS n_churned,
      |  (b.n_new + b.n_resurrected) * 10000
      |    // greatest(1, coalesce(p.n_prev, 0) - b.n_retained)
      |    AS quick_ratio_bp
      |FROM byweek b LEFT JOIN prev_active p USING (week)
      |ORDER BY b.week""".stripMargin

  // ─── ts_cusum: sequential CUSUM alarm monitor per event type ───
  // ts_changepoint answers "where was THE level shift" (offline
  // argmax); this answers the monitoring question — WHEN would a
  // one-sided CUSUM chart have alarmed, and how often — the page
  // an on-call rotation actually receives. The recursion
  // S_t = max(0, S_{t−1} + d_t) looks sequential but collapses to
  // two window passes via the reflection identity
  // S_t = P_t − min(0, min_{j≤t} P_j) with P the prefix sum of the
  // slack-adjusted deviations — cumsum + running min over the SAME
  // (type, hour) ordering, one exchange. All quantities stay in
  // exact integers by the ts_changepoint ×n_hours scaling (d =
  // x·n − total sums to zero per type); slack k = half the mean
  // absolute scaled deviation, thresholds swept at {4, 8, 16}×
  // that mean (the h = 4σ..16σ ladder with MAD standing in for σ —
  // no float moments). Everything after the hourly rollup is
  // |types|×|hours| rows; output is |types|×3. A constant series
  // has mad = 0 and by contract never alarms.
  def tsCusum(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val span = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.select(explode(
      expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour_ts"))
    val types = ev.select(col("event_type")).distinct()
    val filled = grid.crossJoin(broadcast(types))
      .join(hourly, Seq("hour_ts", "event_type"), "left")
      .withColumn("x", coalesce(col("c"), lit(0L)))
    val tot = filled.groupBy(col("event_type"))
      .agg(sum(col("x")).as("total"), count(lit(1)).as("n_hours"))
    val dev = filled.join(broadcast(tot), Seq("event_type"))
      .withColumn("d", col("x") * col("n_hours") - col("total"))
    val madT = dev.groupBy(col("event_type"))
      .agg(sum(abs(col("d"))).as("sum_abs"), max(col("n_hours")).as("nh"))
      .withColumn("mad", expr("sum_abs div nh"))
      .withColumn("k", expr("sum_abs div (2 * nh)"))
      .select(col("event_type"), col("mad"), col("k"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = dev.join(broadcast(madT), Seq("event_type"))
      .withColumn("p", sum(col("d") - col("k")).over(wCum))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(wCum)))
    s.withColumn("mult", explode(array(lit(4L), lit(8L), lit(16L))))
      .withColumn("alarm",
        col("mad") > 0 && col("s") >= col("mult") * col("mad"))
      .groupBy(col("event_type"), col("mult"))
      .agg(sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarm_hours"),
        min(when(col("alarm"), epochS(col("hour_ts")))).as("first_alarm_epoch"),
        max(col("s")).as("max_s"), max(col("mad")).as("mad"))
      .orderBy(col("event_type"), col("mult"))
  }

  val tsCusumSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT date_trunc('hour', min(ts)) AS h0,
      |                date_trunc('hour', max(ts)) AS h1 FROM events),
      |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      |         FROM span),
      |filled AS (
      |  SELECT t.hour_ts, t.event_type, coalesce(h.c, 0) AS x
      |  FROM (SELECT g.hour_ts, ty.event_type
      |        FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM events) ty) t
      |  LEFT JOIN hourly h
      |    ON t.hour_ts = h.hour_ts AND t.event_type = h.event_type),
      |tot AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS total,
      |               CAST(count(*) AS BIGINT) AS n_hours
      |        FROM filled GROUP BY event_type),
      |dev AS (
      |  SELECT f.event_type, f.hour_ts, f.x * t.n_hours - t.total AS d,
      |    t.n_hours
      |  FROM filled f JOIN tot t USING (event_type)),
      |madt AS (
      |  SELECT event_type,
      |    CAST(sum(abs(d)) AS BIGINT) // max(n_hours) AS mad,
      |    CAST(sum(abs(d)) AS BIGINT) // (2 * max(n_hours)) AS k
      |  FROM dev GROUP BY event_type),
      |pp AS (
      |  SELECT d.event_type, d.hour_ts, m.mad,
      |    CAST(sum(d.d - m.k) OVER (PARTITION BY d.event_type
      |      ORDER BY d.hour_ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
      |  FROM dev d JOIN madt m USING (event_type)),
      |ss AS (
      |  SELECT event_type, hour_ts, mad,
      |    p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY hour_ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
      |  FROM pp),
      |al AS (
      |  SELECT event_type, hour_ts, mad, s, mult,
      |    (mad > 0 AND s >= mult * mad) AS alarm
      |  FROM ss CROSS JOIN (SELECT CAST(unnest([4, 8, 16]) AS BIGINT) AS mult))
      |SELECT event_type, mult,
      |  CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_hours,
      |  min(CASE WHEN alarm
      |    THEN CAST(floor(epoch(hour_ts)) AS BIGINT) END) AS first_alarm_epoch,
      |  CAST(max(s) AS BIGINT) AS max_s, CAST(max(mad) AS BIGINT) AS mad
      |FROM al GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_cusum" -> tsCusum,
    "ev_gap_quantiles" -> evGapQuantiles,
    "ev_next_entropy" -> evNextEntropy,
    "ev_dormancy" -> evDormancy,
    "ts_hampel" -> tsHampel,
    "ev_lifecycle" -> evLifecycle,
    "ev_periodogram" -> evPeriodogram,
    "ev_entropy" -> evEntropy,
    "ev_rolling_uniques" -> evRollingUniques,
    "ts_holt" -> tsHolt,
    "ev_activity_gini" -> evActivityGini,
    "ev_lift" -> evLift,
    "ts_bollinger" -> tsBollinger,
    "ev_srm" -> evSrm,
    "ev_session_hist" -> evSessionHist,
    "ev_conversion_window" -> evConversionWindow,
    "ev_burn_rate" -> evBurnRate,
    "ev_heatmap" -> evHeatmap,
    "ev_velocity_flags" -> evVelocityFlags,
    "ev_mttr" -> evMttr,
    "ts_drawdown" -> tsDrawdown,
    "ev_incidents" -> evIncidents,
    "ts_theil_sen" -> tsTheilSen,
    "ev_lateness_hist" -> evLatenessHist,
    "ev_audience_overlap" -> evAudienceOverlap,
    "ev_week_over_week" -> evWeekOverWeek,
    "ts_seasonal_strength" -> tsSeasonalStrength,
    "ev_cohort_ltv" -> evCohortLtv,
    "ev_survival" -> evSurvival,
    "ev_funnel_time" -> evFunnelTime,
    "ev_did" -> evDid,
    "ev_power" -> evPower,
    "ev_stickiness" -> evStickiness,
    "ev_funnel_steps" -> evFunnelSteps,
    "ev_markov_stationary" -> evMarkovStationary,
    "ts_sax" -> tsSax,
    "ts_m4" -> tsM4,
    "ts_changepoint" -> tsChangepoint,
    "ev_ab_test" -> evAbTest,
    "ev_cuped" -> evCuped,
    "ev_autocorr" -> evAutocorr,
    "ev_forecast" -> evForecast,
    "ev_path" -> evPath,
    "ev_burstiness" -> evBurstiness,
    "ev_bot_score" -> evBotScore,
    "ts_ema" -> tsEma,
    "ev_islands" -> evIslands,
    "ev_interarrival" -> evInterarrival,
    "ev_seasonality" -> evSeasonality,
    "ev_rfm" -> evRfm,
    "ev_outage" -> evOutage,
    "ts_ohlc" -> tsOhlc,
    "ts_winsorize" -> tsWinsorize,
    "ts_lttb" -> tsLttb,
    "ev_histogram" -> evHistogram,
    "ev_new_users" -> evNewUsers,
    "ev_wau" -> evWau,
    "ev_cohort" -> evCohort,
    "ev_dwell" -> evDwell,
    "ev_topk_day" -> evTopkDay,
    "ev_attribution" -> evAttribution,
    "ev_concurrency" -> evConcurrency,
    "ev_markov" -> evMarkov,
    "ev_retention" -> evRetention,
    "ev_anomaly" -> evAnomaly,
    "ts_interp" -> tsInterp,
    "ev_tumbling" -> evTumbling,
    "ev_sessionize" -> evSessionize,
    "ev_json_props" -> evJsonProps,
    "ev_funnel" -> evFunnel,
    "ev_pattern" -> evPattern,
    "ts_fill" -> tsFill,
    "ev_session_native" -> evSessionNative,
    "ev_pattern_quant" -> evPatternQuant,
    "ev_pattern_seq" -> evPatternSeq)

  val oracle: Map[String, String] = Map(
    "ts_cusum" -> tsCusumSql,
    "ev_gap_quantiles" -> evGapQuantilesSql,
    "ev_next_entropy" -> evNextEntropySql,
    "ev_dormancy" -> evDormancySql,
    "ts_hampel" -> tsHampelSql,
    "ev_lifecycle" -> evLifecycleSql,
    "ev_periodogram" -> evPeriodogramSql,
    "ev_entropy" -> evEntropySql,
    "ev_rolling_uniques" -> evRollingUniquesSql,
    "ts_holt" -> tsHoltSql,
    "ev_activity_gini" -> evActivityGiniSql,
    "ev_lift" -> evLiftSql,
    "ts_bollinger" -> tsBollingerSql,
    "ev_srm" -> evSrmSql,
    "ev_session_hist" -> evSessionHistSql,
    "ev_conversion_window" -> evConversionWindowSql,
    "ev_burn_rate" -> evBurnRateSql,
    "ev_heatmap" -> evHeatmapSql,
    "ev_velocity_flags" -> evVelocityFlagsSql,
    "ev_mttr" -> evMttrSql,
    "ts_drawdown" -> tsDrawdownSql,
    "ev_incidents" -> evIncidentsSql,
    "ts_theil_sen" -> tsTheilSenSql,
    "ev_lateness_hist" -> evLatenessHistSql,
    "ev_audience_overlap" -> evAudienceOverlapSql,
    "ev_week_over_week" -> evWeekOverWeekSql,
    "ts_seasonal_strength" -> tsSeasonalStrengthSql,
    "ev_cohort_ltv" -> evCohortLtvSql,
    "ev_survival" -> evSurvivalSql,
    "ev_funnel_time" -> evFunnelTimeSql,
    "ev_did" -> evDidSql,
    "ev_power" -> evPowerSql,
    "ev_stickiness" -> evStickinessSql,
    "ev_funnel_steps" -> evFunnelStepsSql,
    "ev_markov_stationary" -> evMarkovStationarySql,
    "ts_sax" -> tsSaxSql,
    "ts_m4" -> tsM4Sql,
    "ts_changepoint" -> tsChangepointSql,
    "ev_ab_test" -> evAbTestSql,
    "ev_cuped" -> evCupedSql,
    "ev_autocorr" -> evAutocorrSql,
    "ev_forecast" -> evForecastSql,
    "ev_path" -> evPathSql,
    "ev_burstiness" -> evBurstinessSql,
    "ev_bot_score" -> evBotScoreSql,
    "ts_ema" -> tsEmaSql,
    "ev_islands" -> evIslandsSql,
    "ev_interarrival" -> evInterarrivalSql,
    "ev_seasonality" -> evSeasonalitySql,
    "ev_rfm" -> evRfmSql,
    "ev_outage" -> evOutageSql,
    "ts_ohlc" -> tsOhlcSql,
    "ts_winsorize" -> tsWinsorizeSql,
    "ts_lttb" -> tsLttbSql,
    "ev_histogram" -> evHistogramSql,
    "ev_new_users" -> evNewUsersSql,
    "ev_wau" -> evWauSql,
    "ev_cohort" -> evCohortSql,
    "ev_dwell" -> evDwellSql,
    "ev_topk_day" -> evTopkDaySql,
    "ev_attribution" -> evAttributionSql,
    "ev_concurrency" -> evConcurrencySql,
    "ev_markov" -> evMarkovSql,
    "ev_retention" -> evRetentionSql,
    "ev_anomaly" -> evAnomalySql,
    "ts_interp" -> tsInterpSql,
    "ev_tumbling" -> evTumblingSql,
    "ev_sessionize" -> evSessionizeSql,
    "ev_json_props" -> evJsonPropsSql,
    "ev_funnel" -> evFunnelSql,
    "ev_pattern" -> evPatternSql,
    "ts_fill" -> tsFillSql,
    "ev_session_native" -> evSessionNativeSql,
    "ev_pattern_quant" -> evPatternQuantSql,
    "ev_pattern_seq" -> evPatternSeqSql)
}
