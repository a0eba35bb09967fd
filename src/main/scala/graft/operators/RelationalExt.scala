package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational extensions beyond the TPC-H core: pivot, cube,
  * set operations (INTERSECT/EXCEPT), lead/lag navigation, ntile
  * bucketing, and correlated per-group comparison. Same conventions
  * as Relational: declarative plans, broadcast dims, integer-cents
  * oracle parity, deterministic ORDER BY.
  */
object RelationalExt {

  import Relational.{cents, epochS}

  // ─── q17_pivot: wide pivot on a known key domain ───
  // Pivot values are given explicitly: `.pivot(col)` without values
  // collects the distinct keys to the driver in a separate job — an
  // eager scan a 100 TB plan must not hide. With explicit values the
  // pivot lowers to one pass of conditional aggregation.
  def q17Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(cents(sum(col("o_totalprice"))))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("f_cents"),
        coalesce(col("O"), lit(0L)).as("o_cents"),
        coalesce(col("P"), lit(0L)).as("p_cents"))
      .orderBy(col("o_orderpriority"))

  val q17Sql: String = {
    def branch(s: String) = Tables.centsSql(
      s"sum(CASE WHEN o_orderstatus = '$s' THEN o_totalprice END)")
    s"""SELECT o_orderpriority,
       |  coalesce(${branch("F")}, 0) AS f_cents,
       |  coalesce(${branch("O")}, 0) AS o_cents,
       |  coalesce(${branch("P")}, 0) AS p_cents
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  // ─── q26_unpivot: wide → long (melt), inverse of q17 ───
  // Spark's native unpivot (a Generate of struct rows, no shuffle —
  // the long form streams out of the wide form map-side). Composing
  // it over q17Pivot round-trips pivot→unpivot, which is how the two
  // operators prove each other in both engines.
  def q26Unpivot(spark: SparkSession, dir: String): DataFrame =
    q17Pivot(spark, dir)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("f_cents"), col("o_cents"), col("p_cents")),
        "status_col", "sum_cents")
      .orderBy(col("o_orderpriority"), col("status_col"))

  val q26Sql: String =
    s"""WITH p AS ($q17Sql)
       |SELECT o_orderpriority, 'f_cents' AS status_col, f_cents AS sum_cents FROM p
       |UNION ALL
       |SELECT o_orderpriority, 'o_cents', o_cents FROM p
       |UNION ALL
       |SELECT o_orderpriority, 'p_cents', p_cents FROM p
       |ORDER BY o_orderpriority, status_col""".stripMargin

  // ─── q18_cube: full cube over two dimensions ───
  // 'ALL' labels via coalesce: the source domains never contain the
  // literal, so the subtotal rows are unambiguous in both engines.
  def q18Cube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        cents(sum(col("o_totalprice"))).as("spend_cents"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("spend_cents"))
      .orderBy(col("priority"), col("status"))

  val q18Sql: String =
    s"""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       |  coalesce(o_orderstatus, 'ALL') AS status,
       |  count(*) AS n_orders,
       |  ${Tables.centsSql("sum(o_totalprice)")} AS spend_cents
       |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
       |ORDER BY priority, status""".stripMargin

  // ─── q19_intersect: set intersection (distinct semantics) ───
  private def bigSpenders(t: Tables): DataFrame =
    t.orders.filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey"))
  private def richBalances(t: Tables): DataFrame =
    t.customer.filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))

  def q19Intersect(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    bigSpenders(t).intersect(richBalances(t)).orderBy(col("custkey"))
  }

  val q19Sql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
      |INTERSECT
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |ORDER BY custkey""".stripMargin

  // ─── q20_except: set difference (distinct semantics) ───
  def q20Except(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    bigSpenders(t).except(richBalances(t)).orderBy(col("custkey"))
  }

  val q20Sql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
      |EXCEPT
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |ORDER BY custkey""".stripMargin

  // ─── q21_lead_lag: per-key timeline navigation ───
  // The custkey filter sits below the window (same partition key), so
  // the window shuffle only carries the filtered slice.
  def q21LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, dir).orders
      .filter(col("o_custkey") < 100)
      .withColumn("prev_epoch",
        coalesce(epochS(lag(col("o_orderdate"), 1).over(w)), lit(-1L)))
      .withColumn("next_epoch",
        coalesce(epochS(lead(col("o_orderdate"), 1).over(w)), lit(-1L)))
      .select(col("o_custkey"), col("o_orderkey"),
        epochS(col("o_orderdate")).as("order_epoch"),
        col("prev_epoch"), col("next_epoch"))
      .orderBy(col("o_custkey"), col("order_epoch"), col("o_orderkey"))
  }

  val q21Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch,
      |  coalesce(CAST(floor(epoch(lag(o_orderdate, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))) AS BIGINT), -1) AS prev_epoch,
      |  coalesce(CAST(floor(epoch(lead(o_orderdate, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))) AS BIGINT), -1) AS next_epoch
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, order_epoch, o_orderkey""".stripMargin

  // ─── q22_ntile: quartile bucketing + per-bucket stats ───
  def q22Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
    Tables(spark, dir).part
      .withColumn("quartile", ntile(4).over(w).cast("long")) // BIGINT parity
      .groupBy(col("p_brand"), col("quartile"))
      .agg(count(lit(1)).as("n_parts"),
        cents(min(col("p_retailprice"))).as("lo_cents"),
        cents(max(col("p_retailprice"))).as("hi_cents"))
      .orderBy(col("p_brand"), col("quartile"))
  }

  val q22Sql: String =
    s"""SELECT p_brand, quartile, count(*) AS n_parts,
       |  ${Tables.centsSql("min(p_retailprice)")} AS lo_cents,
       |  ${Tables.centsSql("max(p_retailprice)")} AS hi_cents
       |FROM (SELECT p_brand, p_retailprice, ntile(4) OVER (
       |    PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS quartile
       |  FROM part)
       |GROUP BY p_brand, quartile ORDER BY p_brand, quartile""".stripMargin

  // ─── q23_correlated: rows vs their own group's aggregate ───
  // Spark side: window aggregate — ONE shuffle on the group key, no
  // per-row subquery re-execution; this is the scale-correct plan for
  // a correlated aggregate comparison. Oracle side: the literal
  // correlated subquery, proving the window formulation equivalent.
  // Comparison in integer math (cents*1000 vs cents*1010 — 1% above
  // the brand mean; retail prices cluster tightly around the mean, so
  // a 5% bar selects nothing at small SF) so membership can't flip on
  // a float ulp.
  def q23Correlated(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
    Tables(spark, dir).part
      .withColumn("brand_avg_cents", cents(avg(col("p_retailprice")).over(w)))
      .filter(cents(col("p_retailprice")) * 1000 > col("brand_avg_cents") * 1010)
      .select(col("p_partkey"), col("p_brand"),
        cents(col("p_retailprice")).as("price_cents"),
        col("brand_avg_cents"))
      .orderBy(col("p_partkey"))
  }

  val q23Sql: String =
    s"""SELECT p_partkey, p_brand,
       |  ${Tables.centsSql("p_retailprice")} AS price_cents,
       |  (SELECT ${Tables.centsSql("avg(p2.p_retailprice)")} FROM part p2
       |    WHERE p2.p_brand = p.p_brand) AS brand_avg_cents
       |FROM part p
       |WHERE ${Tables.centsSql("p_retailprice")} * 1000 >
       |  (SELECT ${Tables.centsSql("avg(p2.p_retailprice)")} FROM part p2
       |    WHERE p2.p_brand = p.p_brand) * 1010
       |ORDER BY p_partkey""".stripMargin

  // ─── q27_grouping_sets: explicit subtotal levels ───
  // The general form cube/rollup specialize: exactly the requested
  // levels — (flag, status), (flag), () — lowered by Catalyst to ONE
  // Expand + single-pass aggregation (one scan, one shuffle), not a
  // union of per-level scans. 'ALL' labels via coalesce, as q18_cube:
  // the source domains are single-char flags, so the literal is
  // unambiguous in both engines.
  def q27GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(cents(sum(col("l_extendedprice"))).as("rev_cents"),
        count(lit(1)).as("n_items"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("rev_cents"), col("n_items"))
      .orderBy(col("rflag"), col("lstatus"))

  val q27Sql: String =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
       |  coalesce(l_linestatus, 'ALL') AS lstatus,
       |  ${Tables.centsSql("sum(l_extendedprice)")} AS rev_cents,
       |  count(*) AS n_items
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       |ORDER BY rflag, lstatus""".stripMargin

  // ─── q28_window_range: time-RANGE window frame ───
  // Trailing-30-day spend per customer: a RANGE frame over epoch
  // seconds — peers are by VALUE distance, not row count, so the
  // frame is deterministic under timestamp ties (all peers always
  // included; no tie-break needed for the sum). Cents are computed
  // per row BEFORE the frame sum: an integer frame total is exact in
  // both engines, where a double frame (incremental in Spark,
  // segment-tree in DuckDB) could round differently.
  def q28WindowRange(spark: SparkSession, dir: String): DataFrame = {
    val day30 = 30L * 86400
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("epoch_s")).rangeBetween(-day30, 0)
    Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_custkey"),
        epochS(col("o_orderdate")).as("epoch_s"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("trail30_cents", sum(col("price_cents")).over(w))
      .orderBy(col("o_orderkey"))
  }

  val q28Sql: String =
    s"""SELECT o_orderkey, o_custkey,
       |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
       |  ${Tables.centsSql("o_totalprice")} AS price_cents,
  |  CAST(sum(${Tables.centsSql("o_totalprice")}) OVER (
       |    PARTITION BY o_custkey
       |    ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
       |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail30_cents
       |FROM orders ORDER BY o_orderkey""".stripMargin

  // ─── q29_lateral: correlated LATERAL top-k per outer row ───
  // "For each high-balance customer, their 2 most recent orders" —
  // the LATERAL derived-table form (Spark ≥3.2 SQL; no DataFrame
  // twin exists, which is the point: the SQL surface carries it).
  // Catalyst decorrelates the limited subquery into a window-ranked
  // join rather than per-row re-execution — the same plan the manual
  // row_number() rewrite would build, so outer rows stream once.
  def q29Lateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      s"""SELECT c.c_custkey, o.o_orderkey, o.epoch_s, o.price_cents
         |FROM customer c,
         |LATERAL (
         |  SELECT o_orderkey,
         |    CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT) AS epoch_s,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
         |  FROM orders
         |  WHERE o_custkey = c.c_custkey
         |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 2) o
         |WHERE c.c_acctbal > 9000
         |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
  }

  val q29Sql: String =
    s"""SELECT c.c_custkey, o.o_orderkey, o.epoch_s, o.price_cents
       |FROM customer c,
       |LATERAL (
       |  SELECT o_orderkey,
       |    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
       |    ${Tables.centsSql("o_totalprice")} AS price_cents
       |  FROM orders
       |  WHERE o_custkey = c.c_custkey
       |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 2) o
       |WHERE c.c_acctbal > 9000
       |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin

  // ─── q30_skyline: Pareto frontier (skyline) per group ───
  // The skyline operator (Börzsönyi et al., ICDE 2001): the
  // non-dominated (price, quantity) points per return flag — rows for
  // which no other row is ≥ on both axes and > on one. Computed
  // without the naive O(n²) NOT-EXISTS self-join: collapse to the max
  // quantity per (flag, price) first (dominated-by-equal-price rows
  // die in a hash aggregate), then one descending-price window pass —
  // a point survives iff its quantity beats every strictly-higher
  // price's best (running max over the ROWS frame; prices are
  // distinct after the aggregate). One shuffle + one partitioned
  // window; both scale-safe.
  def q30Skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"),
        cents(col("l_extendedprice")).as("price_cents"))
      .agg(max(cents(col("l_quantity"))).as("qty_cents"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("price_cents").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("best_hi", max(col("qty_cents")).over(w))
      .filter(col("best_hi").isNull || col("qty_cents") > col("best_hi"))
      .select(col("l_returnflag"), col("price_cents"), col("qty_cents"))
      .orderBy(col("l_returnflag"), col("price_cents").desc)
  }

  val q30Sql: String =
    s"""WITH pts AS (
       |  SELECT l_returnflag, ${Tables.centsSql("l_extendedprice")} AS price_cents,
       |    max(${Tables.centsSql("l_quantity")}) AS qty_cents
       |  FROM lineitem GROUP BY 1, 2
       |), sky AS (
       |  SELECT *, max(qty_cents) OVER (PARTITION BY l_returnflag
       |    ORDER BY price_cents DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_hi
       |  FROM pts)
       |SELECT l_returnflag, price_cents, qty_cents FROM sky
       |WHERE best_hi IS NULL OR qty_cents > best_hi
       |ORDER BY l_returnflag, price_cents DESC""".stripMargin

  // ─── q31_conditional_agg: filtered / conditional-distinct aggregates ───
  // Per market segment, one pass over the orders×customer join:
  // plain counts, CASE-filtered sums, and two distinct-counts under
  // different predicates. Catalyst lowers the multi-distinct to one
  // Expand (3 branches here — bounded by the number of DISTINCT
  // groups, not data volume); the join shuffles on o_custkey once.
  def q31ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        cents(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))))
          .as("filled_cents"),
        countDistinct(when(col("o_orderpriority") === "1-URGENT",
          col("o_custkey"))).as("n_urgent_custs"),
        countDistinct(when(col("o_orderstatus") === "P",
          col("o_custkey"))).as("n_pending_custs"))
      .orderBy(col("c_mktsegment"))
  }

  val q31Sql: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       |  ${Tables.centsSql(
            "sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)")}
       |    AS filled_cents,
       |  count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
       |    THEN o_custkey END) AS n_urgent_custs,
       |  count(DISTINCT CASE WHEN o_orderstatus = 'P'
       |    THEN o_custkey END) AS n_pending_custs
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // ─── q32_mode: deterministic per-group mode ───
  // Modal quantity per return flag, tie-broken to the smallest value
  // (the built-in `mode` aggregate is tie-nondeterministic in both
  // engines, so it can't hash-match; this two-level shape is also the
  // scale-honest one: a (flag × qty)-keyed partial-combining count —
  // 150 cells here, bounded by the domain product — then the rank
  // window over the tiny aggregate).
  def q32Mode(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("qty_cents"))
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"), cents(col("l_quantity")).as("qty_cents"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("l_returnflag"), col("qty_cents").as("mode_qty_cents"),
        col("n").as("mode_n"))
      .orderBy(col("l_returnflag"))
  }

  val q32Sql: String =
    s"""WITH c AS (
       |  SELECT l_returnflag, ${Tables.centsSql("l_quantity")} AS qty_cents,
       |    count(*) AS n
       |  FROM lineitem GROUP BY 1, 2)
       |SELECT l_returnflag, qty_cents AS mode_qty_cents, n AS mode_n FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY l_returnflag ORDER BY n DESC, qty_cents) AS r
       |  FROM c)
       |WHERE r = 1 ORDER BY l_returnflag""".stripMargin

  // ─── q33_first_last: per-key timeline endpoints via frame windows ───
  // First and latest shipment price per supplier: first_value over
  // the full ordering and last_value over an unbounded-following
  // frame, fully tie-broken (shipdate, orderkey, linenumber) so both
  // engines pick the identical row. One shuffle on l_suppkey; the
  // row_number collapse reuses the same window partitioning, so no
  // second exchange.
  def q33FirstLast(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir).lineitem
      .withColumn("first_cents", cents(first_value(col("l_extendedprice")).over(full)))
      .withColumn("last_cents", cents(last_value(col("l_extendedprice")).over(full)))
      .withColumn("n_ships", count(lit(1)).over(full))
      .withColumn("r", row_number().over(ord))
      .filter(col("r") === 1)
      .select(col("l_suppkey"), col("first_cents"), col("last_cents"),
        col("n_ships"))
      .orderBy(col("l_suppkey"))
  }

  val q33Sql: String =
    s"""SELECT l_suppkey, first_cents, last_cents, n_ships FROM (
       |  SELECT l_suppkey,
       |    ${Tables.centsSql(
            """first_value(l_extendedprice) OVER (
       |      PARTITION BY l_suppkey
       |      ORDER BY l_shipdate, l_orderkey, l_linenumber
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")}
       |      AS first_cents,
       |    ${Tables.centsSql(
            """last_value(l_extendedprice) OVER (
       |      PARTITION BY l_suppkey
       |      ORDER BY l_shipdate, l_orderkey, l_linenumber
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")}
       |      AS last_cents,
       |    count(*) OVER (PARTITION BY l_suppkey) AS n_ships,
       |    row_number() OVER (
       |      PARTITION BY l_suppkey
       |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS r
       |  FROM lineitem)
       |WHERE r = 1 ORDER BY l_suppkey""".stripMargin

  // ─── q34_percent_rank: relative standing within a group ───
  // percent_rank and cume_dist per customer within their market
  // segment, floored to bp. Both engines evaluate the same integer
  // rank arithmetic then one IEEE division of identical operands, so
  // the doubles (and the floored bp) agree bit-for-bit.
  //
  // Because the order ties-breaks on the unique c_custkey, rank() ==
  // row_number(), so percent_rank = (rank−1)/(n−1) and cume_dist =
  // rank/n of the EXACT per-segment rank — computed via Ranks
  // .groupedRank's bucket ledger instead of a 5-partition window (5
  // segments = 5 tasks carrying all customers, a skew watch item):
  // one hash shuffle on (segment, bal_cents>>12), the
  // cross-bucket carry rides the bounded ledger. Identical operands,
  // identical IEEE results, hash unchanged.
  def q34PercentRank(spark: SparkSession, dir: String): DataFrame = {
    // Rank over the CENTS value in both engines (not the raw double):
    // ordering and fixed-point rounding must agree or a sub-cent
    // difference would permute ranks between engines.
    val base = Tables(spark, dir).customer
      .select(col("c_mktsegment"), col("c_custkey"),
        cents(col("c_acctbal")).as("bal_cents"))
    Ranks.groupedRank(base, Seq("c_mktsegment"),
        Seq(shiftright(col("bal_cents"), 12)),
        Seq(col("bal_cents"), col("c_custkey")), "__rank", "__n")
      .withColumn("pr_bp", floor(
        when(col("__n") > 1,
          (col("__rank") - 1).cast("double") / (col("__n") - 1))
          .otherwise(lit(0.0)) * 10000 + 0.5).cast("long"))
      .withColumn("cd_bp", floor(
        col("__rank").cast("double") / col("__n") * 10000 + 0.5).cast("long"))
      .select(col("c_mktsegment"), col("c_custkey"), col("bal_cents"),
        col("pr_bp"), col("cd_bp"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  val q34Sql: String =
    s"""SELECT c_mktsegment, c_custkey,
       |  ${Tables.centsSql("c_acctbal")} AS bal_cents,
       |  CAST(floor(percent_rank() OVER (PARTITION BY c_mktsegment
       |    ORDER BY ${Tables.centsSql("c_acctbal")}, c_custkey) * 10000 + 0.5)
       |    AS BIGINT) AS pr_bp,
       |  CAST(floor(cume_dist() OVER (PARTITION BY c_mktsegment
       |    ORDER BY ${Tables.centsSql("c_acctbal")}, c_custkey) * 10000 + 0.5)
       |    AS BIGINT) AS cd_bp
       |FROM customer ORDER BY c_mktsegment, c_custkey""".stripMargin

  // ─── q35_corr: exact-sum correlation / regression per group ───
  // Pearson correlation, sample covariance, and the regression slope
  // of line-item price against quantity per (returnflag, linestatus).
  // NOT Spark's corr()/covar_samp(): those accumulate doubles whose
  // merge order varies with partitioning, so the low bits differ
  // run-to-run and engine-to-engine. Instead the aggregate collects
  // the six exact integer sums (n, Σx, Σy, Σxy, Σx², Σy² — longs,
  // order-insensitive), and each statistic is ONE fixed-shape double
  // expression over them: bit-deterministic on both engines, and the
  // aggregate stays a single map-side-combining hash aggregate — the
  // 100 TB shape for any moment-based statistic.
  def q35Corr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = floor(col("l_extendedprice")).cast("long")
    val agg = Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_linestatus"), x.as("x"), y.as("y"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
    val nd = col("n").cast("double")
    val num = nd * col("sum_xy") -
      col("sum_x").cast("double") * col("sum_y")
    val dx = nd * col("sum_x2") -
      col("sum_x").cast("double") * col("sum_x")
    val dy = nd * col("sum_y2") -
      col("sum_y").cast("double") * col("sum_y")
    agg
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        floor(num * 10000 / sqrt(dx * dy)).cast("long").as("corr_bp"),
        floor(num * 100 / (nd * (nd - 1))).cast("long").as("covar_c"),
        floor(num * 1000000 / dx).cast("long").as("slope_ppm"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q35Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, l_linestatus, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |    CAST(sum(x * x) AS BIGINT) AS sum_x2,
      |    CAST(sum(y * y) AS BIGINT) AS sum_y2
      |  FROM (
      |    SELECT l_returnflag, l_linestatus,
      |      CAST(l_quantity AS BIGINT) AS x,
      |      CAST(floor(l_extendedprice) AS BIGINT) AS y
      |    FROM lineitem)
      |  GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus, n,
      |  CAST(floor((CAST(n AS DOUBLE) * sum_xy
      |      - CAST(sum_x AS DOUBLE) * sum_y) * 10000
      |    / sqrt((CAST(n AS DOUBLE) * sum_x2 - CAST(sum_x AS DOUBLE) * sum_x)
      |         * (CAST(n AS DOUBLE) * sum_y2 - CAST(sum_y AS DOUBLE) * sum_y)))
      |    AS BIGINT) AS corr_bp,
      |  CAST(floor((CAST(n AS DOUBLE) * sum_xy
      |      - CAST(sum_x AS DOUBLE) * sum_y) * 100
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) AS BIGINT) AS covar_c,
      |  CAST(floor((CAST(n AS DOUBLE) * sum_xy
      |      - CAST(sum_x AS DOUBLE) * sum_y) * 1000000
      |    / (CAST(n AS DOUBLE) * sum_x2 - CAST(sum_x AS DOUBLE) * sum_x))
      |    AS BIGINT) AS slope_ppm
      |FROM s ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ─── q36_decile_lift: revenue-concentration lift chart ───
  // The BI classic: rank customers by lifetime spend, cut into
  // deciles, report each decile's share of revenue and the
  // cumulative share ("top 10% of customers carry X% of revenue").
  // Scale: customers grow with data, so the decile is an exact
  // global rank from Ranks.groupedRank (bucket ledger on the negated
  // spend >>12 — descending order becomes ascending on the negation,
  // arithmetic shiftright keeps negatives monotone) fed through
  // ntileFromRank — no single-partition ntile window (the "weak"
  // class). The lift windows still run on the
  // 10-row decile frame; integer-exact bp via the grand-total
  // broadcast.
  def q36DecileLift(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(cents(sum(col("o_totalprice"))).as("spend_cents"))
      .withColumn("__neg", -col("spend_cents"))
    val deciles = Ranks.groupedRank(spend, Nil,
        Seq(shiftright(col("__neg"), 12)),
        Seq(col("__neg"), col("o_custkey")), "__rank", "__n")
      .withColumn("decile", Ranks.ntileFromRank(col("__rank"), col("__n"), 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("spend_cents")).as("rev_cents"))
    val total = deciles.agg(sum(col("rev_cents")).as("total_cents"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles.crossJoin(broadcast(total))
      .withColumn("share_bp", expr("rev_cents * 10000 div total_cents"))
      .withColumn("cum_cents", sum(col("rev_cents")).over(wCum))
      .select(col("decile"), col("n_cust"), col("rev_cents"), col("share_bp"),
        expr("cum_cents * 10000 div total_cents").as("cum_share_bp"))
      .orderBy(col("decile"))
  }

  val q36DecileLiftSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(floor((sum(o_totalprice)) * 100 + 0.5) AS BIGINT) AS spend_cents
      |  FROM orders GROUP BY o_custkey),
      |deciled AS (
      |  SELECT spend_cents, CAST(ntile(10) OVER (
      |    ORDER BY spend_cents DESC, o_custkey) AS BIGINT) AS decile
      |  FROM spend),
      |d AS (
      |  SELECT decile, count(*) AS n_cust,
      |    CAST(sum(spend_cents) AS BIGINT) AS rev_cents
      |  FROM deciled GROUP BY decile),
      |t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM d),
      |c AS (
      |  SELECT decile, n_cust, rev_cents, total_cents,
      |    CAST(sum(rev_cents) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
      |  FROM d CROSS JOIN t)
      |SELECT decile, n_cust, rev_cents,
      |  rev_cents * 10000 // total_cents AS share_bp,
      |  cum_cents * 10000 // total_cents AS cum_share_bp
      |FROM c ORDER BY decile""".stripMargin

  // ─── q37_mad: robust outlier detection via median / MAD ───
  // The robust-statistics cousin of z-scoring: per market segment,
  // the median account balance, the median absolute deviation, and
  // how many customers sit beyond 3·MAD (the classic robust outlier
  // fence — unlike mean/stddev, one whale cannot drag the fence).
  // All integer-exact: medians are kept doubled (med_x2 = sum of the
  // two middle order statistics; for odd n the single middle counts
  // twice) and the MAD quadrupled (mad_x4 — deviations are already
  // ×2), so the 3·MAD fence is the integer test 2·dev2 > 3·mad_x4
  // with no division anywhere. Both exact order statistics come from
  // Ranks.groupedRank's bucket ledger — per-task input is bounded by
  // the >>12 cents band (~$41), never by segment size, where a
  // percentile_cont/window formulation would drag each whole segment
  // through one task. Two corpus passes (value rank, deviation rank)
  // joined through 5-row broadcast frames.
  def q37Mad(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).customer
      .select(col("c_mktsegment"), col("c_custkey"),
        cents(col("c_acctbal")).as("bal_cents"))
    // Exact doubled median of `v` per segment off a ledger rank:
    // pick ranks (n+1) div 2 and n div 2 + 1 (equal when n is odd —
    // then the single middle row contributes twice).
    def medX2(df: DataFrame, v: String, out: String): DataFrame = {
      val ranked = Ranks.groupedRank(df, Seq("c_mktsegment"),
        Seq(shiftright(col(v), 12)),
        Seq(col(v), col("c_custkey")), "__rank", "__n")
      val k1 = Ranks.idiv(col("__n") + 1, lit(2L))
      val k2 = Ranks.idiv(col("__n"), lit(2L)) + 1
      ranked.filter(col("__rank") === k1 || col("__rank") === k2)
        .groupBy(col("c_mktsegment"))
        .agg(max(col("__n")).as("__n_grp"),
          sum(when(k1 === k2, col(v) * 2).otherwise(col(v))).as(out))
    }
    val med = medX2(base, "bal_cents", "med_x2").drop("__n_grp")
    val dev = base.join(broadcast(med), Seq("c_mktsegment"))
      .withColumn("dev2", abs(col("bal_cents") * 2 - col("med_x2")))
    val mad = medX2(dev.select(col("c_mktsegment"), col("c_custkey"),
      col("dev2")), "dev2", "mad_x4")
    dev.join(broadcast(mad.drop("__n_grp")), Seq("c_mktsegment"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        max(col("med_x2")).as("med_x2"),
        max(col("mad_x4")).as("mad_x4"),
        sum(when(col("dev2") * 2 > col("mad_x4") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("c_mktsegment"), col("n_cust"), col("med_x2"),
        col("mad_x4"), col("n_outliers"),
        expr("n_outliers * 10000 div n_cust").as("outlier_bp"))
      .orderBy(col("c_mktsegment"))
  }

  val q37Sql: String =
    """WITH d AS (
      |  SELECT c_mktsegment, c_custkey,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      |  FROM customer),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY bal_cents, c_custkey) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
      |  FROM d),
      |m AS (
      |  SELECT c_mktsegment, max(n) AS n_cust,
      |    CAST(sum(CASE WHEN (n+1)//2 = n//2+1 THEN bal_cents*2
      |      ELSE bal_cents END) AS BIGINT) AS med_x2
      |  FROM r WHERE rk = (n+1)//2 OR rk = n//2+1 GROUP BY c_mktsegment),
      |v AS (
      |  SELECT d.c_mktsegment, d.c_custkey,
      |    abs(2*d.bal_cents - m.med_x2) AS dev2
      |  FROM d JOIN m USING (c_mktsegment)),
      |r2 AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY dev2, c_custkey) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
      |  FROM v),
      |m2 AS (
      |  SELECT c_mktsegment,
      |    CAST(sum(CASE WHEN (n+1)//2 = n//2+1 THEN dev2*2
      |      ELSE dev2 END) AS BIGINT) AS mad_x4
      |  FROM r2 WHERE rk = (n+1)//2 OR rk = n//2+1 GROUP BY c_mktsegment),
      |o AS (
      |  SELECT v.c_mktsegment,
      |    CAST(count(*) FILTER (WHERE 2*v.dev2 > 3*m2.mad_x4) AS BIGINT)
      |      AS n_outliers
      |  FROM v JOIN m2 USING (c_mktsegment) GROUP BY v.c_mktsegment)
      |SELECT m.c_mktsegment, m.n_cust, m.med_x2, m2.mad_x4, o.n_outliers,
      |  o.n_outliers * 10000 // m.n_cust AS outlier_bp
      |FROM m JOIN m2 USING (c_mktsegment) JOIN o USING (c_mktsegment)
      |ORDER BY c_mktsegment""".stripMargin

  // ─── q44_asof_tolerance: backward asof join with a match window ───
  // The attribution variant q16 can't express: a purchase joins its
  // most recent click ONLY if the click happened within the last hour
  // — pandas merge_asof(tolerance=...), the ad-attribution window.
  // Outside the window the row keeps a NULL click and attributed =
  // false (it must NOT silently fall back to an older click — that is
  // the attribution bug the tolerance exists to prevent). Same
  // one-window-pass shape as q16: the backward carry rides ONE
  // user-keyed ordering, the tolerance is a post-projection compare —
  // no extra shuffle, no self-join.
  private val asofToleranceS = 3600L

  def q44AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_s", epochS(col("ts")) - epochS(col("last_click_ts")))
      .select(col("event_id"), col("user_id"),
        epochS(col("ts")).as("purchase_epoch"),
        when(col("gap_s") <= asofToleranceS, epochS(col("last_click_ts")))
          .as("click_epoch"),
        coalesce(col("gap_s") <= asofToleranceS, lit(false)).as("attributed"))
      .orderBy(col("event_id"))
  }

  val q44Sql: String =
    s"""SELECT event_id, user_id, purchase_epoch,
       |  CASE WHEN gap_s <= $asofToleranceS THEN click_epoch END AS click_epoch,
       |  coalesce(gap_s <= $asofToleranceS, false) AS attributed
       |FROM (
       |  SELECT event_id, user_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch,
       |    CAST(floor(epoch(max(CASE WHEN event_type = 'click' THEN ts END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))
       |      AS BIGINT) AS click_epoch,
       |    CAST(floor(epoch(ts)) AS BIGINT)
       |      - CAST(floor(epoch(max(CASE WHEN event_type = 'click' THEN ts END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))
       |      AS BIGINT) AS gap_s
       |  FROM events WHERE event_type IN ('click', 'purchase'))
       |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // ─── q42_string_agg: deterministic grouped string aggregation ───
  // SQL's STRING_AGG / LISTAGG with the trap removed: collect_list's
  // order is partition-arrival order (nondeterministic under
  // shuffle), so the list is SORTED before joining — the only way a
  // distributed string_agg can be reproducible. Per nation: the
  // alphabetized supplier roster and its size; per-group payload is
  // dimension-sized (suppliers per nation), never fact-sized.
  def q42StringAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.supplier.join(broadcast(t.nation),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        concat_ws(",", sort_array(collect_list(col("s_name"))))
          .as("roster"))
      .orderBy(col("n_name"))
  }

  val q42Sql: String =
    """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  string_agg(s.s_name, ',' ORDER BY s.s_name) AS roster
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  // ─── q41_paginate: stable keyset-style pagination per group ───
  // The API-serving shape: page 2 (ranks 6–10) of each group's
  // price-ranked items, with the total so clients can render page
  // counts. Ranks come off Ranks.groupedRank (bucket ledger — a
  // paginating service must NOT global-sort the corpus per request),
  // tie-broken by the unique line key so page boundaries are stable
  // across runs — the property offset pagination silently loses on
  // ties and keyset pagination exists to restore.
  private val pageSize = 5L
  private val pageNo = 2L

  def q41Paginate(spark: SparkSession, dir: String): DataFrame =
    Ranks.groupedRank(
      Tables(spark, dir).lineitem
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_cents")),
      Seq("l_returnflag"),
      Seq(shiftright(-col("price_cents"), 12)),
      Seq(-col("price_cents"), col("l_orderkey"), col("l_linenumber")),
      "rk", "n_rows")
      .filter(col("rk") > (pageNo - 1) * pageSize &&
        col("rk") <= pageNo * pageSize)
      .select(col("l_returnflag"), col("rk"), col("l_orderkey"),
        col("l_linenumber"), col("price_cents"), col("n_rows"))
      .orderBy(col("l_returnflag"), col("rk"))

  val q41Sql: String =
    s"""SELECT l_returnflag, rk, l_orderkey, l_linenumber, price_cents, n_rows
       |FROM (
       |  SELECT l_returnflag, l_orderkey, l_linenumber,
       |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY floor(l_extendedprice * 100 + 0.5) DESC,
       |        l_orderkey, l_linenumber) AS rk,
       |    count(*) OVER (PARTITION BY l_returnflag) AS n_rows
       |  FROM lineitem)
       |WHERE rk > ${(pageNo - 1) * pageSize} AND rk <= ${pageNo * pageSize}
       |ORDER BY l_returnflag, rk""".stripMargin

  // ─── q40_percentile_cont: interpolated percentile, exact integers ───
  // SQL's PERCENTILE_CONT without its float trap: position
  // pos = p·(n−1) is held as the exact fraction (pNum·(n−1), pDen);
  // the answer interpolates the two bracketing order statistics as
  // lo·100 + (hi−lo)·100·rem div pDen — one integer division at the
  // end, so both engines agree to the hundredth of a cent. Order
  // statistics come off Ranks.groupedRank (bucket ledger; value ties
  // broken by the unique (orderkey, linenumber) — adjacent equal
  // values make the tie order irrelevant to interpolation). Both
  // requested percentiles ride ONE ranked frame via a ×2 fan-out.
  private val pctFractions = Seq((1L, 2L), (9L, 10L)) // median, p90

  def q40PercentileCont(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Ranks.groupedRank(
      Tables(spark, dir).lineitem
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("x"),
          col("l_orderkey"), col("l_linenumber")),
      Seq("l_returnflag"), Seq(shiftright(col("x"), 12)),
      Seq(col("x"), col("l_orderkey"), col("l_linenumber")), "rk", "n")
    val pcts = pctFractions.map { case (num, den) =>
      ranked
        .withColumn("p_num", lit(num)).withColumn("p_den", lit(den))
        .withColumn("k", expr("p_num * (n - 1) div p_den"))
        .withColumn("rem", expr("p_num * (n - 1) % p_den"))
        .filter(col("rk") - 1 === col("k") ||
          (col("rk") - 1 === col("k") + 1 && col("rem") > 0))
        .groupBy(col("l_returnflag"), col("p_num"), col("p_den"))
        .agg(max(when(col("rk") - 1 === col("k"), col("x"))).as("lo"),
          max(col("rem")).as("rem"), max(col("n")).as("n"),
          coalesce(max(when(col("rk") - 1 === col("k") + 1, col("x"))),
            max(when(col("rk") - 1 === col("k"), col("x")))).as("hi"))
    }.reduce(_ unionByName _)
    pcts.select(col("l_returnflag"),
        expr("p_num * 100 div p_den").as("pct"), col("n"),
        expr("lo * 100 + (hi - lo) * 100 * rem div p_den").as("value_x100"))
      .orderBy(col("l_returnflag"), col("pct"))
  }

  val q40Sql: String = {
    val branches = pctFractions.map { case (num, den) =>
      s"SELECT *, CAST($num AS BIGINT) AS p_num, CAST($den AS BIGINT) AS p_den FROM r"
    }.mkString("\n  UNION ALL ")
    s"""WITH r AS (
       |  SELECT l_returnflag,
       |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY floor(l_extendedprice * 100 + 0.5),
       |        l_orderkey, l_linenumber) AS rk,
       |    count(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM lineitem),
       |p AS (
       |  $branches),
       |b AS (
       |  SELECT l_returnflag, p_num, p_den,
       |    p_num * (n - 1) // p_den AS k,
       |    p_num * (n - 1) % p_den AS rem, n, rk, x
       |  FROM p
       |  WHERE rk - 1 = p_num * (n - 1) // p_den
       |    OR (rk - 1 = p_num * (n - 1) // p_den + 1
       |        AND p_num * (n - 1) % p_den > 0)),
       |g AS (
       |  SELECT l_returnflag, p_num, p_den,
       |    max(CASE WHEN rk - 1 = k THEN x END) AS lo,
       |    coalesce(max(CASE WHEN rk - 1 = k + 1 THEN x END),
       |      max(CASE WHEN rk - 1 = k THEN x END)) AS hi,
       |    max(rem) AS rem, CAST(max(n) AS BIGINT) AS n
       |  FROM b GROUP BY 1, 2, 3)
       |SELECT l_returnflag, p_num * 100 // p_den AS pct, n,
       |  lo * 100 + (hi - lo) * 100 * rem // p_den AS value_x100
       |FROM g ORDER BY l_returnflag, pct""".stripMargin
  }

  // ─── q38_asof_nearest: nearest-match asof join (both directions) ───
  // The asof variant q16 can't express: the reference click for a
  // purchase is the temporally NEAREST one, before OR after (sensor
  // alignment, attribution windows symmetric around the act). Still
  // ONE user-keyed shuffle feeding two bounded window carries over
  // the same partitioning (backward max + forward min of click
  // times); the winner is picked by exact gap comparison, backward
  // on ties (the classic asof bias). No self-join, no range
  // explosion — the 100 TB shape is identical to q16's.
  def q38AsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val back = byUser.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = byUser.rowsBetween(1, Window.unboundedFollowing)
    val clickTs = when(col("event_type") === "click", col("ts"))
    ev.withColumn("prev_click", epochS(max(clickTs).over(back)))
      .withColumn("next_click", epochS(min(clickTs).over(fwd)))
      .filter(col("event_type") === "purchase")
      .withColumn("e", epochS(col("ts")))
      .withColumn("gap_back", col("e") - col("prev_click"))
      .withColumn("gap_fwd", col("next_click") - col("e"))
      .select(col("event_id"), col("user_id"), col("e").as("purchase_epoch"),
        when(col("gap_back").isNotNull &&
            (col("gap_fwd").isNull || col("gap_back") <= col("gap_fwd")),
            col("prev_click"))
          .otherwise(col("next_click")).as("near_click_epoch"),
        when(col("gap_back").isNotNull &&
            (col("gap_fwd").isNull || col("gap_back") <= col("gap_fwd")),
            col("gap_back"))
          .otherwise(col("gap_fwd")).as("gap_s"),
        when(col("gap_back").isNull && col("gap_fwd").isNull, lit("none"))
          .when(col("gap_fwd").isNull || (col("gap_back").isNotNull &&
            col("gap_back") <= col("gap_fwd")), lit("backward"))
          .otherwise(lit("forward")).as("direction"))
      .orderBy(col("event_id"))
  }

  val q38Sql: String =
    """WITH w AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS e,
      |    CAST(floor(epoch(max(CASE WHEN event_type = 'click' THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))
      |      AS BIGINT) AS prev_click,
      |    CAST(floor(epoch(min(CASE WHEN event_type = 'click' THEN ts END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)))
      |      AS BIGINT) AS next_click
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |p AS (
      |  SELECT event_id, user_id, e AS purchase_epoch,
      |    e - prev_click AS gap_back, next_click - e AS gap_fwd,
      |    prev_click, next_click
      |  FROM w WHERE event_type = 'purchase')
      |SELECT event_id, user_id, purchase_epoch,
      |  CASE WHEN gap_back IS NOT NULL
      |      AND (gap_fwd IS NULL OR gap_back <= gap_fwd)
      |    THEN prev_click ELSE next_click END AS near_click_epoch,
      |  CASE WHEN gap_back IS NOT NULL
      |      AND (gap_fwd IS NULL OR gap_back <= gap_fwd)
      |    THEN gap_back ELSE gap_fwd END AS gap_s,
      |  CASE WHEN gap_back IS NULL AND gap_fwd IS NULL THEN 'none'
      |    WHEN gap_fwd IS NULL OR (gap_back IS NOT NULL
      |      AND gap_back <= gap_fwd) THEN 'backward'
      |    ELSE 'forward' END AS direction
      |FROM p ORDER BY event_id""".stripMargin

  // ─── q39_qualify: all rows of each key's latest partition ───
  // The QUALIFY idiom that row_number can't express: keep EVERY order
  // from each customer's most recent active year — dense_rank over
  // the year (a non-unique order key) is 1 for all of them, where
  // row_number would keep exactly one arbitrary survivor. This is the
  // latest-snapshot-per-key read that CDC consumers run against
  // partitioned tables; the window partitions on o_custkey (many
  // groups, healthy shuffle key), never on a low-cardinality column.
  def q39Qualify(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("yr").desc)
    Tables(spark, dir).parallelized("orders", "o_custkey")
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
      .withColumn("dr", dense_rank().over(w))
      .filter(col("dr") === 1)
      .select(col("o_custkey"), col("yr"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q39Sql: String =
    """SELECT o_custkey, yr, o_orderkey, price_cents FROM (
      |  SELECT o_custkey,
      |    CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |    dense_rank() OVER (PARTITION BY o_custkey
      |      ORDER BY year(o_orderdate) DESC) AS dr
      |  FROM orders)
      |WHERE dr = 1 ORDER BY o_custkey, o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q39_qualify" -> q39Qualify,
    "q40_percentile_cont" -> q40PercentileCont,
    "q41_paginate" -> q41Paginate,
    "q44_asof_tolerance" -> q44AsofTolerance,
    "q42_string_agg" -> q42StringAgg,
    "q38_asof_nearest" -> q38AsofNearest,
    "q37_mad" -> q37Mad,
    "q36_decile_lift" -> q36DecileLift,
    "q35_corr" -> q35Corr,
    "q34_percent_rank" -> q34PercentRank,
    "q31_conditional_agg" -> q31ConditionalAgg,
    "q32_mode" -> q32Mode,
    "q33_first_last" -> q33FirstLast,
    "q30_skyline" -> q30Skyline,
    "q27_grouping_sets" -> q27GroupingSets,
    "q28_window_range" -> q28WindowRange,
    "q29_lateral" -> q29Lateral,
    "q17_pivot" -> q17Pivot,
    "q18_cube" -> q18Cube,
    "q19_intersect" -> q19Intersect,
    "q20_except" -> q20Except,
    "q21_lead_lag" -> q21LeadLag,
    "q22_ntile" -> q22Ntile,
    "q23_correlated" -> q23Correlated,
    "q26_unpivot" -> q26Unpivot)

  val oracle: Map[String, String] = Map(
    "q39_qualify" -> q39Sql,
    "q40_percentile_cont" -> q40Sql,
    "q41_paginate" -> q41Sql,
    "q44_asof_tolerance" -> q44Sql,
    "q42_string_agg" -> q42Sql,
    "q38_asof_nearest" -> q38Sql,
    "q37_mad" -> q37Sql,
    "q36_decile_lift" -> q36DecileLiftSql,
    "q35_corr" -> q35Sql,
    "q34_percent_rank" -> q34Sql,
    "q31_conditional_agg" -> q31Sql,
    "q32_mode" -> q32Sql,
    "q33_first_last" -> q33Sql,
    "q30_skyline" -> q30Sql,
    "q27_grouping_sets" -> q27Sql,
    "q28_window_range" -> q28Sql,
    "q29_lateral" -> q29Sql,
    "q17_pivot" -> q17Sql,
    "q18_cube" -> q18Sql,
    "q19_intersect" -> q19Sql,
    "q20_except" -> q20Sql,
    "q21_lead_lag" -> q21Sql,
    "q22_ntile" -> q22Sql,
    "q23_correlated" -> q23Sql,
    "q26_unpivot" -> q26Sql)
}
