package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operator surface (SURVEY §2.1-2.6 as declared for the
  * t2 duckdb-oracle harness): scans, filters/projection, equi/semi/anti
  * joins, hash aggregation, window functions, rollup/cube, set ops, top-k.
  *
  * Scale design (100 TB): every query is one lazy Catalyst plan — filters
  * and projections reach the parquet scan; `nation`/`region` (fixed-size
  * dimensions) are explicitly broadcast; fact-fact joins shuffle on their
  * keys and rely on AQE for skew/coalescing; no driver-side collect.
  */
object Relational {

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** TPC-H Q1-style pricing summary: map-side partial aggregation into 6
    * groups; scan reads only the 7 referenced columns. */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < to_timestamp(lit("2001-01-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(rev), 2).as("sum_disc_price"),
        round(sum(rev * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '2001-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5-style revenue by region/nation: two broadcast dims, two
    * shuffled fact joins (orders⋈customer on custkey, lineitem⋈orders on
    * orderkey). */
  def revenueByNation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = broadcast(Tables.nation(s, d))
    val r = broadcast(Tables.region(s, d))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(rev), 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val revenueByNationSql =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** TPC-H Q3-style top-k: aggregate then global top-10 (TakeOrderedAndProject
    * — no full sort shuffle). */
  def topOrders(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.groupBy(col("l_orderkey"))
      .agg(round(sum(rev), 2).as("revenue"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val topOrdersSql =
    """SELECT o_orderkey, revenue, strftime(o_orderdate, '%Y-%m-%d') AS order_date
      |FROM (SELECT l_orderkey, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |      FROM lineitem GROUP BY l_orderkey) r
      |JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Semi join (EXISTS): orders with at least one line shipped after the
    * order date, counted per priority. */
  def orderPriority(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val orderPrioritySql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Window rank: top-3 orders per customer (SURVEY §2.5 T2/T4 pattern). */
  def topOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val topOrdersPerCustomerSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** TPC-H Q6-style selective scan: all three predicates push to parquet. */
  def forecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  private val forecastRevenueSql =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Anti join (NOT EXISTS): customers with no 1995 orders — the filter
    * on the build side keeps the anti join non-degenerate at every SF. */
  def customersWithoutOrders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01"))),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val customersWithoutOrdersSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate < TIMESTAMP '1996-01-01')
      |ORDER BY c_custkey""".stripMargin

  /** ROLLUP region→nation over customer balances; grouping nulls coalesced
    * to 'ALL' so sort keys are non-null on both engines. */
  def acctbalRollup(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region"), col("nation"))

  private val acctbalRollupSql =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** CUBE over returnflag × linestatus. */
  def lineStatusCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  private val lineStatusCubeSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** INTERSECT: nations present among both customers and suppliers. */
  def nationsIntersect(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val cn = Tables.customer(s, d).join(broadcast(n), col("c_nationkey") === col("n_nationkey")).select(col("n_name"))
    val sn = Tables.supplier(s, d).join(broadcast(n), col("s_nationkey") === col("n_nationkey")).select(col("n_name"))
    cn.intersect(sn).orderBy(col("n_name"))
  }

  private val nationsIntersectSql =
    """SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
      |INTERSECT
      |SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** EXCEPT: customer nations with no supplier presence. */
  def nationsExcept(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val cn = Tables.customer(s, d).join(broadcast(n), col("c_nationkey") === col("n_nationkey")).select(col("n_name"))
    val sn = Tables.supplier(s, d).join(broadcast(n), col("s_nationkey") === col("n_nationkey")).select(col("n_name"))
    cn.except(sn).orderBy(col("n_name"))
  }

  private val nationsExceptSql =
    """SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
      |EXCEPT
      |SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** Exact distinct counts per group (expand-based count distinct). */
  def distinctParts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))

  private val distinctPartsSql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_items
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** GROUP BY + HAVING over market segments. */
  def segmentStats(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), round(avg(col("c_acctbal")), 4).as("avg_acctbal"))
      .filter(col("n_customers") >= 10)
      .orderBy(col("c_mktsegment"))

  private val segmentStatsSql =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  round(avg(c_acctbal), 4) AS avg_acctbal
      |FROM customer GROUP BY c_mktsegment
      |HAVING count(*) >= 10 ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q14-style conditional aggregation: monthly promo revenue share.
    * Ratio computed from the already-rounded components identically on both
    * engines. */
  def promoShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))), 2).as("promo_rev"),
        round(sum(rev), 2).as("total_rev"))
      .withColumn("promo_share", round(col("promo_rev") / col("total_rev"), 6))
      .orderBy(col("month"))

  private val promoShareSql =
    """SELECT month, promo_rev, total_rev, round(promo_rev / total_rev, 6) AS promo_share
      |FROM (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |    round(sum(CASE WHEN p_type = 'PROMO'
      |                   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2) AS promo_rev,
      |    round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1) t
      |ORDER BY month""".stripMargin

  /** Hourly tumbling aggregation over the events table (batch form of
    * the streaming tumbling-window operator in
    * [[graft.streaming.EventStreams]]). */
  def eventsHourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  private val eventsHourlySql =
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** q30 — SLIDING windows (1-hour length, 30-minute slide): each event
    * lands in exactly two overlapping windows. Spark's `window(ts, len,
    * slide)` generates the window structs inline (an explode of 2 rows
    * per event — len/slide copies in general) and aggregates on the
    * window start; the oracle reproduces the assignment with
    * `time_bucket` and its 30-minute predecessor. Both align window
    * origins to the epoch. Completes the window-family coverage:
    * tumbling (q15), session (q17/s04), value-range frame (q26),
    * sliding (here). */
  def eventsSliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win"),
        col("n_events"), col("sum_value"))
      .orderBy(col("win"))

  /** Shared with s06, the streaming-parity form of the same window. */
  private[graft] val eventsSlidingSql =
    """WITH w AS (
      |  SELECT unnest([
      |      time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
      |      time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
      |        - INTERVAL 30 MINUTE]) AS win_start,
      |    value
      |  FROM events)
      |SELECT strftime(win_start, '%Y-%m-%d %H:%M') AS win,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM w GROUP BY 1 ORDER BY win""".stripMargin

  /** JSON extraction from the events props column + aggregation.
    * try_cast mirrors the oracle's TRY_CAST: a non-numeric k becomes
    * null (skipped by avg/max) instead of an ANSI cast error. */
  def eventsJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("k")), 4).as("avg_k"), max(col("k")).as("max_k"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  private val eventsJsonSql =
    """SELECT event_type,
      |  round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
      |  max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Sessionization: 30-minute-gap sessions per user via lag window —
    * batch analog of the stateful streaming sessionizer. Gap compare in
    * integral microseconds on both engines. */
  def userSessions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("new_s")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  private val userSessionsSql =
    """WITH x AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
      |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin

  /** U1 declared UNION ALL: customer ∪ supplier account rows (the
    * reference's bind_rows, ref 01_extract_features.R:431) with a kind
    * discriminator — unionByName, then one aggregation over the fused
    * relation. */
  def accountsUnion(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_nationkey").as("nationkey"), col("c_acctbal").as("acctbal"),
        lit("customer").as("kind"))
    val su = Tables.supplier(s, d)
      .select(col("s_nationkey").as("nationkey"), col("s_acctbal").as("acctbal"),
        lit("supplier").as("kind"))
    c.unionByName(su)
      .groupBy(col("kind"), col("nationkey"))
      .agg(count(lit(1)).as("n_accts"), round(sum(col("acctbal")), 2).as("sum_bal"))
      .orderBy(col("kind"), col("nationkey"))
  }

  private val accountsUnionSql =
    """SELECT kind, nationkey, count(*) AS n_accts, round(sum(acctbal), 2) AS sum_bal
      |FROM (
      |  SELECT c_nationkey AS nationkey, c_acctbal AS acctbal, 'customer' AS kind FROM customer
      |  UNION ALL
      |  SELECT s_nationkey AS nationkey, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier)
      |GROUP BY kind, nationkey ORDER BY kind, nationkey""".stripMargin

  /** F13 both directions: encode event fields with to_json, parse back
    * with from_json, aggregate the round-tripped values. The oracle
    * aggregates the raw columns — a hash match proves the encode/decode
    * pair is lossless. */
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    Tables.events(s, d)
      .withColumn("j", to_json(struct(col("event_type"), col("value"))))
      .withColumn("p", from_json(col("j"), schema))
      .groupBy(col("p.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("p.value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  private val jsonRoundtripSql =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Running-total window: cumulative order value per customer in order-
    * date order (frame-based aggregation — the window family beyond
    * row_number/lag). */
  def runningTotals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val runningTotalsSql =
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** As-of join (purchase → most recent prior view per user), expressed
    * scale-first: instead of a range join (quadratic per key), tag both
    * sides, union, and carry the last non-null view value forward with
    * an IGNORE NULLS window over (user, time) — one shuffle, linear
    * work, the classic attribution pattern. Frame ends at 1 PRECEDING so
    * a same-row event never attributes to itself. */
  def purchaseAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .withColumn("view_value",
        when(col("event_type") === "view", col("value")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("attributed_view",
        round(last(col("view_value"), ignoreNulls = true).over(w), 2))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("purchase_value"), col("attributed_view"))
      .orderBy(col("event_id"))
  }

  private val purchaseAttributionSql =
    """WITH ev AS (
      |  SELECT event_id, user_id, ts, event_type, value,
      |    CASE WHEN event_type = 'view' THEN value END AS view_value
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |attributed AS (
      |  SELECT event_id, user_id, event_type, value,
      |    round(last_value(view_value IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2) AS attributed_view
      |  FROM ev)
      |SELECT event_id, user_id, round(value, 2) AS purchase_value, attributed_view
      |FROM attributed WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** Exact interpolated percentiles per group (ordered-set aggregate
    * family; both engines use linear interpolation over the sorted
    * values, so the results hash-match at 6dp). */
  def valuePercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(min(col("value")), 6).as("vmin"),
        round(max(col("value")), 6).as("vmax"))
      .orderBy(col("event_type"))

  private val valuePercentilesSql =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(min(value), 6) AS vmin,
      |  round(max(value), 6) AS vmax
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** HLL approximate distinct counts (SURVEY §2.4 beyond-reference op)
    * with an error-bound oracle: the sketch ESTIMATE is engine-specific
    * by construction (kept out of the compared columns), but its
    * relative error against the exact count is a checkable contract —
    * `within_bound` asserts |approx − exact| ≤ 8% · exact (4 sigma at
    * the 2% rsd: the flag must be an invariant at every SF, not a
    * 2.5-sigma bet), and HLL++ is deterministic for a given dataset, so
    * the flag is stable, not flaky. The oracle pins exact counts AND the
    * all-ones bound column — an estimator regression breaks the hash.
    *
    * Bench-shape note (deliberate): the exact `countDistinct` beside the
    * sketch adds a partial-distinct shuffle of (flag, partkey) pairs, so
    * this query benches VERIFICATION cost, not the sketch alone — the
    * bound oracle needs the exact counts in the compared columns, and a
    * sketch-only twin row would land in the no-oracle bucket. A
    * deployment using the sketch for speed runs only the
    * `approx_count_distinct` half: one partial-aggregable pass, no
    * distinct shuffle. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_items"))
      .select(col("l_returnflag"), col("n_parts"), col("n_items"),
        (abs(col("approx_parts") - col("n_parts"))
          <= col("n_parts") * lit(0.08)).cast("int").as("within_bound"))
      .orderBy(col("l_returnflag"))

  private val approxDistinctSql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  1 AS within_bound
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    QueryDef("q02_revenue_by_nation", revenueByNation, Some(revenueByNationSql)),
    QueryDef("q03_top_orders", topOrders, Some(topOrdersSql)),
    QueryDef("q04_order_priority", orderPriority, Some(orderPrioritySql)),
    QueryDef("q05_top_orders_per_customer", topOrdersPerCustomer, Some(topOrdersPerCustomerSql)),
    QueryDef("q06_forecast_revenue", forecastRevenue, Some(forecastRevenueSql)),
    QueryDef("q07_customers_without_orders", customersWithoutOrders, Some(customersWithoutOrdersSql)),
    QueryDef("q08_acctbal_rollup", acctbalRollup, Some(acctbalRollupSql)),
    QueryDef("q09_line_status_cube", lineStatusCube, Some(lineStatusCubeSql)),
    QueryDef("q10_nations_intersect", nationsIntersect, Some(nationsIntersectSql)),
    QueryDef("q11_nations_except", nationsExcept, Some(nationsExceptSql)),
    QueryDef("q12_distinct_parts", distinctParts, Some(distinctPartsSql)),
    QueryDef("q13_segment_stats", segmentStats, Some(segmentStatsSql)),
    QueryDef("q14_promo_share", promoShare, Some(promoShareSql)),
    QueryDef("q15_events_hourly", eventsHourly, Some(eventsHourlySql)),
    QueryDef("q16_events_json", eventsJson, Some(eventsJsonSql)),
    QueryDef("q17_user_sessions", userSessions, Some(userSessionsSql)),
    QueryDef("q18_accounts_union", accountsUnion, Some(accountsUnionSql)),
    QueryDef("q19_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql)),
    QueryDef("q20_running_totals", runningTotals, Some(runningTotalsSql)),
    QueryDef("q21_approx_distinct", approxDistinct, Some(approxDistinctSql)),
    QueryDef("q24_purchase_attribution", purchaseAttribution, Some(purchaseAttributionSql)),
    QueryDef("q25_value_percentiles", valuePercentiles, Some(valuePercentilesSql)),
    QueryDef("q26_trailing_hour_window", trailingHourWindow, Some(trailingHourWindowSql)),
    QueryDef("q27_dow_pivot", dowPivot, Some(dowPivotSql)),
    QueryDef("q28_grouping_sets", groupingSets, Some(groupingSetsSql)),
    QueryDef("q29_above_customer_avg", aboveCustomerAvg, Some(aboveCustomerAvgSql)),
    QueryDef("q30_sliding_windows", eventsSliding, Some(eventsSlidingSql)),
    QueryDef("q31_event_funnel", eventFunnel, Some(eventFunnelSql)),
    QueryDef("q32_approx_percentile", approxPercentileBound,
      Some(approxPercentileBoundSql)),
    QueryDef("q33_bloom_filter", bloomFilterCheck, Some(bloomFilterCheckSql)),
    QueryDef("q34_count_min", countMinBound, Some(countMinBoundSql)),
    QueryDef("q38_freq_items", freqItemsBound, Some(freqItemsBoundSql)),
    QueryDef("q39_welford_var", welfordVariance, Some(welfordVarianceSql)))

  /** q32 — approximate-median rank-error bound (completes the sketch
    * family's oracle coverage with q21's HLL and q33's Bloom filter):
    * `percentile_approx` (Greenwald-Khanna) guarantees the returned
    * element's RANK lies within ±εn of the target (ε = 1/accuracy); the
    * estimate itself is engine-specific, so the oracle pins the exact
    * group sizes plus a flag that the measured rank honors the bound
    * (2ε slack absorbs the ≤-vs-< rank convention on tied doubles).
    * Scale shape: the sketch is one partial-aggregable pass; the rank
    * measurement joins the 5-row estimate table back broadcast. */
  def approxPercentileBound(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val est = ev.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(100)).as("est"),
        count(lit(1)).as("n_values"))
    ev.join(broadcast(est), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n_values")).as("n_values"),
        sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("rnk"))
      .select(col("event_type"), col("n_values"),
        (abs(col("rnk") - col("n_values") * 0.5)
          <= col("n_values") * 0.02 + 1).cast("int").as("rank_ok"))
      .orderBy(col("event_type"))
  }

  private val approxPercentileBoundSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_values, 1 AS rank_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q33 — Bloom-filter membership contract: build the sketch over one
    * key class (`df.stat.bloomFilter`, the runtime-join-pruning sketch)
    * and assert its defining guarantee — ZERO false negatives over every
    * true member — plus the tunable one: the measured false-positive
    * rate on non-members stays within 3× the nominal 3% fpp. At 100 TB
    * this is the semi-join pruning tool: ship the small side's ~1 MB
    * bitset instead of shuffling the big side. The probe is a driver
    * -broadcast closure over the immutable sketch (sketch probes aren't
    * Column expressions; the scan stays a single map-only pass). */
  def bloomFilterCheck(s: SparkSession, d: String): DataFrame = {
    // ONE distinct-shuffle produces the member AND non-member universes
    // with a per-key flag (was: two distincts + an anti-join + two probe
    // aggregates crossJoined — the r9→r10 stage A/B showed q33's ~1.2 s
    // was JOB COUNT, not any single stage: every warm stage timed
    // 0.3–0.6 s, so the fix is fewer actions, not a faster probe)
    val keys = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("is_member"))
      .localCheckpoint()
    val members = keys.filter(col("is_member") === 1)
    // Size the filter from the ACTUAL member count (one cheap action over
    // the checkpointed keys): a fixed expectedNumItems is the classic
    // scale fragility — once membership exceeds ~1.5x capacity the
    // measured fpp blows past the asserted bound and the oracle-pinned
    // flag fails at a larger SF even though the sketch is behaving as
    // specified. Sized-to-n, the 3x-nominal fpp margin holds at every SF.
    val nMembers = members.count()
    val bf = members.stat.bloomFilter("l_orderkey", math.max(nMembers, 1L), 0.03)
    val mc = udf((k: Long) => bf.mightContain(k))
    // one probe pass over the checkpointed key universe computes all
    // four counters (members, false negs, non-members, false positives)
    keys.withColumn("hit", mc(col("l_orderkey")))
      .agg(
        sum(col("is_member").cast("long")).as("n_members"),
        sum(when(col("is_member") === 1 && !col("hit"), 1L).otherwise(0L))
          .as("n_false_neg"),
        sum(lit(1L) - col("is_member")).as("n_non_members"),
        sum(when(col("is_member") === 0 && col("hit"), 1L).otherwise(0L))
          .as("n_fp"))
      .select(col("n_members"), col("n_false_neg"), col("n_non_members"),
        (col("n_fp") <= col("n_non_members") * 0.09).cast("int").as("fpp_ok"))
  }

  private val bloomFilterCheckSql =
    """WITH m AS (SELECT DISTINCT l_orderkey FROM lineitem
      |           WHERE l_returnflag = 'R'),
      |nm AS (SELECT DISTINCT l_orderkey FROM lineitem
      |       WHERE l_orderkey NOT IN (SELECT l_orderkey FROM m))
      |SELECT (SELECT count(*) FROM m) AS n_members,
      |       CAST(0 AS BIGINT) AS n_false_neg,
      |       (SELECT count(*) FROM nm) AS n_non_members,
      |       1 AS fpp_ok""".stripMargin

  /** q34 — count-min sketch frequency contract (the last of the four
    * sketch families: HLL q21, GK q32, Bloom q33): `df.stat
    * .countMinSketch` estimates per-key frequency in one
    * partial-aggregable pass — the 100 TB heavy-hitter tool when a full
    * groupBy shuffle on a hot column is too expensive. Its two
    * guarantees are checked over the top-20 true heavy hitters: CMS
    * NEVER under-counts (row-wise min of non-decreasing counters), and
    * over-counts by at most ε·N with probability ≥ confidence (seeded →
    * deterministic per corpus, not flaky). Estimates stay out of the
    * compared columns; exact counts + both flags are the oracle. */
  def countMinBound(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"))
    // confidence 0.999 (depth ~7) and a 2x eps*N asserted margin: the
    // one-sided CMS guarantee at 1x eps*N holds per key only with
    // probability `confidence`, so over 20 keys a 0.99-confidence 1x
    // assertion is a ~18% a-priori bet against SOME corpus — the flag
    // must be an invariant, not a high-probability event. At depth 7 the
    // chance any row's collision mass exceeds 2 eps*N is ~(2e)^-7 per
    // key (Markov per row, min over rows): negligible at every SF.
    val cms = li.stat.countMinSketch("l_partkey", 0.001, 0.999, 42)
    val bound = 2.0 * 0.001 * cms.totalCount()
    val est = udf((k: Long) => cms.estimateCount(k))
    li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("l_partkey")).limit(20)
      .select(col("l_partkey"), col("n_true"),
        (est(col("l_partkey")) >= col("n_true")).cast("int")
          .as("no_undercount"),
        (est(col("l_partkey")) <= col("n_true") + lit(bound)).cast("int")
          .as("within_bound"))
      .orderBy(col("l_partkey"))
  }

  private val countMinBoundSql =
    """WITH exact AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_true
      |              FROM lineitem GROUP BY 1),
      |top AS (SELECT l_partkey, n_true FROM exact
      |        ORDER BY n_true DESC, l_partkey LIMIT 20)
      |SELECT l_partkey, n_true, 1 AS no_undercount, 1 AS within_bound
      |FROM top ORDER BY l_partkey""".stripMargin

  /** q38 — frequent-items sketch contract (fifth and last sketch
    * family: HLL q21, GK q32, Bloom q33, CMS q34): `df.stat.freqItems`
    * is the one-pass, mergeable Karp-Papadimitriou-Shenker candidate
    * pass — at 100 TB the cheap pre-filter that turns "group the whole
    * hot column" into "count 1/support candidates exactly". Its
    * defining guarantee is SUPERSET: every value with frequency >
    * support appears in the result (false positives allowed, so the
    * candidate list itself stays engine-specific and out of the
    * compared columns). Checked over the exact hitters: one row per
    * true frequent item with its exact count and the membership flag
    * the guarantee forces to 1. TPC-H linenumbers are NOT uniform: an
    * order has 1-7 lines uniformly, so linenumber k appears in (8-k)
    * of the 28 order-size slots — frequency (8-k)/28, from ~25% (k=1)
    * down to ~3.6% (k=7). At support 0.10 the true-hitter set is
    * k ∈ {1..5} (5 asserted rows), with the k=5 hitter at ~10.7% —
    * a thin ~0.7pp margin over the threshold, but a SAFE one: both
    * sides filter on the same exact counts, so the compared rows can
    * never diverge on sampling noise, and the KPS superset guarantee
    * covers any item above support regardless of margin. */
  def freqItemsBound(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_linenumber"))
    // k-bounded driver fetch: the sketch row carries ≤ ~1/support items
    val sketch = li.stat.freqItems(Seq("l_linenumber"), 0.10)
      .head().getSeq[Any](0).toSeq
    val total = li.count()
    li.groupBy(col("l_linenumber")).agg(count(lit(1)).as("n_true"))
      .filter(col("n_true") > lit(total * 0.10))
      .select(col("l_linenumber"), col("n_true"),
        col("l_linenumber").isin(sketch: _*).cast("int").as("in_sketch"))
      .orderBy(col("l_linenumber"))
  }

  private val freqItemsBoundSql =
    """WITH exact AS (SELECT l_linenumber, CAST(count(*) AS BIGINT) AS n_true
      |              FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(n_true) AS BIGINT) AS total FROM exact)
      |SELECT e.l_linenumber, e.n_true, 1 AS in_sketch
      |FROM exact e, t WHERE e.n_true > 0.10 * t.total
      |ORDER BY l_linenumber""".stripMargin

  /** q31 — ordered-step funnel (view → click → purchase): per user, the
    * first view, the first click strictly AFTER it, the first purchase
    * strictly after that; one summary row of stage survivor counts (the
    * standard product-analytics funnel reduction). Sequencing needs the
    * conditional joins — a user's first click overall may precede their
    * first view, so per-(user, type) mins alone cannot express it. Scale
    * shape: each stage is a type-filtered scan + keyed equi-join on
    * user_id + partial min-agg; the survivor relations shrink
    * monotonically, so later stages join ever-smaller sides; the final
    * counts are three 1-row aggregates cross-joined. */
  def eventFunnel(s: SparkSession, d: String): DataFrame =
    eventFunnelFrom(Tables.events(s, d))

  private[graft] def eventFunnelFrom(ev0: DataFrame): DataFrame = {
    val ev = ev0.select(col("user_id"), col("event_type"), col("ts"))
    // v and c each feed the next stage AND a count — materialize once
    // (localCheckpoint, eager) so the upstream scan+join isn't replayed
    // per consumer
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      .localCheckpoint()
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("tv"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
      .localCheckpoint()
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("tc"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  private val eventFunnelSql =
    """WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS tv
      |           FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS tc
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.tv
      |      GROUP BY 1),
      |p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS tp
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.tc
      |      GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_view_click,
      |       (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin

  /** q26 — RANGE-frame window (value-based frame, distinct from q20's
    * ROWS frame): per event type, the trailing-one-hour event count and
    * value sum at every event. The frame is defined on the epoch-second
    * ORDER BY value, so tied timestamps share one frame — semantics
    * identical in DuckDB. Partitioned by event_type: the window shuffle
    * keys on a bounded-cardinality column, never a global sort. */
  def trailingHourWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("sec"))
      .rangeBetween(-3600, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      .select(col("event_id"), col("event_type"),
        count(lit(1)).over(w).as("n_trailing"),
        round(sum(col("value")).over(w), 2).as("trailing_value"))
      .orderBy(col("event_id"))
  }

  private val trailingHourWindowSql =
    """WITH e AS (SELECT event_id, event_type,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
      |           FROM events)
      |SELECT event_id, event_type,
      |  count(*) OVER w AS n_trailing,
      |  round(sum(value) OVER w, 2) AS trailing_value
      |FROM e
      |WINDOW w AS (PARTITION BY event_type ORDER BY sec
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** q27 — pivot (long→wide): per event type, summed value by day of
    * week as seven columns. Spark's RelationalGroupedDataset.pivot with
    * explicit pivot values (no extra distinct-values job, stable column
    * order); the oracle verifies with portable filtered aggregates.
    * Spark dayofweek is 1=Sunday..7; DuckDB dow is 0=Sunday..6. */
  def dowPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"), col("value"))
      .groupBy(col("event_type"))
      .pivot("dow", 0 to 6)
      .agg(round(sum(col("value")), 2))
      .toDF("event_type" +: (0 to 6).map(i => s"d$i"): _*)
      .orderBy(col("event_type"))

  private val dowPivotSql = {
    val cols = (0 to 6).map(i =>
      s"round(sum(value) FILTER (WHERE date_part('dow', ts) = $i), 2) AS d$i")
      .mkString(",\n|  ")
    s"""SELECT event_type,
      |  $cols
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** q28 — explicit GROUPING SETS (neither rollup q08 nor cube q09:
    * an arbitrary set list skipping the (user-only) margin), via the SQL
    * front door over a temp view — grouping sets have no DataFrame-API
    * equivalent. grouping() flags disambiguate real NULLs from margin
    * rows, identically in DuckDB. */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("graft_events_q28")
    s.sql("""
      SELECT coalesce(event_type, 'ALL') AS event_type,
             CASE WHEN grouping(user_bucket) = 1 THEN -1 ELSE user_bucket END AS user_bucket,
             count(*) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket, value
            FROM graft_events_q28)
      GROUP BY GROUPING SETS ((event_type, user_bucket), (event_type), ())
      ORDER BY event_type, user_bucket""")
  }

  private val groupingSetsSql =
    """SELECT coalesce(event_type, 'ALL') AS event_type,
      |       CASE WHEN grouping(user_bucket) = 1 THEN -1 ELSE user_bucket END AS user_bucket,
      |       count(*) AS n_events,
      |       round(sum(value), 2) AS sum_value
      |FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket, value
      |      FROM events)
      |GROUP BY GROUPING SETS ((event_type, user_bucket), (event_type), ())
      |ORDER BY event_type, user_bucket""".stripMargin

  /** q29 — correlated scalar subquery: orders priced above 1.5× their own
    * customer's average. Catalyst decorrelates the subquery into an
    * aggregate + join (no per-row re-execution) — the plan a 100 TB run
    * needs; the SQL front door is the only way to express the correlated
    * form. */
  def aboveCustomerAvg(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_q29")
    s.sql("""
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
      FROM graft_orders_q29 o
      WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice)
                            FROM graft_orders_q29 o2
                            WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")
  }

  private val aboveCustomerAvgSql =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
      |FROM orders o
      |WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice)
      |                      FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** q39 — custom typed `Aggregator` (SURVEY §2.13 UDAF row): sample
    * variance of `l_quantity` per return flag through
    * [[graft.functions.StatAggregators.WelfordVar]] — Welford's online
    * update with Chan's parallel merge, the formulation whose partial
    * states combine associatively across the partial-agg tree. The oracle
    * is DuckDB's `var_samp`, so the row proves the hand-written
    * reduce/merge/finish contract end-to-end against an independent
    * engine, not against Spark's own `var_samp`. Scale shape: one pass,
    * map-side partials, O(1) buffer per group — a typed `Aggregator`
    * plans as ObjectHashAggregate (off the codegen path, the documented
    * cost of the UDAF surface vs the relational decompositions used
    * everywhere else). */
  def welfordVariance(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(avg(col("l_quantity")), 6).as("mean_qty"),
        round(graft.functions.StatAggregators
          .welfordVar(col("l_quantity").cast("double")), 6).as("var_qty"))
      .orderBy(col("l_returnflag"))

  private val welfordVarianceSql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
      |       round(avg(l_quantity), 6) AS mean_qty,
      |       round(var_samp(l_quantity), 6) AS var_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
}
