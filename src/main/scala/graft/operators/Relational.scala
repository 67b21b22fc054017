package graft.operators

import graft.core.{GQuery, Tables}
import graft.core.QueryUtils._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.6 Q1–Q8 re-expressed
  * over the synthetic star schema, plus the scan/filter/join/window/
  * rollup/set-op coverage a general engine needs).
  *
  * Scale notes (the 100 TB posture):
  *  - every aggregate is a hash aggregate with map-side partial
  *    aggregation; no sort-based fallback is required by these shapes;
  *  - `ORDER BY ... LIMIT k` plans as TakeOrderedAndProject (per-
  *    partition top-k + driver merge), never a total sort;
  *  - dimension joins (region/nation/part/supplier) are broadcast —
  *    dimensions stay small at any fact-table scale factor;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key and
  *    AQE handles skew/coalescing at runtime.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: scan → filter → hash agg.
    * (reference analogue: the Q1 class histogram / groupBy-count shapes,
    * notebook cell 5; generalized to multi-aggregate.) */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .withColumn("v_disc_price", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .withColumn("v_charge", col("v_disc_price") * (lit(1) + col("l_tax")))
      .transform(withExactParse("l_quantity", "l_extendedprice", "v_disc_price", "v_charge",
        "l_discount"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_base_price"),
        dsum("v_disc_price").as("sum_disc_price"),
        dsum("v_charge").as("sum_charge"),
        davg("l_quantity").as("avg_qty"),
        davg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  ${sqlDsum("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
       |  ${sqlDsum("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Plain histogram (reference Q1, notebook cell 5: value_counts). */
  def eventHistogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .transform(withExactParse("value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum("value").as("sum_value"))
      .orderBy("event_type")

  val eventHistogramSql: String =
    s"""SELECT event_type, count(*) AS n, ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Top-k without total sort (reference Q3: ORDER BY ... DESC LIMIT k,
    * src/database.py:82). Catalyst plans TakeOrderedAndProject. */
  def topkOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val topkOrdersSql: String =
    "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"

  /** Filter + projection — both must reach the parquet scan
    * (PushedFilters / ReadSchema in explain). */
  def filterPushdown(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1999-01-01")) &&
        col("l_discount") > 0.05 && col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  val filterPushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      |  l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_discount > 0.05
      |  AND l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Flagship: star join region⋈nation⋈customer⋈orders⋈lineitem →
    * revenue per nation (TPC-H Q5 shape). Dimensions broadcast.
    *
    * Lineitem is pre-aggregated per order key BEFORE the fact-fact
    * join (guide §2.3 "aggregate before you shuffle"): the order-key
    * exchange then carries one decimal per order instead of every
    * lineitem row, and count(DISTINCT o_orderkey) — which costs an
    * extra Expand + exchange — becomes a plain count(*) because each
    * joined order appears exactly once. The per-order partial sums are
    * exact decimals, so summing the sums and rounding once at the end
    * is bit-identical to the flat spelling the oracle runs. */
  def revenueByNation(s: SparkSession, d: String): DataFrame = {
    val liPerOrder = Tables.lineitem(s, d)
      .withColumn("v_rev", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .transform(withExactParse("v_rev"))
      .groupBy("l_orderkey")
      .agg(sumDecParts("v_rev").as("rev"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1999-01-01")))
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    liPerOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        round(sumOfParts(col("rev")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val revenueByNationSql: String =
    s"""SELECT r_name, n_name,
       |  ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue,
       |  count(DISTINCT o_orderkey) AS n_orders
       |FROM lineitem
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation   ON c_nationkey = n_nationkey
       |  JOIN region   ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1999-01-01'
       |GROUP BY r_name, n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** Broadcast dimension join: lineitem⋈part grouped by brand. */
  def partsByBrand(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .transform(withExactParse("l_quantity", "l_extendedprice"))
      .groupBy("p_brand")
      .agg(
        dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_price"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  val partsByBrandSql: String =
    s"""SELECT p_brand, ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_price, count(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Left-semi join (EXISTS): customers holding at least one big order. */
  def semiJoinBigSpenders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val semiJoinBigSpendersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no big order. */
  def antiJoinNoBigOrders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")

  val antiJoinNoBigOrdersSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** Window function: top-3 orders per customer by price (row_number
    * with a total order, so ranks are deterministic). */
  def topOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  val topOrdersPerCustomerSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** ROLLUP hierarchy totals (status → priority → grand total).
    *
    * Aggregated to exact (count, decimal-sum) partials per (status,
    * priority) BEFORE the rollup: ROLLUP plans an Expand that
    * triplicates every input row ahead of the aggregate, so the flat
    * spelling pays the double→decimal cast 3× per row. Rolling up the
    * ~|status×priority| partials instead is bit-identical (decimal
    * sums are associative; detail rows reproduce the base groups) and
    * expands dozens of rows, not the fact table — the §2.3 "aggregate
    * before you shuffle" move applied to Expand. */
  def rollupOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .transform(withExactParse("o_totalprice"))
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("pn"), sumDecParts("o_totalprice").as("ps"))
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(sum(col("pn")).as("n"),
        round(sumOfParts(col("ps")).cast("double"), 4).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val rollupOrdersSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** CUBE over event_type × day-of-week. Pre-aggregated to exact
    * partials like rollupOrders — CUBE's Expand quadruplicates every
    * row, so the flat spelling pays the decimal cast 4× per row. */
  def cubeEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("dow", dayofweek(col("ts")).cast("long"))
      .transform(withExactParse("value"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("pn"), sumDecParts("value").as("ps"))
      .cube("event_type", "dow")
      .agg(sum(col("pn")).as("n"),
        round(sumOfParts(col("ps")).cast("double"), 4).as("sum_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("dow"))

  val cubeEventsSql: String =
    s"""SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS n,
       |  ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY CUBE (event_type, dow)
       |ORDER BY event_type NULLS FIRST, dow NULLS FIRST""".stripMargin

  /** DISTINCT projection. */
  def distinctFlags(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  val distinctFlagsSql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Set op: nations that have customers but no suppliers (EXCEPT). */
  def exceptNations(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  val exceptNationsSql: String =
    """SELECT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  EXCEPT
      |  SELECT s_nationkey AS nationkey FROM supplier)
      |ORDER BY nationkey""".stripMargin

  /** Set op: nations present on both sides (INTERSECT). */
  def intersectNations(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  val intersectNationsSql: String =
    """SELECT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT
      |  SELECT s_nationkey AS nationkey FROM supplier)
      |ORDER BY nationkey""".stripMargin

  /** Pivot-shaped conditional aggregation (reference M8 confusion-matrix
    * shape: groupBy + pivot; spelled as conditional sums so the count
    * of an absent cell is 0 in every engine). */
  def pivotFlags(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("l_linestatus") === "O", 1L).otherwise(0L)).as("n_o"))
      .orderBy("l_returnflag")

  val pivotFlagsSql: String =
    """SELECT l_returnflag,
      |  count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
      |  count(*) FILTER (WHERE l_linestatus = 'O') AS n_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Orders above their customer's mean order value. Spelled as a
    * whole-partition window over o_custkey rather than aggregate +
    * self-join (guide §2.4): one scan and one exchange instead of two
    * scans, an aggregation exchange and a join. The arithmetic
    * (exact decimal sum / count, rounded to 6) is davg's, so values
    * are bit-identical to the oracle's decorrelated subquery. */
  def aboveAvgOrders(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(s, d)
      .transform(withExactParse("o_totalprice"))
      .withColumn("cust_avg",
        round(sumDec("o_totalprice").over(w).cast("double") / count(lit(1)).over(w), 6))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
      .orderBy("o_orderkey")
  }

  val aboveAvgOrdersSql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
       |FROM orders JOIN (
       |  SELECT o_custkey AS ck, ${sqlDavg("o_totalprice")} AS cust_avg
       |  FROM orders GROUP BY o_custkey) ON o_custkey = ck
       |WHERE o_totalprice > cust_avg
       |ORDER BY o_orderkey""".stripMargin

  /** Latest event per user (reference Q3 top-k-by-time, per key).
    * Emits epoch micros so nanosecond-precision engines agree.
    *
    * Spelled as an aggregate argmax — max(struct(ts, event_id, …)) is
    * exactly the (ts DESC, event_id DESC) row_number rank 1 the oracle
    * computes (lexicographic struct max; ties impossible past
    * event_id) — instead of exchange + sort + window. The struct
    * buffer plans as SortAggregate, but it sorts on the grouping key
    * only (not (ts, event_id)), drops the whole window pass, and the
    * partial aggregate shrinks the shuffle to one row per user per
    * partition (guide §2.3) — measured 0.75 → 0.41 s interleaved.
    * RelationalSpec pins equality with the window spelling. */
  def latestEventPerUser(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        unix_micros(col("m.ts")).as("ts_us"), col("m.event_type").as("event_type"))
      .orderBy("user_id")

  val latestEventPerUserSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Scalar extraction from a JSON-ish payload column + aggregation.
    * Spark side uses the native JSON path expression; the oracle reads
    * the same digits with a regex (identical output, engine-local
    * parsing). */
  def propsSum(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
      .orderBy("event_type")

  val propsSumSql: String =
    """SELECT event_type, sum(k)::BIGINT AS sum_k, count(k) AS n_k FROM (
      |  SELECT event_type,
      |    CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("q01_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    GQuery("q02_event_histogram", eventHistogram, Some(eventHistogramSql)),
    GQuery("q03_topk_orders", topkOrders, Some(topkOrdersSql)),
    GQuery("q04_filter_pushdown", filterPushdown, Some(filterPushdownSql)),
    GQuery("q05_revenue_by_nation", revenueByNation, Some(revenueByNationSql)),
    GQuery("q06_parts_by_brand", partsByBrand, Some(partsByBrandSql)),
    GQuery("q07_semi_join_big_spenders", semiJoinBigSpenders, Some(semiJoinBigSpendersSql)),
    GQuery("q08_anti_join_no_big_orders", antiJoinNoBigOrders, Some(antiJoinNoBigOrdersSql)),
    GQuery("q09_top_orders_per_customer", topOrdersPerCustomer, Some(topOrdersPerCustomerSql)),
    GQuery("q10_rollup_orders", rollupOrders, Some(rollupOrdersSql)),
    GQuery("q11_cube_events", cubeEvents, Some(cubeEventsSql)),
    GQuery("q12_distinct_flags", distinctFlags, Some(distinctFlagsSql)),
    GQuery("q13_except_nations", exceptNations, Some(exceptNationsSql)),
    GQuery("q14_intersect_nations", intersectNations, Some(intersectNationsSql)),
    GQuery("q15_pivot_flags", pivotFlags, Some(pivotFlagsSql)),
    GQuery("q16_above_avg_orders", aboveAvgOrders, Some(aboveAvgOrdersSql)),
    GQuery("q17_latest_event_per_user", latestEventPerUser, Some(latestEventPerUserSql)),
    GQuery("q18_props_sum", propsSum, Some(propsSumSql)))
}
