package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.Fns._

/** Analytic marts — the drill-down reports the warehouse serves on top of
  * the fact layer (the reference's marts/ directory). Classic shapes:
  * shipping-priority (unshipped high-value orders for a segment) and
  * returned-items (revenue lost to returns per customer). Both follow the
  * same scale discipline: filters push to scans before the joins, dims
  * broadcast, exact decimal revenue, rank windows over pre-aggregates.
  */
object Marts {

  private val cutoff = "1998-06-01"

  /** Unshipped-revenue priority list: for BUILDING-segment customers,
    * orders placed before the cutoff with lineitems still shipping after
    * it, ranked by outstanding revenue (top 10). */
  def shippingPriority(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame): DataFrame = {
    val perOrder = lineitem
      .filter(col("l_shipdate") > lit(cutoff))
      .join(orders.filter(col("o_orderdate") < lit(cutoff)),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey"), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    // orderBy+limit plans as TakeOrderedAndProject: each task keeps its own
    // top 10, the driver merges — no full aggregate through one rank window.
    // The rnk window then runs over the 10 surviving rows only;
    // onePart keeps the partitionless-window warning out.
    val w = Window.partitionBy(onePart(col("revenue"))).orderBy(col("revenue").desc, col("l_orderkey"))
    perOrder.orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("l_orderkey"), col("order_date"),
        col("o_orderpriority"), col("revenue"))
      .orderBy("rnk")
  }

  /** Returned-item revenue loss per customer (top 20), with geography. */
  def returnedItems(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                    nation: DataFrame): DataFrame = {
    val perCust = lineitem.filter(col("l_returnflag") === "R")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("lost_revenue"),
        count(lit(1)).as("n_returned_lines"))
    // Same TakeOrderedAndProject discipline as shippingPriority.
    val w = Window.partitionBy(onePart(col("lost_revenue"))).orderBy(col("lost_revenue").desc, col("c_custkey"))
    perCust.orderBy(col("lost_revenue").desc, col("c_custkey")).limit(20)
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("c_custkey"), col("c_name"), col("nation_name"),
        col("lost_revenue"), col("n_returned_lines"))
      .orderBy("rnk")
  }

  /** Local-supplier volume (TPC-H Q5 shape): revenue from lineitems whose
    * supplier sits in the customer's own nation, rolled up the geography
    * hierarchy. Exercises the full 6-table star including supplier; the
    * supplier⋈customer nation equality rides the existing join keys. */
  def localSupplierVolume(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                          supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    lineitem
      .join(orders.select("o_orderkey", "o_custkey"), col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("region_name", "nation_name")

  /** Period-over-period growth: monthly revenue per market segment with
    * month-over-month growth % and an up/down label — the trend panel
    * every revenue dashboard leads with. One aggregate to the
    * (segment, month) grid (bounded: |segments| × months regardless of
    * order count), so the lag window runs over a tiny frame; revenue is
    * exact decimal; the growth division happens on identical rounded
    * doubles in both engines. */
  def periodGrowth(orders: DataFrame, customer: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("segment")).orderBy(col("month"))
    orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(decSum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("growth_pct",
        r6(when(col("prev_revenue").isNotNull && col("prev_revenue") =!= 0d,
          (col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100d)))
      .withColumn("trend",
        when(col("prev_revenue").isNull, lit("first"))
          .when(col("revenue") >= col("prev_revenue"), lit("up"))
          .otherwise(lit("down")))
      .orderBy("segment", "month")
  }

  /** Pareto (80/20) revenue concentration per nation: customers ranked by
    * revenue within their nation, cumulative revenue share, and the
    * pareto-core flag (customers needed to reach 80% of the nation's
    * revenue, inclusive of the one crossing the line). The cumulative
    * sum runs in DECIMAL over the rank window — order-independent within
    * each prefix, so the share is engine-exact; the 80% test is pure
    * integer-scaled decimal arithmetic (cum−rev)·10 < total·8, never a
    * float boundary. Per-nation partitions are customer-count-bounded. */
  def paretoShare(orders: DataFrame, customer: DataFrame,
                  nation: DataFrame): DataFrame = {
    val wR = Window.partitionBy(col("nation_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
    val wN = Window.partitionBy(col("nation_name"))
    orders.groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("revenue"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name").as("nation_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("rnk", row_number().over(wR))
      .withColumn("cum_dec",
        sum(col("revenue").cast("decimal(18,4)")).over(wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot_dec", sum(col("revenue").cast("decimal(18,4)")).over(wN))
      .select(col("nation_name"), col("rnk"), col("c_custkey"), col("revenue"),
        r6(col("cum_dec").cast("double") / col("tot_dec").cast("double")).as("cum_share"),
        ((col("cum_dec") - col("revenue").cast("decimal(18,4)")) * 10 <
          col("tot_dec") * 8).as("pareto_core"))
      .orderBy("nation_name", "rnk")
  }

  /** Late-fulfillment order-priority mart (TPC-H Q4 shape, adapted to
    * this schema's dates): per (quarter, priority) count of orders with
    * at least one lineitem shipping more than 60 days after the order
    * was placed. The EXISTS is a left-semi join with the lateness
    * predicate inside the join condition — lineitem columns never enter
    * the aggregate, and the output grid is bounded (quarters ×
    * priorities) regardless of order count.
    * Ref: /root/reference/models/marts/facts/fact_sales_daily.sql:1
    * (fact-layer grain) — the priority/fulfillment slice a warehouse
    * serves on top of it. */
  def orderPriority(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("interval 60 days"),
        "left_semi")
      .groupBy(concat(year(col("o_orderdate")), lit("-Q"),
          quarter(col("o_orderdate"))).as("quarter"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n_delayed_orders"))
      .orderBy("quarter", "o_orderpriority")

  /** Promotion revenue share per ship-month (TPC-H Q14 shape): what
    * fraction of revenue came from PROMO-type parts. One broadcast of
    * the part dim (it is orders-of-magnitude smaller than lineitem),
    * both the promo and total sums exact decimal in the same
    * aggregate, grid bounded by months. */
  def promoShare(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(
        decSum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0d)))
          .as("promo_revenue"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"),
        count(lit(1)).as("n_lines"))
      .withColumn("promo_share_pct",
        r6(col("promo_revenue") * 100d / col("total_revenue")))
      .orderBy("month")

  /** Top supplier per nation over a fixed ship window (TPC-H Q15
    * shape): revenue aggregates to supplier grain first (bounded by
    * |supplier|), then a per-nation rank keeps the max — ties all kept,
    * as Q15 does. The ship-window filter pushes to the lineitem scan;
    * supplier and nation broadcast. */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
                  nation: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("nation_name")).orderBy(col("revenue").desc)
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name").as("nation_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") === 1)
      .select(col("nation_name"), col("s_suppkey"), col("s_name"),
        col("revenue"), col("n_lines"))
      .orderBy("nation_name", "s_suppkey")
  }

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed 0, 1, 2, … orders — zero-order customers kept by
    * the left join. Two aggregations: customer grain (shuffles on
    * custkey) then the bounded order-count grid; no window anywhere. */
  def customerOrderDist(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders").desc)

  /** Daily open-order backlog: cumulative orders placed minus cumulative
    * orders fully shipped (an order is fulfilled on its LAST lineitem
    * ship date), densified over the full date spine. Both flows
    * aggregate to daily grain before any window; the cumulative sums
    * run over the bounded spine (days in the data's range — thousands
    * of rows at any corpus size), so the single-partition window is a
    * constant, not a scale term. Orders with no lineitems stay in the
    * backlog forever — the honest read of the data. */
  def orderBacklog(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val placed = orders.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_placed"))
    val fulfilled = lineitem.groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("fulfill_ts"))
      .groupBy(to_date(col("fulfill_ts")).as("day"))
      .agg(count(lit(1)).as("n_fulfilled"))
    val bounds = orders.agg(min(to_date(col("o_orderdate"))).as("mn"))
      .crossJoin(lineitem.agg(max(to_date(col("l_shipdate"))).as("mx_ship")))
      .crossJoin(orders.agg(max(to_date(col("o_orderdate"))).as("mx_ord")))
      .select(col("mn"), greatest(col("mx_ship"), col("mx_ord")).as("mx"))
    val spine = bounds
      .select(explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
    // date-spine frame (one row per calendar day — bounded by the date
    // range, not the data); onePart partition spec keeps the logs clean
    val w = Window.partitionBy(onePart(col("day"))).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(placed, Seq("day"), "left")
      .join(fulfilled, Seq("day"), "left")
      .withColumn("n_placed", coalesce(col("n_placed"), lit(0L)))
      .withColumn("n_fulfilled", coalesce(col("n_fulfilled"), lit(0L)))
      .withColumn("cum_placed", sum(col("n_placed")).over(w))
      .withColumn("cum_fulfilled", sum(col("n_fulfilled")).over(w))
      .withColumn("backlog", col("cum_placed") - col("cum_fulfilled"))
      .orderBy("day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_period_growth" -> ((s, d) =>
      periodGrowth(Tables.orders(s, d), Tables.customer(s, d))),
    "q_mart_order_priority" -> ((s, d) =>
      orderPriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_mart_promo_share" -> ((s, d) =>
      promoShare(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_mart_top_supplier" -> ((s, d) =>
      topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q_mart_customer_dist" -> ((s, d) =>
      customerOrderDist(Tables.customer(s, d), Tables.orders(s, d))),
    "q_order_backlog" -> ((s, d) =>
      orderBacklog(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_pareto_share" -> ((s, d) =>
      paretoShare(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q_mart_local_supplier" -> ((s, d) =>
      localSupplierVolume(Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_mart_shipping_priority" -> ((s, d) =>
      shippingPriority(Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d))),
    "q_mart_returned_items" -> ((s, d) =>
      returnedItems(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d)))
  )

  val oracles: Map[String, String] = Map(
    "q_mart_order_priority" ->
      """SELECT CAST(year(o_orderdate) AS VARCHAR) || '-Q' ||
             CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
           o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_delayed_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_mart_promo_share" ->
      s"""WITH m AS (
           SELECT strftime(l_shipdate, '%Y-%m') AS month,
             CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
             CAST(COUNT(*) AS BIGINT) AS n_lines
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1)
         SELECT month, promo_revenue, total_revenue, n_lines,
           ${sqlR("promo_revenue * 100 / total_revenue", 6)} AS promo_share_pct
         FROM m ORDER BY month""",
    "q_mart_top_supplier" ->
      """WITH per_supp AS (
           SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_lines
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY 1),
         ranked AS (
           SELECT n_name AS nation_name, s_suppkey, s_name, revenue, n_lines,
             RANK() OVER (PARTITION BY n_name ORDER BY revenue DESC) AS rnk
           FROM per_supp
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey)
         SELECT nation_name, s_suppkey, s_name, revenue, n_lines
         FROM ranked WHERE rnk = 1 ORDER BY nation_name, s_suppkey""",
    "q_mart_customer_dist" ->
      """WITH per_cust AS (
           SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1)
         SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
         FROM per_cust GROUP BY 1
         ORDER BY n_customers DESC, n_orders DESC""",
    "q_order_backlog" ->
      """WITH bounds AS (
           SELECT (SELECT CAST(MIN(o_orderdate) AS DATE) FROM orders) AS mn,
             GREATEST((SELECT CAST(MAX(l_shipdate) AS DATE) FROM lineitem),
                      (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS mx),
         spine AS (
           SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
             CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
         placed AS (
           SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_placed
           FROM orders GROUP BY 1),
         per_order AS (
           SELECT l_orderkey, MAX(l_shipdate) AS fulfill_ts FROM lineitem GROUP BY 1),
         fulfilled AS (
           SELECT CAST(fulfill_ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_fulfilled
           FROM per_order GROUP BY 1),
         daily AS (
           SELECT s.day, COALESCE(p.n_placed, 0) AS n_placed,
             COALESCE(f.n_fulfilled, 0) AS n_fulfilled
           FROM spine s
           LEFT JOIN placed p ON s.day = p.day
           LEFT JOIN fulfilled f ON s.day = f.day)
         SELECT day, n_placed, n_fulfilled,
           CAST(SUM(n_placed) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_placed,
           CAST(SUM(n_fulfilled) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_fulfilled,
           CAST(SUM(n_placed) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) -
            SUM(n_fulfilled) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
         FROM daily ORDER BY day""",
    "q_period_growth" ->
      s"""WITH m AS (
           SELECT c_mktsegment AS segment, strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         g AS (SELECT *,
             LAG(revenue) OVER (PARTITION BY segment ORDER BY month) AS prev_revenue
           FROM m)
         SELECT segment, month, revenue, n_orders, prev_revenue,
           ${sqlR("CASE WHEN prev_revenue IS NOT NULL AND prev_revenue <> 0 " +
             "THEN (revenue - prev_revenue) / prev_revenue * 100 END", 6)} AS growth_pct,
           CASE WHEN prev_revenue IS NULL THEN 'first'
                WHEN revenue >= prev_revenue THEN 'up' ELSE 'down' END AS trend
         FROM g ORDER BY segment, month""",
    "q_pareto_share" ->
      s"""WITH per_cust AS (
           SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM orders GROUP BY 1),
         j AS (SELECT n_name AS nation_name, p.c_custkey, revenue
           FROM per_cust p
           JOIN customer ON p.c_custkey = customer.c_custkey
           JOIN nation ON c_nationkey = n_nationkey),
         r AS (SELECT *,
             CAST(ROW_NUMBER() OVER (PARTITION BY nation_name
               ORDER BY revenue DESC, c_custkey) AS INT) AS rnk,
             SUM(CAST(revenue AS DECIMAL(18,4))) OVER (PARTITION BY nation_name
               ORDER BY revenue DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec,
             SUM(CAST(revenue AS DECIMAL(18,4))) OVER (PARTITION BY nation_name) AS tot_dec
           FROM j)
         SELECT nation_name, rnk, c_custkey, revenue,
           ${sqlR("CAST(cum_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE)", 6)} AS cum_share,
           (cum_dec - CAST(revenue AS DECIMAL(18,4))) * 10 < tot_dec * 8 AS pareto_core
         FROM r ORDER BY nation_name, rnk""",
    "q_mart_local_supplier" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_mart_shipping_priority" ->
      s"""WITH per_order AS (
           SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate > TIMESTAMP '$cutoff 00:00:00'
             AND o_orderdate < TIMESTAMP '$cutoff 00:00:00'
             AND EXISTS (SELECT 1 FROM customer
                         WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
           GROUP BY 1, 2, 3),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey) AS rnk
           FROM per_order)
         SELECT CAST(rnk AS INT) AS rnk, l_orderkey, order_date, o_orderpriority, revenue
         FROM ranked WHERE rnk <= 10 ORDER BY rnk""",
    "q_mart_returned_items" ->
      """WITH per_cust AS (
           SELECT c_custkey, c_name, n_name AS nation_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS lost_revenue,
             CAST(COUNT(*) AS BIGINT) AS n_returned_lines
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE l_returnflag = 'R'
           GROUP BY 1, 2, 3),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (ORDER BY lost_revenue DESC, c_custkey) AS rnk
           FROM per_cust)
         SELECT CAST(rnk AS INT) AS rnk, c_custkey, c_name, nation_name,
           lost_revenue, n_returned_lines
         FROM ranked WHERE rnk <= 20 ORDER BY rnk"""
  )
}
