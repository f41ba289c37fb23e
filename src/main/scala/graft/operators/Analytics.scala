package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.Fns._

/** Analytics / data-quality layer: profiling, date dimension generation,
  * ranked rollups, behavior pivots, anomaly detection, freshness.
  *
  * Covers the reference's data-quality framework and behavior marts
  * (/root/reference/governance/data_catalog.yml fact_customer_behavior,
  * README "Quality Framework" / "Anomaly Detection" /
  * data_freshness_status in fact_sales_daily.sql).
  */
object Analytics {

  /** Per-column completeness/cardinality profile (data-quality framework).
    * One pruned columnar scan per profiled column; each is a tiny agg. */
  def dataQuality(df: DataFrame, cols: Seq[String]): DataFrame = {
    val profiles = cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_filled"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_filled"),
          col("n_distinct"), r4(col("n_filled") / col("n_rows")).as("completeness"))
    }
    profiles.reduce(_ unionAll _).orderBy("column_name")
  }

  /** Calendar date dimension spanning the orders date range (dim_date —
    * the reference's 128-dim catalog includes a generated date dim). */
  def dateDim(orders: DataFrame): DataFrame = {
    val range = orders.agg(
      min(to_date(col("o_orderdate"))).as("mn"),
      max(to_date(col("o_orderdate"))).as("mx"))
    range
      .select(explode(sequence(col("mn"), col("mx"))).as("d"))
      .select(
        surrogateKey(col("d")).as("date_key"),
        col("d").as("cal_date"),
        year(col("d")).as("cal_year"),
        quarter(col("d")).as("cal_quarter"),
        month(col("d")).as("cal_month"),
        dayofmonth(col("d")).as("cal_day"),
        expr("weekday(d)").as("day_of_week"),
        weekofyear(col("d")).as("iso_week"),
        date_format(col("d"), "EEEE").as("day_name"),
        (expr("weekday(d)") >= 5).as("is_weekend"))
      .orderBy("cal_date")
  }

  /** Top-N per group: top 3 customers per nation by exact order revenue.
    * Pre-aggregates before the rank window so the window input is one row
    * per customer, not per order. */
  def topNPerGroup(orders: DataFrame, customer: DataFrame, nation: DataFrame,
                   n: Int = 3): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
    val named = perCust
      .join(customer.select("c_custkey", "c_nationkey"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy(col("n_nationkey"))
      .orderBy(col("revenue").desc, col("c_custkey"))
    named.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= n)
      .select(col("n_name").as("nation_name"), col("rnk"), col("c_custkey"),
        col("revenue"), col("n_orders"))
      .orderBy("nation_name", "rnk")
  }

  /** Behavior pivot: event_type counts + spend as per-user columns
    * (fact_customer_behavior). Pivot values are pinned, so no extra
    * distinct pass over the data at scale. */
  def pivotBehavior(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val counts = types.map(t =>
      coalesce(sum(when(col("event_type") === t, 1L)), lit(0L)).as(s"n_$t"))
    events.groupBy(col("user_id"))
      .agg(counts.head, counts.tail :+
        decSum(when(col("event_type") === "purchase", col("value"))).as("purchase_value"): _*)
      .na.fill(0.0, Seq("purchase_value"))
      .orderBy("user_id")
  }

  /** The exact-decimal moment/sd frame of events.value that the z-score
    * marts score against ([[anomalyZscore]], [[anomalySeasonal]] and
    * [[graft.ml.Monitoring.alertSummary]]): count/s1/s2 per group, then
    * [[sampleVar]] and [[sampleSd]] (NULL for n<=1 in both engines,
    * clamped at 0 before sqrt). One frame, so a fix to the
    * degenerate-cell contract reaches every z-score mart at once. */
  private[graft] def momentStats(events: DataFrame, keys: Seq[(String, Column)]): DataFrame =
    events.groupBy(keys.map { case (n, c) => c.as(n) }: _*)
      .agg(
        count(lit(1)).as("n"),
        decSum(col("value")).as("s1"),
        decSumSq(col("value")).as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("svar", sampleVar(col("n"), col("s1"), col("s2")))
      .withColumn("sd", sampleSd(col("n"), col("svar")))

  /** The shared scored projection: z (NULL when the cell is degenerate)
    * and the |z|>2 flag, identical CASEs on both engines. */
  private def zScored(zName: String): Seq[Column] = Seq(
    when(col("sd") > 0d, r4((col("value") - col("mean")) / col("sd")))
      .as(zName),
    when(col("sd") > 0d,
      abs(r4((col("value") - col("mean")) / col("sd"))) > 2.0)
      .otherwise(lit(false)).as("is_outlier"))

  /** Z-score anomaly flagging over events.value per event_type
    * (README "Anomaly Detection: Statistical outlier identification").
    * Mean/variance derived from exact decimal sums so the flags are
    * deterministic under any partitioning. */
  def anomalyZscore(events: DataFrame): DataFrame = {
    val stats = momentStats(events, Seq("et" -> col("event_type")))
    events.join(broadcast(stats), col("event_type") === col("et"))
      .select(Seq(col("event_id"), col("event_type"), col("value")) ++
        zScored("zscore"): _*)
      .orderBy("event_id")
  }

  /** Seasonally-adjusted anomaly detection: the global z-score flags
    * whatever weekday traffic happens to inflate, so the baseline here
    * is per (event_type, weekday) — each observation is scored against
    * its own seasonal cell. Same exact decimal-moment machinery as
    * [[anomalyZscore]]; the baseline frame is |types|×7 rows, broadcast.
    * Cells with a single observation have no sample std — scored NULL
    * and not flagged (the CASE both engines share). */
  def anomalySeasonal(events: DataFrame): DataFrame = {
    val base = events.withColumn("dow", expr("weekday(ts)").cast("int"))
    val stats = momentStats(base,
      Seq("et" -> col("event_type"), "d" -> col("dow")))
    base.join(broadcast(stats), col("event_type") === col("et") && col("dow") === col("d"))
      .select(Seq(col("event_id"), col("event_type"), col("dow"), col("value")) ++
        zScored("seasonal_z"): _*)
      .orderBy("event_id")
  }

  /** Freshness classification relative to the newest event (deterministic
    * "now"): FRESH <=1h, ACCEPTABLE <=24h, else STALE
    * (fact_sales_daily.sql data_freshness_status). */
  def freshness(events: DataFrame): DataFrame = {
    val ref = events.agg(max(epochS(col("ts"))).as("ref_s"))
    events.crossJoin(broadcast(ref))
      .withColumn("age_s", col("ref_s") - epochS(col("ts")))
      .withColumn("freshness",
        when(col("age_s") <= 3600, "FRESH")
          .when(col("age_s") <= 86400, "ACCEPTABLE")
          .otherwise("STALE"))
      .groupBy("freshness")
      .agg(count(lit(1)).as("n_events"),
        min(col("age_s")).as("min_age_s"),
        max(col("age_s")).as("max_age_s"))
      .orderBy("freshness")
  }

  /** Gap-fill / daily resample: densify the per-cohort daily revenue
    * series over the full date spine (missing days appear with zero
    * orders) and fill-forward the last observed revenue — the
    * dashboard-facing time-series completion every warehouse serves
    * (the reference's fact_sales_daily is a dense daily grain).
    *
    * Scale shape: the spine is cohorts × days (tiny — bounds broadcast,
    * sequence explode), the daily aggregate is one partial-agg groupBy of
    * the fact, and the fill-forward window partitions by cohort — state
    * bounded by the spine, never the fact. */
  def gapFill(orders: DataFrame): DataFrame = {
    // group on the DATE, not the raw timestamp: o_orderdate is a
    // timestamp column (midnight-valued in the test data), and a
    // non-midnight order would otherwise key a row the midnight-stepped
    // spine can never join — silently dropping that day's revenue
    val daily = orders
      .groupBy(col("o_orderpriority").as("cohort"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), r2(decSum(col("o_totalprice"))).as("revenue"))
    val bounds = orders.agg(
      min(to_date(col("o_orderdate"))).as("mn"),
      max(to_date(col("o_orderdate"))).as("mx"))
    val spine = daily.select("cohort").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("cohort"), explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("cohort", "day"), "left")
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
      .withColumn("has_orders", col("n_orders") > 0)
      .withColumn("revenue_filled",
        coalesce(last(col("revenue"), ignoreNulls = true).over(w), lit(0d)))
      .withColumn("revenue", coalesce(col("revenue"), lit(0d)))
      .select("cohort", "day", "n_orders", "revenue", "has_orders", "revenue_filled")
      .orderBy("cohort", "day")
  }

  /** Cohort retention triangle — the classic product-analytics mart:
    * users grouped by first-seen week, and for each (cohort, week
    * offset) the share of the cohort still active. Weeks are integer
    * epoch-week indexes (floor(epoch/604800) — exact integer arithmetic
    * in both engines).
    *
    * Scale shape: first-seen and weekly-active both aggregate on
    * user_id (the active set per (user, week) via distinct on the same
    * key grid), join co-keyed on user_id, then collapse to the tiny
    * (cohort, offset) grid. No window over raw events, no self-join of
    * the event stream. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val weekly = events
      .select(col("user_id"), floor(epochS(col("ts")) / 604800L).cast("long").as("week"))
      .distinct()
    val firstSeen = weekly.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = firstSeen.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
    weekly.join(firstSeen, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_size"),
        r6(col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Event-transition matrix (first-order Markov over each user's event
    * stream): (from, to) counts from consecutive pairs via one lead
    * window on the user partitioning, row-normalized to transition
    * probabilities. One shuffle on user_id for the window; the matrix
    * itself is |event types|² — bounded regardless of data size. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wF = Window.partitionBy(col("from_type"))
    events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", r6(col("n") / sum(col("n")).over(wF)))
      .orderBy("from_type", "to_type")
  }

  /** Daily/weekly active users. WAU is EXACT without a sliding-distinct
    * self-join: each (user, active-day) row covers the 7 trailing
    * windows ending on day..day+6, so one explode to the covered grid +
    * distinct + count gives the rolling distinct-user count with a
    * fixed 7× row expansion — linear at any scale, where the naive
    * window-distinct funnels each day through one task. Days are
    * integer epoch-day indexes; only days with activity are emitted. */
  def activeUsers(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), floor(epochS(col("ts")) / 86400L).cast("long").as("day"))
      .distinct()
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        r4(col("dau") / col("wau")).as("stickiness"))
      .orderBy("day")
  }

  /** First-touch attribution: every purchase is credited to the user's
    * EARLIEST non-purchase event inside the lookback window before it
    * ('direct' when none), rolled up to credit share per touch type.
    * Equi-join on user_id with the window predicate post-match (the
    * [[Scd2.asOfLookup]] shape — per-purchase work bounded by the
    * user's event count, both sides one shuffle), first touch picked by
    * a per-purchase rank over that bounded candidate set. */
  def attribution(events: DataFrame, lookbackS: Long = 604800L): DataFrame = {
    val e = events.select(col("user_id"), col("event_id"),
      col("event_type"), epochS(col("ts")).as("ts_s"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts_s").as("p_ts"))
    val touches = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
        col("event_type").as("t_type"), col("ts_s").as("t_ts"))
    val w = Window.partitionBy(col("p_id")).orderBy(col("t_ts").asc, col("t_id").asc)
    val first = purchases.join(touches,
        col("user_id") === col("t_user") &&
          col("t_ts") < col("p_ts") && col("t_ts") >= col("p_ts") - lookbackS,
        "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id"), coalesce(col("t_type"), lit("direct")).as("attributed_to"))
    val total = first.agg(count(lit(1)).as("n_total"))
    first.groupBy(col("attributed_to"))
      .agg(count(lit(1)).as("n_purchases"))
      .crossJoin(broadcast(total))
      .select(col("attributed_to"), col("n_purchases"),
        r6(col("n_purchases") / col("n_total")).as("credit_share"))
      .orderBy("attributed_to")
  }

  /** Revenue percentile standings: each customer's revenue rank within
    * their nation as percent_rank and cume_dist — the peer-comparison
    * mart every BI layer ships. One aggregate to customer grain, one
    * broadcast dim join, rank windows partitioned by nation (per-nation
    * partitions are customer-count-bounded). Exact decimal revenue
    * makes rank ties identical across engines. */
  def revenuePercentiles(orders: DataFrame, customer: DataFrame,
                         nation: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("n_name")).orderBy(col("revenue"))
    orders.groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("revenue"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"), col("revenue"),
        r6(percent_rank().over(w)).as("pct_rank"),
        r6(cume_dist().over(w)).as("cume_dist"))
      .orderBy("c_custkey")
  }

  /** Hour-of-day × value-decile event heatmap — the ops-dashboard grid
    * (when do high-value events happen). Value bins are equi-width over
    * the observed [min, max] (one broadcast row); the grid is 24×10
    * cells regardless of event count, counts partial-aggregate. */
  def eventHeatmap(events: DataFrame, bins: Int = 10): DataFrame = {
    // NULL values are EXCLUDED, not binned: floor(NULL/width) is NULL
    // and least() skips NULLs in both engines, so an unknown-value event
    // would otherwise land silently in the TOP decile (bins-1)
    val valued = events.filter(col("value").isNotNull)
    val mm = valued.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    // bounded hour×bin grid; onePart keeps the share window warning-free
    // (a bare lit partition is stripped by EliminateWindowPartitions)
    val wAll = Window.partitionBy(onePart(col("hour_of_day")))
    valued.select(col("ts"), col("value"))
      .crossJoin(broadcast(mm))
      .select(hour(col("ts")).cast("int").as("hour_of_day"),
        least(lit(bins - 1), floor((col("value") - col("vmin")) /
          ((col("vmax") - col("vmin")) / bins)).cast("int")).as("value_bin"))
      .groupBy(col("hour_of_day"), col("value_bin"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("share", r6(col("n_events").cast("double") /
        sum(col("n_events")).over(wAll)))
      .orderBy("hour_of_day", "value_bin")
  }

  /** New vs returning users per epoch-week: weekly actives split by
    * whether the week is the user's first-seen week, plus the returning
    * share — the growth-accounting companion to [[retentionCohorts]].
    * Same scale shape: distinct on the (user, week) grid, first-seen via
    * a co-keyed min aggregate, then a collapse to the tiny weekly frame;
    * no window over raw events. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val weekly = events
      .select(col("user_id"), floor(epochS(col("ts")) / 604800L).cast("long").as("week"))
      .distinct()
    val firstSeen = weekly.groupBy(col("user_id")).agg(min(col("week")).as("first_week"))
    weekly.join(firstSeen, "user_id")
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("week") === col("first_week"), 1L).otherwise(0L)).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("returning_share",
        r6(col("n_returning").cast("double") / col("n_active")))
      .orderBy("week")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_new_returning" -> ((s, d) => newVsReturning(Tables.events(s, d))),
    "q_revenue_percentiles" -> ((s, d) => revenuePercentiles(Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d))),
    "q_event_heatmap" -> ((s, d) => eventHeatmap(Tables.events(s, d))),
    "q_attribution" -> ((s, d) => attribution(Tables.events(s, d))),
    "q_event_transitions" -> ((s, d) => eventTransitions(Tables.events(s, d))),
    "q_active_users" -> ((s, d) => activeUsers(Tables.events(s, d))),
    "q_retention_cohorts" -> ((s, d) => retentionCohorts(Tables.events(s, d))),
    "q_data_quality" -> ((s, d) => dataQuality(Tables.customer(s, d),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))),
    "q_date_dim" -> ((s, d) => dateDim(Tables.orders(s, d))),
    "q_top_n_per_group" -> ((s, d) =>
      topNPerGroup(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q_pivot_behavior" -> ((s, d) => pivotBehavior(Tables.events(s, d))),
    "q_anomaly_zscore" -> ((s, d) => anomalyZscore(Tables.events(s, d))),
    "q_anomaly_seasonal" -> ((s, d) => anomalySeasonal(Tables.events(s, d))),
    "q_freshness" -> ((s, d) => freshness(Tables.events(s, d))),
    "q_gap_fill" -> ((s, d) => gapFill(Tables.orders(s, d)))
  )

  private val profiled = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  val oracles: Map[String, String] = Map(
    "q_new_returning" ->
      s"""WITH weekly AS (
           SELECT DISTINCT user_id,
             CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 604800) AS BIGINT) AS week
           FROM events),
         fs AS (SELECT user_id, MIN(week) AS first_week FROM weekly GROUP BY 1),
         g AS (SELECT week,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT) AS n_new
           FROM weekly JOIN fs USING (user_id) GROUP BY 1)
         SELECT week, n_active, n_new, n_active - n_new AS n_returning,
           ${sqlR("CAST(n_active - n_new AS DOUBLE) / n_active", 6)} AS returning_share
         FROM g ORDER BY week""",
    "q_revenue_percentiles" ->
      s"""WITH r AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM orders GROUP BY 1),
         j AS (SELECT c_custkey, n_name, revenue
           FROM r JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey)
         SELECT c_custkey, n_name, revenue,
           ${sqlR("PERCENT_RANK() OVER (PARTITION BY n_name ORDER BY revenue)", 6)} AS pct_rank,
           ${sqlR("CUME_DIST() OVER (PARTITION BY n_name ORDER BY revenue)", 6)} AS cume_dist
         FROM j ORDER BY c_custkey""",
    "q_event_heatmap" ->
      s"""WITH v AS (SELECT * FROM events WHERE value IS NOT NULL),
         mm AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM v),
         b AS (SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
             CAST(LEAST(9, FLOOR((value - vmin) / ((vmax - vmin) / 10))) AS INT) AS value_bin
           FROM v, mm),
         g AS (SELECT hour_of_day, value_bin, CAST(COUNT(*) AS BIGINT) AS n_events
           FROM b GROUP BY 1, 2)
         SELECT hour_of_day, value_bin, n_events,
           ${sqlR("CAST(n_events AS DOUBLE) / SUM(n_events) OVER ()", 6)} AS share
         FROM g ORDER BY 1, 2""",
    "q_attribution" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
           FROM events),
         p AS (SELECT user_id, event_id AS p_id, ts_s AS p_ts
           FROM e WHERE event_type = 'purchase'),
         t AS (SELECT user_id AS t_user, event_id AS t_id,
             event_type AS t_type, ts_s AS t_ts
           FROM e WHERE event_type <> 'purchase'),
         j AS (SELECT p.p_id, t.t_type, t.t_ts, t.t_id
           FROM p LEFT JOIN t
             ON p.user_id = t.t_user
             AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - 604800),
         r AS (SELECT p_id, t_type,
             ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_ts ASC, t_id ASC) AS rn
           FROM j),
         f AS (SELECT p_id, COALESCE(t_type, 'direct') AS attributed_to
           FROM r WHERE rn = 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM f)
         SELECT attributed_to, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           FLOOR((CAST(COUNT(*) AS DOUBLE) / n_total) * 1000000 + 0.5) / 1000000 AS credit_share
         FROM f, tot GROUP BY attributed_to, n_total
         ORDER BY attributed_to""",
    "q_anomaly_seasonal" ->
      """WITH base AS (
           SELECT event_id, event_type, CAST(isodow(ts) - 1 AS INT) AS dow, value
           FROM events),
         st AS (
           SELECT event_type AS et, dow AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) AS s2
           FROM base GROUP BY 1, 2),
         sv AS (SELECT *, (s2 - s1 * s1 / n) / (n - 1) AS svar FROM st),
         sd AS (SELECT et, d, s1 / n AS mean,
             CASE WHEN n > 1 THEN sqrt(CASE WHEN svar < 0 THEN CAST(0 AS DOUBLE) ELSE svar END) END AS sd
           FROM sv)
         SELECT event_id, event_type, dow, value,
           CASE WHEN sd > 0 THEN FLOOR(((value - mean) / sd) * 10000 + 0.5) / 10000 END AS seasonal_z,
           CASE WHEN sd > 0
             THEN abs(FLOOR(((value - mean) / sd) * 10000 + 0.5) / 10000) > 2.0
             ELSE FALSE END AS is_outlier
         FROM base JOIN sd ON event_type = et AND dow = d
         ORDER BY event_id""",
    "q_event_transitions" ->
      """WITH bi AS (
           SELECT event_type AS from_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         g AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM bi WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           FLOOR((CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type)) * 1000000 + 0.5) / 1000000 AS p
         FROM g ORDER BY from_type, to_type""",
    "q_active_users" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
             CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT) AS day
           FROM events),
         dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
         cov AS (SELECT DISTINCT user_id, day + o AS day
           FROM ud, UNNEST(generate_series(0, 6)) AS t(o)),
         wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM cov GROUP BY day)
         SELECT day, dau.dau, wau.wau,
           FLOOR((CAST(dau.dau AS DOUBLE) / wau.wau) * 10000 + 0.5) / 10000 AS stickiness
         FROM dau JOIN wau USING (day) ORDER BY day""",
    "q_retention_cohorts" ->
      """WITH weekly AS (
           SELECT DISTINCT user_id,
             CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 604800) AS BIGINT) AS week
           FROM events),
         fs AS (SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id),
         sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM fs GROUP BY 1),
         act AS (SELECT fs.cohort_week, weekly.week - fs.cohort_week AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
           FROM weekly JOIN fs USING (user_id) GROUP BY 1, 2)
         SELECT act.cohort_week, week_offset, n_active, cohort_size,
           FLOOR(CAST(n_active AS DOUBLE) / cohort_size * 1000000 + 0.5) / 1000000 AS retention
         FROM act JOIN sz USING (cohort_week)
         ORDER BY cohort_week, week_offset""",
    "q_gap_fill" ->
      """WITH daily AS (SELECT o_orderpriority AS cohort, CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) * 100 + 0.5) / 100 AS revenue
           FROM orders GROUP BY 1, 2),
         b AS (SELECT CAST(MIN(o_orderdate) AS DATE) mn, CAST(MAX(o_orderdate) AS DATE) mx FROM orders),
         days AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         spine AS (SELECT cohort, day FROM (SELECT DISTINCT cohort FROM daily), days),
         j AS (SELECT s.cohort, s.day, COALESCE(d.n_orders, 0) AS n_orders0, d.revenue
           FROM spine s LEFT JOIN daily d ON d.cohort = s.cohort AND d.day = s.day)
         SELECT cohort, day, CAST(n_orders0 AS BIGINT) AS n_orders,
           CAST(COALESCE(revenue, 0) AS DOUBLE) AS revenue,
           n_orders0 > 0 AS has_orders,
           CAST(COALESCE(last_value(revenue IGNORE NULLS) OVER (PARTITION BY cohort ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS DOUBLE) AS revenue_filled
         FROM j ORDER BY cohort, day""",
    "q_data_quality" -> profiled.map(c =>
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT($c) AS BIGINT) AS n_filled,
          CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
          FLOOR((CAST(COUNT($c) AS DOUBLE) / COUNT(*)) * 10000 + 0.5) / 10000 AS completeness
          FROM customer""").mkString("", " UNION ALL ", " ORDER BY column_name"),
    "q_date_dim" ->
      """WITH r AS (SELECT MIN(CAST(o_orderdate AS DATE)) mn, MAX(CAST(o_orderdate AS DATE)) mx FROM orders),
         days AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d FROM r)
         SELECT md5(CAST(d AS VARCHAR)) AS date_key, d AS cal_date,
           CAST(year(d) AS INT) AS cal_year, CAST(quarter(d) AS INT) AS cal_quarter,
           CAST(month(d) AS INT) AS cal_month, CAST(day(d) AS INT) AS cal_day,
           CAST(isodow(d) - 1 AS INT) AS day_of_week,
           CAST(weekofyear(d) AS INT) AS iso_week,
           dayname(d) AS day_name,
           isodow(d) - 1 >= 5 AS is_weekend
         FROM days ORDER BY cal_date""",
    "q_top_n_per_group" ->
      """WITH perc AS (
           SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY o_custkey),
         ranked AS (
           SELECT n_name AS nation_name, c_custkey, revenue, n_orders,
             ROW_NUMBER() OVER (PARTITION BY n_nationkey ORDER BY revenue DESC, c_custkey) AS rnk
           FROM perc
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey)
         SELECT nation_name, CAST(rnk AS INT) AS rnk, c_custkey, revenue, n_orders
         FROM ranked WHERE rnk <= 3 ORDER BY nation_name, rnk""",
    "q_pivot_behavior" ->
      """SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS purchase_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_anomaly_zscore" ->
      """WITH st AS (
           SELECT event_type AS et, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) AS s2
           FROM events GROUP BY event_type),
         sv AS (SELECT *, (s2 - s1 * s1 / n) / (n - 1) AS svar FROM st),
         sd AS (SELECT et, s1 / n AS mean,
             CASE WHEN n > 1 THEN sqrt(CASE WHEN svar < 0 THEN CAST(0 AS DOUBLE) ELSE svar END) END AS sd
           FROM sv),
         z AS (
           SELECT event_id, event_type, value, sd,
             CASE WHEN sd > 0 THEN FLOOR(((value - mean) / sd) * 10000 + 0.5) / 10000 END AS zscore
           FROM events JOIN sd ON event_type = et)
         SELECT event_id, event_type, value, zscore,
           CASE WHEN sd > 0 THEN abs(zscore) > 2.0 ELSE FALSE END AS is_outlier
         FROM z ORDER BY event_id""",
    "q_freshness" ->
      """WITH ref AS (SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS ref_s FROM events),
         aged AS (
           SELECT ref_s - CAST(FLOOR(epoch(ts)) AS BIGINT) AS age_s,
             CASE WHEN ref_s - CAST(FLOOR(epoch(ts)) AS BIGINT) <= 3600 THEN 'FRESH'
                  WHEN ref_s - CAST(FLOOR(epoch(ts)) AS BIGINT) <= 86400 THEN 'ACCEPTABLE'
                  ELSE 'STALE' END AS freshness
           FROM events, ref)
         SELECT freshness, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(age_s) AS min_age_s, MAX(age_s) AS max_age_s
         FROM aged GROUP BY freshness ORDER BY freshness"""
  )
}
