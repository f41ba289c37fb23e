package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.Fns._

/** ML-platform feature computations.
  *
  * Re-expresses /root/reference/ml_platform/feature_store/
  * feature_store_manager.py (RFM + categorize_rfm, time-series features)
  * and ml_platform/monitoring/ml_monitoring_system.py (_calculate_psi,
  * KS drift) as distributed DataFrame transforms: the reference computes
  * these per-entity in pandas; here every feature is one window/agg pass
  * so the same code runs on the full 100 TB entity population.
  */
object Features {

  // RFM (recency/frequency/monetary) per user over purchase events, with
  // quintile scores and segment categorization
  // (feature_store_manager.py:200-260). Three scorers over one shared
  // per-user aggregate: [[rfm]] (window ntile — cheap for bounded
  // populations), [[rfmExactDistributed]] (identical result via indexed
  // range-partitioned sorts — no single-partition stage), and
  // [[rfmApprox]] (sketch thresholds). [[rfmExact]] — the registered
  // path — picks between the two exact plans by population.

  /** Per-user recency/frequency/monetary aggregate — shared by the exact
    * and approximate scorers. One shuffle on user_id. */
  private def rfmBase(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
    val ref = purchases.agg(max(epochS(col("ts"))).as("ref_s"))
    purchases.groupBy(col("user_id"))
      .agg(max(epochS(col("ts"))).as("last_s"),
        count(lit(1)).as("frequency"),
        decSum(col("value")).as("monetary"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days", floor((col("ref_s") - col("last_s")) / 86400d).cast("long"))
  }

  /** Segment string + lifecycle category on top of the three scores. */
  private def rfmFinish(scored: DataFrame): DataFrame =
    scored
      .withColumn("rfm_segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .withColumn("rfm_category",
        when(col("r_score") >= 4 && col("f_score") >= 4, "CHAMPION")
          .when(col("r_score") >= 3, "LOYAL")
          .when(col("r_score") >= 2, "AT_RISK")
          .otherwise("HIBERNATING"))
      .select("user_id", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "rfm_segment", "rfm_category")
      .orderBy("user_id")

  /** Exact global-ntile RFM scoring (categorize_rfm,
    * feature_store_manager.py:200-259) via window ntile — three
    * whole-population ntile windows, each a single-partition sort: cheap
    * for bounded populations, wrong beyond them. [[rfmExact]] (the
    * registered path) picks between this and [[rfmExactDistributed]]
    * by population; [[rfmApprox]] is the sketch-threshold variant. */
  def rfm(events: DataFrame): DataFrame = {
    val perUser = rfmBase(events)
    // Global ntile windows — bounded HERE ONLY: rfmExact routes to this
    // form solely when the purchase population is ≤ windowMax (the
    // per-user AGGREGATE, tiny relative to the event scan); past the cap
    // it switches to rfmExactDistributed, which has no global window.
    // onePart is a no-op on the bounded frame but keeps the
    // "No Partition Defined" wallpaper out of the logs, so a REAL
    // unbounded window can't hide behind it.
    val wR = Window.partitionBy(onePart(col("user_id"))).orderBy(col("recency_days"), col("user_id"))
    val wF = Window.partitionBy(onePart(col("user_id"))).orderBy(col("frequency"), col("user_id"))
    val wM = Window.partitionBy(onePart(col("user_id"))).orderBy(col("monetary"), col("user_id"))
    rfmFinish(perUser
      .withColumn("r_score", lit(6) - ntile(5).over(wR))
      .withColumn("f_score", ntile(5).over(wF))
      .withColumn("m_score", ntile(5).over(wM)))
  }

  /** Exact ntile WITHOUT a single-partition window: orderBy gives a
    * range-partitioned total sort (each partition holds a contiguous
    * key range, sorted), and RDD zipWithIndex turns that into the exact
    * 0-based global rank with one lightweight per-partition count pass —
    * the canonical distributed global-indexing idiom, and one of the few
    * places the RDD API is the right tool. The strict (metric, user_id)
    * order makes the index reproducible under any partitioning. */
  private def exactRankIdx(perUser: DataFrame, metric: String, out: String): DataFrame = {
    val spark = perUser.sparkSession
    val idx = perUser.select(col("user_id"), col(metric))
      .orderBy(col(metric), col("user_id"))
      .rdd.zipWithIndex.map { case (row, i) => Row(row.getLong(0), i) }
    spark.createDataFrame(idx,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(out, org.apache.spark.sql.types.LongType))))
  }

  /** SQL ntile(5) from an exact 0-based global rank: the first n%5
    * buckets take ceil(n/5) rows, the rest floor(n/5) — pure integer
    * `div` arithmetic, so it reproduces the window ntile row-for-row at
    * any population size. */
  private def ntileFromIdx(idxCol: String): Column = expr(
    s"""cast(case when $idxCol < (n_users % 5) * ((n_users div 5) + 1)
          then $idxCol div ((n_users div 5) + 1)
          else (n_users % 5) + ($idxCol - (n_users % 5) * ((n_users div 5) + 1)) div (n_users div 5)
        end + 1 as int)""")

  /** Exact RFM with an adaptive physical plan: the ntile result is
    * identical either way, so pick the cheaper plan by population —
    * below `windowMax` entities the three global windows are a few
    * small sorts (the per-user frame after aggregation is tiny relative
    * to the event scan), above it they would funnel the population
    * through single partitions and the indexed-sort form wins. One
    * lightweight count decides; this is the registered path. */
  def rfmExact(events: DataFrame, windowMax: Long = 1000000L): DataFrame = {
    val n = graft.functions.PlanStats.rowCount(
      events.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct())
    if (n <= windowMax) rfm(events) else rfmExactDistributed(events)
  }

  /** [[rfm]] with the same exact-ntile semantics but NO single-partition
    * window: three range-partitioned sorts + [[exactRankIdx]], scores
    * derived arithmetically from the global ranks. Oracle-identical to
    * the window form (FeaturesSpec asserts row-for-row equality) — the
    * form [[rfmExact]] switches to beyond the window population cap. */
  def rfmExactDistributed(events: DataFrame): DataFrame = {
    val perUser = rfmBase(events).persist()
    try {
      val n = broadcast(perUser.agg(count(lit(1)).as("n_users")))
      val rIdx = exactRankIdx(perUser, "recency_days", "r_idx")
      val fIdx = exactRankIdx(perUser, "frequency", "f_idx")
      val mIdx = exactRankIdx(perUser, "monetary", "m_idx")
      rfmFinish(perUser
        .join(rIdx, "user_id").join(fIdx, "user_id").join(mIdx, "user_id")
        .crossJoin(n)
        .withColumn("r_score", lit(6) - ntileFromIdx("r_idx"))
        .withColumn("f_score", ntileFromIdx("f_idx"))
        .withColumn("m_score", ntileFromIdx("m_idx")))
        .localCheckpoint()
    } finally perUser.unpersist()
  }

  /** Scale path for [[rfm]]: quintile thresholds from one
    * percentile_approx pass, broadcast back as a bucket expression — no
    * global ntile window, fully parallel at any entity count. Scores
    * match exact ntile up to sketch error and tie placement
    * (RfmApproxSpec bounds the divergence); the exact path stays the
    * oracle query. */
  def rfmApprox(events: DataFrame, accuracy: Int = 10000): DataFrame = {
    val perUser = rfmBase(events)
    val qs = "array(0.2, 0.4, 0.6, 0.8)"
    val th = perUser.agg(
      expr(s"percentile_approx(recency_days, $qs, $accuracy)").as("tr"),
      expr(s"percentile_approx(frequency, $qs, $accuracy)").as("tf"),
      expr(s"percentile_approx(monetary, $qs, $accuracy)").as("tm"))
    def bucket(v: Column, t: Column): Column =
      (0 to 3).map(i => (v > t.getItem(i)).cast("int")).reduce(_ + _) + lit(1)
    rfmFinish(perUser.crossJoin(broadcast(th))
      .withColumn("r_score", lit(6) - bucket(col("recency_days"), col("tr")))
      .withColumn("f_score", bucket(col("frequency"), col("tf")))
      .withColumn("m_score", bucket(col("monetary"), col("tm"))))
  }

  /** Time-series rolling features per entity: lag, moving sum/avg/max over
    * the last 3 observations, cumulative count
    * (extract_time_series_features). */
  def rolling(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w3 = w.rowsBetween(-2, 0)
    events
      .withColumn("lag1_value", lag(col("value"), 1).over(w))
      .withColumn("roll_sum3", sum(col("value").cast("decimal(18,4)")).over(w3).cast("double"))
      .withColumn("roll_avg3",
        sum(col("value").cast("decimal(18,4)")).over(w3).cast("double") / count(lit(1)).over(w3))
      .withColumn("roll_max3", max(col("value")).over(w3))
      .withColumn("n_so_far", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("value"), col("lag1_value"),
        col("roll_sum3"), r4(col("roll_avg3")).as("roll_avg3"),
        col("roll_max3"), col("n_so_far"))
      .orderBy("event_id")
  }

  /** The session gap in seconds: a longer silence starts a new session.
    * The batch sessionizers and the streaming twins in
    * [[graft.streaming.EventStream]] all read it. */
  private[graft] val SessionGapS = 1800L

  /** Session numbering (lag + running sum of boundary flags — the
    * standard scalable sessionizer, one shuffle on user_id): adds ts_s,
    * prev_s, is_new and the per-user session_seq. The one boundary rule
    * of [[sessionize]] and [[sessionPaths]]. */
  private def sessionNumbered(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("ts_s", epochS(col("ts")))
      .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_s").isNull || col("ts_s") - col("prev_s") > SessionGapS, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Sessionization: a >30-min gap starts a new session
    * ([[sessionNumbered]]), then session-grain rollup
    * (fact_customer_behavior, session grain). */
  def sessionize(events: DataFrame): DataFrame =
    sessionNumbered(events)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_s")).as("start_s"),
        max(col("ts_s")).as("end_s"),
        decSum(col("value")).as("session_value"),
        countDistinct(col("event_type")).as("n_event_types"))
      .withColumn("session_id", concat_ws("-", col("user_id"), col("session_seq")))
      .withColumn("duration_s", col("end_s") - col("start_s"))
      .select("session_id", "user_id", "session_seq", "n_events", "start_s",
        "end_s", "duration_s", "session_value", "n_event_types")
      .orderBy("user_id", "session_seq")

  /** Funnel conversion: signup → engaged (view|click) → purchase, counted
    * over per-user flags (behavior analytics marts). */
  def funnel(events: DataFrame): DataFrame = {
    val flags = events.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "signup", 1).otherwise(0)).as("f_signup"),
      max(when(col("event_type").isin("view", "click"), 1).otherwise(0)).as("f_engaged"),
      max(when(col("event_type") === "purchase", 1).otherwise(0)).as("f_purchase"))
    val agg = flags.agg(
      sum(col("f_signup")).cast("long").as("n_signup"),
      sum(col("f_signup") * col("f_engaged")).cast("long").as("n_engaged"),
      sum(col("f_signup") * col("f_engaged") * col("f_purchase")).cast("long").as("n_converted"))
    agg.select(
      explode(array(
        struct(lit(1).as("stage"), lit("signup").as("stage_name"), col("n_signup").as("n_users")),
        struct(lit(2).as("stage"), lit("engaged").as("stage_name"), col("n_engaged").as("n_users")),
        struct(lit(3).as("stage"), lit("converted").as("stage_name"), col("n_converted").as("n_users")))).as("s"),
      col("n_signup"))
      .select(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"),
        col("s.n_users").as("n_users"),
        r4(col("s.n_users") / col("n_signup")).as("conversion_from_top"))
      .orderBy("stage")
  }

  /** ORDERED, time-windowed funnel — the sequencing-aware companion to
    * [[funnel]] (which only checks stage presence): engaged counts only
    * when it happens AFTER the user's first signup and within `gap1`
    * seconds of it; purchase only after that engagement and within
    * `gap2` seconds. Emits per-stage user counts, conversion from the
    * top, and mean days-to-reach (exact long-second sums, divided once).
    *
    * Shape: three aggregations chained on the SAME user_id key (each
    * join is co-partitioned with the groupBy that follows), collapsing
    * to a three-row funnel — no window over the raw stream, no
    * self-join on time ranges. */
  def funnelOrdered(events: DataFrame,
                    gap1: Long = 604800L, gap2: Long = 1209600L): DataFrame = {
    val base = events.select(col("user_id"), col("event_type"),
      epochS(col("ts")).as("ts_s"))
    val t1s = base.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts_s"))).as("t1"))
      .filter(col("t1").isNotNull)
    val t2s = base.join(t1s, "user_id")
      .groupBy(col("user_id"))
      .agg(first(col("t1")).as("t1"),
        min(when(col("event_type").isin("view", "click") &&
          col("ts_s") >= col("t1") && col("ts_s") <= col("t1") + gap1,
          col("ts_s"))).as("t2"))
    val t3s = base.join(t2s.filter(col("t2").isNotNull), "user_id")
      .groupBy(col("user_id"))
      .agg(first(col("t1")).as("t1"), first(col("t2")).as("t2"),
        min(when(col("event_type") === "purchase" &&
          col("ts_s") >= col("t2") && col("ts_s") <= col("t2") + gap2,
          col("ts_s"))).as("t3"))
    val tots = t1s.agg(count(lit(1)).as("n1"))
    val s2 = t2s.agg(sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n2"),
      sum(when(col("t2").isNotNull, col("t2") - col("t1")).otherwise(0L)).as("d2"))
    val s3 = t3s.agg(sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("n3"),
      sum(when(col("t3").isNotNull, col("t3") - col("t1")).otherwise(0L)).as("d3"))
    tots.crossJoin(s2).crossJoin(s3)
      .select(explode(array(
        struct(lit(1).as("stage"), lit("signup").as("stage_name"),
          col("n1").as("n_users"), lit(0L).as("dsum")),
        struct(lit(2).as("stage"), lit("engaged_7d").as("stage_name"),
          col("n2").as("n_users"), col("d2").as("dsum")),
        struct(lit(3).as("stage"), lit("purchased_14d").as("stage_name"),
          col("n3").as("n_users"), col("d3").as("dsum")))).as("s"),
        col("n1"))
      .select(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"),
        col("s.n_users").as("n_users"),
        r4(col("s.n_users") / col("n1")).as("conversion_from_top"),
        when(col("s.n_users") > 0,
          r4(col("s.dsum") / col("s.n_users") / 86400d)).otherwise(lit(0d))
          .as("avg_days_to_reach"))
      .orderBy("stage")
  }

  /** Per-transaction enrichment
    * (_calculate_transaction_derived_features,
    * feature_store_manager.py:314-355): temporal buckets + binary
    * indicators, amount z-score/ratio vs per-customer stats, event-type
    * frequency encoding with repeat/new/preferred flags, high-amount and
    * unusual-time risk flags, and REAL time-since-last velocity (the
    * reference stubs it at 24h; the lag window computes it, with 24h
    * kept as the first-event default). Plan: one groupBy per encoding
    * joined back on user_id + one user-partitioned lag window — every
    * shuffle is on the entity key, nothing global. Per-user std uses the
    * exact-decimal moment formula so the z-scores are deterministic. */
  def enrichTransactions(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("user_id"), col("ts"),
      col("event_type"), col("value"))
      .withColumn("ts_s", epochS(col("ts")))
    val perUser = base.groupBy(col("user_id")).agg(
      count(lit(1)).as("u_n"),
      decSum(col("value")).as("u_s1"),
      decSumSq(col("value")).as("u_s2"))
      .withColumn("u_avg", col("u_s1") / col("u_n"))
      .withColumn("u_var", sampleVar(col("u_n"), col("u_s1"), col("u_s2")))
      // a one-event user's 0 is the CASE's ELSE, not a coalesce, so an
      // all-NULL user's NULL sd (u_n > 1) stays NULL
      .withColumn("u_std", sampleSd(col("u_n"), col("u_var")).otherwise(lit(0d)))
      .select("user_id", "u_n", "u_avg", "u_std")
    val perType = base.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("type_freq"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dow = dayofweek(col("ts")) - 1 // 0=Sunday, matching DuckDB's dow
    val hr = hour(col("ts"))
    base
      .join(perUser, "user_id")
      .join(perType, Seq("user_id", "event_type"))
      .withColumn("prev_s", lag(col("ts_s"), 1).over(w))
      .withColumn("hour_of_day", hr)
      .withColumn("day_of_week", dow)
      .withColumn("day_of_month", dayofmonth(col("ts")))
      .withColumn("month", month(col("ts")))
      .withColumn("quarter", quarter(col("ts")))
      .withColumn("is_weekend", dow.isin(0, 6))
      .withColumn("is_business_hours", hr.between(9, 17))
      .withColumn("is_evening", hr.between(18, 23))
      .withColumn("is_night", hr.between(0, 6))
      .withColumn("amount_z_score",
        r6((col("value") - col("u_avg")) / greatest(col("u_std"), lit(1d))))
      .withColumn("amount_vs_avg_ratio", r6(col("value") / greatest(col("u_avg"), lit(1d))))
      .withColumn("is_repeat_type", col("type_freq") > 1)
      .withColumn("is_new_type", col("type_freq") === 1)
      .withColumn("is_preferred_type", col("type_freq") >= col("u_n") * 0.5)
      .withColumn("high_amount_flag", col("value") > col("u_avg") + lit(2) * col("u_std"))
      .withColumn("unusual_time_flag",
        col("is_night") || (col("is_weekend") && !col("is_business_hours")))
      .withColumn("time_since_last_hours",
        r6(coalesce((col("ts_s") - col("prev_s")) / 3600d, lit(24d))))
      .withColumn("velocity_flag", col("time_since_last_hours") < 1)
      .select("event_id", "user_id", "ts_s", "event_type", "value",
        "hour_of_day", "day_of_week", "day_of_month", "month", "quarter",
        "is_weekend", "is_business_hours", "is_evening", "is_night",
        "amount_z_score", "amount_vs_avg_ratio", "type_freq",
        "is_repeat_type", "is_new_type", "is_preferred_type",
        "high_amount_flag", "unusual_time_flag",
        "time_since_last_hours", "velocity_flag")
      .orderBy("event_id")
  }

  /** Top session PATHS — the user-journey mart (funnel/Sankey source):
    * each 30-minute session's ordered event-type sequence, capped at the
    * first `maxLen` steps (so a pathological session cannot blow up the
    * path key space), counted corpus-wide with visitor reach; top `k`
    * by session count. Session assignment is [[sessionNumbered]], shared
    * with [[sessionize]], so the two marts can never disagree on boundaries.
    *
    * Scale shape: the windows are user-keyed (no global sort); the path
    * string comes from sort_array(collect_list(struct(ts, event_id,
    * type))) per session — DETERMINISTIC order from the struct key, not
    * collect_list arrival order, and bounded by session length with the
    * slice cap; path counts partial-aggregate and the top-k is
    * TakeOrderedAndProject. */
  def sessionPaths(events: DataFrame, maxLen: Int = 5, k: Int = 20): DataFrame =
    sessionNumbered(events).groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("event_type")))).as("evs"))
      .select(col("user_id"),
        expr(s"concat_ws('>', transform(slice(evs, 1, $maxLen), e -> e.event_type))").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)

  /** PSI (population stability index) between the first and second half of
    * the event stream over 10 equi-width bins (_calculate_psi). Two
    * aggregate passes, nothing collected: bin counts are the only state. */
  def psiDrift(events0: DataFrame): DataFrame = {
    // NULL values are excluded up front (the quantileBins device's rule):
    // a NULL bins to NULL, and the NULL-bin group would enter Spark's
    // totals while the oracle's spine join drops it — every bin
    // proportion would silently diverge the day values go nullable
    val events = events0.filter(col("value").isNotNull)
    val bounds = events.agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      floor(max(col("event_id")) / 2d).cast("long").as("mid"))
    val binned = events.crossJoin(broadcast(bounds))
      .withColumn("bin", eqBin(col("value"), 10))
      .withColumn("is_ref", (col("event_id") <= col("mid")).cast("int"))
    val counts = binned.groupBy(col("bin")).agg(
      sum(col("is_ref")).cast("double").as("n_ref"),
      sum(lit(1) - col("is_ref")).cast("double").as("n_cur"))
    val totals = counts.agg(
      sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    val spine = events.sparkSession.range(0, 10).select(col("id").cast("int").as("bin"))
    val terms = spine.join(counts, Seq("bin"), "left")
      .na.fill(0.0, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(totals))
      .withColumn("p_ref", psiShare(col("n_ref"), col("t_ref")))
      .withColumn("p_cur", psiShare(col("n_cur"), col("t_cur")))
      .withColumn("psi_term", psiTerm(col("p_cur"), col("p_ref")))
    terms
      // decimal-routed like driftSweep/driftHistory's identical PSI sum:
      // a raw double window sum reassociates with partition order
      .withColumn("psi_total",
        sum(col("psi_term").cast("decimal(20,12)"))
          .over(Window.partitionBy(onePart(col("bin")))).cast("double"))
      .select(col("bin"), r6(col("p_ref")).as("ref_pct"), r6(col("p_cur")).as("cur_pct"),
        r6(col("psi_term")).as("psi_term"), r6(col("psi_total")).as("psi_total"))
      .orderBy("bin")
  }

  /** Kolmogorov–Smirnov statistic between purchase and click value
    * distributions, on a binned CDF (KS drift detection).
    *
    * Same two-pass shape as [[psiDrift]]: bounds aggregate, then per-bin
    * counts. The cumulative window runs over the BIN aggregate — at most
    * `nBins` rows regardless of data size — never over raw or distinct
    * values (with continuous doubles at 100 TB, distinct ≈ row count, so
    * a value-ordered window would funnel the whole sample through one
    * task). D is evaluated at bin edges: |KS_binned - KS_exact| <= 2/nBins
    * by the CDF's per-bin variation bound. Empty bins need no spine — the
    * CDF difference is constant across them, so present bins realize the
    * max. */
  def ksDrift(events: DataFrame, nBins: Int = 1000): DataFrame = {
    // value IS NOT NULL for the same engine-NULL-ordering reason as
    // [[quantileBins]]: a NULL bin sorts FIRST under Spark's cumulative
    // window but LAST under DuckDB's, shifting every CDF point
    val sample = events.filter(col("event_type").isin("purchase", "click"))
      .filter(col("value").isNotNull)
      .withColumn("is_a", (col("event_type") === "purchase").cast("long"))
    val bounds = sample.agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      sum(col("is_a")).as("na"), sum(lit(1L) - col("is_a")).as("nb"))
    val counts = sample.crossJoin(broadcast(bounds))
      .withColumn("bin", eqBin(col("value"), nBins))
      .groupBy(col("bin")).agg(
        sum(col("is_a")).as("ca"), sum(lit(1L) - col("is_a")).as("cb"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
    // nBins-row frame; onePart silences the partitionless-window
    // warning without changing the (already single-partition) plan
    ksSteps(counts, onePart(col("bin")), col("na"), col("nb"))
      .agg(r6(max(col("d"))).as("ks_stat"),
        max(col("na")).as("n_sample_a"), max(col("nb")).as("n_sample_b"))
  }

  // The binned-drift core: every drift mart bins, floors, sums PSI terms
  // and measures KS steps through these, so psiDrift, ksDrift, driftSweep,
  // Monitoring.driftHistory and Monitoring.windowedDrift cannot diverge.

  /** (feature, mn, mx) bounds for a set of numeric columns from ONE
    * narrow columnar agg over the unmelted frame (column-pruned,
    * no explode), unpivoted to rows afterwards — identical values to
    * aggregating a [[melt]]ed (feature, v) stream at 1/k the row
    * volume. The multi-feature marts ([[driftSweep]],
    * Monitoring.driftHistory) join it to their melt on `feature` and bin
    * with [[eqBin]]; psiDrift and ksDrift bin one column against their
    * own one-row bounds. */
  private[ml] def featureBounds(df: DataFrame, feats: Seq[String]): DataFrame = {
    val aggs = feats.zipWithIndex.flatMap { case (f, i) =>
      Seq(min(col(f).cast("double")).as(s"mn_$i"),
        max(col(f).cast("double")).as(s"mx_$i"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(feats.zipWithIndex.map { case (f, i) =>
        struct(lit(f).as("feature"), col(s"mn_$i").as("mn"), col(s"mx_$i").as("mx"))
      }: _*)).as("s"))
      .select(col("s.feature").as("feature"), col("s.mn").as("mn"), col("s.mx").as("mx"))
  }

  /** Numeric columns melted to (feature, v) rows in one scan, v as
    * double, with each `carry` column kept beside them under its name. */
  private[graft] def melt(df: DataFrame, feats: Seq[String],
                          carry: (String, Column)*): DataFrame =
    df.select(explode(array(feats.map(f =>
        struct(lit(f).as("feature"), col(f).cast("double").as("v"))): _*)).as("s") +:
        carry.map { case (n, c) => c.as(n) }: _*)
      .select(Seq(col("s.feature").as("feature"), col("s.v").as("v")) ++
        carry.map { case (n, _) => col(n) }: _*)

  /** Equi-width bin 0..nBins-1 of `v` over the `mn`/`mx` bound columns;
    * `mx` falls in the top bin. try_divide: a CONSTANT column (mx = mn)
    * divides by zero, which THROWS under ANSI; its NULL quotient is
    * skipped by least, so every value lands in bin nBins-1, which is what
    * the oracle's LEAST over DuckDB's NULL x/0 computes. */
  private[ml] def eqBin(v: Column, nBins: Int): Column =
    least(floor(try_divide(v - col("mn"), (col("mx") - col("mn")) / nBins)),
      lit((nBins - 1).toDouble)).cast("int")

  /** The PSI proportion floor: an empty bin's share is raised to it so
    * ln(p_cur / p_ref) stays finite. */
  private[ml] val PsiFloor = 1e-6

  /** A bin's share c / t, floored at [[PsiFloor]]. An empty side
    * (t = 0) has a NULL share under try_divide, which greatest skips, so
    * it floors too, as DuckDB's GREATEST over its NULL 0/0 does. */
  private[ml] def psiShare(c: Column, t: Column): Column =
    greatest(try_divide(c, t), lit(PsiFloor))

  /** One PSI term (p_cur − p_ref)·ln(p_cur / p_ref). */
  private[ml] def psiTerm(pCur: Column, pRef: Column): Column =
    (pCur - pRef) * log(pCur / pRef)

  /** Binned KS steps over per-bin counts `ca`/`cb`: cumulative counts in
    * `bin` order within `part`, and the CDF distance d at each bin edge
    * against the sample sizes `na`/`nb` (NULL, not a throw, when a
    * sample is empty). */
  private[ml] def ksSteps(counts: DataFrame, part: Column, na: Column, nb: Column): DataFrame = {
    val w = Window.partitionBy(part).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    counts
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .withColumn("d", abs(try_divide(col("cum_a"), na) - try_divide(col("cum_b"), nb)))
  }

  /** Multi-feature drift sweep (detect_data_drift,
    * ml_monitoring_system.py:146-174): binned PSI + binned KS for every
    * swept column, drift flag per feature (PSI > 0.1, the reference's
    * alert threshold), overall mean-PSI score with low/medium/high
    * magnitude classification. The columns are melted into (feature,
    * value) rows in ONE scan, so adding features adds no passes; per-bin
    * count aggregates are the only distributed state, and every window
    * runs over bin/feature aggregates of bounded size. PSI-term and
    * overall sums route through decimals for partition-order
    * determinism. Reference half = first half of the key space. */
  def driftSweep(lineitem: DataFrame, nPsiBins: Int = 10, nKsBins: Int = 100): DataFrame = {
    val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val bounds0 = lineitem.agg(floor(max(col("l_orderkey")) / 2d).cast("long").as("mid"))
    val melted = melt(lineitem.crossJoin(broadcast(bounds0)), feats,
      "is_ref" -> (col("l_orderkey") <= col("mid")).cast("int"))
    val fb = featureBounds(lineitem, feats)
    // One melted pass: count at the FINE granularity; the coarse PSI bins
    // derive from the fine ones (nKsBins = 10 * nPsiBins shares edges, so
    // coarse = floor(fine / 10) over already-identical ints — no float
    // re-binning, hence exact oracle parity).
    require(nKsBins == 10 * nPsiBins, "KS bins must be 10x PSI bins to share one pass")
    val fineCounts = melted.join(broadcast(fb), "feature")
      .withColumn("bin", eqBin(col("v"), nKsBins))
      .groupBy(col("feature"), col("bin")).agg(
        sum(col("is_ref")).as("ca"), sum(lit(1) - col("is_ref")).as("cb"))
    // fineCounts feeds both the PSI and KS branches through the SAME
    // (feature, bin) aggregate exchange — ReuseExchange computes the
    // melted scan once, and nothing is persisted into the session cache
    val psiCounts = fineCounts
      .groupBy(col("feature"), floor(col("bin") / 10.0).cast("int").as("bin"))
      .agg(sum(col("ca")).cast("double").as("n_ref"),
        sum(col("cb")).cast("double").as("n_cur"))
    val totals = psiCounts.groupBy(col("feature"))
      .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    val spine = fb.select(col("feature")).crossJoin(
      lineitem.sparkSession.range(0, nPsiBins).select(col("id").cast("int").as("bin")))
    val psi = spine.join(psiCounts, Seq("feature", "bin"), "left")
      .na.fill(0.0, Seq("n_ref", "n_cur"))
      .join(broadcast(totals), "feature")
      .withColumn("p_ref", psiShare(col("n_ref"), col("t_ref")))
      .withColumn("p_cur", psiShare(col("n_cur"), col("t_cur")))
      .groupBy(col("feature"))
      .agg(sum(psiTerm(col("p_cur"), col("p_ref")).cast("decimal(20,12)"))
        .cast("double").as("psi0"))
    val ks = ksSteps(fineCounts.join(broadcast(totals), "feature"),
        col("feature"), col("t_ref"), col("t_cur"))
      .groupBy(col("feature")).agg(max(col("d")).as("ks0"))
    val per = psi.join(ks, "feature")
    val overall = per.agg(
      sum(col("psi0").cast("decimal(20,12)")).cast("double").as("s_psi"),
      count(lit(1)).as("features_checked"),
      sum(when(col("psi0") > 0.1, 1L).otherwise(0L)).as("features_drifted"))
    per.crossJoin(broadcast(overall))
      .select(
        col("feature"),
        r6(col("psi0")).as("psi"),
        r6(col("ks0")).as("ks_stat"),
        (col("psi0") > 0.1).as("drift_detected"),
        col("features_checked"), col("features_drifted"),
        r6(col("features_drifted") / col("features_checked")).as("drift_rate"),
        r6(col("s_psi") / col("features_checked")).as("overall_drift_score"),
        when(col("s_psi") / col("features_checked") > 0.2, "high")
          .when(col("s_psi") / col("features_checked") > 0.1, "medium")
          .otherwise("low").as("drift_magnitude"))
      .orderBy("feature")
  }

  /** Numeric feature profile at the reference's full depth
    * (get_feature_statistics, feature_store_manager.py:833-845): n,
    * nulls, mean/std, min/max, q25/median/q75, skewness, excess kurtosis,
    * |z|>3 outlier count+rate. All moments are exact decimal sums
    * (deterministic under any partitioning); skew/kurtosis derive from
    * those moments with identically-structured arithmetic in the oracle,
    * so doubles match bit-for-bit.
    *
    * All features melt into ONE (feature, v) stream consumed by exactly
    * two grouped passes regardless of feature count: a per-row moments
    * aggregate (decimal sums in the oracle's own per-row shape — a
    * cnt-weighted product would clamp decimal(≥30,8)·bigint to scale 6
    * and drift from the oracle's scale-8 sums) and one distinct shuffle
    * building the (feature, v, cnt) frame that the quartile device and
    * the exact bigint-weighted outlier counts share. The per-feature
    * form paid the percentile device's fixed eager overhead (NDV probe
    * + distinct-frame checkpoint) once per feature instead. A left join
    * against the registered feature names keeps one output row per
    * feature even for empty/all-NULL inputs, matching the oracle's
    * ungrouped aggregates. The `percentile(v, array(...))`
    * aggregate the quartile path replaces buffers an NDV-sized
    * value→count map on one reducer (1e7-1e8 entries for a price column
    * at 100× scale); the prefix-sum path is bit-identical and
    * range-bucketed past the NDV threshold. Outlier counts compare
    * against the broadcast moments (population std, as scipy.zscore
    * uses; std_v itself is the sample std, as pandas .std() reports). */
  def featureStats(named: Seq[(String, DataFrame)]): DataFrame = {
    val spark = named.head._2.sparkSession
    import spark.implicits._
    val c = col("v")
    val melted = named.map { case (name, dfc) =>
      dfc.select(lit(name).as("feature"), col(dfc.columns.head).as("v"))
    }.reduce(_ unionAll _)
    // Moments sum PER ROW over the raw melted stream — the exact shape
    // the oracle computes. A cnt-weighted product over the distinct
    // frame is NOT equivalent: Spark clamps decimal(30,8)·bigint and
    // decimal(38,8)·bigint to DecimalType(38,6), silently rounding each
    // per-value contribution to 6 fractional digits while the oracle
    // keeps 8 — a latent hash drift on any low-variance feature.
    val momGrouped = melted.groupBy("feature").agg(
      count(lit(1)).as("n_rows"),
      count(c).as("n_filled"),
      decSum(c).as("s1"),
      decSumSq(c).as("s2"),
      sum((c * c * c).cast("decimal(38,8)")).cast("double").as("s3"),
      sum((c * c * c * c).cast("decimal(38,8)")).cast("double").as("s4"),
      min(c).as("min_v"), max(c).as("max_v"))
    // One output row per REGISTERED feature, unconditionally — the
    // oracle's ungrouped aggregates emit a row even for an empty or
    // all-NULL input, where a bare groupBy (and the inner joins below)
    // would silently drop the feature most worth flagging.
    val names = named.map(_._1).distinct.toDF("feature")
    val mom = names.join(momGrouped, Seq("feature"), "left")
      .na.fill(0L, Seq("n_rows", "n_filled"))
    // distinct non-null values for the percentile device and the
    // cnt-weighted (exact bigint) outlier counts; lazy pin — the
    // device's probe job materializes it, outliers reuse the RDD
    val vals = melted.filter(c.isNotNull).groupBy(col("feature"), c)
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val qs = graft.functions.PrefixSum.exactPercentilesOnCounts(
      vals, "v", "cnt", Seq("feature"),
      Seq("q25_0" -> 0.25, "q50_0" -> 0.5, "q75_0" -> 0.75)).drop("pct_n")
    val nf = col("n_filled")
    // try_divide everywhere a divisor can be zero (empty/all-NULL
    // feature: nf = 0; constant feature: varP = 0): ANSI `/` THROWS on a
    // zero divisor while DuckDB yields NULL for every division by zero —
    // try_divide is DuckDB's exact semantics, and on nonzero divisors it
    // is the same Divide arithmetic bit-for-bit.
    def tdiv(a: Column, b: Column): Column = try_divide(a, b)
    val mean = tdiv(col("s1"), nf)
    // Clamp the variance at 0: a CONSTANT feature's decimal-exact sums
    // cast to double can make s2/n − (s1/n)² a fractionally negative
    // double (≈ −1e−18), where Spark's sqrt yields NaN but DuckDB's
    // sqrt RAISES — the oracle run would crash instead of comparing.
    // CASE-style clamping preserves NULL (empty feature) on both sides
    // and is bit-identical whenever the variance is non-negative.
    def clamp0(v: Column): Column = when(v < 0, lit(0d)).otherwise(v)
    val varP = clamp0(
      tdiv(col("s2"), nf) - tdiv(col("s1"), nf) * tdiv(col("s1"), nf))
    val m3 = tdiv(col("s3"), nf) - lit(3) * tdiv(col("s1"), nf) * tdiv(col("s2"), nf) +
      lit(2) * tdiv(col("s1"), nf) * tdiv(col("s1"), nf) * tdiv(col("s1"), nf)
    val m4 = tdiv(col("s4"), nf) - lit(4) * tdiv(col("s1"), nf) * tdiv(col("s3"), nf) +
      lit(6) * tdiv(col("s1"), nf) * tdiv(col("s1"), nf) * tdiv(col("s2"), nf) -
      lit(3) * tdiv(col("s1"), nf) * tdiv(col("s1"), nf) * tdiv(col("s1"), nf) * tdiv(col("s1"), nf)
    val outliers = vals.join(broadcast(momGrouped), "feature")
      .groupBy("feature")
      .agg(sum(when(abs(c - mean) > lit(3) * sqrt(varP), col("cnt")).otherwise(0L))
        .as("out_n"))
    mom.join(outliers, Seq("feature"), "left")
      .join(broadcast(qs), Seq("feature"), "left")
      // a feature with rows but no non-null values has no outlier row;
      // the oracle's SUM(CASE...) over those rows is 0, not NULL
      .withColumn("outlier_count",
        when(col("n_rows") > 0, coalesce(col("out_n"), lit(0L))))
      .select(
        col("feature"), col("n_rows"), col("n_filled"),
        r6(mean).as("mean_v"),
        r6(sqrt(clamp0(tdiv(col("s2") - tdiv(col("s1") * col("s1"), nf), nf - 1))))
          .as("std_v"),
        col("min_v"), col("max_v"),
        r6(col("q25_0")).as("q25"),
        r6(col("q50_0")).as("median_v"),
        r6(col("q75_0")).as("q75"),
        r6(tdiv(m3, sqrt(varP) * varP)).as("skewness"),
        r6(tdiv(m4, varP * varP) - lit(3)).as("kurtosis"),
        col("outlier_count"),
        r6(tdiv(col("outlier_count").cast("double"), nf)).as("outlier_rate"))
      .orderBy("feature")
  }

  /** Categorical feature profile (feature_store_manager.py:846-855):
    * distinct count, most-frequent value+count, Shannon entropy (bits),
    * and a top-5 "value:count" digest. The rank window runs over the
    * per-value AGGREGATE — bounded by category cardinality, which for
    * profiled dimension columns is small by construction (a
    * high-cardinality column would take a sketch profile instead).
    * Entropy terms sum through decimals so the float result is
    * partition-order-independent. */
  def featureStatsCat(named: Seq[(String, DataFrame)]): DataFrame = {
    val stats = named.map { case (name, dfc) =>
      val vdf = dfc.select(col(dfc.columns.head).cast("string").as("v"))
      val counts = vdf.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val total = vdf.agg(count(lit(1)).as("n_rows"))
      // explicit NULLS LAST on the tie-break: Spark's default ASC is
      // NULLS FIRST where DuckDB's ROW_NUMBER is NULLS LAST — a NULL
      // category tying another value's count would otherwise rank
      // differently per engine
      val w = Window.partitionBy(onePart(col("cnt")))
        .orderBy(col("cnt").desc, col("v").asc_nulls_last)
      val p = col("cnt").cast("double") / col("n_rows")
      counts.withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(total))
        .agg(
          max(col("n_rows")).as("n_rows"),
          count(lit(1)).as("unique_values"),
          max(when(col("rn") === 1, col("v"))).as("most_frequent_value"),
          max(when(col("rn") === 1, col("cnt"))).as("most_frequent_count"),
          sum(((p * lit(-1)) * log(p) / log(lit(2.0))).cast("decimal(20,12)"))
            .cast("double").as("entropy0"),
          expr("array_join(transform(array_sort(collect_list(" +
            "CASE WHEN rn <= 5 THEN named_struct('r', rn, 's', v || ':' || CAST(cnt AS STRING)) END" +
            ")), x -> x.s), ',')").as("top5"))
        .select(lit(name).as("feature"), col("n_rows"), col("unique_values"),
          col("most_frequent_value"), col("most_frequent_count"),
          r6(col("entropy0")).as("entropy"), col("top5"))
    }
    stats.reduce(_ unionAll _).orderBy("feature")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rfm_features" -> ((s, d) => rfmExact(Tables.events(s, d))),
    "q_rolling_features" -> ((s, d) => rolling(Tables.events(s, d))),
    "q_sessionize" -> ((s, d) => sessionize(Tables.events(s, d))),
    "q_session_paths" -> ((s, d) => sessionPaths(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => funnel(Tables.events(s, d))),
    "q_funnel_ordered" -> ((s, d) => funnelOrdered(Tables.events(s, d))),
    "q_txn_enrich" -> ((s, d) => enrichTransactions(Tables.events(s, d))),
    "q_psi_drift" -> ((s, d) => psiDrift(Tables.events(s, d))),
    "q_ks_drift" -> ((s, d) => ksDrift(Tables.events(s, d))),
    "q_drift_sweep" -> ((s, d) => driftSweep(Tables.lineitem(s, d))),
    "q_feature_stats" -> ((s, d) => featureStats(Seq(
      "customer.c_acctbal" -> Tables.customer(s, d).select("c_acctbal"),
      "events.value" -> Tables.events(s, d).select("value"),
      "lineitem.l_extendedprice" -> Tables.lineitem(s, d).select("l_extendedprice"),
      "orders.o_totalprice" -> Tables.orders(s, d).select("o_totalprice")))),
    "q_feature_stats_cat" -> ((s, d) => featureStatsCat(Seq(
      "customer.c_mktsegment" -> Tables.customer(s, d).select("c_mktsegment"),
      "documents.lang" -> Tables.documents(s, d).select("lang"),
      "events.event_type" -> Tables.events(s, d).select("event_type"),
      "lineitem.l_returnflag" -> Tables.lineitem(s, d).select("l_returnflag"),
      "orders.o_orderpriority" -> Tables.orders(s, d).select("o_orderpriority"))))
  )

  val oracles: Map[String, String] = Map(
    "q_rfm_features" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         ref AS (SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS ref_s FROM p),
         pu AS (
           SELECT user_id, MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS last_s,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary
           FROM p GROUP BY user_id),
         r AS (
           SELECT user_id, CAST(FLOOR((ref_s - last_s) / 86400.0) AS BIGINT) AS recency_days,
             frequency, monetary FROM pu, ref),
         sc AS (
           SELECT *,
             6 - NTILE(5) OVER (ORDER BY recency_days, user_id) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
             NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
           FROM r)
         SELECT user_id, recency_days, frequency, monetary,
           CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS rfm_segment,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'CHAMPION'
                WHEN r_score >= 3 THEN 'LOYAL'
                WHEN r_score >= 2 THEN 'AT_RISK'
                ELSE 'HIBERNATING' END AS rfm_category
         FROM sc ORDER BY user_id""",
    "q_rolling_features" ->
      """SELECT event_id, user_id, value,
           LAG(value) OVER w AS lag1_value,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w3 AS DOUBLE) AS roll_sum3,
           FLOOR((CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w3 AS DOUBLE) / COUNT(*) OVER w3) * 10000 + 0.5) / 10000 AS roll_avg3,
           MAX(value) OVER w3 AS roll_max3,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           w3 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q_session_paths" ->
      """WITH t AS (
           SELECT user_id, event_type, event_id, ts,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new
           FROM t),
         s AS (
           SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM f),
         r AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_seq ORDER BY ts, event_id) AS rn
           FROM s),
         p AS (
           SELECT user_id, session_seq, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM r WHERE rn <= 5 GROUP BY 1, 2)
         SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""",
    "q_sessionize" ->
      """WITH t AS (
           SELECT user_id, event_type, value, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s,
             ts
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new
           FROM t),
         s AS (
           SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM f)
         SELECT CAST(user_id AS VARCHAR) || '-' || CAST(session_seq AS VARCHAR) AS session_id,
           user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts_s) AS start_s, MAX(ts_s) AS end_s,
           MAX(ts_s) - MIN(ts_s) AS duration_s,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",
    "q_funnel" ->
      """WITH fl AS (
           SELECT user_id,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS f_signup,
             MAX(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END) AS f_engaged,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS f_purchase
           FROM events GROUP BY user_id),
         a AS (
           SELECT CAST(SUM(f_signup) AS BIGINT) AS n_signup,
             CAST(SUM(f_signup * f_engaged) AS BIGINT) AS n_engaged,
             CAST(SUM(f_signup * f_engaged * f_purchase) AS BIGINT) AS n_converted
           FROM fl)
         SELECT 1 AS stage, 'signup' AS stage_name, n_signup AS n_users,
           FLOOR((CAST(n_signup AS DOUBLE) / n_signup) * 10000 + 0.5) / 10000 AS conversion_from_top FROM a
         UNION ALL
         SELECT 2, 'engaged', n_engaged,
           FLOOR((CAST(n_engaged AS DOUBLE) / n_signup) * 10000 + 0.5) / 10000 FROM a
         UNION ALL
         SELECT 3, 'converted', n_converted,
           FLOOR((CAST(n_converted AS DOUBLE) / n_signup) * 10000 + 0.5) / 10000 FROM a
         ORDER BY stage""",
    "q_funnel_ordered" ->
      """WITH base AS (
           SELECT user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s FROM events),
         t1s AS (
           SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts_s END) AS t1
           FROM base GROUP BY user_id HAVING MIN(CASE WHEN event_type = 'signup' THEN ts_s END) IS NOT NULL),
         t2s AS (
           SELECT base.user_id, MIN(t1) AS t1,
             MIN(CASE WHEN event_type IN ('view','click')
               AND ts_s >= t1 AND ts_s <= t1 + 604800 THEN ts_s END) AS t2
           FROM base JOIN t1s USING (user_id) GROUP BY base.user_id),
         t3s AS (
           SELECT base.user_id, MIN(t2s.t1) AS t1, MIN(t2s.t2) AS t2,
             MIN(CASE WHEN event_type = 'purchase'
               AND ts_s >= t2s.t2 AND ts_s <= t2s.t2 + 1209600 THEN ts_s END) AS t3
           FROM base JOIN t2s USING (user_id)
           WHERE t2s.t2 IS NOT NULL GROUP BY base.user_id),
         a AS (SELECT
             (SELECT CAST(COUNT(*) AS BIGINT) FROM t1s) AS n1,
             (SELECT CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM t2s) AS n2,
             (SELECT CAST(SUM(CASE WHEN t2 IS NOT NULL THEN t2 - t1 ELSE 0 END) AS BIGINT) FROM t2s) AS d2,
             (SELECT CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM t3s) AS n3,
             (SELECT CAST(SUM(CASE WHEN t3 IS NOT NULL THEN t3 - t1 ELSE 0 END) AS BIGINT) FROM t3s) AS d3)
         SELECT 1 AS stage, 'signup' AS stage_name, n1 AS n_users,
           FLOOR((CAST(n1 AS DOUBLE) / n1) * 10000 + 0.5) / 10000 AS conversion_from_top,
           0.0 AS avg_days_to_reach FROM a
         UNION ALL
         SELECT 2, 'engaged_7d', n2,
           FLOOR((CAST(n2 AS DOUBLE) / n1) * 10000 + 0.5) / 10000,
           CASE WHEN n2 > 0 THEN FLOOR((CAST(d2 AS DOUBLE) / n2 / 86400) * 10000 + 0.5) / 10000 ELSE 0.0 END FROM a
         UNION ALL
         SELECT 3, 'purchased_14d', n3,
           FLOOR((CAST(n3 AS DOUBLE) / n1) * 10000 + 0.5) / 10000,
           CASE WHEN n3 > 0 THEN FLOOR((CAST(d3 AS DOUBLE) / n3 / 86400) * 10000 + 0.5) / 10000 ELSE 0.0 END FROM a
         ORDER BY stage""",
    "q_drift_sweep" -> {
      val melt = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(f =>
        s"""SELECT '$f' AS feature, CAST($f AS DOUBLE) v,
            CASE WHEN l_orderkey <= mid THEN 1 ELSE 0 END is_ref
            FROM lineitem, b0""").mkString(" UNION ALL ")
      s"""WITH b0 AS (SELECT CAST(FLOOR(MAX(l_orderkey) / 2.0) AS BIGINT) mid FROM lineitem),
         melted AS ($melt),
         fb AS (SELECT feature, MIN(v) mn, MAX(v) mx FROM melted GROUP BY feature),
         bk AS (SELECT m.feature, CAST(LEAST(FLOOR((v - mn) / ((mx - mn) / 100)), 99) AS INT) bin, is_ref
           FROM melted m JOIN fb USING (feature)),
         kc AS (SELECT feature, bin, CAST(SUM(is_ref) AS BIGINT) ca, CAST(SUM(1 - is_ref) AS BIGINT) cb
           FROM bk GROUP BY 1, 2),
         pc AS (SELECT feature, CAST(FLOOR(bin / 10.0) AS INT) bin,
             CAST(SUM(ca) AS DOUBLE) n_ref, CAST(SUM(cb) AS DOUBLE) n_cur
           FROM kc GROUP BY 1, 2),
         t AS (SELECT feature, SUM(n_ref) t_ref, SUM(n_cur) t_cur FROM pc GROUP BY feature),
         spine AS (SELECT feature, CAST(unnest(generate_series(0, 9)) AS INT) bin FROM fb),
         filled AS (SELECT spine.feature, spine.bin, COALESCE(n_ref, 0) n_ref, COALESCE(n_cur, 0) n_cur
           FROM spine LEFT JOIN pc ON spine.feature = pc.feature AND spine.bin = pc.bin),
         terms AS (SELECT f.feature,
             GREATEST(n_ref / t_ref, 1e-6) p_ref, GREATEST(n_cur / t_cur, 1e-6) p_cur
           FROM filled f JOIN t USING (feature)),
         psi AS (SELECT feature,
             CAST(SUM(CAST((p_cur - p_ref) * ln(p_cur / p_ref) AS DECIMAL(20,12))) AS DOUBLE) psi0
           FROM terms GROUP BY feature),
         kcum AS (SELECT feature,
             SUM(ca) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_a,
             SUM(cb) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_b
           FROM kc),
         ks AS (SELECT k.feature,
             MAX(ABS(CAST(cum_a AS DOUBLE) / t_ref - CAST(cum_b AS DOUBLE) / t_cur)) ks0
           FROM kcum k JOIN t USING (feature) GROUP BY k.feature),
         per AS (SELECT p.feature, psi0, ks0 FROM psi p JOIN ks USING (feature)),
         ov AS (SELECT CAST(SUM(CAST(psi0 AS DECIMAL(20,12))) AS DOUBLE) s_psi,
             CAST(COUNT(*) AS BIGINT) features_checked,
             CAST(SUM(CASE WHEN psi0 > 0.1 THEN 1 ELSE 0 END) AS BIGINT) features_drifted
           FROM per)
         SELECT feature,
           FLOOR(psi0 * 1000000 + 0.5) / 1000000 AS psi,
           FLOOR(ks0 * 1000000 + 0.5) / 1000000 AS ks_stat,
           psi0 > 0.1 AS drift_detected,
           features_checked, features_drifted,
           FLOOR((CAST(features_drifted AS DOUBLE) / features_checked) * 1000000 + 0.5) / 1000000 AS drift_rate,
           FLOOR((s_psi / features_checked) * 1000000 + 0.5) / 1000000 AS overall_drift_score,
           CASE WHEN s_psi / features_checked > 0.2 THEN 'high'
                WHEN s_psi / features_checked > 0.1 THEN 'medium'
                ELSE 'low' END AS drift_magnitude
         FROM per, ov ORDER BY feature"""
    },
    "q_txn_enrich" ->
      """WITH base AS (
           SELECT event_id, user_id, ts, event_type, value,
             CAST(FLOOR(epoch(ts)) AS BIGINT) ts_s
           FROM events),
         pu AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) u_n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) u_s1,
             CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) u_s2
           FROM base GROUP BY user_id),
         puv AS (
           SELECT *, (u_s2 - u_s1 * u_s1 / u_n) / (u_n - 1) AS u_var FROM pu),
         pu2 AS (
           SELECT user_id, u_n, u_s1 / u_n AS u_avg,
             CASE WHEN u_n > 1 THEN sqrt(CASE WHEN u_var < 0 THEN CAST(0 AS DOUBLE) ELSE u_var END)
                  ELSE 0 END AS u_std
           FROM puv),
         pt AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) type_freq
           FROM base GROUP BY 1, 2),
         j AS (
           SELECT base.*, u_n, u_avg, u_std, type_freq,
             LAG(ts_s) OVER (PARTITION BY base.user_id ORDER BY ts, event_id) prev_s,
             hour(ts) hr, dayofweek(ts) dow
           FROM base JOIN pu2 USING (user_id) JOIN pt USING (user_id, event_type))
         SELECT event_id, user_id, ts_s, event_type, value,
           CAST(hr AS INT) AS hour_of_day, CAST(dow AS INT) AS day_of_week,
           CAST(day(ts) AS INT) AS day_of_month, CAST(month(ts) AS INT) AS month,
           CAST(quarter(ts) AS INT) AS quarter,
           dow IN (0, 6) AS is_weekend,
           hr BETWEEN 9 AND 17 AS is_business_hours,
           hr BETWEEN 18 AND 23 AS is_evening,
           hr BETWEEN 0 AND 6 AS is_night,
           FLOOR(((value - u_avg) / GREATEST(u_std, 1.0)) * 1000000 + 0.5) / 1000000 AS amount_z_score,
           FLOOR((value / GREATEST(u_avg, 1.0)) * 1000000 + 0.5) / 1000000 AS amount_vs_avg_ratio,
           type_freq,
           type_freq > 1 AS is_repeat_type,
           type_freq = 1 AS is_new_type,
           type_freq >= u_n * 0.5 AS is_preferred_type,
           value > u_avg + 2 * u_std AS high_amount_flag,
           (hr BETWEEN 0 AND 6) OR (dow IN (0, 6) AND NOT (hr BETWEEN 9 AND 17)) AS unusual_time_flag,
           FLOOR(COALESCE(CAST(ts_s - prev_s AS DOUBLE) / 3600.0, 24.0) * 1000000 + 0.5) / 1000000 AS time_since_last_hours,
           FLOOR(COALESCE(CAST(ts_s - prev_s AS DOUBLE) / 3600.0, 24.0) * 1000000 + 0.5) / 1000000 < 1 AS velocity_flag
         FROM j ORDER BY event_id""",
    "q_psi_drift" ->
      """WITH e AS (SELECT * FROM events WHERE value IS NOT NULL),
         b AS (SELECT MIN(value) mn, MAX(value) mx, CAST(FLOOR(MAX(event_id) / 2.0) AS BIGINT) mid FROM e),
         binned AS (
           SELECT CAST(LEAST(FLOOR((value - mn) / ((mx - mn) / 10)), 9) AS INT) AS bin,
             CASE WHEN event_id <= mid THEN 1 ELSE 0 END AS is_ref
           FROM e, b),
         counts AS (
           SELECT bin, CAST(SUM(is_ref) AS DOUBLE) n_ref, CAST(SUM(1 - is_ref) AS DOUBLE) n_cur
           FROM binned GROUP BY bin),
         spine AS (SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bin),
         filled AS (
           SELECT spine.bin, COALESCE(n_ref, 0) n_ref, COALESCE(n_cur, 0) n_cur
           FROM spine LEFT JOIN counts ON spine.bin = counts.bin),
         t AS (SELECT SUM(n_ref) t_ref, SUM(n_cur) t_cur FROM filled),
         terms AS (
           SELECT bin,
             GREATEST(n_ref / t_ref, 1e-6) AS p_ref,
             GREATEST(n_cur / t_cur, 1e-6) AS p_cur
           FROM filled, t),
         pt AS (
           SELECT bin, p_ref, p_cur, (p_cur - p_ref) * ln(p_cur / p_ref) AS psi_term
           FROM terms)
         SELECT bin,
           FLOOR(p_ref * 1000000 + 0.5) / 1000000 AS ref_pct,
           FLOOR(p_cur * 1000000 + 0.5) / 1000000 AS cur_pct,
           FLOOR(psi_term * 1000000 + 0.5) / 1000000 AS psi_term,
           FLOOR(CAST(SUM(CAST(psi_term AS DECIMAL(20,12))) OVER () AS DOUBLE) * 1000000 + 0.5) / 1000000 AS psi_total
         FROM pt ORDER BY bin""",
    "q_ks_drift" ->
      """WITH s AS (
           SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
           FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
         b AS (SELECT MIN(value) mn, MAX(value) mx,
           CAST(SUM(is_a) AS BIGINT) na, CAST(SUM(1 - is_a) AS BIGINT) nb FROM s),
         counts AS (
           SELECT CAST(LEAST(FLOOR((value - mn) / ((mx - mn) / 1000)), 999) AS INT) AS bin,
             CAST(SUM(is_a) AS BIGINT) ca, CAST(SUM(1 - is_a) AS BIGINT) cb
           FROM s, b GROUP BY 1),
         c AS (
           SELECT SUM(ca) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_a,
             SUM(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_b
           FROM counts)
         SELECT FLOOR(MAX(ABS(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)) * 1000000 + 0.5) / 1000000 AS ks_stat,
           MAX(na) AS n_sample_a, MAX(nb) AS n_sample_b
         FROM c, b""",
    "q_feature_stats" -> Seq(
      ("customer.c_acctbal", "c_acctbal", "customer"),
      ("events.value", "value", "events"),
      ("lineitem.l_extendedprice", "l_extendedprice", "lineitem"),
      ("orders.o_totalprice", "o_totalprice", "orders")).map { case (f, c, t) =>
      // sub-expression shapes mirror the Spark columns EXACTLY so the
      // double arithmetic is bit-identical before the final FLOOR-round
      s"""SELECT * FROM (
          WITH m AS (
            SELECT CAST(COUNT(*) AS BIGINT) n_rows, CAST(COUNT($c) AS BIGINT) n_filled,
              CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) s1,
              CAST(SUM(CAST($c * $c AS DECIMAL(30,8))) AS DOUBLE) s2,
              CAST(SUM(CAST($c * $c * $c AS DECIMAL(38,8))) AS DOUBLE) s3,
              CAST(SUM(CAST($c * $c * $c * $c AS DECIMAL(38,8))) AS DOUBLE) s4,
              MIN($c) min_v, MAX($c) max_v,
              quantile_cont($c, 0.25) q25r, quantile_cont($c, 0.5) medr, quantile_cont($c, 0.75) q75r
            FROM $t),
          mm AS (
            -- variance clamped at 0 (constant column: decimal-exact sums
            -- cast to double can leave a fractionally negative variance,
            -- and DuckDB's sqrt raises where Spark yields NaN); CASE
            -- preserves NULL exactly like the Spark side's clamp0
            SELECT *,
              CASE WHEN s2 / n_filled - (s1 / n_filled) * (s1 / n_filled) < 0
                THEN CAST(0 AS DOUBLE)
                ELSE s2 / n_filled - (s1 / n_filled) * (s1 / n_filled) END AS vp,
              CASE WHEN (s2 - s1 * s1 / n_filled) / (n_filled - 1) < 0
                THEN CAST(0 AS DOUBLE)
                ELSE (s2 - s1 * s1 / n_filled) / (n_filled - 1) END AS sv
            FROM m),
          o AS (
            SELECT CAST(SUM(CASE WHEN ABS($c - s1 / n_filled) >
                3 * sqrt(vp)
              THEN 1 ELSE 0 END) AS BIGINT) outlier_count
            FROM $t, mm)
          SELECT '$f' AS feature, n_rows, n_filled,
            FLOOR((s1 / n_filled) * 1000000 + 0.5) / 1000000 AS mean_v,
            FLOOR(sqrt(sv) * 1000000 + 0.5) / 1000000 AS std_v,
            min_v, max_v,
            FLOOR(q25r * 1000000 + 0.5) / 1000000 AS q25,
            FLOOR(medr * 1000000 + 0.5) / 1000000 AS median_v,
            FLOOR(q75r * 1000000 + 0.5) / 1000000 AS q75,
            FLOOR((s3 / n_filled - 3 * (s1 / n_filled) * (s2 / n_filled)
                + 2 * (s1 / n_filled) * (s1 / n_filled) * (s1 / n_filled))
              / (sqrt(vp) * vp) * 1000000 + 0.5) / 1000000 AS skewness,
            FLOOR(((s4 / n_filled - 4 * (s1 / n_filled) * (s3 / n_filled)
                + 6 * (s1 / n_filled) * (s1 / n_filled) * (s2 / n_filled)
                - 3 * (s1 / n_filled) * (s1 / n_filled) * (s1 / n_filled) * (s1 / n_filled))
              / (vp * vp) - 3) * 1000000 + 0.5) / 1000000 AS kurtosis,
            outlier_count,
            FLOOR((CAST(outlier_count AS DOUBLE) / n_filled) * 1000000 + 0.5) / 1000000 AS outlier_rate
          FROM mm, o)"""
    }.mkString("", " UNION ALL ", " ORDER BY feature"),
    "q_feature_stats_cat" -> Seq(
      ("customer.c_mktsegment", "c_mktsegment", "customer"),
      ("documents.lang", "lang", "documents"),
      ("events.event_type", "event_type", "events"),
      ("lineitem.l_returnflag", "l_returnflag", "lineitem"),
      ("orders.o_orderpriority", "o_orderpriority", "orders")).map { case (f, c, t) =>
      s"""SELECT * FROM (
          WITH vv AS (SELECT CAST($c AS VARCHAR) v FROM $t),
          counts AS (SELECT v, CAST(COUNT(*) AS BIGINT) cnt FROM vv GROUP BY v),
          tt AS (SELECT CAST(COUNT(*) AS BIGINT) n_rows FROM vv),
          ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, v) rn FROM counts)
          SELECT '$f' AS feature,
            MAX(n_rows) AS n_rows,
            CAST(COUNT(*) AS BIGINT) AS unique_values,
            MAX(CASE WHEN rn = 1 THEN v END) AS most_frequent_value,
            MAX(CASE WHEN rn = 1 THEN cnt END) AS most_frequent_count,
            FLOOR(CAST(SUM(CAST(((CAST(cnt AS DOUBLE) / n_rows * -1) * ln(CAST(cnt AS DOUBLE) / n_rows)) / ln(2.0)
              AS DECIMAL(20,12))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS entropy,
            string_agg(CASE WHEN rn <= 5 THEN v || ':' || CAST(cnt AS VARCHAR) END, ',' ORDER BY rn) AS top5
          FROM ranked, tt)"""
    }.mkString("", " UNION ALL ", " ORDER BY feature")
  )
}
