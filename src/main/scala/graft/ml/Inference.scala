package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns._

/** Batch inference analytics — the reference's ensemble-prediction and
  * aggregated-feature-store surface re-expressed as Spark scans.
  *
  * Re-expresses /root/reference/ml_platform:
  *   - ensembleScore: MLPipelineFramework.predict_ensemble
  *     (core/ml_pipeline_framework.py:533-575) and the inference
  *     service's equal-weight ensemble + mock model trio
  *     (inference/realtime_inference_service.py:194-282) — standardize
  *     features with a global scaler, score three deterministic model
  *     twins, average into an ensemble probability with confidence and
  *     agreement flags.
  *   - aggFeatureStore: the pre-computed aggregated_features entity mart
  *     (core/ml_pipeline_framework.py:273-306) — per-entity statistical
  *     aggregations (mean/std/median/p95), an exact least-squares amount
  *     trend, a day-of-week preference score, and min-max-scaled
  *     RFM-style interaction scores.
  *
  * Scale shape: ensembleScore is ONE broadcast of three global moments
  * plus a row-local scoring pass (no shuffle grows with data); the
  * feature store is two aggregations over the same entity key (the
  * second consumes the first's exchange) plus a broadcast of global
  * normalization bounds. The reference pulls features per record-id
  * batch from Snowflake; here the whole entity population is scored in
  * one distributed pass — the batch twin of its row-service loop.
  */
object Inference {

  /** logistic(t) = 1/(1+e^-t) — written with the same operation order in
    * the oracle SQL so the doubles agree to the last bit before r6. */
  private def sigmoid(t: Column): Column = lit(1d) / (lit(1d) + exp(-t))

  /** The three deterministic model twins over standardized features —
    * shared by the batch scorer, the streaming serving twin, and the
    * CV / robustness marts ([[CrossVal]]), so every consumer scores
    * with literally the same column expressions. */
  def pXgb(z1: Column, z2: Column, z3: Column): Column =
    sigmoid(lit(0.8d) * z1 + lit(0.4d) * z2 - lit(0.2d) * z3)
  def pRf(z1: Column, z2: Column, z3: Column): Column =
    (when(z1 > 0d, 1d).otherwise(0d) +
      when(z2 > 0.5d, 1d).otherwise(0d) +
      when(z3 < 0d, 1d).otherwise(0d)) / lit(3d)
  def pNn(z1: Column, z2: Column, z3: Column): Column =
    sigmoid(
      lit(1.5d) * (sigmoid(z1 + lit(0.5d) * z2) - lit(0.5d)) +
        lit(0.8d) * (sigmoid(z2 - z3) - lit(0.5d)))

  /** Standardize `value` against the broadcast moment columns
    * (`n`, `s1_i`, `s2_i`) in scope — the single copy of the population
    * scaler formula (load-bearing for oracle bit-parity) every consumer
    * shares: [[scoreWith]], the streaming twin, and the CV/robustness
    * marts ([[CrossVal]]). */
  def zOf(value: Column, i: Int): Column =
    // mean_i / std_i are precomputed ONCE per (broadcast, 1-or-k-row)
    // moments frame by [[withScaler]] — the per-data-row work is one
    // subtract + one try_divide (NULL at an exactly-zero std, exactly
    // DuckDB's division-by-zero), not five divisions and a sqrt. This
    // scaler is the hot expression of the CV/robustness marts.
    try_divide(value - col(s"mean_$i"), col(s"std_$i"))

  /** Append the derived scaler columns (`mean_i`, `std_i`) to a moments
    * frame carrying `n`, `s1_i`, `s2_i`. The variance is clamped at 0
    * with greatest: a CONSTANT feature's decimal-exact sums cast to
    * double can leave it fractionally negative, where Spark's sqrt
    * yields NaN but DuckDB's RAISES (the oracle run would crash). Both
    * engines' GREATEST ignore the impossible-NULL side identically, and
    * on spread data the arithmetic is bit-identical to the unguarded
    * formula the oracle twins inline per row ([[zSql]]). */
  def withScaler(moments: DataFrame): DataFrame = {
    def varP(i: Int): Column =
      col(s"s2_$i") / col("n") - (col(s"s1_$i") / col("n")) * (col(s"s1_$i") / col("n"))
    (1 to 3).foldLeft(moments) { (m, i) =>
      m.withColumn(s"mean_$i", col(s"s1_$i") / col("n"))
        .withColumn(s"std_$i", sqrt(greatest(varP(i), lit(0d))))
    }
  }

  /** SQL twin of [[zOf]] for the oracle strings — same clamped-variance
    * shape so the double arithmetic matches bit-for-bit. */
  def zSql(v: String, i: Int): String = {
    val vp = s"s2_$i/n - (s1_$i/n)*(s1_$i/n)"
    s"($v - s1_$i/n) / sqrt(GREATEST($vp, CAST(0 AS DOUBLE)))"
  }

  /** zOf of the raw feature column f_i itself. */
  def zMoment(i: Int): Column = zOf(col(s"f$i"), i)

  /** All four model probabilities over one standardized feature triple —
    * the equal-weight ensemble included. */
  def ensembleProbs(z1: Column, z2: Column, z3: Column): Map[String, Column] = {
    val (px, pr, pn) = (pXgb(z1, z2, z3), pRf(z1, z2, z3), pNn(z1, z2, z3))
    Map("xgb" -> px, "rf" -> pr, "nn" -> pn, "ens" -> (px + pr + pn) / lit(3d))
  }

  /** The three raw model features per order — shared by the batch path
    * and the streaming serving twin ([[graft.streaming.InferStream]]):
    * f1 = o_totalprice, f2 = priority rank (1-5), f3 = weekday(0-6). */
  def features(orders: DataFrame): DataFrame = orders.select(
    col("o_orderkey"),
    col("o_totalprice").cast("double").as("f1"),
    substring(col("o_orderpriority"), 1, 1).cast("double").as("f2"),
    expr("weekday(o_orderdate)").cast("double").as("f3"))

  /** Fit the global scaler: one row of exact decimal moments (population
    * std, ddof=0, as sklearn's StandardScaler). This is the "model
    * artifact" a serving deployment broadcasts. */
  def fitMoments(orders: DataFrame): DataFrame = withScaler(features(orders).agg(
    count(lit(1)).as("n"),
    sum(col("f1").cast("decimal(18,4)")).cast("double").as("s1_1"),
    sum((col("f1") * col("f1")).cast("decimal(30,8)")).cast("double").as("s2_1"),
    sum(col("f2").cast("decimal(18,4)")).cast("double").as("s1_2"),
    sum((col("f2") * col("f2")).cast("decimal(30,8)")).cast("double").as("s2_2"),
    sum(col("f3").cast("decimal(18,4)")).cast("double").as("s1_3"),
    sum((col("f3") * col("f3")).cast("decimal(30,8)")).cast("double").as("s2_3")))

  /** Row-local ensemble scoring of a feature frame against a broadcast
    * one-row scaler — stateless, so it runs identically over a batch
    * frame or inside a micro-batch (no shuffle downstream of the
    * broadcast; unsorted, callers order at the edge). */
  def scoreWith(feats: DataFrame, moments: DataFrame): DataFrame = {
    val scaled = feats.crossJoin(broadcast(moments))
      .select(col("o_orderkey"),
        zMoment(1).as("z1"), zMoment(2).as("z2"), zMoment(3).as("z3"))
    scaled
      .withColumn("p_xgb", pXgb(col("z1"), col("z2"), col("z3")))
      .withColumn("p_rf", pRf(col("z1"), col("z2"), col("z3")))
      .withColumn("p_nn", pNn(col("z1"), col("z2"), col("z3")))
      .withColumn("p_ens", (col("p_xgb") + col("p_rf") + col("p_nn")) / lit(3d))
      .select(
        col("o_orderkey"),
        r6(col("z1")).as("z_amount"),
        r6(col("p_xgb")).as("p_xgb"),
        r6(col("p_rf")).as("p_rf"),
        r6(col("p_nn")).as("p_nn"),
        r6(col("p_ens")).as("p_ensemble"),
        (col("p_ens") > 0.5d).as("prediction"),
        r6(abs(col("p_ens") - 0.5d) * 2d).as("confidence"),
        ((col("p_xgb") > 0.5d) === (col("p_ens") > 0.5d) &&
          (col("p_rf") > 0.5d) === (col("p_ens") > 0.5d) &&
          (col("p_nn") > 0.5d) === (col("p_ens") > 0.5d)).as("models_agree"))
  }

  /** Ensemble batch scoring over orders: [[features]] standardized with
    * the population scaler the reference's MockScaler stands in for
    * (exact decimal moment sums). Model twins: a boosted-margin
    * logistic, a 3-stump vote share, and a tiny fixed 2-unit MLP.
    * Equal-weight ensemble, pred at 0.5, confidence = 2|p-0.5|,
    * agreement = all three models vote with the ensemble. */
  def ensembleScore(orders: DataFrame): DataFrame =
    scoreWith(features(orders), fitMoments(orders)).orderBy("o_orderkey")

  /** Calibration reliability bins over the ensemble scores — the
    * reliability-diagram frame (and the per-bin ECE terms) model
    * monitoring plots: scores bucketed into 10 equi-width bins, per bin
    * the mean predicted probability vs the observed positive rate and
    * their absolute gap. Outcome = order priority is URGENT/HIGH.
    * Binning happens on the r6-rounded score — identical doubles in
    * both engines, so no observation flips bins at an edge; the mean
    * is an exact DECIMAL sum of those 6-decimal scores. Scoring is
    * row-local after one broadcast moments row, the outcome join is
    * co-keyed on o_orderkey, and the rollup lands on a 10-row grid —
    * nothing here grows with order count but the two scans.
    * Ref: /root/reference/ml_platform/ml_monitoring_system.py:371
    * (performance monitoring) — the calibration view of the same
    * prediction stream. */
  def calibrationBins(orders: DataFrame): DataFrame = {
    val lab = orders.select(col("o_orderkey").as("k"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("actual"))
    scoreWith(features(orders), fitMoments(orders))
      .join(lab, col("o_orderkey") === col("k"))
      .withColumn("bin",
        least(lit(9L), floor(col("p_ensemble") * 10d)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(col("p_ensemble").cast("decimal(18,8)")).cast("double") /
          count(lit(1))).as("mp0"),
        sum(when(col("actual"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        r6(col("mp0")).as("mean_predicted"),
        r6(col("n_pos") / col("n")).as("observed_rate"),
        r6(abs(col("mp0") - col("n_pos") / col("n"))).as("abs_gap"))
      .orderBy("bin")
  }

  /** Aggregated feature-store mart: one row per customer with the
    * reference's aggregated_features columns derived from orders. Two
    * aggregations over o_custkey (percentiles can't compose from
    * partials, so the dow-preference pre-aggregate joins the entity
    * aggregate on the same key — co-partitioned, no extra exchange
    * pattern at scale) plus one broadcast row of global min-max bounds
    * for the RFM-style normalized scores. */
  def aggFeatureStore(orders: DataFrame): DataFrame = {
    val base = orders.select(
      col("o_custkey"),
      col("o_totalprice").cast("double").as("amt"),
      datediff(to_date(lit("1998-12-31")), col("o_orderdate")).cast("double").as("age_days"),
      expr("weekday(o_orderdate)").cast("int").as("dow"))
    val ent = base.groupBy(col("o_custkey")).agg(
      count(lit(1)).as("n_orders"),
      decSum(col("amt")).as("s1"),
      decSumSq(col("amt")).as("s2"),
      expr("percentile(amt, 0.5)").as("med0"),
      expr("percentile(amt, 0.95)").as("p95_0"),
      min(col("age_days")).as("recency_days"),
      max(col("age_days")).as("tenure_days"),
      // exact least-squares slope of amount over days-before-cutoff
      // (trend per day TOWARD the cutoff, so the sign is negated below)
      decSum(col("age_days")).as("sx"),
      decSumSq(col("age_days")).as("sxx"),
      sum((col("age_days") * col("amt")).cast("decimal(38,8)")).cast("double").as("sxy"))
    val dow = base.groupBy(col("o_custkey"), col("dow"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("o_custkey"))
      .agg(max(col("c")).as("top_dow_n"), sum(col("c")).as("dow_total"))
    val n = col("n_orders").cast("double")
    val slopeDen = n * col("sxx") - col("sx") * col("sx")
    val joined = ent.join(dow, "o_custkey")
      .withColumn("amount_mean", col("s1") / n)
      .withColumn("svar", sampleVar(n, col("s1"), col("s2")))
      .withColumn("amount_std", sampleSd(n, col("svar")))
      .withColumn("amount_trend",
        when(slopeDen > 0d, -(n * col("sxy") - col("sx") * col("s1")) / slopeDen)
          .otherwise(lit(0d)))
      .withColumn("dow_preference",
        col("top_dow_n").cast("double") / col("dow_total"))
      // customer_lifetime_value (feature_store_manager.py:204-207):
      // total_spent / tenure in years, tenure floored at 0.1y; tenure
      // runs from the FIRST order to the cutoff (the orders-derived twin
      // of the reference's signup_date).
      .withColumn("clv",
        col("s1") / greatest(col("tenure_days") / lit(365.25d), lit(0.1d)))
    val bounds = joined.agg(
      min(col("recency_days")).as("rec_mn"), max(col("recency_days")).as("rec_mx"),
      min(col("n_orders")).as("frq_mn"), max(col("n_orders")).as("frq_mx"),
      min(col("s1")).as("mon_mn"), max(col("s1")).as("mon_mx"))
    def norm(v: Column, mn: Column, mx: Column): Column =
      when(mx > mn, (v - mn) / (mx - mn)).otherwise(lit(0d))
    joined.crossJoin(broadcast(bounds))
      .withColumn("rec_n", norm(col("recency_days"), col("rec_mn").cast("double"), col("rec_mx").cast("double")))
      .withColumn("frq_n", norm(col("n_orders").cast("double"), col("frq_mn").cast("double"), col("frq_mx").cast("double")))
      .withColumn("mon_n", norm(col("s1"), col("mon_mn"), col("mon_mx")))
      .select(
        col("o_custkey").as("entity_id"),
        col("n_orders"),
        r4(col("amount_mean")).as("amount_mean"),
        r4(col("amount_std")).as("amount_std"),
        r4(col("med0")).as("amount_median"),
        r4(col("p95_0")).as("amount_p95"),
        r6(col("amount_trend")).as("amount_trend"),
        r6(col("dow_preference")).as("dow_preference_score"),
        col("recency_days").cast("long").as("recency_days"),
        r4(col("clv")).as("customer_lifetime_value"),
        r6(col("mon_n") * col("frq_n")).as("amount_x_frequency_score"),
        r6((lit(1d) - col("rec_n")) * 0.3d + col("frq_n") * 0.3d + col("mon_n") * 0.4d)
          .as("rfm_composite_score"))
      .orderBy("entity_id")
  }

  /** Derived customer features — the tail of the reference's feature
    * store (_calculate_customer_derived_features,
    * feature_store_manager.py:244-257) beyond what [[aggFeatureStore]]
    * already emits: churn_probability (the recency/order-frequency-gated
    * piecewise formula, clipped to [0,1]), value_tier (qcut quartiles of
    * customer lifetime value → Bronze/Silver/Gold/Platinum),
    * engagement_consistency (active weeks over tenure weeks) and
    * spending_consistency (1 − std/mean of order value). Orders-derived
    * twins of the reference's signup/last-order anchors: tenure runs
    * from the first order to the 1998-12-31 cutoff, recency from the
    * last order — the same conventions the CLV column above pinned.
    *
    * Scale shape: ONE aggregation to customer grain (count-distinct of
    * epoch weeks rides the same shuffle), pinned once; the value-tier
    * quartile edges come from the exact cumulative-count device
    * ([[graft.functions.PrefixSum]]) over the CLV-grain distinct frame —
    * never an |customers|-sized single-reducer percentile buffer — and
    * the 3-edge row is broadcast back, so tier assignment is row-local.
    * Boundary CLVs tier by strict `>` against the edge (the boundary
    * value stays in the lower tier, qcut's right-closed convention),
    * deterministic under ties in both engines, unlike ntile. Edges are
    * computed on the r4-ROUNDED CLV so the tier cut and the emitted
    * customer_lifetime_value column can never disagree. */
  def customerDerived(orders: DataFrame): DataFrame = {
    val base = orders.select(
      col("o_custkey"),
      col("o_totalprice").cast("double").as("amt"),
      datediff(to_date(lit("1998-12-31")), col("o_orderdate")).cast("double").as("age_days"),
      // epoch week by integer day arithmetic (float /7 could flip a
      // boundary day in one engine's last ulp)
      expr("datediff(o_orderdate, DATE'1970-01-01') div 7").cast("long").as("wk"))
    val n = col("n_orders").cast("double")
    val ent = base.groupBy(col("o_custkey")).agg(
      count(lit(1)).as("n_orders"),
      decSum(col("amt")).as("s1"),
      decSumSq(col("amt")).as("s2"),
      min(col("age_days")).as("recency_days"),
      max(col("age_days")).as("tenure_days"),
      countDistinct(col("wk")).as("active_weeks"))
      .withColumn("amount_mean", col("s1") / n)
      .withColumn("svar", sampleVar(n, col("s1"), col("s2")))
      .withColumn("amount_std", sampleSd(n, col("svar")))
      .withColumn("clv",
        r4(col("s1") / greatest(col("tenure_days") / lit(365.25d), lit(0.1d))))
      .withColumn("ofreq", n / greatest(col("tenure_days") / lit(30d), lit(1d)))
      // pinned: the quartile-edge branch (distinct + eager NDV probe)
      // and the final projection otherwise each re-run the orders scan
      .localCheckpoint(false)
    val dist = ent.groupBy(col("clv")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val cum = graft.functions.PrefixSum.cumulative(dist, "clv", "c")
    val tot = dist.agg(sum(col("c")).as("n"))
    val ks = (1 to 3).map(lit(_))
    val edges = cum.crossJoin(broadcast(tot))
      .select(col("clv"), col("cum"), col("n"), explode(array(ks: _*)).as("k"))
      .filter(col("cum") >= expr("(k * n + 3) div 4"))
      .groupBy(col("k")).agg(min(col("clv")).as("e"))
    val eAggs = (1 to 3).map(k => max(when(col("k") === k, col("e"))).as(s"e$k"))
    val edgeRow = edges.agg(eAggs.head, eAggs.tail: _*)
    val churnRaw =
      when(col("recency_days") > 90d, lit(0.8d) - col("ofreq") * lit(0.1d))
        .otherwise(lit(0.2d) + (col("recency_days") / lit(365d)) * lit(0.3d))
    ent.crossJoin(broadcast(edgeRow))
      .select(
        col("o_custkey").as("entity_id"),
        col("n_orders"),
        col("recency_days").cast("long").as("recency_days"),
        col("tenure_days").cast("long").as("tenure_days"),
        col("active_weeks"),
        col("clv").as("customer_lifetime_value"),
        r6(col("ofreq")).as("order_frequency"),
        r6(least(greatest(churnRaw, lit(0d)), lit(1d))).as("churn_probability"),
        when(col("clv") > col("e3"), "Platinum")
          .when(col("clv") > col("e2"), "Gold")
          .when(col("clv") > col("e1"), "Silver")
          .otherwise("Bronze").as("value_tier"),
        r6(col("active_weeks").cast("double") /
          greatest(col("tenure_days") / lit(7d), lit(1d))).as("engagement_consistency"),
        r6(when(n > 1d,
          lit(1d) - col("amount_std") / greatest(col("amount_mean"), lit(1d))))
          .as("spending_consistency"))
      .orderBy("entity_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ensemble_score" -> ((s, d) => ensembleScore(Tables.orders(s, d))),
    "q_agg_feature_store" -> ((s, d) => aggFeatureStore(Tables.orders(s, d))),
    "q_customer_derived" -> ((s, d) => customerDerived(Tables.orders(s, d))),
    "q_calibration_bins" -> ((s, d) => calibrationBins(Tables.orders(s, d)))
  )

  /** Shared oracle CTE chain for the mock-ensemble family: raw features
    * → global moments → z-scores → per-model probabilities → p_ens.
    * q_ensemble_score selects the scored frame from it;
    * q_calibration_bins rolls the same chain up to reliability bins. */
  private val ensCtes: String =
    s"""raw AS (
           SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS f1,
             CAST(substr(o_orderpriority, 1, 1) AS DOUBLE) AS f2,
             CAST(isodow(o_orderdate) - 1 AS DOUBLE) AS f3
           FROM orders),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) n,
             CAST(SUM(CAST(f1 AS DECIMAL(18,4))) AS DOUBLE) s1_1,
             CAST(SUM(CAST(f1*f1 AS DECIMAL(30,8))) AS DOUBLE) s2_1,
             CAST(SUM(CAST(f2 AS DECIMAL(18,4))) AS DOUBLE) s1_2,
             CAST(SUM(CAST(f2*f2 AS DECIMAL(30,8))) AS DOUBLE) s2_2,
             CAST(SUM(CAST(f3 AS DECIMAL(18,4))) AS DOUBLE) s1_3,
             CAST(SUM(CAST(f3*f3 AS DECIMAL(30,8))) AS DOUBLE) s2_3
           FROM raw),
         z AS (SELECT o_orderkey,
             ${zSql("f1", 1)} AS z1,
             ${zSql("f2", 2)} AS z2,
             ${zSql("f3", 3)} AS z3
           FROM raw CROSS JOIN m),
         p AS (SELECT o_orderkey, z1,
             1.0/(1.0 + exp(-(0.8*z1 + 0.4*z2 - 0.2*z3))) AS p_xgb,
             ((CASE WHEN z1 > 0 THEN 1.0 ELSE 0.0 END) +
              (CASE WHEN z2 > 0.5 THEN 1.0 ELSE 0.0 END) +
              (CASE WHEN z3 < 0 THEN 1.0 ELSE 0.0 END)) / 3.0 AS p_rf,
             1.0/(1.0 + exp(-(
               1.5*(1.0/(1.0 + exp(-(z1 + 0.5*z2))) - 0.5) +
               0.8*(1.0/(1.0 + exp(-(z2 - z3))) - 0.5)))) AS p_nn
           FROM z),
         e AS (SELECT *, (p_xgb + p_rf + p_nn) / 3.0 AS p_ens FROM p)"""

  val oracles: Map[String, String] = Map(
    "q_ensemble_score" ->
      s"""WITH $ensCtes
         SELECT o_orderkey,
           FLOOR(z1 * 1000000 + 0.5) / 1000000 AS z_amount,
           FLOOR(p_xgb * 1000000 + 0.5) / 1000000 AS p_xgb,
           FLOOR(p_rf * 1000000 + 0.5) / 1000000 AS p_rf,
           FLOOR(p_nn * 1000000 + 0.5) / 1000000 AS p_nn,
           FLOOR(p_ens * 1000000 + 0.5) / 1000000 AS p_ensemble,
           p_ens > 0.5 AS prediction,
           FLOOR(abs(p_ens - 0.5) * 2 * 1000000 + 0.5) / 1000000 AS confidence,
           ((p_xgb > 0.5) = (p_ens > 0.5) AND (p_rf > 0.5) = (p_ens > 0.5)
             AND (p_nn > 0.5) = (p_ens > 0.5)) AS models_agree
         FROM e ORDER BY o_orderkey""",
    "q_calibration_bins" ->
      s"""WITH $ensCtes,
         ens AS (SELECT o_orderkey,
             FLOOR(p_ens * 1000000 + 0.5) / 1000000 AS p_ensemble FROM e),
         lab AS (SELECT o_orderkey,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS actual FROM orders),
         b AS (SELECT LEAST(9, CAST(FLOOR(p_ensemble * 10) AS BIGINT)) AS bin0,
             p_ensemble, actual
           FROM ens JOIN lab USING (o_orderkey)),
         agg AS (SELECT CAST(bin0 AS INT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p_ensemble AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS mp0,
             CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
           FROM b GROUP BY 1)
         SELECT bin, n, n_pos,
           ${sqlR("mp0", 6)} AS mean_predicted,
           ${sqlR("CAST(n_pos AS DOUBLE) / n", 6)} AS observed_rate,
           ${sqlR("abs(mp0 - CAST(n_pos AS DOUBLE) / n)", 6)} AS abs_gap
         FROM agg ORDER BY bin""",
    "q_customer_derived" ->
      s"""WITH base AS (
           SELECT o_custkey,
             CAST(o_totalprice AS DOUBLE) AS amt,
             CAST(datediff('day', o_orderdate, DATE '1998-12-31') AS DOUBLE) AS age_days,
             datediff('day', DATE '1970-01-01', o_orderdate) // 7 AS wk
           FROM orders),
         ent AS (SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) n_orders,
             CAST(SUM(CAST(amt AS DECIMAL(18,4))) AS DOUBLE) s1,
             CAST(SUM(CAST(amt*amt AS DECIMAL(30,8))) AS DOUBLE) s2,
             MIN(age_days) recency_days,
             MAX(age_days) tenure_days,
             CAST(COUNT(DISTINCT wk) AS BIGINT) active_weeks
           FROM base GROUP BY o_custkey),
         d AS (SELECT *,
             s1 / n_orders AS amount_mean,
             CASE WHEN n_orders > 1
               THEN sqrt(CASE WHEN (s2 - s1*s1/n_orders) / (n_orders - 1) < 0
                 THEN CAST(0 AS DOUBLE)
                 ELSE (s2 - s1*s1/n_orders) / (n_orders - 1) END) END AS amount_std,
             FLOOR(s1 / GREATEST(tenure_days / 365.25, 0.1) * 10000 + 0.5) / 10000 AS clv,
             CAST(n_orders AS DOUBLE) / GREATEST(tenure_days / 30.0, 1.0) AS ofreq
           FROM ent),
         dist AS (SELECT clv, CAST(COUNT(*) AS BIGINT) c FROM d GROUP BY clv),
         cum AS (SELECT clv, SUM(c) OVER (ORDER BY clv) cum,
             (SELECT SUM(c) FROM dist) n
           FROM dist),
         ed AS (SELECT k, MIN(clv) e
           FROM cum, (VALUES (1),(2),(3)) t(k)
           WHERE cum >= (k * n + 3) // 4 GROUP BY k),
         er AS (SELECT MAX(CASE WHEN k=1 THEN e END) e1,
             MAX(CASE WHEN k=2 THEN e END) e2,
             MAX(CASE WHEN k=3 THEN e END) e3 FROM ed)
         SELECT o_custkey AS entity_id, n_orders,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(tenure_days AS BIGINT) AS tenure_days,
           active_weeks,
           clv AS customer_lifetime_value,
           ${sqlR("ofreq", 6)} AS order_frequency,
           ${sqlR("LEAST(GREATEST(CASE WHEN recency_days > 90 THEN 0.8 - ofreq * 0.1 ELSE 0.2 + (recency_days / 365) * 0.3 END, CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE))", 6)} AS churn_probability,
           CASE WHEN clv > e3 THEN 'Platinum'
             WHEN clv > e2 THEN 'Gold'
             WHEN clv > e1 THEN 'Silver'
             ELSE 'Bronze' END AS value_tier,
           ${sqlR("CAST(active_weeks AS DOUBLE) / GREATEST(tenure_days / 7.0, 1.0)", 6)} AS engagement_consistency,
           ${sqlR("CASE WHEN n_orders > 1 THEN 1 - amount_std / GREATEST(amount_mean, 1.0) END", 6)} AS spending_consistency
         FROM d CROSS JOIN er ORDER BY entity_id""",
    "q_agg_feature_store" ->
      """WITH base AS (
           SELECT o_custkey,
             CAST(o_totalprice AS DOUBLE) AS amt,
             CAST(datediff('day', o_orderdate, DATE '1998-12-31') AS DOUBLE) AS age_days,
             CAST(isodow(o_orderdate) - 1 AS INT) AS dow
           FROM orders),
         ent AS (SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) n_orders,
             CAST(SUM(CAST(amt AS DECIMAL(18,4))) AS DOUBLE) s1,
             CAST(SUM(CAST(amt*amt AS DECIMAL(30,8))) AS DOUBLE) s2,
             quantile_cont(amt, 0.5) med0,
             quantile_cont(amt, 0.95) p95_0,
             MIN(age_days) recency_days,
             MAX(age_days) tenure_days,
             CAST(SUM(CAST(age_days AS DECIMAL(18,4))) AS DOUBLE) sx,
             CAST(SUM(CAST(age_days*age_days AS DECIMAL(30,8))) AS DOUBLE) sxx,
             CAST(SUM(CAST(age_days*amt AS DECIMAL(38,8))) AS DOUBLE) sxy
           FROM base GROUP BY o_custkey),
         dowc AS (SELECT o_custkey, dow, COUNT(*) c FROM base GROUP BY 1, 2),
         dowp AS (SELECT o_custkey, CAST(MAX(c) AS BIGINT) top_dow_n,
             CAST(SUM(c) AS BIGINT) dow_total
           FROM dowc GROUP BY o_custkey),
         j AS (SELECT ent.*, dowp.top_dow_n, dowp.dow_total,
             s1 / n_orders AS amount_mean,
             CASE WHEN n_orders > 1
               THEN sqrt(CASE WHEN (s2 - s1*s1/n_orders) / (n_orders - 1) < 0
                 THEN CAST(0 AS DOUBLE)
                 ELSE (s2 - s1*s1/n_orders) / (n_orders - 1) END) END AS amount_std,
             CASE WHEN n_orders*sxx - sx*sx > 0
               THEN -(n_orders*sxy - sx*s1) / (n_orders*sxx - sx*sx)
               ELSE 0.0 END AS amount_trend,
             CAST(top_dow_n AS DOUBLE) / dow_total AS dow_preference
           FROM ent JOIN dowp USING (o_custkey)),
         b AS (SELECT MIN(recency_days) rec_mn, MAX(recency_days) rec_mx,
             MIN(n_orders) frq_mn, MAX(n_orders) frq_mx,
             MIN(s1) mon_mn, MAX(s1) mon_mx FROM j),
         nrm AS (SELECT j.*,
             CASE WHEN rec_mx > rec_mn
               THEN (recency_days - CAST(rec_mn AS DOUBLE)) / (CAST(rec_mx AS DOUBLE) - CAST(rec_mn AS DOUBLE))
               ELSE 0.0 END AS rec_n,
             CASE WHEN frq_mx > frq_mn
               THEN (CAST(n_orders AS DOUBLE) - CAST(frq_mn AS DOUBLE)) / (CAST(frq_mx AS DOUBLE) - CAST(frq_mn AS DOUBLE))
               ELSE 0.0 END AS frq_n,
             CASE WHEN mon_mx > mon_mn THEN (s1 - mon_mn) / (mon_mx - mon_mn)
               ELSE 0.0 END AS mon_n
           FROM j CROSS JOIN b)
         SELECT o_custkey AS entity_id, n_orders,
           FLOOR(amount_mean * 10000 + 0.5) / 10000 AS amount_mean,
           FLOOR(amount_std * 10000 + 0.5) / 10000 AS amount_std,
           FLOOR(med0 * 10000 + 0.5) / 10000 AS amount_median,
           FLOOR(p95_0 * 10000 + 0.5) / 10000 AS amount_p95,
           FLOOR(amount_trend * 1000000 + 0.5) / 1000000 AS amount_trend,
           FLOOR(dow_preference * 1000000 + 0.5) / 1000000 AS dow_preference_score,
           CAST(recency_days AS BIGINT) AS recency_days,
           FLOOR((s1 / GREATEST(tenure_days / 365.25, 0.1)) * 10000 + 0.5) / 10000 AS customer_lifetime_value,
           FLOOR(mon_n * frq_n * 1000000 + 0.5) / 1000000 AS amount_x_frequency_score,
           FLOOR(((1 - rec_n)*0.3 + frq_n*0.3 + mon_n*0.4) * 1000000 + 0.5) / 1000000 AS rfm_composite_score
         FROM nrm ORDER BY entity_id"""
  )
}
