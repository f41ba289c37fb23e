package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns._

/** Model-monitoring analytics — the reference's ML monitoring layer
  * re-expressed as Spark aggregates.
  *
  * Re-expresses /root/reference/ml_platform/monitoring/ml_monitoring_system.py:
  *   - modelPerf: ModelPerformanceMonitor.monitor_performance +
  *     _check_performance_alerts (:371-478) — confusion-matrix
  *     accuracy / weighted precision / recall / F1 on a predictions
  *     frame, degradation vs a baseline window, threshold alert flags.
  *   - driftHistory: get_drift_summary (:312-358) + the linear trend of
  *     get_performance_trend (:480-524) — a PSI drift log over k time
  *     slices rolled up to per-feature drift rate, score stats, and an
  *     exact least-squares slope.
  *   - businessImpact: BusinessImpactMonitor.calculate_business_impact
  *     (:929-1027) — prediction volume, revenue impact, automation cost
  *     savings, accuracy impact, and ROI per cohort.
  *
  * Scale shape: every query is one or two full scans reduced to a
  * bounded aggregate (8 confusion counters; features × slices × bins
  * counts; one row per cohort). Windows and loops never touch row-level
  * data — the same melt-once / bin-count design as [[Features.driftSweep]].
  *
  * The reference consumes live prediction streams; here predictions,
  * labels, and automation flags are synthesized DETERMINISTICALLY from
  * stable columns (md5-digit noise, the [[graft.operators.Warehouse]]
  * stagingEnhanced pattern) so the DuckDB oracle reproduces them exactly.
  */
object Monitoring {

  /** First hex digit of md5(id) as an int in 0..15 — the deterministic
    * noise source shared with the oracle SQL ([[graft.functions.Fns.hexDigit]]). */
  private def hexNoise(idCol: String): Column = hexDigit(idCol, 1)

  /** Deterministic (y_true, y_pred) columns on an events frame: the
    * label is value>50, the prediction flips the label when the md5
    * noise digit reaches `flipAt` (accuracy ≈ flipAt/16). Shared by the
    * batch monitor and its streaming twin so streaming==batch is
    * checkable row-for-row. */
  def score(events: DataFrame, flipAt: Int): DataFrame = events
    .withColumn("y_true", col("value") > 50d)
    .withColumn("y_pred",
      when(hexNoise("event_id") < flipAt, col("y_true")).otherwise(!col("y_true")))

  /** Confusion counters + accuracy per tumbling event-time window — the
    * aggregation both monitors share. Works unchanged on a static frame
    * and a stream (the groupBy is watermark-compatible). */
  def windowedPerf(scored: DataFrame, windowLength: String = "1 day"): DataFrame = {
    def cnt(t: Boolean, p: Boolean, nm: String) =
      sum(when(col("y_true") === t && col("y_pred") === p, 1L).otherwise(0L)).as(nm)
    scored
      .groupBy(window(col("ts"), windowLength))
      .agg(cnt(t = true, p = true, "tp"), cnt(t = false, p = true, "fp"),
        cnt(t = false, p = false, "tn"), cnt(t = true, p = false, "fn"))
      .select(unix_timestamp(col("window.start")).as("window_start_s"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        r6((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("tn") + col("fn"))).as("accuracy"))
  }

  /** Confusion-matrix performance metrics with degradation-vs-baseline
    * alerts (monitor_performance). The baseline window is the first half
    * of the event stream; the "current" window the second. One bounded
    * aggregate carries all eight confusion counters; the four metric
    * rows are exploded from that single row.
    *
    * y_true = value > 50; y_pred flips y_true when the md5 noise digit
    * exceeds a per-window threshold (14/16 baseline, 12/16 current), so
    * the current window degrades by construction and the alert path is
    * exercised. Weighted averaging follows sklearn's average='weighted'
    * (per-class metric weighted by true-class support; 0 on zero
    * denominators). */
  def modelPerf(events: DataFrame,
                degradationThreshold: Double = 0.05,
                targetAccuracy: Double = 0.85): DataFrame = {
    val bounds = events.agg(floor(max(col("event_id")) / 2d).cast("long").as("mid"))
    val scored = events.crossJoin(broadcast(bounds))
      .withColumn("is_ref", col("event_id") <= col("mid"))
      .withColumn("y_true", col("value") > 50d)
      .withColumn("noise", hexNoise("event_id"))
      .withColumn("y_pred",
        when(col("noise") < when(col("is_ref"), lit(14)).otherwise(lit(12)),
          col("y_true")).otherwise(!col("y_true")))
    def cnt(ref: Boolean, t: Boolean, p: Boolean, nm: String) =
      sum(when(col("is_ref") === ref && col("y_true") === t && col("y_pred") === p,
        1L).otherwise(0L)).as(nm)
    val m = scored.agg(
      cnt(ref = true, t = true, p = true, "btp"), cnt(ref = true, t = false, p = true, "bfp"),
      cnt(ref = true, t = false, p = false, "btn"), cnt(ref = true, t = true, p = false, "bfn"),
      cnt(ref = false, t = true, p = true, "ctp"), cnt(ref = false, t = false, p = true, "cfp"),
      cnt(ref = false, t = false, p = false, "ctn"), cnt(ref = false, t = true, p = false, "cfn"))

    // (accuracy, weighted precision, weighted recall, weighted f1) from
    // four counter columns — the shared ConfusionMetrics device, whose
    // arithmetic the oracle SQL mirrors bit-for-bit.
    def metrics(p: String): (Column, Column, Column, Column) =
      ConfusionMetrics.weighted(col(p + "tp"), col(p + "fp"),
        col(p + "tn"), col(p + "fn"))
    val (bAcc, bPrec, bRec, bF1) = metrics("b")
    val (cAcc, cPrec, cRec, cF1) = metrics("c")
    def metricRow(name: String, b: Column, c: Column) =
      struct(lit(name).as("metric"), b.as("b"), c.as("c"))
    m.select(explode(array(
        metricRow("accuracy", bAcc, cAcc),
        metricRow("f1_score", bF1, cF1),
        metricRow("precision", bPrec, cPrec),
        metricRow("recall", bRec, cRec))).as("s"))
      .select(col("s.metric").as("metric"),
        r6(col("s.b")).as("baseline_value"), r6(col("s.c")).as("current_value"))
      .withColumn("degradation", r6(col("baseline_value") - col("current_value")))
      .withColumn("degradation_pct",
        when(col("baseline_value") > 0d,
          r6(col("degradation") / col("baseline_value") * 100d)).otherwise(lit(0d)))
      .withColumn("degradation_alert", col("degradation") > degradationThreshold)
      .withColumn("below_target_alert",
        col("metric") === "accuracy" && col("current_value") < targetAccuracy)
      .orderBy("metric")
  }

  /** Drift log over `nSlices` key-range slices of the fact stream rolled
    * up to a per-feature summary (get_drift_summary): checks run, drift
    * count/rate against the reference's PSI>0.1 alert threshold, mean /
    * max / latest drift score, and the least-squares slope of PSI over
    * check index (get_performance_trend's np.polyfit deg-1, in exact
    * closed form). Slice 0 is the reference distribution; slices 1..k-1
    * are the monitoring checks.
    *
    * One melted scan produces (feature, slice, bin) counts — bounded by
    * features × slices × bins regardless of data size; everything after
    * is arithmetic over that aggregate. */
  def driftHistory(lineitem: DataFrame, nSlices: Int = 8, nBins: Int = 10): DataFrame = {
    val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val nChecks = nSlices - 1
    val bounds0 = lineitem.agg(max(col("l_orderkey")).cast("double").as("mxk"))
    val melted = Features.melt(lineitem.crossJoin(broadcast(bounds0)), feats,
      "slice" -> least(greatest(floor((col("l_orderkey") - 1) * nSlices / col("mxk")), lit(0d)),
        lit((nSlices - 1).toDouble)).cast("int"))
    // Bounds from one narrow columnar agg over the unmelted scan — the
    // 4-way explode then runs once, for the slice/bin counts only.
    val fb = Features.featureBounds(lineitem, feats)
    val counts = melted.join(broadcast(fb), "feature")
      .withColumn("bin", Features.eqBin(col("v"), nBins))
      .groupBy(col("feature"), col("slice"), col("bin"))
      .agg(count(lit(1)).cast("double").as("c"))
    val totals = counts.groupBy(col("feature"), col("slice")).agg(sum(col("c")).as("t"))
    // spine over feature × check-slice × bin so empty bins contribute
    // their PsiFloor exactly as the reference's replace(0, 1e-4)-style
    // guard does
    val spark = lineitem.sparkSession
    val spine = fb.select(col("feature"))
      .crossJoin(spark.range(1, nSlices).select(col("id").cast("int").as("slice")))
      .crossJoin(spark.range(0, nBins).select(col("id").cast("int").as("bin")))
    val refCounts = counts.filter(col("slice") === 0)
      .select(col("feature"), col("bin"), col("c").as("c_ref"))
    val refTotals = totals.filter(col("slice") === 0)
      .select(col("feature"), col("t").as("t_ref"))
    val psi = spine
      .join(counts, Seq("feature", "slice", "bin"), "left").na.fill(0.0, Seq("c"))
      .join(refCounts, Seq("feature", "bin"), "left").na.fill(0.0, Seq("c_ref"))
      .join(broadcast(totals), Seq("feature", "slice"))
      .join(broadcast(refTotals), Seq("feature"))
      .withColumn("p_cur", Features.psiShare(col("c"), col("t")))
      .withColumn("p_ref", Features.psiShare(col("c_ref"), col("t_ref")))
      .groupBy(col("feature"), col("slice"))
      .agg(sum(Features.psiTerm(col("p_cur"), col("p_ref")).cast("decimal(20,12)"))
        .cast("double").as("psi"))
    // closed-form least-squares slope over x = slice index 1..nChecks:
    // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), all sums exact
    val sx = (nChecks * (nChecks + 1) / 2).toDouble
    val sxx = (nChecks * (nChecks + 1) * (2 * nChecks + 1) / 6).toDouble
    val denom = nChecks * sxx - sx * sx
    psi.groupBy(col("feature")).agg(
        count(lit(1)).as("total_checks"),
        sum(when(col("psi") > 0.1, 1L).otherwise(0L)).as("drift_count"),
        sum(col("psi").cast("decimal(20,12)")).cast("double").as("sy"),
        sum((col("slice") * col("psi")).cast("decimal(20,12)")).cast("double").as("sxy"),
        max(col("psi")).as("max_psi0"),
        max(when(col("slice") === nChecks, col("psi"))).as("last_psi0"))
      .select(
        col("feature"), col("total_checks"), col("drift_count"),
        r6(col("drift_count") / col("total_checks")).as("drift_rate"),
        r6(col("sy") / col("total_checks")).as("avg_psi"),
        r6(col("max_psi0")).as("max_psi"),
        r6(col("last_psi0")).as("last_psi"),
        r6((lit(nChecks.toDouble) * col("sxy") - lit(sx) * col("sy")) / lit(denom)).as("trend_slope"))
      .withColumn("trend",
        when(col("trend_slope") > 0d, "rising")
          .when(col("trend_slope") < 0d, "falling").otherwise("stable"))
      .orderBy("feature")
  }

  /** Business-impact mart per prediction cohort (calculate_business_impact):
    * prediction volume, revenue impact (Σ predicted value), accuracy
    * impact vs actuals, automation rate and its cost savings at $5 per
    * manual decision avoided, and ROI against a $1000 operating cost.
    * Cohort = order priority; predicted value = actual × a deterministic
    * md5-digit error factor in [0.95, 1.10]. One scan, one row per
    * cohort. */
  def businessImpact(orders: DataFrame,
                     manualCost: Double = 5.0,
                     operatingCost: Double = 1000.0): DataFrame = {
    val scored = orders
      .withColumn("d", hexNoise("o_orderkey"))
      .withColumn("predicted_value",
        col("o_totalprice") * ((lit(95.0) + col("d").cast("double")) / lit(100.0)))
      .withColumn("automated", col("d") < 11)
    scored.groupBy(col("o_orderpriority").as("cohort"))
      .agg(
        count(lit(1)).as("prediction_volume"),
        sum(when(col("automated"), 1L).otherwise(0L)).as("n_automated"),
        r2(decSum(col("predicted_value"))).as("revenue_impact"),
        r2(decSum(col("o_totalprice"))).as("actual_total"))
      .withColumn("accuracy_impact",
        r6(lit(1d) - abs(col("revenue_impact") - col("actual_total")) / col("actual_total")))
      .withColumn("automation_rate", r6(col("n_automated") / col("prediction_volume")))
      .withColumn("cost_savings", r2(col("n_automated") * manualCost))
      .withColumn("roi",
        r6((col("revenue_impact") + col("cost_savings") - operatingCost) / operatingCost))
      .orderBy("cohort")
  }

  /** Business-impact trend (get_impact_trend, ml_monitoring_system.py
    * :989-1027): the impact history is sliced into `nSlices` key-range
    * windows, revenue impact per slice, then one summary row — average,
    * first/last, change percentage, exact least-squares slope, and the
    * improving/declining/stable label. Scoring matches
    * [[businessImpact]]; slice arithmetic matches [[driftHistory]]. Two
    * bounded aggregates over one scan. */
  def impactTrend(orders: DataFrame, nSlices: Int = 8): DataFrame = {
    val bounds = orders.agg(max(col("o_orderkey")).cast("double").as("mxk"))
    val perSlice = orders.crossJoin(broadcast(bounds))
      .withColumn("slice",
        least(greatest(floor((col("o_orderkey") - 1) * nSlices / col("mxk")), lit(0d)),
          lit((nSlices - 1).toDouble)).cast("int"))
      .withColumn("d", hexNoise("o_orderkey"))
      .withColumn("predicted_value",
        col("o_totalprice") * ((lit(95.0) + col("d").cast("double")) / lit(100.0)))
      .groupBy(col("slice"))
      .agg(r2(decSum(col("predicted_value"))).as("impact"))
    // closed-form least-squares slope over x = 0..nSlices-1
    val sx = (nSlices * (nSlices - 1) / 2).toDouble
    val sxx = ((nSlices - 1) * nSlices * (2 * nSlices - 1) / 6).toDouble
    val denom = nSlices * sxx - sx * sx
    perSlice.agg(
        count(lit(1)).as("n_slices"),
        sum(col("impact").cast("decimal(20,6)")).cast("double").as("sy"),
        sum((col("slice") * col("impact")).cast("decimal(24,6)")).cast("double").as("sxy"),
        max(when(col("slice") === 0, col("impact"))).as("first_impact"),
        max(when(col("slice") === nSlices - 1, col("impact"))).as("last_impact"))
      .select(col("n_slices"),
        r2(col("sy") / col("n_slices")).as("avg_impact"),
        col("first_impact"), col("last_impact"),
        r6((col("last_impact") - col("first_impact")) / col("first_impact") * 100d).as("change_pct"),
        r6((lit(nSlices.toDouble) * col("sxy") - lit(sx) * col("sy")) / lit(denom)).as("trend_slope"))
      .withColumn("direction",
        when(col("trend_slope") > 0d, "improving")
          .when(col("trend_slope") < 0d, "declining").otherwise("stable"))
  }

  /** Fixed-range value bin shared by the reference histogram and the
    * windowed current histogram. Fixed edges — not data-dependent
    * min/max — because a stream cannot re-scan for global extremes;
    * out-of-range values clamp into the edge bins. */
  def valueBin(c: Column, nBins: Int = 10, lo: Double = 0d, hi: Double = 400d): Column =
    least(greatest(floor((c - lo) / ((hi - lo) / nBins)), lit(0d)),
      lit((nBins - 1).toDouble)).cast("int")

  /** Batch-computed reference bin proportions — the stored baseline the
    * reference's DriftDetector loads before monitoring starts
    * (ml_monitoring_system.py's reference_distribution). */
  def referenceHistogram(events: DataFrame, nBins: Int = 10): Seq[Double] = {
    val counts = events.groupBy(valueBin(col("value"), nBins).as("bin"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getAs[Int]("bin") -> r.getAs[Long]("c")).toMap
    val total = counts.values.sum.toDouble
    (0 until nBins).map(b => counts.getOrElse(b, 0L) / total)
  }

  /** Per-window PSI drift against a fixed reference histogram. ONE
    * aggregation carries all nBins counters (a second stateful
    * aggregation would be illegal on a stream), and the PSI is assembled
    * row-wise from the counters with the reference proportions inlined
    * as literals — so the operator works unchanged on a static frame
    * and a watermarked stream, and the streaming twin equals the batch
    * run row-for-row. */
  def windowedDrift(events: DataFrame, refProps: Seq[Double],
                    windowLength: String = "1 day",
                    psiAlert: Double = 0.1): DataFrame = {
    val nBins = refProps.size
    val binned = events.withColumn("bin", valueBin(col("value"), nBins))
    val counters = (0 until nBins).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b"))
    val agged = binned.groupBy(window(col("ts"), windowLength))
      .agg(counters.head, counters.tail: _*)
    val total = (0 until nBins).map(b => col(s"c$b")).reduce(_ + _)
    val psi = (0 until nBins).map { b =>
      Features.psiTerm(Features.psiShare(col(s"c$b"), total.cast("double")),
        lit(math.max(refProps(b), Features.PsiFloor)))
    }.reduce(_ + _)
    agged.select(unix_timestamp(col("window.start")).as("window_start_s"),
        total.as("n_events"), r6(psi).as("psi"))
      .withColumn("drift_alert", col("psi") > psiAlert)
  }

  /** Retraining trigger decision — the orchestration-layer gate of the
    * reference's training DAG
    * (/root/reference/airflow_dags/ml_training_orchestration_dag.py:
    * drift_detection_threshold 0.05 + performance_degradation_threshold
    * 0.05 at :302-303; the 0.95 data-quality gate at :97-99) composed
    * from this engine's own marts: [[Features.driftSweep]]'s overall
    * score, [[modelPerf]]'s accuracy degradation, and
    * [[graft.operators.Quality.featureQuality]]'s overall score. Three
    * bounded one-row inputs cross-joined — the decision itself adds no
    * data-sized work; at 100 TB the cost is the three underlying marts,
    * each already scan-bounded. */
  def retrainDecision(lineitem: DataFrame, events: DataFrame, orders: DataFrame,
                      driftThreshold: Double = 0.05,
                      degradationThreshold: Double = 0.05,
                      qualityGate: Double = 0.95): DataFrame = {
    val drift = Features.driftSweep(lineitem)
      .agg(max(col("overall_drift_score")).as("drift_score"))
    val perf = modelPerf(events).filter(col("metric") === "accuracy")
      .select(col("degradation").as("accuracy_degradation"),
        col("current_value").as("current_accuracy"))
    val dq = graft.operators.Quality.featureQuality(orders,
        numericCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
        categoricalCols = Seq("o_orderstatus", "o_orderpriority"))
      .select(col("overall_quality").as("dq_score"))
    drift.crossJoin(perf).crossJoin(dq)
      .withColumn("drift_trigger", col("drift_score") > driftThreshold)
      .withColumn("degradation_trigger", col("accuracy_degradation") > degradationThreshold)
      .withColumn("quality_gate_passed", col("dq_score") >= qualityGate)
      .withColumn("retrain_required", col("drift_trigger") || col("degradation_trigger"))
      .withColumn("trigger_reason",
        when(!col("retrain_required"), "none").otherwise(concat_ws("+",
          when(col("drift_trigger"), lit("data_drift")),
          when(col("degradation_trigger"), lit("performance_degradation")))))
  }

  /** Cross-model consistency check (_check_model_consistency,
    * automated_training_pipeline.py:802-820): an ensemble of models is
    * scored on the same stream, per-model accuracy / weighted precision
    * / weighted recall computed from confusion counters, then the
    * population variance of each metric across models and
    * consistency_score = 1 − mean(variances). The "ensemble" is the
    * deterministic flip-threshold family ([[score]] with flipAt
    * 14/13/12) so the DuckDB oracle reproduces every double exactly.
    *
    * Scale shape: ONE full scan aggregating 4 confusion counters per
    * model (12 total) map-side; everything after is arithmetic on a
    * single row. Adding a model adds 4 counters, never a pass. */
  def modelConsistency(events: DataFrame): DataFrame = {
    val models = Seq(("m0", 14), ("m1", 13), ("m2", 12))
    val k = models.size
    val scored = events
      .withColumn("y_true", col("value") > 50d)
      .withColumn("noise", hexNoise("event_id"))
    def cnt(flipAt: Int, t: Boolean, p: Boolean, nm: String) = {
      val pred = when(col("noise") < flipAt, col("y_true")).otherwise(!col("y_true"))
      sum(when(col("y_true") === t && pred === p, 1L).otherwise(0L)).as(nm)
    }
    val aggs = models.flatMap { case (m, f) => Seq(
      cnt(f, t = true, p = true, s"${m}_tp"), cnt(f, t = false, p = true, s"${m}_fp"),
      cnt(f, t = false, p = false, s"${m}_tn"), cnt(f, t = true, p = false, s"${m}_fn")) }
    val g = scored.agg(aggs.head, aggs.tail: _*)
    // per-model (accuracy, weighted precision, weighted recall) — the
    // shared ConfusionMetrics device (F1 unused here), so the oracle
    // matches bitwise and can never drift from modelPerf's arithmetic
    def metrics(m: String): (Column, Column, Column) = {
      val (acc, prec, rec, _) = ConfusionMetrics.weighted(
        col(s"${m}_tp"), col(s"${m}_fp"), col(s"${m}_tn"), col(s"${m}_fn"))
      (acc, prec, rec)
    }
    val ms = models.map { case (m, _) => metrics(m) }
    // np.var (population): mean of squares minus square of mean,
    // left-fold sums in model order in both engines
    def varOf(xs: Seq[Column]): Column =
      xs.map(x => x * x).reduce(_ + _) / k - (xs.reduce(_ + _) / k) * (xs.reduce(_ + _) / k)
    val va = varOf(ms.map(_._1))
    val vp = varOf(ms.map(_._2))
    val vr = varOf(ms.map(_._3))
    g.select(
      lit(k).as("n_models"),
      r6(ms(0)._1).as("m0_accuracy"),
      r6(ms(1)._1).as("m1_accuracy"),
      r6(ms(2)._1).as("m2_accuracy"),
      r6(va).as("accuracy_variance"),
      r6(vp).as("precision_variance"),
      r6(vr).as("recall_variance"),
      r6(lit(1d) - (va + vp + vr) / 3d).as("consistency_score"))
  }

  /** Feature-importance consensus across models
    * (_analyze_feature_importance, automated_training_pipeline.py
    * :875-911): per (model, feature) importance scores are combined
    * into mean, population std, consistency = 1 − std/mean (0 on zero
    * mean), and a rank by mean importance. The "models" are `nModels`
    * disjoint hash-bagged subsamples of the fact stream (l_orderkey mod
    * nModels); importance is |Pearson correlation| of the feature with
    * the net-revenue target l_extendedprice·(1−l_discount), computed
    * from exact decimal moment sums so every model's score is
    * partition-order-independent and engine-exact.
    *
    * Scale shape: one melted scan to (model, feature) moment sums —
    * 6 decimal accumulators per cell, map-side partial; the consensus
    * runs over a models × features frame (12 rows). */
  def featureImportance(lineitem: DataFrame, nModels: Int = 3): DataFrame = {
    val feats = Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")
    val melted = lineitem.select(
        pmod(col("l_orderkey"), lit(nModels)).cast("int").as("model_id"),
        (col("l_extendedprice") * (lit(1d) - col("l_discount"))).cast("double").as("y"),
        explode(array(feats.map(f =>
          struct(lit(f).as("feature"), col(f).cast("double").as("x"))): _*)).as("s"))
      .select(col("model_id"), col("s.feature").as("feature"), col("s.x").as("x"), col("y"))
    val sums = melted.groupBy(col("model_id"), col("feature")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x").cast("decimal(28,8)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(28,8)")).cast("double").as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,8)")).cast("double").as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,8)")).cast("double").as("syy"),
      sum((col("x") * col("y")).cast("decimal(38,8)")).cast("double").as("sxy"))
    val imp = sums.withColumn("importance",
      abs((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt(greatest((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")), lit(1e-12)))))
    val consensus = imp.groupBy(col("feature")).agg(
        count(lit(1)).as("n_models"),
        sum(col("importance").cast("decimal(18,12)")).cast("double").as("si"),
        sum((col("importance") * col("importance")).cast("decimal(20,14)"))
          .cast("double").as("sii"))
      // divide by the REALIZED per-feature model count, not the nModels
      // parameter: on filtered input some hash-bag residues can be
      // empty, and a literal divisor would silently shrink the mean/std
      // while the n_models column reports the true count
      .withColumn("mean_importance0", col("si") / col("n_models"))
      .withColumn("std_importance0",
        sqrt(greatest(col("sii") / col("n_models") - col("mean_importance0") * col("mean_importance0"),
          lit(0d))))
      .select(
        col("feature"), col("n_models"),
        r6(col("mean_importance0")).as("mean_importance"),
        r6(col("std_importance0")).as("std_importance"),
        r6(when(col("mean_importance0") > 0d,
          lit(1d) - col("std_importance0") / col("mean_importance0"))
          .otherwise(lit(0d))).as("consistency"))
    consensus
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.Fns.onePart(col("feature")))
        .orderBy(col("mean_importance").desc, col("feature").asc)))
      .orderBy("rank")
  }

  /** Alert-history rollup (get_alert_summary, ml_monitoring_system.py
    * :890-919): recent alerts counted by (source, severity) with
    * shares and the most-recent instant per cell. The alert LOG is
    * composed from the engine's own deterministic signals — per-type
    * z-score anomalies (source 'anomaly_zscore': |z|>2 warning, >4
    * critical; the [[graft.operators.Analytics.anomalyZscore]]
    * machinery) and absolute threshold breaches (source 'threshold':
    * value>200 warning, >300 critical) — and "the last N hours" is
    * anchored at the stream's max event time, the deterministic twin
    * of the reference's datetime.now() cutoff.
    *
    * Scale shape: one broadcast stats pass + one scan filtered to the
    * alert tail; output is bounded by sources × severities. */
  def alertSummary(events: DataFrame, hours: Int = 168): DataFrame = {
    // degenerate groups (single event: n-1 = 0; constant value: sd = 0)
    // drop out IDENTICALLY in both engines: momentStats' sd is NULL for
    // n<=1 and clamped at 0, and the sd>0 guard below skips both
    val stats = graft.operators.Analytics.momentStats(events, Seq("et" -> col("event_type")))
    val zAlerts = events.join(broadcast(stats), col("event_type") === col("et"))
      .withColumn("az", when(col("sd") > 0,
        abs(r4((col("value") - col("mean")) / col("sd")))))
      .filter(col("az") > 2.0)
      .select(epochS(col("ts")).as("ts_s"),
        lit("anomaly_zscore").as("source"),
        when(col("az") > 4.0, "critical").otherwise("warning").as("severity"))
    val tAlerts = events.filter(col("value") > 200.0)
      .select(epochS(col("ts")).as("ts_s"),
        lit("threshold").as("source"),
        when(col("value") > 300.0, "critical").otherwise("warning").as("severity"))
    val bounds = events.agg(epochS(max(col("ts"))).as("mx"))
    val recent = zAlerts.unionByName(tAlerts)
      .crossJoin(broadcast(bounds))
      .filter(col("ts_s") > col("mx") - hours * 3600L)
    val total = recent.agg(count(lit(1)).as("total_alerts"))
    recent.groupBy(col("source"), col("severity"))
      .agg(count(lit(1)).as("n_alerts"), max(col("ts_s")).as("most_recent_s"))
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("severity"), col("n_alerts"),
        r6(col("n_alerts").cast("double") / col("total_alerts")).as("share"),
        col("most_recent_s"), col("total_alerts"),
        lit(hours).as("period_hours"))
      .orderBy("source", "severity")
  }

  /** A/B experiment readout — the two-sample z-test a model-rollout
    * gate reads (the experimentation twin of [[modelConsistency]]'s
    * agreement check): users deterministically assigned to variants by
    * an md5 parity bit (the engine's replay-safe randomizer — every
    * event of a user lands in the same arm, the correct randomization
    * unit), metric = event value, Welch z on the variant means with
    * population variance from exact decimal Σv/Σv² sums. The
    * significance flag is derived from the ROUNDED z so both engines
    * flip it identically.
    *
    * Scale shape: ONE aggregate pass over the fact with conditional
    * sums — no join, no shuffle beyond the single-row aggregate; the
    * readout is O(1) state regardless of table size. */
  def abTest(events: DataFrame): DataFrame = {
    def arm(a: String) = when(hexDigit("user_id", 1) % 2 === 0, "A")
      .otherwise("B") === a
    def sums(a: String) = Seq(
      sum(when(arm(a), 1L).otherwise(0L)).as(s"n_$a"),
      sum(when(arm(a), col("value").cast("decimal(18,4)"))).as(s"s1_$a"),
      sum(when(arm(a), (col("value") * col("value")).cast("decimal(38,8)"))).as(s"s2_$a"))
    val aggs = sums("A") ++ sums("B")
    // NULL metric rows are out of the experiment entirely: counting them
    // in n while the decimal sums skip them would silently skew the
    // mean/variance the day `value` goes nullable (same hardening as
    // psiDrift/ksDrift)
    val g = events.filter(col("value").isNotNull).agg(aggs.head, aggs.tail: _*)
    def mean(a: String) = col(s"s1_$a").cast("double") / col(s"n_$a")
    // population variance, clamped at 0 (constant-metric degenerate case:
    // Spark sqrt(-eps) is NaN where DuckDB raises)
    def pvar(a: String) = {
      val v = col(s"s2_$a").cast("double") / col(s"n_$a") - mean(a) * mean(a)
      when(v < 0, lit(0d)).otherwise(v)
    }
    val z = (mean("A") - mean("B")) /
      sqrt(pvar("A") / col("n_A") + pvar("B") / col("n_B"))
    g.select(
      col("n_A").as("n_a"), col("n_B").as("n_b"),
      r6(mean("A")).as("mean_a"), r6(mean("B")).as("mean_b"),
      r6(mean("B") - mean("A")).as("lift"),
      r6(z).as("z_score"),
      (abs(r6(z)) > 1.96d).as("significant"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ab_test" -> ((s, d) => abTest(Tables.events(s, d))),
    "q_model_perf" -> ((s, d) => modelPerf(Tables.events(s, d))),
    "q_drift_history" -> ((s, d) => driftHistory(Tables.lineitem(s, d))),
    "q_business_impact" -> ((s, d) => businessImpact(Tables.orders(s, d))),
    "q_impact_trend" -> ((s, d) => impactTrend(Tables.orders(s, d))),
    "q_retrain_decision" -> ((s, d) =>
      retrainDecision(Tables.lineitem(s, d), Tables.events(s, d), Tables.orders(s, d))),
    "q_model_consistency" -> ((s, d) => modelConsistency(Tables.events(s, d))),
    "q_feature_importance" -> ((s, d) => featureImportance(Tables.lineitem(s, d))),
    "q_alert_summary" -> ((s, d) => alertSummary(Tables.events(s, d)))
  )

  /** q_model_perf oracle SQL — a val so the retrain-decision oracle can
    * embed it as a subquery. */
  private val modelPerfSql =
      """WITH b AS (SELECT CAST(FLOOR(MAX(event_id) / 2.0) AS BIGINT) AS mid FROM events),
         s AS (
           SELECT event_id <= mid AS is_ref, value > 50.0 AS y_true,
             CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1)
                       < (CASE WHEN event_id <= mid THEN 14 ELSE 12 END)
                  THEN value > 50.0 ELSE NOT (value > 50.0) END AS y_pred
           FROM events, b),
         m AS (
           SELECT
             CAST(SUM(CASE WHEN is_ref AND y_true AND y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS btp,
             CAST(SUM(CASE WHEN is_ref AND NOT y_true AND y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS bfp,
             CAST(SUM(CASE WHEN is_ref AND NOT y_true AND NOT y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS btn,
             CAST(SUM(CASE WHEN is_ref AND y_true AND NOT y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS bfn,
             CAST(SUM(CASE WHEN NOT is_ref AND y_true AND y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS ctp,
             CAST(SUM(CASE WHEN NOT is_ref AND NOT y_true AND y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS cfp,
             CAST(SUM(CASE WHEN NOT is_ref AND NOT y_true AND NOT y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS ctn,
             CAST(SUM(CASE WHEN NOT is_ref AND y_true AND NOT y_pred THEN 1 ELSE 0 END) AS DOUBLE) AS cfn
           FROM s),
         d AS (
           SELECT
             (btp + bfn) AS bnpos, (btn + bfp) AS bnneg, (btp + bfp + btn + bfn) AS bn,
             CASE WHEN btp + bfp > 0 THEN btp / (btp + bfp) ELSE 0 END AS bppos,
             CASE WHEN btn + bfn > 0 THEN btn / (btn + bfn) ELSE 0 END AS bpneg,
             CASE WHEN btp + bfn > 0 THEN btp / (btp + bfn) ELSE 0 END AS brpos,
             CASE WHEN btn + bfp > 0 THEN btn / (btn + bfp) ELSE 0 END AS brneg,
             (ctp + cfn) AS cnpos, (ctn + cfp) AS cnneg, (ctp + cfp + ctn + cfn) AS cn,
             CASE WHEN ctp + cfp > 0 THEN ctp / (ctp + cfp) ELSE 0 END AS cppos,
             CASE WHEN ctn + cfn > 0 THEN ctn / (ctn + cfn) ELSE 0 END AS cpneg,
             CASE WHEN ctp + cfn > 0 THEN ctp / (ctp + cfn) ELSE 0 END AS crpos,
             CASE WHEN ctn + cfp > 0 THEN ctn / (ctn + cfp) ELSE 0 END AS crneg,
             btp, btn, ctp, ctn
           FROM m),
         d2 AS (
           SELECT *,
             CASE WHEN bppos + brpos > 0 THEN 2 * bppos * brpos / (bppos + brpos) ELSE 0 END AS bfpos,
             CASE WHEN bpneg + brneg > 0 THEN 2 * bpneg * brneg / (bpneg + brneg) ELSE 0 END AS bfneg,
             CASE WHEN cppos + crpos > 0 THEN 2 * cppos * crpos / (cppos + crpos) ELSE 0 END AS cfpos,
             CASE WHEN cpneg + crneg > 0 THEN 2 * cpneg * crneg / (cpneg + crneg) ELSE 0 END AS cfneg
           FROM d),
         rows4 AS (
           SELECT 'accuracy' AS metric,
             (btp + btn) / bn AS b, (ctp + ctn) / cn AS c FROM d2
           UNION ALL
           SELECT 'f1_score',
             (bnpos * bfpos + bnneg * bfneg) / bn, (cnpos * cfpos + cnneg * cfneg) / cn FROM d2
           UNION ALL
           SELECT 'precision',
             (bnpos * bppos + bnneg * bpneg) / bn, (cnpos * cppos + cnneg * cpneg) / cn FROM d2
           UNION ALL
           SELECT 'recall',
             (bnpos * brpos + bnneg * brneg) / bn, (cnpos * crpos + cnneg * crneg) / cn FROM d2),
         r AS (
           SELECT metric,
             FLOOR(b * 1000000 + 0.5) / 1000000 AS baseline_value,
             FLOOR(c * 1000000 + 0.5) / 1000000 AS current_value
           FROM rows4),
         r2 AS (
           SELECT *, FLOOR((baseline_value - current_value) * 1000000 + 0.5) / 1000000 AS degradation
           FROM r)
         SELECT metric, baseline_value, current_value, degradation,
           CASE WHEN baseline_value > 0
             THEN FLOOR((degradation / baseline_value * 100) * 1000000 + 0.5) / 1000000
             ELSE 0 END AS degradation_pct,
           degradation > 0.05 AS degradation_alert,
           metric = 'accuracy' AND current_value < 0.85 AS below_target_alert
         FROM r2 ORDER BY metric"""

  val oracles: Map[String, String] = Map(
    "q_ab_test" -> {
      def arm(a: String) =
        s"(CASE WHEN (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0 THEN 'A' ELSE 'B' END) = '$a'"
      def mean(a: String) = s"(CAST(s1_$a AS DOUBLE) / n_$a)"
      def pvar(a: String) = {
        val v = s"CAST(s2_$a AS DOUBLE) / n_$a - ${mean(a)} * ${mean(a)}"
        s"(CASE WHEN $v < 0 THEN CAST(0 AS DOUBLE) ELSE $v END)"
      }
      val z = s"(${mean("A")} - ${mean("B")}) / " +
        s"sqrt(${pvar("A")} / n_A + ${pvar("B")} / n_B)"
      s"""WITH g AS (SELECT
           CAST(SUM(CASE WHEN ${arm("A")} THEN 1 ELSE 0 END) AS BIGINT) AS n_A,
           SUM(CASE WHEN ${arm("A")} THEN CAST(value AS DECIMAL(18,4)) END) AS s1_A,
           SUM(CASE WHEN ${arm("A")} THEN CAST(value * value AS DECIMAL(38,8)) END) AS s2_A,
           CAST(SUM(CASE WHEN ${arm("B")} THEN 1 ELSE 0 END) AS BIGINT) AS n_B,
           SUM(CASE WHEN ${arm("B")} THEN CAST(value AS DECIMAL(18,4)) END) AS s1_B,
           SUM(CASE WHEN ${arm("B")} THEN CAST(value * value AS DECIMAL(38,8)) END) AS s2_B
         FROM events WHERE value IS NOT NULL)
         SELECT n_A AS n_a, n_B AS n_b,
           ${graft.functions.Fns.sqlR(mean("A"), 6)} AS mean_a,
           ${graft.functions.Fns.sqlR(mean("B"), 6)} AS mean_b,
           ${graft.functions.Fns.sqlR(s"${mean("B")} - ${mean("A")}", 6)} AS lift,
           ${graft.functions.Fns.sqlR(z, 6)} AS z_score,
           ABS(${graft.functions.Fns.sqlR(z, 6)}) > 1.96 AS significant
         FROM g"""
    },
    "q_model_perf" -> modelPerfSql,
    "q_retrain_decision" -> {
      val driftSql = Features.oracles("q_drift_sweep")
      val dqSql = graft.operators.Quality.oracles("q_feature_quality")
      s"""SELECT d.drift_score,
           m.degradation AS accuracy_degradation,
           m.current_value AS current_accuracy,
           q.overall_quality AS dq_score,
           d.drift_score > 0.05 AS drift_trigger,
           m.degradation > 0.05 AS degradation_trigger,
           q.overall_quality >= 0.95 AS quality_gate_passed,
           (d.drift_score > 0.05 OR m.degradation > 0.05) AS retrain_required,
           CASE WHEN NOT (d.drift_score > 0.05 OR m.degradation > 0.05) THEN 'none'
                ELSE concat_ws('+',
                  CASE WHEN d.drift_score > 0.05 THEN 'data_drift' END,
                  CASE WHEN m.degradation > 0.05 THEN 'performance_degradation' END)
           END AS trigger_reason
         FROM (SELECT MAX(overall_drift_score) AS drift_score FROM ($driftSql) AS t1) d,
              (SELECT degradation, current_value FROM ($modelPerfSql) AS t2
                 WHERE metric = 'accuracy') m,
              (SELECT overall_quality FROM ($dqSql) AS t3) q"""
    },
    "q_drift_history" -> {
      val melt = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(f =>
        s"""SELECT '$f' AS feature, CAST($f AS DOUBLE) AS v,
            CAST(LEAST(GREATEST(FLOOR((l_orderkey - 1) * 8 / mxk), 0), 7) AS INT) AS slice
            FROM lineitem, b""").mkString(" UNION ALL ")
      s"""WITH b AS (SELECT CAST(MAX(l_orderkey) AS DOUBLE) AS mxk FROM lineitem),
         melted AS ($melt),
         fb AS (SELECT feature, MIN(v) AS mn, MAX(v) AS mx FROM melted GROUP BY feature),
         counts AS (
           SELECT feature, slice,
             CAST(LEAST(FLOOR((v - mn) / ((mx - mn) / 10)), 9) AS INT) AS bin,
             CAST(COUNT(*) AS DOUBLE) AS c
           FROM melted JOIN fb USING (feature) GROUP BY 1, 2, 3),
         totals AS (SELECT feature, slice, SUM(c) AS t FROM counts GROUP BY 1, 2),
         spine AS (
           SELECT feature, CAST(s.g AS INT) AS slice, CAST(bn.g AS INT) AS bin
           FROM fb, UNNEST(generate_series(1, 7)) AS s(g), UNNEST(generate_series(0, 9)) AS bn(g)),
         psi AS (
           SELECT sp.feature, sp.slice,
             CAST(SUM(CAST(
               (GREATEST(COALESCE(c.c, 0) / t.t, 0.000001) - GREATEST(COALESCE(rc.c, 0) / rt.t, 0.000001))
               * ln(GREATEST(COALESCE(c.c, 0) / t.t, 0.000001) / GREATEST(COALESCE(rc.c, 0) / rt.t, 0.000001))
               AS DECIMAL(20,12))) AS DOUBLE) AS psi
           FROM spine sp
           LEFT JOIN counts c ON c.feature = sp.feature AND c.slice = sp.slice AND c.bin = sp.bin
           LEFT JOIN counts rc ON rc.feature = sp.feature AND rc.slice = 0 AND rc.bin = sp.bin
           JOIN totals t ON t.feature = sp.feature AND t.slice = sp.slice
           JOIN (SELECT feature, t FROM totals WHERE slice = 0) rt ON rt.feature = sp.feature
           GROUP BY 1, 2),
         agg AS (
           SELECT feature,
             CAST(COUNT(*) AS BIGINT) AS total_checks,
             CAST(SUM(CASE WHEN psi > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS drift_count,
             CAST(SUM(CAST(psi AS DECIMAL(20,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(slice * psi AS DECIMAL(20,12))) AS DOUBLE) AS sxy,
             MAX(psi) AS max_psi0,
             MAX(CASE WHEN slice = 7 THEN psi END) AS last_psi0
           FROM psi GROUP BY feature),
         o AS (
           SELECT feature, total_checks, drift_count,
             FLOOR((CAST(drift_count AS DOUBLE) / total_checks) * 1000000 + 0.5) / 1000000 AS drift_rate,
             FLOOR((sy / total_checks) * 1000000 + 0.5) / 1000000 AS avg_psi,
             FLOOR(max_psi0 * 1000000 + 0.5) / 1000000 AS max_psi,
             FLOOR(last_psi0 * 1000000 + 0.5) / 1000000 AS last_psi,
             FLOOR(((7.0 * sxy - 28.0 * sy) / 196.0) * 1000000 + 0.5) / 1000000 AS trend_slope
           FROM agg)
         SELECT *, CASE WHEN trend_slope > 0 THEN 'rising'
                        WHEN trend_slope < 0 THEN 'falling'
                        ELSE 'stable' END AS trend
         FROM o ORDER BY feature"""
    },
    "q_business_impact" ->
      """WITH s AS (
           SELECT o_orderpriority AS cohort, o_totalprice,
             (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) AS d
           FROM orders),
         a AS (
           SELECT cohort,
             CAST(COUNT(*) AS BIGINT) AS prediction_volume,
             CAST(SUM(CASE WHEN d < 11 THEN 1 ELSE 0 END) AS BIGINT) AS n_automated,
             FLOOR(CAST(SUM(CAST(o_totalprice * ((95.0 + CAST(d AS DOUBLE)) / 100.0) AS DECIMAL(18,4))) AS DOUBLE) * 100 + 0.5) / 100 AS revenue_impact,
             FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) * 100 + 0.5) / 100 AS actual_total
           FROM s GROUP BY cohort)
         SELECT cohort, prediction_volume, n_automated, revenue_impact, actual_total,
           FLOOR((1.0 - abs(revenue_impact - actual_total) / actual_total) * 1000000 + 0.5) / 1000000 AS accuracy_impact,
           FLOOR((CAST(n_automated AS DOUBLE) / prediction_volume) * 1000000 + 0.5) / 1000000 AS automation_rate,
           FLOOR((n_automated * 5.0) * 100 + 0.5) / 100 AS cost_savings,
           FLOOR(((revenue_impact + cost_savings - 1000.0) / 1000.0) * 1000000 + 0.5) / 1000000 AS roi
         FROM a ORDER BY cohort""",
    "q_impact_trend" ->
      """WITH b AS (SELECT CAST(MAX(o_orderkey) AS DOUBLE) AS mxk FROM orders),
         s AS (SELECT
             CAST(LEAST(GREATEST(FLOOR((o_orderkey - 1) * 8 / mxk), 0), 7) AS INT) AS slice,
             o_totalprice * ((95.0 + CAST((strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) AS DOUBLE)) / 100.0) AS pv
           FROM orders, b),
         p AS (SELECT slice,
             FLOOR(CAST(SUM(CAST(pv AS DECIMAL(18,4))) AS DOUBLE) * 100 + 0.5) / 100 AS impact
           FROM s GROUP BY slice),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_slices,
             CAST(SUM(CAST(impact AS DECIMAL(20,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(slice * impact AS DECIMAL(24,6))) AS DOUBLE) AS sxy,
             MAX(CASE WHEN slice = 0 THEN impact END) AS first_impact,
             MAX(CASE WHEN slice = 7 THEN impact END) AS last_impact
           FROM p),
         o AS (SELECT n_slices,
             FLOOR((sy / n_slices) * 100 + 0.5) / 100 AS avg_impact,
             first_impact, last_impact,
             FLOOR(((last_impact - first_impact) / first_impact * 100) * 1000000 + 0.5) / 1000000 AS change_pct,
             FLOOR(((8.0 * sxy - 28.0 * sy) / 336.0) * 1000000 + 0.5) / 1000000 AS trend_slope
           FROM a)
         SELECT *, CASE WHEN trend_slope > 0 THEN 'improving'
                        WHEN trend_slope < 0 THEN 'declining'
                        ELSE 'stable' END AS direction
         FROM o""",
    "q_model_consistency" -> {
      // confusion counters per flip threshold, then the same left-fold
      // variance arithmetic as the Spark side; y_pred for threshold f
      // is CASE WHEN noise < f THEN y_true ELSE NOT y_true END
      def c(m: String, f: Int) = Seq(
        s"CAST(SUM(CASE WHEN y_true AND (CASE WHEN noise < $f THEN y_true ELSE NOT y_true END) THEN 1 ELSE 0 END) AS DOUBLE) AS ${m}tp",
        s"CAST(SUM(CASE WHEN NOT y_true AND (CASE WHEN noise < $f THEN y_true ELSE NOT y_true END) THEN 1 ELSE 0 END) AS DOUBLE) AS ${m}fp",
        s"CAST(SUM(CASE WHEN NOT y_true AND NOT (CASE WHEN noise < $f THEN y_true ELSE NOT y_true END) THEN 1 ELSE 0 END) AS DOUBLE) AS ${m}tn",
        s"CAST(SUM(CASE WHEN y_true AND NOT (CASE WHEN noise < $f THEN y_true ELSE NOT y_true END) THEN 1 ELSE 0 END) AS DOUBLE) AS ${m}fn"
      ).mkString(",\n             ")
      def metric(m: String) =
        s"""(${m}tp + ${m}fn) AS ${m}npos, (${m}tn + ${m}fp) AS ${m}nneg,
            (${m}tp + ${m}fp + ${m}tn + ${m}fn) AS ${m}n,
            CASE WHEN ${m}tp + ${m}fp > 0 THEN ${m}tp / (${m}tp + ${m}fp) ELSE 0 END AS ${m}ppos,
            CASE WHEN ${m}tn + ${m}fn > 0 THEN ${m}tn / (${m}tn + ${m}fn) ELSE 0 END AS ${m}pneg,
            CASE WHEN ${m}tp + ${m}fn > 0 THEN ${m}tp / (${m}tp + ${m}fn) ELSE 0 END AS ${m}rpos,
            CASE WHEN ${m}tn + ${m}fp > 0 THEN ${m}tn / (${m}tn + ${m}fp) ELSE 0 END AS ${m}rneg,
            ${m}tp, ${m}tn"""
      s"""WITH s AS (
           SELECT value > 50.0 AS y_true,
             (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) AS noise
           FROM events),
         g AS (
           SELECT
             ${c("a", 14)},
             ${c("b", 13)},
             ${c("c", 12)}
           FROM s),
         d AS (
           SELECT
             ${metric("a")},
             ${metric("b")},
             ${metric("c")}
           FROM g),
         mm AS (
           SELECT
             (atp + atn) / an AS a0, (btp + btn) / bn AS a1, (ctp + ctn) / cn AS a2,
             (anpos * appos + anneg * apneg) / an AS p0,
             (bnpos * bppos + bnneg * bpneg) / bn AS p1,
             (cnpos * cppos + cnneg * cpneg) / cn AS p2,
             (anpos * arpos + anneg * arneg) / an AS r0,
             (bnpos * brpos + bnneg * brneg) / bn AS r1,
             (cnpos * crpos + cnneg * crneg) / cn AS r2
           FROM d),
         v AS (
           SELECT a0, a1, a2,
             (a0 * a0 + a1 * a1 + a2 * a2) / 3 - ((a0 + a1 + a2) / 3) * ((a0 + a1 + a2) / 3) AS va,
             (p0 * p0 + p1 * p1 + p2 * p2) / 3 - ((p0 + p1 + p2) / 3) * ((p0 + p1 + p2) / 3) AS vp,
             (r0 * r0 + r1 * r1 + r2 * r2) / 3 - ((r0 + r1 + r2) / 3) * ((r0 + r1 + r2) / 3) AS vr
           FROM mm)
         SELECT 3 AS n_models,
           FLOOR(a0 * 1000000 + 0.5) / 1000000 AS m0_accuracy,
           FLOOR(a1 * 1000000 + 0.5) / 1000000 AS m1_accuracy,
           FLOOR(a2 * 1000000 + 0.5) / 1000000 AS m2_accuracy,
           FLOOR(va * 1000000 + 0.5) / 1000000 AS accuracy_variance,
           FLOOR(vp * 1000000 + 0.5) / 1000000 AS precision_variance,
           FLOOR(vr * 1000000 + 0.5) / 1000000 AS recall_variance,
           FLOOR((1.0 - (va + vp + vr) / 3) * 1000000 + 0.5) / 1000000 AS consistency_score
         FROM v"""
    },
    "q_feature_importance" -> {
      val melt = Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice").map(f =>
        s"""SELECT CAST(l_orderkey % 3 AS INT) AS model_id, '$f' AS feature,
            CAST($f AS DOUBLE) AS x,
            CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS y
            FROM lineitem""").mkString(" UNION ALL ")
      s"""WITH melted AS ($melt),
         sums AS (
           SELECT model_id, feature,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,8))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy
           FROM melted GROUP BY model_id, feature),
         imp AS (
           SELECT feature,
             abs((n * sxy - sx * sy) /
               sqrt(GREATEST((n * sxx - sx * sx) * (n * syy - sy * sy), 1e-12))) AS importance
           FROM sums),
         cons AS (
           SELECT feature,
             CAST(COUNT(*) AS BIGINT) AS n_models,
             CAST(SUM(CAST(importance AS DECIMAL(18,12))) AS DOUBLE) AS si,
             CAST(SUM(CAST(importance * importance AS DECIMAL(20,14))) AS DOUBLE) AS sii
           FROM imp GROUP BY feature),
         m AS (
           SELECT feature, n_models, si / n_models AS mean0,
             sqrt(GREATEST(sii / n_models - (si / n_models) * (si / n_models), 0)) AS std0
           FROM cons),
         o AS (
           SELECT feature, n_models,
             FLOOR(mean0 * 1000000 + 0.5) / 1000000 AS mean_importance,
             FLOOR(std0 * 1000000 + 0.5) / 1000000 AS std_importance,
             FLOOR((CASE WHEN mean0 > 0 THEN 1.0 - std0 / mean0 ELSE 0 END) * 1000000 + 0.5) / 1000000 AS consistency
           FROM m)
         SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY mean_importance DESC, feature ASC) AS INT)
           AS rank
         FROM o ORDER BY rank"""
    },
    "q_alert_summary" ->
      """WITH st AS (
           SELECT event_type AS et, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) AS s2
           FROM events GROUP BY event_type),
         sv AS (SELECT *, (s2 - s1*s1/n)/(n-1) AS svar FROM st),
         sd AS (SELECT *, CASE WHEN n > 1
                  THEN sqrt(CASE WHEN svar < 0 THEN CAST(0 AS DOUBLE) ELSE svar END) END AS sdev FROM sv),
         za AS (
           SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             'anomaly_zscore' AS source,
             CASE WHEN abs(FLOOR((value - s1/n) / sdev * 10000 + 0.5) / 10000) > 4.0
                  THEN 'critical' ELSE 'warning' END AS severity
           FROM events JOIN sd ON event_type = et
           WHERE sdev > 0
             AND abs(FLOOR((value - s1/n) / sdev * 10000 + 0.5) / 10000) > 2.0),
         ta AS (
           SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             'threshold' AS source,
             CASE WHEN value > 300.0 THEN 'critical' ELSE 'warning' END AS severity
           FROM events WHERE value > 200.0),
         b AS (SELECT CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS mx FROM events),
         rec AS (
           SELECT al.* FROM (SELECT * FROM za UNION ALL SELECT * FROM ta) al, b
           WHERE ts_s > mx - 604800),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_alerts FROM rec)
         SELECT source, severity,
           CAST(COUNT(*) AS BIGINT) AS n_alerts,
           FLOOR(CAST(COUNT(*) AS DOUBLE) / total_alerts * 1000000 + 0.5) / 1000000 AS share,
           CAST(MAX(ts_s) AS BIGINT) AS most_recent_s,
           total_alerts,
           168 AS period_hours
         FROM rec, tot
         GROUP BY source, severity, total_alerts
         ORDER BY source, severity"""
  )
}
