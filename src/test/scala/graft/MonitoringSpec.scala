package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, max, min}
import graft.functions.Fns.epochS
import graft.ml.Monitoring

class MonitoringSpec extends AnyFunSuite {
  import TestSession._

  test("modelPerf: four metrics, weighted recall equals accuracy, values in [0,1]") {
    val rows = Monitoring.modelPerf(Tables.events(spark, sf)).collect()
    assert(rows.map(_.getAs[String]("metric")).toSeq ==
      Seq("accuracy", "f1_score", "precision", "recall"))
    rows.foreach { r =>
      Seq("baseline_value", "current_value").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"${r.getAs[String]("metric")}.$c=$v out of range")
      }
    }
    // binary weighted recall is support-weighted per-class recall, which
    // algebraically collapses to (tp+tn)/n — must equal accuracy exactly
    val byMetric = rows.map(r => r.getAs[String]("metric") -> r).toMap
    Seq("baseline_value", "current_value").foreach { c =>
      assert(byMetric("recall").getAs[Double](c) == byMetric("accuracy").getAs[Double](c))
    }
    // the current window flips more labels by construction, so accuracy
    // degrades and the degradation fields must be positive + consistent
    val acc = byMetric("accuracy")
    assert(acc.getAs[Double]("degradation") > 0)
    assert(acc.getAs[Double]("degradation") ==
      acc.getAs[Double]("baseline_value") - acc.getAs[Double]("current_value"))
  }

  test("driftHistory: one row per feature, 7 checks, rates bounded, trend label matches slope") {
    val rows = Monitoring.driftHistory(Tables.lineitem(spark, sf)).collect()
    assert(rows.map(_.getAs[String]("feature")).toSeq ==
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
    rows.foreach { r =>
      assert(r.getAs[Long]("total_checks") == 7)
      val rate = r.getAs[Double]("drift_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Double]("max_psi") >= r.getAs[Double]("avg_psi"))
      val slope = r.getAs[Double]("trend_slope")
      val trend = r.getAs[String]("trend")
      assert(if (slope > 0) trend == "rising"
             else if (slope < 0) trend == "falling" else trend == "stable")
    }
  }

  test("modelConsistency: one row, ordered accuracies, nonneg variances, score consistent") {
    val r = Monitoring.modelConsistency(Tables.events(spark, sf)).collect() match {
      case Array(only) => only
      case other => fail(s"expected 1 row, got ${other.length}")
    }
    assert(r.getAs[Int]("n_models") == 3)
    // flip thresholds 14 > 13 > 12 order the accuracies by construction
    val (a0, a1, a2) = (r.getAs[Double]("m0_accuracy"),
      r.getAs[Double]("m1_accuracy"), r.getAs[Double]("m2_accuracy"))
    assert(a0 > a1 && a1 > a2, s"accuracies not ordered: $a0, $a1, $a2")
    Seq("accuracy_variance", "precision_variance", "recall_variance").foreach { c =>
      val v = r.getAs[Double](c)
      assert(v >= 0.0 && v < 0.25, s"$c=$v out of range") // var of values in [0,1]
    }
    val score = r.getAs[Double]("consistency_score")
    assert(score > 0.9 && score <= 1.0, s"score=$score — tight ensemble expected")
  }

  test("featureImportance: price dominates the net-revenue target, ranks contiguous") {
    val rows = Monitoring.featureImportance(Tables.lineitem(spark, sf)).collect()
    assert(rows.map(_.getAs[String]("feature")).sorted.toSeq ==
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
    assert(rows.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4))
    // net revenue = price x (1 - discount): price must dominate the
    // consensus in every hash-bagged submodel, and consistently so
    assert(rows.head.getAs[String]("feature") == "l_extendedprice")
    assert(rows.head.getAs[Double]("mean_importance") > 0.9)
    assert(rows.head.getAs[Double]("consistency") > 0.99)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_models") == 3)
      val (m, s) = (r.getAs[Double]("mean_importance"), r.getAs[Double]("std_importance"))
      assert(m >= 0.0 && m <= 1.0 && s >= 0.0)
      assert(r.getAs[Double]("consistency") <= 1.0)
    }
  }

  test("alertSummary: shares sum to 1, totals reconcile, recency inside the window") {
    val rows = Monitoring.alertSummary(Tables.events(spark, sf)).collect()
    assert(rows.nonEmpty)
    val total = rows.head.getAs[Long]("total_alerts")
    assert(rows.map(_.getAs[Long]("n_alerts")).sum == total)
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    val sources = rows.map(_.getAs[String]("source")).toSet
    assert(sources.subsetOf(Set("anomaly_zscore", "threshold")))
    rows.foreach { r =>
      assert(Set("warning", "critical")(r.getAs[String]("severity")))
      assert(r.getAs[Int]("period_hours") == 168)
    }
    // every cell's most-recent alert lies within the window
    val mx = rows.map(_.getAs[Long]("most_recent_s")).max
    rows.foreach(r =>
      assert(mx - r.getAs[Long]("most_recent_s") < 168L * 3600, "stale cell leaked in"))
  }

  test("alertSummary over the whole stream counts exactly anomalyZscore's outliers") {
    val events = Tables.events(spark, sf)
    val span = events.agg(epochS(max(col("ts"))) - epochS(min(col("ts")))).head.getLong(0)
    val hours = (span / 3600).toInt + 1
    val zAlerts = Monitoring.alertSummary(events, hours)
      .filter(col("source") === "anomaly_zscore").collect()
      .map(_.getAs[Long]("n_alerts")).sum
    val outliers = graft.operators.Analytics.anomalyZscore(events)
      .filter(col("is_outlier")).count()
    assert(outliers > 0)
    assert(zAlerts == outliers)
  }

  test("streaming performance monitor equals the batch windowed aggregate") {
    val streamed = graft.streaming.EventStream.performanceMonitor(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = Monitoring.windowedPerf(
        Monitoring.score(Tables.events(spark, sf), flipAt = 13))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("impactTrend: one summary row, change pct consistent, direction matches slope") {
    val r = Monitoring.impactTrend(Tables.orders(spark, sf)).collect()(0)
    assert(r.getAs[Long]("n_slices") == 8)
    val first = r.getAs[Double]("first_impact")
    val last = r.getAs[Double]("last_impact")
    assert(first > 0 && last > 0)
    val expectedPct = (last - first) / first * 100
    assert(math.abs(r.getAs[Double]("change_pct") - expectedPct) < 1e-4)
    val slope = r.getAs[Double]("trend_slope")
    val dir = r.getAs[String]("direction")
    assert(if (slope > 0) dir == "improving"
           else if (slope < 0) dir == "declining" else dir == "stable")
  }

  test("streaming drift monitor equals the batch windowed PSI, reference window scores ~0") {
    val events = Tables.events(spark, sf)
    val ref = Monitoring.referenceHistogram(events)
    assert(math.abs(ref.sum - 1.0) < 1e-9)
    val streamed = graft.streaming.EventStream.driftMonitor(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = Monitoring.windowedDrift(events, ref)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // PSI against the whole stream's own histogram must be near zero for
    // large windows and never negative-beyond-rounding
    val rows = Monitoring.windowedDrift(events, ref).collect()
    rows.foreach(r => assert(r.getAs[Double]("psi") >= -1e-6))
    assert(rows.map(_.getAs[Long]("n_events")).sum == events.count())
  }

  test("businessImpact: volumes partition the orders table, roi consistent with components") {
    val orders = Tables.orders(spark, sf)
    val rows = Monitoring.businessImpact(orders).collect()
    assert(rows.map(_.getAs[Long]("prediction_volume")).sum == orders.count())
    rows.foreach { r =>
      val vol = r.getAs[Long]("prediction_volume")
      val auto = r.getAs[Long]("n_automated")
      assert(auto >= 0 && auto <= vol)
      assert(r.getAs[Double]("cost_savings") == auto * 5.0)
      val roi = r.getAs[Double]("roi")
      val expected = (r.getAs[Double]("revenue_impact") + r.getAs[Double]("cost_savings") - 1000.0) / 1000.0
      assert(math.abs(roi - expected) < 1e-6)
      val accImpact = r.getAs[Double]("accuracy_impact")
      assert(accImpact <= 1.0)
    }
  }
}
