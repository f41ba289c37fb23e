package graft

import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.Features

class FeaturesSpec extends AnyFunSuite {
  import TestSession._

  test("featureStats emits one row per registered feature, even all-NULL") {
    import spark.implicits._
    val allNull = Seq[Option[Double]](None, None, None).toDF("x")
    val ok = Seq(1.0, 2.0, 3.0, 4.0).toDF("y")
    val out = Features.featureStats(Seq("nulls.x" -> allNull, "vals.y" -> ok))
      .collect()
    assert(out.map(_.getAs[String]("feature")).toSeq == Seq("nulls.x", "vals.y"))
    val r = out(0)
    // the all-NULL feature keeps its diagnostics row: counted rows, zero
    // filled, zero outliers (rows exist, none exceed any bound), NULL
    // everywhere an aggregate has no input — as the oracle's ungrouped
    // aggregates behave
    assert(r.getAs[Long]("n_rows") == 3L && r.getAs[Long]("n_filled") == 0L)
    assert(r.getAs[Long]("outlier_count") == 0L)
    assert(r.isNullAt(r.fieldIndex("median_v")) && r.isNullAt(r.fieldIndex("mean_v")))
    val v = out(1)
    assert(v.getAs[Long]("n_filled") == 4L && v.getAs[Double]("median_v") == 2.5d)
  }

  test("rfm scores are quintiles in 1..5 and segments well-formed") {
    val r = Features.rfm(Tables.events(spark, sf)).collect()
    assert(r.nonEmpty)
    assert(r.forall { row =>
      val (rs, fs, ms) = (row.getAs[Int]("r_score"), row.getAs[Int]("f_score"), row.getAs[Int]("m_score"))
      rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5 &&
        row.getAs[String]("rfm_segment") == s"$rs$fs$ms"
    })
  }

  test("distributed exact rfm equals the window-ntile form row-for-row") {
    val events = Tables.events(spark, sf)
    val a = Features.rfm(events).collect().map(_.toString).sorted
    val b = Features.rfmExactDistributed(events).collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("training assembly: target consistent with cust_avg, sample deterministic, calendar fields bounded") {
    val r = graft.ml.TrainPrep.trainingAssembly(Tables.orders(spark, sf)).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val tp = row.getAs[Double]("o_totalprice")
      val avg = row.getAs[Double]("cust_avg")
      assert(row.getAs[Int]("target") == (if (tp > avg * 1.5) 1 else 0) ||
        math.abs(tp - avg * 1.5) < 1e-6) // rounding boundary tolerance on displayed avg
      val dow = row.getAs[Int]("day_of_week")
      assert(dow >= 0 && dow <= 6)
      assert(row.getAs[Boolean]("is_weekend") == (dow >= 5))
    }
    val again = graft.ml.TrainPrep.trainingAssembly(Tables.orders(spark, sf)).count()
    assert(again == r.length)
  }

  test("imputation plan: fill values come from the observed data, missing counts positive") {
    val rows = graft.ml.TrainPrep.imputePlan(Tables.events(spark, sf)).collect()
    assert(rows.length == 2)
    val byCol = rows.map(r => r.getAs[String]("column") -> r).toMap
    assert(byCol("value").getAs[Long]("n_missing") > 0)
    assert(byCol("event_type").getAs[Long]("n_missing") > 0)
    val types = Tables.events(spark, sf).select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types.contains(byCol("event_type").getAs[String]("fill_cat")))
    val s = Tables.events(spark, sf).agg(org.apache.spark.sql.functions.min("value"), org.apache.spark.sql.functions.max("value")).first()
    val mn = s.getDouble(0)
    val mx = s.getDouble(1)
    val med = byCol("value").getAs[Double]("fill_num")
    assert(med >= mn && med <= mx)
  }

  test("feature correlation matrix: r in [-1,1], symmetric pair coverage, self-consistent") {
    val r = graft.ml.TrainPrep.featureCorr(Tables.lineitem(spark, sf)).collect()
    assert(r.length == 6) // C(4,2) unordered pairs
    val order = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    r.foreach(row => {
      val v = row.getAs[Double]("pearson_r")
      assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9)
      assert(order.indexOf(row.getAs[String]("feature_a")) <
        order.indexOf(row.getAs[String]("feature_b")))
    })
  }

  test("rfm approx path is ntile-equivalent up to tie placement") {
    // Threshold bucketing and ntile can only disagree where a run of tied
    // feature values straddles a quintile boundary — there ntile's split
    // is ordering-arbitrary. So the equivalence claim is: where a value
    // maps to ONE exact score, approx must equal it; where a tie-run
    // spans several, approx must land inside that span.
    val events = Tables.events(spark, sf)
    val cols = Seq("user_id", "recency_days", "frequency", "monetary",
      "r_score", "f_score", "m_score")
    val exact = Features.rfm(events).select(cols.head, cols.tail: _*).collect()
    val approx = Features.rfmApprox(events).select(cols.head, cols.tail: _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(exact.length == approx.size && exact.nonEmpty)
    Seq(("recency_days", "r_score"), ("frequency", "f_score"), ("monetary", "m_score"))
      .foreach { case (feat, score) =>
        val span = exact.groupBy(_.getAs[Any](feat))
          .map { case (v, rows) =>
            v -> (rows.map(_.getAs[Int](score)).min, rows.map(_.getAs[Int](score)).max) }
        exact.foreach { row =>
          val (lo, hi) = span(row.getAs[Any](feat))
          val a = approx(row.getAs[Long]("user_id")).getAs[Int](score)
          assert(a >= lo && a <= hi,
            s"$score=$a outside exact ntile span [$lo,$hi] for $feat=${row.getAs[Any](feat)}")
        }
      }
  }

  test("sessionize: session gaps exceed 30 minutes between consecutive sessions") {
    val s = Features.sessionize(Tables.events(spark, sf))
    import spark.implicits._
    val perUser = s.select("user_id", "session_seq", "start_s", "end_s")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    perUser.values.foreach { sess =>
      val sorted = sess.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 - a._4 > 1800, s"gap too small between ${a._2} and ${b._2}")
        case _ =>
      }
    }
  }

  test("sessionPaths with k above the path count covers every sessionize session") {
    val events = Tables.events(spark, sf)
    val nSessions = Features.sessionize(events).count()
    val paths = Features.sessionPaths(events, k = nSessions.toInt + 1).collect()
    assert(paths.length <= nSessions)
    assert(paths.map(_.getAs[Long]("n_sessions")).sum == nSessions)
  }

  test("funnel is monotone decreasing") {
    val f = Features.funnel(Tables.events(spark, sf)).orderBy("stage")
      .select("n_users").collect().map(_.getLong(0))
    assert(f.sliding(2).forall { case Array(a, b) => b <= a; case _ => true })
  }

  test("psi bins cover 10 bins and percentages sum to ~1") {
    val p = Features.psiDrift(Tables.events(spark, sf)).collect()
    assert(p.length == 10)
    val refSum = p.map(_.getAs[Double]("ref_pct")).sum
    assert(math.abs(refSum - 1.0) < 0.01)
  }

  test("psiDrift of a stream against its own shifted copy is exactly 0") {
    // reference half = the original events, current half = the same
    // values under event ids above them: every bin share is equal, so
    // every term is 0·ln(1)
    val events = Tables.events(spark, sf)
    val shift = events.agg(max(col("event_id"))).head.getLong(0) + 1
    val twice = events.unionByName(events.withColumn("event_id", col("event_id") + shift))
    val p = Features.psiDrift(twice).collect()
    assert(p.length == 10)
    assert(p.forall(r => r.getAs[Double]("psi_term") == 0.0 && r.getAs[Double]("psi_total") == 0.0))
  }

  test("ks stat is in [0, 1]") {
    val k = Features.ksDrift(Tables.events(spark, sf)).collect()(0)
    val ks = k.getAs[Double]("ks_stat")
    assert(ks >= 0.0 && ks <= 1.0)
  }
}
