package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Marts, Scd2}

class Scd2AnalyticsSpec extends AnyFunSuite {
  import TestSession._

  test("scd2 history: exactly one current row per key, versions dense") {
    val scd = Scd2.build(Tables.events(spark, sf)).cache()
    val keys = scd.select("user_id").distinct().count()
    val current = scd.filter("is_current").count()
    assert(current == keys, "each key must have exactly one current row")
    val badVersions = scd.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("version").as("mx"),
        org.apache.spark.sql.functions.count("*").as("n"))
      .filter("mx <> n").count()
    assert(badVersions == 0, "versions must be dense 1..n per key")
    scd.unpersist()
  }

  test("scd2 incremental merge equals full rebuild exactly") {
    val events = Tables.events(spark, sf)
    val full = Scd2.build(events)
    val inc = Scd2.incremental(events)
    assert(full.exceptAll(inc).count() == 0 && inc.exceptAll(full).count() == 0)
  }

  test("scd2 merge leaves untouched keys byte-identical") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf)
    val current = Scd2.build(events)
    // merging an empty batch must be a no-op
    val empty = events.filter(lit(false))
    val merged = Scd2.merge(current, empty)
    assert(current.exceptAll(merged).count() == 0 && merged.exceptAll(current).count() == 0)
  }

  test("scd2 integrity reports zero issues on a well-formed build") {
    val issues = Scd2.integrity(Tables.events(spark, sf)).collect()
    assert(issues.forall(_.getAs[Long]("issue_count") == 0L))
  }

  test("date dim covers the full orders range with no holes") {
    val dd = Analytics.dateDim(Tables.orders(spark, sf))
    val n = dd.count()
    val distinct = dd.select("cal_date").distinct().count()
    assert(n == distinct && n > 300)
  }

  test("pivot rows sum back to total event count") {
    val p = Analytics.pivotBehavior(Tables.events(spark, sf))
    val total = p.selectExpr("sum(n_click + n_error + n_purchase + n_signup + n_view)")
      .collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("zscore outliers are a small fraction") {
    val z = Analytics.anomalyZscore(Tables.events(spark, sf))
    val frac = z.filter("is_outlier").count().toDouble / z.count()
    assert(frac < 0.2, s"outlier fraction $frac suspiciously high")
  }

  test("streaming scd2 equals the batch build's closed versions row-for-row") {
    import org.apache.spark.sql.functions.{col, not}
    val streamed = graft.streaming.EventStream.scd2Stream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = Scd2.build(Tables.events(spark, sf))
      .filter(not(col("is_current")))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming scd2 dead-letters a cross-batch straggler instead of corrupting the chain") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{EventStream, Scd2Event}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Scd2Event]
    val q = EventStream.scd2ClosedStream(input.toDS()).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_late").start()
    try {
      // batch 1: two in-order changes -> v1 closes
      input.addData(
        Scd2Event(7L, 100000000L, 1L, "a", 1.0),
        Scd2Event(7L, 200000000L, 2L, "b", 2.0))
      q.processAllAvailable()
      // batch 2: a straggler OLDER than the open head (200s), then a valid change
      input.addData(Scd2Event(7L, 150000000L, 3L, "late", 9.0))
      q.processAllAvailable()
      input.addData(Scd2Event(7L, 300000000L, 4L, "c", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("scd2_late").collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("source_event_id"),
        r.getAs[Long]("effective_from_s"), r.getAs[Long]("effective_to_s")))
      .sortBy(_._3).toSeq
    // the straggler surfaces as a version=-1 dead letter pointing at the
    // head it lost to; the real chain is v1 then v2 with contiguous bounds
    assert(rows == Seq(
      (1L, 1L, 100L, 200L),      // v1 closed by the 200s change
      (-1L, 3L, 150L, 200L),     // dead letter: lost to the open head at 200s
      (2L, 2L, 200L, 300L)))     // v2 closed by the 300s change — unperturbed
  }

  test("gap fill densifies the spine and carries revenue forward through gaps") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val orders = Seq(
      ("HIGH", "2024-01-01", 100.0),
      ("HIGH", "2024-01-03", 40.0),   // 01-02 is a gap
      ("LOW", "2024-01-01", 7.0))
      .toDF("o_orderpriority", "d", "o_totalprice")
      .withColumn("o_orderdate", to_date(col("d")))
    val out = Analytics.gapFill(orders).collect()
      .map(r => (r.getAs[String]("cohort"), r.getAs[java.sql.Date]("day").toString) -> r).toMap
    // spine: 2 cohorts x 3 days
    assert(out.size == 6)
    val gap = out(("HIGH", "2024-01-02"))
    assert(gap.getAs[Long]("n_orders") == 0L && !gap.getAs[Boolean]("has_orders"))
    assert(gap.getAs[Double]("revenue") == 0.0)
    assert(gap.getAs[Double]("revenue_filled") == 100.0) // carried from 01-01
    assert(out(("HIGH", "2024-01-03")).getAs[Double]("revenue_filled") == 40.0)
    // LOW cohort: days 2-3 carry day-1's revenue forward
    assert(out(("LOW", "2024-01-03")).getAs[Double]("revenue_filled") == 7.0)
  }

  test("new vs returning: news sum to the user base, first week is all new") {
    val ev = Tables.events(spark, sf)
    val out = Analytics.newVsReturning(ev).collect()
    assert(out.nonEmpty)
    // every user is new in exactly one week
    assert(out.map(_.getAs[Long]("n_new")).sum ==
      ev.select("user_id").distinct().count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_returning"))
      val share = r.getAs[Double]("returning_share")
      assert(share >= 0.0 && share <= 1.0)
    }
    assert(out.minBy(_.getAs[Long]("week")).getAs[Long]("n_returning") == 0L)
  }

  test("period growth: lag chains within segment, trend matches the revenue sign") {
    val out = Marts.periodGrowth(
      Tables.orders(spark, sf), Tables.customer(spark, sf)).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("segment")).foreach { case (seg, rows) =>
      val sorted = rows.sortBy(_.getAs[String]("month"))
      assert(sorted.head.getAs[String]("trend") == "first", seg)
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("prev_revenue")))
      sorted.sliding(2).foreach {
        case Array(prev, cur) =>
          val prevRev = prev.getAs[Double]("revenue")
          assert(cur.getAs[Double]("prev_revenue") == prevRev,
            s"$seg lag chain broken")
          val up = cur.getAs[Double]("revenue") >= prevRev
          assert(cur.getAs[String]("trend") == (if (up) "up" else "down"))
          val g = cur.getAs[Double]("growth_pct")
          assert(if (up) g >= 0.0 else g < 0.0)
        case _ =>
      }
    }
  }

  test("pareto share: cumulative share hits 1 per nation and the 80% core is a rank prefix") {
    val out = Marts.paretoShare(Tables.orders(spark, sf),
      Tables.customer(spark, sf), Tables.nation(spark, sf)).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("nation_name")).foreach { case (nat, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to sorted.length),
        s"$nat ranks not dense")
      val cums = sorted.map(_.getAs[Double]("cum_share"))
      assert(math.abs(cums.last - 1.0) <= 1e-4, s"$nat cum share ${cums.last}")
      assert(cums.zip(cums.tail).forall { case (a, b) => a <= b + 1e-9 },
        s"$nat cumulative share not monotone")
      // core flag: true exactly while the PREVIOUS cumulative mass is < 80%
      val core = sorted.map(_.getAs[Boolean]("pareto_core"))
      assert(core.head, s"$nat top customer must be in the core")
      assert(!core.zip(core.tail).exists { case (a, b) => !a && b },
        s"$nat core is not a prefix")
    }
  }

  test("scd2 as-of lookup: each probe exactly once, matches inside the version interval") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf)
    val looked = operators.Scd2.asOfLookup(events).collect()
    // every sampled probe survives the left join exactly once (the
    // version intervals tile time, so at most one can match)
    val probeCount = events
      .filter(expr("instr('0123456789abcdef', substr(md5(cast(event_id as string)), 1, 1)) - 1 < 4"))
      .count()
    assert(looked.length == probeCount)
    looked.filter(_.getAs[Boolean]("matched")).foreach { r =>
      assert(r.getAs[Long]("effective_from_s") <= r.getAs[Long]("asof_s"),
        "matched version must start at or before the as-of instant")
    }
    // unmatched = probe predates its key's first change; those rows must
    // still be present with null attributes (leakage-safe, not dropped)
    assert(looked.filter(!_.getAs[Boolean]("matched")).forall(_.isNullAt(4)))
  }
}
