package graft

import org.scalatest.funsuite.AnyFunSuite

class WarehouseSpec extends AnyFunSuite {
  import TestSession._

  // One pass over the keys, shared by the two tests below: each key is
  // collected twice. The first collect runs the full plan (a count() may
  // prune columns), so its row check is at least as strict as
  // count() > 0; the second collect checks determinism.
  private lazy val twoRuns: Seq[(String, Seq[String], Seq[String])] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val a = fn(spark, sf).collect().map(_.toString).toSeq
      val b = fn(spark, sf).collect().map(_.toString).toSeq
      (name, a, b)
    }

  test("every registered query runs and returns rows on sf0.001") {
    twoRuns.foreach { case (name, a, _) =>
      assert(a.nonEmpty, s"$name returned no rows")
    }
  }

  test("every query key has deterministic output across two runs") {
    twoRuns.foreach { case (name, a, b) =>
      assert(a == b, s"$name nondeterministic")
    }
  }

  test("staging clean flags and tiers are consistent") {
    val df = operators.Warehouse.stagingClean(Tables.customer(spark, sf))
    val rows = df.collect()
    assert(rows.forall(r => Set("VALID", "MISSING_NAME", "MISSING_BALANCE")
      .contains(r.getAs[String]("dq_flag"))))
    assert(rows.forall(r => Set("NEGATIVE", "LOW", "MEDIUM", "HIGH")
      .contains(r.getAs[String]("balance_tier"))))
  }

  test("incremental merge keeps exactly one row per key") {
    val df = operators.Warehouse.incrementalMerge(Tables.events(spark, sf))
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("fact sales derived measures honor business rules") {
    val df = operators.Warehouse.factSales(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf))
    val bad = df.filter("quantity <= 0 OR gross_revenue < 0 OR net_revenue > gross_revenue").count()
    assert(bad == 0)
  }

  test("staging enhanced exercises every cleansing branch") {
    val df = operators.Warehouse.stagingEnhanced(Tables.customer(spark, sf))
    val flags = df.select("data_quality_flag").distinct().collect().map(_.getString(0)).toSet
    assert(flags.contains("VALID") && flags.contains("INVALID_EMAIL"))
    val stages = df.select("customer_lifecycle_stage").distinct().collect().map(_.getString(0)).toSet
    assert(Set("LOYAL", "CHURNED", "UNKNOWN").subsetOf(stages), s"stages: $stages")
    // test records synthesized at custkey % 101 == 0 must be filtered out
    assert(df.filter("customer_id % 101 = 0").count() == 0)
    // phone scrub keeps only dial characters
    assert(df.filter("phone_number RLIKE '[^0-9+()-]'").count() == 0)
    // address assembly never yields null
    assert(df.filter("full_address IS NULL").count() == 0)
  }

  test("oracle map keys are a subset of query keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }
}
