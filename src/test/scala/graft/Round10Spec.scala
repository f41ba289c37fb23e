package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Inference

/** Behavioral invariants for the round-10 additions beyond their
  * row-level oracles: the derived-customer-features tail
  * (feature_store_manager.py:244-257) and the catalog-policy masking
  * operator. */
class Round10Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("customerDerived: tiers are balanced quartiles, monotone in CLV, churn clipped to [0,1]") {
    val out = Inference.customerDerived(Tables.orders(spark, sf)).collect()
    val n = out.length
    assert(n > 0)
    // equi-depth quartiles: each tier holds ~n/4 customers (ties on the
    // rounded CLV can shift a boundary by the tie count; the synthetic
    // CLVs are near-distinct so ±2 is generous)
    val byTier = out.groupBy(_.getAs[String]("value_tier")).view.mapValues(_.length).toMap
    assert(byTier.keySet == Set("Bronze", "Silver", "Gold", "Platinum"))
    byTier.foreach { case (t, c) =>
      assert(math.abs(c - n / 4.0) <= 2, s"tier $t has $c of $n")
    }
    // tiers are monotone bands of CLV: max(lower tier) <= min(upper tier)
    val order = Seq("Bronze", "Silver", "Gold", "Platinum")
    val clvs = order.map(t => out.filter(_.getAs[String]("value_tier") == t)
      .map(_.getAs[Double]("customer_lifetime_value")))
    order.indices.init.foreach { i =>
      assert(clvs(i).max <= clvs(i + 1).min,
        s"tier ${order(i)} overlaps ${order(i + 1)}")
    }
    out.foreach { r =>
      val churn = r.getAs[Double]("churn_probability")
      assert(churn >= 0.0 && churn <= 1.0, s"churn $churn out of [0,1]")
    }
  }

  test("customerDerived: engagement/spending consistency match a brute-force recomputation") {
    val orders = Tables.orders(spark, sf)
    val out = Inference.customerDerived(orders).collect()
      .map(r => r.getAs[Long]("entity_id") -> r).toMap
    val raw = orders
      .select(col("o_custkey"), col("o_totalprice").cast("double"),
        datediff(to_date(lit("1998-12-31")), col("o_orderdate")).cast("double"),
        expr("datediff(o_orderdate, DATE'1970-01-01') div 7").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    raw.groupBy(_._1).foreach { case (cust, rows) =>
      val r = out(cust)
      val tenure = rows.map(_._3).max
      val weeks = rows.map(_._4).distinct.length
      val eng = weeks / math.max(tenure / 7.0, 1.0)
      assert(math.abs(r.getAs[Double]("engagement_consistency") - eng) < 1e-5,
        s"engagement mismatch for $cust")
      if (rows.length == 1) {
        assert(r.isNullAt(r.fieldIndex("spending_consistency")),
          s"single-order customer $cust should have NULL spending_consistency")
      } else {
        val amts = rows.map(_._2)
        val mean = amts.sum / amts.length
        val sd = math.sqrt(amts.map(a => (a - mean) * (a - mean)).sum / (amts.length - 1))
        val sc = 1.0 - sd / math.max(mean, 1.0)
        assert(math.abs(r.getAs[Double]("spending_consistency") - sc) < 1e-4,
          s"spending mismatch for $cust")
      }
    }
  }

  test("masking: policy applied from the catalog file — no raw PII survives, hash preserves joins") {
    import graft.operators.{Catalog, Masking}
    val masked = Masking.maskedCustomer(spark, sf)
    val raw = Tables.customer(spark, sf)
    // RLS: only the declared filter's rows are visible
    assert(masked.count() == raw.filter(col("c_acctbal") >= 0).count())
    // no raw customer name survives masking
    val leaked = masked.join(raw.select(col("c_name").as("raw_name")).distinct(),
      col("c_name") === col("raw_name"), "left_semi").count()
    assert(leaked == 0, s"$leaked raw names leaked through the mask")
    // hash masking preserves joinability: masked table joins back to an
    // independently hashed key with full cardinality
    val rehashed = raw.filter(col("c_acctbal") >= 0)
      .select(md5(col("c_name").cast("string")).as("h"))
    assert(masked.join(rehashed, col("c_name") === col("h"), "left_semi").count()
      == masked.count())
    // unknown rule and absent column both fail loudly
    intercept[IllegalArgumentException] {
      Masking.maskColumn(Catalog.ColumnRule("c_name", "rot13", "pii"))
    }
    intercept[IllegalArgumentException] {
      Masking.maskTable(raw,
        Catalog.TablePolicy("customer", None,
          Seq(Catalog.ColumnRule("no_such_col", "hash", "pii"))))
    }
  }

  test("masking audit: hash preserves cardinality, redact collapses it, band compresses it") {
    import graft.operators.Masking
    val audit = Masking.maskAudit(spark, sf).collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) -> r).toMap
    audit.values.foreach { r =>
      val (rule, d0, d1) = (r.getAs[String]("rule"),
        r.getAs[Long]("n_distinct_orig"), r.getAs[Long]("n_distinct_masked"))
      rule match {
        case "hash" => assert(d1 == d0, s"hash must preserve cardinality: $d0 -> $d1")
        case "redact" => assert(d1 <= 1, s"redact must collapse cardinality, got $d1")
        case "band" => assert(d1 < d0, s"band must compress cardinality: $d0 -> $d1")
      }
    }
    assert(audit.keySet == Set(
      ("customer", "c_name"), ("customer", "c_acctbal"),
      ("supplier", "s_name"), ("supplier", "s_acctbal"),
      ("events", "user_id")))
  }

  test("access matrix: roles expand against every catalog table with glob semantics") {
    import graft.operators.{Catalog, Masking}
    val m = Masking.accessMatrix(spark).collect()
    val nTables = Catalog.default.facts.size + Catalog.default.dims.size
    assert(m.length == Catalog.default.access.size * nTables,
      "one row per role x declared table")
    // analyst: read-only everywhere it can see; data_engineer: full
    m.foreach { r =>
      r.getAs[String]("role") match {
        case "analyst" => assert(!r.getAs[Boolean]("can_write"))
        case "data_engineer" =>
          assert(r.getAs[Boolean]("can_read") && r.getAs[Boolean]("can_write"))
        case other => fail(s"unexpected role $other")
      }
    }
    // a visible table is readable only via a matching pattern: check the
    // glob engine directly on adversarial names
    val rule = Catalog.AccessRule("t", Seq("read"), Seq("fact_*"))
    def visible(name: String, rules: Seq[String]) = {
      val r2 = rule.copy(tables = rules)
      Masking.accessMatrixFor(Seq(r2), Seq((name, "fact")))
        .head._4
    }
    assert(visible("fact_sales", Seq("fact_*")))
    assert(!visible("dim_sales", Seq("fact_*")))
    assert(!visible("xfact_sales", Seq("fact_*")))
    assert(visible("fact_x", Seq("fact_?")))
    assert(!visible("fact_xy", Seq("fact_?")))
    // regex metacharacters in a pattern stay literal
    assert(!visible("factXsales", Seq("fact.sales")))
    assert(visible("fact.sales", Seq("fact.sales")))
  }
}
