package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.TrainPrep
import graft.operators.Quality
import graft.text.Vocab

/** Behavioral invariants for the round-9 training-prep / governance
  * additions beyond their row-level oracles: leakage exclusion in the
  * target encoder, the embargo gap's temporal ordering, the k-anonymity
  * floor, and hashing-trick mass conservation. */
class TrainGovSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("targetEncode: loo_enc equals the brute-force leave-one-out mean; 1-row class smooths to the prior") {
    val orders = Tables.orders(spark, sf)
    val enc = TrainPrep.targetEncode(orders).collect()
    val raw = orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byCat = raw.groupBy(_._2)
    val prior = raw.map(_._3).sum / raw.length
    assert(enc.length == raw.length)
    enc.foreach { r =>
      val (cat, t) = (r.getAs[String]("o_orderpriority"), r.getAs[Double]("o_totalprice"))
      val others = byCat(cat).filter(_._1 != r.getAs[Long]("o_orderkey")).map(_._3)
      if (others.nonEmpty) {
        val loo = others.sum / others.length
        assert(math.abs(r.getAs[Double]("loo_enc") - loo) < 1e-2,
          s"loo mismatch for key ${r.getAs[Long]("o_orderkey")}")
      } else {
        assert(r.isNullAt(r.fieldIndex("loo_enc")))
        // m-smoothing of an empty LOO set collapses to the global prior
        assert(math.abs(r.getAs[Double]("te_smooth") - prior) < 1e-2)
      }
      // the encoder never reproduces the own row's target unless the
      // class genuinely centers there: smoothed value stays between the
      // prior and the LOO mean (convex combination)
      val lo = math.min(r.getAs[Double]("prior"),
        Option(r.get(r.fieldIndex("loo_enc"))).map(_.asInstanceOf[Double]).getOrElse(r.getAs[Double]("prior")))
      val hi = math.max(r.getAs[Double]("prior"),
        Option(r.get(r.fieldIndex("loo_enc"))).map(_.asInstanceOf[Double]).getOrElse(r.getAs[Double]("prior")))
      assert(r.getAs[Double]("te_smooth") >= lo - 1e-6 && r.getAs[Double]("te_smooth") <= hi + 1e-6)
    }
  }

  test("timeSplitEmbargo: splits are temporally ordered with a full embargo gap and partition the table") {
    val events = Tables.events(spark, sf)
    val n = events.count()
    val s = TrainPrep.timeSplitEmbargo(events).collect()
    assert(s.length == n)
    val byS = s.groupBy(_.getAs[String]("split")).view.mapValues(_.map(_.getAs[Long]("ts_s"))).toMap
    assert(byS.contains("train") && byS.contains("test"))
    val trainMax = byS("train").max
    val testMin = byS("test").min
    assert(testMin - trainMax >= 1L, "test must start strictly after train")
    byS.get("embargo").foreach { emb =>
      assert(emb.forall(t => t > trainMax && t < testMin))
      // the quarantined region spans less than the embargo window itself
      assert(testMin - trainMax <= 2 * 86400L)
    }
    // ~70% of the SPAN is train-side; sanity floor on both populations
    assert(byS("train").length > 0 && byS("test").length > 0)
  }

  test("kAnonymity: floor equals the min set size; shares sum to 1; flags match the threshold") {
    val cust = Tables.customer(spark, sf)
    val a = Quality.kAnonymity(cust, Seq("c_nationkey", "c_mktsegment"), k = 5).collect()
    val minN = a.map(_.getAs[Long]("n_rows")).min
    assert(a.forall(_.getAs[Long]("k_anonymity") == minN))
    assert(math.abs(a.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
    assert(a.forall(r => r.getAs[Boolean]("violates_k") == (r.getAs[Long]("n_rows") < 5)))
    assert(a.map(_.getAs[Long]("n_rows")).sum == cust.count())
  }

  test("pmiCollocations: floor respected, ranks dense, PMI matches a brute-force recomputation") {
    val docs = Tables.documents(spark, sf)
    val r = Vocab.pmiCollocations(docs, k = 40, minCount = 5).collect()
    assert(r.nonEmpty && r.length <= 40)
    assert(r.map(_.getAs[Int]("rank")).toSeq == (1 to r.length))
    assert(r.forall(_.getAs[Long]("c12") >= 5))
    val pmis = r.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
    // brute-force the corpus counts and re-derive the top row's PMI
    val words = graft.text.TextPrep.withWords(docs)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("words")).as("w"))
      .collect().map(_.getString(0))
    val nUni = words.length.toDouble
    val uni = words.groupBy(identity).view.mapValues(_.length).toMap
    val top = r.head
    val (w1, w2) = (top.getAs[String]("w1"), top.getAs[String]("w2"))
    val expected = math.log((top.getAs[Long]("c12") / bigramTotal(docs)) /
      ((uni(w1) / nUni) * (uni(w2) / nUni))) / math.log(2.0)
    assert(math.abs(top.getAs[Double]("pmi") - expected) < 1e-5)
    assert(top.getAs[Long]("c1") == uni(w1) && top.getAs[Long]("c2") == uni(w2))
  }

  private def bigramTotal(docs: org.apache.spark.sql.DataFrame): Double =
    graft.text.TextPrep.withWords(docs)
      .select(org.apache.spark.sql.functions.greatest(
        org.apache.spark.sql.functions.size(col("words")) - 1,
        org.apache.spark.sql.functions.lit(0)).cast("long").as("n"))
      .collect().map(_.getLong(0)).sum.toDouble

  test("mixTemperature: each tau's weights sum to 1; tau=1 is natural shares; lower tau flattens the mixture") {
    val byTau = Vocab.mixTemperature(Tables.documents(spark, sf)).collect()
      .groupBy(_.getAs[Double]("tau"))
    assert(byTau.keySet == Set(0.25, 0.5, 0.75, 1.0))
    byTau.foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getAs[Double]("weight")).sum - 1.0) < 1e-3) }
    val natural = byTau(1.0)
    assert(natural.forall(r =>
      math.abs(r.getAs[Double]("upsample_factor") - 1.0) < 1e-3),
      "tau=1.0 must reproduce natural proportions")
    // flattening: the largest source's weight is non-increasing in tau
    val maxW = Seq(0.25, 0.5, 0.75, 1.0).map(t => byTau(t).map(_.getAs[Double]("weight")).max)
    assert(maxW.zip(maxW.tail).forall { case (a, b) => a <= b + 1e-9 },
      s"max weight must grow with tau (flattening): $maxW")
  }

  test("abTest: arms partition the events; means match a brute-force recomputation; lift consistent") {
    val events = Tables.events(spark, sf)
    val r = graft.ml.Monitoring.abTest(events).collect().head
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == events.count())
    val raw = events.select(col("user_id"), col("value")).collect()
      .map(x => (x.getLong(0), x.getDouble(1)))
    def armOf(u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      if (("0123456789abcdef".indexOf(hex(0))) % 2 == 0) "A" else "B"
    }
    val a = raw.filter(x => armOf(x._1) == "A").map(_._2)
    val b = raw.filter(x => armOf(x._1) == "B").map(_._2)
    assert(math.abs(r.getAs[Double]("mean_a") - a.sum / a.length) < 1e-2)
    assert(math.abs(r.getAs[Double]("mean_b") - b.sum / b.length) < 1e-2)
    assert(math.abs(r.getAs[Double]("lift") -
      (r.getAs[Double]("mean_b") - r.getAs[Double]("mean_a"))) < 2e-6)
  }

  test("featureHashing: bucket counts conserve the token stream; buckets bounded; signed count parity-consistent") {
    val docs = Tables.documents(spark, sf)
    val fh = Vocab.featureHashing(docs, dims = 64).collect()
    assert(fh.forall(r => r.getAs[Int]("bucket") >= 0 && r.getAs[Int]("bucket") < 64))
    val tokTotals = graft.text.TextPrep.withWords(docs)
      .select(col("doc_id"), size(col("words")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    fh.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      assert(rows.map(_.getAs[Long]("cnt")).sum == tokTotals(id),
        s"doc $id: hashed counts must conserve the token count")
      assert(math.abs(rows.map(_.getAs[Double]("tf")).sum - 1.0) < 1e-3)
      rows.foreach { r =>
        val (c, sc) = (r.getAs[Long]("cnt"), r.getAs[Long]("signed_cnt"))
        assert(math.abs(sc) <= c && ((c - sc) % 2 == 0),
          "signed count must be reachable from cnt by ±1 terms")
      }
    }
  }
}
