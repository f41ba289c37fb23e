package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Approx, TrainPrep}
import graft.text.{TextOps, Vocab}

/** Behavioral invariants for the sufficient-statistics / sketch-rollup
  * family beyond their row-level oracles: the distributed OLS fit against
  * a local normal-equation solve, co-occurrence pair semantics on a
  * hand-computable corpus, the entropy formula on known distributions,
  * and the HLL-union rollup contract.
  */
class StatsOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("linregFit matches a local normal-equation solve; R2 sane; residuals sum to ~0") {
    val docs = Tables.documents(spark, sf)
    val fit = TrainPrep.linregFit(docs).collect()(0)
    val rows = graft.text.TextPrep.withWords(docs)
      .select(col("n_chars").cast("double"),
        size(col("words")).cast("double"),
        size(array_distinct(col("words"))).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val n = rows.length.toDouble
    val s1 = rows.map(_._2).sum; val s2 = rows.map(_._3).sum
    val sy = rows.map(_._1).sum
    val s11 = rows.map(r => r._2 * r._2).sum
    val s12 = rows.map(r => r._2 * r._3).sum
    val s22 = rows.map(r => r._3 * r._3).sum
    val s1y = rows.map(r => r._2 * r._1).sum
    val s2y = rows.map(r => r._3 * r._1).sum
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val b0 = (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)) / det
    val b1 = (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)) / det
    val b2 = (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)) / det
    assert(fit.getAs[Long]("n") == rows.length)
    assert(math.abs(fit.getAs[Double]("b0") - b0) < 1e-4)
    assert(math.abs(fit.getAs[Double]("b1") - b1) < 1e-4)
    assert(math.abs(fit.getAs[Double]("b2") - b2) < 1e-4)
    val r2 = fit.getAs[Double]("r2_score")
    assert(r2 > 0.0 && r2 <= 1.0, s"r2 $r2")
    // OLS with intercept: residuals sum to zero (each rounded to 1e-6,
    // so the tolerance scales with corpus size)
    val resSum = TrainPrep.linregScore(docs).agg(
      sum(col("residual")).cast("double")).collect()(0).getDouble(0)
    assert(math.abs(resSum) < 0.01 + rows.length * 1e-6, s"residual sum $resSum")
  }

  test("cooccurTopk counts exactly the within-window unordered pairs of a hand corpus") {
    import spark.implicits._
    val docs = Seq((0L, "a b c a"), (1L, "b a")).toDF("doc_id", "text")
    // doc0 offsets 1..3: (a,b) (a,c) [a,a excluded] (b,c) (b,a) (c,a);
    // doc1: (b,a) — canonicalized totals: (a,b)=3 (a,c)=2 (b,c)=1
    val out = Vocab.cooccurTopk(docs, window = 3, k = 50).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("n"))).toSeq
    assert(out == Seq(("a", "b", 3L), ("a", "c", 2L), ("b", "c", 1L)))
  }

  test("cooccurTopk window bound: offset window+1 pairs are not counted") {
    import spark.implicits._
    val docs = Seq((0L, "a x y z b")).toDF("doc_id", "text")
    // a..b are 4 apart — outside window 3
    val pairs = Vocab.cooccurTopk(docs, window = 3, k = 50).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSet
    assert(!pairs.contains(("a", "b")))
    assert(pairs.contains(("a", "z"))) // 3 apart: counted
  }

  test("charEntropy: 0 for a constant string, ln k for uniform k chars, blank docs dropped") {
    import spark.implicits._
    val docs = Seq((0L, "aaaa"), (1L, "abab"), (2L, "   "), (3L, "abcd"))
      .toDF("doc_id", "text")
    val out = TextOps.charEntropy(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(2L)) // norm("   ") is empty — no entropy row
    assert(out(0L).getAs[Double]("entropy") == 0.0)
    assert(out(0L).getAs[Boolean]("low_entropy"))
    assert(math.abs(out(1L).getAs[Double]("entropy") - math.log(2)) < 1e-5)
    assert(math.abs(out(3L).getAs[Double]("entropy") - math.log(4)) < 1e-5)
    assert(out(3L).getAs[Long]("n_distinct_chars") == 4L)
    // entropy is bounded by ln(|alphabet|)
    TextOps.charEntropy(Tables.documents(spark, sf)).collect().foreach { r =>
      val hi = math.log(r.getAs[Long]("n_distinct_chars").toDouble)
      assert(r.getAs[Double]("entropy") <= hi + 1e-6)
      assert(r.getAs[Double]("entropy") >= 0.0)
    }
  }

  test("bm25 matches a brute-force recomputation on a hand corpus") {
    import spark.implicits._
    val docs = Seq((0L, "cat dog cat"), (1L, "dog fish"), (2L, "bird"))
      .toDF("doc_id", "text")
    val out = Vocab.bm25(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // brute force: all 4 terms are in the seed query (nQuery=10 > vocab)
    val corpus = Map(0L -> Seq("cat", "dog", "cat"), 1L -> Seq("dog", "fish"), 2L -> Seq("bird"))
    val nn = 3.0
    val avgdl = (3 + 2 + 1) / 3.0
    def dfOf(t: String) = corpus.values.count(_.contains(t)).toDouble
    corpus.foreach { case (id, words) =>
      val expect = words.distinct.map { t =>
        val tf = words.count(_ == t).toDouble
        val idf = math.log((nn - dfOf(t) + 0.5) / (dfOf(t) + 0.5) + 1.0)
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * words.length / avgdl))
      }.sum
      assert(math.abs(out(id).getAs[Double]("bm25") - expect) < 1e-5,
        s"doc $id: got ${out(id).getAs[Double]("bm25")}, want $expect")
      assert(out(id).getAs[Long]("n_terms") == words.distinct.length)
    }
    // BM25 saturates in tf: doubling an already-present term raises the
    // score sublinearly (k1 saturation), never linearly
    val one = out(1L).getAs[Double]("bm25")
    assert(out(0L).getAs[Double]("bm25") > 0 && one > 0)
  }

  test("shardPlan: ranks are a permutation, shards balanced within two max docs") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.text.Packing.shardPlan(docs).collect()
    val n = docs.count()
    assert(plan.length == n)
    assert(plan.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to n).toSeq)
    // rank order follows (est_tokens, doc_id)
    val byRank = plan.sortBy(_.getAs[Long]("rnk"))
    byRank.sliding(2).foreach { case Array(a, b) =>
      val ka = (a.getAs[Long]("est_tokens"), a.getAs[Long]("doc_id"))
      val kb = (b.getAs[Long]("est_tokens"), b.getAs[Long]("doc_id"))
      assert(ka._1 < kb._1 || (ka._1 == kb._1 && ka._2 < kb._2))
    }
    val totals = plan.groupBy(_.getAs[Int]("shard"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("est_tokens")).sum }
    val maxDoc = plan.map(_.getAs[Long]("est_tokens")).max
    assert(totals.max - totals.min <= 2 * maxDoc,
      s"shard spread ${totals.max - totals.min} exceeds 2x max doc $maxDoc")
    // the balance mart agrees with the plan
    val bal = graft.text.Packing.shardBalance(docs).collect()
    assert(bal.map(_.getAs[Long]("shard_tokens")).sum == plan.map(_.getAs[Long]("est_tokens")).sum)
    bal.foreach(r => assert(math.abs(r.getAs[Double]("balance_ratio") - 1.0) < 0.2))
  }

  test("annNdcg matches a local DCG recomputation over the two oracled rankings; ndcg in [0,1]") {
    val emb = Tables.embeddings(spark, sf)
    def dcgLocal(rows: Array[org.apache.spark.sql.Row]): Map[Long, Double] =
      rows.groupBy(_.getAs[Long]("probe_id")).map { case (p, rs) =>
        p -> rs.map { r =>
          val g = (r.getAs[Double]("cosine") + 1.0) / 2.0
          g / (math.log(r.getAs[Int]("rank") + 1.0) / math.log(2.0))
        }.sum
      }
    val ideal = dcgLocal(graft.ann.Ann.bruteForceTopK(emb).collect())
    val got = dcgLocal(graft.ann.Ann.ivfSearch(emb).collect())
    val out = graft.ann.Ann.annNdcg(emb).collect()
    assert(out.nonEmpty && out.length == ideal.size)
    out.foreach { r =>
      val p = r.getAs[Long]("probe_id")
      assert(math.abs(r.getAs[Double]("idcg") - ideal(p)) < 1e-5)
      assert(math.abs(r.getAs[Double]("dcg") - got.getOrElse(p, 0.0)) < 1e-5)
      val ndcg = r.getAs[Double]("ndcg")
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9, s"probe $p ndcg $ndcg")
      assert(math.abs(ndcg - got.getOrElse(p, 0.0) / ideal(p)) < 1e-5)
    }
  }

  test("vocabPrune: coverage meets each target minimally; matches a brute-force recount") {
    val docs = Tables.documents(spark, sf)
    val rows = graft.text.Vocab.vocabPrune(docs).collect().sortBy(_.getAs[Double]("target"))
    assert(rows.map(_.getAs[Double]("target")).toSeq == Seq(0.5, 0.75, 0.9, 0.95, 0.99))
    // brute force: word counts -> sorted desc, cumulative shares
    val wcs = graft.text.TextPrep.withWords(docs)
      .select(explode(col("words")).as("w")).groupBy("w").count()
      .collect().map(_.getLong(1)).sorted.reverse
    val tot = wcs.sum.toDouble
    rows.foreach { r =>
      val t = r.getAs[Double]("target")
      val cov = r.getAs[Double]("coverage")
      assert(cov + 1e-9 >= t, s"coverage $cov below target $t")
      // minimality at count granularity: dropping the min_count band
      // (all words with count == min_count) must fall below the target
      val mc = r.getAs[Long]("min_count")
      val covWithout = wcs.filter(_ > mc).sum / tot
      assert(covWithout < t, s"cut not minimal at target $t: $covWithout without band $mc")
      val expCov = wcs.filter(_ >= mc).sum / tot
      assert(math.abs(cov - expCov) < 1e-5)
      assert(r.getAs[Long]("vocab_size") == wcs.count(_ >= mc))
      assert(math.abs(r.getAs[Double]("oov_share") - (1.0 - expCov)) < 1e-5)
    }
    // vocab grows with the coverage target
    val sizes = rows.map(_.getAs[Long]("vocab_size"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a <= b })
  }

  test("embedCov matches a local covariance recomputation; diagonal corr is 1; |corr| <= 1") {
    val emb = Tables.embeddings(spark, sf)
    val rows = graft.ann.Embeddings.embedCov(emb).collect()
    assert(rows.length == 8 * 9 / 2)
    val vecs = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length.toDouble
    def covLocal(i: Int, j: Int): Double = {
      val sxy = vecs.map(v => v(i) * v(j)).sum
      val sxi = vecs.map(_(i)).sum; val sxj = vecs.map(_(j)).sum
      (sxy - sxi * sxj / n) / n
    }
    rows.foreach { r =>
      val (di, dj) = (r.getAs[Int]("di"), r.getAs[Int]("dj"))
      assert(di <= dj)
      assert(math.abs(r.getAs[Double]("cov") - covLocal(di, dj)) < 1e-4,
        s"cov($di,$dj): ${r.getAs[Double]("cov")} vs ${covLocal(di, dj)}")
      val corr = r.getAs[Double]("corr")
      assert(math.abs(corr) <= 1.0 + 1e-6)
      if (di == dj) assert(math.abs(corr - 1.0) < 1e-6, s"diag corr $corr at $di")
    }
    // the screen picked the 8 highest-variance dims
    val allVar = (0 until vecs.head.length).map(i => i -> covLocal(i, i))
    val picked = rows.map(_.getAs[Int]("di")).toSet ++ rows.map(_.getAs[Int]("dj"))
    val top8 = allVar.sortBy { case (i, v) => (-v, i) }.take(8).map(_._1).toSet
    assert(picked == top8, s"screen picked $picked, brute force says $top8")
  }

  test("containment catches full inclusion Jaccard misses; agrees with the shared intersections") {
    import spark.implicits._
    // B contains all of A's 3-grams plus many of its own: Jaccard is low
    // (3 shared / 13 union), containment of A in B is exactly 1
    val a = "alpha beta gamma delta epsilon"
    val b = a + " zeta eta theta iota kappa lambda mu nu xi omicron"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.containment(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Double]("cont_a") == 1.0)
    assert(r.getAs[String]("direction") == "a_in_b")
    assert(r.getAs[Double]("containment") == 1.0)
    // the same pair is BELOW the Jaccard near-dup bar — the blind spot
    assert(graft.dedup.Dedup.ngramJaccard(docs).collect().isEmpty)
    // on the corpus: every surviving pair's containment >= its jaccard
    val corpus = Tables.documents(spark, sf)
    val jac = graft.dedup.Dedup.ngramJaccard(corpus).collect()
      .map(r0 => (r0.getAs[Long]("doc_a"), r0.getAs[Long]("doc_b")) ->
        r0.getAs[Double]("jaccard")).toMap
    val cont = graft.dedup.Dedup.containment(corpus).collect()
      .map(r0 => (r0.getAs[Long]("doc_a"), r0.getAs[Long]("doc_b")) ->
        r0.getAs[Double]("containment")).toMap
    jac.foreach { case (k, j) =>
      if (j >= 0.5) assert(cont.contains(k) && cont(k) + 1e-9 >= j,
        s"pair $k jaccard $j missing or below in containment")
    }
  }

  test("sessionPaths matches a local recomputation of capped session paths") {
    val ev = Tables.events(spark, sf)
    val out = graft.ml.Features.sessionPaths(ev).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("n_sessions"), r.getAs[Long]("n_users")))
    val raw = ev.selectExpr("user_id", "event_id", "event_type",
        "cast(floor(unix_timestamp(ts)) as long) ts_s", "ts")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts_s"),
        r.getAs[java.sql.Timestamp]("ts")))
    val paths = raw.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e._5.getTime, e._2))
      // split on >30min gaps of the floored seconds, as the operator does
      val sessions = sorted.foldLeft(Vector.empty[Vector[(String, Long)]]) { (acc, e) =>
        if (acc.isEmpty || e._4 - acc.last.last._2 > 1800L) acc :+ Vector((e._3, e._4))
        else acc.init :+ (acc.last :+ ((e._3, e._4)))
      }
      sessions.map(s => (u, s.take(5).map(_._1).mkString(">")))
    }
    val counts = paths.groupBy(_._2).map { case (p, xs) =>
      (p, xs.size.toLong, xs.map(_._1).distinct.size.toLong) }
    val top = counts.toSeq.sortBy { case (p, n, _) => (-n, p) }.take(20)
    assert(out.toSeq == top)
  }

  test("langConfusion is the exact cross-tab of langId; shares normalize per row/column") {
    val docs = Tables.documents(spark, sf)
    val ids = graft.text.TextOps.langId(docs).collect()
      .map(r => (r.getAs[String]("labeled_lang"), r.getAs[String]("predicted_lang")))
    val expect = ids.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val out = graft.text.TextOps.langConfusion(docs).collect()
    assert(out.map(_.getAs[Long]("n")).sum == ids.length)
    out.foreach { r =>
      val k = (r.getAs[String]("labeled_lang"), r.getAs[String]("predicted_lang"))
      assert(r.getAs[Long]("n") == expect(k), s"cell $k")
      assert(r.getAs[Long]("n_labeled") == ids.count(_._1 == k._1))
      assert(r.getAs[Long]("n_predicted") == ids.count(_._2 == k._2))
      assert(math.abs(r.getAs[Double]("recall_share") -
        expect(k).toDouble / ids.count(_._1 == k._1)) < 1e-6)
    }
    assert(out.length == expect.size)
  }

  test("gateFunnel: monotone attrition, stage 1 equals the gopher keep count, fused == staged") {
    val docs = Tables.documents(spark, sf)
    val out = graft.text.TextOps.gateFunnel(docs).collect().sortBy(_.getAs[Int]("stage"))
    assert(out.map(_.getAs[String]("gate")).toSeq ==
      Seq("total", "gopher_rules", "english", "char_entropy", "quality_score"))
    val ns = out.map(_.getAs[Long]("n_docs"))
    assert(ns.head == docs.count())
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a }, s"not monotone: ${ns.toSeq}")
    // the fused stage-1 count equals the standalone gopher operator's
    val gopherKeep = graft.text.TextOps.gopherGates(docs)
      .filter(col("keep")).count()
    assert(ns(1) == gopherKeep)
    // staged recomputation of stage 3 from the standalone operators
    val en = graft.text.TextOps.langId(docs).collect()
      .filter(_.getAs[String]("predicted_lang") == "en")
      .map(_.getAs[Long]("doc_id")).toSet
    val gk = graft.text.TextOps.gopherGates(docs).filter(col("keep"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val hiEnt = graft.text.TextOps.charEntropy(docs)
      .filter(col("entropy") >= 2.0).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ns(3) == (gk & en & hiEnt).size)
    out.foreach { r =>
      val st = r.getAs[Double]("share_total")
      assert(st >= 0.0 && st <= 1.0)
    }
  }

  test("linregFit on collinear features (x1 == x2): singular system yields NULL, not garbage") {
    import spark.implicits._
    // all words distinct within every doc -> distinct-token count equals
    // token count exactly -> X'X is singular
    val docs = Seq((1L, "a b c", 5L), (2L, "d e", 3L), (3L, "f g h i", 7L),
        (4L, "j k", 4L))
      .toDF("doc_id", "text", "n_chars")
    val fit = TrainPrep.linregFit(docs).collect()(0)
    assert(fit.getAs[Long]("n") == 4L)
    assert(fit.isNullAt(fit.fieldIndex("b0")))
    assert(fit.isNullAt(fit.fieldIndex("b1")))
    assert(fit.isNullAt(fit.fieldIndex("b2")))
  }

  test("NULL text drops from linreg and shard plan instead of poisoning the stats") {
    import spark.implicits._
    val docs = Seq((1L, Option("hello world hello"), 17L),
        (2L, None: Option[String], 5L))
      .toDF("doc_id", "text", "n_chars")
    // Spark's size(NULL) = -1 would have entered the moments as a -1
    // feature value; the filter drops the row in both engines instead
    assert(graft.ml.TrainPrep.linregFit(docs).collect()(0).getAs[Long]("n") == 1L)
    assert(graft.text.Packing.shardPlan(docs).collect()
      .map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
  }

  test("zipfFit matches a local log-log regression; a crafted Zipf corpus fits slope ~ -1") {
    val docs = Tables.documents(spark, sf)
    val fit = graft.text.Vocab.zipfFit(docs).collect()(0)
    // local brute force over the exact (rank, freq) points
    val freqs = graft.text.TextPrep.withWords(docs)
      .select(explode(col("words")).as("w")).groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) }
    val pts = freqs.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum; val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(fit.getAs[Long]("n_types") == pts.length)
    assert(math.abs(fit.getAs[Double]("slope") - slope) < 1e-4)
    assert(math.abs(fit.getAs[Double]("intercept") - (sy - slope * sx) / n) < 1e-4)
    val r2 = fit.getAs[Double]("r2_fit")
    assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9)
    // a corpus built with exact 1/r frequencies fits slope -1 near-perfectly
    import spark.implicits._
    val zipf = (1 to 20).flatMap(r => Seq.fill(math.max(1, 240 / r))(s"w$r"))
    val zdocs = Seq((0L, zipf.mkString(" "))).toDF("doc_id", "text")
    val zfit = graft.text.Vocab.zipfFit(zdocs).collect()(0)
    assert(math.abs(zfit.getAs[Double]("slope") + 1.0) < 0.1,
      s"slope ${zfit.getAs[Double]("slope")} not ~ -1")
    assert(zfit.getAs[Double]("r2_fit") > 0.98)
  }

  test("sourceKl: non-negative, zero for a single-source corpus, matches brute force") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val out = graft.text.Vocab.sourceKl(docs).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Double]("kl_vs_corpus") >= -1e-9,
      s"KL negative for ${r.getAs[String]("source")}"))
    // a corpus with ONE source: its distribution IS the corpus -> KL = 0
    val one = docs.withColumn("source", lit("only"))
    val kl0 = graft.text.Vocab.sourceKl(one).collect()
    assert(kl0.length == 1 && math.abs(kl0.head.getAs[Double]("kl_vs_corpus")) < 1e-9)
    // brute force one source's KL over the 64 hashed buckets
    val toks = graft.text.TextPrep.withWords(docs)
      .select(col("source"), explode(col("words")).as("w"))
      .withColumn("hx", md5(col("w").cast("binary")))
      .withColumn("bucket", expr(
        "pmod((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 + " +
          "instr('0123456789abcdef', substr(hx, 2, 1)) - 1, 64)"))
      .select("source", "bucket").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("bucket")))
    val src = out.head.getAs[String]("source")
    val mine = toks.filter(_._1 == src)
    val nt = mine.length.toDouble; val nc = toks.length.toDouble
    val kl = (0 until 64).map { b =>
      val p = (mine.count(_._2 == b) + 1.0) / (nt + 64.0)
      val q = (toks.count(_._2 == b) + 1.0) / (nc + 64.0)
      p * math.log(p / q)
    }.sum
    assert(math.abs(out.head.getAs[Double]("kl_vs_corpus") - kl) < 1e-5)
    assert(out.head.getAs[Long]("n_tokens") == mine.length)
  }

  test("paraDedup: cross-doc blocks flag every holder; within-doc repeats do not count") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " " + (1 to 10).map(i => s"a$i").mkString(" ")), // shared + own block
      (2L, shared),                                                  // exactly the shared block
      (3L, (1 to 10).map(i => s"c$i").mkString(" ")),                // unique
      (4L, ((1 to 10).map(i => s"d$i") ++ (1 to 10).map(i => s"d$i")).mkString(" "))
    ).toDF("doc_id", "text")                                         // self-repeat only
    val out = graft.dedup.Dedup.paraDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_blocks") == 2 && out(1L).getAs[Long]("n_dup_blocks") == 1)
    assert(out(1L).getAs[Double]("dup_share") == 0.5 && out(1L).getAs[Boolean]("trim_flag"))
    assert(out(2L).getAs[Long]("n_dup_blocks") == 1 && out(2L).getAs[Boolean]("trim_flag"))
    assert(out(3L).getAs[Long]("n_dup_blocks") == 0 && !out(3L).getAs[Boolean]("trim_flag"))
    // doc 4 repeats its own block twice — cross-doc count is 1, no flag
    assert(out(4L).getAs[Long]("n_blocks") == 2 && out(4L).getAs[Long]("n_dup_blocks") == 0)
    assert(!out(4L).getAs[Boolean]("trim_flag"))
  }

  test("readability: hand-computable Flesch values; floors keep degenerate docs defined") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat."),          // 3 words, 1 sentence, 3 syllable groups
      (2L, ""),                      // degenerate: floors to 1/1
      (3L, "Incomprehensibilities!") // 1 word, many vowel groups
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.readability(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val f1 = 206.835 - 1.015 * (3.0 / 1) - 84.6 * (3.0 / 3)
    assert(math.abs(out(1L).getAs[Double]("flesch") -
      math.floor(f1 * 10000 + 0.5) / 10000) < 1e-9)
    assert(out(1L).getAs[String]("grade") == "easy")
    assert(out(2L).getAs[Int]("n_sentences") == 1 && out(2L).getAs[Int]("n_syllables") == 1)
    // "Incomprehensibilities": vowel groups i-o-e-e-i-i-i-e = 8
    assert(out(3L).getAs[Int]("n_syllables") == 8)
    assert(out(3L).getAs[String]("grade") == "difficult")
  }

  test("hllRollup: exact stats match brute force; union estimate within bound; dailies dominate") {
    val ev = Tables.events(spark, sf)
    val out = Approx.hllRollup(ev).collect()
    assert(out.nonEmpty)
    val raw = ev.select(col("event_type"), to_date(col("ts")).cast("string"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byType = raw.groupBy(_._1)
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val exact = byType(t).map(_._3).distinct.length
      val sumDaily = byType(t).groupBy(_._2).map(_._2.map(_._3).distinct.length).sum
      assert(r.getAs[Long]("exact_users") == exact)
      assert(r.getAs[Long]("sum_day_users") == sumDaily)
      assert(r.getAs[Long]("sum_day_users") >= r.getAs[Long]("exact_users"))
      assert(r.getAs[Boolean]("union_ok"), s"HLL union outside bound for $t")
    }
  }
}
