package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann

/** Behavioral invariants for the round-11 additions beyond their
  * row-level oracles — the IVF-PQ search family first. */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val emb = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))

  /** Lloyd (per-subspace k-means) refinement of the PQ codebook — the
    * `Ann.lloydCentroids` twin for the quantizer, and the codebook-
    * quality lever q_pq_quality's utilization/distortion columns decide
    * on. Each round: assign every sub-vector to its nearest entry (the
    * shared `Embeddings.pqAssignWith` plan) and recompute each
    * (subspace, code) entry as the elementwise mean of its members — a
    * (m·kCodes·subDim)-row aggregate, partial-aggregated, never a
    * corpus-sized collect. Entries that lose all members drop out
    * (utilization can only concentrate, like lloydCentroids). The test
    * below pins the k-means contract (mean total distortion
    * non-increasing per round) and A/Bs ADC recall through
    * `Ann.pqEvalWith`.
    *
    * MEASURED (sf0.01, m=8/subDim=8/kCodes=64): mean d2 0.0573 (hash)
    * → 0.0455 / 0.0427 / 0.0411 after 1/2/4 rounds (−26% at the
    * 2-round default), ADC recall@10 0.32 → 0.39 at 2 rounds (4 rounds
    * buys no more at this probe budget). Worth shipping when the
    * serving path is ADC-only; once the refine stage runs, recall is
    * already at the IVF probing ceiling (`Ann.pqSearch`'s scaladoc)
    * and the codebook choice is immaterial. */
  private def pqLloydCsub(embeddings: DataFrame, m: Int = 8,
                          subDim: Int = 8, k: Int = 64,
                          iters: Int = 2): DataFrame = {
    import graft.ann.Embeddings.{csubOf, pqAssignWith, pqCodebook, subFrame}
    val sub = subFrame(embeddings, m, subDim).localCheckpoint(false)
    var csub = csubOf(pqCodebook(embeddings, k), m, subDim)
    for (_ <- 1 to iters) {
      val assigned = pqAssignWith(sub, csub)
        .join(sub, Seq("vec_id", "m"))
      csub = assigned
        .select(col("m"), col("centroid_id"), posexplode(col("sv")).as(Seq("j", "x")))
        .groupBy(col("m"), col("centroid_id"), col("j"))
        .agg(avg(col("x").cast("double")).as("mx"))
        .groupBy(col("centroid_id"), col("m"))
        .agg(expr("transform(array_sort(collect_list(struct(j, mx))), s -> cast(s.mx as float))")
          .as("cv"))
        .select(col("centroid_id"), col("m").as("cm"), col("cv"))
        .localCheckpoint(false)
    }
    csub
  }

  test("pqRefine with an unbounded shortlist degenerates to exact IVF search (the probing ceiling)") {
    // shortlist >= every cell population => refine re-ranks ALL probed
    // candidates with exact cosine == ivfSearch's own result
    val ref = Ann.pqRefine(emb, shortlist = 1000000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val ivf = Ann.ivfSearch(emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(ref.sorted.toSeq == ivf.sorted.toSeq)
  }

  test("pqEval: refinement never loses a hit the ADC ranking had (per-probe monotonicity)") {
    // any brute-force-true neighbor in the ADC top-k is also in the
    // 50-row shortlist, and globally at most k-1 vectors outrank it on
    // exact cosine — so it must survive the exact re-rank
    val ev = Ann.pqEval(emb).collect()
    assert(ev.nonEmpty)
    ev.foreach { r =>
      assert(r.getAs[Long]("n_ref_hits") >= r.getAs[Long]("n_adc_hits"),
        s"probe ${r.getAs[Long]("probe_id")} lost hits in refinement")
    }
  }

  test("paraTrim: token mass is conserved — kept + trimmed == the doc's token count") {
    import graft.dedup.Dedup
    import graft.text.TextPrep
    val docs = Tables.documents(spark, sf)
    val masses = TextPrep.withWords(docs.filter(col("text").isNotNull))
      .select(col("doc_id"), size(col("words")).cast("long").as("n_tokens"))
    val out = Dedup.paraTrim(docs)
      .join(masses, "doc_id").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("kept_tokens") + r.getAs[Long]("trimmed_tokens") ==
        r.getAs[Long]("n_tokens"), s"doc ${r.getAs[Long]("doc_id")} leaks tokens")
      // the reassembled text carries exactly the kept mass
      val t = r.getAs[String]("text_trimmed")
      val n = if (t.isEmpty) 0L else t.split(" ").length.toLong
      assert(n == r.getAs[Long]("kept_tokens"),
        s"doc ${r.getAs[Long]("doc_id")} text/mass mismatch")
    }
  }

  test("paraTrim: within-doc repeats survive, cross-doc duplicates are trimmed in order") {
    import graft.dedup.Dedup
    import spark.implicits._
    val selfRep = ("alpha " * 10).trim          // 10-word block
    val shared = ("omega " * 10).trim           // 10-word block in two docs
    val docs = Seq(
      (1L, s"$selfRep $selfRep"),               // block repeated WITHIN one doc
      (2L, s"$shared unique two three four five six seven eight nine ten"),
      (3L, s"zzz yyy xxx www vvv uuu ttt sss rrr qqq $shared")
    ).toDF("doc_id", "text")
    val out = Dedup.paraTrim(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: self-repetition is NOT boilerplate — both blocks kept
    assert(out(1L).getAs[Long]("n_kept") == 2L)
    assert(out(1L).getAs[String]("text_trimmed") == s"$selfRep $selfRep")
    // docs 2/3: the shared block goes, the rest survives in order
    assert(out(2L).getAs[String]("text_trimmed") ==
      "unique two three four five six seven eight nine ten")
    assert(out(3L).getAs[String]("text_trimmed") ==
      "zzz yyy xxx www vvv uuu ttt sss rrr qqq")
    assert(out(2L).getAs[Long]("trimmed_tokens") == 10L)
    assert(out(3L).getAs[Long]("trimmed_tokens") == 10L)
  }

  test("corpusDiffOf: identical snapshots diff to all-unchanged with zero token delta") {
    import graft.text.CorpusStats
    val docs = Tables.documents(spark, sf)
    val out = CorpusStats.corpusDiffOf(docs, docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_added") == 0L && r.getAs[Long]("n_removed") == 0L &&
        r.getAs[Long]("n_changed") == 0L && r.getAs[Long]("token_delta") == 0L,
        s"source ${r.getAs[String]("source")} drifted against itself")
      assert(r.getAs[Long]("n_unchanged") > 0L)
    }
  }

  test("quantileRollup: estimates derive from mergeable day-grain state only (split-half union == whole)") {
    import graft.ml.Approx
    val events = Tables.events(spark, sf)
    // two disjoint shards built independently, states unioned and
    // RE-AGGREGATED — the associativity a coarser grain relies on
    val h = graft.functions.Fns.hexDigit("event_id", 1)
    val s1 = Approx.quantileState(events.filter(h < 8))
    val s2 = Approx.quantileState(events.filter(h >= 8))
    val merged = s1.union(s2)
      .groupBy(col("event_type"), col("day"), col("bin"))
      .agg(sum(col("n")).as("n"))
    val whole = Approx.quantileEstimates(Approx.quantileState(events))
      .collect().map(r => r.getString(0) -> r).toMap
    val split = Approx.quantileEstimates(merged).collect()
    assert(split.nonEmpty)
    split.foreach { r =>
      val w = whole(r.getString(0))
      assert(r.getAs[Long]("n") == w.getAs[Long]("n"))
      assert(r.getAs[Double]("est_p50") == w.getAs[Double]("est_p50"))
      assert(r.getAs[Double]("est_p95") == w.getAs[Double]("est_p95"))
    }
  }

  test("spaceSaving fold: state bounded at capacity, never undercounts, declares its overestimation") {
    import graft.streaming.TopKStream
    // skewed synthetic stream: word i appears ~1000/i times (i=1..60)
    val stream = (1 to 60).flatMap(i => Seq.fill(1000 / i)(s"w$i"))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cap = 8
    val (m, n) = TopKStream.foldSpaceSaving(Map.empty, 0L, stream.iterator, cap)
    assert(n == stream.size.toLong)
    assert(m.size <= cap, s"state grew to ${m.size} > $cap")
    m.foreach { case (w, (est, err)) =>
      val t = truth(w)
      assert(t <= est, s"$w undercounted: est=$est true=$t")
      assert(est - err <= t, s"$w over-over-estimated: est=$est err=$err true=$t")
    }
    // epsilon-superset: every word with true freq > n/cap is in the table
    truth.filter(_._2 > n / cap).keys.foreach { w =>
      assert(m.contains(w), s"heavy hitter $w (true=${truth(w)}) evicted")
    }
  }

  test("streaming heavy hitters: epsilon-superset of the batch truth across micro-batches, bounded output") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{TopKStream, WordIn}
    import graft.text.TextPrep
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val toks = TextPrep.withWords(Tables.documents(spark, sf).filter(col("text").isNotNull))
      .select(col("lang"), explode(col("words")).as("word"))
      .as[(String, String)].collect().map(t => WordIn(t._1, t._2))
    val truth = toks.groupBy(_.lang).view.mapValues(
      _.groupBy(_.word).view.mapValues(_.length.toLong).toMap).toMap
    val cap = 16
    val input = MemoryStream[WordIn]
    // k == capacity so each batch emits the key's FULL table
    val q = TopKStream.heavyHitters(input.toDS(), capacity = cap, k = cap)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("hh_stream").start()
    try {
      val (b1, b2) = toks.splitAt(toks.length / 2)
      input.addData(b1.toIndexedSeq); q.processAllAvailable()
      input.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hh_stream").collect()
    truth.foreach { case (lang, counts) =>
      val nLang = counts.values.sum
      val latest = rows.filter(_.getAs[String]("lang") == lang)
      assert(latest.nonEmpty, s"no output for lang $lang")
      val lastSeen = latest.map(_.getAs[Long]("n_seen")).max
      assert(lastSeen == nLang, s"lang $lang saw $lastSeen of $nLang tokens")
      val table = latest.filter(_.getAs[Long]("n_seen") == lastSeen)
        .map(r => r.getAs[String]("word") -> (r.getAs[Long]("est"), r.getAs[Long]("err"))).toMap
      assert(table.size <= cap)
      // the epsilon-superset guarantee vs the exact batch truth
      counts.filter(_._2 > nLang / cap).keys.foreach { w =>
        assert(table.contains(w), s"lang $lang heavy hitter $w missing from stream table")
      }
      // and the per-entry bracket survives micro-batch folding
      table.foreach { case (w, (est, err)) =>
        val t = counts.getOrElse(w, 0L)
        assert(t <= est && est - err <= t, s"lang $lang $w: est=$est err=$err true=$t")
      }
    }
  }

  test("streaming quantile state == batch state, and estimates derived from it match exactly") {
    import graft.ml.Approx
    import graft.streaming.EventStream
    val streamedSink = EventStream.quantileStateStream(spark, sf)
    // re-materialize off the memory-sink view: MemoryPlan views hit the
    // conflicting-reference resolver when self-joined (quantileEstimates
    // reads the state twice)
    val streamed = spark.createDataFrame(
      spark.sparkContext.parallelize(streamedSink.collect().toSeq),
      streamedSink.schema)
    val batch = Approx.quantileState(Tables.events(spark, sf))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("bin")) -> r.getAs[Long]("n")
    val sm = streamed.collect().map(key).toMap
    val bm = batch.collect().map(key).toMap
    assert(sm == bm, s"state drift: stream-only=${(sm.keySet -- bm.keySet).take(3)} batch-only=${(bm.keySet -- sm.keySet).take(3)}")
    // and the rollup built from the STREAMED state matches the batch rollup
    val se = Approx.quantileEstimates(streamed).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val be = Approx.quantileEstimates(batch).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(se == be)
  }

  test("pqLloydCsub: per-round distortion is monotone non-increasing and ADC recall does not regress") {
    import graft.ann.{Ann, Embeddings}
    val sub = Embeddings.subFrame(emb, 8, 8)
    def meanD2(csub: org.apache.spark.sql.DataFrame): Double =
      Embeddings.pqAssignWith(sub, csub).agg(avg("d2")).head.getDouble(0)
    def adcRecall(csub: org.apache.spark.sql.DataFrame): Double =
      Ann.pqEvalWith(emb, csub).agg(avg("recall")).head.getDouble(0)
    val hash = Embeddings.csubOf(Embeddings.pqCodebook(emb, 64), 8, 8)
    val l1 = pqLloydCsub(emb, iters = 1)
    val l2 = pqLloydCsub(emb, iters = 2)
    val (d0, d1, d2) = (meanD2(hash), meanD2(l1), meanD2(l2))
    // the k-means contract: each assign+mean round cannot raise the
    // objective (tiny epsilon absorbs the float-mean rounding)
    assert(d1 <= d0 + 1e-9, s"round 1 raised distortion: $d0 -> $d1")
    assert(d2 <= d1 + 1e-9, s"round 2 raised distortion: $d1 -> $d2")
    assert(d2 < d0 * 0.95, s"refinement bought <5%: $d0 -> $d2")
    // trained codebook must not cost ADC recall (measured: 0.28 -> 0.35
    // at sf0.001, 0.32 -> 0.39 at sf0.01)
    assert(adcRecall(l2) >= adcRecall(hash),
      "Lloyd codebook regressed ADC recall vs the hash sample")
  }

  test("round-11 operators are well-defined on empty inputs (the EdgeCasesSpec contract)") {
    import graft.ann.Ann
    import graft.dedup.Dedup
    import graft.ml.Approx
    import graft.text.CorpusStats
    val emptyEmb = Tables.embeddings(spark, sf).limit(0)
    val emptyDocs = Tables.documents(spark, sf).limit(0)
    val emptyEvents = Tables.events(spark, sf).limit(0)
    assert(Ann.pqSearch(emptyEmb).count() == 0)
    assert(Ann.pqRefine(emptyEmb).count() == 0)
    assert(Ann.pqEval(emptyEmb).count() == 0)
    assert(Ann.pqQuality(emptyEmb).count() == 0)
    assert(Dedup.paraTrim(emptyDocs).count() == 0)
    assert(CorpusStats.corpusDiff(emptyDocs).count() == 0)
    assert(Approx.quantileRollup(emptyEvents).count() == 0)
    assert(Ann.pqIncrement(emptyEmb, Tables.embeddings(spark, sf)).count() == 0)
    assert(graft.text.TextOps.annealPlan(emptyDocs).count() == 0)
    // single-doc corpus: everything is unique -> full text survives
    val one = Dedup.paraTrim(Tables.documents(spark, sf)
      .filter(col("text").isNotNull).limit(1)).collect()
    assert(one.length == 1 && one.head.getAs[Long]("trimmed_tokens") == 0L)
  }

  test("hybridRrf: every hit comes from an arm and the fused score is exactly the RRF sum") {
    import graft.ann.Ann
    val out = Ann.hybridRrf(Tables.documents(spark, sf), emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val l = Option(r.getAs[Any]("lex_rank")).map(_.asInstanceOf[Int])
      val v = Option(r.getAs[Any]("vec_rank")).map(_.asInstanceOf[Int])
      assert(l.isDefined || v.isDefined, "hit from neither arm")
      val expect = l.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        v.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf_score") -
        math.floor(expect * 1e6 + 0.5) / 1e6) < 1e-12)
      l.foreach(x => assert(x >= 1 && x <= 50))
      v.foreach(x => assert(x >= 1 && x <= 50))
    }
    // a doc ranked first by BOTH arms must win the fusion
    val both = out.filter(r => !r.isNullAt(r.fieldIndex("lex_rank")) &&
      !r.isNullAt(r.fieldIndex("vec_rank")))
    assert(both.nonEmpty, "no candidate surfaced by both arms at this SF")
  }

  test("streaming vector ingest == batch pqIncrement bit-for-bit") {
    import graft.ann.Ann
    import graft.streaming.VecStream
    val embAll = Tables.embeddings(spark, sf)
    def dg = graft.functions.Fns.hexDigit("vec_id", 1)
    val corpus = embAll.filter(dg >= 2)
    val batch = Ann.pqIncrement(embAll.filter(dg < 2), corpus)
      .collect().map(_.toSeq).toSet
    val streamed = VecStream.codedArrivals(spark, sf, corpus,
        newVecFilter = Some(dg < 2))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(2)} batch-only=${(batch -- streamed).take(2)}")
  }

  test("pqSearch: ADC candidates come only from the probe's cells, k rows per probe max") {
    val out = Ann.pqSearch(emb).collect()
    val byProbe = out.groupBy(_.getLong(0))
    byProbe.foreach { case (p, rows) =>
      assert(rows.length <= 10, s"probe $p returned ${rows.length} rows")
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length).toSeq)
      assert(!rows.exists(_.getLong(2) == p), s"probe $p returned itself")
    }
  }
}
