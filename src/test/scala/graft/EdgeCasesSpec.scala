package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Ann, Embeddings}
import graft.dedup.Dedup
import graft.text.{TextOps, Vocab}

/** Degenerate-input behavior: a 100 TB pipeline's filters routinely leave
  * an operator with an empty or single-row partition-of-the-corpus (one
  * source, one day, one language). Every operator must return an empty /
  * well-defined frame there, never throw. */
class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def emptyDocs = Tables.documents(spark, sf).limit(0)
  private def oneDoc = Tables.documents(spark, sf).limit(1)
  private def emptyEmb = Tables.embeddings(spark, sf).limit(0)

  test("variance-based operators are well-defined on CONSTANT columns") {
    // A constant column's decimal-exact sums cast to double can leave the
    // variance fractionally negative OR positive (±ε residue); the
    // negative side used to make Spark's sqrt NaN where DuckDB's RAISES.
    // Contract on constant input: no throw, no NaN anywhere — residue
    // SIGN decides between NULL (clamped to 0, try_divide) and a huge
    // finite z (tiny positive sd), both deterministic and both computed
    // identically by the oracle.
    val constEvents = Tables.events(spark, sf).withColumn("value", lit(0.1))
    val az = operators.Analytics.anomalyZscore(constEvents)
    assert(az.count() > 0)
    assert(az.filter(isnan(col("zscore"))).count() == 0)
    assert(operators.Analytics.anomalySeasonal(constEvents)
      .filter(isnan(col("seasonal_z"))).count() == 0)
    // alertSummary: constant values -> no z-alerts survive, frame is defined
    assert(ml.Monitoring.alertSummary(constEvents).count() >= 0)
    // per-user std of a constant spend: the fp residue of the moment
    // formula can be ±ε — negative is clamped to 0, positive stays a
    // ~1e-9 sqrt; the contract is no NaN/NULL and residue-scale only
    val en = ml.Features.enrichTransactions(constEvents)
    assert(en.filter(col("u_std").isNull || isnan(col("u_std")) ||
      abs(col("u_std")) > 1e-6).count() == 0)
    // featureStats: constant feature profiles with std_v = 0, no NaN
    val fs = ml.Features.featureStats(Seq(
      "const.v" -> constEvents.select(col("value").as("v"))))
    val row = fs.collect().head
    assert(row.getAs[Double]("std_v") == 0d)
    assert(!row.getAs[Double]("mean_v").isNaN)
    // ensemble scaler: constant feature -> z NULL via try_divide, not NaN
    val constOrders = Tables.orders(spark, sf).withColumn("o_totalprice", lit(7.0))
    assert(ml.Inference.ensembleScore(constOrders).count() > 0)
    assert(ml.Inference.aggFeatureStore(constOrders).count() > 0)
    // Pearson over a constant feature: NULL r (clamped 0/0 via
    // try_divide) or a finite residue ratio — never NaN, never a throw
    val constLineitem = Tables.lineitem(spark, sf).withColumn("l_discount", lit(0.05))
    val corr = ml.TrainPrep.featureCorr(constLineitem)
    assert(corr.count() == 6)
    assert(corr.filter(isnan(col("pearson_r"))).count() == 0)
  }

  test("binned drift operators are well-defined on CONSTANT columns") {
    // mx = mn makes the equi-width bin width 0, and an empty reference or
    // sample side makes a share's total 0: under ANSI both divisions
    // used to THROW. Contract: no throw; a constant feature lands in the
    // top bin on both sides, so PSI and KS read exactly 0, and an empty
    // side floors (PSI) or leaves the KS statistic NULL
    val events = Tables.events(spark, sf)
    val constEvents = events.withColumn("value", lit(0.1))
    val psi = ml.Features.psiDrift(constEvents).collect()
    assert(psi.length == 10)
    assert(psi.forall(_.getAs[Double]("psi_total") == 0.0))
    val ks = ml.Features.ksDrift(constEvents).collect().head
    assert(ks.getAs[Double]("ks_stat") == 0.0)
    val clicks = ml.Features.ksDrift(events.filter(col("event_type") === "click"))
      .collect().head
    assert(clicks.getAs[Long]("n_sample_a") == 0L)
    assert(clicks.isNullAt(clicks.fieldIndex("ks_stat")))
    assert(ml.Features.psiDrift(events.orderBy("event_id").limit(1)).count() == 10)
    val constLineitem = Tables.lineitem(spark, sf).withColumn("l_discount", lit(0.05))
    val sweep = ml.Features.driftSweep(constLineitem)
      .filter(col("feature") === "l_discount").collect().head
    assert(sweep.getAs[Double]("psi") == 0.0 && sweep.getAs[Double]("ks_stat") == 0.0)
    assert(!sweep.getAs[Boolean]("drift_detected"))
    val hist = ml.Monitoring.driftHistory(constLineitem)
      .filter(col("feature") === "l_discount").collect().head
    assert(hist.getAs[Double]("max_psi") == 0.0 && hist.getAs[Double]("avg_psi") == 0.0)
    assert(hist.getAs[Long]("drift_count") == 0L)
  }

  test("label propagation closes a LONG chain exactly (pointer jumping)") {
    // A 400-hop chain of pairwise near-dups: one-hop-per-round
    // propagation would need ~200 double-step rounds and used to exit
    // the 20-round cap SILENTLY with non-minimal labels; the shortcut
    // (label-of-label) converges in O(log n) rounds, and the cap is now
    // a loud require, never a truncation.
    import spark.implicits._
    val n = 400
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    // both branches: the driver union-find (default bound) and the
    // distributed loop (bound 0 forces it)
    for (driverEdges <- Seq(Dedup.driverEdgeBound, 0L)) {
      val labels = Dedup.propagate(pairs, driverEdges = driverEdges)
      assert(labels.count() == n)
      assert(labels.filter(col("label") =!= 0L).count() == 0,
        s"every chained doc must reach the chain-minimum label (bound $driverEdges)")
    }
  }

  test("hierAssign emits one row per vector under total cosine ties") {
    // All-identical embeddings: every coarse/fine cosine rounds to 1.0,
    // the worst tie storm. The self-preference tie key guarantees every
    // coarse group keeps its own centroid, so the final equi-join can
    // never drop a vector.
    val emb0 = Tables.embeddings(spark, sf).select(col("embedding")).limit(1)
    val same = Tables.embeddings(spark, sf).select(col("vec_id")).limit(64)
      .crossJoin(broadcast(emb0))
    assert(Ann.hierAssign(same).count() == 64)
  }

  test("dedup family returns empty on an empty corpus") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.minhashLsh(emptyDocs).count() == 0)
    assert(Dedup.simhash(emptyDocs).count() == 0)
    assert(Dedup.ngramJaccard(emptyDocs).count() == 0)
    assert(Dedup.nearDupClusters(emptyDocs).count() == 0)
    assert(Dedup.survivors(emptyDocs).count() == 0)
  }

  test("dedup family is well-defined on a single document") {
    assert(Dedup.exact(oneDoc).count() == 1)
    assert(Dedup.minhashLsh(oneDoc).count() == 0)    // no pairs
    assert(Dedup.nearDupClusters(oneDoc).count() == 0) // no edges -> no labels
  }

  test("vocab/curation operators are well-defined on empty and tiny corpora") {
    assert(Vocab.tfidf(emptyDocs).count() == 0)
    assert(Vocab.chunkDocs(emptyDocs).count() == 0)
    assert(Vocab.bigramVocab(emptyDocs).count() == 0)
    assert(Vocab.unigramLm(emptyDocs).count() == 0)
    assert(Vocab.mixPlan(emptyDocs).count() == 0)
    assert(TextOps.curate(emptyDocs).count() == 0)
    assert(Vocab.tfidf(oneDoc).count() > 0)
    assert(Vocab.chunkDocs(oneDoc).count() > 0)
  }

  test("round-12 operators are well-defined on empty and tiny corpora") {
    import graft.text.{Bpe, Filters}
    import graft.ann.ChunkRetrieval
    assert(Bpe.bpeTrain(emptyDocs).count() == 0)
    assert(Bpe.bpeApply(emptyDocs, Bpe.bpeTrain(emptyDocs)).count() == 0)
    assert(ChunkRetrieval.chunkRetrieval(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkEval(emptyDocs, emptyEmb).count() == 0)
    assert(Filters.decontamBloom(emptyDocs).count() == 0)
    // one doc: BPE still learns and re-tokenizes it; chunk retrieval has
    // no candidates (a probe never retrieves its own document)
    assert(Bpe.bpeApply(oneDoc, Bpe.bpeTrain(oneDoc)).count() == 1)
    assert(ChunkRetrieval.chunkRetrieval(oneDoc).count() == 0)
  }

  test("round-13/14 chunk and subword operators are well-defined on empty and tiny corpora") {
    import graft.ann.ChunkRetrieval
    import graft.text.SubwordBpe
    assert(ChunkRetrieval.chunkDedup(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkBandedDedup(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkMpDedup(emptyDocs).count() == 0)
    // the recall mart always reports its three methods; an empty truth
    // set yields zero pairs and NULL recalls, not zero rows
    val rec = ChunkRetrieval.dedupRecall(emptyDocs).collect()
    assert(rec.length == 3 && rec.forall(_.getAs[Long]("true_pairs") == 0L))
    assert(ChunkRetrieval.chunkRetrievalAnn(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkServe(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkServeAnn(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkDeltaServe(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkDeltaServeAnn(emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkPartsLoaded(spark, emptyDocs).count() == 0)
    assert(ChunkRetrieval.chunkAnnEval(emptyDocs).count() == 0)
    assert(SubwordBpe.subwordTrain(emptyDocs).count() == 0)
    assert(SubwordBpe.subwordTrainBatched(emptyDocs).count() == 0)
    assert(SubwordBpe.subwordApplyBatched(emptyDocs,
      SubwordBpe.subwordTrainBatched(emptyDocs)).count() == 0)
    // one doc: subword training still learns; ANN retrieval has no
    // candidates (a probe never retrieves its own document)
    assert(SubwordBpe.subwordApplyBatched(oneDoc,
      SubwordBpe.subwordTrainBatched(oneDoc)).count() == 1)
    assert(ChunkRetrieval.chunkRetrievalAnn(oneDoc).count() == 0)
  }

  test("ann family returns empty on an empty embedding table") {
    assert(Ann.bruteForceTopK(emptyEmb).count() == 0)
    assert(Ann.ivfAssign(emptyEmb).count() == 0)
    assert(Ann.knnGraph(emptyEmb).count() == 0)
    assert(Embeddings.quantizeInt8(emptyEmb).count() == 0)
    assert(Embeddings.randomProjection(emptyEmb).count() == 0)
  }

  test("session-2 operators are well-defined on empty inputs") {
    assert(Ann.lshNearDup(emptyEmb).count() == 0)
    assert(Ann.embedSurvivors(emptyEmb).count() == 0)
    assert(Ann.labelCentroids(emptyEmb).count() == 0)
    assert(Ann.hierAssign(emptyEmb).count() == 0)
    assert(Ann.cellQuality(emptyEmb).count() == 0)
    assert(Dedup.minhashAccuracy(emptyDocs).count() == 0)
    assert(Dedup.jaccardHistogram(emptyDocs).count() == 0)
    assert(Vocab.bigramLm(emptyDocs).count() == 0)
    assert(graft.text.CorpusStats.corpusDrift(emptyDocs).count() == 0)
    val emptyEv = Tables.events(spark, sf).limit(0)
    assert(graft.ml.TrainPrep.quantileBins(emptyEv).count() == 0)
    assert(graft.operators.Sampling.groupSplit(emptyEv).count() == 0)
    assert(graft.operators.Joins.windowSliding(emptyEv).count() == 0)
  }

  test("quantizeInt8 defines the all-zero vector: scale=0, q_l1=0, err=0, cos=1") {
    import spark.implicits._
    val zero = Seq((0L, Array.fill(8)(0.0f)), (1L, Array(1.0f, -2.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Embeddings.quantizeInt8(zero).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    val z = out(0L)
    assert(z.getAs[Double]("scale") == 0.0)
    assert(z.getAs[Long]("q_l1") == 0L)
    assert(z.getAs[Double]("max_abs_err") == 0.0)
    assert(z.getAs[Double]("cos_recon") == 1.0)
    assert(z.getAs[Double]("l2_norm") == 0.0)
    // the non-degenerate row is untouched by the guard
    val n = out(1L)
    assert(n.getAs[Double]("scale") > 0.0 && n.getAs[Long]("q_l1") > 0L)
  }

  test("session-3 operators are well-defined on empty inputs") {
    val emptyEv = Tables.events(spark, sf).limit(0)
    val emptyOrd = Tables.orders(spark, sf).limit(0)
    val cust = Tables.customer(spark, sf)
    val nat = Tables.nation(spark, sf)
    assert(graft.operators.Analytics.newVsReturning(emptyEv).count() == 0)
    assert(graft.operators.Marts.periodGrowth(emptyOrd, cust).count() == 0)
    assert(graft.operators.Marts.paretoShare(emptyOrd, cust, nat).count() == 0)
    assert(graft.text.CorpusStats.ngramNovelty(emptyDocs).count() == 0)
    assert(graft.text.Filters.winnowOverlap(emptyDocs).count() == 0)
    assert(Vocab.pplFilter(emptyDocs).count() == 0)
    assert(Vocab.epochPlan(emptyDocs).count() == 0)
    // one doc: novelty is defined (all shingles unique), no overlap pairs
    val nov = graft.text.CorpusStats.ngramNovelty(oneDoc).collect()
    assert(nov.length == 1 && nov(0).getAs[Double]("novelty") == 1.0)
    assert(graft.text.Filters.winnowOverlap(oneDoc).count() == 0)
  }

  test("inference/graph/pq family is well-defined on empty inputs") {
    val emptyOrders = Tables.orders(spark, sf).limit(0)
    val emptyLi = Tables.lineitem(spark, sf).limit(0)
    val emptyEv = Tables.events(spark, sf).limit(0)
    assert(graft.ml.Inference.ensembleScore(emptyOrders).count() == 0)
    assert(graft.ml.Inference.aggFeatureStore(emptyOrders).count() == 0)
    assert(graft.ann.Embeddings.pqCodes(emptyEmb).count() == 0)
    assert(graft.text.Vocab.mixTake(emptyDocs).count() == 0)
    assert(graft.operators.Scd2.asOfLookup(emptyEv).count() == 0)
    assert(graft.operators.Graph.pageRank(emptyLi, emptyOrders).count() == 0)
    // skew profile keeps its single stats row (counts zero) on empty input
    val sp = graft.operators.Diagnostics.skewProfile(emptyLi, "l_partkey").collect()
    assert(sp.length == 1 && sp(0).getAs[Long]("n_keys") == 0L)
  }

  test("round-10 operators are well-defined on empty and degenerate inputs") {
    val emptyOrd = Tables.orders(spark, sf).limit(0)
    assert(graft.ml.Inference.customerDerived(emptyOrd).count() == 0)
    // constant spend: spending_consistency defined (std=0 -> 1.0-ish),
    // churn still clipped, tiers still total a full partition of rows
    val constOrd = Tables.orders(spark, sf).withColumn("o_totalprice", lit(7.0))
    val cd = graft.ml.Inference.customerDerived(constOrd)
    assert(cd.filter(isnan(col("churn_probability")) ||
      col("churn_probability") < 0 || col("churn_probability") > 1).count() == 0)
    assert(cd.count() > 0)
    // masking on an empty frame: projection defined, zero rows
    assert(graft.operators.Masking.maskTable(
      Tables.customer(spark, sf).limit(0),
      graft.operators.Masking.policy("customer")).count() == 0)
    // semantic dedup / dsir on empty inputs: defined, zero rows (dsir's
    // take-edge is NULL when floor(frac*n)=0 — flag must coalesce FALSE)
    assert(graft.ann.Ann.semanticDedup(
      Tables.embeddings(spark, sf).limit(0)).count() == 0)
    assert(graft.ann.Ann.semanticIncrement(
      Tables.embeddings(spark, sf).limit(0)).count() == 0)
    assert(graft.ann.Ann.indexStaleness(
      Tables.embeddings(spark, sf).limit(0)).count() == 0)
    assert(graft.text.Vocab.dsirSelect(
      Tables.documents(spark, sf).limit(0)).count() == 0)
    // stats-ops family on empty inputs: scoring/pair/entropy/rollup
    // frames are defined and empty; the FIT emits its one aggregate row
    // with n=0 and NULL coefficients (0x0 normal equations — no solve)
    val emptyDocs = Tables.documents(spark, sf).limit(0)
    assert(graft.ml.TrainPrep.linregScore(emptyDocs).count() == 0)
    assert(graft.text.Vocab.cooccurTopk(emptyDocs).count() == 0)
    assert(graft.text.TextOps.charEntropy(emptyDocs).count() == 0)
    assert(graft.ml.Approx.hllRollup(Tables.events(spark, sf).limit(0)).count() == 0)
    val emptyFit = graft.ml.TrainPrep.linregFit(emptyDocs).collect()(0)
    assert(emptyFit.getAs[Long]("n") == 0L)
    assert(emptyFit.isNullAt(emptyFit.fieldIndex("b0")))
    assert(graft.text.Vocab.bm25(emptyDocs).count() == 0)
    assert(graft.text.Packing.shardPlan(emptyDocs).count() == 0)
    assert(graft.text.Packing.shardBalance(emptyDocs).count() == 0)
    assert(graft.ann.Ann.annNdcg(
      Tables.embeddings(spark, sf).limit(0)).count() == 0)
    assert(graft.text.Vocab.vocabPrune(emptyDocs).count() == 0)
    assert(graft.text.Vocab.sourceKl(emptyDocs).count() == 0)
    assert(graft.dedup.Dedup.paraDedup(emptyDocs).count() == 0)
    assert(graft.text.TextOps.readability(emptyDocs).count() == 0)
    // zipf fit on empty corpus: one aggregate row, n_types 0, NULL fit
    val zf = graft.text.Vocab.zipfFit(emptyDocs).collect()(0)
    assert(zf.getAs[Long]("n_types") == 0L && zf.isNullAt(zf.fieldIndex("slope")))
    assert(graft.ann.Embeddings.embedCov(
      Tables.embeddings(spark, sf).limit(0)).count() == 0)
    assert(graft.dedup.Dedup.containment(emptyDocs).count() == 0)
    assert(graft.text.TextOps.langConfusion(emptyDocs).count() == 0)
    // the funnel on an empty corpus still reports its five stages, all 0
    val ef = graft.text.TextOps.gateFunnel(emptyDocs).collect()
    assert(ef.length == 5 && ef.forall(_.getAs[Long]("n_docs") == 0L))
    assert(graft.ml.Features.sessionPaths(
      Tables.events(spark, sf).limit(0)).count() == 0)
    // a raw corpus too small to take from: every flag FALSE, never NULL
    // (src1-only input guarantees a nonempty raw side — no target docs)
    val tiny = Tables.documents(spark, sf)
      .filter(col("source") === "src1").limit(27)
    val flags = graft.text.Vocab.dsirSelect(tiny, takeFrac = 0.001).collect()
    assert(flags.nonEmpty)
    assert(flags.forall(r => !r.isNullAt(r.fieldIndex("selected")) &&
      !r.getAs[Boolean]("selected")))
  }

  test("model-evaluation marts are well-defined on empty orders") {
    val emptyOrders = Tables.orders(spark, sf).limit(0)
    // no folds exist -> no fold rows
    assert(graft.ml.CrossVal.cvMetrics(emptyOrders).count() == 0)
    // the grids keep their model x level / model x feature shape with
    // zero counts (n_rows = 0, null metrics) — they never throw
    val rob = graft.ml.CrossVal.modelRobustness(emptyOrders).collect()
    assert(rob.length == 12 && rob.forall(_.getAs[Long]("n_rows") == 0L))
    val mfi = graft.ml.CrossVal.missingFeatureImpact(emptyOrders).collect()
    assert(mfi.length == 12 && mfi.forall(_.getAs[Long]("n_rows") == 0L))
  }
}
