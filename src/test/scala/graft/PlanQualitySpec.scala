package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.Features
import graft.operators.{Joins, Marts, Sampling, Warehouse}

/** Plan-shape assertions: the properties that decide whether these
  * operators survive a 100 TB scale-up — filter pushdown to the parquet
  * scan, column pruning, broadcast of dims, partial aggregation, and
  * whole-stage codegen coverage.
  */
class PlanQualitySpec extends AnyFunSuite {
  import TestSession._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Executed plan with the AQE "Initial Plan" echo stripped — after a
    * collect() the string carries final + initial sections and every
    * operator would double-count. */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String =
    planOf(df).split("== Initial Plan ==")(0)

  private def optimizedOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("fact sales: business-rule filters are pushed to the parquet scan") {
    val plan = planOf(Warehouse.factSales(Tables.lineitem(spark, sf), Tables.orders(spark, sf)))
    assert(plan.contains("PushedFilters"), "no pushdown section in scan")
    assert(plan.contains("GreaterThan(l_quantity"), s"quantity filter not pushed:\n$plan")
  }

  test("fact daily agg: scan reads only the needed lineitem columns") {
    val plan = planOf(Warehouse.factDailyAgg(Tables.lineitem(spark, sf)))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_shipmode"),
      s"unpruned columns in scan: $readSchema")
  }

  test("star join broadcasts the small dims, never the fact") {
    val plan = planOf(Warehouse.starJoin(Tables.lineitem(spark, sf), Tables.orders(spark, sf),
      Tables.customer(spark, sf), Tables.nation(spark, sf), Tables.region(spark, sf)))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast >= 2, s"expected >=2 broadcast joins, got $nBroadcast")
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    val plan = planOf(Warehouse.factDailyAgg(Tables.lineitem(spark, sf)))
    val nHashAgg = "HashAggregate".r.findAllIn(plan).size
    assert(nHashAgg >= 2, s"expected partial+final HashAggregate, got $nHashAgg in\n$plan")
  }

  test("hot paths run inside whole-stage codegen") {
    Seq(
      Warehouse.factSales(Tables.lineitem(spark, sf), Tables.orders(spark, sf)),
      Sampling.hashSample(Tables.documents(spark, sf)),
      Joins.rangeJoin(Tables.lineitem(spark, sf), Tables.part(spark, sf))
    ).foreach { df =>
      df.collect() // execute THIS plan so AQE finalizes and codegen spans print
      val plan = planOf(df)
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        s"no codegen span in\n$plan")
    }
  }

  test("hash sample filter is evaluated before any shuffle (no exchange before filter)") {
    val opt = optimizedOf(Sampling.hashSample(Tables.documents(spark, sf)))
    // the optimized plan should be Filter directly over the relation
    assert(opt.contains("Filter"), opt)
    assert(!opt.contains("Join"), opt)
  }

  test("mart top-N plans as TakeOrderedAndProject, not a full-aggregate rank window") {
    Seq(
      Marts.shippingPriority(Tables.lineitem(spark, sf), Tables.orders(spark, sf),
        Tables.customer(spark, sf)),
      Marts.returnedItems(Tables.lineitem(spark, sf), Tables.orders(spark, sf),
        Tables.customer(spark, sf), Tables.nation(spark, sf))
    ).foreach { df =>
      val plan = planOf(df)
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-N not planned as TakeOrderedAndProject:\n$plan")
      // the rank window must sit ABOVE the limit (over <=20 rows), i.e. the
      // pre-aggregate must never flow through a single-partition Window
      val winIdx = plan.indexOf("Window")
      val topIdx = plan.indexOf("TakeOrderedAndProject")
      assert(winIdx >= 0 && topIdx > winIdx,
        s"rank Window should consume the TakeOrderedAndProject output:\n$plan")
    }
  }

  test("ks drift window runs over the bin aggregate, never raw values") {
    val opt = optimizedOf(Features.ksDrift(Tables.events(spark, sf)))
    // the cumulative windows ORDER by the nBins-bounded bin column (the
    // partition key is now the non-foldable onePart constant, so bin
    // appears as the order key, not the leading argument)
    val winRe = "windowspecdefinition\\([^)]*bin#[0-9]+ ASC".r
    assert(winRe.findFirstIn(opt).nonEmpty, opt)
    assert("windowspecdefinition\\([^)]*value#[0-9]+ ASC".r.findFirstIn(opt).isEmpty, opt)
  }

  test("transaction enrichment never funnels through a single partition") {
    val plan = planOf(Features.enrichTransactions(Tables.events(spark, sf)))
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("dot product expression participates in codegen (no CodegenFallback wrapper)") {
    graft.functions.DotScaled.register(spark)
    val df = Tables.embeddings(spark, sf)
      .selectExpr("graft_dot(embedding, embedding) AS d")
    val plan = planOf(df)
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    assert(df.selectExpr("max(d)").collect()(0).getLong(0) > 0L)
  }

  test("pii scrub plans with zero exchanges (row-wise, shuffle-free)") {
    val plan = planOf(graft.text.Filters.piiScrub(Tables.documents(spark, sf))
      .limit(1)) // orderBy folds into TakeOrdered; nothing else may shuffle
    assert(!plan.contains("Exchange"), s"unexpected shuffle in row-wise scrub:\n$plan")
  }

  test("decontamination probes the eval vocabulary via broadcast, never a shuffled join") {
    val plan = planOf(graft.text.Filters.decontaminate(Tables.documents(spark, sf)))
    assert(plan.contains("BroadcastHashJoin"), s"eval vocab not broadcast:\n$plan")
    // the corpus-sized side must not be sort-merge joined on the shingle
    assert(!plan.contains("SortMergeJoin"), s"shingle join shuffles the corpus:\n$plan")
  }

  test("repetition metrics aggregate partially before the doc_id shuffle") {
    val plan = planOf(graft.text.Filters.repetition(Tables.documents(spark, sf)))
    val nHashAgg = "HashAggregate".r.findAllIn(plan).size
    assert(nHashAgg >= 4, s"expected partial+final aggregates per stage, got $nHashAgg")
  }

  test("ANN top-k aggregates with a bounded heap — no per-probe full-corpus sort window") {
    import graft.ann.Ann
    Seq(Ann.bruteForceTopK(Tables.embeddings(spark, sf)),
        Ann.ivfSearch(Tables.embeddings(spark, sf))).foreach { df =>
      val plan = planOf(df)
      // the scored pairs must flow into a partial ObjectHashAggregate
      // (map-side top-k), never a rank window that sorts a probe's whole
      // corpus slice inside one task
      assert(plan.contains("partial_topkneighbors"),
        s"no partial bounded-heap aggregation in plan:\n$plan")
      // (centroidRankedWith's K-rows-per-vector window is fine; the probe-
      // partitioned one that sorted a probe's corpus slice must be gone)
      assert(!plan.contains("windowspecdefinition(probe_id"),
        s"per-probe rank window still in plan:\n$plan")
    }
  }

  test("tfidf scan reads only doc_id and text; token aggregation is partial") {
    val df = graft.text.Vocab.tfidf(Tables.documents(spark, sf))
    val plan = planOf(df)
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("text")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"unpruned documents columns: $readSchema")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"tf aggregation not partial:\n$plan")
  }

  test("chunker plans with zero exchanges up to the presentation sort") {
    val df = graft.text.Vocab.chunkDocs(Tables.documents(spark, sf))
    // strip the final orderBy: the chunk computation itself must be
    // a pure scan -> project -> explode chain
    val core = optimizedOf(df)
    val body = core.linesIterator.dropWhile(_.startsWith("Sort")).mkString("\n")
    assert(!body.contains("Exchange") || core.linesIterator.next().startsWith("Sort"),
      s"chunker shuffles before the presentation sort:\n$core")
  }

  test("knn graph joins within cells on the shuffle grid — corpus side never broadcast") {
    val df = graft.ann.Ann.knnGraph(Tables.embeddings(spark, sf))
    val plan = planOf(df)
    assert(plan.contains("partial_topkneighbors"),
      s"no partial bounded-heap aggregation in knn plan:\n$plan")
    // the within-cell self join must be a shuffle join (SMJ or shuffled
    // hash), not a broadcast of the corpus — broadcasting the corpus
    // would OOM at scale. (AQE may broadcast the small centroid frame;
    // we assert the corpus-corpus join key is the cell id via sort-merge
    // or shuffled-hash presence.)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"no shuffle join for the within-cell pair generation:\n$plan")
  }

  test("star join pre-aggregates the fact: no Expand, no distinct over the joined stream") {
    val plan = planOf(Warehouse.starJoin(Tables.lineitem(spark, sf), Tables.orders(spark, sf),
      Tables.customer(spark, sf), Tables.nation(spark, sf), Tables.region(spark, sf)))
    // the former countDistinct planned an Expand over every joined line
    // item — the order-grain pre-aggregate makes it a plain count
    assert(!plan.contains("Expand"), s"distinct-aggregate Expand resurfaced:\n$plan")
  }

  test("pq codes: codebook broadcast, assignment row-local up to the final pivot") {
    val plan = planOf(graft.ann.Embeddings.pqCodes(Tables.embeddings(spark, sf)))
    assert(plan.contains("BroadcastExchange"),
      s"codebook must broadcast (corpus-size-independent):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"subspace scoring must not shuffle-join the corpus:\n$plan")
  }

  test("skew profile: heavy hitters via TakeOrderedAndProject, never a global sort") {
    val plan = planOf(graft.operators.Diagnostics.skewProfile(Tables.lineitem(spark, sf), "l_partkey"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-3 must plan as TakeOrderedAndProject:\n$plan")
  }

  test("knn graph cell count scales as sqrt(n) — no fixed-K quadratic join at corpus scale") {
    import graft.ann.Ann.adaptiveCells
    // floor holds for small corpora (and exactly matches the verify SF,
    // keeping oracle results unchanged there)
    assert(adaptiveCells(0) == 16 && adaptiveCells(500) == 16)
    // then sqrt growth: expected cell size stays ~sqrt(2n), so the
    // within-cell pair work n*sqrt(2n) is n^1.5, never n^2
    assert(adaptiveCells(2048) == 32)
    assert(adaptiveCells(20000) == 100)
    assert(adaptiveCells(2000000) == 1000)
    // 100x the corpus -> ~10x the cells (the quadratic-killing property)
    val r = adaptiveCells(100L * 1000000) .toDouble / adaptiveCells(1000000)
    assert(r > 9.0 && r < 11.0, s"cells must grow ~sqrt(n), got ratio $r")
  }

  test("cosine LSH candidates come from band equi-joins, never a cartesian product") {
    val plan = planOf(graft.ann.Ann.lshNearDup(Tables.embeddings(spark, sf)))
    assert(!plan.contains("CartesianProduct"), s"LSH plan degenerated to all-pairs:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"LSH plan degenerated to a nested-loop join:\n$plan")
  }

  test("sliding window aggregates partially: shuffle carries windows, not the 4x event expansion") {
    val plan = planOf(Joins.windowSliding(Tables.events(spark, sf)))
    val nHashAgg = "HashAggregate".r.findAllIn(plan).size
    assert(nHashAgg >= 2, s"expected partial+final HashAggregate, got $nHashAgg in\n$plan")
  }

  test("label centroids: coordinate stream partial-aggregates; norm artifacts broadcast") {
    val plan = planOf(graft.ann.Ann.labelCentroids(Tables.embeddings(spark, sf)))
    val nHashAgg = "HashAggregate".r.findAllIn(plan).size
    assert(nHashAgg >= 2, s"expected partial aggregation of the (label, dim) stream:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"norm artifacts must broadcast, never shuffle the pair frame:\n$plan")
  }

  // No bare `percentile(` in any quantile query plan — that aggregate's
  // value->count buffer is an NDV-sized single-reducer map (the OOM
  // funnel). approx_percentile/percentile_approx is the bounded-sketch
  // boundary estimator PrefixSum legitimately uses.
  private def assertNoExactPercentile(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = planOf(df)
    assert("(?<![\\w_])percentile\\(".r.findFirstIn(plan).isEmpty,
      s"exact percentile aggregate present — NDV-sized buffer funnels one reducer at scale:\n$plan")
  }

  test("column stats: no exact Percentile aggregate (its value->count buffer is an NDV-sized single-reducer map)") {
    val df = graft.operators.Diagnostics.columnStats(Tables.lineitem(spark, sf))
    assertNoExactPercentile(df)
    // the edges must come from the windowed cumulative-count path instead
    assert(planOf(df).contains("Window"),
      s"expected the cumulative-count window path:\n${planOf(df)}")
  }

  test("skew profile / group percentiles / feature stats / impute: no exact Percentile aggregate") {
    assertNoExactPercentile(
      graft.operators.Diagnostics.skewProfile(Tables.lineitem(spark, sf), "l_partkey"))
    assertNoExactPercentile(
      graft.operators.Sampling.groupPercentiles(Tables.events(spark, sf)))
    assertNoExactPercentile(graft.ml.Features.featureStats(Seq(
      "o_totalprice" -> Tables.orders(spark, sf).select("o_totalprice"))))
    assertNoExactPercentile(
      graft.ml.TrainPrep.imputePlan(Tables.events(spark, sf)))
  }

  // A Window with no partitionSpec moves EVERYTHING to one task — the
  // serial term the two-level PrefixSum exists to remove ABOVE its NDV
  // fallback threshold. Below the threshold the single window IS the
  // right plan (a <=64k-row sort is milliseconds; the bucketed path's
  // checkpoints would dominate) — so the contract is branch-specific:
  // forced past the threshold the plan must be bucketed with no
  // partition-less window; under it, it must collapse to one window.
  // sparkPlan, not executedPlan: AQE wraps the tree in an
  // AdaptiveSparkPlanExec whose collect() sees no children pre-execution
  private def partitionlessWindows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w.simpleStringWithNodeId()
    }

  test("prefix sum above the NDV threshold: range-bucketed windows, no single-task sort") {
    val vals = Tables.lineitem(spark, sf)
      .groupBy(col("l_extendedprice").as("v")).agg(count(lit(1)).as("cnt"))
    val cum = graft.functions.PrefixSum.cumulative(
      vals, "v", "cnt", fallbackNdv = 16)
    assert(partitionlessWindows(cum).isEmpty,
      s"partition-less WindowExec above the fallback threshold: ${partitionlessWindows(cum)}")
    val bucketed = cum.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.exists(_.toString.contains("pfx_bucket")) => w
    }
    assert(bucketed.nonEmpty,
      "cumulative window not range-bucketed — one straggler task sorts the distinct frame at scale")
    // grouped form: the window must partition by (group, bucket), not
    // group alone — otherwise parallelism is capped at the group count
    val grouped = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val gcum = graft.functions.PrefixSum.cumulative(
      grouped, "v", "cnt", Seq("g"), fallbackNdv = 16)
    val gBucketed = gcum.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.exists(_.toString.contains("pfx_bucket")) => w
    }
    assert(gBucketed.nonEmpty, "grouped cumulative window not bucketed within groups")
  }

  test("prefix sum below the NDV threshold: collapses to the single-window form") {
    val vals = Tables.lineitem(spark, sf)
      .groupBy(col("l_quantity").as("v")).agg(count(lit(1)).as("cnt"))
    val cum = graft.functions.PrefixSum.cumulative(vals, "v", "cnt")
    // no pfx_bucket machinery — the overhead the fallback exists to avoid
    val bucketed = cum.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.exists(_.toString.contains("pfx_bucket")) => w
    }
    assert(bucketed.isEmpty, "bucketed path engaged below the NDV threshold")
    // the fallback is one window partitioned by the non-foldable onePart
    // constant (pmod(hash(v), 1)) — single-partition by construction,
    // without tripping WindowExec's partitionless warning
    // the onePart constant is projected as _w0 below the WindowExec, so
    // match the window's existence plus the pmod(hash(...)) projection
    // in the same plan
    val wins = cum.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the single-window fallback form")
    // the pmod(hash(v), 1) projection itself folds into the aggregate's
    // result expressions (invisible in the plan string) — what matters
    // is that the spec is non-empty, i.e. EliminateWindowPartitions did
    // NOT strip it back to a partitionless (warning) window
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "fallback window lost its onePart partition key")
  }

  test("target encoder joins the class table by broadcast — the fact side is never shuffle-joined") {
    val plan = planOf(graft.ml.TrainPrep.targetEncode(Tables.orders(spark, sf)).limit(1))
    assert(plan.contains("BroadcastHashJoin"), s"class encoder not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact shuffled for the encoder join:\n$plan")
  }

  test("embargo split assigns row-locally: no hash exchange anywhere (only the tiny span aggregate)") {
    val plan = planOf(graft.ml.TrainPrep.timeSplitEmbargo(Tables.events(spark, sf)).limit(1))
    assert(!plan.contains("hashpartitioning"),
      s"embargo split shuffles the fact:\n$plan")
  }

  test("feature hashing: token aggregation is partial; per-doc totals window the bucketed grain, never globally") {
    val df = graft.text.Vocab.featureHashing(Tables.documents(spark, sf))
    val plan = planOf(df.limit(1))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final token aggregation:\n$plan")
    assert(partitionlessWindows(df).isEmpty,
      "per-doc total must partition by doc_id, not a global window")
  }

  test("cooccur top-k: TakeOrderedAndProject over partial-aggregated pair counts, no self-join") {
    val plan = planOf(graft.text.Vocab.cooccurTopk(Tables.documents(spark, sf)))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"pair generation must be row-local, not a positional self-join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"pair counts must partial-aggregate map-side:\n$plan")
  }

  test("linreg: the corpus never shuffles — one partial moment aggregate, beta row broadcast") {
    val fitPlan = planOf(graft.ml.TrainPrep.linregFit(Tables.documents(spark, sf)))
    assert(!fitPlan.contains("hashpartitioning"),
      s"moment aggregation must be partial+single-row final, not a keyed shuffle:\n$fitPlan")
    val scorePlan = planOf(graft.ml.TrainPrep.linregScore(Tables.documents(spark, sf)).limit(1))
    assert(scorePlan.contains("BroadcastNestedLoopJoin") || scorePlan.contains("BroadcastExchange"),
      s"beta row must broadcast onto the corpus:\n$scorePlan")
    assert(!scorePlan.contains("SortMergeJoin"),
      s"scoring must never shuffle-join the corpus:\n$scorePlan")
  }

  test("bm25: query and df artifacts broadcast — the corpus is never shuffle-joined") {
    val plan = planOf(graft.text.Vocab.bm25(Tables.documents(spark, sf)).limit(1))
    assert(plan.contains("BroadcastHashJoin"),
      s"seed-query semi-join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never shuffle-join the bounded artifacts:\n$plan")
  }

  test("para dedup: the holders join lands on the block-hash partitioning (one block shuffle)") {
    val plan = planOf(graft.dedup.Dedup.paraDedup(Tables.documents(spark, sf)).limit(1))
    assert(plan.contains("ReusedExchange") ||
      "Exchange hashpartitioning\\(bh".r.findAllIn(plan).size <= 2,
      s"blocks must shuffle once on the block hash, reused by the holders join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"no unbounded joins in the block dedup:\n$plan")
  }

  test("hll rollup: sketches partial-aggregate map-side before the event_type shuffle") {
    val plan = planOf(graft.ml.Approx.hllRollup(Tables.events(spark, sf)).limit(1))
    // two aggregation layers (daily sketch build, union rollup), each
    // split partial/final
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"sketch aggregation must be partial before the shuffle:\n$plan")
  }

  test("pq search: LUT lookups are broadcast joins; no unbounded join anywhere") {
    val df = graft.ann.Ann.pqSearch(
      Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")))
    df.collect() // finalize AQE so the printed plan is the executed one
    val plan = finalPlanOf(df)
    // 8 per-subspace LUT joins + probe-cell join, all broadcast
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 9,
      s"ADC lookups must be broadcast joins:\n$plan")
    // the corpus x K centroid cross (BroadcastNestedLoopJoin with a
    // bounded build side) is the intended IVF device; what must never
    // appear is a shuffled cartesian, and the only shuffle joins allowed
    // are the co-keyed index build on vec_id
    assert(!plan.contains("CartesianProduct"),
      s"no shuffled cartesian in pq search:\n$plan")
    assert("SortMergeJoin".r.findAllIn(plan).size <= 2,
      s"candidate scoring must not shuffle-join:\n$plan")
  }

  test("para trim: one block-hash shuffle shared with the holders join, like the flag mart") {
    val plan = planOf(graft.dedup.Dedup.paraTrim(Tables.documents(spark, sf)))
    assert("Exchange hashpartitioning\\(bh".r.findAllIn(plan).size <= 2,
      s"blocks must shuffle once on the block hash, reused by the holders join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"no unbounded joins in para trim:\n$plan")
  }

  test("corpus diff: the doc-grain compare is one co-keyed join, no nested loop") {
    val df = graft.text.CorpusStats.corpusDiff(Tables.documents(spark, sf))
    df.collect() // finalize AQE so the printed plan is the executed one
    val plan = finalPlanOf(df)
    assert("FullOuter".r.findAllIn(plan).size == 1,
      s"expected exactly one full-outer join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"no unbounded joins in corpus diff:\n$plan")
  }

  test("quantile state: bin counts partial-aggregate map-side before the shuffle") {
    val plan = planOf(graft.ml.Approx.quantileState(Tables.events(spark, sf)))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"state build must be partial before the shuffle:\n$plan")
  }

  test("exact percentiles match the Percentile aggregate bit-for-bit on both branches") {
    val ev = Tables.events(spark, sf)
    val expect = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.25, 0.5, 0.75))").as("qs"))
      .select(col("event_type"), col("qs").getItem(0).as("p25"),
        col("qs").getItem(1).as("p50"), col("qs").getItem(2).as("p75"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    for (threshold <- Seq(1L, graft.functions.PrefixSum.DefaultFallbackNdv)) {
      val got = graft.functions.PrefixSum.exactPercentiles(
        ev.select(col("event_type"), col("value")), "value", Seq("event_type"),
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75), fallbackNdv = threshold)
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(got == expect, s"exactPercentiles(fallbackNdv=$threshold) diverged from Percentile")
    }
  }
}
