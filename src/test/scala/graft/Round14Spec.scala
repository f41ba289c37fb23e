package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.ChunkRetrieval

/** Round-14 invariants: the PROMOTED cell-route chunk vector arm — the
  * production replacement for the corpus-scan brute-force arm — serves
  * with the brute arm's label precision, recalls its exact top-k at
  * gate scale, and carries the equi-join plan shape (a cell-keyed
  * fetch, not a per-probe corpus scan). */
class Round14Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  /** The BATCH twin of `ChunkStream.admitRows` — same arrivals, same
    * frozen survivor set, computed with joins instead of row-local map
    * fetches; the admission test's gate is bit-equality. */
  private def admitBatch(docs: DataFrame, corpus: DataFrame,
                         factor: Long,
                         threshold: Double = 0.95): DataFrame = {
    val base = ChunkRetrieval
      .chunkEmbeds(ChunkRetrieval.chunks(corpus, factor))
      .localCheckpoint(false)
    val bits = ChunkRetrieval.cellBitsFor(base.count())
    val surv = base.withColumn("cell", ChunkRetrieval.cellAt("p", 0, bits))
      .join(ChunkRetrieval.chunkDedup(corpus, threshold)
        .filter(col("keep")).select(col("chunk_id")), Seq("chunk_id"))
      .select(col("cell").as("scell"), col("p").as("sp"), col("nsq").as("snsq"))
    val ach = ChunkRetrieval.chunks(docs, factor)
      .select(col("doc_id"), col("chunk_id"))
    val ace = ChunkRetrieval.chunkEmbeds(ChunkRetrieval.chunks(docs, factor))
      .withColumn("cell", ChunkRetrieval.cellAt("p", 0, bits))
    val near = ace.join(surv, col("cell") === col("scell"))
      .withColumn("cosine", graft.functions.Fns.r6(ChunkRetrieval.dotLong("p", "sp")
        .cast("double") /
        (sqrt(col("nsq").cast("double")) * sqrt(col("snsq").cast("double")))))
      .filter(col("cosine") >= threshold)
      .groupBy(col("chunk_id").as("nc"))
      .agg(count(lit(1)).as("n_near0"), max(col("cosine")).as("max_cosine"))
    ach.join(ace.select(col("chunk_id"), col("cell")), Seq("chunk_id"), "left")
      .join(near, col("chunk_id") === col("nc"), "left")
      .select(col("doc_id"), col("chunk_id"), col("cell"),
        coalesce(col("n_near0"), lit(0L)).as("n_near"), col("max_cosine"),
        (coalesce(col("n_near0"), lit(0L)) === 0L).as("admit"))
  }

  test("cell-route retrieval preserves the brute-force arm's label p@10") {
    val labels = emb.select(col("vec_id").as("doc_id"), col("label"))
    val probeLab = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("pl_id"), col("label").as("plabel"))
    def meanP(list: org.apache.spark.sql.DataFrame): Double =
      list.join(broadcast(labels), Seq("doc_id"))
        .join(broadcast(probeLab), col("probe_id") === col("pl_id"))
        .groupBy(col("probe_id"))
        .agg(avg((col("label") === col("plabel")).cast("double")).as("p"))
        .agg(avg(col("p"))).head.getDouble(0)
    val pBrute = meanP(ChunkRetrieval.chunkRetrieval(docs))
    val pAnn = meanP(ChunkRetrieval.chunkRetrievalAnn(docs))
    assert(pAnn >= pBrute - 0.05,
      s"cell-route arm lost label precision: ann $pAnn vs brute $pBrute")
  }

  test("cell-route arm recalls the exact arm's full top-k at gate scale") {
    val ev = ChunkRetrieval.chunkAnnEval(docs).collect()
    assert(ev.nonEmpty)
    ev.foreach { r =>
      assert(r.getAs[Long]("n_exact") > 0L)
      assert(r.getAs[Double]("recall") == 1.0,
        s"probe ${r.getAs[Long]("probe_id")} recall ${r.getAs[Double]("recall")}")
    }
  }

  test("cell arm plan: a broadcast equi-join on cell, no per-probe corpus scan") {
    val f = ChunkRetrieval.chunkFactorFor(docs)
    val arm = ChunkRetrieval.vecArm(
      ChunkRetrieval.chunkEmbeds(ChunkRetrieval.chunks(docs, f)), docs, 10, 50, f, Some(2))
    arm.collect()
    val plan = arm.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      "candidate fetch is not a broadcast hash join on cell")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the cell-route arm still scans the corpus per probe")
  }

  test("multiprobe dedup candidates are a superset: banded-dominated stays dominated") {
    val banded = ChunkRetrieval.chunkBandedDedup(docs)
      .select(col("chunk_id"), col("keep").as("keep_b"))
    val mp = ChunkRetrieval.chunkMpDedup(docs)
      .select(col("chunk_id"), col("keep").as("keep_m"))
    // every chunk the banded generator dominates, multiprobe dominates
    // too (Hamming-1 candidates ⊇ exact-band candidates; verdicts are
    // the same true-cosine rule)
    val regressed = banded.join(mp, Seq("chunk_id"))
      .filter(!col("keep_b") && col("keep_m")).count()
    assert(regressed == 0L, s"$regressed banded-dominated chunks kept by multiprobe")
    assert(mp.count() == banded.count(), "chunk populations diverged")
  }

  test("measured recall orders: multiprobe >= banded >= cell") {
    val r = ChunkRetrieval.dedupRecall(docs).collect()
      .map(x => x.getAs[String]("method") -> x.getAs[Double]("recall")).toMap
    assert(r.keySet == Set("banded", "cell", "multiprobe"))
    assert(r("multiprobe") >= r("banded") && r("banded") >= r("cell"),
      s"recall ordering violated: $r")
  }

  test("batched subword BPE: each round's selected pairs are pairwise token-disjoint") {
    import graft.text.SubwordBpe
    val t = SubwordBpe.subwordTrainBatched(docs, rounds = 4, cap = 4).collect()
    assert(t.nonEmpty)
    t.groupBy(_.getAs[Int]("round")).foreach { case (r, rows) =>
      val pairs = rows.map(x =>
        Set(x.getAs[String]("tok_a"), x.getAs[String]("tok_b")))
      for (i <- pairs.indices; j <- i + 1 until pairs.length)
        assert(pairs(i).intersect(pairs(j)).isEmpty,
          s"round $r: overlapping merges ${pairs(i)} and ${pairs(j)} in one batch")
    }
  }

  test("streaming chunk admission == batch twin; stored survivors reject their own re-arrival") {
    import graft.streaming.ChunkStream
    val arts = ChunkStream.dedupArtifacts(docs)
    val factor = arts.select(col("fct")).head.getLong(0)
    // stream the corpus back at the gate: every stored survivor
    // re-arrives and must be REJECTED by its own stored copy
    val streamed = ChunkStream.admittedChunks(spark, sf, docs)
      .collect().map(_.toSeq).toSet
    val batch = admitBatch(docs, docs, factor)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streamed admission verdicts diverged from the batch twin")
    val adm = admitBatch(docs, docs, factor)
    val survivors = graft.ann.ChunkRetrieval.chunkDedup(docs)
      .filter(col("keep")).select(col("chunk_id"))
    // an embeddable arrival already stored as a survivor self-matches at
    // cosine 1 ≥ threshold — zero admitted
    assert(adm.join(survivors, Seq("chunk_id")).filter(col("admit")).count() == 0L,
      "a stored survivor's re-arrival was admitted")
    // unembeddable chunks (no cell) cannot be scored and pass through
    assert(adm.filter(col("cell").isNull && !col("admit")).count() == 0L)
  }

  test("streamed ANN chunk serving == batch chunkRetrievalAnn bit-for-bit, zero state") {
    // the last brute-arm consumer promoted: the streaming twin fetches
    // only the Hamming-ball cells from the cell-keyed artifact map and
    // must reproduce the batch promoted retrieval exactly
    val streamed = graft.streaming.ChunkStream
      .servedChunkQueries(spark, sf, docs, hamming = Some(2))
      .collect().map(_.toSeq).toSet
    val batch = ChunkRetrieval.chunkRetrievalAnn(docs)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "streamed ANN serving diverged from batch chunkRetrievalAnn")
  }

  test("incremental ANN serving == from-scratch ANN retrieval bit-for-bit") {
    // the parts merge is exact, so the promoted arm served from frozen
    // base + fresh delta must reproduce chunkRetrievalAnn exactly —
    // the Scala twin of the shared-oracle gate
    val a = ChunkRetrieval.chunkRetrievalAnn(docs).collect().map(_.toSeq).toSet
    val b = ChunkRetrieval.chunkDeltaServeAnn(docs).collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b,
      "delta-merged ANN serving diverged from the from-scratch ANN retrieval")
  }

  test("span dedup: exact copies are fully covered, unique text is untouched, within-doc repeats don't count") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"w$i").mkString(" ")   // 40 unique tokens
    val unique = (101 to 140).map(i => s"u$i").mkString(" ")
    // doc 2 repeats ITS OWN 16-gram (the text twice) but shares nothing
    // cross-doc; docs 0 and 1 are exact copies
    val crafted = Seq(
      (0L, w), (1L, w), (2L, s"$unique $unique"),
      (3L, (201 to 240).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val r = graft.dedup.Dedup.spanDedup(crafted).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_windows"), x.getAs[Long]("dup_windows"))).toMap
    // exact copies: every window of each twin occurs in the other
    assert(r(0L) == (25L, 25L) && r(1L) == (25L, 25L))
    // a document repeating its own span is NOT cross-doc duplicated
    assert(r(2L)._2 == 0L, s"within-doc repeat counted as duplication: ${r(2L)}")
    // unique text is untouched
    assert(r(3L) == (25L, 0L))
  }

  test("streamed subword tokenization == batch subwordApply bit-for-bit, zero state") {
    import graft.text.SubwordBpe
    val merges = SubwordBpe.subwordTrain(docs)
    val streamed = graft.streaming.DocStream
      .subwordArrivals(spark, sf, merges)
      .collect().map(_.toSeq).toSet
    val batch = SubwordBpe.subwordApply(docs, merges)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "streamed subword tokenization diverged from the batch apply")
  }

  test("cell-route retrieval is deterministic and keeps the serving contract") {
    val a = ChunkRetrieval.chunkRetrievalAnn(docs).collect()
    val b = ChunkRetrieval.chunkRetrievalAnn(docs).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // ≤ k rows per probe, ranks contiguous from 1, ≤ 1 chunk per doc
    val byProbe = a.groupBy(_.getAs[Long]("probe_id"))
    byProbe.foreach { case (_, rows) =>
      assert(rows.length <= 10)
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length))
      val docsOf = rows.map(_.getAs[Long]("doc_id"))
      assert(docsOf.distinct.length == docsOf.length, "two chunks of one doc served")
    }
  }
}
