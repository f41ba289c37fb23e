package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.ChunkRetrieval

/** Round-13 invariants: the derived chunk_id encoding (long documents
  * can no longer collide into a neighbor's id space), the chunk-grain
  * semantic dedup laws, and serving-from-survivors precision
  * preservation. */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sf)

  test("gate corpus derives the minimum chunk factor — the oracle literal stays valid") {
    assert(ChunkRetrieval.chunkFactorFor(docs) == 1024L)
  }

  test("a >1024-window document gets a widened factor and keeps correct doc attribution") {
    import spark.implicits._
    // 52k words -> 1084 windows at stride 48: past the old fixed-1024
    // encoding, whose chunk_ids would have spilled into doc 1's space
    val longText = Seq.fill(52000)("w").mkString(" ")
    val crafted = Seq((0L, longText), (1L, "a short doc here")).toDF("doc_id", "text")
    val factor = ChunkRetrieval.chunkFactorFor(crafted)
    assert(factor == 2048L, s"expected widened factor, got $factor")
    val ch = ChunkRetrieval.chunks(crafted, factor)
      .select(col("doc_id"), col("chunk_id"),
        floor(col("chunk_id") / factor).cast("long").as("attr"))
    assert(ch.filter(col("attr") =!= col("doc_id")).count() == 0L,
      "a chunk decodes to the wrong document")
    val n0 = ch.filter(col("doc_id") === 0L).count()
    assert(n0 > 1024L, s"crafted doc must exceed the old factor, got $n0 windows")
    // and chunk_ids are globally unique across documents
    assert(ch.select("chunk_id").distinct().count() == ch.count())
  }

  test("adaptive cell bits: exact integer thresholds, gate SFs stay at 8 bits") {
    // the gate corpora (≤ 64·2^8 = 16384 embeddable chunks) keep the
    // historical 8-bit cell space — r12 outputs are bit-unchanged
    assert(ChunkRetrieval.cellBitsFor(0L) == 8)
    assert(ChunkRetrieval.cellBitsFor(16384L) == 8)
    // the first chunk past each occupancy threshold widens by one bit
    assert(ChunkRetrieval.cellBitsFor(16385L) == 9)
    assert(ChunkRetrieval.cellBitsFor(64L << 13) == 13)
    assert(ChunkRetrieval.cellBitsFor((64L << 13) + 1) == 14)
    // the measured 100× corpus (794,315 chunks) lands at 14 bits —
    // mean occupancy ~48, the Σ|cell|² fix for the 545 s pair stage
    assert(ChunkRetrieval.cellBitsFor(794315L) == 14)
    // only outDims = 16 sign coordinates exist; the ladder caps there
    assert(ChunkRetrieval.cellBitsFor(Long.MaxValue) == 16)
  }

  test("chunk dedup: every cell's least-prototypical chunk survives; verdicts are deterministic") {
    val d1 = ChunkRetrieval.chunkDedup(docs)
    val d2 = ChunkRetrieval.chunkDedup(docs)
    assert(d1.collect().map(_.toSeq).toSeq == d2.collect().map(_.toSeq).toSeq,
      "dedup verdicts are not deterministic")
    // the (fit, chunk_id)-min member of a cell has no lower-fit partner,
    // so the keep-least-prototypical rule can never dominate it
    val minPer = d1.groupBy(col("cell"))
      .agg(min(struct(col("fit"), col("chunk_id"))).as("m"))
      .select(col("m.chunk_id").as("mc"))
    val bad = d1.join(minPer, col("chunk_id") === col("mc"))
      .filter(!col("keep")).count()
    assert(bad == 0L, "a cell's least-prototypical chunk was dominated")
    // a chunk with no duplicate partner is always kept
    assert(d1.filter(col("n_dups") === 0 && !col("keep")).count() == 0L)
    // every max_dup_cosine that exists clears the threshold
    assert(d1.filter(col("n_dups") > 0 && col("max_dup_cosine") < 0.95).count() == 0L)
  }

  test("serving from survivors never serves a dominated chunk and preserves label p@10") {
    val dedup = ChunkRetrieval.chunkDedup(docs)
    val dominated = dedup.filter(!col("keep"))
      .select(col("chunk_id").as("dc"))
    val full = ChunkRetrieval.chunkRetrieval(docs)
    val served = ChunkRetrieval.chunkServe(docs)
    assert(served.join(dominated, col("chunk_id") === col("dc")).count() == 0L,
      "a dominated chunk reached the serve list")
    // label precision@10 (the q_chunk_eval device) must be preserved
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    def meanP(list: org.apache.spark.sql.DataFrame): Double =
      list.join(broadcast(emb.select(col("vec_id").as("cand_id"), col("label"))),
          col("doc_id") === col("cand_id"))
        .join(broadcast(emb.select(col("vec_id").as("pl_id"), col("label").as("plabel"))),
          col("probe_id") === col("pl_id"))
        .groupBy(col("probe_id"))
        .agg(avg((col("label") === col("plabel")).cast("double")).as("p"))
        .agg(avg(col("p"))).head.getDouble(0)
    val pFull = meanP(full)
    val pServe = meanP(served)
    assert(pServe >= pFull - 0.05,
      s"dedup serving lost precision: full=$pFull served=$pServe")
    // both lists stay contiguously ranked per probe
    for (l <- Seq(full, served)) {
      val badRank = l.groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mr"))
        .filter(col("n") =!= col("mr")).count()
      assert(badRank == 0L)
    }
  }

  test("banded dedup: candidates are a superset — any single-cell-dominated chunk is banded-dominated") {
    val single = ChunkRetrieval.chunkDedup(docs)
    val banded = ChunkRetrieval.chunkBandedDedup(docs)
    // band 0 == the single cell, so banded candidate pairs ⊇ cell pairs:
    // domination and dup counts are monotone
    val s = single.select(col("chunk_id"), col("keep").as("keep_s"),
      col("n_dups").as("nd_s"))
    val joined = banded.join(s, Seq("chunk_id"))
    assert(joined.filter(!col("keep_s") && col("keep")).count() == 0L,
      "a chunk the single-cell dedup dominates survived the banded dedup")
    assert(joined.filter(col("n_dups") < col("nd_s")).count() == 0L,
      "banded dup count fell below the single-cell count")
    // same population and cells (band 0 ≡ the cell)
    assert(banded.count() == single.count())
    assert(banded.select(col("chunk_id"), col("cell")).collect().toSet ==
      single.select(col("chunk_id"), col("cell")).collect().toSet)
  }

  test("dedup recall mart: banded recall >= cell recall, both within [0, 1]") {
    // at the gate SF the adaptive modulus samples EVERYTHING, so the
    // truth is the exhaustive all-pairs set — non-vacuous by construction
    val r = ChunkRetrieval.dedupRecall(docs)
      .collect().map(row => row.getString(0) ->
        (row.getLong(1), row.getLong(2), Option(row.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    // round 14 added the multiprobe generator as a third measured method
    assert(r.keySet == Set("banded", "cell", "multiprobe"))
    val (tb, fb, rb) = r("banded")
    val (tc, fc, rc) = r("cell")
    val (tm, fm, rm) = r("multiprobe")
    assert(tb == tc && tb == tm, "all methods must score the same truth set")
    assert(tb > 0L, "gate corpus must contain true duplicate pairs")
    assert(fb >= fc, "banding can only add candidate coverage")
    assert(fm >= fb, "multiprobe can only add coverage over exact bands")
    for ((f, t, rec) <- Seq((fb, tb, rb), (fc, tc, rc), (fm, tm, rm))) {
      assert(f <= t, "found pairs cannot exceed the truth")
      rec.foreach(x => assert(x >= 0.0 && x <= 1.0))
    }
  }

  test("delta-merged serving == full rebuild bit-for-bit (exact incremental maintenance)") {
    val rebuild = ChunkRetrieval.chunkRetrieval(docs)
      .collect().map(_.toSeq).toSet
    val delta = ChunkRetrieval.chunkDeltaServe(docs)
      .collect().map(_.toSeq).toSet
    assert(delta.nonEmpty)
    assert(delta == rebuild,
      s"delta-merged serving diverged from the rebuild: ${(delta -- rebuild).take(3)} vs ${(rebuild -- delta).take(3)}")
  }

  test("LSH-accelerated vector arm: bounded candidates, laws hold, gate recall stays high") {
    val total = ChunkRetrieval.chunks(docs, ChunkRetrieval.chunkFactorFor(docs)).count()
    val rows = ChunkRetrieval.chunkAnnEval(docs).collect()
    assert(rows.length == 10)
    for (r <- rows) {
      val (nc, nx, nh) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nc < total, "the cell filter must exclude part of the corpus")
      assert(nh <= nx && nh <= math.min(nc, 10L),
        "hits cannot exceed either list")
      Option(r.get(4)).foreach(x =>
        assert(x.asInstanceOf[Double] >= 0.0 && x.asInstanceOf[Double] <= 1.0))
    }
    // deterministic at the gate corpus: the multi-probe route keeps the
    // exact top-10 (measured 1.0 per probe; floor guards drift)
    val meanRecall = rows.flatMap(r => Option(r.get(4)))
      .map(_.asInstanceOf[Double]).sum / rows.length
    assert(meanRecall >= 0.9, s"gate recall degraded: $meanRecall")
  }

  test("streamed index-part ingest == batch parts; serving from stream-derived parts == rebuild") {
    val factor = ChunkRetrieval.chunkFactorFor(docs)
    val raw = graft.streaming.ChunkStream.ingestedParts(spark, sf, factor)
    // memory-sink frames hit the conflicting-reference resolver when a
    // downstream device reads them twice — re-materialize first
    val rows = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(raw.collect(): _*)),
      raw.schema)
    val ce = rows.filter(col("nsq") > 0).select("chunk_id", "p", "nsq")
    val postings = rows
      .select(col("chunk_id"), col("dl"), explode(col("tfs")).as("t"))
      .select(col("t.word").as("word"), col("chunk_id"),
        col("t.tf").as("tf"), col("dl"))
    val dfAll = postings.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val stats = rows.agg(count(lit(1)).as("nn"),
      sum(col("dl").cast("decimal(18,0)")).as("sdl0"))
    // each part equals its batch build bit-for-bit (associative sums)
    val (bce, bpost, _, _) =
      ChunkRetrieval.indexParts(ChunkRetrieval.chunks(docs, factor))
    assert(ce.collect().map(_.toSeq).toSet == bce.collect().map(_.toSeq).toSet,
      "streamed chunk embeddings diverged from the batch build")
    assert(postings.collect().map(_.toSeq).toSet ==
      bpost.collect().map(_.toSeq).toSet,
      "streamed postings diverged from the batch build")
    // and the parts SERVE bit-equal to the full rebuild
    val served = ChunkRetrieval.serveFromParts(ce, postings, dfAll, stats, docs)
    assert(served.collect().map(_.toSeq).toSet ==
      ChunkRetrieval.chunkRetrieval(docs).collect().map(_.toSeq).toSet,
      "serving from stream-ingested parts diverged from the rebuild")
  }

  test("streamed chunk query serving == batch chunkRetrieval bit-for-bit (and holds zero state)") {
    val batch = ChunkRetrieval.chunkRetrieval(docs)
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.ChunkStream.servedChunkQueries(spark, sf, docs)
      .select("probe_id", "rank", "doc_id", "chunk_id",
        "rrf_score", "lex_rank", "vec_rank")
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed serving diverged from batch: ${(streamed -- batch).take(3)} vs ${(batch -- streamed).take(3)}")
  }
}
