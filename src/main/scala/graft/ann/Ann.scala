package graft.ann

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{DotScaled, PlanStats}
import graft.functions.Fns._
import graft.text.TextPrep

/** Bounded-heap per-group top-k: keeps the k best (cosine desc, id asc)
  * neighbors in a size-k heap. Because it is an `Aggregator`, Spark runs
  * it with PARTIAL aggregation: every input partition reduces to at most
  * k rows per probe before the shuffle, and the merge is heap-union — so
  * a probe's top-k never funnels its full corpus slice through one task
  * the way a rank window does. That is the difference between 10 probes
  * on 60k rows and 10⁵ probes on 10⁹ rows.
  */
class TopKNeighbors(k: Int)
  extends Aggregator[(Long, Long, Double), mutable.PriorityQueue[(Double, Long)], Seq[(Long, Double)]] {

  // fail fast at construction: k=0 would otherwise surface as a
  // NoSuchElementException on b.head deep inside an executor task
  require(k > 0, s"TopKNeighbors requires k > 0 (got $k)")

  // dequeue must evict the WORST entry: lower cosine first, larger id on ties
  private def worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  override def zero: mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  private def add(b: mutable.PriorityQueue[(Double, Long)], e: (Double, Long)) = {
    if (b.size < k) b.enqueue(e)
    else if (worstFirst.compare(e, b.head) < 0) { b.dequeue(); b.enqueue(e) }
    b
  }

  override def reduce(b: mutable.PriorityQueue[(Double, Long)], in: (Long, Long, Double)) =
    add(b, (in._3, in._2))

  override def merge(a: mutable.PriorityQueue[(Double, Long)], b: mutable.PriorityQueue[(Double, Long)]) =
    b.foldLeft(a)(add)

  override def finish(b: mutable.PriorityQueue[(Double, Long)]): Seq[(Long, Double)] =
    b.toSeq.sortBy { case (cos, id) => (-cos, id) }.map { case (cos, id) => (id, cos) }

  override def bufferEncoder: Encoder[mutable.PriorityQueue[(Double, Long)]] =
    Encoders.kryo[mutable.PriorityQueue[(Double, Long)]]

  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
}

/** Vector similarity over an embedding column (Array[Float]).
  *
  * Dot products run through [[graft.functions.DotScaled]] — a codegen'd
  * scaled-integer sum, so cosine values (and therefore top-k ordering and
  * thresholds) are bit-deterministic under any partitioning and
  * reproducible by the SQL oracle. No shuffle is spent on the vector math
  * itself; candidate generation is the only distributed step:
  *   - near-dup: the EXACT baseline is label-blocked all-pairs
  *     (deliberately Θ(n²/|labels|) — the truth set that calibrates
  *     the LSH path); the scale path is the banded, bucket-capped
  *     [[lshNearDup]];
  *   - top-k: small probe set broadcast against the corpus;
  *   - IVF: one broadcast of K centroids, assignments in a single pass.
  */
object Ann {

  /** Exact dot product of two float-array columns via the codegen'd
    * [[graft.functions.DotScaled]] expression (scaled-integer sum —
    * bit-deterministic and engine-reproducible). Args are column names
    * resolvable in the frame; `register` must have run on the session. */
  def dot(a: String, b: String): Column =
    expr(s"graft_dot($a, $b)").cast("double") / DotScaled.Scale

  private def withNorm(emb: DataFrame): DataFrame = {
    DotScaled.register(emb.sparkSession)
    emb.withColumn("nrm", sqrt(dot("embedding", "embedding")))
  }

  /** The family's exact float cosine: vector columns `a`, `b` over their
    * norm columns `na`, `nb`, r6-rounded — the one scoring expression of
    * every search, verify and assignment path here. */
  private def cosine(a: String, na: String, b: String, nb: String): Column =
    r6(dot(a, b) / (col(na) * col(nb)))

  /** EXACT embedding cosine near-dup pairs within a label block — the
    * family's calibration BASELINE, not its scale path.
    *
    * Label is a fixed-cardinality blocking key, so this is
    * Θ(n²/|labels|) BY DESIGN — the exact truth set [[lshNearDup]]'s
    * recall is measured against (LlmDataSpec does exactly that), the
    * same role [[bruteForceTopK]] plays for the ANN search family.
    * SCALE.md (round 9) measures the quadratic directly: 15.9× time for
    * 3× vectors. At production scale the baseline runs on a bounded
    * hash-sample of the corpus (compose with the q_hash_sample device)
    * to calibrate the LSH path's recall; the full-corpus near-dup
    * operator is [[lshNearDup]] (banded, bucket-capped, n-linear
    * candidates, exact verification).
    *
    * An IVF cell re-blocking (the [[knnGraph]] device) was tried and
    * rejected here: single-cell blocking keeps only 4/26 true pairs at
    * sf0.01, and multi-probe variants that recover recall just
    * re-implement a worse [[lshNearDup]] while destroying the truth-set
    * role. */
  def nearDupPairs(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val v = withNorm(embeddings.select(col("vec_id"), col("label"), col("embedding")))
    val a = v.select(col("vec_id").as("vec_a"), col("label"),
      col("embedding").as("e1"), col("nrm").as("nrm1"))
    val b = v.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
      col("embedding").as("e2"), col("nrm").as("nrm2"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("cosine", cosine("e1", "nrm1", "e2", "nrm2"))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "label", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  /** Top-k of a scored (probe_id, vec_id, cosine) frame via the
    * bounded-heap [[TopKNeighbors]] aggregator — partial-aggregated
    * map-side, so no per-probe full sort and no one-task-per-probe
    * window. Ordering matches the oracle's rank window exactly:
    * cosine desc, vec_id asc. */
  private[ann] def topkPerProbe(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("probe_id"), col("vec_id"), col("cosine"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKNeighbors(k).toColumn.name("top"))
      .toDF("probe_id", "top")
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rank"),
        col("entry._1").as("neighbor_id"), col("entry._2").as("cosine"))
      .orderBy("probe_id", "rank")
  }

  /** The probe documents' top-`kTerms` non-stopword terms by in-probe
    * tf (ties to the smaller word) — (probe_id, word) from a (doc_id,
    * word) token frame. The window is bounded by one document's
    * vocabulary, never the corpus. Shared by the hybrid arms at document
    * and chunk grain. */
  private[ann] def probeTerms(toks: DataFrame, nProbes: Int, kTerms: Int): DataFrame = {
    val wP = Window.partitionBy(col("probe_id"))
      .orderBy(col("ptf").desc, col("word"))
    toks.filter(col("doc_id") < nProbes && !col("word").isin(TextPrep.stopEn: _*))
      .groupBy(col("doc_id").as("probe_id"), col("word"))
      .agg(count(lit(1)).as("ptf"))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= kTerms)
      .select("probe_id", "word")
  }

  /** The BM25 scoring tail: per-(probe, `key`, word) tf/dl rows × word
    * df × the one-row (nn, sdl) corpus stats → exact decimal sum per
    * (probe, `key`) → top-`arm` heap, the `key` column served as
    * neighbor_id. The exact constants and decimal-sum routing of
    * [[graft.text.Vocab.bm25]]; the document and chunk arms both score
    * here, so neither grain can drift from the other. */
  private[ann] def bm25Topk(tfd: DataFrame, dfw: DataFrame, stats: DataFrame,
                            key: String, arm: Int): DataFrame =
    topkPerProbe(tfd.join(broadcast(dfw), Seq("word"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl") / col("nn"))
      .withColumn("contrib", TextPrep.bm25Contrib(
        col("tf"), col("df"), col("dl"), col("nn"), col("avgdl")))
      .groupBy(col("probe_id"), col(key))
      .agg(sum(col("contrib").cast("decimal(20,12)")).cast("double").as("score0"))
      .select(col("probe_id"), col(key).as("vec_id"),
        r6(col("score0")).as("cosine")), arm)

  /** Reciprocal-rank fusion of two ranked arm frames (probe_id, rank,
    * neighbor_id, …) over their full-outer union: (probe_id, `key`,
    * lex_rank, vec_rank, rrf) with rrf = Σ 1/(rrfK + rank). */
  private[ann] def fuseArms(lex0: DataFrame, vec0: DataFrame, rrfK: Int,
                            key: String): DataFrame = {
    val lex = lex0.select(col("probe_id").as("lp"), col("neighbor_id").as("ld"),
      col("rank").as("lex_rank"))
    val vec = vec0.select(col("probe_id").as("vp"), col("neighbor_id").as("vd"),
      col("rank").as("vec_rank"))
    lex.join(vec,
        col("lp") === col("vp") && col("ld") === col("vd"), "full_outer")
      .select(coalesce(col("lp"), col("vp")).as("probe_id"),
        coalesce(col("ld"), col("vd")).as(key),
        col("lex_rank"), col("vec_rank"))
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
  }

  /** Brute-force cosine top-k: the exact baseline. Probes broadcast;
    * corpus streamed once; per-probe bounded-heap aggregation over the
    * scored pairs. */
  def bruteForceTopK(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10): DataFrame =
    topkPerProbe(probeScan(embeddings, Nil, nProbes), k)

  /** The exact broadcast probe scan behind [[bruteForceTopK]] and the
    * truth of [[filteredEval]]: the probes (vec_id < nProbes) broadcast
    * against the whole corpus, every pair but a probe with itself scored
    * by [[cosine]]. Each column of `same` adds one equality: a probe
    * only meets the vectors that share its value (`Seq("label")` is the
    * filtered search's predicate). */
  private def probeScan(embeddings: DataFrame, same: Seq[String], nProbes: Int): DataFrame = {
    val v = withNorm(embeddings.select((col("vec_id") +: same.map(col)) :+ col("embedding"): _*))
    val probes = v.filter(col("vec_id") < nProbes).select(probeCols(v): _*)
    v.crossJoin(broadcast(probes))
      .filter(sharing(col("vec_id") =!= col("probe_id"), same))
      .withColumn("cosine", cosine("embedding", "nrm", "pe", "pnrm"))
  }

  /** A probe's columns off a normed frame: probe_id, pe, pnrm, and
    * p<col> for each column the frame carries beyond those three. */
  private def probeCols(v: DataFrame): Seq[Column] =
    Seq(col("vec_id").as("probe_id"), col("embedding").as("pe"), col("nrm").as("pnrm")) ++
      v.columns.filterNot(Set("vec_id", "embedding", "nrm")).map(c => col(c).as(s"p$c"))

  /** `base`, and per column of `same` the candidate's value equal to the
    * probe's p<col>. */
  private def sharing(base: Column, same: Seq[String]): Column =
    same.foldLeft(base)((c, s) => c && col(s) === col(s"p$s"))

  /** Deterministic fixed-K centroid sample: the k vectors with the
    * smallest md5(vec_id) — a uniform hash-ranked pick that is
    * INDEPENDENT of corpus size (plans as TakeOrderedAndProject: each
    * task keeps its local k, the driver merges; no full sort). At 100×
    * the corpus the broadcast stays k rows and the assign pass stays
    * n·k work, unlike a modulo scheme whose centroid count grows with n. */
  private def centroids(v: DataFrame, k: Int): DataFrame =
    v.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"),
        col("nrm").as("cnrm"))

  /** Per-vector centroid ranking against an explicit centroid frame
    * (centroid_id, ce, cnrm): corpus × K broadcast score, rank window
    * partitioned by vec_id (K rows per partition — bounded). rn=1 is the
    * cell assignment; rn<=nCells are a probe's search cells. */
  private def centroidRankedWith(v: DataFrame, cents: DataFrame): DataFrame = {
    val scored = v.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine("embedding", "nrm", "ce", "cnrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    scored.withColumn("rn", row_number().over(w))
  }

  /** Each vector's nearest centroid: the rn = 1 row of
    * [[centroidRankedWith]], the cell assignment of every IVF path. */
  private def nearestCell(v: DataFrame, cents: DataFrame): DataFrame =
    centroidRankedWith(v, cents).filter(col("rn") === 1)

  /** The IVF probe core over a normed frame `v` and a centroid frame
    * (centroid_id, ce, cnrm): the cell assignment (vec_id, centroid_id)
    * and the probe cells — each probe's (vec_id < nProbes) `nCells`
    * nearest centroids, named by [[probeCols]] with the cell as pcell. */
  private def probeIndex(v: DataFrame, cents: DataFrame, nProbes: Int,
                         nCells: Int): (DataFrame, DataFrame) =
    (nearestCell(v, cents).select(col("vec_id"), col("centroid_id")),
      centroidRankedWith(v, cents).filter(col("vec_id") < nProbes && col("rn") <= nCells)
        .select(probeCols(v) :+ col("centroid_id").as("pcell"): _*))

  /** IVF cell assignment: every vector is assigned to its nearest of K
    * hash-sampled centroids. The scale path: search only touches the
    * probe's cells instead of the full corpus. */
  def ivfAssign(embeddings: DataFrame, k: Int = 32): DataFrame = {
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    nearestCell(v, centroids(v, k))
      .select(col("vec_id"), col("centroid_id"), col("ccos").as("centroid_cosine"))
      .orderBy("vec_id")
  }

  /** IVF search: top-k over the union of each probe's nCells nearest
    * cells (the production nprobe refinement — single-cell probing is
    * the nCells=1 special case). Work per probe is nCells·(n/kCents)
    * exact dots instead of n.
    *
    * Centroid choice is MEASURED, not assumed (SCALE.md round-10 third
    * pass): at this nCells=5 probe budget, Lloyd-refined centroids buy
    * only +0.01 mean recall@10 over the hash-ranked sample (0.96 → 0.97
    * at 4 iterations, min recall unchanged at 0.90) because multi-probe
    * already recovers the boundary vectors better cells would re-home —
    * so the hash sample stays the default here. For single-probe /
    * latency-bound deployments (nCells=1), centroid quality IS the
    * recall lever: pass [[lloydCentroids]] output through
    * [[ivfSearchWith]]. */
  def ivfSearch(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10,
                kCents: Int = 16, nCells: Int = 5): DataFrame =
    ivfTopK(embeddings, centroids(_, kCents), Nil, nProbes, k, nCells)

  /** [[ivfSearch]] against an explicit centroid frame (centroid_id, ce,
    * cnrm) — the seam that lets the SAME probed-search plan run over
    * hash-sampled or Lloyd-refined centroids, so index-quality A/Bs
    * ([[annEval]] with `cents`) compare centroid TRAINING, not two
    * different search codepaths. */
  def ivfSearchWith(embeddings: DataFrame, cents: DataFrame,
                    nProbes: Int = 10, k: Int = 10, nCells: Int = 5): DataFrame =
    ivfTopK(embeddings, _ => cents, Nil, nProbes, k, nCells)

  /** The one IVF candidate-and-score path behind [[ivfSearch]],
    * [[ivfSearchWith]] and [[ivfFilteredSearch]]: the corpus joined to its cell and to the
    * probe cells of [[probeIndex]] (over the centroids `cents` returns
    * for the normed frame), one more join equality per column of `same`
    * as in [[probeScan]], exact cosine, bounded-heap top-k. */
  private def ivfTopK(embeddings: DataFrame, cents: DataFrame => DataFrame,
                      same: Seq[String], nProbes: Int, k: Int, nCells: Int): DataFrame = {
    val v = withNorm(embeddings.select((col("vec_id") +: same.map(col)) :+ col("embedding"): _*))
    val (assign, probeCells) = probeIndex(v, cents(v), nProbes, nCells)
    val scored = v.join(assign, "vec_id")
      .join(broadcast(probeCells),
        sharing(col("centroid_id") === col("pcell") && col("vec_id") =!= col("probe_id"), same))
      .withColumn("cosine", cosine("embedding", "nrm", "pe", "pnrm"))
    topkPerProbe(scored, k)
  }

  /** IVF-PQ probed search with asymmetric distance computation (ADC) —
    * the production retrieval path that composes the engine's three
    * existing index artifacts: IVF cells ([[ivfSearch]]'s probe device),
    * PQ codes ([[Embeddings.pqAssign]]), and the exact scaled-integer
    * dot ([[graft.functions.DotScaled]]).
    *
    * The 100 TB point of PQ: the candidate scan touches ONLY the stored
    * index (cell id + m one-byte codes per vector, built once by one
    * co-keyed shuffle on vec_id) — never the raw float vectors. Each
    * probe precomputes a query-to-codebook lookup table (nProbes·m·k
    * rows, broadcast) of exact scaled-integer sub-dots; a candidate's
    * approximate dot is then the sum of m table lookups (exact BIGINT
    * adds — order-free), and its reconstructed norm derives from the
    * codebook's own sub-norms the same way. Ranking is by
    * `adc_cos = <q, recon(x)> / (|q|·|recon(x)|)` — asymmetric because
    * the query side stays exact while the corpus side is quantized.
    * Plan: index⋈broadcast(probe cells) + m broadcast LUT joins, all
    * row-local after the one index build shuffle; top-k via the bounded
    * heap. Recall vs exact is measured by [[pqEval]].
    *
    * Parameters are MEASURED, not assumed (sf0.01, recall@10 vs brute
    * force): the q_pq_codes compression point (m=4/subDim=16/k=8,
    * 12-bit codes) ranks at 0.14 mean recall and even a full-shortlist
    * refine only reaches the 0.53 IVF probing ceiling — so the search
    * family defaults to m=8/subDim=8/kCodes=64 (48-bit codes), where
    * ADC alone scores 0.32 and [[pqRefine]]'s 50-row exact re-rank
    * recovers 0.51 ≈ 96% of everything the probed cells contain. The
    * remaining gap to 1.0 is cell-probing loss (q_ann_eval's lever:
    * kCents/nCells), not quantization. */
  def pqSearch(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10,
               kCents: Int = 16, nCells: Int = 5,
               m: Int = 8, subDim: Int = 8, kCodes: Int = 64): DataFrame =
    topkPerProbe(pqAdcScored(embeddings, nProbes, kCents, nCells, m, subDim, kCodes), k)
      .withColumnRenamed("cosine", "adc_cos")

  /** The ADC-scored candidate stream behind [[pqSearch]]/[[pqRefine]]:
    * (probe_id, vec_id, cosine) where cosine is the asymmetric
    * query-to-reconstruction estimate. */
  private def pqAdcScored(embeddings: DataFrame, nProbes: Int,
                          kCents: Int, nCells: Int,
                          m: Int, subDim: Int, kCodes: Int,
                          csubOpt: Option[DataFrame] = None): DataFrame = {
    val S = DotScaled.Scale
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    val (assign, probeCells) = probeIndex(v, centroids(v, kCents), nProbes, nCells)
    // subspace codebook: the hash sample by default, or an explicit
    // (Lloyd-refined) frame through the csubOpt seam
    val csubRaw = csubOpt.getOrElse(
      Embeddings.csubOf(Embeddings.pqCodebook(embeddings, kCodes), m, subDim))
    // stored index: cell + m codes per vector
    val index = assign.join(pqIndexCodes(embeddings, csubRaw, m, subDim), "vec_id")
    // broadcast LUT: per (probe, subspace, codebook entry) the exact
    // scaled-integer query-sub-dot qd and codebook self-dot cd
    val csub = csubRaw.select(col("centroid_id").as("code"),
      col("cm").as("m"), col("cv"))
    val psub = Embeddings.subFrame(v.filter(col("vec_id") < nProbes), m, subDim)
      .select(col("vec_id").as("probe_id"), col("m"), col("sv").as("pv"))
    val lut = psub.join(csub, "m")
      .withColumn("qd", expr("graft_dot(pv, cv)"))
      .withColumn("cd", expr("graft_dot(cv, cv)"))
      .select("probe_id", "m", "code", "qd", "cd")
    val cand = index.join(broadcast(probeCells),
      col("centroid_id") === col("pcell") && col("vec_id") =!= col("probe_id"))
    (0 until m).foldLeft(cand) { (df, j) =>
      df.join(broadcast(lut.filter(col("m") === j)
          .select(col("probe_id").as(s"lp$j"), col("code").as(s"lc$j"),
            col("qd").as(s"qd$j"), col("cd").as(s"cd$j"))),
        col("probe_id") === col(s"lp$j") && col(s"code$j") === col(s"lc$j"))
    }
      .withColumn("qdt", (0 until m).map(j => col(s"qd$j")).reduce(_ + _))
      .withColumn("cdt", (0 until m).map(j => col(s"cd$j")).reduce(_ + _))
      .withColumn("cosine", r6((col("qdt").cast("double") / lit(S)) /
        (col("pnrm") * sqrt(col("cdt").cast("double") / lit(S)))))
      .select("probe_id", "vec_id", "cosine")
  }

  /** The stored PQ index rows of `vecs` against codebook `csub`: per
    * vec_id its m subspace codes code0…code(m-1) (one co-keyed shuffle),
    * plus any `extra` aggregates over the same (vec_id, m) assignment. */
  private def pqIndexCodes(vecs: DataFrame, csub: DataFrame, m: Int, subDim: Int,
                           extra: Column*): DataFrame = {
    val codeCols = (0 until m).map(j =>
      max(when(col("m") === j, col("centroid_id"))).as(s"code$j")) ++ extra
    Embeddings.pqAssignWith(Embeddings.subFrame(vecs, m, subDim), csub)
      .groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail: _*)
  }

  /** IVF-PQ search with exact REFINEMENT — the production retrieval
    * path (FAISS's IndexRefineFlat pattern): the code-only ADC scan
    * prunes each probe's cells to a `shortlist` of candidates, then
    * ONLY those nProbes·shortlist vectors are re-read as floats for an
    * exact cosine re-rank to top-k. At 100 TB the expensive float
    * fetch is bounded by the shortlist, never the cell population —
    * the ADC stage pays 8-byte codes per candidate, the refine stage
    * pays full vectors for 50 rows per probe. On this corpus the
    * quantization-noisy ADC ranking ([[pqEval]]'s recall_adc) recovers
    * almost all brute-force recall after refinement (recall_refined) —
    * the measured argument for shipping refine in the serving path. */
  def pqRefine(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10,
               shortlist: Int = 50, kCents: Int = 16, nCells: Int = 5,
               m: Int = 8, subDim: Int = 8, kCodes: Int = 64): DataFrame = {
    val sl = topkPerProbe(
        pqAdcScored(embeddings, nProbes, kCents, nCells, m, subDim, kCodes),
        shortlist)
      .select(col("probe_id").as("sp"), col("neighbor_id").as("vec_id"))
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    val probes = v.filter(col("vec_id") < nProbes).select(probeCols(v): _*)
    val scored = v.join(broadcast(sl), "vec_id")
      .join(broadcast(probes), col("sp") === col("probe_id"))
      .withColumn("cosine", cosine("embedding", "nrm", "pe", "pnrm"))
      .select(col("sp").as("probe_id"), col("vec_id"), col("cosine"))
    topkPerProbe(scored, k)
  }

  /** FILTERED vector search — the metadata-predicate case every
    * production vector store serves (faceted retrieval: "nearest
    * neighbors WITHIN the probe's own label"): the IVF index is reused
    * FROZEN (cells and probe selection from the unfiltered corpus —
    * re-indexing per predicate is exactly what filtered ANN avoids)
    * and the predicate is applied to the candidate stream before
    * scoring, i.e. single-stage pre-scoring filtering rather than
    * post-filtering a top-k that may then underfill. The filtered
    * recall loss vs a filtered brute-force scan is measured by
    * [[filteredEval]] — cell-probing loss concentrates when the
    * predicate thins cells (MEASURED at sf0.01: mean filtered recall
    * 0.45 vs ~0.53 unfiltered — a probe's same-label neighbors spread
    * over more unprobed cells than its unconstrained ones; the lever
    * is nCells or a label-partitioned index, and this mart is the
    * number that decides between them). */
  def ivfFilteredSearch(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10,
                        kCents: Int = 16, nCells: Int = 5): DataFrame =
    ivfTopK(embeddings, centroids(_, kCents), Seq("label"), nProbes, k, nCells)

  /** Recall@k of the filtered IVF search against the filtered
    * brute-force truth (exact cosine over the same-label corpus) —
    * the number that says whether the frozen index still serves the
    * predicate or the predicate needs its own partition/index. */
  def filteredEval(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10): DataFrame =
    recallVsExact(topkPerProbe(probeScan(embeddings, Seq("label"), nProbes), k),
      ivfFilteredSearch(embeddings, nProbes, k))

  /** HYBRID retrieval with reciprocal-rank fusion (Cormack, Clarke,
    * Buettcher 2009) — the RAG-serving composition of the engine's two
    * ranking arms: per probe document, a LEXICAL arm (the probe's top
    * `kTerms` tf terms scored BM25-style against the corpus — the exact
    * constants and decimal-sum routing of [[graft.text.Vocab.bm25]])
    * and a VECTOR arm (exact cosine ranking over the embeddings
    * table), fused as rrf = Σ 1/(rrfK + rank). The engine's data-model
    * contract here is that `embeddings.vec_id` keys the same id space
    * as `documents.doc_id` (document i's embedding) — the join every
    * hybrid store maintains physically.
    *
    * Scale shape: probe terms, their df artifact and the 1-row corpus
    * stats are broadcasts; the lexical candidate stream is one
    * (probe, doc, term) partial aggregation; BOTH arms rank through the
    * bounded-heap device (never a per-probe corpus-slice window), and
    * the fusion join is over two ≤ arm-row-per-probe frames. */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                nProbes: Int = 10, k: Int = 10, kTerms: Int = 8,
                arm: Int = 50, rrfK: Int = 60): DataFrame = {
    // the fused frame (≤ 2·arm rows per probe) feeds BOTH the top-k heap
    // and the rank-recovery join — pinned so the two consumers share one
    // evaluation of the arms (the rankServe device at doc grain)
    val fused = hybridFused(documents, embeddings, nProbes, kTerms, arm, rrfK)
      .localCheckpoint(false)
    val top = topkPerProbe(
        fused.select(col("probe_id"), col("vec_id"), col("rrf").as("cosine")), k)
      .withColumnRenamed("cosine", "rrf_score")
      .withColumnRenamed("neighbor_id", "doc_id")
    top.join(broadcast(fused.select(col("probe_id").as("fp"),
        col("vec_id").as("fd"), col("lex_rank"), col("vec_rank"))),
        col("probe_id") === col("fp") && col("doc_id") === col("fd"))
      .select(col("probe_id"), col("rank"), col("doc_id"),
        r6(col("rrf_score")).as("rrf_score"), col("lex_rank"), col("vec_rank"))
      .orderBy("probe_id", "rank")
  }

  /** The fused candidate frame behind [[hybridRrf]]/[[hybridEval]]:
    * (probe_id, vec_id, lex_rank, vec_rank, rrf) over the full-outer
    * union of both arms' top-`arm` lists. */
  private def hybridFused(documents: DataFrame, embeddings: DataFrame,
                          nProbes: Int, kTerms: Int,
                          arm: Int, rrfK: Int): DataFrame = {
    val docs = documents.filter(col("text").isNotNull)
    // pinned: the exploded token frame has THREE consumers (probe terms,
    // probe-term df, per-(probe,doc,word) tf) that would each re-run the
    // text scan + normalization + explode
    val toks = TextPrep.withWords(docs)
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"),
        explode(col("words")).as("word"))
      .localCheckpoint(false)
    val pt = probeTerms(toks, nProbes, kTerms)
    val dfw = toks.join(broadcast(pt.select("word").distinct()), Seq("word"))
      .groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
    val stats = TextPrep.withWords(docs)
      .agg(count(lit(1)).as("nn"),
        sum(size(col("words")).cast("decimal(18,0)")).cast("double").as("sdl"))
    val tfd = toks.join(broadcast(pt), Seq("word"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    fuseArms(bm25Topk(tfd, dfw, stats, "doc_id", arm),
      bruteForceTopK(embeddings, nProbes, arm), rrfK, "vec_id")
  }

  /** Label-relevance precision@k of the three retrieval lists — the
    * fusion-robustness eval beside [[annEval]]/[[pqEval]]/
    * [[filteredEval]]: per probe, the share of each arm's (and the
    * fused list's) top-k that carries the probe's own label. On a
    * corpus whose text carries no label signal, the lexical arm reads
    * as chance and the eval MEASURES that fusion still preserves most
    * of the vector arm's precision — the robustness argument for RRF
    * over score mixing. Cost bounded by probes × arm. */
  def hybridEval(documents: DataFrame, embeddings: DataFrame,
                 nProbes: Int = 10, k: Int = 10, kTerms: Int = 8,
                 arm: Int = 50, rrfK: Int = 60): DataFrame = {
    // pinned for the same two consumers as [[hybridRrf]] (rrf top-k +
    // the per-arm top-k union)
    val fused = hybridFused(documents, embeddings, nProbes, kTerms, arm, rrfK)
      .localCheckpoint(false)
    val labels = embeddings.select(col("vec_id"), col("label"))
    val probeLab = labels.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("pl_id"), col("label").as("plabel"))
    val rrfTop = topkPerProbe(
        fused.select(col("probe_id"), col("vec_id"), col("rrf").as("cosine")), k)
      .select(col("probe_id"), col("neighbor_id").as("vec_id"),
        lit(null).cast("int").as("lex_rank"), lit(null).cast("int").as("vec_rank"),
        lit(true).as("in_rrf"))
    val armTop = fused.filter(col("lex_rank") <= k || col("vec_rank") <= k)
      .select(col("probe_id"), col("vec_id"), col("lex_rank"), col("vec_rank"),
        lit(false).as("in_rrf"))
    armTop.unionByName(rrfTop)
      .join(broadcast(labels.withColumnRenamed("vec_id", "cand_id")),
        col("vec_id") === col("cand_id"))
      .join(broadcast(probeLab), col("probe_id") === col("pl_id"))
      .withColumn("rel", (col("label") === col("plabel")).cast("long"))
      .groupBy(col("probe_id"))
      .agg(
        sum(when(col("lex_rank") <= k, 1L).otherwise(0L)).as("n_lex"),
        sum(when(col("lex_rank") <= k, col("rel")).otherwise(0L)).as("lex_hits"),
        sum(when(col("vec_rank") <= k, 1L).otherwise(0L)).as("n_vec"),
        sum(when(col("vec_rank") <= k, col("rel")).otherwise(0L)).as("vec_hits"),
        sum(when(col("in_rrf"), 1L).otherwise(0L)).as("n_rrf"),
        sum(when(col("in_rrf"), col("rel")).otherwise(0L)).as("rrf_hits"))
      .select(col("probe_id"),
        col("n_lex"), r6(try_divide(col("lex_hits").cast("double"), col("n_lex"))).as("p_lex"),
        col("n_vec"), r6(try_divide(col("vec_hits").cast("double"), col("n_vec"))).as("p_vec"),
        col("n_rrf"), r6(try_divide(col("rrf_hits").cast("double"), col("n_rrf"))).as("p_rrf"))
      .orderBy("probe_id")
  }

  /** Incremental IVF-PQ index MAINTENANCE — the arrival path of the
    * search family (the [[lshIncrement]] twin for the PQ index): a new
    * batch of vectors is celled and coded against the EXISTING corpus's
    * artifacts (hash-ranked centroids + codebook trained on the old
    * corpus only), so ingest appends index rows without retraining or
    * touching stored vectors. Emits per new vector its cell (+fit), its
    * m codes, and the exact reconstruction distance — the staleness
    * signal [[indexStaleness]] aggregates: a rising recon_l2 on arrivals
    * says the frozen codebook no longer covers the distribution and a
    * codebook retrain (Lloyd refinement) is due. Cost: one broadcast of
    * the (kCents + kCodes·m) artifacts against the NEW batch only. */
  def pqIncrement(newVecs: DataFrame, corpus: DataFrame, kCents: Int = 16,
                  m: Int = 8, subDim: Int = 8, kCodes: Int = 64): DataFrame = {
    val vCorpus = withNorm(corpus.select(col("vec_id"), col("embedding")))
    val cents = centroids(vCorpus, kCents)
    val csub = Embeddings.csubOf(Embeddings.pqCodebook(corpus, kCodes), m, subDim)
    val vNew = withNorm(newVecs.select(col("vec_id"), col("embedding")))
    val cell = nearestCell(vNew, cents)
      .select(col("vec_id"), col("centroid_id").as("cell_id"),
        col("ccos").as("cell_cosine"))
    cell.join(pqIndexCodes(newVecs, csub, m, subDim, sum(col("d2")).as("sumd2")), "vec_id")
      .withColumn("recon_l2", r6(sqrt(greatest(col("sumd2"), lit(0d)))))
      .drop("sumd2")
      .orderBy("vec_id")
  }

  /** Adaptive IVF cell count for self-join blocking: the √n balance
    * point where brute centroid assignment (n·K) and the within-cell
    * join (Σ|cell|² ≈ n²/K) both cost n^1.5 — a fixed K is quadratic in
    * the join term (SCALE.md measured 15× time for 10× vectors before
    * this). The DuckDB oracle mirrors it as
    * GREATEST(16, CEIL(SQRT(COUNT(*)/2.0))). */
  def adaptiveCells(n: Long, floor: Int = 16): Int =
    math.max(floor.toLong, math.ceil(math.sqrt(n / 2.0)).toLong).toInt

  /** Approximate k-NN GRAPH: every vector's top-k neighbors among the
    * vectors sharing its IVF cell — the self-similarity product that
    * feeds embedding-based near-dup clustering and diversity sampling.
    * One within-cell shuffle join (cells bound the pair count to
    * Σ|cell|², never corpus²) + the bounded-heap top-k; no broadcast of
    * the corpus side anywhere, so the shape survives any corpus size.
    * Vectors whose cell has no other member emit no rows — the standard
    * IVF-blocking recall trade (the exact baseline [[nearDupPairs]] has no such loss — and pays quadratic cost for it).
    *
    * The cell count is ADAPTIVE: K = max(16, ⌈√(n/2)⌉), the classic IVF
    * balance point. A fixed K makes |cell| grow with n and the
    * within-cell join Σ|cell|² ≈ n²/K quadratic (measured 15× time for
    * 10× corpus); K ~ √n caps BOTH the brute assign (n·K) and the join
    * (n²/K) at n^1.5. One narrow count() buys the plan choice — the same
    * adaptive-plan-selection device as the RFM exact/approx switch. At
    * corpus sizes where n^1.5 itself is too much, the assign step
    * graduates to a coarse-quantizer hierarchy ([[lloydCentroids]] over
    * cell samples); the join shape is already right. Explicit `kCents`
    * pins K for specs. */
  def knnGraph(embeddings: DataFrame, k: Int = 3, kCents: Int = 0): DataFrame = {
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    val kc = if (kCents > 0) kCents else adaptiveCells(PlanStats.rowCount(embeddings))
    val assign = nearestCell(v, centroids(v, kc))
      .select(col("vec_id"), col("centroid_id"))
    val va = v.join(assign, "vec_id")
    val probes = va.select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
      col("nrm").as("pnrm"), col("centroid_id").as("cell"))
    val scored = va
      .join(probes, col("centroid_id") === col("cell") && col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", cosine("embedding", "nrm", "pe", "pnrm"))
    topkPerProbe(scored, k)
  }

  /** Deterministic ±1 hyperplane sign for LSH bit j, input dim i — md5
    * parity, same device as the JL projection matrix
    * ([[Embeddings.randomProjection]]) under a distinct seed prefix so
    * the two matrices are independent. */
  private def lshSign(i: Int, j: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"lsh:$i:$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) % 2 == 0) 1 else -1
  }

  /** Embedding near-dup via COSINE LSH (signed random projections) — the
    * blocking scheme that needs no label / cluster column: two vectors
    * with cosine θ agree on a random-hyperplane bit with probability
    * 1 − θ/π, so banding `nBits` sign bits into nBits/bandBits bands
    * makes high-cosine pairs collide in some band with high probability
    * while the corpus spreads over 2^bandBits buckets per band. This is
    * the MinHash-LSH shape with hyperplane signs instead of shingle
    * mins: candidates come from bucket equi-joins (never an O(n²) cross
    * join), then one exact cosine pass keeps pairs ≥ `threshold`. At
    * larger corpora, raise bandBits ~ log2(n) to hold bucket sizes flat
    * — the same knob the minhash band store documents. Signature bits
    * are exact scaled-integer dot signs (engine-reproducible); the
    * hyperplanes are md5-parity literals, so the oracle rebuilds the
    * identical matrix in SQL. */
  def lshNearDup(embeddings: DataFrame, nBits: Int = 16, bandBits: Int = 0,
                 threshold: Double = 0.35, inDims: Int = 64,
                 bucketLimit: Int = 100,
                 countOverride: Option[Long] = None): DataFrame =
    lshPairs(embeddings, nBits, bandBits, threshold, inDims, bucketLimit,
      countOverride)
      .orderBy("vec_a", "vec_b")

  /** ADAPTIVE band width for the cosine-LSH family: the smallest of
    * {4, 8, 16} sign bits per band that keeps expected bucket size
    * n/2^bits at or under the hot-bucket cap — without it, EITHER the
    * candidate join is Θ(n²/2^bits) (measured 45× time for 10×
    * vectors) OR the cap silently drops every bucket (measured recall
    * 0 at 20k vectors with 4-bit bands). Wider bands mean fewer bands
    * from the same 16 signature bits (4×4 → 2×8 → 1×16) — the standard
    * recall-for-boundedness ladder; corpora past 2^16·cap vectors need
    * more hyperplanes (raise nBits). One narrow count() buys the plan
    * choice — the same adaptive-plan-selection device as [[adaptiveCells]]
    * and the RFM exact/approx switch; the oracle mirrors the rule with
    * a count-driven CASE. */
  def adaptiveBandBits(n: Long, bucketLimit: Int = 100): Int =
    if (n <= (1L << 4) * bucketLimit) 4
    else if (n <= (1L << 8) * bucketLimit) 8
    else 16

  /** Full adaptive LSH parameterization: (nBits, bandBits). Inside the
    * 16-signature-bit regime this is [[adaptiveBandBits]] with the fixed
    * 16 hyperplanes (4×4 → 2×8 → 1×16 bands — the ladder the oracles
    * mirror). Past 2^16·cap vectors, 16-bit buckets saturate — every
    * bucket goes hot and the cap would zero recall again — so the next
    * rungs RAISE the hyperplane count: bandBits grows to the smallest b
    * with n ≤ 2^b·cap (bounded at 30 so band values stay in an int) and
    * the signature doubles it, giving TWO bands of b bits — strictly
    * more bands than the 1×16 rung it replaces, so expected recall at
    * the crossover is no worse while every bucket stays at the cap.
    * Test scale never crosses the rung (2^16·cap ≈ 6.5M vectors), so
    * the wide branch is exercised by forcing its parameters explicitly
    * (AdaptiveLshSpec), not by the oracle. */
  def adaptiveLshParams(n: Long, bucketLimit: Int = 100): (Int, Int) = {
    val bb = adaptiveBandBits(n, bucketLimit)
    if (bb < 16 || n <= (1L << 16) * bucketLimit) (16, bb)
    else {
      var b = 17
      while (b < 30 && n > (1L << b) * bucketLimit) b += 1
      (2 * b, b)
    }
  }

  /** ROW-LOCAL banded LSH signature frame: (vec_id, band_id, band_val),
    * nBits/bandBits rows per vector. This is the embedding corpus's
    * persisted dedup state — what [[lshIncrement]] joins a new batch
    * against instead of re-signing the historical corpus. */
  def lshBandStore(embeddings: DataFrame, nBits: Int = 16, bandBits: Int = 4,
                   inDims: Int = 64): DataFrame = {
    // a non-dividing bandBits would silently DROP the trailing signature
    // bits (integer nBands truncates); internal callers pass {4,8,16} or
    // adaptiveLshParams' (2b, b), but the parameters are public
    require(nBits % bandBits == 0,
      s"bandBits=$bandBits must divide nBits=$nBits — trailing hyperplane bits would be lost")
    val S = DotScaled.ScaleSql
    val bits = (0 until nBits).map { j =>
      val sgn = (0 until inDims).map(lshSign(_, j)).mkString("array(", ",", ")")
      when(expr(s"aggregate(zip_with(embedding, $sgn, (x, s) -> cast(x as double) * s), " +
        s"cast(0 as bigint), (a, t) -> a + cast(floor(t * $S) as bigint))") >= 0L, 1)
        .otherwise(0).as(s"bit$j")
    }
    val nBands = nBits / bandBits
    val bands = (0 until nBands).map { b =>
      (0 until bandBits).map(k => col(s"bit${b * bandBits + k}") * lit(1 << k))
        .reduce(_ + _)
    }
    embeddings.select(col("vec_id") +: bits: _*)
      .select(col("vec_id"), posexplode(array(bands: _*)).as(Seq("band_id", "band_val")))
  }

  /** [[lshNearDup]] without the presentation sort — what internal
    * consumers (cluster propagation) build on.
    *
    * HOT-BUCKET CAP ([[graft.dedup.Dedup.bucketPairs]], the guard and
    * trade of [[graft.dedup.Dedup.minhashLsh]]): sign-bit buckets larger
    * than `bucketLimit` vectors are dropped before the self-join —
    * without it the candidate join is Θ(n²/2^bandBits) pairs (measured
    * 45× time for 10× vectors on the dense synthetic 10× corpus). Dense
    * clusters still pair through their other bands unless those are
    * hot too; at corpus scale the production knob is
    * bandBits ≈ log2(n/bucketLimit), which keeps buckets near the cap
    * instead of discarding mass. */
  private def lshPairs(embeddings: DataFrame, nBits: Int, bandBits: Int,
                       threshold: Double, inDims: Int,
                       bucketLimit: Int = 100,
                       countOverride: Option[Long] = None): DataFrame = {
    // bandBits=0 → fully adaptive: past the 16-bit rung the signature
    // widens too (adaptiveLshParams), closing the saturation gap the
    // fixed-nBits ladder left open at ~6.5M vectors. countOverride
    // injects the corpus count driving the parameter choice WITHOUT
    // changing the data — the verification seam that lets a spec push
    // the auto-selection past the 2^16·cap rung (unreachable with real
    // test-scale data) and watch the wide signature run end to end.
    val (nb, bb) = if (bandBits > 0) (nBits, bandBits)
      else adaptiveLshParams(countOverride.getOrElse(PlanStats.rowCount(embeddings)), bucketLimit)
    val cand = graft.dedup.Dedup.bucketPairs(
      lshBandStore(embeddings.select(col("vec_id"), col("embedding")), nb, bb, inDims),
      bucketLimit)
    cosineVerified(cand, embeddings, threshold)
      .select("vec_a", "vec_b", "n_shared_bands", "cosine")
  }

  /** The exact-cosine verification of LSH candidate pairs (doc_a, doc_b,
    * …) against the vectors of `vecs` (vec_id, embedding), fetched by key
    * for both sides: the pairs at cosine ≥ `threshold`, with doc_a/doc_b
    * renamed vec_a/vec_b and the r6 cosine appended. */
  private def cosineVerified(cand: DataFrame, vecs: DataFrame,
                             threshold: Double): DataFrame = {
    val v = withNorm(vecs.select(col("vec_id"), col("embedding")))
    cand
      .join(v.select(col("vec_id").as("doc_a"), col("embedding").as("e1"), col("nrm").as("nrm1")), "doc_a")
      .join(v.select(col("vec_id").as("doc_b"), col("embedding").as("e2"), col("nrm").as("nrm2")), "doc_b")
      .withColumn("cosine", cosine("e1", "nrm1", "e2", "nrm2"))
      .filter(col("cosine") >= threshold)
      .withColumnRenamed("doc_a", "vec_a").withColumnRenamed("doc_b", "vec_b")
  }

  /** Incremental embedding dedup — the vector twin of
    * [[graft.dedup.Dedup.minhashIncrement]]: a NEW batch of vectors is
    * signed/banded ROW-LOCALLY ([[lshBandStore]] on the batch only) and
    * joined against the corpus's persisted band store, so the historical
    * corpus is never re-signed. Candidates need ≥1 new side; the exact
    * cosine verification fetches both sides' vectors by key from
    * `allVecs` (a key-lookup join — the vectors are stored anyway, this
    * is not a recompute). Pairs are tagged new_vs_corpus / new_vs_new;
    * spec-equal to a full [[lshNearDup]] recompute restricted to pairs
    * touching the batch. */
  def lshIncrement(newVecs: DataFrame, allVecs: DataFrame, storedBands: DataFrame,
                   threshold: Double = 0.35, bucketLimit: Int = 100,
                   nBits: Int = 16, bandBits: Int = 4): DataFrame = {
    // nBits AND bandBits must match the widths the stored bands were
    // built with (a real store versions both in its metadata) — without
    // the nBits passthrough a store built on adaptiveLshParams' wide
    // rung (nBits = 2·bandBits > 16) could never be incremented.
    val cand = graft.dedup.Dedup.bucketPairs(storedBands.withColumn("is_new", lit(false))
      .unionByName(lshBandStore(newVecs, nBits = nBits, bandBits = bandBits)
        .withColumn("is_new", lit(true))), bucketLimit)
    cosineVerified(cand, allVecs, threshold)
      .select(col("vec_a"), col("vec_b"), col("n_shared_bands"),
        when(col("both_new"), "new_vs_new").otherwise("new_vs_corpus").as("kind"),
        col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** SEMANTIC survivor mart — the embedding-space twin of
    * [[graft.dedup.Dedup.survivors]]: connected components over the
    * cosine-LSH pair graph ([[lshNearDup]]'s verified pairs), every
    * vector tagged with its semantic cluster (own id when unclustered),
    * cluster size, and the keep decision (cluster canonical survives).
    * This is how an embedding-deduped corpus is actually written: LSH
    * blocks, exact cosine verifies, min-label propagation
    * ([[graft.dedup.Dedup.propagate]] — same checkpointed loop) closes
    * the transitive hull, one window sizes clusters. */
  def embedSurvivors(embeddings: DataFrame, threshold: Double = 0.35): DataFrame =
    graft.dedup.Dedup.clusterSurvivors(embeddings.select(col("vec_id"), col("label")),
        lshPairs(embeddings, 16, 0, threshold, 64)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select("vec_id", "label", "cluster_id", "cluster_size", "keep")
      .orderBy("vec_id")

  /** Per-label centroid cosine matrix — the cluster-separation /
    * corpus-diversity diagnostic (which sources or clusters embed close
    * enough to cross-contaminate dedup and mixing decisions). The only
    * data-sized step is the (label, dim) partial aggregation of the
    * exploded coordinate stream; everything after runs on |labels|×dim
    * rows. All sums are the 2^40 scaled-integer floor device, so means
    * and cosines are engine-exact at any partitioning. */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val S = DotScaled.ScaleSql
    val sums = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      // DECIMAL(38,0) accumulator: the per-row scaled term is up to
      // ~2^40, so an int64 sum overflows past ~2^23 rows per (label,dim)
      // — aborting under ANSI, silently wrapping without it, and either
      // way diverging from DuckDB's HUGEINT sum. Decimal sums are exact
      // to 38 digits (~10^38 — unreachable) at identical cost shape.
      .agg(sum(expr(s"cast(cast(floor(cast(x as double) * $S) as bigint) as decimal(38,0))")).as("sx"),
        count(lit(1)).as("n"))
      .withColumn("m", col("sx").cast("double") / expr(S) / col("n"))
    val norms = sums.groupBy(col("label"))
      .agg(sum(expr(s"cast(floor(m * m * $S) as bigint)")).as("smm"), max(col("n")).as("n"))
    val dots = sums.select(col("label").as("label_a"), col("dim"), col("m").as("ma"))
      .join(sums.select(col("label").as("label_b"), col("dim").as("dim_b"), col("m").as("mb")),
        col("dim") === col("dim_b") && col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(expr(s"cast(floor(ma * mb * $S) as bigint)")).as("sab"))
    dots
      .join(broadcast(norms.select(col("label").as("label_a"), col("smm").as("smm_a"), col("n").as("n_a"))), "label_a")
      .join(broadcast(norms.select(col("label").as("label_b"), col("smm").as("smm_b"), col("n").as("n_b"))), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        r6(col("sab").cast("double") /
          sqrt(col("smm_a").cast("double") * col("smm_b").cast("double"))).as("cosine"))
      .orderBy("label_a", "label_b")
  }

  /** HIERARCHICAL (two-level) IVF assignment — the coarse-quantizer step
    * the flat [[ivfAssign]] graduates to when n·K centroid ranking is
    * itself too much (K ~ √n makes the flat assign n^1.5; a √K coarse
    * level caps it at n·2√K ≈ n^1.25). The `kCoarse` coarse centroids
    * are the hash-rank PREFIX of the K fine centroids (same
    * TakeOrderedAndProject pick, so the hierarchy needs no second
    * sample): each fine centroid joins its nearest coarse group (K·√K
    * work, broadcast-sized), each vector ranks coarse centroids
    * (n·√K), then ranks only the fine centroids of its coarse group
    * (n·K/√K expected) via an equi-join on the group id — never the
    * full K. Same tie policy as the flat path (rounded cosine desc, id
    * asc), so results are oracle-reproducible. */
  def hierAssign(embeddings: DataFrame, k: Int = 32, kCoarse: Int = 6): DataFrame = {
    // the coarse level is a prefix of the fine centroids, so it cannot
    // be wider than the fine level — fail loudly instead of silently
    // capping kCoarse at k
    require(kCoarse >= 1 && kCoarse <= k,
      s"kCoarse ($kCoarse) must be in [1, k=$k]")
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    val cents = centroids(v, k)
    // The coarse level is the hash-rank PREFIX of the fine centroids:
    // re-rank the K-row centroid frame, not the corpus — a second full
    // TakeOrderedAndProject over n vectors would compute the same rows.
    val coarse = cents
      .orderBy(md5(col("centroid_id").cast("string")), col("centroid_id"))
      .limit(kCoarse)
      .select(col("centroid_id").as("coarse_id"), col("ce").as("ge"), col("cnrm").as("gnrm"))
    // Self-preference tie key: a coarse centroid must land in its OWN
    // group. Two near-identical coarse centroids can both hit a rounded
    // gcos of 1.0, and the bare coarse_id-asc tie-break would then hand
    // the higher-id one's self-assignment to its twin, leaving a coarse
    // group with ZERO fine centroids — and the final equi-join would
    // silently DROP every vector that ranks that group first (an r6 ulp
    // is enough). With the self key, every coarse group contains at
    // least its own centroid, so the one-row-per-vector contract holds
    // on any input. Non-coarse centroids sort identically to before.
    val wc = Window.partitionBy(col("centroid_id"))
      .orderBy(col("gcos").desc,
        (col("coarse_id") === col("centroid_id")).desc, col("coarse_id"))
    val cassign = cents.crossJoin(broadcast(coarse))
      .withColumn("gcos", cosine("ce", "cnrm", "ge", "gnrm"))
      .withColumn("rn", row_number().over(wc)).filter(col("rn") === 1)
      .select(col("coarse_id"), col("centroid_id"), col("ce"), col("cnrm"))
    val wv = Window.partitionBy(col("vec_id"))
      .orderBy(col("gcos").desc, col("coarse_id"))
    val vcoarse = v.crossJoin(broadcast(coarse))
      .withColumn("gcos", cosine("embedding", "nrm", "ge", "gnrm"))
      .withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("coarse_id"))
    val wf = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    vcoarse.join(broadcast(cassign), "coarse_id")
      .withColumn("ccos", cosine("embedding", "nrm", "ce", "cnrm"))
      .withColumn("rn", row_number().over(wf)).filter(col("rn") === 1)
      .select(col("vec_id"), col("coarse_id"), col("centroid_id"),
        col("ccos").as("centroid_cosine"))
      .orderBy("vec_id")
  }

  /** NDCG@k of the IVF search ranking against the exact brute-force
    * ranking — the ORDER-sensitive complement of [[annEval]]'s recall:
    * recall counts set overlap only; NDCG discounts a right neighbor
    * surfaced at the wrong rank. Graded relevance = (cosine + 1)/2 (the
    * r6-rounded exact cosine both rankings already carry), discount
    * log2(rank + 1), so `idcg` is the brute-force list's own DCG and
    * ndcg = dcg/idcg ∈ [0, 1], 1 iff the IVF list is rank-faithful.
    * Per-rank terms are row-local doubles with the identical expression
    * tree on the oracle side; the ≤ k-term fold per probe is
    * decimal-routed. Cost: both rankings are existing oracled devices;
    * this adds only a k-row-per-probe aggregation. */
  def annNdcg(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10): DataFrame = {
    def dcgOf(ranked: DataFrame, name: String) = ranked
      .withColumn("term",
        ((col("cosine") + lit(1.0)) / lit(2.0)) /
          (log(col("rank") + lit(1.0)) / log(lit(2.0))))
      .groupBy(col("probe_id"))
      .agg(sum(col("term").cast("decimal(20,12)")).cast("double").as(name))
    val ideal = dcgOf(bruteForceTopK(embeddings, nProbes, k), "idcg0")
    val got = dcgOf(ivfSearch(embeddings, nProbes, k), "dcg0")
    ideal.join(got, Seq("probe_id"), "left")
      .select(col("probe_id"),
        r6(col("idcg0")).as("idcg"),
        r6(coalesce(col("dcg0"), lit(0.0))).as("dcg"),
        r6(coalesce(col("dcg0"), lit(0.0)) / col("idcg0")).as("ndcg"))
      .orderBy("probe_id")
  }

  /** ANN index-quality EVALUATION mart: per probe, recall@k of the IVF
    * multi-probe search against the exact brute-force ground truth —
    * the number an index owner actually watches when tuning
    * kCents/nCells (the recall spec asserts a floor; this mart reports
    * the per-probe curve as a query). Composes the two existing search
    * paths and joins their neighbor sets; cost is bounded by the probe
    * count, not the corpus. */
  def annEval(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10,
              cents: Option[DataFrame] = None): DataFrame =
    recallVsExact(
      bruteForceTopK(embeddings, nProbes, k),
      cents.map(c => ivfSearchWith(embeddings, c, nProbes, k))
        .getOrElse(ivfSearch(embeddings, nProbes, k)))

  /** Recall@k of BOTH IVF-PQ stages against the exact brute-force
    * ground truth — the eval row beside [[annEval]] (which isolates
    * cell-probing loss alone): `recall_adc` is the code-only ADC
    * ranking ([[pqSearch]] — low on this corpus, the honest cost of
    * 32-bit codes), `recall_refined` is after the exact re-rank
    * ([[pqRefine]] — the production serving number). Cost bounded by
    * the probe count, not the corpus. */
  def pqEval(embeddings: DataFrame, nProbes: Int = 10, k: Int = 10): DataFrame = {
    val bf = bruteForceTopK(embeddings, nProbes, k)
      .select(col("probe_id"), col("neighbor_id"))
    val adc = pqSearch(embeddings, nProbes, k)
      .select(col("probe_id").as("ap"), col("neighbor_id").as("an"))
    val ref = pqRefine(embeddings, nProbes, k)
      .select(col("probe_id").as("rp"), col("neighbor_id").as("rn_"))
    bf.join(adc, col("probe_id") === col("ap") && col("neighbor_id") === col("an"), "left")
      .join(ref, col("probe_id") === col("rp") && col("neighbor_id") === col("rn_"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("an").isNotNull, 1L).otherwise(0L)).as("n_adc_hits"),
        sum(when(col("rn_").isNotNull, 1L).otherwise(0L)).as("n_ref_hits"))
      .select(col("probe_id"), col("n_true"), col("n_adc_hits"),
        r6(col("n_adc_hits").cast("double") / col("n_true")).as("recall_adc"),
        col("n_ref_hits"),
        r6(col("n_ref_hits").cast("double") / col("n_true")).as("recall_refined"))
      .orderBy("probe_id")
  }

  /** ADC recall@k against an EXPLICIT subspace codebook — the A/B seam
    * that compares codebook TRAINING (hash sample vs Lloyd-refined
    * entries) through the identical search plan,
    * exactly as [[annEval]]'s `cents` does for IVF centroids. */
  private[graft] def pqEvalWith(embeddings: DataFrame, csub: DataFrame,
                                nProbes: Int = 10, k: Int = 10,
                                kCents: Int = 16, nCells: Int = 5,
                                m: Int = 8, subDim: Int = 8,
                                kCodes: Int = 64): DataFrame =
    recallVsExact(bruteForceTopK(embeddings, nProbes, k),
      topkPerProbe(pqAdcScored(embeddings, nProbes, kCents, nCells,
        m, subDim, kCodes, Some(csub)), k))

  /** Shared recall@k comparison: per probe, how many of the exact
    * baseline's neighbors the approximate list recovered. */
  private def recallVsExact(exact: DataFrame, approx: DataFrame): DataFrame = {
    val bf = exact.select(col("probe_id"), col("neighbor_id"))
    val iv = approx.select(col("probe_id").as("ip"), col("neighbor_id").as("in_"))
    val nf = iv.groupBy(col("ip")).agg(count(lit(1)).as("n_found"))
    bf.join(iv, col("probe_id") === col("ip") && col("neighbor_id") === col("in_"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("in_").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .join(nf, col("probe_id") === col("ip"), "left")
      .select(col("probe_id"), col("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"), col("n_hits"),
        r6(col("n_hits").cast("double") / col("n_true")).as("recall"))
      .orderBy("probe_id")
  }

  /** IVF cell-quality mart — the clustering diagnostic that decides
    * whether an index needs re-training (Lloyd rounds) or more cells:
    * per cell, member count, mean fit (cosine to own centroid), and the
    * assignment MARGIN (own-centroid cosine minus runner-up cosine —
    * thin margins mean boundary vectors that multi-probe search must
    * catch). Rides the same ranked frame the assignment already
    * computes: rn=1 is the fit, rn=2 the runner-up, one co-keyed join
    * on vec_id, then a K-row aggregate. */
  def cellQuality(embeddings: DataFrame, k: Int = 32): DataFrame = {
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    val ranked = centroidRankedWith(v, centroids(v, k))
    val best = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"), col("ccos").as("best"))
    val second = ranked.filter(col("rn") === 2)
      .select(col("vec_id"), col("ccos").as("second"))
    best.join(second, "vec_id")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("best").cast("decimal(20,12)")).as("sb"),
        sum((col("best") - col("second")).cast("decimal(20,12)")).as("sm"),
        min(col("best") - col("second")).as("mm"))
      .select(col("centroid_id"), col("n_members"),
        r6(col("sb").cast("double") / col("n_members")).as("avg_cos"),
        r6(col("sm").cast("double") / col("n_members")).as("avg_margin"),
        r6(col("mm")).as("min_margin"))
      .orderBy("centroid_id")
  }

  /** PQ codebook-quality mart — the [[cellQuality]] analog for the
    * quantizer: per SUBSPACE, member count, codebook utilization
    * (distinct codes used / kCodes — an underused codebook means the
    * hash sample missed that subspace's mass) and the mean/max exact
    * quantization distortion d2. This is the diagnostic that decides
    * whether [[pqSearch]]'s recall lever is a bigger codebook (high
    * distortion, full utilization) or a better sample (low utilization).
    * Rides the SAME assignment frame the index build computes
    * ([[Embeddings.pqAssign]]); the aggregate is m rows. */
  def pqQuality(embeddings: DataFrame, m: Int = 8, subDim: Int = 8,
                kCodes: Int = 64): DataFrame =
    Embeddings.pqAssign(embeddings, m, subDim, kCodes)
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("centroid_id")).as("codes_used"),
        sum(col("d2").cast("decimal(27,12)")).as("sd"),
        max(col("d2")).as("maxd"))
      .select(col("m").cast("int").as("m"), col("n_vecs"), col("codes_used"),
        r6(col("codes_used").cast("double") / lit(kCodes.toDouble)).as("code_util"),
        r6(col("sd").cast("double") / col("n_vecs")).as("mean_d2"),
        r6(col("maxd")).as("max_d2"))
      .orderBy("m")

  /** Per-cluster elementwise vector mean as a typed Aggregator: the
    * buffer is one double[dim] + count per cluster, partial-aggregated
    * map-side — so recomputing K centroids over any corpus size shuffles
    * K×dim doubles, never corpus×dim exploded rows. */
  private class VectorMean(dim: Int)
    extends Aggregator[(Long, Array[Float]), (Array[Double], Long), Array[Float]] {
    def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    def reduce(b: (Array[Double], Long), in: (Long, Array[Float])): (Array[Double], Long) = {
      val a = in._2
      var i = 0; while (i < dim) { b._1(i) += a(i); i += 1 }; (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0; while (i < dim) { x._1(i) += y._1(i); i += 1 }; (x._1, x._2 + y._2)
    }
    def finish(b: (Array[Double], Long)): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0; while (i < dim) { out(i) = (b._1(i) / b._2).toFloat; i += 1 }
      out
    }
    def bufferEncoder: Encoder[(Array[Double], Long)] = Encoders.kryo[(Array[Double], Long)]
    def outputEncoder: Encoder[Array[Float]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
  }

  /** Nearest-centroid assignment against a broadcast centroid frame
    * (centroid_id, ce, cnrm). Unrounded cosine — callers round at the
    * output edge. */
  private def assignTo(v: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("centroid_id"))
    v.crossJoin(broadcast(cents))
      .withColumn("ccos", dot("embedding", "ce") / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** Lloyd (spherical k-means) refinement of the hash-sampled IVF
    * centroids: `iters` rounds of assign (one broadcast corpus pass) +
    * per-cluster elementwise mean ([[VectorMean]] — K×dim buffers, no
    * explode). Cosine to the mean equals cosine to the normalized mean,
    * so each round is a monotone non-decreasing step on the spherical
    * k-means objective; clusters that lose every member drop out rather
    * than resurrecting at a stale position. */
  def lloydCentroids(embeddings: DataFrame, k: Int = 16, iters: Int = 2,
                     dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    var cents = centroids(v, k)
    for (_ <- 0 until iters) {
      val means = assignTo(v, cents)
        .select(col("centroid_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .groupByKey(_._1)
        .agg(new VectorMean(dim).toColumn.name("m"))
        .toDF("centroid_id", "embedding")
      cents = withNorm(means).select(col("centroid_id"),
        col("embedding").as("ce"), col("nrm").as("cnrm"))
    }
    cents.select(col("centroid_id"), col("ce"), col("cnrm"))
  }

  /** IVF assignment against Lloyd-refined centroids — the trained twin
    * of [[ivfAssign]] (which assigns to the raw hash sample). */
  def lloydAssign(embeddings: DataFrame, k: Int = 16, iters: Int = 2,
                  dim: Int = 64): DataFrame = {
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    assignTo(v, lloydCentroids(embeddings, k, iters, dim))
      .select(col("vec_id"), col("centroid_id"), r6(col("ccos")).as("centroid_cosine"))
      .orderBy("vec_id")
  }

  /** SEMANTIC dedup mart — SemDeDup (Abbas et al. 2023, arXiv:2303.09540)
    * re-expressed on the IVF devices this family already oracles: cluster
    * the corpus (nearest of the hash-sampled centroids, [[adaptiveCells]]
    * K ~ √n), compare pairs only WITHIN a cell, call a pair semantic
    * duplicates at cosine ≥ `threshold` (0.35 — the family's near-dup
    * convention, shared with [[nearDupPairs]]), and keep, per duplicate
    * pair, the member with the LOWER cosine to its own centroid (the
    * paper's keep-the-least-prototypical rule; ties break to the smaller
    * vec_id). A vector survives iff no same-cell partner at ≥ threshold
    * dominates it under that order.
    *
    * Scale: within-cell pairing bounds the join at Σ|cell|² ≈ n²/K =
    * n^1.5 with the adaptive K — the same sub-quadratic shape SCALE.md
    * measures for [[knnGraph]] — vs the n² an all-pairs SemDeDup would
    * cost; comparisons on the r6-rounded cosines keep the verdict
    * engine- and partition-order-independent. Output is corpus-grain:
    * every vector with its cell, fit, duplicate count / max duplicate
    * cosine, and the keep verdict a curation pipeline filters on. */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.35,
                    kCents: Int = 0): DataFrame = {
    val v = withNorm(embeddings.select(col("vec_id"), col("embedding")))
    val k = if (kCents > 0) kCents else adaptiveCells(PlanStats.rowCount(embeddings))
    val assign = nearestCell(v, centroids(v, k))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("centroid_id"), col("ccos"))
    val other = assign.select(col("vec_id").as("vec_a"),
      col("embedding").as("e2"), col("nrm").as("nrm2"),
      col("centroid_id").as("cid_a"), col("ccos").as("ccos_a"))
    val dups = assign.join(other,
        col("centroid_id") === col("cid_a") && col("vec_id") =!= col("vec_a"))
      .withColumn("cosine", cosine("embedding", "nrm", "e2", "nrm2"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dups"), max(col("cosine")).as("max_dup_cosine"),
        max(when(dominates(col("ccos_a"), col("vec_a"), col("ccos"), col("vec_id")), 1)
          .otherwise(0)).as("dominated"))
    assign.select(col("vec_id"), col("centroid_id"), col("ccos"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("ccos").as("centroid_cosine"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("max_dup_cosine"),
        (coalesce(col("dominated"), lit(0)) === 0).as("keep"))
      .orderBy("vec_id")
  }

  /** INCREMENTAL semantic dedup — the ingestion twin of
    * [[semanticDedup]], sharing [[indexStaleness]]'s frozen-index
    * contract: centroids stay as trained on the existing corpus (the
    * md5-digit ≥2 split), arrivals are assigned against them, and each
    * arrival is compared ONLY within its cell. A fresh vector is
    * ADMITTED unless a same-cell partner at cosine ≥ `threshold`
    * dominates it, where a STORED member always dominates (the corpus
    * keeps its copy — an arrival never evicts history, the same
    * asymmetry as [[lshIncrement]]) and co-arriving duplicates resolve
    * by the batch keep-least-prototypical rule (lower centroid cosine
    * survives, ties to the smaller vec_id).
    *
    * Scale: history is never re-signed or re-paired — the join is
    * |fresh| × |cell| with cells bounded by the existing index's
    * adaptive K, and the assign pass is one broadcast of K centroid
    * rows. Output is fresh-grain. */
  def semanticIncrement(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val assign = frozenAssign(embeddings)
      .select(col("vec_id"), col("dg"), col("embedding"), col("nrm"),
        col("centroid_id"), col("ccos"))
    val fresh = assign.filter(col("dg") < 2)
    val partners = assign.select(col("vec_id").as("vec_a"), col("dg").as("dg_a"),
      col("embedding").as("e2"), col("nrm").as("nrm2"),
      col("centroid_id").as("cid_a"), col("ccos").as("ccos_a"))
    val dups = fresh.join(partners,
        col("centroid_id") === col("cid_a") && col("vec_id") =!= col("vec_a"))
      .withColumn("cosine", cosine("embedding", "nrm", "e2", "nrm2"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dups"), max(col("cosine")).as("max_dup_cosine"),
        sum(when(col("dg_a") >= 2, 1L).otherwise(0L)).as("n_stored_dups"),
        max(when(col("dg_a") >= 2 ||
            dominates(col("ccos_a"), col("vec_a"), col("ccos"), col("vec_id")), 1)
          .otherwise(0)).as("dominated"))
    fresh.select(col("vec_id"), col("centroid_id"), col("ccos"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("ccos").as("centroid_cosine"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("n_stored_dups"), lit(0L)).as("n_stored_dups"),
        col("max_dup_cosine"),
        (coalesce(col("dominated"), lit(0)) === 0).as("admit"))
      .orderBy("vec_id")
  }

  /** IVF index STALENESS mart — the re-train trigger for a live index:
    * centroids were trained on the corpus as it stood (the ≥2 side of
    * the md5-digit split, the same deterministic "existing vs fresh"
    * device the incremental-dedup family uses), fresh vectors keep
    * arriving, and this mart reports per stored cell how the arrivals
    * fit: member growth (fresh share) and the fit GAP between existing
    * and fresh members' centroid cosines. Cells whose fresh members fit
    * markedly worse than their training-time members are where the
    * index has gone stale — the per-cell curve an operator reads before
    * paying for a [[lloydCentroids]] re-train, the index-side twin of
    * the model-side q_retrain_decision.
    *
    * Scale: one broadcast assign pass (n·K exact dots, K ~ √n_existing)
    * and one K-row aggregate; means are DECIMAL sums so the mart is
    * partition-order-exact. */
  def indexStaleness(embeddings: DataFrame): DataFrame =
    frozenAssign(embeddings).groupBy(col("centroid_id"))
      .agg(
        sum(when(col("dg") >= 2, 1L).otherwise(0L)).as("n_existing"),
        sum(when(col("dg") < 2, 1L).otherwise(0L)).as("n_fresh"),
        sum(when(col("dg") >= 2, col("ccos").cast("decimal(20,12)"))).as("se"),
        sum(when(col("dg") < 2, col("ccos").cast("decimal(20,12)"))).as("sf"))
      .select(col("centroid_id"), col("n_existing"), col("n_fresh"),
        r6(col("n_fresh").cast("double") /
          (col("n_existing") + col("n_fresh"))).as("fresh_share"),
        r6(col("se").cast("double") / col("n_existing")).as("fit_existing"),
        r6(col("sf").cast("double") / col("n_fresh")).as("fit_fresh"),
        r6(col("se").cast("double") / col("n_existing") -
          col("sf").cast("double") / col("n_fresh")).as("fit_gap"))
      .orderBy("centroid_id")

  /** The frozen-index assignment shared by [[semanticIncrement]] and
    * [[indexStaleness]]: vectors split by the md5 digit of their id
    * (`dg` ≥ 2 is the existing corpus, < 2 the arrivals), centroids
    * trained on the existing side alone ([[adaptiveCells]] of its count),
    * and every vector assigned to its nearest one: (vec_id, dg,
    * embedding, nrm, centroid_id, ccos, …). */
  private def frozenAssign(embeddings: DataFrame): DataFrame = {
    val tagged = embeddings.withColumn("dg", graft.functions.Fns.hexDigit("vec_id", 1))
    val existing = tagged.filter(col("dg") >= 2)
    val k = adaptiveCells(PlanStats.rowCount(existing.select(col("vec_id"))))
    val v = withNorm(tagged.select(col("vec_id"), col("dg"), col("embedding")))
    val cents = centroids(
      withNorm(existing.select(col("vec_id"), col("embedding"))), k)
    nearestCell(v, cents)
  }

  /** The keep-least-prototypical order of the SemDeDup marts
    * ([[semanticDedup]], [[semanticIncrement]] and the chunk-grain marts
    * of [[ChunkRetrieval]]): a duplicate partner (fitB, idB) dominates
    * (fit, id) when it is the LESS prototypical of the two — the lower
    * fit — ties going to the smaller id. */
  private[ann] def dominates(fitB: Column, idB: Column, fit: Column, id: Column): Column =
    fitB < fit || (fitB === fit && idB < id)

  private[ann] def loadEmb(s: SparkSession, d: String): DataFrame = {
    DotScaled.register(s)
    Tables.embeddings(s, d)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_neardup" -> ((s, d) => nearDupPairs(loadEmb(s, d))),
    "q_ann_topk" -> ((s, d) => bruteForceTopK(loadEmb(s, d))),
    "q_ann_ivf" -> ((s, d) => ivfAssign(loadEmb(s, d))),
    "q_ann_ivf_search" -> ((s, d) => ivfSearch(loadEmb(s, d))),
    "q_knn_graph" -> ((s, d) => knnGraph(loadEmb(s, d))),
    "q_embed_lsh" -> ((s, d) => lshNearDup(loadEmb(s, d))),
    "q_embed_survivors" -> ((s, d) => embedSurvivors(loadEmb(s, d))),
    "q_cell_quality" -> ((s, d) => cellQuality(loadEmb(s, d))),
    "q_ann_eval" -> ((s, d) => annEval(loadEmb(s, d))),
    "q_ann_ndcg" -> ((s, d) => annNdcg(loadEmb(s, d))),
    "q_pq_search" -> ((s, d) => pqSearch(loadEmb(s, d))),
    "q_pq_refine" -> ((s, d) => pqRefine(loadEmb(s, d))),
    "q_pq_eval" -> ((s, d) => pqEval(loadEmb(s, d))),
    "q_pq_quality" -> ((s, d) => pqQuality(loadEmb(s, d))),
    "q_hybrid_rrf" -> ((s, d) =>
      hybridRrf(graft.Tables.documents(s, d), loadEmb(s, d))),
    "q_ann_filtered" -> ((s, d) => ivfFilteredSearch(loadEmb(s, d))),
    "q_ann_filtered_eval" -> ((s, d) => filteredEval(loadEmb(s, d))),
    "q_hybrid_eval" -> ((s, d) =>
      hybridEval(graft.Tables.documents(s, d), loadEmb(s, d))),
    "q_pq_incremental" -> ((s, d) => {
      val emb = loadEmb(s, d).withColumn("dg",
        graft.functions.Fns.hexDigit("vec_id", 1))
      pqIncrement(emb.filter(col("dg") < 2).drop("dg"),
        emb.filter(col("dg") >= 2).drop("dg"))
    }),
    "q_embed_incremental" -> ((s, d) => {
      // deterministic batch split: vectors with md5 digit < 2 (~1/8)
      // arrive as the new increment, mirroring q_dedup_incremental
      val emb = loadEmb(s, d)
      val tagged = emb.withColumn("dg",
        graft.functions.Fns.hexDigit("vec_id", 1))
      val fresh = tagged.filter(col("dg") < 2).drop("dg")
      val existing = tagged.filter(col("dg") >= 2).drop("dg")
      // the increment must band with the same width the full corpus
      // would choose, so spec-equality to the full recompute holds
      val bb = adaptiveBandBits(PlanStats.rowCount(emb))
      lshIncrement(fresh, emb, lshBandStore(existing, bandBits = bb), bandBits = bb)
    }),
    "q_label_centroids" -> ((s, d) => labelCentroids(loadEmb(s, d))),
    "q_ann_hier" -> ((s, d) => hierAssign(loadEmb(s, d))),
    "q_semantic_dedup" -> ((s, d) => semanticDedup(loadEmb(s, d))),
    "q_index_staleness" -> ((s, d) => indexStaleness(loadEmb(s, d))),
    "q_semantic_incremental" -> ((s, d) => semanticIncrement(loadEmb(s, d)))
  )

  /** Oracle-side twin of [[dot]]: scaled-integer sum over zipped
    * unnests, same FLOOR/2^40 fixed-point terms. */
  private def dotSql(e1: String, e2: String): String =
    s"""(SELECT CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
        FROM (SELECT unnest($e1) AS x, unnest($e2) AS y)) / 1099511627776.0"""

  private[ann] def normCte: String =
    s"""nv AS (
         SELECT vec_id, label, embedding,
           sqrt(${dotSql("embedding", "embedding")}) AS nrm
         FROM embeddings)"""

  /** Scaled-integer dot kept as the raw BIGINT sum (no /2^40) — the LUT
    * entries [[pqSearch]] adds exactly before one final division. */
  private def dotSqlBig(e1: String, e2: String): String =
    s"""(SELECT CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS BIGINT)
        FROM (SELECT unnest($e1) AS x, unnest($e2) AS y))"""

  /** Shared oracle CTE chain for the IVF-PQ ADC search (expects `nv`
    * upstream): IVF centroids → cell assignment + probe cells → PQ
    * codebook → per-(vector, subspace) codes → probe LUTs → candidate
    * ADC sums → ranked list `pqrk(probe_id, vec_id, adc_cos, rank)`.
    * Mirrors [[pqSearch]]'s kCents=16/nCells=5/m=8/subDim=8/kCodes=64
    * defaults. */
  private lazy val pqCtes: String =
    s"""qcents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         qsc AS (
           SELECT nv.vec_id, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, qcents),
         qrk AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM qsc),
         qassign AS (SELECT vec_id, centroid_id FROM qrk WHERE rn = 1),
         qpcells AS (SELECT vec_id AS probe_id, nrm AS pnrm, centroid_id AS pcell
           FROM qrk WHERE vec_id < 10 AND rn <= 5),
         cbk AS (SELECT vec_id AS code, embedding AS cbe FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
         pqms AS (SELECT m FROM generate_series(0, 7) t(m)),
         cbsub AS (SELECT code, m, list_slice(cbe, m * 8 + 1, (m + 1) * 8) AS cv FROM cbk, pqms),
         vsub AS (SELECT vec_id, m, list_slice(embedding, m * 8 + 1, (m + 1) * 8) AS sv
           FROM embeddings, pqms),
         pqsc AS (SELECT vsub.vec_id, vsub.m, cbsub.code,
             ${dotSql("sv", "sv")} - 2 * ${dotSql("sv", "cv")} + ${dotSql("cv", "cv")} AS d2
           FROM vsub JOIN cbsub USING (m)),
         pqbest AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC) AS crn
           FROM pqsc),
         pcode AS (SELECT vec_id, m, code FROM pqbest WHERE crn = 1),
         ppsub AS (SELECT vec_id AS probe_id, m, list_slice(embedding, m * 8 + 1, (m + 1) * 8) AS pv
           FROM embeddings, pqms WHERE vec_id < 10),
         plut AS (SELECT probe_id, cbsub.m, cbsub.code,
             ${dotSqlBig("pv", "cv")} AS qd, ${dotSqlBig("cv", "cv")} AS cd
           FROM ppsub JOIN cbsub USING (m)),
         pcand AS (SELECT a.vec_id, p.probe_id, p.pnrm FROM qassign a
           JOIN qpcells p ON a.centroid_id = p.pcell AND a.vec_id <> p.probe_id),
         psums AS (SELECT c.probe_id, c.vec_id, c.pnrm,
             CAST(SUM(l.qd) AS BIGINT) AS qdt, CAST(SUM(l.cd) AS BIGINT) AS cdt
           FROM pcand c JOIN pcode pc ON pc.vec_id = c.vec_id
           JOIN plut l ON l.probe_id = c.probe_id AND l.m = pc.m AND l.code = pc.code
           GROUP BY 1, 2, 3),
         pqscored AS (SELECT probe_id, vec_id,
             FLOOR(((CAST(qdt AS DOUBLE) / 1099511627776.0) /
               (pnrm * sqrt(CAST(cdt AS DOUBLE) / 1099511627776.0))) * 1000000 + 0.5) / 1000000 AS adc_cos
           FROM psums),
         pqrk AS (SELECT probe_id, vec_id, adc_cos,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_cos DESC, vec_id) AS rank
           FROM pqscored)"""

  /** Exact-refinement CTEs over the ADC ranking (expects `nv` + `pqrk`
    * upstream): shortlist=50 → exact cosine re-rank
    * `rrk(probe_id, vec_id, cosine, rank)`. */
  private lazy val pqRefineCtes: String =
    s"""rsl AS (SELECT probe_id, vec_id FROM pqrk WHERE rank <= 50),
         rprobes AS (SELECT vec_id AS pp, embedding AS pe, nrm AS pnrm FROM nv WHERE vec_id < 10),
         rsc AS (SELECT rsl.probe_id, nv.vec_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM rsl JOIN nv USING (vec_id) JOIN rprobes ON probe_id = pp),
         rrk AS (SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM rsc)"""

  /** Shared oracle CTE chain for the cosine-LSH family (expects `nv`
    * from [[normCte]] upstream): hyperplane sign matrix → signature
    * bits → 4-bit bands → bucket-join candidates → exact-cosine-verified
    * pairs `lshp(vec_a, vec_b, n_shared_bands, cosine)`. */
  private lazy val lshCtes: String =
    s"""sg AS (SELECT i, j,
             CASE WHEN (instr('0123456789abcdef',
               substr(md5('lsh:' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)) - 1) % 2 = 0
             THEN 1 ELSE -1 END AS s
           FROM generate_series(0, 63) t1(i), generate_series(0, 15) t2(j)),
         lex AS (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
                FROM nv, generate_series(0, 63) t(i)),
         acc AS (SELECT vec_id, j,
                  CAST(SUM(CAST(FLOOR(x * s * 1099511627776.0) AS BIGINT)) AS BIGINT) AS a
                 FROM lex JOIN sg USING (i) GROUP BY vec_id, j),
         bits AS (SELECT vec_id, j, CASE WHEN a >= 0 THEN 1 ELSE 0 END AS bit FROM acc),
         nnv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nv),
         bbs AS (SELECT CASE WHEN n <= 1600 THEN 4
                             WHEN n <= 25600 THEN 8
                             ELSE 16 END AS bb FROM nnv),
         bands AS (SELECT vec_id, CAST(j // bb AS INT) AS band_id,
                    CAST(SUM(bit << CAST(j % bb AS INT)) AS INT) AS band_val
                   FROM bits, bbs GROUP BY vec_id, j // bb),
         coldv AS (SELECT band_id, band_val FROM bands
                   GROUP BY 1, 2 HAVING COUNT(*) <= 100),
         keptv AS (SELECT bands.* FROM bands JOIN coldv USING (band_id, band_val)),
         cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_bands
                  FROM keptv a JOIN keptv b
                    ON a.band_id = b.band_id AND a.band_val = b.band_val
                       AND a.vec_id < b.vec_id
                  GROUP BY 1, 2),
         sc AS (SELECT vec_a, vec_b, n_shared_bands,
                 FLOOR((${dotSql("va.embedding", "vb.embedding")} / (va.nrm * vb.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
                FROM cand JOIN nv va ON vec_a = va.vec_id
                          JOIN nv vb ON vec_b = vb.vec_id),
         lshp AS (SELECT vec_a, vec_b, n_shared_bands, cosine FROM sc
                  WHERE cosine >= 0.35)"""


  /** Shared oracle CTE chain for the hybrid retrieval family (expects
    * `nv` upstream): vector arm (q_ann_topk at arm depth) + lexical arm
    * (the q_bm25 scoring chain per probe) + RRF fusion
    * `hrrf(probe_id, doc_id, lex_rank, vec_rank, rrf)`. */
  private[ann] lazy val hybridCtes: String =
    s"""hvp AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm FROM nv WHERE vec_id < 10),
         hvs AS (SELECT nv.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM nv, hvp WHERE nv.vec_id <> probe_id),
         hvr AS (SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS vec_rank
           FROM hvs),
         varm AS (SELECT probe_id, vec_id, vec_rank FROM hvr WHERE vec_rank <= 50),
         hw AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
           FROM documents WHERE text IS NOT NULL),
         htk AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl, unnest(words) AS word FROM hw),
         hpt0 AS (SELECT doc_id AS probe_id, word, CAST(COUNT(*) AS BIGINT) AS ptf
           FROM htk WHERE doc_id < 10
             AND word NOT IN (${graft.text.TextPrep.stopEnSql})
           GROUP BY 1, 2),
         hptk AS (SELECT probe_id, word FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY ptf DESC, word) AS rn
           FROM hpt0) WHERE rn <= 8),
         hdfw AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM htk
           WHERE word IN (SELECT DISTINCT word FROM hptk) GROUP BY 1),
         hst AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CAST(len(words) AS HUGEINT)) AS DOUBLE) AS sdl FROM hw),
         htfd AS (SELECT hptk.probe_id, htk.doc_id, htk.word,
             CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
           FROM htk JOIN hptk ON htk.word = hptk.word AND htk.doc_id <> hptk.probe_id
           GROUP BY 1, 2, 3),
         hsc AS (SELECT t.probe_id, t.doc_id,
             ${graft.text.TextPrep.bm25ContribSql("t.tf", "d.df", "t.dl", "hst.nn", "(hst.sdl / hst.nn)")} AS contrib
           FROM htfd t JOIN hdfw d ON t.word = d.word, hst),
         hls AS (SELECT probe_id, doc_id,
             ${sqlR("CAST(SUM(CAST(contrib AS DECIMAL(20,12))) AS DOUBLE)", 6)} AS score
           FROM hsc GROUP BY 1, 2),
         hlr AS (SELECT probe_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, doc_id) AS lex_rank
           FROM hls),
         larm AS (SELECT probe_id, doc_id, lex_rank FROM hlr WHERE lex_rank <= 50),
         hfused AS (SELECT COALESCE(l.probe_id, v.probe_id) AS probe_id,
             COALESCE(l.doc_id, v.vec_id) AS doc_id, l.lex_rank, v.vec_rank
           FROM larm l FULL OUTER JOIN varm v
             ON l.probe_id = v.probe_id AND l.doc_id = v.vec_id),
         hrrf AS (SELECT *,
             COALESCE(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0) +
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + vec_rank), 0.0) AS rrf
           FROM hfused)"""

  val oracles: Map[String, String] = Map(
    "q_embed_neardup" ->
      s"""WITH $normCte,
         p AS (
           SELECT a.vec_id vec_a, b.vec_id vec_b, a.label,
             a.embedding e1, b.embedding e2, a.nrm nrm1, b.nrm nrm2
           FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id < b.vec_id),
         c AS (
           SELECT vec_a, vec_b, label,
             FLOOR((${dotSql("e1", "e2")} / (nrm1 * nrm2)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM p)
         SELECT vec_a, vec_b, label, cosine FROM c
         WHERE cosine >= 0.35 ORDER BY vec_a, vec_b""",
    "q_ann_topk" ->
      s"""WITH $normCte,
         probes AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm FROM nv WHERE vec_id < 10),
         scored AS (
           SELECT nv.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM nv, probes WHERE nv.vec_id <> probe_id),
         ranked AS (
           SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT probe_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
         FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""",
    "q_ann_ivf" ->
      s"""WITH $normCte,
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
         scored AS (
           SELECT nv.vec_id, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM nv, cents),
         ranked AS (
           SELECT vec_id, centroid_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id) AS rn
           FROM scored)
         SELECT vec_id, centroid_id, cosine AS centroid_cosine
         FROM ranked WHERE rn = 1 ORDER BY vec_id""",
    "q_knn_graph" ->
      s"""WITH $normCte,
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT (SELECT GREATEST(16, CEIL(SQRT(COUNT(*) / 2.0))) FROM nv)),
         scoredc AS (
           SELECT nv.vec_id, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, cents),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM scoredc),
         assign AS (SELECT vec_id, embedding, nrm, centroid_id FROM ranked WHERE rn = 1),
         scored AS (
           SELECT a.vec_id, b.vec_id AS probe_id,
             FLOOR((${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM assign a JOIN assign b
             ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
         rk AS (
           SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT probe_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
         FROM rk WHERE rank <= 3 ORDER BY probe_id, rank""",
    "q_ann_ivf_search" ->
      s"""WITH $normCte,
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         scoredc AS (
           SELECT nv.vec_id, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, cents),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM scoredc),
         assign AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1),
         probecells AS (
           SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm, centroid_id AS pcell
           FROM ranked WHERE vec_id < 10 AND rn <= 5),
         corpus AS (SELECT nv.vec_id, nv.embedding, nv.nrm, assign.centroid_id
           FROM nv JOIN assign USING (vec_id)),
         scored AS (
           SELECT corpus.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM corpus JOIN probecells ON centroid_id = pcell AND vec_id <> probe_id),
         rk AS (
           SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT probe_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
         FROM rk WHERE rank <= 10 ORDER BY probe_id, rank""",
    "q_embed_lsh" ->
      s"""WITH $normCte, $lshCtes
         SELECT vec_a, vec_b, n_shared_bands, cosine FROM lshp
         ORDER BY vec_a, vec_b""",
    "q_embed_incremental" ->
      s"""WITH $normCte, $lshCtes,
         g AS (SELECT vec_id,
             (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) < 2 AS is_new
           FROM embeddings),
         t AS (SELECT vec_a, vec_b, n_shared_bands, cosine, ga.is_new AS na, gb.is_new AS nb
           FROM lshp JOIN g ga ON ga.vec_id = vec_a JOIN g gb ON gb.vec_id = vec_b
           WHERE ga.is_new OR gb.is_new)
         SELECT vec_a, vec_b, n_shared_bands,
           CASE WHEN na AND nb THEN 'new_vs_new' ELSE 'new_vs_corpus' END AS kind,
           cosine
         FROM t ORDER BY vec_a, vec_b""",
    "q_embed_survivors" ->
      s"""WITH RECURSIVE $normCte, $lshCtes,
         e2 AS (SELECT vec_a s, vec_b d FROM lshp UNION SELECT vec_b, vec_a FROM lshp),
         nodes AS (SELECT DISTINCT s AS id FROM e2),
         reach(id, lbl) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e2.s, r.lbl FROM e2 JOIN reach r ON e2.d = r.id),
         lab AS (SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
         j AS (SELECT e.vec_id, e.label, COALESCE(lab.cluster_id, e.vec_id) AS cluster_id
           FROM embeddings e LEFT JOIN lab USING (vec_id))
         SELECT vec_id, label, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           vec_id = cluster_id AS keep
         FROM j ORDER BY vec_id""",
    "q_label_centroids" ->
      """WITH ex AS (SELECT label, CAST(i AS INT) AS dim, CAST(embedding[i + 1] AS DOUBLE) AS x
                FROM embeddings, generate_series(0, 63) t(i)),
         sums AS (SELECT label, dim,
             CAST(SUM(CAST(FLOOR(x * 1099511627776.0) AS BIGINT)) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM ex GROUP BY 1, 2),
         m AS (SELECT label, dim, CAST(sx AS DOUBLE) / 1099511627776.0 / n AS m, n FROM sums),
         norms AS (SELECT label,
             CAST(SUM(CAST(FLOOR(m * m * 1099511627776.0) AS BIGINT)) AS BIGINT) AS smm,
             CAST(MAX(n) AS BIGINT) AS n
           FROM m GROUP BY 1),
         dots AS (SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(FLOOR(a.m * b.m * 1099511627776.0) AS BIGINT)) AS BIGINT) AS sab
           FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
           GROUP BY 1, 2)
         SELECT label_a, label_b, na.n AS n_a, nb.n AS n_b,
           FLOOR((CAST(sab AS DOUBLE) / sqrt(CAST(na.smm AS DOUBLE) * CAST(nb.smm AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cosine
         FROM dots JOIN norms na ON label_a = na.label
                   JOIN norms nb ON label_b = nb.label
         ORDER BY label_a, label_b""",
    "q_ann_eval" ->
      s"""WITH $normCte,
         eprobes AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm FROM nv WHERE vec_id < 10),
         bsc AS (
           SELECT nv.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM nv, eprobes WHERE nv.vec_id <> probe_id),
         brk AS (
           SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM bsc),
         bf AS (SELECT probe_id, vec_id FROM brk WHERE rank <= 10),
         ecents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         esc AS (
           SELECT nv.vec_id, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, ecents),
         erk AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM esc),
         eassign AS (SELECT vec_id, centroid_id FROM erk WHERE rn = 1),
         epcells AS (
           SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm, centroid_id AS pcell
           FROM erk WHERE vec_id < 10 AND rn <= 5),
         ecorpus AS (SELECT nv.vec_id, nv.embedding, nv.nrm, eassign.centroid_id
           FROM nv JOIN eassign USING (vec_id)),
         isc AS (
           SELECT ecorpus.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM ecorpus JOIN epcells ON centroid_id = pcell AND vec_id <> probe_id),
         irk AS (
           SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM isc),
         iv AS (SELECT probe_id, vec_id FROM irk WHERE rank <= 10),
         nf AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_found FROM iv GROUP BY 1),
         hits AS (SELECT bf.probe_id, CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           FROM bf LEFT JOIN iv ON bf.probe_id = iv.probe_id AND bf.vec_id = iv.vec_id
           GROUP BY 1)
         SELECT hits.probe_id AS probe_id, n_true,
           COALESCE(n_found, 0) AS n_found, n_hits,
           ${sqlR("CAST(n_hits AS DOUBLE) / n_true", 6)} AS recall
         FROM hits LEFT JOIN nf ON hits.probe_id = nf.probe_id
         ORDER BY 1""",
    // Same CTE chain as q_ann_eval (brute-force ranks + IVF ranks), the
    // rank CTEs additionally carrying cosine for the DCG gain terms.
    "q_ann_ndcg" ->
      s"""WITH $normCte,
         eprobes AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm FROM nv WHERE vec_id < 10),
         bsc AS (
           SELECT nv.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM nv, eprobes WHERE nv.vec_id <> probe_id),
         brk AS (
           SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM bsc),
         bdcg AS (
           SELECT probe_id,
             CAST(SUM(CAST(((cosine + 1.0) / 2.0) /
               (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0)) AS DECIMAL(20,12))) AS DOUBLE) AS idcg0
           FROM brk WHERE rank <= 10 GROUP BY 1),
         ecents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         esc AS (
           SELECT nv.vec_id, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, ecents),
         erk AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM esc),
         eassign AS (SELECT vec_id, centroid_id FROM erk WHERE rn = 1),
         epcells AS (
           SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm, centroid_id AS pcell
           FROM erk WHERE vec_id < 10 AND rn <= 5),
         ecorpus AS (SELECT nv.vec_id, nv.embedding, nv.nrm, eassign.centroid_id
           FROM nv JOIN eassign USING (vec_id)),
         isc AS (
           SELECT ecorpus.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM ecorpus JOIN epcells ON centroid_id = pcell AND vec_id <> probe_id),
         irk AS (
           SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM isc),
         gdcg AS (
           SELECT probe_id,
             CAST(SUM(CAST(((cosine + 1.0) / 2.0) /
               (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0)) AS DECIMAL(20,12))) AS DOUBLE) AS dcg0
           FROM irk WHERE rank <= 10 GROUP BY 1)
         SELECT b.probe_id,
           ${sqlR("idcg0", 6)} AS idcg,
           ${sqlR("COALESCE(dcg0, 0.0)", 6)} AS dcg,
           ${sqlR("COALESCE(dcg0, 0.0) / idcg0", 6)} AS ndcg
         FROM bdcg b LEFT JOIN gdcg g ON b.probe_id = g.probe_id
         ORDER BY 1""",
    "q_pq_search" ->
      s"""WITH $normCte, $pqCtes
         SELECT probe_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, adc_cos
         FROM pqrk WHERE rank <= 10 ORDER BY probe_id, rank""",
    "q_pq_refine" ->
      s"""WITH $normCte, $pqCtes, $pqRefineCtes
         SELECT probe_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
         FROM rrk WHERE rank <= 10 ORDER BY probe_id, rank""",
    // Brute-force chain from q_ann_eval + the PQ ranked list (raw ADC
    // and refined); recall of each stage vs the exact float baseline.
    "q_pq_eval" ->
      s"""WITH $normCte,
         eprobes AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm FROM nv WHERE vec_id < 10),
         bsc AS (
           SELECT nv.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM nv, eprobes WHERE nv.vec_id <> probe_id),
         brk AS (
           SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM bsc),
         bf AS (SELECT probe_id, vec_id FROM brk WHERE rank <= 10),
         $pqCtes, $pqRefineCtes,
         adck AS (SELECT probe_id, vec_id FROM pqrk WHERE rank <= 10),
         refk AS (SELECT probe_id, vec_id FROM rrk WHERE rank <= 10)
         SELECT bf.probe_id, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_adc_hits,
           ${sqlR("CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS recall_adc,
           CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ref_hits,
           ${sqlR("CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS recall_refined
         FROM bf LEFT JOIN adck a ON bf.probe_id = a.probe_id AND bf.vec_id = a.vec_id
                 LEFT JOIN refk r ON bf.probe_id = r.probe_id AND bf.vec_id = r.vec_id
         GROUP BY 1 ORDER BY 1""",
    // The q_ann_ivf_search chain with the same-label predicate applied
    // to the candidate stream (the index stays frozen/unfiltered).
    "q_ann_filtered" ->
      s"""WITH $normCte,
         fcents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         fsc AS (
           SELECT nv.vec_id, nv.label, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, fcents),
         frk AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM fsc),
         fassign AS (SELECT vec_id, centroid_id FROM frk WHERE rn = 1),
         fpcells AS (
           SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm, label AS plabel,
             centroid_id AS pcell
           FROM frk WHERE vec_id < 10 AND rn <= 5),
         fcorpus AS (SELECT nv.vec_id, nv.label, nv.embedding, nv.nrm, fassign.centroid_id
           FROM nv JOIN fassign USING (vec_id)),
         fscored AS (
           SELECT fcorpus.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM fcorpus JOIN fpcells ON centroid_id = pcell AND vec_id <> probe_id
             AND label = plabel),
         ffin AS (
           SELECT probe_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM fscored)
         SELECT probe_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, cosine
         FROM ffin WHERE rank <= 10 ORDER BY probe_id, rank""",
    // Filtered brute-force truth vs the filtered IVF list, recall block
    // as in q_ann_eval.
    "q_ann_filtered_eval" ->
      s"""WITH $normCte,
         geprobes AS (SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm, label AS plabel
           FROM nv WHERE vec_id < 10),
         gbsc AS (
           SELECT nv.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM nv, geprobes WHERE nv.vec_id <> probe_id AND nv.label = plabel),
         gbrk AS (
           SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM gbsc),
         gbf AS (SELECT probe_id, vec_id FROM gbrk WHERE rank <= 10),
         gcents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         gsc AS (
           SELECT nv.vec_id, nv.label, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, gcents),
         grk AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM gsc),
         gassign AS (SELECT vec_id, centroid_id FROM grk WHERE rn = 1),
         gpcells AS (
           SELECT vec_id AS probe_id, embedding AS pe, nrm AS pnrm, label AS plabel,
             centroid_id AS pcell
           FROM grk WHERE vec_id < 10 AND rn <= 5),
         gcorpus AS (SELECT nv.vec_id, nv.label, nv.embedding, nv.nrm, gassign.centroid_id
           FROM nv JOIN gassign USING (vec_id)),
         gisc AS (
           SELECT gcorpus.vec_id, probe_id,
             FLOOR((${dotSql("embedding", "pe")} / (nrm * pnrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM gcorpus JOIN gpcells ON centroid_id = pcell AND vec_id <> probe_id
             AND label = plabel),
         girk AS (
           SELECT probe_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
           FROM gisc),
         giv AS (SELECT probe_id, vec_id FROM girk WHERE rank <= 10),
         gnf AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_found FROM giv GROUP BY 1),
         ghits AS (SELECT gbf.probe_id, CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN giv.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           FROM gbf LEFT JOIN giv ON gbf.probe_id = giv.probe_id AND gbf.vec_id = giv.vec_id
           GROUP BY 1)
         SELECT ghits.probe_id AS probe_id, n_true,
           COALESCE(n_found, 0) AS n_found, n_hits,
           ${sqlR("CAST(n_hits AS DOUBLE) / n_true", 6)} AS recall
         FROM ghits LEFT JOIN gnf ON ghits.probe_id = gnf.probe_id
         ORDER BY 1""",
    // Vector arm = the q_ann_topk chain at arm depth; lexical arm = the
    // q_bm25 scoring chain per probe; RRF fusion over the full-outer
    // candidate union. CAST(1.0 AS DOUBLE): a bare 1.0/(bigint) would be
    // DuckDB DECIMAL division where Spark divides doubles.
    "q_hybrid_rrf" ->
      s"""WITH $normCte, $hybridCtes,
         hfr AS (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank FROM hrrf)
         SELECT probe_id, CAST(rank AS INT) AS rank, doc_id,
           ${sqlR("rrf", 6)} AS rrf_score,
           CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
         FROM hfr WHERE rank <= 10 ORDER BY probe_id, rank""",
    // The hybrid chain + label joins: per-arm and fused precision@10 by
    // probe-label agreement.
    "q_hybrid_eval" ->
      s"""WITH $normCte, $hybridCtes,
         hrk AS (SELECT probe_id, doc_id, ROW_NUMBER() OVER
             (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank FROM hrrf),
         rrftop AS (SELECT probe_id, doc_id FROM hrk WHERE rank <= 10),
         elab AS (SELECT vec_id, label FROM embeddings),
         eplab AS (SELECT vec_id AS probe_id, label AS plabel FROM embeddings WHERE vec_id < 10),
         armstats AS (SELECT f.probe_id,
             CAST(SUM(CASE WHEN lex_rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_lex,
             CAST(SUM(CASE WHEN lex_rank <= 10 AND l.label = p.plabel THEN 1 ELSE 0 END) AS BIGINT) AS lex_hits,
             CAST(SUM(CASE WHEN vec_rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_vec,
             CAST(SUM(CASE WHEN vec_rank <= 10 AND l.label = p.plabel THEN 1 ELSE 0 END) AS BIGINT) AS vec_hits
           FROM hrrf f JOIN elab l ON l.vec_id = f.doc_id
             JOIN eplab p ON p.probe_id = f.probe_id
           GROUP BY 1),
         rrfstats AS (SELECT r.probe_id, CAST(COUNT(*) AS BIGINT) AS n_rrf,
             CAST(SUM(CASE WHEN l.label = p.plabel THEN 1 ELSE 0 END) AS BIGINT) AS rrf_hits
           FROM rrftop r JOIN elab l ON l.vec_id = r.doc_id
             JOIN eplab p ON p.probe_id = r.probe_id
           GROUP BY 1)
         SELECT a.probe_id, n_lex,
           CASE WHEN n_lex > 0 THEN ${sqlR("CAST(lex_hits AS DOUBLE) / n_lex", 6)} END AS p_lex,
           n_vec,
           CASE WHEN n_vec > 0 THEN ${sqlR("CAST(vec_hits AS DOUBLE) / n_vec", 6)} END AS p_vec,
           n_rrf,
           CASE WHEN n_rrf > 0 THEN ${sqlR("CAST(rrf_hits AS DOUBLE) / n_rrf", 6)} END AS p_rrf
         FROM armstats a JOIN rrfstats r ON a.probe_id = r.probe_id
         ORDER BY 1""",
    // Old/new md5-gate split; centroids + codebook from OLD rows only,
    // new batch celled + coded against them (the q_dedup_incremental
    // device applied to the PQ index).
    "q_pq_incremental" ->
      s"""WITH $normCte,
         g AS (SELECT vec_id,
             (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) < 2 AS is_new
           FROM embeddings),
         oldv AS (SELECT nv.* FROM nv JOIN g USING (vec_id) WHERE NOT is_new),
         newv AS (SELECT nv.* FROM nv JOIN g USING (vec_id) WHERE is_new),
         icents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM oldv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         isc AS (SELECT newv.vec_id, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM newv, icents),
         irk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM isc),
         icell AS (SELECT vec_id, centroid_id AS cell_id, ccos AS cell_cosine FROM irk WHERE rn = 1),
         icbk AS (SELECT vec_id AS code, embedding AS cbe FROM oldv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
         ims AS (SELECT m FROM generate_series(0, 7) t(m)),
         icbsub AS (SELECT code, m, list_slice(cbe, m * 8 + 1, (m + 1) * 8) AS cv FROM icbk, ims),
         insub AS (SELECT vec_id, m, list_slice(embedding, m * 8 + 1, (m + 1) * 8) AS sv
           FROM newv, ims),
         ipsc AS (SELECT insub.vec_id, insub.m, icbsub.code,
             ${dotSql("sv", "sv")} - 2 * ${dotSql("sv", "cv")} + ${dotSql("cv", "cv")} AS d2
           FROM insub JOIN icbsub USING (m)),
         ibest AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC) AS crn
           FROM ipsc),
         icode AS (SELECT vec_id,
             ${(0 until 8).map(j => s"MAX(CASE WHEN m = $j THEN code END) AS code$j").mkString(", ")},
             SUM(d2) AS sumd2
           FROM ibest WHERE crn = 1 GROUP BY 1)
         SELECT icell.vec_id, cell_id, cell_cosine,
           ${(0 until 8).map(j => s"code$j").mkString(", ")},
           ${sqlR("sqrt(GREATEST(sumd2, 0.0))", 6)} AS recon_l2
         FROM icell JOIN icode USING (vec_id)
         ORDER BY 1""",
    // Same code-assignment CTEs as q_pq_search (unreferenced CTEs in the
    // chain are never executed); m-row aggregate over pqbest.
    "q_pq_quality" ->
      s"""WITH $normCte, $pqCtes
         SELECT CAST(m AS INT) AS m, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used,
           ${sqlR("CAST(COUNT(DISTINCT code) AS DOUBLE) / 64", 6)} AS code_util,
           ${sqlR("CAST(SUM(CAST(d2 AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)", 6)} AS mean_d2,
           ${sqlR("MAX(d2)", 6)} AS max_d2
         FROM pqbest WHERE crn = 1
         GROUP BY 1 ORDER BY 1""",
    "q_cell_quality" ->
      s"""WITH $normCte,
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
         scoredc AS (
           SELECT nv.vec_id, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, cents),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM scoredc),
         best AS (SELECT vec_id, centroid_id, ccos AS best FROM ranked WHERE rn = 1),
         sec AS (SELECT vec_id, ccos AS second FROM ranked WHERE rn = 2),
         j AS (SELECT * FROM best JOIN sec USING (vec_id))
         SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           ${sqlR("CAST(SUM(CAST(best AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*)", 6)} AS avg_cos,
           ${sqlR("CAST(SUM(CAST(best - second AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*)", 6)} AS avg_margin,
           ${sqlR("MIN(best - second)", 6)} AS min_margin
         FROM j GROUP BY centroid_id ORDER BY centroid_id""",
    "q_ann_hier" ->
      s"""WITH $normCte,
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32),
         coarse AS (SELECT vec_id AS coarse_id, embedding AS ge, nrm AS gnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 6),
         cs AS (SELECT centroid_id, ce, cnrm, coarse_id,
             FLOOR((${dotSql("ce", "ge")} / (cnrm * gnrm)) * 1000000 + 0.5) / 1000000 AS gcos
           FROM cents, coarse),
         ca AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY centroid_id
              ORDER BY gcos DESC, (coarse_id = centroid_id) DESC, coarse_id) AS rn FROM cs)
           WHERE rn = 1),
         vs AS (SELECT vec_id, embedding, nrm, coarse_id,
             FLOOR((${dotSql("embedding", "ge")} / (nrm * gnrm)) * 1000000 + 0.5) / 1000000 AS gcos
           FROM nv, coarse),
         va AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY vec_id ORDER BY gcos DESC, coarse_id) AS rn FROM vs)
           WHERE rn = 1),
         sc AS (SELECT va.vec_id, va.coarse_id, ca.centroid_id,
             FLOOR((${dotSql("va.embedding", "ca.ce")} / (va.nrm * ca.cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM va JOIN ca ON va.coarse_id = ca.coarse_id)
         SELECT vec_id, coarse_id, centroid_id, ccos AS centroid_cosine
         FROM (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn FROM sc)
         WHERE rn = 1 ORDER BY vec_id""",
    "q_semantic_dedup" ->
      s"""WITH $normCte,
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM nv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT (SELECT GREATEST(16, CEIL(SQRT(COUNT(*) / 2.0))) FROM nv)),
         scoredc AS (
           SELECT nv.vec_id, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, cents),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM scoredc),
         assign AS (SELECT vec_id, embedding, nrm, centroid_id, ccos FROM ranked WHERE rn = 1),
         p AS (SELECT a.vec_id, a.ccos, b.vec_id AS vec_a, b.ccos AS ccos_a,
             FLOOR((${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM assign a JOIN assign b
             ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
         d AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
             MAX(cosine) AS max_dup_cosine,
             MAX(CASE WHEN ccos_a < ccos OR (ccos_a = ccos AND vec_a < vec_id)
                 THEN 1 ELSE 0 END) AS dominated
           FROM p WHERE cosine >= 0.35 GROUP BY vec_id)
         SELECT a.vec_id, a.centroid_id, a.ccos AS centroid_cosine,
           COALESCE(n_dups, 0) AS n_dups, max_dup_cosine,
           COALESCE(dominated, 0) = 0 AS keep
         FROM assign a LEFT JOIN d USING (vec_id) ORDER BY a.vec_id""",
    "q_index_staleness" ->
      s"""WITH nv AS (
           SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS nrm,
             (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) AS dg
           FROM embeddings),
         ex AS (SELECT * FROM nv WHERE dg >= 2),
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM ex
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT (SELECT GREATEST(16, CEIL(SQRT(COUNT(*) / 2.0))) FROM ex)),
         sc AS (
           SELECT nv.vec_id, nv.dg, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, cents),
         rk AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM sc),
         a AS (SELECT * FROM rk WHERE rn = 1),
         g AS (SELECT centroid_id,
             CAST(SUM(CASE WHEN dg >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_existing,
             CAST(SUM(CASE WHEN dg < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
             SUM(CASE WHEN dg >= 2 THEN CAST(ccos AS DECIMAL(20,12)) END) AS se,
             SUM(CASE WHEN dg < 2 THEN CAST(ccos AS DECIMAL(20,12)) END) AS sf
           FROM a GROUP BY 1)
         SELECT centroid_id, n_existing, n_fresh,
           ${sqlR("CAST(n_fresh AS DOUBLE) / (n_existing + n_fresh)", 6)} AS fresh_share,
           ${sqlR("CAST(se AS DOUBLE) / n_existing", 6)} AS fit_existing,
           ${sqlR("CAST(sf AS DOUBLE) / n_fresh", 6)} AS fit_fresh,
           ${sqlR("CAST(se AS DOUBLE) / n_existing - CAST(sf AS DOUBLE) / n_fresh", 6)} AS fit_gap
         FROM g ORDER BY centroid_id""",
    "q_semantic_incremental" ->
      s"""WITH nv AS (
           SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS nrm,
             (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) AS dg
           FROM embeddings),
         ex AS (SELECT * FROM nv WHERE dg >= 2),
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce, nrm AS cnrm FROM ex
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT (SELECT GREATEST(16, CEIL(SQRT(COUNT(*) / 2.0))) FROM ex)),
         sc AS (
           SELECT nv.vec_id, nv.dg, nv.embedding, nv.nrm, centroid_id,
             FLOOR((${dotSql("embedding", "ce")} / (nrm * cnrm)) * 1000000 + 0.5) / 1000000 AS ccos
           FROM nv, cents),
         rk AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rn
           FROM sc),
         a AS (SELECT vec_id, dg, embedding, nrm, centroid_id, ccos FROM rk WHERE rn = 1),
         fr AS (SELECT * FROM a WHERE dg < 2),
         p AS (SELECT f.vec_id, f.ccos, b.vec_id AS vec_a, b.dg AS dg_a, b.ccos AS ccos_a,
             FLOOR((${dotSql("f.embedding", "b.embedding")} / (f.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
           FROM fr f JOIN a b
             ON f.centroid_id = b.centroid_id AND f.vec_id <> b.vec_id),
         d AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
             MAX(cosine) AS max_dup_cosine,
             CAST(SUM(CASE WHEN dg_a >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stored_dups,
             MAX(CASE WHEN dg_a >= 2 OR ccos_a < ccos
                       OR (ccos_a = ccos AND vec_a < vec_id)
                 THEN 1 ELSE 0 END) AS dominated
           FROM p WHERE cosine >= 0.35 GROUP BY vec_id)
         SELECT f.vec_id, f.centroid_id, f.ccos AS centroid_cosine,
           COALESCE(n_dups, 0) AS n_dups,
           COALESCE(n_stored_dups, 0) AS n_stored_dups,
           max_dup_cosine,
           COALESCE(dominated, 0) = 0 AS admit
         FROM fr f LEFT JOIN d USING (vec_id) ORDER BY f.vec_id"""
  )
}
