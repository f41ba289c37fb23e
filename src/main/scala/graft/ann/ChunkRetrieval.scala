package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns._
import graft.text.TextPrep

/** Hybrid retrieval at CHUNK grain — the production RAG serving shape:
  * queries retrieve PASSAGES, not documents. Composes the
  * [[graft.text.Vocab.chunkDocs]] chunker (64-word windows, stride 48)
  * with the [[Ann.hybridRrf]] fusion device, then dedups the result list
  * to at most one chunk per source document (the standard serving
  * constraint: a result page should not be one document's five
  * overlapping windows).
  *
  * The vector arm needs a chunk embedding the engine can build
  * deterministically from text alone (the embeddings table is
  * doc-grain): each chunk's token stream is feature-hashed into 64
  * signed-count buckets (the [[graft.text.Vocab.featureHashing]] md5
  * device) and JL-projected to 16 coordinates with the
  * [[Embeddings.randomProjection]] ±1 sign matrix — ALL integer
  * arithmetic until the final cosine, so both engines score
  * bit-identically. Probe vectors ride the identical pipeline over the
  * probe document's full token stream.
  *
  * Scale design (100 TB): chunks ≈ tokens/stride rows, all grains keyed
  * by chunk_id = doc_id·factor + chunk_idx, where factor is DERIVED per
  * corpus from the measured max doc length ([[chunkFactorFor]] — ≥1024,
  * power of two, collision-free by construction; a fixed 1024 would
  * silently mis-attribute chunks of any ≥49k-word document). The
  * lexical arm is probe-bounded exactly like
  * [[Ann.hybridRrf]]: probe terms and their chunk-df are ≤
  * nProbes·kTerms broadcast artifacts, candidates one
  * (probe, chunk, term) partial agg. The vector arm is one streamed
  * pass over the chunk-embedding frame against nProbes broadcast probe
  * vectors into the bounded [[TopKNeighbors]] heap — no shuffle of
  * scored rows; the corpus-scale refinement is the existing IVF cell
  * route ([[Ann.ivfSearch]]) over the same chunk embeddings. Fusion and
  * dedup act on two ≤ arm-rows-per-probe frames. */
object ChunkRetrieval {

  private val width = 64
  private val stride = 48
  /** Feature-hash bucket count / JL coordinate count — shared with the
    * streaming serving twin ([[graft.streaming.ChunkStream]]) so the
    * row-local probe embedding can never drift from [[hashEmbed]]. */
  private[graft] val hashDims = 64
  private[graft] val jlDims = 16
  /** Floor of the chunk_id encoding factor: docs up to 1024 windows
    * (~49k words) encode under it, and the gate corpus (max ~100
    * words) always lands here — so the oracle's literal stays valid. */
  private val minChunkFactor = 1024L
  private val dims = hashDims    // feature-hash buckets
  private val outDims = jlDims    // JL coordinates

  /** The chunk_id encoding factor for THIS corpus: the smallest
    * power-of-two multiple of [[minChunkFactor]] strictly able to hold
    * every document's chunk index. A fixed 1024 silently collided doc
    * attribution for any document past 1024 windows (≈49k words) —
    * routine at 100 TB — by encoding its overflow chunks into the NEXT
    * doc's id space; deriving the factor from the measured max doc
    * length (one map-side-combined MAX over the corpus, the PlanStats
    * discipline) makes the encoding collision-free by construction.
    * Headroom: doc_id·factor stays far under Long.MaxValue for any
    * realistic id space (10^12 docs × 2^20 factor < 2^60). */
  private[graft] def chunkFactorFor(documents: DataFrame): Long =
    factorFrom(wordsPlain(documents))

  /** The normalized (doc_id, words) frame every chunk grain derives
    * from — NOT pinned; [[wordsFrame]] is the pinned query-entry form. */
  private def wordsPlain(documents: DataFrame): DataFrame =
    TextPrep.withWords(documents.filter(col("text").isNotNull))
      .filter(col("norm") =!= "")
      .select(col("doc_id"), col("words"))

  /** [[wordsPlain]] PINNED — the boundary every declared chunk query
    * starts from: the factor probe (one max aggregate, which also
    * materializes the pin) and every downstream chunk/embed/postings
    * build otherwise each re-run the text normalize + split from raw
    * parquet — measured 2-4 redundant normalize passes per serving
    * query, and chunkServe additionally re-derived the factor inside
    * its dedup. */
  private def wordsFrame(documents: DataFrame): DataFrame =
    wordsPlain(documents).localCheckpoint(false)

  /** The chunk_id encoding factor derived from a words frame — see
    * [[chunkFactorFor]]'s doc for the contract. */
  private def factorFrom(ww: DataFrame): Long = {
    val maxWords = ww
      .agg(coalesce(max(size(col("words"))), lit(0)).as("mw"))
      .head.getAs[Int]("mw")
    val maxChunks = if (maxWords <= 0) 1L else maxWords.toLong / stride + 1L
    var f = minChunkFactor
    while (f < maxChunks) f *= 2
    f
  }

  /** Chunk grain with tokens: (doc_id, chunk_id, cwords) — the
    * chunkDocs windows carrying their word arrays. `factor` comes from
    * [[chunkFactorFor]], computed ONCE per query so every grain of one
    * plan shares the encoding. */
  private[graft] def chunks(documents: DataFrame, factor: Long): DataFrame =
    chunksFrom(wordsPlain(documents), factor)

  /** [[chunks]] over an already-built (doc_id, words) frame — the form
    * the declared queries use so the chunk grain explodes from the
    * PINNED words rather than re-normalizing raw text. */
  private def chunksFrom(ww: DataFrame, factor: Long): DataFrame =
    ww.withColumn("n", size(col("words")))
      .select(col("doc_id"), col("words"),
        posexplode(expr(s"sequence(0, n - 1, $stride)")).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        (col("doc_id") * factor + col("chunk_idx")).cast("long").as("chunk_id"),
        expr(s"slice(words, start + 1, $width)").as("cwords"))

  /** The nOut×64 JL sign matrix as ONE SQL array literal (row j =
    * projection j's 64 bucket signs). One literal, not nOut of them —
    * the driver-planning lesson from the round-12 ladder. */
  private def signsSqlFor(nOut: Int): String = (0 until nOut).map(j =>
      (0 until dims).map(Embeddings.projSign(_, j)).mkString("array(", ",", ")"))
    .mkString("array(", ",", ")")

  /** The 16×64 JL sign matrix as ONE SQL array literal — shared with
    * the streaming serving twin so both engines fold through identical
    * signs. */
  private[graft] lazy val signsSql: String = signsSqlFor(outDims)

  /** Feature-hash + JL projection of a token stream: one row per key
    * with the 16 integer coordinates (as ONE array column) and their
    * exact squared norm. Two-stage: signed counts per (key, bucket)
    * first (map-side combined), then the per-key sparse bucket list
    * folds through a SINGLE 16×64 sign-matrix literal. The one-stage
    * form (16 separate aggregate expressions each embedding its own
    * 64-literal array, repeated again in the norm filter) cost the
    * DRIVER ~5 s of optimizer/planning per evaluation — measured, no
    * task time — where this tree plans in milliseconds; the integer
    * sums are associative, so the values are bit-identical. Zero-norm
    * keys (all tokens cancelled) drop: they cannot be cosine-scored. */
  private def hashEmbedAt(tokens: DataFrame, key: String, nOut: Int): DataFrame = {
    val signs = signsSqlFor(nOut)
    graft.functions.JlProject.register(SparkSession.active)
    tokens
      .withColumn("hx", md5(col("word").cast("binary")))
      .withColumn("bucket", pmod(
        (expr("instr('0123456789abcdef', substr(hx, 1, 1))") - 1) * 16 +
          expr("instr('0123456789abcdef', substr(hx, 2, 1))") - 1, lit(dims)))
      .withColumn("sgn",
        when((expr("instr('0123456789abcdef', substr(hx, 3, 1))") - 1) % 2 === 0,
          lit(1L)).otherwise(lit(-1L)))
      .groupBy(col(key), col("bucket")).agg(sum(col("sgn")).as("sv"))
      .groupBy(col(key))
      .agg(collect_list(struct(col("bucket"), col("sv"))).as("bvs"))
      // codegen'd sparse projection ([[graft.functions.JlProject]]) —
      // bit-identical to the transform/aggregate fold it replaces
      // (exact long multiply-adds), but a tight Java loop instead of an
      // interpreted-per-element HOF: the 96-row band fold cost ~410 µs
      // per chunk and dominated every dedup/band query's embed stage
      .withColumn("p", expr(
        s"graft_jl_project(bvs, cast($signs as array<array<bigint>>))"))
  }


  /** Exact integer dot of two bigint-array columns via the codegen'd
    * [[graft.functions.DotLong]] expression — bit-identical to the
    * row-local `aggregate(zip_with(...))` fold it replaces, but a tight
    * Java loop instead of an interpreted-per-element HOF: inside a join
    * condition the fold cost ~10 µs per 16-dim candidate (measured: a
    * 170 s single-core multiprobe candidate stage at sf0.1). */
  private[graft] def dotLong(a: String, b: String) = {
    graft.functions.DotLong.register(SparkSession.active)
    expr(s"graft_dot_long($a, $b)")
  }

  private def hashEmbed(tokens: DataFrame, key: String): DataFrame =
    hashEmbedAt(tokens, key, outDims)
      .withColumn("nsq",
        expr("aggregate(p, cast(0 as bigint), (a, x) -> a + x * x)"))
      .filter(col("nsq") > 0)
      .select(col(key), col("p"), col("nsq"))

  /** (chunk_id, p, nsq) of a chunk frame — the embedding grain shared
    * by the vec arm, the semantic dedup, and the streaming artifact.
    *
    * The lineage is kept cheap to PLAN by [[hashEmbed]]'s two-stage
    * shape (signed counts per (key, bucket), then one sparse fold
    * through a SINGLE 16×64 sign-matrix literal) — the earlier one-stage
    * form carried 16 aggregate expressions each embedding its own
    * 64-literal array and cost the DRIVER ~29 s of optimizer/codegen per
    * evaluation (no single Spark STAGE over 0.5 s — pure plan-processing
    * cost); the restructured tree plans in milliseconds and is
    * bit-identical. */
  private[graft] def chunkEmbeds(ch: DataFrame): DataFrame =
    hashEmbed(ch.select(col("chunk_id"), explode(col("cwords")).as("word")), "chunk_id")

  /** The probe documents' embeddings (probe_id, q, pnsq) — the query
    * side of every chunk vector arm, over the probe document's full
    * token stream. */
  private def queryEmbeds(documents: DataFrame, nProbes: Int): DataFrame =
    hashEmbed(TextPrep.withWords(documents.filter(col("text").isNotNull))
        .filter(col("norm") =!= "").filter(col("doc_id") < nProbes)
        .select(col("doc_id"), explode(col("words")).as("word")), "doc_id")
      .select(col("doc_id").as("probe_id"), col("p").as("q"), col("nsq").as("pnsq"))

  /** Exact cosine of two integer embedding columns and their squared
    * norms, rounded to 6 places — integer arithmetic until the divide,
    * so both engines score bit-identically. */
  private def cosineOf(a: String, na: String, b: String, nb: String) =
    r6(dotLong(a, b).cast("double") /
      (sqrt(col(na).cast("double")) * sqrt(col(nb).cast("double"))))

  /** The chunk vector arm: exact cosine of the chunk embeddings `ce`
    * (chunk_id, p, nsq) against the nProbes probe embeddings, each
    * probe's own document excluded, top-`arm` per probe via the bounded
    * heap. `hamming` picks the candidate route:
    *  - `None`: the broadcast cross join — every chunk scored against
    *    every probe (right at gate scale, corpus-linear per probe at
    *    10^10 chunks);
    *  - `Some(h)`: the cell route, promoted from the [[chunkAnnEval]]
    *    measurement (~1.1% of chunks scanned per probe at recall 0.80 at
    *    100×; 1.0 at gate SFs). Each probe explodes to its Hamming-≤h
    *    multi-probe CELL list (the [[hammingMasks]] ball over the
    *    adaptive sign-LSH cell width, derived from the count of `ce` —
    *    the index that exists at serving time) and EQUI-JOINS the
    *    cell-keyed chunk store: a broadcast hash join on cell, so each
    *    chunk row hash-probes a ≤ nProbes·|ball| table once — and on a
    *    production index bucketed by cell the join is a partition-pruned
    *    FETCH of ~|ball| cells per probe (the q_pq_refine pattern at
    *    chunk grain). Exact cosine re-ranks only the fetched candidates. */
  private[graft] def vecArm(ce: DataFrame, documents: DataFrame, nProbes: Int,
                            arm: Int, factor: Long, hamming: Option[Int]): DataFrame = {
    val pe = queryEmbeds(documents, nProbes)
    val cand = hamming match {
      case None => ce.crossJoin(broadcast(pe))
      case Some(h) =>
        // one evaluation of the embed shuffle serves both the width count
        // and the celled store (the chunkCells boundary discipline)
        val base = ce.localCheckpoint(false)
        val bits = cellBitsFor(base.count())
        val ball = pe.withColumn("pcell", cellAt("q", 0, bits))
          .select(col("probe_id"), col("q"), col("pnsq"),
            explode(expr(s"transform(array(${hammingMasks(bits, h).mkString(",")}), " +
              "m -> pcell ^ cast(m as bigint))")).as("cand_cell"))
        base.withColumn("cell", cellAt("p", 0, bits))
          .join(broadcast(ball), col("cell") === col("cand_cell"))
    }
    Ann.topkPerProbe(cand.filter(floor(col("chunk_id") / factor) =!= col("probe_id"))
      .select(col("probe_id"), col("chunk_id").as("vec_id"),
        cosineOf("p", "nsq", "q", "pnsq").as("cosine")), arm)
  }

  /** XOR masks enumerating the Hamming-≤`hamming` ball over `bits` sign
    * bits — the multi-probe cell list. |masks| = Σ C(bits, i≤hamming):
    * 137 at 16 bits / hamming 2, a bounded literal. */
  private[graft] def hammingMasks(bits: Int, hamming: Int): Seq[Long] =
    (0 to hamming).flatMap(h =>
      (0 until bits).combinations(h).map(_.map(i => 1L << i).sum).toSeq)

  /** The chunk BM25 arm over index parts — postings (word, chunk_id,
    * tf, dl), the df table (word, df) and the (nn, sdl0) stats row —
    * for the (probe_id, word) probe terms `pt`: chunk-grain tf/dl/df/
    * avgdl, probe terms from the probe document's own vocabulary. tf per
    * (word, chunk) is probe-independent, so the postings joined to the
    * probe terms are exactly each probe's tf rows; the probe's own
    * document is excluded by decoding doc_id from the chunk_id
    * encoding. */
  private def lexArm(postings: DataFrame, dfAll: DataFrame, stats: DataFrame,
                     pt: DataFrame, arm: Int, factor: Long): DataFrame = {
    val tfd = postings.join(broadcast(pt), Seq("word"))
      .filter(floor(col("chunk_id") / factor).cast("long") =!= col("probe_id"))
      .select(col("probe_id"), col("chunk_id"), col("word"), col("tf"), col("dl"))
    Ann.bm25Topk(tfd, dfAll.join(broadcast(pt.select("word").distinct()), Seq("word")),
      stats.select(col("nn"), col("sdl0").cast("double").as("sdl")), "chunk_id", arm)
  }

  /** Top-k chunks per probe with at-most-one-chunk-per-document over the
    * fused (probe_id, chunk_id, lex_rank, vec_rank, rrf) frame: the
    * best-scoring chunk of each source document survives (rrf desc,
    * chunk_id asc — the min-struct pick, no rank window over the fused
    * frame), then the final rank. */
  private def rankServe(f0: DataFrame, factor: Long, k: Int): DataFrame = {
    // the fused frame (≤ 2·arm rows per probe) feeds BOTH the per-doc
    // best pick and the final join — pin it so the two consumers share
    // one evaluation of the arms
    val f = f0.localCheckpoint(false)
    val best = f
      .groupBy(col("probe_id").as("bp"),
        floor(col("chunk_id") / factor).cast("long").as("doc_id"))
      .agg(min(struct((col("rrf") * -1d).as("nr"), col("chunk_id").as("cid"))).as("w"))
      .select(col("bp"), col("doc_id"), col("w.cid").as("bc"))
    val wR = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf").desc, col("chunk_id"))
    f.join(best, col("probe_id") === col("bp") && col("chunk_id") === col("bc"))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("chunk_id"), r6(col("rrf")).as("rrf_score"),
        col("lex_rank"), col("vec_rank"))
      .orderBy("probe_id", "rank")
  }

  /** Number of leading JL coordinates whose SIGNS form the dedup cell:
    * the hashEmbed projection is a signed random projection, so its
    * sign bits are exactly Charikar-2002 hyperplane LSH — cell
    * assignment is FREE (row-local bit packing, no centroid pass, no
    * assignment shuffle), unlike the doc-grain SemDeDup's K-centroid
    * broadcast scoring.
    *
    * The bit count ADAPTS to the corpus: with a fixed bit count the
    * within-cell pair count Σ|cell|² grows quadratically (measured: a
    * 545 s single stage at 100× with 8 fixed bits — ~794k chunks over
    * 256 cells is ~2.5 B pairs), while holding the MEAN OCCUPANCY at
    * [[cellOcc]] makes it ~n·occ, linear in the corpus. The smallest
    * b in [[[minCellBits]], [[maxCellBits]]] with n ≤ occ·2^b is
    * derived by exact INTEGER threshold comparison — bit-identical in
    * both engines, no log2/ceil float boundary — from one count of the
    * (checkpointed, so already-paid) embedding frame; the oracle runs
    * the same CASE ladder over the same count. ≤ occ·256 chunks (every
    * gate SF) keeps the historical 8 bits. maxCellBits = outDims: only
    * 16 signs exist — a true 100 TB corpus widens outDims with the
    * projection, the same knob. */
  private val minCellBits = 8
  private val maxCellBits = outDims
  private val cellOcc = 64L
  private[graft] def cellBitsFor(n: Long): Int = {
    var b = minCellBits
    while (b < maxCellBits && n > (cellOcc << b)) b += 1
    b
  }

  /** Chunk embeddings with their LSH cell and prototypicality fit:
    * (base, cells) — the pinned embed base (chunk_id, p, nsq), which the
    * survivor serve feeds to its vector arm, and the cell frame built on
    * it, (chunk_id, p, nsq, cell, fit). `fit` is the chunk's cosine to its
    * CELL CENTROID — computed against the cell's exact integer SUM
    * vector (cosine is scale-invariant, so cos(p, mean) == cos(p, sum)
    * and no division ever happens: both engines stay in exact integer
    * arithmetic until the final rounded double). A cancelled cell sum
    * (snsq = 0) pins fit to 0. */
  private[graft] def chunkCells(ch: DataFrame): (DataFrame, DataFrame) = {
    // The embed shuffle below is the ONE corpus-scale stage of the dedup
    // family, and this frame has three consumers (the cell sums, the
    // centroid join, and — via [[chunkDedup]] — a self-join that reads it
    // twice more). Without a boundary each consumer re-runs the shuffle:
    // measured 6 evaluations inside q_chunk_dedup alone and 24 inside
    // q_chunk_serve (whose survivor anti-join nests the whole chain under
    // the serve's chunk-frame reads) — 697 s at 100×. The lazy localCheckpoint
    // pins one evaluation; values are unchanged (a checkpoint is a plan
    // boundary, not a computation), and at cluster scale this is exactly
    // the persisted-index boundary Artifacts.save would provide.
    val base = chunkEmbeds(ch).localCheckpoint(false)
    // materializes the checkpoint (paid once either way) and sizes the
    // cell space to the measured corpus — the PlanStats device, like
    // chunkFactorFor
    val bits = cellBitsFor(base.count())
    (base, withCellFit(base.withColumn("cell", cellAt("p", 0, bits))))
  }

  /** Sign-LSH cell value from `bits` leading signs of array column
    * `src`, starting at coordinate `offset` — row-local bit packing.
    * Shared with the streaming admission twin
    * ([[graft.streaming.ChunkStream.admitRows]]) so the arrival-side
    * cell can never drift from the stored index's. */
  private[graft] def cellAt(src: String, offset: Int, bits: Int) = expr(
    s"""aggregate(sequence(0, ${bits - 1}), 0L, (a, j) ->
       a + IF(element_at($src, $offset + cast(j as int) + 1) >= 0,
              shiftleft(1L, cast(j as int)), 0L))""")

  /** Appends the prototypicality `fit` (cosine to the cell's exact
    * integer SUM vector) to a (chunk_id, p, nsq, cell, …) frame; extra
    * columns named in `keep` pass through. */
  private def withCellFit(ce: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val sumCols = (0 until outDims).map(j =>
      sum(expr(s"element_at(p, ${j + 1})")).as(s"s$j"))
    val sums = ce.groupBy(col("cell"))
      .agg(sumCols.head, sumCols.tail: _*)
      .withColumn("s", array((0 until outDims).map(j => col(s"s$j")): _*))
      .select(col("cell").as("cs_cell"), col("s"),
        expr("aggregate(s, cast(0 as bigint), (a, x) -> a + x * x)").as("snsq"))
    ce.join(broadcast(sums), col("cell") === col("cs_cell"))
      .withColumn("dots", dotLong("p", "s"))
      .withColumn("fit", when(col("snsq") === 0L, lit(0d)).otherwise(
        r6(col("dots").cast("double") /
          (sqrt(col("nsq").cast("double")) * sqrt(col("snsq").cast("double"))))))
      .select((Seq("chunk_id", "p", "nsq", "cell", "fit") ++ keep).map(col): _*)
  }

  /** SEMANTIC dedup at CHUNK grain — the [[Ann.semanticDedup]] device
    * (SemDeDup, Abbas et al. 2023) over the deterministic chunk
    * embeddings this family already serves from, closing the serving
    * gap the doc-grain mart leaves open: near-identical chunks ACROSS
    * documents (boilerplate, quoted passages) compete in the RRF
    * candidate list and dilute retrieval precision. Pairs compare only
    * within a sign-LSH cell ([[chunkCells]] — assignment is free);
    * a pair at cosine ≥ `threshold` is a semantic duplicate and the
    * LESS prototypical member survives (lower cell fit; ties to the
    * smaller chunk_id — the paper's keep rule, exactly the doc-grain
    * mart's). Output is chunk-grain: every embeddable chunk with its
    * cell, fit, duplicate count / max duplicate cosine, and the keep
    * verdict [[chunkServe]] serves from.
    *
    * Scale: the only corpus-scale shuffles are the embedding build and
    * ONE exchange on cell for the within-cell self-join (Σ|cell|²
    * bounded — cellBits grows with the corpus); everything else is
    * broadcast or row-local. */
  def chunkDedup(documents: DataFrame, threshold: Double = 0.95): DataFrame = {
    val ww = wordsFrame(documents)
    val factor = factorFrom(ww)
    val (_, cc) = chunkCells(chunksFrom(ww, factor))
    chunkVerdicts(cc, cellPairs(cc, threshold), factor)
  }

  /** The verified within-cell pairs of a [[chunkCells]] frame, one row
    * per pair and endpoint: the endpoint's columns, its partner's as
    * (ca, pa, nsqa, cella, fita), and the pair's cosine, ≥ `threshold`. */
  private def cellPairs(cc: DataFrame, threshold: Double): DataFrame = {
    val other = cc.select(col("chunk_id").as("ca"), col("p").as("pa"),
      col("nsq").as("nsqa"), col("cell").as("cella"), col("fit").as("fita"))
    cc.join(other,
        col("cell") === col("cella") && col("chunk_id") =!= col("ca"))
      .withColumn("cosine", cosineOf("p", "nsq", "pa", "nsqa"))
      .filter(col("cosine") >= threshold)
  }

  /** The chunk verdict mart of [[chunkDedup]], [[chunkBandedDedup]] and
    * [[chunkMpDedup]]: every chunk of `cells` (chunk_id, cell, fit, …)
    * with its duplicate count and max duplicate cosine over the verified
    * `pairs` (chunk_id, ca, fit, fita, cosine — one row per pair and
    * endpoint), kept unless a partner [[Ann.dominates]] it. */
  private def chunkVerdicts(cells: DataFrame, pairs: DataFrame, factor: Long): DataFrame = {
    val dups = pairs.groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_dups"), max(col("cosine")).as("max_dup_cosine"),
        max(when(Ann.dominates(col("fita"), col("ca"), col("fit"), col("chunk_id")), 1)
          .otherwise(0)).as("dominated"))
    cells.select(col("chunk_id"), col("cell"), col("fit"))
      .join(dups, Seq("chunk_id"), "left")
      .select(floor(col("chunk_id") / factor).cast("long").as("doc_id"),
        col("chunk_id"), col("cell"), col("fit"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("max_dup_cosine"),
        (coalesce(col("dominated"), lit(0)) === 0).as("keep"))
      .orderBy("chunk_id")
  }

  /** Bands of the multi-band LSH variant: 3 independent hyperplane
    * sets, each `bits` wide, drawn from one wide sign projection. The
    * Hamming-1 MULTI-PROBE generator uses [[mpBandCount]] = 6 bands —
    * at the 14-bit width a 100× corpus derives, Hamming-1 multiprobe
    * measured 0.885 recall over 235 brute-forced true pairs with 5 bands
    * and 0.9106 with 6 (SCALE.md, round 14; each added band multiplied
    * the measured miss rate by ~0.65), so 6 bands clear 0.9 at 6/5 the
    * (still linear) pair cost; band values are PREFIX-STABLE (row j of the
    * sign matrix is independent of the projection width), so the
    * 3-band keys are bit-unchanged by the widening. */
  private[graft] val bandCount = 3
  private[graft] val mpBandCount = 6
  private val bandDims = mpBandCount * outDims

  /** Chunk embeddings carrying the WIDE sign projection: (chunk_id, p,
    * nsq, pw) where p is the usual 16 JL coordinates (pw's first 16 —
    * the same md5 signs, so band 0 is EXACTLY [[chunkCells]]'s cell)
    * and pw adds the remaining deterministic projections whose only use
    * is banding. Population identical to [[chunkEmbeds]]: chunks whose
    * 16-dim norm cancels to zero drop. */
  private def bandEmbeds(ch: DataFrame): DataFrame =
    hashEmbedAt(ch.select(col("chunk_id"), explode(col("cwords")).as("word")),
        "chunk_id", bandDims)
      .withColumn("pw", col("p"))
      .withColumn("p", expr(s"slice(pw, 1, $outDims)"))
      .withColumn("nsq",
        expr("aggregate(p, cast(0 as bigint), (a, x) -> a + x * x)"))
      .filter(col("nsq") > 0)
      .select(col("chunk_id"), col("p"), col("nsq"), col("pw"))

  /** [[chunkDedup]] with MULTI-BAND candidate generation — the
    * MinHash-LSH banding device (OR over [[bandCount]] independent
    * hyperplane bands) applied to the sign-LSH dedup. Motivation: the
    * adaptive cell width that keeps pair work linear also cuts recall —
    * P(all b signs agree | cosine 0.95) ≈ 0.90^b, i.e. ~0.43 at the
    * 8-bit gate width but ~0.22 at the 14 bits a 100× corpus derives —
    * and banding recovers it multiplicatively: 1-(1-0.90^b)^3 ≈ 0.81 /
    * 0.53 at those widths, at 3× the (still linear) pair work.
    * [[dedupRecall]] MEASURES both against brute-force truth. Verdict
    * devices are chunkDedup's verbatim: duplicate = any shared-band
    * pair at cosine ≥ threshold on the TRUE 16-dim embedding (bands
    * only propose), keep-least-prototypical by band-0 cell fit, pairs
    * deduplicated across bands before counting. Band 0 ≡ the single
    * cell, so banded candidates are a SUPERSET: a chunk q_chunk_dedup
    * dominates is dominated here too (spec-pinned). */
  def chunkBandedDedup(documents: DataFrame, threshold: Double = 0.95): DataFrame =
    bandedDedupWith(documents, threshold, hamming = 0, nBands = bandCount)

  /** [[chunkBandedDedup]] with Hamming-≤1 MULTI-PROBE within each of
    * [[mpBandCount]] bands — the [[chunkAnnEval]] device applied to
    * dedup candidate generation: at the 14-bit width a 100× corpus
    * derives, 3-band exact-OR recall collapses ([[dedupRecall]]
    * measured 0.49 at 100×) and proposing pairs whose band values
    * differ by ≤1 sign recovers it — per band
    * P(≤1 of b signs flips | cosine ≥ 0.95) ≈ p^b + b·p^(b-1)(1-p),
    * and 6 bands OR the per-band recall past 0.9 at 14 measured-p
    * bits where 3 read 0.81. One side of the candidate self-join
    * explodes to its (bits+1)-variant Hamming-1 ball, keeping pair
    * work LINEAR at mpBandCount·(bits+1)× the single-cell cost;
    * verdicts (true-cosine threshold, keep-least-prototypical) are
    * [[chunkDedup]]'s verbatim, and candidates are a SUPERSET of the
    * banded generator's (the first 3 mp bands ARE the banded bands —
    * spec-pinned). */
  def chunkMpDedup(documents: DataFrame, threshold: Double = 0.95): DataFrame =
    bandedDedupWith(documents, threshold, hamming = 1, nBands = mpBandCount)

  /** The SHARED banded/multiprobe VERIFIED-pair generator — band
    * explode, Hamming-≤h variant ball, cosine verify at the true
    * 16-dim embedding, cross-band pair dedup — consumed by
    * [[bandedDedupWith]] (dominance aggregation) and
    * [[chunkDupClusters]] (transitive closure). One body: a future
    * band/threshold change cannot desync the cluster view from the
    * dedup verdicts. `cf` is the withCellFit frame carrying (chunk_id,
    * p, nsq, fit, pw); returns one row per verified UNORDERED pair
    * seen from each endpoint: (chunk_id, ca, fit, fita, cosine). */
  private[graft] def mpVerifiedPairs(cf: DataFrame, bits: Int, threshold: Double,
                              hamming: Int, nBands: Int,
                              nRows: Long = -1L): DataFrame = {
    val bnd = cf.select(col("chunk_id"), col("p"), col("nsq"), col("fit"),
      posexplode(array((0 until nBands).map(k =>
        cellAt("pw", k * outDims, bits)): _*)).as(Seq("band_k", "band_v")))
    // the probe side of the self-join explodes to its Hamming-≤hamming
    // variant ball: a pair at band distance d ≤ hamming matches on
    // exactly one variant (the mask flipping the d differing bits)
    val masks = hammingMasks(bits, hamming)
    val other = bnd.select(col("band_k").as("bk2"),
      explode(expr(s"transform(array(${masks.mkString(",")}), " +
        "m -> band_v ^ cast(m as bigint))")).as("bv2"),
      col("chunk_id").as("ca"), col("p").as("pa"),
      col("nsq").as("nsqa"), col("fit").as("fita"))
    // EXPLICIT co-partitioning on the band keys: the join's real cost is
    // per-candidate cosine verification, which is invisible to AQE's
    // byte-based stats — left to itself AQE coalesced the (small-bytes)
    // stream side to ONE partition and the whole verify ran on one core
    // (measured 170 s at sf0.1). Co-partitioned sides also keep the
    // exploded ball frame off the driver (no broadcast build of a
    // corpus-derived side). The WIDTH is sized to the exploded-ball row
    // count when the caller already measured the chunk count (~8k ball
    // rows per task), capped at the session's shuffle parallelism —
    // r15's flat numShufflePartitions made 32 sub-MB tasks at sf0.1 and
    // the family ran SLOWER on 32 cores than 8 (BENCH_r15 scaling
    // 0.66-0.75); a caller without a count keeps the session width.
    val maxPart = bnd.sparkSession.sessionState.conf.numShufflePartitions
    val nPart =
      if (nRows < 0) maxPart
      else math.max(1, math.min(maxPart.toLong,
        nRows * nBands * masks.size / 8192L + 1L)).toInt
    bnd.repartition(nPart, col("band_k"), col("band_v"))
      .join(other.repartition(nPart, col("bk2"), col("bv2")),
        col("band_k") === col("bk2") && col("band_v") === col("bv2") &&
          col("chunk_id") =!= col("ca"))
      .withColumn("cosine", cosineOf("p", "nsq", "pa", "nsqa"))
      .filter(col("cosine") >= threshold)
      // a pair sharing several bands must count ONCE
      .select(col("chunk_id"), col("ca"), col("fit"), col("fita"), col("cosine"))
      .distinct()
  }

  /** [[bandEmbeds]] with cell + fit, the frame [[mpVerifiedPairs]]
    * consumes; bits derived from the measured corpus, whose count is
    * returned too so candidate-join widths can size to the data. */
  private[graft] def bandFitFrame(documents: DataFrame): (DataFrame, Int, Long, Long) = {
    val ww = wordsFrame(documents)
    val factor = factorFrom(ww)
    val base = bandEmbeds(chunksFrom(ww, factor)).localCheckpoint(false)
    val n = base.count()
    val bits = cellBitsFor(n)
    (withCellFit(base.withColumn("cell", cellAt("pw", 0, bits)), Seq("pw")),
      bits, factor, n)
  }

  private def bandedDedupWith(documents: DataFrame, threshold: Double,
                              hamming: Int, nBands: Int): DataFrame = {
    val (cf, bits, factor, n) = bandFitFrame(documents)
    chunkVerdicts(cf, mpVerifiedPairs(cf, bits, threshold, hamming, nBands, n), factor)
  }

  /** CONNECTED COMPONENTS of the chunk near-dup graph — the
    * [[graft.dedup.Dedup.propagate]] pointer-jumping engine over the
    * multiprobe-verified pairs: pairwise verdicts
    * ([[chunkMpDedup]]) answer "is this chunk dominated", but corpus
    * curation also needs the TRANSITIVE view (boilerplate chains of
    * hundreds of pairwise-near chunks are one duplication event, not
    * hundreds) — every chunk in the pair graph gets its component's
    * minimum chunk_id as cluster_id, exactly the doc-grain
    * q_dedup_clusters contract at chunk grain. Covers only chunks with
    * at least one verified near-dup (the doc-grain convention);
    * convergence is O(log diameter) via the pointer-jumping shortcut. */
  def chunkDupClusters(documents: DataFrame, threshold: Double = 0.95): DataFrame = {
    val (cf, bits, _, n) = bandFitFrame(documents)
    val pairs = mpVerifiedPairs(cf, bits, threshold, hamming = 1,
        nBands = mpBandCount, nRows = n)
      .filter(col("chunk_id") < col("ca"))
      .select(col("chunk_id").as("doc_a"), col("ca").as("doc_b"))
    graft.dedup.Dedup.propagate(pairs)
      .select(col("id").as("chunk_id"), col("label").as("cluster_id"),
        (col("id") =!= col("label")).as("is_duplicate"))
      .orderBy("chunk_id")
  }

  /** The ACTION twin of [[chunkDupClusters]] — the
    * [[graft.dedup.Dedup.survivors]] device at CHUNK grain: every
    * embeddable chunk tagged with its transitive near-dup cluster (its
    * own id when unclustered), the cluster size, and the keep decision
    * (the cluster's minimum chunk_id survives). This is what a serving
    * index writes: ONE chunk per transitive duplication EVENT, where
    * the pairwise verdict mart ([[chunkMpDedup]]) can keep several
    * "least-prototypical" members of one boilerplate chain because
    * each cell only sees its own pairs. Conservation law (spec-pinned):
    * kept chunks == cluster count + unclustered count. One window on
    * cluster_id beyond the propagation itself. */
  def chunkSurvivors(documents: DataFrame, threshold: Double = 0.95): DataFrame = {
    val (cf, bits, factor, n) = bandFitFrame(documents)
    val pairs = mpVerifiedPairs(cf, bits, threshold, hamming = 1,
        nBands = mpBandCount, nRows = n)
      .filter(col("chunk_id") < col("ca"))
      .select(col("chunk_id").as("doc_a"), col("ca").as("doc_b"))
    graft.dedup.Dedup.clusterSurvivors(cf.select(col("chunk_id")), pairs)
      .select(floor(col("chunk_id") / factor).cast("long").as("doc_id"),
        col("chunk_id"), col("cluster_id"), col("cluster_size"), col("keep"))
      .orderBy("chunk_id")
  }

  /** LSH recall, MEASURED — the label-blocked-truth calibration device
    * applied to the dedup candidate generators: brute-force ALL pairs
    * of a deterministic chunk sample (both endpoints in the sample, so
    * the estimate is unbiased in the pair population), keep those at
    * cosine ≥ threshold as TRUTH, and report what fraction the
    * single-cell, the [[bandCount]]-band, and the [[mpBandCount]]-band Hamming-1 multiprobe
    * candidate generators would have proposed. The sample modulus
    * derives from the measured corpus (⌊n / sampleTarget⌋, floor 1 —
    * the PlanStats ladder again, mirrored in the oracle): gate corpora
    * sample EVERYTHING (the truth is exhaustive — measured at sf0.01:
    * multiprobe 0.990 vs banded 0.861 vs cell 0.693), while a 100×
    * corpus keeps ~sampleTarget chunks and the brute force stays a
    * bounded ~64M-dot budget at ANY scale (a 2000-chunk sample put
    * only 16 true pairs in the 100× estimate — too thin to read a
    * recall to one decimal). One row per method:
    * (method, true_pairs, found_pairs, recall). */
  def dedupRecall(documents: DataFrame, threshold: Double = 0.95,
                  sampleTarget: Long = 8000L): DataFrame = {
    val ww = wordsFrame(documents)
    val base = bandEmbeds(chunksFrom(ww, factorFrom(ww)))
      .localCheckpoint(false)
    val n = base.count()
    val bits = cellBitsFor(n)
    val mod = math.max(1L, n / sampleTarget)
    // sample on an md5 digest of the id, NOT the raw id: chunk_ids are
    // structured (doc_id·factor + idx), so `chunk_id % mod` inherits
    // gcd(factor, mod) residue bias — measured 2× sample-size swings
    // between SFs. The 4-hex-digit device (0..65535, the shared
    // hexDigit source) is uniform regardless of id structure.
    val hv = hexDigit("chunk_id", 1) * 4096 + hexDigit("chunk_id", 2) * 256 +
      hexDigit("chunk_id", 3) * 16 + hexDigit("chunk_id", 4)
    // AQE coalesces the (small-bytes) checkpointed embed shuffle to ONE
    // partition, which would run the ~sampleTarget² brute-force cosines
    // on a single core (measured: a 7.9 s one-task stage at sf0.1). An
    // explicit repartition of the sample is respected by AQE and spreads
    // the quadratic loop across the executor cores: one partition per
    // expected sample row (n / mod), capped at the session's shuffle
    // parallelism. The downstream aggregate is commutative, so values
    // are unaffected.
    val nPart = math.max(1L, math.min(
      documents.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      n / mod)).toInt
    val feat = base.filter(pmod(hv, lit(mod)) === 0)
      .repartition(nPart)
      .select(col("chunk_id"), col("p"), col("nsq"),
        array((0 until mpBandCount).map(k =>
          cellAt("pw", k * outDims, bits)): _*).as("bands"))
    val other = feat.select(col("chunk_id").as("ca"), col("p").as("pa"),
      col("nsq").as("nsqa"), col("bands").as("bandsa"))
    val truth = feat.join(broadcast(other), col("chunk_id") < col("ca"))
      .withColumn("cosine", cosineOf("p", "nsq", "pa", "nsqa"))
      .filter(col("cosine") >= threshold)
      // hit disjunctions GENERATED from the band constants (band 0 ≡
      // the single cell, banded = the 3 exact bands, multiprobe = any
      // of the mpBandCount mp bands within Hamming 1 — the chunkMpDedup rule)
      .withColumn("cell_hit",
        (col("bands")(0) === col("bandsa")(0)).cast("long"))
      .withColumn("band_hit", (0 until bandCount).map(k =>
        col("bands")(k) === col("bandsa")(k)).reduce(_ || _).cast("long"))
      .withColumn("mp_hit", (0 until mpBandCount).map(k => expr(
        s"bit_count(element_at(bands, ${k + 1}) ^ element_at(bandsa, ${k + 1})) <= 1"))
        .reduce(_ || _).cast("long"))
    truth.agg(count(lit(1)).as("true_pairs"),
        coalesce(sum(col("cell_hit")), lit(0L)).as("cell_found"),
        coalesce(sum(col("band_hit")), lit(0L)).as("band_found"),
        coalesce(sum(col("mp_hit")), lit(0L)).as("mp_found"))
      .select(explode(array(
        struct(lit("banded").as("method"), col("true_pairs"),
          col("band_found").as("found_pairs")),
        struct(lit("cell").as("method"), col("true_pairs"),
          col("cell_found").as("found_pairs")),
        struct(lit("multiprobe").as("method"), col("true_pairs"),
          col("mp_found").as("found_pairs")))).as("r"))
      .select(col("r.method").as("method"), col("r.true_pairs").as("true_pairs"),
        col("r.found_pairs").as("found_pairs"),
        r6(try_divide(col("r.found_pairs").cast("double"),
          col("r.true_pairs").cast("double"))).as("recall"))
      .orderBy("method")
  }

  /** The LSH-ACCELERATED chunk vector arm, evaluated against the exact
    * arm — the scale path for the one brute-force stage left in the
    * chunk stack: [[vecArm]] scans EVERY chunk per probe (right at
    * gate scale, wrong at 10^10 chunks). The same sign-LSH cells the
    * dedup derives (free bit packing, adaptive width) give a
    * multi-probe candidate route: only chunks within `hamming` sign
    * bits of the probe's cell are scored. On a cell-keyed shard store
    * that is a bounded fetch of Σ C(bits, i≤hamming) cells; this mart
    * MEASURES both sides of the tradeoff per probe — candidates
    * actually scanned (n_cand vs the full corpus) and top-k recall
    * against the exact arm ([[vecArm]]'s brute-force route) — the
    * ann_eval calibration device at chunk grain. */
  def chunkAnnEval(documents: DataFrame, nProbes: Int = 10, k: Int = 10,
                   hamming: Int = 2): DataFrame = {
    val ww = wordsFrame(documents)
    val factor = factorFrom(ww)
    val base = chunkEmbeds(chunksFrom(ww, factor)).localCheckpoint(false)
    val bits = cellBitsFor(base.count())
    val ce = base.withColumn("cell", cellAt("p", 0, bits))
    val pe = queryEmbeds(documents, nProbes)
      .withColumn("pcell", cellAt("q", 0, bits))
      .localCheckpoint(false)
    val exact = vecArm(base, documents, nProbes, k, factor, None).localCheckpoint(false)
    val cand = ce.crossJoin(broadcast(pe))
      .filter(expr(s"bit_count(cell ^ pcell) <= $hamming"))
      .filter(floor(col("chunk_id") / factor) =!= col("probe_id"))
      .withColumn("cosine", cosineOf("p", "nsq", "q", "pnsq"))
      .select(col("probe_id"), col("chunk_id").as("vec_id"), col("cosine"))
      .localCheckpoint(false)
    val lsh = Ann.topkPerProbe(cand, k)
    val nc = cand.groupBy(col("probe_id")).agg(count(lit(1)).as("n_cand"))
    val nex = exact.groupBy(col("probe_id").as("xp"))
      .agg(count(lit(1)).as("n_exact"))
    val hits = lsh.select(col("probe_id").as("hp"), col("neighbor_id"))
      .join(exact.select(col("probe_id").as("ep"),
        col("neighbor_id").as("en")),
        col("hp") === col("ep") && col("neighbor_id") === col("en"))
      .groupBy(col("hp")).agg(count(lit(1)).as("n_hits"))
    pe.select(col("probe_id"))
      .join(nc, Seq("probe_id"), "left")
      .join(nex, col("probe_id") === col("xp"), "left")
      .join(hits, col("probe_id") === col("hp"), "left")
      .select(col("probe_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        r6(try_divide(coalesce(col("n_hits"), lit(0L)).cast("double"),
          coalesce(col("n_exact"), lit(0L)).cast("double"))).as("recall"))
      .orderBy("probe_id")
  }

  /** The chunk frame minus semantically dominated chunks AND the
    * survivors' embedding frame. Chunks with no embedding (all tokens
    * cancelled, nsq = 0) cannot be scored for duplication and pass
    * through — only a DOMINATED verdict removes a chunk. The serve
    * entries' seam: the dedup chain under the survivor verdict already
    * embedded EVERY chunk (the chunkCells pinned base), so re-embedding
    * the survivor chunks from their words for the vector arm paid the
    * corpus-scale md5+JL pass twice per serve query (measured ~2 s of
    * chunkServe's 7.5 s at sf0.1). The embedding of a chunk depends on
    * nothing but its own tokens, so `base minus dominated` is
    * value-identical to `chunkEmbeds(ch minus dominated)` — including
    * the population rule (nsq = 0 chunks never embed, dominated ids are
    * always embeddable). Returns (survivor chunks, survivor embeds). */
  private def survivorChunksAndCe(ww: DataFrame, factor: Long,
                                  threshold: Double): (DataFrame, DataFrame) = {
    val ch = chunksFrom(ww, factor)
    val (base, cc) = chunkCells(ch)
    // dominated = EXISTS a same-cell pair at cosine ≥ threshold whose
    // other side dominates — exactly chunkDedup's keep = false set
    // (max(dominated flag) > 0 ⇔ at least one dominating pair), without
    // the n_dups/max_cosine mart columns
    val dominated = cellPairs(cc, threshold)
      .filter(Ann.dominates(col("fita"), col("ca"), col("fit"), col("chunk_id")))
      .select(col("chunk_id")).distinct()
      .localCheckpoint(false)
    (ch.join(dominated, Seq("chunk_id"), "left_anti"),
      base.join(dominated, Seq("chunk_id"), "left_anti"))
  }

  /** A serving index: chunk embeddings (chunk_id, p, nsq), postings
    * (word, chunk_id, tf, dl), the df table (word, df) and the (nn, sdl0)
    * stats row. Every part is either disjoint by key across document
    * partitions (embeddings, postings — chunking is per-document) or an
    * associative sum (df, nn, sdl0), which is what makes exact
    * incremental maintenance possible. */
  private type Parts = (DataFrame, DataFrame, DataFrame, DataFrame)

  /** Postings (word, chunk_id, tf, dl) of a chunk frame — over every
    * word, or only over `words` (a one-column `word` frame): the serving
    * form, whose restriction runs BEFORE the (word, chunk_id) aggregate
    * so only probe-word tokens reach the shuffle. */
  private def postingsOf(ch: DataFrame, words: Option[DataFrame]): DataFrame = {
    val ctoks = ch.select(col("chunk_id"),
      size(col("cwords")).cast("long").as("dl"),
      explode(col("cwords")).as("word"))
    words.fold(ctoks)(w => ctoks.join(broadcast(w), Seq("word")))
      .groupBy(col("word"), col("chunk_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** The parts of chunk frame `ch` with its embeddings and postings: df
    * counts the postings per word, stats aggregates the chunk frame. */
  private def partsOf(ch: DataFrame, ce: DataFrame, postings: DataFrame): Parts =
    (ce, postings, postings.groupBy(col("word")).agg(count(lit(1)).as("df")),
      ch.agg(count(lit(1)).as("nn"),
        sum(size(col("cwords")).cast("decimal(18,0)")).as("sdl0")))

  /** The full index parts of a chunk frame, PINNED at the expensive
    * boundaries — every caller evaluates each part more than once
    * (artifact stamping reads a part once for its content version and
    * once for the write; the delta merge materializes the frozen side
    * once per part). The chunk frame is checkpointed so the four parts
    * share ONE text scan + chunking, ce and postings (the two
    * corpus-scale parts, each behind its own shuffle) are checkpointed
    * themselves, and df/stats are cheap aggregates OVER the pinned
    * postings/chunks. Values are unchanged — a checkpoint is a plan
    * boundary, not a computation. */
  private[graft] def indexParts(ch0: DataFrame): Parts = {
    val ch = ch0.localCheckpoint(false)
    val ce = chunkEmbeds(ch).localCheckpoint(false)
    partsOf(ch, ce, postingsOf(ch, None).localCheckpoint(false))
  }

  /** Index source: every chunk. The chunk frame is pinned for its three
    * consumers (postings, stats, embeddings) — without a boundary each
    * re-runs the text scan + chunking from raw parquet. */
  private def allChunks(ww: DataFrame, factor: Long, pw: DataFrame): Parts = {
    val ch = chunksFrom(ww, factor).localCheckpoint(false)
    partsOf(ch, chunkEmbeds(ch), postingsOf(ch, Some(pw)))
  }

  /** Index source: the semantic-dedup SURVIVORS — the production serving
    * index. Dominated near-duplicate chunks drop BEFORE the arms, so
    * corpus stats (chunk count, avgdl, chunk-df), both candidate lists
    * and the cell arm's width reflect the deduped index. Survivor embeds
    * come from the dedup chain's own pinned embed base (anti-joined, not
    * re-embedded — [[survivorChunksAndCe]]). */
  private def survivors(threshold: Double)(ww: DataFrame, factor: Long,
                                           pw: DataFrame): Parts = {
    val (sch0, sce) = survivorChunksAndCe(ww, factor, threshold)
    val sch = sch0.localCheckpoint(false)
    partsOf(sch, sce, postingsOf(sch, Some(pw)))
  }

  /** Index source: INCREMENTAL maintenance — the 100 TB ingest shape. At
    * scale the serving index is a frozen artifact and a day's arrivals
    * are a fraction of a percent of it, so rebuilding every aggregate
    * from raw text is the wrong plan by three orders of magnitude. The
    * FROZEN base parts ([[indexParts]] of the non-delta documents — in
    * production, [[graft.sources.Artifacts]] loads) merge with the
    * freshly-computed parts of an arriving delta (doc_id ≡ 0 mod
    * `deltaMod`); both sides split the ONE pinned words frame. The merge
    * is exact, not approximate: chunk grains are disjoint (union),
    * df/nn/sdl are associative sums — so the served rows are BIT-EQUAL
    * to a full rebuild. */
  private def deltaParts(deltaMod: Long)(ww: DataFrame, factor: Long,
                                         pw: DataFrame): Parts = {
    val isDelta = col("doc_id") % deltaMod === 0
    val (fce, fpost, fdf, fstat) = indexParts(chunksFrom(ww.filter(!isDelta), factor))
    val (dce, dpost, ddf, dstat) = indexParts(chunksFrom(ww.filter(isDelta), factor))
    (fce.unionByName(dce), fpost.unionByName(dpost),
      fdf.unionByName(ddf).groupBy(col("word")).agg(sum(col("df")).as("df")),
      fstat.unionByName(dstat)
        .agg(sum(col("nn")).as("nn"), sum(col("sdl0")).as("sdl0")))
  }

  /** Index source: the artifact lifecycle at INDEX scale — the
    * q_bpe_subword_loaded pattern applied to the corpus-sized parts.
    * [[indexParts]] are built once and persisted, each STAMPED with its
    * [[graft.sources.Artifacts.distributedVersion]] (the
    * order-insensitive xxhash64 aggregate — no driver collect, so it
    * works on frames that grow with the corpus, which
    * [[graft.sources.Artifacts.artifactVersion]] by design cannot), then
    * reloaded with the stamp re-verified (corruption fails closed,
    * StorageSpec). */
  private def loadedParts(spark: SparkSession)(ww: DataFrame, factor: Long,
                                               pw: DataFrame): Parts = {
    val (ce, postings, dfAll, stats) = indexParts(chunksFrom(ww, factor))
    // removed at exit, not eagerly: the returned frames stay
    // parquet-backed until the caller's action
    val dir = graft.sources.Scratch.dir("graft-index-parts").toString
    val names = Seq("ce", "postings", "df", "stats")
    names.zip(Seq(ce, postings, dfAll, stats))
      .foreach { case (n, f) => graft.sources.Artifacts.saveLarge(f, dir, n) }
    val Seq(lce, lpost, ldf, lstat) =
      names.map(graft.sources.Artifacts.loadLarge(spark, dir, _)._1)
    (lce, lpost, ldf, lstat)
  }

  /** The ONE hybrid chunk serve: the BM25 arm ([[lexArm]]) and the
    * vector arm ([[vecArm]]) over one index, RRF-fused, deduped to one
    * chunk per source document and ranked. Each public entry is a
    * configuration of three choices:
    *  - the index `source` (pinned words frame, factor, probe words) =>
    *    parts: [[allChunks]], [[survivors]], [[deltaParts]] or
    *    [[loadedParts]];
    *  - the lexical arm's input form, fixed by the source: chunk-frame
    *    sources build postings and df from the chunk frame restricted to
    *    the probe words, part sources bring every word's;
    *  - the vector arm's candidate route, `hamming`.
    * The part sources serve bit-equal rows to the all-chunks rebuild
    * under the same vector arm (ServeMatrixSpec). */
  private def serve(documents: DataFrame, nProbes: Int, k: Int, kTerms: Int,
                    arm: Int, rrfK: Int, hamming: Option[Int])(
                    source: (DataFrame, Long, DataFrame) => Parts): DataFrame = {
    val ww = wordsFrame(documents)
    val factor = factorFrom(ww)
    val pt = Ann.probeTerms(TextPrep.withWords(documents.filter(col("text").isNotNull))
      .select(col("doc_id"), explode(col("words")).as("word")), nProbes, kTerms)
    val (ce, postings, dfAll, stats) = source(ww, factor, pt.select("word").distinct())
    rankServe(Ann.fuseArms(lexArm(postings, dfAll, stats, pt, arm, factor),
      vecArm(ce, documents, nProbes, arm, factor, hamming), rrfK, "chunk_id"), factor, k)
  }

  /** Top-k chunks per probe, at most one per document, over all chunks
    * with the brute-force vector arm — the reference every other source
    * and arm is checked against. */
  def chunkRetrieval(documents: DataFrame, nProbes: Int = 10, k: Int = 10,
                     kTerms: Int = 8, arm: Int = 50, rrfK: Int = 60): DataFrame =
    serve(documents, nProbes, k, kTerms, arm, rrfK, None)(allChunks)

  /** [[chunkRetrieval]] with the cell-route vector arm — the production
    * serving shape at corpus scale. Its own oracle mirrors the cell
    * route exactly (candidates = Hamming-≤2 cells, re-ranked), so the
    * key gates the PROMOTED plan, while Round14Spec pins that the served
    * lists preserve the brute-force arm's label precision. */
  def chunkRetrievalAnn(documents: DataFrame, nProbes: Int = 10, k: Int = 10,
                        kTerms: Int = 8, arm: Int = 50, rrfK: Int = 60,
                        hamming: Int = 2): DataFrame =
    serve(documents, nProbes, k, kTerms, arm, rrfK, Some(hamming))(allChunks)

  /** [[chunkRetrieval]] served from the semantic-dedup survivors.
    * Round13Spec pins that this preserves the full list's label
    * precision@k (the q_chunk_eval device) while serving fewer chunks. */
  def chunkServe(documents: DataFrame, nProbes: Int = 10, k: Int = 10,
                 kTerms: Int = 8, arm: Int = 50, rrfK: Int = 60,
                 threshold: Double = 0.95): DataFrame =
    serve(documents, nProbes, k, kTerms, arm, rrfK, None)(survivors(threshold))

  /** [[chunkServe]] with the cell-route arm — the deduped serving index
    * behind the promoted candidate fetch. */
  def chunkServeAnn(documents: DataFrame, nProbes: Int = 10, k: Int = 10,
                    kTerms: Int = 8, arm: Int = 50, rrfK: Int = 60,
                    threshold: Double = 0.95, hamming: Int = 2): DataFrame =
    serve(documents, nProbes, k, kTerms, arm, rrfK, Some(hamming))(survivors(threshold))

  /** [[chunkRetrieval]] served from frozen + delta parts; bit-equal to
    * the rebuild, so its oracle is [[chunkRetrieval]]'s verbatim. */
  def chunkDeltaServe(documents: DataFrame, nProbes: Int = 10, k: Int = 10,
                      kTerms: Int = 8, arm: Int = 50, rrfK: Int = 60,
                      deltaMod: Long = 17L): DataFrame =
    serve(documents, nProbes, k, kTerms, arm, rrfK, None)(deltaParts(deltaMod))

  /** [[chunkRetrievalAnn]] served from frozen + delta parts; the merged
    * ce is value-identical to the rebuild's embeddings, so the derived
    * width, cells and candidates are too and the oracle is
    * [[chunkRetrievalAnn]]'s verbatim. */
  def chunkDeltaServeAnn(documents: DataFrame, nProbes: Int = 10, k: Int = 10,
                         kTerms: Int = 8, arm: Int = 50, rrfK: Int = 60,
                         deltaMod: Long = 17L, hamming: Int = 2): DataFrame =
    serve(documents, nProbes, k, kTerms, arm, rrfK, Some(hamming))(deltaParts(deltaMod))

  /** [[chunkRetrieval]] served from parts persisted and reloaded with
    * their stamps verified; the oracle is [[chunkRetrieval]]'s verbatim:
    * a persisted index must serve bit-equal to the rebuild. */
  def chunkPartsLoaded(spark: SparkSession, documents: DataFrame,
                       nProbes: Int = 10, k: Int = 10, kTerms: Int = 8,
                       arm: Int = 50, rrfK: Int = 60): DataFrame =
    serve(documents, nProbes, k, kTerms, arm, rrfK, None)(loadedParts(spark))

  /** [[serve]] from parts built elsewhere (stream ingest, a parquet round
    * trip) at the default serving parameters; bit-equal to the rebuild
    * whenever the parts are [[indexParts]] of the same corpus. */
  private[graft] def serveFromParts(ce: DataFrame, postings: DataFrame,
                                    dfAll: DataFrame, stats: DataFrame,
                                    documents: DataFrame,
                                    hamming: Option[Int] = None): DataFrame =
    serve(documents, 10, 10, 8, 50, 60, hamming)((_, _, _) => (ce, postings, dfAll, stats))

  /** Chunk-grain vs doc-grain label-relevance precision@k — the serving
    * decision beside [[Ann.hybridEval]]: does passage retrieval with
    * doc dedup preserve the doc-grain hybrid list's precision? Per
    * probe: size and p@k of the deduped chunk list (labels via the
    * chunk's source document) against the same for [[Ann.hybridRrf]]'s
    * doc list. Cost bounded by probes × k on top of the two lists. */
  def chunkEval(documents: DataFrame, embeddings: DataFrame,
                nProbes: Int = 10, k: Int = 10, kTerms: Int = 8,
                arm: Int = 50, rrfK: Int = 60): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    val probeLab = labels.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("pl_id"), col("label").as("plabel"))
    def prec(list: DataFrame, docCol: String, nm: String): DataFrame =
      list.join(broadcast(labels.withColumnRenamed("vec_id", "cand_id")),
          col(docCol) === col("cand_id"))
        .join(broadcast(probeLab), col("probe_id") === col("pl_id"))
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as(s"n_$nm"),
          sum((col("label") === col("plabel")).cast("long")).as(s"${nm}_hits"))
        .select(col("probe_id"), col(s"n_$nm"),
          r6(try_divide(col(s"${nm}_hits").cast("double"), col(s"n_$nm")))
            .as(s"p_$nm"))
    // the two retrieval lists are INDEPENDENT pipelines (chunk-grain
    // retrieval vs doc-grain hybrid) that previously ran back to back;
    // materialize both from two driver threads so each one's stage tail
    // back-fills the other's idle capacity (the bpeSampleEval overlap
    // device — disjoint lineages, deterministic values). The eager
    // checkpoints are ≤ nProbes rows each.
    val (c, d) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val f = Future(prec(chunkRetrieval(documents, nProbes, k, kTerms, arm,
        rrfK), "doc_id", "chunk").localCheckpoint())
      val g = Future(prec(Ann.hybridRrf(documents, embeddings, nProbes, k,
        kTerms, arm, rrfK), "doc_id", "doc").localCheckpoint())
      (Await.result(f, Duration.Inf), Await.result(g, Duration.Inf))
    }
    c.join(d, Seq("probe_id"), "full_outer").orderBy("probe_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk_retrieval" -> ((s, d) => chunkRetrieval(Tables.documents(s, d))),
    "q_chunk_eval" -> ((s, d) =>
      chunkEval(Tables.documents(s, d), Ann.loadEmb(s, d))),
    "q_chunk_dedup" -> ((s, d) => chunkDedup(Tables.documents(s, d))),
    "q_chunk_serve" -> ((s, d) => chunkServe(Tables.documents(s, d))),
    "q_chunk_dedup_banded" -> ((s, d) => chunkBandedDedup(Tables.documents(s, d))),
    "q_dedup_recall" -> ((s, d) => dedupRecall(Tables.documents(s, d))),
    "q_chunk_delta_serve" -> ((s, d) => chunkDeltaServe(Tables.documents(s, d))),
    "q_chunk_ann_eval" -> ((s, d) => chunkAnnEval(Tables.documents(s, d))),
    "q_chunk_retrieval_ann" -> ((s, d) => chunkRetrievalAnn(Tables.documents(s, d))),
    "q_chunk_parts_loaded" -> ((s, d) => chunkPartsLoaded(s, Tables.documents(s, d))),
    "q_chunk_dedup_mp" -> ((s, d) => chunkMpDedup(Tables.documents(s, d))),
    "q_chunk_serve_ann" -> ((s, d) => chunkServeAnn(Tables.documents(s, d))),
    "q_chunk_delta_serve_ann" -> ((s, d) => chunkDeltaServeAnn(Tables.documents(s, d))),
    "q_chunk_dup_clusters" -> ((s, d) => chunkDupClusters(Tables.documents(s, d))),
    "q_chunk_survivors" -> ((s, d) => chunkSurvivors(Tables.documents(s, d)))
  )

  private val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** The bucket/sign fragments of the md5 hashing-trick device (the
    * q_feature_hashing oracle's). */
  private val bucketSql =
    "((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 + " +
      "instr('0123456789abcdef', substr(hx, 2, 1)) - 1) % 64"
  private val sgnSql =
    "CASE WHEN (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) % 2 = 0 THEN 1 ELSE -1 END"

  private def projArr(j: Int): String =
    (0 until dims).map(Embeddings.projSign(_, j)).mkString("[", ",", "]")

  /** Shared oracle chain: chunk grain → hash/JL embeddings → both arms →
    * fusion → doc dedup; ends at `kfin(probe_id, chunk_id, lex_rank,
    * vec_rank, rrf, rank)` already doc-deduped and ranked. */
  private lazy val chunkCtes: String = {
    val pCols = (0 until outDims).map(j =>
      s"CAST(SUM(sgn * list_extract(${projArr(j)}, CAST(bucket AS INT) + 1)) AS BIGINT) AS p$j")
      .mkString(",\n             ")
    val qCols = (0 until outDims).map(j => s"p$j AS q$j").mkString(", ")
    val nsq = (0 until outDims).map(j => s"p$j * p$j").mkString(" + ")
    val dotPq = (0 until outDims).map(j => s"c.p$j * e.q$j").mkString(" + ")
    s"""kw AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents
           WHERE text IS NOT NULL AND $normSql <> ''),
         kch AS (SELECT doc_id, doc_id * $minChunkFactor + st.s // $stride AS chunk_id,
             list_slice(words, CAST(st.s AS INT) + 1, CAST(st.s AS INT) + $width) AS cwords
           FROM kw, LATERAL (SELECT UNNEST(range(0, len(words), $stride)) AS s) st),
         ktok AS (SELECT doc_id, chunk_id, CAST(len(cwords) AS BIGINT) AS dl,
             unnest(cwords) AS word FROM kch),
         kcb AS (SELECT chunk_id, $bucketSql AS bucket, $sgnSql AS sgn
           FROM (SELECT chunk_id, md5(word) AS hx FROM ktok)),
         kce0 AS (SELECT chunk_id,
             $pCols
           FROM kcb GROUP BY 1),
         kce AS (SELECT *, CAST($nsq AS BIGINT) AS nsq FROM kce0 WHERE $nsq > 0),
         kpw AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS word
           FROM documents
           WHERE text IS NOT NULL AND $normSql <> '' AND doc_id < 10),
         kpb AS (SELECT doc_id, $bucketSql AS bucket, $sgnSql AS sgn
           FROM (SELECT doc_id, md5(word) AS hx FROM kpw)),
         kpe0 AS (SELECT doc_id,
             $pCols
           FROM kpb GROUP BY 1),
         kpe AS (SELECT doc_id AS probe_id, $qCols, CAST($nsq AS BIGINT) AS pnsq
           FROM kpe0 WHERE $nsq > 0),
         kvs AS (SELECT e.probe_id, c.chunk_id,
             FLOOR(CAST($dotPq AS DOUBLE)
               / (sqrt(CAST(c.nsq AS DOUBLE)) * sqrt(CAST(e.pnsq AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 AS cosine
           FROM kce c, kpe e WHERE c.chunk_id // $minChunkFactor <> e.probe_id),
         kvr AS (SELECT probe_id, chunk_id, ROW_NUMBER() OVER
             (PARTITION BY probe_id ORDER BY cosine DESC, chunk_id) AS vec_rank
           FROM kvs),
         kvarm AS (SELECT * FROM kvr WHERE vec_rank <= 50),
         kdt AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS word
           FROM documents WHERE text IS NOT NULL AND $normSql <> ''),
         kpt0 AS (SELECT doc_id AS probe_id, word, CAST(COUNT(*) AS BIGINT) AS ptf
           FROM kdt WHERE doc_id < 10
             AND word NOT IN (${TextPrep.stopEnSql})
           GROUP BY 1, 2),
         kptk AS (SELECT probe_id, word FROM (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY ptf DESC, word) AS rn
           FROM kpt0) WHERE rn <= 8),
         kdfw AS (SELECT word, CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS df FROM ktok
           WHERE word IN (SELECT DISTINCT word FROM kptk) GROUP BY 1),
         kst AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CAST(len(cwords) AS HUGEINT)) AS DOUBLE) AS sdl FROM kch),
         ktfd AS (SELECT kptk.probe_id, ktok.chunk_id, ktok.word,
             CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
           FROM ktok JOIN kptk ON ktok.word = kptk.word AND ktok.doc_id <> kptk.probe_id
           GROUP BY 1, 2, 3),
         ksc AS (SELECT t.probe_id, t.chunk_id,
             ${TextPrep.bm25ContribSql("t.tf", "d.df", "t.dl", "kst.nn", "(kst.sdl / kst.nn)")} AS contrib
           FROM ktfd t JOIN kdfw d ON t.word = d.word, kst),
         kls AS (SELECT probe_id, chunk_id,
             ${sqlR("CAST(SUM(CAST(contrib AS DECIMAL(20,12))) AS DOUBLE)", 6)} AS score
           FROM ksc GROUP BY 1, 2),
         klr AS (SELECT probe_id, chunk_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, chunk_id) AS lex_rank
           FROM kls),
         klarm AS (SELECT * FROM klr WHERE lex_rank <= 50),
         kfus AS (SELECT COALESCE(l.probe_id, v.probe_id) AS probe_id,
             COALESCE(l.chunk_id, v.chunk_id) AS chunk_id, l.lex_rank, v.vec_rank,
             COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0) +
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0.0) AS rrf
           FROM klarm l FULL OUTER JOIN kvarm v
             ON l.probe_id = v.probe_id AND l.chunk_id = v.chunk_id),
         kdd AS (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY probe_id, chunk_id // $minChunkFactor ORDER BY rrf DESC, chunk_id) AS dr
           FROM kfus),
         kfin AS (SELECT probe_id, chunk_id, lex_rank, vec_rank, rrf,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rrf DESC, chunk_id) AS rank
           FROM kdd WHERE dr = 1)"""
  }

  /** Dedup CTEs over `kce` (the chunk embeddings of [[chunkCtes]]):
    * sign-LSH cell → exact integer cell-sum centroid → fit → within-
    * cell dup pairs at the threshold → per-chunk verdict. Ends at
    * `dmart` (the q_chunk_dedup row shape) and `ddom` (dominated
    * chunk ids, the serve filter). */
  private val dedupThresholdSql = "CAST(0.95 AS DOUBLE)"

  /** The cellBitsFor integer-threshold ladder as SQL over a column `n`
    * — shared by every oracle that derives the adaptive cell width. */
  private def bitsLadderSql: String = "CASE " + (minCellBits until maxCellBits)
    .map(b => s"WHEN n <= ${cellOcc << b} THEN $b").mkString(" ") +
    s" ELSE $maxCellBits END"

  /** Sign-LSH cell SQL from columns `${src}0..` gated by the derived
    * width `db.b` — bit j participates only when j < b. */
  private def cellLadderSql(src: String): String = (0 until maxCellBits)
    .map(j => s"(CASE WHEN $j < db.b AND $src$j >= 0 THEN ${1L << j} ELSE 0 END)")
    .mkString(" + ")

  private lazy val dedupCtes: String = {
    val bitsSql = bitsLadderSql
    val cellSql = (0 until maxCellBits).map(j =>
      s"(CASE WHEN $j < db.b AND p$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val sCols = (0 until outDims).map(j => s"CAST(SUM(p$j) AS BIGINT) AS s$j")
      .mkString(", ")
    val snsq = (0 until outDims).map(j => s"s$j * s$j").mkString(" + ")
    val dotPs = (0 until outDims).map(j => s"c.p$j * m.s$j").mkString(" + ")
    val cPs = (0 until outDims).map(j => s"c.p$j").mkString(", ")
    val dotAb = (0 until outDims).map(j => s"a.p$j * b.p$j").mkString(" + ")
    s"""dbits AS (SELECT $bitsSql AS b
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM kce)),
         dcell AS (SELECT chunk_id, ${(0 until outDims).map(j => s"p$j").mkString(", ")}, nsq,
             CAST($cellSql AS BIGINT) AS cell FROM kce, dbits db),
         dsum0 AS (SELECT cell, $sCols FROM dcell GROUP BY 1),
         dsum AS (SELECT *, CAST($snsq AS BIGINT) AS snsq FROM dsum0),
         dfit AS (SELECT c.chunk_id, c.cell, $cPs, c.nsq,
             CASE WHEN m.snsq = 0 THEN 0.0
                  ELSE ${sqlR(s"CAST($dotPs AS DOUBLE) / (sqrt(CAST(c.nsq AS DOUBLE)) * sqrt(CAST(m.snsq AS DOUBLE)))", 6)}
             END AS fit
           FROM dcell c JOIN dsum m ON c.cell = m.cell),
         dpair AS (SELECT a.chunk_id, b.chunk_id AS cb, a.fit AS fa, b.fit AS fb,
             ${sqlR(s"CAST($dotAb AS DOUBLE) / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))", 6)} AS cosine
           FROM dfit a JOIN dfit b ON a.cell = b.cell AND a.chunk_id <> b.chunk_id),
         dagg AS (SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
             MAX(cosine) AS max_dup_cosine,
             MAX(CASE WHEN fb < fa OR (fb = fa AND cb < chunk_id) THEN 1 ELSE 0 END) AS dominated
           FROM dpair WHERE cosine >= $dedupThresholdSql GROUP BY 1),
         ddom AS (SELECT chunk_id FROM dagg WHERE dominated = 1),
         dmart AS (SELECT CAST(f.chunk_id // $minChunkFactor AS BIGINT) AS doc_id,
             f.chunk_id, f.cell, f.fit,
             COALESCE(g.n_dups, CAST(0 AS BIGINT)) AS n_dups, g.max_dup_cosine,
             (COALESCE(g.dominated, 0) = 0) AS keep
           FROM dfit f LEFT JOIN dagg g ON f.chunk_id = g.chunk_id)"""
  }

  /** Banded-dedup CTEs over `kcb` (the per-token bucket/sign rows of
    * [[chunkCtes]]): the mpBandCount·16-coordinate wide projection (first 16 ≡ kce's
    * p), the derived band width, 3 band values per chunk, shared-band
    * candidate pairs deduplicated across bands, and the verdict mart.
    * Ends at `bmart`; also emits `bfit` (per-chunk p/nsq/fit + the 3
    * band values as columns b0..b{mpBandCount-1}) which the recall mart reuses. */
  private lazy val bandedCtes: String = {
    val pCols48 = (0 until bandDims).map(j =>
      s"CAST(SUM(sgn * list_extract(${projArr(j)}, CAST(bucket AS INT) + 1)) AS BIGINT) AS p$j")
      .mkString(",\n             ")
    val nsq16 = (0 until outDims).map(j => s"p$j * p$j").mkString(" + ")
    val bitsSql = bitsLadderSql
    def bandVal(k: Int) = (0 until maxCellBits).map(j =>
      s"(CASE WHEN $j < db.b AND p${k * outDims + j} >= 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val sCols = (0 until outDims).map(j => s"CAST(SUM(p$j) AS BIGINT) AS s$j")
      .mkString(", ")
    val snsq = (0 until outDims).map(j => s"s$j * s$j").mkString(" + ")
    val dotPs = (0 until outDims).map(j => s"c.p$j * m.s$j").mkString(" + ")
    val cPs = (0 until outDims).map(j => s"c.p$j").mkString(", ")
    val dotAb = (0 until outDims).map(j => s"fx.p$j * fy.p$j").mkString(" + ")
    s"""bce0 AS (SELECT chunk_id, $pCols48 FROM kcb GROUP BY 1),
         bce AS (SELECT *, CAST($nsq16 AS BIGINT) AS nsq FROM bce0 WHERE $nsq16 > 0),
         bbits AS (SELECT $bitsSql AS b
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bce)),
         bcell AS (SELECT chunk_id,
             ${(0 until outDims).map(j => s"p$j").mkString(", ")}, nsq,
             CAST(${bandVal(0)} AS BIGINT) AS cell,
             ${(0 until mpBandCount).map(k => s"CAST(${bandVal(k)} AS BIGINT) AS b$k").mkString(", ")}
           FROM bce, bbits db),
         bsum0 AS (SELECT cell, $sCols FROM bcell GROUP BY 1),
         bsum AS (SELECT *, CAST($snsq AS BIGINT) AS snsq FROM bsum0),
         bfit AS (SELECT c.chunk_id, c.cell,
             ${(0 until mpBandCount).map(k => s"c.b$k").mkString(", ")}, $cPs, c.nsq,
             CASE WHEN m.snsq = 0 THEN 0.0
                  ELSE ${sqlR(s"CAST($dotPs AS DOUBLE) / (sqrt(CAST(c.nsq AS DOUBLE)) * sqrt(CAST(m.snsq AS DOUBLE)))", 6)}
             END AS fit
           FROM bcell c JOIN bsum m ON c.cell = m.cell),
         bband AS (${(0 until bandCount).map(k =>
             s"SELECT chunk_id, $k AS band_k, b$k AS band_v FROM bfit")
           .mkString(" UNION ALL ")}),
         bpr0 AS (SELECT fx.chunk_id, fy.chunk_id AS cb, fx.fit AS fa, fy.fit AS fb,
             ${sqlR(s"CAST($dotAb AS DOUBLE) / (sqrt(CAST(fx.nsq AS DOUBLE)) * sqrt(CAST(fy.nsq AS DOUBLE)))", 6)} AS cosine
           FROM bband x JOIN bband y
             ON x.band_k = y.band_k AND x.band_v = y.band_v AND x.chunk_id <> y.chunk_id
           JOIN bfit fx ON fx.chunk_id = x.chunk_id
           JOIN bfit fy ON fy.chunk_id = y.chunk_id),
         bpair AS (SELECT DISTINCT chunk_id, cb, fa, fb, cosine FROM bpr0
           WHERE cosine >= $dedupThresholdSql),
         bagg AS (SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
             MAX(cosine) AS max_dup_cosine,
             MAX(CASE WHEN fb < fa OR (fb = fa AND cb < chunk_id) THEN 1 ELSE 0 END) AS dominated
           FROM bpair GROUP BY 1),
         bmart AS (SELECT CAST(f.chunk_id // $minChunkFactor AS BIGINT) AS doc_id,
             f.chunk_id, f.cell, f.fit,
             COALESCE(g.n_dups, CAST(0 AS BIGINT)) AS n_dups, g.max_dup_cosine,
             (COALESCE(g.dominated, 0) = 0) AS keep
           FROM bfit f LEFT JOIN bagg g ON f.chunk_id = g.chunk_id)"""
  }

  /** Multi-probe dedup tail over [[bandedCtes]]' `bband`/`bfit`:
    * candidate pairs = any shared band WITHIN HAMMING 1 (the
    * [[chunkMpDedup]] rule), verdicts verbatim. Ends at `mmart`. */
  private lazy val mpCtes: String = {
    val dotAb = (0 until outDims).map(j => s"fx.p$j * fy.p$j").mkString(" + ")
    s"""mpband AS (${(0 until mpBandCount).map(k =>
             s"SELECT chunk_id, $k AS band_k, b$k AS band_v FROM bfit")
           .mkString(" UNION ALL ")}),
       mpr0 AS (SELECT fx.chunk_id, fy.chunk_id AS cb, fx.fit AS fa, fy.fit AS fb,
           ${sqlR(s"CAST($dotAb AS DOUBLE) / (sqrt(CAST(fx.nsq AS DOUBLE)) * sqrt(CAST(fy.nsq AS DOUBLE)))", 6)} AS cosine
         FROM mpband x JOIN mpband y
           ON x.band_k = y.band_k AND bit_count(xor(x.band_v, y.band_v)) <= 1
             AND x.chunk_id <> y.chunk_id
         JOIN bfit fx ON fx.chunk_id = x.chunk_id
         JOIN bfit fy ON fy.chunk_id = y.chunk_id),
       mpair AS (SELECT DISTINCT chunk_id, cb, fa, fb, cosine FROM mpr0
         WHERE cosine >= $dedupThresholdSql),
       magg AS (SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
           MAX(cosine) AS max_dup_cosine,
           MAX(CASE WHEN fb < fa OR (fb = fa AND cb < chunk_id) THEN 1 ELSE 0 END) AS dominated
         FROM mpair GROUP BY 1),
       mmart AS (SELECT CAST(f.chunk_id // $minChunkFactor AS BIGINT) AS doc_id,
           f.chunk_id, f.cell, f.fit,
           COALESCE(g.n_dups, CAST(0 AS BIGINT)) AS n_dups, g.max_dup_cosine,
           (COALESCE(g.dominated, 0) = 0) AS keep
         FROM bfit f LEFT JOIN magg g ON f.chunk_id = g.chunk_id)"""
  }

  /** The arm/fusion chain of [[chunkCtes]] parameterized over its chunk
    * sources — `ch` (chunk grain) and `ce` (chunk embeddings) — so the
    * SAME retrieval SQL can run over the full index or the dedup
    * survivors. Shares the probe-side CTEs (kpe, kptk) of the base
    * chain; emits `${pfx}kfin`. */
  private def armCtes(pfx: String, ch: String, ce: String): String = {
    val dotPq = (0 until outDims).map(j => s"c.p$j * e.q$j").mkString(" + ")
    s"""${pfx}ktok AS (SELECT doc_id, chunk_id, CAST(len(cwords) AS BIGINT) AS dl,
             unnest(cwords) AS word FROM $ch),
         ${pfx}kvs AS (SELECT e.probe_id, c.chunk_id,
             FLOOR(CAST($dotPq AS DOUBLE)
               / (sqrt(CAST(c.nsq AS DOUBLE)) * sqrt(CAST(e.pnsq AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 AS cosine
           FROM $ce c, kpe e WHERE c.chunk_id // $minChunkFactor <> e.probe_id),
         ${pfx}kvr AS (SELECT probe_id, chunk_id, ROW_NUMBER() OVER
             (PARTITION BY probe_id ORDER BY cosine DESC, chunk_id) AS vec_rank
           FROM ${pfx}kvs),
         ${pfx}kvarm AS (SELECT * FROM ${pfx}kvr WHERE vec_rank <= 50),
         ${pfx}kdfw AS (SELECT word, CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS df FROM ${pfx}ktok
           WHERE word IN (SELECT DISTINCT word FROM kptk) GROUP BY 1),
         ${pfx}kst AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CAST(len(cwords) AS HUGEINT)) AS DOUBLE) AS sdl FROM $ch),
         ${pfx}ktfd AS (SELECT kptk.probe_id, t.chunk_id, t.word,
             CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
           FROM ${pfx}ktok t JOIN kptk ON t.word = kptk.word AND t.doc_id <> kptk.probe_id
           GROUP BY 1, 2, 3),
         ${pfx}ksc AS (SELECT t.probe_id, t.chunk_id,
             ${TextPrep.bm25ContribSql("t.tf", "d.df", "t.dl", s"${pfx}kst.nn", s"(${pfx}kst.sdl / ${pfx}kst.nn)")} AS contrib
           FROM ${pfx}ktfd t JOIN ${pfx}kdfw d ON t.word = d.word, ${pfx}kst),
         ${pfx}kls AS (SELECT probe_id, chunk_id,
             ${sqlR("CAST(SUM(CAST(contrib AS DECIMAL(20,12))) AS DOUBLE)", 6)} AS score
           FROM ${pfx}ksc GROUP BY 1, 2),
         ${pfx}klr AS (SELECT probe_id, chunk_id,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, chunk_id) AS lex_rank
           FROM ${pfx}kls),
         ${pfx}klarm AS (SELECT * FROM ${pfx}klr WHERE lex_rank <= 50),
         ${pfx}kfus AS (SELECT COALESCE(l.probe_id, v.probe_id) AS probe_id,
             COALESCE(l.chunk_id, v.chunk_id) AS chunk_id, l.lex_rank, v.vec_rank,
             COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0) +
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0.0) AS rrf
           FROM ${pfx}klarm l FULL OUTER JOIN ${pfx}kvarm v
             ON l.probe_id = v.probe_id AND l.chunk_id = v.chunk_id),
         ${pfx}kdd AS (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY probe_id, chunk_id // $minChunkFactor ORDER BY rrf DESC, chunk_id) AS dr
           FROM ${pfx}kfus),
         ${pfx}kfin AS (SELECT probe_id, chunk_id, lex_rank, vec_rank, rrf,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rrf DESC, chunk_id) AS rank
           FROM ${pfx}kdd WHERE dr = 1)"""
  }

  /** The q_chunk_retrieval oracle — also q_chunk_delta_serve's
    * VERBATIM: the delta merge is exact (disjoint unions + associative
    * sums), so incremental serving must equal the full rebuild
    * bit-for-bit, and sharing the string makes that the gate. */
  private lazy val retrievalOracle: String =
    s"""WITH $chunkCtes
       SELECT probe_id, CAST(rank AS INT) AS rank,
         CAST(chunk_id // $minChunkFactor AS BIGINT) AS doc_id, chunk_id,
         ${sqlR("rrf", 6)} AS rrf_score,
         CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
       FROM kfin WHERE rank <= 10 ORDER BY probe_id, rank"""

  /** The q_chunk_retrieval_ann oracle — also q_chunk_delta_serve_ann's
    * VERBATIM (the parts merge is exact, so incremental ANN serving
    * must equal the from-scratch ANN retrieval bit-for-bit): the
    * Hamming-2 cell candidates re-ranked, then the verbatim
    * fusion/dedup/rank tail over the same lexical arm. */
  private lazy val retrievalAnnOracle: String =
    s"""WITH $chunkCtes,
       nbit AS (SELECT $bitsLadderSql AS b
         FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM kce)),
       ncc AS (SELECT chunk_id, CAST(${cellLadderSql("p")} AS BIGINT) AS cell
         FROM kce, nbit db),
       npc AS (SELECT probe_id, CAST(${cellLadderSql("q")} AS BIGINT) AS pcell
         FROM kpe, nbit db),
       ncand AS (SELECT v.probe_id, v.chunk_id, v.cosine
         FROM kvs v JOIN ncc c ON c.chunk_id = v.chunk_id
           JOIN npc p ON p.probe_id = v.probe_id
         WHERE bit_count(xor(c.cell, p.pcell)) <= 2),
       nvr AS (SELECT probe_id, chunk_id, ROW_NUMBER() OVER
           (PARTITION BY probe_id ORDER BY cosine DESC, chunk_id) AS vec_rank
         FROM ncand),
       nvarm AS (SELECT * FROM nvr WHERE vec_rank <= 50),
       nfus AS (SELECT COALESCE(l.probe_id, v.probe_id) AS probe_id,
           COALESCE(l.chunk_id, v.chunk_id) AS chunk_id, l.lex_rank, v.vec_rank,
           COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0) +
             COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0.0) AS rrf
         FROM klarm l FULL OUTER JOIN nvarm v
           ON l.probe_id = v.probe_id AND l.chunk_id = v.chunk_id),
       ndd AS (SELECT *, ROW_NUMBER() OVER
           (PARTITION BY probe_id, chunk_id // $minChunkFactor ORDER BY rrf DESC, chunk_id) AS dr
         FROM nfus),
       nfin AS (SELECT probe_id, chunk_id, lex_rank, vec_rank, rrf,
           ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rrf DESC, chunk_id) AS rank
         FROM ndd WHERE dr = 1)
       SELECT probe_id, CAST(rank AS INT) AS rank,
         CAST(chunk_id // $minChunkFactor AS BIGINT) AS doc_id, chunk_id,
         ${sqlR("rrf", 6)} AS rrf_score,
         CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
       FROM nfin WHERE rank <= 10 ORDER BY probe_id, rank"""

  // NOTE: every oracle below pins the REGISTERED defaults of its Scala
  // twin (k = 10, arm = 50, rrfK = 60, kTerms = 8, hamming = 2,
  // threshold = 0.95, bandCount = 3); a non-default call is a dev-seam
  // exercise, not a gated surface. Structural constants that derive
  // from code (bandCount, the bits ladder) are INTERPOLATED, not
  // hardcoded, so changing them cannot desync mart and oracle.
  val oracles: Map[String, String] = Map(
    "q_chunk_retrieval" -> retrievalOracle,
    "q_chunk_delta_serve" -> retrievalOracle,
    // a persisted, stamp-verified index must serve bit-equal to the
    // rebuild — the verbatim oracle IS the gate
    "q_chunk_parts_loaded" -> retrievalOracle,
    // the PROMOTED cell-route arm: candidates = chunks whose adaptive
    // sign-LSH cell is within Hamming-2 of the probe's, exact cosine
    // re-rank, then the verbatim fusion/dedup/rank tail over the same
    // lexical arm; ALSO q_chunk_delta_serve_ann's VERBATIM — the parts
    // merge is exact, so incremental ANN serving must equal the
    // from-scratch ANN retrieval bit-for-bit
    "q_chunk_retrieval_ann" -> retrievalAnnOracle,
    "q_chunk_delta_serve_ann" -> retrievalAnnOracle,
    // the deduped serving index behind the cell-route arm: survivors
    // feed BOTH arms, the width derives from the survivor count
    "q_chunk_serve_ann" ->
      s"""WITH $chunkCtes, $dedupCtes,
         skch AS (SELECT * FROM kch
           WHERE chunk_id NOT IN (SELECT chunk_id FROM ddom)),
         skce AS (SELECT * FROM kce
           WHERE chunk_id NOT IN (SELECT chunk_id FROM ddom)),
         ${armCtes("s", "skch", "skce")},
         snbit AS (SELECT $bitsLadderSql AS b
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM skce)),
         sncc AS (SELECT chunk_id, CAST(${cellLadderSql("p")} AS BIGINT) AS cell
           FROM skce, snbit db),
         snpc AS (SELECT probe_id, CAST(${cellLadderSql("q")} AS BIGINT) AS pcell
           FROM kpe, snbit db),
         sncand AS (SELECT v.probe_id, v.chunk_id, v.cosine
           FROM skvs v JOIN sncc c ON c.chunk_id = v.chunk_id
             JOIN snpc p ON p.probe_id = v.probe_id
           WHERE bit_count(xor(c.cell, p.pcell)) <= 2),
         snvr AS (SELECT probe_id, chunk_id, ROW_NUMBER() OVER
             (PARTITION BY probe_id ORDER BY cosine DESC, chunk_id) AS vec_rank
           FROM sncand),
         snvarm AS (SELECT * FROM snvr WHERE vec_rank <= 50),
         snfus AS (SELECT COALESCE(l.probe_id, v.probe_id) AS probe_id,
             COALESCE(l.chunk_id, v.chunk_id) AS chunk_id, l.lex_rank, v.vec_rank,
             COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0) +
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), 0.0) AS rrf
           FROM sklarm l FULL OUTER JOIN snvarm v
             ON l.probe_id = v.probe_id AND l.chunk_id = v.chunk_id),
         sndd AS (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY probe_id, chunk_id // $minChunkFactor ORDER BY rrf DESC, chunk_id) AS dr
           FROM snfus),
         snfin AS (SELECT probe_id, chunk_id, lex_rank, vec_rank, rrf,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rrf DESC, chunk_id) AS rank
           FROM sndd WHERE dr = 1)
         SELECT probe_id, CAST(rank AS INT) AS rank,
           CAST(chunk_id // $minChunkFactor AS BIGINT) AS doc_id, chunk_id,
           ${sqlR("rrf", 6)} AS rrf_score,
           CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
         FROM snfin WHERE rank <= 10 ORDER BY probe_id, rank""",
    "q_chunk_dedup_banded" ->
      s"""WITH $chunkCtes, $bandedCtes
         SELECT doc_id, chunk_id, cell, fit, n_dups, max_dup_cosine, keep
         FROM bmart ORDER BY chunk_id""",
    "q_chunk_dedup_mp" ->
      s"""WITH $chunkCtes, $bandedCtes, $mpCtes
         SELECT doc_id, chunk_id, cell, fit, n_dups, max_dup_cosine, keep
         FROM mmart ORDER BY chunk_id""",
    // transitive closure of the multiprobe-verified pair graph: the
    // doc-grain q_dedup_clusters recursive-reachability device over
    // mpair (which already carries both orientations)
    "q_chunk_dup_clusters" ->
      s"""WITH RECURSIVE $chunkCtes, $bandedCtes, $mpCtes,
         ce2 AS (SELECT chunk_id AS s, cb AS d FROM mpair
                 UNION SELECT cb, chunk_id FROM mpair),
         cnodes AS (SELECT DISTINCT s AS id FROM ce2),
         creach(id, label) AS (
           SELECT id, id FROM cnodes
           UNION
           SELECT ce2.s, r.label FROM ce2 JOIN creach r ON ce2.d = r.id)
         SELECT id AS chunk_id, CAST(MIN(label) AS BIGINT) AS cluster_id,
           MIN(label) <> id AS is_duplicate
         FROM creach GROUP BY id ORDER BY chunk_id""",
    // survivors = the cluster labels LEFT-joined back onto every
    // embeddable chunk (bfit), singletons defaulting to their own id —
    // the q_dedup_survivors device over the mpair closure
    "q_chunk_survivors" ->
      s"""WITH RECURSIVE $chunkCtes, $bandedCtes, $mpCtes,
         ce2 AS (SELECT chunk_id AS s, cb AS d FROM mpair
                 UNION SELECT cb, chunk_id FROM mpair),
         cnodes AS (SELECT DISTINCT s AS id FROM ce2),
         creach(id, label) AS (
           SELECT id, id FROM cnodes
           UNION
           SELECT ce2.s, r.label FROM ce2 JOIN creach r ON ce2.d = r.id),
         clab AS (SELECT id, CAST(MIN(label) AS BIGINT) AS cl_id
           FROM creach GROUP BY id),
         call AS (SELECT f.chunk_id,
             COALESCE(c.cl_id, f.chunk_id) AS cluster_id
           FROM bfit f LEFT JOIN clab c ON c.id = f.chunk_id),
         csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM call GROUP BY 1)
         SELECT CAST(a.chunk_id // $minChunkFactor AS BIGINT) AS doc_id,
           a.chunk_id, a.cluster_id, z.cluster_size,
           a.chunk_id = a.cluster_id AS keep
         FROM call a JOIN csz z ON a.cluster_id = z.cluster_id
         ORDER BY a.chunk_id""",
    "q_chunk_ann_eval" ->
      s"""WITH $chunkCtes,
         abit AS (SELECT $bitsLadderSql AS b
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM kce)),
         acc AS (SELECT chunk_id, CAST(${cellLadderSql("p")} AS BIGINT) AS cell
           FROM kce, abit db),
         apc AS (SELECT probe_id, CAST(${cellLadderSql("q")} AS BIGINT) AS pcell
           FROM kpe, abit db),
         acand AS (SELECT v.probe_id, v.chunk_id, v.cosine
           FROM kvs v JOIN acc c ON c.chunk_id = v.chunk_id
             JOIN apc p ON p.probe_id = v.probe_id
           WHERE bit_count(xor(c.cell, p.pcell)) <= 2),
         alr AS (SELECT probe_id, chunk_id, ROW_NUMBER() OVER
             (PARTITION BY probe_id ORDER BY cosine DESC, chunk_id) AS rn
           FROM acand),
         alsh AS (SELECT probe_id, chunk_id FROM alr WHERE rn <= 10),
         aex AS (SELECT probe_id, chunk_id FROM kvr WHERE vec_rank <= 10),
         anc AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_cand
           FROM acand GROUP BY 1),
         anx AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM aex GROUP BY 1),
         anh AS (SELECT l.probe_id, CAST(COUNT(*) AS BIGINT) AS n_hits
           FROM alsh l JOIN aex e
             ON e.probe_id = l.probe_id AND e.chunk_id = l.chunk_id
           GROUP BY 1)
         SELECT kp.probe_id,
           COALESCE(anc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
           COALESCE(anx.n_exact, CAST(0 AS BIGINT)) AS n_exact,
           COALESCE(anh.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           CASE WHEN COALESCE(anx.n_exact, 0) = 0 THEN NULL
                ELSE ${sqlR("CAST(COALESCE(anh.n_hits, 0) AS DOUBLE) / anx.n_exact", 6)}
           END AS recall
         FROM (SELECT DISTINCT probe_id FROM kpe) kp
           LEFT JOIN anc ON anc.probe_id = kp.probe_id
           LEFT JOIN anx ON anx.probe_id = kp.probe_id
           LEFT JOIN anh ON anh.probe_id = kp.probe_id
         ORDER BY kp.probe_id""",
    "q_dedup_recall" -> {
      val dotAb = (0 until outDims).map(j => s"a.p$j * b.p$j").mkString(" + ")
      // hit predicates generated from the band constants, mirroring the
      // Spark side: cell = band 0 exact, banded = any of the 3 exact
      // bands, multiprobe = any of the mpBandCount mp bands within Hamming 1
      val bandSel = (0 until mpBandCount).map(k => s"a.b$k AS a$k, b.b$k AS c$k")
        .mkString(", ")
      val bandOr = (0 until bandCount).map(k => s"a$k = c$k").mkString(" OR ")
      val mpOr = (0 until mpBandCount).map(k => s"bit_count(xor(a$k, c$k)) <= 1")
        .mkString(" OR ")
      s"""WITH $chunkCtes, $bandedCtes,
         rmod AS (SELECT GREATEST(CAST(1 AS BIGINT), n // 8000) AS m
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bce)),
         rs AS (SELECT f.* FROM bfit f, rmod
           WHERE (${(1 to 4).map(i =>
             s"(strpos('0123456789abcdef', substr(md5(CAST(f.chunk_id AS VARCHAR)), $i, 1)) - 1) * ${Seq(4096, 256, 16, 1)(i - 1)}")
             .mkString(" + ")}) % rmod.m = 0),
         rp AS (SELECT a.chunk_id AS ia, b.chunk_id AS ib,
             $bandSel,
             ${sqlR(s"CAST($dotAb AS DOUBLE) / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))", 6)} AS cosine
           FROM rs a JOIN rs b ON a.chunk_id < b.chunk_id),
         rt AS (SELECT * FROM rp WHERE cosine >= $dedupThresholdSql),
         ragg AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_pairs,
             CAST(COALESCE(SUM(CASE WHEN a0 = c0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS cell_found,
             CAST(COALESCE(SUM(CASE WHEN $bandOr THEN 1 ELSE 0 END), 0) AS BIGINT) AS band_found,
             CAST(COALESCE(SUM(CASE WHEN $mpOr THEN 1 ELSE 0 END), 0) AS BIGINT) AS mp_found
           FROM rt)
         SELECT 'banded' AS method, true_pairs, band_found AS found_pairs,
           CASE WHEN true_pairs = 0 THEN NULL
                ELSE ${sqlR("CAST(band_found AS DOUBLE) / true_pairs", 6)} END AS recall
         FROM ragg
         UNION ALL
         SELECT 'cell' AS method, true_pairs, cell_found AS found_pairs,
           CASE WHEN true_pairs = 0 THEN NULL
                ELSE ${sqlR("CAST(cell_found AS DOUBLE) / true_pairs", 6)} END AS recall
         FROM ragg
         UNION ALL
         SELECT 'multiprobe' AS method, true_pairs, mp_found AS found_pairs,
           CASE WHEN true_pairs = 0 THEN NULL
                ELSE ${sqlR("CAST(mp_found AS DOUBLE) / true_pairs", 6)} END AS recall
         FROM ragg
         ORDER BY method"""
    },
    "q_chunk_eval" ->
      s"""WITH ${Ann.normCte}, ${Ann.hybridCtes}, $chunkCtes,
         hfr AS (SELECT probe_id, doc_id, ROW_NUMBER() OVER
             (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank FROM hrrf),
         dlist AS (SELECT probe_id, doc_id FROM hfr WHERE rank <= 10),
         clist AS (SELECT probe_id, chunk_id // $minChunkFactor AS doc_id
           FROM kfin WHERE rank <= 10),
         elab AS (SELECT vec_id, label FROM embeddings),
         eplab AS (SELECT vec_id AS probe_id, label AS plabel FROM embeddings WHERE vec_id < 10),
         cstat AS (SELECT c.probe_id, CAST(COUNT(*) AS BIGINT) AS n_chunk,
             CAST(SUM(CASE WHEN l.label = p.plabel THEN 1 ELSE 0 END) AS BIGINT) AS chunk_hits
           FROM clist c JOIN elab l ON l.vec_id = c.doc_id
             JOIN eplab p ON p.probe_id = c.probe_id GROUP BY 1),
         dstat AS (SELECT d.probe_id, CAST(COUNT(*) AS BIGINT) AS n_doc,
             CAST(SUM(CASE WHEN l.label = p.plabel THEN 1 ELSE 0 END) AS BIGINT) AS doc_hits
           FROM dlist d JOIN elab l ON l.vec_id = d.doc_id
             JOIN eplab p ON p.probe_id = d.probe_id GROUP BY 1)
         SELECT COALESCE(c.probe_id, d.probe_id) AS probe_id,
           n_chunk,
           CASE WHEN n_chunk > 0 THEN ${sqlR("CAST(chunk_hits AS DOUBLE) / n_chunk", 6)} END AS p_chunk,
           n_doc,
           CASE WHEN n_doc > 0 THEN ${sqlR("CAST(doc_hits AS DOUBLE) / n_doc", 6)} END AS p_doc
         FROM cstat c FULL OUTER JOIN dstat d ON c.probe_id = d.probe_id
         ORDER BY 1""",
    "q_chunk_dedup" ->
      s"""WITH $chunkCtes, $dedupCtes
         SELECT doc_id, chunk_id, cell, fit, n_dups, max_dup_cosine, keep
         FROM dmart ORDER BY chunk_id""",
    "q_chunk_serve" ->
      s"""WITH $chunkCtes, $dedupCtes,
         skch AS (SELECT * FROM kch
           WHERE chunk_id NOT IN (SELECT chunk_id FROM ddom)),
         skce AS (SELECT * FROM kce
           WHERE chunk_id NOT IN (SELECT chunk_id FROM ddom)),
         ${armCtes("s", "skch", "skce")}
         SELECT probe_id, CAST(rank AS INT) AS rank,
           CAST(chunk_id // $minChunkFactor AS BIGINT) AS doc_id, chunk_id,
           ${sqlR("rrf", 6)} AS rrf_score,
           CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
         FROM skfin WHERE rank <= 10 ORDER BY probe_id, rank"""
  )
}
