package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.ChunkRetrieval
import graft.text.TextPrep

/** Streaming CHUNK-grain query serving — the RAG loop live, closing the
  * serving stack beside [[VecStream.servedQueries]] (doc-grain PQ):
  * probe documents ARRIVE as a stream and are answered row-locally
  * against a FROZEN chunk artifact built once from the static corpus —
  * per arrival the probe's top terms, its hash/JL embedding, both
  * retrieval arms, RRF fusion, one-chunk-per-doc dedup, and the final
  * top-k all evaluate as row expressions, so the query holds ZERO
  * aggregation state (asserted inside the operator) and the emitted
  * rows are BIT-EQUAL to batch [[ChunkRetrieval.chunkRetrieval]] for
  * the same probes (Round13Spec) — and, with `hamming = Some(2)`, to
  * batch [[ChunkRetrieval.chunkRetrievalAnn]] (Round14Spec): the vector
  * arm is chosen by the artifact, as batch [[ChunkRetrieval.vecArm]]
  * chooses it by its `hamming` argument.
  *
  * The artifact: chunk embeddings as one sorted entry array, the
  * chunk-grain BM25 postings with each (word, chunk) contribution
  * PRE-COMPUTED at build time by the exact batch expression
  * ([[TextPrep.bm25Contrib]] + the DECIMAL(20,12) cast) — tf, df, dl,
  * avgdl are all static-index properties, so the per-probe work is a
  * pure lookup-and-sum — and the derived chunk_id factor. At test
  * scale the whole index rides one broadcast row; at 100 TB the entry
  * arrays and postings are the index shards a serving tier stores
  * keyed by cell/term and fetches per probe (impact-ordered posting
  * caps bound the per-term fetch) — the row-local scoring is
  * unchanged, only the shard lookup moves out of the broadcast. The
  * corpus-scale BATCH path stays [[ChunkRetrieval.chunkRetrieval]];
  * this twin is the query-side serving shape.
  *
  * Bit-equality devices: the probe's bucket counts fold row-locally
  * and equal the batch map-side sums (integer, associative); the BM25
  * sum folds per-term DECIMAL(20,12) casts into a DECIMAL(30,12)
  * accumulator (exact, order-free — the ScoreStream device), matching
  * the batch groupBy decimal sum; every cosine/score rounds through
  * the same FLOOR(x·1e6 + 0.5)/1e6; and every sort is an array_sort on
  * (-score, chunk_id) structs, reproducing the batch heap and
  * row_number tie-breaks. */
object ChunkStream {

  private val dims = ChunkRetrieval.hashDims

  private val entryArr = "array<struct<chunk_id:bigint,p:array<bigint>,nsq:bigint>>"

  /** `body` with `v` bound to `value`: a single-element
    * `transform(array(value), v -> body)`, so `value` evaluates once per
    * row however often `body` reads it (see [[serveRows]]). */
  private def let1(value: String, v: String, body: String): String =
    s"element_at(transform(array($value), $v -> $body), 1)"

  /** The hash/JL embedding of the string array `words` as one row
    * expression: the per-word (bucket, sgn) fold into 64 bucket counts
    * (== the batch map-side sums, integer and associative), bound once
    * as `bcv`, then the sign-matrix fold — bit-equal to the batch
    * [[ChunkRetrieval.chunkEmbeds]] shuffle build. */
  private def embedSql(words: String): String = let1(
    s"""aggregate(transform($words, w -> struct(
       pmod((instr('0123456789abcdef', substr(md5(cast(w as binary)), 1, 1)) - 1) * 16
         + instr('0123456789abcdef', substr(md5(cast(w as binary)), 2, 1)) - 1, $dims) AS bucket,
       IF((instr('0123456789abcdef', substr(md5(cast(w as binary)), 3, 1)) - 1) % 2 = 0, 1L, -1L) AS sgn)),
       array_repeat(0L, $dims),
       (acc, e) -> transform(acc, (x, i) -> x + IF(i = e.bucket, e.sgn, 0L)))""",
    "bcv",
    s"""transform(${ChunkRetrieval.signsSql}, srow ->
       aggregate(zip_with(bcv, srow, (bca, sgv) -> bca * sgv), cast(0 as bigint), (qa, qx) -> qa + qx))""")

  /** The row-local sign-LSH cell of the vector `vec` at the artifact's
    * frozen `bits` width ([[ChunkRetrieval.cellAt]] as a row fold);
    * NULL when its squared norm `nsq` is 0 — a zero vector has no cell. */
  private def cellSql(vec: String, nsq: String): String =
    s"""IF($nsq > 0, aggregate(sequence(0, bits - 1), 0L, (a, j) ->
       a + IF(element_at($vec, cast(j as int) + 1) >= 0,
              shiftleft(1L, cast(j as int)), 0L)), cast(null as bigint))"""

  /** The corpus chunk embeddings (checkpointed: the cell map reads them
    * after their count) and the adaptive cell width that count derives. */
  private def celledEmbeds(documents: DataFrame, factor: Long): (DataFrame, Int) = {
    val base = ChunkRetrieval
      .chunkEmbeds(ChunkRetrieval.chunks(documents, factor))
      .localCheckpoint(false)
    (base, ChunkRetrieval.cellBitsFor(base.count()))
  }

  /** `entries` (chunk_id, p, nsq) RE-KEYED by their sign-LSH cell at
    * width `bits`, as one `cells` map row — the shard key a serving
    * store fetches by. */
  private def cellMap(entries: DataFrame, bits: Int): DataFrame =
    entries.withColumn("cell", ChunkRetrieval.cellAt("p", 0, bits))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(
        struct(col("chunk_id"), col("p"), col("nsq")))).as("entries"))
      .agg(map_from_entries(collect_list(
        struct(col("cell"), col("entries")))).as("cells"))

  /** The frozen serving artifact as ONE broadcastable row:
    * `centries` = sorted (chunk_id, p, nsq), `postings` = word →
    * sorted (chunk_id, contrib DECIMAL(20,12)), `fct` = the derived
    * chunk_id factor. Built from the static corpus with the SAME batch
    * devices the gate queries run.
    *
    * `hamming = Some(h)` adds the cell-route serving columns: the
    * entries re-keyed by cell ([[cellMap]]), the frozen cell width
    * `bits`, and the precomputed Hamming-≤h mask ball `masks` — width,
    * cells and masks all from the batch [[ChunkRetrieval]] devices. */
  private[graft] def chunkArtifacts(documents: DataFrame,
                                    hamming: Option[Int] = None): DataFrame = {
    val factor = ChunkRetrieval.chunkFactorFor(documents)
    val ch = ChunkRetrieval.chunks(documents, factor)
    val centries = ChunkRetrieval.chunkEmbeds(ch)
      .agg(sort_array(collect_list(
        struct(col("chunk_id"), col("p"), col("nsq")))).as("centries"))
    val ctoks = ch.select(col("chunk_id"),
      size(col("cwords")).cast("long").as("dl"),
      explode(col("cwords")).as("word"))
    val wc = ctoks.groupBy(col("word"), col("chunk_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfw = wc.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val stats = ch.agg(count(lit(1)).as("nn"),
      sum(size(col("cwords")).cast("decimal(18,0)")).cast("double").as("sdl"))
    val postings = wc.join(dfw, Seq("word"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl") / col("nn"))
      .withColumn("contrib", TextPrep.bm25Contrib(col("tf"), col("df"),
        col("dl"), col("nn"), col("avgdl")).cast("decimal(20,12)"))
      .groupBy(col("word"))
      .agg(sort_array(collect_list(
        struct(col("chunk_id"), col("contrib")))).as("entries"))
      .agg(map_from_entries(collect_list(
        struct(col("word"), col("entries")))).as("postings"))
    val arts = centries.crossJoin(postings).withColumn("fct", lit(factor))
    hamming.fold(arts) { h =>
      val (base, bits) = celledEmbeds(documents, factor)
      arts.crossJoin(broadcast(cellMap(base, bits)))
        .withColumn("bits", lit(bits))
        .withColumn("masks",
          expr(s"array(${ChunkRetrieval.hammingMasks(bits, h).mkString(",")})"))
    }
  }

  /** Row-local hybrid retrieval of a (possibly streaming) probe
    * document frame against a [[chunkArtifacts]] row. Every stage is a
    * row expression — see the object doc for the equality devices.
    *
    * Shared intermediate values (bucket counts, probe vector, arm
    * lists, fused list) are LET-BOUND via single-element
    * `transform(array(x), v -> body)` wrappers: Spark's
    * CollapseProject inlines single-use projection columns into lambda
    * BODIES, which re-evaluates them once per array element — the
    * un-bound form re-computed the whole probe embedding per stored
    * chunk (~80M interpreted ops per probe, measured as a minutes-long
    * micro-batch with the executor pinned in ArrayAggregate.eval).
    * With the bindings every shared value evaluates exactly once per
    * probe row.
    *
    * The vector arm follows the artifact: a [[chunkArtifacts]] row
    * built with `hamming = Some(h)` carries `cells`, and the probe is
    * served by the PROMOTED cell-route arm — the streaming twin of
    * [[ChunkRetrieval.chunkRetrievalAnn]]: the probe cell folds
    * row-locally from its own JL signs at the artifact's frozen width,
    * the Hamming-≤h ball enumerates via the artifact's mask array, and
    * only the fetched cells' entries are scored — the per-probe work
    * drops from |corpus| to the ball's occupancy. Without `cells` the
    * exact arm scans every stored entry. */
  private[graft] def serveRows(probes: DataFrame, arts: DataFrame,
                               k: Int, kTerms: Int, arm: Int,
                               rrfK: Int): DataFrame = {
    val ann = arts.columns.contains("cells")
    val stopArr = TextPrep.stopEn.map(w => s"'$w'").mkString("array(", ", ", ")")
    val pnsqE = "aggregate(qv, cast(0 as bigint), (na, nx) -> na + nx * nx)"
    // vector arm: exact cosine, own-document chunks excluded,
    // r6-rounded, (cos desc, id asc). The brute arm scans every stored
    // entry; the ANN arm scores only the Hamming-ball fetch bound to
    // `cande` below.
    val vecSrc = if (ann) "cande" else "centries"
    val vtopE =
      s"""CASE WHEN pq > 0 THEN slice(array_sort(
           transform(filter($vecSrc, c -> floor(c.chunk_id / fct) <> probe_id),
             c -> struct(
               -(floor((cast(aggregate(zip_with(c.p, qv, (vx, vy) -> vx * vy),
                     cast(0 as bigint), (va, vt) -> va + vt) as double)
                   / (sqrt(cast(c.nsq as double)) * sqrt(cast(pq as double))))
                 * 1000000D + 0.5D) / 1000000D) AS nc,
               c.chunk_id AS cid))), 1, $arm)
         ELSE cast(array() as array<struct<nc:double,cid:bigint>>) END"""
    // the Hamming-ball candidate fetch from the cell-keyed entry map
    val candE =
      s"""IF(pcell IS NULL, cast(array() as $entryArr),
         flatten(transform(masks, m ->
           coalesce(element_at(cells, pcell ^ m), cast(array() as $entryArr)))))"""
    // lexical arm: pre-computed contributions fetched per term; the
    // per-chunk sums come from ONE sorted group-boundary fold —
    // decimal addition is exact and order-free, so the sorted-run
    // order equals the batch shuffle order bit-for-bit
    val lflatE =
      s"""filter(flatten(transform(terms, t ->
           coalesce(element_at(postings, t.word),
             cast(array() as array<struct<chunk_id:bigint,contrib:decimal(20,12)>>)))),
         le -> floor(le.chunk_id / fct) <> probe_id)"""
    val lrunsE =
      s"""aggregate(array_sort($lflatE),
           named_struct('done', cast(array() as array<struct<ns:double,cid:bigint>>),
                        'cur', cast(-1 as bigint), 's', cast(0 as decimal(30,12))),
           (st, e) -> IF(st.cur = e.chunk_id,
             named_struct('done', st.done, 'cur', st.cur,
                          's', cast(st.s + e.contrib as decimal(30,12))),
             named_struct(
               'done', IF(st.cur >= 0, concat(st.done, array(named_struct(
                 'ns', -(floor(cast(st.s as double) * 1000000D + 0.5D) / 1000000D),
                 'cid', st.cur))), st.done),
               'cur', e.chunk_id,
               's', cast(e.contrib as decimal(30,12)))),
           st -> IF(st.cur >= 0, concat(st.done, array(named_struct(
             'ns', -(floor(cast(st.s as double) * 1000000D + 0.5D) / 1000000D),
             'cid', st.cur))), st.done))"""
    val ltopE = s"slice(array_sort($lrunsE), 1, $arm)"
    // RRF fusion over the union of both arms (array_position is the
    // 1-based rank in each sorted arm; 0 = absent)
    val fusE =
      """transform(array_distinct(concat(transform(lt, lx -> lx.cid),
           transform(vt, vx -> vx.cid))), ucid ->
         struct(ucid AS cid,
           array_position(transform(lt, lx -> lx.cid), ucid) AS lr0,
           array_position(transform(vt, vx -> vx.cid), ucid) AS vr0))"""
    // one chunk per doc (min struct = the batch keep rule), then the
    // final (rrf desc, chunk_id) rank, cut at k
    val frE =
      s"""slice(array_sort(transform(
           array_distinct(transform(fu, fd -> floor(fd.cid / fct))), d ->
             array_min(transform(filter(fu, ff -> floor(ff.cid / fct) = d), f ->
               struct(
                 -(IF(f.lr0 > 0, 1.0D / ($rrfK + f.lr0), 0.0D)
                   + IF(f.vr0 > 0, 1.0D / ($rrfK + f.vr0), 0.0D)) AS nr,
                 f.cid AS cid, cast(d as bigint) AS did,
                 f.lr0 AS lr0, f.vr0 AS vr0))))), 1, $k)"""
    val tail =
      let1(vtopE, "vt",
        let1(ltopE, "lt",
          let1(fusE, "fu", frE)))
    val bound =
      let1(embedSql("words"), "qv",
        let1(pnsqE, "pq",
          if (ann) let1(cellSql("qv", "pq"), "pcell", let1(candE, "cande", tail))
          else tail))
    probes
      .filter(col("text").isNotNull)
      .withColumn("norm", graft.functions.Fns.normText(col("text")))
      .filter(col("norm") =!= "")
      .withColumn("words", split(col("norm"), " "))
      .withColumn("probe_id", col("doc_id"))
      .crossJoin(broadcast(arts))
      // top-kTerms probe terms by (tf desc, word) — the batch window's
      // row_number order as an array_sort on (-tf, word)
      .withColumn("fw", expr(s"filter(words, w -> NOT array_contains($stopArr, w))"))
      .withColumn("terms", expr(
        s"""slice(array_sort(transform(array_distinct(fw),
           w -> struct(-size(filter(fw, x -> x = w)) AS nt, w AS word))), 1, $kTerms)"""))
      .withColumn("fr", expr(bound))
      .select(col("probe_id"), posexplode(col("fr")).as(Seq("pos", "e")))
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.did").as("doc_id"), col("e.cid").as("chunk_id"),
        graft.functions.Fns.r6(-col("e.nr")).as("rrf_score"),
        when(col("e.lr0") > 0, col("e.lr0")).cast("int").as("lex_rank"),
        when(col("e.vr0") > 0, col("e.vr0")).cast("int").as("vec_rank"))
  }

  /** Serve a stream of arriving probe documents against the frozen
    * chunk artifact: the fused top-k per probe per micro-batch, with the
    * exact vector arm or, for `hamming = Some(h)`, the cell-route arm
    * over the Hamming-≤h ball (bit-equal to batch
    * [[ChunkRetrieval.chunkRetrievalAnn]] at `Some(2)`). Pure Append,
    * zero aggregation state — asserted by [[Sinks.drainStateless]]. */
  def servedChunkQueries(spark: SparkSession, dir: String, corpus: DataFrame,
                         nProbes: Int = 10, k: Int = 10, kTerms: Int = 8,
                         arm: Int = 50, rrfK: Int = 60,
                         hamming: Option[Int] = None,
                         queryName: String = "stream_chunkserve"): DataFrame = {
    val probes = Staging.read(spark, dir, "documents")
      .filter(col("doc_id") < nProbes)
    Sinks.drainStateless(
      serveRows(probes, chunkArtifacts(corpus, hamming), k, kTerms, arm, rrfK), queryName)
  }

  /** Index-side INGEST twin of [[servedChunkQueries]] — the write half
    * of the incremental-maintenance loop
    * ([[ChunkRetrieval.chunkDeltaServe]] is the batch shape): each
    * arriving document expands ROW-LOCALLY into one row per chunk
    * carrying everything the index parts need — the chunk's word
    * length, its per-word tf list, and its hash/JL embedding (the
    * bucket-count fold + sign-matrix fold, bit-equal to the batch
    * [[ChunkRetrieval.chunkEmbeds]] shuffle build because the integer
    * sums are associative). Zero aggregation state: the corpus-grain
    * aggregates (df, nn, sdl) are ASSOCIATIVE SUMS over these rows, so
    * they belong to the downstream merge, not the stream. `factor` is
    * the frozen artifact's chunk_id encoding — a stream cannot derive
    * it, exactly like the serving twin. */
  private[graft] def ingestRows(docs: DataFrame, factor: Long): DataFrame =
    ChunkRetrieval.chunks(docs, factor)
      .withColumn("dl", size(col("cwords")).cast("long"))
      .withColumn("tfs", expr(
        """transform(array_distinct(cwords), w ->
           struct(w AS word, cast(size(filter(cwords, x -> x = w)) as bigint) AS tf))"""))
      .withColumn("p", expr(embedSql("cwords")))
      .withColumn("nsq",
        expr("aggregate(p, cast(0 as bigint), (a, x) -> a + x * x)"))
      .select(col("doc_id"), col("chunk_id"), col("dl"), col("tfs"),
        col("p"), col("nsq"))

  /** The frozen DEDUP-admission artifact as one broadcastable row: the
    * stored SURVIVOR embeddings keyed by their sign-LSH cell (`cells`
    * map), the derived chunk_id factor, and the adaptive cell width the
    * static corpus derived — everything an arriving chunk needs to be
    * celled and compared ROW-LOCALLY. Survivors, cells, and width all
    * come from the batch [[ChunkRetrieval.chunkDedup]] devices, so the
    * stream can never drift from the stored index. */
  private[graft] def dedupArtifacts(documents: DataFrame,
                                    threshold: Double = 0.95): DataFrame = {
    val factor = ChunkRetrieval.chunkFactorFor(documents)
    val (base, bits) = celledEmbeds(documents, factor)
    val keep = ChunkRetrieval.chunkDedup(documents, threshold)
      .filter(col("keep")).select(col("chunk_id"))
    cellMap(base.join(keep, Seq("chunk_id")), bits)
      .withColumn("fct", lit(factor)).withColumn("bits", lit(bits))
  }

  /** STREAMING chunk-dedup admission — the lshIncrement /
    * semantic_incremental asymmetry at chunk grain: arriving documents
    * chunk and embed row-locally ([[ingestRows]]), each chunk is celled
    * against the FROZEN artifact width and compared to the stored
    * survivors of ITS OWN CELL only (a bounded map fetch); an arrival
    * near any stored survivor (r6 cosine ≥ threshold) is REJECTED —
    * stored members always win, history is never re-signed. An
    * unembeddable chunk (all tokens cancelled, nsq = 0) cannot be
    * scored and ADMITS, the batch pass-through rule. Zero aggregation
    * state: everything is a row expression against one broadcast row.
    * Per chunk: (doc_id, chunk_id, cell, n_near, max_cosine, admit). */
  private[graft] def admitRows(docs: DataFrame, arts: DataFrame,
                               factor: Long, threshold: Double): DataFrame =
    ingestRows(docs, factor)
      .crossJoin(broadcast(arts))
      .withColumn("cell", expr(cellSql("p", "nsq")))
      .withColumn("near", expr(
        s"""IF(nsq = 0,
             cast(array() as array<double>),
             filter(transform(
               coalesce(element_at(cells, cell), cast(array() as $entryArr)),
               c -> floor(cast(aggregate(zip_with(p, c.p, (x, y) -> x * y),
                       cast(0 as bigint), (a, t) -> a + t) as double)
                     / (sqrt(cast(nsq as double)) * sqrt(cast(c.nsq as double)))
                     * 1000000D + 0.5D) / 1000000D),
               cx -> cx >= $threshold))"""))
      .select(col("doc_id"), col("chunk_id"), col("cell"),
        size(col("near")).cast("long").as("n_near"),
        expr("array_max(near)").as("max_cosine"),
        (size(col("near")) === 0).as("admit"))

  /** Run [[admitRows]] over a document file stream; asserts zero
    * aggregation state inside the operator and returns the admission
    * verdicts. */
  def admittedChunks(spark: SparkSession, dir: String, corpus: DataFrame,
                     threshold: Double = 0.95,
                     queryName: String = "stream_chunkadmit"): DataFrame = {
    val arts = dedupArtifacts(corpus, threshold)
    val factor = arts.select(col("fct")).head.getLong(0)
    Sinks.drainStateless(
      admitRows(Staging.read(spark, dir, "documents"), arts, factor, threshold), queryName)
  }

  /** Run [[ingestRows]] over a document file stream; asserts zero
    * aggregation state inside the operator and returns the collected
    * chunk-part rows. */
  def ingestedParts(spark: SparkSession, dir: String, factor: Long,
                    maxDocs: Int = Int.MaxValue,
                    queryName: String = "stream_chunkparts"): DataFrame = {
    val docs = Staging.read(spark, dir, "documents")
      .filter(col("doc_id") < maxDocs)
    Sinks.drainStateless(ingestRows(docs, factor), queryName)
  }
}
