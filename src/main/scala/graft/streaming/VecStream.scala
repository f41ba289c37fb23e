package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Embeddings

/** Streaming vector-index ingest — the readStream twin of
  * [[graft.ann.Ann.pqIncrement]], completing the ingest story beside
  * [[DocStream]] (text arrivals): new embeddings are celled and PQ-coded
  * against the EXISTING corpus's frozen artifacts the moment their
  * micro-batch lands.
  *
  * The batch operator ranks cells with a window and codes with a
  * grouped argmin — both streaming-hostile (unbounded keyed state). The
  * stream instead gets the artifacts as ONE static row of arrays
  * (16 centroids + 64×8 codebook slices — bounded regardless of corpus
  * size, the thing that makes them broadcastable), stream-static
  * cross-joined, and every argmin becomes a ROW-LOCAL
  * `array_min(transform(...))` fold: struct ordering (-cos, id) /
  * (d2, code) reproduces the batch tie-breaks exactly, so
  * Round11Spec pins streamed == batch BIT-FOR-BIT. Zero streaming
  * aggregation state; the only state is the file-source log.
  */
object VecStream {

  /** The frozen index artifacts as one broadcastable row:
    * `cents` = array of (cid, ce, cnrm), `cb0..cb{m-1}` = per-subspace
    * codebook arrays of (code, cv). Built from the static corpus. */
  private[graft] def artifactRow(corpus: DataFrame, kCents: Int, m: Int,
                                 subDim: Int, kCodes: Int): DataFrame = {
    graft.functions.DotScaled.register(corpus.sparkSession)
    val S = graft.functions.DotScaled.Scale
    val cents1 = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(kCents)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        sqrt(expr("graft_dot(embedding, embedding)").cast("double") / lit(S)).as("cnrm"))
      .agg(collect_list(struct(col("cid"), col("ce"), col("cnrm"))).as("cents"))
    val cbCols = (0 until m).map(j =>
      collect_list(when(col("cm") === j,
        struct(col("centroid_id").as("code"), col("cv")))).as(s"cb$j"))
    val cbs = Embeddings.csubOf(Embeddings.pqCodebook(corpus, kCodes), m, subDim)
      .agg(cbCols.head, cbCols.tail: _*)
    cents1.crossJoin(cbs)
  }

  /** Row-local cell + code assignment of a (possibly streaming) vector
    * frame against an artifact row — shared by the streaming query and
    * the spec's batch-equivalence check. */
  private[graft] def codeRows(vecs: DataFrame, artifacts: DataFrame,
                              m: Int, subDim: Int): DataFrame = {
    graft.functions.DotScaled.register(vecs.sparkSession)
    val S = graft.functions.DotScaled.Scale
    val Sd = s"${graft.functions.DotScaled.ScaleSql}D"
    // -cos in the struct so array_min lands on (cos desc, cid asc) —
    // the exact Ann.nearestCell tie-break (centroidRankedWith rn=1)
    val cellExpr =
      s"""array_min(transform(cents, c -> struct(
         |  -(floor(((cast(graft_dot(embedding, c.ce) as double) / $Sd)
         |      / (nrm * c.cnrm)) * 1000000D + 0.5D) / 1000000D) AS nc,
         |  c.cid AS cid)))""".stripMargin
    // d2 = <sv,sv> - 2<sv,cv> + <cv,cv>, each term the exact scaled dot
    def d2Expr(j: Int) = {
      val sv = s"slice(embedding, ${j * subDim} + 1, $subDim)"
      s"""array_min(transform(cb$j, e -> struct(
         |  (cast(graft_dot($sv, $sv) as double) / $Sd)
         |    - 2.0D * (cast(graft_dot($sv, e.cv) as double) / $Sd)
         |    + (cast(graft_dot(e.cv, e.cv) as double) / $Sd) AS d2,
         |  e.code AS code)))""".stripMargin
    }
    val withBest = vecs
      .withColumn("nrm",
        sqrt(expr("graft_dot(embedding, embedding)").cast("double") / lit(S)))
      .crossJoin(broadcast(artifacts))
      .withColumn("cell", expr(cellExpr))
    val withCodes = (0 until m).foldLeft(withBest) { (df, j) =>
      df.withColumn(s"best$j", expr(d2Expr(j)))
    }
    withCodes.select(
      col("vec_id") +:
        col("cell.cid").as("cell_id") +:
        (-col("cell.nc")).as("cell_cosine") +:
        (0 until m).map(j => col(s"best$j.code").as(s"code$j")) :+
        graft.functions.Fns.r6(sqrt(greatest(
          (0 until m).map(j => col(s"best$j.d2")).reduce(_ + _), lit(0d))))
          .as("recon_l2"): _*)
  }

  /** Stream new vectors against the frozen index artifacts: emits one
    * fully-coded index row per arrival. Pure Append — no aggregation
    * state at all, asserted by [[Sinks.drainStateless]]. */
  def codedArrivals(spark: SparkSession, dir: String, corpus: DataFrame,
                    kCents: Int = 16, m: Int = 8, subDim: Int = 8,
                    kCodes: Int = 64,
                    newVecFilter: Option[org.apache.spark.sql.Column] = None,
                    queryName: String = "stream_veccode"): DataFrame = {
    val base = Staging.read(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val fresh = newVecFilter.map(base.filter).getOrElse(base)
    val arts = artifactRow(corpus, kCents, m, subDim, kCodes)
    Sinks.drainStateless(codeRows(fresh, arts, m, subDim), queryName)
  }

  /** The [[artifactRow]] extended for QUERY serving: one broadcast row
    * additionally carrying the coded index grouped by cell —
    * `cells` = array of (cell_id, entries(vec_id, codes[m])). The index
    * rows come from [[codeRows]] over the corpus itself, so ingest and
    * serving read the IDENTICAL frozen artifacts. At test scale the
    * whole index rides the one row; at 100 TB the per-cell entry arrays
    * are the index SHARDS a serving tier stores keyed by cell and
    * fetches per probe — the row-local scoring below is unchanged, only
    * the shard lookup moves out of the broadcast. */
  private[graft] def serveArtifacts(corpus: DataFrame, kCents: Int, m: Int,
                                    subDim: Int, kCodes: Int): DataFrame = {
    val arts = artifactRow(corpus, kCents, m, subDim, kCodes)
    val cells = codeRows(corpus.select(col("vec_id"), col("embedding")),
        arts, m, subDim)
      .select(col("vec_id"), col("cell_id"),
        array((0 until m).map(j => col(s"code$j")): _*).as("codes"))
      .groupBy(col("cell_id"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("codes")))).as("entries"))
      .agg(collect_list(struct(col("cell_id"), col("entries"))).as("cells"))
    arts.crossJoin(cells)
  }

  /** Row-local IVF-PQ ADC top-k of a (possibly streaming) probe frame
    * against a [[serveArtifacts]] row — the query-side twin of
    * [[codeRows]]: rank cells from the cents array ((-cos, cid)
    * array_sort — the exact centroidRankedWith order), build the per-probe
    * ADC lookup tables from the SAME cb arrays as maps, concatenate the
    * probe's nCells entry shards, score each candidate as m exact
    * BIGINT lookup-adds, and keep top-k by one bounded array_sort —
    * every step a row expression, so the stream needs ZERO aggregation
    * state and the result is bit-equal to batch
    * [[graft.ann.Ann.pqSearch]] (spec-pinned). */
  private[graft] def serveRows(probes: DataFrame, arts: DataFrame,
                               k: Int, nCells: Int, m: Int,
                               subDim: Int): DataFrame = {
    graft.functions.DotScaled.register(probes.sparkSession)
    val S = graft.functions.DotScaled.Scale
    val Sd = s"${graft.functions.DotScaled.ScaleSql}D"
    val lutCols = (0 until m).map { j =>
      expr(s"""map_from_entries(transform(cb$j, e -> struct(e.code,
           struct(graft_dot(slice(embedding, ${j * subDim} + 1, $subDim), e.cv) AS qd,
                  graft_dot(e.cv, e.cv) AS cd))))""").as(s"lut$j")
    }
    val qdt = (0 until m)
      .map(j => s"element_at(lut$j, element_at(x.codes, ${j + 1})).qd")
      .mkString(" + ")
    val cdt = (0 until m)
      .map(j => s"element_at(lut$j, element_at(x.codes, ${j + 1})).cd")
      .mkString(" + ")
    probes
      .select(col("vec_id").as("probe_id"), col("embedding"))
      .withColumn("nrm",
        sqrt(expr("graft_dot(embedding, embedding)").cast("double") / lit(S)))
      .crossJoin(broadcast(arts))
      .withColumn("pcells", expr(
        s"""slice(array_sort(transform(cents, c -> struct(
           -(floor(((cast(graft_dot(embedding, c.ce) as double) / $Sd)
               / (nrm * c.cnrm)) * 1000000D + 0.5D) / 1000000D) AS nc,
           c.cid AS cid))), 1, $nCells)"""))
      .select(col("probe_id") +: col("embedding") +: col("nrm") +:
        col("pcells") +: col("cells") +: lutCols: _*)
      .withColumn("cellmap",
        expr("map_from_entries(transform(cells, cl -> struct(cl.cell_id, cl.entries)))"))
      .withColumn("cand", expr(
        """flatten(transform(pcells, pc -> coalesce(element_at(cellmap, pc.cid),
           cast(array() as array<struct<vec_id:bigint,codes:array<bigint>>>))))"""))
      .withColumn("topk", expr(
        s"""slice(array_sort(transform(filter(cand, x -> x.vec_id <> probe_id),
           x -> struct(
             -(floor(((cast(($qdt) as double) / $Sd)
                 / (nrm * sqrt(cast(($cdt) as double) / $Sd))) * 1000000D + 0.5D) / 1000000D) AS ncos,
             x.vec_id AS vid))), 1, $k)"""))
      .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rank"),
        col("entry.vid").as("neighbor_id"), (-col("entry.ncos")).as("adc_cos"))
  }

  /** Serve a stream of arriving probe vectors against the frozen IVF-PQ
    * index: top-k ADC neighbors per probe per micro-batch — the
    * InferStream pattern for retrieval (query in, result rows out,
    * nothing retained between batches). Pure Append, zero aggregation
    * state; Round12Spec pins streamed == batch pqSearch bit-for-bit and
    * asserts the empty state-operator list. */
  def servedQueries(spark: SparkSession, dir: String, corpus: DataFrame,
                    nProbes: Int = 10, k: Int = 10, kCents: Int = 16,
                    nCells: Int = 5, m: Int = 8, subDim: Int = 8,
                    kCodes: Int = 64,
                    queryName: String = "stream_pqserve"): DataFrame = {
    val probes = Staging.read(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < nProbes)
    val arts = serveArtifacts(corpus, kCents, m, subDim, kCodes)
    Sinks.drainStateless(serveRows(probes, arts, k, nCells, m, subDim), queryName)
  }
}
