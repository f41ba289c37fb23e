package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns._

/** Embedding-column maintenance ops for a vector corpus: per-vector int8
  * quantization (the storage/serving compression every 100 TB vector
  * store runs) with exact reconstruction diagnostics.
  *
  * Determinism design (the [[graft.functions.DotScaled]] device): every
  * per-element product is an exact or IEEE-deterministic double, scaled
  * by 2^40 and floored to a long, and the SUM is exact integer
  * arithmetic — bit-identical under any partitioning, evaluation order,
  * or engine. The quantized code `floor(x/scale + 0.5)` and its
  * reconstruction `q*scale` use only IEEE mul/add/div/floor, so the
  * DuckDB oracle reproduces all doubles exactly.
  *
  * Row-wise higher-order functions — no shuffle anywhere; at production
  * scale the inner folds would graduate to a codegen'd Catalyst
  * expression exactly as [[graft.functions.DotScaled]] did for dots.
  */
object Embeddings {

  private val S = graft.functions.DotScaled.ScaleSql

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * q_i = floor(x_i/scale + 0.5) in [-127, 127]. Emits per-vector
    * diagnostics: L2 norm, quantization scale, quantized L1 mass,
    * max reconstruction error (bounded by scale/2), and the cosine
    * between the vector and its reconstruction. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val q = s"(FLOOR(xd / qscale + 0.5d))" // per-element lambda body, x bound as xd
    embeddings
      .withColumn("xd0", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("maxabs", expr("array_max(transform(xd0, x -> abs(x)))"))
      // Degenerate all-zero vector: maxabs/127 = 0 would make every xd/qscale
      // division undefined (NULL/NaN) and poison q_l1/sxr/srr. Bind the
      // internal divisor to 1 (all codes are then exactly 0) and emit the
      // true scale 0 separately below.
      .withColumn("qscale", when(col("maxabs") > 0d, col("maxabs") / 127d).otherwise(lit(1d)))
      .withColumn("sxx", expr(
        s"aggregate(xd0, cast(0 as bigint), (a, xd) -> a + cast(floor(xd * xd * $S) as bigint))"))
      .withColumn("sxr", expr(
        s"aggregate(xd0, cast(0 as bigint), (a, xd) -> a + cast(floor(xd * ($q * qscale) * $S) as bigint))"))
      .withColumn("srr", expr(
        s"aggregate(xd0, cast(0 as bigint), (a, xd) -> a + cast(floor(($q * qscale) * ($q * qscale) * $S) as bigint))"))
      .withColumn("q_l1", expr(
        s"aggregate(xd0, cast(0 as bigint), (a, xd) -> a + cast(abs($q) as bigint))"))
      .withColumn("max_abs_err0", expr(s"array_max(transform(xd0, xd -> abs(xd - $q * qscale)))"))
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        r6(sqrt(col("sxx") / expr(S))).as("l2_norm"),
        (floor(col("maxabs") / 127d * 1e9 + 0.5d) / 1e9).as("scale"),
        col("q_l1"),
        r6(when(col("maxabs") > 0d, col("max_abs_err0")).otherwise(lit(0d))).as("max_abs_err"),
        r6(when(col("maxabs") > 0d,
          col("sxr") / sqrt(col("sxx").cast("double") * col("srr").cast("double")))
          .otherwise(lit(1d))).as("cos_recon"))
      .orderBy("vec_id")
  }

  /** Deterministic ±1 sign for projection cell (i, j), derived from the
    * parity of md5("i:j")'s first hex digit — reproducible by any engine
    * that can evaluate md5, which is what lets the oracle rebuild the
    * identical matrix. */
  private[ann] def projSign(i: Int, j: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) % 2 == 0) 1 else -1
  }

  /** Sparse-free random projection (Achlioptas ±1 / Johnson-Lindenstrauss):
    * maps each `inDims`-dim embedding to `outDims` coordinates
    * out_j = Σ_i x_i · s_ij with a deterministic sign matrix — the standard
    * dimensionality cut applied before ANN indexing at corpus scale. The
    * sign matrix is inlined as literal arrays, so the whole projection is
    * row-local fold arithmetic: shuffle-free, and exact via the same 2^40
    * scaled-integer floor-sums as [[quantizeInt8]]. */
  def randomProjection(embeddings: DataFrame, outDims: Int = 16,
                       inDims: Int = 64): DataFrame = {
    val accs = (0 until outDims).map { j =>
      val sgn = (0 until inDims).map(projSign(_, j)).mkString("array(", ",", ")")
      expr(s"aggregate(zip_with(xd0, $sgn, (x, s) -> x * s), cast(0 as bigint), " +
        s"(a, t) -> a + cast(floor(t * $S) as bigint))").as(s"acc$j")
    }
    embeddings
      .withColumn("xd0", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id") +: accs: _*)
      .select(col("vec_id"),
        posexplode(array((0 until outDims).map(j => col(s"acc$j")): _*))
          .as(Seq("dim", "acc")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"),
        r6(col("acc") / expr(S)).as("value"))
      .orderBy("vec_id", "dim")
  }

  /** Product quantization codebook assignment — the memory-side
    * compression an IVF-PQ vector index uses at corpus scale (a 64-dim
    * float vector becomes `m` one-byte codes). Subspace codebooks are
    * the hash-ranked sample the IVF centroids already use
    * ([[Ann.ivfAssign]]'s TakeOrderedAndProject pick — codebook size is
    * corpus-size-independent, broadcast stays k rows); assignment is a
    * row-local argmin over k·m exact scaled-integer L2² distances, so
    * the only shuffle is the final presentation sort. Emits the per-
    * subspace codes and the exact total reconstruction distance. */
  /** Hash-ranked PQ codebook sample (the [[Ann]] centroid device):
    * k vectors whose subspace slices serve as every subspace's codebook —
    * corpus-size-independent, so the broadcast stays k rows at any scale. */
  private[graft] def pqCodebook(embeddings: DataFrame, k: Int = 8): DataFrame =
    embeddings
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))

  /** Per-(vector, subspace) nearest-codebook-entry assignment — the raw
    * long-form codes behind [[pqCodes]] and the index side of
    * [[Ann.pqSearch]]. Row-local argmin over k·m exact scaled-integer
    * L2² distances (the codebook is broadcast); returns one row per
    * (vec_id, m) with the winning `code` and its exact `d2`.
    *
    * The argmin is a map-side-combined `min(struct(d2, centroid_id))`
    * aggregate, NOT a rank window: a window over (vec_id, m) would
    * shuffle all n·m·k scored rows to rank k of them, while the struct
    * ordering (d2 asc, centroid_id asc — the same tie-break) partial-
    * aggregates to n·m rows before the exchange — a k× shuffle cut that
    * matters at 100 TB index-build scale. */
  private[graft] def pqAssign(embeddings: DataFrame, m: Int = 4,
                              subDim: Int = 16, k: Int = 8): DataFrame =
    pqAssignWith(subFrame(embeddings, m, subDim),
      csubOf(pqCodebook(embeddings, k), m, subDim))

  /** Row-local subspace slices: one row per (vec_id, m) with the
    * subDim-element sub-vector. No shuffle. */
  private[graft] def subFrame(embeddings: DataFrame, m: Int,
                              subDim: Int): DataFrame = {
    val ms = explode(array((0 until m).map(lit): _*)).as("m")
    embeddings.select(col("vec_id"), col("embedding"), ms)
      .withColumn("sv", expr(s"slice(embedding, m * $subDim + 1, $subDim)"))
      .select("vec_id", "m", "sv")
  }

  /** Subspace view (centroid_id, cm, cv) of a full-vector codebook. */
  private[graft] def csubOf(cb: DataFrame, m: Int, subDim: Int): DataFrame = {
    val ms = explode(array((0 until m).map(lit): _*)).as("m")
    cb.select(col("centroid_id"), col("ce"), ms)
      .withColumn("cv", expr(s"slice(ce, m * $subDim + 1, $subDim)"))
      .select(col("centroid_id"), col("m").as("cm"), col("cv"))
  }

  /** [[pqAssign]] against an explicit subspace codebook (centroid_id,
    * cm, cv) — the seam that lets the SAME assignment plan run over the
    * hash sample or Lloyd-refined entries (Round11Spec's Lloyd
    * refinement). */
  private[graft] def pqAssignWith(sub: DataFrame, csub: DataFrame): DataFrame = {
    graft.functions.DotScaled.register(sub.sparkSession)
    def d(a: String, b: String) =
      expr(s"graft_dot($a, $b)").cast("double") / expr(S)
    sub.join(broadcast(csub), col("m") === col("cm"))
      .withColumn("d2", d("sv", "sv") - lit(2d) * d("sv", "cv") + d("cv", "cv"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("centroid_id"))).as("best"))
      .select(col("vec_id"), col("m"),
        col("best.centroid_id").as("centroid_id"), col("best.d2").as("d2"))
  }

  def pqCodes(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
              k: Int = 8): DataFrame = {
    val best = pqAssign(embeddings, m, subDim, k)
    best.groupBy(col("vec_id"))
      .agg(
        max(when(col("m") === 0, col("centroid_id"))).as("code0"),
        max(when(col("m") === 1, col("centroid_id"))).as("code1"),
        max(when(col("m") === 2, col("centroid_id"))).as("code2"),
        max(when(col("m") === 3, col("centroid_id"))).as("code3"),
        max(when(col("m") === 0, col("d2"))).as("d0"),
        max(when(col("m") === 1, col("d2"))).as("d1"),
        max(when(col("m") === 2, col("d2"))).as("d2_"),
        max(when(col("m") === 3, col("d2"))).as("d3"))
      .select(col("vec_id"), col("code0"), col("code1"), col("code2"), col("code3"),
        r6(sqrt(greatest(col("d0") + col("d1") + col("d2_") + col("d3"), lit(0d))))
          .as("recon_l2"))
      .orderBy("vec_id")
  }

  /** Variance-screened covariance/correlation mart over the embedding
    * dims — the moment matrix a PCA / whitening / feature-selection step
    * consumes, on a budget. A full d×d covariance explodes d² product
    * terms per vector (4096 at d=64); instead pass 1 computes the d
    * per-dim moment sums (d terms per vector, partial-aggregated), picks
    * the `topD` highest-variance dims (bounded broadcast artifact,
    * deterministic var-desc/dim-asc order), and pass 2 restricts the
    * pair explode to topD(topD+1)/2 terms per vector — the screen is the
    * standard budget device before a full PCA is justified.
    *
    * Determinism: per-element doubles are exact float widenings, every
    * moment sum is decimal-routed (order-free), and cov/corr derive in
    * IEEE double with the oracle's exact expression tree; sqrt's last-ulp
    * slack is absorbed by r6. */
  def embedCov(embeddings: DataFrame, topD: Int = 8): DataFrame = {
    val x = embeddings.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"), col("x").cast("double").as("x"))
    val dims = x.groupBy(col("i")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(27,12)")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast("decimal(27,12)")).cast("double").as("sxx"))
      .withColumn("var0", (col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
    val top = dims.orderBy(col("var0").desc, col("i")).limit(topD)
    // sorted dim list: collect_list alone is partition-order-dependent
    val tds = top.agg(sort_array(collect_list(col("i"))).as("tds"))
    val pairs = embeddings.select(col("embedding"))
      .crossJoin(broadcast(tds))
      .select(col("embedding"), explode(col("tds")).as("di"), col("tds"))
      .select(col("embedding"), col("di"), explode(col("tds")).as("dj"))
      .filter(col("di") <= col("dj"))
      .select(col("di"), col("dj"),
        (element_at(col("embedding"), col("di") + 1).cast("double") *
          element_at(col("embedding"), col("dj") + 1).cast("double")).as("p"))
      .groupBy(col("di"), col("dj"))
      .agg(sum(col("p").cast("decimal(27,12)")).cast("double").as("sxy"))
    val ti = top.select(col("i").as("di"), col("sx").as("sx_i"),
      col("var0").as("var_i"), col("n"))
    val tj = top.select(col("i").as("dj"), col("sx").as("sx_j"),
      col("var0").as("var_j"))
    pairs.join(broadcast(ti), Seq("di")).join(broadcast(tj), Seq("dj"))
      .withColumn("cov0",
        (col("sxy") - col("sx_i") * col("sx_j") / col("n")) / col("n"))
      .select(col("di"), col("dj"), col("n"),
        r6(col("var_i")).as("var_i"), r6(col("var_j")).as("var_j"),
        r6(col("cov0")).as("cov"),
        r6(col("cov0") / sqrt(col("var_i") * col("var_j"))).as("corr"))
      .orderBy("di", "dj")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_cov" -> ((s, d) => embedCov(Tables.embeddings(s, d))),
    "q_embed_quant" -> ((s, d) => quantizeInt8(Tables.embeddings(s, d))),
    "q_rand_proj" -> ((s, d) => randomProjection(Tables.embeddings(s, d))),
    "q_pq_codes" -> ((s, d) => pqCodes(Tables.embeddings(s, d)))
  )

  /** Oracle twin of the scaled-integer dot over DuckDB lists. */
  private def dotSqlE(e1: String, e2: String): String =
    s"""(SELECT CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * $S) AS BIGINT)) AS DOUBLE)
        FROM (SELECT unnest($e1) AS x, unnest($e2) AS y)) / $S"""

  val oracles: Map[String, String] = Map(
    "q_embed_cov" ->
      s"""WITH x AS (SELECT CAST(r.i AS INT) AS i,
             CAST(embedding[CAST(r.i AS INT) + 1] AS DOUBLE) AS x
           FROM embeddings, LATERAL (SELECT UNNEST(range(len(embedding))) AS i) r),
         d AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS sxx
           FROM x GROUP BY 1),
         v AS (SELECT *, (sxx - sx * sx / n) / n AS var0 FROM d),
         top AS (SELECT * FROM v ORDER BY var0 DESC, i LIMIT 8),
         p AS (SELECT ti.i AS di, tj.i AS dj,
             CAST(SUM(CAST(
               CAST(e.embedding[ti.i + 1] AS DOUBLE) *
               CAST(e.embedding[tj.i + 1] AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) AS sxy
           FROM embeddings e, top ti, top tj WHERE ti.i <= tj.i GROUP BY 1, 2)
         SELECT p.di, p.dj, ti.n,
           ${sqlR("ti.var0", 6)} AS var_i, ${sqlR("tj.var0", 6)} AS var_j,
           ${sqlR("(p.sxy - ti.sx * tj.sx / ti.n) / ti.n", 6)} AS cov,
           ${sqlR("((p.sxy - ti.sx * tj.sx / ti.n) / ti.n) / sqrt(ti.var0 * tj.var0)", 6)} AS corr
         FROM p JOIN top ti ON ti.i = p.di JOIN top tj ON tj.i = p.dj
         ORDER BY di, dj""",
    "q_pq_codes" ->
      s"""WITH ms AS (SELECT m FROM generate_series(0, 3) t(m)),
         cents AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         sub AS (SELECT vec_id, m,
             list_slice(embedding, m * 16 + 1, (m + 1) * 16) AS sv
           FROM embeddings, ms),
         csub AS (SELECT centroid_id, m,
             list_slice(ce, m * 16 + 1, (m + 1) * 16) AS cv
           FROM cents, ms),
         scored AS (SELECT sub.vec_id, sub.m, csub.centroid_id,
             ${dotSqlE("sv", "sv")} - 2 * ${dotSqlE("sv", "cv")} + ${dotSqlE("cv", "cv")} AS d2
           FROM sub JOIN csub USING (m)),
         best AS (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY vec_id, m ORDER BY d2 ASC, centroid_id ASC) AS rn
           FROM scored),
         agg AS (SELECT vec_id,
             MAX(CASE WHEN m = 0 THEN centroid_id END) code0,
             MAX(CASE WHEN m = 1 THEN centroid_id END) code1,
             MAX(CASE WHEN m = 2 THEN centroid_id END) code2,
             MAX(CASE WHEN m = 3 THEN centroid_id END) code3,
             MAX(CASE WHEN m = 0 THEN d2 END) d0,
             MAX(CASE WHEN m = 1 THEN d2 END) d1,
             MAX(CASE WHEN m = 2 THEN d2 END) d2_,
             MAX(CASE WHEN m = 3 THEN d2 END) d3
           FROM best WHERE rn = 1 GROUP BY vec_id)
         SELECT vec_id, code0, code1, code2, code3,
           ${sqlR("sqrt(GREATEST(d0 + d1 + d2_ + d3, 0.0))", 6)} AS recon_l2
         FROM agg ORDER BY vec_id""",
    "q_rand_proj" ->
      s"""WITH sg AS (SELECT i, j,
             CASE WHEN (instr('0123456789abcdef',
               substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)) - 1) % 2 = 0
             THEN 1 ELSE -1 END AS s
           FROM generate_series(0, 63) t1(i), generate_series(0, 15) t2(j)),
         ex AS (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
                FROM embeddings, generate_series(0, 63) t(i)),
         acc AS (SELECT vec_id, j,
                  CAST(SUM(CAST(FLOOR(x * s * $S) AS BIGINT)) AS BIGINT) AS a
                 FROM ex JOIN sg USING (i) GROUP BY vec_id, j)
         SELECT vec_id, CAST(j AS INT) AS dim,
           ${sqlR(s"CAST(a AS DOUBLE) / $S", 6)} AS value
         FROM acc ORDER BY vec_id, dim""",
    "q_embed_quant" -> {
      val q = s"(FLOOR(xd / qscale + 0.5))"
      s"""WITH e AS (SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd0
           FROM embeddings),
         m AS (SELECT vec_id, embedding, xd0,
             list_max(list_transform(xd0, xd -> abs(xd))) AS maxabs
           FROM e),
         s AS (SELECT *, CASE WHEN maxabs > 0 THEN maxabs / 127 ELSE 1 END AS qscale FROM m),
         a AS (SELECT vec_id, len(embedding) AS dim, maxabs, qscale, maxabs / 127 AS scale0,
             CAST(list_sum(list_transform(xd0, xd -> CAST(FLOOR(xd * xd * $S) AS BIGINT))) AS BIGINT) AS sxx,
             CAST(list_sum(list_transform(xd0, xd -> CAST(FLOOR(xd * ($q * qscale) * $S) AS BIGINT))) AS BIGINT) AS sxr,
             CAST(list_sum(list_transform(xd0, xd -> CAST(FLOOR(($q * qscale) * ($q * qscale) * $S) AS BIGINT))) AS BIGINT) AS srr,
             CAST(list_sum(list_transform(xd0, xd -> CAST(abs($q) AS BIGINT))) AS BIGINT) AS q_l1,
             list_max(list_transform(xd0, xd -> abs(xd - $q * qscale))) AS max_abs_err0
           FROM s)
         SELECT vec_id, CAST(dim AS INT) AS dim,
           ${sqlR(s"sqrt(sxx / $S)", 6)} AS l2_norm,
           FLOOR(scale0 * 1000000000 + 0.5) / 1000000000 AS scale,
           q_l1,
           ${sqlR("CASE WHEN maxabs > 0 THEN max_abs_err0 ELSE 0 END", 6)} AS max_abs_err,
           ${sqlR("CASE WHEN maxabs > 0 THEN sxr / sqrt(CAST(sxx AS DOUBLE) * CAST(srr AS DOUBLE)) ELSE 1 END", 6)} AS cos_recon
         FROM a ORDER BY vec_id"""
    }
  )
}
