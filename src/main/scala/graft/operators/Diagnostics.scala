package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns._

/** Operational diagnostics over key distributions — the profile a
  * warehouse operator reads before deciding how a 100 TB join/aggregate
  * shuffles: per-key cardinality stats, frequency percentiles, skew
  * ratio, and the heavy-hitter head with its share of the table.
  *
  * The reference ships data-quality checks per column (dbt tests,
  * models/staging/staging_customers.sql) but no key-shape profile; this
  * is the engine-side complement that motivates the salting/broadcast
  * choices in [[Sampling.saltedJoin]] and the LSH bucket caps in
  * [[graft.dedup.Dedup]].
  *
  * Scale shape: one aggregation to per-key counts (map-side partial on
  * the key), then one bounded aggregate over the count column plus a
  * TakeOrderedAndProject of the top-3 hitters — never a full sort, and
  * the per-key frame is the only thing that scales with data. */
object Diagnostics {

  /** Key-distribution profile of `df` grouped by `key`. One output row:
    * key cardinality, row total, mean/max frequency, frequency
    * percentiles, skew ratio (max/mean), and the top-3 heavy hitters
    * (deterministic tie-break on key) with their combined share. */
  def skewProfile(df: DataFrame, key: String): DataFrame = {
    val cnts = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    // Frequency percentiles via the distributed exact-percentile device,
    // NOT `percentile(c, …)`: that aggregate buffers an n_keys-sized
    // value→count map on one reducer — this is the SKEW DIAGNOSTIC, it
    // must not itself OOM on the 100×-scale key counts it profiles.
    val pcts = graft.functions.PrefixSum.exactPercentiles(
      cnts, "c", Nil,
      Seq("p50_0" -> 0.5, "p90_0" -> 0.9, "p99_0" -> 0.99)).drop("pct_n")
    val stats = cnts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      max(col("c")).as("max_freq"))
      .crossJoin(broadcast(pcts))
    // top-3 via sort-limit (TakeOrderedAndProject — bounded state per
    // partition, no global sort), then folded to one row
    val top = cnts.orderBy(col("c").desc, col("k").asc).limit(3)
      .withColumn("r", row_number().over(
        // onePart: no-op on the 3 post-limit rows, silences WindowExec
        org.apache.spark.sql.expressions.Window.partitionBy(onePart(col("c")))
          .orderBy(col("c").desc, col("k").asc)))
      .agg(
        max(when(col("r") === 1, col("k"))).as("top1_key"),
        max(when(col("r") === 1, col("c"))).as("top1_n"),
        max(when(col("r") === 2, col("k"))).as("top2_key"),
        max(when(col("r") === 3, col("k"))).as("top3_key"),
        sum(col("c")).as("top3_n"))
    stats.crossJoin(top)
      .select(
        col("n_keys"), col("n_rows"), col("max_freq"),
        r4(col("n_rows").cast("double") / col("n_keys")).as("mean_freq"),
        r4(col("p50_0")).as("p50_freq"),
        r4(col("p90_0")).as("p90_freq"),
        r4(col("p99_0")).as("p99_freq"),
        r6(col("max_freq") / (col("n_rows").cast("double") / col("n_keys"))).as("skew_ratio"),
        col("top1_key"), col("top1_n"), col("top2_key"), col("top3_key"),
        r6(col("top3_n").cast("double") / col("n_rows")).as("top3_share"))
  }

  /** Z-order (Morton) clustering key over two join dimensions — the
    * layout device that makes ONE sorted write serve range predicates
    * on EITHER column (a lakehouse clusters its 100 TB fact by zkey so
    * both partkey and suppkey probes skip most files). Pure integer bit
    * interleaving — shifts/masks only, so the key is engine-exact — and
    * entirely row-local; the sort it feeds is the single range exchange
    * a clustered write pays anyway. `file_group` previews the file
    * assignment a fixed-width zkey binning would produce; StorageSpec
    * asserts the locality property (per-group bounding boxes cover a
    * small fraction of the key plane). */
  def zorderKey(lineitem: DataFrame, bits: Int = 16, groupShift: Int = 22): DataFrame = {
    val terms = (0 until bits).map { k =>
      s"shiftleft(shiftright(xb, $k) & 1, ${2 * k}) + " +
        s"shiftleft(shiftright(yb, $k) & 1, ${2 * k + 1})"
    }.mkString(" + ")
    lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .withColumn("xb", expr(s"cast(pmod(l_partkey, ${1 << bits}) as bigint)"))
      .withColumn("yb", expr(s"cast(pmod(l_suppkey, ${1 << bits}) as bigint)"))
      .withColumn("zkey", expr(s"cast($terms as bigint)"))
      .withColumn("file_group", expr(s"cast(shiftright(zkey, $groupShift) as int)"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "zkey", "file_group")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Per-column optimizer statistics — the ANALYZE TABLE surface a
    * cost-based planner consumes: row/null counts, exact NDV, min/max,
    * and 8-bin equi-depth histogram edges. One melted scan feeds every
    * column's stats (adding columns adds no passes); the distinct count
    * runs per (column, value) group — the two-level exact-NDV shape
    * that scales out instead of funneling values through one task.
    *
    * The equi-depth edges are derived from the SAME (feature, value,
    * cnt) aggregate the NDV path computes — an exact distributed
    * cumulative count ([[graft.functions.PrefixSum]], range-bucketed
    * within each feature) locates, for each target rank p*(n-1), the two
    * bracketing distinct values, and Spark's exact-percentile linear
    * interpolation `(hi-r)*v_lo + (r-lo)*v_hi` reproduces the result
    * bit-for-bit. Spark's own `percentile()` aggregate would buffer a
    * value→count map per feature ON ONE REDUCER — NDV-sized (1e7-1e8
    * entries for a price column at 100× scale), an OOM funnel. The
    * prefix-sum path sorts 32 range buckets per feature instead: disk-
    * backed parallel sorts, never an in-memory map, and still exact. */
  def columnStats(lineitem: DataFrame): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val melted = graft.ml.Features.melt(lineitem, cols)
    // Distinct-value frame pinned by an eager localCheckpoint: its
    // lineage is the 4-way melt + shuffle over the full table, and it
    // feeds THREE consumers (the totals aggregate, the prefix-sum NDV
    // probe, and the cumulative window) — without pinning each re-runs
    // the melt scan. The frame is NDV-scale (the same magnitude the
    // cumulative shuffle moves anyway).
    val vals = melted.filter(col("v").isNotNull)
      .groupBy(col("feature"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // lazy: the device's probe job materializes it
    // row/null/min/max stats need no melt: one narrow single-row
    // aggregate over the unexploded scan, reshaped to per-feature rows
    // (1 row -> 4). Saves a second full 4-way-exploded pass + shuffle.
    val stats = lineitem.agg(
        count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          count(col(c)).as(s"nf_$c"),
          min(col(c).cast("double")).as(s"mn_$c"),
          max(col(c).cast("double")).as(s"mx_$c"))): _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("feature"), col("n_rows"),
          col(s"nf_$c").as("n_filled"),
          col(s"mn_$c").as("min_v0"), col(s"mx_$c").as("max_v0"))): _*)).as("s"))
      .select(col("s.*"))
    // 0-indexed run of positions each distinct value occupies in the
    // sorted-by-value order, via the two-level prefix sum of
    // [[graft.functions.PrefixSum]] grouped by feature: the cumulative
    // count no longer serializes one task PER COLUMN (a few-column,
    // huge-NDV profile ran as 4 external sorts of NDV rows each) — each
    // feature's distinct frame splits across 32 range buckets. The
    // feature's non-null total and NDV come from a 4-row aggregate
    // broadcast back instead of a feature-wide window.
    val totals = vals.groupBy(col("feature"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("ndv"))
    val runs = graft.functions.PrefixSum.cumulative(vals, "v", "cnt", Seq("feature"))
      .withColumn("cum_end", col("cum") - 1)
      .withColumn("cum_start", col("cum_end") - col("cnt") + 1)
      .join(broadcast(totals), "feature")
    // For each of the 7 interior octile ranks r = p*(n-1): keep the
    // value-runs covering floor(r) / ceil(r) and interpolate exactly as
    // Spark's Percentile does — (hi-r)*v_lo + (r-lo)*v_hi, collapsing
    // to v_lo when the rank is integral.
    val specs = (1 to 7).map(i =>
      struct(lit(i).as("ei"), lit(i / 8.0).as("p")))
    val edges = runs
      .withColumn("pp", explode(array(specs: _*)))
      .withColumn("r", col("pp.p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("r")))
      .withColumn("hi", ceil(col("r")))
      .filter(col("lo").between(col("cum_start"), col("cum_end")) ||
              col("hi").between(col("cum_start"), col("cum_end")))
      .groupBy(col("feature"), col("pp.ei").as("ei"))
      .agg(
        max(when(col("lo").between(col("cum_start"), col("cum_end")), col("v"))).as("v_lo"),
        max(when(col("hi").between(col("cum_start"), col("cum_end")), col("v"))).as("v_hi"),
        max(col("r")).as("r"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        max(col("ndv")).as("ndv"))
      .withColumn("q",
        // equal-endpoint short-circuit as Percentile.getPercentile (and
        // PrefixSum.exactPercentiles) — octile ranks are dyadic so the
        // reconstruction happens to be exact here, but keep the forms
        // identical
        when(col("lo") === col("hi") || col("v_lo") === col("v_hi"), col("v_lo"))
          .otherwise((col("hi") - col("r")) * col("v_lo") +
                     (col("r") - col("lo")) * col("v_hi")))
      .groupBy("feature")
      .agg(
        max(when(col("ei") === 1, col("q"))).as("q1"),
        max(when(col("ei") === 2, col("q"))).as("q2"),
        max(when(col("ei") === 3, col("q"))).as("q3"),
        max(when(col("ei") === 4, col("q"))).as("q4"),
        max(when(col("ei") === 5, col("q"))).as("q5"),
        max(when(col("ei") === 6, col("q"))).as("q6"),
        max(when(col("ei") === 7, col("q"))).as("q7"),
        max(col("ndv")).as("ndv"))
    stats
      .join(edges, "feature")
      .select(
        col("feature"), col("n_rows"), col("n_filled"), col("ndv"),
        r4(col("min_v0")).as("min_v"), r4(col("max_v0")).as("max_v"),
        r4(col("q1")).as("e1"), r4(col("q2")).as("e2"),
        r4(col("q3")).as("e3"), r4(col("q4")).as("e4"),
        r4(col("q5")).as("e5"), r4(col("q6")).as("e6"),
        r4(col("q7")).as("e7"))
      .orderBy("feature")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_profile" -> ((s, d) => skewProfile(Tables.lineitem(s, d), "l_partkey")),
    "q_zorder_key" -> ((s, d) => zorderKey(Tables.lineitem(s, d))),
    "q_column_stats" -> ((s, d) => columnStats(Tables.lineitem(s, d)))
  )

  val oracles: Map[String, String] = Map(
    "q_zorder_key" -> {
      val terms = (0 until 16).map { k =>
        s"(((xb >> $k) & 1) << ${2 * k}) + (((yb >> $k) & 1) << ${2 * k + 1})"
      }.mkString(" + ")
      s"""WITH b AS (
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             CAST(l_partkey % 65536 AS BIGINT) AS xb,
             CAST(l_suppkey % 65536 AS BIGINT) AS yb
           FROM lineitem),
         z AS (SELECT *, CAST($terms AS BIGINT) AS zkey FROM b)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, zkey,
           CAST(zkey >> 22 AS INT) AS file_group
         FROM z ORDER BY l_orderkey, l_linenumber"""
    },
    "q_column_stats" -> {
      val perCol = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS feature,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT($c) AS BIGINT) AS n_filled,
             CAST(COUNT(DISTINCT CAST($c AS DOUBLE)) AS BIGINT) AS ndv,
             FLOOR(MIN(CAST($c AS DOUBLE)) * 10000 + 0.5) / 10000 AS min_v,
             FLOOR(MAX(CAST($c AS DOUBLE)) * 10000 + 0.5) / 10000 AS max_v,
             FLOOR(quantile_cont(CAST($c AS DOUBLE), 0.125) * 10000 + 0.5) / 10000 AS e1,
             FLOOR(quantile_cont(CAST($c AS DOUBLE), 0.25) * 10000 + 0.5) / 10000 AS e2,
             FLOOR(quantile_cont(CAST($c AS DOUBLE), 0.375) * 10000 + 0.5) / 10000 AS e3,
             FLOOR(quantile_cont(CAST($c AS DOUBLE), 0.5) * 10000 + 0.5) / 10000 AS e4,
             FLOOR(quantile_cont(CAST($c AS DOUBLE), 0.625) * 10000 + 0.5) / 10000 AS e5,
             FLOOR(quantile_cont(CAST($c AS DOUBLE), 0.75) * 10000 + 0.5) / 10000 AS e6,
             FLOOR(quantile_cont(CAST($c AS DOUBLE), 0.875) * 10000 + 0.5) / 10000 AS e7
           FROM lineitem""").mkString("\nUNION ALL\n")
      s"""SELECT * FROM (\n$perCol\n) ORDER BY feature"""
    },
    "q_skew_profile" ->
      """WITH cnts AS (
           SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) c
           FROM lineitem GROUP BY 1),
         stats AS (SELECT
             CAST(COUNT(*) AS BIGINT) n_keys,
             CAST(SUM(c) AS BIGINT) n_rows,
             CAST(MAX(c) AS BIGINT) max_freq,
             quantile_cont(c, 0.5) p50_0,
             quantile_cont(c, 0.9) p90_0,
             quantile_cont(c, 0.99) p99_0
           FROM cnts),
         ranked AS (SELECT k, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) r
           FROM cnts ORDER BY c DESC, k ASC LIMIT 3),
         top AS (SELECT
             MAX(CASE WHEN r = 1 THEN k END) top1_key,
             CAST(MAX(CASE WHEN r = 1 THEN c END) AS BIGINT) top1_n,
             MAX(CASE WHEN r = 2 THEN k END) top2_key,
             MAX(CASE WHEN r = 3 THEN k END) top3_key,
             CAST(SUM(c) AS BIGINT) top3_n
           FROM ranked)
         SELECT n_keys, n_rows, max_freq,
           FLOOR(CAST(n_rows AS DOUBLE) / n_keys * 10000 + 0.5) / 10000 AS mean_freq,
           FLOOR(p50_0 * 10000 + 0.5) / 10000 AS p50_freq,
           FLOOR(p90_0 * 10000 + 0.5) / 10000 AS p90_freq,
           FLOOR(p99_0 * 10000 + 0.5) / 10000 AS p99_freq,
           FLOOR(max_freq / (CAST(n_rows AS DOUBLE) / n_keys) * 1000000 + 0.5) / 1000000 AS skew_ratio,
           top1_key, top1_n, top2_key, top3_key,
           FLOOR(CAST(top3_n AS DOUBLE) / n_rows * 1000000 + 0.5) / 1000000 AS top3_share
         FROM stats CROSS JOIN top"""
  )
}
