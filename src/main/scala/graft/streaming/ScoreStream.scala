package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Streaming DSIR quality gate — the DEPLOYMENT shape of
  * [[graft.text.Vocab.dsirSelect]]: the importance weights are trained
  * OFFLINE on the existing corpus ([[graft.text.Vocab.dsirWeights]] — a
  * `dims`-row artifact) together with a selection edge, then every
  * arriving document is scored and gated ROW-LOCALLY inside its
  * micro-batch. No streaming aggregation state at all (the same
  * stateless-ingest contract as [[DocStream.bandMatches]]): the weights
  * ride along as a literal array column, the per-doc bucket counts come
  * from array higher-order functions over the doc's own tokens, and the
  * score reproduces the batch operator's arithmetic EXACTLY — per-bucket
  * long·double product, one DECIMAL(20,12) cast per bucket, decimal sum
  * (associative, so bucket-order vs shuffle-order is immaterial), r6 at
  * the edge. ScoreStreamSpec locks streamed == batch bit-equality.
  *
  * At 100 TB of ingest this is one projection per micro-batch: nothing
  * is keyed, nothing is joined, the artifact never grows with the
  * corpus; re-TRAINING the weights stays a batch job, exactly as the
  * paper deploys it.
  */
object ScoreStream {

  /** Score and gate a document stream against a trained weight vector.
    *
    * @param lam  bucket → λ importance weight, `lam.length` = dims
    *             (missing/empty buckets are 0.0 — a zero count
    *             contributes an exact decimal zero either way)
    * @param edge selection threshold on the r6 score (ships with the
    *             artifact; the batch twin derives it from takeFrac)
    */
  def dsirGate(spark: SparkSession, dir: String, lam: Seq[Double], edge: Double,
               targetSource: String = "src0",
               queryName: String = "stream_dsir"): DataFrame = {
    val dims = lam.length
    val bucketOf = (e: String) =>
      s"((instr('0123456789abcdef', substr(md5(cast($e as binary)), 1, 1)) - 1) * 16 + " +
        s"instr('0123456789abcdef', substr(md5(cast($e as binary)), 2, 1)) - 1) % $dims"
    val scored = Staging.read(spark, dir, "documents")
      .filter(col("source") =!= targetSource)
      .withColumn("words", split(Fns.normText(col("text")), " "))
      .withColumn("bkts", expr(s"transform(words, w -> ${bucketOf("w")})"))
      .withColumn("lamarr", array(lam.map(lit): _*))
      // each step casts back to the zero's decimal(20,12): Spark's
      // aggregate() requires a stable accumulator type (plain decimal
      // addition widens precision), and scale-12 stays lossless for
      // these magnitudes — identical exact arithmetic to the batch sum
      .withColumn("s0", expr(
        s"""aggregate(sequence(0, $dims - 1), cast(0 as decimal(20, 12)),
           |  (acc, b) -> cast(acc + cast(size(filter(bkts, x -> x = b)) * lamarr[b]
           |                              as decimal(20, 12)) as decimal(20, 12)))""".stripMargin))
      .select(col("doc_id"), col("source"),
        size(col("words")).cast("long").as("n_tok"),
        Fns.r6(col("s0").cast("double")).as("dsir_score"))
      .withColumn("selected", col("dsir_score") >= lit(edge))
    Sinks.drainStateless(scored, queryName)
  }

  /** Character-entropy quality gate at INGEST — the stateless streaming
    * twin of [[graft.text.TextOps.charEntropy]]. The batch operator
    * aggregates per-(doc, char) counts through a shuffle; a stream must
    * not (per-doc state for a row-local property is waste), so the same
    * statistic is computed INSIDE the row: distinct chars via
    * array_distinct, each count via a filter() scan of the doc's own
    * char array, every entropy term cast to DECIMAL(20,12) before the
    * fold. Decimal addition is exact and commutative, so the
    * first-occurrence fold order here and the shuffle order of the batch
    * groupBy produce the SAME total — MaskStreamSpec locks streamed ==
    * batch bit-for-bit. Cost per row is O(len × |alphabet|) — the
    * documented trade for zero streaming state at 100 TB of ingest. */
  def entropyGate(spark: SparkSession, dir: String,
                  queryName: String = "stream_entropy"): DataFrame = {
    val gated = Staging.read(spark, dir, "documents")
      .withColumn("chars", split(Fns.normText(col("text")), ""))
      .filter(length(Fns.normText(col("text"))) > 0)
      .withColumn("s0", expr(
        """aggregate(array_distinct(chars), cast(0 as decimal(20, 12)),
          |  (acc, c) -> cast(acc + cast(
          |    (cast(size(filter(chars, x -> x = c)) as double) / size(chars))
          |      * ln(cast(size(filter(chars, x -> x = c)) as double) / size(chars))
          |    as decimal(20, 12)) as decimal(20, 12)))""".stripMargin))
      .select(col("doc_id"),
        size(col("chars")).cast("long").as("n_chars_norm"),
        size(array_distinct(col("chars"))).cast("long").as("n_distinct_chars"),
        Fns.r6((-col("s0")).cast("double")).as("entropy"))
      .withColumn("low_entropy", col("entropy") < lit(2.0))
    Sinks.drainStateless(gated, queryName)
  }

  /** Catalog-policy masking at INGEST — the streaming deployment of
    * [[graft.operators.Masking.maskTable]]: the SAME policy object
    * produces the same RLS filter + row-local masked projection over a
    * readStream frame, because mask rules are pure SELECT expressions
    * (no aggregate, no state). The governance point: data masked at
    * rest but not in motion leaks PII through the streaming sinks — the
    * policy must bind to the SOURCE, and sharing one `maskTable`
    * guarantees the batch marts and the live feed can never disagree
    * on what an analyst role sees. Zero streaming state (stateless
    * Append — MaskStreamSpec locks bit-equality with the batch
    * projection and the absence of state operators), so at 100 TB of
    * ingest this adds only codegen'd projection work per micro-batch. */
  def maskGate(spark: SparkSession, dir: String,
               queryName: String = "stream_mask"): DataFrame = {
    val masked = graft.operators.Masking.maskTable(
      EventStream.readEvents(spark, dir),
      graft.operators.Masking.policy("events"))
    Sinks.drainStateless(masked, queryName)
  }
}
