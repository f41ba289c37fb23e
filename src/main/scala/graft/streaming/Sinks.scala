package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Sink patterns for the streaming twins: the memory-sink drain every
  * twin returns its result through ([[drain]], [[drainStateless]]), and
  * the production exactly-once parquet sink.
  *
  * Structured Streaming's delivery guarantee to `foreachBatch` is
  * AT-LEAST-ONCE: after a crash between "sink wrote batch N" and
  * "checkpoint committed batch N", recovery re-delivers batch N with the
  * SAME batchId. Exactly-once OUTPUT therefore has to come from the sink
  * being idempotent per batchId — the reference's warehouse loads get
  * this from Snowflake MERGE (core/snowflake_connection_manager.py);
  * on a data lake the equivalent device is dynamic partition overwrite
  * keyed by the batch id, so a replay REPLACES its own partition instead
  * of appending a duplicate.
  *
  * Scale shape: each micro-batch writes only its own `batch_id=N`
  * directory — no read-modify-write of history, no global listing; a
  * 100 TB target accumulates partitions at stream cadence and compaction
  * is an independent batch job over closed partitions.
  */
object Sinks {

  /** Run a finite streaming frame to the memory sink under `name`,
    * block until the source is drained, and return the sink's table.
    * The query is stopped in `finally`, so a failed micro-batch never
    * leaves it running in the session. */
  def drain(out: DataFrame, mode: OutputMode, name: String): DataFrame =
    run(out, mode, name)(_ => ())

  /** [[drain]] in Append mode for a twin whose doc claims a row-local,
    * stateless plan: fails unless the last progress reports zero state
    * operators. A null progress (an empty source ran no micro-batch) is
    * zero state, not a failure. */
  def drainStateless(out: DataFrame, name: String): DataFrame =
    run(out, OutputMode.Append(), name) { q =>
      val ops = Option(q.lastProgress).flatMap(p => Option(p.stateOperators))
        .getOrElse(Array.empty)
      require(ops.isEmpty,
        s"stream '$name' must hold zero aggregation state, found ${ops.length} state operators")
    }

  private def run(out: DataFrame, mode: OutputMode, name: String)
                 (check: StreamingQuery => Unit): DataFrame = {
    val q = out.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      check(q)
    } finally q.stop()
    out.sparkSession.table(name)
  }

  /** The per-batch writer [[exactlyOnceParquet]] installs — exposed so
    * specs (and recovery tooling) can replay a delivered batch and
    * assert idempotence. Overwrites exactly the `batch_id=<batchId>`
    * partition of `target`, leaving every other partition untouched. */
  def writeBatch(target: String)(batch: Dataset[Row], batchId: Long): Unit = {
    // withColumn silently REPLACES a same-named column — a user frame
    // already carrying batch_id would lose its data and repartition the
    // sink without any error (the PrefixSum 'cum' guard class)
    require(!batch.columns.contains("batch_id"),
      "the exactly-once sink adds its own 'batch_id' partition column; " +
        "the streamed frame already has one — rename it first")
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(target)
  }

  /** Drain a (finite) streaming frame into `target` with exactly-once
    * output semantics: at-least-once delivery + an idempotent
    * per-batchId dynamic-partition overwrite. `checkpoint` carries the
    * commit log — restarting with the same checkpoint and source skips
    * already-committed batches entirely.
    *
    * `availableNow = true` runs under `Trigger.AvailableNow()` — the
    * production backfill shape: process everything currently in the
    * source (respecting source rate limits like `maxFilesPerTrigger`,
    * so a 100 TB landing zone drains in bounded batches) and terminate.
    * The default drives the test-harness path (`processAllAvailable`),
    * which blocks until the source is drained but keeps the query
    * running until stopped. */
  def exactlyOnceParquet(stream: DataFrame, target: String,
                         checkpoint: String,
                         availableNow: Boolean = false): Unit = {
    val writer = stream.writeStream
      .foreachBatch(writeBatch(target) _)
      .option("checkpointLocation", checkpoint)
    val q = (if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else writer).start()
    // stop in finally: a failed micro-batch would otherwise leave the
    // query registered and holding the checkpoint dir, so a caller's
    // retry with the same checkpoint dies on a concurrent-update error
    // instead of resuming from the commit log
    try {
      if (availableNow) q.awaitTermination() else q.processAllAvailable()
    } finally q.stop()
  }
}
