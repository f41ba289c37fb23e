package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.Inference

/** Streaming model serving — the structured-streaming twin of the
  * reference's real-time inference service
  * (/root/reference/ml_platform/inference/realtime_inference_service.py:
  * predict_ensemble :226-282, served behind a request loop). The Spark
  * shape: the fitted scaler ([[Inference.fitMoments]] — the "model
  * artifact") is a static one-row frame broadcast into each micro-batch;
  * scoring is entirely row-local ([[Inference.scoreWith]]), so the query
  * is stateless Append — no state store, no watermark, throughput bounded
  * only by input partitions. A thousand-executor deployment serves this
  * by pointing the file source at the landing zone; the identical column
  * math is what the batch q_ensemble_score entry verifies against DuckDB.
  */
object InferStream {

  /** Score an orders stream against a pre-fit static scaler. Returns the
    * collected memory-sink table after draining available input; zero
    * aggregation state asserted. */
  def scoreStream(spark: SparkSession, dir: String, moments: DataFrame,
                  queryName: String = "stream_infer"): DataFrame =
    Sinks.drainStateless(Inference.scoreWith(
      Inference.features(Staging.read(spark, dir, "orders")), moments), queryName)
}
