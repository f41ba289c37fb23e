package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Masking
import graft.streaming.{EventStream, ScoreStream}

/** Streaming masking gate: the catalog policy applied at ingest must
  * produce BIT-FOR-BIT the projection the batch mart publishes (one
  * shared maskTable — the two surfaces cannot drift), with no streaming
  * state anywhere in the plan (pure stateless Append). */
class MaskStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("streamed masked events equal the batch masked projection bit-for-bit") {
    val policy = Masking.policy("events")
    val batch = Masking.maskTable(Tables.events(spark, sf), policy)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty)
    val streamed = ScoreStream.maskGate(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    assert(streamed == batch)
    // schema preserved in place: same names, same order as the raw table
    val rawCols = Tables.events(spark, sf).columns.toSeq
    assert(Masking.maskTable(Tables.events(spark, sf), policy).columns.toSeq == rawCols)
  }

  test("streamed entropy gate equals the batch charEntropy bit-for-bit") {
    val batch = graft.text.TextOps.charEntropy(Tables.documents(spark, sf))
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty)
    val streamed = ScoreStream.entropyGate(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("the mask gate is stateless: no aggregate or join in the streaming plan") {
    val frame = Masking.maskTable(
      EventStream.readEvents(spark, sf), Masking.policy("events"))
    assert(frame.isStreaming)
    val plan = frame.queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate") && !plan.contains("Join"),
      s"mask gate must stay a stateless projection:\n$plan")
  }
}
