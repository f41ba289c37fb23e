package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ScoreStream
import graft.text.Vocab

/** Streaming DSIR gate: scoring arriving documents row-locally against
  * the offline-trained weight artifact must reproduce the batch
  * operator's scores BIT-FOR-BIT (same long·double products, same
  * per-bucket DECIMAL casts, same r6 edge), and the gate flag must
  * agree with the batch top-fraction selection when the edge ships with
  * the artifact. */
class ScoreStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("streamed DSIR scores and gate flags equal the batch operator bit-for-bit") {
    val docs = Tables.documents(spark, sf)
    val batch = Vocab.dsirSelect(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Double]("dsir_score"),
          r.getAs[Boolean]("selected"))).toMap
    assert(batch.nonEmpty)
    // the shipped artifact: dims-row weight vector + the realized edge
    val dims = 64
    val lam = Array.fill(dims)(0.0)
    Vocab.dsirWeights(docs).collect()
      .foreach(r => lam(r.getAs[Int]("bucket")) = r.getAs[Double]("lam"))
    val edge = batch.values.collect { case (_, s, true) => s }.min
    val streamed = ScoreStream.dsirGate(spark, sf, lam.toSeq, edge).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Double]("dsir_score"),
          r.getAs[Boolean]("selected"))).toMap
    assert(streamed.keySet == batch.keySet)
    val diffs = batch.keySet.filter(k => streamed(k) != batch(k))
    assert(diffs.isEmpty,
      s"${diffs.size} docs diverge, e.g. ${diffs.take(3).map(k => (k, batch(k), streamed(k)))}")
    // both selected sets realized the same top-fraction decision
    assert(streamed.values.count(_._3) == batch.values.count(_._3))
  }
}
