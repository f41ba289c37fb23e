package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann

/** The IVF probe core pinned by exact identities: once every cell is
  * probed (nCells = kCents), the probed searches must return the exact
  * brute-force lists row for row — same neighbours, ranks and cosines. */
class AnnSearchSpec extends AnyFunSuite {
  import TestSession._

  private lazy val emb = Tables.embeddings(spark, sf)
  private val kCents = 16

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select("probe_id", "rank", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  private lazy val exact = rows(Ann.bruteForceTopK(emb))

  test("every cell probed: ivfSearch == bruteForceTopK row for row") {
    assert(exact.size == 100)
    assert(rows(Ann.ivfSearch(emb, kCents = kCents, nCells = kCents)) == exact)
  }

  test("every cell probed, shortlist >= corpus: pqRefine == bruteForceTopK row for row") {
    val n = emb.count().toInt
    assert(rows(Ann.pqRefine(emb, shortlist = n, kCents = kCents, nCells = kCents)) == exact)
  }

  test("every cell probed: ivfFilteredSearch == the label-restricted brute-force top-k") {
    val n = emb.count().toInt
    val labels = emb.select(col("vec_id"), col("label"))
    // the full exact ranking, restricted to the probe's label and re-ranked
    val truth = Ann.bruteForceTopK(emb, k = n)
      .join(labels.withColumnRenamed("vec_id", "probe_id")
        .withColumnRenamed("label", "plabel"), "probe_id")
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .filter(col("label") === col("plabel"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("rank"))))
      .filter(col("rank") <= 10)
    val want = rows(truth)
    assert(want.nonEmpty)
    assert(rows(Ann.ivfFilteredSearch(emb, kCents = kCents, nCells = kCents)) == want)
  }

  test("default ivfFilteredSearch: every neighbour carries its probe's label, no probe lists itself") {
    val labels = emb.select(col("vec_id"), col("label"))
    val got = Ann.ivfFilteredSearch(emb)
      .join(labels.withColumnRenamed("vec_id", "probe_id")
        .withColumnRenamed("label", "plabel"), "probe_id")
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .select("probe_id", "neighbor_id", "label", "plabel").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getInt(2) == r.getInt(3), s"cross-label neighbour $r")
      assert(r.getLong(0) != r.getLong(1), s"probe lists itself: $r")
    }
  }

  test("an empty embeddings frame: all three probed searches return zero rows") {
    val empty = emb.limit(0)
    assert(Ann.ivfSearch(empty).count() == 0)
    assert(Ann.pqRefine(empty).count() == 0)
    assert(Ann.ivfFilteredSearch(empty).count() == 0)
  }
}
