package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann
import graft.dedup.Dedup

/** The bucket cap of the LSH band self-join (`Dedup.bucketPairs`) at its
  * boundary: a bucket of exactly `bucketLimit` members still pairs, one
  * of `bucketLimit + 1` pairs nothing. Identical members share their
  * bucket in every band, so each case is one bucket per band. Covers
  * MinHash and cosine-LSH bands, full and incremental; the incremental
  * cases store 3 members and add 2, so the cap of 4 that drops them is
  * above either side alone — it counts store ∪ batch. */
class BucketPairsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val limit = 5

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, "one boilerplate paragraph shared by every member", "en", "s", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def vecs(ids: Seq[Long]): DataFrame = {
    graft.functions.DotScaled.register(spark)
    ids.map(i => (i, Array.tabulate(64)(j => if (j % 3 == 0) 0.5f else -0.25f), 0))
      .toDF("vec_id", "embedding", "label")
  }

  /** The (a, b) pairs of a pair frame; every one must share all 4 bands. */
  private def pairs(df: DataFrame, a: String, b: String): Set[(Long, Long)] = {
    val rows = df.collect()
    assert(rows.forall(_.getAs[Long]("n_shared_bands") == 4L))
    rows.map(r => (r.getAs[Long](a), r.getAs[Long](b))).toSet
  }

  private def allPairs(ids: Seq[Long]): Set[(Long, Long)] =
    ids.combinations(2).map { case Seq(a, b) => (a, b) }.toSet

  private val newSidePairs = allPairs(1L to 5L) -- allPairs(1L to 3L)

  test("minhash: a bucket of bucketLimit docs pairs, one of bucketLimit + 1 pairs nothing") {
    def run(n: Long) = pairs(Dedup.minhashLsh(docs(1L to n), bucketLimit = limit), "doc_a", "doc_b")
    assert(run(limit.toLong) == allPairs(1L to limit.toLong))
    assert(run(limit + 1L).isEmpty)
  }

  test("minhash increment: the cap counts store ∪ batch") {
    val store = Dedup.bandStore(docs(1L to 3L))
    def run(cap: Int) = Dedup.minhashIncrement(docs(Seq(4L, 5L)), store, bucketLimit = cap)
    assert(pairs(run(limit), "doc_a", "doc_b") == newSidePairs)
    assert(run(limit).filter($"kind" === "new_vs_new").count() == 1L)
    assert(run(limit - 1).count() == 0L)
  }

  test("cosine LSH: a bucket of bucketLimit vectors pairs, one of bucketLimit + 1 pairs nothing") {
    def run(n: Long) = Ann.lshNearDup(vecs(1L to n), nBits = 16, bandBits = 4, bucketLimit = limit)
    assert(pairs(run(limit.toLong), "vec_a", "vec_b") == allPairs(1L to limit.toLong))
    assert(run(limit.toLong).filter($"cosine" =!= 1.0).count() == 0L)
    assert(run(limit + 1L).count() == 0L)
  }

  test("cosine LSH increment: the cap counts store ∪ batch") {
    val all = vecs(1L to 5L)
    val store = Ann.lshBandStore(all.filter($"vec_id" <= 3L))
    def run(cap: Int) = Ann.lshIncrement(all.filter($"vec_id" > 3L), all, store, bucketLimit = cap)
    assert(pairs(run(limit), "vec_a", "vec_b") == newSidePairs)
    assert(run(limit).filter($"kind" === "new_vs_new").count() == 1L)
    assert(run(limit - 1).count() == 0L)
  }
}
