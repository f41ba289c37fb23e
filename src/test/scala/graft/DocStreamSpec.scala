package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.streaming.DocStream

/** Streaming ingestion-dedup: the row-local banding must be
  * bit-identical to the batch explode+aggregate form, and streaming a
  * new-doc batch against the static band store must surface exactly the
  * candidates the batch incremental path sees. */
class DocStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def split(docs: org.apache.spark.sql.DataFrame) = {
    val tagged = docs.withColumn("d",
      expr("instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1"))
    (tagged.filter(col("d") >= 2).drop("d"), tagged.filter(col("d") < 2).drop("d"))
  }

  test("row-local banding equals the batch explode+aggregate lshBands bit-for-bit") {
    val docs = Tables.documents(spark, sf)
    val batch = Dedup.bandStore(docs).collect().map(_.toString).sorted
    val rowLocal = DocStream.bandsRowLocal(docs).collect().map(_.toString).sorted
    assert(batch.nonEmpty && batch.sameElements(rowLocal))
  }

  test("streaming band matches equal the batch stream-static equivalent") {
    val docs = Tables.documents(spark, sf)
    val (existing, fresh) = split(docs)
    val store = Dedup.bandStore(existing)
    val streamed = DocStream.bandMatches(spark, sf, store,
      newDocFilter = Some(graft.functions.Fns.hexDigit("doc_id", 1) < 2))
      .select("new_doc", "corpus_doc", "band_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = Dedup.bandStore(fresh).as("n")
      .join(store.withColumnRenamed("doc_id", "corpus_doc")
        .withColumnRenamed("bh", "cbh").withColumnRenamed("band_idx", "cband"),
        col("band_idx") === col("cband") && col("bh") === col("cbh"))
      .select(col("doc_id"), col("corpus_doc"), col("band_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "split corpus should produce at least one cross match")
  }
}
