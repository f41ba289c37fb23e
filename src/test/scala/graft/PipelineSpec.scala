package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Packing, TextOps, Vocab}

/** End-to-end composition: the full training-data preparation pipeline a
  * user of this library would actually run — curate (lang/quality/dedup
  * gates) → chunk the survivors → pack chunks into fixed-budget
  * sequences → plan the source mixture. Asserts conservation invariants
  * across stage boundaries and that the composed job executes as ONE
  * lazy Catalyst plan per sink (operators never force actions
  * mid-pipeline). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("curate -> chunk -> pack composes lazily and conserves rows/tokens across stages") {
    val docs = Tables.documents(spark, sf)
    val curated = TextOps.curate(docs)
    val keptIds = curated.filter(col("keep")).select("doc_id")
    val kept = docs.join(keptIds, "doc_id")

    // stage boundary 1: curation partitions the corpus exactly
    val total = docs.count()
    val verdicts = curated.groupBy("drop_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verdicts.values.sum == total)
    assert(verdicts.getOrElse("kept", 0L) == kept.count())

    // stage boundary 2: chunks tile every kept document's words exactly
    val chunks = Vocab.chunkDocs(kept, width = 64, stride = 48)
    val keptDocsWithChunks = chunks.select("doc_id").distinct().count()
    assert(keptDocsWithChunks == kept.count(), "every kept doc must chunk")

    // stage boundary 3: packing conserves the total token mass of its input
    val packed = Packing.packSequences(kept, budget = 512)
    val packedTokens = packed.agg(sum("n_tokens")).first().getLong(0)
    val keptTokens = kept
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .agg(sum("n")).first().getLong(0)
    assert(packedTokens == keptTokens, s"packing lost tokens: $packedTokens != $keptTokens")

    // stage boundary 4: the mixture plan over the kept corpus never
    // oversamples and its take fits inside what curation left available
    val plan = Vocab.mixPlan(kept).collect()
    assert(plan.nonEmpty)
    assert(plan.forall(r => r.getAs[Long]("take_tokens") <= r.getAs[Long]("avail_tokens")))
    assert(math.abs(plan.map(_.getAs[Double]("weight")).sum - 1.0) < 1e-4)

    // the composed curate->chunk frame is still ONE lazy plan: a single
    // collect-time job, no operator forced an action or cached mid-chain.
    // Scope the check to THIS pipeline's operators: suites run in parallel
    // on the shared session, and iterative operators under test elsewhere
    // (cluster propagation, PageRank) legitimately hold mid-flight
    // localCheckpoint blocks that a global emptiness assert would race on.
    val pipelineLeaks = spark.sparkContext.getPersistentRDDs.values
      .map(_.toString)
      .filter(s => Seq("TextOps", "Vocab", "Packing", "Filters").exists(s.contains))
    assert(pipelineLeaks.isEmpty,
      s"pipeline stages must not leak persisted state: $pipelineLeaks")
  }
}
