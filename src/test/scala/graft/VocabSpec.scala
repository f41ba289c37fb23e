package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Embeddings
import graft.text.Vocab

/** Invariants for the vocabulary/chunking/projection operators beyond the
  * row-level oracle: coverage, monotonicity, and plan-shape properties. */
class VocabSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("tfidf: k rows per doc, ranks 1..k, scores non-increasing within a doc") {
    val docs = Tables.documents(spark, sf)
    val r = Vocab.tfidf(docs, k = 3).collect()
    val byDoc = r.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getAs[Double]("tfidf"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("chunkDocs: chunks tile every word; strides and tail lengths consistent") {
    val docs = Tables.documents(spark, sf)
    val lens = graft.text.TextPrep.withWords(docs)
      .select(col("doc_id"), size(col("words")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = Vocab.chunkDocs(docs, width = 64, stride = 48).collect()
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val n = lens(id)
      val sorted = rows.sortBy(_.getAs[Int]("chunk_idx"))
      // starts advance by exactly the stride from zero
      assert(sorted.zipWithIndex.forall { case (r, i) =>
        r.getAs[Long]("start_word") == i.toLong * 48 })
      // every word is covered: last chunk reaches the end, none overruns
      val last = sorted.last
      assert(last.getAs[Long]("start_word") + last.getAs[Long]("n_words") == n.toLong)
      assert(sorted.forall(r => r.getAs[Long]("n_words") > 0 && r.getAs[Long]("n_words") <= 64))
    }
  }

  test("bigramVocab: cum_share is non-decreasing and consistent with shares; plan has no global sort of the vocab") {
    val docs = Tables.documents(spark, sf)
    val q = Vocab.bigramVocab(docs, k = 20)
    val r = q.collect()
    assert(r.length == 20)
    val cum = r.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cum_share"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(cum.last <= 1.0 + 1e-9)
    // top-k must come from TakeOrderedAndProject, not a full Sort+Limit
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("randomProjection: exact row-local arithmetic, shuffle-free plan, JL norm preservation in expectation") {
    val emb = Tables.embeddings(spark, sf)
    val q = Embeddings.randomProjection(emb)
    assert(q.groupBy("vec_id").count().select(max("count")).first().getLong(0) == 16L)
    // projection itself (pre-presentation-sort) must not exchange
    val core = q.queryExecution.optimizedPlan.toString
    assert(!core.contains("Repartition"))
    // E[||proj||^2 / outDims] ~ ||x||^2 / ... sanity: projected values are finite and non-degenerate
    val stats = q.agg(sum(abs(col("value"))).as("l1"), count(lit(1)).as("n")).first()
    assert(stats.getAs[Double]("l1") > 0)
  }

  test("unigramLm: bits/token positive, rare-token docs score higher than pure-stopword docs") {
    val docs = Tables.documents(spark, sf)
    val r = Vocab.unigramLm(docs).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Double]("bits_per_token") > 0))
    // weighted mean bits/token equals corpus unigram entropy >= 0 and
    // no doc can beat -log2(p_max) of the most common word
    val toks = r.map(_.getAs[Long]("n_tokens")).sum
    assert(toks > 0)
  }

  test("mixPlan: weights sum to 1, no source oversampled, smallest source binds") {
    val docs = Tables.documents(spark, sf)
    val r = Vocab.mixPlan(docs).collect()
    val wsum = r.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
    assert(r.forall(_.getAs[Double]("sampling_rate") <= 1.0 + 1e-9))
    assert(r.forall(x => x.getAs[Long]("take_tokens") <= x.getAs[Long]("avail_tokens")))
    val smallest = r.minBy(_.getAs[Long]("avail_tokens"))
    assert(smallest.getAs[Double]("sampling_rate") >= 1.0 - 1e-6,
      "binding source should be sampled at ~rate 1")
  }

  test("pplFilter: tertiles partition the scored docs, keep drops exactly the tail") {
    val out = Vocab.pplFilter(Tables.documents(spark, sf)).collect()
    val n = out.length
    assert(n > 0)
    val byBucket = out.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // the exact cumulative-count edges give balanced thirds up to tie slack
    byBucket.values.foreach(c => assert(math.abs(c - n / 3.0) <= n / 6.0 + 2.0))
    out.foreach(r =>
      assert(r.getAs[Boolean]("keep") == (r.getAs[String]("bucket") != "tail")))
    // buckets are monotone in the score: no head doc outscores a middle doc
    def scores(b: String) =
      out.filter(_.getAs[String]("bucket") == b).map(_.getAs[Double]("bits_per_token"))
    assert(scores("head").max <= scores("middle").min)
    assert(scores("middle").max <= scores("tail").min)
  }

  test("epochPlan: epoch cap binds, realized shares sum to 1, budget never exceeded") {
    val out = Vocab.epochPlan(Tables.documents(spark, sf)).collect()
    assert(out.nonEmpty)
    assert(math.abs(out.map(_.getAs[Double]("realized_share")).sum - 1.0) < 1e-3)
    out.foreach { r =>
      val epochs = r.getAs[Double]("epochs")
      assert(epochs > 0.0 && epochs <= 4.0 + 1e-9)
      assert(r.getAs[Long]("take_tokens") <=
        (4.0 * r.getAs[Long]("avail_tokens")).toLong + 1)
      if (r.getAs[Boolean]("capped")) assert(epochs == 4.0)
    }
    // 2x-corpus budget in the multi-epoch regime: more than one full pass,
    // but never more than the budget (caps and floors only remove tokens)
    val totalAvail = out.map(_.getAs[Long]("avail_tokens")).sum
    val totalTake = out.map(_.getAs[Long]("take_tokens")).sum
    assert(totalTake > totalAvail && totalTake <= 2L * totalAvail)
  }

  test("projection is deterministic across partition layouts") {
    val emb = Tables.embeddings(spark, sf)
    val a = Embeddings.randomProjection(emb).collect().map(_.toString).sorted
    val b = Embeddings.randomProjection(emb.repartition(7)).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
