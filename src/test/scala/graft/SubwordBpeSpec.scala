package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.SubwordBpe

/** Behavioral invariants of the CHARACTER-grain (Sennrich) BPE trainer
  * beyond the row oracle: determinism, the non-increasing weighted
  * merge-frequency law, the train/apply identity at word grain,
  * OOV-FREEDOM (every word — including words never seen in training —
  * reconstructs exactly from its subword tokens, and every learned
  * token is a single character, the end-of-word marker, or a
  * merge-table product), and the crafted within-word overlap case. */
class SubwordBpeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sf)

  test("subwordTrain is deterministic and its weighted pair count never increases") {
    val a = SubwordBpe.subwordTrain(docs).collect().map(_.toSeq).toSeq
    val b = SubwordBpe.subwordTrain(docs).collect().map(_.toSeq).toSeq
    assert(a == b, "two identical trainings diverged")
    assert(a.size == 8)
    val ns = a.map(r => r(4).asInstanceOf[Long])
    assert(ns.zip(ns.tail).forall { case (x, y) => y <= x },
      s"max weighted pair frequency increased across rounds: $ns")
  }

  test("train/apply identity: replaying the merges over the word table reproduces the final state") {
    val (table, finalState) = SubwordBpe.trainWithState(docs, rounds = 8)
    try {
      val applied = SubwordBpe.applyWords(
        SubwordBpe.wordState(docs).select(col("word"), col("n")), table)
      val diff = finalState.select(col("word"), col("syms").as("s_train"))
        .join(applied.select(col("word"), col("syms").as("s_apply")), "word")
        .filter(not(col("s_train") === col("s_apply")))
        .count()
      assert(diff == 0L, s"$diff words diverge between train state and replay")
      assert(finalState.count() == applied.count())
    } finally finalState.unpersist()
  }

  test("OOV-freedom: every word — seen or unseen — reconstructs exactly from its subwords") {
    import spark.implicits._
    val table = SubwordBpe.subwordTrain(docs)
    // unseen words tokenize too: merges that don't apply leave chars
    val unseen = Seq((900L, "zebra quantum the merge"), (901L, "xyzzy"))
      .toDF("doc_id", "text")
    for (corpus <- Seq(docs, unseen)) {
      val bad = SubwordBpe.applyWords(
          SubwordBpe.wordState(corpus).select(col("word"), col("n")), table)
        .filter(concat_ws("", col("syms")) =!= concat(col("word"), lit("</w>")))
        .count()
      assert(bad == 0L, "a word did not reconstruct from its subword tokens")
    }
  }

  test("closed vocabulary: every final token is a single char, the marker, or a merge product") {
    val (table, finalState) = SubwordBpe.trainWithState(docs, rounds = 8)
    try {
      val merged = table.select(col("merged").as("tok"))
      val offVocab = finalState
        .select(explode(col("syms")).as("tok")).distinct()
        .filter(length(col("tok")) > 1 && col("tok") =!= "</w>")
        .join(merged, Seq("tok"), "left_anti")
        .count()
      assert(offVocab == 0L, "a multi-char token is not a merge-table product")
    } finally finalState.unpersist()
  }

  test("apply mart: n_syms - n_tokens = n_merges and the fingerprint is stable") {
    val table = SubwordBpe.subwordTrain(docs)
    val m = SubwordBpe.subwordApply(docs, table)
    assert(m.filter(col("n_syms") - col("n_tokens") =!= col("n_merges")).count() == 0L)
    assert(m.filter(col("n_tokens") > col("n_syms")).count() == 0L,
      "merging can only shrink the symbol stream")
    val h1 = m.select("doc_id", "tok_hash").collect().map(_.toSeq).toSet
    val h2 = SubwordBpe.subwordApply(docs, table)
      .select("doc_id", "tok_hash").collect().map(_.toSeq).toSet
    assert(h1 == h2)
  }

  test("greedy leftmost non-overlapping merge within a word (the 'aaaaa' case)") {
    import spark.implicits._
    val crafted = Seq((0L, "aaaaa aaaaa"), (1L, "ab")).toDF("doc_id", "text")
    val t = SubwordBpe.subwordTrain(crafted, rounds = 1).collect()
    assert(t.length == 1)
    assert(t(0).getAs[String]("tok_a") == "a" && t(0).getAs[String]("tok_b") == "a")
    // 4 adjacent (a,a) pairs per occurrence x 2 occurrences of "aaaaa"
    assert(t(0).getAs[Long]("pair_n") == 8L)
    val applied = SubwordBpe.applyWords(
        SubwordBpe.wordState(crafted).select(col("word"), col("n")),
        SubwordBpe.subwordTrain(crafted, rounds = 1))
      .orderBy("word").collect()
    val byWord = applied.map(r => r.getAs[String]("word") ->
      r.getAs[scala.collection.Seq[String]]("syms").toList).toMap
    assert(byWord("aaaaa") == List("aa", "aa", "a", "</w>"),
      "run of 5 chars must merge greedily into pairs from the left")
    assert(byWord("ab") == List("a", "b", "</w>"))
  }

  test("empty corpus: train emits no merges and apply passes symbols through") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(SubwordBpe.subwordTrain(empty).count() == 0L)
    val someDocs = Seq((7L, "ab c")).toDF("doc_id", "text")
    val out = SubwordBpe.subwordApply(someDocs, SubwordBpe.subwordTrain(empty)).collect()
    assert(out.length == 1 && out(0).getAs[Long]("n_tokens") == 5L &&
      out(0).getAs[Long]("n_merges") == 0L)
  }
}
