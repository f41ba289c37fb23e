package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.Bpe

/** Behavioral invariants of the iterative BPE trainer beyond the row
  * oracle: determinism, the non-increasing merge-frequency law, token
  * conservation, and the train/apply identity (replaying the ranked
  * merge table over the raw corpus reproduces the training-time final
  * state bit-for-bit). */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sf)

  test("corpus precondition: no token contains the U+0001 frame char") {
    import graft.text.TextPrep
    val bad = TextPrep.withWords(docs.filter(col("text").isNotNull))
      .filter(col("norm").contains("\u0001")).count()
    assert(bad == 0L, "oracle separator framing would be ambiguous")
  }

  test("bpeTrain is deterministic and its winning pair count never increases") {
    val a = Bpe.bpeTrain(docs).collect().map(_.toSeq).toSeq
    val b = Bpe.bpeTrain(docs).collect().map(_.toSeq).toSeq
    assert(a == b, "two identical trainings diverged")
    assert(a.size == 8)
    val ns = a.map(r => r(4).asInstanceOf[Long])
    assert(ns.zip(ns.tail).forall { case (x, y) => y <= x },
      s"max pair frequency increased across rounds: $ns — a merge can only" +
        " remove occurrences of existing pairs and any pair it creates is" +
        " bounded by the count it consumed")
  }

  test("train/apply identity: replaying the ranked merges reproduces the final training state bit-for-bit") {
    val (table, finalState) = Bpe.trainWithState(docs, rounds = 8)
    try {
      val applied = Bpe.applyTokens(docs, table)
      val diff = finalState.select(col("doc_id"), col("toks").as("t_train"))
        .join(applied.select(col("doc_id"), col("toks").as("t_apply")), "doc_id")
        .filter(not(col("t_train") === col("t_apply")))
        .count()
      assert(diff == 0L, s"$diff documents diverge between train state and replay")
      assert(finalState.count() == applied.count())
    } finally finalState.unpersist()
  }

  test("bpeApply conserves tokens: splitting merged tokens on ' ' recovers the original word stream") {
    val merges = Bpe.bpeTrain(docs)
    val applied = Bpe.applyTokens(docs, merges)
      .withColumn("unmerged", expr("flatten(transform(toks, t -> split(t, ' ')))"))
    val orig = Bpe.tokenState(docs)
      .select(col("doc_id"), col("toks").as("words0"))
    val diff = applied.join(orig, "doc_id")
      .filter(not(col("unmerged") === col("words0"))).count()
    assert(diff == 0L, "a merge lost or reordered words")
    // and the summary mart agrees with the array grain
    val m = Bpe.bpeApply(docs, merges)
      .filter(col("n_words") - col("n_tokens") =!= col("n_merges")).count()
    assert(m == 0L)
  }

  test("greedy leftmost non-overlapping merge on a crafted run (the 'a a a a' case)") {
    import spark.implicits._
    val crafted = Seq((0L, "x x x x x"), (1L, "x x y x x"), (2L, "q")).toDF("doc_id", "text")
    val t = Bpe.bpeTrain(crafted, rounds = 1).collect()
    assert(t.length == 1)
    assert(t(0).getAs[String]("tok_a") == "x" && t(0).getAs[String]("tok_b") == "x")
    assert(t(0).getAs[Long]("pair_n") == 6L) // 4 in doc 0, 2 in doc 1
    val applied = Bpe.applyTokens(crafted, Bpe.bpeTrain(crafted, rounds = 1))
      .orderBy("doc_id").collect()
    def toks(i: Int): List[String] =
      applied(i).getAs[scala.collection.Seq[String]]("toks").toList
    assert(toks(0) == List("x x", "x x", "x"),
      "run of 5 must merge greedily into pairs from the left")
    assert(toks(1) == List("x x", "y", "x x"))
    assert(toks(2) == List("q"))
  }

  test("string-replace merge device == reference greedy array fold on adversarial chains") {
    // reference: greedy leftmost non-overlapping merge over the token
    // array — the semantics the separator-framed replace must reproduce
    def greedy(toks: Vector[String], a: String, b: String): Vector[String] = {
      val buf = Vector.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          buf += s"$a $b"; i += 2
        } else { buf += toks(i); i += 1 }
      }
      buf.result()
    }
    import spark.implicits._
    // chains that stress the replace framing: odd runs, overlapping
    // candidates, merged-token re-merges across rounds, singletons
    val crafted = Seq(
      (0L, "x x x x x x x"),
      (1L, "x x x x x x x x"),
      (2L, "y x x y x x x y"),
      (3L, "x y x y x y"),
      (4L, "zzz"),
      (5L, "x x")).toDF("doc_id", "text")
    val rounds = 4
    val table = Bpe.bpeTrain(crafted, rounds).orderBy("round").collect()
    val applied = Bpe.applyTokens(crafted, Bpe.bpeTrain(crafted, rounds))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("toks").toVector).toMap
    val orig = Bpe.tokenState(crafted).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("toks").toVector).toMap
    orig.foreach { case (id, toks0) =>
      val expected = table.foldLeft(toks0) { (acc, m) =>
        greedy(acc, m.getAs[String]("tok_a"), m.getAs[String]("tok_b"))
      }
      assert(applied(id) == expected,
        s"doc $id: replace device ${applied(id)} != reference fold $expected")
    }
  }

  test("empty corpus: train emits no merges and apply passes tokens through") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bpe.bpeTrain(empty).count() == 0L)
    val someDocs = Seq((7L, "a b c")).toDF("doc_id", "text")
    val out = Bpe.bpeApply(someDocs, Bpe.bpeTrain(empty)).collect()
    assert(out.length == 1 && out(0).getAs[Long]("n_tokens") == 3L &&
      out(0).getAs[Long]("n_merges") == 0L)
  }
}
