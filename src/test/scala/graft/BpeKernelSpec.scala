package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Bpe, SubwordBpe}

/** The one BPE merge-round kernel ([[Bpe.mergeRounds]]) against its
  * driver loop [[Bpe.mergeLocal]] — weighted pair count, the
  * (count desc, a, b) tie-break in Spark's string order, locally-maximal
  * selection capped at `cap`, and the greedy leftmost non-overlapping
  * fold in rank order — on both of the kernel's branches (the driver
  * branch at the default bound, the distributed loop forced with bound
  * 0), at both grains (word: weight 1, joiner " "; subword: weight =
  * word count, joiner "") and at cap 1 and cap 4. Both the merge table
  * and the final state must match exactly. */
class BpeKernelSpec extends AnyFunSuite {
  import TestSession._

  /** (round, batch_rank, tok_a, tok_b, merged, pair_n) */
  type Merge = (Int, Int, String, String, String, Long)

  private def asMerge(r: org.apache.spark.sql.Row): Merge =
    (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4), r.getLong(5))

  private def syms(r: org.apache.spark.sql.Row, c: String): Vector[String] =
    r.getAs[scala.collection.Seq[String]](c).toVector

  /** (state, key column, symbol column, weight, joiner) of one grain. */
  private def grain(docs: DataFrame, subword: Boolean) =
    if (subword) (SubwordBpe.wordState(docs), "word", "syms", col("n"), "")
    else (Bpe.tokenState(docs), "doc_id", "toks", lit(1L), " ")

  /** The kernel's two branches: (name, symbol bound). */
  private val branches = Seq("driver" -> Bpe.driverSymbolBound, "distributed" -> 0L)

  /** Run both kernel branches and the driver loop on `state0`; assert
    * equality and return the merge table. */
  private def checkState(state0: DataFrame, key: String, symCol: String,
                         weight: org.apache.spark.sql.Column, joiner: String,
                         rounds: Int, cap: Int, what: String): Seq[Merge] = {
    val start = state0.select(col(key), weight.cast("long").as("w"), col(symCol)).collect()
    val (refTable, refSyms) = Bpe.mergeLocal(start.map(_.getLong(1)),
      start.map(syms(_, symCol).toArray), joiner, rounds, cap)
    val expTable = refTable.map(asMerge)
    val expState = start.map(_.get(0)).zip(refSyms.map(_.toVector)).toMap
    for ((branch, bound) <- branches) {
      val (table, finalState) =
        Bpe.mergeRounds(state0, symCol, weight, joiner, rounds, cap, driverSymbols = bound)
      try {
        assert(table.collect().map(asMerge).toSeq == expTable,
          s"$what cap $cap, $branch branch: merge table diverged from the driver loop")
        val gotState = finalState.collect().map(r => r.getAs[Any](key) -> syms(r, symCol)).toMap
        assert(gotState == expState,
          s"$what cap $cap, $branch branch: final state diverged from the driver loop")
        assert(finalState.columns.toSeq == state0.columns.toSeq)
      } finally finalState.unpersist()
    }
    expTable
  }

  /** [[checkState]] over `docs` at one grain. */
  private def check(docs: DataFrame, subword: Boolean, rounds: Int,
                    cap: Int): Seq[Merge] = {
    val (state0, key, symCol, weight, joiner) = grain(docs, subword)
    checkState(state0, key, symCol, weight, joiner, rounds, cap,
      if (subword) "subword" else "word")
  }

  private def docsOf(texts: String*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def bothGrainsBothCaps(docs: DataFrame, rounds: Int): Unit =
    for (subword <- Seq(false, true); cap <- Seq(1, 4))
      check(docs, subword, rounds, cap)

  test("sf0.001 corpus: kernel == reference at both grains, cap 1 and cap 4") {
    val docs = Tables.documents(spark, sf)
    for (subword <- Seq(false, true); cap <- Seq(1, 4))
      assert(check(docs, subword, rounds = 8, cap).nonEmpty)
  }

  test("runs of equal symbols: a == b chains of odd and even length") {
    bothGrainsBothCaps(docsOf("x x x x x", "x x x x", "y y y", "aaaaa", "aaaa bbb"),
      rounds = 4)
  }

  test("a token that prefixes its neighbour (ab ab abab)") {
    bothGrainsBothCaps(docsOf("ab ab abab", "abab ab ab ab"), rounds = 4)
  }

  test("a one-word document") {
    val one = docsOf("hello")
    for (cap <- Seq(1, 4)) {
      assert(check(one, subword = false, rounds = 3, cap).isEmpty,
        "a one-word document has no word pairs to merge")
      assert(check(one, subword = true, rounds = 3, cap).nonEmpty)
    }
  }

  test("more rounds than there are possible merges") {
    val tiny = docsOf("a b")
    for (cap <- Seq(1, 4)) {
      // word grain: one merge, then the corpus is exhausted
      assert(check(tiny, subword = false, rounds = 5, cap).map(_._5) == Seq("a b"))
      // subword grain: a+</w>, then b+</w> (the two share </w>, so even
      // cap 4 takes one per round), then exhausted
      assert(check(tiny, subword = true, rounds = 6, cap).map(_._5) ==
        Seq("a</w>", "b</w>"))
    }
  }

  test("a cap-4 round with two disjoint winners") {
    val words = check(docsOf("a b a b a b", "c d c d"), subword = false, rounds = 1, cap = 4)
    assert(words.map(m => (m._2, m._3, m._4, m._6)) ==
      Seq((1, "a", "b", 3L), (2, "c", "d", 2L)))
    val chars = check(docsOf("abababab cdcd"), subword = true, rounds = 1, cap = 4)
    assert(chars.map(m => (m._2, m._3, m._4, m._6)) ==
      Seq((1, "a", "b", 4L), (2, "c", "d", 2L)))
  }

  test("the merge table's schema is pinned at both grains, cap 1 and 4, and when empty") {
    // Artifacts.artifactVersion hashes name:type, so a drift here would
    // silently restamp every persisted merge table
    val pinned = Seq("round:int", "batch_rank:int", "tok_a:string", "tok_b:string",
      "merged:string", "pair_n:bigint")
    for (docs <- Seq(docsOf("a b a b c"), docsOf("hello")); subword <- Seq(false, true);
         cap <- Seq(1, 4); (branch, bound) <- branches) {
      val (state0, _, symCol, weight, joiner) = grain(docs, subword)
      val (table, finalState) =
        Bpe.mergeRounds(state0, symCol, weight, joiner, 2, cap, driverSymbols = bound)
      finalState.unpersist()
      assert(table.schema.map(f => s"${f.name}:${f.dataType.simpleString}") == pinned,
        s"$branch branch")
    }
  }

  test("cap-1 training starts at most 2R + 2 jobs over R rounds (sf0.001, both grains)") {
    // the distributed branch (bound 0): a round is its pair count's
    // shuffle job and the winner collect; the merge table is built on
    // the driver, so nothing else runs
    val docs = Tables.documents(spark, sf)
    val rounds = 8
    for (subword <- Seq(false, true)) {
      val (state0, _, symCol, weight, joiner) = grain(docs, subword)
      val ((table, finalState), jobs) = jobsDuring(
        Bpe.mergeRounds(state0, symCol, weight, joiner, rounds, cap = 1, driverSymbols = 0L))
      finalState.unpersist()
      assert(table.count() == rounds, "the corpus must not run out of pairs")
      assert(jobs <= 2 * rounds + 2,
        s"${if (subword) "subword" else "word"} grain: $jobs jobs over $rounds rounds")
    }
  }

  test("the driver branch trains 8 rounds in at most 3 jobs (sf0.001, both grains)") {
    // the state's collect (after the word count's shuffle at subword
    // grain) is the only work; the table and final state are local
    val docs = Tables.documents(spark, sf)
    for (subword <- Seq(false, true); cap <- Seq(1, 4)) {
      val (state0, _, symCol, weight, joiner) = grain(docs, subword)
      val ((table, finalState), jobs) =
        jobsDuring(Bpe.mergeRounds(state0, symCol, weight, joiner, 8, cap))
      val (rows, readJobs) = jobsDuring(table.collect().length)
      finalState.unpersist()
      assert(rows >= 8, "the corpus must not run out of pairs")
      val what = s"${if (subword) "subword" else "word"} grain cap $cap"
      assert(jobs <= 3, s"$what: $jobs jobs over 8 rounds")
      assert(readJobs == 0, s"$what: reading the merge table started $readJobs jobs")
    }
  }

  test("an empty corpus trains nothing on either branch") {
    for (subword <- Seq(false, true); cap <- Seq(1, 4))
      assert(check(docsOf(), subword, rounds = 3, cap).isEmpty)
  }

  test("documents of one token each: no pair, the loop ends in round 1") {
    val docs = docsOf("alpha", "beta", "alpha", "gamma")
    for (cap <- Seq(1, 4)) {
      assert(check(docs, subword = false, rounds = 8, cap).isEmpty)
      // the subword grain still merges within each word
      assert(check(docs, subword = true, rounds = 8, cap).nonEmpty)
    }
  }

  test("40 identical documents: every count is a multiple of 40") {
    val docs = docsOf(Seq.fill(40)("the cat sat on the mat the cat"): _*)
    for (subword <- Seq(false, true); cap <- Seq(1, 4)) {
      val t = check(docs, subword, rounds = 6, cap)
      assert(t.nonEmpty && t.forall(_._6 % 40 == 0), s"subword=$subword cap $cap: $t")
    }
  }

  test("a count tie between \"ｚ\" and \"😀\" ranks in Spark's UTF-8 byte order") {
    // U+FF5A is EF BD 9A in UTF-8 but U+1F600 starts F0, so Spark ranks
    // "ｚ" first, while String.compareTo (UTF-16: FF5A vs D83D) ranks
    // "😀" first
    assert("ｚ".compareTo("😀") > 0)
    val docs = docsOf("ｚ q", "😀 q")
    for (cap <- Seq(1, 4))
      assert(check(docs, subword = false, rounds = 1, cap).map(m => (m._3, m._4)) ==
        Seq(("ｚ", "q")))
    // the same tie at subword grain, the word table given directly
    import spark.implicits._
    val words = Seq(("ｚq", 3L, Seq("ｚ", "q")), ("😀q", 3L, Seq("😀", "q"))).toDF("word", "n", "syms")
    for (cap <- Seq(1, 4))
      assert(checkState(words, "word", "syms", col("n"), "", 1, cap, "subword")
        .map(m => (m._3, m._4, m._6)) == Seq(("ｚ", "q", 3L)))
  }

  test("batched subword BPE at cap 1 reproduces the sequential trainer exactly") {
    // the global max is always locally maximal and ranks first, so a
    // 1-capped batch IS the sequential winner — the equivalence that
    // makes batching an optimization, not a different algorithm; the
    // two sides run different branches of the kernel
    val docs = Tables.documents(spark, sf)
    val seq = SubwordBpe.subwordTrain(docs, rounds = 6)
      .select("round", "tok_a", "tok_b", "merged", "pair_n").collect()
    val (batched, finalState) = Bpe.mergeRounds(SubwordBpe.wordState(docs), "syms", col("n"),
      "", rounds = 6, cap = 1, driverSymbols = 0L)
    finalState.unpersist()
    val bat = batched.select("round", "tok_a", "tok_b", "merged", "pair_n").collect()
    assert(bat.map(_.toSeq).toSeq == seq.map(_.toSeq).toSeq,
      "cap-1 batched training diverged from the sequential loop")
  }
}
