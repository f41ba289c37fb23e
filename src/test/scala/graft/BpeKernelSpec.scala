package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Bpe, SubwordBpe}

/** The one BPE merge-round kernel ([[Bpe.mergeRounds]]) against a
  * pure-Scala reference of the same loop — weighted pair count, the
  * (count desc, a, b) tie-break, locally-maximal selection capped at
  * `cap`, and the greedy leftmost non-overlapping fold in rank order —
  * at both grains (word: weight 1, joiner " "; subword: weight = word
  * count, joiner "") and at cap 1 and cap 4. Both the merge table and
  * the final state must match exactly. */
class BpeKernelSpec extends AnyFunSuite {
  import TestSession._

  /** (round, batch_rank, tok_a, tok_b, merged, pair_n) */
  type Merge = (Int, Int, String, String, String, Long)

  /** Spark's string order: unsigned UTF-8 bytes. */
  private val utf8Order: Ordering[String] = Ordering.fromLessThan { (x, y) =>
    val (bx, by) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    val i = bx.indices.find(i => i >= by.length || bx(i) != by(i))
    i match {
      case Some(k) => k < by.length && (bx(k) & 0xff) < (by(k) & 0xff)
      case None => bx.length < by.length
    }
  }

  private def greedy(syms: Vector[String], a: String, b: String,
                     joiner: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + joiner + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** The reference loop over key -> (weight, symbols). */
  private def reference[K](state0: Map[K, (Long, Vector[String])], joiner: String,
                           rounds: Int, cap: Int): (Seq[Merge], Map[K, Vector[String]]) = {
    var state = state0
    val table = Vector.newBuilder[Merge]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.values.foreach { case (w, s) =>
        s.sliding(2).filter(_.length == 2).foreach(p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + w)
      }
      val ranked = counts.toSeq.sortWith { case (((a1, b1), n1), ((a2, b2), n2)) =>
        if (n1 != n2) n1 > n2
        else if (a1 != a2) utf8Order.lt(a1, a2)
        else utf8Order.lt(b1, b2)
      }
      // locally maximal: no higher-ranked pair shares a token with it
      val seen = scala.collection.mutable.Set.empty[String]
      val selected = ranked.filter { case ((a, b), _) =>
        val free = !seen(a) && !seen(b)
        seen += a; seen += b
        free
      }.take(cap)
      selected.zipWithIndex.foreach { case (((a, b), n), i) =>
        table += ((r, i + 1, a, b, a + joiner + b, n))
      }
      state = state.map { case (k, (w, s)) =>
        k -> (w, selected.foldLeft(s) { case (acc, ((a, b), _)) =>
          greedy(acc, a, b, joiner)
        })
      }
    }
    (table.result(), state.map { case (k, (_, s)) => k -> s })
  }

  private def syms(r: org.apache.spark.sql.Row, c: String): Vector[String] =
    r.getAs[scala.collection.Seq[String]](c).toVector

  /** Run kernel and reference on `docs` at one grain; assert equality
    * and return the kernel's merge table. */
  private def check(docs: DataFrame, subword: Boolean, rounds: Int,
                    cap: Int): Seq[Merge] = {
    val (state0, key, symCol, weight, joiner) =
      if (subword) (SubwordBpe.wordState(docs), "word", "syms", col("n"), "")
      else (Bpe.tokenState(docs), "doc_id", "toks", lit(1L), " ")
    val start = state0.collect().map { r =>
      val w = if (subword) r.getAs[Long]("n") else 1L
      (r.getAs[Any](key), (w, syms(r, symCol)))
    }.toMap
    val (expTable, expState) = reference(start, joiner, rounds, cap)
    val (table, finalState) = Bpe.mergeRounds(state0, symCol, weight, joiner, rounds, cap)
    try {
      val got = table.collect().map(r => (r.getAs[Int]("round"),
        r.getAs[Int]("batch_rank"), r.getAs[String]("tok_a"), r.getAs[String]("tok_b"),
        r.getAs[String]("merged"), r.getAs[Long]("pair_n"))).toSeq
      val grain = if (subword) "subword" else "word"
      assert(got == expTable, s"$grain cap $cap: merge table diverged from the reference")
      val gotState = finalState.collect().map(r =>
        r.getAs[Any](key) -> syms(r, symCol)).toMap
      assert(gotState == expState, s"$grain cap $cap: final state diverged from the reference")
      got
    } finally finalState.unpersist()
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
         cap <- Seq(1, 4)) {
      val (state0, symCol, weight, joiner) =
        if (subword) (SubwordBpe.wordState(docs), "syms", col("n"), "")
        else (Bpe.tokenState(docs), "toks", lit(1L), " ")
      val (table, finalState) = Bpe.mergeRounds(state0, symCol, weight, joiner, 2, cap)
      finalState.unpersist()
      assert(table.schema.map(f => s"${f.name}:${f.dataType.simpleString}") == pinned)
    }
  }

  test("cap-1 training starts at most 2R + 2 jobs over R rounds (sf0.001, both grains)") {
    // a round is its pair count's shuffle job and the winner collect;
    // the merge table is built on the driver, so nothing else runs
    val docs = Tables.documents(spark, sf)
    val rounds = 8
    for (subword <- Seq(false, true)) {
      val (state0, symCol, weight, joiner) =
        if (subword) (SubwordBpe.wordState(docs), "syms", col("n"), "")
        else (Bpe.tokenState(docs), "toks", lit(1L), " ")
      val ((table, finalState), jobs) =
        jobsDuring(Bpe.mergeRounds(state0, symCol, weight, joiner, rounds, cap = 1))
      finalState.unpersist()
      assert(table.count() == rounds, "the corpus must not run out of pairs")
      assert(jobs <= 2 * rounds + 2,
        s"${if (subword) "subword" else "word"} grain: $jobs jobs over $rounds rounds")
    }
  }
}
