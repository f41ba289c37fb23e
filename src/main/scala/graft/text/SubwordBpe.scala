package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns._

/** CHARACTER-grain BPE — the real Sennrich et al. 2016 granularity
  * (arXiv:1508.07909, learn_bpe.py's algorithm): symbols start as the
  * characters of each word plus an end-of-word marker, and each round
  * merges the single most frequent adjacent symbol pair WITHIN words.
  * This is what [[Bpe]] (word-grain, merges whitespace words into
  * phrases) deliberately is not: only character-grain merges can
  * produce an OOV-free subword vocabulary — any unseen word still
  * tokenizes as a sequence of learned subwords bottoming out at single
  * characters, which is the property production tokenizers exist for.
  *
  * The decisive scale difference from sequence-level BPE: training
  * state is the aggregated WORD-SHAPE table (word, corpus count,
  * symbol array) — Sennrich's own formulation — so each round rewrites
  * a VOCAB-bounded frame, not the corpus. At 100 TB the token stream
  * is ~10^13 words but the distinct-word table is ~10^7-10^8 rows:
  * the per-round cost collapses by 5-6 orders of magnitude versus
  * [[Bpe.trainWithState]]'s corpus rewrite, and the one corpus-scale
  * pass left anywhere is the initial word count (one map-side-combined
  * aggregation). Pairs can never cross word boundaries by construction
  * (each word is its own row), so no document fencing is needed.
  *
  * Scale design (100 TB):
  *   - Training is [[Bpe.mergeRounds]] over the word table: pair counts
  *     weighted by the word's corpus count, merges concatenated (joiner
  *     ""), one merge per round at cap 1, and a batch of up to
  *     `cap` token-disjoint merges per round in [[subwordTrainBatched]].
  *     The word table is vocabulary-bounded, so it is collected once
  *     after the word count and every round runs on the driver while it
  *     fits [[Bpe.driverSymbolBound]]; a larger table runs the
  *     distributed rounds.
  *   - Application is the same [[Bpe.foldSql]] replay per word of each
  *     document (zero shuffles beyond the broadcast merge artifact,
  *     streaming-safe); a corpus that wants to amortize further
  *     materializes the word→subwords table once (vocab-bounded) and
  *     joins, but the gate keeps the row-local form so batch and stream
  *     twins share one expression.
  *
  * Oracle: the [[Bpe]] separator-framed string device verbatim, minus
  * the space in the replacement (subword merges concatenate): one
  * `replace(s, SEP||a||SEP||SEP||b||SEP, SEP||a||b||SEP)` per round
  * over per-WORD framed strings, pair counts weighted by the word's
  * corpus count — the Spark side runs the identical device.
  * SubwordBpeSpec pins determinism, the train/apply identity,
  * OOV-freedom (every word reconstructs exactly from its subwords),
  * and the crafted "aaaaa" overlap case.
  */
object SubwordBpe {

  /** Token separator of the canonical string form (oracle + tok_hash):
    * never a character of this corpus' words. */
  private val SEP = "\u0001"

  /** Sennrich's end-of-word marker: distinguishes word-final subwords
    * ("e</w>" of "the") from word-internal ones ("e" of "merge"). */
  private val EOW = "</w>"

  private val defaultRounds = 8

  /** Round-0 symbols of one word as a SQL fragment over lambda/column
    * `w`: its characters plus the end-of-word marker. */
  private def symsOf(w: String): String =
    s"concat(split($w, ''), array('$EOW'))"

  /** The word-shape table: (word, n, syms) — every distinct normalized
    * word with its corpus frequency and round-0 symbol array. ONE
    * corpus-scale aggregation; everything after is vocab-bounded. */
  private[graft] def wordState(documents: DataFrame): DataFrame =
    Bpe.tokenState(documents)
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("syms", expr(symsOf("word")))

  /** The training loop; returns (merge table, final word state). The
    * final state stays checkpointed — callers release or read it
    * (SubwordBpeSpec pins apply == train on it). */
  private[graft] def trainWithState(documents: DataFrame, rounds: Int,
                                    cap: Int = 1): (DataFrame, DataFrame) =
    Bpe.mergeRounds(wordState(documents), "syms", col("n"), "", rounds, cap)

  /** The learned subword merge table: one row per round —
    * (round, tok_a, tok_b, merged, pair_n), pair_n the weighted corpus
    * count of the winning pair at merge time. */
  def subwordTrain(documents: DataFrame, rounds: Int = defaultRounds): DataFrame =
    subwordTrainBatched(documents, rounds, cap = 1).drop("batch_rank")

  /** BATCHED subword training — the driver-latency fix for production
    * merge counts: on the distributed branch the sequential loop pays
    * one driver round-trip + checkpoint PER MERGE, which binds a
    * ~30k-merge production vocabulary on the driver long before any
    * executor is busy. Each batched round merges up to `cap`
    * locally-maximal, token-disjoint pairs (see [[Bpe.mergeRounds]]);
    * cap = 1 IS the sequential trainer.
    * Output: (round, batch_rank, tok_a, tok_b, merged, pair_n). */
  def subwordTrainBatched(documents: DataFrame, rounds: Int = 4,
                          cap: Int = 4): DataFrame = {
    val (table, finalState) = trainWithState(documents, rounds, cap)
    finalState.unpersist()
    table
  }

  /** Replay a merge table over a word table: (word, n, syms) with syms
    * the final subword sequence — the vocab-bounded application path
    * (and the train/apply identity's left-hand side). */
  private[graft] def applyWords(words: DataFrame, merges: DataFrame): DataFrame =
    words
      .crossJoin(broadcast(Bpe.mergeArtifact(merges)))
      .withColumn("syms", expr(Bpe.foldSql(symsOf("word"), "")))
      .select(col("word"), col("n"), col("syms"))

  /** Per-document subword tokenization mart — row-local replay of the
    * broadcast merge artifact over each word of each document (zero
    * shuffles, streaming-safe): original word count, total round-0
    * symbol count (chars + markers), post-merge subword count, merges
    * landed (their difference — conservation: concatenating each
    * word's subwords recovers word||marker exactly, spec-pinned), and
    * the md5 fingerprint of the document's full subword stream. The
    * artifact replays in (round, batch_rank) order, so one mart serves
    * sequential and batched merge tables alike. */
  private[graft] def applyMart(documents: DataFrame,
                               merges: DataFrame): DataFrame =
    Bpe.tokenState(documents)
      .crossJoin(broadcast(Bpe.mergeArtifact(merges)))
      .withColumn("flat", flatten(expr(
        s"transform(toks, w -> ${Bpe.foldSql(symsOf("w"), "")})")))
      .withColumn("n_syms", expr("aggregate(toks, 0L, (a, w) -> a + length(w) + 1L)"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        col("n_syms"),
        size(col("flat")).cast("long").as("n_tokens"),
        (col("n_syms") - size(col("flat"))).cast("long").as("n_merges"),
        md5(concat_ws(SEP, col("flat")).cast("binary")).as("tok_hash"))

  /** Corpus re-tokenization with a learned subword merge table — see
    * [[applyMart]]. */
  def subwordApply(documents: DataFrame, merges: DataFrame): DataFrame =
    applyMart(documents, merges).orderBy("doc_id")

  /** Per-document tokenization with a BATCHED merge table
    * ([[subwordTrainBatched]]'s output): [[subwordApply]] itself, whose
    * artifact sorts by (round, batch_rank) — within a round the rank
    * order IS the training fold's application order. Train/apply
    * identity and OOV-freedom carry over unchanged (Round14Spec). */
  def subwordApplyBatched(documents: DataFrame, merges: DataFrame): DataFrame =
    subwordApply(documents, merges)

  /** Shard-trained subword BPE vs full-corpus subword BPE — the
    * [[Bpe.bpeSampleEval]] amortization question re-asked at the
    * grain where it matters MORE: subword merge tables are trained
    * once per model generation and applied to every corpus after, so
    * the token excess of shard training is a permanent serving cost.
    * Train on the deterministic 25% md5-digit shard (digit 2 — the
    * same shard as the word-grain mart, so the two rows compare),
    * replay BOTH tables over the FULL word table, report per-round
    * agreement and the exact weighted token excess. One row:
    * (n_rounds, n_agree, n_syms, tokens_full, tokens_sample,
    * excess_tokens, excess_share). */
  def subwordSampleEval(documents: DataFrame,
                        rounds: Int = defaultRounds): DataFrame = {
    val sample = documents.filter(graft.functions.Fns.hexDigit("doc_id", 2) < 4)
    // two independent eager training loops overlapped from two driver
    // threads — the [[Bpe.bpeSampleEval]] device; values unchanged
    val (fullT, sampT) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val f = Future(subwordTrain(documents, rounds))
      val g = Future(subwordTrain(sample, rounds))
      (Await.result(f, Duration.Inf), Await.result(g, Duration.Inf))
    }
    val agree = fullT.select(col("round"), col("merged").as("m_full"))
      .join(sampT.select(col("round"), col("merged").as("m_sample")),
        Seq("round"), "full_outer")
      .agg(count(lit(1)).as("n_rounds"),
        sum(coalesce((col("m_full") === col("m_sample")).cast("long"), lit(0L)))
          .as("n_agree"))
    val wf = wordState(documents).localCheckpoint(false)
    def toks(m: DataFrame, nm: String) =
      applyWords(wf.select(col("word"), col("n")), m)
        .agg(sum(col("n") * size(col("syms"))).as(nm))
    val syms = wf.agg(sum(col("n") * size(col("syms"))).as("n_syms"))
    val out = agree.crossJoin(syms)
      .crossJoin(toks(fullT, "tokens_full"))
      .crossJoin(toks(sampT, "tokens_sample"))
      .select(col("n_rounds"), col("n_agree"), col("n_syms"),
        col("tokens_full"), col("tokens_sample"),
        (col("tokens_sample") - col("tokens_full")).as("excess_tokens"),
        r6(try_divide((col("tokens_sample") - col("tokens_full")).cast("double"),
          col("tokens_full"))).as("excess_share"))
      .localCheckpoint()
    wf.unpersist()
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_subword" -> ((s, d) => subwordTrain(Tables.documents(s, d))),
    "q_bpe_subword_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      subwordApply(docs, subwordTrain(docs))
    }),
    "q_bpe_subword_sample" -> ((s, d) => subwordSampleEval(Tables.documents(s, d))),
    "q_bpe_subword_batched" -> ((s, d) => subwordTrainBatched(Tables.documents(s, d))),
    "q_bpe_subword_batched_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      subwordApplyBatched(docs, subwordTrainBatched(docs))
    }),
    // the artifact-lifecycle gate: train ONCE, persist the merge table
    // versioned ([[graft.sources.Artifacts]]), and serve from the
    // LOADED artifact — the production split (build once, load
    // forever) exercised end-to-end; the oracle is q_bpe_subword_apply's
    // verbatim, because a persisted artifact must serve bit-equal
    "q_bpe_subword_loaded" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tmp = graft.sources.Scratch.dir("graft-artifacts").toString
      graft.sources.Artifacts.save(subwordTrain(docs), tmp, "subword_merges")
      val (loaded, _) = graft.sources.Artifacts.load(s, tmp, "subword_merges")
      subwordApply(docs, loaded)
    })
  )

  private val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** One training round's CTEs over the SEP-framed word table — the
    * [[Bpe.roundCtes]] device with weighted pair counts and subword
    * (no-space) replacement. */
  private def roundCtes(pfx: String, k: Int): String = {
    val prev = s"$pfx" + s"ws${k - 1}"
    s"""${pfx}wtk$k AS (SELECT word, n, list_filter(str_split(s, chr(1)||chr(1)), x -> x <> '') AS toks FROM $prev),
       ${pfx}wp$k AS (SELECT t.toks[CAST(i.i AS INT)] AS a, t.toks[CAST(i.i AS INT) + 1] AS b,
           CAST(SUM(n) AS BIGINT) AS cnt
         FROM ${pfx}wtk$k t, LATERAL (SELECT UNNEST(range(1, len(t.toks))) AS i) i
         GROUP BY 1, 2),
       ${pfx}wt$k AS (SELECT a, b, cnt FROM ${pfx}wp$k ORDER BY cnt DESC, a, b LIMIT 1),
       $pfx""" + s"""ws$k AS (SELECT word, n,
           CASE WHEN t.a IS NULL THEN p.s
                ELSE replace(p.s, chr(1)||t.a||chr(1)||chr(1)||t.b||chr(1),
                             chr(1)||t.a||t.b||chr(1)) END AS s
         FROM $prev p LEFT JOIN ${pfx}wt$k t ON TRUE)"""
  }

  private val rounds = defaultRounds

  /** Full training chain: word-frequency table → framed round-0 symbol
    * strings → `rounds` merge rounds. `pfx` namespaces a chain;
    * `where` narrows the training corpus. */
  private def chainCtes(pfx: String, where: String): String =
    s"""${pfx}ww AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split($normSql, ' ')) AS word
                 FROM documents WHERE text IS NOT NULL AND $normSql <> '' $where)
           GROUP BY 1),
       $pfx""" + s"""ws0 AS (SELECT word, n,
           chr(1)||chr(1) || array_to_string(list_concat(string_split(word, ''), ['</w>']), chr(1)||chr(1)) || chr(1)||chr(1) AS s
         FROM ${pfx}ww),
       ${(1 to rounds).map(roundCtes(pfx, _)).mkString(",\n       ")}"""

  private val baseCtes = chainCtes("", "")

  /** The apply mart's oracle — also q_bpe_subword_loaded's: a persisted
    * artifact must serve bit-equal to the in-memory one. */
  private lazy val applyOracle: String =
    s"""WITH $baseCtes,
       fin AS (SELECT word, list_filter(str_split(s, chr(1)||chr(1)), x -> x <> '') AS toks FROM ws$rounds),
       dw AS (SELECT doc_id, string_split($normSql, ' ') AS words
         FROM documents WHERE text IS NOT NULL AND $normSql <> ''),
       dwx AS (SELECT doc_id, CAST(i.i AS INT) AS idx, words[CAST(i.i AS INT)] AS word
         FROM dw, LATERAL (SELECT UNNEST(range(1, len(words) + 1)) AS i) i)
       SELECT d.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(d.word) + 1) AS BIGINT) AS n_syms,
         CAST(SUM(len(f.toks)) AS BIGINT) AS n_tokens,
         CAST(SUM(len(d.word) + 1) - SUM(len(f.toks)) AS BIGINT) AS n_merges,
         md5(string_agg(array_to_string(f.toks, chr(1)), chr(1) ORDER BY d.idx)) AS tok_hash
       FROM dwx d JOIN fin f USING (word)
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** The batched-training oracle: per round, the locally-maximal pair
    * set via per-token rank windows (a pair survives iff it is rank 1
    * in EVERY token group it belongs to — exactly "beats all
    * token-overlapping rivals", with one reference to the pair table,
    * not a per-row NOT EXISTS), ranked and capped, then applied as
    * nested rank-ordered framed replaces against a PIVOTED one-row
    * merge frame LEFT JOINed ON TRUE (the sequential roundCtes device —
    * scalar subqueries re-evaluated the whole upstream chain per row);
    * a missing rank folds as the identity via a never-occurring chr(2)
    * pattern. */
  private val bcap = 4
  private val brounds = 4

  private lazy val batchedChain: String = {
    def roundB(k: Int): String = {
      val prev = s"bws${k - 1}"
      val pivots = (1 to bcap).map(j =>
        s"""MAX(CASE WHEN rk = $j THEN chr(1)||a||chr(1)||chr(1)||b||chr(1) END) AS p$j,
           MAX(CASE WHEN rk = $j THEN chr(1)||a||b||chr(1) END) AS r$j""")
        .mkString(",\n             ")
      val repl = (1 to bcap).foldLeft("p.s")((acc, j) =>
        s"replace($acc, COALESCE(m.p$j, chr(2)), COALESCE(m.r$j, ''))")
      s"""bwtk$k AS (SELECT word, n, list_filter(str_split(s, chr(1)||chr(1)), x -> x <> '') AS toks FROM $prev),
         bwp$k AS (SELECT t.toks[CAST(i.i AS INT)] AS a, t.toks[CAST(i.i AS INT) + 1] AS b,
             CAST(SUM(n) AS BIGINT) AS cnt
           FROM bwtk$k t, LATERAL (SELECT UNNEST(range(1, len(t.toks))) AS i) i
           GROUP BY 1, 2),
         btk$k AS (SELECT DISTINCT a, b, cnt, t
           FROM (SELECT a, b, cnt, unnest([a, b]) AS t FROM bwp$k)),
         brk$k AS (SELECT a, b, cnt,
             ROW_NUMBER() OVER (PARTITION BY t ORDER BY cnt DESC, a, b) AS tr
           FROM btk$k),
         bsel$k AS (SELECT a, b, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rk
           FROM (SELECT a, b, cnt FROM brk$k GROUP BY a, b, cnt HAVING MAX(tr) = 1)),
         bwt$k AS (SELECT * FROM bsel$k WHERE rk <= $bcap),
         bmg$k AS (SELECT $pivots FROM bwt$k),
         bws$k AS (SELECT word, n, $repl AS s
           FROM $prev p LEFT JOIN bmg$k m ON TRUE)"""
    }
    s"""bww AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT unnest(string_split($normSql, ' ')) AS word
                 FROM documents WHERE text IS NOT NULL AND $normSql <> '')
           GROUP BY 1),
       bws0 AS (SELECT word, n,
           chr(1)||chr(1) || array_to_string(list_concat(string_split(word, ''), ['</w>']), chr(1)||chr(1)) || chr(1)||chr(1) AS s
         FROM bww),
       ${(1 to brounds).map(roundB).mkString(",\n       ")}"""
  }

  private lazy val batchedOracle: String =
    s"""WITH $batchedChain
       SELECT * FROM (
         ${(1 to brounds).map(k =>
           s"SELECT $k AS round, rk AS batch_rank, a AS tok_a, b AS tok_b, a||b AS merged, cnt AS pair_n FROM bwt$k")
           .mkString("\n         UNION ALL ")}
       ) ORDER BY round, batch_rank"""

  /** The batched APPLY oracle — the [[applyOracle]] device over the
    * batched chain's final word-symbol table. */
  private lazy val batchedApplyOracle: String =
    s"""WITH $batchedChain,
       bfin AS (SELECT word, list_filter(str_split(s, chr(1)||chr(1)), x -> x <> '') AS toks FROM bws$brounds),
       bdw AS (SELECT doc_id, string_split($normSql, ' ') AS words
         FROM documents WHERE text IS NOT NULL AND $normSql <> ''),
       bdwx AS (SELECT doc_id, CAST(i.i AS INT) AS idx, words[CAST(i.i AS INT)] AS word
         FROM bdw, LATERAL (SELECT UNNEST(range(1, len(words) + 1)) AS i) i)
       SELECT d.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(d.word) + 1) AS BIGINT) AS n_syms,
         CAST(SUM(len(f.toks)) AS BIGINT) AS n_tokens,
         CAST(SUM(len(d.word) + 1) - SUM(len(f.toks)) AS BIGINT) AS n_merges,
         md5(string_agg(array_to_string(f.toks, chr(1)), chr(1) ORDER BY d.idx)) AS tok_hash
       FROM bdwx d JOIN bfin f USING (word)
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  val oracles: Map[String, String] = Map(
    "q_bpe_subword_apply" -> applyOracle,
    "q_bpe_subword_loaded" -> applyOracle,
    "q_bpe_subword_batched" -> batchedOracle,
    "q_bpe_subword_batched_apply" -> batchedApplyOracle,
    "q_bpe_subword" ->
      s"""WITH $baseCtes
         SELECT * FROM (
           ${(1 to rounds).map(k =>
             s"SELECT $k AS round, a AS tok_a, b AS tok_b, a||b AS merged, cnt AS pair_n FROM wt$k")
             .mkString("\n           UNION ALL ")}
         ) ORDER BY round""",
    // Two training chains (prefix m = the 25% md5-digit-2 shard) plus 8
    // apply CTEs replaying the shard winners over the FULL word table.
    "q_bpe_subword_sample" -> {
      val sampleWhere =
        "AND (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 4"
      val applyK = (k: Int) =>
        s"""wa$k AS (SELECT word, n,
             CASE WHEN t.a IS NULL THEN p.s
                  ELSE replace(p.s, chr(1)||t.a||chr(1)||chr(1)||t.b||chr(1),
                               chr(1)||t.a||t.b||chr(1)) END AS s
           FROM wa${k - 1} p LEFT JOIN mwt$k t ON TRUE)"""
      def ntok(src: String) =
        s"CAST(SUM(n * len(list_filter(str_split(s, chr(1)||chr(1)), x -> x <> ''))) AS BIGINT)"
      s"""WITH ${chainCtes("", "")},
         ${chainCtes("m", sampleWhere)},
         fmg AS (${(1 to rounds).map(k => s"SELECT $k AS round, a||b AS m FROM wt$k")
            .mkString("\n           UNION ALL ")}),
         smg AS (${(1 to rounds).map(k => s"SELECT $k AS round, a||b AS m FROM mwt$k")
            .mkString("\n           UNION ALL ")}),
         ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rounds,
             CAST(SUM(CASE WHEN f.m = s.m THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
           FROM fmg f FULL OUTER JOIN smg s USING (round)),
         wa0 AS (SELECT word, n, s FROM ws0),
         ${(1 to rounds).map(applyK).mkString(",\n         ")},
         st AS (SELECT ${ntok("ws0")} AS n_syms FROM ws0),
         tf AS (SELECT ${ntok(s"ws$rounds")} AS tokens_full FROM ws$rounds),
         tsm AS (SELECT ${ntok(s"wa$rounds")} AS tokens_sample FROM wa$rounds)
         SELECT n_rounds, n_agree, n_syms, tokens_full, tokens_sample,
           tokens_sample - tokens_full AS excess_tokens,
           ${sqlR("CAST(tokens_sample - tokens_full AS DOUBLE) / NULLIF(tokens_full, 0)", 6)} AS excess_share
         FROM ag, st, tf, tsm"""
    }
  )
}
