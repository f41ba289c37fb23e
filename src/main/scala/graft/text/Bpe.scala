package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.unsafe.types.UTF8String

import graft.{DriverHeap, Tables}
import graft.functions.Fns._

/** Iterative BPE merge-table training and application over the word-token
  * stream — the real multi-round loop behind [[Vocab.bigramVocab]] (which
  * computes exactly round 1's merge CANDIDATES): each round counts all
  * adjacent token pairs over the EVOLVING token stream, merges the single
  * most frequent pair into a new token (greedy leftmost non-overlapping,
  * the standard BPE application order), and recounts. The learned ranked
  * merge table is the artifact every tokenizer consumer
  * (q_token_count / q_vocab_prune / q_pack_sequences) actually trains.
  *
  * The reference ships no tokenizer trainer; this is the LLM-data
  * extension's iterative rung on the q_pagerank pattern (fixed rounds,
  * localCheckpoint'ed state, one partial-aggregated shuffle per round);
  * the algorithm is Sennrich et al. 2016 (arXiv:1508.07909) applied at
  * word grain (merges may cross word boundaries — the engine's token
  * stream is the whitespace word sequence, and document boundaries are
  * the only hard fences, exactly like the bigram devices).
  *
  * [[mergeRounds]] is the ONE merge-round kernel of both BPE grains:
  * this word grain (weight 1, merges join with ' ') and
  * [[SubwordBpe]]'s character grain (weight = word count, merges
  * concatenate) are calls to it with different state, weight and
  * joiner, and [[foldSql]] is the one merge fold every training round,
  * replay, apply mart and streaming twin runs.
  *
  * Scale design (100 TB):
  *   - One `limit(bound + 1)` collect of the round-0 state picks the
  *     branch. A state within [[driverSymbolBound]] symbols (an eighth
  *     of the driver heap over a measured per-symbol cost) runs all
  *     rounds in [[mergeLocal]] on the driver and returns the table and
  *     final state as local relations: the collect is the only job,
  *     where the distributed loop pays two jobs a round. The subword
  *     grain's state is the vocabulary-bounded word table, so it stays
  *     on the driver at any corpus size this engine has measured; the
  *     word grain's state is the token stream and leaves the driver
  *     once the corpus outgrows the heap (SCALE.md has the bound and
  *     the branch per scale).
  *   - Above the bound the state is (key, symbol array), re-checkpointed
  *     per round. Each round's ONLY shuffle is the weighted pair count —
  *     hash partial-aggregated map-side, so the exchange moves at most
  *     partitions × realized-pair-vocab rows, never the token stream.
  *     The round's ≤ cap selected pairs are collected to the driver and
  *     folded back in as a literal array; the merge itself is a
  *     row-local string replace (no shuffle, no join), and the merge
  *     table is assembled on the driver — `rounds × cap` rows at any
  *     corpus size.
  *   - A fixed round count keeps the job graph static; per-round plans
  *     stay O(1) because state lineage is cut at each checkpoint. On a
  *     real cluster the localCheckpoints become reliable checkpoints to
  *     the cluster store — the corpus is rewritten once per round either
  *     way, which is the known cost of sequence-level BPE; production
  *     trainers amortize it by training on a sampled shard (compose with
  *     q_hash_sample) and applying corpus-wide via [[bpeApply]].
  *
  * Merge device (both engines): a separator-framed string form of the
  * token stream, where one `replace(s, SEP||a||SEP||SEP||b||SEP,
  * SEP||a||joiner||b||SEP)` (SEP = chr(1)) performs the greedy leftmost
  * non-overlapping merge: both engines' `replace` scans left to right
  * and never rescans replaced output, the pattern consumes one frame
  * char from each boundary and the replacement restores it, so disjoint
  * consecutive occurrences stay matchable. U+0001 cannot appear in a
  * token of this corpus (spec-asserted); BpeSpec pins the string form
  * == a reference greedy array fold, and BpeKernelSpec pins both
  * branches of [[mergeRounds]] == [[mergeLocal]]. The oracle runs
  * the same `rounds` merge rounds unrolled as chained CTEs (the
  * q_pagerank device).
  */
object Bpe {

  /** Token separator of the canonical string form (oracle + tok_hash):
    * never produced by normText's single-space word stream. */
  private val SEP = "\u0001"
  private val SEP2 = SEP + SEP

  /** (doc_id, toks): the normalized word stream as BPE's round-0 state.
    * NULL and whitespace-only texts drop (they have no tokens; keeping
    * them would put empty-string tokens into the stream, which the
    * oracle's separator framing cannot represent). */
  private[graft] def tokenState(documents: DataFrame): DataFrame =
    TextPrep.withWords(documents.filter(col("text").isNotNull))
      .filter(col("norm") =!= "")
      .select(col("doc_id"), col("words").as("toks"))

  /** The merge fold: replay the merge array `ms` (a training round's
    * literal winners, or the one-row artifact of [[mergeArtifact]]) in
    * its rank order over the symbol-array SQL expression `syms` — frame
    * the array with chr(1)||chr(1) between symbols and at both ends,
    * run one `replace` per merge (see the object doc), split back once
    * at the end. `replace` and `split` are O(n) string scans; an empty
    * artifact is the identity. */
  private[text] def foldSql(syms: String, joiner: String): String =
    s"""filter(split(aggregate(ms,
         concat('$SEP2', concat_ws('$SEP2', $syms), '$SEP2'), (acc, m) ->
         replace(acc, concat('$SEP', m.tok_a, '$SEP2', m.tok_b, '$SEP'),
                 concat('$SEP', m.tok_a, '$joiner', m.tok_b, '$SEP'))),
         '$SEP2'), x -> x <> '')"""

  /** A merge table as ONE row `ms`: its (round[, batch_rank], tok_a,
    * tok_b) structs sorted, i.e. in application order. The artifact is
    * `rounds × cap` long by construction, so it broadcasts at any corpus
    * size; a table without `batch_rank` is one merge per round. */
  private[text] def mergeArtifact(merges: DataFrame): DataFrame = {
    val rank = Seq("round", "batch_rank").filter(merges.columns.contains)
    merges.agg(array_sort(collect_list(
      struct((rank :+ "tok_a" :+ "tok_b").map(col): _*))).as("ms"))
  }

  /** The merge-round kernel of both grains; returns (merge table, final
    * state). Per round: the `weight`-ed count of adjacent `symbols`
    * pairs, then up to `cap` pairs ranked by (count desc, a, b) that no
    * token-sharing rival beats (locally maximal, hence pairwise
    * token-disjoint: two overlapping survivors would each have to beat
    * the other), folded into the state in rank order as greedy leftmost
    * non-overlapping merges. The global top pair always survives and
    * ranks first, so `cap` = 1 is the sequential trainer; at `cap` > 1
    * merges per round go from 1 to cap, with every count of a batch
    * measured at round start (the standard batched-BPE approximation).
    * A round without pairs ends the loop: the state can no longer
    * change. Table: (round, batch_rank, tok_a, tok_b, merged, pair_n) in
    * application order, pair_n the pair's weighted count at merge time.
    *
    * Two branches, one result (BpeKernelSpec). One `limit(bound + 1)`
    * collect of the state decides: a state of at most `driverSymbols`
    * symbols (default [[driverSymbolBound]]) runs every round in
    * [[mergeLocal]] and comes back, with the table, as local relations
    * — no job per round. A larger one, or any state at `driverSymbols`
    * = 0, runs the distributed loop over `distribute(state0)` (the hook
    * is applied on that branch only). */
  private[graft] def mergeRounds(state0: DataFrame, symbols: String,
                                 weight: Column, joiner: String,
                                 rounds: Int, cap: Int,
                                 driverSymbols: Long = driverSymbolBound,
                                 distribute: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    // One row per symbol, the state row and its weight riding on the
    // first: the row limit then bounds the symbols the driver would hold.
    // A bound of 0 admits no state, so it skips the collect.
    val row = struct(state0.columns.toSeq.map(col) :+ weight.cast("long").as("w"): _*)
    lazy val got = state0
      .select(row.as("r"), explode(sequence(lit(1), greatest(size(col(symbols)), lit(1)))).as("i"))
      .select(when(col("i") === 1, col("r")).as("r"))
      .limit(math.min(driverSymbols, Int.MaxValue - 1L).toInt + 1).collect()
    if (driverSymbols <= 0 || got.length > driverSymbols)
      distributedRounds(distribute(state0), symbols, weight, joiner, rounds, cap)
    else {
      val n = state0.columns.length
      val rows = got.flatMap(g => Option(g.getStruct(0)))
      val si = state0.schema.fieldIndex(symbols)
      val (table, fin) = mergeLocal(rows.map(_.getLong(n)),
        rows.map(_.getSeq[String](si).toArray), joiner, rounds, cap)
      val finRows = rows.zip(fin).map { case (r, s) =>
        Row.fromSeq(r.toSeq.take(n).updated(si, s.toSeq))
      }
      val spark = state0.sparkSession
      (spark.createDataFrame(java.util.Arrays.asList(table: _*), mergeSchema),
        spark.createDataFrame(java.util.Arrays.asList(finRows: _*), state0.schema))
    }
  }

  /** The distributed branch of [[mergeRounds]]: each round's pair count
    * is a partial-aggregated shuffle, its ≤ `cap` winners are collected
    * and folded into the checkpointed state by [[foldSql]] over a
    * literal `ms` array. At `cap` = 1 the rival self-join is skipped — a
    * round is the pair count's two jobs (its shuffle and the winner
    * collect, which also materializes the previous round's lazy state
    * checkpoint). The table is a driver-built local relation; the final
    * state stays checkpointed — callers release or read it (the specs
    * pin apply == train on it). */
  private def distributedRounds(state0: DataFrame, symbols: String,
                                weight: Column, joiner: String,
                                rounds: Int, cap: Int): (DataFrame, DataFrame) = {
    var state = state0.localCheckpoint(false)
    val held = scala.collection.mutable.ArrayBuffer(state)
    val table = Vector.newBuilder[Row]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pairs = state.filter(size(col(symbols)) >= 2)
        .select(weight.as("w"), explode(expr(s"transform(sequence(0, size($symbols) - 2)," +
          s" i -> struct($symbols[i] AS a, $symbols[i+1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("w")).as("cnt"))
      val cands = if (cap == 1) pairs else {
        // explode each pair to its tokens and equi-join on the shared
        // token; a pair any overlapping rival outranks is out
        val counted = pairs.localCheckpoint(false)
        held += counted
        val toks = counted.select(col("a"), col("b"),
          struct((-col("cnt")).as("c"), col("a"), col("b")).as("k"),
          explode(array(col("a"), col("b"))).as("t"))
        val beaten = toks.join(toks.select(col("t"), col("k").as("qk")), Seq("t"))
          .filter(col("qk") < col("k")).select(col("a"), col("b")).distinct()
        counted.join(beaten, Seq("a", "b"), "left_anti")
      }
      val won = cands.orderBy(col("cnt").desc, col("a"), col("b"))
        .select(col("a"), col("b"), col("cnt")).limit(cap).collect()
      exhausted = won.isEmpty
      if (!exhausted) {
        won.zipWithIndex.foreach { case (w, i) =>
          val (a, b) = (w.getString(0), w.getString(1))
          table += Row(r, i + 1, a, b, a + joiner + b, w.getLong(2))
        }
        val ms = array(won.toSeq.map(w =>
          struct(lit(w.getString(0)).as("tok_a"), lit(w.getString(1)).as("tok_b"))): _*)
        state = state.withColumn("ms", ms)
          .withColumn(symbols, expr(foldSql(symbols, joiner)))
          .drop("ms")
          .localCheckpoint(false)
        held += state
      }
      r += 1
    }
    held.dropRight(1).foreach(_.unpersist())
    val spark = state0.sparkSession
    (spark.createDataFrame(java.util.Arrays.asList(table.result(): _*), mergeSchema), state)
  }

  /** A pair's weighted count during one [[mergeLocal]] round. */
  private final class Count(var n: Long)

  /** Spark's string order: unsigned UTF-8 bytes, as `ORDER BY` ranks. */
  private def utf8Compare(x: String, y: String): Int =
    UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

  /** The merge loop on the driver — Sennrich et al.'s reference BPE
    * (ACL 2016) over rows of (weight, symbols), with [[mergeRounds]]'
    * selection: per round the weighted count of adjacent pairs, the
    * locally-maximal pairs (each ranks first by (count desc, a, b)
    * among the pairs sharing either of its tokens), the top `cap` of
    * them in rank order, and each one's greedy leftmost
    * non-overlapping fold over every row. Strings rank as Spark ranks
    * them, so this loop and the distributed one pick the same winners.
    * Returns the merge table's rows and each row's final symbols. */
  private[graft] def mergeLocal(weights: Array[Long], syms0: Array[Array[String]],
                                joiner: String, rounds: Int,
                                cap: Int): (Vector[Row], Array[Array[String]]) = {
    val syms = syms0.clone()
    val table = Vector.newBuilder[Row]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Count]
      syms.indices.foreach { k =>
        val s = syms(k)
        var i = 0
        while (i + 1 < s.length) {
          counts.getOrElseUpdate((s(i), s(i + 1)), new Count(0L)).n += weights(k)
          i += 1
        }
      }
      val ranked = counts.iterator.map { case ((a, b), c) => (a, b, c.n) }.toArray
      def before(p: (String, String, Long), q: (String, String, Long)): Boolean =
        if (p._3 != q._3) p._3 > q._3 else {
          val ca = utf8Compare(p._1, q._1)
          if (ca != 0) ca < 0 else utf8Compare(p._2, q._2) < 0
        }
      // each token's top-ranked pair; a pair is locally maximal when it
      // is the top pair of both its tokens
      val top = scala.collection.mutable.HashMap.empty[String, (String, String, Long)]
      ranked.foreach(p => Seq(p._1, p._2).foreach { t =>
        if (top.get(t).forall(before(p, _))) top(t) = p
      })
      val won = ranked.filter(p => (top(p._1) eq p) && (top(p._2) eq p))
        .sortWith(before).take(cap)
      exhausted = won.isEmpty
      won.zipWithIndex.foreach { case ((a, b, n), i) =>
        table += Row(r, i + 1, a, b, a + joiner + b, n)
        syms.indices.foreach(k => syms(k) = greedyMerge(syms(k), a, b, joiner))
      }
      r += 1
    }
    (table.result(), syms)
  }

  /** `syms` with every leftmost non-overlapping adjacent (a, b) joined
    * into a||joiner||b — the fold [[foldSql]]'s `replace` performs. */
  private def greedyMerge(syms: Array[String], a: String, b: String,
                          joiner: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + joiner + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Driver bytes one symbol costs on [[mergeRounds]]' driver branch —
    * its collected row, its slot and string in [[mergeLocal]]'s state
    * and its share of a round's pair counts — measured once on a sample
    * of 512 rows of 8 distinct symbols. */
  private lazy val bytesPerSymbol: Long = {
    val (n, width) = (512, 8)
    val syms = Array.tabulate(n, width)((i, j) => f"s$i%04d$j")
    val rows = syms.flatMap(s => Row(Row(7L, s.toSeq, 1L)) +: Array.fill(width - 1)(Row(null)))
    val counts = scala.collection.mutable.HashMap.from(
      syms.flatMap(s => s.indices.init.map(i => (s(i), s(i + 1)) -> new Count(1L))))
    DriverHeap.bytesPer(n * width, Array[AnyRef](rows, syms, counts))
  }

  /** The largest state, in symbols, that [[mergeRounds]] trains on the
    * driver: an eighth of the driver heap at the measured per-symbol
    * cost. */
  private[graft] def driverSymbolBound: Long = DriverHeap.bound(bytesPerSymbol)

  /** The merge table's columns; [[graft.sources.Artifacts]] stamps
    * `name:type`, so these types are part of a persisted table's
    * version (BpeKernelSpec pins them). */
  private val mergeSchema = StructType(Seq(
    StructField("round", IntegerType, nullable = false),
    StructField("batch_rank", IntegerType, nullable = false),
    StructField("tok_a", StringType), StructField("tok_b", StringType),
    StructField("merged", StringType), StructField("pair_n", LongType)))

  /** Word-grain training; returns (merge table, final token state). */
  private[graft] def trainWithState(documents: DataFrame,
                                    rounds: Int): (DataFrame, DataFrame) = {
    // On the distributed branch the round-0 checkpoint would inherit the
    // SCAN's split count (3 tasks at sf0.1's file sizes), and every
    // round's pair-count + merge stage replays at that width for the
    // whole loop, so one hash repartition (deterministic key) spreads
    // all `rounds` corpus passes. The WIDTH is derived from the corpus,
    // not pinned to the core count: r15's
    // `repartition(numShufflePartitions)` made 32 sub-MB tasks per round
    // at sf0.1 and the 8-round loop ran 2.3× SLOWER on 32 cores than on
    // 8 (BENCH_r15 scaling 0.43) — pure per-task scheduling overhead.
    // The scan's split count is the bytes proxy (corpus bytes / split
    // size), ×2 for the fold work per byte, capped at the session's
    // shuffle parallelism so a real cluster still fans out. The driver
    // branch reads the state once and skips this shuffle.
    def spread(ts: DataFrame): DataFrame = ts.repartition(math.max(1, math.min(
      documents.sparkSession.sessionState.conf.numShufflePartitions,
      ts.rdd.getNumPartitions * 2)), col("doc_id"))
    val (table, state) = mergeRounds(tokenState(documents), "toks", lit(1L), " ",
      rounds, cap = 1, distribute = spread)
    (table.drop("batch_rank"), state)
  }

  /** The learned merge table: one row per round —
    * (round, tok_a, tok_b, merged, pair_n), pair_n being the winning
    * pair's corpus count at merge time (non-increasing over rounds: a
    * merge only removes occurrences of existing pairs, and any pair it
    * creates is bounded by the count it just consumed — BpeSpec). */
  def bpeTrain(documents: DataFrame, rounds: Int = 8): DataFrame = {
    val (table, finalState) = trainWithState(documents, rounds)
    finalState.unpersist()
    table
  }

  /** Row-local application of a learned merge table: (doc_id, toks)
    * after replaying every merge in rank order over the broadcast
    * artifact — zero shuffles beyond the broadcast, and stateless, so
    * it runs identically over a batch corpus and a document STREAM (the
    * artifact is stream-static). Replaying rank-ordered merges from
    * round 0 reproduces the training-time state exactly (each round's
    * state is one full greedy application ahead of the previous — the
    * classical BPE train/apply identity, spec-pinned). */
  private[graft] def applyTokens(documents: DataFrame,
                                 merges: DataFrame): DataFrame =
    tokenState(documents)
      .crossJoin(broadcast(mergeArtifact(merges)))
      .withColumn("toks", expr(foldSql("toks", " ")))
      .select(col("doc_id"), col("toks"))

  /** One-pass apply mart (the [[bpeApply]] columns computed without the
    * word-count self-join, so it is also streaming-safe): per document
    * the original and merged token counts, merges landed, and the token
    * stream's md5 fingerprint. */
  private[graft] def applyMart(documents: DataFrame,
                               merges: DataFrame): DataFrame =
    tokenState(documents)
      .crossJoin(broadcast(mergeArtifact(merges)))
      .withColumn("toks2", expr(foldSql("toks", " ")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        size(col("toks2")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("toks2"))).cast("long").as("n_merges"),
        md5(concat_ws(SEP, col("toks2")).cast("binary")).as("tok_hash"))

  /** Corpus re-tokenization with the learned merge table — per document
    * the original word count, the post-merge token count, the number of
    * greedy merge applications that landed (their difference — token
    * conservation: splitting merged tokens back on ' ' recovers the
    * word stream exactly, spec-pinned), and the md5 fingerprint of the
    * token stream (the cheap equality witness for index/shard
    * consumers). */
  def bpeApply(documents: DataFrame, merges: DataFrame): DataFrame =
    applyMart(documents, merges).orderBy("doc_id")

  /** Shard-trained BPE vs full-corpus BPE — the production
    * amortization question (a 100 TB corpus trains its tokenizer on a
    * sampled shard and applies it everywhere; this mart measures what
    * that costs): train on the deterministic 25% md5-digit shard
    * (digit 2, independent of the decontamination split on digit 1),
    * apply BOTH merge tables to the FULL corpus, and report per-round
    * merge agreement plus the token-count excess of the shard-trained
    * tokenizer — one row: (n_rounds, n_agree, n_words, tokens_full,
    * tokens_sample, excess_tokens, excess_share). Everything reuses
    * the train/apply devices; all counts are exact longs. */
  def bpeSampleEval(documents: DataFrame, rounds: Int = 8): DataFrame = {
    val sample = documents.filter(graft.functions.Fns.hexDigit("doc_id", 2) < 4)
    // the two trainings are INDEPENDENT eager driver loops (one
    // round-trip per round each, executors mostly idle at gate scale) —
    // submit them from two driver threads so each loop's tail back-fills
    // the other's idle capacity; results are unchanged (disjoint
    // lineages, deterministic winners)
    val (fullT, sampT) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val f = Future(bpeTrain(documents, rounds))
      val g = Future(bpeTrain(sample, rounds))
      (Await.result(f, Duration.Inf), Await.result(g, Duration.Inf))
    }
    val agree = fullT.select(col("round"), col("merged").as("m_full"))
      .join(sampT.select(col("round"), col("merged").as("m_sample")),
        Seq("round"), "full_outer")
      .agg(count(lit(1)).as("n_rounds"),
        sum(coalesce((col("m_full") === col("m_sample")).cast("long"), lit(0L)))
          .as("n_agree"))
    def applied(m: DataFrame, nm: String) =
      applyTokens(documents, m).agg(sum(size(col("toks")).cast("long")).as(nm))
    val words = tokenState(documents)
      .agg(sum(size(col("toks")).cast("long")).as("n_words"))
    agree.crossJoin(words)
      .crossJoin(applied(fullT, "tokens_full"))
      .crossJoin(applied(sampT, "tokens_sample"))
      .select(col("n_rounds"), col("n_agree"), col("n_words"),
        col("tokens_full"), col("tokens_sample"),
        (col("tokens_sample") - col("tokens_full")).as("excess_tokens"),
        r6(try_divide((col("tokens_sample") - col("tokens_full")).cast("double"),
          col("tokens_full"))).as("excess_share"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_train" -> ((s, d) => bpeTrain(Tables.documents(s, d))),
    "q_bpe_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      bpeApply(docs, bpeTrain(docs))
    }),
    "q_bpe_sample" -> ((s, d) => bpeSampleEval(Tables.documents(s, d)))
  )

  private val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** The separator-framed canonical form: chr(1)||chr(1) between tokens
    * and at both ends, so the round-k merge is ONE string replace whose
    * pattern consumes one frame char from each side and whose
    * replacement restores them — consecutive disjoint occurrences stay
    * matchable (see object doc). `pfx` namespaces a chain so two
    * trainings (full corpus / sampled shard) can share one WITH list;
    * `where` narrows the round-0 corpus. */
  private def roundCtes(pfx: String, k: Int): String = {
    val prev = s"$pfx" + s"s${k - 1}"
    s"""${pfx}tk$k AS (SELECT doc_id, list_filter(str_split(s, chr(1)||chr(1)), x -> x <> '') AS toks FROM $prev),
       ${pfx}p$k AS (SELECT t.toks[CAST(i.i AS INT)] AS a, t.toks[CAST(i.i AS INT) + 1] AS b,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM ${pfx}tk$k t, LATERAL (SELECT UNNEST(range(1, len(t.toks))) AS i) i
         GROUP BY 1, 2),
       ${pfx}t$k AS (SELECT a, b, n FROM ${pfx}p$k ORDER BY n DESC, a, b LIMIT 1),
       $pfx""" + s"""s$k AS (SELECT doc_id,
           CASE WHEN t.a IS NULL THEN p.s
                ELSE replace(p.s, chr(1)||t.a||chr(1)||chr(1)||t.b||chr(1),
                             chr(1)||t.a||' '||t.b||chr(1)) END AS s
         FROM $prev p LEFT JOIN ${pfx}t$k t ON TRUE)"""
  }

  private val rounds = 8

  private def chainCtes(pfx: String, where: String): String =
    s"""$pfx""" + s"""s0 AS (SELECT doc_id,
           chr(1)||chr(1) || array_to_string(string_split($normSql, ' '), chr(1)||chr(1)) || chr(1)||chr(1) AS s
         FROM documents WHERE text IS NOT NULL AND $normSql <> '' $where),
       ${(1 to rounds).map(roundCtes(pfx, _)).mkString(",\n       ")}"""

  private val baseCtes = chainCtes("", "")

  val oracles: Map[String, String] = Map(
    "q_bpe_train" ->
      s"""WITH $baseCtes
         SELECT * FROM (
           ${(1 to rounds).map(k =>
             s"SELECT $k AS round, a AS tok_a, b AS tok_b, a||' '||b AS merged, n AS pair_n FROM t$k")
             .mkString("\n           UNION ALL ")}
         ) ORDER BY round""",
    "q_bpe_apply" ->
      s"""WITH $baseCtes,
         fin AS (SELECT doc_id, list_filter(str_split(s, chr(1)||chr(1)), x -> x <> '') AS toks FROM s$rounds),
         orig AS (SELECT doc_id, CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_words
           FROM documents WHERE text IS NOT NULL AND $normSql <> '')
         SELECT f.doc_id, o.n_words,
           CAST(len(f.toks) AS BIGINT) AS n_tokens,
           CAST(o.n_words - len(f.toks) AS BIGINT) AS n_merges,
           md5(array_to_string(f.toks, chr(1))) AS tok_hash
         FROM fin f JOIN orig o USING (doc_id) ORDER BY f.doc_id""",
    // Two full training chains (prefix m = the 25% md5-digit-2 shard)
    // plus 8 apply CTEs replaying the SHARD winners over the FULL
    // corpus — the fold both engines run identically.
    "q_bpe_sample" -> {
      val sampleWhere =
        "AND (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 4"
      val applyK = (k: Int) =>
        s"""a$k AS (SELECT doc_id,
             CASE WHEN t.a IS NULL THEN p.s
                  ELSE replace(p.s, chr(1)||t.a||chr(1)||chr(1)||t.b||chr(1),
                               chr(1)||t.a||' '||t.b||chr(1)) END AS s
           FROM a${k - 1} p LEFT JOIN mt$k t ON TRUE)"""
      def ntok(src: String) =
        s"CAST(SUM(len(list_filter(str_split(s, chr(1)||chr(1)), x -> x <> ''))) AS BIGINT)"
      s"""WITH ${chainCtes("", "")},
         ${chainCtes("m", sampleWhere)},
         fmg AS (${(1 to rounds).map(k => s"SELECT $k AS round, a||' '||b AS m FROM t$k")
            .mkString("\n           UNION ALL ")}),
         smg AS (${(1 to rounds).map(k => s"SELECT $k AS round, a||' '||b AS m FROM mt$k")
            .mkString("\n           UNION ALL ")}),
         ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rounds,
             CAST(SUM(CASE WHEN f.m = s.m THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
           FROM fmg f FULL OUTER JOIN smg s USING (round)),
         a0 AS (SELECT doc_id, s FROM s0),
         ${(1 to rounds).map(applyK).mkString(",\n         ")},
         wt AS (SELECT ${ntok("s0")} AS n_words FROM s0),
         tf AS (SELECT ${ntok(s"s$rounds")} AS tokens_full FROM s$rounds),
         tsm AS (SELECT ${ntok(s"a$rounds")} AS tokens_sample FROM a$rounds)
         SELECT n_rounds, n_agree, n_words, tokens_full, tokens_sample,
           tokens_sample - tokens_full AS excess_tokens,
           ${sqlR("CAST(tokens_sample - tokens_full AS DOUBLE) / NULLIF(tokens_full, 0)", 6)} AS excess_share
         FROM ag, wt, tf, tsm"""
    }
  )
}
