package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{DriverHeap, Tables}
import graft.functions.Fns._
import graft.text.TextPrep

/** Document deduplication family for LLM training-data pipelines:
  * exact (hash groupBy), MinHash+LSH, SimHash, and word-n-gram Jaccard.
  *
  * Scale design: every variant is linear-ish — hashes/signatures are
  * computed per document, candidate generation is a bucket join on band
  * or shingle keys (one shuffle on the bucket key), and only candidate
  * pairs are verified. No O(n²) cross joins anywhere.
  */
object Dedup {

  /** Exact dedup: md5 of normalized text; every doc is assigned its
    * group's canonical (minimum) doc_id. */
  def exact(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("norm_hash"))
    TextPrep.withWords(documents)
      .select(col("doc_id"), md5(col("norm").cast("binary")).as("norm_hash"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
      .orderBy("doc_id")
  }

  /** 8-component minhash signature per document, each component in the
    * 8-char lowercase-hex chunk form: (doc_id, h0..h7). The signature IS
    * the corpus sketch — bands hash over it, and the accuracy mart
    * compares component agreement to exact Jaccard. */
  private[dedup] def signatures(documents: DataFrame): DataFrame = {
    // min() is duplicate-insensitive — use the shuffle-free shingle stream
    val sh = TextPrep.shinglesAll(documents)
      .withColumn("m0", md5(concat(lit("0:"), col("shingle")).cast("binary")))
      .withColumn("m1", md5(concat(lit("1:"), col("shingle")).cast("binary")))
    // Each 8-hex chunk is parsed to int64 BEFORE the min: fixed-width
    // lowercase hex orders lexicographically exactly like its numeric
    // value, so min(int64) == min(hex-string) — but a long min buffer
    // hash-aggregates (map-side partial, no sort), where min(string)
    // falls back to SortAggregate and sorts the whole shingle stream
    // twice per side.
    val mins = (0 to 7).map { k =>
      val m = if (k < 4) "m0" else "m1"
      min(expr(s"cast(conv(substring($m, ${(k % 4) * 8 + 1}, 8), 16, 10) as bigint)")).as(s"h$k")
    }
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    // re-hex to the 8-char lowercase chunk form the oracle's string mins
    // produce, so band hashes / comparisons stay byte-identical
    def rehex(c: Column): Column = lower(lpad(hex(c), 8, "0"))
    sig.select(col("doc_id") +: (0 to 7).map(k => rehex(col(s"h$k")).as(s"h$k")): _*)
  }

  /** The minhash-signature → LSH-band build shared by full-corpus dedup
    * and the incremental path: (doc_id, band_idx, bh), 4 rows per doc.
    * This is exactly what a production pipeline PERSISTS between
    * increments (see [[bandStore]] / [[minhashIncrement]]). */
  private[dedup] def lshBands(documents: DataFrame): DataFrame =
    lshBandsFromSig(signatures(documents))

  /** [[lshBands]] over an already-built signature frame — the entry
    * [[minhashAccuracy]] uses so its pinned signatures feed the band
    * build too, not just the agreement join's two sides. */
  private def lshBandsFromSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 to 3).map(b => struct(lit(b).as("band_idx"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).cast("binary")).as("bh"))): _*)).as("s"))
      .select(col("doc_id"), col("s.band_idx").as("band_idx"), col("s.bh").as("bh"))

  /** The persisted LSH state for an already-deduped corpus: its band
    * table. Write this once; each increment joins against it instead of
    * re-shingling the historical 100 TB. */
  def bandStore(documents: DataFrame): DataFrame = lshBands(documents)

  /** Incremental minhash dedup: dedup a NEW batch against an existing
    * corpus using only the corpus's persisted [[bandStore]] — the daily-
    * increment pattern where re-hashing history would dominate the load.
    * Only the batch is shingled; the bucket cap is applied to the MERGED
    * bucket sizes, so results equal a full recompute restricted to pairs
    * with at least one new side (the invariant LlmDataSpec asserts).
    * Emits candidate pairs tagged new_vs_corpus / new_vs_new. */
  def minhashIncrement(newDocs: DataFrame, storedBands: DataFrame,
                       bucketLimit: Int = 100): DataFrame =
    bucketPairs(storedBands.withColumn("is_new", lit(false))
        .unionByName(lshBands(newDocs).withColumn("is_new", lit(true))), bucketLimit)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        when(col("both_new"), "new_vs_new").otherwise("new_vs_corpus").as("kind"))
      .orderBy("doc_a", "doc_b")

  /** MinHash+LSH near-dup candidates: 8 string-min hash functions, banded
    * 2-per-band into 4 LSH buckets, candidate pairs = docs sharing a band
    * bucket. Band-bucket join is the only shuffle that grows with corpus
    * size.
    *
    * Cost shape: only TWO md5 digests per shingle occurrence — each 32-hex
    * digest is split into four 8-hex chunks, giving 8 independent-bit hash
    * functions for a quarter of the hashing work (the old form paid 8
    * salted md5s per shingle).
    *
    * Skew guard: LSH buckets larger than `bucketLimit` docs are dropped
    * before the self-join ([[bucketPairs]], the analog of
    * [[ngramJaccard]]'s dfLimit). */
  def minhashLsh(documents: DataFrame, bucketLimit: Int = 100): DataFrame =
    minhashPairs(documents, bucketLimit).orderBy("doc_a", "doc_b")

  /** [[minhashLsh]] without the presentation sort — the form internal
    * consumers (cluster propagation) build on, where a global orderBy
    * would only add an exchange. */
  private[dedup] def minhashPairs(documents: DataFrame, bucketLimit: Int): DataFrame =
    bucketPairs(lshBands(documents), bucketLimit)

  /** SimHash 64-bit fingerprint per document, emitted as four 16-bit
    * quarters (the standard blocking keys: hamming distance <= 3 implies
    * at least one identical quarter). Bits derive from md5 so the oracle
    * can reproduce them; term frequency weights each word's vote.
    *
    * Shape: the 64 bit-vote sums are 64 aggregate EXPRESSIONS over the
    * (doc, word, tf) rows — not an explode to 64 rows per word, which
    * would shuffle 64× the data. Hex digits are extracted once per word
    * (16 columns), each bit is a shift of its digit, and one groupBy
    * carries all 64 partial sums. Same result, same oracle. */
  def simhash(documents: DataFrame): DataFrame = {
    val tf = TextPrep.withWords(documents)
      .select(col("doc_id"), explode(col("words")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("hx", substring(md5(col("word").cast("binary")), 1, 16))
    val digits = tf.select(
      col("doc_id") +: col("tf") +: (0 to 15).map(i =>
        expr(s"instr('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1").as(s"d$i")): _*)
    val bitSums = (0 to 63).map { j =>
      val nib = j / 4
      val pos = 3 - (j % 4)
      sum(col("tf") * (expr(s"pmod(shiftright(d$nib, $pos), 2)") * 2 - 1)).as(s"s$j")
    }
    val sums = digits.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    def quarter(q: Int): Column = (0 to 15).map { k =>
      when(col(s"s${q * 16 + k}") > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _).cast("long")
    sums.select(col("doc_id"), quarter(0).as("q0"), quarter(1).as("q1"),
      quarter(2).as("q2"), quarter(3).as("q3"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: block on any equal quarter, verify
    * hamming(fp_a, fp_b) <= maxHamming via bit_count over the four
    * quarter XORs. Pairs only — built on [[simhash]] output. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fp = simhash(documents)
    val blocked = fp.select(col("doc_id"), col("q0"), col("q1"), col("q2"), col("q3"),
      explode(array((0 to 3).map(i =>
        struct(lit(i).as("qi"), col(s"q$i").as("qval"))): _*)).as("s"))
      .select(col("doc_id"), col("q0"), col("q1"), col("q2"), col("q3"),
        col("s.qi").as("qi"), col("s.qval").as("qval"))
    val a = blocked.as("a")
    val b = blocked.as("b")
    a.join(b, col("a.qi") === col("b.qi") && col("a.qval") === col("b.qval") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (expr("bit_count(a.q0 ^ b.q0)") + expr("bit_count(a.q1 ^ b.q1)") +
          expr("bit_count(a.q2 ^ b.q2)") + expr("bit_count(a.q3 ^ b.q3)")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup CLUSTER assignment — the step after candidate pairs that a
    * real dedup pipeline needs: connected components over the LSH pair
    * graph, every doc labeled with its component's minimum doc_id so one
    * canonical survivor per cluster can be kept. [[propagate]] labels
    * the components: on the driver by union-find when the edge list fits
    * its heap-derived bound, else by distributed min-label propagation
    * with pointer jumping (the standard large-scale connected-components
    * shape). The labeling (min node id per component) is unique, so the
    * result is deterministic, identical on both branches and
    * oracle-reproducible via a recursive CTE. */
  def nearDupClusters(documents: DataFrame, bucketLimit: Int = 100,
                      maxIters: Int = 20): DataFrame =
    propagate(minhashPairs(documents, bucketLimit), maxIters)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") =!= col("label")).as("is_duplicate"))
      .orderBy("doc_id")

  /** The bucket-capped band self-join behind every LSH candidate
    * generator — [[minhashLsh]], [[minhashIncrement]] and the cosine-LSH
    * pairs of [[graft.ann.Ann.lshNearDup]] / [[graft.ann.Ann.lshIncrement]].
    * `bands` carries (id, band, bucket) as its first three columns, one
    * row per (id, band). Buckets holding more than `bucketLimit` rows are
    * dropped before the self-join; every pair sharing a kept bucket is
    * counted: (doc_a < doc_b, n_shared_bands). A band frame that also
    * carries a boolean `is_new` (a persisted store ∪ a new batch) is the
    * incremental form: the cap counts the merged bucket, only pairs with
    * at least one new side are emitted, and each carries `both_new` — so
    * an increment equals a full recompute restricted to pairs touching
    * the batch.
    *
    * Skew guard: on a boilerplate-heavy corpus one hot bucket would
    * otherwise make the join quadratic; ids dense enough to share a giant
    * bucket still pair through their other bands unless those are hot
    * too — the standard recall-for-boundedness trade. The bucket count
    * is a window over the SAME (band, bucket) partitioning the self-join
    * shuffles on: one exchange serves the count, the filter, and both
    * join sides (Catalyst's ReuseExchange dedupes the identical
    * subtrees), so the band lineage runs once — no persist, nothing
    * leaks into the session cache. */
  private[graft] def bucketPairs(bands: DataFrame, bucketLimit: Int): DataFrame = {
    val Array(id, band, bucket) = bands.columns.take(3)
    val kept = bands
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col(band), col(bucket))))
      .filter(col("bucket_n") <= bucketLimit)
      .drop("bucket_n")
    val shared = col(s"a.$band") === col(s"b.$band") &&
      col(s"a.$bucket") === col(s"b.$bucket") && col(s"a.$id") < col(s"b.$id")
    val (on, tag) =
      if (!bands.columns.contains("is_new")) (shared, Nil)
      else (shared && (col("a.is_new") || col("b.is_new")),
        Seq((col("a.is_new") && col("b.is_new")).as("both_new")))
    kept.as("a").join(kept.as("b"), on)
      .groupBy(Seq(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b")) ++ tag: _*)
      // count(*) == countDistinct(band) here BY CONSTRUCTION: bands has
      // exactly one row per (id, band) and the join pairs rows only
      // within one band, so each shared band contributes exactly one joined
      // row per pair. Plain count hash-aggregates map-side; distinct-count
      // would pay an Expand + two-phase aggregation for the same number.
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Connected components of ANY candidate-pair frame (columns doc_a,
    * doc_b of one integral id type) — the engine behind
    * [[nearDupClusters]], the embedding-cluster survivor mart
    * ([[graft.ann.Ann.embedSurvivors]]) and the chunk cluster marts.
    * Returns (id, label): every node of the pair graph labeled with its
    * component's minimum id. One `limit(bound + 1)` collect of the edge
    * checkpoint decides the branch: an edge list within `driverEdges`
    * (default [[driverEdgeBound]]) is labeled on the driver by
    * [[minLabels]] and returned as a local relation — no further job;
    * a larger one runs the distributed min-label loop, the only path
    * that scales to corpus-sized graphs. Both give the same labels
    * (ConnectedComponentsSpec). */
  private[graft] def propagate(pairs: DataFrame, maxIters: Int = 20,
                               driverEdges: Long = driverEdgeBound): DataFrame = {
    // Both edge orientations come out of ONE pass over the pair stream
    // (explode, not a union of two scans that would each re-run the
    // candidate-join lineage). Persisted once; every round reads it.
    // Lazy localCheckpoint (not plain persist): every round's plan would
    // otherwise carry the full candidate-generation lineage through
    // analysis/optimization again — at 2 joins per round that driver-side
    // re-planning dominated the loop. Checkpointing truncates the plan to
    // a cached-scan leaf, so per-round planning is O(round), not O(LSH).
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(false)
    val got = edges.limit(math.min(driverEdges, Int.MaxValue - 1L).toInt + 1).collect()
    if (got.length > driverEdges) labelLoop(edges, maxIters)
    else {
      edges.unpersist()
      val id = (e: Row, i: Int) => e.getAs[Number](i).longValue
      val (ids, labels) = minLabels(got.map(id(_, 0)), got.map(id(_, 1)))
      val idType = edges.schema("src").dataType
      val spark = pairs.sparkSession
      import spark.implicits._
      ids.zip(labels).toSeq.toDF("id", "label")
        .select(col("id").cast(idType).as("id"), col("label").cast(idType).as("label"))
    }
  }

  /** The transitive survivor step of the survivor marts — [[survivors]],
    * [[graft.ann.Ann.embedSurvivors]] and
    * [[graft.ann.ChunkRetrieval.chunkSurvivors]]: every row of `nodes`
    * (its first column the node id) tagged with its [[propagate]]
    * component over `pairs` — cluster_id is the component's minimum id,
    * or the node's own id when it has no pair (the left join brings the
    * unpaired majority back) — the cluster size, and the keep verdict
    * (the canonical member survives). One window on cluster_id beyond
    * the propagation itself. */
  private[graft] def clusterSurvivors(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val id = nodes.columns.head
    nodes.join(propagate(pairs).select(col("id").as(id), col("label").as("cluster_id")),
        Seq(id), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(id)))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col(id) === col("cluster_id"))
  }

  /** Union-find connected components of an edge list on the driver:
    * returns (node ids ascending, each node's component minimum). Nodes
    * are indexed in id order and every union links the larger root
    * under the smaller, so a root is always its component's smallest
    * index — the minimum id, the same label the distributed loop
    * converges to. Path halving keeps each find near-constant. */
  private[dedup] def minLabels(src: Array[Long],
                               dst: Array[Long]): (Array[Long], Array[Long]) = {
    val all = src ++ dst
    java.util.Arrays.sort(all)
    val ids = if (all.isEmpty) all else {
      val b = Array.newBuilder[Long]
      b += all(0)
      (1 until all.length).foreach(i => if (all(i) != all(i - 1)) b += all(i))
      b.result()
    }
    val parent = Array.tabulate(ids.length)(identity)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    src.indices.foreach { k =>
      val a = find(java.util.Arrays.binarySearch(ids, src(k)))
      val b = find(java.util.Arrays.binarySearch(ids, dst(k)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    (ids, Array.tabulate(ids.length)(i => ids(find(i))))
  }

  /** Driver bytes one collected edge costs on [[propagate]]'s driver
    * branch — its collected row plus its share of [[minLabels]]'
    * arrays — measured once on a sample chain. */
  private lazy val bytesPerEdge: Long = {
    val n = 4096
    val rows = Array.tabulate[Row](n)(i => Row(i.toLong, i + 1L))
    val (src, dst) = (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    val (ids, labels) = minLabels(src, dst)
    val parent = Array.tabulate(ids.length)(identity)
    DriverHeap.bytesPer(n, Array[AnyRef](rows, src, dst, src ++ dst, ids, labels, parent))
  }

  /** The largest edge list [[propagate]] labels on the driver: an
    * eighth of the driver heap at the measured per-edge cost. */
  private[graft] def driverEdgeBound: Long = DriverHeap.bound(bytesPerEdge)

  /** The distributed branch of [[propagate]]: min-label propagation
    * with pointer jumping over the checkpointed directed `edges`. */
  private def labelLoop(edges: DataFrame, maxIters: Int): DataFrame = {
    // Seed with least(id, min(neighbor)) — the node-set groupBy has to
    // shuffle anyway, so the first propagation round rides along free.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("id"), least(col("src"), col("nmin")).as("label"))
      .localCheckpoint(false)
    // labels only ever decrease, so the label-sum is a strictly-monotone
    // convergence witness — one tiny aggregate instead of a
    // change-detection join.
    // coalesce: sum over an empty label set (no near-dup pairs at all —
    // a fully-unique corpus slice) is NULL, which must read as converged,
    // not throw
    var prevSum = labels.agg(coalesce(sum(col("label")), lit(0L)))
      .first().getLong(0)

    // new label = min(own label, neighbors' labels): fold the node's own
    // label in through a union instead of a left join back onto l — one
    // groupBy replaces the groupBy + join of the naive form (one fewer
    // exchange per round at any scale).
    def step(l: DataFrame): DataFrame =
      l.union(
          edges.join(l, col("dst") === col("id"))
            .select(col("src").as("id"), col("label")))
        .groupBy(col("id")).agg(min(col("label")).as("label"))

    // pointer-jumping shortcut: label := min(label, label-of-label).
    // Neighbor steps alone move the min ONE hop per application, so a
    // D-hop chain (template/boilerplate corpora routinely chain hundreds
    // of pairwise near-dups) needed D rounds and silently exited the
    // iteration cap with non-minimal labels. The shortcut halves the
    // remaining distance each round — convergence in O(log D) rounds,
    // so the cap below is a never-hit safety, not a truncation. The
    // label side may be label-skewed (every member of a giant cluster
    // points at one id); labels is node-sized and both sides of the
    // self-join are the same frame, so AQE's skew split handles it.
    def shortcut(l: DataFrame): DataFrame = {
      val par = l.select(col("id").as("pid"), col("label").as("plabel"))
      l.join(par, col("label") === col("pid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // TWO propagation rounds + one shortcut per materialization: halves
      // the driver round-trips and convergence checks (labels are
      // monotone, so an unchanged sum after a combined step still proves
      // the fixpoint — and a step-fixpoint labeling IS the transitive
      // closure, the shortcut only accelerates reaching it).
      // Lazy checkpoint every round: truncation materializes inside the
      // same job as the convergence sum (no separate eager pass) and keeps
      // every round's plan flat.
      // MEASURED, r16: doubling the block to four steps + two shortcuts
      // per check (the "check convergence every second round" proposal)
      // made every propagate consumer 1.5-2× SLOWER at sf0.1 AND 10× —
      // the measured corpora converge in ~one block, so a heavier block
      // doubles the join work without saving a single barrier. Reverted.
      val doubled = shortcut(step(step(labels)))
      val updated = doubled.localCheckpoint(false)
      val newSum = updated.agg(coalesce(sum(col("label")), lit(0L)))
        .first().getLong(0)
      converged = newSum == prevSum
      prevSum = newSum
      labels.unpersist()
      labels = updated
      iter += 1
    }
    // Loud failure instead of silently wrong (non-minimal) labels: the
    // oracle computes the FULL closure, so an un-converged return could
    // never hash-match anyway — and downstream survivors would keep
    // multiple 'keep' rows per true cluster.
    require(converged,
      s"propagate: not converged after $maxIters double-step+shortcut rounds")
    // The final labeling is ALREADY checkpoint-backed (the loop's last
    // lazy localCheckpoint, materialized by its convergence sum) — return
    // a select over it instead of paying one more full materialization
    // job per consumer query. Only the edge cache is released eagerly;
    // the label blocks are context-cleaned once the caller's frame is
    // garbage-collected (the same lifecycle the old eager copy had).
    edges.unpersist()
    labels.select(col("id"), col("label"))
  }

  /** MinHash sketch-accuracy mart — the QA frame a dedup pipeline tunes
    * its band count with: for every LSH candidate pair, the Jaccard
    * ESTIMATE from 8-component signature agreement next to the exact
    * shingle-set Jaccard (under the same df cap the exact join uses) and
    * the absolute error. Signature agreement is 8 column equality checks
    * on the already-aggregated signature frame; the exact side restricts
    * the [[ngramJaccard]] pair stream to the candidates. */
  def minhashAccuracy(documents: DataFrame, bucketLimit: Int = 100,
                      dfLimit: Int = 100): DataFrame = {
    // pinned: the signature frame has THREE consumers — the band build
    // feeding the candidate join (threaded below) plus the agreement
    // join's two sides (sa/sb); r15 pinned it but left minhashPairs
    // rebuilding its own signature lineage, so the pin paid a full
    // materialization barrier for only half its consumers (the one
    // measured bench regression of that round)
    val sig = signatures(documents).localCheckpoint(false)
    // The candidate frame feeds TWO consumers (the final estimate join and
    // the candidate-doc semi-join below); without truncation each consumer
    // re-runs the whole shingle→minhash→band self-join lineage. Eager
    // localCheckpoint: candidates are df-capped (≤ bucketLimit²·bands
    // pairs per bucket), a tiny frame relative to the corpus — the same
    // device as the cluster-propagation loop.
    val cand = bucketPairs(lshBandsFromSig(sig), bucketLimit)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val sa = sig.select(col("doc_id").as("doc_a") +: (0 to 7).map(k => col(s"h$k").as(s"a$k")): _*)
    val sb = sig.select(col("doc_id").as("doc_b") +: (0 to 7).map(k => col(s"h$k").as(s"b$k")): _*)
    val agree = (0 to 7).map(k =>
      when(col(s"a$k") === col(s"b$k"), 1).otherwise(0)).reduce(_ + _)
    // the exact side only needs CANDIDATE pairs, so the shingle
    // self-join runs over candidate documents alone — exact verification
    // cost is bounded by the candidate set, never corpus². The df cap is
    // still measured on the FULL corpus (one linear pass) BEFORE the
    // prune, so jaccard values are identical to the corpus-wide join and
    // the oracle; extra pairs between candidate docs that are not
    // themselves candidates fall out at the final restriction.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val sh = TextPrep.shinglesAll(documents)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct()
    val wS = Window.partitionBy(col("sh"))
    val shp = sh
      .withColumn("df", count(lit(1)).over(wS))
      // the SAME df cap as ngramJaccard's dfLimit default — a parameter,
      // not a re-typed literal, so tuning one cannot silently skew the
      // est-vs-exact calibration this mart exists to measure
      .filter(col("df") <= dfLimit)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select("doc_id", "sh")
      // NOT pinned — measured both ways (r16): the r15 pin here cost
      // 3.31 vs 2.66 s at sf0.1 and 6.74 vs 3.16 s at 10×. Unlike the
      // corpus-wide shingle frames in ngramJaccard/containment (whose
      // pins PAY at 10× — A/B'd the same day), this frame is already
      // semi-join-restricted to candidate docs, so its recompute is
      // bounded by the candidate set while the pin's materialization
      // barrier serializes the query's tail; ReuseExchange still
      // covers the two identically-partitioned self-join sides.
    val sizes = shp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exact = shp.as("x")
      .join(shp.as("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_intersect"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        r6(col("n_intersect") / (col("na") + col("nb") - col("n_intersect"))).as("jaccard"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), agree.cast("int").as("n_agree"))
      .join(exact, Seq("doc_a", "doc_b"), "left")
      .withColumn("exact_jaccard", coalesce(col("jaccard"), lit(0d)))
      // eighths are exact binary fractions, so est needs no rounding; the
      // error rounds once on output
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        (col("n_agree") / lit(8d)).as("est_jaccard"),
        col("exact_jaccard"),
        r6(abs(col("n_agree") / lit(8d) - col("exact_jaccard"))).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Block-level (paragraph) dedup mart — the sub-document granularity
    * the C4/RefinedWeb line-dedup stage works at: whole-doc dedup misses
    * boilerplate ASSEMBLED from elsewhere (headers, licence blocks,
    * navigation text duplicated across otherwise-distinct docs). Docs
    * split into fixed `blockWords`-word blocks; a block appearing in
    * MORE THAN ONE doc marks every holder. Per doc: block count,
    * cross-doc-duplicated block count/share, and the trim flag at
    * `trimShare` (the doc is mostly assembled duplication).
    *
    * Scale shape: block extraction is a row-local slice expression;
    * occurrence counting is ONE partial-aggregated shuffle on the int64
    * block hash, and the holders join lands on the SAME hash
    * partitioning (ReuseExchange). Within-doc repeats do NOT count
    * (countDistinct doc_id > 1 — boilerplate is a cross-doc property).
    * Same accepted 64-bit-collision trade as [[ngramJaccard]]. */
  /** Shared fixed-width block extraction for [[paraDedup]]/[[paraTrim]]:
    * (doc_id, idx, block, bw tokens, bh int64 hash) — row-local slice
    * expressions, no shuffle. NULL text: Spark's
    * sequence(0, (size(NULL)-1) div 10) = sequence(0,0) plus never-NULL
    * concat_ws would emit one empty-block row where the oracle's
    * range(NULL) unnest emits none — drop NULL text up front, mirrored
    * in the oracles (hardening class of commit 80e9ea4). */
  private def blockFrame(documents: DataFrame, blockWords: Int): DataFrame =
    TextPrep.withWords(documents.filter(col("text").isNotNull))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(words) - 1) div $blockWords),
           |  i -> struct(
           |    concat_ws(' ', slice(words, i * $blockWords + 1, $blockWords)) AS block,
           |    size(slice(words, i * $blockWords + 1, $blockWords)) AS bw))""".stripMargin))
        .as(Seq("idx", "s")))
      .select(col("doc_id"), col("idx"), col("s.block").as("block"),
        col("s.bw").as("bw"))
      .withColumn("bh", xxhash64(col("block")))

  def paraDedup(documents: DataFrame, blockWords: Int = 10,
                trimShare: Double = 0.5): DataFrame = {
    val blocks = blockFrame(documents, blockWords)
    val holders = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    blocks.join(holders, Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_dup_blocks"))
      .withColumn("dup_share", r4(col("n_dup_blocks") / col("n_blocks")))
      .withColumn("trim_flag", col("dup_share") >= trimShare)
      .select("doc_id", "n_blocks", "n_dup_blocks", "dup_share", "trim_flag")
      .orderBy("doc_id")
  }

  /** The ACTION twin of [[paraDedup]]: where the flag mart says WHICH
    * docs are mostly assembled duplication, this emits the trimmed TEXT
    * the corpus writer actually ships — cross-doc duplicate blocks
    * dropped, surviving blocks re-joined in document order. Same
    * row-local block device and ONE block-hash shuffle as the flag
    * mart; the per-doc reassembly is an ordered collect over that doc's
    * own ≤(tokens/blockWords) blocks — bounded by document length,
    * never corpus size. Token mass is conserved by construction
    * (kept_tokens + trimmed_tokens == the doc's token count — spec) and
    * WITHIN-doc repeats are preserved: a block is trimmed only when
    * another document also holds it, so self-repetition survives
    * (that's lexical style, not boilerplate — the [[paraDedup]]
    * cross-doc-only contract). */
  def paraTrim(documents: DataFrame, blockWords: Int = 10): DataFrame = {
    val blocks = blockFrame(documents, blockWords)
    val holders = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    blocks.join(holders, Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("n_docs_with") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("n_docs_with") === 1, col("bw")).otherwise(0))
          .cast("long").as("kept_tokens"),
        sum(when(col("n_docs_with") > 1, col("bw")).otherwise(0))
          .cast("long").as("trimmed_tokens"),
        array_join(transform(
          array_sort(collect_list(when(col("n_docs_with") === 1,
            struct(col("idx"), col("block"))))),
          x => x.getField("block")), " ").as("text_trimmed"))
      .select("doc_id", "n_blocks", "n_kept", "kept_tokens",
        "trimmed_tokens", "text_trimmed")
      .orderBy("doc_id")
  }

  /** Asymmetric shingle CONTAINMENT (Broder's other resemblance measure):
    * share of the smaller doc's 3-gram set inside the other. The case
    * Jaccard structurally misses — a short doc quoted whole inside a long
    * one scores I/union ≈ \|A\|/\|B\| ≈ 0 but containment ≈ 1 — which is
    * exactly the boilerplate-wrap / quote-inclusion duplication an LLM
    * corpus needs caught. Same int64-hashed, df-capped candidate machinery
    * as [[ngramJaccard]] (one ReuseExchange-shared explode, bounded
    * Σ\|bucket\|² candidate stream); only the final projection differs:
    * both directional scores, the max, and the dominating direction. */
  def containment(documents: DataFrame, threshold: Double = 0.5,
                  dfLimit: Int = 100): DataFrame =
    shingleOverlaps(documents, dfLimit)
      .withColumn("cont_a", r6(col("n_intersect") / col("na")))
      .withColumn("cont_b", r6(col("n_intersect") / col("nb")))
      .withColumn("containment", greatest(col("cont_a"), col("cont_b")))
      .filter(col("containment") >= threshold)
      .withColumn("direction",
        when(col("cont_a") >= col("cont_b"), lit("a_in_b")).otherwise(lit("b_in_a")))
      .select("doc_a", "doc_b", "n_intersect", "na", "nb",
        "cont_a", "cont_b", "containment", "direction")
      .orderBy("doc_a", "doc_b")

  /** Word-3-gram Jaccard near-dup join. Hot shingles (document frequency
    * > dfLimit) are pruned before the pair join — the standard guard that
    * keeps the candidate join linear on skewed corpora. */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.4,
                   dfLimit: Int = 100): DataFrame =
    shingleOverlaps(documents, dfLimit)
      .withColumn("n_union", col("na") + col("nb") - col("n_intersect"))
      .withColumn("jaccard", r6(col("n_intersect") / col("n_union")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_intersect", "n_union", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** The df-capped shingle-overlap stream shared by [[ngramJaccard]] and
    * [[containment]]: every document pair sharing a 3-gram whose
    * document frequency is at most `dfLimit`, with the shared count and
    * both documents' capped set sizes: (doc_a < doc_b, n_intersect, na,
    * nb). */
  private def shingleOverlaps(documents: DataFrame, dfLimit: Int): DataFrame = {
    // Hash every 3-gram to int64 BEFORE anything shuffles: the df count,
    // the prune, and the candidate self-join all move 8-byte keys instead
    // of raw shingle text (Jaccard only needs counts, so a collision-free
    // hash preserves the result; the 64-bit space keeps collisions
    // negligible at any corpus size). The df prune is a window count on
    // the SAME hash partitioning the self-join shuffles on — ReuseExchange
    // computes the corpus explode once with nothing persisted.
    // hash BEFORE the per-doc distinct too — the dedup shuffle then moves
    // 8-byte keys instead of raw 3-gram text (same result modulo 64-bit
    // collisions, already the accepted trade for the candidate join)
    val sh = TextPrep.shinglesAll(documents)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct()
    val wS = Window.partitionBy(col("sh"))
    // pinned: the df-capped 8-byte-key frame has THREE consumers (the
    // per-doc sizes and both self-join sides); ReuseExchange only covers
    // the two identically-partitioned join sides, so the sizes aggregate
    // re-ran the shingle explode + distinct from raw text
    val shp = sh
      .withColumn("df", count(lit(1)).over(wS))
      .filter(col("df") <= dfLimit)
      .select("doc_id", "sh")
      .localCheckpoint(false)
    val sizes = shp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    shp.as("a")
      .join(shp.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_intersect"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
  }

  /** Jaccard THRESHOLD-TUNING histogram — the curve a pipeline reads to
    * pick its dedup cutoff: candidate pairs (≥1 shared shingle under the
    * df cap) bucketed by Jaccard decile, with each bucket's share and
    * the cumulative pair count at-or-above it (= how many pairs a
    * threshold of bucket/10 would merge). The pair stream is the
    * [[ngramJaccard]] join at threshold 0; everything after runs on ≤11
    * bucket rows. */
  def jaccardHistogram(documents: DataFrame, dfLimit: Int = 100): DataFrame = {
    val pairs = ngramJaccard(documents, threshold = 0.0, dfLimit = dfLimit)
      .select(least(floor(col("jaccard") * 10).cast("int"), lit(9)).as("bucket"))
    // ≤10 bucket rows, but TWO consumers (the total aggregate and the
    // final projection) — without truncation each re-runs the full shingle
    // self-join lineage, doubling the query. Eager localCheckpoint keeps
    // the pair join to one execution.
    val g = pairs.groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint()
    val total = g.agg(sum(col("n_pairs")).as("t_pairs"))
    val wAbove = Window.partitionBy(onePart(col("bucket"))).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(total))
      .withColumn("n_at_or_above", sum(col("n_pairs")).over(wAbove))
      .select(col("bucket"), (col("bucket") / 10d).as("jaccard_lo"),
        col("n_pairs"), r6(col("n_pairs").cast("double") / col("t_pairs")).as("share"),
        col("n_at_or_above"))
      .orderBy("bucket")
  }

  /** Survivor mart over the WHOLE corpus: every document tagged with its
    * near-dup cluster (its own id when unclustered), the cluster size,
    * its token mass, and the keep decision (cluster canonical survives).
    * This is the frame a curation pipeline writes as "the deduped
    * corpus" — [[nearDupClusters]] covers only docs with near-dup edges;
    * the left join brings the singleton majority back. One extra
    * shuffle (the cluster-size window on cluster_id) beyond the cluster
    * propagation itself. */
  def survivors(documents: DataFrame, bucketLimit: Int = 100): DataFrame =
    clusterSurvivors(TextPrep.withWords(documents)
        .select(col("doc_id"), size(col("words")).cast("long").as("n_tokens")),
      minhashPairs(documents, bucketLimit))
      .select("doc_id", "cluster_id", "cluster_size", "keep", "n_tokens")
      .orderBy("doc_id")

  /** EXACT duplicated-SPAN detection — the "Deduplicating Training Data
    * Makes Language Models Better" device (Lee et al. 2022,
    * arXiv:2107.06499) at bounded window grain: training corpora carry
    * exact repeated SPANS (boilerplate, licenses, quoted passages)
    * inside otherwise-unique documents, which document-grain dedup
    * cannot see and the paper shows measurably hurt models. Suffix
    * arrays find arbitrary-length repeats; the Spark-shaped bounded
    * form is `k`-token rolling windows (stride 1) hashed and counted
    * ACROSS documents — a window whose hash occurs in more than one
    * distinct document is a duplicated span (within-document repeats
    * are q_rep_filter's domain and do not count). Per document with
    * ≥ k tokens: window count, cross-doc-duplicated window occurrences,
    * their share, and the distinct repeated-span count.
    *
    * Scale: tokens×1 window rows, one md5 each; ONE hash-keyed shuffle
    * for the distinct-doc count and one co-partitioned join back — both
    * linear, the postings cost class. A 100 TB corpus runs the same
    * plan with the window stream salted across executors; no stage
    * holds more than its hash partition. */
  def spanDedup(documents: DataFrame, k: Int = 16): DataFrame = {
    val win = TextPrep.withWords(documents.filter(col("text").isNotNull))
      .filter(col("norm") =!= "")
      .withColumn("n", size(col("words")))
      .filter(col("n") >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, n - $k), i -> concat_ws(' ', slice(words, i + 1, $k)))"))
        .as("span"))
      .withColumn("h", md5(col("span").cast("binary")))
      .select("doc_id", "h")
      // pinned: the window stream (one md5 per k-token window, the
      // query's heavy pass) has TWO consumers (the distinct-doc count
      // and the join back)
      .localCheckpoint(false)
    val byHash = win.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    win.join(byHash, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum((col("ndocs") > 1).cast("long")), lit(0L)).as("dup_windows"),
        countDistinct(when(col("ndocs") > 1, col("h"))).as("dup_spans"))
      .withColumn("dup_share", r6(try_divide(
        col("dup_windows").cast("double"), col("n_windows").cast("double"))))
      .orderBy("doc_id")
  }

  /** The ACTION twin of [[spanDedup]] — Lee et al. 2022's actual
    * intervention (arXiv:2107.06499 §4): duplicated spans are REMOVED
    * from every document except the span's first holder, and the
    * trimmed text is what the corpus writer ships. A word position is
    * masked when it lies inside any k-token window whose hash occurs
    * in >1 distinct document AND this document is not the hash's
    * minimum-doc_id holder (the deterministic "first" — one canonical
    * copy of every span survives corpus-wide). Within-document repeats
    * never mask (the [[spanDedup]] cross-doc contract), and documents
    * under k tokens pass through untouched. Conservation law
    * (spec-pinned): kept_tokens + masked_tokens == n_tokens, and an
    * exact-copy pair keeps the lower doc_id whole while masking the
    * higher one completely.
    *
    * Scale: the window/hash stream is [[spanDedup]]'s (one md5 per
    * window, ONE hash-keyed shuffle carrying ndocs + first holder);
    * masking explodes only DUPLICATED windows to their k positions
    * (k× the duplicated token mass, not the corpus) and distincts them
    * per doc; reassembly is an ordered collect over the doc's own
    * tokens — bounded by document length, never corpus size. */
  def spanTrim(documents: DataFrame, k: Int = 16): DataFrame = {
    val base = TextPrep.withWords(documents.filter(col("text").isNotNull))
      .filter(col("norm") =!= "")
      .withColumn("n", size(col("words")))
    val win = base.filter(col("n") >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, n - $k), i -> md5(cast(concat_ws(' ', slice(words, i + 1, $k)) as binary)))"))
        .as(Seq("i", "h")))
      // pinned: two consumers (first-holder count and the mask join) of
      // the md5-per-window stream
      .localCheckpoint(false)
    val byHash = win.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("ndocs"), min(col("doc_id")).as("first_doc"))
    val masked = win.join(byHash, Seq("h"))
      .filter(col("ndocs") > 1 && col("doc_id") =!= col("first_doc"))
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${k - 1})")).as("pos"))
      .distinct()
    val toks = base.select(col("doc_id"),
      posexplode(col("words")).as(Seq("pos", "word")))
    toks.join(masked.withColumn("m", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("m").cast("long")), lit(0L)).as("masked_tokens"),
        sum(when(col("m").isNull, 1L).otherwise(0L)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(when(col("m").isNull,
            struct(col("pos"), col("word"))))),
          x => x.getField("word")), " ").as("text_kept"))
      .withColumn("masked_share", r6(col("masked_tokens").cast("double") /
        col("n_tokens").cast("double")))
      .select("doc_id", "n_tokens", "masked_tokens", "kept_tokens",
        "masked_share", "text_kept")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_span_dedup" -> ((s, d) => spanDedup(Tables.documents(s, d))),
    "q_span_trim" -> ((s, d) => spanTrim(Tables.documents(s, d))),
    "q_dedup_exact" -> ((s, d) => exact(Tables.documents(s, d))),
    "q_dedup_survivors" -> ((s, d) => survivors(Tables.documents(s, d))),
    "q_dedup_minhash" -> ((s, d) => minhashLsh(Tables.documents(s, d))),
    "q_dedup_incremental" -> ((s, d) => {
      // deterministic batch split: docs with md5 digit < 2 (~1/8) arrive
      // as the new increment; the rest are the already-deduped corpus
      val docs = Tables.documents(s, d).withColumn("d",
        graft.functions.Fns.hexDigit("doc_id", 1))
      val existing = docs.filter(col("d") >= 2).drop("d")
      val fresh = docs.filter(col("d") < 2).drop("d")
      minhashIncrement(fresh, bandStore(existing))
    }),
    "q_dedup_clusters" -> ((s, d) => nearDupClusters(Tables.documents(s, d))),
    "q_dedup_simhash" -> ((s, d) => simhash(Tables.documents(s, d))),
    "q_ngram_jaccard" -> ((s, d) => ngramJaccard(Tables.documents(s, d))),
    "q_containment" -> ((s, d) => containment(Tables.documents(s, d))),
    "q_para_dedup" -> ((s, d) => paraDedup(Tables.documents(s, d))),
    "q_para_trim" -> ((s, d) => paraTrim(Tables.documents(s, d))),
    "q_minhash_est" -> ((s, d) => minhashAccuracy(Tables.documents(s, d))),
    "q_jaccard_hist" -> ((s, d) => jaccardHistogram(Tables.documents(s, d)))
  )

  private val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** Shared oracle CTE chain: documents → shingles → minhash signature →
    * LSH bands → bucket cap → candidate `pairs` (da, db, band_idx).
    * Shared with [[graft.text.CorpusStats]]'s overlap oracle. */
  private[graft] lazy val minhashCtes =
    s"""n AS (SELECT doc_id, $normSql AS norm FROM documents),
       w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
       w2 AS (SELECT * FROM w WHERE len(words) >= 3),
       sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
              FROM w2, UNNEST(generate_series(1, len(words) - 2)) AS t(i)),
       hm AS (SELECT doc_id, md5('0:' || shingle) m0, md5('1:' || shingle) m1 FROM sh),
       mh AS (SELECT doc_id,
         MIN(substr(m0, 1, 8)) h0, MIN(substr(m0, 9, 8)) h1,
         MIN(substr(m0, 17, 8)) h2, MIN(substr(m0, 25, 8)) h3,
         MIN(substr(m1, 1, 8)) h4, MIN(substr(m1, 9, 8)) h5,
         MIN(substr(m1, 17, 8)) h6, MIN(substr(m1, 25, 8)) h7
         FROM hm GROUP BY doc_id),
       bands AS (
         SELECT doc_id, 0 AS band_idx, md5(h0 || h1) bh FROM mh UNION ALL
         SELECT doc_id, 1, md5(h2 || h3) FROM mh UNION ALL
         SELECT doc_id, 2, md5(h4 || h5) FROM mh UNION ALL
         SELECT doc_id, 3, md5(h6 || h7) FROM mh),
       cold AS (SELECT band_idx, bh FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 100),
       kept AS (SELECT bands.* FROM bands JOIN cold USING (band_idx, bh)),
       pairs AS (SELECT a.doc_id da, b.doc_id db, a.band_idx FROM kept a
         JOIN kept b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id)"""

  val oracles: Map[String, String] = Map(
    "q_span_dedup" ->
      s"""WITH sn AS (SELECT doc_id, $normSql AS norm FROM documents
           WHERE text IS NOT NULL AND $normSql <> ''),
         sw AS (SELECT doc_id, string_split(norm, ' ') AS words FROM sn),
         sw2 AS (SELECT * FROM sw WHERE len(words) >= 16),
         sp AS (SELECT doc_id,
             md5(array_to_string(list_slice(words, CAST(i.i AS INT) + 1, CAST(i.i AS INT) + 16), ' ')) AS h
           FROM sw2, LATERAL (SELECT UNNEST(range(0, len(words) - 15)) AS i) i),
         sbh AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs
           FROM sp GROUP BY 1)
         SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COALESCE(SUM(CASE WHEN b.ndocs > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS dup_windows,
           CAST(COUNT(DISTINCT CASE WHEN b.ndocs > 1 THEN s.h END) AS BIGINT) AS dup_spans,
           ${sqlR("CAST(SUM(CASE WHEN b.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(COUNT(*), 0)", 6)} AS dup_share
         FROM sp s JOIN sbh b USING (h)
         GROUP BY s.doc_id ORDER BY s.doc_id""",
    // trim twin: positions covered by a cross-doc-duplicated window in
    // a non-first-holder doc are masked; kept words re-join in order
    "q_span_trim" ->
      s"""WITH sn AS (SELECT doc_id, $normSql AS norm FROM documents
           WHERE text IS NOT NULL AND $normSql <> ''),
         sw AS (SELECT doc_id, string_split(norm, ' ') AS words FROM sn),
         sw2 AS (SELECT * FROM sw WHERE len(words) >= 16),
         spw AS (SELECT doc_id, CAST(i.i AS BIGINT) AS i,
             md5(array_to_string(list_slice(words, CAST(i.i AS INT) + 1, CAST(i.i AS INT) + 16), ' ')) AS h
           FROM sw2, LATERAL (SELECT UNNEST(range(0, len(words) - 15)) AS i) i),
         sbh AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs,
             MIN(doc_id) AS first_doc
           FROM spw GROUP BY 1),
         smask AS (SELECT DISTINCT s.doc_id, s.i + p.p AS pos
           FROM spw s JOIN sbh b USING (h),
             LATERAL (SELECT UNNEST(range(0, 16)) AS p) p
           WHERE b.ndocs > 1 AND s.doc_id <> b.first_doc),
         stok AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
             words[CAST(t.i AS INT) + 1] AS word
           FROM sw, LATERAL (SELECT UNNEST(range(0, len(words))) AS i) t)
         SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS masked_tokens,
           CAST(SUM(CASE WHEN m.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept_tokens,
           ${sqlR("CAST(SUM(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS masked_share,
           COALESCE(string_agg(CASE WHEN m.pos IS NULL THEN s.word END, ' ' ORDER BY s.pos), '') AS text_kept
         FROM stok s LEFT JOIN smask m ON m.doc_id = s.doc_id AND m.pos = s.pos
         GROUP BY 1 ORDER BY 1""",
    "q_dedup_exact" ->
      s"""WITH n AS (SELECT doc_id, md5($normSql) AS norm_hash FROM documents)
         SELECT doc_id, norm_hash,
           MIN(doc_id) OVER (PARTITION BY norm_hash) AS canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY norm_hash) AS BIGINT) AS group_size,
           doc_id <> MIN(doc_id) OVER (PARTITION BY norm_hash) AS is_duplicate
         FROM n ORDER BY doc_id""",
    "q_dedup_minhash" ->
      s"""WITH $minhashCtes
         SELECT da AS doc_a, db AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
         FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""",
    // incremental == full recompute restricted to pairs with >=1 new
    // side (merged bucket cap), so the oracle reuses the full CTE chain
    // and gates on the batch-membership digit
    "q_dedup_incremental" ->
      s"""WITH $minhashCtes,
         g AS (SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 2 AS is_new
           FROM documents),
         t AS (SELECT da, db, band_idx, ga.is_new AS na, gb.is_new AS nb
           FROM pairs JOIN g ga ON ga.doc_id = da JOIN g gb ON gb.doc_id = db
           WHERE ga.is_new OR gb.is_new)
         SELECT da AS doc_a, db AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
           CASE WHEN na AND nb THEN 'new_vs_new' ELSE 'new_vs_corpus' END AS kind
         FROM t GROUP BY da, db, na, nb ORDER BY 1, 2""",
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         e2 AS (SELECT da s, db d FROM pairs UNION SELECT db, da FROM pairs),
         nodes AS (SELECT DISTINCT s AS id FROM e2),
         reach(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e2.s, r.label FROM e2 JOIN reach r ON e2.d = r.id)
         SELECT id AS doc_id, MIN(label) AS cluster_id,
           id <> MIN(label) AS is_duplicate
         FROM reach GROUP BY id ORDER BY id""",
    "q_dedup_survivors" ->
      s"""WITH RECURSIVE $minhashCtes,
         e2 AS (SELECT da s, db d FROM pairs UNION SELECT db, da FROM pairs),
         nodes AS (SELECT DISTINCT s AS id FROM e2),
         reach(id, label) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e2.s, r.label FROM e2 JOIN reach r ON e2.d = r.id),
         lab AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
         t AS (SELECT doc_id, CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens FROM n),
         j AS (SELECT t.doc_id, COALESCE(lab.cluster_id, t.doc_id) AS cluster_id, n_tokens
           FROM t LEFT JOIN lab USING (doc_id))
         SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           doc_id = cluster_id AS keep, n_tokens
         FROM j ORDER BY doc_id""",
    "q_dedup_simhash" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents),
         w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM n),
         tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) tf FROM w GROUP BY 1, 2),
         h AS (SELECT doc_id, tf, substr(md5(word), 1, 16) AS hx FROM tf),
         bits AS (SELECT doc_id, j,
             SUM(tf * (2 * (((strpos('0123456789abcdef', substr(hx, CAST(FLOOR(j / 4.0) AS INT) + 1, 1)) - 1)
               >> (3 - (j % 4))) % 2) - 1)) AS s
           FROM h, UNNEST(generate_series(0, 63)) AS t(j) GROUP BY 1, 2),
         fp AS (SELECT doc_id, CAST(FLOOR(j / 16.0) AS INT) AS q,
             CAST(SUM(CASE WHEN s > 0 THEN 1 << (j % 16) ELSE 0 END) AS BIGINT) AS qv
           FROM bits GROUP BY 1, 2)
         SELECT doc_id,
           MAX(CASE WHEN q = 0 THEN qv END) AS q0,
           MAX(CASE WHEN q = 1 THEN qv END) AS q1,
           MAX(CASE WHEN q = 2 THEN qv END) AS q2,
           MAX(CASE WHEN q = 3 THEN qv END) AS q3
         FROM fp GROUP BY doc_id ORDER BY doc_id""",
    "q_ngram_jaccard" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents),
         w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
         w2 AS (SELECT * FROM w WHERE len(words) >= 3),
         sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM w2, UNNEST(generate_series(1, len(words) - 2)) AS t(i)),
         keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM shp GROUP BY doc_id),
         inter AS (SELECT a.doc_id da, b.doc_id db, CAST(COUNT(*) AS BIGINT) i
           FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT da AS doc_a, db AS doc_b, i AS n_intersect,
           sa.n + sb.n - i AS n_union,
           FLOOR((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000 AS jaccard
         FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         WHERE FLOOR((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000 >= 0.4
         ORDER BY 1, 2""",
    // Oracle groups on the block STRING where Spark groups on its
    // xxhash64 — identical modulo 64-bit collisions, the documented
    // ngramJaccard trade; the hash never reaches the output.
    "q_para_dedup" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents
           WHERE text IS NOT NULL),
         w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
         b AS (SELECT doc_id,
             array_to_string(words[(CAST(i.i AS INT) * 10 + 1):(CAST(i.i AS INT) * 10 + 10)], ' ') AS block
           FROM w, LATERAL (SELECT UNNEST(range(CAST(FLOOR(CAST(len(words) - 1 AS DOUBLE) / 10) AS BIGINT) + 1)) AS i) i),
         d AS (SELECT block, COUNT(DISTINCT doc_id) AS ndw FROM b GROUP BY 1)
         SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN d.ndw > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
           ${sqlR("CAST(SUM(CASE WHEN d.ndw > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 4)} AS dup_share,
           ${sqlR("CAST(SUM(CASE WHEN d.ndw > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 4)} >= 0.5 AS trim_flag
         FROM b JOIN d USING (block) GROUP BY 1 ORDER BY 1""",
    // Same block device as q_para_dedup; the reassembly is an ORDER BY
    // idx string_agg (Spark: sort_array over (idx, block) structs).
    "q_para_trim" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents
           WHERE text IS NOT NULL),
         w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
         b AS (SELECT doc_id, CAST(i.i AS INT) AS idx,
             array_to_string(words[(CAST(i.i AS INT) * 10 + 1):(CAST(i.i AS INT) * 10 + 10)], ' ') AS block,
             len(words[(CAST(i.i AS INT) * 10 + 1):(CAST(i.i AS INT) * 10 + 10)]) AS bw
           FROM w, LATERAL (SELECT UNNEST(range(CAST(FLOOR(CAST(len(words) - 1 AS DOUBLE) / 10) AS BIGINT) + 1)) AS i) i),
         d AS (SELECT block, COUNT(DISTINCT doc_id) AS ndw FROM b GROUP BY 1)
         SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN ndw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN ndw = 1 THEN bw ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(SUM(CASE WHEN ndw > 1 THEN bw ELSE 0 END) AS BIGINT) AS trimmed_tokens,
           COALESCE(string_agg(CASE WHEN ndw = 1 THEN block END, ' ' ORDER BY idx), '') AS text_trimmed
         FROM b JOIN d USING (block)
         GROUP BY 1 ORDER BY 1""",
    "q_containment" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents),
         w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
         w2 AS (SELECT * FROM w WHERE len(words) >= 3),
         sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM w2, UNNEST(generate_series(1, len(words) - 2)) AS t(i)),
         keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM shp GROUP BY doc_id),
         inter AS (SELECT a.doc_id da, b.doc_id db, CAST(COUNT(*) AS BIGINT) i
           FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sc AS (SELECT da AS doc_a, db AS doc_b, i AS n_intersect,
             sa.n AS na, sb.n AS nb,
             FLOOR((CAST(i AS DOUBLE) / sa.n) * 1000000 + 0.5) / 1000000 AS cont_a,
             FLOOR((CAST(i AS DOUBLE) / sb.n) * 1000000 + 0.5) / 1000000 AS cont_b
           FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id)
         SELECT doc_a, doc_b, n_intersect, na, nb, cont_a, cont_b,
           GREATEST(cont_a, cont_b) AS containment,
           CASE WHEN cont_a >= cont_b THEN 'a_in_b' ELSE 'b_in_a' END AS direction
         FROM sc WHERE GREATEST(cont_a, cont_b) >= 0.5
         ORDER BY doc_a, doc_b""",
    "q_minhash_est" -> {
      val agreeSql = (0 to 7).map(k =>
        s"CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT da, db FROM pairs),
         ag AS (SELECT da, db, ($agreeSql) AS n_agree
           FROM cand JOIN mh a ON da = a.doc_id JOIN mh b ON db = b.doc_id),
         keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM shp GROUP BY doc_id),
         inter AS (SELECT x.doc_id ja, y.doc_id jb, CAST(COUNT(*) AS BIGINT) i
           FROM shp x JOIN shp y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         ex AS (SELECT ja, jb,
             FLOOR((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000 AS jaccard
           FROM inter JOIN sizes sa ON ja = sa.doc_id JOIN sizes sb ON jb = sb.doc_id)
         SELECT da AS doc_a, db AS doc_b, CAST(n_agree AS INT) AS n_agree,
           n_agree / 8.0 AS est_jaccard,
           COALESCE(ex.jaccard, 0) AS exact_jaccard,
           FLOOR(ABS(n_agree / 8.0 - COALESCE(ex.jaccard, 0)) * 1000000 + 0.5) / 1000000 AS abs_err
         FROM ag LEFT JOIN ex ON da = ja AND db = jb
         ORDER BY 1, 2"""
    },
    "q_jaccard_hist" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents),
         w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
         w2 AS (SELECT * FROM w WHERE len(words) >= 3),
         sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM w2, UNNEST(generate_series(1, len(words) - 2)) AS t(i)),
         keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n FROM shp GROUP BY doc_id),
         inter AS (SELECT a.doc_id da, b.doc_id db, CAST(COUNT(*) AS BIGINT) i
           FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         jc AS (SELECT LEAST(CAST(FLOOR(
             (FLOOR((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000) * 10) AS INT), 9) AS bucket
           FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id),
         g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM jc GROUP BY bucket),
         tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t_pairs FROM g)
         SELECT bucket, bucket / 10.0 AS jaccard_lo, n_pairs,
           ${sqlR("CAST(n_pairs AS DOUBLE) / t_pairs", 6)} AS share,
           CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT) AS n_at_or_above
         FROM g, tot ORDER BY bucket"""
  )
}
