package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.ChunkRetrieval

/** Round-15 invariants: (1) the key-set drift gate runs on EVERY `sbt
  * test` — round 14's one defect was a key registered after the last
  * full check.py run, which is the only path the tools/check.py gate
  * cannot see; (2) the chunk cluster view (q_chunk_dup_clusters) is the
  * exact transitive closure of the shared multiprobe pair generator,
  * consistent with the dedup verdicts it shares that generator with. */
class Round15Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf)

  test("key-set drift gate: SURVEY §2 rows == registered queries == oracle entries") {
    // The same three-way assertion as tools/check.py:50-65, but running
    // on every sbt test instead of only on full check.py runs — a key
    // registered in a late commit can no longer ship without its SURVEY
    // row and oracle (the q_chunk_dup_clusters failure mode).
    val surveyFile = new java.io.File("SURVEY.md")
    assert(surveyFile.exists, "SURVEY.md not found at the repo root")
    val src = scala.io.Source.fromFile(surveyFile, "UTF-8")
    val survey = try {
      val rowRe = """^\| \d+ \| `(q_\w+)` \|""".r
      src.getLines().flatMap(l =>
        rowRe.findFirstMatchIn(l).map(_.group(1))).toSet
    } finally src.close()
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(survey == queries,
      s"SURVEY-only: ${(survey -- queries).toSeq.sorted.mkString(",")}; " +
        s"queries-only: ${(queries -- survey).toSeq.sorted.mkString(",")}")
    assert(queries == oracles,
      s"queries-without-oracle: ${(queries -- oracles).toSeq.sorted.mkString(",")}; " +
        s"oracle-only: ${(oracles -- queries).toSeq.sorted.mkString(",")}")
  }

  test("chunk cluster view IS the transitive closure of the multiprobe pair graph") {
    // Reference closure: union-find over the collected verified pairs
    // (bounded at the gate SF). The operator's pointer-jumping labels
    // must agree EXACTLY — same node set, same min-id component labels.
    val (cf, bits, _, n) = ChunkRetrieval.bandFitFrame(docs)
    val pairs = ChunkRetrieval.mpVerifiedPairs(cf, bits, 0.95, hamming = 1,
        nBands = ChunkRetrieval.mpBandCount, nRows = n)
      .filter(col("chunk_id") < col("ca"))
      .select(col("chunk_id").as("doc_a"), col("ca").as("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "gate corpus produced no verified pairs")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // min-id per component (union-by-min keeps roots minimal already,
    // but recompute defensively)
    val minLabel = parent.keys.toSeq.groupBy(find).flatMap { case (root, members) =>
      val m = members.min min root
      members.map(_ -> m) ++ Seq(root -> m)
    }.toMap
    val got = ChunkRetrieval.chunkDupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == minLabel.size,
      s"node sets differ: operator ${got.length} vs closure ${minLabel.size}")
    got.foreach { case (id, label, isDup) =>
      assert(minLabel(id) == label, s"chunk $id: label $label != closure ${minLabel(id)}")
      assert(isDup == (label != id))
    }
  }

  test("cluster view and dedup verdicts stay consistent (shared pair generator)") {
    val clustered = ChunkRetrieval.chunkDupClusters(docs)
      .select(col("chunk_id")).collect().map(_.getLong(0)).toSet
    val mp = ChunkRetrieval.chunkMpDedup(docs)
      .select(col("chunk_id"), col("n_dups"), col("keep")).collect()
    mp.foreach { r =>
      val (id, nd) = (r.getLong(0), r.getLong(1))
      // a chunk is in the pair graph iff it has >=1 verified near-dup
      assert((nd > 0) == clustered.contains(id),
        s"chunk $id: n_dups=$nd but clustered=${clustered.contains(id)}")
      // dominated => it had a pair => it must be in some cluster
      if (!r.getBoolean(2))
        assert(clustered.contains(id), s"dominated chunk $id missing from cluster view")
    }
  }

  test("crafted duplicate groups: one cluster per group, min-id canonical, uniques absent") {
    import spark.implicits._
    val groupA = "alpha beta gamma delta epsilon zeta eta theta"
    val groupB = "one two three four five six seven eight nine ten"
    val rows = Seq(
      (10L, groupA), (11L, groupA), (12L, groupA),
      (20L, groupB), (21L, groupB),
      (30L, "completely unrelated singleton text with its own words entirely"))
    val crafted = rows.map { case (id, t) => (id, t, "en", "crafted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = ChunkRetrieval.chunkDupClusters(crafted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val factor = 1024L // crafted docs are single-chunk (< 64 words)
    val expect = Map(
      10L * factor -> 10L * factor, 11L * factor -> 10L * factor,
      12L * factor -> 10L * factor,
      20L * factor -> 20L * factor, 21L * factor -> 20L * factor)
    assert(out.map(t => t._1 -> t._2).toMap == expect,
      s"got ${out.mkString(";")}")
    out.foreach { case (id, label, isDup) => assert(isDup == (id != label)) }
  }

  test("chunk cluster view is empty on empty and single-doc corpora") {
    import spark.implicits._
    assert(ChunkRetrieval.chunkDupClusters(docs.limit(0)).count() == 0)
    val single = Seq((1L, "just one document with no duplicate partner here",
      "en", "crafted", 48L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(ChunkRetrieval.chunkDupClusters(single).count() == 0)
  }
}
