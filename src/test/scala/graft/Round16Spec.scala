package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.ChunkRetrieval
import graft.sources.Artifacts

/** Round-16 invariants, pinning the internals this optimization round
  * changed: (1) DotLong fails LOUD on a length mismatch instead of
  * silently truncating (the r15 verdict's latent-semantics nit); (2)
  * the write-first saveLarge still fails closed on every corruption
  * class, including total truncation; (3) the deduped serving path's
  * reused embedding frame (anti-join over the dedup's pinned base) is
  * value-identical to re-embedding the survivor chunks — the
  * equivalence chunkServe/chunkServeAnn now rely on. */
class Round16Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf)

  test("DotLong throws on a length mismatch instead of truncating") {
    graft.functions.DotLong.register(spark)
    import spark.implicits._
    // equal lengths: the exact integer dot
    val ok = Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L))).toDF("a", "b")
      .selectExpr("graft_dot_long(a, b) AS d").head.getLong(0)
    assert(ok == 4L + 10L + 18L)
    // unequal lengths: an upstream dim bug must fail loud, not produce
    // a plausible min(len)-truncated number
    val ex = intercept[Exception] {
      Seq((Array(1L, 2L, 3L), Array(4L, 5L))).toDF("a", "b")
        .selectExpr("graft_dot_long(a, b) AS d").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("length mismatch")),
      s"expected a length-mismatch IllegalArgumentException, got $ex")
  }

  test("write-first saveLarge: round-trip verifies; total truncation fails closed") {
    TestSession.withTempDir("graft-r16-parts") { dir =>
      val factor = ChunkRetrieval.chunkFactorFor(docs)
      val (_, postings, _, _) =
        ChunkRetrieval.indexParts(ChunkRetrieval.chunks(docs, factor))
      val v = Artifacts.saveLarge(postings, dir, "postings")
      // the stamp computed from the WRITTEN parquet equals the stamp of
      // the in-memory frame (every column type round-trips exactly) —
      // the guarantee the single-evaluation save relies on
      assert(v == Artifacts.distributedVersion(postings))
      val (lp, lv) = Artifacts.loadLarge(spark, dir, "postings")
      assert(lv == v)
      assert(lp.exceptAll(postings).count() == 0 &&
        postings.exceptAll(lp).count() == 0)
      // TOTAL truncation: every row-bearing file lost, sidecar intact —
      // the hole the sidecar exists to close; must fail loud at load
      val partDir = new java.io.File(s"$dir/postings")
      partDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.delete(), s"could not delete $f"))
      assertThrows[Exception] {
        val (df, _) = Artifacts.loadLarge(spark, dir, "postings")
        df.collect()
      }
    }
  }

  test("survivor embeddings reused from the dedup base == re-embedding the survivor chunks") {
    // the equivalence chunkServe/chunkServeAnn rely on: a chunk's
    // embedding depends only on its own tokens, so (all-chunk embeds)
    // anti-join (dominated ids) == embeds of (chunks minus dominated)
    val factor = ChunkRetrieval.chunkFactorFor(docs)
    val ch = ChunkRetrieval.chunks(docs, factor)
    val dominated = ChunkRetrieval.chunkDedup(docs).filter(!col("keep"))
      .select(col("chunk_id"))
    val reused = ChunkRetrieval.chunkEmbeds(ch)
      .join(dominated, Seq("chunk_id"), "left_anti")
    val rebuilt = ChunkRetrieval.chunkEmbeds(
      ch.join(dominated, Seq("chunk_id"), "left_anti"))
    assert(reused.count() > 0)
    assert(reused.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(reused).count() == 0,
      "anti-joined embedding base diverged from re-embedding the survivors")
  }
}
