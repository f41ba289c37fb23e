package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.ChunkRetrieval
import graft.sources.Artifacts

/** The chunk serve's one law: every index source serves bit-equal rows
  * to the all-chunks rebuild under the same vector arm. Sources: all
  * chunks (the reference), frozen + delta parts, and the full index
  * parts round-tripped through saveLarge/loadLarge; arms: brute force
  * and the Hamming-2 cell route. */
class ServeMatrixSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** 40 copies of one multi-chunk text: every chunk ties with its
    * copies on both arms, so the served order rests on the chunk_id
    * tie-breaks alone. */
  private lazy val identical: DataFrame = {
    import spark.implicits._
    val text = (0 until 150).map(i => s"term${i * 7 % 41}").mkString(" ")
    (0 until 40).map(i => (i.toLong, text, "en", "crafted", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** The full index parts, persisted stamped under `dir` and loaded back
    * verified. */
  private def loadedParts(docs: DataFrame,
                          dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (ce, postings, dfAll, stats) = ChunkRetrieval.indexParts(
      ChunkRetrieval.chunks(docs, ChunkRetrieval.chunkFactorFor(docs)))
    val names = Seq("ce", "postings", "df", "stats")
    names.zip(Seq(ce, postings, dfAll, stats))
      .foreach { case (n, f) => Artifacts.saveLarge(f, dir, n) }
    val Seq(lce, lpost, ldf, lstat) = names.map(Artifacts.loadLarge(spark, dir, _)._1)
    (lce, lpost, ldf, lstat)
  }

  /** The six serves are independent lineages: run them from parallel
    * driver threads (the chunkEval overlap device) so each one's job
    * tail back-fills the others' idle cores. */
  private def checkMatrix(docs: DataFrame): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve-matrix")
    val (lce, lpost, ldf, lstat) = loadedParts(docs, tmp.toString)
    val Seq(brute, cell, deltaBrute, deltaCell, loadedBrute, loadedCell) =
      Await.result(Future.sequence(Seq(
        () => ChunkRetrieval.chunkRetrieval(docs),
        () => ChunkRetrieval.chunkRetrievalAnn(docs),
        () => ChunkRetrieval.chunkDeltaServe(docs),
        () => ChunkRetrieval.chunkDeltaServeAnn(docs),
        () => ChunkRetrieval.serveFromParts(lce, lpost, ldf, lstat, docs, None),
        () => ChunkRetrieval.serveFromParts(lce, lpost, ldf, lstat, docs, Some(2))
      ).map(f => Future(rows(f())))), Duration.Inf)
    assert(brute.nonEmpty && cell.nonEmpty)
    Seq(("delta parts", "brute", brute, deltaBrute),
      ("delta parts", "cell", cell, deltaCell),
      ("loaded parts", "brute", brute, loadedBrute),
      ("loaded parts", "cell", cell, loadedCell)).foreach { case (source, arm, ref, got) =>
      assert(got == ref, s"$source x $arm arm diverged from the all-chunks rebuild: " +
        s"${got.diff(ref).take(3)} vs ${ref.diff(got).take(3)}")
    }
    TestSession.rmTree(tmp.toString)
  }

  test("every source serves the all-chunks rows under both arms (sf0.001)") {
    checkMatrix(Tables.documents(spark, sf))
  }

  test("every source serves the all-chunks rows under both arms (identical documents)") {
    checkMatrix(identical)
  }
}
