package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** 1-minute /proc/loadavg reading — recorded in the output line so a
    * loaded-VM bench is distinguishable from a code regression without
    * the manual re-adjudication rounds 10/11 needed. */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Dev-only subset filter (comma-separated names); unset → full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A query that throws is recorded as failed — never timed as if it
    // had run — kept out of `total`, listed in the output line, and
    // makes the run exit non-zero.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    // Each key is drained over every column through its own physical
    // plan (`queryExecution.toRdd`): `count()` would let Catalyst prune
    // the projected columns and time a smaller plan than the result.
    def timeOne(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()) } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop any frames a query persisted so later queries aren't timed
      // under another query's cache pressure (outside the timed span)
      spark.catalog.clearCache()
      dt
    }
    // Name-sorted run order: the map's hash order reshuffles whenever a key
    // is added, which moved one-time JIT/codegen warmup onto different
    // queries each round and made cross-round per-query comparisons
    // meaningless (same bytecode swung 0.6s <-> 8.9s with run position).
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => (name, fn, timeOne(name, fn)) }
    // Steady-state min-of-2 for EVERY query: same-code full-suite totals
    // measured 97-125 s across runs when most queries were single-shot —
    // the scheduling/GC noise that swamped round-over-round deltas lives
    // in the sub-second tail too, and it only cancels if every query
    // reports its minimum. The first pass also absorbs JVM JIT of the
    // md5/shingle/vector kernels, which is paid once per session. Whole-
    // stage-codegen compiles are NOT: Spark's codegen cache holds 100
    // classes (`spark.sql.codegen.cache.maxEntries`, a static conf), so a
    // key with more distinct stages recompiles them on every evaluation
    // — measured warm recompiles per evaluation in SCALE.md (177–180
    // for q_chunk_serve). The min-of-2 keeps that cost, which only fewer
    // distinct stages can cut.
    // The second pass roughly doubles bench wall-clock; that is the
    // price of a usable instrument (SCALE.md's A/Bs already pay it).
    val results = firstPass.map { case (name, fn, t1) =>
      name -> math.min(t1, timeOne(name, fn))
    }.toMap.removedAll(failed)
    // The driver records only the LAST 2000 chars of output and parses the
    // JSON line out of that window; the runner's sbt may print a
    // "[success] Total time" trailer (~75 chars) after our line inside
    // that window, so the real budget is ~1900 (the r04 head-truncation
    // failure). A full per-query map stopped fitting at ~95 queries at
    // ANY useful precision (the first r5 full run degraded to integer
    // seconds — useless). Emit what the budget carries with full fidelity
    // instead: every query at or above `cut` seconds individually at 2
    // decimals (the list perf analysis actually reads), and the sub-cut
    // tail — scheduling-floor noise at sf0.1 — rolled up as an explicit
    // count + exact summed seconds so the total still reconciles.
    // Locale.ROOT keeps a comma-decimal default locale from corrupting
    // the JSON. build.sbt sets `Global / showSuccess := false` to spare
    // the trailer where the driver honors it.
    def fmt(dec: Int)(v: Double): String = {
      val s = s"%.${dec}f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sfName = new java.io.File(sfDir).getName
    val failedJson = failed.map(k => s"\"$k\"").mkString("[", ",", "]")
    def line(cut: Double, dec: Int): String = {
      val slow = results.toSeq.filter(_._2 >= cut).sortBy(-_._2)
      val fastN = results.size - slow.size
      val fastSec = total - slow.map(_._2).sum
      val qs = slow.map { case (k, v) => s"\"$k\":" + fmt(dec)(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(dec)(total)},"unit":"sec","queries":$qs,""" +
        s""""fast_n":$fastN,"fast_sec":${fmt(dec)(fastSec)},""" +
        s""""failed":$failedJson,""" +
        s""""load_start":${fmt(2)(loadStart)},"load_end":${fmt(2)(loadAvg())},""" +
        s""""note":"queries under ${fmt(2)(cut)}s each rolled into fast_n/fast_sec","sf":"$sfName"}"""
    }
    // Degrade by raising the roll-up cut until the line fits.
    val out = Iterator(line(0.0, 2), line(0.5, 2), line(0.75, 2), line(1.0, 2), line(2.0, 1))
      .find(_.length <= 1900).getOrElse(line(2.0, 1))
    println(out)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
