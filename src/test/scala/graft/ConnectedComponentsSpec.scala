package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** [[Dedup.propagate]]'s two branches — the driver union-find under its
  * edge bound and the distributed min-label loop, forced with a bound
  * of 0 — against each other and a pure-Scala reference on adversarial
  * graphs. The minimum member id is a canonical label, so every correct
  * algorithm gives identical rows and identical column types. */
class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** Component minimum per node by breadth-first search. */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!label.contains(start)) {
        var frontier = List(start)
        label(start) = start
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).filterNot(label.contains).distinct
          frontier.foreach(label(_) = start)
        }
      }
    }
    label.toMap
  }

  private def run(pairs: DataFrame, driverEdges: Long): (Map[Long, Long], Seq[String]) = {
    val out = Dedup.propagate(pairs, driverEdges = driverEdges)
    (out.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap,
      out.schema.map(f => s"${f.name}:${f.dataType.simpleString}"))
  }

  private def check(pairs: Seq[(Long, Long)], asInt: Boolean = false): Unit = {
    val df = if (asInt) pairs.map { case (a, b) => (a.toInt, b.toInt) }.toDF("doc_a", "doc_b")
      else pairs.toDF("doc_a", "doc_b")
    val (driver, driverSchema) = run(df, Dedup.driverEdgeBound)
    val (loop, loopSchema) = run(df, 0L)
    assert(driverSchema == loopSchema)
    assert(driver == loop, "driver union-find and distributed loop disagree")
    assert(driver == reference(pairs))
  }

  test("a 1,000-hop chain") {
    check((0L until 1000L).map(i => (i, i + 1)))
  }

  test("a star, its centre neither the minimum nor the maximum") {
    check((0L until 300L).filter(_ != 150L).map(i => if (i % 2 == 0) (150L, i) else (i, 150L)))
  }

  test("one giant component over shuffled ids with extra random edges") {
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1L to 2000L).toVector)
    val spine = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val extra = Seq.fill(500)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
    check(spine ++ extra)
  }

  test("no edges") {
    check(Seq.empty)
  }

  test("duplicate edges, reversed duplicates and self-pairs, at int ids") {
    check(Seq((5L, 9L), (5L, 9L), (9L, 5L), (7L, 7L), (7L, 7L), (3L, 3L), (3L, 4L),
      (12L, 4L), (12L, 12L), (20L, 11L)), asInt = true)
  }

  test("under the bound, propagate starts no job after its edge collect") {
    // one partition and no shuffle: the edge collect is exactly one job,
    // and the labels come back as a local relation that reads with none
    val pairs = spark.range(0, 200, 1, 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (labels, jobs) = jobsDuring(Dedup.propagate(pairs))
    assert(jobs <= 1, s"propagate started $jobs jobs")
    val (rows, readJobs) = jobsDuring(labels.collect())
    assert(rows.length == 201 && rows.forall(_.getLong(1) == 0L))
    assert(readJobs == 0, s"reading the labels started $readJobs jobs")
  }
}
