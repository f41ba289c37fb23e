package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.sources.Scratch

/** The one session of the forked test JVM (local[4]), shared by every
  * spec, and the fixtures the specs share. */
object TestSession {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Recursive delete — deleteOnExit can't remove the non-empty parquet
    * and checkpoint trees Spark writes under a temp dir. */
  def rmTree(root: String): Unit = Scratch.rmTree(java.nio.file.Paths.get(root))

  /** Runs `body` on a fresh temp dir named `prefix…`, then deletes it. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally rmTree(dir)
  }

  /** Jobs started on the session so far, counted by one listener. */
  private lazy val jobStarts: AtomicInteger = {
    val n = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    })
    n
  }

  /** `body`'s result and the number of Spark jobs it started, read
    * after the listener bus drains on both sides. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = jobStarts
    BusDrain(sc)
    val before = n.get
    val out = body
    BusDrain(sc)
    (out, n.get - before)
  }
}
