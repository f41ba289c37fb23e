package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Cumulative counters, read at span boundaries; a span's counters are
  * the difference of two snapshots. Times in seconds, sizes in bytes. */
final case class Snapshot(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskS: Double = 0,
    stragglerS: Double = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    fetchWaitS: Double = 0, spill: Long = 0, inputBytes: Long = 0,
    inputRows: Long = 0, compiles: Long = 0, compileS: Double = 0, gcS: Double = 0) {

  def -(o: Snapshot): Snapshot = Snapshot(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskS - o.taskS,
    stragglerS - o.stragglerS, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, fetchWaitS - o.fetchWaitS, spill - o.spill,
    inputBytes - o.inputBytes, inputRows - o.inputRows, compiles - o.compiles,
    compileS - o.compileS, gcS - o.gcS)

  def +(o: Snapshot): Snapshot = Snapshot(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskS + o.taskS,
    stragglerS + o.stragglerS, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, fetchWaitS + o.fetchWaitS, spill + o.spill,
    inputBytes + o.inputBytes, inputRows + o.inputRows, compiles + o.compiles,
    compileS + o.compileS, gcS + o.gcS)
}

/** Scheduler, task and shuffle counters from a SparkListener, plus
  * whole-stage codegen counts from Spark's public `CodegenMetrics` and
  * collector time from the JVM. Local mode runs tasks in the driver JVM,
  * so the JVM's collector time covers all of them. */
final class Counters(sc: SparkContext) extends SparkListener {
  private var s = Snapshot()
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    s = s.copy(jobs = s.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
      s = s.copy(
        tasks = s.tasks + 1,
        taskS = s.taskS + m.executorRunTime / 1e3,
        shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        fetchWaitS = s.fetchWaitS + m.shuffleReadMetrics.fetchWaitTime / 1e3,
        spill = s.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = s.inputBytes + m.inputMetrics.bytesRead,
        inputRows = s.inputRows + m.inputMetrics.recordsRead)
    }
  }

  /** Straggler time of a stage: its slowest task's run time minus its
    * median task's. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val ms = stageTaskMs.remove(key).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    val straggler = if (ms.isEmpty) 0.0 else (ms.last - ms(ms.length / 2)) / 1e3
    s = s.copy(stages = s.stages + 1, stragglerS = s.stragglerS + straggler)
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Snapshot = {
    BusDrain(sc)
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps a sample of compile times: count is exact, the
    // total is count x sampled mean (milliseconds)
    val compiles = hist.getCount
    val compileS = compiles * hist.getSnapshot.getMean / 1e3
    val gcS = Counters.gcSeconds()
    synchronized(s.copy(compiles = compiles, compileS = compileS, gcS = gcS))
  }
}

object Counters {
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
