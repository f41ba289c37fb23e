package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Artifacts

/** The outcome of one key run. `error` is set when the key threw, failed
  * `loadLarge` verification or (once compared) mismatched its golden. */
final case class KeyResult(key: Key, pass: Int, seconds: Double, cpuS: Double, rows: Long,
                           digest: String, error: Option[String], planner: Map[String, Double],
                           writtenBytes: Long, spanId: Int) {
  def ok: Boolean = error.isEmpty
}

/** Runs query keys against one SparkSession: module call, forced physical
  * plan, optional `saveLarge`/`loadLarge` round trip, full drain. */
final class Runner(spark: SparkSession, dataDir: String, artifactDir: String,
                   val tracer: Tracer) {
  private val queries = graft.SparkEntry.queries

  def runKey(k: Key, parent: Int, pass: Int): KeyResult = {
    var rows = -1L
    var digest = ""
    var error: Option[String] = None
    var planner = Map.empty[String, Double]
    var written = 0L
    var keySpan = 0
    val cpu0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    tracer(k.name, parent) { kid =>
      keySpan = kid
      try {
        val fn = queries.getOrElse(k.name,
          throw new NoSuchElementException(s"${k.name} is not in SparkEntry.queries"))
        val df = tracer("build", kid)(_ => fn(spark, dataDir))
        val qe = tracer("plan", kid) { _ => df.queryExecution.executedPlan; df.queryExecution }
        planner = qe.tracker.phases.map { case (p, s) => p -> s.durationMs / 1e3 }
        val target: DataFrame =
          if (k.materialise) {
            tracer("write", kid)(_ => Artifacts.saveLarge(df, artifactDir, k.name))
            written = Main.treeBytes(new File(artifactDir, k.name))
            tracer("read", kid)(_ => Artifacts.loadLarge(spark, artifactDir, k.name)._1)
          } else df
        val r = tracer("drain", kid)(_ => Digest.of(target))
        rows = r.rows
        digest = r.digest
      } catch {
        case e: Throwable =>
          error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuS = Main.cpuSeconds() - cpu0
    // drop frames the key persisted, so the next key does not run under
    // its cache pressure (outside the timed span)
    spark.catalog.clearCache()
    KeyResult(k, pass, seconds, cpuS, rows, digest, error, planner, written, keySpan)
  }
}

object Main {
  final case class Opts(mode: String, workload: String, seed: Long, trace: Boolean,
                        data: String, scratch: String, golden: String,
                        launchedMs: Long, cores: Int, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("mode", "run"), m.getOrElse("workload", ""),
      m.getOrElse("seed", "0").toLong, m.getOrElse("trace", "0") == "1",
      m.getOrElse("data", ""), m.getOrElse("scratch", ""),
      m.getOrElse("golden", ""), m.getOrElse("launched-ms", System.currentTimeMillis().toString).toLong,
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors().toString).toInt,
      m.getOrElse("out", ""))
  }

  /** The session settings of `graft.Bench`, with every directory Spark
    * writes to placed under the run's scratch space. */
  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  /** Process user+sys CPU seconds, from /proc/self/stat (clock ticks of
    * 1/100 s). */
  def cpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim

  def readGolden(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Resolves every key, or fails naming the ones that are gone. */
  def checkKeys(keys: Seq[Key]): Unit = {
    val missing = keys.map(_.name).filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"keys not in SparkEntry.queries: ${missing.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = o.mode match {
      case "run" => run(o)
      case "digest-dump" => digestDump(o)
      case "selftest" => SelfTest.run(o.cores, o.scratch, o.data)
      case other => System.err.println(s"unknown mode $other"); 2
    }
    sys.exit(code)
  }

  /** Digests of a `graft.Verify` dump (one parquet directory per key),
    * for checking recorded goldens against oracle-checked outputs. */
  private def digestDump(o: Opts): Int = {
    val spark = session(o.cores, o.scratch)
    val keys = Workloads.all.flatMap(_.keys).map(_.name)
    val digests = keys.filter(k => new File(o.data, k).isDirectory).map { k =>
      val r = Digest.of(spark.read.parquet(s"${o.data}/$k"))
      k -> Map("rows" -> r.rows, "digest" -> r.digest)
    }
    println("RESULT " + Json.render(digests.toMap))
    spark.stop()
    0
  }

  /** Timed passes after the cold one. */
  val TimedPasses = 2

  /** One run: session build and a cold pass over the workload's keys (the
    * set-up), then [[TimedPasses]] timed passes, each in an order drawn
    * from the seed. Every key run is checked against its golden. */
  private def run(o: Opts): Int = {
    val wl = Workloads.byName(o.workload)
    checkKeys(wl.keys)
    val golden = if (o.golden.nonEmpty) readGolden(o.golden) else Map.empty[String, (Long, String)]
    val loadStart = loadAvg()
    val spark = session(o.cores, o.scratch)
    val counters = if (o.trace) Some(new Counters(spark.sparkContext)) else None
    val tracer = new Tracer(counters)
    val runner = new Runner(spark, o.data, s"${o.scratch}/artifacts", tracer)
    val rng = new scala.util.Random(o.seed)
    val passIds = mutable.ArrayBuffer.empty[Int]
    def pass(n: Int): Seq[KeyResult] = tracer(s"${wl.name}#$n", 0) { id =>
      passIds += id
      rng.shuffle(wl.keys).map(k => runner.runKey(k, id, n))
    }

    // set-up: JVM start, session build, and the cold pass, which pays class
    // loading, JIT compilation and first-touch codegen
    val coldBefore = counters.map(_.snapshot())
    val cold = pass(0)
    val setupS = (System.currentTimeMillis() - o.launchedMs) / 1e3
    val coldDelta = counters.map(_.snapshot() - coldBefore.get).getOrElse(Snapshot())
    val results = cold ++ (1 to TimedPasses).flatMap(pass)
    val peak = peakRssMb()

    val checked = results.map { r =>
      if (!r.ok || o.golden.isEmpty) r
      else golden.get(r.key.name) match {
        case None => r.copy(error = Some("no golden recorded"))
        case Some((n, d)) if n != r.rows || d != r.digest =>
          r.copy(error = Some(s"golden mismatch: rows ${r.rows} digest ${r.digest}, expected rows $n digest $d"))
        case _ => r
      }
    }
    val failed = checked.filterNot(_.ok)
    val timedOk = checked.filter(r => r.pass > 0 && r.ok)
    // per key, the faster of its timed runs: contention on a shared host
    // only ever slows a run down, so one disturbed run does not move the sum
    val perKey = timedOk.groupBy(_.key.name).values.toSeq
    val wallS = perKey.map(_.map(_.seconds).min).sum
    val cpuS = perKey.map(_.map(_.cpuS).min).sum

    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "wall_s" -> wallS, "cpu_s" -> cpuS,
      "query_p50_s" -> median(timedOk.map(_.seconds)), "peak_rss_mb" -> peak,
      "ok_ratio" -> (checked.size - failed.size).toDouble / checked.size)
    val layers =
      if (o.trace) Layers.metrics(tracer, checked.filter(_.pass > 0), passIds.tail.toSeq,
        coldDelta, wallS, o.cores)
      else Map.empty[String, Double]

    val runId = s"${wl.name}-s${o.seed}-t${if (o.trace) 1 else 0}-${System.currentTimeMillis()}"
    if (o.trace && o.out.nonEmpty) {
      Files.createDirectories(Paths.get(o.out))
      Files.writeString(Paths.get(o.out, "spans.json"), tracer.toJson(runId))
    }
    val keys = checked.map { r =>
      Map("key" -> r.key.name, "module" -> r.key.module, "pass" -> r.pass, "seconds" -> r.seconds,
        "cpu_s" -> r.cpuS, "rows" -> r.rows, "digest" -> r.digest, "error" -> r.error,
        "planner" -> r.planner)
    }
    println("RESULT " + Json.render(Map(
      "run_id" -> runId, "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> o.cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "attempted" -> checked.size, "failed" -> failed.size,
      "query_samples" -> timedOk.size,
      "failures" -> failed.map(r => Map("key" -> r.key.name, "module" -> r.key.module,
        "pass" -> r.pass, "error" -> r.error)),
      "end_to_end" -> e2e, "per_layer" -> layers, "keys" -> keys)))
    spark.stop()
    0
  }
}
