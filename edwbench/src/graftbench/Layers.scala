package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced pass, from its spans and their counter
  * deltas. Layers are graft's modules, the benchmark's own
  * `saveLarge`/`loadLarge` calls (`sources`), the input-table scans
  * (`tables`) and Spark's layers beneath them. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** `results` are the key runs of the timed passes whose spans are
    * `passIds`; sums are reported per pass. `cold` holds the counters of
    * the cold pass, where first-touch codegen happens. */
  def metrics(t: Tracer, results: Seq[KeyResult], passIds: Seq[Int], cold: Snapshot,
              wallS: Double, cores: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val passes = passIds.size.toDouble
    val spans = t.spans.filter(s => passIds.contains(s.id))
    val pass = spans.map(_.delta).fold(Snapshot())(_ + _)
    def phases(r: KeyResult, names: String*): Seq[Span] =
      t.children(r.spanId).filter(s => names.contains(s.name))
    def seconds(names: String*)(rs: Seq[KeyResult]): Double =
      rs.flatMap(phases(_, names: _*)).map(_.seconds).sum / passes

    // module layers: the module call (build), the forced plan and the
    // drain; work a module call defers runs inside the step that forces it
    for (mod <- Workloads.modules) {
      val rs = results.filter(_.key.module == mod)
      val own = rs.flatMap(phases(_, "build", "plan", "drain")).map(_.delta)
      m(s"$mod.calls") = rs.size / passes
      m(s"$mod.build_s") = seconds("build")(rs)
      m(s"$mod.drain_s") = seconds("drain")(rs)
      m(s"$mod.jobs") = own.map(_.jobs).sum / passes
      m(s"$mod.task_s") = own.map(_.taskS).sum / passes
      m(s"$mod.failed") = rs.count(!_.ok).toDouble
    }

    m("sources.write_s") = seconds("write")(results)
    m("sources.read_s") = seconds("read")(results)
    m("sources.written_mb") = results.map(_.writtenBytes).sum / MB / passes

    // Input-table scans. A materialised key's write step scans the inputs
    // and then re-reads the written artifact once to stamp it; its read
    // step and its drain read the artifact again. Each artifact read
    // scans the same files over every column, so the read step's input
    // is what the write step's stamp pass read.
    val tableInput = results.map { r =>
      def sum(names: String*) = phases(r, names: _*).map(_.delta).fold(Snapshot())(_ + _)
      if (r.key.materialise) {
        val (d, a) = (sum("build", "plan", "write"), sum("read"))
        (d.inputBytes - a.inputBytes, d.inputRows - a.inputRows)
      } else {
        val d = sum("build", "plan", "drain")
        (d.inputBytes, d.inputRows)
      }
    }
    val rowsRead = tableInput.map(_._2).sum
    val rowsOut = results.filter(_.ok).map(_.rows).sum
    m("tables.input_mb") = tableInput.map(_._1).sum / MB / passes
    m("tables.rows_read") = rowsRead / passes
    m("tables.rows_per_out_row") = if (rowsOut > 0) rowsRead.toDouble / rowsOut else 0.0

    def planner(phase: String) = results.map(_.planner.getOrElse(phase, 0.0)).sum / passes
    m("spark.planner.analysis_s") = planner("analysis")
    m("spark.planner.optimization_s") = planner("optimization")
    m("spark.planner.planning_s") = planner("planning")

    m("spark.codegen.compiles") = cold.compiles.toDouble
    m("spark.codegen.compile_s") = cold.compileS

    m("spark.scheduler.jobs") = pass.jobs / passes
    m("spark.scheduler.stages") = pass.stages / passes
    m("spark.scheduler.tasks") = pass.tasks / passes
    m("spark.scheduler.task_s") = pass.taskS / passes
    m("spark.scheduler.core_util") = pass.taskS / (spans.map(_.seconds).sum * cores)
    m("spark.scheduler.straggler_s") = pass.stragglerS / passes

    m("spark.shuffle.write_mb") = pass.shuffleWrite / MB / passes
    m("spark.shuffle.read_mb") = pass.shuffleRead / MB / passes
    m("spark.shuffle.fetch_wait_s") = pass.fetchWaitS / passes
    m("spark.shuffle.spill_mb") = pass.spill / MB / passes

    m("jvm.gc_s") = pass.gcS / passes
    m("trace.wall_s") = wallS
    scala.collection.immutable.ListMap.from(m)
  }
}
