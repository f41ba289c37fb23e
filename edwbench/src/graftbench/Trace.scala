package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed boundary: workload, key, or a key's build / plan / write /
  * read / drain step. `delta` holds the counters that moved inside it
  * (empty when counters are off). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      delta: Snapshot) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. With counters, each span reads them on entry
  * and exit, after the listener bus has drained; without, a span costs
  * two `nanoTime` calls. */
final class Tracer(counters: Option[Counters]) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var nextId = 0

  def apply[T](name: String, parent: Int)(body: Int => T): T = {
    nextId += 1
    val id = nextId
    val before = counters.map(_.snapshot())
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      val delta = counters.map(c => c.snapshot() - before.get).getOrElse(Snapshot())
      spans += Span(id, parent, name, t0, t1, delta)
    }
  }

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  /** A span's duration minus the part of it its children cover (children
    * run one after another, so their durations add). */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  def toJson(runId: String): String = Json.render(spans.toSeq.map { s =>
    Map(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
      "jobs" -> s.delta.jobs, "tasks" -> s.delta.tasks, "task_s" -> s.delta.taskS,
      "input_bytes" -> s.delta.inputBytes, "shuffle_write_bytes" -> s.delta.shuffleWrite)
  })
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
