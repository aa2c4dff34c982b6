package graftbench

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON rendering for the run record (no parsing needed). */
object J {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == Math.rint(d) && Math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** One traced interval: a run, a pass, an op or a layer call. `counts` holds
  * the listener counts attributed to it (jobs, stages, tasks, task time…). */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
    val startNs: Long) {
  var endNs: Long = startNs
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
}

/** In-memory span recorder. Spans are kept until the end of the run and
  * written once. While a span is open its id is set as a Spark local
  * property, so jobs started inside it are attributed to it by
  * [[ExecRecorder]]. When disabled, `span` only runs its body. */
final class Tracer(val runId: String, originNs: Long) {
  @volatile var enabled = false
  /** Span 0 is the run itself; it closes at [[finish]]. */
  private val spans = ArrayBuffer(new Span(0, -1, "run", "run", originNs))
  private var stack = List(spans.head)
  var setProperty: String => Unit = _ => ()

  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.head.id, name, kind, System.nanoTime())
      spans += s
      stack = s :: stack
      setProperty(s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        setProperty(if (stack.head.id == 0) null else stack.head.id.toString)
      }
    }

  def finish(): Unit = spans.head.endNs = System.nanoTime()

  def all: Seq[Span] = spans.toSeq
  /** Id the next span will get. */
  def nextId: Int = spans.size

  /** Duration minus the time covered by direct children (children of one
    * span never overlap: the harness is single-threaded). */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  def toJson: String = {
    val self = selfSeconds
    J.arr(spans.map { s =>
      J.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "run_id" -> J.str(runId),
        "name" -> J.str(s.name), "kind" -> J.str(s.kind),
        "start_s" -> J.num((s.startNs - originNs) / 1e9),
        "end_s" -> J.num((s.endNs - originNs) / 1e9),
        "self_s" -> J.num(self(s.id)),
        "counts" -> J.obj(s.counts.map { case (k, v) => k -> J.num(v) })))
    })
  }
}
