package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around every call the benchmark makes into a layer of
  * the system. Disabled (the timed runs), `span` is a plain call. Enabled
  * (the traced run), each span records its name, start, end, parent and
  * operation id; they are written out once, when the run ends.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, op, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Total time of spans named `name`, in seconds. */
  def totalS(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.durNs).sum / 1e9

  /** Per span name: self time (span minus the part its children cover). */
  def selfS: Map[String, Double] = {
    val childNs = Array.fill(spans.length)(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durNs - childNs(s.id)).sum / 1e9
    }
  }

  /** Per operation id: total seconds per span name. */
  def byOp: Map[String, Map[String, Double]] =
    spans.groupBy(_.op).map { case (op, ss) =>
      op -> ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(_.durNs).sum / 1e9 }
    }

  def writeJsonLines(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    } finally w.close()
  }
}

object Spans {
  final case class Span(id: Int, name: String, op: String, parent: Int,
      startNs: Long, var endNs: Long) {
    def durNs: Long = endNs - startNs
  }
}

/** Minimal JSON writer for the report lines (no JSON library on the
  * classpath is part of the public surface). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case Raw(r) => r
    case other => str(other.toString)
  }

  /** Pre-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
