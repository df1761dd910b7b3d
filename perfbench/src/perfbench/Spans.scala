package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for the run). Times are wall-clock milliseconds, the clock Spark's
  * listener events carry. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, endMs: Long, attrs: Seq[(String, Double)] = Nil) {
  def durationMs: Long = endMs - startMs
}

object Spans {

  /** Milliseconds of [lo, hi) covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Overlapping children are counted once. */
  def selfMs(span: Span, children: Seq[Span]): Long =
    span.durationMs - covered(children.map(c => (c.startMs, c.endMs)),
      span.startMs, span.endMs)

  def toJson(s: Span): String = {
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
      s""""name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"attrs":$attrs}"""
  }
}

/** In-memory span store; written out once, when the run ends. */
final class SpanLog {
  private val buf = ArrayBuffer.empty[Span]
  private var next = 0

  def open(parent: Int, kind: String, name: String, startMs: Long): Int =
    synchronized {
      next += 1
      buf += Span(next, parent, kind, name, startMs, startMs)
      next
    }

  def close(id: Int, endMs: Long, attrs: Seq[(String, Double)] = Nil): Unit =
    synchronized {
      val s = buf(id - 1)
      buf(id - 1) = s.copy(endMs = endMs, attrs = s.attrs ++ attrs)
    }

  def add(parent: Int, kind: String, name: String, startMs: Long,
      endMs: Long, attrs: Seq[(String, Double)] = Nil): Int = {
    val id = open(parent, kind, name, startMs)
    close(id, endMs, attrs)
    id
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      spans.map(Spans.toJson).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
