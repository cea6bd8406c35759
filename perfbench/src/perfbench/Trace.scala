package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. Times are nanoseconds on the JVM's monotonic
  * clock; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: spans are kept until the run ends and then
  * written out in one file. When disabled it only hands out ids, so an
  * untraced run pays no recording cost.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L

  def newId(): Long = synchronized { nextId += 1; nextId }

  def record(s: Span): Unit = if (enabled) synchronized { spans += s }

  /** Adds attributes to an already recorded span. */
  def annotate(id: Long, attrs: Map[String, Double]): Unit = if (enabled) synchronized {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }

  /** Time `body` as a span named `name` under `parent`; the body gets
    * the new span's id so it can parent its own children.
    */
  def span[T](name: String, kind: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    val out = body(id)
    record(Span(id, parent, name, kind, t0, System.nanoTime()))
    out
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Trace {

  /** Length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
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

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(cs, s.startNs, s.endNs))
    }.toMap
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.sortBy(s => (s.startNs, s.id)).map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":${Json.str(s.kind)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${self(s.id)},"attrs":{$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Minimal JSON writing for the benchmark's own outputs. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
