package perfbench

import org.apache.spark.unsafe.types.UTF8String
import graft.extract.{BlockParser, ExtractPipeline, Headers, MarkdownEmitter, ReadingOrder}
import graft.gen.TranscriptGen

/** Spark-free timing of the extraction kernel's phases on a workload's
  * own payloads, split by the role that produced the payload. Each
  * phase is timed on its own, fed the previous phase's precomputed
  * output, so `row - kernel` is the cost of the UTF8String boundary.
  */
object KernelPhases {
  val Roles: Seq[String] = Seq("user", "pdf", "html")
  val Phases: Seq[String] = Seq("parse", "headers", "order", "emit", "kernel", "row")

  private def roleOf(role: String): String = role match {
    case "assistant" => "pdf"
    case "tool" => "html"
    case _ => "user"
  }

  /** The payloads of conversations `0 until convs` of `seed`, by role. */
  def sample(seed: Long, convs: Int): Map[String, Array[String]] =
    (0 until convs).flatMap(i => TranscriptGen.genConv(seed, i.toLong)._1)
      .groupBy(r => roleOf(r.role)).map { case (k, rs) => k -> rs.map(_.text).toArray }

  @volatile private var sink = 0L

  /** Median over `reps` of the per-payload time of `f`, in ns, after as
    * many untimed repetitions, so the JIT has compiled `f`'s own path.
    */
  private def time(n: Int, reps: Int)(f: Int => Int): Double = {
    val per = (1 to 2 * reps).map { _ =>
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { acc += f(i); i += 1 }
      val dt = System.nanoTime() - t0
      sink += acc
      dt.toDouble / n
    }
    Stats.median(per.drop(reps))
  }

  /** Per-phase ns per turn by role, plus the sample's byte, block and
    * error counts. Each (phase, role) pair is recorded as a span.
    */
  def measure(payloads: Map[String, Array[String]], tracer: Tracer, parent: Long,
      reps: Int): Seq[(String, Double, String)] = {
    val perRole = Roles.flatMap { role =>
      val ps = payloads.getOrElse(role, Array.empty[String]).filter(p => p != null && p.nonEmpty)
      val n = ps.length
      if (n == 0) Phases.map(ph => (s"extract.${ph}_ns_per_turn.$role", 0.0, "ns"))
      else {
        val blocks = ps.map(BlockParser.parse)
        val headers = blocks.map(Headers.identify)
        val ordered = blocks.map(ReadingOrder.order)
        val utf8 = ps.map(UTF8String.fromString)
        def phase(name: String)(f: Int => Int): (String, Double, String) = {
          val ns = tracer.span(s"extract.$name.$role", "kernel_phase", parent)(_ =>
            time(n, reps)(f))
          (s"extract.${name}_ns_per_turn.$role", ns, "ns")
        }
        Seq(
          phase("parse")(i => BlockParser.parse(ps(i)).length),
          phase("headers")(i => Headers.identify(blocks(i)).hashCode),
          phase("order")(i => ReadingOrder.order(blocks(i)).length),
          phase("emit")(i => if (blocks(i).isEmpty) 0
            else MarkdownEmitter.emitNormalized(ordered(i), headers(i)).length),
          phase("kernel")(i => ExtractPipeline.extract(ps(i)).length),
          phase("row")(i => ExtractPipeline.extractRow(utf8(i)).getUTF8String(1).numBytes))
      }
    }
    val all = payloads.values.flatten.toSeq
    val rows = all.map(p => ExtractPipeline.extractRow(UTF8String.fromString(p)))
    val counts = Seq(
      ("extract.bytes_in", all.map(p => if (p == null) 0L else UTF8String.fromString(p).numBytes.toLong).sum.toDouble, "bytes"),
      ("extract.bytes_out", rows.map(_.getUTF8String(1).numBytes.toLong).sum.toDouble, "bytes"),
      ("extract.blocks", all.map(p => if (p == null || p.isEmpty) 0L else BlockParser.parse(p).length.toLong).sum.toDouble, "count"),
      ("extract.err_rows", rows.count(_.getUTF8String(0).toString == "err").toDouble, "count"))
    perRole ++ counts
  }
}
