package perfbench

import java.io.File
import org.apache.spark.sql.functions._

/** One benchmark workload: inputs made from the seed, a pass of timed
  * ops over them, and checks of what the ops produced.
  */
trait Workload {
  def name: String

  /** Builds the inputs and their expected outputs. Main repeats it to
    * time set-up, so it must leave the same state however often it runs.
    */
  def setup(h: Harness): Unit

  /** Brings JIT and Spark caches to steady state; not timed. */
  def warmUp(h: Harness): Unit

  /** Wall time of one pass on the reference host (4 vCPUs). A run times
    * `--seconds / nominalPassS` whole passes, so the work per run, and
    * with it the JIT's state when each pass starts, does not depend on
    * the speed of the host or of the program.
    */
  def nominalPassS: Double

  /** One full pass over the inputs, as timed ops under a pass span. */
  def pass(h: Harness, index: Int, parent: Long): PassRec

  /** Correctness of everything the passes produced; runs untimed. */
  def check(h: Harness, passes: Seq[PassRec]): Seq[(String, Boolean)]

  /** Per-layer metrics of a traced run (after `check`). */
  def layers(h: Harness, traced: Seq[PassRec], parent: Long): Seq[(String, Double, String)]

  /** Input sizes, as stated in the output. */
  def inputs: Seq[(String, String)]

  /** Workload-specific end-to-end figures for the report (after `check`). */
  def report(passes: Seq[PassRec]): Seq[(String, String)]
}

object Workload {
  /** Conversations whose payloads the Spark-free kernel timing uses. */
  val KernelSampleConvs = 300

  val QueryGroups: Seq[String] =
    Seq("chunk", "store", "rag", "text", "events", "multimodal", "extract", "relational")

  private val StoreLayer = Seq("store.commit_s" -> "s", "store.jobs_per_commit" -> "count",
    "store.rows_scanned_per_row_committed" -> "ratio", "store.bytes_written" -> "bytes",
    "store.files_written" -> "count", "store.manifest_rows" -> "count",
    "store.pending_s" -> "s", "store.rewritten_partitions" -> "count",
    "store.bytes_written_per_input_byte" -> "ratio")

  private val QueryLayer = QueryGroups.flatMap(g => Seq(s"query.$g.p50_s" -> "s",
    s"query.$g.jobs" -> "count", s"query.$g.task_cpu_s" -> "s",
    s"query.$g.shuffle_bytes" -> "bytes"))

  /** A layer the workload does not exercise reports 0 for each metric. */
  def zeroLayers(layer: String): Seq[(String, Double, String)] =
    (layer match {
      case "store" => StoreLayer
      case "query" => QueryLayer
    }).map { case (n, u) => (n, 0.0, u) }

  /** Scan-only pass over `dir`: `octet_length(text)` forces the decode
    * of every text value but nothing else. Median of three. The input
    * size is the parquet files' size on disk: Spark's task input metrics
    * count only part of what the parquet reader reads.
    */
  def scanLayer(h: Harness, dir: String, parent: Long): Seq[(String, Double, String)] = {
    val ops = h.tracer.span("scan", "pass", parent) { id =>
      (1 to 3).map(i => h.op(s"scan_$i", id)(
        h.spark.read.parquet(dir).agg(sum(octet_length(col("text")))).collect())._1)
    }
    h.probe.drain(h.spark)
    val stats = ops.map(o => h.probe.stats(Set(o.group)))
    Seq(
      ("scan.pass_s", Stats.median(ops.map(_.durS)), "s"),
      ("scan.task_cpu_s", Stats.median(stats.map(_.cpuS)), "s"),
      ("scan.input_bytes", parquetBytes(new File(dir)).toDouble, "bytes"))
  }

  def parquetBytes(d: File): Long =
    if (d.isDirectory) Option(d.listFiles).toSeq.flatten.map(parquetBytes).sum
    else if (d.getName.endsWith(".parquet")) d.length else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
