package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.extract.ExtractPipeline
import graft.gen.TranscriptGen
import graft.store.Manifest

/** A generated transcript corpus and its expected extraction output. */
final case class Corpus(dir: String, convs: Int, turns: Long, textBytes: Long,
    files: Int, golden: Map[Int, Digest])

object Corpus {
  /** Columns whose content the correctness digest covers. */
  val KeyCols: Seq[String] = Seq("conv_id", "turn_idx", "status", "markdown", "error")

  /** Writes conversations `0 until convs` of `seed` as `files` parquet
    * files and digests the generator's golden markdown per hash
    * partition of `partitions`.
    */
  def generate(spark: SparkSession, seed: Long, convs: Int, files: Int,
      partitions: Int, dir: String): Corpus = {
    import spark.implicits._
    // one generation per conversation: its turns and their golden
    // markdown side by side, cached for the write and the digest
    val gen = spark.range(0, convs, 1, files).flatMap { i =>
      val (turns, golden) = TranscriptGen.genConv(seed, i)
      turns.zip(golden).map { case (t, g) => (t, g.markdown) }
    }.toDF("t", "golden").cache()
    gen.select("t.*").write.mode("overwrite").parquet(dir)
    val g = Digest.byKey(
      gen.select(col("t.conv_id").as("conv_id"), col("t.turn_idx").as("turn_idx"),
        lit("ok").as("status"), col("golden").as("markdown"), lit("").as("error")),
      Manifest.partitionId(partitions), KeyCols)
    val r = gen.agg(count(lit(1)), sum(octet_length(col("t.text")))).head()
    gen.unpersist()
    Corpus(dir, convs, r.getLong(0), r.getLong(1), files, g)
  }
}

/** Common shape of the two extraction workloads. */
abstract class ExtractWorkload(seed: Long, work: File) extends Workload {
  def convs: Int
  def files: Int
  def partitions: Int
  private var corpus: Corpus = _
  protected def c: Corpus = corpus

  val corpusDir: String = new File(work, "corpus").getPath

  def setup(h: Harness): Unit =
    corpus = Corpus.generate(h.spark, seed, convs, files, partitions, corpusDir)

  def inputs: Seq[(String, String)] = Seq(
    "convs" -> c.convs.toString, "turns" -> c.turns.toString,
    "text_bytes" -> c.textBytes.toString, "files" -> c.files.toString,
    "hash_partitions" -> partitions.toString)

  protected def throughput(passes: Seq[PassRec]): Seq[(String, String)] =
    Seq("turns_per_s" -> Json.num(c.turns / Stats.median(passes.map(_.durS))))

  /** Kernel phases on this corpus's own payloads, and a scan-only pass. */
  protected def kernelAndScan(h: Harness, parent: Long): Seq[(String, Double, String)] = {
    val kernel = h.tracer.span("kernel_phases", "pass", parent)(id =>
      KernelPhases.measure(KernelPhases.sample(seed, Workload.KernelSampleConvs), h.tracer, id, 5))
    kernel ++ Workload.scanLayer(h, c.dir, parent)
  }
}

/** extract_bulk: scan → extraction kernel → every output column drained,
  * one Spark job per pass. The store layer is not on this path.
  */
final class ExtractBulk(seed: Long, work: File, val convs: Int = 3000)
    extends ExtractWorkload(seed, work) {
  val name = "extract_bulk"
  val files = 16
  val partitions = 16
  val nominalPassS = 0.33

  private def drain(h: Harness): Unit =
    ExtractPipeline.overTranscripts(h.spark.read.parquet(c.dir))
      .write.format("noop").mode("overwrite").save()

  def warmUp(h: Harness): Unit = (1 to 8).foreach(_ => drain(h))

  def pass(h: Harness, index: Int, parent: Long): PassRec =
    h.pass(index, parent)(id => Seq(h.op("bulk_pass", id)(drain(h))._1))

  def check(h: Harness, passes: Seq[PassRec]): Seq[(String, Boolean)] = {
    val got = Digest.byKey(ExtractPipeline.overTranscripts(h.spark.read.parquet(c.dir)),
      Manifest.partitionId(partitions), Corpus.KeyCols)
    Seq("extract_digest_equals_golden" -> (got == c.golden))
  }

  def layers(h: Harness, traced: Seq[PassRec], parent: Long): Seq[(String, Double, String)] =
    kernelAndScan(h, parent) ++ Workload.zeroLayers("store") ++ Workload.zeroLayers("query")

  def report(passes: Seq[PassRec]): Seq[(String, String)] = throughput(passes)
}

/** extract_resume: the write path. Each op is one fresh
  * `Manifest.runResumable(maxBatches = 1)` call, so the run stops and
  * resumes after every commit; a pass starts from an empty output and
  * ends when every hash partition is committed.
  */
final class ExtractResume(seed: Long, work: File, val convs: Int = 1000)
    extends ExtractWorkload(seed, work) {
  val name = "extract_resume"
  val files = 8
  val partitions = 8
  val perCommit = 2
  val nominalPassS = 7.5
  private val commits = (partitions + perCommit - 1) / perCommit

  private def passDir(i: Int): File = new File(work, s"resume/pass-$i")
  def outDir(i: Int): String = new File(passDir(i), "out").getPath
  private def manDir(i: Int) = new File(passDir(i), "manifest").getPath

  private def commit(h: Harness, i: Int): Int =
    Manifest.runResumable(h.spark, h.spark.read.parquet(c.dir), outDir(i), manDir(i),
      partitions, perCommit, maxBatches = 1)

  def warmUp(h: Harness): Unit = {
    (1 to commits).foreach(_ => commit(h, -1))
    Workload.deleteTree(passDir(-1))
  }

  def pass(h: Harness, index: Int, parent: Long): PassRec = {
    Workload.deleteTree(passDir(index))
    h.pass(index, parent)(id => (1 to commits).map { k =>
      val (rec, n) = h.op(s"commit_$k", id)(commit(h, index))
      // a commit that processed no partition left work undone
      if (n.contains(0)) rec.copy(ok = false) else rec
    })
  }

  private def filesUnder(d: File): Seq[File] =
    if (d.isDirectory) Option(d.listFiles).toSeq.flatten.flatMap(filesUnder)
    else if (d.isFile && !d.getName.startsWith(".")) Seq(d) else Nil

  private val storeStats = scala.collection.mutable.Map.empty[Int, (Long, Int, Long, Long)]

  def check(h: Harness, passes: Seq[PassRec]): Seq[(String, Boolean)] = {
    val perPass = passes.map { p =>
      val m = Manifest.load(h.spark, manDir(p.index)).cache()
      val done = m.filter(col("status") === "done")
        .select("partition_id", "rows_in", "rows_out").collect()
      val onePerPartition = done.map(_.getInt(0)).sorted.toSeq == (0 until partitions)
      val rowsMatch = done.forall(r => r.getLong(1) == r.getLong(2))
      val snap = Manifest.readSnapshot(h.spark, outDir(p.index), m,
        lit(new java.sql.Timestamp(System.currentTimeMillis())))
      val digestOk = Digest.byKey(snap, col("partition_id"), Corpus.KeyCols) == c.golden
      val fs = filesUnder(passDir(p.index))
      storeStats(p.index) = (fs.map(_.length).sum, fs.size, m.count(),
        done.length - done.map(_.getInt(0)).distinct.length.toLong)
      m.unpersist()
      Seq(onePerPartition, rowsMatch, digestOk)
    }
    Seq(
      "one_done_row_per_partition" -> perPass.forall(_(0)),
      "rows_in_equals_rows_out" -> perPass.forall(_(1)),
      "snapshot_digest_equals_golden" -> perPass.forall(_(2)))
  }

  private def avg(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def layers(h: Harness, traced: Seq[PassRec], parent: Long): Seq[(String, Double, String)] = {
    val commitsRun = traced.flatMap(_.ops)
    val st = h.sparkPerPass(traced)
    val pendingS = h.tracer.span("pending", "pass", parent)(_ =>
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Manifest.pending(h.spark, partitions, Manifest.load(h.spark, manDir(traced.last.index))).collect()
        (System.nanoTime() - t0) / 1e9
      }))
    val ss = traced.map(p => storeStats(p.index))
    val bytes = avg(ss.map(_._1.toDouble))
    kernelAndScan(h, parent) ++ Seq(
      ("store.commit_s", Stats.median(commitsRun.map(_.durS)), "s"),
      ("store.jobs_per_commit", st.jobs.toDouble / commits, "count"),
      ("store.rows_scanned_per_row_committed", st.inputRecords.toDouble / c.turns, "ratio"),
      ("store.bytes_written", bytes, "bytes"),
      ("store.files_written", avg(ss.map(_._2.toDouble)), "count"),
      ("store.manifest_rows", avg(ss.map(_._3.toDouble)), "count"),
      ("store.pending_s", pendingS, "s"),
      ("store.rewritten_partitions", avg(ss.map(_._4.toDouble)), "count"),
      ("store.bytes_written_per_input_byte", bytes / c.textBytes, "ratio")) ++
      Workload.zeroLayers("query")
  }

  def report(passes: Seq[PassRec]): Seq[(String, String)] = {
    val ss = passes.flatMap(p => storeStats.get(p.index))
    throughput(passes) ++ Seq(
      "commits_per_pass" -> commits.toString,
      "partitions_per_commit" -> perCommit.toString,
      "bytes_written_per_input_byte" ->
        Json.num(avg(ss.map(_._1.toDouble)) / c.textBytes))
  }
}
