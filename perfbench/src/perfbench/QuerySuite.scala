package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** query_suite: SparkEntry queries one at a time, each drained to the
  * driver with `collect()`, in a seeded order per pass. Per-job
  * planning and scheduling, shuffles and the chunk/rag/text/store
  * operators do the work; the extraction kernel does little.
  */
final class QuerySuite(seed: Long, work: File,
    queries: Seq[String] = QuerySuite.Queries) extends Workload {
  val name = "query_suite"
  val nominalPassS = 4.4
  private val dataDir = new File(work, "tables").getAbsolutePath
  private val dumpDir = new File(work, "query-results")

  /** Last collected rows of each query, and the fingerprint of its
    * output in every pass (all passes must agree).
    */
  private val lastRows = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]
  private val prints = scala.collection.mutable.Map.empty[String, Set[Int]]

  def setup(h: Harness): Unit = Tables.write(h.spark, seed, dataDir)

  def inputs: Seq[(String, String)] = Seq(
    "queries" -> queries.size.toString,
    "tables" -> Json.str("seeded, scale 0.01"),
    "lineitem_rows" -> "60000", "documents" -> "500", "embeddings" -> "500",
    "events" -> "10000")

  private def run(h: Harness, q: String): Array[Row] = {
    val df = SparkEntry.queries(q)(h.spark, dataDir)
    val rows = df.collect()
    lastRows(q) = (df.schema, rows)
    rows
  }
  /** Runs every query once; the rows it leaves are not checked, so a
    * query that fails in every timed pass cannot pass on warm-up rows.
    */
  def warmUp(h: Harness): Unit = {
    queries.foreach(run(h, _))
    lastRows.clear()
  }

  def pass(h: Harness, index: Int, parent: Long): PassRec = {
    val order = new Random(seed * 7919L + index).shuffle(queries)
    h.pass(index, parent)(id => order.map { q =>
      val (rec, rows) = h.op(q, id)(run(h, q))
      rows.foreach(rs => prints(q) = prints.getOrElse(q, Set.empty) +
        QueryDump.fingerprint(lastRows(q)._1, rs))
      rec
    })
  }

  def check(h: Harness, passes: Seq[PassRec]): Seq[(String, Boolean)] = {
    dumpDir.mkdirs()
    lastRows.foreach { case (q, (schema, rows)) =>
      Files.write(new File(dumpDir, s"$q.json").toPath,
        QueryDump.toJson(schema, rows).getBytes(UTF_8))
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Files.write(new File(dumpDir, "oracle_sql.json").toPath,
      Json.obj(oracle.toSeq.sorted.map { case (q, sql) => q -> Json.str(sql) })
        .getBytes(UTF_8))
    val golden = lastRows.get("golden_extract").map(_._2)
    Seq(
      "golden_extract_zero_mismatches" ->
        golden.exists(rs => rs.length == 1 && rs(0).getAs[Long]("mismatches") == 0L),
      "every_query_ran" -> (queries.toSet == lastRows.keySet && queries.toSet == prints.keySet),
      "same_output_every_pass" -> prints.values.forall(_.size == 1))
  }

  def layers(h: Harness, traced: Seq[PassRec], parent: Long): Seq[(String, Double, String)] = {
    val byGroup = traced.flatMap(_.ops).groupBy(o => QuerySuite.groupOf(o.name))
    h.probe.drain(h.spark)
    val query = Workload.QueryGroups.flatMap { g =>
      val ops = byGroup.getOrElse(g, Nil)
      val st = ops.map(o => h.probe.stats(Set(o.group)))
      def mean(f: SparkStats => Double) = if (st.isEmpty) 0.0 else st.map(f).sum / st.size
      Seq((s"query.$g.p50_s", if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.durS)), "s"),
        (s"query.$g.jobs", mean(_.jobs.toDouble), "count"),
        (s"query.$g.task_cpu_s", mean(_.cpuS), "s"),
        (s"query.$g.shuffle_bytes", mean(s => (s.shuffleRead + s.shuffleWrite).toDouble), "bytes"))
    }
    // the suite's own extraction payloads: golden_extract's corpus
    val kernel = h.tracer.span("kernel_phases", "pass", parent)(id =>
      KernelPhases.measure(KernelPhases.sample(42L, QuerySuite.GoldenConvs), h.tracer, id, 5))
    kernel ++ Workload.scanLayer(h, s"$dataDir/documents.parquet", parent) ++
      Workload.zeroLayers("store") ++ query
  }

  def report(passes: Seq[PassRec]): Seq[(String, String)] = {
    val ops = passes.flatMap(_.ops)
    Seq("slowest_queries" -> Json.obj(ops.groupBy(_.name).view.mapValues(os =>
      Stats.median(os.map(_.durS))).toSeq.sortBy(-_._2).take(5)
      .map { case (q, s) => q -> Json.num(s) }))
  }
}

object QuerySuite {
  /** Conversations golden_extract generates (see SparkEntry). */
  val GoldenConvs = 200

  /** The queries a pass runs, each with its operator group: the module
    * that implements it, or `relational` for queries written in
    * SparkEntry itself. A fixed cross-section of the 91, at least one
    * per group, small enough that a cold pass, the timed passes and the
    * oracle comparison fit one run. It holds the four queries whose
    * `.count()` timing hides most of their work (json_props,
    * repetition_stats, normalize_text, asof_join) and a retrieval query
    * that pays the driver-side `queryVec` job (search_topk).
    */
  val Groups: Seq[(String, String)] = Seq(
    "golden_extract" -> "extract", "chunk_sections" -> "chunk",
    "snapshot_asof" -> "store", "search_topk" -> "rag",
    "repetition_stats" -> "text", "normalize_text" -> "text",
    "mm_meta" -> "multimodal", "asof_join" -> "events",
    "json_props" -> "relational", "tpch_pricing" -> "relational")

  val Queries: Seq[String] = Groups.map(_._1)

  def groupOf(q: String): String = Groups.toMap.apply(q)
}
