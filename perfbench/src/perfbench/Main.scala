package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM at local[cores] and writes its outcome
  * as JSON. Usage (normally through run.py):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <file>
  */
object Main {
  /** Set-up is repeated this many times after an untimed first one;
    * the median of the repetitions is reported.
    */
  val SetupReps = 5

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, seed: Long, work: File): Workload = name match {
    case "extract_bulk" => new ExtractBulk(seed, work)
    case "extract_resume" => new ExtractResume(seed, work)
    case "query_suite" => new QuerySuite(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) => n -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    Harness.Heap.install()
    val cores = Runtime.getRuntime.availableProcessors

    var spark: SparkSession = null
    val sessionS = secondsOf { spark = session(cores, work) }
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(enabled = false)
    val h = new Harness(spark, probe, tracer)
    val w = workload(opts("workload"), seed, work)

    // The first set-up also pays the JVM's first Spark jobs and is not
    // timed; set-up time is the median of the repetitions after it.
    val setupFirstS = secondsOf(w.setup(h))
    val setupReps = (1 to SetupReps).map(_ => secondsOf(w.setup(h)))
    val warmS = secondsOf(w.warmUp(h))

    // Untraced runs time every pass with spans off. A traced run traces
    // every other pass, starting with a traced or an untraced one by the
    // seed, so the difference of the two medians is the tracing overhead
    // and not the warm-up drift between earlier and later passes. One
    // client, closed loop: the next op starts when the last one returned.
    val root = tracer.newId()
    val t0 = System.nanoTime()
    val n = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    val runs = (0 until (if (trace) math.max(2, n) else n)).map { i =>
      val traceIt = trace && math.floorMod(i + seed, 2L) == 1L
      tracer.enabled = traceIt
      (traceIt, w.pass(h, i, root))
    }
    tracer.enabled = trace
    val plain = runs.collect { case (false, p) => p }
    val traced = runs.collect { case (true, p) => p }
    val passes = runs.map(_._2)
    val checks = w.check(h, passes)

    val ops = passes.flatMap(_.ops)
    // a throwing op fails the run, and a failed check makes every op
    // whose output it covers a failure
    val correct = checks.forall(_._2) && ops.forall(_.ok)
    val failed = if (checks.forall(_._2)) ops.count(!_.ok) else ops.size
    // latencies of completed ops only: a failed op is never a fast one
    val okPlain = plain.filter(_.ops.forall(_.ok))
    val lat = okPlain.flatMap(_.ops).map(_.durS)
    def orZero(xs: Seq[Double])(f: Seq[Double] => Double) = if (xs.isEmpty) 0.0 else f(xs)
    val (tailP, tailV, tailBeyond) = if (lat.isEmpty) (50, 0.0, 0) else Stats.tail(lat)
    val e2e = Seq(
      ("setup_s", Stats.median(setupReps), "s"),
      ("pass_s", orZero(okPlain.map(_.durS))(Stats.median), "s"),
      ("op_p50_s", orZero(lat)(Stats.median), "s"),
      ("task_cpu_s", if (okPlain.isEmpty) 0.0 else h.cpuPerPassS(okPlain), "s"),
      ("peak_heap_mb", Harness.Heap.peakMb, "MB"))

    val layers = if (!trace) Nil else {
      h.recordJobSpans(traced.flatMap(_.ops))
      val overhead = Stats.median(traced.map(_.durS)) - Stats.median(plain.map(_.durS))
      val out = h.sparkPerPass(traced).metrics("spark") ++
        Seq(("spark.driver_gap_s", h.driverGapPerPass(traced), "s")) ++
        w.layers(h, traced, root) ++
        Seq(("trace.overhead_s", overhead, "s"),
          ("trace.overhead_share", overhead / Stats.median(plain.map(_.durS)), "ratio"))
      tracer.record(Span(root, 0, w.name, "workload", t0, System.nanoTime()))
      Files.write(new File(work, s"trace-${w.name}-$seed.json").toPath,
        Trace.toJson(tracer.all).getBytes(UTF_8))
      out
    }

    val conf = spark.conf
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")
    val report = Seq(
      "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "gc" -> Json.str(gcs),
      "spark.local.dir" -> Json.str(spark.sparkContext.getConf.get("spark.local.dir")),
      "bypass_merge_threshold" ->
        Json.str(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold")),
      "shuffle_partitions" -> Json.str(conf.get("spark.sql.shuffle.partitions")),
      "max_partition_bytes" -> Json.str(conf.get("spark.sql.files.maxPartitionBytes")),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "session_start_s" -> Json.num(sessionS),
      "setup_first_s" -> Json.num(setupFirstS),
      "setup_reps_s" -> setupReps.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmS),
      "passes" -> passes.size.toString,
      "traced_passes" -> traced.size.toString,
      "op_samples" -> lat.size.toString,
      // too few ops per run for a real tail on most workloads, so this
      // is reported, not a bounded metric
      "op_tail_s" -> Json.num(tailV),
      "op_tail_percentile" -> tailP.toString,
      "op_tail_samples_beyond" -> tailBeyond.toString,
      "failed_share" -> Json.num(if (ops.isEmpty) 1.0 else failed.toDouble / ops.size),
      "inputs" -> Json.obj(w.inputs),
      "checks" -> Json.obj(checks.map { case (k, v) => k -> v.toString })) ++ w.report(passes)

    val result = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "correct" -> correct.toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layers),
      "report" -> Json.obj(report)))
    Files.write(new File(opts("out")).toPath, result.getBytes(UTF_8))
    spark.stop()
  }
}
