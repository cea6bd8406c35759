package perfbench

import java.io.File
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own code: the tail percentile, span self
  * time, the digest combine, and a tiny run of each workload that must
  * pass its checks and must fail them once its output is corrupted.
  * Usage (normally `python3 perfbench/run.py --self-test`):
  *
  *   perfbench.SelfTest --work <dir>
  *
  * Leaves the query smoke run's tables and results under <dir> for
  * run.py's test of the oracle comparison.
  */
object SelfTest {
  private def expect(what: String, ok: Boolean): Unit = {
    if (!ok) throw new AssertionError(s"self-test failed: $what")
    println(s"ok: $what")
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args(1))
    units()

    val spark = Main.session(2, work)
    val h = new Harness(spark, new Probe, new Tracer(enabled = true))
    spark.sparkContext.addSparkListener(h.probe)
    digests(h)

    val bulk = new ExtractBulk(3, new File(work, "bulk"), convs = 120)
    val bp = smoke(h, bulk)
    // a corrupted input turn makes the extracted output differ from golden
    val tampered = bulk.corpusDir + "-tampered"
    spark.read.parquet(bulk.corpusDir)
      .withColumn("text", when(col("turn_idx") === 1 && col("conv_id") === "conv-000007",
        concat(col("text"), lit(" tampered"))).otherwise(col("text")))
      .write.mode("overwrite").parquet(tampered)
    Workload.deleteTree(new File(bulk.corpusDir))
    new File(tampered).renameTo(new File(bulk.corpusDir))
    expect("extract_bulk: corrupted output fails its check", !bulk.check(h, bp).forall(_._2))

    val resume = new ExtractResume(3, new File(work, "resume"), convs = 60)
    val rp = smoke(h, resume)
    // drop one committed partition's data files behind the manifest's back
    val victim = new File(resume.outDir(rp.head.index)).listFiles
      .filter(_.getName.startsWith("partition_id=")).minBy(_.getName)
    Workload.deleteTree(victim)
    expect("extract_resume: corrupted output fails its check", !resume.check(h, rp).forall(_._2))

    smoke(h, new QuerySuite(3, work, Seq("golden_extract", "tpch_pricing", "json_props")))
    // rows left by the warm-up alone do not pass the query checks
    val unrun = new QuerySuite(3, new File(work, "unrun"), Seq("tpch_pricing"))
    unrun.setup(h)
    unrun.warmUp(h)
    expect("query_suite: a query without timed results fails its check",
      !unrun.check(h, Nil).forall(_._2))

    // trace output is well formed and parent-linked
    val spans = h.tracer.all
    val ids = spans.map(_.id).toSet
    expect("every span's parent is recorded", spans.forall(s => s.parent <= 0 || ids(s.parent)))
    expect("job spans were recorded under ops",
      { h.recordJobSpans(rp.flatMap(_.ops)); h.tracer.all.exists(_.kind == "spark_job") })
    spark.stop()
  }

  private def smoke(h: Harness, w: Workload): Seq[PassRec] = {
    w.setup(h)
    val passes = Seq(w.pass(h, 0, 0))
    val checks = w.check(h, passes)
    expect(s"${w.name}: ${passes.head.ops.size} ops ran", passes.head.ops.forall(_.ok))
    expect(s"${w.name}: checks pass on a correct run (${checks.map(_._1).mkString(", ")})",
      checks.forall(_._2))
    passes
  }

  private def units(): Unit = {
    val forty = (1 to 40).map(_.toDouble)
    expect("tail of 40 samples is p75 with 10 beyond", Stats.tail(forty) == ((75, 30.0, 10)))
    val hundred = (1 to 100).map(_.toDouble).reverse
    expect("tail of 100 samples is p90 with 10 beyond", Stats.tail(hundred) == ((90, 90.0, 10)))
    expect("tail of 1000 samples is p99 with 10 beyond",
      Stats.tail((1 to 1000).map(_.toDouble)) == ((99, 990.0, 10)))
    expect("a sample too small for a tail reports p50",
      Stats.tail(Seq(3.0, 1.0, 2.0)) == ((50, 2.0, 1)))
    expect("median of an even sample", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    val spans = Seq(
      Span(1, 0, "pass", "pass", 0, 100),
      Span(2, 1, "op", "op", 10, 30),
      Span(3, 1, "op", "op", 20, 50),
      Span(4, 1, "op", "op", 90, 120),
      Span(5, 2, "job", "spark_job", 12, 18))
    val self = Trace.selfTimes(spans)
    expect("self time subtracts the union of children, clipped to the parent",
      self(1) == 100 - (40 + 10))
    expect("self time of a span with one child", self(2) == 20 - 6)
    expect("self time of a leaf is its duration", self(3) == 30 && self(5) == 6)
  }

  private def digests(h: Harness): Unit = {
    import h.spark.implicits._
    val max = Long.MaxValue
    val big = Seq(max, max, max, max - 1).toDF("h")
    val exact = big.agg(Digest.exactSum(col("h"))).head().getDecimal(0)
    expect("hash sum does not overflow under ANSI mode",
      BigInt(exact.toBigInteger) == BigInt(max) * 4 - 1)
    expect("a LONG sum of the same values raises under ANSI mode",
      scala.util.Try(big.agg(sum(col("h"))).head()).isFailure)

    val df = (1 to 50).map(i => (i % 3, s"row-$i", i)).toDF("k", "a", "b")
    val byKey = Digest.byKey(df, col("k"), Seq("a", "b"))
    val reordered = Digest.byKey(df.orderBy(col("b").desc).repartition(7), col("k"), Seq("a", "b"))
    expect("digest is independent of row order and partitioning", byKey == reordered)
    val hashes = df.select(Digest.rowHash(Seq("a", "b"))).as[Long].collect()
    expect("Spark digest equals the reference combine",
      Digest.total(byKey) == Digest.combine(hashes.iterator))
    val changed = Digest.byKey(df.withColumn("a", when(col("b") === 7, lit("x"))
      .otherwise(col("a"))), col("k"), Seq("a", "b"))
    expect("changing one value changes the digest", changed != byKey)
  }
}
