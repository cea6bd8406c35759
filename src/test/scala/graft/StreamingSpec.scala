package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources
import graft.store.SkewAgg
import graft.streaming.StreamingOps

/** Streaming equivalence + source/sink utils + salted aggregation. */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming window agg equals the batch result") {
    import spark.implicits._
    // the file stream source needs a directory; stage the single file
    val dir = java.nio.file.Files.createTempDirectory("events_in").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val q = StreamingOps.eventWindowCounts(spark, dir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("winagg").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT event_type, sum(n) AS n, sum(total_micros) AS t FROM winagg GROUP BY 1")
      .as[(String, Long, Long)].collect().map { case (k, a, b) => k -> (a, b) }.toMap
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000000).cast("long")).as("t"))
      .as[(String, Long, Long)].collect().map { case (k, a, b) => k -> (a, b) }.toMap
    assert(streamed == batch)
  }

  test("streaming extraction is stateless append and matches batch kernel") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    spark.range(0, 5).flatMap(i => graft.gen.TranscriptGen.genConv(42L, i)._1)
      .toDF().write.mode("overwrite").parquet(dir)
    val q = StreamingOps.extractStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("extracted").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT conv_id, turn_idx, markdown FROM extracted")
      .as[(String, Int, String)].collect().toSet
    val batch = graft.extract.ExtractPipeline.overTranscripts(spark.read.parquet(dir))
      .select("conv_id", "turn_idx", "markdown")
      .as[(String, Int, String)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-static decontamination matches the batch twin, incl. a late batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decon_in").toString
    def doc(i: Long) =
      if (i % 3 == 0) s"alpha beta gamma delta shared tail $i"
      else s"completely unique content number $i with no overlap at all $i"
    (0L until 30L).map(i => (i, doc(i))).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val bench = Seq((1000L, "alpha beta gamma delta shared"))
      .toDF("doc_id", "text")
    val ckpt = java.nio.file.Files.createTempDirectory("decon_ck").toString
    val q = StreamingOps.decontaminateStream(spark, dir, bench, n = 4)
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("decon").start()
    q.processAllAvailable()
    // a later micro-batch adds more docs; the running counts must
    // converge to the batch answer over the union
    (30L until 45L).map(i => (i, doc(i))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT doc_id, n_hits FROM decon")
      .as[(Long, Long)].collect().toSet
    val batch = graft.text.Corpus.decontaminate(
      spark.read.parquet(dir), bench, "doc_id", "text", n = 4)
      .select("doc_id", "n_hits") // the streamed twin emits the hit counts
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.forall { case (id, _) => id % 3 == 0 })
    // the cached static side must be RELEASED once streaming winds
    // down (the termination listener) — each call used to leak one
    // cached dataset for the session's lifetime. Listener dispatch is
    // async, so poll briefly.
    val deadline = System.nanoTime() + 5000000000L
    while (!spark.sharedState.cacheManager.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sharedState.cacheManager.isEmpty,
      "benchGrams cache not unpersisted after the last streaming query stopped")
  }

  test("stateful streaming dedup: first-seen per digest, matches batch exact dedup") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedup_in").toString
    // duplicate-heavy corpus: 40 docs over 7 distinct texts
    (0L until 40L).map(i => (i, s"document body ${i % 7}")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_ck").toString
    val q = StreamingOps.dedupStream(spark, dir).toDF("digest", "id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("deduped").start()
    q.processAllAvailable()
    // a second micro-batch of pure duplicates must emit NOTHING new
    (100L until 110L).map(i => (i, s"document body ${i % 7}")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT digest, id FROM deduped")
      .as[(String, Long)].collect().toSet
    val batch = graft.text.Dedup.exact(spark.read.parquet(dir), "doc_id", "text")
      .filter(col("keep_id") < 100) // originals arrived first
      .select(col("content_hash"), col("keep_id"))
      .as[(String, Long)].collect().toSet
    assert(streamed == batch && streamed.size == 7)
  }

  test("streaming session windows equal batch sessionization per user") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sess_in").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val q = StreamingOps.sessionStream(spark, dir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess").start()
    q.processAllAvailable()
    q.stop()
    // value_micros sums are integers < 2^53 carried as double — exact
    // under any addition order, so cast to long for the set compare
    val streamed = spark.sql(
      "SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n, CAST(sum(value_micros) AS LONG) AS v FROM sess GROUP BY 1")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, s, n, v) => u -> (s, n, v) }.toMap
    val batch = graft.events.EventOps.sessionStats(spark.read.parquet(dir))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n"),
        sum("value_micros").cast("long").as("v"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, s, n, v) => u -> (s, n, v) }.toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("salted aggregation equals direct groupBy") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), round(col("value") * 1000000).cast("long").as("v"))
    val direct = df.groupBy("user_id")
      .agg(sum("v").as("total"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val salted = SkewAgg.saltedSumCount(df, "user_id", "v", salt = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(salted == direct)
  }

  test("sources: binaryFile scan, markdown sink, truncate, exit code") {
    import spark.implicits._
    // binaryFile scan over this repo's markdown docs
    val bf = Sources.binaryFiles(spark, "/root/repo", glob = "*.md",
      recursive = false)
    assert(bf.count() > 0)
    assert(bf.columns.contains("content") && bf.columns.contains("path"))
    // markdown sink partitions by conv bucket
    val extracted = graft.extract.ExtractPipeline.overTranscripts(
      spark.range(0, 3).flatMap(i => graft.gen.TranscriptGen.genConv(42L, i)._1).toDF())
    val out = java.nio.file.Files.createTempDirectory("mdsink").toString + "/md"
    Sources.writeMarkdown(extracted, out, buckets = 4)
    assert(spark.read.parquet(out).count() == extracted.count())
    // truncate empties but preserves schema
    Sources.truncate(spark, out)
    val after = spark.read.parquet(out)
    assert(after.count() == 0 && after.columns.contains("markdown"))
    // exit code from summary
    assert(Sources.exitCode(
      graft.extract.ExtractPipeline.summary(extracted)) == 0)
  }
}
