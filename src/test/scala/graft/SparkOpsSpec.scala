package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.TranscriptGen
import graft.multimodal.Multimodal
import graft.rag.{AnnLsh, HashEmbedder, Similarity, TopK}
import graft.store.{Manifest, StoreOps}

/** Distributed-path integration tests: the checkpoint/resume protocol,
  * store semantics, and JVM↔Column twin consistency.
  */
class SparkOpsSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_test").toString

  test("manifest: kill after k partitions, resume processes exactly n-k") {
    import spark.implicits._
    val transcripts = spark.range(0, 30)
      .flatMap(i => TranscriptGen.genConv(42L, i)._1).toDF()
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    val n = 8
    // first run "dies" after 3 of 8 partitions (maxBatches=3, one
    // partition per commit)
    val first = Manifest.runResumable(spark, transcripts, out, mdir, n,
      partitionsPerCommit = 1, maxBatches = 3)
    assert(first == 3)
    val m1 = Manifest.load(spark, mdir)
    assert(m1.filter(col("status") === "done").count() == 3)
    // resume: exactly the remaining 5, nothing reprocessed
    val second = Manifest.runResumable(spark, transcripts, out, mdir, n)
    assert(second == n - 3)
    // output is complete and exactly-once per (conv_id, turn_idx)
    val result = spark.read.parquet(out)
    assert(result.count() == transcripts.count())
    assert(result.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1).isEmpty)
    // a third run is a no-op
    assert(Manifest.runResumable(spark, transcripts, out, mdir, n) == 0)
    // lineage metrics reconcile with the data
    val m2 = Manifest.load(spark, mdir)
    assert(m2.agg(sum("rows_out")).head.getLong(0) == transcripts.count())
  }

  test("resume is idempotent under partition re-run (overwrite, not append)") {
    import spark.implicits._
    val transcripts = spark.range(0, 10)
      .flatMap(i => TranscriptGen.genConv(42L, i)._1).toDF()
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    Manifest.runResumable(spark, transcripts, out, mdir, 4)
    val count1 = spark.read.parquet(out).count()
    // simulate a lost manifest commit for partition 0: delete its rows
    val m = Manifest.load(spark, mdir).filter(col("partition_id") =!= 0)
    val mdir2 = tmpDir() + "/manifest2"
    m.write.mode(SaveMode.Overwrite).parquet(mdir2)
    // re-run: partition 0 is rewritten in place, count unchanged
    assert(Manifest.runResumable(spark, transcripts, out, mdir2, 4) == 1)
    assert(spark.read.parquet(out).count() == count1)
  }

  private def convs(seed: Long, n: Long) = {
    import spark.implicits._
    spark.range(0, n).flatMap(i => TranscriptGen.genConv(seed, i)._1).toDF()
  }

  private def doneRows(mdir: String) = {
    import spark.implicits._
    Manifest.load(spark, mdir).filter(col("status") === "done")
      .select("partition_id", "rows_in", "rows_out", "ok_rows", "err_rows")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
  }

  test("manifest: the commit leaves the session's partitionOverwriteMode as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try {
      Manifest.runResumable(spark, convs(42L, 5), tmpDir() + "/out",
        tmpDir() + "/manifest", 2)
      assert(spark.conf.get(key) == "STATIC")
    } finally spark.conf.unset(key)
  }

  test("manifest: a started row without its done row makes the resume attempt 2") {
    import spark.implicits._
    val transcripts = convs(42L, 10)
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    Manifest.runResumable(spark, transcripts, out, mdir, 4)
    // what a crash between the two appends of partition 0 leaves: its
    // 'started' row and no 'done' row
    val crashed = tmpDir() + "/manifest2"
    Manifest.load(spark, mdir)
      .filter(!(col("partition_id") === 0 && col("status") === "done"))
      .write.parquet(crashed)
    assert(Manifest.runResumable(spark, transcripts, out, crashed, 4) == 1)
    val m = Manifest.load(spark, crashed)
    assert(m.filter(col("partition_id") === 0).select("status", "attempt")
      .as[(String, Int)].collect().sorted.toSeq ==
      Seq(("done", 2), ("started", 1), ("started", 2)))
    val later = lit(new java.sql.Timestamp(System.currentTimeMillis() + 60000L))
    assert(Manifest.snapshotAsOf(m, later).select("partition_id", "attempt")
      .as[(Int, Int)].collect().toMap == Map(0 -> 2, 1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("manifest: each empty hash partition gets one done row with zero counts") {
    import spark.implicits._
    val transcripts = convs(42L, 3)
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    val n = 8 // more partitions than conversations
    assert(Manifest.runResumable(spark, transcripts, out, mdir, n, partitionsPerCommit = 3) == n)
    val used = transcripts.select(Manifest.partitionId(n)).distinct().as[Int].collect().toSet
    assert(used.size < n)
    val done = doneRows(mdir)
    assert(done.map(_._1).sorted == (0 until n))
    assert(done.filterNot(d => used(d._1)).forall(d => d == ((d._1, 0L, 0L, 0L, 0L))))
    assert(Manifest.runResumable(spark, transcripts, out, mdir, n) == 0)
  }

  test("manifest: every done row has rows_in == rows_out == ok_rows + err_rows") {
    val transcripts = convs(11L, 30)
    val mdir = tmpDir() + "/manifest"
    Manifest.runResumable(spark, transcripts, tmpDir() + "/out", mdir, 6,
      partitionsPerCommit = 4)
    val done = doneRows(mdir)
    assert(done.size == 6 && done.map(_._2).sum == transcripts.count())
    done.foreach { case (p, in, out, ok, err) =>
      assert(in == out && out == ok + err, s"partition $p: $in/$out/$ok/$err")
    }
  }

  test("manifest: a toDF-built manifest is appended to and resumed, lowest pending ids first") {
    import spark.implicits._
    val mdir = tmpDir() + "/manifest"
    val t0 = new java.sql.Timestamp(1767225600000L)
    // the column types the manifest has always had on disk
    Seq((1, "started", 4L, 0L, 0L, 0L, t0, Option.empty[java.sql.Timestamp], 1),
      (1, "done", 4L, 4L, 4L, 0L, t0, Option(t0), 1),
      (4, "done", 2L, 2L, 1L, 1L, t0, Option(t0), 1))
      .toDF("partition_id", "status", "rows_in", "rows_out", "ok_rows", "err_rows",
        "started_ts", "finished_ts", "attempt")
      .write.parquet(mdir)
    val transcripts = convs(5L, 20)
    val out = tmpDir() + "/out"
    val n = 8
    def doneIds = doneRows(mdir).map(_._1).toSet
    // each commit takes the lowest ids that `pending` returns
    val picks = Iterator.continually {
      val want = Manifest.pending(spark, n, Manifest.load(spark, mdir))
        .as[Int].collect().sorted.take(3).toSet
      val before = doneIds
      assert(Manifest.runResumable(spark, transcripts, out, mdir, n,
        partitionsPerCommit = 3, maxBatches = 1) == want.size)
      assert(doneIds -- before == want)
      want
    }.takeWhile(_.nonEmpty).toSeq
    assert(picks == Seq(Set(0, 2, 3), Set(5, 6, 7)))
    val m = Manifest.load(spark, mdir)
    assert(m.schema == Manifest.load(spark, tmpDir() + "/none").schema)
    assert(m.filter(col("status") === "done").count() == n)
  }

  test("manifest: a commit plans no join in its appends and runs fewer jobs") {
    val input = tmpDir() + "/transcripts"
    convs(3L, 40).write.parquet(input)
    val transcripts = spark.read.parquet(input)
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    def commit() = Manifest.runResumable(spark, transcripts, out, mdir, 8,
      partitionsPerCommit = 2, maxBatches = 1)
    commit() // the second commit is the steady state: manifest and output exist
    val r = graft.bench.Profile.run(spark, "commit")(commit().toLong)
    assert(r.rows == 2)
    val appends = r.plans.map(_._2)
      .filter(p => p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(mdir))
    assert(appends.size == 2, r.plans.mkString("\n"))
    assert(appends.forall(!_.contains("Join")), appends.mkString("\n"))
    // with the bookkeeping planned as Spark queries (two manifest
    // queries, a rows_in round trip, two left joins per append) this
    // commit ran 16 jobs
    assert(r.jobs < 16, graft.bench.Profile.report(r))
    info(s"${r.jobs} jobs")
  }

  test("manifest snapshot: latest committed attempt as of ts, intents invisible") {
    import spark.implicits._
    val epochMs = 1767225600000L
    def ts(off: Long) = new java.sql.Timestamp(epochMs + off * 1000L)
    val manifest = Seq(
      (0, "done", 1, Option(ts(0)), 10L, 9L, 1L),
      (0, "done", 2, Option(ts(100)), 12L, 12L, 0L), // later attempt
      (0, "started", 3, Option.empty[java.sql.Timestamp], 0L, 0L, 0L),
      (1, "done", 1, Option(ts(500)), 20L, 20L, 0L), // beyond early cutoffs
      (2, "started", 1, Option.empty[java.sql.Timestamp], 0L, 0L, 0L)
    ).toDF("partition_id", "status", "attempt", "finished_ts",
      "rows_out", "ok_rows", "err_rows")
    def snapAt(off: Long) =
      Manifest.snapshotAsOf(manifest, lit(ts(off)))
        .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(3))).toMap
    // before any commit: empty table state
    assert(Manifest.snapshotAsOf(manifest, lit(ts(-1))).isEmpty)
    // at t=0 only p0@attempt1; the dangling intent for p2 never surfaces
    assert(snapAt(0) == Map(0 -> (1, 10L)))
    // at t=200 the attempt-2 rewrite has superseded attempt 1
    assert(snapAt(200) == Map(0 -> (2, 12L)))
    // at t=1000 the full committed state; p2 (intent only) still absent
    assert(snapAt(1000) == Map(0 -> (2, 12L), 1 -> (1, 20L)))
    // snapshots grow monotonically in the partition dimension
    assert(snapAt(0).keySet.subsetOf(snapAt(200).keySet) &&
      snapAt(200).keySet.subsetOf(snapAt(1000).keySet))
  }

  test("readSnapshot sees exactly the committed partitions (exactly-once read)") {
    import spark.implicits._
    val transcripts = spark.range(0, 20)
      .flatMap(i => TranscriptGen.genConv(7L, i)._1).toDF()
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    // a run that "dies" with 2 of 6 partitions committed
    Manifest.runResumable(spark, transcripts, out, mdir, 6,
      partitionsPerCommit = 1, maxBatches = 2)
    val m = Manifest.load(spark, mdir)
    val now = lit(new java.sql.Timestamp(System.currentTimeMillis() + 60000L))
    val snap = Manifest.readSnapshot(spark, out, m, now)
    val committed = m.filter(col("status") === "done")
      .select("partition_id").distinct().as[Int].collect().toSet
    assert(committed.size == 2)
    assert(snap.select("partition_id").distinct().as[Int].collect().toSet
      == committed)
    // the read reconciles with the manifest's lineage metrics
    assert(snap.count() ==
      m.filter(col("status") === "done").agg(sum("rows_out")).head.getLong(0))
    // time-travel to before the epoch: the table state is empty even
    // though bytes exist on disk — the manifest row IS the commit
    assert(Manifest.readSnapshot(spark, out, m,
      lit(new java.sql.Timestamp(0L))).isEmpty)
  }

  test("hash embedder: native expression == HOF composition == pure-JVM twin") {
    import spark.implicits._
    val texts = Seq("spark merge join table scan", "AT+CFUN=1 set mode.",
      "", "the the the", "one")
    val rows = texts.toDF("text")
      .select(HashEmbedder.embedding(col("text")).as("native"),
        HashEmbedder.embeddingHof(col("text")).as("hof"))
      .collect()
    texts.zip(rows).foreach { case (t, r) =>
      val native = r.getSeq[Double](0).toVector
      val hof = r.getSeq[Double](1).toVector
      assert(native == hof, s"native != hof for '$t'")
      assert(native == HashEmbedder.embed(t).toVector, s"native != twin for '$t'")
    }
  }

  test("cosine: HOF column matches scalar math, zero-norm yields 0.0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(got(1) == 0.0)
    assert(got(2) == 0.0)
  }

  test("lsh search returns a subset of brute-force ranking, same scores") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, HashEmbedder.embed(s"doc $i content ${i % 7}").map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = HashEmbedder.embed("doc 3 content 3")
    val brute = TopK.search(vecs, q, 200).select("vec_id", "score")
      .as[(Long, Double)].collect().toMap
    val lsh = AnnLsh.search(vecs, q, 10).select("vec_id", "score")
      .as[(Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, s) => assert(brute(id) == s) }
  }

  test("ivf search returns a subset of brute-force ranking, same scores") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, HashEmbedder.embed(s"doc $i content ${i % 7}").map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = HashEmbedder.embed("doc 3 content 3")
    val brute = TopK.search(vecs, q, 200).select("vec_id", "score")
      .as[(Long, Double)].collect().toMap
    val ivf = graft.rag.AnnIvf.search(vecs, q, 10).select("vec_id", "score")
      .as[(Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, s) => assert(brute(id) == s) }
    // every vector lands in exactly one of the NCells cells
    val cents = graft.rag.AnnIvf.centroids(vecs)
    val cells = vecs.select(
      graft.rag.AnnIvf.cellCol(col("embedding"), cents)).as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < graft.rag.AnnIvf.NCells))
  }

  test("ivf k-means: deterministic training, exact scores, recall beats first-N centroids") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, HashEmbedder.embed(s"doc $i content ${i % 7}").map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = HashEmbedder.embed("doc 3 content 3")
    val bruteTop = TopK.search(vecs, q, 10).select("vec_id", "score")
      .as[(Long, Double)].collect()
    val bruteAll = TopK.search(vecs, q, 200).select("vec_id", "score")
      .as[(Long, Double)].collect().toMap
    def recall(hits: Array[(Long, Double)]): Double =
      hits.map(_._1).toSet.intersect(bruteTop.map(_._1).toSet).size / 10.0
    val km = graft.rag.AnnIvf.searchKmeans(vecs, q, 10)
      .select("vec_id", "score").as[(Long, Double)].collect()
    km.foreach { case (id, s) => assert(bruteAll(id) == s) } // exact within probe
    val firstN = graft.rag.AnnIvf.search(vecs, q, 10)
      .select("vec_id", "score").as[(Long, Double)].collect()
    assert(recall(km) >= recall(firstN),
      s"kmeans recall ${recall(km)} < first-N recall ${recall(firstN)}")
    assert(recall(km) >= 0.5, s"kmeans recall ${recall(km)}")
    // training is deterministic: same corpus → identical centroids
    val c1 = graft.rag.AnnIvf.kmeansCentroids(vecs)
    val c2 = graft.rag.AnnIvf.kmeansCentroids(vecs)
    assert(c1.map(_.toVector) == c2.map(_.toVector))
  }

  test("driver entry smoke: flagship query yields rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("profile: jobs, stages, task CPU, drained rows and the final plan") {
    val sf = "/root/testdata/sf0.001"
    Seq("list_documents", "ngram_jaccard").foreach { name =>
      val r = graft.bench.Profile.profile(spark, sf, name)
      assert(r.jobs >= 1 && r.stages.nonEmpty && r.total.cpuNs > 0, name)
      assert(r.rows == SparkEntry.queries(name)(spark, sf).count(), name)
      // the listener's plans are the ones AQE finished with
      val printed = graft.bench.Profile.report(r)
      assert(printed.contains("isFinalPlan=true"), printed)
      assert(!printed.contains("isFinalPlan=false"), printed)
    }
    val e = intercept[IllegalArgumentException](
      graft.bench.Profile.profile(spark, sf, "no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("store: appendDedup keeps newest row per chunk_id") {
    import spark.implicits._
    val existing = Seq(("c1", "old"), ("c2", "old")).toDF("chunk_id", "v")
    val batch = Seq(("c2", "new"), ("c3", "new")).toDF("chunk_id", "v")
    val merged = StoreOps.appendDedup(existing, batch)
      .as[(String, String)].collect().toMap
    assert(merged == Map("c1" -> "old", "c2" -> "new", "c3" -> "new"))
  }

  test("multimodal: binary plumbing round-trips deterministically") {
    import spark.implicits._
    val df = Seq((1L, "hello media payload"), (2L, "")).toDF("doc_id", "text")
    val metas = Multimodal.decodeMeta(df).collect().sortBy(_.doc_id)
    assert(metas(0).byte_len == 19)
    assert(metas(0).digest.length == 64)
    assert(metas(0).n_frames == 1)
    assert(metas(0).frame_offsets == Seq(0))
    assert(metas(0).width >= 1 && metas(0).width <= 1021)
    // stable across runs
    val again = Multimodal.decodeMeta(df).collect().sortBy(_.doc_id)
    assert(metas.toSeq == again.toSeq)
  }
}
