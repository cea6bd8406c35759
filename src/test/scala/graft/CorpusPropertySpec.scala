package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.text.Corpus

/** Randomized invariants for the corpus-curation operators, checked
  * against JVM brute force on generated documents. (raw ScalaCheck —
  * scalatestplus is not in the offline cache; trial counts are small
  * because each trial runs Spark jobs)
  */
class CorpusPropertySpec extends AnyFunSuite with SparkSpec {

  private def check(trials: Int)(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), p)
    assert(res.passed, res.status.toString)
  }

  private val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "x1")
  private val line = Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, word))
    .map(_.mkString(" "))
  private val doc = Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, line))
    .map(_.mkString("\n"))

  private def words(s: String): Vector[String] =
    "[A-Za-z0-9]+".r.findAllIn(s).toVector

  test("repetitionStats fractions equal brute force on random docs") {
    import spark.implicits._
    check(6)(Prop.forAll(Gen.listOfN(12, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Corpus.repetitionStats(df, "doc_id", "text")
        .as[(Long, Double, Double, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val lines = t.split("\n", -1).map(_.trim).filter(_.nonEmpty)
        val dupWant =
          if (lines.isEmpty) 0.0
          else (lines.length - lines.distinct.length).toDouble / lines.length
        val grams = words(t).sliding(2).filter(_.size == 2)
          .map(_.mkString(" ")).toVector
        val topWant =
          if (grams.isEmpty) 0.0
          else grams.groupBy(identity).values.map(_.size).max.toDouble / grams.size
        got(i.toLong) == ((dupWant, topWant))
      }
    })
  }

  test("decontaminate: monotone in the benchmark; 1 <= n_hits <= n_grams; frac exact") {
    import spark.implicits._
    check(5)(Prop.forAll(Gen.listOfN(8, doc), Gen.listOfN(2, doc)) {
      (trainTexts, benchTexts) =>
        val train = trainTexts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        def run(bench: Seq[String]) = Corpus.decontaminate(
          train, bench.zipWithIndex.map { case (t, i) => (1000L + i, t) }
            .toDF("doc_id", "text"),
          "doc_id", "text", n = 2)
          .as[(Long, Long, Long, Double)].collect()
        val small = run(benchTexts.take(1)).map(r => r._1 -> r._2).toMap
        val fullRows = run(benchTexts)
        val full = fullRows.map(r => r._1 -> r._2).toMap
        // a larger benchmark can only add hits, never remove them
        small.forall { case (id, hits) => full.getOrElse(id, 0L) >= hits } &&
          fullRows.forall { case (_, hits, grams, frac) =>
            hits >= 1 && hits <= grams &&
              frac == hits.toDouble / grams && frac <= 1.0
          }
    })
  }

  test("stratifiedSample per-group selection equals sampleHash-style thresholding") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "lang")
    val rates = Map("g0" -> 1.0, "g1" -> 0.3, "g2" -> 0.0)
    val got = Corpus.stratifiedSample(docs, "doc_id", "lang", rates)
      .as[(Long, String)].collect().toSet
    // brute force: same shared hash column, same thresholds
    val h = graft.text.TextOps.sampleHash60(col("doc_id"), "strat")
    val hs = docs.select(col("doc_id"), col("lang"), h.as("h"))
      .as[(Long, String, Long)].collect()
    val want = hs.filter { case (_, g, hv) =>
      hv < graft.text.TextOps.hashThreshold60(rates(g))
    }.map(t => (t._1, t._2)).toSet
    assert(got == want)
    assert(got.count(_._2 == "g0") == 100) // rate 1.0 keeps everything
    assert(!got.exists(_._2 == "g2")) // rate 0.0 keeps nothing
  }

  test("normalizeText is idempotent and never grows the text (random messy docs)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // generator mixes the characters normalization exists for:
    // combining marks, CR/LF, C0 controls, tab/space runs
    val messyChar = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.const(" "), 1 -> Gen.const("\t"), 1 -> Gen.const("\r\n"),
      1 -> Gen.const("́"), 1 -> Gen.const(""),
      1 -> Gen.const("é"), 1 -> Gen.const("Å"))
    val messyDoc = Gen.chooseNum(0, 40)
      .flatMap(n => Gen.listOfN(n, messyChar)).map(_.mkString)
    check(6)(Prop.forAll(Gen.listOfN(10, messyDoc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = Corpus.normalizeText(df, "doc_id", "text")
      val onceRows = once.as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._3, r._4))).toMap
      val twice = Corpus.normalizeText(
        once.select(col("doc_id"), col("cleaned").as("text")),
        "doc_id", "text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._3, r._4))).toMap
      // idempotent: a second pass changes nothing; and cleanup never
      // grows the codepoint count (NFC composes or keeps, strips drop)
      onceRows.forall { case (id, (nAfter, cleaned)) =>
        twice(id) == ((nAfter, cleaned)) &&
          nAfter <= texts(id.toInt).codePointCount(0, texts(id.toInt).length)
      }
    })
  }
}
