package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.rag.Bm25

/** BM25 retrieval: ranking sanity (tf saturation, idf down-weighting,
  * length normalization), determinism of the fixed-order combine, and
  * the match-only result contract.
  */
class Bm25Spec extends AnyFunSuite with SparkSpec {

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def ranked(d: DataFrame, q: Seq[String], k: Int = 10): Seq[Long] =
    Bm25.search(d, "doc_id", "text", q, k).collect().map(_.getLong(0)).toSeq

  test("docs matching more query terms outrank single-term docs") {
    val d = df(
      1L -> "alpha beta gamma delta",
      2L -> "alpha epsilon zeta eta",
      3L -> "theta iota kappa lambda")
    val r = ranked(d, Seq("alpha", "beta"))
    assert(r == Seq(1L, 2L)) // doc 3 matches nothing and is absent
  }

  test("rare terms outweigh common ones (idf)") {
    // 'common' is in every doc, 'rare' in one: a doc matching only
    // 'rare' must outrank docs matching only 'common'
    val d = df(
      1L -> "common rare filler words here",
      2L -> "common other filler words here",
      3L -> "common more filler words here")
    val r = ranked(d, Seq("common", "rare"))
    assert(r.head == 1L)
  }

  test("shorter docs outrank longer ones at equal tf (length norm)") {
    val d = df(
      1L -> "needle plus a very long tail of many extra words diluting it",
      2L -> "needle short doc")
    val r = ranked(d, Seq("needle"))
    assert(r == Seq(2L, 1L))
  }

  test("case-insensitive matching, uppercase query accepted") {
    val d = df(1L -> "Needle IN a haystack", 2L -> "nothing relevant")
    assert(ranked(d, Seq("NEEDLE")) == Seq(1L))
  }

  test("scores are bit-identical across partition layouts") {
    val d = df((1L to 40L).map(i =>
      i -> s"term$i hash ${if (i % 2 == 0) "join join" else "vector"} filler"): _*)
    val a = Bm25.search(d, "doc_id", "text", Seq("hash", "join", "vector"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Bm25.search(d.repartition(7), "doc_id", "text",
        Seq("hash", "join", "vector"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("duplicate query terms are rejected") {
    val d = df(1L -> "a b c")
    intercept[IllegalArgumentException] {
      Bm25.search(d, "doc_id", "text", Seq("a", "A"))
    }
  }

  // ---- RRF fusion ----

  private def list(rows: (Long, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "score")
  }

  test("rrfFuse: exact scores, both-list ids first, n_lists counts") {
    val lex = list(1L -> 0.9, 2L -> 0.8)
    val vec = list(2L -> 0.7, 3L -> 0.6)
    val out = graft.rag.Hybrid.rrfFuse(lex, vec, "doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (2L, 1.0 / 61 + 1.0 / 62, 2L), // rank 2 lexically, rank 1 vector
      (1L, 1.0 / 61, 1L),
      (3L, 1.0 / 62, 1L)))
  }

  test("rrfFuse ranks break score ties by id, layout-invariantly") {
    val lex = list(5L -> 0.5, 4L -> 0.5, 3L -> 0.5)
    val vec = list(9L -> 0.5)
    val a = graft.rag.Hybrid.rrfFuse(lex, vec, "doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.rag.Hybrid.rrfFuse(lex.repartition(5), vec, "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    // lex ranks break the 0.5 tie by id (3,4,5 -> ranks 1,2,3); the
    // 1/61 rrf tie between ids 3 and 9 breaks by id in the fusion
    assert(a.map(_._1) == Seq(3L, 9L, 4L, 5L))
  }
}
