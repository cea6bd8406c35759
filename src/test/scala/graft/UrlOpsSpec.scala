package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.UrlOps

/** URL/domain operators: extraction + host lowering, per-domain
  * census, blocklist filtering, and the URL normalization rules the
  * crawl-dedup groups on.
  */
class UrlOpsSpec extends AnyFunSuite with SparkSpec {

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("extractUrls finds URLs in prose and lowercases the host only") {
    val d = df(
      1L -> "intro http://A.Example.COM/Path?q=1 middle https://b.org tail",
      2L -> "no urls here at all")
    val rows = UrlOps.extractUrls(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      (1L, "http://A.Example.COM/Path?q=1", "a.example.com"),
      (1L, "https://b.org", "b.org")))
  }

  test("domainCensus counts distinct docs and total occurrences") {
    val d = df(
      1L -> "x https://s.com/a y https://s.com/b",
      2L -> "z https://s.com/c",
      3L -> "w https://t.net/")
    val m = UrlOps.domainCensus(d, "doc_id", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m == Map("s.com" -> ((2L, 3L)), "t.net" -> ((1L, 1L))))
  }

  test("filterBlockedDomains drops mentioning docs, keeps URL-free docs") {
    import spark.implicits._
    val d = df(
      1L -> "clean doc without links",
      2L -> "bad https://evil.example/x link",
      3L -> "fine https://good.example/y link",
      4L -> "mixed https://good.example/z then https://evil.example/w")
    val blocked = Seq("evil.example").toDF("host")
    val kept = UrlOps.filterBlockedDomains(d, "doc_id", "text", blocked)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("URL normalization: fragment, default ports, case, lone slash, query") {
    import spark.implicits._
    val cases = Seq(
      "http://Host.COM:80/page#frag" -> "http://host.com/page",
      "https://host.com:443/page" -> "https://host.com/page",
      "http://host.com:8080/page" -> "http://host.com:8080/page",
      "http://HOST.com/" -> "http://host.com",
      "http://host.com" -> "http://host.com",
      "http://host.com/Path/IsCaseSensitive" -> "http://host.com/Path/IsCaseSensitive",
      "https://host.com/p?a=1&b=2#x" -> "https://host.com/p?a=1&b=2",
      "https://host.com:443" -> "https://host.com")
    val got = cases.map(_._1).toDF("url")
      .select(UrlOps.normalizedUrlCol(col("url"))).as[String].collect()
    assert(got.toSeq == cases.map(_._2))
  }

  test("dedupByUrl keeps the minimum id per normalized URL") {
    import spark.implicits._
    val pages = Seq(
      (10L, "http://a.com:80/x"),
      (11L, "http://A.COM/x#f"),
      (12L, "http://a.com/x"),
      (13L, "http://a.com/y")).toDF("doc_id", "url")
    val m = UrlOps.dedupByUrl(pages, "doc_id", "url").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m == Map(
      "http://a.com/x" -> ((10L, 3L)),
      "http://a.com/y" -> ((13L, 1L))))
  }
}
