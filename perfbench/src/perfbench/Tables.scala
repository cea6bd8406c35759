package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables for the query suite, in the schema and value domains
  * of the tables SparkEntry's queries are written against (a TPC-H-like
  * star schema, an events stream, a document corpus and an embedding
  * table), at the 0.01 scale: 60,000 line items, 500 documents.
  * Timestamps are written as TIMESTAMP_NTZ, which parquet stores as
  * timestamps not adjusted to UTC, as the DuckDB oracle expects.
  */
object Tables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Words = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Vector("de", "es", "fr", "zh")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Types = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Vector("blue", "cold", "hot", "new", "red", "small", "green", "old")
  private val Nouns = Vector("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val Dim = 64

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round(r.nextDouble(lo, hi) * 100) / 100.0

  private def day(base: LocalDateTime, r: SplittableRandom, span: Int): LocalDateTime =
    base.plusDays(r.nextInt(span).toLong)

  private def pick[T](r: SplittableRandom, v: Vector[T]): T = v(r.nextInt(v.length))

  private def schema(ddl: String): StructType = StructType.fromDDL(ddl)

  /** (schema, rows) of every table for `seed`. */
  def build(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    def rng(salt: Int) = new SplittableRandom(seed * 1000003L + salt)
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = { val r = rng(1); (0L until 1500L).map(i =>
      Row(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99), pick(r, Segments))) }
    val supplier = { val r = rng(2); (0L until 100L).map(i =>
      Row(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))) }
    val part = { val r = rng(3); (0L until 2000L).map(i =>
      Row(i, s"${pick(r, Adjectives)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, Types), 1 + r.nextInt(50), math.round(9000 + i % 1000) / 10.0)) }
    val orders = { val r = rng(4); (0L until 15000L).map(i =>
      Row(i, r.nextLong(1500L), pick(r, Vector("F", "O", "P")), money(r, 1000, 500000),
        day(d1995, r, 2404), pick(r, Priorities))) }
    val lineitem = { val r = rng(5); (0 until 60000).map { _ =>
      val q = (1 + r.nextInt(50)).toDouble
      Row(r.nextLong(15000L), r.nextLong(2000L), r.nextLong(100L), 1 + r.nextInt(7), q,
        money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, Vector("A", "N", "R")), pick(r, Vector("F", "O")),
        day(d1995.plusDays(1), r, 2500))
    } }
    val events = { val r = rng(6); var t = LocalDateTime.of(2024, 1, 1, 0, 0)
      (0L until 10000L).map { i =>
        // exponential inter-arrival times averaging ~259 s: 30 days of events
        t = t.plusNanos((-math.log(1 - r.nextDouble()) * 259e9).toLong / 1000 * 1000)
        Row(i, t, r.nextLong(150L), pick(r, EventTypes),
          math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      } }
    val documents = { val r = rng(7)
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0L until 500L).map { i =>
        // ~5% near-duplicates (an earlier text plus a marker word) and a
        // few exact duplicates, so the dedup operators have work to do
        val text =
          if (i > 10 && r.nextInt(100) < 5) texts(r.nextInt(texts.size)) + " dup"
          else if (i > 10 && r.nextInt(1000) < 3) texts(r.nextInt(texts.size))
          else Seq.fill(8 + r.nextInt(90))(pick(r, Words)).mkString(" ")
        texts += text
        Row(i, text, if (r.nextInt(100) < 41) "en" else pick(r, Langs), s"src${i % 20}",
          text.length.toLong)
      } }
    val embeddings = { val r = rng(8)
      val centers = Vector.fill(10)(Array.fill(Dim)(r.nextDouble(-1, 1)))
      (0L until 500L).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(c => c + r.nextDouble(-0.8, 0.8))
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i, v.map(x => (x / n).toFloat).toSeq, label)
      } }

    Seq(
      ("region", schema("r_regionkey int, r_name string"), region),
      ("nation", schema("n_nationkey int, n_name string, n_regionkey int"), nation),
      ("customer", schema("c_custkey long, c_name string, c_nationkey int, " +
        "c_acctbal double, c_mktsegment string"), customer),
      ("supplier", schema("s_suppkey long, s_name string, s_nationkey int, s_acctbal double"),
        supplier),
      ("part", schema("p_partkey long, p_name string, p_brand string, p_type string, " +
        "p_size int, p_retailprice double"), part),
      ("orders", schema("o_orderkey long, o_custkey long, o_orderstatus string, " +
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"), orders),
      ("lineitem", schema("l_orderkey long, l_partkey long, l_suppkey long, " +
        "l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, " +
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"),
        lineitem),
      ("events", schema("event_id long, ts timestamp_ntz, user_id long, event_type string, " +
        "value double, props string"), events),
      ("documents", schema("doc_id long, text string, lang string, source string, " +
        "n_chars long"), documents),
      ("embeddings", schema("vec_id long, embedding array<float>, label int"), embeddings))
  }

  /** Writes every table as `<dir>/<name>.parquet`, one file each. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit =
    build(seed).foreach { case (name, sch, rows) =>
      spark.createDataFrame(rows.asJava, sch).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
