package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order statistics over op latencies. */
object Stats {

  /** Nearest-rank percentile (p in 0..100) of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val k = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(math.min(k, s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail the sample supports: the highest whole percentile in
    * 50..99 whose nearest-rank value leaves at least `minBeyond`
    * samples strictly after it in sorted order. Returns (percentile,
    * value, samples beyond). A sample too small for any such
    * percentile reports its median, as p50, with however many samples
    * lie beyond the middle.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Int, Double, Int) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.length
    def beyond(p: Int) = n - math.max(1, math.ceil(p / 100.0 * n).toInt)
    (99 to 50 by -1).find(beyond(_) >= minBeyond) match {
      case Some(p) => (p, percentile(xs, p), beyond(p))
      case None => (50, median(xs), beyond(50))
    }
  }
}

/** Order-independent content digest of a DataFrame: the row count plus
  * the exact sum of per-row xxhash64 values. The sum is taken as a
  * DECIMAL(38,0) because Spark's ANSI mode raises on a LONG sum that
  * overflows, and a wrapping sum is not available; 38 digits hold the
  * sum of 2^64 hashes of magnitude at most 2^63.
  */
final case class Digest(rows: Long, hashSum: BigInt) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hashSum + o.hashSum)
}

object Digest {
  val Zero: Digest = Digest(0L, BigInt(0))

  /** Reference combine over already-computed row hashes. */
  def combine(hashes: Iterator[Long]): Digest =
    hashes.foldLeft(Zero)((d, h) => Digest(d.rows + 1, d.hashSum + h))

  def rowHash(cols: Seq[String]): Column = xxhash64(cols.map(col): _*)

  /** Exact sum of LONG values, safe from ANSI overflow errors. */
  def exactSum(c: Column): Column = sum(c.cast("decimal(38,0)"))

  /** Digest per key (e.g. partition_id), computed by one aggregate. */
  def byKey(df: DataFrame, key: Column, cols: Seq[String]): Map[Int, Digest] =
    df.groupBy(key.as("k"))
      .agg(count(lit(1)).as("n"),
        exactSum(rowHash(cols)).as("s"))
      .collect()
      .map(r => r.getInt(0) -> Digest(r.getLong(1), BigInt(r.getDecimal(2).toBigInteger)))
      .toMap

  def total(byKey: Map[Int, Digest]): Digest = byKey.values.foldLeft(Zero)(_ + _)
}
