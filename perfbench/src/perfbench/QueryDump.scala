package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Query results as typed JSON for the DuckDB oracle comparison in
  * run.py. Floating values travel as the bits of their double value, so
  * the comparison is exact; timestamps as microseconds since the epoch.
  */
object QueryDump {
  private val EpochDay = java.time.LocalDate.of(1970, 1, 1)

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => s"""["d",${java.lang.Double.doubleToLongBits(f.toDouble)}]"""
    case d: Double => s"""["d",${java.lang.Double.doubleToLongBits(d)}]"""
    case s: String => Json.str(s)
    case d: java.math.BigDecimal => s"""["dec",${Json.str(d.toPlainString)}]"""
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case t: java.sql.Timestamp => value(t.toInstant)
    case t: java.time.Instant =>
      s"""["ts",${t.getEpochSecond * 1000000L + t.getNano / 1000}]"""
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => value(d.toLocalDate)
    case d: java.time.LocalDate => s"""["date",${d.toEpochDay - EpochDay.toEpochDay}]"""
    case b: Array[Byte] => s"""["bin",${Json.str(b.map("%02x".format(_)).mkString)}]"""
    case r: Row => r.toSeq.map(value).mkString("""["struct",[""", ",", "]]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${value(k)},${value(x)}]" }
        .mkString("""["map",[""", ",", "]]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("""["list",[""", ",", "]]")
    case other => throw new IllegalArgumentException(s"no JSON form for ${other.getClass}")
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("[", ",", "]")

  def toJson(schema: StructType, rows: Array[Row]): String =
    s"""{"columns":${schema.fieldNames.map(Json.str).mkString("[", ",", "]")},""" +
      s""""rows":[${rows.map(row).mkString(",\n")}]}"""

  /** Order-independent fingerprint of a result. */
  def fingerprint(schema: StructType, rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.map(row), schema.fieldNames.mkString(",").hashCode)
}
