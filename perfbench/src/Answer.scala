package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive hash of a query result, computed the same way by
  * `oracle.py` over DuckDB's answer, so the operators probe can check each key
  * against hashes stored with the benchmark.
  *
  * Columns are taken in name order. Every number (integer, decimal or
  * float) becomes the IEEE-754 bits of its double value, so an exact
  * decimal and a double of the same value agree, as the DuckDB
  * comparison in `tools/selfcheck.py` treats them. Each row hashes on
  * its own; the result hash is the SHA-256 of the sorted row hashes.
  */
object Answer {
  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val rowHashes = rows.map { r =>
      sha(order.map(i => canon(r.get(i))).mkString("|"))
    }.sorted
    sha(rowHashes.mkString)
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  private def num(d: Double): String = {
    val v = if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    f"n${java.lang.Double.doubleToLongBits(v)}%016x"
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case b: Boolean => if (b) "true" else "false"
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case n: java.lang.Number => num(n.doubleValue)
    case s: String => "s" + s.length + ":" + s
    case d: java.sql.Date => "d" + d.toLocalDate.toString
    case d: java.time.LocalDate => "d" + d.toString
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "b" + b.map("%02x".format(_)).mkString
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => "?" + other.toString
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000
}
