package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive content hash of a query's output, used to check
  * that every execution of a query returns what its first one did. It
  * canonicalizes like tools/oracle_check.py: columns by name, doubles to
  * 9 significant digits, rows sorted. */
object Check {
  private val nine = new MathContext(9)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else new JBigDecimal(d).round(nine).stripTrailingZeros.toString

  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
      .foreach(line => md.update((line + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
