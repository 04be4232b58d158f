package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a collected result: the row count and
  * a wrapping 64-bit sum of per-row hashes. Columns are taken in name
  * order, floating-point values at 9 significant digits (results are
  * certified to 1e-9 absolute), map entries in key order. The fold is
  * plain Scala arithmetic, which wraps where an ANSI `sum` would throw. */
object Checksum {

  def of(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var acc = 0L
    rows.foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
      acc += h
    }
    (rows.length.toLong, f"$acc%016x")
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toString

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case v: org.apache.spark.ml.linalg.Vector => v.toArray.map(num).mkString("<", ",", ">")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
