package perf

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent hash of a result.
  *
  * Each row becomes a canonical string, columns taken in name order, and
  * the rows' 64-bit hashes are summed, so row order never matters.
  * Floating-point values are written with ten significant digits and
  * decimals as doubles, which absorbs last-bit differences between runs
  * and between engines. Arrays keep their order; map entries are sorted.
  */
object Fingerprint {

  final case class Print(rows: Long, hash: String) {
    override def toString: String = s"$rows\t$hash"
  }

  def of(df: DataFrame): Print = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      sum += hash64(order.map(i => canon(r.get(i))).mkString("\u0001"))
      n += 1
    }
    Print(n, f"$sum%016x")
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) | (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))

  def canon(v: Any): String = v match {
    case null                       => "∅"
    case d: Double                  => num(d)
    case f: Float                   => num(f.toDouble)
    case b: java.math.BigDecimal    => num(b.doubleValue)
    case b: BigDecimal              => num(b.toDouble)
    case t: java.sql.Timestamp      => t.toInstant.toString
    case t: java.time.Instant       => t.toString
    case d: java.sql.Date           => d.toLocalDate.toString
    case b: Array[Byte]             => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row                     => r.toSeq.map(canon).mkString("(", ",", ")")
    case other                      => other.toString
  }
}
