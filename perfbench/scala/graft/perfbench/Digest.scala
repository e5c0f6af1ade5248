package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent, rounded digest of a query result: the row count and
  * the wrapping sum of a 64-bit hash of each row's canonical text. Doubles
  * are rounded to seven significant digits, so summation-order noise in
  * the last bits does not change the digest while any real change does.
  * Computing it is a distributed pass that reads every output column, so
  * it also serves as the query's execution sink.
  */
object Digest {

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case b: BigDecimal => canon(b.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def of(rows: Iterator[Row]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + rowHash(r)) }

  def format(d: (Long, Long)): String = f"${d._1}%d:${d._2}%016x"

  def of(df: DataFrame): String =
    format(df.rdd.mapPartitions(it => Iterator(of(it))).collect()
      .foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) })
}
