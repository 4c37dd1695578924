package graftbench

import scala.util.hashing.MurmurHash3

/** Order-insensitive content digest of a multiset of rows.
  *
  * Each row is rendered canonically (so a value reads the same whether it
  * came back from Spark, from a Derby JDBC cursor or from parquet), hashed
  * to 64 bits, and the row hashes are summed modulo 2^64. A sum does not
  * depend on row order or partitioning and still sees a duplicated or
  * dropped row.
  *
  * Floating-point values are rendered with 12 significant digits, so a
  * result whose last bits depend on the order a parallel sum ran in still
  * digests the same on every run. */
final case class Digest(rows: Long, sum: Long) {
  def +(row: Seq[Any]): Digest = Digest(rows + 1, sum + Digest.rowHash(row))
  def hex: String = f"$sum%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def of(rows: IterableOnce[Seq[Any]]): Digest =
    rows.iterator.foldLeft(empty)(_ + _)

  def rowHash(row: Seq[Any]): Long = {
    val s = row.map(render).mkString("\u0001")
    val hi = MurmurHash3.stringHash(s, 0x5bd1e995)
    val lo = MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case b: Byte => b.toLong.toString
    case s: Short => s.toLong.toString
    case i: Int => i.toLong.toString
    case l: Long => l.toString
    case b: java.math.BigDecimal => renderDecimal(b)
    case b: BigDecimal => renderDecimal(b.bigDecimal)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else renderDecimal(new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)))

  private def renderDecimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
}
