package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result: the row count and the sum
  * (mod 2^64) of a 64-bit hash per row. Columns are taken in name order
  * and doubles rounded to 1e-9, as the repository's DuckDB oracle check
  * canonicalises results. */
object Digest {
  final case class D(rows: Long, hash: Long) {
    override def toString: String = f"$rows%d:$hash%016x"
  }

  def parse(s: String): D = {
    val Array(r, h) = s.split(":")
    D(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  private def round9(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      if (r.signum == 0) "0" else r.bigDecimal.stripTrailingZeros.toPlainString
    }

  /** Canonical text of one cell; map entries are sorted so that map
    * iteration order does not matter. */
  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => round9(d)
    case f: Float => round9(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row, order: Seq[Int]): Long = {
    val s = order.map(i => canon(r.get(i))).mkString("\u0001")
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x2b7e1516)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Combines row hashes; the result does not depend on row order. */
  def combine(rows: Iterator[Long]): D =
    rows.foldLeft(D(0, 0)) { (d, h) => D(d.rows + 1, d.hash + h) }

  def of(df: DataFrame): D = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    df.rdd.mapPartitions(it => Iterator(combine(it.map(rowHash(_, order)))))
      .collect().foldLeft(D(0, 0)) { (a, b) => D(a.rows + b.rows, a.hash + b.hash) }
  }
}
