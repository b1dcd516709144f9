package perfbench

import org.apache.spark.sql.Row

/** Output fingerprint of a query result: row count plus an
  * order-independent 64-bit hash (the wrapping sum of per-row hashes,
  * so row order does not matter but row multiplicity does). Each row is
  * hashed from a canonical text form of its values, so binary columns,
  * arrays, maps and nested rows hash by content. */
object Fingerprint {
  def of(rows: Iterable[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    f"$n:$sum%016x"
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed1)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed2)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "␀"
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
