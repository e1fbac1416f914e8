package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent digest of a result: the row count plus the sum,
  * modulo 2^64, of a 64-bit hash of each row's canonical text. Summing
  * (not xor-ing) keeps duplicate rows visible; the sum ignores row
  * order, so any partitioning of the same multiset digests the same.
  */
object Digest {

  def of(rows: Iterable[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    f"$n:$sum%016x"
  }

  def rowHash(r: Row): Long = {
    val s = canonical(r)
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) | (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  }

  /** Type-tagged text of a value; doubles keep all their digits. */
  def canonical(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(canonical).mkString("(", "\u0001", ")")
    case t: java.sql.Timestamp => s"t${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case t: java.time.Instant => s"t${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime => s"n$t"
    case d: Double => s"d${java.lang.Double.toString(d)}"
    case f: Float => s"f${java.lang.Float.toString(f)}"
    case b: java.math.BigDecimal => s"m${b.stripTrailingZeros.toPlainString}"
    case b: scala.math.BigDecimal => canonical(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("b", "", "")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", "\u0001", "]")
    case s: String => s"s$s"
    case other => s"${other.getClass.getSimpleName.head}$other"
  }
}
