package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each canonical row. Canonical form follows
  * `tools/check_oracle.py`: columns sorted by name, values rendered exactly
  * (a double by its IEEE bits, a decimal by its plain string, a timestamp by
  * its microseconds), nulls distinct from every value. Row order and
  * partitioning do not change the digest; any changed, added or lost row
  * does. */
object Digest {

  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows\t$hash"
  }

  def of(df: DataFrame): Value = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
    Value(rows.length.toLong, f"${rows.iterator.map(r => hash64(render(r))).sum}%016x")
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(f.toDouble))
    case b: java.math.BigDecimal => "n" + b.toPlainString
    case b: BigDecimal => "n" + b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => "t" + (t.getTime / 1000 * 1000000 + t.getNanos / 1000 % 1000000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000 + t.getNano / 1000)
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "\u0002" + render(x) }.sorted.mkString("{", "\u0001", "}")
    case a: Array[Byte] => "b" + a.map(x => f"$x%02x").mkString
    case x: Number => "n" + x.toString
    case x => "s" + x.toString
  }

  /** First 8 bytes of the row's MD5, as a signed long. */
  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md).getLong
  }

  /** `name<TAB>rows<TAB>hash` lines, as committed beside the benchmark. */
  def load(file: java.io.File): Map[String, Value] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, r, h) = l.split('\t')
      n -> Value(r.toLong, h)
    }.toMap finally src.close()
  }
}
