package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result fingerprint: row count plus the 64-bit sum
  * of per-row hashes. Columns are taken in name order, as the oracle
  * check compares them (`tools/oracle_check.py`). Doubles are rounded to
  * 9 decimals as that check does, and first to 10 significant digits, so
  * a large sum whose last bits depend on partial-aggregate merge order
  * still hashes the same. */
object Fingerprint {

  /** `rows:hash`, as recorded in `fingerprints.json`. */
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted
    var rows = 0L
    var sum = 0L
    for (row <- df.select(cols.map(c => df.col(s"`$c`")).toIndexedSeq: _*).collect()) {
      val s = canon(row)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      sum += (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      rows += 1
    }
    f"$rows:$sum%016x"
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val sig = new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      val r = sig.setScale(9, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros
      if (r.signum == 0) "0" else r.toPlainString
    }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
