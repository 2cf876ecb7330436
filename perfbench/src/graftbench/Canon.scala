package graftbench

import org.apache.spark.sql.Row

/** Canonical form of a query result: columns sorted by name, each row
  * rendered as one line of typed, exact values (doubles as their IEEE-754
  * bits), lines sorted, and the whole hashed with SHA-256. Two engines
  * agree on a result exactly when their digests are equal — the same rule
  * as `scripts/oracle_check.py`, in a form that can be committed as a
  * golden value. The benchmark digests its own results here, and
  * `OracleSql` digests DuckDB's, read back from Parquet.
  */
object Canon {

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case s: String => "s" + s
    case d: java.math.BigDecimal => "m" + d.toPlainString
    case d: scala.math.BigDecimal => "m" + d.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate
    case d: java.time.LocalDate => "D" + d
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "dNaN" else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  /** Sorted canonical lines, columns in name order. */
  def lines(cols: Seq[String], rows: Array[Row]): Array[String] = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
  }

  def digest(cols: Seq[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.sorted.mkString("\u0001").getBytes("UTF-8"))
    lines(cols, rows).foreach { l =>
      md.update("\n".getBytes("UTF-8"))
      md.update(l.getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
