package graftbench

import org.apache.spark.sql.Row

/** Order-insensitive content digest of a query result, computed the same
  * way by `expected/derive.py` over the DuckDB oracle's result, so the two
  * can be compared without the engine in the loop.
  *
  * Normalization follows the repo's gate: columns sorted by name, rows
  * sorted. Floats are rounded to 8 significant digits (half-even on the
  * exact binary value), which absorbs summation-order noise far below the
  * gate's 1e-9 relative tolerance while still catching any wrong value.
  */
object Digest {
  private val mc = new java.math.MathContext(8, java.math.RoundingMode.HALF_EVEN)

  def float(d: Double): String =
    if (d.isNaN) "fnan"
    else if (d.isInfinite) (if (d > 0) "finf" else "f-inf")
    else {
      val b = new java.math.BigDecimal(d).round(mc).stripTrailingZeros()
      s"f${b.unscaledValue}e${-b.scale}"
    }

  private def micros(epochSecond: Long, nanos: Int): Long = epochSecond * 1000000L + nanos / 1000

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => s"i$x"
    case x: Short => s"i$x"
    case x: Int => s"i$x"
    case x: Long => s"i$x"
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: java.math.BigDecimal => float(x.doubleValue)
    case s: String => "s" + s
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case t: java.sql.Timestamp => "t" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => "t" + micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => "d" + d.toLocalDate
    case d: java.time.LocalDate => "d" + d
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => "?" + other.getClass.getName
  }

  /** (row count, sha-256 hex) of a collected result. */
  def of(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u001f")).sorted
    val text = (order.map(columns).mkString("\u001f") +: lines).mkString("\n")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (rows.size.toLong, md.digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString)
  }
}
