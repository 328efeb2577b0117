package perfbench

import org.apache.spark.sql.Row

/** Result canonicalisation for output checks. */
object Checks {
  /** A JSON-ready cell: numbers stay numbers, everything else is text. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case f: Float => f.toDouble
    case n: java.lang.Number => n
    case b: Boolean => b
    case s: scala.collection.Seq[_] => s.map(cell)
    case other => other.toString
  }

  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq.map(cell))

  /** Hash of the rows with doubles at 12 significant digits, so a
    * last-bit difference in a float sum does not count as a new result.
    */
  def hash(rs: Array[Row]): String = {
    val sb = new StringBuilder
    rs.foreach { r =>
      r.toSeq.foreach { v =>
        cell(v) match {
          case d: Double => sb.append(f"$d%.12g")
          case x => sb.append(String.valueOf(x))
        }
        sb.append('\u0001')
      }
      sb.append('\n')
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sb.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private val P = 1000000007L
  private val K = 2654435761L

  /** Order-independent checksum term of one (key, version) pair: the
    * expected-state model sums it in Scala, the checks in SQL as
    * `pmod(c_custkey * 2654435761 + ver, 1000000007)`.
    */
  def term(key: Long, ver: Long): Long =
    java.lang.Math.floorMod(key * K + ver, P)
}
