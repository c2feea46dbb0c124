package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent result hash, computed on the executors from the same
  * execution that forces every row and column of a query's plan.
  *
  * Canonical form (mirrored by `make_expected.py` so DuckDB results hash
  * identically): columns sorted by name; doubles and decimals rounded to 9
  * decimals half-even (the `round(v, 9)` of the repo's oracle check) and
  * printed plainly without trailing zeros; booleans `true`/`false`; null
  * `\N`; dates as epoch days and timestamps as epoch micros. Each row string
  * is MD5-hashed; the hash is the row count plus the 64-bit wrapping sum of
  * the row hashes' first 8 bytes, so row order cannot matter while
  * duplicate rows still count.
  */
object ResultHash {
  final case class Acc(rows: Long, sum: Long) {
    def +(o: Acc): Acc = Acc(rows + o.rows, sum + o.sum)
  }

  def render(cols: Seq[String], acc: Acc): String =
    f"${cols.sorted.mkString(",")}|${acc.rows}|${acc.sum}%016x"

  /** Hash of an executed plan's rows; `rdd` is `queryExecution.toRdd`. */
  def ofRdd(rdd: RDD[InternalRow], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val types = schema.fields.map(_.dataType)
    val acc = rdd.mapPartitions { rows =>
      val md5 = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        sb.setLength(0)
        var i = 0
        while (i < order.length) {
          if (i > 0) sb.append('\u001f')
          val c = order(i)
          fmt(sb, if (r.isNullAt(c)) null else r.get(c, types(c)), types(c))
          i += 1
        }
        n += 1
        sum += rowHash(md5, sb.toString)
      }
      Iterator.single(Acc(n, sum))
    }.fold(Acc(0, 0))(_ + _)
    render(schema.fieldNames.toSeq, acc)
  }

  /** Hash of driver-side rows (tests, and the cross-check against DuckDB). */
  def ofRows(cols: Seq[String], rows: Seq[Seq[Any]]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val md5 = MessageDigest.getInstance("MD5")
    val acc = rows.foldLeft(Acc(0, 0)) { (a, r) =>
      val s = order.map(i => canon(r(i))).mkString("\u001f")
      a + Acc(1, rowHash(md5, s))
    }
    render(cols, acc)
  }

  private def rowHash(md5: MessageDigest, s: String): Long = {
    val d = md5.digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def canonDouble(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "Infinity" else "-Infinity")
    else canonDecimal(new JBigDecimal(v))

  def canonDecimal(v: JBigDecimal): String = {
    val r = v.setScale(9, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  /** Canonical text of an external (driver-side) value. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case d: JBigDecimal => canonDecimal(d)
    case d: scala.math.BigDecimal => canonDecimal(d.bigDecimal)
    case b: Boolean => b.toString
    case s: Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def fmt(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit =
    (v, t) match {
      case (null, _) => sb.append("\\N")
      case (d: Double, _) => sb.append(canonDouble(d))
      case (f: Float, _) => sb.append(canonDouble(f.toDouble))
      case (d: Decimal, _) => sb.append(canonDecimal(d.toJavaBigDecimal))
      case (a: ArrayData, ArrayType(et, _)) =>
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          fmt(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case (m: MapData, MapType(kt, vt, _)) =>
        val entries = (0 until m.numElements()).map { i =>
          val kb = new java.lang.StringBuilder
          fmt(kb, m.keyArray().get(i, kt), kt)
          val vb = new java.lang.StringBuilder
          fmt(vb, if (m.valueArray().isNullAt(i)) null
            else m.valueArray().get(i, vt), vt)
          kb.toString + ":" + vb.toString
        }.sorted
        sb.append(entries.mkString("{", ",", "}"))
      case (r: InternalRow, st: StructType) =>
        sb.append('(')
        var i = 0
        while (i < st.length) {
          if (i > 0) sb.append(',')
          val ft = st.fields(i).dataType
          fmt(sb, if (r.isNullAt(i)) null else r.get(i, ft), ft)
          i += 1
        }
        sb.append(')')
      case (b: Array[Byte], _) =>
        b.foreach(x => sb.append(f"${x & 0xff}%02x"))
      case (other, _) => sb.append(other.toString)
    }
}
