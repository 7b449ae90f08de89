package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.HexFormat

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent digest of a query result, computed the same way by
  * `oracle.py` over DuckDB's rows, so the two engines can be compared by
  * digest alone.
  *
  * Columns are taken in name order. Each cell is rendered canonically:
  * integers in decimal; floats, doubles and decimals rounded half-even to 9
  * significant digits (two engines may sum in different orders, or convert
  * a decimal to double one ulp apart); timestamps as UTC
  * `yyyy-MM-dd HH:mm:ss.SSSSSS`; arrays and structs as bracketed lists;
  * null as `NULL`. Each row string is hashed with
  * SHA-256, the row hashes are sorted, and the digest is SHA-256 over the
  * column names and the sorted row hashes.
  */
object Digest {
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val rowHashes = rows.map { r =>
      sha(order.map { case (_, i) => cell(r.get(i), schema(i).dataType) }.mkString("\u0001"))
    }.sorted
    sha((order.map(_._1).mkString(",") +: rowHashes).mkString("\n"))
  }

  private val hex = HexFormat.of()

  def sha(s: String): String =
    hex.formatHex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  private val Significant = new MathContext(9, RoundingMode.HALF_EVEN)

  def real(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else exact(new JBigDecimal(d))

  /** `<unscaled>E<exponent>` of the value rounded to 9 significant digits. */
  def exact(d: JBigDecimal): String =
    if (d.signum == 0) "0E0"
    else {
      val r = d.round(Significant).stripTrailingZeros
      s"${r.unscaledValue}E${-r.scale}"
    }

  def cell(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "NULL"
    case (f: Float, _) => real(f.toDouble)
    case (d: Double, _) => real(d)
    case (d: JBigDecimal, _) => exact(d)
    case (d: scala.math.BigDecimal, _) => exact(d.bigDecimal)
    case (ts: java.sql.Timestamp, _) => utc(ts.toInstant)
    case (i: Instant, _) => utc(i)
    case (l: LocalDateTime, _) => l.format(TsFormat)
    case (d: java.sql.Date, _) => d.toLocalDate.toString
    case (d: LocalDate, _) => d.toString
    case (b: Array[Byte], _) => hex.formatHex(b)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(cell(_, et)).mkString("[", ",", "]")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => cell(r.get(i), st(i).dataType)).mkString("{", ",", "}")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, x) => cell(k, kt) + ":" + cell(x, vt) }.toSeq.sorted
        .mkString("{", ",", "}")
    case (other, _) => other.toString
  }

  private def utc(i: Instant): String =
    LocalDateTime.ofInstant(i, ZoneOffset.UTC).format(TsFormat)
}
