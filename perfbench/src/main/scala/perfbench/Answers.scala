package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Content checksums of a query answer, one per column, in the canonical
  * text form `derive_expected.py` gives the DuckDB oracle's answer: exact
  * integers and decimals, doubles by their IEEE bits (the oracle rule is
  * byte-identical doubles), timestamps as UTC epoch microseconds, dates as
  * epoch days, struct fields sorted by name. Row order is the answer's own
  * (every catalog query ends in an ORDER BY over a unique key). */
object Answers {

  def columnHashes(schema: StructType, rows: Array[Row]): Map[String, String] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val md = MessageDigest.getInstance("SHA-256")
      rows.foreach { r =>
        md.update(canon(f.dataType, if (r.isNullAt(i)) null else r.get(i))
          .getBytes(StandardCharsets.UTF_8))
        md.update(0x1e.toByte)
      }
      f.name -> md.digest().take(8).map(b => f"$b%02x").mkString
    }.toMap

  private def canon(t: DataType, v: Any): String =
    if (v == null) "\u0000"
    else t match {
      case ByteType | ShortType | IntegerType | LongType => v.toString
      case _: DecimalType =>
        v.asInstanceOf[java.math.BigDecimal].stripTrailingZeros.toPlainString
      case FloatType => dbl(v.asInstanceOf[Float].toDouble)
      case DoubleType => dbl(v.asInstanceOf[Double])
      case BooleanType => v.toString
      case StringType => v.toString
      case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
      case TimestampType | TimestampNTZType => micros(v).toString
      case DateType => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
        case d: java.time.LocalDate => d.toEpochDay.toString
      }
      case ArrayType(et, _) =>
        v.asInstanceOf[scala.collection.Seq[Any]].map(canon(et, _)).mkString("[", ",", "]")
      case st: StructType =>
        val r = v.asInstanceOf[Row]
        st.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) =>
          f.name + ":" + canon(f.dataType, if (r.isNullAt(i)) null else r.get(i))
        }.mkString("{", ",", "}")
      case MapType(kt, vt, _) =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
          .map { case (k, x) => canon(kt, k) + "=" + canon(vt, x) }.sorted
          .mkString("<", ",", ">")
      case other => throw new IllegalArgumentException(s"no canonical form for $other")
    }

  private def dbl(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == 0.0) "0"
    else f"${java.lang.Double.doubleToLongBits(d)}%016x"

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => micros(t.toInstant)
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case l: java.time.LocalDateTime => micros(l.toInstant(java.time.ZoneOffset.UTC))
  }
}
