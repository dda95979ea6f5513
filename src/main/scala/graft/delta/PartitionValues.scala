package graft.delta

import java.sql.{Date, Timestamp}
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Partition-value string (de)serialization per the Delta protocol
  * (reference: kernel/src/partition/serialization.rs:80 and the
  * MapToStruct empty-string rule, kernel/src/expressions/mod.rs:643-668:
  * empty string parses to NULL for every type except string/binary;
  * rightmost duplicate key wins).
  */
object PartitionValues {

  /** Partition values encoded in the `key=value` directory segments of
    * a hive-style relative file path (the file name itself is
    * skipped): each segment is URI-decoded ('+' stays literal), then
    * hive-unescaped (%XX only); `__HIVE_DEFAULT_PARTITION__` is null.
    */
  def fromHivePath(relPath: String): Map[String, String] =
    relPath.split('/').dropRight(1)
      .map(s => try java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
        catch { case _: IllegalArgumentException => s })
      .filter(_.contains('='))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
              else unescapePathName(v))
      }.toMap

  private def unescapePathName(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          b.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => b.append(c); i += 1 }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Scala value → partition string (None = null). */
  def serialize(v: Any, dt: DataType): String = v match {
    case null => null
    case _ => dt match {
      case StringType => v.toString
      case DateType => v match {
        case d: Date => d.toString
        case d: LocalDate => d.toString
        case i: java.lang.Integer => LocalDate.ofEpochDay(i.longValue).toString
      }
      case TimestampType | TimestampNTZType => v match {
        case t: Timestamp =>
          t.toLocalDateTime.format(tsFmt)
        case i: Instant =>
          LocalDateTime.ofInstant(i, ZoneOffset.UTC).format(tsFmt)
        case l: LocalDateTime => l.format(tsFmt)
        case l: java.lang.Long => // micros since epoch
          LocalDateTime.ofInstant(
            Instant.ofEpochSecond(
              Math.floorDiv(l, 1000000L),
              Math.floorMod(l, 1000000L) * 1000L),
            ZoneOffset.UTC).format(tsFmt)
      }
      case _: DecimalType => v match {
        case d: java.math.BigDecimal => d.toPlainString
        case d: BigDecimal => d.bigDecimal.toPlainString
        case o => o.toString
      }
      case BinaryType => new String(v.asInstanceOf[Array[Byte]], "UTF-8")
      case _ => v.toString // integral, float, boolean
    }
  }

  /** Log rows whose `add.partitionValues` equal one of `touched` on the
    * physical partition columns `physCols`, exactly and null-safely. One
    * IN over a canonical key per row — each value as `<chars>:<value>`,
    * a null as `-`, comma-joined, so no two value lists share a key — so
    * the predicate's depth does not grow with the number of values.
    */
  def scope(physCols: Seq[String],
      touched: Set[Map[String, String]]): Column = {
    def key(vs: Seq[Option[String]]): String = vs.map(_.fold("-")(v =>
      s"${v.codePointCount(0, v.length)}:$v")).mkString(",")
    concat_ws(",", physCols.map { c =>
      val v = col("add.partitionValues")(c)
      coalesce(concat(length(v).cast("string"), lit(":"), v), lit("-"))
    }: _*).isin(touched.toSeq.map(pv =>
      key(physCols.map(c => Option(pv.getOrElse(c, null))))): _*)
  }

  /** SQL expression string that casts partition-string map entries to the
    * typed column, with the protocol empty-string→NULL rule. `mapExpr` is
    * a SQL expression yielding MAP<STRING,STRING>.
    */
  def castExpr(mapExpr: String, name: String, dt: DataType): Column = {
    val raw = s"element_at($mapExpr, '${name.replace("'", "''")}')"
    val guarded = dt match {
      case StringType | BinaryType => raw
      case _ => s"nullif($raw, '')"
    }
    val castSql = dt match {
      case TimestampType | TimestampNTZType =>
        // partition timestamps use 'yyyy-MM-dd HH:mm:ss[.ffffff]'
        s"cast($guarded as ${dt.sql})"
      case _ => s"cast($guarded as ${dt.sql})"
    }
    expr(castSql)
  }

  private def parseTimestamp(s: String): Timestamp =
    if (s.contains('T'))
      Timestamp.from(
        if (s.endsWith("Z") || s.contains("+")) Instant.parse(s)
        else LocalDateTime.parse(s).toInstant(ZoneOffset.UTC))
    else Timestamp.valueOf(s)

  /** Parse a partition string back to a Scala value (driver-side, for
    * partition pruning / tests). Mirrors castExpr.
    */
  def parse(s: String, dt: DataType): Any = {
    if (s == null) return null
    dt match {
      case StringType => s
      case BinaryType => s.getBytes("UTF-8")
      case _ if s.isEmpty => null
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case DateType => Date.valueOf(s)
      case _: DecimalType => new java.math.BigDecimal(s)
      // writers serialize timestamp partition values either as
      // 'yyyy-MM-dd HH:mm:ss[.ffffff]' (the protocol form) or as
      // ISO-8601 'yyyy-MM-ddTHH:mm:ss.ffffffZ' — accept both
      case TimestampType => parseTimestamp(s)
      // NTZ values must surface as LocalDateTime — the Catalyst
      // converter for TIMESTAMP_NTZ rejects java.sql.Timestamp
      case TimestampNTZType => parseTimestamp(s).toLocalDateTime
      case other =>
        throw new IllegalArgumentException(
          s"unsupported partition type $other")
    }
  }
}
