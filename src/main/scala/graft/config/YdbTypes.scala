package graft.config

import org.apache.spark.sql.types._

/** YDB type-name -> Spark type mapping (SURVEY.md §1.2, exhaustive
  * port of the reference decoder's supported set, YqlQuery.java:89-166)
  * with the reference's STRICT coercion semantics:
  *
  *  - TzDate / TzDatetime / TzTimestamp / DyNumber: hard error at
  *    validation (the reference decoder falls through to an
  *    IOException, YqlQuery.java:155-165) — a schema typo fails the
  *    pipeline at startup instead of silently nulling data;
  *  - Yson: unsupported payload — logged as a warning, every value is
  *    written as the literal `"{}"` (YqlQuery.java:139-141). The
  *    column still types as String;
  *  - Optional<T> unwraps to nullable T (YqlQuery.java:90-97);
  *  - unsigned ints widen to the next signed Spark type, except
  *    Uint64 which the reference itself truncates to signed long
  *    (YqlQuery.java:125-126).
  */
object YdbTypes {

  /** Thrown for the reference's hard-unsupported types. */
  final class UnsupportedYdbType(val ydbType: String)
    extends IllegalArgumentException(
      s"unsupported YDB type: $ydbType (reference hard-errors, " +
        "YqlQuery.java:155-165)")

  private val OptionalRe = """(?i)Optional<(.+)>""".r
  private val DecimalRe = """(?i)Decimal\((\d+)\s*,\s*(\d+)\)""".r

  /** True if values of this declared type are replaced by `"{}"`. */
  def isYson(ydb: String): Boolean =
    stripOptional(ydb).equalsIgnoreCase("Yson")

  private def stripOptional(s: String): String = s.trim match {
    case OptionalRe(inner) => stripOptional(inner)
    case other => other
  }

  /** Map a YDB type name to the Spark type CDC values coerce to.
    * Throws [[UnsupportedYdbType]] for Tz* / DyNumber.
    */
  def toSpark(ydb: String): DataType = stripOptional(ydb) match {
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case t => t.toLowerCase match {
      case "decimal" => DecimalType(22, 9) // YDB default Decimal(22,9)
      case "bool" => BooleanType
      case "int8" => ByteType
      case "int16" => ShortType
      case "int32" => IntegerType
      case "int64" => LongType
      case "uint8" => ShortType // widen: no unsigned Spark native
      case "uint16" => IntegerType
      case "uint32" => LongType
      case "uint64" => LongType // reference truncates to signed long
      case "float" => FloatType
      case "double" => DoubleType
      case "text" | "utf8" => StringType
      case "json" | "jsondocument" => StringType
      case "bytes" | "string" => BinaryType // base64-decoded payload
      case "yson" => StringType // values forced to "{}" (see isYson)
      case "uuid" => StringType
      case "date" => DateType
      case "datetime" => TimestampType // second precision
      case "timestamp" => TimestampType // microsecond precision
      case "interval" => DayTimeIntervalType() // SECONDS in envelope
      case "tzdate" | "tzdatetime" | "tztimestamp" | "dynumber" =>
        throw new UnsupportedYdbType(ydb.trim)
      case other =>
        throw new UnsupportedYdbType(ydb.trim) // unknown = unsupported
    }
  }
}
