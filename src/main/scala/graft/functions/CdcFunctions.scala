package graft.functions

import java.text.SimpleDateFormat
import java.util.TimeZone

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity wrappers for the reference's scalar function library
  * (runtime/functions/SystemFunctionUtils.java, 1,097 LoC; semantics doc
  * docs/content/docs/core-concept/transform.md:113-240).
  *
  * Most functions map 1:1 to codegen'd Spark natives (SURVEY.md §2.4); the
  * wrappers below cover the places where semantics genuinely differ:
  *   - `=` returns FALSE (not NULL) on NULL input (SystemFunctionUtils.valueEquals:752)
  *   - DATE_FORMAT et al. use the Java SimpleDateFormat dialect (:103-119)
  *   - TIMESTAMP_DIFF truncates month/year by calendar fields (:145-241)
  *
  * Scale note: only the format-dialect functions are JVM UDFs (they run
  * per-row but allocate nothing hot); every other function resolves to a
  * native Catalyst expression inside WholeStageCodegen.
  */
object CdcFunctions {

  /** Reference `=`: null-safe, NULL operands compare as not-equal (FALSE, not NULL). */
  def cdcEquals(a: Column, b: Column): Column = coalesce(a === b, lit(false))

  /** Reference `<>` under the same null regime. */
  def cdcNotEquals(a: Column, b: Column): Column = coalesce(a =!= b, lit(false))

  private def formatter(pattern: String, tz: String): SimpleDateFormat = {
    val f = new SimpleDateFormat(pattern)
    f.setTimeZone(TimeZone.getTimeZone(tz))
    f
  }

  /** Calendar-field diff like SystemFunctionUtils.timestampDiff:145-241:
    * sub-day units are millis division; MONTH/YEAR are calendar diffs
    * truncated toward zero.
    */
  def timestampDiff(unit: String, from: java.sql.Timestamp, to: java.sql.Timestamp, tz: String): Long = {
    val millis = to.getTime - from.getTime
    unit.toUpperCase match {
      case "SECOND" => millis / 1000L
      case "MINUTE" => millis / 60000L
      case "HOUR"   => millis / 3600000L
      case "DAY"    => millis / 86400000L
      case "MONTH" | "YEAR" =>
        val zone = java.time.ZoneId.of(tz)
        val f = from.toInstant.atZone(zone)
        val t = to.toInstant.atZone(zone)
        val months = java.time.temporal.ChronoUnit.MONTHS.between(f, t)
        if (unit.equalsIgnoreCase("MONTH")) months else months / 12
      case other => throw new IllegalArgumentException(s"unit: $other")
    }
  }

  private def parity(name: String, arity: Int, t: DataType)(f: String => AnyRef) = (name, arity, t, f)

  /** The parity functions by SQL name: (name, arity, return type, body for
    * a zone id). [[FunctionCatalog]] binds the zone to the session's when a
    * call is analyzed: the pipeline's `local-time-zone`, which `graft.Cli`
    * builds the session in (the reference binds it per pipeline config,
    * JaninoCompiler.java:82-83).
    */
  private[functions] val zoned: Seq[(String, Int, DataType, String => AnyRef)] = Seq(
    parity("CDC_DATE_FORMAT", 2, StringType)(tz => (ts: java.sql.Timestamp, fmt: String) =>
      if (ts == null || fmt == null) null else formatter(fmt, tz).format(ts)),

    parity("CDC_TO_TIMESTAMP", 2, TimestampType)(tz => (s: String, fmt: String) =>
      if (s == null) null
      else new java.sql.Timestamp(formatter(if (fmt == null) "yyyy-MM-dd HH:mm:ss" else fmt, tz).parse(s).getTime)),

    parity("CDC_TO_DATE", 2, DateType)(tz => (s: String, fmt: String) =>
      if (s == null) null
      else new java.sql.Date(formatter(if (fmt == null) "yyyy-MM-dd" else fmt, tz).parse(s).getTime)),

    parity("CDC_TIMESTAMP_DIFF", 3, LongType)(tz =>
      (unit: String, from: java.sql.Timestamp, to: java.sql.Timestamp) =>
        if (from == null || to == null) null else Long.box(timestampDiff(unit, from, to, tz))),

    parity("CDC_UNIX_TIMESTAMP", 2, LongType)(tz => (s: String, fmt: String) =>
      if (s == null) null
      else Long.box(formatter(if (fmt == null) "yyyy-MM-dd HH:mm:ss" else fmt, tz).parse(s).getTime / 1000L)),

    parity("CDC_FROM_UNIXTIME", 2, StringType)(tz => (epochSec: java.lang.Long, fmt: String) =>
      if (epochSec == null) null
      else formatter(if (fmt == null) "yyyy-MM-dd HH:mm:ss" else fmt, tz)
        .format(new java.util.Date(epochSec * 1000L))),

    // TIMESTAMPADD with calendar-aware MONTH/YEAR arithmetic
    // (SystemFunctionUtils.timestampadd:244-265)
    parity("CDC_TIMESTAMP_ADD", 3, TimestampType)(tz =>
      (unit: String, n: Integer, ts: java.sql.Timestamp) =>
        if (n == null || ts == null) null
        else {
          val z = ts.toInstant.atZone(java.time.ZoneId.of(tz))
          val out = unit.toUpperCase match {
            case "SECOND" => z.plusSeconds(n.toLong)
            case "MINUTE" => z.plusMinutes(n.toLong)
            case "HOUR"   => z.plusHours(n.toLong)
            case "DAY"    => z.plusDays(n.toLong)
            case "WEEK"   => z.plusWeeks(n.toLong)
            case "MONTH"  => z.plusMonths(n.toLong)
            case "QUARTER" => z.plusMonths(3L * n)
            case "YEAR"   => z.plusYears(n.toLong)
            case other => throw new IllegalArgumentException(s"unit: $other")
          }
          java.sql.Timestamp.from(out.toInstant)
        }))
}
