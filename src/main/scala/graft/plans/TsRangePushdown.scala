package graft.plans

import java.time.{Instant, LocalDate, ZoneId, ZoneOffset}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite day-string predicates into raw timestamp ranges
  * so they can reach the parquet scan as `PushedFilters`.
  *
  * The reference prunes partitions with a formatted-string predicate
  * (`push_down_predicate=f"month='{month}'"`,
  * data-s3-elastic-transfer.py:301-308). The declarative analog — users
  * filtering `date_format(ts, 'yyyy-MM-dd') = '2024-01-05'` — defeats
  * parquet row-group pruning: the scan sees a derived string, not a `ts`
  * bound, and reads everything. `Tables.loadEventsPrunedToDay` does the
  * range arithmetic by hand; this rule does it FOR any query, in the
  * optimizer, via two algebraic rewrites that chain to fixpoint:
  *
  *  1. `date_format(T, 'yyyy-MM-dd') cmp 'day-literal'` →
  *     `T cmp <day-boundary timestamps>` (sound because yyyy-MM-dd strings
  *     order lexicographically exactly as their days order chronologically;
  *     boundaries are computed in the session time zone for TIMESTAMP and
  *     as wall-clock for TIMESTAMP_NTZ; unparseable literals bail out);
  *  2. `timestamp_micros(x div 1000) cmp TIMESTAMP-literal` →
  *     `x cmp <micros*1000>` (the nanos-long → timestamp conversion of
  *     Tables.loadEvents, inverted; guarded to positive epochs where
  *     `div`'s truncation and floor agree);
  *  3. `cast(x_ntz AS TIMESTAMP) cmp TIMESTAMP-literal` →
  *     `x_ntz cmp <NTZ-literal shifted by the cast's zone offset>` (the
  *     TIMESTAMP_NTZ normalization of Tables.normalizeTs, inverted; only
  *     for fixed-offset zones — UTC in every engine session — where the
  *     wall-clock↔instant map is a bijection; DST zones bail out).
  *
  * Together: a day-string filter over converted nanos events becomes a raw
  * `ts BIGINT` range in the Filter directly above the relation, which
  * FileSourceStrategy then pushes to the reader — row groups outside the
  * day are skipped on footer stats alone. Registered per-session via
  * [[TsRangePushdown.register]] (experimental.extraOptimizations) or
  * globally through `graft.GraftExtensions` (injectOptimizerRule).
  *
  * ==Soundness domain==
  * The EQUALITY rewrite is sound for every input: only a year-1000..9999
  * timestamp can format to a canonical `yyyy-MM-dd` string, and the
  * emitted [lo, hi) range contains exactly those timestamps. The
  * INEQUALITY rewrites additionally assume column values stay within
  * years 1000–9999: outside that era `date_format`'s `yyyy` emits
  * sign-padded years (`+10000-01-01`, `-0500-01-01`) whose LEXICOGRAPHIC
  * order diverges from chronological order, so a corrupt far-future row
  * that the unrewritten string comparison would (surprisingly) admit is
  * excluded by the range form. This matches the engine's event-time
  * domain everywhere else (the nanos-long conversion itself assumes
  * positive epochs); pipelines that need to SURFACE out-of-era garbage
  * should filter on the raw column, not on a formatted string.
  */
object TsRangePushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = cond.transform(rewrite)
      if (rewritten.fastEquals(cond)) f else Filter(rewritten, child)
  }

  // ------------------------------------------------------------ pattern 1

  private val dayFmt = UTF8String.fromString("yyyy-MM-dd")

  /** [lo, hi) micros-since-epoch of a calendar day, in the expression's
    * RESOLVED zone for zoned timestamps (the timeZoneId the analyzer bound
    * into date_format — falling back to the session zone only when absent)
    * or as wall-clock (UTC-anchored micros) for NTZ. Using the resolved
    * zone matters when the session zone changed between analysis and
    * optimization, or a view was resolved under another zone: the
    * boundaries must match what date_format will actually emit.
    */
  private def dayBounds(day: String, dt: DataType, tzId: Option[String]): Option[(Long, Long)] =
    try {
      val d = LocalDate.parse(day)
      val zone: ZoneId = dt match {
        case TimestampType => ZoneId.of(tzId.getOrElse(conf.sessionLocalTimeZone))
        case _ => ZoneOffset.UTC // NTZ: micros encode wall-clock as if UTC
      }
      def micros(x: LocalDate) =
        ChronoUnit.MICROS.between(Instant.EPOCH, x.atStartOfDay(zone).toInstant)
      Some((micros(d), micros(d.plusDays(1))))
    } catch {
      case _: java.time.format.DateTimeParseException => None
      case _: java.time.DateTimeException => None // unresolvable zone id: leave unrewritten
    }

  private def isTs(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** `date_format(T, 'yyyy-MM-dd')` with a timestamp-typed child; also
    * captures the expression's resolved timeZoneId.
    */
  private object DayOf {
    def unapply(e: Expression): Option[(Expression, Option[String])] = e match {
      case DateFormatClass(t, Literal(f: UTF8String, StringType), tz)
          if f == dayFmt && isTs(t.dataType) => Some((t, tz))
      case _ => None
    }
  }

  private def tsLit(micros: Long, dt: DataType): Literal = Literal(micros, dt)

  /** T cmp day-string → range over T. `flip` when the literal was on the
    * left (e.g. `'d' < date_format(ts)` ≡ `date_format(ts) > 'd'`).
    */
  private def dayRange(
      t: Expression,
      tzId: Option[String],
      day: String,
      cmp: BinaryComparison,
      flip: Boolean): Option[Expression] =
    dayBounds(day, t.dataType, tzId).map { case (lo, hi) =>
      val dt = t.dataType
      cmp match {
        case _: EqualTo => And(GreaterThanOrEqual(t, tsLit(lo, dt)), LessThan(t, tsLit(hi, dt)))
        case _: GreaterThanOrEqual => if (!flip) GreaterThanOrEqual(t, tsLit(lo, dt)) else LessThan(t, tsLit(hi, dt))
        case _: GreaterThan => if (!flip) GreaterThanOrEqual(t, tsLit(hi, dt)) else LessThan(t, tsLit(lo, dt))
        case _: LessThan => if (!flip) LessThan(t, tsLit(lo, dt)) else GreaterThanOrEqual(t, tsLit(hi, dt))
        case _: LessThanOrEqual => if (!flip) LessThan(t, tsLit(hi, dt)) else GreaterThanOrEqual(t, tsLit(lo, dt))
        case _ => cmp
      }
    }

  // ------------------------------------------------------------ pattern 2

  /** `timestamp_micros(x div 1000)` — the loadEvents nanos conversion. */
  private object MicrosDivNanos {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(d: IntegralDivide) => (d.right, d.left.dataType) match {
        case (Literal(1000L, LongType), LongType) => Some(d.left)
        case _ => None
      }
      case _ => None
    }
  }

  /** x div 1000 cmp m, for m >= 1 (positive epochs: `div` truncation and
    * floor agree on every long that can satisfy either side).
    */
  private def nanosRange(x: Expression, m: Long, cmp: BinaryComparison, flip: Boolean): Option[Expression] = {
    if (m < 1L || m >= Long.MaxValue / 1000 - 1) None
    else {
      val lo = m * 1000L
      val hi = (m + 1L) * 1000L
      Some(cmp match {
        case _: EqualTo => And(GreaterThanOrEqual(x, Literal(lo)), LessThan(x, Literal(hi)))
        case _: GreaterThanOrEqual => if (!flip) GreaterThanOrEqual(x, Literal(lo)) else LessThan(x, Literal(hi))
        case _: GreaterThan => if (!flip) GreaterThanOrEqual(x, Literal(hi)) else LessThan(x, Literal(lo))
        case _: LessThan => if (!flip) LessThan(x, Literal(lo)) else GreaterThanOrEqual(x, Literal(hi))
        case _: LessThanOrEqual => if (!flip) LessThan(x, Literal(hi)) else GreaterThanOrEqual(x, Literal(lo))
        case other => other
      })
    }
  }

  // ------------------------------------------------------------ pattern 3

  /** `cast(x AS TIMESTAMP)` over a TIMESTAMP_NTZ child — the NTZ
    * normalization of Tables.normalizeTs; captures the cast's resolved
    * timeZoneId.
    */
  private object NtzCast {
    def unapply(e: Expression): Option[(Expression, Option[String])] = e match {
      case Cast(child, TimestampType, tz, _) if child.dataType == TimestampNTZType =>
        Some((child, tz))
      case _ => None
    }
  }

  /** Micros shift of the NTZ→TIMESTAMP cast when its zone is a FIXED
    * offset: `cast(x) = x − offset`, a bijection, so any comparison moves
    * through it exactly. Region zones with DST are not injective
    * (fall-back overlaps) — bail and leave the cast in place.
    */
  private def ntzShiftMicros(tzId: Option[String]): Option[Long] =
    try {
      ZoneId.of(tzId.getOrElse(conf.sessionLocalTimeZone)).normalized() match {
        case off: ZoneOffset => Some(off.getTotalSeconds * 1000000L)
        case _ => None
      }
    } catch { case _: java.time.DateTimeException => None }

  /** cast(x) cmp m  →  x cmp (m + offset), as an NTZ literal the parquet
    * reader can push against the stored TIMESTAMP_NTZ column.
    */
  private def stripNtzCast(x: Expression, tz: Option[String], m: Long,
      cmp: BinaryComparison, flip: Boolean): Option[Expression] =
    ntzShiftMicros(tz).flatMap { off =>
      try {
        val lit2 = Literal(Math.addExact(m, off), TimestampNTZType)
        Some(if (flip) cmp.withNewChildren(Seq(lit2, x))
             else cmp.withNewChildren(Seq(x, lit2)))
      } catch { case _: ArithmeticException => None }
    }

  private val rewrite: PartialFunction[Expression, Expression] = {
    case cmp @ BinaryComparison(DayOf(t, tz), Literal(day: UTF8String, StringType)) =>
      dayRange(t, tz, day.toString, cmp, flip = false).getOrElse(cmp)
    case cmp @ BinaryComparison(Literal(day: UTF8String, StringType), DayOf(t, tz)) =>
      dayRange(t, tz, day.toString, cmp, flip = true).getOrElse(cmp)
    case cmp @ BinaryComparison(MicrosDivNanos(x), Literal(m: Long, TimestampType)) =>
      nanosRange(x, m, cmp, flip = false).getOrElse(cmp)
    case cmp @ BinaryComparison(Literal(m: Long, TimestampType), MicrosDivNanos(x)) =>
      nanosRange(x, m, cmp, flip = true).getOrElse(cmp)
    case cmp @ BinaryComparison(NtzCast(x, tz), Literal(m: Long, TimestampType)) =>
      stripNtzCast(x, tz, m, cmp, flip = false).getOrElse(cmp)
    case cmp @ BinaryComparison(Literal(m: Long, TimestampType), NtzCast(x, tz)) =>
      stripNtzCast(x, tz, m, cmp, flip = true).getOrElse(cmp)
  }

  /** Idempotently add the rule to a live session's optimizer. */
  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(TsRangePushdown))
      exp.extraOptimizations = exp.extraOptimizations :+ TsRangePushdown
  }
}
