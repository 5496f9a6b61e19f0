package graft.plans

import graft.functions.FloorTimestamp
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, TruncTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: `date_trunc('hour'|'minute'|'second'|'day', ts)` under
  * UTC is pure fixed-width arithmetic on the internal micros value, but
  * Spark's `TruncTimestamp` routes every row through timezone machinery.
  * Measured on the heavy bench (10 M-row events, local[32]): hour-grouping
  * drops from 1.44 s to ~0.76 s when truncation is replaced with
  * [[FloorTimestamp]] — a ~2× cut on the truncation-heavy shape.
  *
  * Safe exactly when no calendar/timezone is involved: sub-day units plus
  * `day`, on TIMESTAMP_NTZ (wallclock) or TIMESTAMP with a UTC zone.
  * `week/month/quarter/year` stay with Spark (calendar math).
  */
object TruncToFloor extends Rule[LogicalPlan] {

  private val unitMicros = Map(
    "second" -> 1000000L,
    "minute" -> 60000000L,
    "hour" -> 3600000000L,
    "day" -> 86400000000L)

  private def utc(tz: Option[String]): Boolean =
    tz.exists(z => z == "UTC" || z == "Etc/UTC" || z == "GMT" || z == "Z" ||
      z == "+00:00")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // the type-polymorphic TRUNC/DATE_TRUNC lowering
      // ([[graft.functions.SnowTrunc]]) wraps an NTZ input in a same-zone
      // cast pair around TruncTimestamp (its input contract is
      // TIMESTAMP). The round trip is the identity on the wall-clock
      // micros, and NTZ micros ARE wall-clock micros, so for fixed-width
      // units the whole sandwich is FloorTimestamp on the NTZ value —
      // in ANY session zone (flooring happens in the input's own wall
      // clock either way). Matching through the casts keeps date_trunc
      // grouping keys eligible for the NDV-gated columnar aggregate.
      case Cast(t @ TruncTimestamp(Literal(fmt: UTF8String, StringType),
            Cast(inner, TimestampType, _, _), _), TimestampNTZType, _, _)
          if unitMicros.contains(fmt.toString.toLowerCase) &&
            inner.dataType == TimestampNTZType && t.deterministic =>
        FloorTimestamp(inner, unitMicros(fmt.toString.toLowerCase))
      case t @ TruncTimestamp(Literal(fmt: UTF8String, StringType), child, tz)
          if unitMicros.contains(fmt.toString.toLowerCase) &&
            (child.dataType == TimestampNTZType || utc(tz)) &&
            t.deterministic =>
        FloorTimestamp(child, unitMicros(fmt.toString.toLowerCase))
    }
}
