package graft.plans

import graft.functions.BitmapDistinctCount
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Rewrite single-column integral `COUNT(DISTINCT x)` to the mergeable
  * [[BitmapDistinctCount]] aggregate.
  *
  * The stock distinct plan deduplicates (group, x) rows and SHUFFLES the
  * survivors — an exchange proportional to the distinct pair count (h04:
  * 5.1 s, probes/full_eval.json). The bitmap aggregate is an ordinary
  * non-distinct aggregate whose partial state is a compressed key-set,
  * so the plan collapses to the standard scan → partial → small exchange
  * → final shape (and mixed distinct+plain aggregates lose their Expand:
  * the rewrite runs before RewriteDistinctAggregates sees a distinct).
  *
  * Exact for every input distribution; memory is bounded by ~2.5 B per
  * distinct value per (task, group) — the roaring-lite containers never
  * allocate by key RANGE, so scattered 64-bit keys stay array-paged.
  *
  * The rule fires when column stats (CBO / AutoStats) bound the key's
  * NDV by [[MaxNdv]] (64 M ≈ 160 MB worst-case state per group) —
  * beyond that, or without stats, the row-dedup plan's spillability is
  * the safer trade. Filters/multi-arg/non-integral distincts bail. */
object DistinctToBitmap extends Rule[LogicalPlan] {

  private val MaxNdv = BigInt(64L << 20)

  private def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case a: Aggregate =>
        a.transformExpressionsUp {
          case ae @ AggregateExpression(Count(Seq(child)), _, true, None, _)
              if integral(child.dataType) && lowNdv(a, child) =>
            ae.copy(aggregateFunction = BitmapDistinctCount(child),
              isDistinct = false)
        }
    }

  /** The gate: the distinct column's NDV is known and bounded. */
  private def lowNdv(a: Aggregate,
      child: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    child match {
      case attr: Attribute =>
        a.child.stats.attributeStats
          .find(_._1.exprId == attr.exprId)
          .flatMap(_._2.distinctCount)
          .exists(_ <= MaxNdv)
      case _ => false
    }
}
