package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Eager aggregation (Yan & Larson, VLDB '95): push a partial aggregate
  * below a large inner equi-join when every aggregate input comes from one
  * join side and every grouping column from the other.
  *
  *   Aggregate(g(R), F(L))            Aggregate(g(R), F'(pre))
  *     Join(L, R, L.k = R.k)    →       Join(pre, R, pre.k = R.k)
  *                                        pre = Aggregate(L.k, F_partial(L))
  *
  * The pre-aggregate's exchange doubles as the join's required
  * distribution (both hash on `L.k`), so no exchange is added — the one
  * that was already there now carries one row per (join key) instead of
  * one row per fact row.
  *
  * PROFITABILITY: the rewrite trades the fact-side shuffle volume for a
  * keyed hash-aggregate pass over the fact side. That pays only when many
  * fact rows collapse per join key; when the join key is (near-)unique on
  * the fact side — e.g. lineitem⋈orders on l_orderkey, ~4 rows/key — the
  * pre-aggregate's hash state dwarfs the shuffle it saves (measured 2.7×
  * SLOWER on the h09 bench shape under the old count() drain, and
  * re-confirmed +35% slower under the honest full-plan drain —
  * probes/eager_agg_honest.json). So the rule fires only when column
  * statistics prove an estimated reduction of at least [[MinReduction]]
  * (16) rows per distinct key combination: reduction = rowCount /
  * ndv(join keys), with
  * ndv of a multi-key combination upper-bounded by the product of
  * per-key ndvs (an ndv over-estimate under-estimates reduction, so the
  * gate errs toward NOT firing). Without rowCount + per-key ndv stats
  * (`ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`, CBO plan stats) the
  * gate cannot evaluate and the rewrite is skipped — Catalyst's default
  * plan is the proven-good baseline and a custom rule must prove it beats
  * it.
  *
  * Soundness (inner equi-join): a fact group with partial value p joined
  * against m matching dim rows contributes m·p pairs in the original plan
  * and m copies of p here — identical for SUM/COUNT (re-summed) and
  * MIN/MAX (idempotent). Null join keys never match in either plan.
  * Fired only when:
  *   - the join is INNER with a purely conjunctive equi condition;
  *   - aggregates are non-DISTINCT, unfiltered SUM/COUNT/MIN/MAX over
  *     deterministic expressions of one side only;
  *   - grouping expressions reference only the other side;
  *   - NEITHER side fits the broadcast threshold (a broadcast join has no
  *     fact-side exchange for the pre-aggregate to ride — rewriting would
  *     add one, so stats-small joins are left alone);
  *   - the stats gate above estimates reduction ≥ MinReduction.
  */
object EagerAggregation extends Rule[LogicalPlan] with PredicateHelper {

  private val MinReduction = 16.0

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(_, _, child, _) if agg.resolved =>
        stripPruningProject(child) match {
          case Some(join) => tryRewrite(agg, join).getOrElse(agg)
          case None => agg
        }
    }

  /** Column-pruning Projects between Aggregate and Join are transparent for
    * this rewrite (pruning re-runs after us); anything computing new values
    * is left alone. */
  private def stripPruningProject(p: LogicalPlan): Option[Join] = p match {
    case j: Join => Some(j)
    case Project(projList, j: Join) if projList.forall(_.isInstanceOf[Attribute]) =>
      Some(j)
    case _ => None
  }

  /** Attribute-only Projects below the join side are equally transparent
    * when checking whether that side is already a pre-aggregate. */
  private def stripPruningProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(projList, child) if projList.forall(_.isInstanceOf[Attribute]) =>
      stripPruningProjects(child)
    case other => other
  }

  private def tryRewrite(agg: Aggregate, join: Join): Option[LogicalPlan] = {
    val Join(jl, jr, joinType, condOpt, _) = join
    if (joinType != Inner || condOpt.isEmpty || !join.resolved) return None
    val cond = condOpt.get
    if (!cond.deterministic) return None

    // purely conjunctive equi condition: (lAttr = rAttr) AND ...
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if jl.outputSet.contains(a) && jr.outputSet.contains(b) => Some((a, b))
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if jl.outputSet.contains(a) && jr.outputSet.contains(b) => Some((a, b))
      case _ => None
    }
    if (pairs.exists(_.isEmpty)) return None
    val (leftKeys0, rightKeys0) = pairs.flatten.unzip
    val leftKeys = leftKeys0.distinct
    val rightKeys = rightKeys0.distinct

    val aggExprs = agg.aggregateExpressions
    val groupings = agg.groupingExpressions
    if (!aggExprs.forall(_.deterministic) || !groupings.forall(_.deterministic)) {
      return None
    }
    val aggFns = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggFns.isEmpty) return None
    if (aggFns.exists(ae => ae.isDistinct || ae.filter.isDefined)) return None
    if (!aggFns.forall(_.aggregateFunction match {
      case _: Sum | _: Count | _: Min | _: Max => true
      case _ => false
    })) return None

    // every aggregate input from one side; groupings + bare output
    // references from the other
    val aggRefs = AttributeSet(aggFns.flatMap(_.references))
    val outsideRefs = AttributeSet(
      aggExprs.flatMap(refsOutsideAggregates) ++ groupings.flatMap(_.references))
    val sides = Seq(
      (jl, leftKeys, true),
      (jr, rightKeys, false))
    val chosen = sides.find { case (aggSide, _, aggIsLeft) =>
      val otherSide = if (aggIsLeft) jr else jl
      aggRefs.subsetOf(aggSide.outputSet) &&
        outsideRefs.subsetOf(otherSide.outputSet) &&
        // a pure count(*) over the join must still pick an unreferenced side
        (aggRefs.nonEmpty || outsideRefs.nonEmpty)
    }
    chosen match {
      case Some((aggSide, keys, aggIsLeft)) =>
        rewriteChosen(agg, join, aggFns, aggSide, keys, aggIsLeft)
      case None => None
    }
  }

  private def rewriteChosen(
      agg: Aggregate,
      join: Join,
      aggFns: Seq[AggregateExpression],
      aggSide: LogicalPlan,
      keys: Seq[AttributeReference],
      aggIsLeft: Boolean): Option[LogicalPlan] = {
    val Join(jl, jr, _, condOpt, hint) = join
    // already pre-aggregated (structural idempotence guard for the
    // optimizer's fixpoint batch); transparent through pruning Projects
    stripPruningProjects(aggSide) match {
      case Aggregate(g, _, _, _)
          if g.collect { case a: Attribute => a.exprId }.toSet ==
            keys.map(_.exprId).toSet => return None
      case _ =>
    }
    // broadcast-sized joins keep their exchange-free fact side
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold >= 0 &&
      (jl.stats.sizeInBytes <= threshold || jr.stats.sizeInBytes <= threshold)) {
      return None
    }
    // stats-based profitability gate (see scaladoc): no stats ⇒ no rewrite
    if (!estimatedReduction(aggSide, keys).exists(_ >= MinReduction)) return None

    // partial layer: one alias per distinct aggregate call
    val partials = collection.mutable.LinkedHashMap.empty[Expression, Alias]
    def partialFor(ae: AggregateExpression): Alias =
      partials.getOrElseUpdate(ae.canonicalized, {
        Alias(ae, s"_eager_${partials.size}")()
      })
    val replacements: Map[ExprId, Expression] = aggFns.map { ae =>
      val p = partialFor(ae)
      val attr = p.toAttribute
      val finalExpr: Expression = ae.aggregateFunction match {
        case s: Sum =>
          val resummed = s.copy(child = attr).toAggregateExpression()
          if (resummed.dataType == ae.dataType) resummed
          else Cast(resummed, ae.dataType)
        case _: Count =>
          // count is non-null; sum-of-counts over ≥1 joined row too
          Coalesce(Seq(Sum(attr).toAggregateExpression(), Literal(0L, LongType)))
        case _: Min => Min(attr).toAggregateExpression()
        case _: Max => Max(attr).toAggregateExpression()
        case other =>
          // unreachable: the fn whitelist above admits only these four
          throw new IllegalStateException(s"unexpected aggregate: $other")
      }
      ae.resultId -> finalExpr
    }.toMap

    val preAgg = Aggregate(keys, keys ++ partials.values.toSeq, aggSide, None)
    val newJoin =
      if (aggIsLeft) Join(preAgg, jr, Inner, condOpt, hint)
      else Join(jl, preAgg, Inner, condOpt, hint)
    val newOut = agg.aggregateExpressions.map(_.transform {
      case ae: AggregateExpression if replacements.contains(ae.resultId) =>
        replacements(ae.resultId)
    }.asInstanceOf[NamedExpression])
    Some(Aggregate(agg.groupingExpressions, newOut, newJoin, agg.hint))
  }

  /** Estimated rows-per-distinct-key-combination on the aggregate side.
    * None when rowCount or any per-key ndv is unavailable. The combined
    * ndv is upper-bounded by min(∏ ndv_i, rowCount), which UNDER-estimates
    * reduction — the conservative direction for a gate that adds work when
    * it misfires. */
  private def estimatedReduction(
      aggSide: LogicalPlan,
      keys: Seq[AttributeReference]): Option[Double] = {
    val stats = aggSide.stats
    stats.rowCount.flatMap { rows =>
      if (rows <= 0) None
      else {
        val ndvs = keys.map(k =>
          stats.attributeStats.get(k).flatMap(_.distinctCount))
        if (ndvs.exists(_.isEmpty)) None
        else {
          val combined =
            ndvs.flatten.product.min(rows).max(BigInt(1))
          Some(BigDecimal(rows).toDouble / BigDecimal(combined).toDouble)
        }
      }
    }
  }

  /** Attributes referenced outside any aggregate-function subtree. */
  private def refsOutsideAggregates(e: Expression): Seq[Attribute] = e match {
    case _: AggregateExpression => Nil
    case a: Attribute => Seq(a)
    case other => other.children.flatMap(refsOutsideAggregates)
  }
}
