package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveRulesHolder

/** Plan-rule seams for suites sharing one JVM-wide SparkSession, which
  * may predate the suite: `spark.sql.extensions` is builder-time only,
  * so optimizer rules go in through `experimental.extraOptimizations`
  * and the query-stage prep rule ([[LowCardAgg]]) is spliced into the
  * session's AdaptiveRulesHolder reflectively. The stock plan comes from
  * Spark's own settings, never from a rule switch: `excludedRules` drops
  * a logical rule, and a row-based parquet reader gives LowCardAgg no
  * columnar scan to rewrite. */
object PlanRules {

  /** Append each rule not yet in the session's extra optimizations. */
  def addOptimizerRules(s: SparkSession, rules: Rule[LogicalPlan]*): Unit =
    rules.foreach { r =>
      if (!s.experimental.extraOptimizations.contains(r))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ r
    }

  private def prepRules(s: SparkSession): Seq[Rule[SparkPlan]] =
    s.sessionState.adaptiveRulesHolder.queryStagePrepRules

  private def setPrepRules(s: SparkSession,
      rules: Seq[Rule[SparkPlan]]): Unit = {
    val ss = s.sessionState
    val holder = ss.adaptiveRulesHolder
    val patched = new AdaptiveRulesHolder(rules,
      holder.runtimeOptimizerRules,
      holder.queryStageOptimizerRules,
      holder.queryPostPlannerStrategyRules)
    val f = ss.getClass.getDeclaredFields
      .find(_.getName.contains("adaptiveRulesHolder"))
      .getOrElse(throw new IllegalStateException(
        "no adaptiveRulesHolder field on SessionState"))
    f.setAccessible(true)
    f.set(ss, patched)
  }

  /** Register [[LowCardAgg]] as a query-stage prep rule. */
  def addLowCardAgg(s: SparkSession): Unit =
    if (!prepRules(s).contains(LowCardAgg))
      setPrepRules(s, prepRules(s) :+ LowCardAgg)

  /** Run `f` with `rule` in [[LowCardAgg]]'s place. */
  def withLowCardRule[T](s: SparkSession, rule: Rule[SparkPlan])(f: => T): T = {
    addLowCardAgg(s)
    val before = prepRules(s)
    setPrepRules(s, before.map(r => if (r eq LowCardAgg) rule else r))
    try f finally setPrepRules(s, before)
  }

  /** Run `f` with the given SQL settings, restoring the previous values. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(f: => T): T = {
    val before = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Settings under which `rules` stay out of the optimizer. */
  def excluded(rules: Rule[LogicalPlan]*): (String, String) =
    "spark.sql.optimizer.excludedRules" -> rules.map(_.ruleName).mkString(",")

  /** The row-based parquet reader: no columnar scan for LowCardAgg. */
  val RowReader: (String, String) =
    "spark.sql.parquet.enableVectorizedReader" -> "false"

  /** CBO on, so collected AutoStats reach the rules' stats gates. */
  val Cbo: (String, String) = "spark.sql.cbo.enabled" -> "true"
}
