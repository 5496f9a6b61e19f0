package graft.engine

import graft.plans.{DistinctToBitmap, PlanRules, TruncToFloor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 directive #4: prove the stats gates fire in a real session
  * with no setting touched. Each test drives Snowflake-dialect SQL
  * through a plain GraftSession over the attached lake (AutoStats
  * collects rowCount/NDV lazily on first materialization, plus
  * timestamp ranges for the floored-key bound) and asserts on the
  * EXECUTED plan.
  *
  * The shared test JVM's SparkSession predates this suite, so the rules
  * GraftExtensions would register at builder time are spliced into the
  * session CLONE the GraftSession plans on ([[PlanRules]]); a production
  * session gets them from
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`, which
  * cloneSession carries through. */
class AutoGateSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** What GraftExtensions registers in a real deploy. */
  private def splice(s: SparkSession): Unit = {
    PlanRules.addOptimizerRules(s, AutoStats.AttachStats, TruncToFloor,
      DistinctToBitmap)
    PlanRules.addLowCardAgg(s)
  }

  private def newSession(): GraftSession = {
    val gs = new GraftSession(spark)
    gs.attachLake("/root/testdata/sf0.001")
    splice(gs.spark)
    gs
  }

  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("auto: low-cardinality string key rides LowCardAggExec") {
    val gs = newSession()
    val plan = executedPlan(gs.sql("""
      SELECT l_returnflag, count(*) AS n, sum(l_quantity::double) AS q
      FROM lineitem GROUP BY 1"""))
    assert(plan.contains("LowCardAgg"), s"the gate did not fire:\n$plan")
  }

  test("auto: COUNT(DISTINCT int) plans the bitmap aggregate") {
    val gs = newSession()
    val plan = executedPlan(gs.sql("""
      SELECT o_orderpriority, count(DISTINCT o_orderkey) AS nd
      FROM orders GROUP BY 1"""))
    assert(plan.contains("bitmap_distinct_count"),
      s"the bitmap gate did not fire:\n$plan")
    // and the bitmap partial itself rides the columnar operator
    assert(plan.contains("LowCardAgg"), s"partial not columnar:\n$plan")
  }

  test("auto: floored-timestamp key fires via the ts-range NDV bound") {
    val gs = newSession()
    val plan = executedPlan(gs.sql("""
      SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
      FROM events GROUP BY 1, 2"""))
    assert(plan.contains("LowCardAgg"),
      s"the gate did not fire on the floored key:\n$plan")
    // the hour floor is carried in the operator's key spec (3600000000
    // micros), proving TruncToFloor rewrote AND the range bound gated
    assert(plan.contains("3600000000"),
      s"floored key spec missing from the operator:\n$plan")
  }

  test("auto: a key-NDV product over the bound keeps stock") {
    val gs = newSession()
    // ~600 distinct values per key: one key is far under the 262144
    // bound, the two-key product (~360000) is over it
    gs.sql("""CREATE OR REPLACE TABLE ndv_pair AS
      SELECT l_orderkey % 600 AS a, (l_orderkey * 7 + l_linenumber) % 599 AS b
      FROM lineitem""")
    val one = executedPlan(gs.sql("SELECT a, count(*) AS n FROM ndv_pair GROUP BY 1"))
    assert(one.contains("LowCardAgg"), s"one key did not fire:\n$one")
    val two = executedPlan(gs.sql(
      "SELECT a, b, count(*) AS n FROM ndv_pair GROUP BY 1, 2"))
    assert(!two.contains("LowCardAgg"),
      s"fired despite an NDV product over the bound:\n$two")
  }
}
