package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Eager aggregation: the partial aggregate lands below large inner
  * equi-joins ONLY when column stats prove a ≥ 16 rows-per-key collapse;
  * results equal Spark's plan with the rule excluded, and every guard
  * (outer join, DISTINCT, AVG, broadcast-sized side, mixed-side
  * references, low reduction, missing stats) keeps the rewrite off. */
class EagerAggregationSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    PlanRules.addOptimizerRules(s, EagerAggregation)
    s
  }

  import spark.implicits._

  private def viaParquet(df: DataFrame, name: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ea_$name").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Catalog table with rowCount + per-column ndv — the stats shape the
    * profitability gate requires. The in-memory catalog forgets tables
    * across JVMs but their warehouse directories survive, so clear both
    * before creating. */
  private def analyzedTable(df: DataFrame, name: String,
      cols: Seq[String]): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    df.write.mode("overwrite").format("parquet").saveAsTable(name)
    spark.sql(
      s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS ${cols.mkString(", ")}")
    spark.table(name)
  }

  // high-reduction fact: 3200 rows over 50 keys (64 rows/key ≥ 16) with a
  // duplicate-key dim to exercise the m-copies soundness argument
  private lazy val fact = analyzedTable(
    (1 to 3200).map(i => (i % 50, i.toLong, i * 1.5, s"c${i % 3}"))
      .toDF("k", "v", "d", "c"), "ea_fact", Seq("k", "v", "d", "c"))
  // low-reduction fact: the h09 shape — 200 rows over 50 keys (4 rows/key)
  private lazy val thinFact = analyzedTable(
    (1 to 200).map(i => (i % 50, i.toLong)).toDF("k", "v"),
    "ea_thin", Seq("k", "v"))
  // the same shape at 20 rows/key, just over the 16× bar
  private lazy val barFact = analyzedTable(
    (1 to 1000).map(i => (i % 50, i.toLong)).toDF("k", "v"),
    "ea_bar", Seq("k", "v"))
  // stats-free fact (path read, nothing ANALYZEd)
  private lazy val rawFact = viaParquet(
    (1 to 3200).map(i => (i % 50, i.toLong)).toDF("k", "v"), "raw")
  private lazy val dim = analyzedTable(
    ((0 until 60).map(k => (k, s"g${k % 4}")) :+ ((7, "gdup")))
      .toDF("k", "g"), "ea_dim", Seq("k", "g"))

  private def preAggregated(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case Join(l, r, _, _, _)
          if l.isInstanceOf[Aggregate] || r.isInstanceOf[Aggregate] => true
    }.nonEmpty

  /** CBO on and no broadcast joins; `on = false` is Spark's plan with
    * the rule excluded. */
  private def withEager[T](on: Boolean)(body: => T): T =
    PlanRules.withConf(spark,
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1", PlanRules.Cbo) ++
        (if (on) Nil else Seq(PlanRules.excluded(EagerAggregation))): _*)(body)

  private def rollup(f: DataFrame = fact): DataFrame =
    f.join(dim, f("k") === dim("k"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum($"v" * 2 + 1).as("s"),
        min($"d").as("mn"), max($"d").as("mx"))
      .orderBy("g")

  test("sum/count/min/max rollup rewrites and keeps identical results") {
    val (plan, got) = withEager(on = true) {
      val df = rollup(); (preAggregated(df), df.collect().toSeq)
    }
    val want = withEager(on = false) {
      val df = rollup()
      assert(!preAggregated(df), "an excluded rule must not rewrite")
      df.collect().toSeq
    }
    assert(plan, "expected a pre-aggregate below the join")
    assert(got == want)
  }

  test("agg side on the right works too") {
    withEager(on = true) {
      val df = dim.join(fact, dim("k") === fact("k"))
        .groupBy("g").agg(sum($"v").as("s")).orderBy("g")
      assert(preAggregated(df))
      val noRule = withEager(on = false) {
        dim.join(fact, dim("k") === fact("k"))
          .groupBy("g").agg(sum($"v").as("s")).orderBy("g").collect().toSeq
      }
      assert(df.collect().toSeq == noRule)
    }
  }

  test("cost gate: low rows-per-key (h09 shape) does NOT rewrite") {
    withEager(on = true) {
      // 4 rows/key < default minReduction 16: pre-aggregation would add a
      // near-full-size hash pass for almost no shuffle savings
      val df = thinFact.join(dim, thinFact("k") === dim("k"))
        .groupBy("g").agg(sum(thinFact("v")).as("s"))
      assert(!preAggregated(df), "low-reduction join must keep Catalyst's plan")
      // the same shape over the bar rewrites — the ratio is the only blocker
      assert(preAggregated(barFact.join(dim, barFact("k") === dim("k"))
        .groupBy("g").agg(sum(barFact("v")).as("s"))))
    }
  }

  test("cost gate: missing column stats does NOT rewrite") {
    withEager(on = true) {
      // 64 rows/key, but the path-read relation carries no ndv stats: the
      // gate cannot prove profitability, so Catalyst's default plan stands
      val df = rawFact.join(dim, rawFact("k") === dim("k"))
        .groupBy("g").agg(sum(rawFact("v")).as("s"))
      assert(!preAggregated(df))
    }
  }

  test("guards: outer join, distinct, avg, mixed sides, broadcast size") {
    withEager(on = true) {
      val outer = fact.join(dim, fact("k") === dim("k"), "left")
        .groupBy("g").agg(sum($"v"))
      assert(!preAggregated(outer))
      val dist = fact.join(dim, fact("k") === dim("k"))
        .groupBy("g").agg(countDistinct($"v"))
      assert(!preAggregated(dist))
      val av = fact.join(dim, fact("k") === dim("k"))
        .groupBy("g").agg(avg($"v"))
      assert(!preAggregated(av))
      val mixed = fact.join(dim, fact("k") === dim("k"))
        .groupBy("g").agg(sum($"v" + length($"g")))
      assert(!preAggregated(mixed))
    }
    // default 10 MB broadcast threshold: tiny sides ⇒ no rewrite
    PlanRules.withConf(spark, PlanRules.Cbo) {
      assert(!preAggregated(rollup()))
    }
  }

  test("count survives dim-side duplicate keys (m-copies soundness)") {
    // key 7 appears twice in dim: every key-7 fact row must count twice
    val (got, want) = withEager(on = true) {
      val on = fact.join(dim, fact("k") === dim("k"))
        .groupBy(dim("g")).agg(count(lit(1)).as("n"), sum($"v").as("s"))
        .orderBy("g").collect().toSeq
      val off = withEager(on = false) {
        fact.join(dim, fact("k") === dim("k"))
          .groupBy(dim("g")).agg(count(lit(1)).as("n"), sum($"v").as("s"))
          .orderBy("g").collect().toSeq
      }
      (on, off)
    }
    assert(got == want)
    assert(got.exists(_.getAs[String]("g") == "gdup"))
  }
}
