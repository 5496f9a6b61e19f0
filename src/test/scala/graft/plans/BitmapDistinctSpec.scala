package graft.plans

import graft.engine.AutoStats
import graft.functions.BitmapDistinct
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bitmap COUNT(DISTINCT) against Spark's stock plan. The rule's
  * NDV gate reads each fixture's AutoStats under CBO, exactly as in a
  * session; the stock side excludes the rule and reads parquet row-based
  * (no columnar LowCardAgg partial). */
class BitmapDistinctSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the shared test JVM's session may predate this suite
    PlanRules.addOptimizerRules(s, AutoStats.AttachStats, DistinctToBitmap)
    PlanRules.addLowCardAgg(s)
    s
  }
  import spark.implicits._

  private def withBitmap[T](f: => T): T =
    PlanRules.withConf(spark, PlanRules.Cbo)(f)

  private def stock[T](f: => T): T = PlanRules.withConf(spark,
    PlanRules.excluded(DistinctToBitmap), PlanRules.RowReader)(f)

  /** Write `df` as a parquet fixture and collect its AutoStats. */
  private def fixture(df: DataFrame, name: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    AutoStats.maybeCollect(spark, back)
    back
  }

  private def assertSame(q: => DataFrame, expectFire: Boolean = true): Unit = {
    val base = stock(q.collect().map(_.toString).sorted)
    withBitmap {
      val df = q
      val got = df.collect().map(_.toString).sorted
      if (expectFire)
        assert(df.queryExecution.optimizedPlan.toString
          .contains("bitmap_distinct_count"),
          s"rule did not fire:\n${df.queryExecution.optimizedPlan}")
      assert(got.sameElements(base),
        s"diverged:\nbase=${base.take(5).mkString("\n")}\ngot=${got.take(5).mkString("\n")}")
    }
  }

  test("PageSet unit: dense, sparse, negative, page-boundary, upgrade, merge") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 6) {
      val vals: Seq[Long] = trial match {
        case 1 => 0L until 10000L                        // dense, upgrades
        case 2 => (1 to 5000).map(_ => rnd.nextLong())   // scattered 64-bit
        case 3 => (1 to 5000).map(_ => rnd.nextInt(300).toLong - 150) // negatives
        case 4 => Seq(65535L, 65536L, 65537L, -1L, -65536L, -65537L, 0L)
        case 5 => (1 to 20000).map(_ => rnd.nextInt(5000).toLong) // dups
        case 6 => Seq.empty
      }
      val s = new BitmapDistinct.PageSet
      vals.foreach(s.add)
      assert(s.cardinality == vals.distinct.size, s"trial $trial")
      // serialize → deserialize → identical cardinality
      val back = BitmapDistinct.deserialize(s.serialize())
      assert(back.cardinality == vals.distinct.size, s"trial $trial ser")
      // split across two sets, merge
      val (va, vb) = vals.splitAt(vals.size / 2)
      val a = new BitmapDistinct.PageSet; va.foreach(a.add)
      val b = new BitmapDistinct.PageSet; vb.foreach(b.add)
      a.or(b)
      assert(a.cardinality == vals.distinct.size, s"trial $trial merge")
      // merge the other orientation (bits into arrays and vice versa)
      val a2 = new BitmapDistinct.PageSet; va.foreach(a2.add)
      val b2 = new BitmapDistinct.PageSet; vb.foreach(b2.add)
      b2.or(a2)
      assert(b2.cardinality == vals.distinct.size, s"trial $trial merge2")
    }
  }

  private lazy val t: DataFrame =
    fixture(spark.range(0, 60000).select(
      (col("id") % 3).cast("int").as("g"),
      when(col("id") % 91 === 0, lit(null)).otherwise(col("id") % 5000)
        .as("k"),
      (col("id") % 977).cast("int").as("ki"),
      (col("id") % 50).as("small"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 400).cast("int"))
        .as("d"),
      (col("id") % 400).cast("double").as("v"))
      .repartition(5), "graft_bmd")

  test("grouped count distinct with NULLs matches stock") {
    assertSame(t.groupBy("g").agg(countDistinct(col("k")).as("n")))
  }

  test("global count distinct matches stock") {
    assertSame(t.agg(countDistinct(col("ki")).as("n")))
  }

  test("date keys and mixed plain aggregates (no Expand) match stock") {
    assertSame(t.groupBy("g").agg(countDistinct(col("d")).as("nd"),
      sum(col("v")).as("s"), count(lit(1)).as("n")))
  }

  test("two distinct aggregates in one query match stock") {
    // fire position depends on registration: with builder-time
    // extensions (Bench/Verify/every real session) the rule runs before
    // RewriteDistinctAggregates and BOTH distincts rewrite (no Expand);
    // the shared test JVM's fallback extraOptimizations seam runs LAST,
    // where RDA has already expanded multi-distincts and the rule
    // correctly no-ops (isDistinct is false post-RDA) — results must
    // match either way, the fired-assert is only meaningful standalone
    assertSame(t.groupBy("g").agg(countDistinct(col("k")).as("a"),
      countDistinct(col("ki")).as("b")), expectFire = false)
  }

  test("non-integral distinct and multi-arg distinct bail to stock") {
    withBitmap {
      val s = t.select(col("g"), col("v").cast("string").as("vs"))
        .groupBy("g").agg(countDistinct(col("vs")).as("n"))
      assert(!s.queryExecution.optimizedPlan.toString
        .contains("bitmap_distinct_count"))
      val m = t.groupBy("g").agg(countDistinct(col("k"), col("ki")).as("n"))
      assert(!m.queryExecution.optimizedPlan.toString
        .contains("bitmap_distinct_count"))
    }
  }

  test("bitmap partial rides the LowCardAgg columnar path") {
    val q = () => t.groupBy("g").agg(countDistinct(col("k")).as("n"),
      sum(col("v")).as("s"))
    val base = stock(q().collect().map(_.toString).sorted)
    // and with NULL-heavy input (whole groups can be all-NULL)
    val nulls = fixture(t.withColumn("k2",
      when(col("g") === 1, lit(null)).otherwise(col("k"))), "graft_bmd_nulls")
    val q2 = () => nulls.groupBy("g").agg(countDistinct(col("k2")).as("n"))
    val b2 = stock(q2().collect().map(_.toString).sorted)
    withBitmap {
      for ((query, want) <- Seq(q -> base, q2 -> b2)) {
        val df = query()
        val got = df.collect().map(_.toString).sorted
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("bitmap_distinct_count") &&
          plan.contains("LowCardAgg"), s"columnar bitmap did not fire:\n$plan")
        assert(got.sameElements(want))
      }
    }
  }

  test("fuzz: random data agrees with stock across shapes") {
    val rnd = new scala.util.Random(77)
    for (_ <- 1 to 3) {
      val n = 2000 + rnd.nextInt(3000)
      val mod = 1 + rnd.nextInt(4000)
      val df = fixture((1 to n).map { _ =>
        (rnd.nextInt(4), if (rnd.nextInt(20) == 0) None
          else Some(rnd.nextLong() % mod))
      }.toDF("g", "k"), "graft_bmd_fuzz")
      val base = stock(df.groupBy("g").agg(countDistinct(col("k")).as("n"))
        .collect().map(_.toString).sorted)
      val got = withBitmap {
        df.groupBy("g").agg(countDistinct(col("k")).as("n"))
          .collect().map(_.toString).sorted
      }
      assert(got.sameElements(base))
    }
  }
}
