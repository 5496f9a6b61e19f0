package graft.plans

import graft.engine.AutoStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential correctness for the columnar low-cardinality partial
  * aggregate ([[LowCardAgg]]): every query runs gated-vs-stock over the
  * same parquet and must produce identical rows — including NULL keys,
  * NULL aggregate inputs, strings beyond the 8-byte packing, date keys,
  * the flush-on-overflow path, and empty scans. The gated side plans
  * with each fixture's AutoStats under CBO, so the rule's NDV gate
  * decides exactly as in a session; the stock side reads parquet
  * row-based, which leaves the rule no columnar scan to rewrite. */
class LowCardAggSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    PlanRules.addOptimizerRules(s, AutoStats.AttachStats, TruncToFloor,
      DistinctToBitmap)
    PlanRules.addLowCardAgg(s)
    s
  }

  /** Plan `f`'s queries with the collected stats visible to the gate. */
  private def gated[T](f: => T): T = PlanRules.withConf(spark, PlanRules.Cbo)(f)

  private def stock[T](f: => T): T =
    PlanRules.withConf(spark, PlanRules.RowReader)(f)

  /** A parquet fixture with its AutoStats collected, as a session's
    * first read of a lake table does. */
  private def fixture(dir: String): DataFrame = {
    val df = spark.read.parquet(dir)
    AutoStats.maybeCollect(spark, df)
    df
  }

  private lazy val dataDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lowcard").toString
    val df = spark.range(0, 50000).select(
      col("id").as("rid"),
      when(col("id") % 97 === 0, lit(null))
        .otherwise(col("id") % 23).as("klong"),
      (col("id") % 7).cast("int").as("kint"),
      when(col("id") % 89 === 0, lit(null)).otherwise(
        concat(lit("grp_"), (col("id") % 5).cast("string"))).as("kshort"),
      concat(lit("a_longer_key_"), (col("id") % 6).cast("string")).as("klongstr"),
      concat(lit("c"), (col("id") % 3).cast("string")).as("kstr3"),
      date_add(lit("2024-01-01").cast("date"),
        (col("id") % 11).cast("int")).as("kdate"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + make_dt_interval(lit(0), lit(0), (col("id") % 500).cast("long")))
        .as("ts"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise((col("id") % 1000).cast("double") / 3).as("vd"),
      when(col("id") % 17 === 0, lit(null))
        .otherwise(col("id") % 500).as("vl"),
      (col("id") % 100).cast("float").as("vf"))
    df.repartition(7).write.mode("overwrite").parquet(dir)
    dir
  }

  private def t: DataFrame = fixture(dataDir)

  private def assertSame(q: => DataFrame, expectFire: Boolean = true): Unit = {
    val base = stock(q.collect().map(_.toString).sorted)
    gated {
      val df = q
      val got = df.collect().map(_.toString).sorted
      val plan = df.queryExecution.executedPlan.toString
      if (expectFire)
        assert(plan.contains("LowCardAgg"), s"rule did not fire:\n$plan")
      assert(got.sameElements(base),
        s"diverged:\nbase=${base.take(6).mkString("\n")}\n" +
        s"got=${got.take(6).mkString("\n")}")
    }
  }

  test("long key with NULLs: count/sum/avg/min/max") {
    assertSame(t.groupBy("klong").agg(
      count(lit(1)).as("n"), count(col("vl")).as("nv"),
      sum(col("vl")).as("sl"), sum(col("vd")).as("sd"),
      avg(col("vd")).as("ad"), min(col("vl")).as("mn"),
      max(col("vd")).as("mx")))
  }

  test("short-string key with NULLs (packed path)") {
    assertSame(t.groupBy("kshort").agg(
      count(lit(1)).as("n"), sum(col("vd")).as("s"), avg(col("vl")).as("a")))
  }

  test("string key beyond the 8-byte packing") {
    assertSame(t.groupBy("klongstr").agg(
      count(lit(1)).as("n"), sum(col("vl")).as("s")))
  }

  test("multi-key: int + date; float inputs") {
    assertSame(t.groupBy("kint", "kdate").agg(
      sum(col("vf")).as("sf"), avg(col("vf")).as("af"),
      min(col("vf")).as("mn"), max(col("vf")).as("mx")))
  }

  test("mixed long + string key (one string within budget)") {
    assertSame(t.groupBy("klong", "kshort").agg(
      count(lit(1)).as("n"), sum(col("vd")).as("s")))
  }

  test("date_trunc hour key rides the FloorTimestamp path") {
    assertSame(t.groupBy(date_trunc("hour", col("ts")).as("h")).agg(
      count(lit(1)).as("n"), avg(col("vd")).as("a")))
  }

  test("MIN/MAX over a floored timestamp input applies the floor") {
    // regression: the floor used to be applied only on the KEY path;
    // an aggregate input resolved to Get(floorUnit>0) emitted raw micros
    assertSame(t.groupBy("kint").agg(
      min(date_trunc("hour", col("ts"))).as("mn"),
      max(date_trunc("hour", col("ts"))).as("mx"),
      count(lit(1)).as("n")))
  }

  test("COUNT(DISTINCT date_trunc) via bitmap applies the floor") {
    // DistinctToBitmap's gate admits only a column with stats, never a
    // computed input, so the floored input reaches the operator's bitmap
    // spec through the bitmap aggregate itself
    import org.apache.spark.sql.GraftColumns
    val bitmap = GraftColumns.ofExpr(graft.functions.BitmapDistinctCount(
      GraftColumns.exprOf(date_trunc("hour", col("ts"))))
      .toAggregateExpression())
    val base = stock(t.groupBy("kint")
      .agg(countDistinct(date_trunc("hour", col("ts"))).as("nd"))
      .collect().map(_.toString).sorted)
    gated {
      val df = t.groupBy("kint").agg(bitmap.as("nd"))
      val got = df.collect().map(_.toString).sorted
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LowCardAgg"), s"rule did not fire:\n$plan")
      assert(got.sameElements(base),
        s"base=${base.mkString(" ")}\ngot=${got.mkString(" ")}")
    }
  }

  test("COUNT(NULL literal) stays 0 (no CountStar mapping)") {
    // COUNT of a foldable-null child must not count every row; the
    // rewrite bails to stock for this shape
    assertSame(t.groupBy("kint").agg(
      count(lit(null)).as("n0"), count(lit(1)).as("n1")),
      expectFire = false)
  }

  test("flush-on-overflow: tiny cap emits mergeable partials") {
    PlanRules.withLowCardRule(spark, new LowCardAgg.WithFlushCap(3)) {
      assertSame(t.groupBy("klong", "kint").agg(
        count(lit(1)).as("n"), sum(col("vl")).as("s"),
        min(col("vd")).as("mn")))
    }
  }

  test("high-cardinality key stays correct through flushes") {
    PlanRules.withLowCardRule(spark, new LowCardAgg.WithFlushCap(100)) {
      assertSame(t.groupBy("rid").agg(sum(col("vl")).as("s")))
    }
  }

  test("WHERE + GROUP BY rides the columnar path (residual predicate)") {
    assertSame(t.filter(col("vd") > 100 && col("kshort").isNotNull)
      .groupBy("klong").agg(
        count(lit(1)).as("n"), sum(col("vl")).as("s"),
        avg(col("vd")).as("a")))
  }

  test("filter excluding everything produces no groups") {
    assertSame(t.filter(col("rid") < 0)
      .groupBy("klong").agg(count(lit(1)).as("n")))
  }

  test("filter + projected floor key") {
    assertSame(t.filter(col("kint") =!= 3)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("vl")).as("m")))
  }

  test("string-predicate filter with NULL rows") {
    assertSame(t.filter(col("kshort").startsWith("grp_")
        || col("klongstr").contains("_3"))
      .groupBy("kint").agg(count(lit(1)).as("n"), max(col("vd")).as("m")))
  }

  test("vectorized filter atoms: conjunction of cmp/null/string tests") {
    // every conjunct decomposes → the column-at-a-time mask path
    assertSame(t.filter(col("vd") > 100.5 && col("klong").isNotNull &&
        col("kshort") === "grp_3" && col("vl") <= 400)
      .groupBy("kint").agg(count(lit(1)).as("n"), sum(col("vl")).as("s"),
        avg(col("vd")).as("a")))
  }

  test("vectorized filter atoms: date/timestamp bounds + contains") {
    assertSame(t.filter(col("kdate") >= lit("2024-01-03").cast("date") &&
        col("ts") < lit("2024-03-01 04:00:00").cast("timestamp_ntz") &&
        col("klongstr").contains("key_4"))
      .groupBy("kshort").agg(count(lit(1)).as("n"), min(col("vd")).as("m")))
  }

  test("vectorized filter atoms: literal-on-left flips the comparison") {
    assertSame(t.filter(lit(300) > col("vl") && lit("grp_2") === col("kshort"))
      .groupBy("kint").agg(count(lit(1)).as("n"), sum(col("vl")).as("s")))
  }

  test("non-decomposable filter (OR / NOT) keeps the predicate fallback") {
    assertSame(t.filter((col("vl") > 100 || col("vd") < 50) &&
        col("kint") =!= 2)
      .groupBy("klong").agg(count(lit(1)).as("n")))
  }

  test("regex atoms: RLIKE rides the vector filter and agrees with stock") {
    assertSame(t.filter(col("klongstr").rlike("key_[13]$") && col("vd") > 10)
      .groupBy("kint").agg(count(lit(1)).as("n"), sum(col("vl")).as("s")))
  }

  test("regex atoms: NOT RLIKE / multi-wildcard LIKE with NULL rows") {
    // kshort has NULLs: NOT(NULL RLIKE p) = NULL = drop, same as FALSE;
    // the LIKE patterns keep inner wildcards so LikeSimplification
    // cannot rewrite them to contains/startsWith — they must reach
    // decomposeFilter as Like nodes
    assertSame(t.filter(!col("kshort").rlike("grp_[12]") &&
        col("klongstr").like("%longer%key_%") && !col("kshort").like("%p_4%"))
      .groupBy("kint").agg(count(lit(1)).as("n"), max(col("vd")).as("m")))
  }

  /** True when any parquet file under `dir` stores a dictionary-encoded
    * page for `column`. */
  private def hasDictPages(dir: String, column: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .exists { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
        try r.getFooter.getBlocks.asScala.exists(_.getColumns.asScala.exists(
          c => c.getPath.toDotString == column && (c.hasDictionaryPage ||
            Option(c.getEncodingStats).exists(_.hasDictionaryEncodedPages))))
        finally r.close()
      }
  }

  test("regex atoms: an un-dictionaried high-NDV column takes the per-row path") {
    // every value distinct (gate q37's `text` shape): parquet's
    // dictionary does not pay, so the writer stores plain pages and the
    // RegexAtom runs its per-row Matcher instead of per-code verdicts
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_hndv").toString
    spark.range(0, 20000).select(
      (col("id") % 5).cast("int").as("k"),
      when(col("id") % 29 === 0, lit(null)).otherwise(
        concat(lit("doc "), col("id").cast("string"), lit(" "),
          sha2(col("id").cast("string"), 256))).as("txt"),
      (col("id") % 1000).cast("double").as("v"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    assert(!hasDictPages(dir, "txt"), "fixture column came out dictionaried")
    val hn = fixture(dir)
    assertSame(hn.filter(col("txt").rlike("[0-9]{4,}") &&
        !col("txt").like("%a%b%"))
      .groupBy("k").agg(count(lit(1)).as("n"), avg(col("v")).as("a")))
  }

  test("decomposeFilter lowers RLIKE/LIKE (and NOT forms) to RegexAtom") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = Literal(UTF8String.fromString(s), StringType)
    val a = AttributeReference("s", StringType)()
    val got = LowCardAgg.decomposeFilter(
      And(RLike(a, u("^a.*b$")), Not(Like(a, u("%a%b%"), '\\'))), Seq(a))
    assert(got.isDefined, "RLIKE/NOT LIKE conjunction did not decompose")
    val atoms = got.get.collect { case r: LowCardAgg.RegexAtom => r }
    assert(atoms.length == 2)
    assert(!atoms(0).fullMatch && !atoms(0).negated) // RLIKE = find
    assert(atoms(1).fullMatch && atoms(1).negated)   // NOT LIKE = !matches
    // invalid pattern → None keeps the stock path (error parity)
    assert(LowCardAgg.decomposeFilter(RLike(a, u("([")), Seq(a)).isEmpty)
  }

  test("the exchange above the operator shrinks to the configured count") {
    gated {
      val df = t.groupBy("klong").agg(count(lit(1)).as("n"))
      df.collect()
      // the adaptive node hides its stages from collect — assert on the
      // final plan's rendered exchange partitioning
      val plan = df.queryExecution.executedPlan.toString
      val parts = "hashpartitioning\\([^)]*, (\\d+)\\)".r
        .findAllMatchIn(plan).map(_.group(1).toInt).toSeq
      assert(parts.nonEmpty && parts.forall(_ <= 4), s"$parts\n$plan")
    }
  }

  test("direct-address key table: out-of-range keys disable it seamlessly") {
    import spark.implicits._
    // negative keys and keys past the 2^21 direct cap arrive AFTER dense
    // ones: groups created through the direct table must stay findable
    // by the generic probe once the shortcut disables mid-stream
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_dir").toString
    (0L until 40000L).map { i =>
      val k = if (i % 7 == 0) -(i % 50) - 1
              else if (i % 11 == 0) 3000000L + (i % 40)
              else i % 300
      (k, i % 1000)
    }.toDF("k", "v").repartition(3).write.mode("overwrite").parquet(dir)
    val nd = fixture(dir)
    assertSame(nd.groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("s")))
  }

  test("expression aggregate inputs: vectorized computed-column path") {
    // the revenue shape + mixed-width operands (double, float, long)
    assertSame(t.groupBy("kint").agg(
      sum(col("vd") * (lit(1.0) - col("vf"))).as("rev"),
      avg(col("vd") + col("vl")).as("a"),
      count(lit(1)).as("n")))
    // global + filter + NULL-propagating expression (vd or vl NULL)
    assertSame(t.filter(col("kint") =!= 2).agg(
      sum(col("vd") * col("vl")).as("s"), count(lit(1)).as("n")))
    // nested arithmetic + subtraction ordering
    assertSame(t.groupBy("kshort").agg(
      sum((col("vd") - col("vl")) * (col("vf") + lit(2.5))).as("x"),
      avg(col("vd") + col("vd")).as("a2")))
    // a shape the compiler rejects (division: ANSI error-on-zero
    // semantics) bails to stock rather than mis-evaluating
    assertSame(t.groupBy("kint").agg(
      sum(col("vd") / (col("vl") + lit(1))).as("s")),
      expectFire = false)
  }

  test("vector computed inputs: narrowing casts / integral math bail") {
    // narrowing cast double→int truncates in Spark; a read-as-double
    // no-op would return wrong sums — must bail to stock
    assertSame(t.groupBy("kint").agg(
      sum(col("vd").cast("int").cast("double")).as("s")),
      expectFire = false)
    // int→float rounds to float precision (values past 2^24) — a
    // keep-double no-op diverges, must bail
    assertSame(t.filter(col("rid") > 16777).groupBy("kint").agg(
      sum((col("rid") * lit(1001L)).cast("int").cast("float")
        .cast("double")).as("s")),
      expectFire = false)
    // integral-typed arithmetic under a widening cast uses wrapping
    // long semantics (exact beyond 2^53) — must bail
    assertSame(t.groupBy("kint").agg(
      sum((col("vl") * col("rid") * col("rid")).cast("double")).as("s")),
      expectFire = false)
    // but genuinely widening shapes still compile and fire
    assertSame(t.groupBy("kint").agg(
      sum(col("vl").cast("double") * col("vd")).as("s"),
      avg(col("vf").cast("double") + col("vd")).as("a")))
  }

  test("grouping-free (global) aggregates fire: plain, filtered, empty") {
    assertSame(t.agg(count(lit(1)).as("n"), sum(col("vl")).as("s"),
      avg(col("vd")).as("a"), min(col("vl")).as("mn"),
      max(col("vd")).as("mx")))
    assertSame(t.filter(col("vd") > 100)
      .agg(count(lit(1)).as("n"), sum(col("vd")).as("s")))
    // empty input: the final aggregate still emits the initial row
    assertSame(t.filter(col("vd") > 1e9)
      .agg(count(lit(1)).as("n"), sum(col("vd")).as("s")))
  }

  test("two string keys fire under the default budget; three bail") {
    // budget 2 (dictionary fast path, round-9 addendum)
    assertSame(t.groupBy("kshort", "klongstr").agg(count(lit(1)).as("n")))
    // a third string key is over the budget, though its NDV product is
    // far under the gate's bound
    assertSame(t.groupBy("kshort", "klongstr", "kstr3")
      .agg(count(lit(1)).as("n")), expectFire = false)
  }

  test("distinct/decimal shapes bail to stock") {
    // a distinct the bitmap rule leaves alone (its stock plan) stays stock
    PlanRules.withConf(spark, PlanRules.excluded(DistinctToBitmap)) {
      assertSame(t.groupBy("klong").agg(
        countDistinct(col("kint")).as("d")), expectFire = false)
    }
    assertSame(t.groupBy("klong").agg(
      sum(col("vl").cast("decimal(20,2)")).as("s")), expectFire = false)
  }

  test("fuzz: random key/agg/null/filter shapes agree force-vs-off") {
    import spark.implicits._
    val rnd = new scala.util.Random(
      sys.env.getOrElse("GRAFT_FUZZ_SEED", "190815").toLong)
    for (trial <- 1 to 6) {
      val n = 5000 + rnd.nextInt(15000)
      val keyMod = 1 + rnd.nextInt(500)
      val nullEvery = 2 + rnd.nextInt(40)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_lc_fuzz$trial").toString
      (0L until n.toLong).map { i =>
        val k1 = rnd.nextInt(3) match {
          case 0 => (i % keyMod) - keyMod / 3        // negatives hit the
          case 1 => i % keyMod                       // direct fallback
          case _ => 2500000L + i % keyMod            // past the cap
        }
        (if (i % nullEvery == 0) None else Some(k1),
          s"s${i % (1 + rnd.nextInt(20))}",
          if (i % 13 == 0) None else Some(rnd.nextInt(1000)),
          rnd.nextDouble() * 200 - 100)
      }.toDF("k", "ks", "vl", "vd")
        .repartition(1 + rnd.nextInt(6))
        .write.mode("overwrite").parquet(dir)
      val df = fixture(dir)
      // double sums/avgs rounded: partial-merge arrival order is not
      // deterministic across the two plans, so raw doubles may differ
      // in the last ulp — that is merge-order noise, not a bug
      val aggsAll = Seq(
        count(lit(1)).as("n"), count(col("vl")).as("nv"),
        sum(col("vl")).as("sl"), round(sum(col("vd")), 6).as("sd"),
        round(avg(col("vd")), 6).as("ad"), min(col("vl")).as("mn"),
        max(col("vd")).as("mx"))
      val chosen = rnd.shuffle(aggsAll).take(1 + rnd.nextInt(aggsAll.size))
      val keys: Seq[String] = rnd.nextInt(4) match {
        case 0 => Seq("k")
        case 1 => Seq("ks")
        case 2 => Seq("k", "ks")
        case _ => Seq.empty // global
      }
      // drawn ONCE: q is re-evaluated for both sides and must be the
      // same query (an inner nextInt here made base and force diverge —
      // the fuzz's first catch was its own bug)
      val filterPick = rnd.nextInt(5)
      def q = {
        val base = filterPick match {
          case 0 => df.filter(col("vd") > -20)
          case 1 => df.filter(col("ks").rlike("^s1[0-9]?$") &&
            col("vd") > -50) // RegexAtom find over the dict-backed col
          case 2 => df.filter(!col("ks").like("%s%1%")) // negated multi-%
          case _ => df
        }
        if (keys.isEmpty) base.agg(chosen.head, chosen.tail: _*)
        else base.groupBy(keys.map(col): _*).agg(chosen.head, chosen.tail: _*)
      }
      val seedMsg =
        s"trial=$trial keys=$keys aggs=${chosen.size} filter=$filterPick"
      val base = stock(q.collect().map(_.toString).sorted)
      gated {
        val got = q.collect().map(_.toString).sorted
        assert(got.sameElements(base),
          s"$seedMsg\nbase=${base.take(8).mkString(" | ")}\n" +
          s"got =${got.take(8).mkString(" | ")}")
      }
    }
  }

  test("string keys WITHOUT parquet dictionaries: fallback path, same rows") {
    // parquet dictionary-encodes strings by default, so every other
    // string test exercises the dictionary-id fast path; force plain
    // encoding to pin the per-row extraction fallback
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_nodict").toString
    t.write.mode("overwrite")
      .option("parquet.enable.dictionary", "false").parquet(dir)
    val nd = fixture(dir)
    val base = stock(nd.groupBy("kshort", "klongstr")
      .agg(count(lit(1)).as("n"), sum(col("vd")).as("s"),
        min(col("kdate")).as("d"))
      .collect().map(_.toString).sorted)
    gated {
      val df = nd.groupBy("kshort", "klongstr")
        .agg(count(lit(1)).as("n"), sum(col("vd")).as("s"),
          min(col("kdate")).as("d"))
      val got = df.collect().map(_.toString).sorted
      assert(df.queryExecution.executedPlan.toString.contains("LowCardAgg"))
      assert(got.sameElements(base))
    }
  }

  test("dictionary and plain encodings of the same data agree under force") {
    val plainDir = java.nio.file.Files.createTempDirectory("graft_lc_pe").toString
    t.write.mode("overwrite")
      .option("parquet.enable.dictionary", "false").parquet(plainDir)
    gated {
      // plain files are larger than dictionary files, so maxPartitionBytes
      // can pack them into different splits → different partial-agg merge
      // order → double AVG differs in the last ulps; keys/counts compare
      // exactly, the average with fp tolerance
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("kshort").agg(avg(col("vd")).as("a"), count(lit(1)).as("n"))
          .collect().map(r => (Option(r.getString(0)).getOrElse(" <null>"),
            r.getDouble(1), r.getLong(2)))
          .sortBy(_._1)
      val q1 = rows(t)
      val q2 = rows(fixture(plainDir))
      assert(q1.length == q2.length)
      q1.zip(q2).foreach { case ((k1, a1, n1), (k2, a2, n2)) =>
        assert(k1 == k2 && n1 == n2, s"($k1,$n1) vs ($k2,$n2)")
        assert(math.abs(a1 - a2) <= 1e-9 * math.max(1.0, math.abs(a2)),
          s"avg diverged beyond fp tolerance for $k1: $a1 vs $a2")
      }
    }
  }
}
