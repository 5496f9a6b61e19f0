package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end statement lifecycle over real testdata, mirroring the
  * reference's integration suite shapes (`tests/integration/extract.py`,
  * `load.py`, `object_identifiers.py`). */
class SessionSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def newSession(): GraftSession = {
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s
  }

  test("simple aggregate query end to end") {
    val s = newSession()
    val df = s.sql(
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1")
    assert(df.count() == 5)
  }

  test("per-statement cost line has the reference's shape") {
    val s = newSession()
    s.sql("SELECT count(*) AS n FROM orders").collect()
    assert(s.lastQueryLog.matches(
      raw"Run locally on Spark: ~ \$$\d+\.\d{6}"), s.lastQueryLog)
  }

  test("identifier case-insensitivity: upper/lower/qualified variants") {
    val s = newSession()
    for (name <- Seq("ORDERS", "orders", "Orders", "graft.public.orders",
                     "PUBLIC.ORDERS", "\"ORDERS\"")) {
      val df = s.sql(s"SELECT count(*) AS n FROM $name")
      assert(df.collect()(0).getLong(0) == 1500, s"failed for $name")
    }
  }

  test("snowflake dialect: colon paths, :: casts, IFF") {
    val s = newSession()
    val df = s.sql(
      """SELECT event_type, props:k::int AS k,
         IFF(value > 100, 'hi', 'lo') AS tier
         FROM events WHERE event_id <= 10 ORDER BY event_id""")
    val rows = df.collect()
    assert(rows.length == 11)
    assert(Set("hi", "lo").contains(rows(0).getAs[String]("tier")))
  }

  test("ASOF JOIN SQL takes the union+window plan: no join, one hash shuffle") {
    val s = newSession()
    val df = s.sql("""
      WITH p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
           v AS (SELECT event_id AS view_id, user_id, ts FROM events
                 WHERE event_type = 'view')
      SELECT p.event_id, p.user_id, v.view_id
      FROM p ASOF JOIN v MATCH_CONDITION(p.ts >= v.ts)
        ON p.user_id = v.user_id
      ORDER BY p.event_id""")
    // the whole point of the union+window emission: ZERO join operators,
    // so Spark's nested-loop decorrelation can never enter the plan
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"expected no joins:\n${df.queryExecution.optimizedPlan}")
    // one hash exchange for the window partition + one range for ORDER BY
    val physical = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = physical.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.size <= 2, s"expected <=2 exchanges, got ${exchanges.size}")
    // and the result matches the correlated-LATERAL fallback (the
    // schema-free rewrite, still what unsupported shapes run through)
    val lateralSql = SnowflakeRewriter.rewrite("""
      WITH p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase' AND user_id < 40),
           v AS (SELECT event_id AS view_id, user_id, ts FROM events
                 WHERE event_type = 'view' AND user_id < 40)
      SELECT p.event_id, p.user_id, v.view_id
      FROM p ASOF JOIN v MATCH_CONDITION(p.ts >= v.ts)
        ON p.user_id = v.user_id
      ORDER BY p.event_id""")
    assert(lateralSql.toUpperCase.contains("LATERAL"))
    val bounded = s.sql("""
      WITH p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase' AND user_id < 40),
           v AS (SELECT event_id AS view_id, user_id, ts FROM events
                 WHERE event_type = 'view' AND user_id < 40)
      SELECT p.event_id, p.user_id, v.view_id
      FROM p ASOF JOIN v MATCH_CONDITION(p.ts >= v.ts)
        ON p.user_id = v.user_id
      ORDER BY p.event_id""").collect().toSeq
    val viaLateral = graft.engine.TableResolver
      .resolveAndSubstitute(lateralSql, s)
    assert(s.spark.sql(viaLateral).collect().toSeq == bounded)
  }

  test("EagerAggregation fires through a plain session: auto stats, no ANALYZE") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
    // inject the rules GraftExtensions would register (specs share one
    // JVM session where spark.sql.extensions is ignored); AttachStats
    // must precede EagerAggregation in the batch
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.EagerAggregation))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++
          Seq(graft.engine.AutoStats.AttachStats, graft.plans.EagerAggregation)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // plain session: no ANALYZE anywhere — ensureView's lazy AutoStats
      // pass provides rowCount+ndv, and events has ~66 rows per user_id
      // at sf0.001 (≥ the gate's 16×)
      val s = newSession()
      val df = s.sql("""
        SELECT c.c_name, sum(e.value::double) AS total
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_name ORDER BY c.c_name""")
      def isPreAgg(p: LogicalPlan): Boolean = p match {
        case _: Aggregate => true
        case Project(_, _: Aggregate) => true
        case _ => false
      }
      val fired = df.queryExecution.optimizedPlan.collect {
        case j: Join if isPreAgg(j.left) || isPreAgg(j.right) => j
      }
      assert(fired.nonEmpty,
        s"eager aggregation did not fire:\n${df.queryExecution.optimizedPlan}")
      // and the result matches Spark's plan with the rule excluded
      val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      s.spark.conf.set("spark.sql.optimizer.excludedRules",
        graft.plans.EagerAggregation.ruleName)
      val base = s.sql("""
        SELECT c.c_name, sum(e.value::double) AS total
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_name ORDER BY c.c_name""")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == base.map(_._1))
      got.zip(base).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-6 * math.max(1.0, math.abs(b))) }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("CTAS records stats during the write job; plans see rowCount") {
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.EagerAggregation))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++
          Seq(graft.engine.AutoStats.AttachStats, graft.plans.EagerAggregation)
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE obs_t AS SELECT o_orderkey, o_custkey FROM orders")
    // the write's Observation produced the stats — no ANALYZE, no
    // second scan; CBO (enabled by the session) carries them to plans
    val df = s.sql("SELECT * FROM obs_t")
    // .stats reads SQLConf from the ACTIVE session (thread-local): make the
    // session clone active so its cbo.enabled governs the stats visitor,
    // as it does during the session's own query execution
    val active = SparkSession.getActiveSession
    val stats =
      try { SparkSession.setActiveSession(s.spark); df.queryExecution.optimizedPlan.stats }
      finally active.foreach(SparkSession.setActiveSession)
    assert(stats.rowCount.contains(BigInt(1500)),
      s"expected write-time rowCount, got ${stats.rowCount}")
  }

  test("CLUSTER BY bucketed tables: SQL join plans with zero exchanges") {
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = newSession()
      s.sql("""CREATE OR REPLACE TABLE ob CLUSTER BY (custkey) INTO 4 BUCKETS
        AS SELECT o_orderkey, o_custkey AS custkey, o_totalprice FROM orders""")
      s.sql("""CREATE OR REPLACE TABLE cb CLUSTER BY (custkey) INTO 4 BUCKETS
        AS SELECT c_custkey AS custkey, c_mktsegment FROM customer""")
      val df = s.sql(
        "SELECT ob.o_orderkey, cb.c_mktsegment FROM ob JOIN cb ON ob.custkey = cb.custkey")
      val expected = s.sql(
        """SELECT count(*) FROM orders o JOIN customer c
           ON o.o_custkey = c.c_custkey""").collect()(0).getLong(0)
      assert(df.count() == expected)
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed SQL join should not shuffle:\n$plan")
      // INSERT keeps the bucket alignment (spec replayed from the catalog)
      s.sql("INSERT INTO cb SELECT c_custkey + 100000, 'EXTRA' FROM customer")
      val df2 = s.sql(
        "SELECT ob.o_orderkey, cb.c_mktsegment FROM ob JOIN cb ON ob.custkey = cb.custkey")
      df2.collect()
      assert(!df2.queryExecution.executedPlan.toString.contains("Exchange"),
        "post-INSERT bucketed join should still be exchange-free")
      // the append left cb with 2 files per bucket, so Spark stops
      // trusting the bucket pre-sort and the join re-grows cb's Sort;
      // OPTIMIZE rewrites each bucket to one sorted file → the join
      // plans with zero Exchange AND zero Sort again
      import org.apache.spark.sql.execution.{SortExec, SparkPlan}
      def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: flatten(q.plan)
        case o => o +: o.children.flatMap(flatten)
      }
      def sorts(df: org.apache.spark.sql.DataFrame): Int =
        flatten(df.queryExecution.executedPlan)
          .collect { case s: SortExec => s }.size
      def exch(df: org.apache.spark.sql.DataFrame): Int =
        flatten(df.queryExecution.executedPlan).collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.size
      assert(sorts(df2) > 0,
        "expected the post-INSERT join to re-grow a sort (2 files/bucket)")
      val n2 = df2.count()
      s.sql("OPTIMIZE cb")
      val df3 = s.sql(
        "SELECT ob.o_orderkey, cb.c_mktsegment FROM ob JOIN cb ON ob.custkey = cb.custkey")
      df3.collect()
      assert(exch(df3) == 0,
        s"post-OPTIMIZE join should not shuffle:\n${df3.queryExecution.executedPlan}")
      assert(sorts(df3) == 0,
        s"post-OPTIMIZE join should not sort:\n${df3.queryExecution.executedPlan}")
      assert(df3.count() == n2, "OPTIMIZE must not change the row set")
      // ALTER TABLE … RECLUSTER is the same verb (Snowflake spelling)
      s.sql("INSERT INTO cb SELECT c_custkey + 200000, 'EXTRA2' FROM customer")
      s.sql("ALTER TABLE cb RECLUSTER")
      val df4 = s.sql(
        "SELECT ob.o_orderkey, cb.c_mktsegment FROM ob JOIN cb ON ob.custkey = cb.custkey")
      df4.collect()
      assert(exch(df4) == 0 && sorts(df4) == 0,
        s"post-RECLUSTER join should be exchange- and sort-free:\n${df4.queryExecution.executedPlan}")
      s.sql("DROP TABLE ob"); s.sql("DROP TABLE cb")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("CLUSTER BY guards: non-CTAS shapes and CLONE fail loudly") {
    val s = newSession()
    val e1 = intercept[IllegalArgumentException] {
      s.sql("CREATE TABLE t_bad CLUSTER BY (k) INTO 4 BUCKETS (k INT, v INT)")
    }
    assert(e1.getMessage.contains("CREATE TABLE … AS SELECT"))
    s.sql("""CREATE OR REPLACE TABLE src_b CLUSTER BY (o_orderkey)
      AS SELECT o_orderkey, o_totalprice FROM orders""")
    val e2 = intercept[IllegalArgumentException] {
      s.sql("CREATE TABLE src_b2 CLONE src_b")
    }
    assert(e2.getMessage.toLowerCase.contains("bucketed"))
    s.sql("DROP TABLE src_b")
  }

  test("forward ASOF JOIN (first right at-or-after) also takes the union+window plan") {
    val s = newSession()
    val df = s.sql("""
      WITH p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
           v AS (SELECT event_id AS view_id, user_id, ts FROM events
                 WHERE event_type = 'view')
      SELECT p.event_id, p.user_id, v.ts AS vts
      FROM p ASOF JOIN v MATCH_CONDITION(p.ts <= v.ts)
        ON p.user_id = v.user_id
      ORDER BY p.event_id""")
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"expected no joins:\n${df.queryExecution.optimizedPlan}")
    val physical = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = physical.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.size <= 2, s"expected <=2 exchanges, got ${exchanges.size}")
    assert(df.count() > 0)
  }

  test("USE DATABASE / SCHEMA change resolution") {
    val s = newSession()
    s.attachLake("/root/testdata/sf0.001", database = "OTHERDB", schema = "S2",
      names = Seq("region"))
    s.sql("USE DATABASE otherdb")
    s.sql("USE SCHEMA s2")
    assert(s.sql("SELECT count(*) AS n FROM region").collect()(0).getLong(0) == 5)
    assert(s.currentDatabase == "OTHERDB" && s.currentSchema == "S2")
  }

  test("CREATE TEMP TABLE AS SELECT, query it, DROP it") {
    val s = newSession()
    s.sql("CREATE TEMP TABLE big_orders AS SELECT * FROM orders WHERE o_totalprice > 300000")
    val n = s.sql("SELECT count(*) AS n FROM big_orders").collect()(0).getLong(0)
    assert(n > 0)
    s.sql("DROP TABLE big_orders")
    intercept[Exception] { s.sql("SELECT * FROM big_orders").collect() }
  }

  test("CREATE OR REPLACE VIEW over a join") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE VIEW cust_nation AS
             SELECT c_custkey, n_name FROM customer
             JOIN nation ON c_nationkey = n_nationkey""")
    assert(s.sql("SELECT count(*) AS n FROM cust_nation").collect()(0).getLong(0) == 150)
  }

  test("CREATE VIEW: CURRENT_DATABASE() and CURRENT_SCHEMA() take the session's values") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE VIEW ctx_v AS
             SELECT CURRENT_DATABASE() AS d, CURRENT_SCHEMA() AS sc""")
    val direct = s.sql("SELECT CURRENT_DATABASE() AS d, CURRENT_SCHEMA() AS sc")
      .collect()(0)
    val viaView = s.sql("SELECT d, sc FROM ctx_v").collect()(0)
    assert(direct.getString(0) == "GRAFT" && direct.getString(1) == "PUBLIC")
    assert(viaView.getString(0) == direct.getString(0) &&
      viaView.getString(1) == direct.getString(1), viaView.toString)
  }

  test("CREATE TABLE with column defs + INSERT INTO ... SELECT") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE summary (
              flag VARCHAR, total NUMBER(38,0))""")
    s.sql("""INSERT INTO summary
             SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1""")
    val rows = s.sql("SELECT * FROM summary ORDER BY flag").collect()
    assert(rows.length == 3)
    // appends accumulate
    s.sql("""INSERT INTO summary SELECT 'X', 0""")
    assert(s.sql("SELECT count(*) AS n FROM summary").collect()(0).getLong(0) == 4)
  }

  test("COPY INTO from a csv stage (SKIP_HEADER=1)") {
    val s = newSession()
    // build a csv stage from the region table
    val stageDir = Files.createTempDirectory("graft_stage").toString
    graft.Tables.load(spark, "/root/testdata/sf0.001", "region")
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$stageDir/initial_objects")
    s.sql(s"CREATE STAGE landing_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE region_ref (r_regionkey INT, r_name VARCHAR)")
    s.sql("""COPY INTO region_ref FROM @landing_stage/initial_objects
             FILE_FORMAT = (SKIP_HEADER = 1)""")
    val rows = s.sql("SELECT * FROM region_ref ORDER BY r_regionkey").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[String]("R_NAME")).contains("ASIA"))
  }

  test("COPY INTO and CLUSTER BY CTAS record stats with zero ANALYZE") {
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.EagerAggregation))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++
          Seq(graft.engine.AutoStats.AttachStats, graft.plans.EagerAggregation)
    val s = newSession()
    def planRowCount(sql: String): Option[BigInt] = {
      val df = s.sql(sql)
      val active = SparkSession.getActiveSession
      try { SparkSession.setActiveSession(s.spark)
            df.queryExecution.optimizedPlan.stats.rowCount }
      finally active.foreach(SparkSession.setActiveSession)
    }
    // CREATE (cols) anchors zero stats; the COPY write job observes the
    // batch and merges — rowCount live with no ANALYZE, no extra scan
    val stageDir = Files.createTempDirectory("graft_stage_stats").toString
    graft.Tables.load(spark, "/root/testdata/sf0.001", "region")
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$stageDir/r")
    s.sql(s"CREATE STAGE stats_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE r_stats (r_regionkey INT, r_name VARCHAR)")
    s.sql("""COPY INTO r_stats FROM @stats_stage/r
             FILE_FORMAT = (SKIP_HEADER = 1)""")
    assert(planRowCount("SELECT * FROM r_stats").contains(BigInt(5)),
      "COPY INTO should leave merged write-time stats")
    // a second (FORCE) load merges again: counts add
    s.sql("""COPY INTO r_stats FROM @stats_stage/r
             FILE_FORMAT = (SKIP_HEADER = 1) FORCE = TRUE""")
    assert(planRowCount("SELECT * FROM r_stats").contains(BigInt(10)),
      "second COPY should merge, not reset")
    // bucketed CTAS: stats travel the catalog's own channel
    // (alterTableStats) since AttachStats skips catalog tables
    s.sql("""CREATE OR REPLACE TABLE n_bkt CLUSTER BY (n_nationkey)
      AS SELECT n_nationkey, n_name FROM nation""")
    assert(planRowCount("SELECT * FROM n_bkt").contains(BigInt(25)),
      "CLUSTER BY CTAS should record catalog stats from the write job")
  }

  test("INSERT INTO ... VALUES and INSERT OVERWRITE") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE kv (k VARCHAR, v NUMBER(38,0))")
    s.sql("INSERT INTO kv VALUES ('a', 1), ('b', 2)")
    assert(s.sql("SELECT count(*) AS n FROM kv").collect()(0).getLong(0) == 2)
    s.sql("INSERT OVERWRITE INTO kv VALUES ('c', 3)")
    val rows = s.sql("SELECT k FROM kv ORDER BY k").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("c"))
  }

  test("INSERT INTO with explicit column list, reordered and partial") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE kv3 (k VARCHAR, v NUMBER(38,0), extra VARCHAR)")
    s.sql("INSERT INTO kv3 (v, k) VALUES (5, 'z')")
    val r = s.sql("SELECT k, v, extra FROM kv3").collect()(0)
    assert(r.getString(0) == "z" && r.getDecimal(1).longValue == 5L && r.isNullAt(2))
    s.sql("INSERT INTO kv3 (k, v, extra) SELECT 'y', 6, 'e'")
    assert(s.sql("SELECT count(*) AS n FROM kv3 WHERE extra = 'e'")
      .collect()(0).getLong(0) == 1)
    s.sql("DROP TABLE kv3")
  }

  test("COPY INTO from json files") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_json").toString
    graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .coalesce(1).write.mode("overwrite").json(s"$stageDir/j")
    s.sql(s"CREATE STAGE jstage URL='$stageDir'")
    s.sql("""CREATE OR REPLACE TABLE nation_j
             (n_nationkey INT, n_name VARCHAR, n_regionkey INT)""")
    s.sql("COPY INTO nation_j FROM @jstage/j FILE_FORMAT = (TYPE = JSON)")
    assert(s.sql("SELECT count(*) AS n FROM nation_j").collect()(0).getLong(0) == 25)
  }

  test("COPY INTO from avro files") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_avro").toString
    graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .coalesce(1).write.mode("overwrite")
      .format("org.apache.spark.sql.avro.AvroFileFormat").save(s"$stageDir/a")
    s.sql(s"CREATE STAGE astage URL='$stageDir'")
    s.sql("""CREATE OR REPLACE TABLE nation_a
             (n_nationkey INT, n_name VARCHAR, n_regionkey INT)""")
    s.sql("COPY INTO nation_a FROM @astage/a FILE_FORMAT = (TYPE = AVRO)")
    assert(s.sql("SELECT count(*) AS n FROM nation_a").collect()(0).getLong(0) == 25)
  }

  test("COPY INTO: SKIP_HEADER>1, multi NULL_IF, BINARY_FORMAT=HEX") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_opts").toString
    // hand-written csv: 2 header-ish lines to skip, NULL markers, hex binary
    Files.writeString(java.nio.file.Paths.get(stageDir, "d.csv"),
      """junk line one
        |junk line two
        |1,alpha,6162
        |2,NULL,6364
        |3,N/A,6566
        |""".stripMargin)
    s.sql(s"CREATE STAGE opt_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE opt_t (id INT, name VARCHAR, payload BINARY)")
    s.sql("""COPY INTO opt_t FROM @opt_stage/d.csv
             FILE_FORMAT = (SKIP_HEADER = 2, NULL_IF = ('NULL', 'N/A'),
                            BINARY_FORMAT = HEX)""")
    val rows = s.sql("SELECT * FROM opt_t ORDER BY id").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("NAME") == "alpha")
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1)) // both NULL_IF values
    assert(new String(rows(0).getAs[Array[Byte]]("PAYLOAD")) == "ab") // unhex
  }

  test("COPY INTO: SKIP_HEADER>1 over a 100-file stage plans ONE read") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_many").toString
    val files = (1 to 100).map { i =>
      val p = java.nio.file.Paths.get(stageDir, f"part$i%03d.csv")
      Files.writeString(p, s"hdr a\nhdr b\n$i,row$i\n${i + 1000},row${i + 1000}\n")
      p.toString
    }
    // plan shape: a single LogicalRDD-backed csv parse — node count must
    // not scale with file count (the old per-file union planned 99 Union
    // nodes and 100 separate text reads)
    val df = GraftSession.csvSkippingHeads(spark, files, 2, Map.empty,
      org.apache.spark.sql.types.StructType.fromDDL("id INT, name STRING"))
    val nodes = df.queryExecution.analyzed.collect { case n => n }.size
    assert(nodes <= 5, s"plan must stay bounded at 100 files; got $nodes nodes:\n" +
      df.queryExecution.analyzed.treeString)
    assert(!df.queryExecution.analyzed.toString.contains("Union"))
    // …and the session-level COPY loads every row with both heads dropped
    s.sql(s"CREATE STAGE many_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE many_t (id INT, name VARCHAR)")
    s.sql("COPY INTO many_t FROM @many_stage FILE_FORMAT = (SKIP_HEADER = 2)")
    assert(s.sql("SELECT count(*) AS n FROM many_t").collect()(0).getLong(0) == 200)
    assert(s.sql("SELECT count(*) AS n FROM many_t WHERE id IS NULL")
      .collect()(0).getLong(0) == 0, "no header line survived the skip")
  }

  test("COPY INTO: load history skips re-loads unless FORCE") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_hist").toString
    Files.writeString(java.nio.file.Paths.get(stageDir, "h.csv"), "1\n2\n3\n")
    s.sql(s"CREATE STAGE hist_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE hist_t (id INT)")
    s.sql("COPY INTO hist_t FROM @hist_stage/h.csv")
    // second COPY of the same file is a no-op by default (Snowflake
    // load-history semantics) …
    s.sql("COPY INTO hist_t FROM @hist_stage/h.csv")
    assert(s.sql("SELECT count(*) AS n FROM hist_t").collect()(0).getLong(0) == 3)
    // … and FORCE=TRUE re-loads
    s.sql("COPY INTO hist_t FROM @hist_stage/h.csv FORCE = TRUE")
    assert(s.sql("SELECT count(*) AS n FROM hist_t").collect()(0).getLong(0) == 6)
  }

  test("COPY INTO: SIZE_LIMIT bounds files, PURGE deletes loaded files") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_lim").toString
    Files.writeString(java.nio.file.Paths.get(stageDir, "a.csv"), "1\n2\n")
    Files.writeString(java.nio.file.Paths.get(stageDir, "b.csv"), "3\n4\n")
    s.sql(s"CREATE STAGE lim_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE lim_t (id INT)")
    // SIZE_LIMIT=1 byte: the first file always loads, the second is cut
    s.sql("COPY INTO lim_t FROM @lim_stage SIZE_LIMIT = 1")
    assert(s.sql("SELECT count(*) AS n FROM lim_t").collect()(0).getLong(0) == 2)
    // PURGE removes the source files it loaded
    s.sql("CREATE OR REPLACE TABLE purge_t (id INT)")
    s.sql("COPY INTO purge_t FROM @lim_stage/b.csv PURGE = TRUE")
    assert(s.sql("SELECT count(*) AS n FROM purge_t").collect()(0).getLong(0) == 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stageDir, "b.csv")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(stageDir, "a.csv")))
  }

  test("COPY INTO rejects unsupported option values loudly") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_rej").toString
    Files.writeString(java.nio.file.Paths.get(stageDir, "r.csv"), "1\n")
    s.sql(s"CREATE STAGE rej_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE rej_t (id INT)")
    intercept[Exception] {
      s.sql("""COPY INTO rej_t FROM @rej_stage/r.csv
               FILE_FORMAT = (ENABLE_OCTAL = TRUE)""")
    }
    intercept[Exception] {
      s.sql("""COPY INTO rej_t FROM @rej_stage/r.csv
               FILE_FORMAT = (SKIP_BLANK_LINES = FALSE)""")
    }
  }

  test("TRUNCATE TABLE empties but keeps schema; CLONE is zero-copy COW") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_tr AS SELECT * FROM region")
    // zero-copy clone points at the same snapshot…
    s.sql("CREATE TABLE t_cl CLONE t_tr")
    assert(s.sql("SELECT count(*) AS n FROM t_cl").collect()(0).getLong(0) == 5)
    // …then each side's DML lands on its own snapshot
    s.sql("TRUNCATE TABLE t_tr")
    assert(s.sql("SELECT count(*) AS n FROM t_tr").collect()(0).getLong(0) == 0)
    assert(s.sql("SELECT count(*) AS n FROM t_cl").collect()(0).getLong(0) == 5)
    // schema survives truncation: inserts still align
    s.sql("INSERT INTO t_tr SELECT * FROM region WHERE r_regionkey < 2")
    assert(s.sql("SELECT count(*) AS n FROM t_tr").collect()(0).getLong(0) == 2)
    s.sql("DROP TABLE t_tr"); s.sql("DROP TABLE t_cl")
  }

  test("CLONE isolation: INSERT / INSERT OVERWRITE / COPY never leak across") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE cl_src AS SELECT * FROM region")
    s.sql("CREATE TABLE cl_dst CLONE cl_src")
    // INSERT INTO the clone must not appear in the source
    s.sql("INSERT INTO cl_dst SELECT * FROM region WHERE r_regionkey = 0")
    assert(s.sql("SELECT count(*) AS n FROM cl_dst").collect()(0).getLong(0) == 6)
    assert(s.sql("SELECT count(*) AS n FROM cl_src").collect()(0).getLong(0) == 5)
    // INSERT OVERWRITE the source must not destroy the clone's data
    s.sql("INSERT OVERWRITE INTO cl_src SELECT * FROM region WHERE r_regionkey < 2")
    assert(s.sql("SELECT count(*) AS n FROM cl_src").collect()(0).getLong(0) == 2)
    assert(s.sql("SELECT count(*) AS n FROM cl_dst").collect()(0).getLong(0) == 6)
    // COPY INTO the source must not appear in the clone
    val stageDir = Files.createTempDirectory("graft_stage_cl").toString
    Files.writeString(java.nio.file.Paths.get(stageDir, "r.csv"),
      "7,EXTRA,x\n")
    s.sql(s"CREATE STAGE cl_stage URL='$stageDir'")
    s.sql("COPY INTO cl_src FROM @cl_stage/r.csv")
    assert(s.sql("SELECT count(*) AS n FROM cl_src").collect()(0).getLong(0) == 3)
    assert(s.sql("SELECT count(*) AS n FROM cl_dst").collect()(0).getLong(0) == 6)
    s.sql("DROP TABLE cl_src"); s.sql("DROP TABLE cl_dst")
  }

  test("TRUNCATE clears COPY load history so files reload") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_trunc").toString
    Files.writeString(java.nio.file.Paths.get(stageDir, "t.csv"), "1\n2\n")
    s.sql(s"CREATE STAGE tr_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE tr_hist (id INT)")
    s.sql("COPY INTO tr_hist FROM @tr_stage/t.csv")
    assert(s.sql("SELECT count(*) AS n FROM tr_hist").collect()(0).getLong(0) == 2)
    s.sql("TRUNCATE TABLE tr_hist")
    // Snowflake deletes load metadata on TRUNCATE: same file loads again
    s.sql("COPY INTO tr_hist FROM @tr_stage/t.csv")
    assert(s.sql("SELECT count(*) AS n FROM tr_hist").collect()(0).getLong(0) == 2)
    // DROP + re-CREATE under the same name also starts fresh
    s.sql("DROP TABLE tr_hist")
    s.sql("CREATE TABLE tr_hist (id INT)")
    s.sql("COPY INTO tr_hist FROM @tr_stage/t.csv")
    assert(s.sql("SELECT count(*) AS n FROM tr_hist").collect()(0).getLong(0) == 2)
  }

  test("COPY INTO: SIZE_LIMIT <= 0 still loads the first file") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_lim0").toString
    Files.writeString(java.nio.file.Paths.get(stageDir, "a.csv"), "1\n2\n")
    Files.writeString(java.nio.file.Paths.get(stageDir, "b.csv"), "3\n4\n")
    s.sql(s"CREATE STAGE lim0_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE lim0_t (id INT)")
    s.sql("COPY INTO lim0_t FROM @lim0_stage SIZE_LIMIT = 0")
    assert(s.sql("SELECT count(*) AS n FROM lim0_t").collect()(0).getLong(0) == 2)
  }

  test("time travel: BEFORE(STATEMENT => LAST_QUERY_ID()) sees pre-DML state") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE tt1 AS SELECT * FROM region")
    s.sql("DELETE FROM tt1 WHERE r_regionkey >= 2")
    val r = s.sql("""SELECT (SELECT count(*) FROM tt1) AS now_n,
      (SELECT count(*) FROM tt1 BEFORE(STATEMENT => LAST_QUERY_ID())) AS then_n""")
      .collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 5)
    // AT(STATEMENT => …) includes the statement's own change
    val r2 = s.sql("""SELECT count(*) AS n
      FROM tt1 AT(STATEMENT => LAST_QUERY_ID(-2))""").collect()(0)
    assert(r2.getLong(0) == 2) // state right after the DELETE
  }

  test("time travel: AT(TIMESTAMP) and AT(OFFSET) pick the right version") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE tt2 AS SELECT * FROM region")
    Thread.sleep(30)
    val mid = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(30)
    s.sql("DELETE FROM tt2 WHERE r_regionkey <> 0")
    assert(s.sql(s"SELECT count(*) AS n FROM tt2 AT(TIMESTAMP => '$mid')")
      .collect()(0).getLong(0) == 5)
    assert(s.sql("SELECT count(*) AS n FROM tt2 AT(OFFSET => 0)")
      .collect()(0).getLong(0) == 1)
    // travel before the table existed fails loudly
    intercept[Exception] {
      s.sql("SELECT * FROM tt2 AT(TIMESTAMP => '2000-01-01 00:00:00')").collect()
    }
  }

  test("time travel: in-place COPY/INSERT append invalidates older versions") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE tt3 AS SELECT * FROM region")
    s.sql("INSERT INTO tt3 SELECT * FROM region WHERE r_regionkey = 0")
    // the append mutated the snapshot dir: travel to pre-append must fail
    intercept[Exception] {
      s.sql("SELECT count(*) FROM tt3 BEFORE(STATEMENT => LAST_QUERY_ID())")
        .collect()
    }
    // but the current state still reads fine
    assert(s.sql("SELECT count(*) AS n FROM tt3").collect()(0).getLong(0) == 6)
  }

  test("UNDROP TABLE restores the dropped snapshot; blocked if re-created") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE und AS SELECT * FROM region")
    s.sql("DROP TABLE und")
    intercept[Exception] { s.sql("SELECT count(*) FROM und").collect() }
    s.sql("UNDROP TABLE und")
    assert(s.sql("SELECT count(*) AS n FROM und").collect()(0).getLong(0) == 5)
    // re-created name blocks UNDROP like Snowflake
    s.sql("DROP TABLE und")
    s.sql("CREATE TABLE und AS SELECT * FROM region WHERE r_regionkey = 0")
    intercept[Exception] { s.sql("UNDROP TABLE und") }
  }

  test("RESULT_SCAN(LAST_QUERY_ID()) re-reads a previous statement's result") {
    val s = newSession()
    s.sql("SELECT r_regionkey AS k, r_name FROM region WHERE r_regionkey < 3")
    val r = s.sql(
      "SELECT count(*) AS n FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))")
      .collect()(0)
    assert(r.getLong(0) == 3)
    // bare form (no TABLE wrapper) and column projection over the result
    s.sql("SELECT 41 + 1 AS answer")
    val r2 = s.sql("SELECT answer FROM RESULT_SCAN(LAST_QUERY_ID())")
      .collect()(0)
    assert(r2.getInt(0) == 42)
    // unknown qid fails loudly
    intercept[Exception] {
      s.sql("SELECT * FROM TABLE(RESULT_SCAN('01-bogus-000001'))").collect()
    }
  }

  test("ALTER TABLE: rename, add/drop/rename column on COW snapshots") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_alt AS SELECT r_regionkey, r_name FROM region")
    s.sql("ALTER TABLE t_alt ADD COLUMN note VARCHAR")
    val r1 = s.sql("SELECT * FROM t_alt ORDER BY r_regionkey").collect()(0)
    assert(r1.schema.fieldNames.map(_.toUpperCase).contains("NOTE"))
    assert(r1.isNullAt(r1.fieldIndex("NOTE")))
    s.sql("ALTER TABLE t_alt RENAME COLUMN note TO remark")
    assert(s.sql("SELECT remark FROM t_alt").columns.head
      .equalsIgnoreCase("REMARK"))
    s.sql("ALTER TABLE t_alt DROP COLUMN remark")
    assert(s.sql("SELECT * FROM t_alt").columns.length == 2)
    s.sql("ALTER TABLE t_alt RENAME TO t_alt2")
    assert(s.sql("SELECT count(*) AS n FROM t_alt2").collect()(0).getLong(0) == 5)
    intercept[Exception] { s.sql("SELECT count(*) FROM t_alt").collect() }
    s.sql("DROP TABLE t_alt2")
  }

  test("LIST @stage enumerates files with sizes") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_list").toString
    Files.writeString(java.nio.file.Paths.get(stageDir, "x.csv"), "1\n2\n")
    Files.writeString(java.nio.file.Paths.get(stageDir, "y.csv"), "3\n")
    s.sql(s"CREATE STAGE list_stage URL='$stageDir'")
    val rows = s.sql("LIST @list_stage").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).exists(_.endsWith("x.csv")))
    assert(rows.map(_.getLong(1)).sum == 6L)
  }

  test("named FILE FORMAT + COPY unload to stage round-trip") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_unload").toString
    s.sql(s"CREATE STAGE unload_stage URL='$stageDir'")
    s.sql("CREATE OR REPLACE FILE FORMAT my_csv TYPE = CSV FIELD_DELIMITER = '|'")
    // DESC STAGE surfaces the URL
    assert(s.sql("DESC STAGE unload_stage").collect()(0).getString(1) == stageDir)
    // unload a query result with the named format
    s.sql("""COPY INTO @unload_stage/out FROM (SELECT r_regionkey, r_name FROM region)
             FILE_FORMAT = (FORMAT_NAME = 'my_csv') HEADER = TRUE SINGLE = TRUE""")
    // …and load it back through the same named format
    s.sql("CREATE OR REPLACE TABLE region_u (r_regionkey INT, r_name VARCHAR)")
    s.sql("""COPY INTO region_u FROM @unload_stage/out
             FILE_FORMAT = (FORMAT_NAME = 'my_csv', SKIP_HEADER = 1)""")
    assert(s.sql("SELECT count(*) AS n FROM region_u").collect()(0).getLong(0) == 5)
    val asia = s.sql("SELECT r_name FROM region_u WHERE r_regionkey = 2")
      .collect()(0).getString(0)
    assert(asia == "ASIA")
  }

  test("CREATE FUNCTION: SQL macros expand (nested too) and DROP removes") {
    val s = newSession()
    s.sql("CREATE OR REPLACE FUNCTION disc_price(p NUMBER, d NUMBER) " +
      "RETURNS NUMBER AS 'p * (1 - d)'")
    s.sql("CREATE OR REPLACE FUNCTION double_disc(p NUMBER, d NUMBER) " +
      "RETURNS NUMBER AS 'disc_price(p, d) * 2'")
    val v = s.sql("SELECT round(double_disc(100, 0.1), 2) AS x")
      .collect()(0).get(0).toString.toDouble
    assert(v == 180.0, v)
    // the body is inlined, not a black-box UDF — the plan shows arithmetic
    val plan = s.sql("SELECT double_disc(o_totalprice, 0.5) AS x FROM orders")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), plan)
    // SHOW FUNCTIONS lists the session's SQL functions
    val fns = s.sql("SHOW FUNCTIONS").collect().map(_.getString(0))
    assert(fns.contains("DISC_PRICE") && fns.contains("DOUBLE_DISC"))
    s.sql("DROP FUNCTION double_disc")
    intercept[Exception] { s.sql("SELECT double_disc(1, 1) AS x").collect() }
  }

  test("EXPLAIN returns the formatted physical plan") {
    val s = newSession()
    val lines = s.sql("EXPLAIN SELECT count(*) FROM orders WHERE o_orderkey < 10")
      .collect().map(_.getString(0))
    assert(lines.exists(_.contains("Physical Plan")), lines.mkString("\n"))
    assert(lines.exists(_.contains("PushedFilters")), lines.mkString("\n"))
  }

  test("cloud-services statements no-op; ROLLBACK fails loudly") {
    val s = newSession()
    for (stmt <- Seq(
        "GRANT SELECT ON orders TO ROLE analyst",
        "COMMENT ON TABLE orders IS 'fact table'",
        "ALTER SESSION SET QUERY_TAG = 'etl'",
        "BEGIN", "COMMIT"))
      assert(s.sql(stmt).collect()(0).getString(0)
        .contains("executed successfully"), stmt)
    intercept[UnsupportedOperationException] { s.sql("ROLLBACK") }
    // engine still healthy afterwards
    assert(s.sql("SELECT 1 AS x").collect()(0).get(0).toString == "1")
  }

  test("concurrent sessions: same-named tables never cross-read") {
    // the ADVICE race: two sessions sharing one SparkSession could clobber
    // each other's temp views between substitution and execution; view
    // names are now session-unique, so same-named tables stay isolated
    // under real concurrency
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 2).map { sid =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            val s = newSession()
            s.sql(s"CREATE OR REPLACE TABLE shared_name AS SELECT $sid AS marker FROM region")
            (1 to 20).forall { _ =>
              s.sql("SELECT DISTINCT marker FROM shared_name")
                .collect().map(_.getInt(0)).toSeq == Seq(sid)
            }
          }
        })
      }
      assert(tasks.forall(_.get(120, java.util.concurrent.TimeUnit.SECONDS)))
    } finally pool.shutdown()
  }

  test("information_schema.tables and columns") {
    val s = newSession()
    val tabs = s.sql(
      "SELECT table_name FROM information_schema.tables WHERE table_schema = 'PUBLIC' ORDER BY table_name")
      .collect().map(_.getString(0))
    assert(tabs.contains("ORDERS") && tabs.contains("LINEITEM"))
    val cols = s.sql(
      """SELECT column_name, data_type FROM information_schema.columns
        | WHERE table_name = 'ORDERS' ORDER BY ordinal_position""".stripMargin)
      .collect()
    assert(cols.map(_.getString(0)).contains("o_orderkey"))
    assert(cols.exists(r => r.getString(1) == "FIXED"))
  }

  test("CURRENT_DATABASE and CURRENT_SCHEMA reflect session state") {
    val s = newSession()
    s.sql("USE SCHEMA graft.public")
    val r = s.sql("SELECT CURRENT_DATABASE() AS d, CURRENT_SCHEMA() AS sc, CURRENT_WAREHOUSE() AS w")
      .collect()(0)
    assert(r.getString(0) == "GRAFT" && r.getString(1) == "PUBLIC")
    assert(r.getString(2) == "x-spark")
  }

  test("error recovery: session stays usable after a failed statement") {
    val s = newSession()
    intercept[Exception] { s.sql("SELECT * FROM definitely_not_a_table") }
    intercept[Exception] { s.sql("SELEC syntax error") }
    assert(s.sql("SELECT count(*) AS n FROM orders").collect()(0).getLong(0) == 1500)
    // failed CREATE leaves no phantom registration
    intercept[Exception] { s.sql("CREATE TABLE bad_t AS SELECT * FROM missing_src") }
    intercept[Exception] { s.sql("SELECT * FROM bad_t") }
  }

  test("COPY INTO with FILES list") {
    val s = newSession()
    val stageDir = Files.createTempDirectory("graft_stage_files").toString
    val region = graft.Tables.load(spark, "/root/testdata/sf0.001", "region")
    region.filter("r_regionkey < 2").coalesce(1)
      .write.mode("overwrite").json(s"$stageDir/part_a")
    region.filter("r_regionkey >= 2").coalesce(1)
      .write.mode("overwrite").json(s"$stageDir/part_b")
    region.limit(1).coalesce(1)
      .write.mode("overwrite").json(s"$stageDir/ignored")
    s.sql(s"CREATE STAGE fstage URL='$stageDir'")
    s.sql("CREATE OR REPLACE TABLE region_f (r_regionkey INT, r_name VARCHAR)")
    s.sql("""COPY INTO region_f FROM @fstage
             FILES = ('part_a', 'part_b') FILE_FORMAT = (TYPE = JSON)""")
    assert(s.sql("SELECT count(*) AS n FROM region_f").collect()(0).getLong(0) == 5)
  }

  test("multi-statement batch returns last result") {
    val s = newSession()
    val df = s.sql(
      """USE DATABASE graft;
         CREATE TEMP TABLE t1 AS SELECT 1 AS a;
         SELECT a + 1 AS b FROM t1;""")
    assert(df.collect()(0).getInt(0) == 2)
  }

  test("SHOW TABLES / SCHEMAS / DATABASES") {
    val s = newSession()
    val tables = s.sql("SHOW TABLES").collect().map(_.getString(0))
    assert(tables.contains("ORDERS") && tables.contains("LINEITEM"))
    val schemas = s.sql("SHOW SCHEMAS").collect().map(_.getString(0))
    assert(schemas.contains("PUBLIC"))
    val dbs = s.sql("SHOW DATABASES").collect().map(_.getString(0))
    assert(dbs.contains("GRAFT"))
  }

  test("table(to_query()) hybrid unwrap") {
    val s = newSession()
    val df = s.sql(
      "SELECT * FROM table(to_query('SELECT count(*) AS n FROM orders'))")
    assert(df.collect()(0).getLong(0) == 1500)
  }

  test("CTE aliases are not resolved as lake tables") {
    val s = newSession()
    val df = s.sql(
      """WITH orders AS (SELECT 1 AS x) SELECT * FROM orders""")
    // CTE shadows the lake table, Snowflake-style
    assert(df.collect()(0).getInt(0) == 1)
  }

  test("current_warehouse() UDF") {
    val s = newSession()
    assert(s.sql("SELECT current_warehouse() AS w").collect()(0).getString(0)
      == "x-spark")
  }

  test("DESCRIBE TABLE surfaces snowflake-typed columns") {
    val s = newSession()
    val rows = s.sql("DESCRIBE TABLE orders").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("o_orderkey") == "FIXED(38,0)")
    assert(rows("o_orderstatus") == "TEXT")
    assert(rows("o_orderdate") == "TIMESTAMP_NTZ")
  }

  test("arrow wire: rowsetBase64 round-trips through ArrowStreamReader") {
    val s = newSession()
    val df = s.sql(
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10")
    val (b64, rowtype, rest) = SnowflakeTypes.toRowsetChunked(df, 1000)
    assert(rest.isEmpty)
    assert(rowtype.map(_.logicalType) == Seq("FIXED", "REAL"))
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      var n = 0
      while (reader.loadNextBatch())
        n += reader.getVectorSchemaRoot.getRowCount
      assert(n == 10)
      assert(reader.getVectorSchemaRoot.getSchema.getFields.size() == 2)
    } finally { reader.close(); alloc.close() }
  }

  test("arrow source: IPC stream round-trips back into a DataFrame") {
    val s = newSession()
    val df = s.sql(
      "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 20")
    val chunks = org.apache.spark.sql.GraftArrow
      .toArrowIpcStreamChunks(df, Map.empty, 1000).toList
    assert(chunks.map(_._1) == List(20L))
    val bytes = chunks.head._2
    val back = org.apache.spark.sql.GraftArrow.fromArrowIpcStream(spark, bytes)
    assert(back.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderpriority", "o_totalprice"))
    val a = df.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("TABLESAMPLE rewrites and runs") {
    val s = newSession()
    val n = s.sql("SELECT count(*) AS n FROM (SELECT * FROM orders SAMPLE (10 ROWS))")
      .collect()(0).getLong(0)
    assert(n == 10)
    val pct = s.sql("SELECT count(*) AS n FROM (SELECT * FROM orders TABLESAMPLE BERNOULLI (50))")
      .collect()(0).getLong(0)
    assert(pct > 0 && pct < 1500)
  }

  test("CREATE SEQUENCE: NEXTVAL draws unique step-aligned values") {
    val s = newSession()
    s.sql("CREATE SEQUENCE ids START = 10 INCREMENT = 3")
    val a = s.sql("SELECT IDS.NEXTVAL AS v FROM nation")
      .collect().map(_.getLong(0))
    val b = s.sql("SELECT ids.nextval AS v FROM nation")
      .collect().map(_.getLong(0))
    val all = a ++ b
    assert(all.length == 50 && all.distinct.length == 50,
      "values must be unique across statements")
    assert(all.forall(v => v >= 10 && (v - 10) % 3 == 0),
      "values must be step-aligned to the increment from START")
    // NEXTVAL inside a string literal is untouched
    val lit = s.sql("SELECT 'ids.nextval' AS t").collect()(0).getString(0)
    assert(lit == "ids.nextval")
    val shown = s.sql("SHOW SEQUENCES").collect()
    assert(shown.exists(r => r.getString(0) == "IDS" &&
      r.getString(3) == "START 10 INCREMENT 3"))
    s.sql("DROP SEQUENCE ids")
    intercept[Exception] { s.sql("SELECT ids.nextval FROM nation").collect() }
  }

  test("QUERY_HISTORY table function: per-statement duration + cost") {
    val s = newSession()
    s.sql("SELECT count(*) AS n FROM orders").collect()
    s.sql("SELECT 1 AS one").collect()
    val h = s.sql(
      "SELECT * FROM TABLE(INFORMATION_SCHEMA.QUERY_HISTORY())").collect()
    assert(h.length >= 2)
    assert(h.head.schema.fieldNames.toSeq == Seq("QUERY_ID", "QUERY_TEXT",
      "START_TIME", "TOTAL_ELAPSED_TIME", "COST_ESTIMATE"))
    // most recent first; the SELECT 1 is the latest completed statement
    assert(h(0).getString(1) == "SELECT 1 AS one")
    assert(h(1).getString(1).contains("count(*)"))
    assert(h.forall(_.getLong(3) >= 0))
    assert(h.forall(_.getString(4).startsWith("~ $")))
    // bare form + RESULT_LIMIT; a string literal mentioning the function
    // must survive the substitution
    val lim = s.sql("SELECT QUERY_TEXT, 'QUERY_HISTORY()' AS lit FROM " +
      "TABLE(QUERY_HISTORY(RESULT_LIMIT => 1))").collect()
    assert(lim.length == 1 && lim(0).getString(1) == "QUERY_HISTORY()")
  }

  test("TRUNC/DATE_TRUNC preserve the input type for every part") {
    // ADVICE r13 #1: Spark's trunc NULLs sub-month parts and demotes
    // TIMESTAMP → DATE; date_trunc promotes DATE → TIMESTAMP. Snowflake
    // (and DuckDB, where the reference executes) are type-polymorphic.
    val s = newSession()
    val df = s.sql("""
      SELECT TRUNC('2024-03-15 13:45:30'::timestamp, day) AS t_day,
             TRUNC('2024-03-15 13:45:30'::timestamp, hh) AS t_hh,
             TRUNC('2024-03-15'::date, month) AS d_mon,
             TRUNC('2024-03-15'::date, 'DD') AS d_day,
             DATE_TRUNC('minute', '2024-03-15 13:45:30'::timestamp) AS t_min,
             DATE_TRUNC(wk, '2024-03-15'::date) AS d_wk""")
    // this engine's ::timestamp is TIMESTAMP_NTZ (Snowflake's default
    // TIMESTAMP flavor) — the point is the flavor survives truncation
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    val sch = df.schema
    assert(sch("t_day").dataType == TimestampNTZType, sch)
    assert(sch("t_hh").dataType == TimestampNTZType, sch)
    assert(sch("d_mon").dataType == DateType, sch)
    assert(sch("d_day").dataType == DateType, sch)
    assert(sch("t_min").dataType == TimestampNTZType, sch)
    assert(sch("d_wk").dataType == DateType, sch)
    val r = s.sql("""
      SELECT TRUNC('2024-03-15 13:45:30'::timestamp, day)::varchar,
             TRUNC('2024-03-15 13:45:30'::timestamp, hh)::varchar,
             TRUNC('2024-03-15'::date, month)::varchar,
             TRUNC('2024-03-15'::date, 'DD')::varchar,
             DATE_TRUNC('minute', '2024-03-15 13:45:30'::timestamp)::varchar,
             DATE_TRUNC(wk, '2024-03-15'::date)::varchar""").collect()(0)
    assert(r.getString(0) == "2024-03-15 00:00:00", r)
    assert(r.getString(1) == "2024-03-15 13:00:00", r)
    assert(r.getString(2) == "2024-03-01", r)
    assert(r.getString(3) == "2024-03-15", r)
    assert(r.getString(4) == "2024-03-15 13:45:00", r)
    assert(r.getString(5) == "2024-03-11", r) // Monday of that ISO week
  }

  test("WITHIN GROUP sort key may be a column literally named last") {
    // ADVICE r13 #2: a trailing identifier first/last is only the NULLS
    // modifier when preceded by the word NULLS
    val s = newSession()
    val df = s.sql("""
      WITH t AS (SELECT 1 AS g, 3 AS last, 'c' AS v UNION ALL
                 SELECT 1, 1, 'a' UNION ALL SELECT 1, 2, 'b')
      SELECT LISTAGG(v, ',') WITHIN GROUP (ORDER BY last) AS l
      FROM t GROUP BY g""")
    assert(df.collect()(0).getString(0) == "a,b,c")
    val desc = s.sql("""
      WITH t AS (SELECT 1 AS g, 3 AS first, 'c' AS v UNION ALL
                 SELECT 1, 1, 'a' UNION ALL SELECT 1, 2, 'b')
      SELECT LISTAGG(v, ',') WITHIN GROUP (ORDER BY first DESC) AS l
      FROM t GROUP BY g""")
    assert(desc.collect()(0).getString(0) == "c,b,a")
  }

  test("single-evaluation lowerings keep their Snowflake semantics") {
    // values must be unchanged by the With-bound forms (r13 directive #5)
    val s = newSession()
    val r = s.sql("""
      SELECT DIV0(10, 0) AS a, DIV0(10, 2)::double AS b,
             DIV0(NULL, 2) AS c, DIV0(10, NULL) AS d,
             DIV0NULL(10, NULL) AS e, DIV0NULL(10, 0) AS f,
             TRUNC(0.29, 2)::varchar AS g, TRUNC(-5.7)::varchar AS h,
             TRUNC(123.456, -2)::varchar AS i,
             SPLIT_PART('a,b,c', ',', 0) AS j,
             SPLIT_PART('a,b,c', ',', -1) AS k,
             DATEDIFF(month, '2023-12-31'::date, '2024-01-01'::date) AS l,
             DATEDIFF(quarter, '2023-11-15'::date, '2024-02-01'::date) AS m
    """).collect()(0)
    assert(r.get(0).toString.toDouble == 0.0, r)
    assert(r.getDouble(1) == 5.0, r)
    assert(r.isNullAt(2) && r.isNullAt(3), r)
    assert(r.get(4).toString.toDouble == 0.0, r)
    assert(r.get(5).toString.toDouble == 0.0, r)
    // exact decimal path: 0.29, not the double artifact 0.28 (the
    // division's result scale pads zeros — compare numerically)
    assert(BigDecimal(r.getString(6)) == BigDecimal("0.29"), r)
    assert(BigDecimal(r.getString(7)) == BigDecimal(-5), r)
    assert(BigDecimal(r.getString(8)) == BigDecimal(100), r)
    assert(r.getString(9) == "a", r)    // part 0 means part 1
    assert(r.getString(10) == "c", r)   // negative counts from the end
    assert(r.getLong(11) == 1L, r)      // boundary count, not full months
    assert(r.getLong(12) == 1L, r)
    // a nondeterministic divisor: guard and divide see the SAME draw,
    // so the result can never be a divide-by-zero artifact of a second
    // draw — every row is either 0 (zero divisor) or a finite quotient
    val nd = s.sql("""
      SELECT DIV0(1, CAST(random() * 2 AS INT)) AS q
      FROM orders LIMIT 500""").collect()
    assert(nd.forall(row => row.isNullAt(0) ||
      !row.get(0).toString.toLowerCase.contains("inf")), "no infinities")
  }

  test("result wire typing: rowtype + complex-to-json") {
    val s = newSession()
    val df = s.sql("SELECT ARRAY_CONSTRUCT(1,2,3) AS arr, 1::int AS n")
    val rt = SnowflakeTypes.rowType(df)
    assert(rt.head.logicalType == "ARRAY")
    assert(rt(1).logicalType == "FIXED")
    val wire = SnowflakeTypes.toWire(df).collect()(0)
    assert(wire.getString(0) == "[1,2,3]")
  }

  test("CREATE TABLE column list: quoted names may hold spaces and commas") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_qcols (\"my col\" INT, \"a,b\" STRING)")
    assert(s.sql("SELECT * FROM t_qcols").schema.fieldNames.toSeq == Seq("my col", "a,b"))
    s.sql("INSERT INTO t_qcols VALUES (7, 'x')")
    val r = s.sql("SELECT \"my col\", \"a,b\" FROM t_qcols").collect()
    assert(r.map(x => (x.getInt(0), x.getString(1))).toSeq == Seq((7, "x")))
    s.sql("DROP TABLE t_qcols")
  }
}
