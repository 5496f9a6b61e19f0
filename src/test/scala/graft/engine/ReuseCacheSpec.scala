package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Snowflake-style result reuse (USE_CACHED_RESULT): hit/miss mechanics,
  * write-invalidation of persisted anchors, and the session-parameter
  * syntax. The invalidation cases pin the ADVICE-r6 fix: once a reuse
  * persists its anchor plan, Spark's CacheManager substitutes the cached
  * blocks into ANY later statement embedding the same subplan, so a base
  * write must evict eagerly — the fingerprint re-check alone only guards
  * re-runs of the identical text. */
class ReuseCacheSpec extends AnyFunSuite {

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

  test("identical SELECT over unchanged base reuses the previous result") {
    val s = newSession()
    val q = "SELECT count(*) AS n FROM orders"
    s.sql(q).collect()
    assert(!s.lastResultReused, "first execution computes")
    val n = s.sql(q).collect()(0).getLong(0)
    assert(s.lastResultReused, "second execution must be a cache hit")
    assert(n == 1500)
  }

  test("base write evicts reuse entries: embedding statements see fresh data") {
    val s = newSession()
    s.sql("CREATE TABLE rc_t AS SELECT n_nationkey AS k FROM nation")
    val q = "SELECT sum(k) AS sk FROM rc_t"
    val before = s.sql(q).collect()(0).getLong(0)     // computes, registers
    s.sql(q).collect()                                 // reuse: persists anchor
    assert(s.lastResultReused)
    s.sql(q).collect()                                 // populates cached blocks
    s.sql("INSERT INTO rc_t VALUES (1000)")
    // the same text re-run must recompute (fingerprint moved AND entry
    // evicted), and a DIFFERENT statement embedding the plan must not be
    // served stale blocks by the CacheManager
    val direct = s.sql(q).collect()(0).getLong(0)
    assert(!s.lastResultReused, "post-write run must not reuse")
    assert(direct == before + 1000)
    val embedded = s.sql(s"SELECT sk + 0 AS sk2 FROM ($q)").collect()(0).getLong(0)
    assert(embedded == before + 1000,
      "embedding statement read stale cached blocks after a base write")
    s.sql("CREATE TABLE rc_t2 AS " + q)
    assert(s.sql("SELECT sk FROM rc_t2").collect()(0).getLong(0) == before + 1000,
      "CTAS of the cached text materialized stale blocks after a base write")
    s.sql("DROP TABLE rc_t"); s.sql("DROP TABLE rc_t2")
  }

  test("DML and dynamic-refresh paths invalidate too") {
    val s = newSession()
    s.sql("CREATE TABLE rc_d AS SELECT n_nationkey AS k FROM nation")
    val q = "SELECT count(*) AS n FROM rc_d"
    val n0 = s.sql(q).collect()(0).getLong(0)
    s.sql(q).collect(); s.sql(q).collect() // persist + populate
    s.sql("DELETE FROM rc_d WHERE k < 5")
    assert(s.sql(q).collect()(0).getLong(0) == n0 - 5)
    assert(!s.lastResultReused)
    s.sql("DROP TABLE rc_d")
  }

  test("paren-less time-context keywords never cache") {
    val s = newSession()
    for (expr <- Seq("CURRENT_TIMESTAMP", "CURRENT_DATE", "LOCALTIMESTAMP")) {
      val q = s"SELECT $expr AS t, count(*) AS n FROM nation"
      s.sql(q).collect()
      s.sql(q).collect()
      assert(!s.lastResultReused, s"$expr (no parens) must disable reuse")
    }
  }

  test("ALTER SESSION accepts quoted values and rejects invalid ones") {
    val s = newSession()
    val q = "SELECT count(*) AS n FROM region"
    s.sql(q).collect(); s.sql(q).collect()
    assert(s.lastResultReused)
    s.sql("ALTER SESSION SET USE_CACHED_RESULT = 'FALSE'")
    s.sql(q).collect(); s.sql(q).collect()
    assert(!s.lastResultReused, "quoted FALSE must disable reuse")
    s.sql("ALTER SESSION SET USE_CACHED_RESULT = 'TRUE'")
    s.sql(q).collect(); s.sql(q).collect()
    assert(s.lastResultReused, "quoted TRUE must re-enable reuse")
    val e = intercept[IllegalArgumentException] {
      s.sql("ALTER SESSION SET USE_CACHED_RESULT = MAYBE")
    }
    assert(e.getMessage.contains("USE_CACHED_RESULT"))
  }

  // ── bound-view memo (TableRegistry.bind): a base's session view stays
  // bound across statements until its version key changes ──────────────

  private def boundPlan(s: GraftSession, table: String) =
    s.spark.sessionState.catalog.getRawTempView(s.viewName(s.qualify(table)))

  private def count(s: GraftSession, q: String): Long =
    s.sql(q).collect()(0).getLong(0)

  test("bind memo: repeated SELECTs over an unchanged table keep the bound view") {
    val s = newSession()
    s.sql("ALTER SESSION SET USE_CACHED_RESULT = FALSE")
    assert(count(s, "SELECT count(*) AS n FROM orders") == 1500)
    val first = boundPlan(s, "orders")
    assert(first.isDefined)
    val key = s.registry.boundVersion(s.qualify("orders"))
    assert(key.isDefined)
    s.sql("SELECT max(o_orderkey) AS m FROM orders").collect()
    // same TemporaryViewRelation instance: no new spark.read, no rebind
    assert(boundPlan(s, "orders").get eq first.get)
    assert(s.registry.boundVersion(s.qualify("orders")) == key)
    // a direct resolver call binds through the same memo
    val substituted = TableResolver.resolveAndSubstitute(
      "SELECT count(*) FROM orders", s)
    assert(substituted.contains(s.viewName(s.qualify("orders"))))
    assert(boundPlan(s, "orders").get eq first.get)
  }

  test("bind memo: out-of-band parquet append and overwrite reach the next statement") {
    val dir = java.nio.file.Files.createTempDirectory("bind_memo_lake").toString
    val path = s"$dir/bm_lake.parquet"
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(path)
    val s = new GraftSession(spark)
    s.attachLake(dir, names = Seq("bm_lake"))
    val q = "SELECT count(*) AS n FROM bm_lake"
    assert(count(s, q) == 10)
    assert(count(s, q) == 10 && s.lastResultReused)
    // append: a new part file beside the old one
    spark.range(100, 105).toDF("id").coalesce(1).write.mode("append").parquet(path)
    assert(count(s, q) == 15)
    assert(!s.lastResultReused, "an appended file must change the fingerprint")
    // overwrite one file in place: same name, new contents
    val other = s"$dir/other.parquet"
    spark.range(0, 3).toDF("id").coalesce(1).write.parquet(other)
    def parts(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val target = parts(path).head
    java.nio.file.Files.copy(parts(other).head.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the local Hadoop filesystem would check the old file's .crc sidecar
    new java.io.File(target.getParent, s".${target.getName}.crc").delete()
    val expected = spark.read.parquet(path).count()
    assert(expected != 15)
    assert(count(s, q) == expected)
    assert(count(s, "SELECT count(*) AS n2 FROM bm_lake") == expected)
  }

  test("bind memo: an Iceberg commit through another session is visible") {
    val shared = scala.collection.concurrent.TrieMap.empty[FQN, TableRef]
    val a = new GraftSession(spark, sharedCatalog = Some(shared))
    a.attachLake("/root/testdata/sf0.001")
    val b = new GraftSession(spark, sharedCatalog = Some(shared))
    a.sql("CREATE OR REPLACE ICEBERG TABLE bm_ice AS SELECT n_nationkey AS k FROM nation")
    val q = "SELECT count(*) AS n FROM bm_ice"
    assert(count(a, q) == 25 && count(b, q) == 25)
    assert(count(a, q) == 25 && a.lastResultReused)
    b.sql("INSERT INTO bm_ice SELECT n_nationkey + 100 FROM nation WHERE n_nationkey < 5")
    assert(count(a, q) == 30)
    assert(!a.lastResultReused)
    assert(count(a, "SELECT count(*) AS n2 FROM bm_ice") == 30)
    a.sql("DROP TABLE bm_ice")
  }

  test("bind memo: after an incremental DT refresh a plain SELECT sees the full base") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE bm_base AS SELECT n_nationkey AS k, n_regionkey AS r FROM nation")
    s.sql("""CREATE DYNAMIC TABLE bm_dt TARGET_LAG = '1 minute' AS
      SELECT r, count(*) AS n FROM bm_base GROUP BY r""")
    assert(count(s, "SELECT count(*) AS n FROM bm_base") == 25)
    s.sql("INSERT INTO bm_base VALUES (100, 1), (101, 2)")
    s.sql("ALTER DYNAMIC TABLE bm_dt REFRESH")
    assert(DynamicTables.lastRefreshMode.startsWith("incremental"),
      DynamicTables.lastRefreshMode)
    // the refresh bound the base view to its 2-row delta and restored it
    val f = s.qualify("bm_base")
    assert(s.registry.boundVersion(f).map(_.ref) == s.registry.resolve(f))
    assert(count(s, "SELECT count(*) AS n_after FROM bm_base") == 27)
    assert(count(s, "SELECT sum(n) AS n FROM bm_dt") == 27)
    s.sql("DROP TABLE bm_dt"); s.sql("DROP TABLE bm_base")
  }

  test("bind memo: AT/BEFORE and CHANGES views leave the base binding alone") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE bm_tt AS SELECT n_nationkey AS k FROM nation")
    s.sql("DELETE FROM bm_tt WHERE k >= 20")
    assert(count(s, "SELECT count(*) AS n FROM bm_tt") == 20)
    val bound = boundPlan(s, "bm_tt").get
    val r = s.sql("""SELECT (SELECT count(*) FROM bm_tt) AS now_n,
      (SELECT count(*) FROM bm_tt BEFORE(STATEMENT => LAST_QUERY_ID(-2))) AS then_n""")
      .collect()(0)
    assert(r.getLong(0) == 20 && r.getLong(1) == 25)
    val chg = count(s, """SELECT count(*) AS n
      FROM bm_tt CHANGES (INFORMATION => DEFAULT)
        BEFORE(STATEMENT => LAST_QUERY_ID(-3))""")
    assert(chg == 5)
    assert(boundPlan(s, "bm_tt").get eq bound)
    assert(count(s, "SELECT count(*) AS n2 FROM bm_tt") == 20)
    // DROP forgets the binding; a re-created table binds afresh
    s.sql("DROP TABLE bm_tt")
    assert(s.registry.boundVersion(s.qualify("bm_tt")).isEmpty)
    s.sql("CREATE TABLE bm_tt AS SELECT 1 AS k")
    assert(count(s, "SELECT count(*) AS n FROM bm_tt") == 1)
    s.sql("DROP TABLE bm_tt")
  }
}
