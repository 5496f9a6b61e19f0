package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** UPDATE / DELETE / MERGE copy-on-write semantics — surface the reference
  * leaves unimplemented (`tests/integration/transform.py:6-25`). */
class DmlSpec extends AnyFunSuite {

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

  test("DELETE with predicate and with subquery") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_del AS SELECT * FROM orders WHERE o_orderkey <= 400")
    val total = s.sql("SELECT count(*) AS n FROM t_del").collect()(0).getLong(0)
    val evens = s.sql(
      "SELECT count(*) AS n FROM t_del WHERE o_orderkey % 2 = 0").collect()(0).getLong(0)
    val res = s.sql("DELETE FROM t_del WHERE o_orderkey % 2 = 0")
    assert(res.collect()(0).getLong(0) == evens)
    assert(s.sql("SELECT count(*) AS n FROM t_del").collect()(0).getLong(0)
      == total - evens)
    // subquery predicate
    val r2 = s.sql(
      "DELETE FROM t_del WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 1)")
    assert(r2.collect()(0).getLong(0) >= 0)
    s.sql("DROP TABLE t_del")
  }

  test("UPDATE with expressions and WHERE") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_upd AS SELECT * FROM orders WHERE o_orderkey <= 100")
    val res = s.sql(
      "UPDATE t_upd SET o_totalprice = o_totalprice * 2, o_orderstatus = 'X' " +
        "WHERE o_orderpriority = '1-URGENT'")
    val n = res.collect()(0).getLong(0)
    assert(n > 0)
    val bumped = s.sql(
      "SELECT count(*) AS n FROM t_upd WHERE o_orderstatus = 'X'")
      .collect()(0).getLong(0)
    assert(bumped == n)
    // non-matching rows untouched
    val untouched = s.sql(
      "SELECT count(*) AS n FROM t_upd WHERE o_orderstatus <> 'X' AND o_orderpriority <> '1-URGENT'")
      .collect()(0).getLong(0)
    assert(untouched > 0)
    s.sql("DROP TABLE t_upd")
  }

  test("MERGE: update matched, insert not matched, delete clause") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_m AS SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS st FROM orders WHERE o_orderkey <= 200")
    val tgt0 = s.sql("SELECT count(*) AS n FROM t_m").collect()(0).getLong(0)
    s.sql("CREATE OR REPLACE TABLE src_m AS SELECT o_orderkey AS k, o_totalprice + 10 AS v, o_orderstatus AS st FROM orders WHERE o_orderkey BETWEEN 100 AND 300")

    s.sql(
      """MERGE INTO t_m t USING src_m s ON t.k = s.k
        |WHEN MATCHED AND s.v > 100000 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v, st) VALUES (s.k, s.v, s.st)""".stripMargin)

    val matchedKeys = s.sql(
      "SELECT count(*) AS n FROM t_m WHERE k BETWEEN 100 AND 200").collect()(0).getLong(0)
    // all surviving matched rows got s.v (= orders price + 10)
    val matchedUpdated = s.sql(
      """SELECT count(*) AS n FROM t_m m
        | WHERE m.k BETWEEN 100 AND 200
        |   AND m.v = (SELECT o_totalprice + 10 FROM orders o WHERE o.o_orderkey = m.k)""".stripMargin)
      .collect()(0).getLong(0)
    assert(matchedUpdated == matchedKeys)
    // inserted rows: source keys beyond target range
    val srcOnly = s.sql(
      "SELECT count(*) AS n FROM src_m WHERE k > 200").collect()(0).getLong(0)
    val inserted = s.sql(
      "SELECT count(*) AS n FROM t_m WHERE k > 200").collect()(0).getLong(0)
    assert(inserted == srcOnly && inserted > 0)
    // deleted: matched rows with big v are gone
    val bigLeft = s.sql(
      "SELECT count(*) AS n FROM t_m WHERE k BETWEEN 100 AND 200 AND v > 100010")
      .collect()(0).getLong(0)
    assert(bigLeft == 0)
    assert(tgt0 > 0)
    s.sql("DROP TABLE t_m"); s.sql("DROP TABLE src_m")
  }

  test("MERGE with subquery source") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_ms AS SELECT n_nationkey AS k, n_name AS nm FROM nation")
    s.sql(
      """MERGE INTO t_ms USING (SELECT n_nationkey AS k, lower(n_name) AS nm FROM nation WHERE n_nationkey < 5) src
        |ON t_ms.k = src.k
        |WHEN MATCHED THEN UPDATE SET nm = src.nm""".stripMargin)
    val lowered = s.sql(
      "SELECT count(*) AS n FROM t_ms WHERE nm = lower(nm)").collect()(0).getLong(0)
    assert(lowered == 5)
    assert(s.sql("SELECT count(*) AS n FROM t_ms").collect()(0).getLong(0) == 25)
    s.sql("DROP TABLE t_ms")
  }

  test("MERGE USING (VALUES …) with an alias column list, and COLUMNn names") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_mv AS SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 3")
    s.sql(
      """MERGE INTO t_mv USING (VALUES (1, 'one'), (7, 'seven')) AS s(k, p)
        |ON t_mv.k = s.k
        |WHEN MATCHED THEN UPDATE SET nm = s.p
        |WHEN NOT MATCHED THEN INSERT (k, nm) VALUES (s.k, s.p)""".stripMargin)
    // without a column list the source columns are Snowflake's COLUMN1..n
    s.sql(
      """MERGE INTO t_mv USING (VALUES (2, 'two')) s
        |ON t_mv.k = s.column1
        |WHEN MATCHED THEN UPDATE SET nm = s.column2""".stripMargin)
    val rows = s.sql("SELECT k, nm FROM t_mv ORDER BY k").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSeq
    assert(rows.map(_._1) == Seq(0L, 1L, 2L, 7L))
    assert(rows.map(_._2).drop(1) == Seq("one", "two", "seven"))
    s.sql("DROP TABLE t_mv")
  }

  test("MERGE raises when multiple source rows match one target row") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_nd AS SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 3")
    // two source rows per key 1 — Snowflake's default is to raise, not fan out
    val e = intercept[Exception] {
      s.sql(
        """MERGE INTO t_nd USING (
          |  SELECT 1 AS k, 'a' AS nm UNION ALL SELECT 1 AS k, 'b' AS nm
          |) src ON t_nd.k = src.k
          |WHEN MATCHED THEN UPDATE SET nm = src.nm""".stripMargin).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("multiple source rows")), e.toString)
    // table unchanged (failed snapshot write never swapped in)
    assert(s.sql("SELECT count(*) AS n FROM t_nd").collect()(0).getLong(0) == 3)
    s.sql("DROP TABLE t_nd")
  }

  test("MERGE with exactly one match per target row does not raise") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_ok AS SELECT n_nationkey AS k, n_name AS nm FROM nation")
    s.sql(
      """MERGE INTO t_ok USING (SELECT 1 AS k, 'x' AS nm) src ON t_ok.k = src.k
        |WHEN MATCHED THEN UPDATE SET nm = src.nm""".stripMargin)
    assert(s.sql("SELECT nm FROM t_ok WHERE k = 1").collect()(0).getString(0) == "x")
    s.sql("DROP TABLE t_ok")
  }

  // ── file-granular COW on Iceberg targets ───────────────────────────────

  private def iceFiles(s: GraftSession, name: String): (TableRef, Set[String]) = {
    val f = Identifiers.fullQualifier(name, "GRAFT", "PUBLIC")
    val ref = s.registry.resolve(f).get
    (ref, graft.sources.IcebergLite.dataFiles(spark, ref.path.get).toSet)
  }

  /** Three snapshots with disjoint key ranges → affected-file detection
    * can be asserted down to the snapshot data dir. */
  private def buildIceberg3(s: GraftSession, name: String): Unit = {
    s.sql(s"CREATE OR REPLACE ICEBERG TABLE $name AS " +
      "SELECT o_orderkey AS k, o_totalprice AS p FROM orders WHERE o_orderkey <= 500")
    s.sql(s"INSERT INTO $name SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_orderkey > 500 AND o_orderkey <= 1000")
    s.sql(s"INSERT INTO $name SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_orderkey > 1000")
  }

  test("Iceberg DELETE replaces only affected files; rest carry forward by path") {
    val s = newSession()
    buildIceberg3(s, "ice_gd")
    val (ref0, before) = iceFiles(s, "ice_gd")
    val total = s.sql("SELECT count(*) AS n FROM ice_gd").collect()(0).getLong(0)
    val hit = s.sql("SELECT count(*) AS n FROM ice_gd WHERE k > 500 AND k <= 1000")
      .collect()(0).getLong(0)
    assert(hit > 0)
    val res = s.sql("DELETE FROM ice_gd WHERE k > 500 AND k <= 1000")
    assert(res.collect()(0).getLong(0) == hit)
    val (ref1, after) = iceFiles(s, "ice_gd")
    assert(ref1.path.get != ref0.path.get) // replace commit = new version
    // only snapshot-2's files (the key range's home) were swapped out;
    // snapshot-1 and snapshot-3 files survive at their exact paths
    val s2 = before.filter(_.contains("/data/s2/"))
    assert(s2.nonEmpty && (after & s2).isEmpty)
    assert((before -- s2).subsetOf(after))
    assert(s.sql("SELECT count(*) AS n FROM ice_gd").collect()(0).getLong(0)
      == total - hit)
    assert(s.sql("SELECT count(*) AS n FROM ice_gd WHERE k > 500 AND k <= 1000")
      .collect()(0).getLong(0) == 0)
    // pre-delete metadata stays time-travelable
    assert(graft.sources.IcebergLite.scan(spark, ref0.path.get).count() == total)
    s.sql("DROP TABLE ice_gd")
  }

  test("Iceberg DELETE with partial-file matches keeps survivors of rewritten files") {
    val s = newSession()
    buildIceberg3(s, "ice_gp")
    val (_, before) = iceFiles(s, "ice_gp")
    val hit = s.sql("SELECT count(*) AS n FROM ice_gp WHERE k % 7 = 0 AND k <= 500")
      .collect()(0).getLong(0)
    val keepInS1 = s.sql("SELECT count(*) AS n FROM ice_gp WHERE k % 7 <> 0 AND k <= 500")
      .collect()(0).getLong(0)
    assert(hit > 0 && keepInS1 > 0)
    s.sql("DELETE FROM ice_gp WHERE k % 7 = 0 AND k <= 500")
    val (_, after) = iceFiles(s, "ice_gp")
    // s2/s3 untouched by path; s1 replaced but its non-matching rows kept
    assert((before.filterNot(_.contains("/data/s1/"))).subsetOf(after))
    assert(s.sql("SELECT count(*) AS n FROM ice_gp WHERE k <= 500")
      .collect()(0).getLong(0) == keepInS1)
    s.sql("DROP TABLE ice_gp")
  }

  test("Iceberg UPDATE rewrites only files holding matched rows") {
    val s = newSession()
    buildIceberg3(s, "ice_gu")
    val (_, before) = iceFiles(s, "ice_gu")
    val sumLow = s.sql(
      "SELECT CAST(sum(p) AS DOUBLE) AS v FROM ice_gu WHERE k <= 500")
      .collect()(0).getDouble(0)
    val sumHigh = s.sql(
      "SELECT CAST(sum(p) AS DOUBLE) AS v FROM ice_gu WHERE k > 500")
      .collect()(0).getDouble(0)
    val n = s.sql("UPDATE ice_gu SET p = p * 2 WHERE k <= 500")
      .collect()(0).getLong(0)
    assert(n > 0)
    val (_, after) = iceFiles(s, "ice_gu")
    assert(before.filterNot(_.contains("/data/s1/")).subsetOf(after))
    assert((after & before.filter(_.contains("/data/s1/"))).isEmpty)
    val sumLow2 = s.sql(
      "SELECT CAST(sum(p) AS DOUBLE) AS v FROM ice_gu WHERE k <= 500")
      .collect()(0).getDouble(0)
    val sumHigh2 = s.sql(
      "SELECT CAST(sum(p) AS DOUBLE) AS v FROM ice_gu WHERE k > 500")
      .collect()(0).getDouble(0)
    assert(math.abs(sumLow2 - 2 * sumLow) < 1e-6 * math.abs(sumLow))
    assert(math.abs(sumHigh2 - sumHigh) < 1e-9)
    s.sql("DROP TABLE ice_gu")
  }

  test("Iceberg MERGE rewrites only matched files; inserts append in the same commit") {
    val s = newSession()
    buildIceberg3(s, "ice_gm")
    val (_, before) = iceFiles(s, "ice_gm")
    // matches land only in snapshot-2's key range; inserts are new keys
    s.sql("""CREATE OR REPLACE TABLE src_gm AS
      SELECT o_orderkey AS k, o_totalprice AS p FROM orders
      WHERE o_orderkey > 600 AND o_orderkey <= 700
      UNION ALL
      SELECT o_orderkey + 10000, o_totalprice FROM orders WHERE o_orderkey <= 20""")
    s.sql("""MERGE INTO ice_gm t USING src_gm s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET p = s.p + 1
      WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, s.p)""")
    val (_, after) = iceFiles(s, "ice_gm")
    // snapshot-1/3 files carried forward by path; snapshot-2 replaced
    assert(before.filter(p =>
      p.contains("/data/s1/") || p.contains("/data/s3/")).subsetOf(after))
    assert((after & before.filter(_.contains("/data/s2/"))).isEmpty)
    // matched rows updated to source value + 1
    val matched = s.sql("""SELECT count(*) AS n FROM ice_gm m
      JOIN orders o ON m.k = o.o_orderkey
      WHERE m.k > 600 AND m.k <= 700 AND m.p = o.o_totalprice + 1""")
      .collect()(0).getLong(0)
    val expect = s.sql(
      "SELECT count(*) AS n FROM orders WHERE o_orderkey > 600 AND o_orderkey <= 700")
      .collect()(0).getLong(0)
    assert(matched == expect && matched > 0)
    // inserts landed
    assert(s.sql("SELECT count(*) AS n FROM ice_gm WHERE k >= 10000")
      .collect()(0).getLong(0) == 21)
    // unmatched rows in carried files untouched
    val untouched = s.sql("""SELECT count(*) AS n FROM ice_gm m
      JOIN orders o ON m.k = o.o_orderkey
      WHERE m.k <= 600 AND m.p = o.o_totalprice""").collect()(0).getLong(0)
    assert(untouched == 601)
    s.sql("DROP TABLE ice_gm"); s.sql("DROP TABLE src_gm")
  }

  test("Iceberg MERGE with no matches appends inserts without touching data files") {
    val s = newSession()
    buildIceberg3(s, "ice_gi")
    val (_, before) = iceFiles(s, "ice_gi")
    s.sql("""MERGE INTO ice_gi t
      USING (SELECT 99999 AS k, 1.00 AS p) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET p = s.p
      WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, s.p)""")
    val (_, after) = iceFiles(s, "ice_gi")
    assert(before.subsetOf(after) && after.size > before.size)
    assert(s.sql("SELECT count(*) AS n FROM ice_gi WHERE k = 99999")
      .collect()(0).getLong(0) == 1)
    s.sql("DROP TABLE ice_gi")
  }

  test("Iceberg granular DELETE: self-referencing subquery sees the full table") {
    val s = newSession()
    buildIceberg3(s, "ice_sd")
    // inner aggregate ranges over k > 1000 — rows that live OUTSIDE the
    // affected files (k <= 500). If the granular rewrite rebound the
    // target to the file subset, the subquery would be empty → NULL
    // predicate → zero rows deleted.
    val expDel = s.sql(
      """SELECT count(*) AS n FROM ice_sd
        | WHERE k <= 500 AND p > (SELECT avg(p) FROM ice_sd WHERE k > 1000)"""
        .stripMargin).collect()(0).getLong(0)
    assert(expDel > 0)
    val total = s.sql("SELECT count(*) AS n FROM ice_sd").collect()(0).getLong(0)
    val (_, before) = iceFiles(s, "ice_sd")
    val res = s.sql(
      "DELETE FROM ice_sd WHERE k <= 500 AND p > (SELECT avg(p) FROM ice_sd WHERE k > 1000)")
    assert(res.collect()(0).getLong(0) == expDel)
    assert(s.sql("SELECT count(*) AS n FROM ice_sd").collect()(0).getLong(0)
      == total - expDel)
    // and the granular path DID run: s2/s3 files carried forward by path
    val (_, after) = iceFiles(s, "ice_sd")
    assert(before.filter(p =>
      p.contains("/data/s2/") || p.contains("/data/s3/")).subsetOf(after))
    s.sql("DROP TABLE ice_sd")
  }

  test("Iceberg granular UPDATE: self-referencing SET sees the full table") {
    val s = newSession()
    buildIceberg3(s, "ice_su")
    val maxHigh = s.sql(
      "SELECT CAST(max(p) AS DOUBLE) AS v FROM ice_su WHERE k > 1000")
      .collect()(0).getDouble(0)
    val expN = s.sql("SELECT count(*) AS n FROM ice_su WHERE k <= 100")
      .collect()(0).getLong(0)
    val n = s.sql(
      "UPDATE ice_su SET p = (SELECT max(p) FROM ice_su WHERE k > 1000) WHERE k <= 100")
      .collect()(0).getLong(0)
    assert(n == expN && n > 0)
    val (_, after0) = iceFiles(s, "ice_su")
    assert(after0.exists(_.contains("/data/s2/"))) // granular: s2 untouched
    val vals = s.sql(
      "SELECT CAST(min(p) AS DOUBLE) AS lo, CAST(max(p) AS DOUBLE) AS hi " +
      "FROM ice_su WHERE k <= 100").collect()(0)
    assert(math.abs(vals.getDouble(0) - maxHigh) < 1e-9)
    assert(math.abs(vals.getDouble(1) - maxHigh) < 1e-9)
    s.sql("DROP TABLE ice_su")
  }

  test("Iceberg granular MERGE: source subquery over the target sees the full table") {
    val s = newSession()
    buildIceberg3(s, "ice_sm")
    val maxHigh = s.sql(
      "SELECT CAST(max(p) AS DOUBLE) AS v FROM ice_sm WHERE k > 1000")
      .collect()(0).getDouble(0)
    s.sql(
      """MERGE INTO ice_sm t USING (
        |  SELECT k, (SELECT max(p) FROM ice_sm WHERE k > 1000) AS mp
        |  FROM ice_sm WHERE k <= 50) src
        |ON t.k = src.k
        |WHEN MATCHED THEN UPDATE SET p = src.mp""".stripMargin)
    val (_, after) = iceFiles(s, "ice_sm")
    assert(after.exists(_.contains("/data/s2/"))) // granular: s2 untouched
    val got = s.sql(
      "SELECT CAST(min(p) AS DOUBLE) AS lo, CAST(max(p) AS DOUBLE) AS hi " +
      "FROM ice_sm WHERE k <= 50").collect()(0)
    assert(math.abs(got.getDouble(0) - maxHigh) < 1e-9)
    assert(math.abs(got.getDouble(1) - maxHigh) < 1e-9)
    s.sql("DROP TABLE ice_sm")
  }

  test("double-quoted identifier containing WHERE doesn't break the SET/WHERE split") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_dq AS SELECT o_orderkey AS k, " +
      "'x' AS \"SEL WHERE COL\" FROM orders WHERE o_orderkey <= 50")
    // the SET target is a quoted identifier containing the bare word
    // WHERE — the statement split must find the real WHERE after it
    val res = s.sql("UPDATE t_dq SET \"SEL WHERE COL\" = 'y' WHERE k <= 10")
    val n = res.collect()(0).getLong(0)
    assert(n > 0)
    val changed = s.sql(
      "SELECT count(*) AS n FROM t_dq WHERE \"SEL WHERE COL\" = 'y'")
      .collect()(0).getLong(0)
    assert(changed == n)
    val untouched = s.sql(
      "SELECT count(*) AS n FROM t_dq WHERE \"SEL WHERE COL\" = 'x'")
      .collect()(0).getLong(0)
    assert(untouched > 0)
    s.sql("DROP TABLE t_dq")
  }

  test("Iceberg DELETE matching no rows commits nothing") {
    val s = newSession()
    buildIceberg3(s, "ice_gn")
    val (ref0, before) = iceFiles(s, "ice_gn")
    val res = s.sql("DELETE FROM ice_gn WHERE k < 0")
    assert(res.collect()(0).getLong(0) == 0)
    val (ref1, after) = iceFiles(s, "ice_gn")
    assert(ref1.path.get == ref0.path.get && after == before)
    s.sql("DROP TABLE ice_gn")
  }

  test("UPDATE: a WHERE inside a comment does not split SET from WHERE") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_uc AS SELECT n_nationkey AS k, 1 AS v FROM nation")
    val n = s.sql("UPDATE t_uc SET v = 0 /* where k = 1 */").collect()(0).getLong(0)
    assert(n == 25)
    assert(s.sql("SELECT count(*) AS n FROM t_uc WHERE v = 0").collect()(0).getLong(0) == 25)
    // a trailing line comment in the SET list or the WHERE clause
    s.sql("UPDATE t_uc SET v = 2 -- bump\nWHERE k < 5 -- first five")
    assert(s.sql("SELECT count(*) AS n FROM t_uc WHERE v = 2").collect()(0).getLong(0) == 5)
    s.sql("DROP TABLE t_uc")
  }

  test("MERGE: a comment mentioning when / then / on does not cut the statement") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE t_mc AS SELECT n_nationkey AS k, n_name AS nm FROM nation")
    s.sql(
      """MERGE INTO t_mc USING (SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 3) src
        |ON t_mc.k = src.k /* when matched then on */
        |WHEN MATCHED -- when not matched then insert
        |THEN UPDATE SET nm = 'seen' /* then */""".stripMargin)
    assert(s.sql("SELECT count(*) AS n FROM t_mc WHERE nm = 'seen'")
      .collect()(0).getLong(0) == 3)
    // CASE … END keeps its own WHEN / THEN, in a condition and an action
    s.sql(
      """MERGE INTO t_mc USING (SELECT n_nationkey AS k FROM nation) src ON t_mc.k = src.k
        |WHEN MATCHED AND CASE WHEN src.k < 5 THEN TRUE ELSE FALSE END
        |THEN UPDATE SET nm = CASE WHEN src.k < 3 THEN 'low' ELSE 'mid' END""".stripMargin)
    val byName = s.sql("SELECT nm, count(*) AS n FROM t_mc GROUP BY nm").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("low") == 3 && byName("mid") == 2 && byName.values.sum == 25)
    s.sql("DROP TABLE t_mc")
  }
}
