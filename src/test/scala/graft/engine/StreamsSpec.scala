package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Snowflake table STREAM (CDC) lifecycle: offset capture, net-delta
  * reads, consume-advances-offset, the O(delta) incremental-append read
  * path, and loud staleness. */
class StreamsSpec extends AnyFunSuite {

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

  test("fresh stream is empty; inserts surface as INSERT delta") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE st_t1 AS
      SELECT n_nationkey AS k, n_name AS name FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s1 ON TABLE st_t1")
    assert(s.sql("SELECT * FROM st_s1").count() == 0)
    s.sql("INSERT INTO st_t1 SELECT n_nationkey + 100, n_name FROM nation WHERE n_nationkey < 5")
    val d = s.sql("SELECT METADATA$ACTION AS a, k FROM st_s1 ORDER BY k").collect()
    assert(d.length == 5)
    assert(d.forall(_.getString(0) == "INSERT"))
    assert(d.map(_.getAs[Number](1).longValue()).toSeq == Seq(100L, 101L, 102L, 103L, 104L))
  }

  test("DELETE surfaces as DELETE rows; net-change consolidation") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE st_t2 AS
      SELECT n_nationkey AS k, n_name AS name FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s2 ON TABLE st_t2")
    s.sql("DELETE FROM st_t2 WHERE k % 5 = 0")
    val d = s.sql(
      "SELECT METADATA$ACTION AS a, count(*) AS n FROM st_s2 GROUP BY 1").collect()
    assert(d.length == 1 && d(0).getString(0) == "DELETE" && d(0).getLong(1) == 5)
  }

  test("consume via INSERT advances the offset; plain SELECT does not") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE st_t3 AS
      SELECT n_nationkey AS k FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s3 ON TABLE st_t3")
    s.sql("INSERT INTO st_t3 SELECT n_nationkey + 50 FROM nation WHERE n_nationkey < 3")
    // two plain reads both see the delta (SELECT never consumes)
    assert(s.sql("SELECT * FROM st_s3").count() == 3)
    assert(s.sql("SELECT * FROM st_s3").count() == 3)
    s.sql("""CREATE OR REPLACE TABLE st_sink AS
      SELECT k FROM st_s3 WHERE METADATA$ACTION = 'INSERT'""")
    assert(s.sql("SELECT * FROM st_sink").count() == 3)
    // consumed: stream now empty until the next change
    assert(s.sql("SELECT * FROM st_s3").count() == 0)
    s.sql("INSERT INTO st_t3 SELECT n_nationkey + 70 FROM nation WHERE n_nationkey < 2")
    assert(s.sql("SELECT * FROM st_s3").count() == 2)
  }

  test("iceberg append-only stream reads ONLY the added files") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE ICEBERG TABLE st_ice AS
      SELECT n_nationkey AS k, n_name AS name FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_si ON TABLE st_ice APPEND_ONLY = TRUE")
    s.sql("INSERT INTO st_ice SELECT n_nationkey + 100, n_name FROM nation WHERE n_nationkey < 10")
    val d = s.sql("SELECT k FROM st_si ORDER BY k")
    assert(Streams.lastMode == "incremental-files", Streams.lastMode)
    assert(d.count() == 10)
    // O(delta) evidence: the delta reads strictly fewer files than the
    // table holds — only the appended ones, never the original CTAS files
    val deltaFiles = d.inputFiles.toSet
    val allFiles = s.sql("SELECT * FROM st_ice").inputFiles.toSet
    assert(deltaFiles.nonEmpty && deltaFiles.subsetOf(allFiles) &&
      deltaFiles.size < allFiles.size,
      s"delta=${deltaFiles.size} all=${allFiles.size}")
  }

  test("SHOW_INITIAL_ROWS surfaces existing rows as the first delta") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE st_t4 AS
      SELECT n_nationkey AS k FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s4 ON TABLE st_t4 SHOW_INITIAL_ROWS = TRUE")
    assert(s.sql("SELECT * FROM st_s4").count() == 25)
  }

  test("SYSTEM$STREAM_HAS_DATA resolves without a diff on the append path") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE st_t5 AS SELECT n_nationkey AS k FROM nation")
    s.sql("CREATE OR REPLACE STREAM st_s5 ON TABLE st_t5")
    val before = s.sql("SELECT SYSTEM$STREAM_HAS_DATA('st_s5') AS h").collect()(0)
    assert(!before.getBoolean(0))
    s.sql("INSERT INTO st_t5 SELECT n_nationkey + 30 FROM nation WHERE n_nationkey < 1")
    val after = s.sql("SELECT SYSTEM$STREAM_HAS_DATA('st_s5') AS h").collect()(0)
    assert(after.getBoolean(0))
  }

  test("SHOW STREAMS lists streams; DROP STREAM removes") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE st_t6 AS SELECT n_nationkey AS k FROM nation")
    s.sql("CREATE STREAM st_s6 ON TABLE st_t6 APPEND_ONLY = TRUE")
    val rows = s.sql("SHOW STREAMS").collect()
    assert(rows.exists(r => r.getString(0) == "ST_S6" &&
      r.getString(3).contains("APPEND_ONLY")))
    s.sql("DROP STREAM st_s6")
    assert(!s.sql("SHOW STREAMS").collect().exists(_.getString(0) == "ST_S6"))
    intercept[Exception] { s.sql("SELECT * FROM st_s6").collect() }
  }

  test("in-place INSERT then COW DELETE: base diffs against the CAPTURED " +
      "file set, not the grown directory") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE st_t8 AS
      SELECT n_nationkey AS k FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s8 ON TABLE st_t8")
    // in-place append into the same lake dir…
    s.sql("INSERT INTO st_t8 SELECT n_nationkey + 200 FROM nation WHERE n_nationkey < 5")
    // …then a COW delete of ORIGINAL rows (new snapshot dir)
    s.sql("DELETE FROM st_t8 WHERE k < 3")
    val d = s.sql(
      "SELECT METADATA$ACTION AS a, count(*) AS n FROM st_s8 GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(Streams.lastMode == "cow-diff", Streams.lastMode)
    assert(d == Map("INSERT" -> 5L, "DELETE" -> 3L), d.toString)
  }

  test("APPEND_ONLY: insert history survives a later DELETE (full insert set)") {
    val s = newSession()
    s.sql("CREATE OR REPLACE TABLE st_t9 AS SELECT n_nationkey AS k FROM nation")
    s.sql("CREATE OR REPLACE STREAM st_s9 ON TABLE st_t9 APPEND_ONLY = TRUE")
    // two separate inserts, then a DELETE that removes SOME inserted rows
    s.sql("INSERT INTO st_t9 SELECT n_nationkey + 100 FROM nation WHERE n_nationkey < 5")
    s.sql("INSERT INTO st_t9 SELECT n_nationkey + 200 FROM nation WHERE n_nationkey < 3")
    s.sql("DELETE FROM st_t9 WHERE k >= 200 OR k = 101")
    // Snowflake APPEND_ONLY semantics: ALL 8 inserted rows still show,
    // including the 4 the delete removed — replayed from the logged
    // insert files (no diff job), not the net remaining rows
    val d = s.sql("SELECT METADATA$ACTION AS a, k FROM st_s9 ORDER BY k").collect()
    assert(Streams.lastMode == "insert-history", Streams.lastMode)
    assert(d.forall(_.getString(0) == "INSERT"))
    assert(d.map(_.getAs[Number](1).longValue()).toSeq ==
      Seq(100L, 101L, 102L, 103L, 104L, 200L, 201L, 202L))
    // consuming advances past the logged inserts: a post-consume read is
    // empty even though the log still holds the files
    s.sql("CREATE TABLE st_t9_sink AS SELECT k FROM st_s9")
    assert(s.sql("SELECT count(*) AS n FROM st_s9").collect()(0).getLong(0) == 0)
    // a MERGE (may insert into rewritten files) degrades to net-diff
    // rather than omitting its inserts
    s.sql("INSERT INTO st_t9 VALUES (300)")
    s.sql("""MERGE INTO st_t9 t USING (SELECT 301 AS k) src ON t.k = src.k
             WHEN NOT MATCHED THEN INSERT (k) VALUES (src.k)""")
    val d2 = s.sql("SELECT k FROM st_s9 ORDER BY k").collect()
      .map(_.getAs[Number](0).longValue()).toSeq
    assert(d2 == Seq(300L, 301L), d2.toString)
  }

  test("UPDATE surfaces as paired INSERT+DELETE with METADATA$ISUPDATE = true") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE st_t7 AS
      SELECT n_nationkey AS k, n_nationkey * 10 AS v FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s7 ON TABLE st_t7")
    s.sql("UPDATE st_t7 SET v = v + 1 WHERE k < 3")
    val d = s.sql(
      """SELECT METADATA$ACTION AS a, METADATA$ISUPDATE AS u, count(*) AS n
        |FROM st_s7 GROUP BY 1, 2 ORDER BY 1""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getBoolean(1)), r.getLong(2))).toMap
    assert(d == Map(("INSERT", true) -> 3L, ("DELETE", true) -> 3L), d.toString)
  }

  test("chained UPDATEs keep ISUPDATE; a DELETE in between clears it") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE st_t8 AS
      SELECT n_nationkey AS k, n_nationkey * 10 AS v FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s8 ON TABLE st_t8")
    // two consecutive UPDATEs: transition chain is all-UPDATE
    s.sql("UPDATE st_t8 SET v = v + 1 WHERE k < 3")
    s.sql("UPDATE st_t8 SET v = v + 10 WHERE k < 5")
    val d = s.sql(
      """SELECT METADATA$ACTION AS a, METADATA$ISUPDATE AS u, count(*) AS n
        |FROM st_s8 GROUP BY 1, 2 ORDER BY 1""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getBoolean(1)), r.getLong(2))).toMap
    assert(d == Map(("INSERT", true) -> 5L, ("DELETE", true) -> 5L), d.toString)
    // a DELETE statement breaks the chain: rows revert to plain
    // net-change attribution (ISUPDATE = false) — never wrong-positive
    s.sql("DELETE FROM st_t8 WHERE k = 20")
    val d2 = s.sql(
      """SELECT METADATA$ACTION AS a, METADATA$ISUPDATE AS u, count(*) AS n
        |FROM st_s8 GROUP BY 1, 2 ORDER BY 1""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getBoolean(1)), r.getLong(2))).toMap
    assert(d2 == Map(("INSERT", false) -> 5L, ("DELETE", false) -> 6L), d2.toString)
  }

  test("APPEND_ONLY stream suppresses an UPDATE-only transition") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE ICEBERG TABLE st_t9 AS
      SELECT n_nationkey AS k, n_nationkey * 10 AS v FROM nation""")
    s.sql("CREATE OR REPLACE STREAM st_s9 ON TABLE st_t9 APPEND_ONLY = TRUE")
    s.sql("UPDATE st_t9 SET v = v + 1 WHERE k < 3")
    assert(s.sql("SELECT * FROM st_s9").count() == 0)
  }

  test("stream on a DYNAMIC TABLE: merge refreshes diff only the sidecar chain") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE sdt_t AS
      SELECT o_orderkey AS k, o_custkey AS c, o_totalprice::number(12,2) AS p
      FROM orders WHERE o_orderkey <= 1000""")
    s.sql("""CREATE DYNAMIC TABLE sdt_a AS
      SELECT c, count(*) AS n, sum(p) AS total FROM sdt_t GROUP BY c""")
    s.sql("CREATE OR REPLACE STREAM sdt_s ON TABLE sdt_a")
    assert(s.sql("SELECT * FROM sdt_s").count() == 0)
    // two merge refreshes between reads: the chain covers both swaps
    s.sql("""INSERT INTO sdt_t
      SELECT o_orderkey, o_custkey, o_totalprice::number(12,2)
      FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000""")
    s.sql("ALTER DYNAMIC TABLE sdt_a REFRESH")
    s.sql("""INSERT INTO sdt_t
      SELECT o_orderkey, o_custkey, o_totalprice::number(12,2)
      FROM orders WHERE o_orderkey > 2000 AND o_orderkey <= 3000""")
    s.sql("ALTER DYNAMIC TABLE sdt_a REFRESH")
    // expected net change: per-custkey rows whose (n, total) changed —
    // old version DELETEd, new version INSERTed; untouched groups absent
    val changed = s.sql("""
      WITH oldv AS (SELECT c, count(*) AS n FROM sdt_t
        WHERE k <= 1000 GROUP BY c),
      newv AS (SELECT c, count(*) AS n FROM sdt_t GROUP BY c)
      SELECT count(*) AS x FROM newv LEFT JOIN oldv ON newv.c = oldv.c
      WHERE oldv.c IS NULL OR oldv.n <> newv.n""").collect()(0).getLong(0)
    val d = s.sql(
      "SELECT METADATA$ACTION AS a, count(*) AS n FROM sdt_s GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(Streams.lastMode == "dt-chain-diff", Streams.lastMode)
    assert(d("INSERT") == changed, s"$d vs changed=$changed")
    // DELETE side: only groups that existed before AND changed
    assert(d.getOrElse("DELETE", 0L) <= changed)
    // rows match a recompute of the DT exactly on the INSERT side
    val insRows = s.sql(
      """SELECT c, n, total FROM sdt_s WHERE METADATA$ACTION = 'INSERT'""")
    val wantChanged = s.sql("""
      WITH oldv AS (SELECT c, count(*) AS n, sum(p) AS total FROM sdt_t
        WHERE k <= 1000 GROUP BY c),
      newv AS (SELECT c, count(*) AS n, sum(p) AS total FROM sdt_t GROUP BY c)
      SELECT newv.c, newv.n, newv.total FROM newv LEFT JOIN oldv ON newv.c = oldv.c
      WHERE oldv.c IS NULL OR oldv.n <> newv.n OR oldv.total <> newv.total""")
    assert(insRows.exceptAll(wantChanged).count() == 0 &&
      wantChanged.exceptAll(insRows).count() == 0)
  }

  test("stream on a DYNAMIC TABLE: changed groups report as ISUPDATE pairs") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE sdtu_t AS
      SELECT o_orderkey AS k, o_custkey AS c, o_totalprice::number(12,2) AS p
      FROM orders WHERE o_orderkey <= 1000""")
    s.sql("""CREATE DYNAMIC TABLE sdtu_a AS
      SELECT c, count(*) AS n, sum(p) AS total FROM sdtu_t GROUP BY c""")
    s.sql("CREATE OR REPLACE STREAM sdtu_s ON TABLE sdtu_a")
    s.sql("""INSERT INTO sdtu_t
      SELECT o_orderkey, o_custkey, o_totalprice::number(12,2)
      FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000""")
    // a guaranteed brand-new group → must surface as a PLAIN insert
    s.sql("INSERT INTO sdtu_t SELECT 999999, -1, 1.00::number(12,2)")
    s.sql("ALTER DYNAMIC TABLE sdtu_a REFRESH")
    val rows = s.sql(
      """SELECT c, METADATA$ACTION AS a, METADATA$ISUPDATE AS u FROM sdtu_s""")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getBoolean(2)))
    assert(Streams.lastMode == "dt-chain-diff", Streams.lastMode)
    // an insert-only append never removes a group, so every DELETE-side
    // row belongs to a group still present → must be half of an update
    // pair (ISUPDATE = true)
    val delKeys = rows.collect { case (c, "DELETE", u) => assert(u); c }.toSet
    assert(delKeys.nonEmpty)
    // INSERT rows: ISUPDATE exactly when the group also has a DELETE row
    rows.collect { case (c, "INSERT", u) =>
      assert(u == delKeys.contains(c), s"group $c isupdate=$u") }
    // and brand-new groups exist in this span → at least one plain INSERT
    assert(rows.exists { case (c, a, u) => a == "INSERT" && !u })
  }

  test("DT stream: a changed group with a NULL key still pairs as ISUPDATE") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE sdtn_t AS
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_custkey % 5 END AS c,
        o_totalprice::number(12,2) AS p
      FROM orders WHERE o_orderkey <= 1000""")
    s.sql("""CREATE DYNAMIC TABLE sdtn_a AS
      SELECT c, count(*) AS n, sum(p) AS total FROM sdtn_t GROUP BY c""")
    s.sql("CREATE OR REPLACE STREAM sdtn_s ON TABLE sdtn_a")
    // grow ONLY the NULL-key group
    s.sql("INSERT INTO sdtn_t SELECT 888888, NULL, 7.00::number(12,2)")
    s.sql("ALTER DYNAMIC TABLE sdtn_a REFRESH")
    val rows = s.sql(
      """SELECT c, METADATA$ACTION AS a, METADATA$ISUPDATE AS u FROM sdtn_s""")
      .collect().map(r => (Option(r.get(0)).map(_.toString), r.getString(1),
        r.getBoolean(2)))
    assert(Streams.lastMode == "dt-chain-diff", Streams.lastMode)
    // the NULL group changed → its DELETE and INSERT both ISUPDATE=true
    val nullRows = rows.filter(_._1.isEmpty)
    assert(nullRows.map(_._2).sorted.sameElements(Array("DELETE", "INSERT")),
      nullRows.mkString(","))
    assert(nullRows.forall(_._3), s"NULL-key group not paired: $nullRows")
  }

  test("DROP and full refresh GC the dynamic table's delta sidecars") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE sgc_t AS
      SELECT o_orderkey AS k, o_custkey AS c, o_totalprice::number(12,2) AS p
      FROM orders WHERE o_orderkey <= 1000""")
    s.sql("""CREATE DYNAMIC TABLE sgc_a AS
      SELECT c, count(*) AS n FROM sgc_t GROUP BY c""")
    s.sql("CREATE OR REPLACE STREAM sgc_s ON TABLE sgc_a")
    s.sql("""INSERT INTO sgc_t
      SELECT o_orderkey, o_custkey, o_totalprice::number(12,2)
      FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000""")
    s.sql("ALTER DYNAMIC TABLE sgc_a REFRESH") // merge refresh → publishes
    val ref = s.registry.resolve(s.qualify("sgc_a")).get
    val parent = new java.io.File(ref.path.get).getParentFile
    def sidecars = parent.listFiles().filter { f =>
      val n = f.getName.toLowerCase
      n.contains("sgc_a") && n.contains("__dtdelta_")
    }
    assert(sidecars.nonEmpty)
    // a full refresh is an unlogged transition: prior sidecars unreachable
    s.sql("DELETE FROM sgc_t WHERE k <= 10") // parquet COW → breaks incr
    s.sql("ALTER DYNAMIC TABLE sgc_a REFRESH")
    assert(DynamicTables.lastRefreshMode == "full")
    assert(sidecars.isEmpty, sidecars.map(_.getName).mkString(","))
    // publish again, then DROP must clean up too
    s.sql("""INSERT INTO sgc_t
      SELECT o_orderkey, o_custkey, o_totalprice::number(12,2)
      FROM orders WHERE o_orderkey > 2000 AND o_orderkey <= 3000""")
    s.sql("ALTER DYNAMIC TABLE sgc_a REFRESH")
    assert(sidecars.nonEmpty)
    s.sql("DROP DYNAMIC TABLE sgc_a")
    assert(sidecars.isEmpty, sidecars.map(_.getName).mkString(","))
  }

  test("CHANGES clause: stream semantics over a time-travel span") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE ICEBERG TABLE chg_t AS
      SELECT n_nationkey AS k, n_nationkey * 10 AS v FROM nation""")
    s.sql("INSERT INTO chg_t SELECT n_nationkey + 100, n_nationkey FROM nation")
    // DEFAULT: inserts since the pre-INSERT version
    val d = s.sql(
      """SELECT METADATA$ACTION AS a, count(*) AS n
        |FROM chg_t CHANGES (INFORMATION => DEFAULT)
        |  BEFORE(STATEMENT => LAST_QUERY_ID())
        |GROUP BY 1""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(d == Map("INSERT" -> 25L), d.toString)
    // UPDATE span: the chain marks both sides ISUPDATE
    s.sql("UPDATE chg_t SET v = v + 1 WHERE k >= 100 AND k < 103")
    val u = s.sql(
      """SELECT METADATA$ACTION AS a, METADATA$ISUPDATE AS u, count(*) AS n
        |FROM chg_t CHANGES (INFORMATION => DEFAULT)
        |  BEFORE(STATEMENT => LAST_QUERY_ID())
        |GROUP BY 1, 2""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getBoolean(1)), r.getLong(2))).toMap
    assert(u == Map(("INSERT", true) -> 3L, ("DELETE", true) -> 3L), u.toString)
    // APPEND_ONLY over a delete span surfaces nothing
    s.sql("DELETE FROM chg_t WHERE k = 101")
    val a = s.sql(
      """SELECT count(*) AS n
        |FROM chg_t CHANGES (INFORMATION => APPEND_ONLY)
        |  BEFORE(STATEMENT => LAST_QUERY_ID())""".stripMargin)
      .collect()(0).getLong(0)
    assert(a == 0L, s"append_only over a pure delete span returned $a rows")
    // CHANGES without AT/BEFORE is rejected loudly
    val e = intercept[Exception] {
      s.sql("SELECT * FROM chg_t CHANGES (INFORMATION => DEFAULT)").collect()
    }
    assert(e.getMessage.contains("CHANGES"), e.getMessage)
  }

  test("CHANGES clause on a DYNAMIC TABLE rides the sidecar chain") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE TABLE chg_b AS
      SELECT o_orderkey AS k, o_custkey AS c, o_totalprice::number(12,2) AS p
      FROM orders WHERE o_orderkey <= 1000""")
    s.sql("""CREATE DYNAMIC TABLE chg_d AS
      SELECT c, count(*) AS n, sum(p) AS total FROM chg_b GROUP BY c""")
    // a stream exists so the DT publishes (streams count as consumers)
    s.sql("CREATE OR REPLACE STREAM chg_ds ON TABLE chg_d")
    s.sql("""INSERT INTO chg_b
      SELECT o_orderkey, o_custkey, o_totalprice::number(12,2)
      FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000""")
    s.sql("ALTER DYNAMIC TABLE chg_d REFRESH")
    val n = s.sql(
      """SELECT count(*) AS n
        |FROM chg_d CHANGES (INFORMATION => DEFAULT)
        |  BEFORE(STATEMENT => LAST_QUERY_ID())""".stripMargin)
      .collect()(0).getLong(0)
    assert(Streams.lastMode == "dt-chain-diff", Streams.lastMode)
    assert(n > 0)
  }

  test("CHANGES with END bound: span closes at a historical version") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE ICEBERG TABLE chend_t AS
      SELECT o_orderkey AS k, o_totalprice::number(12,2) AS p
      FROM orders WHERE o_orderkey <= 600""")
    s.sql("""INSERT INTO chend_t
      SELECT o_orderkey, o_totalprice::number(12,2)
      FROM orders WHERE o_orderkey > 600 AND o_orderkey <= 1200""")
    s.sql("DELETE FROM chend_t WHERE k % 3 = 0")
    // span = create → post-insert: the insert shows, the delete doesn't
    val rows = s.sql("""
      SELECT METADATA$ACTION AS a, count(*) AS n
      FROM chend_t CHANGES (INFORMATION => DEFAULT)
        AT(STATEMENT => LAST_QUERY_ID(-3))
        END(STATEMENT => LAST_QUERY_ID(-2))
      GROUP BY 1""").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // the span is pure-append → O(delta) incremental read, no diff
    assert(Streams.lastMode == "incremental-files", Streams.lastMode)
    val want = s.sql(
      "SELECT count(*) AS n FROM orders WHERE o_orderkey > 600 AND o_orderkey <= 1200")
      .collect()(0).getLong(0)
    assert(rows == Map("INSERT" -> want), s"$rows vs $want")
    // without END the delete's rows surface too
    val open = s.sql("""
      SELECT METADATA$ACTION AS a, count(*) AS n
      FROM chend_t CHANGES (INFORMATION => DEFAULT)
        AT(STATEMENT => LAST_QUERY_ID(-4))
      GROUP BY 1""").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(open.contains("DELETE") || open("INSERT") < want, s"$open")
    s.sql("DROP TABLE chend_t")
  }

  test("pruned cow-diff: Iceberg granular DELETE diffs only the replaced files") {
    val s = newSession()
    // two snapshots with disjoint key ranges
    s.sql("""CREATE OR REPLACE ICEBERG TABLE st_ti AS
      SELECT n_nationkey AS k, n_name AS name FROM nation""")
    s.sql("INSERT INTO st_ti SELECT n_nationkey + 100, n_name FROM nation")
    s.sql("CREATE OR REPLACE STREAM st_si ON TABLE st_ti")
    // granular DELETE replaces only snapshot-2's files; snapshot-1
    // carries forward and must never enter the diff
    s.sql("DELETE FROM st_ti WHERE k >= 100 AND k < 103")
    val d = s.sql("SELECT METADATA$ACTION AS a, k FROM st_si ORDER BY k").collect()
    assert(Streams.lastMode == "cow-diff-pruned", Streams.lastMode)
    assert(d.forall(_.getString(0) == "DELETE"))
    assert(d.map(_.getAs[Number](1).longValue()).toSeq == Seq(100L, 101L, 102L))
  }

  test("pruned cow-diff: Iceberg granular UPDATE pairs INSERT+DELETE, ISUPDATE") {
    val s = newSession()
    s.sql("""CREATE OR REPLACE ICEBERG TABLE st_tu AS
      SELECT n_nationkey AS k, n_nationkey * 10 AS v FROM nation""")
    s.sql("INSERT INTO st_tu SELECT n_nationkey + 100, n_nationkey FROM nation")
    s.sql("CREATE OR REPLACE STREAM st_su ON TABLE st_tu")
    s.sql("UPDATE st_tu SET v = v + 1 WHERE k >= 100 AND k < 104")
    val d = s.sql(
      """SELECT METADATA$ACTION AS a, METADATA$ISUPDATE AS u, count(*) AS n
        |FROM st_su GROUP BY 1, 2 ORDER BY 1""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getBoolean(1)), r.getLong(2))).toMap
    assert(Streams.lastMode == "cow-diff-pruned", Streams.lastMode)
    assert(d == Map(("INSERT", true) -> 4L, ("DELETE", true) -> 4L), d.toString)
  }

  test("APPEND_ONLY stream shared across sessions keeps every session's inserts") {
    val catalog = scala.collection.concurrent.TrieMap.empty[FQN, TableRef]
    val streams = new StreamCatalog
    val a = new GraftSession(spark, sharedCatalog = Some(catalog),
      sharedStreams = Some(streams))
    val b = new GraftSession(spark, sharedCatalog = Some(catalog),
      sharedStreams = Some(streams))
    a.sql("CREATE OR REPLACE TABLE sh_t AS SELECT 0 AS k")
    a.sql("CREATE STREAM sh_s ON TABLE sh_t APPEND_ONLY = TRUE")
    a.sql("INSERT INTO sh_t SELECT 1")
    b.sql("INSERT INTO sh_t SELECT 2")
    a.sql("DELETE FROM sh_t WHERE k = 1")
    def ks(s: GraftSession) = s.sql("SELECT k FROM sh_s ORDER BY k").collect()
      .map(_.getAs[Number](0).longValue()).toSeq
    assert(ks(a) == Seq(1L, 2L), s"session A: ${Streams.lastMode}")
    assert(Streams.lastMode == "insert-history", Streams.lastMode)
    assert(ks(b) == Seq(1L, 2L), s"session B: ${Streams.lastMode}")
    a.sql("DROP STREAM sh_s"); a.sql("DROP TABLE sh_t")
  }

  test("the insert log records only tables a stream watches") {
    val streams = new StreamCatalog
    val s = new GraftSession(spark, sharedStreams = Some(streams))
    s.sql("CREATE OR REPLACE TABLE il_t AS SELECT 0 AS k")
    s.sql("INSERT INTO il_t SELECT 1")
    assert(!streams.insertLog.contains(s.qualify("il_t")))
    s.sql("CREATE STREAM il_s ON TABLE il_t APPEND_ONLY = TRUE")
    s.sql("INSERT INTO il_t SELECT 2")
    assert(streams.insertLog(s.qualify("il_t")).length == 1)
  }
}
