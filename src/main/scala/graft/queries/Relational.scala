package graft.queries

import graft.{GQuery, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The relational surface the reference guarantees through its DuckDB
  * pass-through (SURVEY §2.B): scans, filters, projections, joins of every
  * type, aggregates, windows, sorts/limits/offsets, set ops, semi-structured
  * access, string/date/math functions. Evidence: the ClickBench corpus
  * (`resources/dwh-benchmark/clickbench.sql`) and the type matrix
  * (`tests/integration/utils.py:35-84`) in the reference repo.
  *
  * Shapes are re-expressed over the local TPC-H-ish testdata; execution is
  * pure DataFrame API so Catalyst owns pushdown/pruning/join selection.
  */
object Relational extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Exact money arithmetic: cast doubles to DECIMAL before aggregating so
    * the sum is associative and bit-identical to the DuckDB oracle. */
  private def dec2(c: Column)  = c.cast(DecimalType(12, 2))
  private def dec4(c: Column)  = c.cast(DecimalType(4, 2))
  private val oneMinus: Column => Column =
    c => (lit(1) - dec4(c)).cast(DecimalType(5, 2))
  private val onePlus: Column => Column =
    c => (lit(1) + dec4(c)).cast(DecimalType(5, 2))
  private def sumd(c: Column)  = sum(dec2(c)).cast(DoubleType)
  private def ntz(s: String)   = lit(s).cast(TimestampNTZType)

  // DuckDB-side fragments mirroring the helpers above.
  private val SUM_QTY   = "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)"
  private val DISC_PRICE =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))"
  private val REVENUE = s"CAST(sum($DISC_PRICE) AS DOUBLE)"

  val all: Seq[GQuery] = Seq(

    // ───── aggregates ────────────────────────────────────────────────────
    GQuery("q01_pricing_summary", Some(s"""
      SELECT l_returnflag, l_linestatus,
        $SUM_QTY AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        $REVENUE AS sum_disc_price,
        CAST(sum($DISC_PRICE * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS sum_charge,
        round($SUM_QTY / count(*), 6) AS avg_qty,
        round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ntz("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          sum(dec2(col("l_extendedprice")) * oneMinus(col("l_discount"))
            * onePlus(col("l_tax"))).cast(DoubleType).as("sum_charge"),
          round(sumd(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(sum(dec4(col("l_discount"))).cast(DoubleType) / count(lit(1)), 6)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    GQuery("q02_revenue_forecast", Some(s"""
      SELECT $REVENUE AS revenue, count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ntz("1996-01-01") &&
                col("l_shipdate") < ntz("1997-01-01") &&
                dec4(col("l_discount")).between(0.05, 0.07) &&
                col("l_quantity") < 24)
        .agg(
          sum(dec2(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    },

    GQuery("q06_count_distinct", Some("""
      SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS n_supp,
        count(DISTINCT l_partkey) AS n_part,
        count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    GQuery("q07_having", Some("""
      SELECT o_custkey, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent
      FROM orders GROUP BY o_custkey HAVING count(*) >= 12
      ORDER BY n_orders DESC, o_custkey LIMIT 25""")) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             sumd(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") >= 12)
        .orderBy(col("n_orders").desc, col("o_custkey"))
        .limit(25)
    },

    // ───── joins ─────────────────────────────────────────────────────────
    GQuery("q03_topk_unshipped", Some(s"""
      SELECT l_orderkey, $REVENUE AS revenue,
        CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR), o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""")) { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord  = t(s, dir, "orders").filter(col("o_orderdate") < ntz("1998-03-15"))
      val li   = t(s, dir, "lineitem").filter(col("l_shipdate") > ntz("1998-03-15"))
      // orders/customer are fact-scale (grow with SF) — no broadcast hints;
      // AQE broadcasts them only when runtime stats say they fit
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
                 col("o_orderdate").cast(DateType).cast(StringType).as("orderdate"),
                 col("o_orderpriority"))
        .agg(sum(dec2(col("l_extendedprice")) * oneMinus(col("l_discount")))
          .cast(DoubleType).as("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    GQuery("q04_order_priority_exists", Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")) { (s, dir) =>
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ntz("1996-01-01") &&
                col("o_orderdate") < ntz("1996-07-01"))
      val li = t(s, dir, "lineitem")
      ord.join(li,
          ord("o_orderkey") === li("l_orderkey") && li("l_shipdate") > ord("o_orderdate"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    GQuery("q05_nation_revenue", Some(s"""
      SELECT n_name, $REVENUE AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ntz("1996-01-01") &&
                col("o_orderdate") < ntz("1998-01-01"))
      val li   = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier")
      val nat  = t(s, dir, "nation")
      val reg  = t(s, dir, "region").filter(col("r_name") === "ASIA")
      // hints only on the fixed-size dims (nation=25, region=5 rows);
      // orders/customer/supplier grow with SF — AQE decides those
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(dec2(col("l_extendedprice")) * oneMinus(col("l_discount")))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    GQuery("q18_anti_join", Some("""
      SELECT o_orderstatus, count(*) AS n_orders
      FROM orders
      WHERE o_totalprice > 300000
        AND NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, dir) =>
      val ord = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      val li  = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    },

    GQuery("q24_full_outer", Some("""
      SELECT COALESCE(sn.nk, cn.nk) AS nationkey,
        COALESCE(sn.n_supp, 0) AS n_supp, COALESCE(cn.n_cust, 0) AS n_cust
      FROM (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) sn
      FULL OUTER JOIN (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) cn
      ON sn.nk = cn.nk
      ORDER BY nationkey""")) { (s, dir) =>
      val sn = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      val cn = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      sn.join(cn, sn("nk") === cn("nk"), "full_outer")
        .select(
          coalesce(sn("nk"), cn("nk")).as("nationkey"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy("nationkey")
    },

    GQuery("q25_cross_join", Some("""
      SELECT a.r_name AS r1, b.r_name AS r2
      FROM region a CROSS JOIN region b
      WHERE a.r_name < b.r_name
      ORDER BY r1, r2""")) { (s, dir) =>
      val a = t(s, dir, "region").select(col("r_name").as("r1"))
      val b = t(s, dir, "region").select(col("r_name").as("r2"))
      a.crossJoin(b).filter(col("r1") < col("r2")).orderBy("r1", "r2")
    },

    // ───── subqueries ────────────────────────────────────────────────────
    GQuery("q17_scalar_subquery", Some(s"""
      SELECT l_returnflag, count(*) AS n_above_avg
      FROM lineitem
      WHERE l_quantity > (SELECT $SUM_QTY / count(*) FROM lineitem)
      GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val avgQ = li.agg((sumd(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(broadcast(avgQ))
        .filter(col("l_quantity") > col("avg_qty"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_above_avg"))
        .orderBy("l_returnflag")
    },

    GQuery("q20_in_subquery", Some("""
      SELECT o_orderstatus, count(*) AS n_orders
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, dir) =>
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select("c_custkey")
      t(s, dir, "orders")
        .join(rich, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    },

    // ───── windows ───────────────────────────────────────────────────────
    GQuery("q12_window_topn", Some("""
      SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3
      ORDER BY o_orderpriority, rn""")) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
                row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_orderpriority", "rn")
    },

    GQuery("q13_window_running", Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
          OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
        lag(l_orderkey, 1) OVER (PARTITION BY l_suppkey
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_order
      FROM lineitem WHERE l_suppkey <= 5
      ORDER BY l_suppkey, l_orderkey, l_linenumber""")) { (s, dir) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(dec2(col("l_quantity")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running_qty"),
          lag(col("l_orderkey"), 1).over(w).as("prev_order"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },

    GQuery("q28_window_ranks", Some("""
      SELECT o_orderpriority, o_orderkey,
        CAST(rank() OVER w AS INT) AS rk,
        CAST(dense_rank() OVER w AS INT) AS drk,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) -
          CAST(first_value(o_totalprice) OVER w AS DECIMAL(12,2)), 2) AS DOUBLE) AS gap_to_top,
        lead(o_orderkey, 1) OVER w AS next_key
      FROM orders WHERE o_orderkey <= 500
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderpriority, rk, o_orderkey""")) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(col("o_orderpriority"), col("o_orderkey"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"),
          round(dec2(col("o_totalprice")) -
            dec2(first(col("o_totalprice")).over(w)), 2)
            .cast(DoubleType).as("gap_to_top"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"))
        .orderBy(col("o_orderpriority"), col("rk"), col("o_orderkey"))
    },

    // Approximate distinct: HLL sketch values differ across engines, so the
    // oracle checks the CONTRACT instead — the sketch must land within 5%
    // of the exact count (HLL++ default error is ~2.3%); the exact count
    // itself is oracled directly.
    GQuery("q29_approx_distinct", Some("""
      SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        TRUE AS approx_ok
      FROM lineitem GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
             countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.05).as("approx_ok"))
        .orderBy("l_returnflag")
    },

    // ───── sorts / limits ────────────────────────────────────────────────
    GQuery("q14_order_limit_offset", Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10""")) { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(20)
    },

    // ───── set operations ────────────────────────────────────────────────
    GQuery("q10_union_all", Some("""
      SELECT 'high' AS tier, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
      UNION ALL
      SELECT 'low' AS tier, o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 2000
      ORDER BY tier, o_orderkey""")) { (s, dir) =>
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 400000)
        .select(lit("high").as("tier"), col("o_orderkey"), col("o_totalprice"))
      val lo = o.filter(col("o_totalprice") < 2000)
        .select(lit("low").as("tier"), col("o_orderkey"), col("o_totalprice"))
      hi.unionAll(lo).orderBy("tier", "o_orderkey")
    },

    GQuery("q11_intersect", Some("""
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey""")) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },

    GQuery("q11b_except", Some("""
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY custkey""")) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
        .except(o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // ───── grouping sets / rollup ────────────────────────────────────────
    GQuery("q19_rollup", Some(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS INT) AS gid,
        count(*) AS n, $SUM_QTY AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, COALESCE(l_returnflag,'~'), COALESCE(l_linestatus,'~')""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast(IntegerType).as("gid"),
          count(lit(1)).as("n"),
          sumd(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"),
                 coalesce(col("l_returnflag"), lit("~")),
                 coalesce(col("l_linestatus"), lit("~")))
    },

    GQuery("q32_cube", Some(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS INT) AS gid,
        count(*) AS n, $SUM_QTY AS sum_qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, COALESCE(l_returnflag,'~'), COALESCE(l_linestatus,'~')""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast(IntegerType).as("gid"),
          count(lit(1)).as("n"),
          sumd(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"),
                 coalesce(col("l_returnflag"), lit("~")),
                 coalesce(col("l_linestatus"), lit("~")))
    },

    // Distribution window functions: percent_rank / cume_dist / nth_value
    // (explicit full frame — both engines default nth_value to the
    // running frame otherwise).
    GQuery("q33_window_distribution", Some("""
      SELECT o_orderpriority, o_orderkey,
        round(percent_rank() OVER w, 6) AS pr,
        round(cume_dist() OVER w, 6) AS cd,
        nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
      FROM orders
      WHERE o_totalprice > 300000
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderpriority, o_orderkey""")) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_key"))
        .orderBy("o_orderpriority", "o_orderkey")
    },

    // ───── expressions: case / strings / dates / math ────────────────────
    GQuery("q08_case_buckets", Some(s"""
      SELECT CASE WHEN l_quantity < 10 THEN 'small'
                  WHEN l_quantity < 30 THEN 'medium'
                  ELSE 'large' END AS bucket,
        count(*) AS n, $SUM_QTY AS sum_qty
      FROM lineitem GROUP BY 1 ORDER BY bucket""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("bucket",
          when(col("l_quantity") < 10, "small")
            .when(col("l_quantity") < 30, "medium")
            .otherwise("large"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sumd(col("l_quantity")).as("sum_qty"))
        .orderBy("bucket")
    },

    GQuery("q09_string_funcs", Some("""
      SELECT p_partkey,
        upper(p_brand) AS brand_u,
        lower(p_type) AS type_l,
        length(p_name) AS name_len,
        substr(p_name, 1, 5) AS name5,
        concat(p_brand, ':', p_type) AS brand_type,
        replace(p_type, 'O', '0') AS type_repl,
        regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
        trim(p_name) AS name_trim
      FROM part WHERE p_type LIKE '%O%' AND p_name NOT LIKE 'zz%'
      ORDER BY p_partkey LIMIT 100""")) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").like("%O%") && !col("p_name").like("zz%"))
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 5).as("name5"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_type"), "O", "0").as("type_repl"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
          trim(col("p_name")).as("name_trim"))
        .orderBy("p_partkey").limit(100)
    },

    GQuery("q15_date_trunc", Some("""
      SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY month""")) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate"))
          .cast(DateType).cast(StringType).as("month"))
        .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("total"))
        .orderBy("month")
    },

    GQuery("q16_extract_parts", Some("""
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
        count(*) AS n
      FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""")) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
                 quarter(col("o_orderdate")).as("qtr"))
        .agg(count(lit(1)).as("n"))
        .orderBy("yr", "qtr")
    },

    GQuery("q26_math_funcs", Some("""
      SELECT o_orderkey,
        round(abs(o_totalprice - 250000), 2) AS dist_mid,
        CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
        CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_k_up,
        round(sqrt(o_totalprice), 4) AS sq,
        round(ln(o_totalprice), 6) AS lnp,
        CAST(o_orderkey % 7 AS BIGINT) AS mod7,
        CAST(sign(o_totalprice - 250000) AS DOUBLE) AS sgn
      FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""")) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 200)
        .select(col("o_orderkey"),
          round(abs(col("o_totalprice") - 250000), 2).as("dist_mid"),
          floor(col("o_totalprice") / 1000).cast(LongType).as("price_k"),
          ceil(col("o_totalprice") / 1000).cast(LongType).as("price_k_up"),
          round(sqrt(col("o_totalprice")), 4).as("sq"),
          round(log(col("o_totalprice")), 6).as("lnp"),
          (col("o_orderkey") % 7).cast(LongType).as("mod7"),
          signum(col("o_totalprice") - 250000).cast(DoubleType).as("sgn"))
        .orderBy("o_orderkey")
    },

    GQuery("q22_distinct", Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ClickBench-style arithmetic aggregate projections (Q29 shape:
    // SUM(col + k) ladders) + combined-key count distinct
    GQuery("q30_clickbench_mix", Some("""
      SELECT l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) + 1) AS DOUBLE) AS s1,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) + 2) AS DOUBLE) AS s2,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) + 3) AS DOUBLE) AS s3,
        count(DISTINCT l_partkey || '|' || l_suppkey) AS n_part_supp
      FROM lineitem GROUP BY 1 ORDER BY l_linestatus""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          sum(dec2(col("l_quantity")) + 1).cast(DoubleType).as("s1"),
          sum(dec2(col("l_quantity")) + 2).cast(DoubleType).as("s2"),
          sum(dec2(col("l_quantity")) + 3).cast(DoubleType).as("s3"),
          countDistinct(concat(col("l_partkey"), lit("|"), col("l_suppkey")))
            .as("n_part_supp"))
        .orderBy("l_linestatus")
    },

    GQuery("q31_regexp_extract", Some("""
      SELECT p_partkey,
        CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS INT) AS brand_num,
        regexp_extract(p_name, '^(\w+)', 1) AS first_word
      FROM part WHERE regexp_matches(p_brand, 'Brand#\d+')
      ORDER BY p_partkey LIMIT 200""")) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_brand").rlike("Brand#\\d+"))
        .select(col("p_partkey"),
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1)
            .cast(IntegerType).as("brand_num"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
        .orderBy("p_partkey").limit(200)
    },

    // ───── semi-structured (VARIANT/JSON) ────────────────────────────────
    GQuery("q21_json_access", Some("""
      SELECT event_type,
        CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kmod,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2 ORDER BY event_type, kmod""")) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          (get_json_object(col("props"), "$.k").cast(LongType) % 10).as("kmod"))
        .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
        .orderBy("event_type", "kmod")
    },

    GQuery("q23_events_hourly", Some("""
      SELECT strftime(ts, '%Y-%m-%d %H') AS hour_str, event_type, count(*) AS n
      FROM events
      WHERE event_type IN ('click','purchase')
      GROUP BY 1, 2 ORDER BY hour_str, event_type LIMIT 500""")) { (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour_str"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("hour_str", "event_type")
        .limit(500)
    },

    // ── LowCardAgg vector-wave gates (round-11 directive #6) ─────────────
    // The vector-filter / dictionary-combo / computed-input paths are on
    // whenever the operator fires but rode only the (untimed-compare)
    // h-queries; these gates run on a cloned session whose table stats
    // pass the operator's NDV gate, so the DuckDB oracle catches a vector
    // regression. Aggregate inputs are
    // integral-valued doubles (l_quantity ≤ 50, l_linenumber ≤ 7), so
    // sums are exactly representable and the hash compare is
    // order-insensitive. Fire-assertions for the same shapes live in
    // LowCardAggSpec (expectFire = true).
    GQuery("q34_vector_filter_atoms", Some("""
      SELECT count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sq,
        CAST(avg(l_quantity) AS DOUBLE) AS aq,
        CAST(min(l_quantity) AS DOUBLE) AS mn,
        CAST(max(l_quantity) AS DOUBLE) AS mx,
        count(l_discount) AS nd
      FROM lineitem
      WHERE l_quantity > 25 AND l_extendedprice <= 40000
        AND l_returnflag LIKE '%A%' AND l_discount IS NOT NULL
        AND l_shipdate >= TIMESTAMP '1995-01-01'""")) { (s, dir) =>
      gatedLoad(s, dir, "lineitem")
        .filter(col("l_quantity") > 25 && col("l_extendedprice") <= 40000 &&
          col("l_returnflag").contains("A") && col("l_discount").isNotNull &&
          col("l_shipdate") >= ntz("1995-01-01"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"),
          avg(col("l_quantity")).as("aq"), min(col("l_quantity")).as("mn"),
          max(col("l_quantity")).as("mx"), count(col("l_discount")).as("nd"))
    },

    GQuery("q35_dict_combo_fallback_pred", Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(l_quantity) AS DOUBLE) AS sq,
        CAST(min(l_quantity) AS DOUBLE) AS mn,
        CAST(max(l_quantity) AS DOUBLE) AS mx
      FROM lineitem
      WHERE l_quantity > 45 OR l_discount < 0.02
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, dir) =>
      // OR condition: non-decomposable → the generated-Predicate fallback
      // inside the operator; two dict-encoded string keys → the
      // dictionary-code combo path
      gatedLoad(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 || col("l_discount") < 0.02)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"),
          min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    GQuery("q36_vector_computed_group", Some("""
      SELECT l_returnflag,
        CAST(sum(l_quantity * 2.0 - 1.0) AS DOUBLE) AS s1,
        CAST(avg(l_quantity + CAST(l_linenumber AS DOUBLE)) AS DOUBLE) AS a1,
        count(*) AS n
      FROM lineitem GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      // computed VecSpec inputs: double arithmetic + a widening int→double
      // cast (the ADVICE r10 compileVec tightening keeps exactly these)
      gatedLoad(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity") * lit(2.0) - lit(1.0)).as("s1"),
          avg(col("l_quantity") + col("l_linenumber").cast(DoubleType)).as("a1"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    GQuery("q37_regex_filter_atoms", Some("""
      SELECT source, count(*) AS n,
        CAST(sum(n_chars) AS BIGINT) AS sc, max(n_chars) AS mx
      FROM documents
      WHERE regexp_matches(lang, '^(en|de|f)')
        AND source NOT LIKE '%r%1%'
        AND NOT regexp_matches(text, '[0-9]{4,}')
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      // RLIKE (find semantics, = DuckDB regexp_matches) + a NOT LIKE
      // whose inner wildcards LikeSimplification cannot rewrite — all
      // lower to RegexAtom inside the gated LowCardAgg. lang/source
      // are low-NDV (parquet dictionary-backs them → once-per-code
      // verdicts, the expensive-atom shape the cache was built for;
      // probes/dict_regex.json); text is high-NDV so NOT RLIKE there
      // pins the per-row Matcher path in the same plan. Fire-assertions
      // live in LowCardAggSpec; that this gate fires is recorded in
      // probes/dict_regex.json.
      gatedLoad(s, dir, "documents")
        .filter(col("lang").rlike("^(en|de|f)") &&
          !col("source").like("%r%1%") &&
          !col("text").rlike("[0-9]{4,}"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sc"), max(col("n_chars")).as("mx"))
        .orderBy("source")
    }
  )

  /** `name` read on a cloned session with CBO on and the table's
    * AutoStats collected — the stats a real session plans with, under
    * which LowCardAgg's NDV gate admits these gates' low-cardinality
    * keys (the operator's vector paths are always on once it fires).
    * Extensions re-inject on newSession (same `spark.sql.extensions`
    * static conf). */
  private def gatedLoad(s: SparkSession, dir: String,
      name: String): DataFrame = {
    val f = s.newSession()
    f.conf.set("spark.sql.cbo.enabled", "true")
    val df = Tables.load(f, dir, name)
    graft.engine.AutoStats.maybeCollect(f, df)
    df
  }
}
