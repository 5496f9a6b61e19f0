package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: one JSON line of per-query hot-run seconds.
  *
  * Hot-run semantics match BASELINE.md — the reference's ClickBench totals
  * are sums of each query's SECOND run — so an untimed warm pass runs
  * first (JVM/codegen warmup + page cache), then the timed pass.
  *
  * The gate-query pack at sf0.1 is dominated by Spark's fixed per-job
  * overhead (~0.2 s scheduler/codegen floor), which says nothing about
  * data-path throughput — so a HEAVY phase replicates lineitem/events
  * ~100× (≈60 M lineitem rows, cached across runs in /tmp) and times
  * ClickBench-shape aggregates where scan+agg cost dominates. Reported
  * as `heavy` (per-query seconds) and `heavy_mrows_per_sec` (scanned
  * M rows / sec per query), the unit BASELINE.md's DuckDB numbers
  * (100 M rows / 9.3 s over 43 queries ≈ 460 M rows/s) are comparable
  * in. Disable with SPARK_GRAFT_HEAVY=0; scale with
  * SPARK_GRAFT_HEAVY_REPL.
  */
object Bench {

  private case class HeavyOut(full: String, compact: String,
      dir: String, secs: Map[String, Double], gateFailed: Boolean = false,
      contaminated: Boolean = false)

  /** Execute the query's FULL physical plan and count its rows without
    * collecting them. `df.count()` is NOT that: Catalyst prunes columns
    * under the appended count-aggregate, so a bare `groupBy().agg(...)`
    * degrades to a keys-only DISTINCT (h02 lost all four aggregates,
    * h04 lost its COUNT(DISTINCT) entirely — verified on the optimized
    * plans, round 9) while the paired DuckDB side computes and fetches
    * every value. toRdd compiles the query's own plan — every output
    * column is produced — and counting the resulting InternalRows adds
    * only the iterator walk, the closest Spark analog of `fetchall`. */
  private def fullExec(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // never RECORD a contended official artifact — wait for a quiet
    // machine instead (round-7 directive). Gated before any Spark work.
    val gateJson = gateOnLoad()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE convert sort-merge → shuffled-hash when the RUNTIME size
      // of the build side's largest partition fits (stats-driven, so safe
      // at any scale — unlike blanket preferSortMergeJoin=false);
      // h09's 60M×15M join drops ~20% by skipping both sorts
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "512m")
      // shuffle compression ON (the default, and what a real cluster
      // runs): re-measured round 4 with a two-JVM A/B on the h09 join —
      // lz4 wins ~12% here (min 3.10 vs 3.47/3.58 s both orders; the
      // 2.8 GB uncompressed exchange costs more in page-cache writes
      // than lz4 costs in CPU at 32 threads); re-confirmed under full
      // drain in probes/h09_serialization.json (compression off +25-40%).
      .config("spark.shuffle.compress", "true")
      .config("spark.shuffle.spill.compress", "true")
      // trust the bucket pre-sort on h09b's one-sorted-file-per-bucket
      // layout so the co-located SMJ runs sort-free (GraftSession sets
      // this for its own statements, but since the conf-scoping fix it
      // no longer leaks into this session — round 5's h09b numbers
      // silently depended on that leak)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // the engine's plan rules, each stats-gated exactly as in a real
      // session (heavyPhase collects AutoStats on the heavy tables so the
      // LowCardAgg and DistinctToBitmap gates can evaluate)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = loadavg()
    // PHASE ORDER (round 10): the RATIOED phases run FIRST — heavy on the
    // fresh JVM (the state the committed quiet floors were recorded in),
    // DuckDB re-gated immediately after, so both ratio sides see adjacent
    // machine state. The pack (not ratioed, not floor-checked) runs last:
    // measured pack-first cost the Spark heavy mins 10-30% vs their
    // floors (200 s of heap/JIT churn) while DuckDB — a fresh process
    // either way — paid nothing, skewing the published ratio.
    val heavyOut =
      if (sys.env.getOrElse("SPARK_GRAFT_HEAVY", "1") != "0")
        try Some(heavyPhase(spark, sfDir))
        catch { case e: Throwable =>
          val err = s""","heavy_error":"${e.getMessage.replace('"', '\'')}""""
          Some(HeavyOut(err, err, "", Map.empty)) }
      else None
    // same-invocation DuckDB pairing (round-7 directive): ratio the two
    // sides under ONE machine state — artifacts recorded an hour apart
    // under drifting absolute speed cannot be compared
    val (duckFull, duckCompact, duckContaminated) = heavyOut match {
      case Some(h) if h.dir.nonEmpty &&
          sys.env.getOrElse("SPARK_GRAFT_DUCKDB", "1") != "0" =>
        try duckDbPhase(h.dir, cpus, h.secs)
        catch { case e: Throwable =>
          val er = s""","duckdb_error":"${e.getMessage.replace('"', '\'')}""""
          (er, er, false) }
      case _ => ("", "", false)
    }
    val heavyJson = heavyOut.map(_.full).getOrElse("") + duckFull
    val heavyCompact = heavyOut.map(_.compact).getOrElse("") + duckCompact

    // dev iteration flag: skip the pack to isolate the heavy phase in
    // the exact bench harness (official artifacts always run both)
    val packOn = sys.env.getOrElse("SPARK_GRAFT_PACK", "1") != "0"
    val queries =
      if (packOn) SparkEntry.queries.toSeq.sortBy(_._1) else Nil
    // the heavy phase scaled shuffle partitions and enabled CBO for its
    // own tables — restore the session defaults for the pack
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.conf.set("spark.sql.cbo.enabled", "false")
    // warm pass (untimed)
    queries.foreach { case (_, fn) =>
      try fullExec(fn(spark, sfDir)) catch { case _: Throwable => }
    }
    // timed pass
    val results = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fullExec(fn(spark, sfDir)) } catch { case _: Throwable => -1L }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // Machine-state-independent floor-to-floor ratio (round-12 directive
    // #1b): computed from the COMMITTED reproduction-required floors on
    // both sides, so every artifact carries a number comparable across
    // rounds even when the live window was hot. Raw = Σ spark h01-h09
    // floors / Σ duckdb h01-h09 floors; bucketed substitutes h09b.
    val f2fJson = floorToFloorJson()
    // heap-per-core audit (round-12 directive #6): the repl≥200 GC mode
    // is identifiable from the artifact alone.
    val heapGb = Runtime.getRuntime.maxMemory / (1L << 30).toDouble
    val heapJson = s""","heap_gb":${f"$heapGb%.1f"},""" +
      s""""heap_per_core_gb":${f"${heapGb / cpus.toDouble}%.2f"}"""

    // Full-precision detail: printed FIRST (survives in full logs) and
    // written to bench_detail.json — NOT the last line, because the
    // harness that collects this output keeps only a bounded tail.
    val loadJson = s""","loadavg_start":$loadStart,"loadavg_end":${loadavg()}""" +
      f2fJson + heapJson
    // name the committed floors the floor-to-floor ratios were computed
    // against, so the artifact is self-contained evidence (r13 dir. #4)
    val floorRepl = sys.env.getOrElse("SPARK_GRAFT_HEAVY_REPL", "100").toInt
    val floorSuffix = if (floorRepl == 100) "" else s"_repl$floorRepl"
    val floorsJson =
      s""","floors":{"spark":"probes/spark_floors$floorSuffix.json",""" +
      s""""duckdb":"probes/duckdb_floors$floorSuffix.json"}"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$heavyJson$loadJson$gateJson$floorsJson}"""
    println(detail)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"), detail + "\n")
    catch { case _: Throwable => }

    // The LAST stdout line is the machine-read result and must fit,
    // together with sbt's trailing "[success] ..." line, inside a
    // 2000-char tail window — BENCH_r13 proved the 40-query compact
    // form still doesn't survive it (the window also holds the end of
    // the detail line, and the driver recorded "parsed": null — round-13
    // directive #4). The line is now a SHORT summary: heavy map +
    // ratios + the 10 slowest gates, with "detail" naming the stable
    // self-contained artifact (bench_detail.json, committed per round)
    // that carries the full per-query map, floors, and gate evidence.
    def short(name: String): String = name.takeWhile(_ != '_')
    def fmt(v: Double): String = f"$v%.2f"
    val slowest = results.sortBy(-_._2).take(10).map { case (k, v) =>
      s"""\"${short(k)}\":${fmt(v)}""" }
    val out =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${slowest.mkString("{", ",", "}")},"queries_truncated":true,"detail":"bench_detail.json","sf":"$sfDir"$heavyCompact$loadJson$gateJson}"""
    // stop Spark BEFORE the machine-read line: its shutdown logging must
    // not be able to land between the metric line and end-of-output
    spark.stop()
    println(out)
    if (heavyOut.exists(_.gateFailed)) {
      System.err.println("FATAL: a stats-gated rule did NOT fire on the " +
        "eligible heavy shapes (see heavy_gate) — artifact written, " +
        "exiting non-zero (round-11 directive #7)")
      sys.exit(2)
    }
    // Round-12 directive #1a: a headline that is still contaminated
    // AFTER the chase loop exhausted its sweep budget must not pass
    // silently — BENCH_r11 published ratio 4.311 with contended:true and
    // rc 0, an uncomparable number committed as the official record.
    // The artifact is already written (self-indicting, with the
    // floor-to-floor ratio as the comparable fallback); refuse the rc.
    if (heavyOut.exists(_.contaminated) || duckContaminated) {
      System.err.println("FATAL: heavy mins still contaminated after the " +
        "chase budget (contended / over-chase — see the artifact's " +
        "heavy_over_floor / heavy_unconfirmed / duckdb_over_chase). " +
        "Artifact written with ratio_floor_to_floor as the comparable " +
        "number; exiting non-zero (round-12 directive #1).")
      sys.exit(3)
    }
  }

  /** `,"ratio_floor_to_floor":R,"ratio_floor_to_floor_bucketed":B` from
    * the committed floors files FOR THIS RUN'S SCALE, or "" when no
    * floors were recorded at it — round-12's repl=400 artifact carried
    * floors computed from 60 M-row runs, a number describing a
    * different scale than the artifact's own (round-13 directive #2).
    * Independent of the live machine state by construction. */
  private def floorToFloorJson(): String = try {
    import scala.jdk.CollectionConverters._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def qmap(path: String): Map[String, Double] =
      om.readTree(new java.io.File(path)).path("queries").fields().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    val repl = sys.env.getOrElse("SPARK_GRAFT_HEAVY_REPL", "100").toInt
    val suffix = if (repl == 100) "" else s"_repl$repl"
    val sf = qmap(s"probes/spark_floors$suffix.json")
    val df = qmap(s"probes/duckdb_floors$suffix.json")
    val common = df.keySet.intersect(sf.keySet).toSeq.sorted
    val dSum = common.map(df).sum
    if (common.isEmpty || dSum <= 0) return ""
    val raw = common.map(sf).sum / dSum
    val bKey = "h09b_join_agg_bucketed"
    val bucketed =
      if (sf.contains(bKey))
        (common.filterNot(_.startsWith("h09")).map(sf).sum + sf(bKey)) / dSum
      else Double.NaN
    s""","ratio_floor_to_floor":${f"$raw%.3f"}""" +
      (if (bucketed.isNaN) ""
       else s""","ratio_floor_to_floor_bucketed":${f"$bucketed%.3f"}""")
  } catch { case _: Throwable => "" }

  // ── heavy phase ─────────────────────────────────────────────────────────

  private def heavyPhase(spark: SparkSession, sfDir: String): HeavyOut = {
    // the pack leaves sf0.1 tables cached (Tables.load); heavy measures
    // scan+agg+join over its own replicated parquet and must not compete
    // with stale cached blocks for executor memory
    spark.catalog.clearCache()
    val repl = sys.env.getOrElse("SPARK_GRAFT_HEAVY_REPL", "100").toInt
    // scale shuffle partitions with the input so per-task memory stays
    // CONSTANT as the data grows — the round-7 scale sweep caught the
    // fixed-count version failing at repl=400: AQE's shuffled-hash
    // conversion sized each h09 build side at rows/32 (~190 MB), 32
    // concurrent unspillable hash relations blew the 8 g pool ("Can't
    // acquire … bytes to build hash relation"). With partitions ∝ rows
    // the per-task build is the same at every repl (AQE coalesces the
    // small aggregate shuffles back down). repl=100 keeps the official
    // 1-partition-per-core layout bit-identical.
    val cores = spark.sparkContext.defaultParallelism
    // SPARK_GRAFT_HEAVY_PARTS: probe-only override of the rows-
    // proportional default (per-task memory constant across repl)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_PARTS",
        math.max(cores, cores * repl / 100).toString))
    val dir = ensureHeavyData(spark, sfDir, repl)
    val li = spark.read.parquet(s"$dir/lineitem")
    val ev = spark.read.parquet(s"$dir/events")
    val ord = spark.read.parquet(s"$dir/orders")
    // gate plumbing (round-10 directive #4): the heavy queries run under
    // the SAME stats gates a real session gets. Stats flow only with CBO
    // on; the heavy tables exceed the lazy-collect size cap (a deployment
    // folds stats into the write job instead — AutoStats class doc), so
    // collect them uncapped, once, outside the timed region.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    Seq(li, ev, ord).foreach(
      graft.engine.AutoStats.maybeCollect(spark, _, maxBytes = Long.MaxValue))
    val liRows = li.count()
    val evRows = ev.count()
    val ordRows = ord.count()

    // ClickBench-shape heavy aggregates: full scans, low/high-cardinality
    // groupings, count-distinct, arithmetic projections, string matching.
    // Every plan is scan → partial agg → exchange → final agg (+ top-k);
    // no fact-side broadcasts, no windows over the full set.
    val heavy: Seq[(String, () => DataFrame, Long)] = Seq(
      ("h01_filter_agg", () => li.filter(col("l_quantity") > 25)
        .agg(count(lit(1)), sum(col("l_extendedprice")),
          avg(col("l_discount"))), liRows),
      ("h02_group_lowcard", () => li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")), sum(col("l_extendedprice")),
          avg(col("l_discount")), count(lit(1))), liRows),
      ("h03_group_highcard_topk", () => li.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("rev"))
        .orderBy(col("rev").desc).limit(10), liRows),
      ("h04_count_distinct", () => li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey"))), liRows),
      ("h05_arith_revenue", () => li
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))), liRows),
      ("h06_having_topk", () => li.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
        .filter(col("n") > 100)
        .orderBy(col("q").desc).limit(10), liRows),
      ("h07_events_hourly", () => ev
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), avg(col("value")))
        .orderBy(col("n").desc).limit(10), evRows),
      ("h08_events_like", () => ev
        .filter(col("props").like("%a%"))
        .groupBy("event_type")
        .agg(count(lit(1)), avg(col("value"))), evRows),
      // fact-fact shuffle join: orders (15 M rows at repl=100) is far past
      // any broadcast threshold, so this exercises the real exchange path
      ("h09_join_agg", () => li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .orderBy(col("rev").desc), liRows + ordRows),
      // the same join over bucketed storage (CLUSTER BY … INTO n BUCKETS
      // through the session, x16/snow49): both sides pre-hashed on the
      // key, so the join itself needs NO exchange — h09's residual
      // materialized exchange, amortized into the one-time write. The
      // bucketed copies are built once and cached next to the heavy dir.
      // h09 LEDGER CLOSED (round 15, probes/h09_spj_close.json): the
      // executed plan here is SMJ directly over two bucketed scans —
      // zero exchanges/sorts on the join inputs — so a storage-
      // partitioned-join (DSv2 KeyGroupedPartitioning) read path has
      // nothing left to remove, and raw h09's ~2× is the inherent
      // materialized-exchange cost on unorganized storage. No further
      // relitigation.
      ("h09b_join_agg_bucketed", () => {
        ensureHeavyBucketed(spark, dir)
        spark.table("graft_h09b_li")
          .join(spark.table("graft_h09b_ord"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
          .orderBy(col("rev").desc)
      }, liRows + ordRows))

    heavy.foreach { case (_, fn, _) =>
      try { val _ = fullExec(fn()) } catch { case _: Throwable => } // warm
    }
    // INTERLEAVED variance-aware sweeps (round-5 lesson: 3 consecutive
    // reps per query let a load transient sit on a single query — the
    // recorded r5 heavy section was 5-17× off a quiet re-run and min-of-3
    // did not save it). Each sweep runs h01..h09b once, so contention
    // spreads across all queries instead of poisoning one; per-sweep
    // /proc/loadavg is recorded so the artifact carries its own evidence.
    // After the base sweeps, any query whose reported min is not
    // REPRODUCED by a second sample (see `unconfirmed` below) triggers
    // extra sweeps (cap 7 total); if it persists the artifact is stamped
    // "contended":true with the offending queries — a recorded number
    // that can silently lie is worse than no number.
    val baseSweeps = sys.env.getOrElse("SPARK_GRAFT_HEAVY_REPS", "3").toInt
    val maxSweeps = math.max(baseSweeps,
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_MAX_REPS", "7").toInt)
    // a query only counts toward the contention signal when its rep
    // delta is material in absolute terms: a 0.1 s query jittering to
    // 0.4 s is scheduler/GC noise that says nothing about external load
    // (and would stamp quiet runs contended), while real contamination
    // moves multi-second queries by seconds (r5: h02 +2.6 s, h09b +27 s)
    val spreadFloor =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_SPREAD_FLOOR", "0.5").toDouble
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failedQ = scala.collection.mutable.Set.empty[String]
    val sweepLoads = scala.collection.mutable.ArrayBuffer.empty[String]
    val sweepExt = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sweepWait = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sweepExtDuring = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Per-sample GC / spill / fetch-wait deltas (round-11 directive #2:
    // the h09/h04 quiet-run bimodality needs a named mechanism — the
    // artifact now carries the evidence per sample), plus the physical
    // join operator AQE picked for each h09 sample (plan-flip check:
    // shuffled-hash vs sort-merge is exactly a 2-3× swing).
    val bm = new org.apache.spark.GraftBenchMetrics(spark.sparkContext)
    val gcS = scala.collection.mutable.Map.empty[String, Vector[Long]]
      .withDefaultValue(Vector.empty)
    val spillS = scala.collection.mutable.Map.empty[String, Vector[Long]]
      .withDefaultValue(Vector.empty)
    val fetchS = scala.collection.mutable.Map.empty[String, Vector[Long]]
      .withDefaultValue(Vector.empty)
    // samples whose metric delta is suspect because a boundary snapshot
    // hit the 10 s bus-drain timeout (round-11 ADVICE: an undrained bus
    // leaks one sample's task metrics into the next delta)
    val undrained = scala.collection.mutable.ArrayBuffer.empty[String]
    val joinImpl = scala.collection.mutable.ArrayBuffer.empty[String]
    def joinTag(df: DataFrame): String = {
      val p = df.queryExecution.executedPlan.toString
      if (p.contains("ShuffledHashJoin")) "SHJ"
      else if (p.contains("SortMergeJoin")) "SMJ"
      else if (p.contains("BroadcastHashJoin")) "BHJ" else "?"
    }
    def runSweep(): Unit = {
      // Re-gate BEFORE each sweep (round-8 judge: the reproduced-minima
      // detector passed an artifact whose every sample was uniformly
      // inflated by sustained background load). The start-of-run loadavg
      // gate can't re-run here — our own just-finished sweep dominates
      // loadavg for minutes — so gate on EXTERNAL cpu instead: total
      // non-idle jiffies minus this JVM's own, sampled over 1 s. That
      // is a direct measurement of other processes' load, available
      // immediately after our own burst.
      val (ext, waited) = gateSweepExternal()
      sweepExt += ext; sweepWait += waited
      sweepLoads += loadavg()
      // external CPU DURING the sweep, not just at the gate: the r10
      // "bimodality" (h09 2.92→8.77 s within one gated run,
      // probes/sweep_repl100.json) was a sweep-wide uniform slowdown —
      // every query in sweeps 2-3 elevated — with ext_cores ≈ 0 at gate
      // time: a background burst that STARTED MID-SWEEP is invisible to
      // a pre-sweep gate. This delta names it in the artifact.
      val (db0, ds0) = cpuSnapshot()
      val sweepT0 = System.nanoTime()
      heavy.foreach { case (name, fn, _) =>
        val df = try fn() catch { case e: Throwable =>
          System.err.println(s"heavy $name build FAILED: $e")
          failedQ += name; null }
        if (df != null) {
          val (g0, sp0, fw0, _, dr0) = bm.snapshot()
          val t0 = System.nanoTime()
          val ok = try { fullExec(df); true } catch { case e: Throwable =>
            System.err.println(s"heavy $name FAILED: $e"); false }
          if (ok) {
            samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
            val (g1, sp1, fw1, _, dr1) = bm.snapshot()
            gcS(name) = gcS(name) :+ (g1 - g0)
            spillS(name) = spillS(name) :+ (sp1 - sp0)
            fetchS(name) = fetchS(name) :+ (fw1 - fw0)
            if (!dr0 || !dr1)
              undrained += s"$name#${samples(name).size - 1}"
            if (name == "h09_join_agg") joinImpl += joinTag(df)
          } else failedQ += name
        }
      }
      val (db1, ds1) = cpuSnapshot()
      val sweepSec = math.max(1e-3, (System.nanoTime() - sweepT0) / 1e9)
      sweepExtDuring +=
        math.max(0.0, ((db1 - db0) - (ds1 - ds0)) / 100.0) / sweepSec
    }
    // spread is computed over steady-state samples: each query's FIRST
    // timed sample is excluded (once ≥3 exist) because sweep 1 inherits
    // one-time costs — page-cache population after clearCache, first
    // listing of freshly written bucketed files — that are warmup, not
    // contention. Sustained external load hits later sweeps too (r5's
    // contamination did), so the signal survives; raw per-sweep samples
    // are recorded in the artifact so the claim is auditable.
    def steady(s: Vector[Double]): Vector[Double] =
      if (s.size >= 3) s.tail else s
    def worstSpread(): Double = heavy.map { case (name, _, _) =>
      val s = steady(samples(name))
      if (s.size < 2 || s.min <= 0 || s.max - s.min < spreadFloor) 1.0
      else s.max / s.min
    }.max
    // The REPORTED value is each query's min — so the `contended` stamp
    // asks whether that min is REPRODUCED, not whether every sweep was
    // quiet. Max/min spread (rounds 5-7) had a poison-forever property:
    // one transient outlier in the steady set kept the spread above the
    // bar no matter how many clean extra sweeps followed (r7 official:
    // worst_spread 35.78 from a single sweep while the eventual mins
    // were reproduced to within a few %). A query is UNCONFIRMED when
    // its two smallest steady samples disagree by >confirmBar with a
    // material absolute gap; extra sweeps then add a chance to confirm
    // (heal) instead of being unable to shrink a max. Sustained external
    // load still trips this — it inflates every sample, so no two agree
    // near a true min only when the load varies, and the uniform case is
    // covered by the loadavg gate + per-sweep loadavg in the artifact.
    val confirmBar =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_CONFIRM_BAR", "1.5").toDouble
    // floors prefer probes/spark_floors.json (round 11: reproduction-
    // required minima pooled across fresh-JVM runs — the symmetric
    // protocol to duckdb_floors.json) over scale_sweep.json's
    // single-leg repl-100 column. SCALE-INDEXED (round-13 directive
    // #2): repl ≠ 100 reads probes/spark_floors_repl<N>.json recorded
    // at that scale, never the 60 M-row floors.
    val floors: Map[String, Double] = try {
      import scala.jdk.CollectionConverters._
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val sf = new java.io.File(
        if (repl == 100) "probes/spark_floors.json"
        else s"probes/spark_floors_repl$repl.json")
      if (sf.exists()) {
        om.readTree(sf).path("queries").fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
      } else if (repl == 100) {
        om.readTree(new java.io.File("probes/scale_sweep.json"))
          .path("queries").fields().asScala.map(e =>
            e.getKey -> e.getValue.path("secs").path(0).asDouble()).toMap
      } else Map.empty
    } catch { case _: Throwable => Map.empty }
    // A min at or below its committed quiet floor is ALREADY the quiet
    // truth — exempt it from the confirmation check (round-13 directive
    // #7: r12's h01 min was below floor yet its 1.51 spread triggered a
    // pure-waste chase to the sweep cap).
    def atFloor(name: String): Boolean =
      samples(name).nonEmpty &&
        floors.get(name).exists(f => f > 0 && samples(name).min <= f)
    // Confirmation inspects ALL samples, not the steady tail — the
    // REPORTED value is the min over all samples, so a first-sweep min
    // must itself be reproduced by a second sample from any sweep
    // (round-8 ADVICE: the steady-only check let an unconfirmed
    // first-sweep min ship). A query with <2 successful samples cannot
    // be confirmed at all — unconfirmed, never vacuously passed.
    def unconfirmed(): Seq[String] = heavy.collect { case (name, _, _)
        if !failedQ(name) && !atFloor(name) && {
          val st = samples(name).sorted
          st.size < 2 || (st(0) > 0 &&
            st(1) - st(0) >= spreadFloor && st(1) / st(0) > confirmBar)
        } => name }
    // Committed-quiet-floor cross-check (round-8 judge: uniform
    // background load inflates every sample CONSISTENTLY, so inflated
    // minima reproduce and the confirmation check passes — r8's official
    // h05 shipped 5× its quiet value stamped contended:false). The
    // repl=100 column of probes/scale_sweep.json is this machine's
    // committed quiet floor per query; a reported min more than
    // SPARK_GRAFT_HEAVY_FLOOR_BAR (default 2×) above its floor is
    // contamination regardless of reproduction.
    val floorBar =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_FLOOR_BAR", "2.0").toDouble
    // Self-healing (round-11 directive #1: BENCH_r10 shipped with a
    // Spark h09 at 1.89× floor — detected, not remediated): any query
    // whose running min exceeds CHASE_BAR × floor triggers extra sweeps
    // within the maxSweeps budget, the same headroom the unconfirmed
    // check uses, BEFORE the artifact is stamped.
    val chaseBar =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_CHASE_BAR", "1.5").toDouble
    def overFloorNow(bar: Double): Seq[String] = heavy.collect {
      case (name, _, _) if !failedQ(name) && samples(name).nonEmpty &&
        floors.get(name).exists(f => f > 0 && samples(name).min > bar * f)
      => name }
    (1 to baseSweeps).foreach(_ => runSweep())
    var sweeps = baseSweeps
    while ((unconfirmed().nonEmpty || overFloorNow(chaseBar).nonEmpty) &&
        sweeps < maxSweeps) {
      System.err.println(
        s"heavy min unconfirmed for ${unconfirmed().mkString(",")} / " +
        s"over ${chaseBar}x floor for ${overFloorNow(chaseBar).mkString(",")}" +
        " — extra sweep")
      runSweep(); sweeps += 1
    }
    val timed = heavy.map { case (name, _, rows) =>
      val ok = !failedQ(name) && samples(name).nonEmpty
      val sec = if (ok) samples(name).min else Double.NaN
      (name, sec, rows / sec / 1e6, ok)
    }
    val overFloor = overFloorNow(floorBar)
    val overChase = overFloorNow(chaseBar)
    val contended = unconfirmed().nonEmpty || overFloor.nonEmpty
    val hq = timed.map { case (k, v, _, ok) =>
      s"\"" + k + "\":" + (if (ok) v.toString else "\"error\"") }
      .mkString("{", ",", "}")
    val hr = timed.collect { case (k, _, r, true) => s"\"" + k + "\":" + f"$r%.1f" }
      .mkString("{", ",", "}")
    val spreads = timed.collect { case (k, _, _, true) =>
      val s = steady(samples(k))
      val sp = if (s.size < 2 || s.min <= 0) 1.0 else s.max / s.min
      s"\"" + k + "\":" + f"$sp%.2f" }.mkString("{", ",", "}")
    // raw per-sweep times, in sweep order — the artifact carries the
    // evidence behind spread/contended instead of asking to be trusted
    val raw = timed.collect { case (k, _, _, true) =>
      s"\"" + k + "\":" + samples(k).map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failed = timed.collect { case (k, _, _, false) => s"\"$k\"" }
    val hTotal = timed.filter(_._4).map(_._2).sum
    val failedJson =
      if (failed.isEmpty) "" else s""","heavy_failed":[${failed.mkString(",")}]"""
    val contendedJson =
      s""","contended":$contended""" + (if (contended)
        s""","heavy_unconfirmed":[${unconfirmed().map("\"" + _ + "\"").mkString(",")}],""" +
        s""""heavy_over_floor":[${overFloor.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""heavy_worst_spread":${f"${worstSpread()}%.2f"}""" else "")
    val floorsJson = if (floors.isEmpty) "" else
      s""","heavy_floors":${floors.toSeq.sorted.map { case (k, v) =>
        s"\"" + k + "\":" + v }.mkString("{", ",", "}")}"""
    // audit: whether the low-card/bitmap plans actually FIRED (a gate
    // regressing to stock silently would otherwise masquerade as a perf
    // loss). A non-fire FAILS THE BENCH (round-11 directive #7): the
    // artifact is still written, but the process exits non-zero so a
    // silent gate regression can't publish as a perf number.
    val (lcFired, bmFired) = {
      def fired(df: org.apache.spark.sql.DataFrame, mark: String): Boolean =
        try {
          df.queryExecution.toRdd.count()
          df.queryExecution.executedPlan.toString.contains(mark)
        } catch { case _: Throwable => false }
      (fired(li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1))), "LowCardAgg"),
       fired(li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey"))), "bitmap_distinct_count"))
    }
    val gateFailed = !lcFired || !bmFired
    val firedJson =
      s""","heavy_gate":{"lowCardAggFired":$lcFired,"bitmapFired":$bmFired}""" +
        (if (gateFailed) s""","gate_failed":true""" else "")
    // per-sample mechanism evidence (directive #2): GC ms, spill bytes,
    // shuffle fetch-wait ms per timed sample, and the join operator AQE
    // picked per h09 sample — bimodality must name its cause
    def lmap(m: scala.collection.Map[String, Vector[Long]]): String =
      timed.collect { case (k, _, _, true) if m(k).nonEmpty =>
        s"\"" + k + "\":" + m(k).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val mechJson =
      s""","heavy_gc_ms":${lmap(gcS)},"heavy_spill_bytes":${lmap(spillS)},""" +
      s""""heavy_fetch_wait_ms":${lmap(fetchS)},""" +
      s""""h09_join_impl":${joinImpl.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
      (if (overChase.nonEmpty)
        s""","heavy_over_chase":[${overChase.map("\"" + _ + "\"").mkString(",")}]"""
       else "") +
      (if (undrained.nonEmpty)
        s""","heavy_metrics_undrained":[${undrained.map("\"" + _ + "\"").mkString(",")}]"""
       else "")
    val full =
      s""","heavy":$hq,"heavy_total":$hTotal,"heavy_sweeps":$sweeps$firedJson,""" +
      s""""heavy_spread":$spreads,"heavy_samples":$raw$mechJson,""" +
      s""""heavy_sweep_loadavg":${sweepLoads.mkString("[", ",", "]")},""" +
      s""""heavy_sweep_ext_cores":${sweepExt.map(v => f"$v%.2f").mkString("[", ",", "]")},""" +
      s""""heavy_sweep_ext_during":${sweepExtDuring.map(v => f"$v%.2f").mkString("[", ",", "]")},""" +
      s""""heavy_sweep_gate_wait_sec":${sweepWait.mkString("[", ",", "]")},""" +
      s""""heavy_lineitem_rows":$liRows$floorsJson,""" +
      s""""heavy_events_rows":$evRows,"heavy_mrows_per_sec":$hr$failedJson$contendedJson"""
    // compact: per-query seconds under short keys; the evidence bulk
    // (samples, spreads, per-sweep loadavg) lives in bench_detail.json
    val hqShort = timed.map { case (k, v, _, ok) =>
      s"\"" + k.takeWhile(_ != '_') + "\":" +
        (if (ok) f"$v%.3f" else "\"error\"") }.mkString("{", ",", "}")
    val compact =
      s""","heavy":$hqShort,"heavy_total":${f"$hTotal%.2f"},""" +
      s""""heavy_sweeps":$sweeps$failedJson$contendedJson"""
    HeavyOut(full, compact, dir,
      timed.collect { case (k, v, _, true) => k -> v }.toMap, gateFailed,
      contaminated = contended || overChase.nonEmpty)
  }

  /** Block until the machine is quiet (1-min loadavg below
    * SPARK_GRAFT_LOADAVG_GATE, default 2.0) before any Spark work runs —
    * an official artifact recorded under external load cannot be ratioed
    * or compared across rounds, so waiting beats recording (round-7
    * directive; rounds 5 and 6 both had to stamp `contended`). Polls
    * every 30 s up to SPARK_GRAFT_GATE_TIMEOUT_SEC (default 1200); a
    * timeout proceeds anyway and says so in the artifact. */
  private def gateOnLoad(): String = {
    val bar = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_GATE", "2.0").toDouble
    val cap = sys.env.getOrElse("SPARK_GRAFT_GATE_TIMEOUT_SEC", "7200").toLong
    def load1(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Throwable => 0.0 }
    val t0 = System.nanoTime()
    var waitedSec = 0L
    while (load1() >= bar && waitedSec < cap) {
      System.err.println(f"loadavg ${load1()}%.2f >= $bar%.1f — " +
        s"waiting for quiet machine (${waitedSec}s/${cap}s)")
      Thread.sleep(30000)
      waitedSec = (System.nanoTime() - t0) / 1000000000L
    }
    // round-13 directive #1: loadavg < 2.0 is not QUIET — four rounds of
    // official artifacts started into windows where another process held
    // 0.5-2 cores and the refusal path (rc 3) fired while the quiet truth
    // had to live in probes/. Require SUSTAINED external quiet (3
    // consecutive external-cores samples below the bar) before starting,
    // re-polling over a long horizon; the same sustained gate re-runs
    // between the Spark and DuckDB phases.
    val (ext, qWait, timedOutQ) = waitForQuiet(
      capSec = math.max(0L, cap - waitedSec))
    val timedOut = load1() >= bar || timedOutQ
    s""","gate_wait_sec":${waitedSec + qWait}""" +
      s""","gate_ext_cores":${f"$ext%.2f"}""" +
      (if (timedOut) s""","gate_timeout":true""" else "")
  }

  /** Block (bounded) until external load is QUIET: `need` consecutive
    * externalCores() samples, `gapSec` apart, all below
    * SPARK_GRAFT_QUIET_EXT_CORES (default 0.25). One hot sample resets
    * the streak and sleeps SPARK_GRAFT_QUIET_POLL_SEC (default 60)
    * before re-sampling. A single-instant gate kept passing windows
    * where a background burst was merely between beats — sustained
    * quiet is what the committed floors were recorded under.
    * @return (last external-cores reading, seconds waited, timedOut) */
  private def waitForQuiet(capSec: Long, need: Int = 3,
      gapSec: Long = 10): (Double, Long, Boolean) = {
    val bar =
      sys.env.getOrElse("SPARK_GRAFT_QUIET_EXT_CORES", "0.25").toDouble
    val poll = sys.env.getOrElse("SPARK_GRAFT_QUIET_POLL_SEC", "60").toLong
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1000000000L
    var streak = 0
    var ext = externalCores()
    while (streak < need && waited < capSec) {
      if (ext < bar) {
        streak += 1
        if (streak < need) Thread.sleep(gapSec * 1000)
      } else {
        streak = 0
        System.err.println(f"external load $ext%.2f cores >= $bar%.2f — " +
          s"waiting for sustained quiet ($waited s/$capSec s)")
        Thread.sleep(poll * 1000)
      }
      if (streak < need) ext = externalCores()
    }
    (ext, waited, streak < need)
  }

  /** Run tools/bench_duckdb.py over the SAME heavy dir in the SAME
    * invocation and embed its numbers plus the computed Spark/DuckDB
    * ratios. `ratio` covers the queries both sides ran (h01–h09);
    * `ratio_bucketed` substitutes h09b (the CLUSTER BY layout) for h09 —
    * the storage a user who declared the join key would actually get.
    * Returns (detail fragment, compact fragment, contaminated) —
    * contaminated=true when mins remain over the chase bar after the
    * try budget, which main() turns into a non-zero exit. */
  private def duckDbPhase(dir: String, threads: String,
      sparkSecs: Map[String, Double]): (String, String, Boolean) = {
    val script = new java.io.File("tools/bench_duckdb.py")
    if (!script.exists()) return ("", "", false)
    // Committed-quiet-floor cross-check, DuckDB side (the mirror image of
    // the Spark-side check in heavyPhase): a DuckDB min more than
    // SPARK_GRAFT_HEAVY_FLOOR_BAR (default 2×) above its committed quiet
    // floor is contamination — and on THIS side contamination flatters
    // the published ratio, so it must poison the artifact just as loudly.
    val dFloorBar =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_FLOOR_BAR", "2.0").toDouble
    // The CHASE bar mirrors the Spark side: over it → re-gate + re-run
    // the whole DuckDB phase (round-11 directive #1: BENCH_r10 published
    // duckdb_contended:true instead of re-running until quiet).
    val dChaseBar =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_CHASE_BAR", "1.5").toDouble
    val maxTries =
      sys.env.getOrElse("SPARK_GRAFT_DUCKDB_MAX_TRIES", "3").toInt
    // floors are SCALE-INDEXED (round-13 directive #2): repl=100 reads
    // the committed probes/duckdb_floors.json (60 M rows); any other
    // repl reads probes/duckdb_floors_repl<N>.json recorded at that
    // scale, or — with no committed floors for the scale — runs
    // unfloored rather than judging against numbers from another scale.
    val dFloors: Map[String, Double] = {
      val repl = sys.env.getOrElse("SPARK_GRAFT_HEAVY_REPL", "100").toInt
      val path = if (repl == 100) "probes/duckdb_floors.json"
                 else s"probes/duckdb_floors_repl$repl.json"
      try {
        val n = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(path))
        import scala.jdk.CollectionConverters._
        n.path("queries").fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
      } catch { case _: Throwable => Map.empty }
    }

    // round-13 directive #1: re-gate for SUSTAINED quiet between the
    // Spark and DuckDB phases — the per-try gateSweepExternal bar (2.0
    // cores) only keeps out gross bursts; a 0.5-core background process
    // passing it inflates DuckDB and FLATTERS the published ratio.
    val (pExt, pWait, pTimedOut) = waitForQuiet(capSec =
      sys.env.getOrElse("SPARK_GRAFT_PHASE_GATE_SEC", "3600").toLong)
    var tries = 0
    var duck = Map.empty[String, Double]
    var best = Map.empty[String, Double] // per-query min across tries
    var node: com.fasterxml.jackson.databind.JsonNode = null
    // per-try gate stats (round-11 ADVICE: the published per-query map is
    // a min ACROSS tries, so each try's gate conditions must be recorded
    // — a single last-try scalar can't audit a min from an earlier try)
    val tryExt = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tryWait = scala.collection.mutable.ArrayBuffer.empty[Long]
    def gateJson =
      s""","duckdb_phase_gate_wait_sec":$pWait,"duckdb_phase_gate_ext":${f"$pExt%.2f"}""" +
      (if (pTimedOut) s""","duckdb_phase_gate_timeout":true""" else "") +
      s""","duckdb_gate_ext_cores":${tryExt.map(v => f"$v%.2f").mkString("[", ",", "]")},""" +
      s""""duckdb_gate_wait_sec":${tryWait.mkString("[", ",", "]")},"duckdb_tries":$tries"""
    def overChase(m: Map[String, Double]): Seq[String] =
      m.keys.toSeq.sorted.filter(k =>
        dFloors.get(k).exists(f => f > 0 && m(k) > dChaseBar * f))
    var done = false
    while (!done) {
      tries += 1
      // Re-gate on EXTERNAL load between the Spark and DuckDB phases
      // (round-9 judge: the official r9 DuckDB h05 shipped 6.8× over its
      // quiet floor — the DuckDB sweeps started while Spark's just-ended
      // burst was still decaying, and a one-sided floor check let the
      // inflated DuckDB numbers FLATTER the published ratio). loadavg is
      // useless here (our own finished burst dominates it for minutes);
      // externalCores() measures other processes directly.
      val (dExt, dWait) = gateSweepExternal()
      tryExt += dExt; tryWait += dWait
      val pb = new ProcessBuilder("python3", script.getPath, dir, threads)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val log = new String(p.getInputStream.readAllBytes())
      val rc = p.waitFor()
      if (rc != 0) {
        System.err.println(s"bench_duckdb.py failed rc=$rc:\n$log")
        val er = s""","duckdb_error":$rc"""
        return (er, er, false)
      }
      node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("bench_duckdb.json"))
      import scala.jdk.CollectionConverters._
      duck = node.path("queries").fields().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
      best =
        if (best.isEmpty) duck
        else duck.map { case (k, v) => k -> math.min(v, best.getOrElse(k, v)) }
      val over = overChase(best)
      if (over.isEmpty) done = true
      else if (tries >= maxTries) done = true
      else System.err.println(s"duckdb over ${dChaseBar}x floor for " +
        s"${over.mkString(",")} — re-gating and re-running (try $tries)")
    }
    // publish each query's min across tries — same min-of-sweeps
    // semantics as the Spark side
    duck = best
    val dOverFloor = duck.keys.toSeq.sorted.filter(k =>
      dFloors.get(k).exists(f => f > 0 && duck(k) > dFloorBar * f))
    val dContended = dOverFloor.nonEmpty
    val dOverChase = overChase(duck)
    val dContendedJson =
      s""","duckdb_contended":$dContended""" + (if (dContended)
        s""","duckdb_over_floor":[${dOverFloor.map("\"" + _ + "\"")
          .mkString(",")}]""" else "") + (if (dOverChase.nonEmpty)
        s""","duckdb_over_chase":[${dOverChase.map("\"" + _ + "\"")
          .mkString(",")}]""" else "")
    val common = duck.keySet.intersect(sparkSecs.keySet).toSeq.sorted
    val sSum = common.map(sparkSecs).sum
    val dSum = common.map(duck).sum
    val ratio = if (dSum > 0 && common.nonEmpty) sSum / dSum else Double.NaN
    val bucketedKey = "h09b_join_agg_bucketed"
    val ratioB =
      if (dSum > 0 && sparkSecs.contains(bucketedKey))
        (common.filterNot(_.startsWith("h09")).map(sparkSecs).sum +
          sparkSecs(bucketedKey)) / dSum
      else Double.NaN
    def j(v: Double): String = if (v.isNaN) "null" else f"$v%.3f"
    val pairJson =
      s""","pair":{"spark_common_total":${f"$sSum%.3f"},""" +
      s""""duckdb_total":${f"$dSum%.3f"},"ratio":${j(ratio)},""" +
      s""""ratio_bucketed":${j(ratioB)},"common":${common.size}}"""
    val duckShort = common.map(k =>
      s"\"" + k.takeWhile(_ != '_') + "\":" + f"${duck(k)}%.3f")
      .mkString("{", ",", "}")
    // the published per-query map is `duck` (min across tries), not the
    // last try's raw file — rebuild the queries field to match; keep the
    // last try's metadata under duckdb_last_try for auditability
    val duckFullQ = duck.toSeq.sorted.map { case (k, v) =>
      s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val meta = node match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val c = o.deepCopy(); c.remove("queries"); c.toString
      case _ => "{}"
    }
    val full =
      s""","duckdb":{"queries":$duckFullQ,"last_try":$meta}$pairJson$gateJson$dContendedJson"""
    val compact = s""","duckdb":$duckShort,""" +
      s""""duckdb_total":${f"$dSum%.2f"},"ratio":${j(ratio)},""" +
      s""""ratio_bucketed":${j(ratioB)}$dContendedJson"""
    (full, compact, dContended || dOverChase.nonEmpty)
  }

  /** Bucketed copies of the heavy join inputs (32 buckets on the join
    * key), written ONCE next to the heavy data dir and re-exposed as
    * external tables per JVM — the in-memory catalog forgets metadata
    * between JVMs while the bucket files persist, so later runs pay only
    * a CREATE TABLE. Build cost is outside the timed reps (the warm pass
    * triggers it). */
  private def ensureHeavyBucketed(spark: SparkSession, dir: String): Unit =
    if (!spark.catalog.tableExists("graft_h09b_li")) {
      val buckets = 32
      def build(table: String, src: String, cols: Seq[String],
          key: String): Unit = {
        val loc = s"$dir/bucketed_$table"
        val df = spark.read.parquet(s"$dir/$src")
          .select(cols.map(col): _*)
        if (new java.io.File(s"$loc/_SUCCESS").exists())
          graft.operators.Bucketing.registerExternalBucketed(
            spark, table, df.schema.toDDL, Seq(key), buckets, loc)
        else
          graft.operators.Bucketing.writeBucketedMulti(
            df, table, Seq(key), buckets, Some(loc))
      }
      build("graft_h09b_li", "lineitem",
        Seq("l_orderkey", "l_extendedprice", "l_discount"), "l_orderkey")
      build("graft_h09b_ord", "orders",
        Seq("o_orderkey", "o_orderpriority"), "o_orderkey")
    }

  /** (total busy jiffies across all cpus, this process's own jiffies —
    * utime+stime summed over threads). The difference of two snapshots
    * isolates OTHER processes' cpu consumption. */
  private def cpuSnapshot(): (Long, Long) = {
    val stat = java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/stat")).linesIterator.next()
    val parts = stat.trim.split("\\s+").drop(1).map(_.toLong)
    val idle = parts(3) + (if (parts.length > 4) parts(4) else 0L)
    val busy = parts.sum - idle
    val self = java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/self/stat")).split("\\s+")
    (busy, self(13).toLong + self(14).toLong)
  }

  /** Cores of EXTERNAL cpu load over a 1 s sample (other processes'
    * busy jiffies per second / USER_HZ). Unlike loadavg this reads true
    * instantly after our own 32-thread burst — no decay wait. */
  private def externalCores(): Double = {
    val (b0, s0) = cpuSnapshot()
    Thread.sleep(1000)
    val (b1, s1) = cpuSnapshot()
    math.max(0.0, ((b1 - b0) - (s1 - s0)) / 100.0)
  }

  /** Block before a sweep until external load is below
    * SPARK_GRAFT_SWEEP_EXT_CORES (default 2.0 cores), polling every 5 s
    * up to SPARK_GRAFT_SWEEP_GATE_SEC (default 180). Returns the final
    * external-cores reading and seconds waited — both recorded per sweep
    * in the artifact, so a sweep that proceeded loaded is visible. */
  private def gateSweepExternal(): (Double, Long) = {
    val bar =
      sys.env.getOrElse("SPARK_GRAFT_SWEEP_EXT_CORES", "2.0").toDouble
    val cap = sys.env.getOrElse("SPARK_GRAFT_SWEEP_GATE_SEC", "180").toLong
    var waited = 0L
    var ext = externalCores()
    while (ext >= bar && waited < cap) {
      System.err.println(
        f"external load $ext%.1f cores >= $bar%.1f — waiting ($waited s/$cap s)")
      Thread.sleep(5000); waited += 6
      ext = externalCores()
    }
    (ext, waited)
  }

  /** 1/5/15-min load averages — recorded so a contaminated run (another
    * process saturating the box) is visible in the artifact instead of
    * masquerading as a regression. */
  private def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString("[", ",", "]")
    catch { case _: Throwable => "[]" }

  /** Replicate lineitem/events `repl`× into a cached /tmp dir (content
    * keyed by source dir + factor; reused across bench runs and rounds).
    * Keys are offset per replica so count-distinct cardinalities scale
    * with the data instead of collapsing onto the originals. */
  private def ensureHeavyData(spark: SparkSession, sfDir: String,
      repl: Int): String = {
    val dir = f"/tmp/graft_heavy_${(sfDir + "@" + repl).hashCode}%08x"
    val reps = array((0 until repl).map(lit): _*)
    // per-table done flags so an existing cache upgrades incrementally
    def gen(table: String)(make: => org.apache.spark.sql.DataFrame): Unit =
      if (!new java.io.File(s"$dir/$table/_SUCCESS").exists())
        make.drop("rep")
          // one file per core → a single task wave per scan
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$dir/$table")
    gen("lineitem") {
      Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
          "l_shipdate")
        .withColumn("rep", explode(reps))
        .withColumn("l_orderkey",
          col("l_orderkey") + col("rep").cast("long") * 100000000L)
    }
    gen("events") {
      Tables.load(spark, sfDir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("rep", explode(reps))
        .withColumn("event_id",
          col("event_id") + col("rep").cast("long") * 1000000000L)
        .withColumn("user_id",
          col("user_id") + col("rep").cast("long") * 10000000L)
    }
    // same per-replica key offset as lineitem, so the h09 join matches
    gen("orders") {
      Tables.load(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
        .withColumn("rep", explode(reps))
        .withColumn("o_orderkey",
          col("o_orderkey") + col("rep").cast("long") * 100000000L)
    }
    dir
  }
}
