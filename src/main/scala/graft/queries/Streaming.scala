package graft.queries

import graft.{GQuery, QueryPack}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming over the `events` table.
  *
  * The reference has no streaming surface (SURVEY §2.C) — this is added
  * scope for the 100 TB pipeline story: the same windowed aggregation you
  * would run with `readStream` against a live bucket, driven here by the
  * file source over the testdata parquet and drained synchronously with
  * `processAllAvailable` so the result is a deterministic batch the DuckDB
  * oracle can check.
  */
object Streaming extends QueryPack {

  /** The file source needs an explicit schema; read it from the actual
    * footer so both ts encodings the driver has shipped (INT64 nanos,
    * timestamp[us]) stream correctly — [[graft.Tables.normalizeEventsTs]]
    * then maps either to TIMESTAMP_NTZ. The storage seam's schema memo
    * makes it one inference per file version per JVM. */
  private def eventsSchema(s: SparkSession, dir: String): StructType =
    graft.engine.LakeFs.readParquet(s, s"$dir/events.parquet").schema

  private val counter = new AtomicInteger(0)

  /** The file source requires a directory; the testdata is one file per
    * table, so expose it through a symlinked temp dir. */
  private def asDir(dir: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_src")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    d.toString
  }

  /** Drain a stream through a DISTRIBUTED sink: each micro-batch writes
    * parquet via foreachBatch (complete mode overwrites — the last batch
    * is the full result; update mode appends). Nothing is collected to
    * the driver, unlike a memory sink — this is the shape that survives
    * a real cluster, not just an oracle harness. */
  private def runStream(s: SparkSession, dir: String,
      outputMode: String = "complete")(
      transform: DataFrame => DataFrame): DataFrame = {
    val outDir = java.nio.file.Files
      .createTempDirectory(s"graft_stream_out_${counter.incrementAndGet()}")
      .toString
    // the drain is synchronous; the extra no-data micro-batch only adds
    // latency here
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val src = graft.Tables.normalizeEventsTs(
      s.readStream.schema(eventsSchema(s, dir)).parquet(asDir(dir)))
    val writeMode = if (outputMode == "complete") "overwrite" else "append"
    val q = transform(src).writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode(writeMode).parquet(outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(outDir)
  }

  val all: Seq[GQuery] = Seq(

    GQuery("stream01_windowed_counts", Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
        event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""")) { (s, dir) =>
      runStream(s, dir) { src =>
        src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType)
                 .as("sum_value"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
            col("event_type"), col("n"), col("sum_value"))
      }.orderBy("win_start", "event_type")
    },

    GQuery("stream02_user_rollup", Some("""
      SELECT user_id, count(*) AS n_events,
        count(DISTINCT event_type) AS n_types,
        CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
      FROM events GROUP BY 1 ORDER BY user_id""")) { (s, dir) =>
      runStream(s, dir) { src =>
        // streaming forbids COUNT(DISTINCT); size(collect_set()) is the
        // supported exact-distinct formulation
        src.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
               size(collect_set(col("event_type"))).cast(LongType).as("n_types"),
               max(col("value").cast(DecimalType(12, 2))).cast(DoubleType)
                 .as("max_value"))
      }.orderBy("user_id")
    },

    // Custom keyed state via mapGroupsWithState — the API a 100 TB
    // pipeline uses for per-entity state machines (dedup windows, session
    // carts, rate counters). State updates use exact DECIMAL(12,2)
    // addition so the running sum is order-independent and the DuckDB
    // oracle matches bit-for-bit after the final cast to double.
    GQuery("stream03_stateful_rollup", Some("""
      SELECT user_id, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY user_id""")) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      runStream(s, dir, outputMode = "update") { src =>
        src.select(col("user_id"),
            col("value").cast(DecimalType(12, 2)).as("value"))
          .as[(Long, java.math.BigDecimal)]
          .groupByKey(_._1)
          .mapGroupsWithState[(Long, java.math.BigDecimal), (Long, Long, Double)](
            GroupStateTimeout.NoTimeout) { case (uid, events, state) =>
            val evs = events.toSeq
            val (pn, pSum) = state.getOption
              .getOrElse((0L, java.math.BigDecimal.ZERO))
            val n = pn + evs.size
            val sum = evs.foldLeft(pSum)((acc, e) => acc.add(e._2))
            state.update((n, sum))
            (uid, n, sum.doubleValue)
          }
          .toDF("user_id", "n_events", "sum_value")
      }.orderBy("user_id")
    },

    // Streaming deduplication: emit each (user_id, event_type) key once —
    // the streaming twin of exact dedup (x01). `dropDuplicates` keeps
    // per-key state across micro-batches; at production scale the same
    // query uses `withWatermark` + `dropDuplicatesWithinWatermark` so
    // state is evicted once the dedup horizon passes instead of growing
    // unboundedly. Only the key columns are emitted, so the result is
    // deterministic regardless of which physical row survived.
    GQuery("stream04_dedup", Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")) { (s, dir) =>
      runStream(s, dir, outputMode = "append") { src =>
        src.select("user_id", "event_type")
          .dropDuplicates("user_id", "event_type")
      }.orderBy("user_id", "event_type")
    },

    // Stream-static enrichment: every micro-batch joins against a static
    // dimension (broadcast, so the stream side never shuffles for the
    // join — the shape a 100 TB event stream uses to attach entity
    // attributes; the static side re-reads per batch, picking up dim
    // updates for free).
    GQuery("stream05_static_join", Some("""
      SELECT c.c_mktsegment AS seg, count(*) AS n,
        CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
      GROUP BY 1 ORDER BY seg""")) { (s, dir) =>
      val dim = graft.Tables.load(s, dir, "customer")
        .select((col("c_custkey") - 1).as("user_id"), col("c_mktsegment"))
      runStream(s, dir) { src =>
        src.join(broadcast(dim), Seq("user_id"))
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n"),
               sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType)
                 .as("sum_value"))
      }.orderBy("seg")
    },

    // Stream-STREAM join with watermarks + a time-range condition: every
    // purchase pairs with the same user's views from the preceding hour.
    // Both sides carry watermarks, so at production scale the join state
    // is EVICTED once an event ages past (watermark − range) — the only
    // way a fact-fact stream join survives an unbounded stream. Inner
    // join in append mode emits each match exactly once, so the drained
    // batch is deterministic and the DuckDB oracle is the plain
    // range-joined pair list.
    GQuery("stream06_stream_join", Some("""
      SELECT p.event_id AS p_id, v.event_id AS v_id
      FROM events p JOIN events v
        ON p.user_id = v.user_id
        AND p.event_type = 'purchase' AND v.event_type = 'view'
        AND p.user_id < 50 AND v.user_id < 50
        AND v.ts::TIMESTAMP BETWEEN p.ts::TIMESTAMP - INTERVAL 1 HOUR
                                AND p.ts::TIMESTAMP
      ORDER BY p_id, v_id""")) { (s, dir) =>
      runStream(s, dir, outputMode = "append") { src =>
        // watermarks require an instant (TIMESTAMP) column; the session
        // pins UTC, so the NTZ→instant cast is exact. The user bound
        // keeps the gate's state size flat across SFs — the state
        // EVICTION story is the watermark, exercised either way.
        val p = src.filter(col("event_type") === "purchase" &&
            col("user_id") < 50)
          .select(col("event_id").as("p_id"), col("user_id").as("p_uid"),
            col("ts").cast("timestamp").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        val v = src.filter(col("event_type") === "view" &&
            col("user_id") < 50)
          .select(col("event_id").as("v_id"), col("user_id").as("v_uid"),
            col("ts").cast("timestamp").as("v_ts"))
          .withWatermark("v_ts", "2 hours")
        p.join(v, col("p_uid") === col("v_uid") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("v_ts") <= col("p_ts"))
          .select(col("p_id"), col("v_id"))
      }.orderBy("p_id", "v_id")
    },

    // Streaming ingestion INTO the lake: each micro-batch commits an
    // Iceberg snapshot (write, then append) through foreachBatch — the
    // readStream→Iceberg path a training-data pipeline uses to land live
    // data where batch queries (and time travel) can see it. The source
    // is split into two files with maxFilesPerTrigger=1, so BOTH the
    // first-commit and the append path run; the final read goes through
    // the Iceberg metadata chain, not the raw parquet.
    GQuery("stream07_iceberg_ingest", Some("""
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events WHERE user_id < 100
      GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      import java.nio.file.Files
      val srcDir = Files.createTempDirectory("graft_stream_ice_src").toString
      // two disjoint halves → two micro-batches
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/half0")
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/half1")
      val flatDir = Files.createTempDirectory("graft_stream_ice_flat")
      Seq("half0", "half1").foreach { h =>
        val files = new java.io.File(s"$srcDir/$h").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        files.zipWithIndex.foreach { case (f, i) =>
          Files.createSymbolicLink(
            flatDir.resolve(s"${h}_$i.parquet"), f.toPath)
        }
      }
      val tableDir = Files.createTempDirectory("graft_stream_ice_tbl")
        .toString + "/t"
      val metaRef = new java.util.concurrent.atomic.AtomicReference[String](null)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(flatDir.toString)
        .filter(col("user_id") < 100)
        .select(col("event_id"), col("event_type"), col("value"))
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) {
            val m = metaRef.get
            metaRef.set(
              if (m == null)
                graft.sources.IcebergLite.write(s, batch, tableDir)
              else graft.sources.IcebergLite.append(s, batch, m))
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.sources.IcebergLite.scan(s, metaRef.get)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType)
            .as("total"))
        .orderBy("event_type")
    }
  )
}
