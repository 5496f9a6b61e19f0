package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.engine.{GraftSession, SnowflakeRewriter, SnowflakeTypes, SqlTokens, TableResolver}
import graft.protocol.SnowflakeServer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Per-job-group execution totals, collected by a listener the benchmark
  * registers itself (the engine's own statement path is not touched). */
final class GroupListener extends SparkListener {
  final class Agg {
    var jobs = 0; var stages = 0; var tasks = 0
    var shuffleBytes = 0L; var spillBytes = 0L; var inputRows = 0L
    var runMs = 0L
  }
  private val stageGroup = scala.collection.concurrent.TrieMap.empty[Int, String]
  val byGroup = scala.collection.concurrent.TrieMap.empty[String, Agg]
  def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        agg(g).jobs += 1
        e.stageIds.foreach(stageGroup.put(_, g))
      }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(g)
      a.tasks += 1
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.inputRows += m.inputMetrics.recordsRead
      a.runMs += m.executorRunTime
    }
}

/** Traced replay: every generated operation runs in-process through the
  * engine's public entry points in pipeline order, each step timed, with
  * Spark work attributed per job group. Spans stay in memory and are
  * written once, at the end.
  *
  * Per read statement up to three passes run, as the operation asks:
  *   - wire: the same text through an in-JVM SnowflakeServer over HTTP,
  *     decoded with the raw Arrow API (dashboard and analytic only);
  *   - session: `GraftSession.sql` + `SnowflakeTypes.toRowsetChunked`,
  *     untraced, the in-process reference time;
  *   - spans: `SqlTokens.splitStatements`, `SnowflakeRewriter.rewrite`,
  *     `TableResolver.resolveAndSubstitute`, `spark.sql` (analysis),
  *     `optimizedPlan`, `executedPlan`, one execution into a local
  *     relation, and `toRowsetChunked` over that relation — plus the
  *     fused `toRowsetChunked` on a fresh frame for comparison.
  * Writes, refreshes and stream consumption run once through
  * `GraftSession.sql` (the slice runs every kind once untraced first);
  * operator calls run traced, after an untraced call where the operation
  * asks for one. */
object Trace {

  private val mapper = BenchMain.mapper

  final case class Span(wl: String, metric: String, value: Double)

  /** The per-layer metric of each write class and operator kind. */
  val CallMetric: Map[String, String] = Map(
    "copy" -> "copy.load_ms", "consume" -> "streams.consume_ms",
    "insert" -> "dml.insert_ms", "update" -> "dml.update_ms",
    "merge" -> "dml.merge_ms", "delete" -> "dml.delete_ms",
    "refresh" -> "dt.refresh_ms",
    "dedup" -> "operators.dedup_ms", "minhash" -> "operators.minhash_ms",
    "cc" -> "operators.cc_ms", "similarity" -> "operators.similarity_ms",
    "ivf" -> "operators.ivf_ms", "text" -> "operators.text_ms")

  def main(opsFile: String, outFile: String): Unit = {
    val lines = Files.readAllLines(Paths.get(opsFile)).asScala.toSeq
    val header = mapper.readTree(lines.head)
    val ops = lines.tail.map(mapper.readTree)
    val workload = header.path("workload").asText()
    val chunkRows = header.path("chunk_rows").asInt(100000)
    val spark = BenchMain.spark()
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val spill = Files.createDirectories(tmp.resolve("trace-chunks"))
    val spans = ArrayBuffer.empty[Span]
    def span(wl: String, m: String, v: Double): Unit = spans += Span(wl, m, v)
    var attempted = 0
    var failed = 0

    val lakes = header.path("lakes")
    val sessions = scala.collection.mutable.LinkedHashMap.empty[String, GraftSession]
    def session(wl: String): GraftSession = sessions.getOrElseUpdate(wl, {
      val gs = new GraftSession(spark,
        Files.createDirectories(tmp.resolve(s"trace-wh-$wl")).toString)
      gs.attachLake(lakes.path(wl).asText())
      gs
    })
    val wires = scala.collection.mutable.Map.empty[String, Wire]
    def wire(wl: String): Wire = wires.getOrElseUpdate(wl,
      new Wire(new SnowflakeServer(spark, Some(lakes.path(wl).asText()), chunkRows)))
    // (workload, job group, wall ms, result rows, JVM GC ms) of every
    // traced execution
    val execs = ArrayBuffer.empty[(String, String, Double, Long, Long)]
    lazy val corpus = new Corpus.Data(spark, header.path("corpus_dir").asText())

    def dropChunks(rest: Seq[(Long, Path)]): Unit =
      rest.foreach(c => Files.deleteIfExists(c._2))

    // seconds each workload's slice takes, for sizing the slices
    var phase = ("", System.nanoTime())
    def endPhase(): Unit = if (phase._1.nonEmpty)
      System.err.println(f"trace slice ${phase._1}: ${BenchMain.ms(phase._2) / 1000}%.1f s")

    ops.zipWithIndex.foreach { case (op, i) =>
      val wl = op.path("wl").asText()
      if (wl != phase._1) { endPhase(); phase = (wl, System.nanoTime()) }
      val kind = op.path("kind").asText()
      val cls = op.path("cls").asText()
      val sql = op.path("sql").asText()
      val g = s"pb$i"
      try kind match {
        case "setup" =>
          session(wl).sql(sql).collect()
          if (op.path("wire").asBoolean(false)) wire(wl).query(sql)
        case "read" =>
          attempted += 1
          val gs = session(wl)
          val wireMs = if (op.path("wire").asBoolean(false)) {
            val w = wire(wl).query(sql)
            span(wl, "server.response_kb", w.responseBytes / 1024.0)
            if (w.chunks > 0) span(wl, "server.chunk_fetch_ms", w.chunkMs)
            Some(w.ms)
          } else None
          if (op.path("session").asBoolean(true)) {
            // session pass: the untraced in-process time
            val t0 = System.nanoTime()
            val (_, _, rest0) = SnowflakeTypes.toRowsetChunked(gs.sql(sql), chunkRows, Some(spill))
            val sessMs = BenchMain.ms(t0)
            dropChunks(rest0)
            span(wl, "reuse.hit_ratio", if (gs.lastResultReused) 1.0 else 0.0)
            wireMs.foreach(w => span(wl, "server.overhead_ms", w - sessMs))
            if (op.path("span").asBoolean(true)) {
              val own = ownElapsedMs(gs, sql)
              val (total, front, exec) = traceRead(gs, sql, g, op.path("bases").asInt(1),
                span(wl, _, _), chunkRows, spill, sc)
              execs += ((wl, s"$g-exec", exec._1, exec._2, exec._3))
              span(wl, "trace.overhead_ms", total - sessMs)
              // lex + rewrite + bind + analyze against GraftSession.sql's
              // own recorded time for the same statement
              for (o <- own if o > 0) span(wl, "trace.span_sum_gap", math.abs(front / o - 1.0))
            }
          }
        case "write" =>
          attempted += 1
          val gs = session(wl)
          val wh = tmp.resolve(s"trace-wh-$wl")
          val before = parquetFiles(wh)
          sc.setJobGroup(g, s"perfbench $cls", false)
          val t0 = System.nanoTime()
          try gs.sql(sql).collect() finally sc.clearJobGroup()
          val wMs = BenchMain.ms(t0)
          span(wl, CallMetric(cls), wMs)
          drain(sc)
          val a = listener.agg(g)
          if (cls == "refresh") {
            span(wl, "dt.jobs_per_refresh", a.jobs)
            span(wl, "dt.stages_per_refresh", a.stages)
          } else span(wl, "dml.jobs_per_write", a.jobs)
          // an Iceberg target's files live under <warehouse>/…/<TABLE>[__vN]/
          val target = op.path("target").asText("").toUpperCase
          if (target.nonEmpty && cls != "copy" && cls != "refresh") {
            val fresh = (parquetFiles(wh) -- before).filter(_.contains(s"/$target")).toSeq
            span(wl, "iceberg.files_per_commit", fresh.length)
            val changed = op.path("changed").asLong(0)
            if (changed > 0) {
              sc.setJobGroup("pbaux", "perfbench write-amp", false)
              val written = try
                if (fresh.isEmpty) 0L else spark.read.parquet(fresh: _*).count()
              finally sc.clearJobGroup()
              span(wl, "iceberg.write_amp", written.toDouble / changed)
            }
          }
        case "corpus" =>
          attempted += 1
          val c = Corpus.Op(cls, op.path("slice").asInt(), op.path("query").asInt())
          val plainMs = if (op.path("plain").asBoolean(true)) {
            val t0 = System.nanoTime()
            Corpus.run(corpus, c)
            Some(BenchMain.ms(t0))
          } else None
          sc.setJobGroup(g, s"perfbench $cls", false)
          val t1 = System.nanoTime()
          try Corpus.run(corpus, c) finally sc.clearJobGroup()
          val tracedMs = BenchMain.ms(t1)
          span(wl, CallMetric(cls), tracedMs)
          plainMs.foreach(p => span(wl, "trace.overhead_ms", tracedMs - p))
          if (cls == "cc") {
            drain(sc)
            span(wl, "operators.cc_jobs", listener.agg(g).jobs)
          }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"trace op $i ($wl $kind $cls) failed: $e")
      }
    }

    endPhase()
    drain(sc)
    // execution totals per traced read, from the listener
    execs.foreach { case (wl, g, wallMs, resultRows, gcMs) =>
      val a = listener.agg(g)
      span(wl, "exec.jobs", a.jobs)
      span(wl, "exec.stages", a.stages)
      span(wl, "exec.tasks", a.tasks)
      span(wl, "exec.shuffle_mb", a.shuffleBytes / 1048576.0)
      span(wl, "exec.spill_mb", a.spillBytes / 1048576.0)
      span(wl, "exec.gc_ms", gcMs)
      span(wl, "exec.input_rows_per_result_row", a.inputRows.toDouble / math.max(1L, resultRows))
      span(wl, "exec.core_busy_ratio", a.runMs / math.max(1e-3, wallMs * BenchMain.cpus))
    }
    if (ops.exists(_.path("kind").asText() == "corpus")) {
      Corpus.check(spark, corpus, new scala.util.Random(header.path("seed").asLong()))
        .filterNot(_._2).foreach { case (n, _) =>
          failed += 1; System.err.println(s"corpus check $n failed") }
      Corpus.lastRecall.foreach(span("corpus", "operators.ivf_recall", _))
    }
    wires.values.foreach(_.stop())

    // one record per metric: median over the replayed statements of the
    // requested workload, else of the workload where the layer does work
    val out = BenchMain.obj("workload" -> workload, "attempted" -> attempted,
      "failed" -> failed)
    val metrics = out.putObject("metrics")
    val source = out.putObject("source")
    val samples = out.putObject("samples")
    spans.groupBy(_.metric).toSeq.sortBy(_._1).foreach { case (m, ss) =>
      val own = ss.filter(_.wl == workload)
      val use = if (own.nonEmpty) own else {
        val wl = ss.groupBy(_.wl).maxBy(_._2.length)._1
        ss.filter(_.wl == wl)
      }
      // shares and rare events are means; everything else a median
      val v = if (Set("reuse.hit_ratio", "operators.ivf_recall", "exec.gc_ms")(m))
        use.map(_.value).sum / use.length
      else BenchMain.median(use.map(_.value).toSeq)
      metrics.put(m, v)
      source.put(m, use.head.wl)
      samples.put(m, use.length)
    }
    Files.writeString(Paths.get(outFile), mapper.writeValueAsString(out))
    spark.stop()
  }

  /** One read through the pipeline's entry points. Returns the spans' sum,
    * the front end's part of it (lex + rewrite + bind + analyze) and the
    * execution's (wall ms, result rows, JVM GC ms). In local mode the
    * executors run in this JVM, so its collectors' time is the
    * execution's GC time. */
  private def traceRead(gs: GraftSession, sql: String, g: String, bases: Int,
      span: (String, Double) => Unit, chunkRows: Int, spill: Path,
      sc: org.apache.spark.SparkContext): (Double, Double, (Double, Long, Long)) = {
    def timed[T](metric: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val d = BenchMain.ms(t0)
      span(metric, d)
      (r, d)
    }
    val (stmts, lex) = timed("sqltokens.lex_ms")(SqlTokens.splitStatements(sql))
    val (rewritten, rw) = timed("rewriter.rewrite_ms")(SnowflakeRewriter.rewrite(stmts.last))
    val (substituted, bind) = timed("resolver.bind_ms")(
      TableResolver.resolveAndSubstitute(rewritten, gs))
    span("resolver.bind_ms_per_base", bind / math.max(1, bases))
    val (df, an) = timed("catalyst.analyze_ms")(gs.spark.sql(substituted))
    val (_, opt) = timed("catalyst.optimize_ms")(df.queryExecution.optimizedPlan)
    val (_, pl) = timed("catalyst.plan_ms")(df.queryExecution.executedPlan)
    sc.setJobGroup(s"$g-exec", "perfbench exec", false)
    val gc0 = gcMs()
    val (rows, ex) = try timed("exec.run_ms")(df.collect()) finally sc.clearJobGroup()
    val gc = gcMs() - gc0
    val local: DataFrame = gs.spark.createDataFrame(rows.toList.asJava, df.schema)
    val ((b64, _, rest), enc) = timed("types.encode_ms")(
      SnowflakeTypes.toRowsetChunked(local, chunkRows, Some(spill)))
    val bytes = b64.length.toLong + rest.map(c => Files.size(c._2)).sum
    span("types.bytes_per_row", bytes.toDouble / math.max(1, rows.length))
    span("types.chunks", 1 + rest.length)
    rest.foreach(c => Files.deleteIfExists(c._2))
    sc.setJobGroup(s"$g-fused", "perfbench fused", false)
    val ((_, _, rest2), _) = try timed("types.fused_ms")(
      SnowflakeTypes.toRowsetChunked(gs.spark.sql(substituted), chunkRows, Some(spill)))
    finally sc.clearJobGroup()
    rest2.foreach(c => Files.deleteIfExists(c._2))
    val front = lex + rw + bind + an
    (front + opt + pl + ex + enc, front, (ex, rows.length.toLong, gc))
  }

  /** `GraftSession.sql`'s own recorded time (QUERY_HISTORY, whole ms) of
    * the statement it ran last, when that statement is `sql`. The history
    * read itself is recorded only once it completes. */
  private def ownElapsedMs(gs: GraftSession, sql: String): Option[Long] =
    gs.sql("SELECT QUERY_TEXT, TOTAL_ELAPSED_TIME FROM " +
        "TABLE(INFORMATION_SCHEMA.QUERY_HISTORY(RESULT_LIMIT => 1))").collect()
      .headOption.filter(_.getString(0).trim == sql.trim).map(_.getLong(1))

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.PerfbenchBus.drain(sc)

  private def parquetFiles(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter { p => val n = p.getFileName.toString; n.endsWith(".parquet") && !n.startsWith(".") }
        .map(_.toString).toSet
      finally s.close()
    }

  /** A Snowflake wire client inside the traced JVM: login once, then
    * query-request + chunk GETs, decoded with the raw Arrow API. */
  final class Wire(server: SnowflakeServer) {
    private val port = server.start()
    private val http = HttpClient.newHttpClient()
    private val token = post("/session/v1/login-request", "{}", None)
      .path("data").path("token").asText()
    final case class Result(ms: Double, responseBytes: Long, chunks: Int, chunkMs: Double)

    private def post(path: String, body: String, tok: Option[String]): JsonNode = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
      tok.foreach(t => b.header("Authorization", s"""Snowflake Token="$t""""))
      mapper.readTree(http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray()).body())
    }

    private def rows(bytes: Array[Byte]): Long = {
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        var n = 0L
        while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
        n
      } finally { reader.close(); alloc.close() }
    }

    def query(sql: String): Result = {
      val t0 = System.nanoTime()
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/queries/v1/query-request"))
        .header("Content-Type", "application/json")
        .header("Authorization", s"""Snowflake Token="$token"""")
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(mapper.createObjectNode().put("sqlText", sql))))
        .build()
      val raw = http.send(b, HttpResponse.BodyHandlers.ofByteArray()).body()
      val resp = mapper.readTree(raw)
      require(resp.path("success").asBoolean(), resp.path("message").asText())
      val data = resp.path("data")
      rows(java.util.Base64.getDecoder.decode(data.path("rowsetBase64").asText()))
      val chunks = data.path("chunks")
      val t1 = System.nanoTime()
      (0 until chunks.size()).foreach { i =>
        val req = HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port${chunks.get(i).path("url").asText()}"))
          .header("Authorization", s"""Snowflake Token="$token"""").GET().build()
        rows(http.send(req, HttpResponse.BodyHandlers.ofByteArray()).body())
      }
      Result(BenchMain.ms(t0), raw.length.toLong, chunks.size(), BenchMain.ms(t1))
    }

    def stop(): Unit = server.stop()
  }
}
