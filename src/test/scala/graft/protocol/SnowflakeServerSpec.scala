package graft.protocol

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

/** Wire-level test of the Snowflake V1 REST façade: login → query →
  * Arrow-decode the rowsetBase64 payload, the same round-trip the
  * reference's integration suite performs with the real Snowflake
  * connector (`tests/integration/utils.py:100-145`). */
class SnowflakeServerSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new ObjectMapper()

  private def post(port: Int, path: String, body: String,
      token: Option[String] = None, gzip: Boolean = false) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    token.foreach(t =>
      conn.setRequestProperty("Authorization", s"""Snowflake Token="$t""""))
    val bytes =
      if (gzip) {
        conn.setRequestProperty("Content-Encoding", "gzip")
        val buf = new java.io.ByteArrayOutputStream()
        val gz = new GZIPOutputStream(buf)
        gz.write(body.getBytes(UTF_8)); gz.close()
        buf.toByteArray
      } else body.getBytes(UTF_8)
    val os = conn.getOutputStream
    try os.write(bytes) finally os.close()
    val json = mapper.readTree(conn.getInputStream)
    conn.disconnect()
    json
  }

  test("login, query, arrow result, session delete") {
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val login = post(port, "/session/v1/login-request?databaseName=GRAFT", "{}")
      assert(login.path("success").asBoolean())
      val token = login.path("data").path("token").asText()
      assert(token.nonEmpty)

      val resp = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"}""",
        token = Some(token), gzip = true)
      assert(resp.path("success").asBoolean(), resp.toString)
      val data = resp.path("data")
      assert(data.path("queryResultFormat").asText() == "arrow")
      val rowtype = data.path("rowtype")
      assert(rowtype.get(0).path("name").asText() == "o_orderpriority")
      assert(rowtype.get(0).path("type").asText() == "text")
      assert(rowtype.get(1).path("type").asText() == "fixed")

      val bytes = java.util.Base64.getDecoder.decode(
        data.path("rowsetBase64").asText())
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new ByteArrayInputStream(bytes), alloc)
      try {
        var n = 0
        while (reader.loadNextBatch())
          n += reader.getVectorSchemaRoot.getRowCount
        assert(n == 5)
      } finally { reader.close(); alloc.close() }

      // errors come back success=false, not a 500
      val bad = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT * FROM nonexistent_xyz"}""", token = Some(token))
      assert(!bad.path("success").asBoolean())

      val hb = post(port, "/session/heartbeat", "{}", token = Some(token))
      assert(hb.path("success").asBoolean())
      val del = post(port, "/session?delete=true", "{}", token = Some(token))
      assert(del.path("success").asBoolean())
      val afterDelete = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT 1"}""", token = Some(token))
      assert(!afterDelete.path("success").asBoolean())
    } finally server.stop()
  }

  test("timestamps cross the wire as {epoch, fraction} structs with metadata") {
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val login = post(port, "/session/v1/login-request", "{}")
      val token = login.path("data").path("token").asText()
      // login returns the session-parameter set clients expect
      val pNames = (0 until login.path("data").path("parameters").size())
        .map(i => login.path("data").path("parameters").get(i)
          .path("name").asText()).toSet
      assert(pNames.contains("AUTOCOMMIT") &&
        pNames.contains("DATE_OUTPUT_FORMAT") && pNames.contains("TIMEZONE"))

      val resp = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT TIMESTAMP '2024-03-01 12:34:56.789' AS ts, 1 AS n"}""",
        token = Some(token))
      assert(resp.path("success").asBoolean(), resp.toString)
      val data = resp.path("data")
      // rowtype still reports the LOGICAL type, not the struct encoding
      assert(data.path("rowtype").get(0).path("type").asText()
        .startsWith("timestamp"))

      val bytes = java.util.Base64.getDecoder.decode(
        data.path("rowsetBase64").asText())
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new ByteArrayInputStream(bytes), alloc)
      try {
        val schema = reader.getVectorSchemaRoot.getSchema
        val tsField = schema.getFields.get(0)
        // Snowflake's wire shape: struct{epoch: int64, fraction: int32}
        // with column metadata (universql/protocol/utils.py:173-220)
        assert(tsField.getType.isInstanceOf[
          org.apache.arrow.vector.types.pojo.ArrowType.Struct], tsField.toString)
        val children = tsField.getChildren
        assert(children.get(0).getName == "epoch")
        assert(children.get(1).getName == "fraction")
        val meta = tsField.getMetadata
        assert(meta.get("logicalType").startsWith("TIMESTAMP"))
        assert(meta.get("scale") == "9")
        assert(meta.get("physicalType") == "SB16")

        assert(reader.loadNextBatch())
        val root = reader.getVectorSchemaRoot
        val sv = root.getVector(0)
          .asInstanceOf[org.apache.arrow.vector.complex.StructVector]
        val epoch = sv.getChild("epoch")
          .asInstanceOf[org.apache.arrow.vector.BigIntVector].get(0)
        val fraction = sv.getChild("fraction")
          .asInstanceOf[org.apache.arrow.vector.IntVector].get(0)
        // 2024-03-01T12:34:56.789Z = 1709296496 s + 789_000_000 ns
        assert(epoch == 1709296496L, s"epoch $epoch")
        assert(fraction == 789000000, s"fraction $fraction")
        // plain columns keep native encoding + FIXED metadata
        val nField = schema.getFields.get(1)
        assert(nField.getMetadata.get("logicalType") == "FIXED")
      } finally { reader.close(); alloc.close() }
    } finally server.stop()
  }

  test("two sessions keep independent USE state") {
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val t1 = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      val t2 = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      post(port, "/queries/v1/query-request",
        """{"sqlText":"USE DATABASE otherdb"}""", token = Some(t1))
      val r1 = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT 1 AS x"}""", token = Some(t1))
      val r2 = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT count(*) AS n FROM orders"}""", token = Some(t2))
      assert(r1.path("data").path("finalDatabaseName").asText() == "OTHERDB")
      // session 2 still resolves the lake under GRAFT
      assert(r2.path("success").asBoolean(), r2.toString)
      assert(r2.path("data").path("finalDatabaseName").asText() == "GRAFT")
    } finally server.stop()
  }

  private def get(port: Int, path: String, token: Option[String] = None) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    token.foreach(t =>
      conn.setRequestProperty("Authorization", s"""Snowflake Token="$t""""))
    val json = mapper.readTree(conn.getInputStream)
    conn.disconnect()
    json
  }

  test("abort-request cancels a long query mid-flight; session stays usable") {
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    // the clients' own threads: the global ExecutionContext has only as
    // many threads as cores, fewer than the requests in flight here
    val clients = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      def login() = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      val tokens = (1 to 4).map(_ => login())
      val idle = login()
      // ~9e10-row cross join — minutes of work if not cancelled
      val longSql =
        """SELECT max(a.s * b.s) AS m FROM
           (SELECT seq4() AS s FROM TABLE(GENERATOR(ROWCOUNT => 300000))) a,
           (SELECT seq4() AS s FROM TABLE(GENERATOR(ROWCOUNT => 300000))) b"""
      val requestIds = tokens.map(_ => java.util.UUID.randomUUID().toString)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(clients)
      def abort(i: Int) = post(port, "/queries/v1/abort-request",
        s"""{"requestId":"${requestIds(i)}"}""", token = Some(tokens(i)))
      // one long synchronous statement per session: each holds an HTTP
      // thread for its whole collect
      val pending = tokens.indices.map { i =>
        Future(post(port,
          s"/queries/v1/query-request?requestId=${requestIds(i)}",
          mapper.createObjectNode().put("sqlText", longSql).toString,
          token = Some(tokens(i))))
      }
      try {
        Thread.sleep(2000) // let the collects start
        // a fifth session is not queued behind them
        val hb = Await.result(Future(post(port, "/session/heartbeat", "{}",
          token = Some(idle))), 5.seconds)
        assert(hb.path("success").asBoolean(), hb.toString)
        val t0 = System.nanoTime()
        val ab = Await.result(Future(abort(0)), 5.seconds)
        assert(ab.path("success").asBoolean(), ab.toString)
        val resp = Await.result(pending.head, 60.seconds)
        val cancelSec = (System.nanoTime() - t0) / 1e9
        assert(!resp.path("success").asBoolean(), resp.toString)
        assert(cancelSec < 30, s"cancel took ${cancelSec}s")
      } finally {
        val aborts = tokens.indices.tail.map(i => Future(abort(i)))
        val done = scala.util.Try(
          Await.result(Future.sequence(pending ++ aborts), 60.seconds))
        // a starved server never serves the aborts: cancel directly so
        // the suite does not wait out three cross joins
        if (done.isFailure) spark.sparkContext.cancelAllJobs()
      }
      // the session is not poisoned: once the other cross joins (which
      // hold every core) are gone, its next statement runs fine
      val after = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT count(*) AS n FROM orders"}""",
        token = Some(tokens.head))
      assert(after.path("success").asBoolean(), after.toString)
    } finally { server.stop(); clients.shutdownNow() }
  }

  test("monitoring endpoint serves status by query id") {
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val token = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      val resp = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT count(*) AS n FROM orders"}""",
        token = Some(token))
      val qid = resp.path("data").path("queryId").asText()
      val mon = get(port, s"/monitoring/queries/$qid", Some(token))
      assert(mon.path("success").asBoolean(), mon.toString)
      val q = mon.path("data").path("queries").get(0)
      assert(q.path("status").asText() == "SUCCESS", mon.toString)
      assert(q.path("id").asText() == qid)
      // unknown id → success:false, like the reference
      val unknown = get(port, "/monitoring/queries/no-such-query", Some(token))
      assert(!unknown.path("success").asBoolean())
      assert(unknown.path("message").asText() == "query not found")
      // a failed statement reports FAILED_WITH_ERROR — find its id via
      // abort bookkeeping (requestId → queryId is internal, so just run
      // and scan: the failed query is absent from the response, so use
      // requestId-addressed abort path to confirm no crash instead)
      val bad = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT * FROM nonexistent_xyz"}""", token = Some(token))
      assert(!bad.path("success").asBoolean())
    } finally server.stop()
  }

  test("asyncExec: in-progress code, monitoring poll, result fetch, async abort") {
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val token = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      // happy path: submit async, poll monitoring to SUCCESS, fetch result
      val sub = post(port, "/queries/v1/query-request",
        mapper.createObjectNode()
          .put("sqlText", "SELECT o_orderpriority AS pri, count(*) AS n " +
            "FROM orders GROUP BY 1 ORDER BY 1")
          .put("asyncExec", true).toString,
        token = Some(token))
      assert(sub.path("success").asBoolean(), sub.toString)
      assert(sub.path("code").asText() == "333334", sub.toString)
      val qid = sub.path("data").path("queryId").asText()
      assert(sub.path("data").path("getResultUrl").asText() ==
        s"/queries/$qid/result")
      var status = "RUNNING"
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (status == "RUNNING" && System.nanoTime() < deadline) {
        val mon = get(port, s"/monitoring/queries/$qid", Some(token))
        status = mon.path("data").path("queries").get(0)
          .path("status").asText()
        if (status == "RUNNING") Thread.sleep(100)
      }
      assert(status == "SUCCESS", status)
      val res = get(port, s"/queries/$qid/result", Some(token))
      assert(res.path("success").asBoolean(), res.toString)
      val bytes = java.util.Base64.getDecoder.decode(
        res.path("data").path("rowsetBase64").asText())
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new ByteArrayInputStream(bytes), alloc)
      try {
        var n = 0
        while (rd.loadNextBatch()) n += rd.getVectorSchemaRoot.getRowCount
        assert(n == 5, s"expected 5 priority groups, got $n")
      } finally { rd.close(); alloc.close() }
      // fetching an unknown id
      val missing = get(port, "/queries/nope/result", Some(token))
      assert(!missing.path("success").asBoolean())
      // async abort: long query submitted async, cancelled by queryId,
      // result endpoint reports the aborted status
      val longSub = post(port, "/queries/v1/query-request",
        mapper.createObjectNode()
          .put("sqlText", "SELECT max(a.s * b.s) AS m FROM (SELECT seq4() " +
            "AS s FROM TABLE(GENERATOR(ROWCOUNT => 300000))) a, " +
            "(SELECT seq4() AS s FROM TABLE(GENERATOR(ROWCOUNT => 300000))) b")
          .put("asyncExec", true).toString, token = Some(token))
      val lqid = longSub.path("data").path("queryId").asText()
      Thread.sleep(1500)
      val ab = post(port, "/queries/v1/abort-request",
        s"""{"queryId":"$lqid"}""", token = Some(token))
      assert(ab.path("success").asBoolean(), ab.toString)
      var st = "RUNNING"
      val dl2 = System.nanoTime() + 60L * 1000000000L
      while (st == "RUNNING" && System.nanoTime() < dl2) {
        st = get(port, s"/monitoring/queries/$lqid", Some(token))
          .path("data").path("queries").get(0).path("status").asText()
        if (st == "RUNNING") Thread.sleep(200)
      }
      assert(st == "ABORTED", st)
      val abres = get(port, s"/queries/$lqid/result", Some(token))
      assert(!abres.path("success").asBoolean(), abres.toString)
      assert(abres.path("status").asText() == "ABORTED", abres.toString)
    } finally server.stop()
  }

  test("large results ship chunked: inline first chunk + addressable rest") {
    // 250k rows with chunkRows=60000 → inline first chunk + 4 chunk URLs;
    // each chunk is a STANDALONE Arrow IPC stream; the reassembled total
    // must be exact and the sum over all rows must match closed form
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"),
      chunkRows = 60000)
    val port = server.start()
    try {
      val token = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      val resp = post(port, "/queries/v1/query-request",
        mapper.createObjectNode().put("sqlText",
          "SELECT seq4() AS s FROM TABLE(GENERATOR(ROWCOUNT => 250000))")
          .toString, token = Some(token))
      assert(resp.path("success").asBoolean(), resp.toString)
      val data = resp.path("data")
      val chunks = data.path("chunks")
      assert(chunks.size() == 4, s"expected 4 rest chunks: $chunks")
      def decode(bytes: Array[Byte]): (Long, Long) = {
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
          new ByteArrayInputStream(bytes), alloc)
        try {
          var n = 0L; var sum = 0L
          while (rd.loadNextBatch()) {
            val v = rd.getVectorSchemaRoot.getVector(0)
              .asInstanceOf[org.apache.arrow.vector.BigIntVector]
            for (i <- 0 until rd.getVectorSchemaRoot.getRowCount) {
              n += 1; sum += v.get(i)
            }
          }
          (n, sum)
        } finally { rd.close(); alloc.close() }
      }
      var (total, sum) = decode(java.util.Base64.getDecoder.decode(
        data.path("rowsetBase64").asText()))
      assert(total == 60000L, s"inline first chunk rows: $total")
      for (i <- 0 until chunks.size()) {
        val url = chunks.get(i).path("url").asText()
        val conn = new URI(s"http://127.0.0.1:$port$url").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("Authorization",
          s"""Snowflake Token="$token"""")
        val bytes = conn.getInputStream.readAllBytes()
        conn.disconnect()
        val (n, s2) = decode(bytes)
        assert(n == chunks.get(i).path("rowCount").asLong(), s"chunk $i")
        total += n; sum += s2
      }
      assert(total == 250000L, s"reassembled rows: $total")
      assert(sum == 250000L * 249999L / 2, s"reassembled sum: $sum")
      // small results keep the old single-buffer shape: no chunks key
      val small = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT count(*) AS n FROM orders"}""",
        token = Some(token))
      assert(small.path("data").path("chunks").isMissingNode, small.toString)
      val qid = resp.path("data").path("queryId").asText()
      // chunk downloads are token-gated: no token → 401 (ADVICE r14 #2)
      val noTok = new URI(s"http://127.0.0.1:$port/results/$qid/chunk/0")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(noTok.getResponseCode == 401)
      noTok.disconnect()
      // unknown chunk index 404s (with a valid token)
      val bad = new URI(s"http://127.0.0.1:$port/results/$qid/chunk/99")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      bad.setRequestProperty("Authorization", s"""Snowflake Token="$token"""")
      assert(bad.getResponseCode == 404)
      bad.disconnect()
      // closing the session drops its spilled chunk files immediately —
      // the per-server chunk dir is empty after login → big query →
      // fetch → close (round-14 directive #5)
      assert(java.nio.file.Files.list(server.chunkDir).count() > 0)
      post(port, "/session?delete=true", "{}", token = Some(token))
      assert(java.nio.file.Files.list(server.chunkDir).count() == 0,
        "session delete left spilled chunk files behind")
    } finally server.stop()
  }

  test("chunk reassembly fuzz: sizes, wire-struct timestamps, nulls at boundaries") {
    val rnd = new scala.util.Random(20260816L)
    for (_ <- 1 to 5) {
      val chunkRows = 1000 + rnd.nextInt(9000)
      val total = chunkRows * (1 + rnd.nextInt(4)) + rnd.nextInt(chunkRows)
      val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"),
        chunkRows = chunkRows)
      val port = server.start()
      try {
        val token = post(port, "/session/v1/login-request", "{}")
          .path("data").path("token").asText()
        // s: dense ids; v: NULL every 7th row (nulls must survive chunk
        // boundaries); ts: struct{epoch,fraction}-encoded on the wire
        val resp = post(port, "/queries/v1/query-request",
          mapper.createObjectNode().put("sqlText",
            s"""SELECT seq4() AS s, IFF(seq4() % 7 = 0, NULL, seq4() * 2) AS v,
               DATEADD(second, seq4(), '2024-01-01'::timestamp) AS ts
               FROM TABLE(GENERATOR(ROWCOUNT => $total))""").toString,
          token = Some(token))
        assert(resp.path("success").asBoolean(), resp.toString)
        val data = resp.path("data")
        var n = 0L; var sumS = 0L; var nulls = 0L; var sumEpoch = 0L
        def drain(bytes: Array[Byte]): Long = {
          val alloc = new org.apache.arrow.memory.RootAllocator()
          val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
            new ByteArrayInputStream(bytes), alloc)
          var rows = 0L
          try {
            while (rd.loadNextBatch()) {
              val root = rd.getVectorSchemaRoot
              val s = root.getVector(0)
                .asInstanceOf[org.apache.arrow.vector.BigIntVector]
              val v = root.getVector(1)
                .asInstanceOf[org.apache.arrow.vector.BigIntVector]
              val ts = root.getVector(2)
                .asInstanceOf[org.apache.arrow.vector.complex.StructVector]
              val epoch = ts.getChild("epoch")
                .asInstanceOf[org.apache.arrow.vector.BigIntVector]
              for (i <- 0 until root.getRowCount) {
                rows += 1; n += 1
                sumS += s.get(i)
                if (v.isNull(i)) nulls += 1
                sumEpoch += epoch.get(i)
              }
            }
            rows
          } finally { rd.close(); alloc.close() }
        }
        drain(java.util.Base64.getDecoder.decode(
          data.path("rowsetBase64").asText()))
        val chunks = data.path("chunks")
        for (i <- 0 until chunks.size()) {
          val conn = new URI("http://127.0.0.1:" + port +
            chunks.get(i).path("url").asText()).toURL
            .openConnection().asInstanceOf[HttpURLConnection]
          conn.setRequestProperty("Authorization",
            s"""Snowflake Token="$token"""")
          val got = drain(conn.getInputStream.readAllBytes())
          conn.disconnect()
          assert(got == chunks.get(i).path("rowCount").asLong(),
            s"chunk $i rows $got (chunkRows=$chunkRows total=$total)")
        }
        val e0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
        assert(n == total, s"rows $n != $total (chunkRows=$chunkRows)")
        assert(sumS == total.toLong * (total - 1) / 2, s"sum $sumS")
        assert(nulls == (total + 6) / 7, s"nulls $nulls (total=$total)")
        assert(sumEpoch == total * e0 + total.toLong * (total - 1) / 2,
          s"epoch sum $sumEpoch")
      } finally server.stop()
    }
  }

  test("two wire sessions racing INSERTs + a CHANGES reader on a shared table") {
    // round-13 directive #7: compose the protocol layer with the
    // concurrency layer — everything below goes through HTTP
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val t1 = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      val t2 = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      def run(tok: String, sql: String) = {
        val r = post(port, "/queries/v1/query-request",
          mapper.createObjectNode().put("sqlText", sql).toString,
          token = Some(tok))
        r
      }
      val mk = run(t1, """CREATE OR REPLACE ICEBERG TABLE wire_race AS
        SELECT 0 AS k, 'seed' AS v""")
      assert(mk.path("success").asBoolean(), mk.toString)
      // CDC reader state: a stream created BEFORE the race sees exactly
      // the 16 raced inserts when it's read afterwards
      val mkStream = run(t1,
        "CREATE OR REPLACE STREAM wire_race_s ON TABLE wire_race")
      assert(mkStream.path("success").asBoolean(), mkStream.toString)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // two sessions race 8 single-row INSERTs each; cross-process-style
      // commit conflicts surface as success:false — retry like a client
      def insertLoop(tok: String, base: Int): Future[Int] = Future {
        var landed = 0
        for (i <- 1 to 8) {
          var done = false
          var attempts = 0
          var lastErr = ""
          while (!done && attempts < 20) {
            attempts += 1
            val r = run(tok,
              s"INSERT INTO wire_race VALUES (${base + i}, 's$base')")
            if (r.path("success").asBoolean()) { landed += 1; done = true }
            else { lastErr = r.path("message").asText(); Thread.sleep(50) }
          }
          assert(done, s"insert ${base + i} never landed: $lastErr")
        }
        landed
      }
      val w1 = insertLoop(t1, 100)
      val w2 = insertLoop(t2, 200)
      // a third session polls the table while the writers race — every
      // observed count is a consistent committed snapshot (monotone)
      val t3 = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      var lastSeen = 0L
      val reader = Future {
        while (!w1.isCompleted || !w2.isCompleted) {
          // CDC poll through the wire: the stream's delta only ever grows
          val r = run(t3, "SELECT count(*) AS n FROM wire_race_s")
          if (r.path("success").asBoolean()) {
            val bytes = java.util.Base64.getDecoder.decode(
              r.path("data").path("rowsetBase64").asText())
            val alloc = new org.apache.arrow.memory.RootAllocator()
            val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
              new ByteArrayInputStream(bytes), alloc)
            try {
              assert(rd.loadNextBatch())
              val v = rd.getVectorSchemaRoot.getVector(0)
              val n = v match {
                case b: org.apache.arrow.vector.BigIntVector => b.get(0)
                case i: org.apache.arrow.vector.IntVector => i.get(0).toLong
                case o => o.getObject(0).toString.toLong
              }
              assert(n >= lastSeen, s"count went backwards: $lastSeen -> $n")
              lastSeen = n
            } finally { rd.close(); alloc.close() }
          }
          Thread.sleep(100)
        }
      }
      assert(Await.result(w1, 180.seconds) == 8)
      assert(Await.result(w2, 180.seconds) == 8)
      Await.result(reader, 30.seconds)
      def longs(resp: com.fasterxml.jackson.databind.JsonNode): Seq[Long] = {
        val bytes = java.util.Base64.getDecoder.decode(
          resp.path("data").path("rowsetBase64").asText())
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
          new ByteArrayInputStream(bytes), alloc)
        try {
          assert(rd.loadNextBatch())
          val root = rd.getVectorSchemaRoot
          (0 until root.getFieldVectors.size()).map(i =>
            root.getVector(i) match {
              case b: org.apache.arrow.vector.BigIntVector => b.get(0)
              case iv: org.apache.arrow.vector.IntVector => iv.get(0).toLong
              case o => o.getObject(0).toString.toLong
            })
        } finally { rd.close(); alloc.close() }
      }
      // table: the 16 raced rows + the seed, every key exactly once
      val fin = run(t3, "SELECT count(*) AS n, count(DISTINCT k) AS d " +
        "FROM wire_race")
      assert(fin.path("success").asBoolean(), fin.toString)
      assert(longs(fin) == Seq(17L, 17L), fin.toString)
      // CDC: the pre-race stream saw exactly the 16 raced inserts
      val cdc = run(t3, "SELECT count(*) AS n FROM wire_race_s " +
        "WHERE METADATA$ACTION = 'INSERT'")
      assert(cdc.path("success").asBoolean(), cdc.toString)
      assert(longs(cdc) == Seq(16L), cdc.toString)
    } finally server.stop()
  }

  test("concurrent statements on ONE token serialize through the session lock") {
    // the connector's normal async pattern: asyncExec statements run on
    // the server pool while the same token keeps POSTing sync requests.
    // GraftSession.sql holds per-statement state (stream offsets,
    // LAST_QUERY_ID bookkeeping), so same-session statements must
    // serialize (ADVICE r14 #1). Race 8 concurrent statements — a mix of
    // async and sync, DML and reads on a shared stream — and assert
    // every one succeeds and CDC accounting stays exact.
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val token = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      def run(sql: String, async: Boolean = false) = post(port,
        "/queries/v1/query-request",
        mapper.createObjectNode().put("sqlText", sql)
          .put("asyncExec", async).toString, token = Some(token))
      assert(run("CREATE OR REPLACE ICEBERG TABLE one_tok AS SELECT 0 AS k")
        .path("success").asBoolean())
      assert(run("CREATE OR REPLACE STREAM one_tok_s ON TABLE one_tok")
        .path("success").asBoolean())
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val work = (1 to 8).map { i =>
        Future {
          if (i % 2 == 0) {
            // INSERTs retry on commit conflicts like a real client
            var ok = false; var n = 0
            while (!ok && n < 30) {
              n += 1
              ok = run(s"INSERT INTO one_tok VALUES ($i)")
                .path("success").asBoolean()
              if (!ok) Thread.sleep(25)
            }
            assert(ok, s"insert $i never landed")
          } else {
            val r = run("SELECT count(*) AS n FROM one_tok_s", async = true)
            assert(r.path("success").asBoolean(), r.toString)
            val qid = r.path("data").path("queryId").asText()
            var st = "RUNNING"
            val dl = System.nanoTime() + 60L * 1000000000L
            while (st == "RUNNING" && System.nanoTime() < dl) {
              st = get(port, s"/monitoring/queries/$qid", Some(token))
                .path("data").path("queries").get(0).path("status").asText()
              if (st == "RUNNING") Thread.sleep(50)
            }
            assert(st == "SUCCESS", st)
          }
        }
      }
      Await.result(Future.sequence(work), 120.seconds)
      // a pure read never advances the stream: all 4 raced inserts are
      // still unconsumed, exactly once each
      val cdc = run("SELECT count(*) AS n FROM one_tok_s " +
        "WHERE METADATA$ACTION = 'INSERT'")
      assert(cdc.path("success").asBoolean(), cdc.toString)
      val bytes = java.util.Base64.getDecoder.decode(
        cdc.path("data").path("rowsetBase64").asText())
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new ByteArrayInputStream(bytes), alloc)
      try {
        assert(rd.loadNextBatch())
        val n = rd.getVectorSchemaRoot.getVector(0) match {
          case b: org.apache.arrow.vector.BigIntVector => b.get(0)
          case iv: org.apache.arrow.vector.IntVector => iv.get(0).toLong
          case o => o.getObject(0).toString.toLong
        }
        assert(n == 4L, s"stream saw $n inserts, expected 4")
      } finally { rd.close(); alloc.close() }
    } finally server.stop()
  }

  test("telemetry is accepted-and-discarded; unknown paths get JSON 404") {
    // reference parity: POST /telemetry/send returns {'success': True}
    // without reading the payload (`universql/protocol/snowflake.py:138`),
    // and ancillary connector traffic to unrouted paths must see a JSON
    // shape, not the JDK server's raw HTML error page
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val tel = post(port, "/telemetry/send",
        """{"logs":[{"message":"whatever"}]}""")
      assert(tel.path("success").asBoolean(), tel.toString)
      val conn = new URI(s"http://127.0.0.1:$port/no/such/route").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 404)
      assert(conn.getContentType == "application/json")
      val body = mapper.readTree(conn.getErrorStream)
      conn.disconnect()
      assert(!body.path("success").asBoolean())
      assert(body.path("message").asText().contains("/no/such/route"))
      // monitoring + async-result endpoints are token-gated too
      val noTok = get(port, "/monitoring/queries/whatever", None)
      assert(!noTok.path("success").asBoolean())
    } finally server.stop()
  }

  test("USE DATABASE from login params sticks to the session") {
    val server = new SnowflakeServer(spark, Some("/root/testdata/sf0.001"))
    val port = server.start()
    try {
      val login = post(port,
        "/session/v1/login-request?databaseName=GRAFT&schemaName=PUBLIC", "{}")
      val token = login.path("data").path("token").asText()
      assert(login.path("data").path("sessionInfo")
        .path("databaseName").asText() == "GRAFT")
      val resp = post(port, "/queries/v1/query-request",
        """{"sqlText":"SELECT count(*) AS n FROM public.orders"}""",
        token = Some(token))
      assert(resp.path("success").asBoolean(), resp.toString)
      assert(resp.path("data").path("finalSchemaName").asText() == "PUBLIC")
    } finally server.stop()
  }

  test("keep-alive round trips do not wait on the client's delayed ACK") {
    val server = new SnowflakeServer(spark, None)
    val port = server.start()
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setTcpNoDelay(true) // the client sends each request in one write
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val req = (s"POST /session/heartbeat HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        "Content-Type: application/json\r\nContent-Length: 2\r\n\r\n{}")
        .getBytes(UTF_8)
      def readLine(): String = {
        val b = new StringBuilder
        var c = in.read()
        while (c >= 0 && c != '\n') { if (c != '\r') b += c.toChar; c = in.read() }
        b.toString
      }
      def roundTripMs(): Double = {
        val t0 = System.nanoTime()
        out.write(req); out.flush()
        assert(readLine().contains(" 200"))
        var len = 0
        var h = readLine()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:"))
            len = h.substring(15).trim.toInt
          h = readLine()
        }
        assert(in.readNBytes(len).length == len)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).foreach(_ => roundTripMs()) // warm the handler path
      val ms = (1 to 30).map(_ => roundTripMs()).sorted
      // with Nagle on, each response's body segment waits ~40 ms for the
      // ACK of its header segment
      assert(ms(ms.length / 2) < 20.0, ms.mkString(", "))
    } finally { sock.close(); server.stop() }
  }

  test("the wire's query id is the session's: RESULT_SCAN and QUERY_HISTORY find it") {
    val server = new SnowflakeServer(spark, None)
    val port = server.start()
    try {
      val token = post(port, "/session/v1/login-request", "{}")
        .path("data").path("token").asText()
      def rowCount(resp: com.fasterxml.jackson.databind.JsonNode): Int = {
        assert(resp.path("success").asBoolean(), resp.toString)
        val bytes = java.util.Base64.getDecoder.decode(
          resp.path("data").path("rowsetBase64").asText())
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
          new ByteArrayInputStream(bytes), alloc)
        try {
          var n = 0
          while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
          n
        } finally { reader.close(); alloc.close() }
      }
      val query = "SELECT column1 AS k, column2 AS v FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c'))"
      val first = post(port, "/queries/v1/query-request",
        s"""{"sqlText":"$query"}""", token = Some(token))
      assert(rowCount(first) == 3)
      val qid = first.path("data").path("queryId").asText()
      val session = server.sessionOf(token).get
      val newest = session.sql("SELECT QUERY_ID FROM " +
        "TABLE(INFORMATION_SCHEMA.QUERY_HISTORY(RESULT_LIMIT => 1))").collect()
      assert(newest.map(_.getString(0)).toSeq == Seq(qid))
      val scan = post(port, "/queries/v1/query-request",
        s"""{"sqlText":"SELECT * FROM TABLE(RESULT_SCAN('$qid')) ORDER BY 1"}""",
        token = Some(token))
      assert(rowCount(scan) == 3)
      def rows(sql: String) = session.sql(sql).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows(s"SELECT k, v FROM RESULT_SCAN('$qid') ORDER BY k") ==
        rows(s"$query ORDER BY k"))
    } finally server.stop()
  }
}
