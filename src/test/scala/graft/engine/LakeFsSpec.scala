package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The local disk under a second scheme, `graftlocal://`: a Hadoop
  * `FileSystem` registered through the Hadoop configuration only
  * (`fs.graftlocal.impl`), with no engine option involved. */
class GraftLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftlocal"
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
}

/** The storage seam ([[LakeFs]]) under a filesystem scheme other than the
  * local disk's: path-addressed parquet lake tables, a session warehouse
  * whose streams read its inserts, and dynamic-table delta sidecars all
  * live under `graftlocal://`, so every listing, signature, mkdir and
  * delete they need must go through the Hadoop filesystem of the path. */
class LakeFsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // a Hadoop setting of the shared context, visible to every reader,
    // writer and the seam (the builder's spark.hadoop.* would not reach a
    // context another suite already started)
    s.sparkContext.hadoopConfiguration
      .set("fs.graftlocal.impl", classOf[GraftLocalFs].getName)
    s
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def count(s: GraftSession, q: String): Long =
    s.sql(q).collect()(0).getLong(0)

  test("seam: listing, signature, small files and tree ops under graftlocal://") {
    val root = s"graftlocal://${tempDir("lakefs_ops")}"
    spark.range(0, 4).toDF("id").coalesce(1).write.parquet(s"$root/t")
    val files = LakeFs.dataFiles(s"$root/t")
    assert(files.length == 1 && files.head.startsWith("graftlocal:/"), files)
    assert(files.forall(f => LakeFs.exists(f) && LakeFs.size(f) > 0))
    val sig = LakeFs.signature(s"$root/t")
    assert(sig.isDefined && LakeFs.signature(s"$root/missing").isEmpty)
    assert(LakeFs.readParquet(spark, s"$root/t", sig).count() == 4)
    LakeFs.linkTree(s"$root/t", s"$root/copy")
    assert(LakeFs.dataFiles(s"$root/copy").map(_.split('/').last) ==
      files.map(_.split('/').last))
    val out = LakeFs.create(s"$root/small/x.bin")
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(LakeFs.readBytes(s"$root/small/x.bin").toSeq == Seq[Byte](1, 2, 3))
    LakeFs.delete(s"$root/copy")
    assert(!LakeFs.exists(s"$root/copy") && LakeFs.exists(s"$root/t"))
    // local paths keep the scheme-less absolute form the engine stores
    val local = tempDir("lakefs_local")
    spark.range(0, 2).toDF("id").coalesce(1).write.parquet(s"$local/t")
    assert(LakeFs.dataFiles(s"$local/t").forall(_.startsWith(s"$local/t/")))
  }

  test("a lake dir under graftlocal:// keeps its bound view and sees an " +
      "out-of-band append") {
    val dir = s"graftlocal://${tempDir("lakefs_lake")}"
    val path = s"$dir/gl_lake.parquet"
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(path)
    val s = new GraftSession(spark)
    s.attachLake(dir, names = Seq("gl_lake"))
    s.sql("ALTER SESSION SET USE_CACHED_RESULT = FALSE")
    val f = s.qualify("gl_lake")
    def bound = s.spark.sessionState.catalog.getRawTempView(s.viewName(f))
    assert(count(s, "SELECT count(*) AS n FROM gl_lake") == 10)
    val first = bound
    val key = s.registry.boundVersion(f)
    assert(key.isDefined, "a graftlocal:// base must have a version key")
    assert(count(s, "SELECT max(id) AS m FROM gl_lake") == 9)
    assert(bound.get eq first.get, "unchanged base must keep its binding")
    spark.range(100, 105).toDF("id").coalesce(1).write.mode("append").parquet(path)
    assert(count(s, "SELECT count(*) AS n FROM gl_lake") == 15)
    assert(s.registry.boundVersion(f) != key)
  }

  test("a stream reads an INSERT into a graftlocal:// warehouse table") {
    val s = new GraftSession(spark, s"graftlocal://${tempDir("lakefs_wh")}")
    s.sql("CREATE OR REPLACE TABLE gl_t AS SELECT id AS k FROM range(3)")
    assert(s.registry.resolve(s.qualify("gl_t")).get.path.get
      .startsWith("graftlocal://"))
    s.sql("CREATE OR REPLACE STREAM gl_s ON TABLE gl_t")
    assert(count(s, "SELECT count(*) AS n FROM gl_s") == 0)
    s.sql("INSERT INTO gl_t SELECT id + 10 FROM range(2)")
    val ks = s.sql("SELECT k FROM gl_s ORDER BY k").collect()
      .map(_.getAs[Number](0).longValue()).toSeq
    assert(Streams.lastMode == "incremental-files", Streams.lastMode)
    assert(ks == Seq(10L, 11L), ks.toString)
  }

  test("a dynamic-table merge refresh publishes and drops its sidecars " +
      "under graftlocal://") {
    val local = tempDir("lakefs_dt")
    val s = new GraftSession(spark, s"graftlocal://$local")
    s.sql("""CREATE OR REPLACE TABLE gl_b AS
      SELECT id % 5 AS g, id AS v FROM range(50)""")
    s.sql("""CREATE DYNAMIC TABLE gl_d AS
      SELECT g, count(*) AS n, sum(v) AS total FROM gl_b GROUP BY g""")
    // a stream on the DT makes its merge refreshes publish sidecars
    s.sql("CREATE OR REPLACE STREAM gl_ds ON TABLE gl_d")
    s.sql("INSERT INTO gl_b SELECT id % 2 AS g, id + 100 AS v FROM range(4)")
    s.sql("ALTER DYNAMIC TABLE gl_d REFRESH")
    assert(DynamicTables.lastRefreshMode.endsWith("merge"),
      DynamicTables.lastRefreshMode)
    val tableDir = new java.io.File(s"$local/GRAFT/PUBLIC")
    def sidecars = tableDir.listFiles().toSeq
      .filter(_.getName.contains("__dtdelta_"))
    assert(sidecars.nonEmpty)
    assert(sidecars.forall(d => new java.io.File(d, "__sign=1").isDirectory &&
      new java.io.File(d, "__sign=-1").isDirectory))
    // groups 0 and 1 changed: each reports its old and new row
    val d = s.sql("""SELECT METADATA$ACTION AS a, g, n FROM gl_ds
      ORDER BY a, g""").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)).toSeq
    assert(Streams.lastMode == "dt-chain-diff", Streams.lastMode)
    assert(d == Seq(("DELETE", 0L, 10L), ("DELETE", 1L, 10L),
      ("INSERT", 0L, 12L), ("INSERT", 1L, 12L)), d.toString)
    s.sql("DROP DYNAMIC TABLE gl_d")
    assert(sidecars.isEmpty, sidecars.map(_.getName).mkString(","))
  }
}
