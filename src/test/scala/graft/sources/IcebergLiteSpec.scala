package graft.sources

import graft.engine.{FQN, GraftSession, TableKind, TableRef}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Builds a minimal spec-layout Iceberg table (metadata.json → manifest
  * list → manifest → parquet data files) and reads it back through
  * [[IcebergLite]] and through the session's registry seam. */
class IcebergLiteSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // suites share one JVM-wide session where builder-time
    // spark.sql.extensions is ignored — inject the rule per-session
    if (!s.experimental.extraOptimizations.contains(
        graft.plans.PartitionFilterMirror))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.PartitionFilterMirror
    if (!s.experimental.extraOptimizations.contains(
        graft.plans.BoundsFilePrune))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.BoundsFilePrune
    s
  }

  /** `f` planned by Spark without the bounds rule. */
  private def unpruned[T](f: => T): T = graft.plans.PlanRules.withConf(spark,
    graft.plans.PlanRules.excluded(graft.plans.BoundsFilePrune))(f)

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)

  private val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Write a tiny Iceberg table of the `nation` rows; returns the
    * metadata.json path. */
  private def buildTable(): String = {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_iceberg").toString
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")

    // two data files
    val d1 = s"$root/data/f1"
    val d2 = s"$root/data/f2"
    nation.filter(col("n_nationkey") < 10).coalesce(1)
      .write.mode("overwrite").parquet(d1)
    nation.filter(col("n_nationkey") >= 10).coalesce(1)
      .write.mode("overwrite").parquet(d2)

    // one manifest with two ADDED entries (+ one DELETED that must be
    // filtered out)
    val manifestDir = s"$root/meta/manifest1"
    import spark.implicits._
    Seq((1, d1), (1, d2), (2, s"$root/data/gone"))
      .toDF("status", "file_path")
      .select(col("status"), struct(col("file_path")).as("data_file"))
      .coalesce(1).write.mode("overwrite").format(avroFmt).save(manifestDir)

    // manifest list
    val listDir = s"$root/meta/manifest-list-1"
    Seq(manifestDir).toDF("manifest_path")
      .coalesce(1).write.mode("overwrite").format(avroFmt).save(listDir)

    // metadata.json (v2-shaped, minimal)
    val metadataPath = s"$root/meta/v2.metadata.json"
    val json =
      s"""{"format-version": 2, "table-uuid": "00000000-0000-0000-0000-000000000001",
         | "location": "$root", "current-snapshot-id": 77,
         | "snapshots": [
         |   {"snapshot-id": 42, "manifest-list": "$root/meta/old-list"},
         |   {"snapshot-id": 77, "manifest-list": "$listDir"}]}""".stripMargin
    Files.write(java.nio.file.Paths.get(metadataPath), json.getBytes)
    metadataPath
  }

  test("scan by metadata path: current snapshot, deleted entries skipped") {
    val metadataPath = buildTable()
    val df = IcebergLite.scan(spark, metadataPath)
    assert(df.count() == 25)
    assert(df.columns.toSet == Set("n_nationkey", "n_name", "n_regionkey"))
  }

  test("CREATE ICEBERG TABLE AS / INSERT append / UPDATE / DROP lifecycle") {
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE nat_ice AS
             SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 20""")
    assert(s.sql("SELECT count(*) AS n FROM nat_ice").collect()(0).getLong(0) == 20)
    // metadata path registered, spec layout on disk
    val ref = s.registry.resolve(
      graft.engine.Identifiers.fullQualifier("nat_ice", "GRAFT", "PUBLIC")).get
    assert(ref.format == "iceberg")
    assert(ref.path.get.endsWith("v1.metadata.json"))

    // append = snapshot 2
    s.sql("INSERT INTO nat_ice SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 20")
    assert(s.sql("SELECT count(*) AS n FROM nat_ice").collect()(0).getLong(0) == 25)
    val ref2 = s.registry.resolve(ref.fqn).get
    assert(ref2.path.get.endsWith("v2.metadata.json"))
    // snapshot 1 still readable by its own metadata file (time travel)
    assert(IcebergLite.scan(spark,
      ref2.path.get.replace("v2.metadata.json", "v1.metadata.json")).count() == 20)

    // DML copy-on-write lands on an iceberg snapshot too
    s.sql("UPDATE nat_ice SET nm = lower(nm) WHERE k < 5")
    assert(s.sql("SELECT count(*) AS n FROM nat_ice WHERE nm = lower(nm)")
      .collect()(0).getLong(0) >= 5)
    assert(s.sql("SELECT count(*) AS n FROM nat_ice").collect()(0).getLong(0) == 25)
    s.sql("DROP TABLE nat_ice")
  }

  test("v2 row-level deletes: position and equality files applied on scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // snapshot 1: a plain data table of 25 nation rows
    val root = Files.createTempDirectory("graft_ice_v2del").toString
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val metaV1 = IcebergLite.write(spark, nation, s"$root/t")
    val dataFiles = IcebergLite.dataFiles(spark, metaV1)
    val dataManifest = s"$root/t/metadata/manifest-s1"

    // a POSITION delete file: rows 0 and 1 of the first data file
    val posDir = s"$root/t/data/posdel"
    Seq((dataFiles.head, 0L), (dataFiles.head, 1L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(posDir)
    val posFile = Files.list(java.nio.file.Paths.get(posDir)).iterator()
      .asScala.map(_.toString).find(_.endsWith(".parquet")).get

    // an EQUALITY delete file: nationkeys 20 and 24 by column value
    val eqDir = s"$root/t/data/eqdel"
    Seq(20, 24).toDF("n_nationkey")
      .coalesce(1).write.mode("overwrite").parquet(eqDir)
    val eqFile = Files.list(java.nio.file.Paths.get(eqDir)).iterator()
      .asScala.map(_.toString).find(_.endsWith(".parquet")).get

    // delete manifests (v2 shape: data_file.content 1=pos 2=eq) at seq 2
    val posManifest = s"$root/t/metadata/manifest-posdel"
    Seq((1, 2L, 1, posFile)).toDF("status", "sequence_number", "content", "file_path")
      .select(col("status"), col("sequence_number"),
        struct(col("content"), col("file_path"),
          lit("PARQUET").as("file_format")).as("data_file"))
      .coalesce(1).write.mode("overwrite").format(avroFmt).save(posManifest)
    val eqManifest = s"$root/t/metadata/manifest-eqdel"
    Seq((1, 2L, 2, eqFile)).toDF("status", "sequence_number", "content", "file_path")
      .select(col("status"), col("sequence_number"),
        struct(col("content"), col("file_path"),
          lit("PARQUET").as("file_format")).as("data_file"))
      .coalesce(1).write.mode("overwrite").format(avroFmt).save(eqManifest)

    // snapshot 2's manifest list: data manifest (content 0, seq 1) + the
    // two delete manifests (content 1, seq 2)
    val listDir = s"$root/t/metadata/manifest-list-s2del"
    Seq((dataManifest, 0, 1L), (posManifest, 1, 2L), (eqManifest, 1, 2L))
      .toDF("manifest_path", "content", "sequence_number")
      .coalesce(1).write.mode("overwrite").format(avroFmt).save(listDir)
    val metaV2 = s"$root/t/metadata/v2.metadata.json"
    Files.write(java.nio.file.Paths.get(metaV2),
      s"""{"format-version": 2, "current-snapshot-id": 2,
         | "snapshots": [{"snapshot-id": 2, "manifest-list": "$listDir"}]}"""
        .stripMargin.getBytes)

    val got = IcebergLite.scan(spark, metaV2)
    val keys = got.select("n_nationkey").collect()
      .map(_.getAs[Number](0).longValue).toSet
    // the first two rows (by position) of data file 1 are gone…
    val firstTwo = spark.read.parquet(dataFiles.head)
      .limit(2).collect().map(_.getAs[Number](0).longValue).toSet
    assert(got.count() == 25 - 2 - 2)
    assert(firstTwo.forall(k => !keys.contains(k)))
    // …and the equality-deleted keys are gone
    assert(!keys.contains(20L) && !keys.contains(24L))
    // snapshot 1 unaffected (time travel still sees all rows)
    assert(IcebergLite.scan(spark, metaV1).count() == 25)
    // compaction refuses tables with pending delete files — merging data
    // files while deletes are outstanding could resurrect deleted rows
    val e = intercept[IllegalArgumentException] {
      IcebergLite.compact(spark, metaV2)
    }
    assert(e.getMessage.contains("delete"))

    // …but session OPTIMIZE must still succeed as maintenance: it detects
    // the pending deletes and takes the COW snapshot rewrite instead
    // (scan applies the deletes; the rewrite lands a clean file set)
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.registry.register(TableRef(
      FQN("GRAFT", "PUBLIC", "NAT_DEL_ICE"), TableKind.Lake,
      Some(metaV2), format = "iceberg"))
    s.sql("OPTIMIZE nat_del_ice")
    val after = s.registry.resolve(FQN("GRAFT", "PUBLIC", "NAT_DEL_ICE")).get
    assert(after.path.get != metaV2, "OPTIMIZE must land a new snapshot")
    assert(IcebergLite.deleteFiles(spark, after.path.get).isEmpty,
      "rewritten snapshot must carry no delete files")
    assert(s.sql("SELECT count(*) AS n FROM nat_del_ice")
      .collect()(0).getLong(0) == 21)
  }

  test("partitioned write: manifest partition values drive file pruning") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_part").toString
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")

    val meta = IcebergLite.write(spark, nation, root,
      partitionBy = Seq("n_regionkey"))
    assert(IcebergLite.partitionColumns(meta) == Seq("n_regionkey"))

    // full scan sees everything, partition column type preserved
    val full = IcebergLite.scan(spark, meta)
    assert(full.count() == 25)
    assert(full.schema("n_regionkey").dataType ==
      nation.schema("n_regionkey").dataType)

    // pruned scan reads ONLY the matching partition's files (manifest
    // partition values carry the zi encoding for integral columns)
    val pruned = IcebergLite.scan(spark, meta, Some(_ == zi(2)))
    assert(pruned.count() == 5)
    assert(pruned.select("n_regionkey").distinct().collect()
      .map(_.get(0).toString).toSeq == Seq("2"))
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.inputFiles.forall(_.contains(s"__part_zi__n_regionkey=${zi(2)}")))

    // fully-pruned scan: empty result, schema intact
    val none = IcebergLite.scan(spark, meta, Some(_ => false))
    assert(none.count() == 0 && none.columns.sameElements(full.columns))

    // append preserves the partition spec; new files are pruned too
    val meta2 = IcebergLite.append(spark,
      nation.filter(col("n_regionkey") === 2), meta)
    val pruned2 = IcebergLite.scan(spark, meta2, Some(_ == zi(2)))
    assert(pruned2.count() == 10)
    assert(pruned2.inputFiles.forall(_.contains(s"__part_zi__n_regionkey=${zi(2)}")))
    assert(IcebergLite.scan(spark, meta2).count() == 30)
  }

  test("filter-mirror rule prunes partitions for a plain WHERE clause") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft_ice_mirror").toString
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val meta = IcebergLite.write(spark, nation, root,
      partitionBy = Seq("n_regionkey"))

    // the query filters the REAL column; nothing names the shadow column.
    // n_regionkey is integral, so the shadow carries the zi (biased,
    // zero-padded) encoding
    val df = IcebergLite.scan(spark, meta)
      .filter(col("n_regionkey") === 2)
    assert(df.count() == 5)

    val scanned = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(scanned.nonEmpty, "expected a FileSourceScanExec")
    assert(scanned.forall(_.contains(s"__part_zi__n_regionkey=${zi(2)}")),
      s"expected only the n_regionkey=2 partition, got: $scanned")

    // IN-list filters mirror too
    val df2 = IcebergLite.scan(spark, meta)
      .filter(col("n_regionkey").isin(0, 3))
    assert(df2.count() == 10)
    val scanned2 = df2.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(scanned2.nonEmpty && scanned2.forall(p =>
      p.contains(s"__part_zi__n_regionkey=${zi(0)}") ||
      p.contains(s"__part_zi__n_regionkey=${zi(3)}")))
  }

  /** The write side's zi rendering: value + 2^63, zero-padded to 20. */
  private def zi(v: Long): String = {
    val digits = (BigInt(v) + BigInt(2).pow(63)).toString
    "0" * (20 - digits.length) + digits
  }

  test("zi encoding: integral identity partitions range-prune, negatives included") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft_ice_zi").toString
    // k spans negative..positive — the biased encoding must order across
    // the sign boundary where naive rendering breaks twice over
    val base = spark.range(0, 1000).select(
      (col("id") % 21 - 10).cast("int").as("k"), col("id").as("v"))
    val meta = IcebergLite.write(spark, base, root, partitionBy = Seq("k"))
    val part = IcebergLite.scan(spark, meta)

    // file-level skip: a range on the real column reads only in-range dirs
    val df = part.filter(col("k") >= 3 && col("k") < 7)
    val scanned = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(scanned.nonEmpty, "expected a FileSourceScanExec")
    assert(scanned.forall { p =>
      val enc = p.split("__part_zi__k=")(1).takeWhile(_ != '/')
      enc >= zi(3) && enc < zi(7)
    }, s"out-of-range partition scanned: $scanned")
    assert(scanned.length < part.inputFiles.length)

    // fuzz: random =, IN, range, BETWEEN shapes vs the unpartitioned frame
    val rnd = new scala.util.Random(7)
    for (i <- 1 to 12) {
      val a = rnd.nextInt(27) - 13
      val b = rnd.nextInt(27) - 13
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val shape = rnd.nextInt(5) match {
        case 0 => (d: org.apache.spark.sql.DataFrame) => d.filter(col("k") === a)
        case 1 => (d: org.apache.spark.sql.DataFrame) => d.filter(col("k").isin(a, b))
        case 2 => (d: org.apache.spark.sql.DataFrame) => d.filter(col("k") >= lo && col("k") < hi)
        case 3 => (d: org.apache.spark.sql.DataFrame) => d.filter(col("k").between(lo, hi))
        case _ => (d: org.apache.spark.sql.DataFrame) => d.filter(col("k") <= lo)
      }
      val got = shape(part).agg(count(lit(1)), sum(col("v"))).collect()(0)
      val want = shape(base).agg(count(lit(1)), sum(col("v"))).collect()(0)
      assert(got == want, s"zi pruning changed results for i=$i a=$a b=$b")
    }
  }

  test("filter-mirror rule prunes a date-RANGE WHERE on a date partition") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft_ice_daterange").toString
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"), trunc(col("o_orderdate"), "MM").as("omonth"),
        col("o_totalprice"))
    val meta = IcebergLite.write(spark, orders, root,
      partitionBy = Seq("omonth"))

    val lo = lit("1995-01-01").cast("date")
    val hi = lit("1996-01-01").cast("date")
    val df = IcebergLite.scan(spark, meta)
      .filter(col("omonth") >= lo && col("omonth") < hi)
    val expected = orders.filter(col("omonth") >= lo && col("omonth") < hi).count()
    assert(expected > 0 && df.count() == expected)

    val scanned = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(scanned.nonEmpty, "expected a FileSourceScanExec")
    assert(scanned.forall { p =>
      val v = p.split("__part_omonth=")(1).takeWhile(_ != '/')
      v >= "1995-01-01" && v < "1996-01-01"
    }, s"out-of-range partition scanned: $scanned")
    assert(scanned.length <
      IcebergLite.scan(spark, meta).inputFiles.length)
  }

  test("day() transform: hidden time partitioning, range prune on the real ts") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft_ice_day").toString
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "ts", "value")
    val meta = IcebergLite.write(spark, ev, root, partitionBy = Seq("day(ts)"))
    assert(IcebergLite.partitionColumns(meta) == Seq("day(ts)"))

    val full = IcebergLite.scan(spark, meta)
    assert(full.count() == ev.count())
    assert(!full.columns.exists(_.startsWith("__part_")))
    // ts column survives exactly (hidden partitioning: user never sees
    // the transform)
    assert(full.schema("ts").dataType == ev.schema("ts").dataType)

    // range filter on the REAL timestamp column; nothing names the shadow
    val lo = lit("2024-01-10 00:00:00").cast("timestamp_ntz")
    val hi = lit("2024-01-14 23:59:59").cast("timestamp_ntz")
    val df = IcebergLite.scan(spark, meta)
      .filter(col("ts") >= lo && col("ts") <= hi)
    val expected = ev.filter(col("ts") >= lo && col("ts") <= hi).count()
    assert(expected > 0 && df.count() == expected)
    val scanned = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(scanned.nonEmpty, "expected a FileSourceScanExec")
    assert(scanned.forall { p =>
      val v = p.split("__part_day__ts=")(1).takeWhile(_ != '/')
      v >= "2024-01-10" && v <= "2024-01-14"
    }, s"out-of-range day partition scanned: $scanned")
    assert(scanned.length <
      IcebergLite.scan(spark, meta).inputFiles.length)

    // append preserves the transform spec; new files pruned the same way
    val meta2 = IcebergLite.append(spark,
      ev.filter(col("ts") >= lit("2024-01-12").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-13").cast("timestamp_ntz")), meta)
    assert(IcebergLite.partitionColumns(meta2) == Seq("day(ts)"))
    val jan12 = IcebergLite.scan(spark, meta2)
      .filter(col("ts") >= lit("2024-01-12").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-13").cast("timestamp_ntz"))
    val expected12 = 2 * ev.filter(col("ts") >= lit("2024-01-12").cast("timestamp_ntz") &&
      col("ts") < lit("2024-01-13").cast("timestamp_ntz")).count()
    assert(jan12.count() == expected12)
  }

  test("randomized: day-partition pruning never changes results") {
    // false pruning is silent data loss — fuzz random range/equality
    // predicates against the unpartitioned frame on identical data
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_fuzz").toString
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "value")
    val meta = IcebergLite.write(spark, ev, root, partitionBy = Seq("day(ts)"))
    val part = IcebergLite.scan(spark, meta)
    // hour() shares the transform machinery; one partitioned clone proves
    // the finer grain end to end
    val rootH = Files.createTempDirectory("graft_ice_fuzz_h").toString
    val metaH = IcebergLite.write(spark, ev, rootH, partitionBy = Seq("hour(ts)"))
    val partH = IcebergLite.scan(spark, metaH)
    val rnd = new scala.util.Random(99)
    for (i <- 1 to 12) {
      val d1 = 1 + rnd.nextInt(30)
      val d2 = 1 + rnd.nextInt(30)
      val (lo, hi) = (math.min(d1, d2), math.max(d1, d2))
      val hms = f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
      val loTs = lit(f"2024-01-$lo%02d $hms").cast("timestamp_ntz")
      val hiTs = lit(f"2024-01-$hi%02d $hms").cast("timestamp_ntz")
      val shape = rnd.nextInt(4) match {
        case 0 => (d: org.apache.spark.sql.DataFrame) =>
          d.filter(col("ts") >= loTs && col("ts") < hiTs)
        case 1 => (d: org.apache.spark.sql.DataFrame) =>
          d.filter(col("ts") > loTs && col("ts") <= hiTs)
        case 2 => (d: org.apache.spark.sql.DataFrame) =>
          d.filter(col("ts") <= loTs)
        case _ => (d: org.apache.spark.sql.DataFrame) =>
          d.filter(col("ts") > hiTs)
      }
      // decimal sum: double addition order differs with partition layout
      val src = if (i % 3 == 0) partH else part
      val got = shape(src)
        .agg(count(lit(1)), sum(col("value").cast("decimal(18,6)"))).collect()(0)
      val want = shape(ev)
        .agg(count(lit(1)), sum(col("value").cast("decimal(18,6)"))).collect()(0)
      assert(got == want, s"pruning changed results for lo=$lo hi=$hi $hms")
    }
  }

  test("DML on a day-partitioned iceberg table preserves the transform spec") {
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE ev_day
            | PARTITION BY (day(ts))
            | AS SELECT event_id, user_id, ts, value FROM events""".stripMargin)
    val before = s.sql("SELECT count(*) AS n FROM ev_day").collect()(0).getLong(0)
    s.sql("UPDATE ev_day SET value = value + 1 WHERE user_id < 5")
    s.sql("DELETE FROM ev_day WHERE user_id >= 12")
    val kept = s.sql("SELECT count(*) AS n FROM ev_day").collect()(0).getLong(0)
    assert(kept < before && kept > 0)
    // INSERT appends a new snapshot that keeps day(ts) too
    s.sql("""INSERT INTO ev_day
            | SELECT event_id + 1000000, user_id, ts, value
            | FROM events WHERE user_id < 2""".stripMargin)
    val after = s.sql("SELECT count(*) AS n FROM ev_day").collect()(0).getLong(0)
    assert(after > kept)
    // the rewritten snapshot kept day(ts): its data paths still carry the
    // transform shadow directories
    val files = s.sql("SELECT * FROM ev_day WHERE ts >= '2024-01-10'::timestamp")
      .inputFiles
    assert(files.nonEmpty && files.forall(_.contains("__part_day__")),
      s"transform spec lost after DML: ${files.take(3).mkString(", ")}")
  }

  test("multi-column partition spec: combined manifest values, per-column mirror") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft_ice_multi").toString
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val meta = IcebergLite.write(spark, nation, root,
      partitionBy = Seq("n_regionkey", "n_name"))
    assert(IcebergLite.partitionColumns(meta) == Seq("n_regionkey", "n_name"))
    assert(IcebergLite.scan(spark, meta).count() == 25)

    // manifest-level filter sees "/"-joined values in spec order (the
    // integral column carries its zi encoding)
    val pruned = IcebergLite.scan(spark, meta, Some(_ == s"${zi(1)}/NATION_1"))
    assert(pruned.count() == 1)

    // mirror rule prunes on BOTH columns from a plain WHERE
    val df = IcebergLite.scan(spark, meta)
      .filter(col("n_regionkey") === 1 && col("n_name") === "NATION_1")
    assert(df.count() == 1)
    val scanned = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.filePath.toString)
    assert(scanned.nonEmpty && scanned.forall(p =>
      p.contains(s"__part_zi__n_regionkey=${zi(1)}") &&
      p.contains("__part_n_name=NATION_1")))
  }

  test("session: CREATE ICEBERG TABLE PARTITION BY round-trips") {
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE orders_part
            | PARTITION BY (o_orderpriority)
            | AS SELECT * FROM orders""".stripMargin)
    val back = s.sql("SELECT o_orderpriority, count(*) AS n " +
      "FROM orders_part GROUP BY 1 ORDER BY 1")
    val direct = s.sql("SELECT o_orderpriority, count(*) AS n " +
      "FROM orders GROUP BY 1 ORDER BY 1")
    assert(back.collect().toSeq == direct.collect().toSeq)
  }

  test("registry seam: iceberg-format table queryable through the session") {
    val metadataPath = buildTable()
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.registry.register(TableRef(
      FQN("GRAFT", "PUBLIC", "NATION_ICE"), TableKind.Lake,
      Some(metadataPath), format = "iceberg"))
    val n = s.sql(
      """SELECT count(*) AS n FROM nation_ice n1
        | JOIN region ON n1.n_regionkey = region.r_regionkey""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 25)
  }

  test("ADD COLUMN is metadata-only: same files, old rows NULL, appends carry values") {
    import java.nio.file.Paths
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE evo_ice AS
             SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 10""")
    val fqn = graft.engine.Identifiers.fullQualifier("evo_ice", "GRAFT", "PUBLIC")
    val ref1 = s.registry.resolve(fqn).get
    val filesBefore = IcebergLite.dataFiles(spark, ref1.path.get).toSet
    val mtimes = filesBefore.map(p =>
      p -> Files.getLastModifiedTime(Paths.get(p))).toMap

    s.sql("ALTER TABLE evo_ice ADD COLUMN score DOUBLE")
    val ref2 = s.registry.resolve(fqn).get
    assert(ref2.path.get != ref1.path.get, "ALTER must commit a new metadata version")
    // the Iceberg design point: evolution is O(metadata) — the data file
    // set is untouched, byte for byte
    val filesAfter = IcebergLite.dataFiles(spark, ref2.path.get).toSet
    assert(filesAfter == filesBefore)
    filesAfter.foreach(p =>
      assert(Files.getLastModifiedTime(Paths.get(p)) == mtimes(p),
        s"data file $p was rewritten by ADD COLUMN"))

    // pre-evolution files surface NULL under the declared schema
    val before = s.sql("SELECT k, score AS score FROM evo_ice ORDER BY k").collect()
    assert(before.length == 10 && before.forall(_.isNullAt(1)))

    // a post-evolution INSERT lands real values in the SAME read group as
    // the old files (mixed schemas; first file's footer lacks the column)
    s.sql("""INSERT INTO evo_ice
             SELECT n_nationkey, n_name, n_nationkey * 2.0
             FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 15""")
    val rows = s.sql("SELECT k, score AS score FROM evo_ice ORDER BY k").collect()
    assert(rows.length == 15)
    assert(rows.take(10).forall(_.isNullAt(1)))
    rows.drop(10).foreach(r =>
      assert(r.getDouble(1) == r.getAs[Number](0).doubleValue * 2.0))

    // time travel: the pre-evolution metadata still reads the old schema
    assert(!IcebergLite.scan(spark, ref1.path.get)
      .columns.exists(_.equalsIgnoreCase("score")))
    s.sql("DROP TABLE evo_ice")
  }

  test("DROP COLUMN is metadata-only; a re-added name does not resurrect values") {
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE evo_drop AS
             SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 10""")
    val fqn = graft.engine.Identifiers.fullQualifier("evo_drop", "GRAFT", "PUBLIC")
    val ref1 = s.registry.resolve(fqn).get
    val filesBefore = IcebergLite.dataFiles(spark, ref1.path.get).toSet

    s.sql("ALTER TABLE evo_drop DROP COLUMN nm")
    val ref2 = s.registry.resolve(fqn).get
    assert(IcebergLite.dataFiles(spark, ref2.path.get).toSet == filesBefore,
      "DROP COLUMN must not rewrite data files")
    assert(!s.sql("SELECT * FROM evo_drop").columns.exists(_.equalsIgnoreCase("nm")))
    assert(IcebergLite.tombstones(ref2.path.get).exists(_.equalsIgnoreCase("nm")))

    // re-adding the tombstoned name stays METADATA-ONLY: it binds a
    // fresh physical name, so the old file data cannot resurrect
    s.sql("ALTER TABLE evo_drop ADD COLUMN nm VARCHAR")
    val ref3 = s.registry.resolve(fqn).get
    assert(IcebergLite.dataFiles(spark, ref3.path.get).toSet == filesBefore,
      "tombstoned re-add must also be metadata-only")
    val physMap = IcebergLite.physicalNames(ref3.path.get)
    assert(physMap.exists { case (l, p) =>
      l.equalsIgnoreCase("nm") && !p.equalsIgnoreCase("nm") },
      s"re-added column must bind a fresh physical name, got $physMap")
    val rows = s.sql("SELECT k, nm FROM evo_drop ORDER BY k").collect()
    assert(rows.length == 10 && rows.forall(_.isNullAt(1)),
      "tombstoned re-add must surface NULL, not the dropped values")
    // an INSERT writes the re-added column under its physical name and
    // reads back by the logical one
    s.sql("""INSERT INTO evo_drop SELECT n_nationkey, n_name
             FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 12""")
    val rows2 = s.sql("SELECT k, nm FROM evo_drop ORDER BY k").collect()
    assert(rows2.length == 12)
    assert(rows2.take(10).forall(_.isNullAt(1)))
    assert(rows2.drop(10).forall(r => r.getString(1).startsWith("NATION")))
    s.sql("DROP TABLE evo_drop")
  }

  test("randomized: evolution sequences match a simulated table") {
    // a wrong physical-name binding is silent data corruption (values
    // resurrect, vanish, or land under the wrong column) — fuzz random
    // add/drop/rename/insert sequences against an in-memory model
    val rnd = new scala.util.Random(4242)
    for (scenario <- 1 to 4) {
      val s = new GraftSession(spark)
      s.attachLake("/root/testdata/sf0.001")
      s.sql("""CREATE OR REPLACE ICEBERG TABLE evo_fuzz AS
               SELECT n_nationkey AS k, n_name AS c0
               FROM nation WHERE n_nationkey < 5""")
      // model: column order + per-row values keyed by k
      var cols = Vector("C0")
      var rows: Map[Long, Map[String, String]] =
        (0L until 5L).map(k => k -> Map("C0" -> s"NATION_$k")).toMap
      var nextKey = 100L
      var nextCol = 1
      for (_ <- 1 to 8) rnd.nextInt(4) match {
        case 0 => // add column
          val c = s"C$nextCol"; nextCol += 1
          s.sql(s"ALTER TABLE evo_fuzz ADD COLUMN $c VARCHAR")
          cols :+= c
          rows = rows.view.mapValues(_ + (c -> null)).toMap
        case 1 if cols.length > 1 => // drop a random non-key column
          val c = cols(rnd.nextInt(cols.length))
          s.sql(s"ALTER TABLE evo_fuzz DROP COLUMN $c")
          cols = cols.filterNot(_ == c)
          rows = rows.view.mapValues(_ - c).toMap
        case 2 => // rename a random column (possibly to a retired name)
          val from = cols(rnd.nextInt(cols.length))
          val to = s"C$nextCol"; nextCol += 1
          s.sql(s"ALTER TABLE evo_fuzz RENAME COLUMN $from TO $to")
          cols = cols.map(c => if (c == from) to else c)
          rows = rows.view.mapValues(m => m - from + (to -> m(from))).toMap
        case _ => // insert two rows with distinct values per live column
          val ks = Seq(nextKey, nextKey + 1); nextKey += 2
          val values = ks.map { k =>
            val vs = cols.map(c => s"v${k}_$c")
            s"($k, ${vs.map(v => s"'$v'").mkString(", ")})"
          }.mkString(", ")
          s.sql(s"INSERT INTO evo_fuzz VALUES $values")
          ks.foreach { k =>
            rows += k -> cols.map(c => c -> s"v${k}_$c").toMap
          }
      }
      val got = s.sql(s"SELECT k, ${cols.mkString(", ")} FROM evo_fuzz ORDER BY k")
        .collect()
        .map(r => r.getAs[Number](0).longValue ->
          cols.zipWithIndex.map { case (c, i) =>
            c -> (if (r.isNullAt(i + 1)) null else r.getString(i + 1)) }.toMap)
        .toMap
      assert(got == rows,
        s"scenario $scenario diverged:\n got=$got\nwant=$rows")
      s.sql("DROP TABLE evo_fuzz")
    }
  }

  test("RENAME COLUMN is metadata-only: physical name stable, values preserved") {
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE evo_ren AS
             SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 10""")
    val fqn = graft.engine.Identifiers.fullQualifier("evo_ren", "GRAFT", "PUBLIC")
    val filesBefore = IcebergLite.dataFiles(
      spark, s.registry.resolve(fqn).get.path.get).toSet

    s.sql("ALTER TABLE evo_ren RENAME COLUMN nm TO label")
    val ref2 = s.registry.resolve(fqn).get
    assert(IcebergLite.dataFiles(spark, ref2.path.get).toSet == filesBefore,
      "RENAME COLUMN must not rewrite data files")
    val renamed = s.sql("SELECT k, label FROM evo_ren ORDER BY k").collect()
    assert(renamed.length == 10 &&
      renamed.forall(_.getString(1).startsWith("NATION")),
      "values must survive the rename")
    // the physical name is stable: metadata maps LABEL -> nm
    assert(IcebergLite.physicalNames(ref2.path.get).exists { case (l, p) =>
      l.equalsIgnoreCase("label") && p == "nm" })

    // appends under the new logical name land on the OLD physical name,
    // so one read group mixes pre- and post-rename files seamlessly
    s.sql("""INSERT INTO evo_ren SELECT n_nationkey, n_name
             FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 15""")
    val all = s.sql("SELECT k, label FROM evo_ren ORDER BY k").collect()
    assert(all.length == 15 && all.forall(_.getString(1).startsWith("NATION")))

    // adding a fresh column named like the OLD name must NOT read the
    // renamed column's data (the physical name is taken → fresh binding)
    s.sql("ALTER TABLE evo_ren ADD COLUMN nm VARCHAR")
    val withOld = s.sql("SELECT k, label, nm FROM evo_ren ORDER BY k").collect()
    assert(withOld.forall(_.isNullAt(2)),
      "a new column reusing a renamed-away name must read NULL")
    assert(withOld.forall(_.getString(1).startsWith("NATION")))
    s.sql("DROP TABLE evo_ren")
  }

  test("EXPIRE SNAPSHOTS: current stays readable, expired manifests and COW dirs reclaimed") {
    import java.nio.file.Paths
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE evo_exp AS
             SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 10""")
    val fqn = graft.engine.Identifiers.fullQualifier("evo_exp", "GRAFT", "PUBLIC")
    s.sql("""INSERT INTO evo_exp SELECT n_nationkey, n_name
             FROM nation WHERE n_nationkey >= 10 AND n_nationkey < 15""")
    val refIns = s.registry.resolve(fqn).get
    // library-level: expiring the 2-snapshot chain drops snapshot 1's
    // manifests but keeps every carried-forward data file readable
    val v2 = refIns.path.get
    assert(v2.endsWith("v2.metadata.json"))
    val v3 = IcebergLite.expireSnapshots(spark, v2)
    assert(IcebergLite.scan(spark, v3).count() == 15)
    assert(!Files.isDirectory(
      Paths.get(v2).getParent.resolve("manifest-list-s1")))
    intercept[Exception] {
      IcebergLite.scan(spark,
        v2.replace("v2.metadata.json", "v1.metadata.json")).count()
    }

    // the library-level expire above committed v3 OUT-OF-BAND (the
    // session ref still points at v2) — a session DML from the stale
    // handle must now fail LOUDLY instead of silently clobbering v3
    // (cross-process commit protocol, round 13); re-pointing to the
    // current version is the documented remediation
    intercept[java.util.ConcurrentModificationException] {
      s.sql("UPDATE evo_exp SET nm = upper(nm) WHERE k < 3")
    }
    s.registry.register(refIns.copy(path = Some(v3)))

    // a PREDICATED UPDATE goes file-granular: the replace snapshot
    // commits INTO the same table dir (continuous metadata chain) —
    // no orphan dir to reclaim
    s.sql("UPDATE evo_exp SET nm = upper(nm) WHERE k < 3")
    val refGran = s.registry.resolve(fqn).get
    assert(Paths.get(refGran.path.get).getParent.getParent ==
      Paths.get(v3).getParent.getParent)
    // session-level: a WHOLE-TABLE COW rewrite (no predicate → every
    // file affected) leaves the old table dir behind; EXPIRE SNAPSHOTS
    // reclaims it and resets time travel to now
    s.sql("UPDATE evo_exp SET nm = lower(nm)")
    val refCow = s.registry.resolve(fqn).get
    val oldDir = Paths.get(refGran.path.get).getParent.getParent
    val cowDir = Paths.get(refCow.path.get).getParent.getParent
    assert(oldDir != cowDir && Files.isDirectory(oldDir))
    s.sql("ALTER TABLE evo_exp EXPIRE SNAPSHOTS")
    assert(!Files.exists(oldDir), "expired COW source dir must be reclaimed")
    val rows = s.sql("SELECT k, nm FROM evo_exp ORDER BY k").collect()
    assert(rows.length == 15)
    assert(rows.forall(r => r.getString(1) == r.getString(1).toLowerCase))
    s.sql("DROP TABLE evo_exp")
  }

  test("declared schema rides partitioned tables: NULL/value split per partition") {
    val s = new GraftSession(spark)
    s.attachLake("/root/testdata/sf0.001")
    s.sql("""CREATE OR REPLACE ICEBERG TABLE evo_part PARTITION BY (r) AS
             SELECT n_nationkey AS k, n_regionkey AS r FROM nation""")
    s.sql("ALTER TABLE evo_part ADD COLUMN tag VARCHAR")
    s.sql("""INSERT INTO evo_part
             SELECT n_nationkey + 100, n_regionkey, 'new'
             FROM nation WHERE n_regionkey = 2""")
    // the partition-pruned read mixes a pre-evolution file (NULL tag) and
    // a post-evolution file ('new') under one declared schema
    val rows = s.sql("SELECT k, tag AS tag FROM evo_part WHERE r = 2 ORDER BY k")
      .collect()
    val (old, fresh) = rows.partition(_.getAs[Number](0).intValue < 100)
    assert(old.nonEmpty && old.forall(_.isNullAt(1)))
    assert(fresh.nonEmpty && fresh.forall(_.getString(1) == "new"))
    assert(old.length == fresh.length)
    s.sql("DROP TABLE evo_part")
  }

  test("compact: small files merge to one per partition, old snapshot travels") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_cmp").toString
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    // three commits → at least three data files
    val m1 = IcebergLite.write(spark, nation, root)
    val m2 = IcebergLite.append(spark,
      nation.withColumn("n_nationkey", col("n_nationkey") + 100), m1)
    val m3 = IcebergLite.append(spark,
      nation.withColumn("n_nationkey", col("n_nationkey") + 200), m2)
    val before = IcebergLite.dataFiles(spark, m3)
    assert(before.length >= 3)
    val want = IcebergLite.scan(spark, m3).collect().toSeq

    val m4 = IcebergLite.compact(spark, m3)
    assert(m4 != m3)
    // unpartitioned small files bin-pack to ONE file; content identical
    val after = IcebergLite.dataFiles(spark, m4)
    assert(after.length == 1, s"expected 1 compacted file, got $after")
    val got = IcebergLite.scan(spark, m4).collect().toSeq
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap)
    // the pre-compaction snapshot still reads (time travel)
    assert(IcebergLite.scan(spark, m3).count() == 75)
    // nothing left to do → same metadata back
    assert(IcebergLite.compact(spark, m4) == m4)
  }

  test("compact: partitioned table compacts per partition value, pruning intact") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_cmp_p").toString
    val nation = graft.Tables.load(spark, "/root/testdata/sf0.001", "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val m1 = IcebergLite.write(spark, nation, root,
      partitionBy = Seq("n_regionkey"))
    val m2 = IcebergLite.append(spark,
      nation.withColumn("n_nationkey", col("n_nationkey") + 100), m1)
    val before = IcebergLite.dataFiles(spark, m2)
    assert(before.length >= 10) // ≥2 files in each of the 5 regions
    val want = IcebergLite.scan(spark, m2).count()

    val m3 = IcebergLite.compact(spark, m2)
    val after = IcebergLite.dataFiles(spark, m3)
    assert(after.length == 5, s"expected 1 file per region, got $after")
    assert(IcebergLite.scan(spark, m3).count() == want)
    // partition spec survives: the pruned scan reads 1 file, right rows
    val pruned = IcebergLite.scan(spark, m3, Some(_ == zi(2)))
    assert(pruned.inputFiles.length == 1 && pruned.count() == 10)
    // only the small-file groups were rewritten, as one spark pass — a
    // fourth commit with a BIG threshold shows partial compaction too:
    // one partition grows a new file, compact leaves the other four alone
    val m4 = IcebergLite.append(spark,
      nation.filter(col("n_regionkey") === 2)
        .withColumn("n_nationkey", col("n_nationkey") + 300), m3)
    val m5 = IcebergLite.compact(spark, m4)
    val files5 = IcebergLite.dataFiles(spark, m5)
    assert(files5.length == 5)
    val untouched = after.filterNot(_.contains("__part_zi__n_regionkey=" + zi(2)))
    assert(untouched.forall(files5.contains), "untouched partitions must carry forward")
  }

  test("column bounds: selective non-partition predicates skip files at plan time") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_bounds").toString
    // 4 files with disjoint k ranges (range partitioning at write) —
    // long, double, and string columns all carry footer bounds
    val base = spark.range(0, 4000).select(
      col("id").as("k"),
      (col("id") % 97).cast("double").as("d"),
      concat(lit("s"), lpad(col("id").cast("string"), 6, "0")).as("s"))
    val meta = IcebergLite.write(spark,
      base.repartitionByRange(4, col("k")), root)
    val scan = IcebergLite.scan(spark, meta)
    val all = scan.inputFiles.length
    assert(all == 4, s"expected 4 data files, got $all")

    // point lookup on the long column: one file
    val q1 = scan.filter(col("k") === 1234L)
    assert(q1.count() == 1)
    assert(scannedFiles(q1).length == 1, scannedFiles(q1).toString)
    // range on the long column: only upper files
    val q2 = scan.filter(col("k") >= 3100L)
    assert(q2.count() == 900)
    assert(scannedFiles(q2).length == 1, scannedFiles(q2).toString)
    // string bounds prune too (files are range-split on k, and s embeds k)
    val q3 = scan.filter(col("s") === "s001234")
    assert(q3.count() == 1)
    assert(scannedFiles(q3).length == 1, scannedFiles(q3).toString)
    // IN-list across two files
    val q4 = scan.filter(col("k").isin(100L, 3900L))
    assert(q4.count() == 2)
    assert(scannedFiles(q4).length == 2, scannedFiles(q4).toString)
    // a predicate the bounds can't decide keeps every file (never wrong)
    val q5 = scan.filter(col("d") < 1000.0)
    assert(q5.count() == 4000 && scannedFiles(q5).length == all)

    // appended files record their own bounds; carried files keep theirs
    val meta2 = IcebergLite.append(spark,
      spark.range(4000, 5000).select(col("id").as("k"),
        (col("id") % 97).cast("double").as("d"),
        concat(lit("s"), lpad(col("id").cast("string"), 6, "0")).as("s")),
      meta)
    val scan2 = IcebergLite.scan(spark, meta2)
    val q6 = scan2.filter(col("k") === 4500L)
    assert(q6.count() == 1)
    assert(scannedFiles(q6).length == 1, scannedFiles(q6).toString)
  }

  test("column bounds: int-backed decimal predicates prune files") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_decb").toString
    val base = spark.range(0, 4000).select(
      col("id").as("k"),
      (col("id").cast("decimal(12,2)") / 4).cast("decimal(12,2)").as("p"))
    val meta = IcebergLite.write(spark,
      base.repartitionByRange(4, col("k")), root)
    val scan = IcebergLite.scan(spark, meta)
    // p tracks k/4, so range-split files have disjoint p ranges too
    val q = scan.filter(col("p") > org.apache.spark.sql.functions
      .lit(BigDecimal("900.00")).cast("decimal(12,2)"))
    assert(q.count() == base.filter(col("p") > 900).count())
    assert(scannedFiles(q).length == 1, scannedFiles(q).toString)
    // scale-mismatched literal (cast widens) never wrong-prunes
    val q2 = scan.filter(col("p").cast("decimal(20,4)") === 250.0000)
    assert(q2.count() == base.filter(col("p") === 250).count())
  }

  test("column bounds prune WITHIN partitions (composes with the mirror)") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_pbounds").toString
    // 3 partitions (g), files range-split on k within each partition —
    // k ranges per file are disjoint because the write sorts by k
    val base = spark.range(0, 3000).select(
      (col("id") % 3).cast("int").as("g"), col("id").as("k"))
      .repartitionByRange(6, col("k")).sortWithinPartitions("k")
    val meta = IcebergLite.write(spark, base, root, partitionBy = Seq("g"))
    val scan = IcebergLite.scan(spark, meta)
    val all = scan.inputFiles.length
    assert(all >= 6, s"expected multiple files, got $all")
    // non-partition predicate: bounds skip files inside every partition
    val q = scan.filter(col("k") === 1500L)
    assert(q.count() == 1)
    assert(scannedFiles(q).length < all, scannedFiles(q).toString)
    // combined: partition mirror prunes to one g-dir, bounds prune inside
    val q2 = scan.filter(col("g") === 1 && col("k") >= 2500L)
    assert(q2.count() == base.filter(col("g") === 1 && col("k") >= 2500L).count())
    val sf2 = scannedFiles(q2)
    assert(sf2.nonEmpty && sf2.length < all, sf2.toString)
    // equivalence against the unpruned scan, which reads every file
    val want = unpruned {
      val u = scan.filter(col("k") === 1500L)
      assert(scannedFiles(u).length == all, scannedFiles(u).toString)
      u.collect().map(_.toString).sorted
    }
    assert(q.collect().map(_.toString).sorted.sameElements(want))
  }

  test("column bounds fuzz: pruned results equal the unpruned scan") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ice_bfuzz").toString
    val rnd = new scala.util.Random(0xB0 )
    val base = spark.range(0, 3000).select(
      col("id").as("k"), (col("id") % 53).cast("double").as("d"),
      concat(lit("p"), (col("id") % 11).cast("string")).as("s"))
    val meta = IcebergLite.write(spark,
      base.repartitionByRange(5, col("k")), root)
    val scan = IcebergLite.scan(spark, meta)
    for (_ <- 1 to 25) {
      val lo = rnd.nextInt(3000); val hi = lo + rnd.nextInt(800)
      val pred = rnd.nextInt(4) match {
        case 0 => col("k") === lo.toLong
        case 1 => col("k") >= lo.toLong && col("k") < hi.toLong
        case 2 => col("s") === s"p${rnd.nextInt(13)}"
        case 3 => col("d") > (rnd.nextDouble() * 60) && col("k") <= hi.toLong
      }
      val got = scan.filter(pred).agg(count(lit(1)), sum(col("k"))).collect()(0)
      val want = unpruned(scan.filter(pred)
        .agg(count(lit(1)), sum(col("k"))).collect()(0))
      assert(got == want, s"pred=$pred got=$got want=$want")
    }
  }
}
