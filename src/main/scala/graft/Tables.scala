package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated testdata lake (TESTDATA.md).
  *
  * All tables are plain parquet, one file per table. The `events` table's
  * `ts` column has shipped in two physical encodings across driver rounds:
  * INT64 TIMESTAMP(NANOS) (which Spark only reads under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, surfacing as LONG) and
  * plain TIMESTAMP(MICROS). [[normalizeEventsTs]] maps either to a
  * microsecond TIMESTAMP_NTZ so query code always sees one type. The
  * nanos floor-division matches DuckDB's TIMESTAMP_NS → TIMESTAMP cast,
  * which the oracle relies on.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize an events frame's `ts` to microsecond TIMESTAMP_NTZ,
    * whatever the parquet physical type was. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType => // INT64 nanos read under nanosAsLong=true
        df.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampNTZType => df
      case _ => // TIMESTAMP_LTZ: sessions run UTC, so the instant is the value
        df.withColumn("ts", col("ts").cast(TimestampNTZType))
    }

  /** path → (content signature, inferred schema). `spark.read.parquet`
    * without a declared schema runs one footer-reading Spark job per
    * CALL; the pack loads the same immutable testdata files hundreds of
    * times (every gate, warm and timed pass), paying a cluster
    * round-trip each time for a schema that cannot change. One
    * inference per path per JVM — guarded by a size/mtime signature
    * (parity with TableRegistry's memo) so re-generated testdata inside
    * a live JVM re-infers instead of going stale. */
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Long, org.apache.spark.sql.types.StructType)]

  /** Driver-side content signature of a parquet path (single file or a
    * directory of part files): names, sizes, mtimes. */
  private[graft] def pathSig(path: String): Long = {
    var h = 1125899906842597L
    def mix(v: Long): Unit = h = h * 31 + v
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids != null) kids.sortBy(_.getName).foreach { k =>
          mix(k.getName.hashCode.toLong); walk(k)
        }
      } else { mix(f.getName.hashCode.toLong); mix(f.length()); mix(f.lastModified()) }
    walk(new java.io.File(path))
    h
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sig = pathSig(path)
    val schema = schemaMemo.get(path) match {
      case Some((s, sc)) if s == sig => sc
      case _ =>
        val sc = spark.read.parquet(path).schema
        schemaMemo.put(path, (sig, sc))
        sc
    }
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeEventsTs(df) else df
  }
}
