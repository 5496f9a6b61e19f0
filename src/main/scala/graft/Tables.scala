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

  /** `spark.read.parquet` without a declared schema runs one
    * footer-reading Spark job per call, and the pack loads the same
    * files hundreds of times (every gate, warm and timed pass): the
    * schema comes from the storage seam's memo, re-inferred only when
    * the files change. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.engine.LakeFs.readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }
}
