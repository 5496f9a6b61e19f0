package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, struct, to_json, unix_micros}
import org.apache.spark.sql.types._

/** Spark schema → Snowflake wire-schema decoration (A23).
  *
  * The reference re-types every DuckDB Arrow result to Snowflake's wire
  * schema with per-column metadata (`logicalType`, precision, scale, …)
  * (`universql/protocol/utils.py:137-249`, surfaced as `rowtype` at
  * `universql/protocol/snowflake.py:158-179`). This is the Spark-side
  * equivalent: a `rowtype` description per column plus a wire-normalizing
  * projection (complex types → JSON text, matching
  * `universql/protocol/utils.py:231-240` where lists go out as JSON).
  */
object SnowflakeTypes {

  final case class ColumnMeta(
      name: String,
      logicalType: String,
      precision: Option[Int],
      scale: Option[Int],
      nullable: Boolean)

  def logicalType(dt: DataType): (String, Option[Int], Option[Int]) = dt match {
    case ByteType | ShortType | IntegerType | LongType => ("FIXED", Some(38), Some(0))
    case d: DecimalType       => ("FIXED", Some(d.precision), Some(d.scale))
    case FloatType | DoubleType => ("REAL", None, None)
    case StringType            => ("TEXT", None, None)
    case BinaryType            => ("BINARY", None, None)
    case BooleanType           => ("BOOLEAN", None, None)
    case DateType              => ("DATE", None, None)
    case TimestampNTZType      => ("TIMESTAMP_NTZ", None, None)
    case TimestampType         => ("TIMESTAMP_LTZ", None, None)
    case _: ArrayType          => ("ARRAY", None, None)
    case _: StructType | _: MapType => ("OBJECT", None, None)
    case other                 => ("TEXT", None, None)
  }

  def rowType(df: DataFrame): Seq[ColumnMeta] =
    df.schema.fields.toIndexedSeq.map { f =>
      val (lt, p, s) = logicalType(f.dataType)
      ColumnMeta(f.name, lt, p, s, f.nullable)
    }

  /** Wire payload: Snowflake's `rowsetBase64` — base64 Arrow IPC streams
    * of the (wire-normalized) result, plus rowtype metadata (parity with
    * `universql/protocol/snowflake.py:223-243`). Timestamps go out as
    * Snowflake's `{epoch, fraction}` structs and every Arrow field carries
    * Snowflake column metadata, matching `universql/protocol/utils.py:137-249`;
    * rowtype reflects the ORIGINAL logical schema (a struct-encoded
    * timestamp is still TIMESTAMP_*). Results ship the way Snowflake
    * ships large ones, as an inline first chunk + addressable chunk
    * downloads: the first chunk comes back base64-inline, the rest spill
    * to temp files ONE AT A TIME as they stream off `executeToIterator` —
    * the server never holds more than one chunk of a large result in
    * memory. Each rest entry is `(rowCount, file)`. */
  def toRowsetChunked(df: DataFrame, maxRowsPerChunk: Int,
      spillDir: Option[java.nio.file.Path] = None)
      : (String, Seq[ColumnMeta], Seq[(Long, java.nio.file.Path)]) = {
    val wire = toSnowflakeWire(df)
    val meta = df.schema.fields.map(f => f.name -> wireFieldMetadata(f)).toMap
    val it = org.apache.spark.sql.GraftArrow.toArrowIpcStreamChunks(
      wire, meta, maxRowsPerChunk)
    // if the drain dies mid-way (query aborted, executor failure) the
    // exception leaves before the caller ever sees the chunk list, so
    // already-spilled files would be orphaned for the process lifetime
    // (ADVICE r14 #5) — delete them on the way out
    val spilled = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.nio.file.Path)]
    try {
      val first = it.next()._2
      it.foreach { case (n, bytes) =>
        val p = spillDir match {
          case Some(dir) => java.nio.file.Files
            .createTempFile(dir, "graft_wire_chunk", ".arrow")
          case None => java.nio.file.Files
            .createTempFile("graft_wire_chunk", ".arrow")
        }
        java.nio.file.Files.write(p, bytes)
        spilled += ((n, p))
      }
      (java.util.Base64.getEncoder.encodeToString(first), rowType(df),
        spilled.toList)
    } catch {
      case t: Throwable =>
        spilled.foreach(c => java.nio.file.Files.deleteIfExists(c._2))
        throw t
    }
  }

  /** Normalize a result for the wire: ARRAY/STRUCT/MAP columns become JSON
    * text (the reference serializes semi-structured results as JSON
    * strings tagged ARRAY/OBJECT). */
  def toWire(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: StructType | _: MapType =>
          to_json(col(s"`${f.name}`")).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** [[toWire]] plus Snowflake's wire timestamp encoding: each timestamp
    * column becomes a struct `{epoch: int64 seconds, fraction: int32
    * nanos-within-second}` (`universql/protocol/utils.py:173-220`; the
    * reference nulls the fraction — TODO in its source — while this
    * encoder emits the real sub-second part, which real Snowflake clients
    * reassemble as epoch + fraction). Floor semantics via pmod keep
    * pre-1970 instants correct: fraction is always in [0, 1e9). */
  def toSnowflakeWire(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: StructType | _: MapType =>
          to_json(col(s"`${f.name}`")).as(f.name)
        case TimestampType | TimestampNTZType =>
          // session TZ is UTC, so NTZ wallclock == UTC instant
          val micros = unix_micros(col(s"`${f.name}`").cast(TimestampType))
          val subMicros = pmod(micros, lit(1000000L))
          struct(
            ((micros - subMicros) / lit(1000000L)).cast(LongType).as("epoch"),
            (subMicros * lit(1000L)).cast(IntegerType).as("fraction"))
            .as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Per-column Arrow field metadata, mirroring the reference's maps in
    * `universql/protocol/utils.py:138-249` (logicalType / precision /
    * scale / physicalType / charLength / byteLength / final_type). */
  def wireFieldMetadata(f: StructField): Map[String, String] = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Map("logicalType" -> "FIXED", "precision" -> "38", "scale" -> "0",
        "physicalType" -> "SB8", "final_type" -> "T")
    case d: DecimalType =>
      Map("logicalType" -> "FIXED", "precision" -> d.precision.toString,
        "scale" -> d.scale.toString, "physicalType" -> "SB16",
        "final_type" -> "T")
    case FloatType | DoubleType => Map("logicalType" -> "REAL")
    case StringType =>
      Map("logicalType" -> "TEXT",
        "charLength" -> "16777216", "byteLength" -> "16777216")
    case BinaryType => Map("logicalType" -> "BINARY", "byteLength" -> "8388608")
    case BooleanType => Map("logicalType" -> "BOOLEAN")
    case DateType => Map("logicalType" -> "DATE")
    case TimestampNTZType =>
      Map("logicalType" -> "TIMESTAMP_NTZ", "precision" -> "0",
        "scale" -> "9", "physicalType" -> "SB16")
    case TimestampType =>
      Map("logicalType" -> "TIMESTAMP_LTZ", "precision" -> "0",
        "scale" -> "9", "physicalType" -> "SB16", "final_type" -> "T")
    case _: ArrayType =>
      Map("logicalType" -> "ARRAY", "charLength" -> "16777216",
        "byteLength" -> "16777216", "scale" -> "0", "precision" -> "38",
        "finalType" -> "T")
    case _: StructType | _: MapType =>
      Map("logicalType" -> "OBJECT", "charLength" -> "16777216",
        "byteLength" -> "16777216", "scale" -> "0", "precision" -> "38",
        "finalType" -> "T")
    case _ => Map("logicalType" -> "TEXT")
  }
}
