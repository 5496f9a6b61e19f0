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
      nullable: Boolean,
      /** rowtype `length`/`byteLength`; None renders JSON null */
      length: Option[Int] = None)

  /** Snowflake's description of one Spark type: the rowtype fields, and
    * the Arrow field metadata after `logicalType` in wire order. */
  final case class SfType(logicalType: String,
      precision: Option[Int] = None, scale: Option[Int] = None,
      length: Option[Int] = None, arrow: Seq[(String, String)] = Nil) {
    /** Arrow field metadata, mirroring the reference's maps in
      * `universql/protocol/utils.py:138-249` (logicalType / precision /
      * scale / physicalType / charLength / byteLength / final_type). */
    def arrowMetadata: Map[String, String] =
      Map((("logicalType" -> logicalType) +: arrow): _*)
  }

  private val MaxText = 16777216
  private val MaxBinary = 8388608
  private def fixed(p: Int, s: Int, physical: String) =
    SfType("FIXED", Some(p), Some(s), arrow = Seq("precision" -> p.toString,
      "scale" -> s.toString, "physicalType" -> physical, "final_type" -> "T"))
  private val timestampArrow =
    Seq("precision" -> "0", "scale" -> "9", "physicalType" -> "SB16")
  private def semiStructured(lt: String) = SfType(lt, length = Some(MaxText),
    arrow = Seq("charLength" -> MaxText.toString, "byteLength" -> MaxText.toString,
      "scale" -> "0", "precision" -> "38", "finalType" -> "T"))

  /** The one Spark type → Snowflake column mapping; the JSON `rowtype`,
    * DESCRIBE, information_schema and the Arrow field metadata all
    * render from it. */
  def sfType(dt: DataType): SfType = dt match {
    case ByteType | ShortType | IntegerType | LongType => fixed(38, 0, "SB8")
    case d: DecimalType => fixed(d.precision, d.scale, "SB16")
    case FloatType | DoubleType => SfType("REAL")
    case StringType => SfType("TEXT", length = Some(MaxText), arrow = Seq(
      "charLength" -> MaxText.toString, "byteLength" -> MaxText.toString))
    case BinaryType => SfType("BINARY", length = Some(MaxBinary),
      arrow = Seq("byteLength" -> MaxBinary.toString))
    case BooleanType => SfType("BOOLEAN")
    case DateType => SfType("DATE")
    case TimestampNTZType => SfType("TIMESTAMP_NTZ", arrow = timestampArrow)
    case TimestampType => SfType("TIMESTAMP_LTZ",
      arrow = timestampArrow :+ ("final_type" -> "T"))
    case _: ArrayType => semiStructured("ARRAY")
    case _: StructType | _: MapType => semiStructured("OBJECT")
    case _ => SfType("TEXT", length = Some(MaxText))
  }

  def rowType(df: DataFrame): Seq[ColumnMeta] =
    df.schema.fields.toIndexedSeq.map { f =>
      val t = sfType(f.dataType)
      ColumnMeta(f.name, t.logicalType, t.precision, t.scale, f.nullable,
        t.length)
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
    val meta = df.schema.fields.map(f =>
      f.name -> sfType(f.dataType).arrowMetadata).toMap
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
}
