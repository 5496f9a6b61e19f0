package org.apache.spark.sql

import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame}
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.util.ArrowUtils

/** Bridge to Spark's `private[sql]` Arrow machinery.
  *
  * Sink direction: serialize a DataFrame result to complete Arrow IPC
  * streams (schema message + record batches + end-of-stream), the payload
  * format the reference puts on the wire as `rowsetBase64`
  * (`universql/protocol/snowflake.py:223-243`).
  *
  * Source direction: parse an Arrow IPC stream into a DataFrame — the
  * reference materializes remote `to_query` results and Polaris scans
  * from Arrow (`universql/catalog/iceberg.py:52`, `README.md:245`).
  */
object GraftArrow {

  /** Sink: the result as a sequence of STANDALONE Arrow IPC
    * streams of at most `maxRowsPerChunk` rows each (Snowflake's large
    * results ship the same way — an inline first chunk plus addressable
    * chunks a client decodes independently). Rows are pulled with
    * `executeToIterator` — one partition materialized at a time — so the
    * caller never holds the whole result; each element of the returned
    * iterator is `(rowCount, streamBytes)` and should be consumed (e.g.
    * spilled to disk) before the next is drawn. An empty result yields
    * exactly one empty stream (schema + end-of-stream). */
  def toArrowIpcStreamChunks(df: Dataset[Row],
      fieldMetadata: Map[String, Map[String, String]],
      maxRowsPerChunk: Int): Iterator[(Long, Array[Byte])] = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val rows = classic.queryExecution.executedPlan.executeToIterator()
    if (!rows.hasNext)
      return Iterator((0L, encodeStream(Iterator.empty, classic, fieldMetadata)))
    rows.grouped(maxRowsPerChunk).map { group =>
      (group.length.toLong,
        encodeStream(group.iterator, classic, fieldMetadata))
    }
  }

  private def encodeStream(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      classic: ClassicDataFrame,
      fieldMetadata: Map[String, Map[String, String]]): Array[Byte] = {
    val spark = classic.sparkSession
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val schema = classic.schema
    val batches = ArrowConverters.toBatchIterator(
      rows, schema, maxRecordsPerBatch = 10000, timeZoneId = tz,
      errorOnDuplicatedFieldNames = false, largeVarTypes = false,
      context = null)

    val out = new java.io.ByteArrayOutputStream()
    val ch = new org.apache.arrow.vector.ipc.WriteChannel(
      java.nio.channels.Channels.newChannel(out))
    val arrowSchema0 = ArrowUtils.toArrowSchema(schema, tz,
      errorOnDuplicatedFieldNames = false, largeVarTypes = false)
    // Record batches carry no field names/metadata, so decorating the
    // schema message alone attaches Snowflake column metadata to the
    // stream (the reference sets pa.field(..., metadata=...) the same way,
    // universql/protocol/utils.py:98-103,173-220)
    val arrowSchema =
      if (fieldMetadata.isEmpty) arrowSchema0
      else withFieldMetadata(arrowSchema0, fieldMetadata)
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(ch, arrowSchema)
    // toBatchIterator emits MessageSerializer-framed record-batch bytes —
    // already in IPC stream message format, so they concatenate directly
    batches.foreach(bytes => ch.write(bytes))
    // end-of-stream marker: continuation 0xFFFFFFFF + zero length
    ch.writeIntLittleEndian(-1)
    ch.writeIntLittleEndian(0)
    out.toByteArray
  }

  /** Rebuild an Arrow schema with per-field custom metadata; struct fields
    * tagged as wire timestamps (`scale=9` + `physicalType=SB16`) propagate
    * the metadata to their epoch/fraction children like the reference. */
  private def withFieldMetadata(
      schema: org.apache.arrow.vector.types.pojo.Schema,
      fieldMetadata: Map[String, Map[String, String]])
      : org.apache.arrow.vector.types.pojo.Schema = {
    import org.apache.arrow.vector.types.pojo.{Field, FieldType, Schema}
    import scala.jdk.CollectionConverters._
    def decorate(f: Field, meta: Map[String, String], deep: Boolean): Field = {
      val ft = new FieldType(f.isNullable, f.getType, f.getDictionary,
        meta.asJava)
      val children =
        if (deep) f.getChildren.asScala.map(c => decorate(c, meta, deep = false))
        else f.getChildren.asScala
      new Field(f.getName, ft, children.toList.asJava)
    }
    new Schema(schema.getFields.asScala.map { f =>
      fieldMetadata.get(f.getName) match {
        case Some(meta) =>
          val isTsStruct = meta.get("scale").contains("9") &&
            meta.get("physicalType").contains("SB16")
          decorate(f, meta, deep = isTsStruct)
        case None => f
      }
    }.toList.asJava)
  }

  def fromArrowIpcStream(spark: SparkSession, bytes: Array[Byte]): Dataset[Row] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val (iter, schema) = ArrowConverters.fromIPCStream(bytes)
    try {
      // the iterator reuses row buffers; copy before materializing
      val rows = iter.map(_.copy()).toIndexedSeq
      classic.internalCreateDataFrame(
        classic.sparkContext.parallelize(rows, 1), schema)
    } finally iter.close()
  }
}
