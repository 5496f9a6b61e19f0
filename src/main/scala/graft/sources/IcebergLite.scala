package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.engine.LakeFs
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

/** Metadata-file-addressed Iceberg table scan (SURVEY §2.A A6 / §2.B
  * scans row 1) — the reference's primary table access path
  * (`iceberg_scan('…metadata.json')`, `universql/warehouse/duckdb.py:448-451`,
  * views created at `:223-225`).
  *
  * No Iceberg runtime jar ships in this environment, so this is a
  * spec-compliant reader for the read path we need, built on the public
  * Iceberg table-spec layout (https://iceberg.apache.org/spec/):
  *
  *   metadata.json (current-snapshot-id → snapshots[].manifest-list)
  *     → manifest list            (Avro; `manifest_path` per manifest)
  *       → manifest files         (Avro; `status` + `data_file.file_path`)
  *         → parquet data files   (read by Spark's native parquet source)
  *
  * Driver-side work is metadata-only (a few KB of Avro/JSON, as in real
  * Iceberg clients); data files are read distributed by Spark's parquet
  * scan, so predicate pushdown/column pruning still apply.
  *
  * v2 row-level deletes are applied during scan:
  *   - POSITION deletes (content=1): parquet delete files of
  *     `(file_path, pos)` rows, applied as a distributed anti-join
  *     against `_metadata.file_path` / `_metadata.row_index` — Spark's
  *     native per-row file/position columns, so no per-row UDF work.
  *   - EQUALITY deletes (content=2): delete-file rows anti-joined
  *     null-safely on the delete file's columns, applied only to data
  *     files with a strictly smaller data sequence number (the v2 rule;
  *     data entries are grouped by sequence number, each group gets the
  *     deletes that postdate it, groups union back).
  */
object IcebergLite {

  private val mapper = new ObjectMapper()

  /** Data-file entry status in manifests: 0=EXISTING 1=ADDED 2=DELETED. */
  private val StatusDeleted = 2

  /** `bounds`: compact JSON of per-column min/max recorded at write from
    * the parquet footers (the spec's lower_bounds/upper_bounds idea) —
    * `{"col":["<domain>","<lo>","<hi>"],…}`, domains "long" (ints,
    * dates as epoch-day, timestamps as micros), "double", "string".
    * None on manifests written before bounds existed — never prunes. */
  private final case class DataEntry(path: String, seq: Long,
      partition: Option[String] = None, bounds: Option[String] = None,
      records: Option[Long] = None)
  /** content: 1 = position deletes, 2 = equality deletes. */
  private final case class DeleteEntry(path: String, content: Int, seq: Long)

  /** A partition-spec entry: identity (`"col"`) or an Iceberg temporal
    * transform (`"day(col)"`, also year/month/hour) — hidden partitioning:
    * the user queries `col`, files are laid out by the transform value. */
  private[graft] final case class PartField(transform: String, column: String) {
    def spec: String =
      if (transform == "identity") column else s"$transform($column)"
    /** Shadow column name; the double underscore separates transform from
      * source so [[graft.plans.PartitionFilterMirror]] can parse it back.
      * (Integral identity columns get `__part_zi__<col>` instead — the
      * zero-padded range-prunable encoding — decided at commit time where
      * the schema is known; see `shadowNameOf` in `commit`.) */
    def shadowName: String =
      if (transform == "identity") s"__part_$column"
      else s"__part_${transform}__$column"
  }
  private val transformRe = "(?i)^(year|month|day|hour)\\s*\\(\\s*([^)]+?)\\s*\\)$".r
  private[graft] def parsePartField(s: String): PartField = s.trim match {
    case transformRe(tf, c) => PartField(tf.toLowerCase, c)
    case c => PartField("identity", c)
  }

  /** Partition-spec entries of a table in spec order (`"col"`,
    * `"day(col)"`, …); empty when unpartitioned. */
  def partitionColumns(metadataPath: String): Seq[String] = {
    val meta = readMeta(metadataPath)
    val specs = meta.path("partition-specs")
    if (specs.isMissingNode || !specs.elements().hasNext) Nil
    else specs.elements().asScala.toSeq.headOption.toSeq
      .flatMap(_.path("fields").elements().asScala.toSeq)
      .map { f =>
        val tf = f.path("transform").asText("identity")
        val name = f.path("name").asText()
        if (tf == "identity" || tf.isEmpty) name else s"$tf($name)"
      }
      .filter(_.nonEmpty)
  }

  // ── schema evolution (metadata-only, the Iceberg design point) ────────
  //
  // The table's current schema is recorded in every metadata.json twice:
  //  - "schemas"/"current-schema-id": the Iceberg-spec field list
  //    (best-effort type mapping, for spec-shaped interop), and
  //  - "properties"."graft.spark-schema-ddl": the exact Spark StructType
  //    DDL (lossless for every Spark type, what [[scan]] actually reads).
  // ADD COLUMN then writes ONLY a new metadata.json version pointing at
  // the same snapshots/manifests/data files — O(metadata), not O(data),
  // which is what makes evolution usable on a 100 TB table. Reads apply
  // the declared schema to the parquet scan, so pre-evolution files
  // surface NULL for the new column with no mergeSchema footer sweep
  // (the reference inherits the same from pyiceberg's schema projection).

  private val SchemaDdlProp = "graft.spark-schema-ddl"

  /** The declared (evolved) schema of a table, when its metadata records
    * one; tables written before schema recording return None and scan by
    * file-schema inference as before. */
  def declaredSchema(metadataPath: String): Option[StructType] = {
    val meta = readMeta(metadataPath)
    val ddl = meta.path("properties").path(SchemaDdlProp).asText("")
    if (ddl.isEmpty) None else Some(StructType.fromDDL(ddl))
  }

  /** Spark → Iceberg spec type string; None for types the spec's
    * primitive set can't carry (the DDL property stays exact anyway). */
  private def iceTypeName(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => Some("boolean")
      case ByteType | ShortType | IntegerType => Some("int")
      case LongType => Some("long")
      case FloatType => Some("float")
      case DoubleType => Some("double")
      case StringType => Some("string")
      case BinaryType => Some("binary")
      case DateType => Some("date")
      case TimestampNTZType => Some("timestamp")
      case TimestampType => Some("timestamptz")
      case d: DecimalType => Some(s"decimal(${d.precision}, ${d.scale})")
      case _ => None
    }
  }

  private val TombstoneProp = "graft.dropped-columns"
  private val PhysicalProp = "graft.physical-names"

  /** PHYSICAL column names dropped from the schema whose data still
    * lives in files on disk. A later ADD COLUMN of the same logical name
    * simply binds a FRESH physical name (see [[physicalNames]]), so the
    * old values can never resurrect — the name-based equivalent of
    * Iceberg's monotonically increasing field ids. */
  def tombstones(metadataPath: String): Set[String] = {
    val meta = readMeta(metadataPath)
    meta.path("properties").path(TombstoneProp).asText("")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
  }

  /** logical → physical column-name map. Files always store PHYSICAL
    * names (assigned at first ADD and never reused after a DROP);
    * renames and re-adds only rebind logical names in metadata. The map
    * records only non-identity entries, so it is empty — and the whole
    * mechanism dormant — until a rename or a tombstone collision
    * happens. */
  def physicalNames(metadataPath: String): Map[String, String] = {
    val meta = readMeta(metadataPath)
    val node = meta.path("properties").path(PhysicalProp)
    if (!node.isObject) Map.empty
    else node.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def currentSchema(spark: SparkSession, mp: String): StructType =
    declaredSchema(mp).getOrElse {
      // pre-recording table: one footer read of one data file
      val probe = readFiles(spark,
        Seq(planFiles(spark, mp)._1.head.path), None)
      StructType(probe.schema.filterNot(_.name.startsWith("__part_")))
    }

  /** A physical name for a new logical column: the logical name itself
    * unless some file on disk may already hold data under it (current
    * physical set + tombstones), in which case a fresh `name__N`. */
  private def freshPhysical(name: String, schema: StructType,
      physMap: Map[String, String], tombs: Set[String]): String = {
    val used = schema.fields.map(f => physMap.getOrElse(f.name, f.name))
      .toSet ++ tombs
    if (!used.exists(_.equalsIgnoreCase(name))) name
    else Iterator.from(2).map(i => s"${name}__$i")
      .find(c => !used.exists(_.equalsIgnoreCase(c))).get
  }

  /** Append `colName` to the table's schema as a pure metadata commit:
    * a new vN+1.metadata.json with the evolved schema and the SAME
    * snapshot chain — zero data files touched. Returns the new metadata
    * path. Re-adding a previously dropped name is safe: the column binds
    * a fresh physical name, so old file data stays invisible. */
  def addColumn(spark: SparkSession, metadataPath: String, colName: String,
      dataType: org.apache.spark.sql.types.DataType): String = {
    val mp = stripScheme(metadataPath)
    val current = currentSchema(spark, mp)
    require(!current.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"column $colName already exists")
    val physMap = physicalNames(mp)
    val phys = freshPhysical(colName, current, physMap, tombstones(mp))
    val evolved = current.add(colName, dataType, nullable = true)
    val newMap =
      if (phys == colName) physMap else physMap + (colName -> phys)
    commitEvolution(mp, evolved, newMap, tombstones(mp))
  }

  /** Drop `colName` as a pure metadata commit: the declared schema loses
    * the field, scans stop projecting it (parquet column pruning skips
    * the bytes), and its PHYSICAL name is tombstoned against reuse. Data
    * files are untouched — O(metadata) where COW would be O(table). */
  def dropColumn(spark: SparkSession, metadataPath: String,
      colName: String): String = {
    val mp = stripScheme(metadataPath)
    require(!partitionColumns(mp).map(parsePartField).exists(
        _.column.equalsIgnoreCase(colName)),
      s"cannot drop partition column $colName")
    val current = currentSchema(spark, mp)
    val actual = current.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(
        s"column $colName does not exist"))
    require(current.length > 1, "cannot drop the only column")
    val physMap = physicalNames(mp)
    val evolved = StructType(current.filterNot(_.name == actual.name))
    commitEvolution(mp, evolved, physMap - actual.name,
      tombstones(mp) + physMap.getOrElse(actual.name, actual.name))
  }

  /** Rename `from` to `to` as a pure metadata commit: the logical name
    * rebinds, the physical name in the files never changes (so old AND
    * new data files keep reading, and equality-delete files keyed by the
    * physical name keep applying). Partition columns are refused — their
    * shadow-directory names are physical. */
  def renameColumn(spark: SparkSession, metadataPath: String,
      from: String, to: String): String = {
    val mp = stripScheme(metadataPath)
    require(!partitionColumns(mp).map(parsePartField).exists(
        _.column.equalsIgnoreCase(from)),
      s"cannot rename partition column $from")
    val current = currentSchema(spark, mp)
    val actual = current.fields.find(_.name.equalsIgnoreCase(from))
      .getOrElse(throw new IllegalArgumentException(
        s"column $from does not exist"))
    require(!current.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column $to already exists")
    val physMap = physicalNames(mp)
    val phys = physMap.getOrElse(actual.name, actual.name)
    val evolved = StructType(current.fields.map(f =>
      if (f.name == actual.name) f.copy(name = to) else f))
    val newMap = (physMap - actual.name) ++
      (if (phys == to) Map.empty else Map(to -> phys))
    commitEvolution(mp, evolved, newMap, tombstones(mp))
  }

  /** Write a new metadata version identical to `mp` except for the
    * declared schema, physical-name map, and tombstones. */
  private def commitEvolution(mp: String, schema: StructType,
      physMap: Map[String, String], tombs: Set[String]): String = {
    val version = "v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(mp)
      .map(_.group(1).toInt).getOrElse(1)
    val tree = readMeta(mp)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    writeSchemaInto(tree, schema, physMap, tombs)
    val newPath = sibling(mp, s"v${version + 1}.metadata.json")
    IcebergCommit.publishMetadata(newPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree))
    newPath
  }

  /** Expire all snapshots but the current one: a new metadata version
    * whose snapshot list is just the head, with the expired snapshots'
    * manifest and manifest-list directories deleted from disk. Data
    * files are NOT touched — under this writer's layout every live data
    * file is carried forward into the current manifest (status
    * EXISTING), so the current snapshot's reachable set is exactly the
    * live set. Time travel to an expired snapshot's metadata file fails
    * loudly afterwards (its manifests are gone), which is the Iceberg
    * contract for expiration. */
  def expireSnapshots(spark: SparkSession, metadataPath: String): String = {
    val mp = stripScheme(metadataPath)
    // expired snapshots' manifests are deleted below — drop every cached
    // plan of this table so a scan of an expired metadata version fails
    // loudly instead of serving the memoized plan ([[planCache]])
    val tableMetaDir = new Path(mp).getParent.toString
    planCache.keySet.removeIf(_._1.startsWith(tableMetaDir))
    val tree = readMeta(mp)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snapId = tree.path("current-snapshot-id").asLong(-1)
    require(snapId >= 0, s"no current-snapshot-id in $mp")
    val snaps = tree.path("snapshots").elements().asScala.toSeq
    val (keep, expire) = snaps.partition(
      _.path("snapshot-id").asLong() == snapId)
    require(keep.nonEmpty, s"snapshot $snapId not found in $mp")
    expire.foreach { s =>
      val listDir = stripScheme(s.path("manifest-list").asText())
      if (LakeFs.isDirectory(listDir)) {
        // manifests referenced by this expired list (may be shared with
        // the kept snapshot only via carry-forward REWRITES, which this
        // writer never does — each snapshot writes its own manifest dir)
        readAvroRecords(listDir)
          .foreach(r => LakeFs.delete(stripScheme(avroStr(r, "manifest_path").get)))
        LakeFs.delete(listDir)
      }
    }
    val newSnaps = tree.putArray("snapshots")
    keep.foreach(newSnaps.add)
    val version = "v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(mp)
      .map(_.group(1).toInt).getOrElse(1)
    val newPath = sibling(mp, s"v${version + 1}.metadata.json")
    IcebergCommit.publishMetadata(newPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree))
    newPath
  }

  /** Record `schema` in a metadata tree: the exact Spark DDL property +
    * the best-effort Iceberg-spec field list + the evolution state
    * (physical-name map and tombstones — every metadata version must
    * carry them or an append would silently discard them). */
  private def writeSchemaInto(
      tree: com.fasterxml.jackson.databind.node.ObjectNode,
      schema: StructType,
      physMap: Map[String, String] = Map.empty,
      tombs: Set[String] = Set.empty): Unit = {
    val props = tree.path("properties") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => tree.putObject("properties")
    }
    props.put(SchemaDdlProp, schema.toDDL)
    if (physMap.nonEmpty) {
      val m = props.putObject(PhysicalProp)
      physMap.toSeq.sortBy(_._1).foreach { case (l, p) => m.put(l, p) }
    } else props.remove(PhysicalProp)
    if (tombs.nonEmpty)
      props.put(TombstoneProp, tombs.toSeq.sorted.mkString(","))
    else props.remove(TombstoneProp)
    val specTypes = schema.fields.map(f => iceTypeName(f.dataType))
    if (specTypes.forall(_.isDefined)) {
      val schemas = tree.putArray("schemas")
      val s = schemas.addObject()
      s.put("type", "struct"); s.put("schema-id", 0)
      val fields = s.putArray("fields")
      schema.fields.zip(specTypes).zipWithIndex.foreach {
        case ((f, t), i) =>
          val fo = fields.addObject()
          fo.put("id", i + 1); fo.put("name", f.name)
          fo.put("required", !f.nullable); fo.put("type", t.get)
      }
      tree.put("current-schema-id", 0)
    } else {
      // a stale spec-schema list must not outlive the DDL that replaced it
      tree.remove("schemas"); tree.remove("current-schema-id")
    }
  }

  def scan(spark: SparkSession, metadataPath: String): DataFrame =
    scan(spark, metadataPath, None)

  /** Scan with metadata-level partition pruning: entries whose recorded
    * partition value fails `partitionFilter` never reach the parquet
    * reader — file skipping from manifest partition values, the mechanism
    * that makes a 100 TB Iceberg table queryable (the reference inherits
    * the same from `iceberg_scan`'s metadata). The filter sees the
    * partition value's string form (Iceberg's `partition` struct value,
    * stored here via the hive-style path segment). */
  def scan(spark: SparkSession, metadataPath: String,
      partitionFilter: Option[String => Boolean]): DataFrame =
    scanCore(spark, metadataPath, partitionFilter, None)

  /** [[scan]] restricted to a subset of the table's data files — identical
    * read semantics (declared schema, physical-name rebind, delete-file
    * application) over only `only`: the stream incremental append read
    * ([[graft.engine.Streams]]), O(added files) instead of O(table). */
  def scanSubset(spark: SparkSession, metadataPath: String,
      only: Set[String]): DataFrame =
    scanCore(spark, metadataPath, None, Some(only))

  private def scanCore(spark: SparkSession, metadataPath: String,
      partitionFilter: Option[String => Boolean],
      fileSubset: Option[Set[String]]): DataFrame = {
    import org.apache.spark.sql.functions._
    val (allData, deleteEntries) = planFiles(spark, metadataPath)
    val afterPart = partitionFilter match {
      case Some(f) => allData.filter(_.partition.forall(f))
      case None => allData
    }
    val dataEntries = fileSubset match {
      case Some(s) => afterPart.filter(e => s.contains(e.path))
      case None => afterPart
    }
    require(allData.nonEmpty,
      s"Iceberg table at $metadataPath has no data files")
    // schema evolution: when the metadata declares a schema, every file
    // group reads under it, so files written before an ADD COLUMN yield
    // NULL for the new column (and a group mixing old and new files
    // cannot silently drop it to the first file's footer). Files store
    // PHYSICAL names; the read happens physical and the final projection
    // rebinds to the logical names (identity unless a rename or a
    // tombstone collision ever happened on this table).
    val logical = declaredSchema(metadataPath)
    val physMap = physicalNames(metadataPath)
    val declared = logical.map(s => StructType(s.fields.map(f =>
      f.copy(name = physMap.getOrElse(f.name, f.name)))))
    // the shadow partition column is plumbing, not user schema; the drop
    // is a Project above the relation, so filters still push below it
    // (and the mirror rule rewrites them onto the shadow column there)
    def clean(df: DataFrame): DataFrame = {
      val noShadow =
        df.drop(df.columns.filter(_.startsWith("__part_")).toSeq: _*)
      if (physMap.isEmpty) noShadow
      else noShadow.select(logical.get.fields.map(f =>
        col(physMap.getOrElse(f.name, f.name)).as(f.name)).toIndexedSeq: _*)
    }
    if (dataEntries.isEmpty)
      // fully pruned: preserve the schema via an always-false filter on one file
      return clean(readFiles(spark, Seq(allData.head.path), declared))
        .filter(lit(false))
    if (deleteEntries.isEmpty)
      return clean(readFiles(spark, dataEntries.map(_.path), declared,
        meta = Some(metadataPath)))

    val posFiles = deleteEntries.filter(_.content == 1)
    val eqFiles = deleteEntries.filter(_.content == 2)
    def normPath(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^file:/+", "/")

    def readGroup(paths: Seq[String]): DataFrame = {
      val df = readFiles(spark, paths, declared, meta = Some(metadataPath))
      if (posFiles.isEmpty) df
      else {
        // pos deletes name explicit (file, row) targets → safe globally
        val withMeta = df.select(col("*"),
          col("_metadata.file_path").as("__ice_path"),
          col("_metadata.row_index").as("__ice_pos"))
        val pd = spark.read.parquet(posFiles.map(_.path): _*)
          .select(normPath(col("file_path")).as("__del_path"),
            col("pos").as("__del_pos"))
        withMeta.join(pd,
            normPath(col("__ice_path")) === col("__del_path") &&
              col("__ice_pos") === col("__del_pos"), "left_anti")
          .drop("__ice_path", "__ice_pos")
      }
    }

    val groups = dataEntries.groupBy(_.seq).toSeq.sortBy(_._1)
    val assembled = groups.map { case (seq, entries) =>
      var df = readGroup(entries.map(_.path))
      val applicable = eqFiles.filter(_.seq > seq)
      // one anti-join per distinct delete-column set (delete files carry
      // the equality columns by name)
      applicable.groupBy(e =>
          spark.read.parquet(e.path).columns.toSeq).foreach {
        case (cols, fs) =>
          val del = spark.read.parquet(fs.map(_.path): _*)
            .select(cols.map(c => col(c).as(s"__del_$c")): _*).distinct()
          val cond = cols.map(c => col(c) <=> col(s"__del_$c"))
            .reduce(_ && _)
          df = df.join(del, cond, "left_anti")
      }
      df
    }.reduce(_ unionByName _)
    clean(assembled)
  }

  /** Read a set of data files. Partitioned files (under a `__part_<col>=`
    * directory) are read with `basePath` so the shadow partition column
    * surfaces in the relation — that is what lets Spark's native partition
    * pruning skip files when [[graft.plans.PartitionFilterMirror]] mirrors
    * a query predicate onto it. The shadow column is typed STRING (type
    * inference disabled for the read) so the directory string round-trips
    * exactly; the REAL column still lives inside every data file, so the
    * user-visible schema is unchanged apart from the trailing shadow
    * column, which the session layer projects away. */
  private[graft] def readFiles(spark: SparkSession,
      paths: Seq[String], declared: Option[StructType] = None,
      meta: Option[String] = None): DataFrame = {
    val byBase = paths.groupBy(p => "(.*)/__part_[^=/]+=".r
      .findFirstMatchIn(p).map(_.group(1)))
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(inferKey)
    spark.conf.set(inferKey, "false")
    // `meta` tags the relation with its metadata.json so the optimizer's
    // bounds-prune rule ([[graft.plans.BoundsFilePrune]]) can re-plan the
    // file list under a pushed-down predicate from manifest bounds
    def tag(r: org.apache.spark.sql.DataFrameReader) =
      meta.fold(r)(m => r.option("graft.iceberg.meta", m))
    try {
      byBase.toSeq.sortBy(_._1.getOrElse("")).map {
        case (None, fs) =>
          tag(declared.fold(spark.read)(s => spark.read.schema(s)))
            .parquet(fs: _*)
        case (Some(base), fs) =>
          // the declared schema covers the DATA columns only; the shadow
          // partition columns are directory-derived and appended by
          // partition discovery (inference disabled → STRING, as before).
          // Declaring them explicitly makes Spark source them from the
          // file content instead — all-NULL, breaking the mirror rule.
          tag(declared.fold(spark.read)(s => spark.read.schema(s)))
            .option("basePath", base).parquet(fs: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(inferKey, v)
        case None => spark.conf.unset(inferKey)
      }
    }
  }

  /** Resolve current data file paths from a metadata.json (delete files
    * excluded — callers wanting delete-aware reads use [[scan]]). */
  def dataFiles(spark: SparkSession, metadataPath: String): Seq[String] =
    planFiles(spark, metadataPath)._1.map(_.path).distinct

  /** Current delete-file paths (position + equality) — streams compare
    * these across snapshots to tell a pure append from a rewrite. */
  def deleteFiles(spark: SparkSession, metadataPath: String): Seq[String] =
    planFiles(spark, metadataPath)._2.map(_.path).distinct

  /** Walk metadata.json → manifest list → manifests, returning data-file
    * and delete-file entries with their data sequence numbers (entry
    * sequence number, inherited from the manifest list when null — the
    * v2 inheritance rule). */
  /** Memo over [[planFilesUncached]]. A metadata.json is immutable once
    * written (commits land at a NEW version path), so (path, mtime,
    * size) keys it safely even across DROP + re-CREATE of the same
    * table dir. Kills the repeated manifest-read Spark jobs a
    * file-granular DML statement would otherwise pay (detection, the
    * subset scan, the replace commit, and the registry reloads all plan
    * the same snapshot — ~7 plans × 2 avro jobs ≈ 1.5 s of flat
    * metadata overhead at local; on a real cluster the same round
    * trips). Bounded: cleared wholesale past 256 snapshots. */
  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), (Seq[DataEntry], Seq[DeleteEntry])]()

  /** Identity of a metadata file: (path, mtime, size). A DROP +
    * re-CREATE lands the same path only after a data-writing job, so
    * its mtime differs at the storage's millisecond resolution. */
  private def metaKey(metadataPath: String): (String, Long, Long) = {
    val mp = stripScheme(metadataPath)
    val st = LakeFs.status(mp).getOrElse(throw new java.io.FileNotFoundException(mp))
    (mp, st.getModificationTime, st.getLen)
  }

  private def planFiles(spark: SparkSession, metadataPath: String)
      : (Seq[DataEntry], Seq[DeleteEntry]) = {
    val key = metaKey(metadataPath)
    if (planCache.size > 256) planCache.clear()
    planCache.computeIfAbsent(key, _ => planFilesUncached(spark, metadataPath))
  }

  private def planFilesUncached(spark: SparkSession, metadataPath: String)
      : (Seq[DataEntry], Seq[DeleteEntry]) = {
    val meta = readMeta(metadataPath)
    val snapId = meta.path("current-snapshot-id").asLong(-1)
    require(snapId >= 0, s"no current-snapshot-id in $metadataPath")
    val snapshot = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not found in $metadataPath"))
    val manifestList = stripScheme(snapshot.path("manifest-list").asText())

    // manifest list: one row per manifest; content 1 = delete manifest (v2).
    // Manifests are KB-scale metadata, read driver-side with the Avro
    // Java API ([[readAvroRecords]]) — the previous spark.read.format(avro)
    // round-trips cost 1 + #manifests Spark jobs per snapshot plan.
    val manifests = readAvroRecords(manifestList)

    val dataOut = Seq.newBuilder[DataEntry]
    val delOut = Seq.newBuilder[DeleteEntry]
    manifests.foreach { m =>
      val mPath = stripScheme(avroStr(m, "manifest_path").get)
      val isDeleteManifest = avroInt(m, "content").contains(1)
      val mSeq = avroLong(m, "sequence_number").getOrElse(0L)
      // read each manifest separately: data and delete manifests have
      // different Avro schemas
      val entries = readAvroRecords(mPath)
      entries.foreach { e =>
        if (avroInt(e, "status").get != StatusDeleted) {
          val eSeq = avroLong(e, "sequence_number").getOrElse(mSeq)
          val dataFile = e.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          val path = stripScheme(avroStr(dataFile, "file_path").get)
          val fileContent = avroInt(dataFile, "content").getOrElse(0)
          val part = avroStr(dataFile, "partition")
          val bounds = avroStr(dataFile, "bounds")
          val records = avroLong(dataFile, "record_count")
          if (isDeleteManifest || fileContent > 0)
            delOut += DeleteEntry(path, math.max(fileContent, 1), eSeq)
          else dataOut += DataEntry(path, eSeq, part, bounds, records)
        }
      }
    }
    (dataOut.result(), delOut.result())
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file://")) p.stripPrefix("file://") else p

  private def readMeta(metadataPath: String) =
    mapper.readTree(LakeFs.readBytes(stripScheme(metadataPath)))

  /** `name` in the directory of metadata file `mp`. */
  private def sibling(mp: String, name: String): String =
    new Path(new Path(mp).getParent, name).toString

  /** The table directory of a metadata file
    * (`<table>/metadata/vN.metadata.json`). */
  def tableDir(metadataPath: String): String =
    new Path(stripScheme(metadataPath)).getParent.getParent.toString

  // ── driver-side Avro manifest writing (metadata, not data) ─────────────

  private val manifestSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"partition","type":["null","string"],"default":null},
      |  {"name":"bounds","type":["null","string"],"default":null},
      |  {"name":"record_count","type":["null","long"],"default":null}]}}
      |]}""".stripMargin)
  private val manifestListSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"}]}""".stripMargin)

  /** Driver-side read of an Avro container (a single `.avro` file or a
    * directory of `part-*.avro` the way both [[avroOut]] and Spark's avro
    * writer lay them out). Manifests are METADATA — a few KB: reading
    * them through `spark.read.format(avro).load(...).collect()` cost one
    * full Spark job per manifest file (2+ jobs per snapshot plan, ~150 ms
    * of pure scheduler latency per Iceberg statement at any scale, and
    * the planner round-trips the cluster for bytes the driver then holds
    * anyway). Real Iceberg planners read manifests with the Avro Java
    * API in-process; do the same. */
  private def readAvroRecords(path: String)
      : Seq[org.apache.avro.generic.GenericRecord] = {
    import org.apache.avro.file.DataFileStream
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val p = stripScheme(path)
    val files =
      if (LakeFs.isDirectory(p)) LakeFs.dataFiles(p).filter(_.endsWith(".avro"))
      else Seq(p)
    files.flatMap { f =>
      val r = new DataFileStream(LakeFs.open(f),
        new GenericDatumReader[GenericRecord]())
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
        while (r.hasNext) buf += r.next()
        buf.toSeq
      } finally r.close()
    }
  }

  /** Nullable field access over a GenericRecord: None when the schema
    * has no such field or the value is null; Utf8 → String. */
  private def avroField(r: org.apache.avro.generic.GenericRecord,
      name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name))
  private def avroStr(r: org.apache.avro.generic.GenericRecord,
      name: String): Option[String] = avroField(r, name).map(_.toString)
  private def avroLong(r: org.apache.avro.generic.GenericRecord,
      name: String): Option[Long] =
    avroField(r, name).collect { case n: Number => n.longValue }
  private def avroInt(r: org.apache.avro.generic.GenericRecord,
      name: String): Option[Int] = avroLong(r, name).map(_.toInt)

  private def avroOut(dir: String, schema: org.apache.avro.Schema)
      : org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord] = {
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, LakeFs.create(s"$dir/part-00000.avro"))
  }

  /** One manifest row per (status, file_path, partition, bounds,
    * record_count) — nullable fields arrive null-encoded already
    * (orNull). */
  private def writeManifestAvro(dir: String,
      rows: Seq[(Int, String, String, String, Option[Long])]): Unit = {
    import org.apache.avro.generic.GenericData
    val dfSchema = manifestSchema.getField("data_file").schema()
    val w = avroOut(dir, manifestSchema)
    try rows.foreach { case (st, path, part, bounds, records) =>
      val df = new GenericData.Record(dfSchema)
      df.put("file_path", path)
      df.put("file_format", "PARQUET")
      df.put("partition", part)
      df.put("bounds", bounds)
      df.put("record_count", records.map(Long.box).orNull)
      val r = new GenericData.Record(manifestSchema)
      r.put("status", st)
      r.put("data_file", df)
      w.append(r)
    } finally w.close()
  }

  private def writeManifestListAvro(dir: String, paths: Seq[String]): Unit = {
    import org.apache.avro.generic.GenericData
    val w = avroOut(dir, manifestListSchema)
    try paths.foreach { p =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", p)
      w.append(r)
    } finally w.close()
  }

  // ── per-file column bounds (manifest-level skipping) ───────────────────

  /** Unsigned-byte (UTF-8) string comparison — parquet's binary stat
    * order, used on BOTH the record and prune sides so truncible row
    * groups combine consistently. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def domCompare(dom: String, a: String, b: String): Int = dom match {
    case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case d if d.startsWith("dec") => // unscaled longs; scale in the domain
      java.lang.Long.compare(a.toLong, b.toLong)
    case _        => utf8Compare(a, b)
  }

  /** Column min/max of one parquet file, read from its FOOTER (no data
    * read) — the engine's lower_bounds/upper_bounds (Iceberg spec §
    * data-file fields). Domains: "long" (signed ints, DATE epoch-day,
    * TIMESTAMP micros), "double" (fp, NaN-poisoned stats skipped),
    * "string" (UTF-8 byte order). A column missing stats in ANY row
    * group records no bound. None when nothing is recordable. */
  /** Footer stats of one freshly written parquet file in a single footer
    * open: (column bounds JSON, exact row count). The row count comes
    * from the block metadata (sum of per-row-group counts) — the spec's
    * `record_count` data-file field; with it recorded per file, snapshot
    * COUNT(*) and DML return counts are pure metadata (no scan). */
  private def footerStats(
      path: String): (Option[String], Option[Long]) = try {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = graft.engine.LakeFs.parquetReader(path)
    try {
      var rowCount = 0L
      var acc = Map.empty[String, Option[(String, String, String)]]
      reader.getFooter.getBlocks.asScala.foreach { block =>
        rowCount += block.getRowCount
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (!name.contains('.')) {
            val st = cc.getStatistics
            val pt = cc.getPrimitiveType
            val cur: Option[(String, String, String)] =
              if (st == null || !st.hasNonNullValue) None
              else pt.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
                  pt.getLogicalTypeAnnotation match {
                    case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                      // int-backed decimals (precision ≤ 18): stats are
                      // the unscaled values — domain carries the scale
                      // so only same-scale literals ever compare
                      Some((s"dec${d.getScale}",
                        st.genericGetMin.toString, st.genericGetMax.toString))
                    case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                        if ts.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS =>
                      None
                    case it: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                        if !it.isSigned => None
                    case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation =>
                      None
                    case _ => Some(("long",
                      st.genericGetMin.toString, st.genericGetMax.toString))
                  }
                case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
                  val lo = st.genericGetMin.toString
                  val hi = st.genericGetMax.toString
                  if (lo == "NaN" || hi == "NaN") None
                  else Some(("double", lo, hi))
                case PrimitiveTypeName.BINARY =>
                  pt.getLogicalTypeAnnotation match {
                    case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                      Some(("string",
                        st.genericGetMin
                          .asInstanceOf[org.apache.parquet.io.api.Binary]
                          .toStringUsingUTF8,
                        st.genericGetMax
                          .asInstanceOf[org.apache.parquet.io.api.Binary]
                          .toStringUsingUTF8))
                    case _ => None
                  }
                case _ => None
              }
            acc += (name -> (acc.get(name) match {
              case None => cur
              case Some(None) => None
              case Some(Some((d, lo, hi))) => cur match {
                case Some((d2, lo2, hi2)) if d2 == d =>
                  Some((d,
                    if (domCompare(d, lo2, lo) < 0) lo2 else lo,
                    if (domCompare(d, hi2, hi) > 0) hi2 else hi))
                case _ => None
              }
            }))
          }
        }
      }
      val root = mapper.createObjectNode()
      acc.toSeq.sortBy(_._1).foreach {
        case (n, Some((d, lo, hi))) =>
          val arr = root.putArray(n); arr.add(d); arr.add(lo); arr.add(hi)
        case _ =>
      }
      (if (root.size() == 0) None else Some(mapper.writeValueAsString(root)),
        Some(rowCount))
    } finally reader.close()
  } catch { case _: Throwable => (None, None) }

  private val boundsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Map[String, Map[String, (String, String, String)]]]()

  /** Per-file column bounds of the table's current snapshot:
    * path → column → (domain, lo, hi). Parsed once per metadata
    * identity; files without recorded bounds are absent (never prune). */
  def fileBounds(spark: SparkSession, metadataPath: String)
      : Map[String, Map[String, (String, String, String)]] = {
    val key = metaKey(metadataPath)
    if (boundsCache.size > 256) boundsCache.clear()
    boundsCache.computeIfAbsent(key, _ =>
      planFiles(spark, metadataPath)._1.flatMap { e =>
        e.bounds.flatMap { js =>
          try {
            val node = mapper.readTree(js)
            val m = node.fields().asScala.map { f =>
              val a = f.getValue
              f.getKey -> ((a.get(0).asText(), a.get(1).asText(),
                a.get(2).asText()))
            }.toMap
            if (m.isEmpty) None else Some(e.path -> m)
          } catch { case _: Throwable => None }
        }
      }.toMap)
  }

  /** Can a file whose column bounds are `b` hold a row matching
    * `col <cmp> v` in domain `dom`? cmp ∈ {"=", "<", "<=", ">", ">="}.
    * Unknown column/domain mismatch → true (never wrong-prune). */
  def boundsAdmit(b: Map[String, (String, String, String)], col: String,
      dom: String, cmp: String, v: String): Boolean =
    b.get(col) match {
      case Some((d, lo, hi)) if d == dom =>
        try cmp match {
          case "="  => domCompare(d, v, lo) >= 0 && domCompare(d, v, hi) <= 0
          case "<"  => domCompare(d, lo, v) < 0
          case "<=" => domCompare(d, lo, v) <= 0
          case ">"  => domCompare(d, hi, v) > 0
          case ">=" => domCompare(d, hi, v) >= 0
          case _    => true
        } catch { case _: Throwable => true }
      case _ => true
    }

  // ── write path (A9/A12: CREATE ICEBERG TABLE AS / INSERT append) ───────

  /** Write `df` as a new Iceberg table under `tableDir`; returns the
    * metadata.json path. Layout follows the spec: parquet data files under
    * data/, Avro manifest + manifest list under metadata/, versioned
    * vN.metadata.json (the reference's pyiceberg `create_table` +
    * `overwrite` path, `universql/warehouse/duckdb.py:295-310`).
    *
    * `partitionBy`: hidden identity partitioning (one or more columns).
    * Data files land in per-value directories and every manifest entry
    * records its partition values ("/"-joined in spec order for
    * multi-column specs), so [[scan]] can skip files at the metadata
    * level. The partition columns STAY in the data files (written via
    * duplicated shadow columns), so reads need no hive-style partition
    * inference and column types survive exactly. */
  def write(spark: SparkSession, df: DataFrame, tableDir: String,
      partitionBy: Seq[String] = Nil): String =
    commit(spark, df, tableDir, newVersion = 1, carryForward = Nil,
      partitionBy = partitionBy)

  /** Append `df` as a new snapshot on an existing table; returns the new
    * metadata.json path (pyiceberg `table.append` analog,
    * `universql/warehouse/duckdb.py:368`). The table's partition spec is
    * read from the current metadata and applied to the appended files. */
  def append(spark: SparkSession, df: DataFrame, metadataPath: String): String = {
    val dir = tableDir(metadataPath)
    val version = "v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(metadataPath)
      .map(_.group(1).toInt).getOrElse(1)
    commit(spark, df, dir, version + 1,
      carryForward = planFiles(spark, metadataPath)._1
        .map(e => (e.path, e.partition, e.bounds, e.records)).distinct,
      partitionBy = partitionColumns(metadataPath),
      baseMeta = Some(metadataPath))
  }

  /** Exact row count of the snapshot at `metadataPath` from manifest
    * metadata alone: Some(total) iff every data file recorded
    * `record_count` at its commit and no row-level delete files are
    * pending; None otherwise (callers fall back to a count scan).
    * O(manifest bytes) driver-side — never touches data files. */
  def recordCount(spark: SparkSession, metadataPath: String): Option[Long] = {
    val (data, dels) = planFiles(spark, metadataPath)
    if (dels.nonEmpty) None
    else {
      val uniq = data.distinctBy(_.path)
      if (uniq.forall(_.records.isDefined)) Some(uniq.map(_.records.get).sum)
      else None
    }
  }

  /** Compact small data files: partitions holding ≥2 files under
    * `smallBytes` are rewritten into one file each (unpartitioned tables
    * bin-pack toward `smallBytes`-sized outputs); everything else carries
    * forward untouched. One snapshot commit, one Spark pass over ONLY the
    * small files — O(small bytes), never O(table), which is the whole
    * point at 100 TB where streaming ingest leaves one file per
    * micro-batch commit ([[graft.engine.GraftSession]] `OPTIMIZE`).
    * Returns the new metadata.json (the pre-compaction version stays
    * time-travelable), or `metadataPath` unchanged when nothing
    * qualifies. Tables with pending row-level delete files are rejected
    * loudly — compaction must not resurrect deleted rows, and folding
    * deletes in belongs to a COW rewrite. */
  private def isIntegralCol(df: DataFrame, c: String): Boolean =
    df.schema(df.schema.fieldIndex(c)).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** The transform's partition-value expression over `df` — the commit
    * write derives partition directories from it, and compaction
    * repartitions on it so one task owns each partition value (one
    * compacted file per value). Zero-padded UTC-wallclock formats keep
    * lexicographic order = chronological order (see commit). */
  private def shadowValueExpr(df: DataFrame,
      pf: PartField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pf.transform match {
      case "identity" if isIntegralCol(df, pf.column) =>
        lpad((col(pf.column).cast(DecimalType(21, 0)) +
            lit(BigDecimal("9223372036854775808")))
          .cast(DecimalType(20, 0)).cast("string"), 20, "0")
      case "identity" => col(pf.column).cast("string")
      case "year" => date_format(col(pf.column), "yyyy")
      case "month" => date_format(col(pf.column), "yyyy-MM")
      case "day" => date_format(col(pf.column), "yyyy-MM-dd")
      case "hour" => date_format(col(pf.column), "yyyy-MM-dd-HH")
    }
  }

  /** Copy-on-write file replacement — the snapshot primitive behind
    * file-granular UPDATE/DELETE ([[graft.engine.Dml]]): swap exactly
    * `affected` data files for the contents of `next` in ONE snapshot
    * commit; every other data file carries forward untouched (same
    * path, same bytes). This is how Iceberg's own COW row-level
    * operations commit (spec: a REPLACE snapshot lists removed and
    * added files; unchanged manifests are reused) — at 100 TB a DELETE
    * touching 0.1% of files must not rewrite the other 99.9%. The
    * pre-replacement version stays time-travelable. Tables with pending
    * row-level delete files are rejected (fold them via the whole-table
    * COW path instead — a replace commit must not resurrect rows). */
  def replaceFiles(spark: SparkSession, metadataPath: String,
      affected: Set[String], next: DataFrame): String = {
    val (entries, deletes) = planFiles(spark, metadataPath)
    require(deletes.isEmpty,
      "replaceFiles with pending row-level deletes is unsupported")
    require(affected.subsetOf(entries.map(_.path).toSet),
      "affected paths must be current data files of the table")
    val keep = entries.filterNot(e => affected.contains(e.path))
      .map(e => (e.path, e.partition, e.bounds, e.records)).distinct
    val dir = tableDir(metadataPath)
    val version = "v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(metadataPath)
      .map(_.group(1).toInt).getOrElse(1)
    commit(spark, next, dir, version + 1, carryForward = keep,
      partitionBy = partitionColumns(metadataPath),
      baseMeta = Some(metadataPath))
  }

  def compact(spark: SparkSession, metadataPath: String,
      smallBytes: Long = 128L << 20): String = {
    val (entries, deletes) = planFiles(spark, metadataPath)
    require(deletes.isEmpty,
      "compact with pending row-level deletes is unsupported; " +
      "run a copy-on-write rewrite (UPDATE/DELETE already lands one)")
    def sizeOf(p: String): Long = LakeFs.size(p)
    val byPartition = entries.groupBy(_.partition)
    val toCompact = byPartition.iterator.flatMap { case (_, es) =>
      val small = es.filter(e => sizeOf(e.path) < smallBytes)
      if (small.length >= 2) small else Nil
    }.toSeq
    if (toCompact.isEmpty) return metadataPath
    val keep = entries.filterNot(toCompact.contains)
      .map(e => (e.path, e.partition, e.bounds, e.records)).distinct
    val smallTotal = toCompact.map(e => sizeOf(e.path)).sum
    val outParts = math.max(1L, smallTotal / math.max(1L, smallBytes)).toInt
    val parts = partitionColumns(metadataPath)
    // the partition source columns live IN the data files (shadow-column
    // write), so re-committing with the same spec regenerates identical
    // partition values; repartitioning on the TRANSFORM value (not the
    // raw source column — day(ts) must not scatter a day's distinct
    // timestamps across tasks) lands one file per partition value
    val merged0 = scanSubset(spark, metadataPath, toCompact.map(_.path).toSet)
    val merged =
      if (parts.nonEmpty) {
        val partFields = parts.map(parsePartField).map { pf =>
          pf.copy(column = merged0.columns
            .find(_.equalsIgnoreCase(pf.column)).getOrElse(pf.column))
        }
        merged0.repartition(
          partFields.map(pf => shadowValueExpr(merged0, pf)).toIndexedSeq: _*)
      } else merged0.repartition(outParts)
    val dir = tableDir(metadataPath)
    val version = "v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(metadataPath)
      .map(_.group(1).toInt).getOrElse(1)
    commit(spark, merged, dir, version + 1, carryForward = keep,
      partitionBy = parts, baseMeta = Some(metadataPath))
  }

  private def commit(spark: SparkSession, df0: DataFrame, tableDir: String,
      newVersion: Int,
      carryForward: Seq[(String, Option[String], Option[String], Option[Long])],
      partitionBy: Seq[String] = Nil,
      baseMeta: Option[String] = None): String =
    // the claim is taken BEFORE any data lands in data/s<N>: a process
    // losing the version race must abort without having overwritten the
    // winner's already-published snapshot directory
    IcebergCommit.withVersionClaim(
        s"$tableDir/metadata/v$newVersion.metadata.json") {
      commitClaimed(spark, df0, tableDir, newVersion, carryForward,
        partitionBy, baseMeta)
    }

  private def commitClaimed(spark: SparkSession, df0: DataFrame,
      tableDir: String, newVersion: Int,
      carryForward: Seq[(String, Option[String], Option[String], Option[Long])],
      partitionBy: Seq[String],
      baseMeta: Option[String]): String = {
    import org.apache.spark.sql.functions._
    // evolution state carried from the base metadata (appends must not
    // discard renames or tombstones committed before them)
    val baseSchema = baseMeta.flatMap(m => declaredSchema(stripScheme(m)))
    val baseTombs = baseMeta.map(m => tombstones(stripScheme(m)))
      .getOrElse(Set.empty)
    var physMap = baseMeta.map(m => physicalNames(stripScheme(m)))
      .getOrElse(Map.empty[String, String])
    // columns this commit introduces need physical names too
    val recorded0 = baseSchema match {
      case Some(base) =>
        val extra = df0.schema.filterNot(f =>
          base.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        extra.foreach { f =>
          val phys = freshPhysical(f.name,
            StructType(base.fields), physMap, baseTombs)
          if (phys != f.name) physMap += (f.name -> phys)
        }
        StructType(base.fields ++ extra)
      case None => df0.schema
    }
    // files store PHYSICAL names; rename the incoming logical frame
    val df =
      if (physMap.isEmpty) df0
      else df0.select(df0.columns.map(c =>
        col(c).as(physMap.getOrElse(c, c))).toIndexedSeq: _*)
    val snapId = newVersion.toLong
    val dataDir = s"$tableDir/data/s$snapId"
    // resolve partition columns against the frame case-insensitively
    // (session identifiers are normalized uppercase, lake columns aren't)
    val partFields = partitionBy.map(parsePartField).map { pf =>
      val resolved = df.columns.find(_.equalsIgnoreCase(pf.column))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column ${pf.column} not in ${df.columns.mkString(", ")}"))
      pf.copy(column = resolved)
    }
    // Transform values use zero-padded UTC-wallclock formats whose
    // lexicographic order equals chronological order — what the mirror
    // rule's range mapping relies on. Engine sessions pin UTC, so
    // date_format agrees with the mirror's literal rendering for
    // DATE/TIMESTAMP_NTZ always and for TIMESTAMP under the pinned zone.
    //
    // Integral identity partitions get the same treatment: the shadow is
    // the value biased by 2^63 and zero-padded to 20 digits (`zi`
    // encoding, marked in the shadow name), a total order-isomorphism
    // from signed 64-bit to string order — so WHERE k BETWEEN … prunes
    // at the file level instead of scanning every partition ("9" > "10"
    // broke the naive rendering). The metadata spec stays standard
    // Iceberg "identity"; `zi` is re-derived from the column type on
    // every commit (INSERT round-trips preserve it).
    def isIntegral(c: String): Boolean = isIntegralCol(df, c)
    def shadowNameOf(pf: PartField): String =
      if (pf.transform == "identity" && isIntegral(pf.column))
        s"__part_zi__${pf.column}"
      else pf.shadowName
    partFields.foreach { pf =>
      // an identity column named like a transform prefix would make the
      // shadow name ambiguous for the mirror parser — reject at write
      require(pf.transform != "identity" ||
        !pf.column.matches("(?i)(?:year|month|day|hour|zi)__.*"),
        s"identity partition column '${pf.column}' collides with the " +
        "shadow transform encoding (<transform>__ prefix); rename it")
    }
    def shadowExpr(pf: PartField) = shadowValueExpr(df, pf)
    if (partFields.nonEmpty) {
      // shadow columns keep the originals inside the data files; names
      // carry the transform + source column so the filter-mirror rule
      // can match
      partFields.foldLeft(df)((d, pf) =>
          d.withColumn(shadowNameOf(pf), shadowExpr(pf)))
        .write.mode("overwrite")
        .partitionBy(partFields.map(shadowNameOf): _*).parquet(dataDir)
    } else df.write.mode("overwrite").parquet(dataDir)
    val newFiles = LakeFs.dataFiles(dataDir).filter(_.endsWith(".parquet"))
    // Spark escapes partition-dir values as %XX sequences; decode only
    // those (URLDecoder would also turn '+' into a space). Multi-column
    // values join with "/" in spec order.
    def decode(v: String): String =
      "%([0-9A-Fa-f]{2})".r.replaceAllIn(v, g =>
        java.util.regex.Matcher.quoteReplacement(
          Integer.parseInt(g.group(1), 16).toChar.toString))
    def partOf(path: String): Option[String] = {
      val vals = "__part_[^=/]+=([^/]+)/".r.findAllMatchIn(path)
        .map(m => decode(m.group(1))).toSeq
      if (vals.isEmpty) None else Some(vals.mkString("/"))
    }

    val manifestDir = s"$tableDir/metadata/manifest-s$snapId"
    // per-file column bounds from the freshly written parquet FOOTERS —
    // O(new files) metadata reads, no data scan; carried-forward files
    // keep the bounds their own commit recorded.
    // Manifests are METADATA: written DRIVER-side with the Avro Java API
    // (as real Iceberg writers do) — the previous coalesce(1) DataFrame
    // writes cost two full Spark jobs (~200 ms) per commit, which
    // dominated small appends and every lifecycle statement.
    writeManifestAvro(manifestDir,
      carryForward.map { case (f, p, b, rc) =>
        (0, f, p.orNull, b.orNull, rc) } ++
        newFiles.map { f =>                     // 0=EXISTING 1=ADDED
          val (bounds, records) = footerStats(f)
          (1, f, partOf(f).orNull, bounds.orNull, records)
        })

    val listDir = s"$tableDir/metadata/manifest-list-s$snapId"
    writeManifestListAvro(listDir, Seq(manifestDir))

    val specJson =
      if (partFields.isEmpty) ""
      else {
        val fields = partFields.zipWithIndex.map { case (pf, x) =>
          s"""{"name": "${pf.column}", "transform": "${pf.transform}", "field-id": ${1000 + x}}"""
        }.mkString(", ")
        s""", "partition-specs": [{"spec-id": 0, "fields": [$fields]}]"""
      }
    val metadataPath = s"$tableDir/metadata/v$newVersion.metadata.json"
    val snapshotsJson = (1L to snapId).map(sid =>
      s"""{"snapshot-id": $sid, "manifest-list": "$tableDir/metadata/manifest-list-s$sid"}""")
      .mkString("[", ", ", "]")
    val json =
      s"""{"format-version": 2,
         | "table-uuid": "00000000-0000-0000-0000-${"%012d".format(snapId)}",
         | "location": "$tableDir",
         | "current-snapshot-id": $snapId,
         | "snapshots": $snapshotsJson$specJson}""".stripMargin
    // record the declared LOGICAL schema (evolved base + new columns) and
    // the evolution state, so later scans project every file — old or
    // new — under one schema
    val tree = mapper.readTree(json.getBytes)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    writeSchemaInto(tree, recorded0, physMap, baseTombs)
    IcebergCommit.publishMetadata(metadataPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree))
    metadataPath
  }
}
