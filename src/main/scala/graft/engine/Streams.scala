package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Snowflake table STREAMs (change data capture) over the session's COW
  * snapshot model.
  *
  * Reference scope: universql forwards stream DDL to Snowflake's cloud
  * services (`universql/protocol/session.py:82-85` routes non-table DDL
  * upstream); it has no local CDC. Here streams are first-class on the
  * local engine: a stream records an OFFSET — the target table's snapshot
  * (ref + data-file set) at creation or last consumption — and reading
  * the stream returns the NET row changes between that offset and the
  * table's current state, with Snowflake's metadata columns:
  * `METADATA$ACTION` ('INSERT' | 'DELETE'), `METADATA$ISUPDATE`,
  * `METADATA$ROW_ID` (deterministic content hash).
  *
  * Scale shape (100 TB): the common pipeline case — append-only loads —
  * NEVER diffs table contents. When the current data-file set is a
  * superset of the offset's (and no delete files appeared), the delta is
  * read ONLY from the added files: O(delta) I/O, zero shuffle — exactly
  * Iceberg's incremental append scan, driven by the same metadata the
  * snapshots already keep. Only when files were rewritten (COW
  * UPDATE/DELETE/MERGE, CREATE OR REPLACE) does the read fall back to a
  * multiset diff of the two snapshots (`exceptAll` both directions — one
  * hash shuffle over each side, the unavoidable cost of row-level diffing
  * without per-statement change logs).
  *
  * APPEND_ONLY streams additionally keep TRUE insert history through
  * later deletes: the [[StreamCatalog]] records each INSERT/COPY
  * statement's added file set (O(metadata) per statement — the files are already listed
  * for the snapshot), and because COW rewrites leave prior snapshot
  * files on disk, an APPEND_ONLY read after a DELETE reconstructs the
  * full insert set by reading exactly those logged files — Snowflake's
  * documented semantics (inserts survive later deletes), at O(inserted
  * data) I/O. Only when a logged file has been physically removed, or a
  * non-INSERT statement rewrote the table in a way the log cannot
  * describe (INSERT OVERWRITE, CREATE OR REPLACE), does the read fall
  * back to the net multiset diff.
  *
  * UPDATE statements surface Snowflake-style: when the offset → current
  * file-set transition is exactly a chain of logged UPDATE commits (the
  * [[StreamCatalog]] records each UPDATE's before/after file sets — see
  * `isUpdateTransition` below), every net-diff row is an update pair and
  * both its DELETE (old values) and INSERT (new values) rows carry
  * `METADATA$ISUPDATE = true`; APPEND_ONLY streams suppress such
  * transitions entirely, as documented. A transition any non-UPDATE
  * statement participated in breaks the chain and falls back to
  * `ISUPDATE = false` net rows — conservative, never wrong-positive.
  *
  * Streams on DYNAMIC TABLEs consume the DT's published sidecar delta
  * chain (`dtChainFiles`) instead of diffing swapped materializations.
  * For a keyed-aggregate DT the grouping keys (`dtChainKeys`, from the
  * DT's AggMerge plan) identify changed groups: a group present on both
  * sides of the chain diff reports as an update pair with
  * `METADATA$ISUPDATE = true`, matching Snowflake's standard-stream
  * semantics on DTs. Remaining documented deviation: a KEYLESS DT chain
  * (stateless transform — no grouping keys to match on) reports changed
  * rows as plain DELETE/INSERT with `ISUPDATE = false` — conservative,
  * never wrong-positive.
  *
  * Documented deviation (conservative, loud): a stream whose offset
  * snapshot was rewritten IN PLACE (a non-append load into the same
  * storage path) fails loudly as stale instead of returning a wrong
  * diff.
  */
final class StreamState(
    val target: FQN,
    val appendOnly: Boolean,
    @volatile var offsetRef: TableRef,
    @volatile var offsetFiles: Option[Set[String]],
    @volatile var offsetDeleteFiles: Option[Set[String]],
    /** [[StreamCatalog]] change seq at the offset — insert-log entries
      * with a larger seq are "since this stream's offset". */
    @volatile var offsetSeq: Long = 0L)

/** The streams of a catalog and the change logs their reads consult.
  * Every session that shares the streams shares this object, so a
  * stream sees every sharing session's writes, ordered by one counter
  * all of them draw from (under the target's writer lock, so the order
  * of entries and offsets on one table is its commit order).
  *
  *  - `insertLog`: per table, the file set each INSERT/COPY appended,
  *    with its seq. APPEND_ONLY streams replay it to show the FULL
  *    insert set through later deletes ([[Streams.delta]]). A statement
  *    the log cannot describe (INSERT OVERWRITE, MERGE, CREATE OR
  *    REPLACE, UNDROP) clears the table's log, which degrades those
  *    streams to the net-diff fallback — absent beats wrong. Kept only
  *    for tables some stream watches: a stream created later takes its
  *    offset at creation and never reads earlier entries.
  *  - `updateLog`: per table, the (before, after) data-file sets of each
  *    UPDATE's commit. A transition that is exactly a chain of these is
  *    reported as update pairs (`METADATA$ISUPDATE`). Kept for every
  *    table: a CHANGES clause reads any table's history without a
  *    stream. */
final class StreamCatalog {
  val streams = scala.collection.concurrent.TrieMap.empty[FQN, StreamState]
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  def nextSeq(): Long = seq.incrementAndGet()
  val insertLog = scala.collection.concurrent.TrieMap
    .empty[FQN, Vector[(Long, Set[String])]]
  val updateLog = scala.collection.concurrent.TrieMap
    .empty[FQN, Vector[(Set[String], Set[String])]]
  def watched(f: FQN): Boolean = streams.values.exists(_.target == f)
}

object Streams {
  val Action   = "METADATA$ACTION"
  val IsUpdate = "METADATA$ISUPDATE"
  val RowId    = "METADATA$ROW_ID"

  /** Last delta computation's chosen path, for plan-shape assertions in
    * specs: "empty" | "incremental-files" | "insert-history" |
    * "cow-diff-pruned" | "cow-diff". */
  @volatile private[graft] var lastMode: String = ""

  /** (data files, delete files) of a ref, when the storage is
    * file-addressable; (None, None) otherwise (csv dirs, views, …). */
  def filesOf(spark: SparkSession,
      ref: TableRef): (Option[Set[String]], Option[Set[String]]) =
    ref.format match {
      case "iceberg" =>
        (Some(graft.sources.IcebergLite.dataFiles(spark, ref.path.get).toSet),
         Some(graft.sources.IcebergLite.deleteFiles(spark, ref.path.get).toSet))
      case "parquet" if ref.path.isDefined =>
        (Some(LakeFs.dataFiles(ref.path.get).toSet), Some(Set.empty))
      case "bucketed" =>
        // path is the Spark catalog table name; list its storage location
        scala.util.Try {
          val loc = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(ref.path.get)).location
          LakeFs.dataFiles(loc.toString).toSet
        }.toOption match {
          case Some(fs) => (Some(fs), Some(Set.empty))
          case None => (None, None)
        }
      case _ => (None, None)
    }

  /** Project `df` onto `schema` by name, NULL-filling columns the offset
    * snapshot predates (streams survive ADD COLUMN evolution). */
  private def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(s"`${f.name}`").cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  private def withMeta(df: DataFrame, action: String,
      isUpdate: Boolean = false): DataFrame =
    df.withColumn(Action, lit(action))
      .withColumn(IsUpdate, lit(isUpdate))
      .withColumn(RowId, sha2(to_json(struct(
        df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)), 256))

  /** Pure-append probe, shared by stream deltas and dynamic-table
    * incremental refresh: when `cur` keeps the offset's storage format,
    * its data-file set is a superset of the offset's, and no delete files
    * appeared, the net change is exactly the ADDED files — returned here
    * (possibly empty = no change). None = not a pure append (files were
    * rewritten, or the storage is not file-addressable). Pure metadata —
    * no Spark job. */
  def addedFiles(spark: SparkSession, offsetRef: TableRef,
      offsetFiles: Option[Set[String]], offsetDeleteFiles: Option[Set[String]],
      cur: TableRef): Option[Set[String]] = {
    val (curFiles, curDeletes) = filesOf(spark, cur)
    (offsetFiles, curFiles) match {
      case (Some(of), Some(cf))
          if cur.format == offsetRef.format && of.subsetOf(cf) &&
            offsetDeleteFiles == curDeletes =>
        Some(cf -- of)
      case _ => None
    }
  }

  /** Read ONLY `files` of `cur` — the O(delta) I/O path. */
  def readFiles(spark: SparkSession, cur: TableRef, files: Set[String],
      schema: StructType): DataFrame =
    if (cur.format == "iceberg")
      graft.sources.IcebergLite.scanSubset(spark, cur.path.get, files)
    else spark.read.schema(schema).parquet(files.toSeq.sorted: _*)

  /** The stream's current contents: net changes offset → current.
    * `insertHistory` is the catalog's per-statement insert log for the
    * target — the file sets INSERT/COPY statements since the offset
    * added — consulted by APPEND_ONLY streams when the pure-append probe
    * fails (a later delete/update rewrote the file set): the logged
    * files still exist in the retained COW snapshots, so the FULL insert
    * set reads back at O(inserted data). None = no complete log (a
    * statement the log cannot describe intervened) → net-diff fallback. */
  def delta(spark: SparkSession, registry: TableRegistry,
      st: StreamState, insertHistory: Option[Seq[Set[String]]] = None,
      isUpdateTransition: (Set[String], Set[String]) => Boolean =
        (_, _) => false,
      dtChainFiles: Option[(Set[String], Set[String])] = None,
      dtChainKeys: Seq[String] = Nil,
      endRef: Option[TableRef] = None): DataFrame = {
    // endRef closes the span at a HISTORICAL version instead of the
    // table's current state — the CHANGES clause's END bound. Every
    // read path below diffs offset → `cur` identically; COW retains
    // the end version's files.
    val cur = endRef.getOrElse(registry.resolve(st.target).getOrElse(
      throw new IllegalArgumentException(
        s"stream target ${st.target.flat} no longer exists")))
    val curDf = registry.load(cur)
    val schema = curDf.schema
    def empty = { lastMode = "empty"; withMeta(curDf.filter(lit(false)), "INSERT") }

    addedFiles(spark, st.offsetRef, st.offsetFiles, st.offsetDeleteFiles,
        cur) match {
      case Some(added) if added.isEmpty => return empty
      case Some(added) =>
        lastMode = "incremental-files"
        return withMeta(align(readFiles(spark, cur, added, schema), schema),
          "INSERT")
      case None =>
    }
    // APPEND_ONLY + rewritten file set: replay the insert log — the
    // logged files live in retained COW snapshots, so the full insert
    // set (including rows a later DELETE removed) reads back directly
    if (st.appendOnly) insertHistory match {
      case Some(entries) =>
        val files = entries.flatten.toSet
        if (files.isEmpty) return { lastMode = "empty"
          withMeta(curDf.filter(lit(false)), "INSERT") }
        if (files.forall(LakeFs.exists)) {
          lastMode = "insert-history"
          return withMeta(
            align(spark.read.schema(schema).parquet(files.toSeq.sorted: _*),
              schema), "INSERT")
        } // a snapshot was physically removed → net-diff fallback
      case None =>
    }
    // pruned diff: a FILE-GRANULAR rewrite (Iceberg COW UPDATE/DELETE,
    // [[graft.sources.IcebergLite.replaceFiles]]) changed only some
    // files. Rows in carried-forward files appear identically on both
    // sides of the multiset difference and cancel, so diffing ONLY the
    // differing files is exact:
    //   cur ∖ base = (shared ⊎ A) ∖ (shared ⊎ R) = A ∖ R
    // O(changed files) instead of O(table) — at 100 TB the difference
    // between a stream read costing the DML's own footprint and one
    // costing two full-table scans. The replaced files read from the
    // retained pre-rewrite snapshot (offset ref's metadata still lists
    // them).
    // stream on a DYNAMIC TABLE whose merge refreshes swapped its
    // materialization: the session passes the published sidecar chain
    // covering offset → current — the touched groups' rows before and
    // after. Diffing JUST those is exact (untouched groups' rows are
    // bit-identical on both sides of the swap and would cancel), so
    // the CDC read costs O(changed groups), not a two-full-snapshot
    // multiset diff of the swapped materialization.
    dtChainFiles match {
      case Some((addF, delF)) =>
        lastMode = "dt-chain-diff"
        def side(files: Set[String]): DataFrame =
          if (files.isEmpty) curDf.filter(lit(false))
          else align(spark.read.schema(schema)
            .parquet(files.toSeq.sorted: _*), schema)
        val newSide = side(addF)
        val oldSide = side(delF)
        val insRows = newSide.exceptAll(oldSide)
        if (st.appendOnly) return withMeta(insRows, "INSERT")
        val delRows = oldSide.exceptAll(newSide)
        val keys = dtChainKeys.filter(schema.fieldNames.contains)
        if (keys.isEmpty)
          return withMeta(insRows, "INSERT")
            .unionByName(withMeta(delRows, "DELETE"))
        // Snowflake semantics on streams over dynamic tables: a group
        // whose aggregate value CHANGED across a merge refresh reports
        // as an update pair — its DELETE (old value) and INSERT (new
        // value) rows both carry METADATA$ISUPDATE = true; groups
        // appearing on only one side are plain inserts/deletes. The
        // grouping keys come from the DT's AggMerge plan; the matched
        // key set is O(changed groups) — delta-scale, never the table.
        val kcols = keys.map(c => col(s"`$c`"))
        val both = insRows.select(kcols: _*).intersect(delRows.select(kcols: _*))
          .withColumn("__graft_updkey", lit(true))
        // null-safe (<=>) key join: intersect above is null-safe, so a
        // changed group whose grouping key is NULL must also pair up
        def mark(df: DataFrame, action: String): DataFrame = {
          val l = df.alias("l"); val r = both.alias("r")
          val cond = keys.map(c => col(s"l.`$c`") <=> col(s"r.`$c`"))
            .reduce(_ && _)
          l.join(r, cond, "left").select(
            (schema.fieldNames.map(c => col(s"l.`$c`")) ++ Seq(
              lit(action).as(Action),
              coalesce(col("__graft_updkey"), lit(false)).as(IsUpdate),
              sha2(to_json(struct(schema.fieldNames.map(c =>
                col(s"l.`$c`")).toIndexedSeq: _*)), 256).as(RowId)
            )).toIndexedSeq: _*)
        }
        return mark(insRows, "INSERT").unionByName(mark(delRows, "DELETE"))
      case None =>
    }
    // UPDATE attribution: when every statement between the offset and
    // the current snapshot was an UPDATE (the session's per-table log
    // chains their before/after file sets), the net rows are update
    // pairs — DELETE/INSERT both marked ISUPDATE, and APPEND_ONLY
    // streams (which record only inserts) see nothing at all.
    val isUpd = {
      val (curFiles, _) = filesOf(spark, cur)
      (st.offsetFiles, curFiles) match {
        case (Some(of), Some(cf)) if cur.format == st.offsetRef.format =>
          isUpdateTransition(of, cf)
        case _ => false
      }
    }
    if (isUpd && st.appendOnly) { return empty }
    {
      val (curFiles, curDeletes) = filesOf(spark, cur)
      (st.offsetFiles, curFiles) match {
        case (Some(of), Some(cf))
            if cur.format == st.offsetRef.format &&
              st.offsetDeleteFiles.exists(_.isEmpty) &&
              curDeletes.exists(_.isEmpty) &&
              (of & cf).nonEmpty && (of -- cf).nonEmpty &&
              (of -- cf).forall(LakeFs.exists) =>
          val removed = of -- cf
          val added = cf -- of
          lastMode = "cow-diff-pruned"
          val oldSide =
            align(readFiles(spark, st.offsetRef, removed, schema), schema)
          val newSide =
            if (added.isEmpty) curDf.filter(lit(false))
            else align(readFiles(spark, cur, added, schema), schema)
          val ins = withMeta(newSide.exceptAll(oldSide), "INSERT", isUpd)
          return if (st.appendOnly) ins
            else ins.unionByName(
              withMeta(oldSide.exceptAll(newSide), "DELETE", isUpd))
        case _ =>
      }
    }
    // files were rewritten: diff the two snapshots. The base side is the
    // OFFSET-TIME state, reconstructed exactly:
    //  - iceberg: the offset metadata.json (immutable chain) replays the
    //    snapshot including its delete files;
    //  - parquet/bucketed: the CAPTURED file set read directly — never the
    //    directory, which in-place appends may have grown since;
    //  - no file info: the offset ref itself, but only when it doesn't
    //    share the current storage path (else the diff would compare the
    //    table against itself — stale, loudly).
    lastMode = "cow-diff"
    def stale(why: String): Nothing = throw new IllegalStateException(
      s"stream on ${st.target.flat} is stale: $why; recreate the stream")
    val base = st.offsetRef.format match {
      case "iceberg" => align(registry.load(st.offsetRef), schema)
      case "parquet" | "bucketed" if st.offsetFiles.isDefined =>
        val of = st.offsetFiles.get
        if (of.isEmpty) curDf.filter(lit(false))
        else {
          val missing = of.filterNot(LakeFs.exists)
          if (missing.nonEmpty) stale(
            s"${missing.size} offset snapshot file(s) no longer exist")
          align(spark.read.schema(schema).parquet(of.toSeq.sorted: _*), schema)
        }
      case _ =>
        if (st.offsetRef.path == cur.path && st.offsetRef.format == cur.format)
          stale("the table was rewritten in place over the offset snapshot")
        align(registry.load(st.offsetRef), schema)
    }
    val ins = withMeta(curDf.exceptAll(base), "INSERT", isUpd)
    if (st.appendOnly) ins
    else ins.unionByName(withMeta(base.exceptAll(curDf), "DELETE", isUpd))
  }

  /** SYSTEM$STREAM_HAS_DATA: file-set comparison when both snapshots are
    * file-addressable (pure metadata, no job); falls back to probing the
    * delta for one row. */
  def hasData(spark: SparkSession, registry: TableRegistry,
      st: StreamState): Boolean = {
    val cur = registry.resolve(st.target).getOrElse(return false)
    val (curFiles, curDeletes) = filesOf(spark, cur)
    if (st.offsetFiles.isDefined && curFiles.isDefined &&
        cur.format == st.offsetRef.format)
      curFiles != st.offsetFiles || curDeletes != st.offsetDeleteFiles
    else !delta(spark, registry, st).isEmpty
  }
}
