package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import SqlTokens._

/** Per-connection session state + statement execution — the engine analog
  * of `UniverSQLSession` (`universql/protocol/session.py:31-44`) with the
  * DuckDB executor replaced by Spark SQL.
  *
  * Responsibilities, mapped to SURVEY §2.A operators:
  *   - A1/A16 routing: every statement classified and dispatched here
  *     (offline engine: all-local; SHOW served from the registry)
  *   - A2 multi-statement batches: sequential execution, last result wins
  *   - A3/A5 table resolution: references found in the token stream, fully
  *     qualified with session defaults, registered as temp views
  *   - A8/A9 CREATE [TEMP] TABLE [AS SELECT] (parquet-backed managed
  *     tables — Iceberg surrogate, no Iceberg jar in this environment)
  *   - A11 CREATE VIEW, A12 INSERT, A13 DROP, A14 USE, A15 COPY INTO
  *   - A22 CURRENT_WAREHOUSE() UDF
  */
final class GraftSession(
    parent: SparkSession,
    warehouseDir: String =
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString,
    /** Share one catalog STATE across sessions (the single-process
      * analog of a server's shared metastore): concurrent sessions then
      * see each other's lake tables AND each other's commits — an
      * Iceberg/COW swap re-points the shared ref, so a later writer
      * resolves the newest snapshot instead of its session's stale one.
      * Each session still gets its own registry object, so loads bind
      * to ITS cloned SparkSession. Temp views stay session-scoped
      * (session-suffixed names); Local/temp REGISTRY entries become
      * visible across sessions by design-tradeoff — treat temp objects
      * as session-private, as Snowflake does. */
    sharedCatalog: Option[scala.collection.concurrent.TrieMap[FQN, TableRef]] =
      None,
    /** Share STREAMs the same way: Snowflake streams are schema objects
      * — a stream created through one session resolves (and its consume
      * advances the one shared offset) from every session of the server,
      * and its change logs record every sharing session's writes.
      * Sessions built without it keep private streams (the historical
      * single-session behavior). */
    sharedStreams: Option[StreamCatalog] = None) {

  /** Execution runs in a CLONED session state: same SharedState (external
    * catalog, cached blocks), but a private SQLConf + temp-view namespace.
    * Session-scoped confs (CBO for AutoStats, bucketed-scan sort trust)
    * therefore never leak into other workloads sharing the JVM — ADVICE r5
    * flagged the previous global `spark.sql.cbo.enabled` mutation, and
    * the h09 heavy join measured 2.7→16.6 s when that conf leaked into a
    * non-session workload (IMPLEMENTATION.md, "Session-scoped confs").
    * DataFrames returned by [[sql]] are bound to this clone, so their
    * (lazy) planning sees the session confs too. */
  val spark: SparkSession =
    // cloneSession() is public bytecode but `private[sql]` to scalac in
    // Spark 4 (classic.SparkSession); newSession() would lose the caller's
    // runtime conf + injected experimental rules, so invoke it reflectively
    try parent.getClass.getMethod("cloneSession").invoke(parent)
      .asInstanceOf[SparkSession]
    catch { case _: NoSuchMethodException => parent.newSession() }

  var currentDatabase: String = "GRAFT"
  var currentSchema: String = "PUBLIC"
  /** Temp views live in the SHARED SparkSession, but registries and DML
    * snapshots are per-GraftSession — a session-unique suffix keeps one
    * session's `createOrReplaceTempView` from clobbering another's between
    * substitution and execution (concurrent server sessions). */
  private val sessionId = GraftSession.idSeq.incrementAndGet()
  private[engine] def viewName(f: FQN): String = s"${f.flat}_s$sessionId"
  val registry = new TableRegistry(spark, f => viewName(f),
    sharedCatalog.getOrElse(scala.collection.concurrent.TrieMap.empty))
  /** Stage name → base URL (DESCRIBE STAGE analog,
    * `universql/plugins/snow.py:600-618`). */
  private val stages = scala.collection.concurrent.TrieMap.empty[String, String]
  /** Named file formats (CREATE FILE FORMAT), referenced from COPY via
    * FILE_FORMAT = (FORMAT_NAME = '…'). */
  private val fileFormats =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]
  /** SQL-bodied scalar functions (CREATE FUNCTION … AS '…'): name →
    * (params, body). Expanded as macros BEFORE dialect rewrite, so the
    * body stays declarative and Catalyst optimizes straight through it —
    * no black-box UDF in the plan. */
  private val sqlFunctions = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[String], Vector[Tok])]
  /** CREATE SEQUENCE registry: name → (start, increment, next window
    * base). NEXTVAL draws are distributed: each textual occurrence
    * reserves a disjoint value window driver-side, and rows inside the
    * statement take `base + monotonically_increasing_id() * increment` —
    * unique and step-aligned at any parallelism without coordination,
    * the same unique-but-gappy contract Snowflake documents (sequence
    * values are "not necessarily contiguous"). */
  private val sequences = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Long, java.util.concurrent.atomic.AtomicLong)]
  /** CREATE STREAM registry (Snowflake table CDC, [[Streams]]): name →
    * offset state. Reads resolve through [[ensureView]]; DML/CTAS
    * statements that read a stream advance its offset on success. */
  private val streamCat = sharedStreams.getOrElse(new StreamCatalog)
  private val streams = streamCat.streams
  /** Streams resolved by the statement currently executing — consulted
    * after it completes to apply the consume-advances-offset rule. */
  private val streamsReadInStmt = scala.collection.mutable.Set.empty[FQN]
  /** The target-table version each stream read actually SAW (captured
    * under the target's writer lock in [[ensureView]]): consume must
    * advance to THIS version, not the table's current one — a row
    * appended between the read and the advance would otherwise be
    * skipped forever (found designing ConcurrencySpec, round 12). */
  private val streamReadVersion = scala.collection.concurrent.TrieMap
    .empty[FQN, (TableRef, Option[Set[String]], Option[Set[String]], Long)]
  /** Whether the executing statement read information_schema — such reads
    * track registry state, not table files, so result reuse skips them. */
  @volatile private var infoSchemaReadInStmt = false
  /** Registry tables resolved by the statement currently executing —
    * cleared before a dynamic table's defining query runs, so the tables
    * it resolves become the refresh-tracked base set. */
  private val basesResolvedInStmt = scala.collection.mutable.Set.empty[FQN]

  // ── DYNAMIC TABLE (incremental materialized views, [[DynamicTables]]) ──
  /** name → (defining query, TARGET_LAG, bases, per-base offsets,
    * incremental plan, output schema). Offsets are the same snapshot
    * file-sets the CDC streams keep. */
  private final class DynState(
      val query: String, val lag: String, val bases: Seq[FQN],
      @volatile var offsets: Map[FQN, (TableRef, Option[Set[String]], Option[Set[String]])],
      val inc: Option[DynamicTables.IncPlan], val schema: StructType,
      // AVG-bearing aggregates: partial-state sidecar (sum/count pairs
      // in place of each avg column) that merges across refreshes; the
      // visible materialization is re-derived from it. COW-versioned
      // like the materialization itself.
      @volatile var statePath: Option[String] = None)

  /** The derived-column aggregate spec of an incremental plan, if any —
    * AVG or expressions over aggregates maintain a partial-state
    * sidecar (see [[DynamicTables.AggMerge]]). */
  private def derivedSpec(inc: Option[DynamicTables.IncPlan])
      : Option[DynamicTables.AggMerge] = inc.flatMap {
    case am: DynamicTables.AggMerge if am.needsState => Some(am)
    case DynamicTables.JoinDelta(am: DynamicTables.AggMerge)
        if am.needsState => Some(am)
    case _ => None
  }
  private val dynamicTables =
    scala.collection.concurrent.TrieMap.empty[FQN, DynState]

  /** Grouping keys of a dynamic table's incremental plan, for streams
    * reading the DT through its delta chain: matched-key changed groups
    * report as ISUPDATE pairs (Snowflake standard-stream semantics). */
  private def dtGroupKeys(f: FQN): Seq[String] =
    dynamicTables.get(f).flatMap(_.inc).toSeq.flatMap {
      case am: DynamicTables.AggMerge => am.keys
      case DynamicTables.JoinDelta(am: DynamicTables.AggMerge) => am.keys
      case _ => Nil
    }

  /** One published refresh delta of a dynamic table: the signed row
    * change of the materialization swap `from` → `to`, as parquet
    * sidecars (`addDir` = touched groups' rows after, `delDir` = the
    * same groups' rows before). A DOWNSTREAM dynamic table reading
    * this one as a base chains entries across its own refresh gap and
    * consumes the rows directly — see dtChainDelta in
    * [[doRefreshDynamic]]. Any unlogged transition (full refresh,
    * DROP + re-CREATE, log cap overflow) breaks the chain and the
    * downstream falls back to full. */
  private final case class DtDelta(from: String, to: String,
      addDir: String, delDir: String)
  private val dtDeltaLog =
    scala.collection.concurrent.TrieMap.empty[FQN, List[DtDelta]]

  /** Walk `f`'s delta log from one materialization path to another:
    * the sidecar (addDirs, delDirs) covering every logged transition
    * in between; None when any hop is unlogged. */
  private def dtLogChainDirs(f: FQN, fromPath: String,
      toPath: String): Option[(Seq[String], Seq[String])] = {
    if (fromPath == toPath) return None
    val entries = dtDeltaLog.getOrElse(f, Nil)
    val adds = Seq.newBuilder[String]; val dels = Seq.newBuilder[String]
    var at = fromPath; var steps = 0
    while (at != toPath) {
      if (steps > entries.length) return None
      entries.find(_.from == at) match {
        case Some(e) => adds += e.addDir; dels += e.delDir; at = e.to
        case None    => return None
      }
      steps += 1
    }
    Some((adds.result(), dels.result()))
  }

  /** Chain sidecar dirs as their data files (a side with no touched
    * rows may be an empty dir — callers read with an explicit schema). */
  private def sidecarFiles(dirs: (Seq[String], Seq[String]))
      : (Set[String], Set[String]) =
    (dirs._1.flatMap(LakeFs.dataFiles).toSet,
      dirs._2.flatMap(LakeFs.dataFiles).toSet)

  /** Publish a merge-refresh's signed row delta (see [[DtDelta]]):
    * `restrict` filters a materialization to the touched groups;
    * `oldVisible` must read the pre-swap path (the captured ref keeps
    * doing so after the swap — COW retains it). Cost: two
    * O(|result|)-scan, O(|changed groups|)-write jobs per merge
    * refresh — result-sized, never base-sized. */
  private def publishDtDelta(f: FQN, oldPath: String, oldVisible: DataFrame,
      restrict: DataFrame => DataFrame): Unit = {
    // publication costs two O(|result|) jobs per merge refresh — skip
    // when no OTHER dynamic table reads this one as a base and no
    // stream watches it. Sound: a downstream created LATER
    // materializes from the base's state at creation (and a stream
    // created later offsets at creation), so neither can have a
    // refresh gap reaching back before now; an unpublished transition
    // merely breaks the chain (→ full refresh / full diff), never
    // corrupts it.
    if (!dtHasDeltaConsumer(f)) return
    val newRef = registry.resolve(f).get
    publishDtDeltaRows(f, oldPath, restrict(oldVisible),
      restrict(registry.load(newRef)))
  }

  private def dtHasDeltaConsumer(f: FQN): Boolean =
    dynamicTables.exists { case (g, s2) => g != f && s2.bases.contains(f) } ||
      streamCat.watched(f)

  /** Row-level publication variant: `delRows`/`addRows` ARE the signed
    * delta (a dtdelta-transform refresh has them directly — the
    * transformed sidecar rows it spliced out/in). */
  private def publishDtDeltaRows(f: FQN, oldPath: String,
      delRows: DataFrame, addRows: DataFrame): Unit = {
    if (!dtHasDeltaConsumer(f)) return
    val newPath = registry.resolve(f).get.path.get
    val seq = snapshotSeq.incrementAndGet()
    // ONE sign-partitioned write instead of two sequential (r14) or two
    // overlapped (r15) sidecar jobs: both sides union into a single
    // job partitioned by __sign, landing the del rows under __sign=-1
    // and the add rows under __sign=1 (partitionBy adds no shuffle —
    // each task splits its rows by value). Chain consumers keep reading
    // the two subdirs as plain parquet with an explicit schema: the
    // partition value lives in the DIRECTORY name, not in the files, so
    // the subdir contents are byte-compatible with the old layout.
    val dir = s"${newPath}__dtdelta_$seq"
    val delDir = s"$dir/__sign=-1"
    val addDir = s"$dir/__sign=1"
    delRows.withColumn("__sign", org.apache.spark.sql.functions.lit(-1))
      .unionByName(addRows.withColumn("__sign",
        org.apache.spark.sql.functions.lit(1)))
      .write.mode("overwrite").partitionBy("__sign").parquet(dir)
    // a side with no rows writes no __sign dir; consumers read the
    // subdir paths with an explicit schema, so materialize empty ones
    LakeFs.mkdirs(delDir)
    LakeFs.mkdirs(addDir)
    val entry = DtDelta(oldPath, newPath, addDir, delDir)
    val all = dtDeltaLog.getOrElse(f, Nil) :+ entry
    val kept = all.takeRight(32)
    dtDeltaLog(f) = kept
    // evicted entries are unreachable through the chain walker; their
    // sidecar dirs are session-private (unlike COW table snapshots) —
    // delete them so a long-running session's disk use stays bounded
    dropSidecars(all.dropRight(32))
  }

  /** Delete the parquet sidecar directories of delta-log entries that
    * left the log (cap eviction, DROP, re-CREATE, full refresh). */
  private def dropSidecars(entries: Seq[DtDelta]): Unit =
    entries.foreach { e =>
      // add/del are __sign=… subdirs of one partitioned write — remove
      // the parent so the _SUCCESS marker doesn't linger
      Seq(e.addDir, e.delDir).foreach(d =>
        LakeFs.delete(d.replaceAll("/__sign=[^/]*$", "")))
    }

  /** Touched-group restriction: null-safe semi join on the output key
    * columns (empty keys = a global aggregate = every row touched). */
  private def keyRestrict(keys: Seq[String], keysDf: DataFrame)
      (side: DataFrame): DataFrame =
    if (keys.isEmpty) side
    else side.join(keysDf,
      keys.map(k => side(k) <=> keysDf(k)).reduce(_ && _), "left_semi")

  private def snapshotOffsets(bases: Seq[FQN])
      : Map[FQN, (TableRef, Option[Set[String]], Option[Set[String]])] =
    bases.flatMap { b =>
      registry.resolve(b).map { r =>
        val (fs, ds) = Streams.filesOf(spark, r)
        b -> ((r, fs, ds))
      }
    }.toMap

  private def doCreateDynamic(orReplace: Boolean, ifNotExists: Boolean,
      rawName: String, rest: String): DataFrame = {
    val f = fqn(rawName)
    if ((registry.resolve(f).isDefined || dynamicTables.contains(f)) && !orReplace) {
      if (ifNotExists)
        return status(s"${f.table} already exists, statement succeeded.")
      throw new IllegalArgumentException(s"object $f already exists")
    }
    // option list before AS: TARGET_LAG / WAREHOUSE / REFRESH_MODE /
    // INITIALIZE (warehouse + initialize are accepted session decoration)
    val optRe = ("(?is)^((?:(?:TARGET_LAG\\s*=\\s*(?:'[^']*'|DOWNSTREAM)|" +
      "WAREHOUSE\\s*=\\s*[\\w$\".]+|REFRESH_MODE\\s*=\\s*\\w+|" +
      "INITIALIZE\\s*=\\s*\\w+)\\s*)*)AS\\s+(.+)$").r
    val (opts, select) = rest.trim match {
      case optRe(o, s) => (o, s)
      case _ => throw new IllegalArgumentException(
        "CREATE DYNAMIC TABLE requires AS SELECT …")
    }
    val lag = "(?is)TARGET_LAG\\s*=\\s*(?:'([^']*)'|(DOWNSTREAM))".r
      .findFirstMatchIn(opts)
      .map(m => Option(m.group(1)).getOrElse("DOWNSTREAM")).getOrElse("")
    val forceFull =
      "(?is)REFRESH_MODE\\s*=\\s*FULL".r.findFirstIn(opts).isDefined
    basesResolvedInStmt.clear()
    val df = runQuery(select)
    require(streamsReadInStmt.isEmpty,
      "dynamic table over a STREAM is not supported — reference the base " +
      "table directly; refresh tracks its changes itself")
    val bases = basesResolvedInStmt.toSeq.sortBy(_.flat)
    require(bases.nonEmpty,
      "dynamic table must reference at least one registered table")
    val inc =
      if (forceFull) None
      else DynamicTables.incrementalPlan(
        df.queryExecution.analyzed, bases.map(viewName))
    val path = tablePath(f, temp = false)
    // derived-bearing aggregate (AVG / expressions over aggregates):
    // materialize the partial state first, then derive the visible
    // table from it — one base scan plus one O(|result|) projection
    val (matDf, statePath) = derivedSpec(inc) match {
      case Some(am) =>
        val sp = s"${path}__state_v${snapshotSeq.incrementAndGet()}"
        val part = DynamicTables.partialize(df, force = am.having.isDefined)
        part.write.mode("overwrite").parquet(sp)
        LakeFs.primeSchema(sp, part.schema)
        (DynamicTables.finalizeState(readStateParquet(sp), am, df.schema),
          Some(sp))
      case None => (df, None)
    }
    val (instrumented, record) = AutoStats.observedForWrite(spark, matDf, path)
    AutoStats.invalidate(path)
    instrumented.write.mode("overwrite").parquet(path)
    record()
    LakeFs.primeSchema(path, matDf.schema)
    val ref = TableRef(f, TableKind.Lake, Some(path))
    registry.register(ref)
    resetHistory(f, ref)
    dtDeltaLog.remove(f).foreach(dropSidecars) // re-created DT: fresh chain
    dynamicTables.put(f,
      new DynState(select, lag, bases, snapshotOffsets(bases), inc, df.schema,
        statePath))
    status(s"Dynamic table ${f.table} successfully created.")
  }

  /** ALTER DYNAMIC TABLE … REFRESH — mode decided per refresh from pure
    * metadata; see [[DynamicTables]] for the soundness argument. */
  private def doRefreshDynamic(rawName: String): DataFrame = {
    val f = fqn(rawName)
    val st = dynamicTables.getOrElse(f, throw new IllegalArgumentException(
      s"unknown dynamic table ${f.flat}"))
    // writer locks on the materialization AND every base: the refresh's
    // change detection, delta scan, and offset advance must see one
    // consistent base snapshot (TableLocks sorts keys — deadlock-free)
    TableLocks.withLocks(f.flat +: st.bases.map(_.flat)) {
    val ref = registry.resolve(f).getOrElse(throw new IllegalStateException(
      s"dynamic table ${f.flat} lost its materialization"))
    val curs = st.bases.map { b =>
      b -> registry.resolve(b).getOrElse(throw new IllegalArgumentException(
        s"dynamic table base ${b.flat} no longer exists"))
    }.toMap
    // change detection: file-addressable bases compare snapshot file sets
    // (pure metadata, no job); a base without file info is assumed changed
    val unchanged = st.bases.forall { b =>
      st.offsets.get(b).exists { case (oref, ofs, ods) =>
        ofs.isDefined && curs(b).format == oref.format && {
          val (cfs, cds) = Streams.filesOf(spark, curs(b))
          cfs == ofs && cds == ods
        }
      }
    }
    if (unchanged) {
      DynamicTables.lastRefreshMode = "no-op"
      return status(s"Dynamic table ${f.table} is up to date.")
    }
    // incremental path: every base pure-append since the offset (None =
    // some base was rewritten or is not file-addressable)
    val addedPerBase: Option[Map[FQN, Set[String]]] = st.inc.flatMap { _ =>
      val per = st.bases.map { b =>
        st.offsets.get(b).flatMap { case (oref, ofs, ods) =>
          Streams.addedFiles(spark, oref, ofs, ods, curs(b)).map(b -> _)
        }
      }
      if (per.forall(_.isDefined)) Some(per.flatten.toMap) else None
    }
    // apply a computed delta result: append it (stateless) or fold it
    // into the previous materialization (decomposable aggregate)
    def applyIncrement(plan: DynamicTables.IncPlan, deltaResult: DataFrame,
        modePrefix: String): Unit = plan match {
      case DynamicTables.AppendTransform =>
        DynamicTables.lastRefreshMode = modePrefix + "append"
        val aligned = deltaResult.select(st.schema.fields.map(sf =>
          org.apache.spark.sql.functions.col(sf.name).cast(sf.dataType)
            .as(sf.name)).toIndexedSeq: _*)
        val (instrumented, record) =
          AutoStats.observedForAppend(spark, aligned, ref.path.get)
        instrumented.write.mode("append").parquet(ref.path.get)
        record()
        LakeFs.primeSchema(ref.path.get, st.schema)
        // in-place append invalidates older versions (same as INSERT)
        resetHistory(f, ref)
      case am: DynamicTables.AggMerge if am.needsState =>
        DynamicTables.lastRefreshMode = modePrefix + "merge"
        // deltaResult arrives PARTIALIZED (derived → partial columns,
        // via partialIfDerived at the call sites): merge it into the state
        // sidecar, version the state COW-style, then re-derive the
        // visible table from the new state — O(|result| + |delta|)
        val oldState = readStateParquet(st.statePath.get)
        val mergedState = DynamicTables.merge(
          oldState, deltaResult, am.stateSpec, oldState.schema)
        val newSp = st.statePath.get.split("__state_v").head +
          s"__state_v${snapshotSeq.incrementAndGet()}"
        mergedState.write.mode("overwrite").parquet(newSp)
        LakeFs.primeSchema(newSp, mergedState.schema)
        st.statePath = Some(newSp)
        val oldVisible = registry.load(ref)
        swapMaterialization(f, ref,
          DynamicTables.finalizeState(readStateParquet(newSp), am, st.schema))
        publishDtDelta(f, ref.path.get, oldVisible, keyRestrict(am.keys,
          if (am.keys.isEmpty) deltaResult
          else deltaResult.select(am.keys.map(
            org.apache.spark.sql.functions.col): _*).distinct()))
      case am: DynamicTables.AggMerge =>
        DynamicTables.lastRefreshMode = modePrefix + "merge"
        val oldVisible = registry.load(ref)
        val merged = DynamicTables.merge(
          oldVisible, deltaResult, am, st.schema)
        swapMaterialization(f, ref, merged)
        publishDtDelta(f, ref.path.get, oldVisible, keyRestrict(am.keys,
          if (am.keys.isEmpty) deltaResult
          else deltaResult.select(am.keys.map(
            org.apache.spark.sql.functions.col): _*).distinct()))
      case _: DynamicTables.JoinDelta => // nested JoinDelta never occurs
        throw new IllegalStateException("JoinDelta cannot nest")
    }
    // derived-bearing aggregates merge through their partial state, so
    // the delta must be evaluated in partial form (each telescoped join
    // part individually — a Union's children must agree on arity)
    def partialIfDerived(plan: DynamicTables.IncPlan, df: DataFrame): DataFrame =
      plan match {
        case am: DynamicTables.AggMerge if am.needsState =>
          DynamicTables.partialize(df, force = am.having.isDefined)
        case _ => df
      }
    def fullRefresh(): Unit = {
      DynamicTables.lastRefreshMode = "full"
      DynamicTables.lastDeltaFiles = Nil
      // an unlogged transition: downstream chains can no longer connect
      // through prior entries — GC their sidecars
      dtDeltaLog.remove(f).foreach(dropSidecars)
      derivedSpec(st.inc) match {
        case Some(am) =>
          // rebuild the state sidecar too, or the next incremental
          // merge would fold its delta into pre-rewrite state
          val newSp = st.statePath.get.split("__state_v").head +
            s"__state_v${snapshotSeq.incrementAndGet()}"
          val part = DynamicTables.partialize(runQuery(st.query),
              force = am.having.isDefined)
          part.write.mode("overwrite").parquet(newSp)
          LakeFs.primeSchema(newSp, part.schema)
          st.statePath = Some(newSp)
          swapMaterialization(f, ref, DynamicTables.finalizeState(
            readStateParquet(newSp), am, st.schema))
        case None =>
          swapMaterialization(f, ref, runQuery(st.query))
      }
    }
    // Recompute-splice for non-invertible (MIN/MAX-bearing) states:
    // `touched` carries the key columns of every group the change could
    // have affected; the defining query re-runs under a key-IN filter —
    // which Catalyst pushes through the aggregate into the base scan
    // (O(touched groups' data), row-group skipping when the key is
    // clustered) — and the result splices over the previous
    // materialization (or state sidecar, HAVING/derived shapes).
    // Groups that emptied out don't reappear, so no hidden row count
    // is consulted. Returns false when the touched-key set exceeds
    // RegroupKeyCap (the IN-plan stops paying) — callers go full.
    def regroupSplice(am: DynamicTables.AggMerge, touched: DataFrame,
        deltaFiles: Seq[String], mode: String): Boolean = {
      import org.apache.spark.sql.functions.{coalesce, col, lit, not}
      val keyRows = touched.limit(GraftSession.RegroupKeyCap + 1).collect()
      if (keyRows.length > GraftSession.RegroupKeyCap) return false
      val pred = am.keys.map { k =>
        val vals = keyRows.map(_.getAs[Any](k)).toSeq
        val nn = vals.filter(_ != null).distinct
        val in = if (nn.isEmpty) lit(false) else col(k).isin(nn: _*)
        coalesce(if (vals.contains(null)) in || col(k).isNull else in,
          lit(false))
      }.reduce(_ && _)
      DynamicTables.lastDeltaFiles = deltaFiles
      DynamicTables.lastRefreshMode = mode
      st.statePath match {
        case Some(sp) =>
          val oldState = readStateParquet(sp)
          val recomputed = DynamicTables.partialize(runQuery(st.query),
              force = am.having.isDefined).filter(pred)
            .select(oldState.schema.fields.map(sf =>
              col(sf.name).cast(sf.dataType).as(sf.name)).toIndexedSeq: _*)
          val newSp = sp.split("__state_v").head +
            s"__state_v${snapshotSeq.incrementAndGet()}"
          oldState.filter(not(pred)).unionByName(recomputed)
            .write.mode("overwrite").parquet(newSp)
          LakeFs.primeSchema(newSp, oldState.schema)
          st.statePath = Some(newSp)
          swapMaterialization(f, ref, DynamicTables.finalizeState(
            readStateParquet(newSp), am, st.schema))
        case None =>
          val oldMat = registry.load(ref)
          val recomputed = runQuery(st.query).filter(pred)
          swapMaterialization(f, ref,
            oldMat.filter(not(pred)).unionByName(recomputed)
              .select(st.schema.fields.map(sf =>
                col(sf.name).cast(sf.dataType).as(sf.name))
                .toIndexedSeq: _*))
      }
      publishDtDelta(f, ref.path.get, registry.load(ref), _.filter(pred))
      true
    }
    // file-granular rewrite retraction probe: a single base whose file
    // set changed NON-append — an Iceberg COW UPDATE/DELETE replaced
    // some files ([[Dml]]/[[graft.sources.IcebergLite.replaceFiles]])
    // — still refreshes incrementally. When every state column folds
    // linearly ([[DynamicTables.AggMerge.retractable]]) the merge is
    // invertible, so the refresh folds `+agg(added) ⊎ −agg(removed)`
    // reading ONLY the differing files. With MIN/MAX in the state the
    // fold is not invertible, but the refresh is still not full: the
    // delta files name the GROUPS the rewrite touched, and only those
    // groups are recomputed from the base (keyed, so grouped plans
    // qualify) — see the regroup branch below. Carried-forward files
    // contribute identically before and after the rewrite, so their
    // groups never leave the state. Pure metadata decision.
    def rewriteDelta: Option[(Set[String], Set[String])] = st.inc match {
      case Some(am: DynamicTables.AggMerge)
          if (am.retractable || am.keys.nonEmpty) && st.bases.length == 1 =>
        val b = st.bases.head
        st.offsets.get(b).flatMap { case (oref, ofs, ods) =>
          val (cfs, cds) = Streams.filesOf(spark, curs(b))
          (ofs, cfs) match {
            case (Some(of), Some(cf))
                if curs(b).format == oref.format &&
                  ods.exists(_.isEmpty) && cds.exists(_.isEmpty) &&
                  (of & cf).nonEmpty && (of -- cf).nonEmpty &&
                  // retraction reads the replaced files from the
                  // retained pre-rewrite snapshot
                  (of -- cf).forall(LakeFs.exists) =>
              Some((cf -- of, of -- cf))
            case _ => None
          }
        }
      case _ => None
    }
    // join-tree variant of the rewrite-retraction probe: per base the
    // signed file delta (added, removed) — removed non-empty on the
    // base(s) a file-granular DML touched. The telescoped identity
    // holds with SIGNED deltas (A_new = A_old ⊎ ΔA with ΔA = added −
    // removed), and linear aggregates distribute over the sign:
    //   Δ(⋈ᵢAᵢ) = Σᵢ old₁…ᵢ₋₁ ⋈ (addedᵢ − removedᵢ) ⋈ newᵢ₊₁…ₙ
    // so each changed base contributes a +part and a −part, both read
    // at O(its changed files) (dimension sides at O(dim), never the
    // old fact files). Bases rewritten WHOLESALE (no file carried
    // forward) are excluded — two full-join evaluations would cost
    // more than the full refresh they'd replace.
    // Chain walk over a DT base's published delta log ([[DtDelta]]):
    // the sidecar (addDirs, delDirs) covering this DT's recorded base
    // path → the base's current path. None when any transition is
    // unlogged (full refresh, re-CREATE, cap overflow) — the caller
    // then treats the base as wholesale-rewritten.
    def dtChainDirs(b: FQN): Option[(Seq[String], Seq[String])] =
      for {
        fromPath <- st.offsets.get(b).flatMap(_._1.path)
        toPath <- curs(b).path
        dirs <- dtLogChainDirs(b, fromPath, toPath)
      } yield dirs
    // the same chain as data-file sets, for the telescoped join loop
    // (Streams.readFiles reads explicit parquet file lists with the
    // base's schema, so sidecar part-files slot straight in)
    def dtChainFiles(b: FQN): Option[(Set[String], Set[String])] =
      dtChainDirs(b).map(sidecarFiles)
    def joinRewriteDelta: Option[Map[FQN, (Set[String], Set[String])]] =
      st.inc match {
        case Some(DynamicTables.JoinDelta(am: DynamicTables.AggMerge))
            if am.retractable && st.bases.length >= 2 =>
          val per = st.bases.map { b =>
            st.offsets.get(b).flatMap { case (oref, ofs, ods) =>
              val (cfs, cds) = Streams.filesOf(spark, curs(b))
              (ofs, cfs) match {
                case (Some(of), Some(cf))
                    if curs(b).format == oref.format &&
                      ods.exists(_.isEmpty) && cds.exists(_.isEmpty) &&
                      ((of -- cf).isEmpty || (of & cf).nonEmpty) &&
                      of.forall(LakeFs.exists) =>
                  Some(b -> ((cf -- of, of -- cf)))
                case (Some(of), Some(_))
                    if of.forall(LakeFs.exists) =>
                  // a merge-refreshing DT base inside the join tree:
                  // its published sidecar chain IS the signed row delta
                  // (unchanged rows of touched groups appear on both
                  // sides and cancel in the linear folds), and the old
                  // binding for bases left of the delta reads the
                  // offset-time file set, which COW retains
                  dtChainFiles(b).map(b -> _)
                case _ => None
              }
            }
          }
          if (!per.forall(_.isDefined)) None
          else {
            val m = per.flatten.toMap
            // pure appends take the plain join path; this one exists
            // for the replaced-file case — and for any DT base whose
            // published chain resolved (the chain IS the exact signed
            // delta even when both sides are empty: a merge refresh
            // that swapped the base's path while changing zero rows).
            // Emptiness is not detectable from the raw guard once the
            // sign-partitioned sidecar write stopped materializing
            // empty part-files, so the chain's presence is the signal.
            val chainBase = st.bases.exists(b =>
              st.offsets.get(b).flatMap(_._1.path).exists(fp =>
                curs(b).path.exists(cp =>
                  fp != cp && dtLogChainDirs(b, fp, cp).isDefined)))
            if (m.values.exists(_._2.nonEmpty) || chainBase) Some(m)
            else None
          }
        case _ => None
      }
    // DT-over-DT across a merge-refreshing base: the base's merge
    // refresh SWAPS its materialization path, so file-set change
    // detection sees a wholesale rewrite — but the base published its
    // signed row delta ([[DtDelta]]): chain the log entries covering
    // this DT's recorded base path → the current one and consume the
    // sidecar rows directly. Sound for a retractable aggregate (fold
    // +Q(added rows) ⊎ −Q(removed rows)), for a MIN/MAX-bearing keyed
    // aggregate (the sidecar rows name the touched groups —
    // [[regroupSplice]] recomputes only those), and for a stateless
    // transform (multiset splice old ⊖ T(removed) ⊕ T(added));
    // join trees still degrade to full here.
    def dtChainDelta: Option[(Seq[String], Seq[String])] = {
      if (st.bases.length != 1) return None
      val okShape = st.inc match {
        case Some(am: DynamicTables.AggMerge) =>
          am.retractable || am.keys.nonEmpty
        case Some(DynamicTables.AppendTransform) => true
        case _                                   => false
      }
      if (!okShape) return None
      dtChainDirs(st.bases.head)
    }
    (st.inc, addedPerBase) match {
      case (Some(plan), Some(af)) if st.bases.length == 1 &&
          af(st.bases.head).nonEmpty =>
        val b = st.bases.head
        val cur = curs(b)
        val baseSchema = registry.load(cur).schema
        // substitute FIRST (registers the full base view), then re-bind
        // the view to the delta; spark.sql analysis inlines the binding
        val substituted = rewriteAndSubstitute(st.query)
        registry.bindTransient(b,
          Streams.readFiles(spark, cur, af(b), baseSchema))
        val deltaResult =
          try spark.sql(substituted)
          finally registry.bind(cur)
        DynamicTables.lastDeltaFiles = af(b).toSeq.sorted
        applyIncrement(plan, partialIfDerived(plan, deltaResult), "incremental-")
      case (Some(DynamicTables.JoinDelta(inner)), Some(af))
          if st.bases.length >= 2 && af.values.exists(_.nonEmpty) &&
            // the old-file-set re-reads are raw file-subset scans, so
            // bail to full when row-level delete files exist on any base
            st.bases.forall(b =>
              Streams.filesOf(spark, curs(b))._2.exists(_.isEmpty)) =>
        // Δ(A₁⋈…⋈Aₙ) telescopes on the FIRST base whose row is new:
        // part i binds bases < i to their OLD file sets, base i to its
        // delta, bases > i to their current state — each new join tuple
        // lands in exactly one part (see DynamicTables scaladoc). n = 2
        // reduces to ΔA ⋈ B_new ⊎ A_old ⋈ ΔB.
        val schemaOf = st.bases.map(b =>
          b -> registry.load(curs(b)).schema).toMap
        def oldView(b: FQN): DataFrame = {
          val old = st.offsets(b)._2.get
          if (old.isEmpty)
            registry.load(curs(b))
              .filter(org.apache.spark.sql.functions.lit(false))
          else Streams.readFiles(spark, curs(b), old, schemaOf(b))
        }
        val substituted = rewriteAndSubstitute(st.query)
        val parts = scala.collection.mutable.Buffer.empty[DataFrame]
        try {
          for (i <- st.bases.indices if af(st.bases(i)).nonEmpty) {
            for (j <- st.bases.indices) {
              val b = st.bases(j)
              if (j < i) registry.bindTransient(b, oldView(b))
              else if (j == i) registry.bindTransient(b,
                Streams.readFiles(spark, curs(b), af(b), schemaOf(b)))
              else registry.bind(curs(b))
            }
            // spark.sql analyzes eagerly, inlining the current bindings —
            // later iterations re-bind without disturbing earlier parts
            parts += partialIfDerived(inner, spark.sql(substituted))
          }
        } finally st.bases.foreach(b => registry.bind(curs(b)))
        DynamicTables.lastDeltaFiles =
          st.bases.flatMap(af(_)).distinct.sorted
        applyIncrement(inner, parts.reduce(_ unionByName _),
          "incremental-join-")
      case (Some(am: DynamicTables.AggMerge), None)
          if rewriteDelta.isDefined =>
        val (added, removed) = rewriteDelta.get
        val b = st.bases.head
        val cur = curs(b)
        val oref = st.offsets(b)._1
        val baseSchema = registry.load(cur).schema
        val substituted = rewriteAndSubstitute(st.query)
        // evaluate the defining query over ONLY `files`, partialized —
        // `removed` reads under the offset-time ref (its metadata still
        // lists those files), `added` under the current one
        def evalOver(files: Set[String], fileRef: TableRef): DataFrame = {
          registry.bindTransient(b,
            Streams.readFiles(spark, fileRef, files, baseSchema))
          try DynamicTables.partialize(spark.sql(substituted),
            force = am.having.isDefined)
          finally registry.bind(cur)
        }
        if (am.retractable) {
          val dNeg = DynamicTables.negateState(evalOver(removed, oref), am)
          val delta =
            if (added.isEmpty) dNeg
            else evalOver(added, cur).unionByName(dNeg)
          DynamicTables.lastDeltaFiles = (added ++ removed).toSeq.sorted
          applyIncrement(am, delta, "incremental-retract-")
        } else {
          // MIN/MAX state columns don't fold invertibly, but the rewrite
          // still refreshes incrementally: the delta files name every
          // group the DML could have changed (a group with no row in a
          // replaced file contributes identically before and after), so
          // ONLY those groups are recomputed and spliced over the
          // previous result — see [[regroupSplice]]. Guarded by
          // am.keys.nonEmpty in rewriteDelta: a global MIN/MAX has one
          // group = the whole base = full anyway.
          val keyCols = am.keys.map(org.apache.spark.sql.functions.col)
          val remKeys = evalOver(removed, oref).select(keyCols: _*)
          val touched = (if (added.isEmpty) remKeys
            else remKeys.unionByName(
              evalOver(added, cur).select(keyCols: _*))).distinct()
          if (!regroupSplice(am, touched, (added ++ removed).toSeq.sorted,
              "incremental-regroup-merge")) fullRefresh()
        }
      case (Some(DynamicTables.JoinDelta(am: DynamicTables.AggMerge)), None)
          if joinRewriteDelta.isDefined =>
        val chg = joinRewriteDelta.get
        val schemaOf = st.bases.map(b =>
          b -> registry.load(curs(b)).schema).toMap
        def oldView(b: FQN): DataFrame = {
          val old = st.offsets(b)._2.get
          if (old.isEmpty)
            registry.load(curs(b))
              .filter(org.apache.spark.sql.functions.lit(false))
          else Streams.readFiles(spark, st.offsets(b)._1, old, schemaOf(b))
        }
        val substituted = rewriteAndSubstitute(st.query)
        val parts = scala.collection.mutable.Buffer.empty[DataFrame]
        try {
          for (i <- st.bases.indices) {
            val (addedI, removedI) = chg(st.bases(i))
            // signed delta of base i: a +part over its added files and
            // a −part over its removed files, both under the SAME
            // old/new bindings of the other bases
            for ((files, neg) <- Seq((addedI, false), (removedI, true))
                 if files.nonEmpty) {
              for (j <- st.bases.indices) {
                val b = st.bases(j)
                if (j < i) registry.bindTransient(b, oldView(b))
                else if (j == i) registry.bindTransient(b,
                  Streams.readFiles(spark,
                    if (neg) st.offsets(b)._1 else curs(b),
                    files, schemaOf(b)))
                else registry.bind(curs(b))
              }
              val part = DynamicTables.partialize(spark.sql(substituted),
                force = am.having.isDefined)
              parts += (if (neg) DynamicTables.negateState(part, am)
                        else part)
            }
          }
        } finally st.bases.foreach(b => registry.bind(curs(b)))
        DynamicTables.lastDeltaFiles =
          st.bases.flatMap(b => chg(b)._1 ++ chg(b)._2).distinct.sorted
        if (parts.isEmpty)
          // every base's signed delta is empty (e.g. the DT base's
          // merge refresh swapped its path while touching zero rows):
          // the result is unchanged — advance offsets, write nothing
          DynamicTables.lastRefreshMode = "incremental-join-retract-merge"
        else applyIncrement(am, parts.reduce(_ unionByName _),
          "incremental-join-retract-")
      case (Some(plan), None) if dtChainDelta.isDefined =>
        val (addDirs, delDirs) = dtChainDelta.get
        val b = st.bases.head
        val cur = curs(b)
        val baseSchema = registry.load(cur).schema
        val substituted = rewriteAndSubstitute(st.query)
        // evaluate the defining query with the base view bound to the
        // published sidecar rows (explicit schema: a side with no
        // touched rows is an empty dir)
        def evalDirs(dirs: Seq[String], partialOf:
            Option[DynamicTables.AggMerge]): DataFrame = {
          registry.bindTransient(b,
            spark.read.schema(baseSchema).parquet(dirs: _*))
          try {
            val r = spark.sql(substituted)
            partialOf.fold(r)(am =>
              DynamicTables.partialize(r, force = am.having.isDefined))
          } finally registry.bind(cur)
        }
        DynamicTables.lastDeltaFiles = (addDirs ++ delDirs).sorted
        plan match {
          case am: DynamicTables.AggMerge if am.retractable => // has state
            val delta = evalDirs(addDirs, Some(am)).unionByName(
              DynamicTables.negateState(evalDirs(delDirs, Some(am)), am))
            applyIncrement(am, delta, "incremental-dtdelta-")
          case am: DynamicTables.AggMerge =>
            // MIN/MAX downstream of a merge-refreshing DT base: the
            // sidecar rows name the touched groups — recompute and
            // splice only those (regroupSplice)
            val keyCols = am.keys.map(org.apache.spark.sql.functions.col)
            val touched = evalDirs(addDirs ++ delDirs, Some(am))
              .select(keyCols: _*).distinct()
            if (!regroupSplice(am, touched, (addDirs ++ delDirs).sorted,
                "incremental-dtdelta-regroup")) fullRefresh()
          case _ => // AppendTransform: multiset splice, O(|result|)
            def aligned(df: DataFrame) = df.select(st.schema.fields.map(sf =>
              org.apache.spark.sql.functions.col(sf.name).cast(sf.dataType)
                .as(sf.name)).toIndexedSeq: _*)
            val tAdd = aligned(evalDirs(addDirs, None))
            val tDel = aligned(evalDirs(delDirs, None))
            DynamicTables.lastRefreshMode = "incremental-dtdelta-transform"
            swapMaterialization(f, ref, DynamicTables.spliceMultiset(
              registry.load(ref), tDel, tAdd, st.schema))
            // the transformed sidecar rows ARE this table's own signed
            // delta — republish so a transform DT can sit mid-chain
            publishDtDeltaRows(f, ref.path.get, tDel, tAdd)
        }
      case _ => fullRefresh()
    }
    st.offsets = snapshotOffsets(st.bases)
    status(s"Dynamic table ${f.table} successfully refreshed " +
      s"(${DynamicTables.lastRefreshMode}).")
    } // TableLocks
  }

  /** COW swap: write the new materialization beside the old one and
    * re-point the ref — the old version stays time-travelable, and the
    * new plan may read the old files while writing. */
  private def swapMaterialization(f: FQN, ref: TableRef,
      df: DataFrame): Unit = {
    val newPath =
      s"${ref.path.get.split("__v").head}__v${snapshotSeq.incrementAndGet()}"
    val (instrumented, record) = AutoStats.observedForWrite(spark, df, newPath)
    AutoStats.invalidate(newPath)
    instrumented.write.mode("overwrite").parquet(newPath)
    record()
    LakeFs.primeSchema(newPath, df.schema)
    val newRef = ref.copy(path = Some(newPath))
    registry.register(newRef)
    recordVersion(f, newRef)
  }

  /** Engine-internal parquet read with the schema memo
    * ([[LakeFs.readParquet]]) — every write site primes the memo, so the
    * write→read-back pattern the DT refresh machinery lives on costs
    * zero schema-inference jobs. */
  private def readStateParquet(path: String): DataFrame =
    LakeFs.readParquet(spark, path)

  /** The data files of `f`'s storage before an append-style load, for
    * [[logInsert]]; None (no listing) when no stream watches `f`. Call
    * under `f`'s writer lock, like the load and the log entry. */
  private def filesBeforeInsert(f: FQN, ref: TableRef): Option[Set[String]] =
    if (streamCat.watched(f)) Streams.filesOf(spark, ref)._1 else None

  /** Record the files `f` gained across an append-style load ([[StreamCatalog]]);
    * `before` is [[filesBeforeInsert]]. Non-append outcomes (overwrite;
    * non-file-addressable storage) and unwatched tables clear the log. */
  private def logInsert(f: FQN, before: Option[Set[String]]): Unit = {
    val after = before.flatMap(_ =>
      registry.resolve(f).flatMap(r => Streams.filesOf(spark, r)._1))
    (before, after) match {
      case (Some(b), Some(a)) if b.subsetOf(a) =>
        streamCat.insertLog.updateWith(f)(v =>
          Some(v.getOrElse(Vector.empty) :+ ((streamCat.nextSeq(), a -- b))))
      case _ => streamCat.insertLog.remove(f)
    }
  }

  /** Insert-log entries for `f` recorded after change seq `sinceSeq`;
    * None when the log was cleared (history incomplete). */
  private def insertHistorySince(f: FQN, sinceSeq: Long): Option[Seq[Set[String]]] =
    streamCat.insertLog.get(f).map(_.collect { case (seq, fs) if seq > sinceSeq => fs })

  /** MERGE may insert rows mixed into its rewritten files — a shape the
    * append log cannot describe. Clearing degrades APPEND_ONLY streams
    * on the target to the net-diff fallback (which DOES see the merge's
    * inserts) instead of silently omitting them. Called by [[Dml]]. */
  private[engine] def clearInsertLog(f: FQN): Unit = streamCat.insertLog.remove(f)

  /** Record an UPDATE's file-set transition ([[StreamCatalog]]); `before`
    * captured before the commit. Non-file-addressable outcomes clear the
    * log. */
  private[engine] def logUpdateTransition(f: FQN,
      before: Option[Set[String]]): Unit = {
    val after = registry.resolve(f).flatMap(r => Streams.filesOf(spark, r)._1)
    (before, after) match {
      case (Some(b), Some(a)) if b != a =>
        streamCat.updateLog.updateWith(f)(v =>
          Some((v.getOrElse(Vector.empty) :+ ((b, a))).takeRight(64)))
      case (Some(_), Some(_)) => // no files changed: nothing to record
      case _ => streamCat.updateLog.remove(f)
    }
  }

  /** True when the transition `of` → `cf` is exactly a chain of logged
    * UPDATE commits. */
  private def isUpdateChain(f: FQN, of: Set[String], cf: Set[String]): Boolean = {
    if (of == cf) return false
    val entries = streamCat.updateLog.getOrElse(f, Vector.empty)
    var at = of; var steps = 0
    while (at != cf) {
      if (steps >= entries.length) return false
      entries.find(_._1 == at) match {
        case Some((_, to)) => at = to
        case None          => return false
      }
      steps += 1
    }
    true
  }

  private def doCreateStream(orReplace: Boolean, ifNotExists: Boolean,
      name: String, target: String, rest: String): DataFrame = {
    val f = fqn(name)
    if (streams.contains(f) && !orReplace) {
      if (ifNotExists) return status(s"${f.table} already exists, statement succeeded.")
      throw new IllegalArgumentException(s"stream ${f.flat} already exists")
    }
    val tf = fqn(target)
    val appendOnly = "(?i)APPEND_ONLY\\s*=\\s*TRUE".r
      .findFirstIn(rest).isDefined
    val showInitial = "(?i)SHOW_INITIAL_ROWS\\s*=\\s*TRUE".r
      .findFirstIn(rest).isDefined
    // the offset's file set and change seq are taken, and the stream
    // registered, under the target's writer lock: one consistent point in
    // the target's commit order
    TableLocks.withLocks(Seq(tf.flat)) {
      val ref = registry.resolve(tf).orElse(resolveExternal(tf)).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE STREAM: table ${tf.flat} does not exist"))
      val (files, deletes) = Streams.filesOf(spark, ref)
      val st =
        if (showInitial) {
          // offset at the EMPTY file set: the existing rows surface as the
          // first delta (file-addressable storage only — elsewhere there is
          // no before-creation snapshot to diff against)
          require(files.isDefined, "SHOW_INITIAL_ROWS requires " +
            s"file-addressable storage (table ${tf.flat} is ${ref.format})")
          // -1 = sentinel: initial rows predate any logged insert, so the
          // insert-history replay cannot reconstruct this stream's contents
          new StreamState(tf, appendOnly, ref,
            Some(Set.empty), Some(Set.empty), offsetSeq = -1L)
        } else
          new StreamState(tf, appendOnly, ref, files, deletes,
            offsetSeq = streamCat.nextSeq())
      streams.put(f, st)
    }
    status(s"Stream ${f.table} successfully created.")
  }

  /** Consume rule: after a successful DML/CTAS statement, every stream it
    * read advances to the version THE READ SAW (captured in
    * [[ensureView]] under the target's writer lock) — advancing to the
    * table's current version instead would silently skip rows a
    * concurrent writer appended mid-statement. */
  private def advanceStreams(): Unit = streamsReadInStmt.foreach { f =>
    streams.get(f).foreach { st =>
      streamReadVersion.get(f) match {
        case Some((cur, files, deletes, seq)) =>
          st.offsetRef = cur
          st.offsetFiles = files
          st.offsetDeleteFiles = deletes
          st.offsetSeq = seq
        case None => // no captured read version (defensive) — re-list
          registry.resolve(st.target).foreach { cur =>
            val (files, deletes) = Streams.filesOf(spark, cur)
            st.offsetRef = cur
            st.offsetFiles = files
            st.offsetDeleteFiles = deletes
            st.offsetSeq = streamCat.nextSeq()
          }
      }
    }
  }

  /** External (Iceberg-REST / Polaris-shape) catalogs consulted on a
    * registry miss, in attach order — the reference's `--universql-catalog`
    * seam (`universql/catalog/iceberg.py`). Resolutions are cached into
    * the session registry. */
  private val externalCatalogs =
    scala.collection.mutable.ArrayBuffer.empty[RestCatalog]

  def attachRestCatalog(cat: RestCatalog): Unit =
    externalCatalogs.synchronized { externalCatalogs += cat }

  private def resolveExternal(f: FQN): Option[TableRef] =
    externalCatalogs.synchronized {
      externalCatalogs.iterator.flatMap(_.resolve(f)).nextOption()
    }.map { ref => registry.register(ref); ref }

  spark.udf.register("current_warehouse", () => "x-spark")

  // TO_JSON is type-dispatched (variant-text identity vs struct
  // serialization) — a Catalyst RuntimeReplaceable, since only the
  // analyzer knows the argument type (ADVICE r10: the token-shape
  // detection missed struct-typed columns/subquery outputs)
  spark.sessionState.functionRegistry.createOrReplaceTempFunction(
    "graft_to_json",
    exprs => graft.functions.VariantToJson(exprs.head), "built-in")

  // TRUNC/DATE_TRUNC with a date part are type-polymorphic in Snowflake
  // (DATE in → DATE out, TIMESTAMP in → truncated TIMESTAMP); Spark's
  // trunc/date_trunc each destroy one of those types, so the rewriter
  // routes both to this RuntimeReplaceable (ADVICE r13 #1). The part is
  // always a canonical-name string literal emitted by the rewriter.
  spark.sessionState.functionRegistry.createOrReplaceTempFunction(
    "graft_trunc",
    exprs => {
      val part = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(s, _: StringType)
            if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"graft_trunc expects a literal part, got $other")
      }
      graft.functions.SnowTrunc(exprs.head, part)
    }, "built-in")

  // single-evaluation lowerings (round-13 directive #5): the rewriter
  // routes DIV0/DIV0NULL, numeric TRUNC, SPLIT_PART, and quarter/month
  // DATEDIFF here so shared operands bind ONCE (Catalyst With) instead
  // of being spliced 2-3x into the rendered SQL
  locally {
    import graft.functions.{SingleEval, SingleEvalFn}
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_div0", exprs =>
      SingleEvalFn("graft_div0", exprs,
        SingleEval.div0(exprs(0), exprs(1), nullAsZero = false)), "built-in")
    reg.createOrReplaceTempFunction("graft_div0null", exprs =>
      SingleEvalFn("graft_div0null", exprs,
        SingleEval.div0(exprs(0), exprs(1), nullAsZero = true)), "built-in")
    reg.createOrReplaceTempFunction("graft_ntrunc", exprs =>
      SingleEvalFn("graft_ntrunc", exprs,
        SingleEval.numTrunc(exprs.head, exprs.drop(1).headOption)), "built-in")
    reg.createOrReplaceTempFunction("graft_split_part", exprs =>
      SingleEvalFn("graft_split_part", exprs,
        SingleEval.splitPart(exprs(0), exprs(1), exprs(2))), "built-in")
    reg.createOrReplaceTempFunction("graft_ddiff_quarter", exprs =>
      SingleEvalFn("graft_ddiff_quarter", exprs,
        SingleEval.dateDiffOrdinal("quarter", exprs(0), exprs(1))), "built-in")
    reg.createOrReplaceTempFunction("graft_ddiff_month", exprs =>
      SingleEvalFn("graft_ddiff_month", exprs,
        SingleEval.dateDiffOrdinal("month", exprs(0), exprs(1))), "built-in")
  }

  // auto-collected table stats (AutoStats) reach plans through the CBO
  // stats visitor — session-scoped via the clone (see above). NOTE: with
  // CBO on and rowCount set, Spark's toPlanStats recomputes sizeInBytes
  // as rowCount × estimated row width, so AutoStats collects avg string
  // lengths too (ADVICE r5) to keep broadcast decisions realistic.
  spark.conf.set("spark.sql.cbo.enabled", "true")
  // trust bucket pre-sorts: with one file per bucket (CLUSTER BY CTAS and
  // OPTIMIZE both write exactly one) the scan reports its sort order and
  // co-located joins skip their Sorts entirely. Off by default in Spark
  // because it lists files at planning time; bounded here — bucket counts
  // are small and the file index is already materialized for the scan.
  spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

  def attachLake(dir: String, database: String = "GRAFT",
      schema: String = "PUBLIC",
      names: Seq[String] = graft.Tables.names): Unit =
    registry.registerLakeDir(dir, database, schema, names)

  private def fqn(name: String): FQN =
    Identifiers.fullQualifier(name, currentDatabase, currentSchema)

  private[engine] def qualify(name: String): FQN = fqn(name)

  /** Copy-on-write snapshot swap for DML: write `next` to a fresh snapshot
    * dir, point the registry at it, return the new row count. The old
    * snapshot stays on disk until dropped (Iceberg/Delta COW model —
    * a failed write never corrupts the current version). */
  private[engine] def swapSnapshot(f: FQN, ref: TableRef,
      next: DataFrame): Long = {
    // The returned row count rides the snapshot write itself as an
    // Observation (CollectMetrics) instead of a second pass over the
    // data just written — the old shape re-scanned the new snapshot
    // after every DML/TRUNCATE/OPTIMIZE/ALTER COLUMN swap (at 100 TB: a
    // full table read per statement, purely to report a count). Each
    // branch performs exactly one action over `next`, so the metric is
    // always populated; the read-back stays as a fallback for the
    // degenerate zero-task plans where no metric fires.
    val swapObs = org.apache.spark.sql.Observation()
    val next0 = next.observe(swapObs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__graft_swap_n"))
    def observedCount(readBack: => Long): Long =
      org.apache.spark.sql.GraftObservation.getOrEmpty(swapObs)
          .get("__graft_swap_n") match {
        case Some(n: Number) => n.longValue
        case _ => readBack
      }
    swapSnapshotCore(f, ref, next0, observedCount)
  }

  private def swapSnapshotCore(f: FQN, ref: TableRef, next: DataFrame,
      observedCount: (=> Long) => Long): Long = {
    if (ref.format == "iceberg") {
      val dir = graft.sources.IcebergLite.tableDir(ref.path.get) +
        s"__v${snapshotSeq.incrementAndGet()}"
      // the rewritten snapshot keeps the table's partition spec; the
      // rewrite IS the table, so its observed stats ride the commit
      val (instrumented, stats) = AutoStats.observed(spark, next)
      val newMeta = graft.sources.IcebergLite.write(spark, instrumented, dir,
        graft.sources.IcebergLite.partitionColumns(ref.path.get))
      AutoStats.recordIcebergWrite(spark, newMeta, stats())
      registry.register(ref.copy(path = Some(newMeta)))
      recordVersion(f, ref.copy(path = Some(newMeta)))
      observedCount(graft.sources.IcebergLite.scan(spark, newMeta).count())
    } else if (ref.format == "bucketed" && {
        // a bucketed table's COW snapshot re-clusters through the recorded
        // bucket spec whenever the rewritten frame still carries every
        // cluster key — DML must not silently trade away the
        // zero-exchange join property the user asked for with CLUSTER BY
        val spec = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(ref.path.get)).bucketSpec
        spec.exists(_.bucketColumnNames.forall(next.columns.contains))
      }) {
      val oldCat = ref.path.get
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(oldCat)).bucketSpec.get
      val newCat = oldCat.replaceAll("_v\\d+$", "") +
        s"_v${snapshotSeq.incrementAndGet()}"
      graft.operators.Bucketing.writeBucketedMulti(
        next, newCat, spec.bucketColumnNames, spec.numBuckets)
      val newRef = ref.copy(path = Some(newCat))
      registry.register(newRef)
      recordVersion(f, newRef)
      observedCount(spark.table(newCat).count())
    } else {
      // bucketed tables whose rewrite dropped a cluster key downgrade to
      // plain parquet — loudly, not silently (ADVICE r5)
      if (ref.format == "bucketed")
        System.err.println(s"WARNING: DML on bucketed table ${f.table} " +
          "dropped a CLUSTER BY key; table downgraded to plain parquet " +
          "(re-create with CREATE TABLE … CLUSTER BY … AS SELECT to restore)")
      val base =
        if (ref.format == "bucketed")
          s"$warehouseDir/${f.flat.toLowerCase}"
        else ref.path.get.replaceAll("__v\\d+$", "")
      val newRef = ref.copy(path = None, format = "parquet")
      val newPath = s"${base}__v${snapshotSeq.incrementAndGet()}"
      val (instrumented, record) =
        AutoStats.observedForWrite(spark, next, newPath)
      instrumented.write.mode("overwrite").parquet(newPath)
      record()
      LakeFs.primeSchema(newPath, next.schema)
      registry.register(newRef.copy(path = Some(newPath)))
      recordVersion(f, newRef.copy(path = Some(newPath)))
      observedCount(spark.read.parquet(newPath).count())
    }
  }
  /** JVM-global (not per-session): two sessions COW-swapping the same
    * table must never mint the same `__vN` path — a collision overwrites
    * the live snapshot's files (ConcurrencySpec). */
  private def snapshotSeq = GraftSession.snapshotSeq

  /** Writer-lock key of a named table ([[TableLocks]]): its normalized
    * FQN — stable across Iceberg commits, identical in every session
    * that resolves the same name. */
  private[engine] def lockKeyOf(rawName: String): Option[String] =
    try Some(fqn(rawName).flat) catch { case _: Exception => None }

  private[engine] def countStatus(label: String, n: Long): DataFrame =
    spark.createDataFrame(
      List(Row(java.lang.Long.valueOf(n))).asJava,
      StructType(Seq(StructField(label, org.apache.spark.sql.types.LongType))))

  // ── statement driver (A2) ──────────────────────────────────────────────
  /** Serializes statements WITHIN this session: the wire façade runs
    * asyncExec statements on a pool thread while the same token can POST
    * another query-request on an HTTP thread (the normal connector
    * pattern for async), and the per-statement state below
    * (streamsReadInStmt / currentSeq / infoSchemaReadInStmt /
    * lastQueryLog) is stack-unfriendly session state — unsynchronized,
    * concurrent same-session statements could advance stream offsets for
    * the wrong statement or cross-wire LAST_QUERY_ID bookkeeping (ADVICE
    * r14 #1). Sessions stay independent: each has its own monitor, so
    * cross-session parallelism is untouched (Snowflake likewise queues
    * statements within one session). Reentrant, so nested sql() calls
    * (DT refresh) are fine. */
  private val stmtLock = new Object
  /** Execute a (possibly multi-statement) Snowflake-dialect batch; returns
    * the last statement's result. `queryId` names the batch's last
    * statement in LAST_QUERY_ID, RESULT_SCAN and QUERY_HISTORY — the wire
    * façade passes the id its client sees; every other statement gets a
    * session-minted id. */
  def sql(batch: String, queryId: Option[String] = None): DataFrame = stmtLock.synchronized {
    val stmts = SqlTokens.splitStatements(batch)
    require(stmts.nonEmpty, "empty batch")
    stmts.zipWithIndex.map { case (st, k) =>
      currentSeq = stmtSeqGen.incrementAndGet()
      val t0 = System.nanoTime()
      streamsReadInStmt.clear()
      streamReadVersion.clear()
      infoSchemaReadInStmt = false
      val res = executeOne(substitutePreDispatch(st))
      if (streamsReadInStmt.nonEmpty &&
          consumesStreamsRe.pattern.matcher(st).matches())
        advanceStreams()
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      lastQueryLog =
        s"Run locally on Spark: ${GraftSession.costEstimate(elapsedSec)}"
      val qid = queryId.filter(_ => k == stmts.length - 1)
        .getOrElse(f"01-graft-$sessionId%04d-$currentSeq%06d")
      queryLog += ((currentSeq, qid))
      statementHistory.synchronized {
        statementHistory += ((qid, st.trim, System.currentTimeMillis(),
          (elapsedSec * 1000).toLong, GraftSession.costEstimate(elapsedSec)))
        if (statementHistory.length > 1024) statementHistory.remove(0)
      }
      resultCache.synchronized {
        resultCache.put(qid, res)
        while (resultCache.size > 32) resultCache.remove(resultCache.head._1)
      }
      res
    }.last
  }

  /** Reference-parity per-statement cost line (`universql/util.py:375-406`
    * via `warehouse/duckdb.py:147-154`): electricity + hardware
    * depreciation for the statement's wall time, e.g.
    * `Run locally on Spark: ~ $0.000004`. Statement PLANNING time only for
    * lazy results — like the reference, which logs around its execute call. */
  @volatile var lastQueryLog: String = ""

  // ── time travel (Snowflake AT/BEFORE clauses) ──────────────────────────
  /** Statement sequence of the statement currently executing; qids are
    * recorded in [[queryLog]] as statements complete, so LAST_QUERY_ID()
    * inside a statement sees only its predecessors (Snowflake semantics). */
  private var currentSeq: Long = 0L
  private val stmtSeqGen = new java.util.concurrent.atomic.AtomicLong(0)
  private val queryLog = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
  /** Per-table version history: (creating statement seq, wall-clock ms,
    * ref). Every ref change that PRESERVES the prior snapshot (CTAS,
    * copy-on-write DML, Iceberg append) appends here; in-place parquet
    * appends (INSERT/COPY into a plain lake dir) invalidate older
    * versions, so they reset the history to the post-change state and
    * travel past them fails loudly. */
  private val tableHistory = scala.collection.concurrent.TrieMap
    .empty[FQN, Vector[(Long, Long, TableRef)]]

  private[engine] def recordVersion(f: FQN, ref: TableRef): Unit = {
    invalidateResultReuse(f)
    tableHistory.updateWith(f)(h => Some(h.getOrElse(Vector.empty) :+
      ((currentSeq, System.currentTimeMillis(), ref))))
  }

  private def resetHistory(f: FQN, ref: TableRef): Unit = {
    invalidateResultReuse(f)
    tableHistory.put(f, Vector((currentSeq, System.currentTimeMillis(), ref)))
  }

  /** Eagerly evict (and unpersist) result-reuse entries whose fingerprint
    * covers a just-written base. The fingerprint check alone only protects
    * a RE-RUN of the identical statement text: once a reuse persisted its
    * anchor, Spark's CacheManager substitutes the cached blocks into ANY
    * later plan that embeds the same subplan (CTAS/INSERT-SELECT of the
    * same text, full refresh of a DT defined as the query, `SELECT * FROM
    * (Q) LIMIT n`) — InMemoryFileIndex equality ignores the file listing,
    * so those statements would silently read pre-write blocks. Every
    * write funnels through recordVersion/resetHistory/drop, so eviction
    * here closes the hole at O(cache-size) string work, no Spark job. */
  private def invalidateResultReuse(f: FQN): Unit = reuseCache.synchronized {
    val prefix = f.flat + ":"
    val stale = reuseCache.collect {
      case (k, (fp, anchor, wasHit))
          if fp.split(";").exists(_.startsWith(prefix)) =>
        (k, anchor, wasHit)
    }.toSeq
    stale.foreach { case (k, anchor, wasHit) =>
      if (wasHit) anchor.unpersist(false)
      reuseCache.remove(k)
    }
  }

  /** The substitutions that run before dispatch, in one walk:
    * LAST_QUERY_ID([n]) → the qid string literal, resolved against this
    * session's statement log (Snowflake indexing: default/−1 = most
    * recent, −2 = one earlier, positive n = n-th statement of the
    * session), and SYSTEM$STREAM_HAS_DATA('name') → TRUE|FALSE, resolved
    * eagerly against the stream registry (file-set comparison — no Spark
    * job on the append path). Occurrences inside string literals and
    * comments survive. */
  private def substitutePreDispatch(stmt: String): String = {
    val up = stmt.toUpperCase
    if (!up.contains("LAST_QUERY_ID") && !up.contains("SYSTEM$STREAM_HAS_DATA"))
      return stmt
    render(replaceCalls(lex(stmt), Set("LAST_QUERY_ID", "SYSTEM$STREAM_HAS_DATA")) {
      case ("LAST_QUERY_ID", args) =>
        val argText = render(args.filter(isSig))
        val n = if (argText.isEmpty) -1 else argText.toInt
        val idx = if (n > 0) n - 1 else queryLog.length + n
        require(idx >= 0 && idx < queryLog.length,
          s"LAST_QUERY_ID($argText): no such statement in this session")
        Some(Seq(Str("'" + queryLog(idx)._2 + "'")))
      case (_, args) =>
        val f = fqn(render(args).trim.stripPrefix("'").stripSuffix("'"))
        val st = streams.getOrElse(f, throw new IllegalArgumentException(
          s"SYSTEM$$STREAM_HAS_DATA: unknown stream ${f.flat}"))
        Some(Seq(Ident(if (Streams.hasData(spark, registry, st)) "TRUE" else "FALSE")))
    })
  }

  /** Resolve `table AT|BEFORE (OFFSET|TIMESTAMP|STATEMENT => v)` to the
    * historical snapshot ref. */
  private[engine] def resolveAsOf(f: FQN, kind: String, spec: String): TableRef = {
    val specRe = "(?is)^\\s*(OFFSET|TIMESTAMP|STATEMENT)\\s*=>\\s*(.+?)\\s*$".r
    val hist = tableHistory.getOrElse(f, Vector.empty)
    require(hist.nonEmpty,
      s"time travel data is not available for $f (no recorded versions)")
    val chosen: Option[(Long, Long, TableRef)] = spec.trim match {
      case specRe(which, rawV) =>
        val v = rawV.trim
        which.toUpperCase match {
          case "STATEMENT" =>
            val qid = v.stripPrefix("'").stripSuffix("'")
            val seq = queryLog.find(_._2 == qid).map(_._1).getOrElse(
              throw new IllegalArgumentException(s"unknown statement id $qid"))
            // AT = state once that statement completed; BEFORE = just prior
            if (kind == "BEFORE") hist.filter(_._1 < seq).lastOption
            else hist.filter(_._1 <= seq).lastOption
          case "TIMESTAMP" =>
            val lit = v.stripPrefix("'").takeWhile(_ != '\'')
            val fmt = java.time.format.DateTimeFormatter.ofPattern(
              "yyyy-MM-dd HH:mm:ss[.SSS]")
            val ms = java.time.LocalDateTime.parse(lit, fmt)
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            if (kind == "BEFORE") hist.filter(_._2 < ms).lastOption
            else hist.filter(_._2 <= ms).lastOption
          case "OFFSET" =>
            val ms = System.currentTimeMillis() + (v.toDouble * 1000).toLong
            hist.filter(_._2 <= ms).lastOption
        }
      case other => throw new IllegalArgumentException(
        s"unsupported time-travel spec: $other")
    }
    chosen.map(_._3).getOrElse(throw new IllegalArgumentException(
      s"time travel data is not available for $f at $kind($spec) — the " +
      "requested point precedes the oldest retained version (in-place " +
      "INSERT/COPY loads invalidate earlier versions)"))
  }

  /** Used by [[TableResolver]] for `t AT(…)` / `t BEFORE(…)`: register the
    * historical snapshot as a temp view, return its flat name. */
  private[engine] def ensureAsOfView(f: FQN, kind: String,
      spec: String): Option[String] =
    registry.resolve(f).map { _ =>
      val ref = resolveAsOf(f, kind.toUpperCase, spec)
      val vn = viewName(f) + "_asof" + java.lang.Integer.toHexString(
        (kind + spec).hashCode)
      registry.load(ref).createOrReplaceTempView(vn)
      vn
    }

  /** `t CHANGES (INFORMATION => DEFAULT | APPEND_ONLY) AT|BEFORE (…)` —
    * Snowflake's stream-semantics-without-a-stream surface: the net row
    * changes between a historical version and the table's current
    * state, with the same METADATA$ columns a STREAM emits. Implemented
    * as a synthetic stream offset at the resolved version feeding the
    * SAME delta engine, so every read path applies — pure-append
    * incremental, insert-history, pruned cow-diff, UPDATE-chain
    * ISUPDATE attribution, and DT sidecar chains. */
  private[engine] def ensureChangesView(f: FQN, info: String, kind: String,
      spec: String, endSpec: Option[String] = None): Option[String] =
    registry.resolve(f).map { _ =>
      val oref = resolveAsOf(f, kind.toUpperCase, spec)
      // optional END (TIMESTAMP|STATEMENT => …) closes the span at a
      // historical version — resolved like AT (state as of that point);
      // absent END means "to the current state"
      val endRef = endSpec.map(e => resolveAsOf(f, "AT", e))
      val (ofs, ods) = Streams.filesOf(spark, oref)
      val st = new StreamState(f, info.equalsIgnoreCase("APPEND_ONLY"),
        oref, ofs, ods, offsetSeq = -1L)
      val dtChain = for {
        cur <- endRef.orElse(registry.resolve(f))
        fromPath <- oref.path
        toPath <- cur.path
        dirs <- dtLogChainDirs(f, fromPath, toPath)
      } yield sidecarFiles(dirs)
      val vn = viewName(f) + "_chg" + java.lang.Integer.toHexString(
        (info + kind + spec + endSpec.getOrElse("")).hashCode)
      Streams.delta(spark, registry, st, None,
          (of, cf) => isUpdateChain(f, of, cf), dtChain, dtGroupKeys(f),
          endRef)
        .createOrReplaceTempView(vn)
      vn
    }

  private val createRe =
    ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?(TEMP\\s+|TEMPORARY\\s+)?(ICEBERG\\s+)?" +
     "(TABLE|VIEW)\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w$\".]+)\\s*(.*)$").r
  private val useRe   = "(?is)^USE\\s+(?:(DATABASE|SCHEMA|WAREHOUSE|ROLE)\\s+)?([\\w$\".]+)\\s*$".r
  private val dropRe  = "(?is)^DROP\\s+(?:TABLE|VIEW)\\s+(IF\\s+EXISTS\\s+)?([\\w$\".]+)\\s*$".r
  private val undropRe = "(?is)^UNDROP\\s+TABLE\\s+([\\w$\".]+)\\s*$".r
  private val insertRe = "(?is)^INSERT\\s+(OVERWRITE\\s+)?INTO\\s+([\\w$\".]+)\\s*(.*)$".r
  private val copyRe  = "(?is)^COPY\\s+INTO\\s+([\\w$\".]+)\\s+FROM\\s+(.*)$".r
  private val showRe  = "(?is)^SHOW\\s+(?:TERSE\\s+)?(TABLES|VIEWS|SCHEMAS|DATABASES|OBJECTS|STAGES|FUNCTIONS|SEQUENCES|STREAMS|FILE\\s+FORMATS|DYNAMIC\\s+TABLES)\\b.*$".r
  private val truncateRe = "(?is)^TRUNCATE\\s+(?:TABLE\\s+)?(?:IF\\s+EXISTS\\s+)?([\\w$\".]+)\\s*$".r
  private val optimizeRe = "(?is)^OPTIMIZE\\s+(?:TABLE\\s+)?([\\w$\".]+)\\s*$".r
  private val alterRe = "(?is)^ALTER\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?([\\w$\".]+)\\s+(.*)$".r
  private val listRe = "(?is)^(?:LIST|LS)\\s+(\\S+)\\s*$".r
  private val showColsRe = "(?is)^SHOW\\s+COLUMNS\\s+IN\\s+(?:TABLE\\s+)?([\\w$\".]+)\\s*$".r
  private val descRe  = "(?is)^DESC(?:RIBE)?\\s+(?:TABLE\\s+)?([\\w$\".]+)\\s*$".r
  private val stageRe =
    "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?STAGE\\s+([\\w$\".]+)\\s+.*?URL\\s*=\\s*'([^']+)'.*$".r
  private val descStageRe = "(?is)^DESC(?:RIBE)?\\s+STAGE\\s+([\\w$\".]+)\\s*$".r
  private val fileFormatRe =
    "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?FILE\\s+FORMAT\\s+([\\w$\".]+)\\s+(.*)$".r
  private val unloadRe = "(?is)^COPY\\s+INTO\\s+(@\\S+)\\s+FROM\\s+(.*)$".r
  private val explainRe = "(?is)^EXPLAIN\\s+(?:USING\\s+\\w+\\s+)?(.*)$".r
  private val createFnRe =
    ("(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?FUNCTION\\s+([\\w$\".]+)\\s*" +
     "\\(([^)]*)\\)\\s*RETURNS\\s+[\\w().,\\s]+?(?:LANGUAGE\\s+SQL\\s+)?AS\\s+" +
     "(?:\\$\\$(.*)\\$\\$|'((?:[^']|'')*)')\\s*$").r
  private val dropFnRe =
    "(?is)^DROP\\s+FUNCTION\\s+(?:IF\\s+EXISTS\\s+)?([\\w$\".]+)\\s*(?:\\([^)]*\\))?\\s*$".r
  private val createSeqRe =
    "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?SEQUENCE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w$\".]+)\\s*(.*)$".r
  private val dropSeqRe =
    "(?is)^DROP\\s+SEQUENCE\\s+(?:IF\\s+EXISTS\\s+)?([\\w$\".]+)\\s*$".r
  private val createStreamRe =
    ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?STREAM\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
     "([\\w$\".]+)\\s+ON\\s+TABLE\\s+([\\w$\".]+)\\s*(.*)$").r
  private val dropStreamRe =
    "(?is)^DROP\\s+STREAM\\s+(IF\\s+EXISTS\\s+)?([\\w$\".]+)\\s*$".r
  private val createDynRe =
    ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?DYNAMIC\\s+TABLE\\s+" +
     "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w$\".]+)\\s+(.*)$").r
  private val alterDynRe =
    ("(?is)^ALTER\\s+DYNAMIC\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?" +
     "([\\w$\".]+)\\s+(REFRESH|SUSPEND|RESUME)\\s*$").r
  private val dropDynRe =
    "(?is)^DROP\\s+DYNAMIC\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?([\\w$\".]+)\\s*$".r
  /** Statements whose successful completion CONSUMES the streams they
    * read (advances their offset to the current table version) — DML and
    * CTAS, per Snowflake; plain SELECT and CREATE VIEW never advance.
    * `COPY INTO @stage` (unload) is excluded via the [^@] guard. */
  private val consumesStreamsRe =
    ("(?is)^\\s*(?:INSERT|MERGE|UPDATE|DELETE|COPY\\s+INTO\\s+[^@\\s]|" +
     "CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?(?:ICEBERG\\s+)?TABLE)\\b.*$").r
  /** Cloud-services / account statements a script carries but an offline
    * single-user engine has nothing to do for — accepted as successful
    * no-ops, the way Snowflake acks them without warehouse work. */
  private val noopRe =
    ("(?is)^(GRANT|REVOKE|COMMENT\\s+ON|ALTER\\s+SESSION|" +
     "BEGIN(?:\\s+TRANSACTION|\\s+WORK)?|COMMIT(?:\\s+WORK)?|" +
     "USE\\s+SECONDARY\\s+ROLES)\\b.*$").r

  /** ALTER SESSION SET USE_CACHED_RESULT — the one session parameter with
    * local behavior (result reuse, [[runQueryCached]]); the reference's own
    * benchmark script sets it
    * (/root/reference/resources/dwh-benchmark/clickbench.sql:116). Other
    * ALTER SESSION forms stay no-op acks (noopRe). */
  private val alterSessionCacheRe =
    "(?is)^ALTER\\s+SESSION\\s+SET\\s+USE_CACHED_RESULT\\s*=\\s*'?(\\w+)'?\\s*$".r

  private def executeOne(stmt: String): DataFrame = stmt.trim match {
    case alterSessionCacheRe(v) =>
      // Snowflake accepts TRUE/FALSE bare or quoted; anything else is an
      // invalid-value error, not a silent FALSE
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"invalid value [$v] for session parameter USE_CACHED_RESULT")
      useCachedResult = v.equalsIgnoreCase("true")
      if (!useCachedResult) reuseCache.synchronized {
        reuseCache.values.foreach(_._2.unpersist(false))
        reuseCache.clear()
      }
      status("Statement executed successfully.")
    case useRe(kind, name) => doUse(Option(kind).map(_.toUpperCase), name)
    case stageRe(name, url) =>
      stages.put(Identifiers.normalizePart(name), url.stripSuffix("/"))
      status(s"Stage area ${name.toUpperCase} successfully created.")
    case descStageRe(name) =>
      val n = Identifiers.normalizePart(name)
      val url = stages.getOrElse(n,
        throw new IllegalArgumentException(s"unknown stage @$n"))
      spark.createDataFrame(
        List(Row(n, url)).asJava,
        StructType(Seq(StructField("name", StringType),
          StructField("url", StringType))))
    case fileFormatRe(name, rest) =>
      fileFormats.put(Identifiers.normalizePart(name), parseOptionPairs(rest))
      status(s"File format ${name.toUpperCase} successfully created.")
    case createFnRe(name, params, bodyDollar, bodyQuoted) =>
      val body = Option(bodyDollar).getOrElse(
        Option(bodyQuoted).map(_.replace("''", "'")).getOrElse(""))
      require(body.trim.nonEmpty, "CREATE FUNCTION needs a body")
      val ps = params.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .map(p => Identifiers.normalizePart(p.split("\\s+").head))
      sqlFunctions.put(Identifiers.normalizePart(name), (ps, lex(body)))
      status(s"Function ${name.toUpperCase} successfully created.")
    case dropFnRe(name) =>
      sqlFunctions.remove(Identifiers.normalizePart(name))
      status("Statement executed successfully.")
    case createSeqRe(name, rest) =>
      def opt(kw: String): Option[Long] =
        s"(?is)\\b$kw\\s*(?:=|WITH|BY)?\\s*(-?\\d+)".r
          .findFirstMatchIn(rest).map(_.group(1).toLong)
      val start = opt("START").getOrElse(1L)
      val inc = opt("INCREMENT").getOrElse(1L)
      require(inc != 0, "INCREMENT must be non-zero")
      sequences.put(Identifiers.normalizePart(name),
        (start, inc, new java.util.concurrent.atomic.AtomicLong(start)))
      status(s"Sequence ${name.toUpperCase} successfully created.")
    case dropSeqRe(name) =>
      sequences.remove(Identifiers.normalizePart(name))
      status("Statement executed successfully.")
    case createDynRe(orReplace, ifNotExists, name, rest) =>
      doCreateDynamic(orReplace != null, ifNotExists != null, name, rest)
    case alterDynRe(name, action) => action.toUpperCase match {
      case "REFRESH" => doRefreshDynamic(name)
      case _ => // SUSPEND / RESUME: scheduling decoration, no local scheduler
        status("Statement executed successfully.")
    }
    case dropDynRe(ifExists, name) =>
      val f = fqn(name)
      if ({ dtDeltaLog.remove(f).foreach(dropSidecars)
            dynamicTables.remove(f) }.isEmpty &&
          ifExists == null)
        throw new IllegalArgumentException(s"unknown dynamic table ${f.flat}")
      doDrop(ifExists = true, name)
    case createStreamRe(orReplace, ifNotExists, name, target, rest) =>
      doCreateStream(orReplace != null, ifNotExists != null, name, target, rest)
    case dropStreamRe(ifExists, name) =>
      val f = fqn(name)
      if (streams.remove(f).isEmpty && ifExists == null)
        throw new IllegalArgumentException(s"unknown stream ${f.flat}")
      status(s"${Identifiers.normalizePart(name)} successfully dropped.")
    case noopRe(_) => status("Statement executed successfully.")
    case r if r.toUpperCase.startsWith("ROLLBACK") =>
      throw new UnsupportedOperationException(
        "ROLLBACK not supported: the engine is autocommit; every statement " +
        "is an atomic snapshot swap")
    case unloadRe(target, rest) => doUnload(target, rest)
    case explainRe(inner) if inner.trim.nonEmpty =>
      val text = runQuery(inner).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      spark.createDataFrame(
        text.split("\n").toList.map(Row(_)).asJava,
        StructType(Seq(StructField("plan", StringType))))
    case createRe(orReplace, temp, iceberg, kind, ifNotExists, name, rest) =>
      doCreate(orReplace != null, temp != null, kind.equalsIgnoreCase("VIEW"),
        ifNotExists != null, name, rest, iceberg != null)
    case dropRe(ifExists, name) => doDrop(ifExists != null, name)
    case undropRe(name) => doUndrop(name)
    case truncateRe(name) => doTruncate(name)
    case optimizeRe(name) => doOptimize(name)
    case alterRe(name, action) => doAlter(name, action.trim)
    case listRe(src) if src.startsWith("@") => doList(src)
    case showColsRe(name) => doShowColumns(name)
    case insertRe(overwrite, name, body) => doInsert(overwrite != null, name, body)
    case copyRe(name, rest) => doCopy(name, rest)
    case showRe(what) => doShow(what.toUpperCase.replaceAll("\\s+", " "))
    case descRe(name) => doDescribe(name)
    case dml if Dml.matches(dml) => Dml.execute(this, dml)
    case q => runQueryCached(q)
  }

  // ── query result reuse (Snowflake USE_CACHED_RESULT) ───────────────────
  /** Snowflake's result cache, locally: a SELECT whose rewritten text ran
    * before in this session, over base tables whose storage is unchanged,
    * reuses the earlier result instead of recomputing. Freshness is
    * decided from pure metadata — the same per-base (data files, delete
    * files) fingerprint the CDC streams and dynamic-table refresh use; no
    * Spark job runs to validate a hit. Snowflake's own reuse conditions
    * apply: deterministic plans only, no time-context/random functions,
    * file-addressable bases only (views and temp scratch never match).
    *
    * Mechanics: the first execution returns a PRISTINE plan (so
    * `.explain`/plan assertions see the real query; nothing is persisted
    * up front). The first REUSE of a key Spark-persists the stored frame,
    * so its next action computes once into the block cache and every
    * execution after that reads cached blocks — at 100 TB the repeated
    * dashboard query costs one scan, not one per refresh interval.
    * Bounded LRU (16 entries); evictions and ALTER SESSION SET
    * USE_CACHED_RESULT=FALSE unpersist. */
  private val reuseCache =
    scala.collection.mutable.LinkedHashMap.empty[String, (String, DataFrame, Boolean)]
  /** Whether the last top-level SELECT was served from the result cache
    * (spec observability, mirrors QUERY_HISTORY's result-reuse flag). */
  @volatile private[graft] var lastResultReused = false
  @volatile private[graft] var useCachedResult = true

  /** The ANSI keyword forms (first alternation) are valid WITHOUT
    * parentheses in both Snowflake and Spark, and Catalyst still marks
    * them deterministic — so a paren-less `SELECT CURRENT_DATE` would
    * cache and later serve a frozen date from persisted blocks. No `\(`
    * requirement for those; function-style names keep it. */
  private val timeContextFnRe =
    ("(?i)\\b(?:(?:CURRENT_TIMESTAMP|CURRENT_TIME|CURRENT_DATE|" +
     "LOCALTIME(?:STAMP)?)\\b|" +
     "(?:SYSDATE|GETDATE|NOW|RANDOM|RAND|UUID_STRING|UUID|SEQ\\d)\\s*\\()").r

  /** Per-base storage fingerprint: the version key of the binding the
    * base's view holds, else (formats without a key) its hashed file
    * sets; None = some base is not file-addressable, which disables
    * reuse for the statement. */
  private def basesFingerprint(): Option[String] = {
    val parts = basesResolvedInStmt.toSeq.sortBy(_.flat).map { b =>
      (registry.resolve(b), registry.boundVersion(b)) match {
        case (Some(_), Some(key)) => key.toString
        case (Some(ref), None) =>
          val (fs, ds) = Streams.filesOf(spark, ref)
          if (fs.isEmpty) return None
          val h = scala.util.hashing.MurmurHash3.orderedHash(
            fs.get.toSeq.sorted ++ Seq("|") ++
              ds.getOrElse(Set.empty[String]).toSeq.sorted)
          s"${b.flat}:${ref.format}:$h"
        case (None, _) => return None
      }
    }
    Some(parts.mkString(";"))
  }

  private def runQueryCached(q: String): DataFrame = {
    lastResultReused = false
    if (!useCachedResult) return runQuery(q)
    basesResolvedInStmt.clear()
    val substituted = rewriteAndSubstitute(q)
    val key = substituted.trim
    // never reuse: time-context/random functions (Snowflake's own
    // condition), stream reads (contents advance with the target table,
    // invisible to the base fingerprint), information_schema (tracks
    // registry state, not files)
    if (timeContextFnRe.findFirstIn(key).isDefined ||
        streamsReadInStmt.nonEmpty || infoSchemaReadInStmt)
      return spark.sql(substituted)
    val fp = basesFingerprint().getOrElse(return spark.sql(substituted))
    reuseCache.synchronized {
      reuseCache.remove(key) match {
        case Some((oldFp, anchor, wasHit)) if oldFp == fp =>
          lastResultReused = true
          // first reuse Spark-persists the anchor plan; the FRESH frame
          // below re-plans through the CacheManager, so it reads (and on
          // its first action, populates) the cached blocks — the anchor
          // itself may already carry a pre-cache physical plan
          if (!wasHit) anchor.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          reuseCache.put(key, (oldFp, anchor, true)) // LRU touch
        case Some((_, anchor, wasHit)) => // stale: base storage changed
          if (wasHit) anchor.unpersist(false)
        case None =>
      }
      if (lastResultReused) return spark.sql(substituted)
    }
    val df = spark.sql(substituted)
    // nondeterministic plans (rand(), UDFs marked as such) never cache
    if (df.queryExecution.analyzed.exists(
        _.expressions.exists(e => !e.deterministic || e.exists(!_.deterministic))))
      return df
    reuseCache.synchronized {
      reuseCache.put(key, (fp, df, false))
      while (reuseCache.size > 16) {
        val (k, (_, old, wasHit)) = reuseCache.head
        reuseCache.remove(k)
        if (wasHit) old.unpersist(false)
      }
    }
    df
  }

  /** Results of completed statements by qid, for RESULT_SCAN (bounded,
    * insertion-ordered eviction). DataFrames are analyzed lazy plans over
    * immutable COW snapshots, so re-reading them replays the original
    * result; only an in-place INSERT/COPY load can perturb a cached scan. */
  private val resultCache =
    scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  /** RESULT_SCAN('qid') → temp view over the cached result; a TABLE(…)
    * wrapper unwraps in the rewriter like any table function's.
    * LAST_QUERY_ID() has already been substituted to a literal by the
    * statement driver. */
  private def substituteResultScan(toks: Vector[Tok]): Vector[Tok] =
    replaceCalls(toks, Set("RESULT_SCAN"))((_, args) =>
      Some(Seq(Ident(resultScanView(args)))))

  /** Per-statement history for `TABLE(INFORMATION_SCHEMA.QUERY_HISTORY())`
    * — (qid, text, start ms, elapsed ms, cost line). The queryable face
    * of the reference's per-query cost print
    * (`universql/util.py:375-406`): Snowflake's column subset that the
    * offline engine can honestly populate. Bounded at 1024 statements. */
  private val statementHistory = scala.collection.mutable.ArrayBuffer
    .empty[(String, String, Long, Long, String)]

  /** `[INFORMATION_SCHEMA.]QUERY_HISTORY([RESULT_LIMIT => n])` → temp view
    * over the session's statement history, most recent first; a TABLE(…)
    * wrapper unwraps in the rewriter like any table function's. */
  private def substituteQueryHistory(toks: Vector[Tok]): Vector[Tok] =
    replaceCalls(toks, Set("QUERY_HISTORY"))((_, args) =>
      Some(Seq(Ident(queryHistoryView(render(args))))))

  private def queryHistoryView(args: String): String = {
    val limit = "(?is).*RESULT_LIMIT\\s*=>\\s*(\\d+).*".r
    val n = args match {
      case limit(v) => v.toInt
      case _ => 100
    }
    val rows = statementHistory.synchronized {
      statementHistory.reverseIterator.take(n).map {
        case (qid, text, startMs, elapsedMs, cost) =>
          Row(qid, text, new java.sql.Timestamp(startMs),
            java.lang.Long.valueOf(elapsedMs), cost)
      }.toList
    }
    val schema = StructType(Seq(
      StructField("QUERY_ID", org.apache.spark.sql.types.StringType),
      StructField("QUERY_TEXT", org.apache.spark.sql.types.StringType),
      StructField("START_TIME", org.apache.spark.sql.types.TimestampType),
      StructField("TOTAL_ELAPSED_TIME", org.apache.spark.sql.types.LongType),
      StructField("COST_ESTIMATE", org.apache.spark.sql.types.StringType)))
    val vn = "query_history_s" + sessionId
    spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(vn)
    vn
  }

  /** `RESULT_SCAN('qid')` (its argument tokens) → registered temp-view name. */
  private def resultScanView(args: Vector[Tok]): String = {
    val qid = args.filter(isSig) match {
      case Vector(q: Str) => q.value
      case _ => throw new IllegalArgumentException(
        s"RESULT_SCAN expects a query id literal, got: ${render(args).trim}")
    }
    val df = resultCache.synchronized { resultCache.get(qid) }.getOrElse(
      throw new IllegalArgumentException(
        s"result for statement $qid is no longer available"))
    val vn = "result_scan_s" + sessionId + "_" + qid.replaceAll("[^0-9a-zA-Z]", "_")
    df.createOrReplaceTempView(vn)
    vn
  }

  /** CTE-scope-aware schema probe for the ASOF JOIN union+window emitter:
    * ANALYZES (never executes) `WITH … SELECT * FROM rel WHERE 1=0` through
    * the normal rewrite→resolve pipeline; None on any failure, which makes
    * the rewriter fall back to the correlated-LATERAL form. */
  private lazy val asOfSchemaResolver: SnowflakeRewriter.SchemaResolver =
    (withPrefix, rel) => try {
      val probe = s"$withPrefix SELECT * FROM $rel AS _ga_probe WHERE 1=0"
      val substituted = rewriteAndSubstitute(probe, sessionSubstitutions = false)
      Some(spark.sql(substituted).schema.fieldNames.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }

  // ── SELECT path (A3/A5: resolve + register + run) ──────────────────────
  def runQuery(snowflakeSql: String): DataFrame =
    spark.sql(rewriteAndSubstitute(snowflakeSql))

  /** Run `snowflakeSql` with table `f`'s references bound to `bound`
    * instead of the table's full contents — the view re-binding trick
    * dynamic-table refresh uses, exposed for file-granular DML
    * ([[Dml]]): the same rewritten statement evaluates over just the
    * affected-file subset. The table's real binding is restored after
    * analysis (spark.sql analyzes eagerly, inlining the view's plan). */
  // (runQueryOver — which rebound the target's OWN session view to a
  // subset for the duration of one statement — was removed: any
  // self-reference to the target inside the statement silently saw the
  // subset too. Granular DML now binds subsets under a dedicated view,
  // Dml.overSubset.)

  /** Register a file-granular Iceberg COW commit
    * ([[graft.sources.IcebergLite.replaceFiles]]) — same bookkeeping as
    * a whole-table snapshot swap: re-point the ref, record the version
    * (which also evicts result-reuse entries covering the base), keep
    * the prior metadata time-travelable. */
  private[engine] def commitIcebergReplace(f: FQN, ref: TableRef,
      newMeta: String): Unit = {
    val newRef = ref.copy(path = Some(newMeta))
    registry.register(newRef)
    recordVersion(f, newRef)
  }

  /** The full rewrite pipeline WITHOUT execution — dynamic-table refresh
    * re-binds a base's temp view to its delta between substitution and
    * `spark.sql` (analysis inlines the view's plan, so the binding is
    * captured at that point). The statement is lexed once and every
    * stage works on its tokens. Without `sessionSubstitutions` (the ASOF
    * schema probe) the session's query-path substitutions and the ASOF
    * emitter's own probe are skipped: they have side effects — NEXTVAL
    * reserves a counter window, RESULT_SCAN registers a view. */
  private def rewriteAndSubstitute(snowflakeSql: String,
      sessionSubstitutions: Boolean = true): String = {
    var toks = lex(snowflakeSql)
    if (sessionSubstitutions) toks = expandSqlFunctions(substituteNextval(
      substituteResultScan(substituteQueryHistory(toks))))
    toks = SnowflakeRewriter.rewriteTokens(toks,
      if (sessionSubstitutions) asOfSchemaResolver else null)
    // session-context functions resolve against THIS session (a shared
    // SparkSession can't carry per-session UDF state)
    render(TableResolver.resolveTokens(substituteSessionContext(toks), this))
  }

  /** Expand SQL-function calls as macros: `f(a, b)` → `(body[p1←(a),
    * p2←(b)])`, recursively (functions may call functions; depth-capped
    * against cycles). Runs on the ORIGINAL Snowflake tokens, before
    * dialect rewrite, since bodies are written in the Snowflake dialect
    * too. */
  private def expandSqlFunctions(toks: Vector[Tok], depth: Int = 0): Vector[Tok] = {
    if (sqlFunctions.isEmpty || depth > 8) return toks
    var changed = false
    val out = replaceCalls(toks, sqlFunctions.keySet.toSet) { (name, argToks) =>
      val (params, body) = sqlFunctions(name)
      val args = splitArgs(argToks, -1, argToks.length)
        .map { case (a, b) => argToks.slice(a, b) }
      require(args.length == params.length && args.forall(_.exists(isSig)),
        s"function $name expects ${params.length} args, got ${args.length}")
      val byParam = params.zip(args).toMap
      changed = true
      Some(Op("(") +: body.flatMap {
        case Ident(w) if byParam.contains(Identifiers.normalizePart(w)) =>
          Op("(") +: byParam(Identifiers.normalizePart(w)) :+ Op(")")
        case t => Seq(t)
      } :+ Op(")"))
    }
    if (changed) expandSqlFunctions(out, depth + 1) else toks
  }

  /** `<seq>.NEXTVAL` → `(base + monotonically_increasing_id() * inc)`;
    * each textual occurrence reserves a disjoint window via the driver
    * counter (see [[sequences]]), so draws are unique across statements
    * and step-aligned to the increment at any parallelism. Token-level,
    * so NEXTVAL inside string literals survives. */
  private def substituteNextval(toks: Vector[Tok]): Vector[Tok] = {
    if (sequences.isEmpty) return toks
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Ident(w) if sequences.contains(Identifiers.normalizePart(w)) &&
            i + 2 < toks.length && toks(i + 1) == Op(".") &&
            toks(i + 2).text.equalsIgnoreCase("NEXTVAL") =>
          val (_, inc, ctr) = sequences(Identifiers.normalizePart(w))
          // window sized for 2^11 partitions × 2^33 rows per partition
          val base = ctr.getAndAdd((1L << 44) * math.abs(inc))
          // one opaque token: no later pass looks inside the expression
          out += Ident(s"($base + monotonically_increasing_id() * $inc)")
          i += 3
        case t => out += t; i += 1
      }
    }
    out.result()
  }

  /** CURRENT_DATABASE() / CURRENT_SCHEMA() → session-value string literals. */
  private def substituteSessionContext(toks: Vector[Tok]): Vector[Tok] =
    replaceCalls(toks, Set("CURRENT_DATABASE", "CURRENT_SCHEMA")) { (name, args) =>
      val v = if (name == "CURRENT_DATABASE") currentDatabase else currentSchema
      if (args.exists(isSig)) None
      else Some(Seq(Str("'" + v.replace("'", "''") + "'")))
    }

  /** Used by [[TableResolver]]: materialize `fqn` as a flat temp view and
    * return the view name; unknown names are left untouched so Spark can
    * resolve its own temp views / raise its own errors.
    *
    * A Lake base binds through [[TableRegistry.bind]], which keeps the
    * session's binding across statements while the base's version key
    * (ref + storage signature) is unchanged; it and
    * [[TableRegistry.bindTransient]] are the only ways a base's session
    * view may be rebound, so the memo always names the binding the
    * catalog holds. Streams and information_schema views track state a
    * version key does not see and are rebuilt on every reference. */
  private[engine] def ensureView(f: FQN): Option[String] =
    if (streams.contains(f)) {
      // stream read: materialize the CURRENT delta as the view (recomputed
      // at every statement — stream contents track the target table).
      // The whole resolution holds the TARGET's writer lock so the delta's
      // file listings and the captured read-version are one consistent
      // snapshot — otherwise a writer committing mid-listing makes the
      // consume offset skip or double-deliver rows. (COW retention makes
      // the lazy read of the captured file set safe after release.)
      val st = streams(f)
      streamsReadInStmt += f
      val vn = viewName(f)
      TableLocks.withLocks(Seq(st.target.flat)) {
        val history =
          if (st.appendOnly && st.offsetSeq >= 0)
            insertHistorySince(st.target, st.offsetSeq)
          else None
        // a DT target that merge-refreshed since this stream's offset:
        // the published sidecar chain is the exact net change
        val dtChain: Option[(Set[String], Set[String])] =
          for {
            cur <- registry.resolve(st.target)
            fromPath <- st.offsetRef.path
            toPath <- cur.path
            dirs <- dtLogChainDirs(st.target, fromPath, toPath)
          } yield sidecarFiles(dirs)
        Streams.delta(spark, registry, st, history,
            (of, cf) => isUpdateChain(st.target, of, cf), dtChain,
            dtGroupKeys(st.target))
          .createOrReplaceTempView(vn)
        registry.resolve(st.target).foreach { cur =>
          val (files, deletes) = Streams.filesOf(spark, cur)
          streamReadVersion.put(f, (cur, files, deletes, streamCat.nextSeq()))
        }
      }
      Some(vn)
    } else if (f.schema == "INFORMATION_SCHEMA") {
      infoSchemaReadInStmt = true
      infoSchemaView(f.table).map { df =>
        df.createOrReplaceTempView(viewName(f)); viewName(f)
      }
    } else registry.resolve(f).orElse(resolveExternal(f)).map { ref =>
      basesResolvedInStmt += f
      if (ref.kind == TableKind.Lake) registry.bind(ref)
      viewName(f)
    }

  /** information_schema emulation (the reference ships fakesnow's
    * info_schema into every attached DuckDB database,
    * `universql/warehouse/duckdb.py:211-217`). */
  private def infoSchemaView(table: String): Option[DataFrame] = table match {
    case "TABLES" =>
      val rows = registry.list().map(r => Row(
        r.fqn.database, r.fqn.schema, r.fqn.table,
        if (r.kind == TableKind.Local) "VIEW" else "BASE TABLE"))
      Some(spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("table_catalog", StringType),
        StructField("table_schema", StringType),
        StructField("table_name", StringType),
        StructField("table_type", StringType)))))
    case "COLUMNS" =>
      val rows = registry.list().flatMap { r =>
        val df = try registry.load(r) catch { case _: Exception => null }
        if (df == null) Nil
        else SnowflakeTypes.rowType(df).zipWithIndex.map { case (m, i) =>
          Row(r.fqn.database, r.fqn.schema, r.fqn.table, m.name,
            i + 1, m.logicalType, if (m.nullable) "YES" else "NO")
        }
      }
      Some(spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("table_catalog", StringType),
        StructField("table_schema", StringType),
        StructField("table_name", StringType),
        StructField("column_name", StringType),
        StructField("ordinal_position", org.apache.spark.sql.types.IntegerType),
        StructField("data_type", StringType),
        StructField("is_nullable", StringType)))))
    case _ => None
  }

  // ── USE (A14) ──────────────────────────────────────────────────────────
  private def doUse(kind: Option[String], rawName: String): DataFrame = {
    val name = Identifiers.normalizePart(rawName)
    kind match {
      case Some("DATABASE") => currentDatabase = name
      case Some("SCHEMA") =>
        // USE SCHEMA db.schema or bare schema
        val parts = Identifiers.splitQualified(rawName).map(Identifiers.normalizePart)
        if (parts.length == 2) { currentDatabase = parts(0); currentSchema = parts(1) }
        else currentSchema = name
      case Some("WAREHOUSE") | Some("ROLE") => // session decoration only
      case None => currentDatabase = name
      case Some(other) => throw new IllegalArgumentException(s"USE $other")
    }
    status("Statement executed successfully.")
  }

  // ── CREATE (A8/A9/A11) ─────────────────────────────────────────────────
  private def doCreate(orReplace: Boolean, temp: Boolean, isView: Boolean,
      ifNotExists: Boolean, rawName: String, rest: String,
      iceberg: Boolean = false): DataFrame = {
    val f = fqn(rawName)
    if (registry.resolve(f).isDefined && !orReplace) {
      if (ifNotExists)
        return status(s"${f.table} already exists, statement succeeded.")
      throw new IllegalArgumentException(s"object $f already exists")
    }
    streamCat.insertLog.remove(f) // new table identity — no inherited insert history
    streamCat.updateLog.remove(f)
    val asIdx = "(?is)^(?:\\([^)]*\\)\\s*)?AS\\s+(.*)$".r
    val cloneRe = "(?is)^CLONE\\s+([\\w$\".]+)\\s*$".r
    // CREATE ICEBERG TABLE t PARTITION BY (col | day(col)[, …]) AS … —
    // hidden partitioning, identity or Iceberg temporal transforms
    // (year/month/day/hour), with metadata-level file pruning on scan
    val partEntry = "[\\w$\".]+(?:\\s*\\(\\s*[\\w$\".]+\\s*\\))?"
    val partRe =
      s"(?is)^PARTITION\\s+BY\\s*\\(\\s*($partEntry(?:\\s*,\\s*$partEntry)*)\\s*\\)\\s*(.*)$$".r
    val tfRe = "(?i)^(year|month|day|hour)\\s*\\(\\s*([\\w$\".]+)\\s*\\)$".r
    val (createPartitionBy, restNoPart) = rest.trim match {
      case partRe(ps, rem) =>
        require(iceberg, "PARTITION BY is supported on ICEBERG tables")
        (ps.split(",").toSeq.map(_.trim).map {
          case tfRe(tf, c) =>
            s"${tf.toLowerCase}(${Identifiers.normalizePart(c)})"
          case p => Identifiers.normalizePart(p)
        }, rem)
      case _ => (Seq.empty[String], rest)
    }
    // CREATE TABLE t CLUSTER BY (k[, …]) [INTO n BUCKETS] AS … —
    // Snowflake's CLUSTER BY mapped to Spark bucketed+sorted storage:
    // the scan reports hash partitioning on the keys, so every later
    // join/aggregate on them plans with ZERO exchanges (x16's amortizer,
    // now reachable from SQL). Default 16 buckets.
    val clusterRe =
      ("(?is)^CLUSTER\\s+BY\\s*\\(\\s*([\\w$\".]+(?:\\s*,\\s*[\\w$\".]+)*)" +
       "\\s*\\)\\s*(?:INTO\\s+(\\d+)\\s+BUCKETS\\s*)?(.*)$").r
    val (clusterBy, restNoCluster) = restNoPart.trim match {
      case clusterRe(cols, n, rem) =>
        require(!iceberg && !isView,
          "CLUSTER BY bucketing applies to plain tables")
        (Some((cols.split(",").toSeq.map(c => Identifiers.normalizePart(c.trim)),
          Option(n).map(_.toInt).getOrElse(16))), rem)
      case _ => (None, restNoPart)
    }
    if (clusterBy.isDefined &&
        !asIdx.pattern.matcher(restNoCluster.trim).matches())
      throw new IllegalArgumentException(
        "CLUSTER BY is supported on CREATE TABLE … AS SELECT")
    restNoCluster.trim match {
      case cloneRe(srcName) =>
        // Zero-copy clone (Snowflake CLONE semantics). Iceberg tables get
        // this for free: the metadata chain is immutable, and INSERT/DML
        // re-point only the written table's ref at its new metadata file.
        // Parquet snapshots are directories that INSERT/COPY append into
        // in place, so a shared pointer would leak writes between clone
        // and source — instead hard-link every data file into a directory
        // owned by the clone (O(#files) metadata ops, no byte movement;
        // the local-fs analog of a metadata-only clone).
        val src = fqn(srcName)
        val srcRef = registry.resolve(src).getOrElse(
          throw new IllegalArgumentException(s"clone source $src does not exist"))
        require(srcRef.kind == TableKind.Lake && srcRef.path.isDefined,
          s"cannot CLONE non-lake object $src")
        require(srcRef.format != "bucketed",
          s"CLONE of a bucketed table is not supported; use CREATE TABLE … CLUSTER BY … AS SELECT")
        val cloneRef =
          if (srcRef.format == "iceberg")
            TableRef(f, TableKind.Lake, srcRef.path, "iceberg")
          else {
            val dest = s"${tablePath(f, temp)}__clone${snapshotSeq.incrementAndGet()}"
            LakeFs.linkTree(srcRef.path.get, dest)
            TableRef(f, TableKind.Lake, Some(dest), srcRef.format)
          }
        registry.register(cloneRef)
        resetHistory(f, cloneRef)
        status(s"Table ${f.table} successfully created.")
      case asIdx(select) if isView =>
        // CURRENT_DATABASE/SCHEMA take this session's values; NEXTVAL,
        // RESULT_SCAN and the other side-effecting substitutions stay
        // out of the stored view text
        val rewritten = rewriteAndSubstitute(select, sessionSubstitutions = false)
        spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${viewName(f)} AS $rewritten")
        registry.register(TableRef(f, TableKind.Local, None))
        status(s"View ${f.table} successfully created.")
      case asIdx(select) =>
        val df = runQuery(select)
        val path = tablePath(f, temp)
        val newRef =
          if (iceberg) {
            // CREATE ICEBERG TABLE AS (A9): real spec-layout Iceberg
            // commit; the batch IS the table, so its observed stats are
            // the table's — recorded at write, no lazy re-scan
            val (instrumented, stats) = AutoStats.observed(spark, df)
            val metadataPath = graft.sources.IcebergLite.write(spark,
              instrumented, path, partitionBy = createPartitionBy)
            AutoStats.recordIcebergWrite(spark, metadataPath, stats())
            TableRef(f, TableKind.Lake, Some(metadataPath), format = "iceberg")
          } else if (clusterBy.isDefined) {
            // bucketed CTAS: the bucket spec lives in the Spark catalog,
            // so the table is written via saveAsTable under a mangled
            // catalog name; the registry records format "bucketed" with
            // the catalog name as the path
            val (keys, buckets) = clusterBy.get
            val byUpper = df.columns.map(c => c.toUpperCase -> c).toMap
            val actual = keys.map(k => byUpper.getOrElse(k.toUpperCase,
              throw new IllegalArgumentException(
                s"CLUSTER BY column $k not in SELECT output")))
            val catName = ("graft_bkt_" + viewName(f)).toLowerCase
            graft.operators.Bucketing.writeBucketedMulti(
              df, catName, actual, buckets)
            TableRef(f, TableKind.Lake, Some(catName), format = "bucketed")
          } else {
            // stats ride the write job itself (observe) — no extra scan
            val (instrumented, record) =
              AutoStats.observedForWrite(spark, df, path)
            AutoStats.invalidate(path)
            instrumented.write.mode("overwrite").parquet(path)
            record()
            LakeFs.primeSchema(path, df.schema)
            TableRef(f, TableKind.Lake, Some(path))
          }
        registry.register(newRef)
        resetHistory(f, newRef)
        status(s"Table ${f.table} successfully created.")
      case colDefs if colDefs.startsWith("(") =>
        // CREATE TABLE t (col type, …): empty table with translated schema
        val schema = StructType(SnowflakeRewriter.columnDefs(colDefs).map {
          case (name, tpe) =>
            StructField(Identifiers.normalizePart(name), CatalystSqlParser.parseDataType(tpe))
        })
        val path = tablePath(f, temp)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
          .write.mode("overwrite").parquet(path)
        LakeFs.primeSchema(path, schema)
        // exact zero stats anchor the merge path: the first COPY/INSERT
        // append then records live stats with no extra scan
        AutoStats.invalidate(path)
        AutoStats.recordEmpty(spark, path, schema)
        registry.register(TableRef(f, TableKind.Lake, Some(path)))
        resetHistory(f, TableRef(f, TableKind.Lake, Some(path)))
        status(s"Table ${f.table} successfully created.")
      case other =>
        throw new IllegalArgumentException(s"cannot CREATE: $other")
    }
  }

  private def tablePath(f: FQN, temp: Boolean): String = {
    val base = if (temp) s"$warehouseDir/_temp" else warehouseDir
    s"$base/${f.database}/${f.schema}/${f.table}"
  }

  /** TRUNCATE TABLE: a copy-on-write swap to an empty snapshot with the
    * same schema (the table keeps its identity and type signature). */
  private def doTruncate(rawName: String): DataFrame = {
    val f = fqn(rawName)
    val ref = registry.resolve(f).getOrElse(
      throw new IllegalArgumentException(s"table $f does not exist"))
    require(ref.kind == TableKind.Lake && ref.path.isDefined,
      s"cannot TRUNCATE $f")
    val schema = registry.load(ref).schema
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    swapSnapshot(f, ref, empty)
    // Snowflake's TRUNCATE deletes COPY load metadata so the same files
    // can be reloaded into the now-empty table.
    loadHistory.remove(f)
    status("Statement executed successfully.")
  }

  /** OPTIMIZE table / ALTER TABLE … RECLUSTER (Snowflake's re-cluster
    * verb): compact the table's storage layout.
    *
    * Bucketed tables are the motivating case — every INSERT appends one
    * file per bucket (`doInsert`), and Spark only trusts a bucket's
    * pre-sort (skipping the join-side Sort) when the bucket is a single
    * file, so after the first append co-located joins silently re-grow
    * their sorts. OPTIMIZE rewrites each bucket to exactly one sorted
    * file (COW: a new catalog table, the registry re-points, the old
    * version stays time-travelable), restoring the zero-Exchange AND
    * zero-Sort join plan.
    *
    * Iceberg tables get INCREMENTAL small-file compaction
    * ([[graft.sources.IcebergLite.compact]]): partitions holding ≥2
    * sub-threshold files are rewritten to one file each in a single
    * snapshot commit that reads ONLY the small files — the maintenance
    * pass a streaming-ingested table needs (stream07 leaves one file per
    * micro-batch), at O(small bytes) instead of the O(table) a COW
    * rewrite would cost at 100 TB. Plain parquet tables get a file
    * compaction rewrite through the COW snapshot path. */
  private def doOptimize(rawName: String): DataFrame = {
    val f = fqn(rawName)
    // maintenance rewrite = a writer; same per-table lock
    TableLocks.withLocks(Seq(f.flat)) {
    val ref = registry.resolve(f).getOrElse(
      throw new IllegalArgumentException(s"table $f does not exist"))
    require(ref.kind == TableKind.Lake && ref.path.isDefined,
      s"cannot OPTIMIZE $f")
    if (ref.format == "iceberg") {
      // metadata-only small-file merge when possible; a table with
      // pending row-level delete files instead takes the COW snapshot
      // rewrite (scan applies the deletes, the rewrite lands one clean
      // file set) — OPTIMIZE is maintenance and must not error (ADVICE r6)
      if (graft.sources.IcebergLite.deleteFiles(spark, ref.path.get).nonEmpty) {
        swapSnapshot(f, ref, registry.load(ref))
      } else {
        val newMeta = graft.sources.IcebergLite.compact(spark, ref.path.get)
        if (newMeta == ref.path.get)
          return status(s"Table ${f.table} is already compact.")
        val newRef = ref.copy(path = Some(newMeta))
        registry.register(newRef)
        recordVersion(f, newRef)
      }
    } else if (ref.format == "bucketed") {
      val oldCat = ref.path.get
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(oldCat)).bucketSpec
        .getOrElse(throw new IllegalStateException(
          s"bucketed table ${f.table} lost its bucket spec"))
      val newCat = oldCat.replaceAll("_v\\d+$", "") +
        s"_v${snapshotSeq.incrementAndGet()}"
      graft.operators.Bucketing.writeBucketedMulti(
        spark.table(oldCat), newCat, spec.bucketColumnNames, spec.numBuckets)
      val newRef = ref.copy(path = Some(newCat))
      registry.register(newRef)
      recordVersion(f, newRef)
    } else {
      swapSnapshot(f, ref, registry.load(ref))
    }
    status(s"Table ${f.table} successfully optimized.")
    } // TableLocks
  }

  // ── ALTER TABLE (schema evolution on copy-on-write snapshots) ──────────
  private def doAlter(rawName: String, action: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val f = fqn(rawName)
    val ref = registry.resolve(f).getOrElse(
      throw new IllegalArgumentException(s"table $f does not exist"))
    require(ref.kind == TableKind.Lake && ref.path.isDefined,
      s"cannot ALTER $f")
    val renameToRe = "(?is)^RENAME\\s+TO\\s+([\\w$\".]+)$".r
    val addColRe =
      "(?is)^ADD\\s+(?:COLUMN\\s+)?(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w$\"]+)\\s+(.+)$".r
    val dropColRe =
      "(?is)^DROP\\s+COLUMN\\s+(?:IF\\s+EXISTS\\s+)?([\\w$\"]+)\\s*$".r
    val renameColRe =
      "(?is)^RENAME\\s+COLUMN\\s+([\\w$\"]+)\\s+TO\\s+([\\w$\"]+)\\s*$".r
    action match {
      case r if r.matches("(?is)^RECLUSTER\\s*$") => doOptimize(rawName)
      case r if r.matches("(?is)^EXPIRE\\s+SNAPSHOTS\\s*$") =>
        require(ref.format == "iceberg",
          s"EXPIRE SNAPSHOTS requires an Iceberg table (got ${ref.format})")
        // 1. metadata-level: truncate the snapshot list to the current
        //    one and delete expired manifests (IcebergLite)
        val newMeta = graft.sources.IcebergLite.expireSnapshots(
          spark, ref.path.get)
        val newRef = ref.copy(path = Some(newMeta))
        // 2. storage-level: COW/overwrite versions live in their own
        //    table dirs, referenced only by this session's history —
        //    delete every historical dir that is not the current one
        //    (each is a session-created iceberg dir; sanity-checked)
        def dirOf(mp: String) =
          LakeFs.qualified(graft.sources.IcebergLite.tableDir(mp))
        val curDir = dirOf(newMeta)
        tableHistory.getOrElse(f, Vector.empty).foreach { case (_, _, h) =>
          if (h.format == "iceberg") h.path.foreach { p =>
            val d = dirOf(p)
            if (d != curDir && LakeFs.isDirectory(s"$d/metadata"))
              LakeFs.delete(d)
          }
        }
        registry.register(newRef)
        resetHistory(f, newRef)
        status("Statement executed successfully.")
      case renameToRe(newName) =>
        val nf = fqn(newName)
        require(registry.resolve(nf).isEmpty, s"object $nf already exists")
        registry.register(TableRef(nf, ref.kind, ref.path, ref.format))
        registry.drop(f)
        tableHistory.remove(f).foreach(h => tableHistory.put(nf,
          h.map { case (q, t, r) => (q, t, r.copy(fqn = nf)) }))
        status(s"Statement executed successfully.")
      case addColRe(colName, typeSql) =>
        val name = Identifiers.normalizePart(colName)
        val df = registry.load(ref)
        if (df.schema.fieldNames.map(_.toUpperCase).contains(name))
          status(s"column $name already exists, statement succeeded.")
        else {
          val dt = parseSnowflakeType(typeSql.trim)
          if (ref.format == "iceberg") {
            // Iceberg's design point: ADD COLUMN is a metadata-only
            // commit — a new metadata.json, zero data files rewritten
            // (old files read NULL under the declared schema). The COW
            // rewrite below would be O(table) at 100 TB. Re-adding a
            // previously dropped name is safe: it binds a fresh
            // PHYSICAL name, so the old file data stays invisible.
            val newMeta = graft.sources.IcebergLite.addColumn(
              spark, ref.path.get, name, dt)
            val newRef = ref.copy(path = Some(newMeta))
            registry.register(newRef)
            recordVersion(f, newRef)
          } else
            swapSnapshot(f, ref, df.withColumn(name, lit(null).cast(dt)))
          status("Statement executed successfully.")
        }
      case dropColRe(colName) =>
        val name = Identifiers.normalizePart(colName)
        val df = registry.load(ref)
        val actual = df.schema.fieldNames.find(_.toUpperCase == name)
          .getOrElse(throw new IllegalArgumentException(
            s"column $colName does not exist in $f"))
        if (ref.format == "iceberg") {
          // metadata-only: the declared schema loses the field and the
          // name is tombstoned (see ADD COLUMN); data files untouched
          val newMeta = graft.sources.IcebergLite.dropColumn(
            spark, ref.path.get, actual)
          val newRef = ref.copy(path = Some(newMeta))
          registry.register(newRef)
          recordVersion(f, newRef)
        } else
          swapSnapshot(f, ref, df.drop(actual))
        status("Statement executed successfully.")
      case renameColRe(from, to) =>
        val df = registry.load(ref)
        val actual = df.schema.fieldNames
          .find(_.toUpperCase == Identifiers.normalizePart(from))
          .getOrElse(throw new IllegalArgumentException(
            s"column $from does not exist in $f"))
        val isPartCol = ref.format == "iceberg" &&
          graft.sources.IcebergLite.partitionColumns(ref.path.get)
            .map(graft.sources.IcebergLite.parsePartField(_).column)
            .exists(_.equalsIgnoreCase(actual))
        if (ref.format == "iceberg" && !isPartCol) {
          // metadata-only: the logical name rebinds; the physical name
          // in every data file (and equality-delete file) never changes.
          // Partition columns take the COW path — their shadow directory
          // names are physical.
          val newMeta = graft.sources.IcebergLite.renameColumn(
            spark, ref.path.get, actual, Identifiers.normalizePart(to))
          val newRef = ref.copy(path = Some(newMeta))
          registry.register(newRef)
          recordVersion(f, newRef)
        } else
          swapSnapshot(f, ref,
            df.withColumnRenamed(actual, Identifiers.normalizePart(to)))
        status("Statement executed successfully.")
      case other =>
        throw new IllegalArgumentException(s"unsupported ALTER TABLE: $other")
    }
  }

  /** Translate one Snowflake type name to a Spark DataType via the
    * rewriter's type map (shared with CREATE TABLE column defs). */
  private def parseSnowflakeType(typeSql: String): org.apache.spark.sql.types.DataType =
    CatalystSqlParser.parseDataType(SnowflakeRewriter.sparkType(typeSql))

  /** LIST @stage[/path]: stage files with sizes (reference surfaces
    * stages via DESCRIBE STAGE metadata; LIST is its enumeration twin). */
  private def doList(src: String): DataFrame = {
    val base = resolveStagePath(src)
    val rows = LakeFs.expand(base).sortBy(_._1).map { case (p, len) =>
      Row(p, java.lang.Long.valueOf(len))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("name", StringType),
      StructField("size", org.apache.spark.sql.types.LongType))))
  }

  private def doShowColumns(rawName: String): DataFrame = doDescribe(rawName)

  // ── DROP (A13) ─────────────────────────────────────────────────────────
  private def doDrop(ifExists: Boolean, rawName: String): DataFrame = {
    val f = fqn(rawName)
    // snapshots are COW-immutable, so UNDROP is a registry re-point —
    // stash the dropped ref (latest drop wins, Snowflake semantics)
    registry.resolve(f).foreach(r => droppedTables.put(f, r))
    // NOTE: a bucketed table's Spark-catalog metadata survives the drop
    // on purpose — UNDROP restores the registry pointer and the catalog
    // entry must still resolve; re-CREATE under the same name rewrites it
    val existed = registry.drop(f)
    if (!existed && !ifExists)
      throw new IllegalArgumentException(s"object $f does not exist")
    // a re-created table under the same FQN starts with fresh load history
    loadHistory.remove(f)
    tableHistory.remove(f)
    streamCat.insertLog.remove(f)
    invalidateResultReuse(f)
    dynamicTables.remove(f) // DROP TABLE on a dynamic table ends its refresh
    dtDeltaLog.remove(f).foreach(dropSidecars)
    streamCat.updateLog.remove(f)
    status(s"${f.table} successfully dropped.")
  }

  /** UNDROP TABLE: restore the most recently dropped version under this
    * FQN — free because snapshots are immutable (the drop only removed
    * the registry pointer). Fails if the name has been re-created. */
  private val droppedTables =
    scala.collection.concurrent.TrieMap.empty[FQN, TableRef]

  private def doUndrop(rawName: String): DataFrame = {
    val f = fqn(rawName)
    val ref = droppedTables.getOrElse(f, throw new IllegalArgumentException(
      s"no dropped table $f to UNDROP"))
    require(registry.resolve(f).isEmpty,
      s"object $f already exists; rename it before UNDROP")
    registry.register(ref)
    droppedTables.remove(f)
    resetHistory(f, ref)
    streamCat.insertLog.remove(f) // pre-drop insert history does not survive UNDROP
    streamCat.updateLog.remove(f)
    status(s"Table ${f.table} successfully restored.")
  }

  // ── INSERT (A12) ───────────────────────────────────────────────────────
  private def doInsert(overwrite: Boolean, rawName: String, body: String): DataFrame = {
    val f = fqn(rawName)
    // writer lock held across resolve→write→commit so a racing writer's
    // commit can't slip between resolution and this statement's write
    TableLocks.withLocks(Seq(f.flat)) {
    val ref = registry.resolve(f).getOrElse(
      throw new IllegalArgumentException(s"table $f does not exist"))
    require(!dynamicTables.contains(f),
      s"cannot INSERT into dynamic table $f — its contents are maintained " +
      "by ALTER DYNAMIC TABLE … REFRESH")
    require(ref.kind == TableKind.Lake && ref.path.isDefined,
      s"cannot INSERT into $f")
    val beforeFiles = filesBeforeInsert(f, ref)
    val existing = registry.load(ref)
    // optional explicit column list: INSERT INTO t (a, b) SELECT/VALUES …
    val colListRe = "(?s)^\\s*\\(([^)]*)\\)\\s*(.*)$".r
    val (targetCols, rest) = body match {
      case colListRe(cols, r)
          if !r.isEmpty && !cols.toUpperCase.contains("SELECT") =>
        (cols.split(',').toSeq.map(c => Identifiers.normalizePart(c.trim)), r)
      case _ => (Nil, body)
    }
    val df0 = runQuery(rest)
    // align by position like Snowflake INSERT ... SELECT; an explicit
    // column list maps positionally onto those columns, others → NULL
    val aligned =
      if (targetCols.nonEmpty) {
        require(targetCols.length == df0.columns.length,
          s"INSERT column list has ${targetCols.length} names for ${df0.columns.length} values")
        val renamed = df0.toDF(targetCols: _*)
        renamed.select(existing.schema.fields.map { sf =>
          if (targetCols.contains(sf.name.toUpperCase) ||
              targetCols.contains(sf.name))
            org.apache.spark.sql.functions.col(sf.name).cast(sf.dataType)
          else org.apache.spark.sql.functions.lit(null).cast(sf.dataType).as(sf.name)
        }.toIndexedSeq: _*)
      } else
        df0.toDF(existing.schema.fieldNames.take(df0.columns.length): _*)
          .select(existing.schema.fields.map(sf =>
            org.apache.spark.sql.functions.col(sf.name).cast(sf.dataType)).toIndexedSeq: _*)
    if (ref.format == "iceberg") {
      // append = new snapshot; overwrite = fresh snapshot chain (A12).
      // The commit write OBSERVES the batch's stats and records them
      // under the new snapshot's scan key — without this every
      // post-commit read re-collected stats with a full scan job
      // (AutoStats class doc: at scale stats must ride the write job)
      val (instrumented, stats) = AutoStats.observed(spark, aligned)
      val newMeta =
        if (overwrite)
          graft.sources.IcebergLite.write(spark, instrumented,
            graft.sources.IcebergLite.tableDir(ref.path.get) + "_ow" +
              System.nanoTime())
        else graft.sources.IcebergLite.append(spark, instrumented, ref.path.get)
      if (overwrite) AutoStats.recordIcebergWrite(spark, newMeta, stats())
      else AutoStats.recordIcebergAppend(spark, ref.path.get, newMeta, stats())
      registry.register(ref.copy(path = Some(newMeta)))
      // Iceberg metadata chains are immutable → older versions stay
      // time-travelable; in-place parquet loads invalidate them
      recordVersion(f, ref.copy(path = Some(newMeta)))
    } else if (ref.format == "bucketed") {
      // append through saveAsTable replays the catalog's bucket spec, so
      // new files land bucket-aligned and the exchange-free join survives
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(ref.path.get))
      val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
        s"bucketed table ${f.table} lost its bucket spec"))
      // one writer task per bucket, matching the CTAS layout (appends
      // add one file per bucket instead of one per task × bucket); pin
      // autoBucketedScan off so a self-referencing INSERT (source scans
      // the same bucketed table) keeps its bucket-aligned partitions
      // (see Bucketing.writeBucketedMulti for the full failure mode)
      val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prevAbs = spark.conf.getOption(abs)
      spark.conf.set(abs, "false")
      try {
        val w = aligned
          .repartition(spec.numBuckets,
            spec.bucketColumnNames.map(org.apache.spark.sql.functions.col): _*)
          .write.mode(if (overwrite) "overwrite" else "append")
          .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
            spec.bucketColumnNames.tail: _*)
        val ws =
          if (spec.sortColumnNames.isEmpty) w
          else w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
        ws.format("parquet").saveAsTable(ref.path.get)
      } finally prevAbs.fold(spark.conf.unset(abs))(spark.conf.set(abs, _))
      resetHistory(f, ref)
    } else if (overwrite) {
      val (instrumented, record) =
        AutoStats.observedForWrite(spark, aligned, ref.path.get)
      AutoStats.invalidate(ref.path.get)
      instrumented.write.mode("overwrite").parquet(ref.path.get)
      record()
      LakeFs.primeSchema(ref.path.get, aligned.schema)
      resetHistory(f, ref)
    } else {
      // stats ride the append job and merge with the recorded table stats
      // (or invalidate when the table was never profiled)
      val (instrumented, record) =
        AutoStats.observedForAppend(spark, aligned, ref.path.get)
      instrumented.write.mode("append").parquet(ref.path.get)
      record()
      LakeFs.primeSchema(ref.path.get, aligned.schema)
      resetHistory(f, ref)
    }
    logInsert(f, beforeFiles)
    status(s"inserted rows into ${f.table}")
    } // TableLocks
  }

  // ── COPY INTO (A15) ────────────────────────────────────────────────────
  /** Per-table load history: COPY skips files already loaded into a table
    * unless FORCE=TRUE, matching Snowflake's default (the reference keeps
    * this on the Snowflake side; here it lives with the registry). */
  private val loadHistory =
    scala.collection.concurrent.TrieMap.empty[FQN, Set[String]]

  private def doCopy(rawName: String, rest: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit, unbase64, unhex, when}
    val f = fqn(rawName)
    // writer lock for the statement (load-history check + write + record
    // must be atomic against racing writers)
    TableLocks.withLocks(Seq(f.flat)) {
    val ref = registry.resolve(f).getOrElse(
      throw new IllegalArgumentException(s"table $f does not exist"))
    require(ref.kind == TableKind.Lake && ref.path.isDefined,
      s"cannot COPY into $f")
    // FROM <source> [FILES = ('f', …)] [FILE_FORMAT = ( ... )] [options]
    // value lists like NULL_IF = ('a','b') nest one paren level inside the
    // FILE_FORMAT group
    val ffRe = "(?is)FILE_FORMAT\\s*=\\s*\\(((?:[^()]|\\([^)]*\\))*)\\)".r
    val filesRe = "(?is)FILES\\s*=\\s*\\(([^)]*)\\)".r
    val optsRaw = ffRe.findFirstMatchIn(rest).map(_.group(1)).getOrElse("")
    val filesList = filesRe.findFirstMatchIn(rest).map(_.group(1)).map(
      _.split(',').toSeq.map(_.trim.stripPrefix("'").stripSuffix("'"))
        .filter(_.nonEmpty)).getOrElse(Nil)
    val restNoGroups = filesRe.replaceAllIn(ffRe.replaceAllIn(rest, ""), "").trim
    val source = restNoGroups.split("\\s+").headOption
      .getOrElse(throw new IllegalArgumentException("COPY INTO needs a source"))
    // PURGE / FORCE / SIZE_LIMIT / ON_ERROR are statement-level options,
    // outside the FILE_FORMAT group (`universql/plugins/snow.py:89-258`)
    val topPairs = parseOptionPairs(restNoGroups.drop(source.length))
    val base = resolveStagePath(source)
    // explicit FILES pin the scan to those objects under the stage path
    // (reference: `expression.args['files']`, `universql/plugins/snow.py:391-398`)
    val urls =
      if (filesList.isEmpty) Seq(base)
      else filesList.map(f => s"${base.stripSuffix("/")}/$f")
    val mapped = CopyOptions.map(
      resolveFormatName(parseOptionPairs(optsRaw)) ++ topPairs)
    val target = registry.load(ref)

    // expand stage paths (globs, directories incl. hive-partition layouts)
    // to concrete files so SIZE_LIMIT / load history / PURGE operate at
    // Snowflake's file granularity
    val allFiles = urls.flatMap(LakeFs.expand)
    var cum = 0L
    val afterLimit = mapped.sizeLimit match {
      case Some(lim) =>
        val kept = allFiles.filter { case (_, len) =>
          val take = cum < lim; cum += len; take }
        // Snowflake's SIZE_LIMIT loads at least one file regardless of the
        // threshold (covers SIZE_LIMIT <= 0, where cum < lim never holds)
        if (kept.isEmpty && allFiles.nonEmpty) allFiles.take(1) else kept
      case None => allFiles
    }
    val already = loadHistory.getOrElse(f, Set.empty)
    val toLoad =
      if (mapped.force) afterLimit
      else afterLimit.filterNot { case (p, _) => already.contains(p) }
    if (toLoad.isEmpty)
      return status("Copy executed with 0 files processed.")
    val paths = toLoad.map(_._1)

    val reader0 = spark.read.format(mapped.format).options(mapped.options)
    // basePath keeps hive-partition column discovery working even though
    // we pass leaf files (reference injects hive_partitioning=true,
    // `universql/plugins/snow.py:77-87`); only valid when the stage path
    // is a directory
    val basePathOk =
      try LakeFs.isDirectory(base) catch { case _: Exception => false }
    val reader =
      if (basePathOk) reader0.option("basePath", base) else reader0
    val df0 =
      if (mapped.format == "csv" && mapped.skipLines > 1)
        GraftSession.csvSkippingHeads(spark, paths, mapped.skipLines,
          mapped.options - "header", target.schema)
      else if (mapped.format == "csv")
        reader.schema(target.schema).load(paths: _*)
      else reader.load(paths: _*)
    // NULL_IF beyond the first value: post-read rewrites (Spark csv takes
    // a single nullValue)
    val extraNulls = mapped.nullIf.drop(1)
    val df =
      if (mapped.format == "csv" && extraNulls.nonEmpty)
        df0.select(df0.schema.fields.map { sf =>
          val matched = extraNulls.foldLeft(lit(false))((acc, v) =>
            acc || c(sf.name).cast("string") === v)
          when(matched, lit(null).cast(sf.dataType))
            .otherwise(c(sf.name)).as(sf.name)
        }.toIndexedSeq: _*)
      else df0
    // BINARY_FORMAT decode for BINARY target columns (csv carries them as
    // text); default UTF8 is the plain string→binary cast
    def toTarget(src: org.apache.spark.sql.Column,
        dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
      (dt, mapped.binaryFormat) match {
        case (org.apache.spark.sql.types.BinaryType, Some("HEX")) =>
          unhex(src.cast("string"))
        case (org.apache.spark.sql.types.BinaryType, Some("BASE64")) =>
          unbase64(src.cast("string"))
        case _ => src.cast(dt)
      }
    // CSV aligns by position (Snowflake semantics); self-describing
    // formats (json/parquet/avro) align by name, case-insensitively
    val aligned =
      if (mapped.format == "csv")
        df.toDF(target.schema.fieldNames.take(df.columns.length): _*)
          .select(target.schema.fields.map(sf =>
            toTarget(c(sf.name), sf.dataType).as(sf.name)).toIndexedSeq: _*)
      else {
        val byName = df.columns.map(x => x.toUpperCase -> x).toMap
        df.select(target.schema.fields.map { sf =>
          val src = byName.getOrElse(sf.name.toUpperCase,
            throw new IllegalArgumentException(
              s"source column for ${sf.name} not found in ${df.columns.mkString(",")}"))
          toTarget(c(src), sf.dataType).as(sf.name)
        }.toIndexedSeq: _*)
      }
    // the COPY's own write job observes the batch's stats and merges them
    // onto the table's recorded stats (or invalidates when the pre-append
    // contents were never profiled) — no ANALYZE, no second scan
    val (instrumented, record) =
      AutoStats.observedForAppend(spark, aligned, ref.path.get)
    val beforeFiles = filesBeforeInsert(f, ref)
    instrumented.write.mode("append").parquet(ref.path.get)
    record()
    LakeFs.primeSchema(ref.path.get, aligned.schema)
    resetHistory(f, ref)
    logInsert(f, beforeFiles)
    loadHistory.update(f, already ++ paths)
    if (mapped.purge) paths.foreach(LakeFs.delete)
    status(s"Copy executed with ${paths.length} files processed.")
    } // TableLocks
  }

  /** FILE_FORMAT = (FORMAT_NAME = 'x'): splice in the named format's
    * stored options; explicitly given options win. */
  private def resolveFormatName(pairs: Map[String, String]): Map[String, String] =
    pairs.get("FORMAT_NAME") match {
      case Some(n) =>
        val stored = fileFormats.getOrElse(Identifiers.normalizePart(n),
          throw new IllegalArgumentException(s"unknown file format $n"))
        stored ++ (pairs - "FORMAT_NAME")
      case None => pairs
    }

  /** COPY INTO @stage[/path] FROM table-or-(subquery): unload a result to
    * stage files (the loading path's mirror; Spark writes distributed).
    * Supported copy options: OVERWRITE, SINGLE, HEADER, plus the
    * FILE_FORMAT map for the writer. */
  private def doUnload(target: String, rest: String): DataFrame = {
    val ffRe = "(?is)FILE_FORMAT\\s*=\\s*\\(((?:[^()]|\\([^)]*\\))*)\\)".r
    val optsRaw = ffRe.findFirstMatchIn(rest).map(_.group(1)).getOrElse("")
    val restNoFf = ffRe.replaceAllIn(rest, "").trim
    // source: (SELECT …) or a table name; remaining text = copy options
    val (sourceSql, tail) = leadingGroup(restNoFf).getOrElse {
      val tok = restNoFf.split("\\s+").head
      (s"SELECT * FROM $tok", restNoFf.drop(tok.length))
    }
    val top = resolveFormatName(parseOptionPairs(optsRaw)) ++
      parseOptionPairs(tail)
    val mapped = CopyOptions.map(top)
    val overwrite = top.get("OVERWRITE").exists(_.equalsIgnoreCase("true"))
    val single = top.get("SINGLE").exists(_.equalsIgnoreCase("true"))
    val header = top.get("HEADER").exists(_.equalsIgnoreCase("true"))
    val df0 = runQuery(sourceSql)
    val df = if (single) df0.coalesce(1) else df0
    val writeOpts = mapped.options -
      ("mode") ++ (if (header) Map("header" -> "true") else Map.empty)
    df.write.format(mapped.format).options(writeOpts)
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .save(resolveStagePath(target))
    status(s"rows unloaded to $target")
  }

  /** `@stage/path` → stage URL + path; quoted literals pass through
    * (stage metadata analog of `universql/plugins/snow.py:575-629`). */
  private def resolveStagePath(src: String): String = {
    val s = src.trim.stripPrefix("'").stripSuffix("'")
    if (s.startsWith("@")) {
      val body = s.stripPrefix("@")
      val slash = body.indexOf('/')
      val (stage, sub) =
        if (slash < 0) (body, "") else (body.substring(0, slash), body.substring(slash))
      val base = stages.getOrElse(Identifiers.normalizePart(stage),
        throw new IllegalArgumentException(s"unknown stage @$stage"))
      base + sub
    } else s
  }

  private def parseOptionPairs(s: String): Map[String, String] = {
    // KEY = value pairs; values may be quoted strings, numbers, idents, or
    // parenthesized lists
    val re = "(?is)(\\w+)\\s*=\\s*('(?:[^']|'')*'|\\([^)]*\\)|[\\w.+-]+)".r
    re.findAllMatchIn(s).map { m =>
      val v = m.group(2).trim
      val clean =
        if (v.startsWith("'"))
          GraftSession.unescapeSqlString(
            v.stripPrefix("'").stripSuffix("'").replace("''", "'"))
        else v
      m.group(1).toUpperCase -> clean
    }.toMap
  }

  // ── SHOW (A16) ─────────────────────────────────────────────────────────
  private def doShow(what: String): DataFrame = {
    val schemaOf = StructType(Seq(
      StructField("name", StringType), StructField("database_name", StringType),
      StructField("schema_name", StringType), StructField("kind", StringType)))
    what match {
      case "TABLES" | "OBJECTS" | "VIEWS" =>
        val wantView = what == "VIEWS"
        val rows = registry.list(Some(currentDatabase), Some(currentSchema))
          .filter(r => (r.kind == TableKind.Local) == wantView || what == "OBJECTS")
          .map(r => Row(r.fqn.table, r.fqn.database, r.fqn.schema,
            if (r.kind == TableKind.Local) "VIEW" else "TABLE"))
        spark.createDataFrame(rows.asJava, schemaOf)
      case "STAGES" =>
        val rows = stages.toSeq.sortBy(_._1)
          .map { case (n, url) => Row(n, currentDatabase, currentSchema, url) }
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("name", StringType), StructField("database_name", StringType),
          StructField("schema_name", StringType), StructField("url", StringType))))
      case "SCHEMAS" =>
        val rows = registry.schemas(currentDatabase)
          .map(s => Row(s, currentDatabase, s, "SCHEMA"))
        spark.createDataFrame(rows.asJava, schemaOf)
      case "FUNCTIONS" =>
        val rows = sqlFunctions.toSeq.sortBy(_._1).map { case (n, (ps, _)) =>
          Row(n, currentDatabase, currentSchema,
            s"FUNCTION(${ps.mkString(", ")})")
        }
        spark.createDataFrame(rows.asJava, schemaOf)
      case "SEQUENCES" =>
        val rows = sequences.toSeq.sortBy(_._1).map { case (n, (st, inc, _)) =>
          Row(n, currentDatabase, currentSchema, s"START $st INCREMENT $inc")
        }
        spark.createDataFrame(rows.asJava, schemaOf)
      case "FILE FORMATS" =>
        val rows = fileFormats.toSeq.sortBy(_._1).map { case (n, opts) =>
          Row(n, currentDatabase, currentSchema,
            opts.getOrElse("TYPE", "CSV"))
        }
        spark.createDataFrame(rows.asJava, schemaOf)
      case "STREAMS" =>
        val rows = streams.toSeq.sortBy(_._1.flat).map { case (f, st) =>
          Row(f.table, f.database, f.schema,
            s"ON ${st.target.flat}" +
              (if (st.appendOnly) " APPEND_ONLY" else ""))
        }
        spark.createDataFrame(rows.asJava, schemaOf)
      case "DYNAMIC TABLES" =>
        val rows = dynamicTables.toSeq.sortBy(_._1.flat).map { case (f, st) =>
          Row(f.table, f.database, f.schema,
            (if (st.inc.isDefined) "INCREMENTAL" else "FULL") +
              (if (st.lag.nonEmpty) s" TARGET_LAG=${st.lag}" else ""))
        }
        spark.createDataFrame(rows.asJava, schemaOf)
      case "DATABASES" =>
        val dbs = registry.list().map(_.fqn.database).distinct.sorted
        spark.createDataFrame(
          dbs.map(d => Row(d, d, null, "DATABASE")).asJava, schemaOf)
      case other => throw new IllegalArgumentException(s"SHOW $other")
    }
  }

  /** DESCRIBE TABLE: column name / Snowflake-typed kind / nullability,
    * like the reference surfaces rowtype metadata (A23). */
  private def doDescribe(rawName: String): DataFrame = {
    val f = fqn(rawName)
    val ref = registry.resolve(f).getOrElse(
      throw new IllegalArgumentException(s"object $f does not exist"))
    val df = registry.load(ref)
    val rows = SnowflakeTypes.rowType(df).map { m =>
      Row(m.name, m.logicalType +
        m.precision.map(p => s"(${p},${m.scale.getOrElse(0)})").getOrElse(""),
        if (m.nullable) "Y" else "N")
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("name", StringType), StructField("type", StringType),
      StructField("null?", StringType))))
  }

  private def status(msg: String): DataFrame =
    spark.createDataFrame(
      List(Row(msg)).asJava,
      StructType(Seq(StructField("status", StringType))))
}

object GraftSession {
  private val idSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val snapshotSeq = new java.util.concurrent.atomic.AtomicLong(0)
  /** Most touched group keys a dynamic-table recompute-splice refreshes
    * under a key-IN filter; past it a full refresh is cheaper. */
  private val RegroupKeyCap = 100000

  /** Snowflake single-quoted string literals process backslash escapes
    * (`FIELD_DELIMITER='\t'` is ONE tab, `ESCAPE='\\'` is ONE backslash) —
    * without this, COPY option values reach the reader as the raw
    * two-character sequence and e.g. `'\t'` becomes a 2-char delimiter.
    * Handles the documented set; an unknown `\x` keeps both chars, and a
    * trailing lone backslash is preserved. */
  private[engine] def unescapeSqlString(s: String): String = {
    if (!s.contains('\\')) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b.append('\\'); i += 2
          case 'n' => b.append('\n'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 'b' => b.append('\b'); i += 2
          case 'f' => b.append('\f'); i += 2
          case '0' => b.append('\u0000'); i += 2
          case '\'' => b.append('\''); i += 2
          case '"' => b.append('"'); i += 2
          case other => b.append('\\').append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** CSV parse of `paths` dropping the first `skip` lines of EACH file
    * (COPY's SKIP_HEADER > 1). ONE text read over all files: a file's
    * head lives in the Hadoop split whose byte offset is 0, so the drop
    * is decided per-split — no per-file Dataset union (the old shape
    * planned N reads and N−1 Union nodes; a 10k-file stage would melt
    * the driver). The plan is a single LogicalRDD → csv parse regardless
    * of file count. Header lines larger than one split (128 MB) are not
    * a thing. */
  private[graft] def csvSkippingHeads(spark: SparkSession,
      paths: Seq[String], skip: Int, options: Map[String, String],
      schema: StructType): DataFrame = {
    import spark.implicits._
    val hadoopRdd = spark.sparkContext.hadoopFile(
      paths.mkString(","),
      classOf[org.apache.hadoop.mapred.TextInputFormat],
      classOf[org.apache.hadoop.io.LongWritable],
      classOf[org.apache.hadoop.io.Text])
      .asInstanceOf[org.apache.spark.rdd.HadoopRDD[
        org.apache.hadoop.io.LongWritable, org.apache.hadoop.io.Text]]
    val lines = hadoopRdd.mapPartitionsWithInputSplit(
      (split: org.apache.hadoop.mapred.InputSplit,
       it: Iterator[(org.apache.hadoop.io.LongWritable,
                     org.apache.hadoop.io.Text)]) => {
        val fs = split.asInstanceOf[org.apache.hadoop.mapred.FileSplit]
        val dropped = if (fs.getStart == 0) it.drop(skip) else it
        dropped.map(_._2.toString) // Text is reused — copy out
      }, preservesPartitioning = true)
    spark.read.options(options).schema(schema)
      .csv(spark.createDataset(lines))
  }

  /** Cost model mirrored from the reference (`universql/util.py:375-406`):
    * hardware = ($50/core + $5/GB) depreciated over 5 years; power =
    * (25 W/core + 0.3 W/GB) at 50% utilization, $0.15/kWh. */
  def costEstimate(durationSec: Double,
      electricityRate: Double = 0.15, pcLifetimeYears: Double = 5): String = {
    val hours = durationSec / 3600.0
    val cores = Runtime.getRuntime.availableProcessors().toDouble
    val memoryGb = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getTotalMemorySize / (1024.0 * 1024.0 * 1024.0)
      case _ => Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0 * 1024.0)
    }
    val hardwareCost =
      (cores * 50 + memoryGb * 5) / (pcLifetimeYears * 365 * 24) * hours
    val powerKwh = (cores * 25 + memoryGb * 0.3) * 0.5 * hours / 1000
    f"~ $$${powerKwh * electricityRate + hardwareCost}%.6f"
  }
}
