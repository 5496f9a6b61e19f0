package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Automatic column statistics, making [[graft.plans.EagerAggregation]]'s
  * profitability gate live in plain sessions — the reference plans on
  * DuckDB, whose optimizer always has table stats; a session user here
  * never runs `ANALYZE TABLE … FOR COLUMNS`, so without this the stats
  * gate can never fire and the eager-aggregation win is unreachable.
  *
  * Shape: a JVM-wide store of (scan root path → CatalogStatistics),
  * filled LAZILY the first time a session materializes a lake table view
  * (one aggregate pass: rowCount + approx ndv + null count per atomic
  * column), and an optimizer rule ([[AutoStats.AttachStats]]) that
  * decorates bare `LogicalRelation` leaves with a synthetic
  * [[CatalogTable]] carrying those stats — exactly what `ANALYZE TABLE`
  * would have produced, minus min/max. NOTE on sizes: with CBO on and
  * rowCount present, Spark's `toPlanStats` IGNORES the stored
  * sizeInBytes and recomputes it as rowCount × estimated row width, so
  * string columns also get avgLen/maxLen collected (ADVICE r5) — without
  * them a string falls back to defaultSize (20 B) and a string-heavy
  * table could be under-estimated into an unintended broadcast.
  * Stats flow to plans only when CBO is on (`spark.sql.cbo.enabled`,
  * set by [[GraftSession]]).
  *
  * Scale notes (100 TB): the collection pass is one scan with a 2-agg
  * column budget (ndv sketch + null count), capped at [[LazyCollectBytes]]
  * (1 GiB) of input unless the caller raises the cap — at warehouse scale
  * you fold the same aggregates into the WRITE job (`Dataset.observe`
  * rides the write for free) rather than re-scanning at attach; the
  * store/attach mechanics here are identical either way. Writes through
  * the session (INSERT/COPY/CREATE) invalidate the written path, and the
  * next reference re-collects.
  */
object AutoStats {

  private val store =
    scala.collection.concurrent.TrieMap.empty[String, CatalogStatistics]
  /** Paths that failed or were skipped (too big): don't retry per query. */
  private val skipped =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  /** Timestamp column (min, max) micros per (path key, column name) —
    * kept OUTSIDE the catalog stats on purpose: a CatalogColumnStat on a
    * TimestampNTZ column crashes Spark 4.1's FilterEstimation (see
    * [[eligible]]), and CBO has no use for the range anyway. The ONE
    * consumer is [[graft.plans.LowCardAgg]]'s stats gate, which bounds
    * the NDV of a floored-timestamp grouping key (`date_trunc('hour',
    * ts)` → [[graft.functions.FloorTimestamp]]) by range/unit — the
    * time-bucketed GROUP BY is the canonical observability shape, and
    * without this bound the gate could never fire on it (a computed column
    * has no stats of its own). */
  private val tsRangeStore =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]

  /** Input size above which the lazy collection skips a table. */
  private val LazyCollectBytes: Long = 1L << 30

  /** Root-path key of the plan's single LogicalRelation leaf (None when
    * the plan has zero or several scans — Iceberg delete-merge plans and
    * the like stay stats-free rather than mis-keyed). */
  private def keyOf(plan: LogicalPlan): Option[(String, LogicalRelation)] =
    plan.collect { case lr: LogicalRelation => lr } match {
      case Seq(lr) => lr.relation match {
        case h: HadoopFsRelation =>
          Some((h.location.rootPaths.map(_.toString).sorted.mkString(","), lr))
        case _ => None
      }
      case _ => None
    }

  /** Types FilterEstimation can handle a ColumnStat for. TimestampNTZ is
    * deliberately absent: Spark 4.1's FilterEstimation.evaluateBinary
    * MatchErrors on TimestampNTZType (CBO predates the type), so a stat
    * on such a column crashes optimization of any filter over it. Join
    * keys — all the eager-aggregation gate reads — are int/string. */
  private def eligible(f: StructField): Boolean = f.dataType match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType => true
    case _ => false
  }

  /** Collect rowCount + per-column (approx ndv, null count) for `df`'s
    * scan, once per path per JVM. No-op when already collected, keyless,
    * or over `maxBytes` of input. */
  def maybeCollect(spark: SparkSession, df: DataFrame,
      maxBytes: Long = LazyCollectBytes): Unit = {
    val (key, lr) = keyOf(df.queryExecution.analyzed) match {
      case Some(kl) => kl
      case None => return
    }
    if (lr.catalogTable.isDefined) return // catalog tables bring their own
    if (store.contains(key) || skipped.contains(key)) return
    if (lr.relation.sizeInBytes > maxBytes) {
      skipped.put(key, ()); return
    }
    try {
      val cols = df.schema.fields.filter(eligible).take(32)
        .filter(f => !f.name.contains("`"))
      // strings additionally get avg/max length so toPlanStats' row-width
      // recomputation stays realistic (see class doc)
      val aggItems = scala.collection.mutable.ArrayBuffer(count(lit(1L)).as("_gs_n"))
      val layout = cols.map { f =>
        val base = aggItems.size
        aggItems += approx_count_distinct(col(s"`${f.name}`"))
        aggItems += count(col(s"`${f.name}`"))
        val strOff = if (f.dataType == StringType) {
          aggItems += avg(length(col(s"`${f.name}`")))
          aggItems += max(length(col(s"`${f.name}`")))
          Some(base + 2)
        } else None
        (f, base, strOff)
      }
      // timestamp ranges for the side store (same single pass). NTZ needs
      // a cast for unix_micros to accept it; the cast is pinned to UTC
      // (not the session zone) so the extraction is the IDENTITY on the
      // raw internal micros — a session-zone cast across a DST transition
      // shrinks the measured range by up to 1h and under-counts the
      // floored-key NDV bound past its slack (ADVICE r10 #3)
      val tsCols = df.schema.fields.filter(f =>
        f.dataType == TimestampType || f.dataType == TimestampNTZType)
        .filter(f => !f.name.contains("`")).take(8)
      val tsLayout = tsCols.map { f =>
        val base = aggItems.size
        val micros = unix_micros(org.apache.spark.sql.GraftColumns.ofExpr(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.GraftColumns.exprOf(col(s"`${f.name}`")),
            TimestampType, Some("UTC"))))
        aggItems += min(micros)
        aggItems += max(micros)
        (f, base)
      }
      val row = df.agg(aggItems.head, aggItems.drop(1).toSeq: _*).collect()(0)
      val rows = BigInt(row.getLong(0))
      val colStats = layout.map { case (f, base, strOff) =>
        val ndv = BigInt(row.getLong(base))
        val nonNull = BigInt(row.getLong(base + 1))
        val (avgLen, maxLen) = strOff.map { o =>
          (if (row.isNullAt(o)) None
           else Some(math.ceil(row.getDouble(o)).toLong),
           if (row.isNullAt(o + 1)) None
           else Some(row.getInt(o + 1).toLong))
        }.getOrElse((None, None))
        f.name -> CatalogColumnStat(
          distinctCount = Some(ndv.max(1)),
          nullCount = Some((rows - nonNull).max(0)),
          avgLen = avgLen, maxLen = maxLen)
      }.toMap
      store.put(key, CatalogStatistics(
        sizeInBytes = lr.relation.sizeInBytes,
        rowCount = Some(rows),
        colStats = colStats))
      tsLayout.foreach { case (f, base) =>
        if (!row.isNullAt(base) && !row.isNullAt(base + 1))
          tsRangeStore.put((key, f.name),
            (row.getLong(base), row.getLong(base + 1)))
      }
      ()
    } catch { case scala.util.control.NonFatal(_) => skipped.put(key, ()); () }
  }

  /** (min, max) micros of a timestamp column of `plan`'s single scan, if
    * collected — the floored-key NDV bound in [[graft.plans.LowCardAgg]]
    * reads this. `attr` must be an output of the plan's one
    * LogicalRelation leaf (matched by exprId so renames can't mislead). */
  def tsRangeFor(plan: LogicalPlan,
      attr: org.apache.spark.sql.catalyst.expressions.Attribute)
      : Option[(Long, Long)] =
    keyOf(plan).flatMap { case (key, lr) =>
      lr.output.find(_.exprId == attr.exprId)
        .flatMap(out => tsRangeStore.get((key, out.name)))
    }

  /** The canonical store key for a filesystem path — the same qualified
    * URI rendering `HadoopFsRelation.location.rootPaths` uses, so
    * write-time recording and read-time attachment agree. */
  private def qualifiedKey(spark: SparkSession, path: String): String =
    LakeFs.qualified(path)

  /** Record exact zero stats for a freshly created EMPTY table — the
    * anchor that lets the first COPY/INSERT append MERGE its observed
    * stats instead of falling back to lazy re-collection (the common
    * `CREATE TABLE (cols); COPY INTO t` load pattern then has live stats
    * with zero extra scans). */
  def recordEmpty(spark: SparkSession, path: String,
      schema: StructType): Unit = {
    val colStats = schema.fields.filter(eligible)
      .filter(f => !f.name.contains("`")).take(32).map { f =>
        f.name -> CatalogColumnStat(
          distinctCount = Some(BigInt(0)), nullCount = Some(BigInt(0)))
      }.toMap
    val key = qualifiedKey(spark, path)
    skipped.remove(key)
    store.put(key, CatalogStatistics(sizeInBytes = BigInt(0),
      rowCount = Some(BigInt(0)), colStats = colStats))
    ()
  }

  /** Append-mode sibling of [[observedForWrite]]: observe the appended
    * batch during the write, then MERGE with the table's existing stats —
    * rowCount/nullCount add exactly; ndv takes the capped sum (an upper
    * bound: conservative for the eager-aggregation gate, which only fires
    * on LOW-ndv keys); avgLen weights by non-null counts; maxLen maxes.
    * When the table has NO recorded stats (pre-append contents unknown)
    * the entry is invalidated instead — recording only the batch's stats
    * would mis-describe the table. */
  def observedForAppend(spark: SparkSession, df: DataFrame,
      path: String): (DataFrame, () => Unit) = {
    val (instrumented, stats) = observed(spark, df)
    val record = () => {
      val key = qualifiedKey(spark, path)
      (store.get(key), stats()) match {
        case (Some(old), Some(add)) if old.rowCount.isDefined =>
          val rows = old.rowCount.get + add.rowCount.getOrElse(BigInt(0))
          val colStats = old.colStats.map { case (name, o) =>
            name -> add.colStats.get(name).map { a =>
              val oN = o.nullCount.getOrElse(BigInt(0))
              val aN = a.nullCount.getOrElse(BigInt(0))
              val oNonNull = (old.rowCount.get - oN).max(0)
              val aNonNull = (add.rowCount.getOrElse(BigInt(0)) - aN).max(0)
              val avgLen = (o.avgLen, a.avgLen) match {
                case (Some(x), Some(y)) =>
                  val w = oNonNull + aNonNull
                  Some(if (w <= 0) 0L
                       else ((x * oNonNull + y * aNonNull) / w).toLong)
                case (x, y) => y.orElse(x)
              }
              CatalogColumnStat(
                distinctCount = Some(
                  (o.distinctCount.getOrElse(BigInt(0)) +
                    a.distinctCount.getOrElse(BigInt(0))).min(rows.max(1))),
                nullCount = Some(oN + aN),
                avgLen = avgLen,
                maxLen = (o.maxLen ++ a.maxLen).reduceOption(_ max _))
            }.getOrElse(o)
          }
          val size = try {
            BigInt(LakeFs.totalSize(path))
          } catch { case scala.util.control.NonFatal(_) =>
            old.sizeInBytes + add.sizeInBytes }
          store.put(key, CatalogStatistics(sizeInBytes = size,
            rowCount = Some(rows), colStats = colStats))
          ()
        case _ => invalidate(path)
      }
    }
    (instrumented, record)
  }

  /** Observe `df`'s stats during whatever action consumes it; the thunk
    * yields the batch's CatalogStatistics once the action ran (None on
    * failure). Shared by the write- and append-recording paths and the
    * bucketed-CTAS catalog attach. */
  def observed(spark: SparkSession,
      df: DataFrame): (DataFrame, () => Option[CatalogStatistics]) = {
    val cols = df.schema.fields.filter(eligible).take(32)
      .filter(f => !f.name.contains("`"))
    if (cols.isEmpty) return (df, () => None)
    val obs = org.apache.spark.sql.Observation()
    val aggs = count(lit(1L)).as("_gs_n") +: cols.zipWithIndex.flatMap {
      case (f, i) =>
        Seq(approx_count_distinct(col(s"`${f.name}`")).as(s"_gs_d$i"),
          count(col(s"`${f.name}`")).as(s"_gs_c$i")) ++
          (if (f.dataType == StringType)
            Seq(avg(length(col(s"`${f.name}`"))).as(s"_gs_a$i"),
              max(length(col(s"`${f.name}`"))).as(s"_gs_m$i"))
          else Nil)
    }
    val instrumented = df.observe(obs, aggs.head, aggs.tail: _*)
    val stats = () => try {
      val m = obs.get
      val rows = BigInt(m("_gs_n").asInstanceOf[Long])
      val colStats = cols.zipWithIndex.map { case (f, i) =>
        val (avgLen, maxLen) =
          if (f.dataType == StringType)
            (Option(m(s"_gs_a$i")).collect { case n: Number =>
              math.ceil(n.doubleValue()).toLong },
             Option(m(s"_gs_m$i")).collect { case n: Number => n.longValue() })
          else (None, None)
        f.name -> CatalogColumnStat(
          distinctCount = Some(BigInt(m(s"_gs_d$i").asInstanceOf[Long]).max(1)),
          nullCount = Some(
            (rows - BigInt(m(s"_gs_c$i").asInstanceOf[Long])).max(0)),
          avgLen = avgLen, maxLen = maxLen)
      }.toMap
      Some(CatalogStatistics(sizeInBytes = rows.max(1),
        rowCount = Some(rows), colStats = colStats))
    } catch { case scala.util.control.NonFatal(_) => None }
    (instrumented, stats)
  }

  /** The 100 TB collection path: instrument `df` so the WRITE job itself
    * produces the stats (`Dataset.observe` — the metrics ride the write
    * for free, no second scan), and return a thunk to store them once
    * the write action completes. Usage:
    * {{{
    *   val (instrumented, record) = AutoStats.observedForWrite(spark, df, path)
    *   instrumented.write.mode("overwrite").parquet(path)
    *   record()
    * }}} */
  def observedForWrite(spark: SparkSession, df: DataFrame,
      path: String): (DataFrame, () => Unit) = {
    val (instrumented, stats) = observed(spark, df)
    val record = () => stats().foreach { s =>
      val key = qualifiedKey(spark, path)
      val size = try {
        BigInt(LakeFs.totalSize(path))
      } catch { case scala.util.control.NonFatal(_) => s.sizeInBytes }
      skipped.remove(key)
      store.put(key, s.copy(sizeInBytes = size))
    }
    (instrumented, record)
  }

  /** The store key an ICEBERG snapshot's scan resolves to: [[keyOf]]
    * joins the HadoopFsRelation's root paths — for
    * [[graft.sources.IcebergLite.scan]] that is the snapshot's data-file
    * list. Pure metadata (planFiles is memoized driver-side). */
  private def icebergScanKey(spark: SparkSession,
      metadataPath: String): Option[String] = try {
    val files = graft.sources.IcebergLite.dataFiles(spark, metadataPath)
    if (files.isEmpty) None
    else {
      Some(files.map(LakeFs.qualified).sorted.mkString(","))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Record stats for a FRESH Iceberg table (CTAS / overwrite): the
    * observed batch IS the table. Without this, the first SELECT after
    * every commit pays a lazy re-collection scan — the write job
    * already measured everything (class doc: fold stats into the write
    * at scale). */
  def recordIcebergWrite(spark: SparkSession, newMeta: String,
      stats: Option[CatalogStatistics]): Unit =
    (icebergScanKey(spark, newMeta), stats) match {
      case (Some(key), Some(s)) =>
        val size = try {
          graft.sources.IcebergLite.dataFiles(spark, newMeta)
            .map(LakeFs.size).sum
        } catch { case scala.util.control.NonFatal(_) => s.sizeInBytes.toLong }
        skipped.remove(key)
        store.put(key, s.copy(sizeInBytes = BigInt(size)))
        ()
      case _ => ()
    }

  /** Append-commit sibling: merge the observed batch's stats with the
    * PREVIOUS snapshot's recorded stats (same fold as
    * [[observedForAppend]]) and record them under the NEW snapshot's
    * scan key. No previous stats → leave unset (one lazy collection
    * fires later, exactly as before). */
  def recordIcebergAppend(spark: SparkSession, oldMeta: String,
      newMeta: String, stats: Option[CatalogStatistics]): Unit =
    (icebergScanKey(spark, oldMeta).flatMap(store.get),
        icebergScanKey(spark, newMeta), stats) match {
      case (Some(old), Some(newKey), Some(add)) if old.rowCount.isDefined =>
        val rows = old.rowCount.get + add.rowCount.getOrElse(BigInt(0))
        val colStats = old.colStats.map { case (name, o) =>
          name -> add.colStats.get(name).map { a =>
            val oN = o.nullCount.getOrElse(BigInt(0))
            val aN = a.nullCount.getOrElse(BigInt(0))
            val oNonNull = (old.rowCount.get - oN).max(0)
            val aNonNull = (add.rowCount.getOrElse(BigInt(0)) - aN).max(0)
            val avgLen = (o.avgLen, a.avgLen) match {
              case (Some(x), Some(y)) =>
                val w = oNonNull + aNonNull
                Some(if (w <= 0) 0L
                     else ((x * oNonNull + y * aNonNull) / w).toLong)
              case (x, y) => y.orElse(x)
            }
            CatalogColumnStat(
              distinctCount = Some(
                (o.distinctCount.getOrElse(BigInt(0)) +
                  a.distinctCount.getOrElse(BigInt(0))).min(rows.max(1))),
              nullCount = Some(oN + aN),
              avgLen = avgLen,
              maxLen = (o.maxLen ++ a.maxLen).reduceOption(_ max _))
          }.getOrElse(o)
        }
        val size = try {
          graft.sources.IcebergLite.dataFiles(spark, newMeta)
            .map(LakeFs.size).sum
        } catch { case scala.util.control.NonFatal(_) =>
          (old.sizeInBytes + add.sizeInBytes).toLong }
        skipped.remove(newKey)
        store.put(newKey, CatalogStatistics(sizeInBytes = BigInt(size),
          rowCount = Some(rows), colStats = colStats))
        ()
      case _ => ()
    }

  /** Drop stats for any path matching `pathFragment` at a path-segment
    * boundary (called after in-place writes; the next reference
    * re-collects). Substring containment alone would invalidate `/wh/t2`
    * when `/wh/t` is written (ADVICE r5) — the occurrence must be
    * followed by `/` or end-of-key. */
  def invalidate(pathFragment: String): Unit = {
    val frag = pathFragment.stripSuffix("/")
    def hit(k: String): Boolean = {
      var i = k.indexOf(frag)
      while (i >= 0) {
        val end = i + frag.length
        if (end == k.length || k.charAt(end) == '/') return true
        i = k.indexOf(frag, i + 1)
      }
      false
    }
    store.keys.filter(hit).foreach(store.remove)
    skipped.keys.filter(hit).foreach(skipped.remove)
    tsRangeStore.keys.filter(k => hit(k._1)).foreach(tsRangeStore.remove)
  }

  /** Test/tooling escape hatch. */
  def clear(): Unit = { store.clear(); skipped.clear(); tsRangeStore.clear() }

  /** Optimizer rule: decorate bare LogicalRelation leaves whose root path
    * has collected stats with a synthetic CatalogTable — the vehicle
    * Spark's stats visitor already understands. Runs before
    * [[graft.plans.EagerAggregation]] in the same batch (registration
    * order in GraftExtensions), idempotent via the catalogTable guard. */
  object AttachStats extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (store.isEmpty) plan
      else plan.transform {
        case lr: LogicalRelation if lr.catalogTable.isEmpty =>
          val key = lr.relation match {
            case h: HadoopFsRelation =>
              Some(h.location.rootPaths.map(_.toString).sorted.mkString(","))
            case _ => None
          }
          key.flatMap(store.get) match {
            case Some(cs) =>
              lr.copy(catalogTable = Some(CatalogTable(
                identifier = TableIdentifier(
                  "graft_stats_" + Integer.toHexString(key.get.hashCode)),
                tableType = CatalogTableType.EXTERNAL,
                storage = CatalogStorageFormat.empty,
                schema = lr.schema,
                provider = Some("parquet"),
                stats = Some(cs))))
            case None => lr
          }
      }
  }
}
