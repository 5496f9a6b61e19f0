package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Table kinds, mirroring the reference's LOCAL/ICEBERG distinction
  * (`universql/warehouse/duckdb.py:81-114` `_get_table_location`). */
sealed trait TableKind
object TableKind {
  /** Session-temp table (CREATE TEMP TABLE / temp view). */
  case object Local extends TableKind
  /** Durable lake table (path-addressed parquet; Iceberg surrogate —
    * no Iceberg runtime jar ships in this environment, so the managed
    * format is parquet + this registry, per SURVEY §7.3). */
  case object Lake extends TableKind
}

final case class TableRef(
    fqn: FQN,
    kind: TableKind,
    path: Option[String],   // for Lake tables
    format: String = "parquet")

/** Name → storage resolution, replacing the reference's
  * Snowflake-metadata catalog (`universql/warehouse/snowflake.py:97-111`)
  * with a local registry over the testdata lake + session-created tables.
  * Lookup is Snowflake-case-insensitive via [[Identifiers]] normalization.
  *
  * Bound-view memo. Each Lake base is read through a session temp view
  * (`viewNamer`); binding one (data-source resolution, file listing,
  * view analysis) costs tens of ms, so the view stays bound across
  * statements and is rebound only when the base's
  * [[TableRegistry.VersionKey]] changes. The key is the immutable
  * [[TableRef]] (Iceberg metadata path, COW snapshot path, REST-resolved
  * location) plus a storage signature ([[LakeFs.signature]]): for
  * path-addressed parquet the data-file listing's, which the schema memo
  * reuses (catches in-place INSERT/COPY appends and out-of-band file
  * changes), for Iceberg the metadata file's own (catches a DROP +
  * re-CREATE that reuses the path). Formats without a key (bucketed, csv/json, Local) rebind on
  * every reference, as before the memo.
  *
  * Contract: a base view is (re)bound ONLY through [[bind]] (the current
  * version) or [[bindTransient]] (a delta or historical subset, e.g. a
  * dynamic-table refresh); both go through `rebind`, which records in
  * the memo exactly the binding the catalog holds. [[drop]] and a Local
  * [[register]] (CREATE VIEW replaces the view) forget it. The memo is
  * per registry object, i.e. per session: a bound plan carries its
  * session's cloned SparkSession.
  */
final class TableRegistry(spark: SparkSession,
    viewNamer: FQN => String = _.flat,
    /** Backing name→ref state. Pass ONE map to several sessions'
      * registries to share a catalog (server-style shared metastore):
      * each session keeps its own registry object — loads bind
      * DataFrames to that session's cloned SparkSession — while
      * registrations and COW re-points are visible to all. */
    state: TrieMap[FQN, TableRef] = TrieMap.empty) {
  import TableRegistry.VersionKey

  private val tables = state
  /** fqn → version key of the binding its session view holds. */
  private val bound = TrieMap.empty[FQN, VersionKey]

  def register(ref: TableRef): Unit = {
    // a Local ref is registered by CREATE VIEW, which replaced the view
    if (ref.kind == TableKind.Local) bound.remove(ref.fqn)
    tables.put(ref.fqn, ref)
  }

  def drop(fqn: FQN): Boolean = {
    bound.remove(fqn)
    spark.catalog.dropTempView(viewNamer(fqn))
    tables.remove(fqn).isDefined
  }

  def resolve(fqn: FQN): Option[TableRef] = tables.get(fqn)

  def list(database: Option[String] = None, schema: Option[String] = None): Seq[TableRef] =
    tables.values.toSeq
      .filter(r => database.forall(_ == r.fqn.database))
      .filter(r => schema.forall(_ == r.fqn.schema))
      .sortBy(r => (r.fqn.database, r.fqn.schema, r.fqn.table))

  def schemas(database: String): Seq[String] =
    tables.keys.toSeq.filter(_.database == database).map(_.schema).distinct.sorted

  /** Register a whole directory of parquet tables as lake tables under
    * db.schema (the `_sync_catalog` analog,
    * `universql/warehouse/duckdb.py:196-234`). */
  def registerLakeDir(dir: String, database: String, schema: String,
      names: Seq[String]): Unit =
    names.foreach { n =>
      register(TableRef(
        FQN(database.toUpperCase, schema.toUpperCase, n.toUpperCase),
        TableKind.Lake, Some(s"$dir/$n.parquet")))
    }

  /** Load the DataFrame for a resolved table. */
  def load(ref: TableRef): DataFrame = load(ref, None)

  /** `sig`: the parquet listing signature when the caller already
    * walked it (the version key), so the schema memo
    * ([[LakeFs.readParquet]]) does not walk again. */
  private def load(ref: TableRef, sig: Option[Long]): DataFrame = ref.kind match {
    case TableKind.Local => spark.table(viewNamer(ref.fqn))
    case TableKind.Lake  =>
      val df =
        if (ref.format == "iceberg")
          graft.sources.IcebergLite.scan(spark, ref.path.get)
        else if (ref.format == "bucketed")
          // path = Spark catalog name; reading via the catalog keeps the
          // bucket spec, so joins on the keys plan exchange-free
          spark.table(ref.path.get)
        else if (ref.format == "parquet")
          LakeFs.readParquet(spark, ref.path.get, sig)
        else spark.read.format(ref.format).load(ref.path.get)
      // events' ts has shipped as both INT64-nanos and timestamp[us]
      // across testdata rounds; normalize like Tables.load
      if (ref.fqn.table == "EVENTS") graft.Tables.normalizeEventsTs(df)
      else df
  }

  /** Bind the session view of Lake base `ref` to its current version,
    * keeping the binding the view already holds when the version key is
    * unchanged. Auto-stats run only on a (re)bind. */
  private[engine] def bind(ref: TableRef): Unit = {
    val key = TableRegistry.versionKey(ref)
    if (key.isEmpty || bound.get(ref.fqn) != key) {
      val df = load(ref, key.map(_.sig))
      // lazy auto-stats (rowCount + ndv, once per path per JVM) so the
      // EagerAggregation profitability gate can evaluate in sessions
      AutoStats.maybeCollect(spark, df)
      rebind(ref.fqn, df, key)
    }
  }

  /** Bind `fqn`'s session view to `df`, a relation that is not a version
    * of the table (a delta, a historical file subset); the next [[bind]]
    * rebinds the current version. */
  private[engine] def bindTransient(fqn: FQN, df: DataFrame): Unit =
    rebind(fqn, df, None)

  /** Version key of the binding `fqn`'s session view holds, if any. */
  private[engine] def boundVersion(fqn: FQN): Option[VersionKey] =
    bound.get(fqn)

  private def rebind(fqn: FQN, df: DataFrame, key: Option[VersionKey]): Unit = {
    // forget first: a failed bind must not leave the memo claiming the
    // binding it replaced
    bound.remove(fqn)
    df.createOrReplaceTempView(viewNamer(fqn))
    key.foreach(bound.put(fqn, _))
  }
}

object TableRegistry {
  /** What a bound base view was bound to: the ref plus its storage
    * signature (see the class doc of [[TableRegistry]]). */
  final case class VersionKey(ref: TableRef, sig: Long)

  /** None for formats whose storage has no cheap version signature
    * (bucketed, csv/json, Local) and for paths where nothing exists. */
  private[engine] def versionKey(ref: TableRef): Option[VersionKey] =
    if (ref.kind != TableKind.Lake || ref.path.isEmpty ||
        (ref.format != "parquet" && ref.format != "iceberg")) None
    else LakeFs.signature(ref.path.get).map(VersionKey(ref, _))
}
