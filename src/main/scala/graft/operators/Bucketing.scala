package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-located joins — the shuffle-elimination tool for repeated
  * large-×-large joins on a stable key (SURVEY §7 scale notes; at 100 TB a
  * fact-fact join on a hot key must not re-shuffle both sides per query).
  *
  * Writing both sides with `bucketBy(n, key)` + `sortBy(key)` pins each
  * key range to a bucket file; Spark's scan then reports the hash
  * partitioning, so the join planner skips both Exchanges (and with
  * sorted buckets, the sort). One-time write cost, amortized across every
  * subsequent join on that key.
  */
object Bucketing {

  /** Persist `df` as a bucketed+sorted managed table. The in-memory
    * catalog forgets tables between JVMs while their warehouse dirs
    * persist, so clear both before writing. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    writeBucketedMulti(df, table, Seq(key), buckets)

  /** Multi-key variant (the session's `CREATE TABLE … CLUSTER BY (…)
    * INTO n BUCKETS` lands here); buckets and sorts on all `keys`.
    * `location` = external-table path (None → managed warehouse dir). */
  def writeBucketedMulti(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, location: Option[String] = None): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    graft.engine.LakeFs.delete(location.getOrElse(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${table.toLowerCase}"))
    // one writer task per bucket → ONE file per bucket: Spark only
    // trusts bucket files as pre-sorted (skipping the join's sort) when
    // a bucket is a single file. repartition uses the same Murmur3 hash
    // as the bucket spec, so each task holds exactly its bucket's rows.
    //
    // When the INPUT is itself a bucketed scan with the same spec (the
    // OPTIMIZE re-cluster path), the planner elides the repartition
    // exchange against the scan's hash partitioning — and then
    // DisableUnnecessaryBucketedScan (no downstream operator "requires"
    // the partitioning in a write plan) silently turns the bucketed scan
    // OFF, leaving size-coalesced splits whose tasks hold a mix of
    // buckets → several files per bucket, misaligned. Pinning
    // autoBucketedScan off for the write keeps the bucketed scan (and
    // hence the elided, shuffle-free rewrite) bucket-aligned.
    import org.apache.spark.sql.functions.col
    val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(abs)
    spark.conf.set(abs, "false")
    // bucketed tables live in the Spark catalog, so AttachStats' synthetic
    // CatalogTable never applies — observe the write job's stats and file
    // them through the catalog's own channel (what ANALYZE would write);
    // the stats visitor then sees rowCount/ndv with zero extra scans
    val (instrumented, stats) = graft.engine.AutoStats.observed(spark, df)
    try {
      val w = instrumented.repartition(buckets, keys.map(col): _*)
        .write.mode("overwrite")
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .format("parquet")
      location.fold(w)(p => w.option("path", p)).saveAsTable(table)
    } finally prev.fold(spark.conf.unset(abs))(spark.conf.set(abs, _))
    stats().foreach { s =>
      try {
        val cat = spark.sessionState.catalog
        val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
        val size = try {
          BigInt(graft.engine.LakeFs.totalSize(
            cat.getTableMetadata(id).location.toString))
        } catch { case scala.util.control.NonFatal(_) => s.sizeInBytes }
        cat.alterTableStats(id, Some(s.copy(sizeInBytes = size)))
      } catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** Re-expose an existing bucketed data directory as an external table
    * (the in-memory catalog forgets metadata between JVMs; the data
    * files persist). Schema/bucket DDL must match how it was written. */
  def registerExternalBucketed(spark: SparkSession, table: String,
      schemaDdl: String, keys: Seq[String], buckets: Int,
      location: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl) USING parquet
         |CLUSTERED BY (${keys.mkString(", ")})
         |SORTED BY (${keys.mkString(", ")})
         |INTO $buckets BUCKETS
         |LOCATION '$location'""".stripMargin)
  }

  /** Join two bucketed tables on their bucket key — plans with zero
    * shuffle exchanges when both sides share the bucket count. */
  def coLocatedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
