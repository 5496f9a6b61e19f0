package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism guard for expensive per-row stages (decode, gram
  * construction, pair scoring).
  *
  * A parquet file is splittable only at row-group granularity, so a
  * small-or-single-row-group input scans as ONE task no matter how many
  * cores the session has — and every narrow (per-row) stage downstream
  * of the scan inherits that single partition. For cheap projections
  * that is irrelevant; for a decode/gram/pair stage it serializes the
  * whole operator on one core (guide §2.5 "input skew: one huge
  * unsplittable file — repartition immediately after the read").
  *
  * [[ensure]] is the scale-adaptive form of that advice: it estimates
  * the scan's task count driver-side from the input file listing (the
  * same arithmetic Spark's own FilePartition packing uses — bytes /
  * maxPartitionBytes, one task minimum per file) and repartitions by the
  * row id ONLY when the estimate leaves most of the session's cores
  * idle. At real scale the estimate exceeds the parallelism after a few
  * files and the call is a no-op — no shuffle is ever added to a scan
  * that is already parallel. The repartition key is the caller's row id
  * (high-cardinality, deterministic under retries — guide §2.5 warns
  * off rand()-derived keys), so placement is even and reproducible.
  */
private[operators] object Par {

  /** Repartition `df` (a raw-scan input about to enter an expensive
    * per-row stage) to the session's default parallelism when its scan
    * would otherwise run on a small fraction of the cores. No-op for
    * non-file inputs (in-memory fixtures, post-shuffle frames) and for
    * inputs whose estimated task count already covers the cores. */
  def ensure(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (target <= 1) return df
    val files =
      try df.inputFiles
      catch { case _: Throwable => return df }
    if (files.isEmpty) return df
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    var est = 0L
    val it = files.iterator
    while (it.hasNext && est * 2 < target) {
      val len =
        try graft.engine.LakeFs.status(it.next()).get.getLen
        catch { case _: Throwable => return df }
      est += math.max(1L, (len + maxSplit - 1) / maxSplit)
    }
    if (est * 2 < target) df.repartition(target, key) else df
  }
}
