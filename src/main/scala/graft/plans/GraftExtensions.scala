package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions` entry point registering the engine's Catalyst
  * rules (`--conf spark.sql.extensions=graft.plans.GraftExtensions`).
  * Each rule has one behaviour: the stats-gated ones decide from the
  * observed statistics alone, with no setting to select a plan. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // AttachStats first: it feeds the stats the EagerAggregation and
    // DistinctToBitmap gates read within the same optimizer batch
    ext.injectOptimizerRule(_ => graft.engine.AutoStats.AttachStats)
    ext.injectOptimizerRule(_ => TruncToFloor)
    ext.injectOptimizerRule(_ => PartitionFilterMirror)
    ext.injectOptimizerRule(_ => BoundsFilePrune)
    ext.injectOptimizerRule(_ => EagerAggregation)
    ext.injectOptimizerRule(_ => DistinctToBitmap)
    // physical: columnar low-cardinality partial aggregation and the
    // shrink of the exchange above it
    ext.injectQueryStagePrepRule(_ => LowCardAgg)
  }
}
