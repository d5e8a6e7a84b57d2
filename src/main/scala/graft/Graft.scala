package graft

import org.apache.spark.sql.SparkSession

/** One-call library entry point for an EXISTING SparkSession:
  * `graft.Graft.init(spark)` registers every native SQL function
  * (`graft_dot`, `graft_boxlb`, `graft_hausdorff_bounded`,
  * `graft_frechet_bounded`, `graft_within`)
  * and installs the optimizer rules (self-dot rewrite, ε-distance-join
  * rewrite). Sessions built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` get the same surface
  * without this call. Idempotent either way.
  *
  * After init, the full engine is reachable three ways:
  *  - SQL: `spark.sql("... JOIN ... ON graft_within(ax, ay, bx, by, 1.0)")`
  *  - Column API: the operator objects under [[graft.operators]]
  *    (TrajectorySearch, StrPartition, DocSimilarity, Components,
  *    Decontaminate, VectorOps, Sketches, Rank, AsOfJoin, SaltedJoin),
  *    streaming ([[graft.streaming.StreamingQueries]]) and sources
  *    ([[graft.sources.Multimodal]], [[graft.sources.IndexStore]])
  *  - Declared queries: [[SparkEntry.queries]] (the verified contract)
  */
object Graft {
  def init(spark: SparkSession): Unit = {
    graft.functions.FloatDotProduct.register(spark)
    graft.functions.SlicedBoxLb.register(spark)
    graft.functions.MetricCol.register(spark)
    graft.plans.GraftRules.install(spark) // registers graft_within + rules
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteSelfDot)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteSelfDot
    }
  }
}
