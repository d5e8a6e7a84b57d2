package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset => ClassicDataset, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/** Narrow bridge into Spark's `private[sql]` surface, placed in a
  * subpackage of `org.apache.spark.sql` — the standard pattern for Spark
  * extension libraries that rewrite analyzer plans (a DataFrame must be
  * constructible from a resolved [[LogicalPlan]], and a [[Column]] from a
  * catalyst [[Expression]], neither of which has a public constructor).
  * Kept to exactly the three factory calls the graft DML rule, the V1
  * streaming sink and the metric Columns (graft.functions.MetricCol) need;
  * no other graft code may import this package. */
object GraftShims {
  /** Wrap an analyzed logical plan as a DataFrame (classic Dataset.ofRows). */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(ClassicConversions.castToImpl(s), plan)

  /** Wrap a catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap an already-computed [[InternalRow]] RDD as a BATCH DataFrame —
    * the V1 streaming-sink idiom: `addBatch`'s frame carries the
    * incremental (streaming) plan, so re-planning it through `df.write`
    * would throw; the sink instead reuses the executed RDD verbatim. */
  def internalDf(s: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    ClassicConversions.castToImpl(s).internalCreateDataFrame(rdd, schema)
}
