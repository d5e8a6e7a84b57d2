package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ColumnConversions
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

import graft.geo.Metrics

/** Static entry points of the trajectory metric kernels: a plain object
  * (static forwarders, no companion class) so generated Java calls them
  * directly. Each forwards to the [[Metrics]] kernel of the same name after
  * `ArrayData.toDoubleArray`, one bulk memcpy per array. A Scala UDF's
  * Seq[Double] conversion would box every element instead, which on an
  * all-pairs refine costs more than the kernel itself. */
object MetricKernel {
  def hausdorffBounded(xa: ArrayData, ya: ArrayData, xb: ArrayData, yb: ArrayData,
                       bound: Double): Double =
    Metrics.hausdorffBounded(xa.toDoubleArray(), ya.toDoubleArray(),
      xb.toDoubleArray(), yb.toDoubleArray(), bound)

  def frechetBounded(xa: ArrayData, ya: ArrayData, xb: ArrayData, yb: ArrayData,
                     bound: Double): Double =
    Metrics.frechetBounded(xa.toDoubleArray(), ya.toDoubleArray(),
      xb.toDoubleArray(), yb.toDoubleArray(), bound)

  def dtw(xa: ArrayData, ya: ArrayData, xb: ArrayData, yb: ArrayData): Double =
    Metrics.dtw(xa.toDoubleArray(), ya.toDoubleArray(), xb.toDoubleArray(), yb.toDoubleArray())

  def lcssCount(xa: ArrayData, ya: ArrayData, xb: ArrayData, yb: ArrayData,
                ex: Double, ey: Double): Int =
    Metrics.lcssCount(xa.toDoubleArray(), ya.toDoubleArray(),
      xb.toDoubleArray(), yb.toDoubleArray(), ex, ey)

  def edr(xa: ArrayData, ya: ArrayData, xb: ArrayData, yb: ArrayData,
          ex: Double, ey: Double): Int =
    Metrics.edr(xa.toDoubleArray(), ya.toDoubleArray(),
      xb.toDoubleArray(), yb.toDoubleArray(), ex, ey)

  def erp(xa: ArrayData, ya: ArrayData, xb: ArrayData, yb: ArrayData): Double =
    Metrics.erp(xa.toDoubleArray(), ya.toDoubleArray(), xb.toDoubleArray(), yb.toDoubleArray())

  def closestApproach(xa: ArrayData, ya: ArrayData, xb: ArrayData, yb: ArrayData): Double =
    Metrics.closestApproach(xa.toDoubleArray(), ya.toDoubleArray(),
      xb.toDoubleArray(), yb.toDoubleArray())

  def polylineDist(px: Double, py: Double, xs: ArrayData, ys: ArrayData): Double =
    Metrics.polylineDist(px, py, xs.toDoubleArray(), ys.toDoubleArray())
}

/** The trajectory metrics as Columns: every one is a whole-stage-codegen
  * static call into [[MetricKernel]]. Coordinates are ARRAY<DOUBLE>
  * columns, one for x and one for y per trajectory; a NULL argument gives
  * NULL. Nothing is registered to build these Columns; [[register]] only
  * adds the two SQL names. */
object MetricCol {

  /** True for "frechet", false for "hausdorff"; no other search metric
    * exists. */
  private[graft] def isFrechet(metric: String): Boolean = metric match {
    case "hausdorff" => false
    case "frechet" => true
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** Hausdorff or discrete-Fréchet distance by name, early-abandoning at
    * `bound`: exact at or below it, a certificate value above it (see
    * [[Metrics.hausdorffBounded]]). At the default bound the kernel never
    * abandons; it then returns exactly [[Metrics.hausdorff]] and
    * [[Metrics.discreteFrechet]]'s values. */
  def apply(metric: String, xa: Column, ya: Column, xb: Column, yb: Column,
            bound: Column = lit(Double.MaxValue)): Column =
    invoke(if (isFrechet(metric)) "frechetBounded" else "hausdorffBounded",
      xa, ya, xb, yb, bound)

  def dtw(xa: Column, ya: Column, xb: Column, yb: Column): Column =
    invoke("dtw", xa, ya, xb, yb)

  /** LCSS ε-match count, an INT (similarity = count / min(n, m)). */
  def lcssCount(xa: Column, ya: Column, xb: Column, yb: Column, ex: Column, ey: Column): Column =
    invoke("lcssCount", xa, ya, xb, yb, ex, ey)

  /** EDR, an INT. */
  def edr(xa: Column, ya: Column, xb: Column, yb: Column, ex: Column, ey: Column): Column =
    invoke("edr", xa, ya, xb, yb, ex, ey)

  /** ERP against the origin gap point. */
  def erp(xa: Column, ya: Column, xb: Column, yb: Column): Column =
    invoke("erp", xa, ya, xb, yb)

  def closestApproach(xa: Column, ya: Column, xb: Column, yb: Column): Column =
    invoke("closestApproach", xa, ya, xb, yb)

  /** Distance from the point (px, py) to the polyline (xs, ys). */
  def polylineDist(px: Column, py: Column, xs: Column, ys: Column): Column =
    invoke("polylineDist", px, py, xs, ys)

  /** The static call of [[MetricKernel]]'s entry point `entry`. Its Java
    * signature gives the types: ArrayData parameters take ARRAY<DOUBLE>,
    * the others DOUBLE (arguments are implicitly cast to these), and an int
    * result is an INT column. */
  private def build(entry: String, args: Seq[Expression]): Expression = {
    val m = MetricKernel.getClass.getMethods.find(_.getName == entry).get
    val types = m.getParameterTypes.toSeq.map(c =>
      if (c == classOf[ArrayData]) ArrayType(DoubleType) else DoubleType)
    val result = if (m.getReturnType == classOf[Int]) IntegerType else DoubleType
    StaticInvoke(MetricKernel.getClass, result, entry, args, types,
      propagateNull = true, returnNullable = false)
  }

  private def invoke(entry: String, args: Column*): Column =
    GraftShims.column(build(entry, args.map(ColumnConversions.expression)))

  /** The SQL functions `graft_hausdorff_bounded(xs1, ys1, xs2, ys2, bound)`
    * and `graft_frechet_bounded(…)`, with their builders. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_hausdorff_bounded" -> (build("hausdorffBounded", _)),
    "graft_frechet_bounded" -> (build("frechetBounded", _)))

  /** Register [[sqlFunctions]] in this session (idempotent). */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions._
    sqlFunctions.foreach { case (name, b) =>
      castToImpl(spark).sessionState.functionRegistry.createOrReplaceTempFunction(
        name, b, "built-in")
    }
  }
}

/** `MetricCol("hausdorff", …)` under the name perfbench's
  * `functions.hausdorff_pairs_per_s` probe calls. */
object HausdorffCodegen {
  def apply(xs1: Column, ys1: Column, xs2: Column, ys2: Column, bound: Column): Column =
    MetricCol("hausdorff", xs1, ys1, xs2, ys2, bound)
}

/** `MetricCol("frechet", …)` under the name perfbench's
  * `functions.frechet_pairs_per_s` probe calls. */
object FrechetCodegen {
  def apply(xs1: Column, ys1: Column, xs2: Column, ys2: Column, bound: Column): Column =
    MetricCol("frechet", xs1, ys1, xs2, ys2, bound)
}
