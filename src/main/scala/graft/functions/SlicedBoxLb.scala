package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Tight-loop kernel for [[SlicedBoxLb]] — a plain object (no companion
  * class) so the generated Java can call it as a static method. */
object BoxLbKernel {

  /** Largest box coordinate magnitude the bound trusts: below it no squared
    * point distance overflows, so the metric kernels (which skip points at
    * infinite distance) never fall below the box bound. */
  val TameLimit = 1e150

  /** Directed bound max(seed, max_i min_j boxdist²(x_i, y_j)) over flat
    * [minx,maxx,miny,maxy]×k arrays, with the classic early break: once a
    * y-box is nearer than the current max, x_i cannot raise it. Every
    * x-box is read once, and -1 reports one that is not tame (a NaN, ±Inf
    * or overflowing coordinate). */
  private def directedSq(x: ArrayData, n: Int, y: ArrayData, m: Int,
                         seed: Double): Double = {
    var acc = seed
    var i = 0
    while (i < n) {
      val loX = x.getDouble(i * 4)
      val hiX = x.getDouble(i * 4 + 1)
      val loY = x.getDouble(i * 4 + 2)
      val hiY = x.getDouble(i * 4 + 3)
      if (!(math.abs(loX) <= TameLimit && math.abs(hiX) <= TameLimit &&
            math.abs(loY) <= TameLimit && math.abs(hiY) <= TameLimit)) return -1.0
      var mn = Double.PositiveInfinity
      var j = 0
      while (j < m && mn > acc) {
        val dx = math.max(0.0, math.max(loX - y.getDouble(j * 4 + 1), y.getDouble(j * 4) - hiX))
        val dy = math.max(0.0, math.max(loY - y.getDouble(j * 4 + 3), y.getDouble(j * 4 + 2) - hiY))
        val d = dx * dx + dy * dy
        if (d < mn) mn = d
        j += 1
      }
      if (mn > acc && mn != Double.PositiveInfinity) acc = mn
      i += 1
    }
    acc
  }

  /** Sliced-box lower bound: max over both directed bounds, in distance
    * units. Empty box arrays yield 0 (no bound), and so does a side with a
    * box that is not tame: there the box arithmetic can exceed the
    * kernel's value. Every operation on tame boxes is monotone, so the
    * bound is ≤ the kernel even in floating point. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements() / 4
    val m = b.numElements() / 4
    if (n == 0 || m == 0) return 0.0
    val ab = directedSq(a, n, b, m, 0.0)
    val lb = if (ab < 0) ab else directedSq(b, m, a, n, ab)
    if (lb < 0) 0.0 else math.sqrt(lb)
  }
}

/** Native Catalyst expression: time-sliced-MBR lower bound on trajectory
  * distance (reference O4/O11). Inputs are two flat ARRAY<DOUBLE> columns of
  * layout [minx,maxx,miny,maxy]·k (k time slices); output
  * `max_dir max_i min_j boxdist(slice_i, slice_j) ≤ Hausdorff ≤ Fréchet`.
  *
  * A higher-order-function formulation of the same bound runs INTERPRETED
  * (HOF lambdas don't participate in codegen) — ~100× slower per pair,
  * which dominates an all-pairs join. This expression stays inside
  * whole-stage codegen and its generated code is one static call into the
  * early-breaking [[BoxLbKernel]] loop: no lambda interpretation, no
  * allocation, no boxing per pair.
  */
case class SlicedBoxLb(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_boxlb"

  override def nullSafeEval(a: Any, b: Any): Any =
    BoxLbKernel.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BoxLbKernel.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SlicedBoxLb {
  /** Register as the SQL function `graft_boxlb` in this session
    * (idempotent); afterwards `expr("graft_boxlb(a, b)")` builds the native
    * expression. */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions._
    castToImpl(spark).sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_boxlb", exprs => SlicedBoxLb(exprs.head, exprs(1)), "built-in")
  }
}
