package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.functions.FloatDotProduct

/** Σ xᵢ² over one ARRAY<FLOAT> — the self-dot specialization (one array
  * traversal instead of two cursor walks). Same fold order as
  * `FloatDotProduct(x, x)`, so the rewrite below is value-preserving. */
case class FloatNorm2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  // same null semantics as FloatDotProduct(x, x): a null element -> NULL
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      s += x * x
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = (double) $a.getFloat($i);
         |  $s += $x * $x;
         |}
         |if (!${ev.isNull}) ${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Optimizer rule: `graft_dot(x, x)` → `FloatNorm2(x)`. Fires only on
  * deterministic, semantically-equal children; value-identical because both
  * run the same left-to-right double fold. */
object RewriteSelfDot extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case FloatDotProduct(a, b) if a.deterministic && a.semanticEquals(b) => FloatNorm2(a)
  }
}

/** Session-extension entry point (`SparkSessionExtensions`): registers the
  * native functions, the self-dot rewrite, and the ε-distance-join rewrite
  * ([[RewriteDistanceJoin]] — a whole-operator Catalyst rule). Install via
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`; for an existing
  * session use [[GraftRules.install]]. Everything still lowers to existing
  * physical operators (hash joins, generate) — a custom SparkPlan would buy
  * nothing the planner doesn't already do once the logical shape is right.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => FloatDotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_within"),
      new ExpressionInfo(classOf[graft.functions.GraftWithin].getName, "graft_within"),
      (exprs: Seq[Expression]) => graft.functions.GraftWithin.build(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_boxlb"),
      new ExpressionInfo(classOf[graft.functions.SlicedBoxLb].getName, "graft_boxlb"),
      (exprs: Seq[Expression]) => graft.functions.SlicedBoxLb(exprs.head, exprs(1))))
    graft.functions.MetricCol.sqlFunctions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(graft.functions.MetricKernel.getClass.getName, name), build))
    }
    ext.injectOptimizerRule(_ => RewriteSelfDot)
    ext.injectOptimizerRule(_ => RewriteDistanceJoin)
    // SQL DELETE/MERGE over graft-table views — must run in the analyzer
    // (post-hoc), before the V1-relation check rules reject row-level SQL
    ext.injectPostHocResolutionRule(_ => GraftDmlRule)
  }
}
