package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftshim.GraftShims

import graft.sources.{GraftTable, GraftTableRelation}
import graft.util.Snap

/** SQL DML over `graft-table` views (round-9 directive 6): analyzer
  * post-hoc rule routing `DELETE FROM` / `MERGE INTO` on a view backed by
  * [[GraftTableRelation]] to the table's programmatic copy-on-write
  * mutations ([[GraftTable.delete]] / [[GraftTable.upsert]]) — without
  * this, Spark's check rules reject row-level SQL on any V1 relation.
  *
  *  - `DELETE FROM v WHERE p` — any non-subquery predicate.
  *  - `UPDATE v SET c = e, ... [WHERE p]` — plain column targets; the
  *    predicate and every value evaluate against the ORIGINAL row.
  *  - `MERGE INTO v USING s ON v.k = s.k WHEN MATCHED THEN UPDATE SET *
  *    WHEN NOT MATCHED THEN INSERT *` — the keyed whole-row upsert shape
  *    (exactly [[GraftTable.upsert]]'s one-atomic-commit semantics); other
  *    merge shapes refuse with an explicit message rather than silently
  *    approximating.
  *
  * Both re-derive the rewrite's stats columns from the head manifest, so
  * a mutated table keeps its file-skipping bounds. Mutations always apply
  * to the table HEAD: a `versionAsOf`-pinned view refuses (snapshots are
  * immutable). Installed via [[GraftExtensions]]
  * (`injectPostHocResolutionRule`). */
object GraftDmlRule extends Rule[LogicalPlan] {

  private def graftRel(plan: LogicalPlan): Option[GraftTableRelation] =
    plan.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[GraftTableRelation] =>
        lr.relation.asInstanceOf[GraftTableRelation]
    }

  private def headOnly(r: GraftTableRelation): String = {
    require(r.version.isEmpty,
      s"cannot mutate a versionAsOf-pinned graft-table view of ${r.dir}: " +
        "snapshots are immutable — run DML against an unpinned view of the head")
    r.dir
  }

  /** The analyzer bound these attributes to the VIEW's expression ids; the
    * command re-scans the (possibly newer) head snapshot, so rebind by
    * NAME against that fresh scan. Subquery predicates are out of the
    * spike's scope and refuse via the transform below staying unresolved. */
  private def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(target, cond) if d.childrenResolved =>
      graftRel(target) match {
        case Some(r) =>
          // wrap as an opaque Column: an Expression field on the command
          // would be re-walked by checkAnalysis, which rejects the
          // deliberately-unresolved rebind-by-name attributes
          GraftDeleteCommand(headOnly(r), GraftShims.column(unresolve(cond)))
        case None => d
      }

    case u @ UpdateTable(target, assignments, cond) if u.childrenResolved =>
      graftRel(target) match {
        case None => u
        case Some(r) =>
          val sets = assignments.map {
            case Assignment(k: AttributeReference, v) =>
              k.name -> GraftShims.column(unresolve(v))
            case a => throw new IllegalArgumentException(
              s"graft-table UPDATE requires plain column assignment targets, got ${a.sql}")
          }
          GraftUpdateCommand(headOnly(r),
            GraftShims.column(cond.map(unresolve).getOrElse(
              org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)), sets)
      }

    case m @ MergeIntoTable(target, source, cond, matched, notMatched,
        notMatchedBySource, withSchemaEvolution) if m.childrenResolved =>
      graftRel(target) match {
        case None => m
        case Some(r) =>
          val dir = headOnly(r)
          // the analyzer may have expanded `UPDATE SET *` / `INSERT *`
          // into explicit whole-row assignment lists — accept either form
          def wholeRow(as: Seq[Assignment]): Boolean =
            as.nonEmpty && as.forall {
              case Assignment(k: AttributeReference, v: AttributeReference) =>
                k.name == v.name
              case _ => false
            }
          val okMatched = matched match {
            case Seq(UpdateStarAction(None)) => true
            case Seq(UpdateAction(None, as, _)) => wholeRow(as)
            case _ => false
          }
          val okNotMatched = notMatched match {
            case Seq(InsertStarAction(None)) => true
            case Seq(InsertAction(None, as)) => wholeRow(as)
            case _ => false
          }
          // BOTH branches required: upsert replaces matches AND inserts
          // the rest — a matched-only or insert-only merge is a different
          // operation and must not silently become one
          val starShape = okMatched && okNotMatched &&
            notMatchedBySource.isEmpty && !withSchemaEvolution
          val keyCol = cond match {
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if a.name == b.name &&
                  (target.outputSet.contains(a) != target.outputSet.contains(b)) =>
              Some(a.name)
            case _ => None
          }
          require(starShape && keyCol.isDefined,
            "graft-table MERGE supports the keyed whole-row upsert shape only: " +
              "MERGE INTO t USING s ON t.k = s.k " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
              s"(got ON=${cond.sql}, matched=$matched, notMatched=$notMatched, " +
              s"notMatchedBySource=$notMatchedBySource)")
          GraftMergeCommand(dir, keyCol.get, source)
      }
  }
}

/** Stats columns to carry through a rewrite commit = whatever the head
  * manifest's files are bounded on (the table's declared skipping schema
  * is not persisted separately; the file bounds ARE the declaration). */
private object GraftDmlStats {
  def headStatsCols(dir: String): Seq[String] = GraftTable.statsColsOf(dir)
}

/** `DELETE FROM view WHERE cond` → [[GraftTable.delete]] (copy-on-write
  * rewrite of touched files only; one atomic commit). */
case class GraftDeleteCommand(dir: String, cond: org.apache.spark.sql.Column)
    extends LeafRunnableCommand {
  override def run(s: SparkSession): Seq[Row] = {
    GraftTable.delete(s, dir, cond, GraftDmlStats.headStatsCols(dir))
    Seq.empty
  }
}

/** `UPDATE view SET c = e, ... [WHERE p]` → [[GraftTable.updateWhere]]
  * (copy-on-write rewrite of matching files; predicate and values
  * evaluate against the original row, SQL UPDATE semantics). */
case class GraftUpdateCommand(dir: String, cond: org.apache.spark.sql.Column,
                              sets: Seq[(String, org.apache.spark.sql.Column)])
    extends LeafRunnableCommand {
  override def run(s: SparkSession): Seq[Row] = {
    GraftTable.updateWhere(s, dir, cond, sets, GraftDmlStats.headStatsCols(dir))
    Seq.empty
  }
}

/** Keyed whole-row `MERGE INTO` → [[GraftTable.upsert]] (matched keys
  * replace, new keys insert, one atomic commit, changelog carries the
  * batch once). The resolved source plan rides the command and executes
  * distributed at run time — never collected. */
case class GraftMergeCommand(dir: String, keyCol: String, source: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(s: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    // ONE materialization of the source: the probe and the upsert must see
    // the same rows (a non-deterministic or concurrently-changing source
    // could otherwise pass the probe yet deliver duplicates), and the
    // source plan executes once, not twice
    val src = Snap(GraftShims.ofRows(s, source))
    try {
      // SQL MERGE semantics: multiple source rows per NON-NULL key must
      // RAISE, not silently land duplicate rows (the programmatic upsert
      // documents its keep-both behavior; the SQL surface keeps the
      // standard's contract). NULL keys are exempt — ON equality never
      // matches them, so they are all legal unmatched inserts. The aggregate
      // is aliased: a key column literally named `count` must not collide.
      val dup = src.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1)
        .limit(1).collect() // bounded collect: at most 1 row
      if (dup.nonEmpty) throw new IllegalArgumentException(
        s"MERGE source has multiple rows for $keyCol=${dup.head.get(0)} — " +
          "SQL MERGE requires at most one source match per target row; " +
          "dedupe the source (or use GraftTable.upsert, which documents " +
          "keep-both batch semantics)")
      GraftTable.upsert(s, dir, keyCol, src, GraftDmlStats.headStatsCols(dir))
    } finally Snap.release(src) // the commit has written its files
    Seq.empty
  }
}
