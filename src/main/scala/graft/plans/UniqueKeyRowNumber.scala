package graft.plans

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal, NamedExpression, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ConstantFolding, FoldablePropagation, PruneFilters}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import graft.sources.{GraftPolicies, GraftTable}

/**
 * `row_number()` over a declared unique key is the literal 1 — the same
 * informational-constraint idea as [[RelyJoinEliminationRule]], applied to
 * the "latest row per key" view (`Relational.latestPerKey`) when its input
 * is already one row per key.
 *
 * Declaration: a graft catalog table whose manifest carries [[KeysProp]]
 * (the key's column names, see [[encodeKey]]) declares the key unique in
 * every scan of it, NULL components comparing equal — the grouping a
 * window's PARTITION BY applies. The keyed upsert store's merge records it
 * and keeps one row per key. The rule trusts the declaration and never
 * scans to check it (RELY); a table with row/column policies is refused, as
 * a masked key can collapse distinct keys.
 *
 * A `Window` qualifies when ALL of:
 *   1. every window expression is `row_number()`;
 *   2. its partition expressions include every column of a declared key,
 *      traced from the relation by exprId through `Project` (renames
 *      included) and `Filter` only — both keep a unique key unique, while
 *      `Union`, `Join` and `Aggregate` can repeat or derive it, so the trace
 *      stops there.
 * The Window becomes a Project that binds each row number to 1 under its
 * original exprId, and the `WindowGroupLimit` Spark infers beneath such a
 * window goes with it — the partition shuffle and sort disappear.
 *
 * Registered via [[GraftExtensions]] (inside the operator-optimization
 * fixpoint, before scan pushdown and `WindowGroupLimit` inference) and at
 * run time through [[org.apache.spark.sql.GraftBridge.addOptimization]]
 * (the terminal user batch, after both — no constant folding follows there,
 * so the rule folds the now-constant `rn = 1` filter itself).
 */
case class UniqueKeyRowNumberRule(session: SparkSession) extends Rule[LogicalPlan] {

  import UniqueKeyRowNumberRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val out = plan.transformUpWithPruning(_.containsPattern(WINDOW)) {
      case w @ Window(exprs, partitionSpec, _, child, _) if exprs.forall(isRowNumber) =>
        val input = child match {
          case g: WindowGroupLimit if g.partitionSpec == partitionSpec => g.child
          case other => other
        }
        val partIds = partitionSpec.collect { case a: Attribute => a.exprId }.toSet
        if (uniqueKeys(input).exists(_.forall(a => partIds.contains(a.exprId))))
          Project(input.output ++ exprs.map(e =>
            e.withNewChildren(Seq(Literal(1))).asInstanceOf[NamedExpression]), input)
        else w
    }
    if (out eq plan) plan
    else CollapseProject(PruneFilters(ConstantFolding(FoldablePropagation(out))))
  }

  private def isRowNumber(e: NamedExpression): Boolean = e match {
    case Alias(WindowExpression(_: RowNumber, _), _) => true
    case _ => false
  }

  /** The declared unique keys visible in `plan`'s output, each as the
    * output attributes carrying its columns. */
  private def uniqueKeys(plan: LogicalPlan): Seq[Seq[Attribute]] = plan match {
    case r: DataSourceV2Relation => declaredKey(r, r.output)
    case s: DataSourceV2ScanRelation => declaredKey(s.relation, s.output)
    case Filter(_, child) => uniqueKeys(child)
    case Project(list, child) =>
      uniqueKeys(child).flatMap { key =>
        val carried = key.map(k => list.collectFirst {
          case a: Attribute if a.exprId == k.exprId => a
          case al @ Alias(a: Attribute, _) if a.exprId == k.exprId => al.toAttribute
        })
        if (carried.forall(_.isDefined)) Seq(carried.flatten) else Nil
      }
    case _ => Nil
  }

  /** The key `r`'s table declares, as the attributes of `output` carrying
    * its columns — none when a column is not in `output`. */
  private def declaredKey(r: DataSourceV2Relation, output: Seq[Attribute]): Seq[Seq[Attribute]] =
    r.table match {
      case t: GraftTable if !GraftPolicies.declared(t.manifest.props) =>
        t.manifest.props.get(KeysProp).toSeq.flatMap { v =>
          val cols = decodeKey(v).map(n => output.find(a => session.sessionState.conf
            .resolver(a.name, n)))
          if (cols.nonEmpty && cols.forall(_.isDefined)) Seq(cols.flatten) else Nil
        }
      case _ => Nil
    }
}

object UniqueKeyRowNumberRule {

  /** Manifest property declaring the columns of a graft table's unique key. */
  val KeysProp = "store.keys"

  /** Key columns as one manifest value: URL-encoded names joined by commas,
    * so any column name survives. */
  def encodeKey(cols: Seq[String]): String =
    cols.map(URLEncoder.encode(_, UTF_8)).mkString(",")

  def decodeKey(v: String): Seq[String] =
    v.split(",").toSeq.filter(_.nonEmpty).map(URLDecoder.decode(_, UTF_8))
}
