package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BoundReference, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/**
 * Global dense row numbers under `ordering` without a one-partition sort
 * (`Relational.globalRowNumber`): the child is range-partitioned and sorted
 * within partitions, and `out` numbers its rows 1..n in partition order.
 *
 * The partition ids and the per-partition offsets come from ONE evaluation
 * of the child: the exec zips its child RDD with an index, which counts each
 * partition in one job and then numbers the same RDD — both jobs read the
 * same range-shuffle output. Deriving the offsets from a second evaluation
 * (a count per `spark_partition_id()` joined back) is wrong whenever the two
 * evaluations split the rows differently, which AQE does.
 */
case class GlobalRowNumber(ordering: Seq[SortOrder], out: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalRowNumber =
    copy(child = newChild)
}

case class GlobalRowNumberExec(ordering: Seq[SortOrder], out: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(ordering) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val fields = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    child.execute().zipWithIndex().mapPartitions { rows =>
      val proj = UnsafeProjection.create(fields)
      val joined = new JoinedRow
      val n = new SpecificInternalRow(Seq(LongType))
      rows.map { case (row, i) => n.setLong(0, i + 1); proj(joined(row, n)) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GlobalRowNumberExec =
    copy(child = newChild)
}

object GlobalRowNumberStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRowNumber(ordering, out, child) =>
      GlobalRowNumberExec(ordering, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
