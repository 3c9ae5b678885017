package org.apache.spark.sql

import org.apache.spark.{Partitioner, SparkEnv}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, SortOrder, SortPrefix, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{SortPrefixUtils, UnsafeExternalRowSorter, UnsafeRowSerializer}
import org.apache.spark.sql.types.StructType

/**
 * Minimal bridge into Spark's `private[sql]` Column <-> Expression converters, the
 * standard pattern for extension libraries that contribute native Catalyst
 * expressions (Spark 4 split Column off to a ColumnNode API; classic conversions live
 * behind `private[sql]`). Kept to thin forwarders and set-ups of Spark's own
 * private machinery — everything else in graft uses only the public API.
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Name the file a task's reader has open, for `input_file_name()` and
    * its block start/length twins — what Spark's own file readers do at each
    * file (`InputFileBlockHolder` is `private[spark]`). `path` is URL-encoded,
    * as `PartitionedFile.urlEncodedPath`. */
  def setInputFile(path: String, start: Long, length: Long): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.set(path, start, length)

  /** Clear [[setInputFile]] when the reader closes. */
  def unsetInputFile(): Unit = org.apache.spark.rdd.InputFileBlockHolder.unset()

  /** Wrap a custom logical node as a DataFrame (the `Dataset.ofRows` every
    * extension library with whole-operator plans needs; `private[sql]`). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyzed logical plan of a frame (attribute-resolved, safe to embed as a
    * child of a custom node). */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Catalyst predicate -> V1 `Filter` translation (`protected[sql]` on
    * DataSourceStrategy) — what lets maintenance ops reuse the scan's
    * manifest-pruning layers on a user-supplied SQL predicate. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Idempotently add a planner strategy to a running session — the runtime
    * twin of `SparkSessionExtensions.injectPlannerStrategy` for sessions built
    * without `spark.sql.extensions`. */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cls = spark.asInstanceOf[classic.SparkSession]
    if (!cls.experimental.extraStrategies.contains(s))
      cls.experimental.extraStrategies = s +: cls.experimental.extraStrategies
  }

  /** Idempotently add an optimizer rule to a running session — the runtime
    * twin of `SparkSessionExtensions.injectOptimizerRule`. NOTE the batch
    * placement differs: extension-injected rules run inside the operator
    * optimization fixpoint (pre scan pushdown, seeing `DataSourceV2Relation`),
    * while `extraOptimizations` run in the terminal "User Provided Optimizers"
    * batch (post pushdown, seeing `DataSourceV2ScanRelation`) — rules attached
    * here must handle both node vintages. */
  def addOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cls = spark.asInstanceOf[classic.SparkSession]
    if (!cls.experimental.extraOptimizations.contains(r))
      cls.experimental.extraOptimizations = r +: cls.experimental.extraOptimizations
  }

  /** Shuffle rows into `n` partitions by the value of an int column — an
    * identity partitioner: row `r` goes to partition `r.getInt(partCol)` —
    * moved the way `ShuffleExchangeExec` moves them, as UnsafeRows through
    * Spark's `UnsafeRowSerializer`. The rows the result yields are reused
    * buffers: consume or copy each one before asking for the next. */
  def shuffleByIntColumn(rows: RDD[InternalRow], schema: StructType, partCol: Int,
      n: Int): RDD[InternalRow] = {
    val keyed = rows.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      it.map { r => val u = toUnsafe(r); (u.getInt(partCol), u.copy()) }
    }
    val byValue = new Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    new ShuffledRDD[Int, InternalRow, InternalRow](keyed, byValue)
      .setSerializer(new UnsafeRowSerializer(schema.length))
      .map(_._2)
  }

  /** Spark's spillable in-task sort, set up as `SortExec` sets it up: a
    * generated ordering over the bound `order`, and a sort prefix on its
    * first column. Create it inside a task; its memory is freed when the
    * sorted iterator is drained or the task ends. */
  def externalRowSorter(schema: StructType, order: Seq[SortOrder]): UnsafeExternalRowSorter = {
    val prefixExpr = SortPrefix(order.head)
    val prefixProj = UnsafeProjection.create(Seq(prefixExpr))
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        val p = prefixProj(row)
        result.isNull = p.isNullAt(0)
        result.value = if (result.isNull) prefixExpr.nullValue else p.getLong(0)
        result
      }
    }
    UnsafeExternalRowSorter.create(schema, GenerateOrdering.generate(order),
      SortPrefixUtils.getPrefixComparator(order.head), prefixComputer,
      SparkEnv.get.memoryManager.pageSizeBytes, false)
  }
}
