package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's `private[sql]` surface, needed to build a
  * DataFrame from graft's custom logical nodes (plans/TopKPerGroup.scala),
  * to extract expressions/plans from the public Column/Dataset API, and to
  * wrap graft's native expressions as Columns (plans/GraftFunctions.scala).
  * Kept to one-liners so the internal-API exposure is auditable.
  */
object GraftShim {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node) // eager: no lazy ColumnNode wrappers survive into physical plans

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def logicalPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Float-normalize an expression (NaN canonicalized, -0.0 → 0.0) the
    * way Catalyst does for aggregate/window/join keys — the rule is
    * `private[sql]` and never fires on custom plan nodes, so graft's
    * grouping operator applies it explicitly. Non-float types pass
    * through unchanged. */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Release the block-storage copy behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist` only covers CacheManager entries; checkpoint
    * blocks are pinned on the internal RDD until GC + ContextCleaner,
    * which unbounded iterative algorithms cannot wait for. No-op when the
    * plan is not a checkpointed LogicalRDD. */
  def unpersistLocalCheckpoint(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
