package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}
import org.apache.spark.sql.types.{AtomicType, DataType}

/** Minimal bridge to Spark's `private[sql]` Column↔Expression and
  * Dataset↔LogicalPlan converters. Lives inside the
  * org.apache.spark.sql package tree the same way third-party Spark
  * extension libraries do it; contains no logic of its own.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def logicalPlan(df: DataFrame): LogicalPlan =
    ClassicConversions.castToImpl(df).queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  /** `AtomicType` is `private[sql]`. */
  def isAtomic(t: DataType): Boolean = t.isInstanceOf[AtomicType]

  /** Frees the storage blocks behind a `localCheckpoint()`ed frame.
    * `catalog.clearCache()` does not touch checkpoint RDD blocks, so an
    * iterative algorithm that checkpoints per round must release each
    * superseded round itself or the blocks pin executor storage for the
    * session's lifetime. No-op on non-checkpointed frames.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    ClassicConversions.castToImpl(df).queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
