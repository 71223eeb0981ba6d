package graft.sources.fits

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Header answers without a Spark job. A pushed-down aggregate leaves a
  * deterministic `Project` over a [[FitsAggScan]], whose one row the
  * driver has already computed from headers; this strategy plans that
  * `Project` as a [[FitsHeaderAnswerExec]], which evaluates the
  * projection on that row when collected. The scan's `BatchScanExec`
  * stays in the plan as its child: explain output, plan inspection and
  * a parent that consumes the node as an RDD all see the usual scan.
  *
  * Registered by [[graft.plans.GraftExtensions]], and per session when
  * a FITS table loads. */
object FitsHeaderAnswer extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, rel: DataSourceV2ScanRelation)
        if list.forall(_.deterministic) => rel.scan match {
      case agg: FitsAggScan => FitsHeaderAnswerExec(list, agg, planLater(rel)) :: Nil
      case _ => Nil
    }
    case _ => Nil
  }
}

/** `Project(projectList)` over the `BatchScanExec` of `scan`. Collecting
  * it (also `take`, so `first()`, and `count()` too) projects the
  * scan's driver-side row and runs no job; `execute()` projects the
  * scan's one partition like a `ProjectExec` would. */
final case class FitsHeaderAnswerExec(projectList: Seq[NamedExpression],
    scan: FitsAggScan, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  override def executeCollect(): Array[InternalRow] = executeQuery {
    Array(UnsafeProjection.create(projectList, child.output)(scan.answer).copy())
  }
  override def executeTake(n: Int): Array[InternalRow] =
    if (n > 0) executeCollect() else Array.empty

  override protected def doExecute(): RDD[InternalRow] = {
    val (exprs, in) = (projectList, child.output)
    child.execute().mapPartitions(_.map(UnsafeProjection.create(exprs, in)))
  }

  override protected def stringArgs: Iterator[Any] = Iterator(projectList)
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
