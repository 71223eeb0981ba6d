package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.Strategy

/** `spark.sql.extensions=graft.plans.GraftExtensions` registration:
  * the planner strategies, the optimizer rules AND the full SQL function
  * surface, so a SQL-only deployment (spark-sql, Thrift server, PySpark
  * without Scala access) sets one conf and gets everything. The rules
  * run in the pre-CBO batch: after subqueries are rewritten, before
  * Spark renumbers lambda variables. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.Strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    GraftExtensions.Rules.foreach(r => e.injectPreCBORule(_ => r))
    graft.functions.GraftFunctions.sqlBuilders.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        builder))
    }
  }
}

object GraftExtensions {
  val Strategies: Seq[Strategy] =
    Seq(ApproxCosineJoinStrategy, graft.sources.fits.FitsHeaderAnswer)
  val Rules: Seq[Rule[LogicalPlan]] = Seq(CompileArrayAggregate)

  /** Adds the strategies and rules `spark` lacks to `spark.experimental`
    * (the rules run last in the optimizer). The optimizer fixes its rule
    * list when it starts, so call this before a query is optimized: at
    * table load, or when an operator builds its plan. */
  def ensure(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      ex.extraStrategies ++= Strategies.filterNot(ex.extraStrategies.contains)
      ex.extraOptimizations ++= Rules.filterNot(ex.extraOptimizations.contains)
    }
  }
}
