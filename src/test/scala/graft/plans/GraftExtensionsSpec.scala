package graft.plans

import org.apache.spark.sql.SparkSession

import graft.SparkTestBase

class GraftExtensionsSpec extends SparkTestBase {

  test("GraftExtensions injects the full SQL surface at session build") {
    // extensions apply only when a session is BUILT, so build a fresh
    // one over the shared context (clear the default so getOrCreate
    // cannot return the plain test session), then restore. The
    // conf-string route (`spark.sql.extensions=graft.plans
    // .GraftExtensions`) reads the STATIC conf of the already-running
    // SparkContext and so cannot be exercised in a shared-JVM test;
    // withExtensions drives the exact same GraftExtensions.apply.
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[8]")
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      // scalar expression through pure SQL text — no register() call
      val c = s2.sql(
        "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
        .head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      // multi-word signature (int-literal arg path)
      val sw = s2.sql(
        "SELECT sim_signature_words(array(1.0F, 2.0F, 3.0F), 128) AS s")
        .head.getSeq[Long](0)
      assert(sw.length == 2)
      // aggregate builder path
      val tk = s2.sql(
        "SELECT topk_agg(CAST(id AS DOUBLE), id, 3) AS tk FROM range(10)")
        .head.getSeq[org.apache.spark.sql.Row](0)
      assert(tk.map(_.getLong(0)) == Seq(9L, 8L, 7L))
      // the optimizer rule rides along without ensure(): an aggregate
      // over an array compiles, and still sums right
      assert(s2.experimental.extraOptimizations.isEmpty)
      val lines = s2.range(0, 10, 1, 2)
        .selectExpr("aggregate(array(id, 2 * id), 0L, (a, x) -> a + x) AS t")
      assert(lines.queryExecution.optimizedPlan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[CompiledArrayAggregate]))))
      assert(lines.selectExpr("sum(t)").head.getLong(0) == 135L)
      // the planner strategy rides along: the custom join still plans
      val planned = {
        import s2.implicits._
        val df = Seq((1L, Array(1f, 0f))).toDF("id", "vec")
        ApproxCosineJoin.join(
          df.select($"id".as("l_id"), $"vec".as("l_vec")),
          df.select($"id".as("r_id"), $"vec".as("r_vec")),
          "l_vec", "r_vec", 0.5)
      }
      assert(planned.queryExecution.executedPlan.toString
        .contains("ApproxCosineJoin"))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
