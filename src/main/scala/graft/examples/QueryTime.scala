package graft.examples

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Dev profiling harness: time ONE declared query in isolation (the
  * bench runs all 60+, so a single query's regression drowns in the
  * session's noise). Prints seconds + row count per rep.
  *
  * Usage: runMain graft.examples.QueryTime <sfDir> <queryName> [reps]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.sessionDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graft-querytime")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[querytime] $name rep=$i sec=$dt%.2f rows=$rows")
      spark.catalog.clearCache()
      graft.operators.Streaming.dropSinkTables(spark)
      // every rep measures the query COLD of cross-query memo state
      // (resolved tables, survivor labels, IVF index, bucketed tables):
      // a memoized rep reads ~0.05s and profiles the cache, not the
      // query. Unlike the bench, this tool has no warmup phase, so index
      // builds land in the timing — it measures standalone cost by design.
      graft.util.SessionMemo.clear(spark)
    }
    spark.stop()
  }
}
