package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkTestBase

class FitsCountPushdownSpec extends SparkTestBase
    with AdaptiveSparkPlanHelper {

  private val res = RefFixtures.root

  test("COUNT(*) is answered from metadata without scanning data") {
    val df = spark.read.format("fits").option("hdu", 1)
      .load(s"$res/test_file.fits")
    val counted = df.groupBy().count()
    assert(counted.collect().head.getLong(0) == 20000L)
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-only aggregate"), plan)
  }

  test("multi-file COUNT(*) sums per-file metadata counts") {
    val df = spark.read.format("fits").option("hdu", 1).load(s"$res/dir")
    assert(df.count() == 27000L)
    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-only aggregate"), plan)
  }

  test("count with a filter still scans (pushdown declined)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("fits").option("hdu", 1)
      .load(s"$res/test_file.fits")
    val n = df.filter(col("Index") < 100).count()
    assert(n == 100L)
  }

  test("grouped counts are not falsely pushed") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("fits").option("hdu", 2)
      .load(s"$res/test_file.fits")
    val grouped = df.groupBy(col("Discovery")).count().collect()
    assert(grouped.map(_.getLong(1)).sum == 20000L)
  }

  test("MIN/MAX of the image line index answer from metadata") {
    import org.apache.spark.sql.functions._
    val img = spark.read.format("fits").option("hdu", 2)
      .load(s"$res/dirIm/0_i_am_not_empty.fits")
    val agg = img.agg(min(col("ImgIndex")), max(col("ImgIndex")),
      count(lit(1)))
    val row = agg.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      (0L, 154L, 155L))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-only aggregate"), plan)
  }

  test("MIN/MAX of _row_index answer from metadata on bintables") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("fits").option("hdu", 1)
      .load(s"$res/test_file.fits")
    val agg = df.agg(max(col("_row_index")).as("mx"),
      min(col("_row_index")).as("mn"))
    val row = agg.collect().head
    assert((row.getLong(0), row.getLong(1)) == (19999L, 0L))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-only aggregate"), plan)
  }

  test("MIN/MAX of a DATA column is not falsely answered from metadata") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("fits").option("hdu", 1)
      .load(s"$res/test_file.fits")
    val agg = df.agg(max(col("Index")))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("metadata-only aggregate"), plan)
    assert(agg.collect().head.getLong(0) == 19999L) // Index happens 0-based
  }

  test("exactly filtered MIN/MAX answers from headers") {
    // a plain image slices any ImgIndex range exactly, so the filter
    // leaves the plan and the aggregate reaches the scan
    import org.apache.spark.sql.functions._
    val img = spark.read.format("fits").option("hdu", 2)
      .load(s"$res/dirIm/0_i_am_not_empty.fits")
    val agg = img.filter(col("ImgIndex") >= 10).agg(min(col("ImgIndex")))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-only aggregate"), plan)
    assert(agg.collect().head.getLong(0) == 10L)
  }

  /** Spark jobs that `body` starts on this thread. Jobs carry the
    * thread's job group, and a sentinel job started after `body` marks
    * the point where the listener has seen every earlier job. */
  private def jobsRunBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("header answers run no Spark job; BatchScanExec stays in the plan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val tbl = spark.read.format("fits").option("hdu", 1).load(s"$res/dir")
    val img = spark.read.format("fits").option("hdu", 2)
      .load(s"$res/dirIm/0_i_am_not_empty.fits")
    val idx = col("_row_index")
    val cases: Seq[(DataFrame, Seq[Long])] = Seq(
      tbl.agg(count(lit(1))) -> Seq(27000L),
      tbl.agg(min(idx), max(idx), count(lit(1))) -> Seq(0L, 19999L, 27000L),
      tbl.filter(idx.between(10, 99)).agg(min(idx), max(idx), count(lit(1))) ->
        Seq(10L, 99L, 180L),
      img.agg(min("ImgIndex"), max("ImgIndex")) -> Seq(0L, 154L),
      img.filter(col("ImgIndex") < 20).agg(min("ImgIndex"), max("ImgIndex"),
        count(lit(1))) -> Seq(0L, 19L, 20L),
      img.filter(idx > 100).agg(min(idx), max(idx)) -> Seq(101L, 154L))
    cases.foreach { case (q, want) =>
      var got: Seq[Long] = Nil
      assert(jobsRunBy { got = q.collect().head.toSeq.map(_.asInstanceOf[Long]) } == 0,
        q.queryExecution.executedPlan)
      assert(got == want, q.queryExecution.executedPlan)
      assert(q.queryExecution.sparkPlan.collectFirst {
        case b: BatchScanExec => b.scan
      }.exists(_.isInstanceOf[FitsAggScan]), q.queryExecution.sparkPlan)
    }
    var n = 0L
    assert(jobsRunBy { n = tbl.count() } == 0)
    assert(n == 27000L)
    // a data aggregate still runs its job
    assert(jobsRunBy { tbl.agg(max("Index")).collect() } > 0)
  }

  /** The scan answers with the final row in one task: no shuffle and
    * no aggregate above it. */
  private def assertShuffleFree(q: DataFrame): Unit = {
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("metadata-only aggregate"), plan)
    assert(collect(plan) { case s: ShuffleExchangeExec => s }.isEmpty, plan)
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan)
    assert(plan.execute().getNumPartitions == 1, plan)
  }

  test("multi-file COUNT(*) and MIN/MAX(_row_index) plan no shuffle") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("fits").option("hdu", 1).load(s"$res/dir")
    val counted = df.groupBy().count()
    assert(counted.collect().head.getLong(0) == 27000L)
    assertShuffleFree(counted)
    val extent = df.agg(min(col("_row_index")), max(col("_row_index")),
      count(lit(1)))
    val row = extent.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      (0L, 19999L, 27000L))
    assertShuffleFree(extent)
  }

  test("metadata aggregates over all-empty HDUs: count 0, NULL extrema") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-empty-agg").toFile
    (0 until 3).foreach(i =>
      FitsManyFilesSpec.writeFile(s"$dir/empty$i.fits", 0L, 0))
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(dir.getPath)
      val agg = df.agg(count(lit(1)), min(col("_row_index")),
        max(col("_row_index")))
      val row = agg.collect().head
      assert(row.getLong(0) == 0L && row.isNullAt(1) && row.isNullAt(2), row)
      assertShuffleFree(agg)
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }

  test("q38 answers its extent from metadata and its cross-check from data") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val q = graft.operators.Relational.q38_fits_extent(spark, sf0001)
    val row = q.collect().head
    assert(row.getLong(0) == row.getLong(2), row)
    val scans = collect(q.queryExecution.executedPlan) {
      case b: BatchScanExec => b.scan
    }
    assert(scans.count(_.isInstanceOf[FitsAggScan]) == 1, scans)
    assert(scans.count(_.isInstanceOf[FitsScan]) == 1, scans)
  }

  test("LIMIT plans only the needed byte range") {
    val df = spark.read.format("fits").option("hdu", 1)
      .load(s"$res/test_file.fits")
    val limited = df.limit(7)
    assert(limited.count() == 7L)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("limit=7"), plan)
    // result correctness: first rows in file order
    val rows = limited.collect()
    assert(rows.head.getString(0) == "NGC0000000")
    assert(rows.length == 7)
  }

  test("direct-library facade matches connector results") {
    val f = FitsFile.open(s"file://$res/test_file.fits", hdu = 1)
    assert(f.nHdus == 3)
    assert(f.nRows == 20000L)
    assert(f.header("NAXIS1") == "34")
    val first = f.rows().next()
    assert(first.head == "NGC0000000")
    assert(f.rows().take(5).size == 5)
    // image HDU iteration through the facade
    val img = FitsFile.open(
      s"file://$res/dirIm/0_i_am_not_empty.fits", hdu = 2)
    assert(img.nRows == 155L)
    assert(img.rows().next().head.asInstanceOf[Seq[_]].length == 73)
  }
}
