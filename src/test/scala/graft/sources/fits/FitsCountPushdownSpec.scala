package graft.sources.fits

import graft.SparkTestBase

class FitsCountPushdownSpec extends SparkTestBase {

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

  test("filtered MIN/MAX still scans (pushdown declined)") {
    import org.apache.spark.sql.functions._
    val img = spark.read.format("fits").option("hdu", 2)
      .load(s"$res/dirIm/0_i_am_not_empty.fits")
    val agg = img.filter(col("ImgIndex") >= 10).agg(min(col("ImgIndex")))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("metadata-only aggregate"), plan)
    assert(agg.collect().head.getLong(0) == 10L)
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
    import graft.sources.fits.core.FitsFile
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
