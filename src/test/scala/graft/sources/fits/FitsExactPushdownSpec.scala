package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

/** Exact pushdown: a conjunct the FITS scan answers exactly leaves the
  * plan (no `Filter` above the scan), and everything else stays
  * residual. Every shape runs twice: as written, and with its column
  * passed through an identity UDF, which Spark cannot push down, so the
  * second run filters every row the scan emits. The two must agree row
  * for row, in order, floats bit for bit. */
class FitsExactPushdownSpec extends SparkTestBase
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // boxed: Spark rewrites a primitive UDF's null handling around it,
  // and would push `isnotnull(udf(x))` down as `isnotnull(x)`
  private val opaque: Map[String, org.apache.spark.sql.expressions.UserDefinedFunction] = Map(
    "long" -> udf((x: java.lang.Long) => x),
    "double" -> udf((x: java.lang.Double) => x),
    "float" -> udf((x: java.lang.Float) => x))

  /** A row's values with floats as their raw bits. */
  private def bits(v: Any): Any = v match {
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }
  private def rows(df: DataFrame): Seq[Any] = df.collect().toSeq.map(bits)

  private def filters(df: DataFrame): Seq[FilterExec] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }

  /** `pred` on column `c` (of Spark type `tpe`) as pushed, against the
    * same predicate over the opaque column; `exact` says whether the
    * pushed query must have left the plan without a Filter. */
  private def check(df: DataFrame, c: String, tpe: String, exact: Boolean,
      post: DataFrame => DataFrame = identity)(pred: Column => Column): Seq[Any] = {
    val pushed = post(df.filter(pred(col(c))))
    val oracle = post(df.filter(pred(opaque(tpe)(col(c)))))
    val plan = pushed.queryExecution.executedPlan
    assert(filters(pushed).isEmpty == exact, plan)
    if (exact) assert(plan.toString.contains("pushed=["), plan)
    assert(filters(oracle).nonEmpty, oracle.queryExecution.executedPlan)
    val got = rows(pushed)
    assert(got == rows(oracle), plan)
    got
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"fits-exact-$tag").toString + "/out"

  /** One bintable file: 1,000 rows of (id, d = id/2, f = id%7 as float). */
  private lazy val table: String = {
    val dir = tmp("table")
    spark.range(0, 1000).select($"id", ($"id" * 0.5).as("d"),
      ($"id" % 7).cast("float").as("f"))
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    dir
  }

  /** Key-sorted files: file k holds ids [k*100, k*100+99], so each
    * file's GMIN/GMAX window is disjoint. */
  private lazy val sorted: String = {
    val dir = tmp("sorted")
    spark.range(500).select($"id", ($"id" * 2).as("v"), ($"id" / 10.0).as("d"))
      .repartitionByRange(5, $"id")
      .write.format("fits").mode("overwrite").save(dir)
    dir
  }

  private def image(extra: (String, String)*): String = {
    val dir = tmp("image")
    val src = (0 until 64).map(r =>
      (r.toLong, (0 until 16).map(c => r * 1000 + c).toArray)).toDF("ImgIndex", "Image")
    extra.foldLeft(src.coalesce(1).write.format("fits").option("image", true)) {
      case (w, (k, v)) => w.option(k, v)
    }.mode("overwrite").save(dir)
    dir
  }
  private lazy val plainImage = image()
  // 4-line tile bands: a widened range holds rows the filter must drop
  private lazy val ricImage = image("compress" -> "RICE_1", "compressTile" -> "16x4")

  private def fits(path: String, hdu: Any): DataFrame =
    spark.read.format("fits").option("hdu", hdu.toString).load(path)
  private def withIndex(df: DataFrame): DataFrame = df.select(col("*"), col("_row_index"))

  test("_row_index ranges on a bintable leave the plan, exact to the row") {
    withConf("spark.sql.files.maxPartitionBytes" -> "2000") {
      val df = withIndex(fits(table, 1))
      val ranges: Seq[Column => Column] = Seq(_.between(100, 199), _ > 990,
        _ === 5L, _ < 0L, _ >= 0L, c => c >= 300 && c <= 305 && c =!= 302)
      val counts = ranges.take(5).map(r =>
        check(df, "_row_index", "long", exact = true)(r).length)
      assert(counts == Seq(100, 9, 1, 0, 1000))
      // IN folds to its envelope [3, 7]: a superset, so it stays
      assert(check(df, "_row_index", "long", exact = false)(_.isin(3L, 7L)).length == 2)
      // `!=` has no range; it alone stays behind
      val mixed = df.filter(ranges.last(col("_row_index")))
      assert(filters(mixed).map(_.condition.sql).mkString.contains("302"))
      assert(mixed.count() == 5)
    }
  }

  test("line and row ranges on a plain image are exact; tile bands stay residual") {
    val plain = withIndex(fits(plainImage, 0))
    check(plain, "ImgIndex", "long", exact = true)(_.between(10, 29))
    check(plain, "_row_index", "long", exact = true)(_ < 7L)
    val rice = withIndex(fits(ricImage, 1))
    assert(check(rice, "ImgIndex", "long", exact = false)(_.between(10, 29)).length == 20)
    assert(check(rice, "_row_index", "long", exact = false)(_ > 41L).length == 22)
  }

  test("hdu=all: mixed plain and compressed targets keep the row range residual") {
    val mixed = withIndex(fits(s"$plainImage,$ricImage", "all"))
    assert(mixed.count() == 128)
    check(mixed, "_row_index", "long", exact = false)(_ < 5L)
    val plainOnly = withIndex(fits(s"$plainImage,$plainImage", "all"))
    assert(check(plainOnly, "_row_index", "long", exact = true)(_ < 5L).length == 10)
  }

  test("GMIN/GMAX proofs take a value conjunct out of the plan") {
    val df = fits(sorted, 1)
    assert(check(df, "id", "long", exact = true)(_ >= 200L).length == 300)
    check(df, "id", "long", exact = true)(c => c >= 200L && c < 400L)
    check(df, "d", "double", exact = true)(_ < 20.0)
    check(df, "id", "long", exact = true)(_.isNotNull)
    // a file the stats neither drop nor cover keeps the filter
    check(df, "d", "double", exact = false)(_ < 25.0)
    check(df, "id", "long", exact = false)(_ > 200L)
    check(df, "v", "long", exact = false)(_ === 202L)
    check(df, "id", "long", exact = false)(_.isin(7L, 450L))
  }

  test("proofs are declined for TNULL columns, NaN-poisoned stats and Float literals") {
    val nulls = tmp("tnull")
    Seq((1L, Some(5L)), (2L, None), (3L, Some(7L))).toDF("id", "k")
      .coalesce(1).write.format("fits").mode("overwrite").save(nulls)
    val n = fits(nulls, 1)
    assert(check(n, "k", "long", exact = false)(_ > 0L).length == 2)
    check(n, "k", "long", exact = false)(_.isNotNull)

    val nan = tmp("nan")
    Seq((0L, Double.NaN), (1L, 9.9)).toDF("id", "x")
      .coalesce(1).write.format("fits").mode("overwrite").save(nan)
    assert(check(fits(nan, 1), "x", "double", exact = false)(_ < 50.0).length == 1)

    val flt = tmp("float")
    Seq((1L, 0.1f), (2L, 0.3f)).toDF("id", "x")
      .coalesce(1).write.format("fits").mode("overwrite").save(flt)
    assert(check(fits(flt, 1), "x", "float", exact = false)(_ > 0.05f).length == 2)
  }

  test("a float null reads as 0.0, and the stats count that 0.0") {
    val dbl = tmp("dnull")
    Seq((1L, Some(10.0)), (2L, None)).toDF("id", "d")
      .coalesce(1).write.format("fits").mode("overwrite").save(dbl)
    val d = fits(dbl, 1)
    val part = new java.io.File(dbl).listFiles().filter(_.getName.endsWith(".fits")).head
    val h = core.FitsStructure.scan(
      org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration()),
      new org.apache.hadoop.fs.Path(part.toString))(1).header
    assert(h.getDouble("GMIN2").contains(0.0) && h.getDouble("GMAX2").contains(10.0), h)
    // [0, 10] neither proves nor excludes these: the 0.0 row decides
    assert(check(d, "d", "double", exact = false)(_ >= 5.0).length == 1)
    assert(check(d, "d", "double", exact = false)(_ < 1.0).length == 1)
    assert(check(d, "d", "double", exact = true)(_ >= 0.0).length == 2)

    val flt = tmp("fnull")
    Seq((1L, Some(10f)), (2L, None)).toDF("id", "x")
      .coalesce(1).write.format("fits").mode("overwrite").save(flt)
    assert(check(fits(flt, 1), "x", "float", exact = false)(_ < 1.0f).length == 1)
  }

  test("filter(exact).limit(n) pushes the limit under the exact range") {
    val df = withIndex(fits(table, 1))
    val got = check(df, "_row_index", "long", exact = true, _.limit(7))(_ >= 500L)
    assert(got.length == 7)
    val lim = df.filter(col("_row_index") >= 500L).limit(7)
    assert(lim.queryExecution.executedPlan.toString.contains("limit=7"),
      lim.queryExecution.executedPlan)
    check(fits(sorted, 1), "id", "long", exact = true, _.limit(7))(_ >= 200L)
  }

  test("COUNT(*) and MIN/MAX under exact filters answer from headers") {
    val agg: DataFrame => DataFrame = _.agg(count(lit(1)), min("_row_index"), max("_row_index"))
    val df = withIndex(fits(table, 1))
    val got = check(df, "_row_index", "long", exact = true, agg)(_.between(100, 199))
    assert(got == Seq(Seq(100L, 100L, 199L)))
    val q = agg(df.filter(col("_row_index").between(100, 199)))
    assert(q.queryExecution.executedPlan.toString.contains("metadata-only aggregate"))
    val cnt: DataFrame => DataFrame = _.agg(count(lit(1)))
    assert(check(fits(sorted, 1), "id", "long", exact = true, cnt)(_ >= 200L) == Seq(Seq(300L)))
    assert(fits(sorted, 1).filter($"id" >= 200L).count() == 300L)
    // empty ranges count 0 with NULL extrema
    assert(check(df, "_row_index", "long", exact = true, agg)(_ < 0L) == Seq(Seq(0L, null, null)))
  }

  test("a data column named _row_index keeps data semantics") {
    val dir = tmp("shadow")
    spark.range(500).select(($"id" * 10).as("_row_index"), $"id")
      .repartitionByRange(5, $"id").write.format("fits").mode("overwrite").save(dir)
    val df = fits(dir, 1)
    // stats, not row positions, prove this one: values 2000.. are rows 0.. of files 2-4
    assert(check(df, "_row_index", "long", exact = true)(_ >= 2000L).length == 300)
    check(df, "_row_index", "long", exact = false)(_ < 25L)
    val agg = df.filter($"_row_index" >= 2000L).agg(max("_row_index"))
    assert(!agg.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(agg.collect().head.getLong(0) == 4990L)
  }

  test("a filtered FITS stream keeps its Filter") {
    val name = "fits_exact_stream_tbl"
    val q = spark.readStream.format("fits").option("hdu", 1).load(sorted)
      .filter($"id" >= 200L)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("fits-exact-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000))
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(collect(plan) { case f: FilterExec => f }.nonEmpty, plan)
      assert(spark.table(name).select("id").as[Long].collect().sorted.toSeq ==
        (200L until 500L))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }
}
