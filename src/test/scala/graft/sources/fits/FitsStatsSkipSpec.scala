package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Value-domain data skipping: FitsWriter emits reserved GMINn/GMAXn
  * per-column min/max header cards on every bintable part, and the
  * scan planner drops whole files whose stats provably exclude a
  * pushed comparison — the data-skipping layer fixed-width FITS rows
  * otherwise lack (the reference has no predicate pushdown at all).
  * Absent or NaN-poisoned stats never skip. */
class FitsStatsSkipSpec extends SparkTestBase {
  import spark.implicits._

  /** The FITS FitsScan instance from the FINAL (adaptive) plan. */
  private def findFitsScan(df: DataFrame): FitsScan = {
    def find(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        find(s.plan)
      case b: BatchScanExec => Seq(b)
      case other =>
        other.children.flatMap(find) ++ other.subqueries.flatMap(find)
    }
    find(df.queryExecution.executedPlan)
      .map(_.scan).collectFirst { case f: FitsScan => f }.get
  }

  /** Key-sorted multi-file dataset: file k holds ids [k*100, k*100+99]
    * so each part's GMIN/GMAX window is disjoint. */
  private def writeSorted(dir: String, nFiles: Int = 5): Unit =
    spark.range(nFiles * 100L)
      .select($"id", ($"id" * 2).as("v"), ($"id" / 10.0).as("d"))
      .repartitionByRange(nFiles, $"id")
      .write.format("fits").mode("overwrite").save(dir)

  test("writer emits GMIN/GMAX; range filter skips whole files, exact rows") {
    val dir = Files.createTempDirectory("fits-skip").toString + "/sorted"
    writeSorted(dir)
    // the cards are on disk, integer-exact
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdus = core.FitsStructure.scan(
      org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf
        .Configuration()), new org.apache.hadoop.fs.Path(part.toString))
    val h = hdus(1).header
    assert(h.getLong("GMIN1").isDefined && h.getLong("GMAX1").isDefined, h)
    assert(h.getLong("GMAX1").get - h.getLong("GMIN1").get == 99L)

    val df = spark.read.format("fits").option("hdu", 1).load(dir)
    val q = df.filter($"id" >= 450)
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (450L until 500L))
    rows.foreach(r => assert(r.getLong(1) == r.getLong(0) * 2))
    val fs = findFitsScan(q)
    val (skippedFiles, skippedBytes) = fs.lastStatsSkip
    assert(skippedFiles == 4, s"skipped $skippedFiles files")
    assert(skippedBytes > 0)
    // the planned/total accounting reflects the value-domain pruning
    val (planned, total) = fs.lastPlanSummary.get
    assert(planned * 4 <= total, s"planned=$planned total=$total")
    // explain/UI visibility
    assert(fs.description().contains("statsFilters="), fs.description())
    // the statistics ESTIMATE shrinks too (join-planning honesty):
    // 4 of 5 files skipped → at most one file's rows reported
    assert(fs.estimateStatistics().numRows().getAsLong <= 100,
      fs.estimateStatistics().numRows())
  }

  test("EqualTo and In skip every non-covering file; double-column ranges too") {
    val dir = Files.createTempDirectory("fits-skip").toString + "/eq"
    writeSorted(dir)
    val df = spark.read.format("fits").option("hdu", 1).load(dir)

    val eq = df.filter($"id" === 123)
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(123L))
    assert(findFitsScan(eq).lastStatsSkip._1 == 4)

    val in = df.filter($"id".isin(7, 450))
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 450L))
    assert(findFitsScan(in).lastStatsSkip._1 == 3)

    // double column: file k has d in [k*10, k*10+9.9]
    val dq = df.filter($"d" < 5.0)
    assert(dq.collect().map(_.getLong(0)).sorted.toSeq == (0L until 50L))
    assert(findFitsScan(dq).lastStatsSkip._1 == 4)
  }

  test("conservative: NaN poisons a column's stats; stats-less files never skip") {
    val dir = Files.createTempDirectory("fits-skip").toString + "/nan"
    // Spark orders NaN ABOVE every double, so `x > 50` must still read
    // a file whose finite max is 9.9 if it carries a NaN
    Seq((0L, Double.NaN), (1L, 9.9)).toDF("id", "x")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val df = spark.read.format("fits").option("hdu", 1).load(dir)
    val q = df.filter($"x" > 50.0)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(findFitsScan(q).lastStatsSkip == ((0, 0L)))

    // pre-stats files (no GMIN/GMAX cards): filter reads them fully
    val dir2 = Files.createTempDirectory("fits-skip").toString + "/old"
    spark.range(10).toDF("id")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir2)
    // strip the stats cards by rewriting the header region
    val f = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val bytes = Files.readAllBytes(f.toPath)
    val text = new String(bytes, "US-ASCII")
    val patched = text
      .replace("GMIN1", "XMIN1").replace("GMAX1", "XMAX1")
    Files.write(f.toPath, patched.getBytes("US-ASCII"))
    // drop Hadoop's local-FS checksum sidecar for the patched file
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    val q2 = spark.read.format("fits").option("hdu", 1).load(dir2)
      .filter($"id" > 9999)
    assert(q2.collect().isEmpty)
    assert(findFitsScan(q2).lastStatsSkip == ((0, 0L)))
  }

  test("columns-option reorder keeps the stats bound to the right column") {
    val dir = Files.createTempDirectory("fits-skip").toString + "/cols"
    writeSorted(dir)
    // select (v, id): position 1 of the pruned table is physical col 1
    val df = spark.read.format("fits").option("hdu", 1)
      .option("columns", "v,id").load(dir)
    val q = df.filter($"id" >= 450)
    val rows = q.collect()
    assert(rows.map(_.getLong(1)).sorted.toSeq == (450L until 500L))
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1) * 2))
    assert(findFitsScan(q).lastStatsSkip._1 == 4)
    // a filter on v (physical col 2) uses ITS stats, not id's
    val qv = df.filter($"v" === 202)
    assert(qv.collect().map(_.getLong(1)).toSeq == Seq(101L))
    assert(findFitsScan(qv).lastStatsSkip._1 == 4)
  }

  test("float columns: a shortest-repr Float literal never wrongly skips") {
    // the writer tracks float stats in the widened-double domain
    // (0.1f -> 0.100000001490116…); the pushed literal 0.1f stringifies
    // as "0.1", which sits BELOW that decimal — comparing it raw would
    // "prove" exclusion for a row that matches exactly in float domain
    val dir = Files.createTempDirectory("fits-skip").toString + "/flt"
    Seq((1L, 0.1f), (2L, 0.3f)).toDF("id", "x")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val df = spark.read.format("fits").option("hdu", 1).load(dir)
    val eq = df.filter($"x" === 0.1f)
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "float EqualTo wrongly skipped")
    // double-domain comparison against a float column: 0.1f widens
    // ABOVE the 0.1 double literal, so the row matches and must scan
    val gt = df.filter($"x" > 0.1)
    assert(gt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "float-vs-double GreaterThan wrongly skipped")
    // and a genuinely excluded range still skips
    val none = df.filter($"x" > 1.0f)
    assert(none.collect().isEmpty)
    assert(findFitsScan(none).lastStatsSkip._1 == 1)
  }

  test("nulls excluded from stats; null-only column emits no stats") {
    val dir = Files.createTempDirectory("fits-skip").toString + "/nulls"
    Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "k")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val df = spark.read.format("fits").option("hdu", 1).load(dir)
    // k stats are [5,7] over non-nulls: k > 7 skips (nulls can't match
    // a null-rejecting comparison)
    val q = df.filter($"k" > 7)
    assert(q.collect().isEmpty)
    assert(findFitsScan(q).lastStatsSkip._1 == 1)

    val dir2 = Files.createTempDirectory("fits-skip").toString + "/allnull"
    Seq((1L, None: Option[Long]), (2L, None)).toDF("id", "k")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir2)
    val df2 = spark.read.format("fits").option("hdu", 1).load(dir2)
    assert(df2.filter($"k".isNull).count() == 2)
    val q2 = df2.filter($"k" > 0)
    assert(q2.collect().isEmpty)
    assert(findFitsScan(q2).lastStatsSkip == ((0, 0L)))
  }
}
