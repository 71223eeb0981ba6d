package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Runtime (DPP-style) filtering: a join keyed on the image line index
  * or `_row_index` hands the scan the build side's values at execution
  * time, and the scan clamps its planned byte ranges to the value
  * envelope — "fetch these alert lines from a 100 GB exposure" reads
  * only the covered bands. The envelope is an optimization, never a
  * correctness dependency: the join itself re-evaluates equality. */
class FitsRuntimeFilterSpec extends SparkTestBase {
  import spark.implicits._

  private val width = 16

  private def writeImage(dir: String, nLines: Int): Unit = {
    val src = (0 until nLines).map(r =>
      (r.toLong, (0 until width).map(c => r * 1000 + c).toArray))
      .toDF("ImgIndex", "Image")
    src.coalesce(1).write.format("fits").option("image", true)
      .mode("overwrite").save(dir)
  }

  /** The scan's output-rows metric from the FINAL (adaptive) plan. */
  private def scanOutputRows(df: DataFrame): Long = {
    def find(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        find(s.plan)
      case b: BatchScanExec => Seq(b)
      case other =>
        other.children.flatMap(find) ++
          other.subqueries.flatMap(find)
    }
    val scans = find(df.queryExecution.executedPlan)
      .filter(_.toString.contains("FITS"))
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("join on ImgIndex runtime-prunes the scanned bands") {
    val dir = Files.createTempDirectory("fits-rtf").toString + "/img"
    writeImage(dir, nLines = 240)
    val keysDir = Files.createTempDirectory("fits-rtf").toString + "/keys"
    // a real table with a selective predicate — the shape PartitionPruning
    // looks for on the build side
    spark.range(240).select($"id".as("k"), ($"id" % 17).as("tag"))
      .write.mode("overwrite").parquet(keysDir)
    withConf(
      "spark.sql.files.maxPartitionBytes" -> "640", // 10 lines/partition
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val img = spark.read.format("fits").option("hdu", 0).load(dir)
      val keys = spark.read.parquet(keysDir)
        .filter($"tag" === 3 && $"k".between(100, 119))
      // broadcast the KEY side: at archive scale the image is always
      // the probe side, and DPP prunes the probe side only
      val joined = img.join(broadcast(keys), img("ImgIndex") === keys("k"))
        .select($"ImgIndex", $"Image")
      val rows = joined.collect()
      // correctness first: exactly the matching lines, right pixels
      val expected = (100 to 119).filter(_ % 17 == 3)
      assert(rows.map(_.getLong(0)).sorted.toSeq ==
        expected.map(_.toLong))
      rows.foreach { r =>
        val i = r.getLong(0)
        assert(r.getSeq[Int](1) == (0 until width).map(c => i * 1000 + c))
      }
      // pruning: the scan must emit only the clamped band, not all 240
      val scanned = scanOutputRows(joined)
      assert(scanned < 240, s"runtime filter did not prune: $scanned")
    }
  }

  test("RowRuns algebra: fromPoints, intersect, coalesce, cap") {
    assert(RowRuns.fromPoints(Seq(3L, 1L, 2L, 2L, -5L)) == Vector((1L, 3L)))
    assert(RowRuns.fromPoints(Seq(10L, 1L, 2L, 100L)) ==
      Vector((1L, 2L), (10L, 10L), (100L, 100L)))
    assert(RowRuns.intersect(Vector((0L, 10L), (20L, 30L)),
      Vector((5L, 25L))) == Vector((5L, 10L), (20L, 25L)))
    assert(RowRuns.intersect(Vector((0L, 10L)), Vector((11L, 12L))).isEmpty)
    assert(RowRuns.coalesce(Vector((5L, 9L), (0L, 4L), (20L, 22L))) ==
      Vector((0L, 9L), (20L, 22L)))
    // cap merges across the SMALLEST gaps first (closest runs)
    assert(RowRuns.cap(Vector((1L, 3L), (10L, 10L), (100L, 100L)), 2) ==
      Vector((1L, 10L), (100L, 100L)))
    // beyond-cap point sets stay a correct superset at exactly max runs
    val sparse = RowRuns.fromPoints((0 until 200).map(_ * 1000L))
    val capped = RowRuns.cap(sparse)
    assert(capped.length == RowRuns.MaxRuns)
    assert(sparse.forall { case (lo, hi) =>
      capped.exists(c => c._1 <= lo && hi <= c._2) })
  }

  test("RowRuns properties hold on randomized inputs (superset/order laws)") {
    val rnd = new scala.util.Random(1234)
    (0 until 200).foreach { _ =>
      val points = Seq.fill(rnd.nextInt(300))(rnd.nextLong() % 10000L)
      val runs = RowRuns.fromPoints(points)
      val valid = points.filter(_ >= 0).distinct.sorted
      // fromPoints: covers exactly the non-negative points, sorted-disjoint
      assert(runs.iterator.map { case (a, b) => b - a + 1 }.sum ==
        valid.length)
      assert(valid.forall(p => runs.exists(r => r._1 <= p && p <= r._2)))
      assert(runs.sliding(2).forall {
        case Seq((_, b), (c, _)) => c > b + 1
        case _ => true
      })
      // cap: ≤ max runs, still a superset, still sorted-disjoint
      val max = 1 + rnd.nextInt(8)
      val capped = RowRuns.cap(runs, max)
      assert(capped.length <= max)
      assert(runs.forall { case (lo, hi) =>
        capped.exists(c => c._1 <= lo && hi <= c._2) })
      assert(capped.sliding(2).forall {
        case Seq((_, b), (c, _)) => c > b + 1
        case _ => true
      })
      // intersect: exactly the common points
      val points2 = Seq.fill(rnd.nextInt(300))(rnd.nextLong() % 10000L)
      val runs2 = RowRuns.fromPoints(points2)
      val inter = RowRuns.intersect(runs, runs2)
      val common = valid.toSet &
        points2.filter(_ >= 0).toSet
      assert(inter.iterator.map { case (a, b) => b - a + 1 }.sum ==
        common.size)
      assert(common.forall(p => inter.exists(r => r._1 <= p && p <= r._2)))
      // coalesce is idempotent and preserves coverage
      assert(RowRuns.coalesce(runs) == runs)
    }
  }

  test("sparse join keys prune to a RUN LIST: two far-apart keys plan " +
      "two disjoint partitions, skipped bytes accounted") {
    val dir = Files.createTempDirectory("fits-rtf").toString + "/sparse"
    spark.range(5000).select($"id", ($"id" * 3).as("v"))
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val keysDir = Files.createTempDirectory("fits-rtf").toString + "/k3"
    spark.range(5000).select($"id".as("k"), ($"id" % 7).as("tag"))
      .write.mode("overwrite").parquet(keysDir)
    withConf(
      "spark.sql.files.maxPartitionBytes" -> "800", // 50 rows/partition
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val tbl = spark.read.format("fits").option("hdu", 1).load(dir)
        .select($"id", $"v", $"_row_index".as("ri"))
      // keys {10, 4800}: the r16 single-envelope fold degenerated this
      // to a near-full scan ([10, 4800] covers 96% of the file); the
      // run list reads two 1-row slices
      val keys = spark.read.parquet(keysDir)
        .filter($"k".isin(10, 4800))
      val joined = tbl.join(broadcast(keys), tbl("ri") === keys("k"))
        .select($"id", $"v", $"ri")
      val rows = joined.collect()
      assert(rows.map(_.getLong(2)).sorted.toSeq == Seq(10L, 4800L))
      rows.foreach(r => assert(r.getLong(1) == r.getLong(0) * 3))
      // far fewer rows scanned than the 4791-row envelope would read
      val scanned = scanOutputRows(joined)
      assert(scanned < 100, s"run-list pruning did not engage: $scanned")
      // the scan planned exactly the two disjoint single-row slices
      val fs = findFitsScan(joined)
      val parts = fs.planInputPartitions().collect {
        case p: FitsInputPartition => (p.firstRowIndex, p.numRows)
      }
      assert(parts.toSeq.sorted == Seq((10L, 1L), (4800L, 1L)),
        parts.mkString(","))
      // skipped-bytes accounting: 2 of 5000 rows' bytes planned
      val (planned, total) = fs.lastPlanSummary.get
      assert(planned * 100 < total, s"planned=$planned total=$total")
      // runtime-filter visibility: the description names the runs
      assert(fs.description().contains("runtimeRuns=[10,10],[4800,4800]"),
        fs.description())
    }
  }

  test("repeated runtime filter() calls re-cap the intersected run list") {
    val dir = Files.createTempDirectory("fits-rtf").toString + "/recap"
    spark.range(20000).toDF("id")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val res = FitsResolution(Map("path" -> dir, "hdu" -> "1"))
    val schema = res.inferredSchema
    val scan = new FitsScan(res, schema, schema,
      metaCols = Array(FitsMetadata.RowIndex))
    import org.apache.spark.sql.sources.{Filter, In}
    // first call: 200 points at step 100 → capped to 64 runs
    // (63 leading singletons + one wide tail block)
    val a = (0 until 200).map(_ * 100L)
    // second call: one solid block [0, 6299] + 63 tail singletons —
    // 64 runs, interleaving the first list's boundaries so the raw
    // intersection is ~126 runs, past the planner's MaxRuns bound
    val b = (0L until 6300L) ++ (0 until 63).map(i => 7000L + i * 100L)
    scan.filter(Array[Filter](
      In(FitsMetadata.RowIndex, a.map(Long.box).toArray)))
    scan.filter(Array[Filter](
      In(FitsMetadata.RowIndex, b.map(Long.box).toArray)))
    val runs = scan.runtimeRuns.get
    assert(runs.length <= RowRuns.MaxRuns, s"${runs.length} runs leaked")
    // still a correct superset of the true intersection
    val common = a.toSet & b.toSet
    assert(common.forall(p => runs.exists(r => r._1 <= p && p <= r._2)))
  }

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

  test("join on _row_index runtime-prunes a bintable scan") {
    val dir = Files.createTempDirectory("fits-rtf").toString + "/tbl"
    spark.range(500).select($"id", ($"id" * 3).as("v"))
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val keysDir = Files.createTempDirectory("fits-rtf").toString + "/k2"
    spark.range(500).select($"id".as("k"), ($"id" % 13).as("tag"))
      .write.mode("overwrite").parquet(keysDir)
    withConf(
      "spark.sql.files.maxPartitionBytes" -> "800", // 50 rows/partition
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val tbl = spark.read.format("fits").option("hdu", 1).load(dir)
        .select($"id", $"v", $"_row_index".as("ri"))
      val keys = spark.read.parquet(keysDir)
        .filter($"tag" === 5 && $"k".between(200, 249))
      val joined = tbl.join(broadcast(keys), tbl("ri") === keys("k"))
        .select($"id", $"v", $"ri")
      val rows = joined.collect()
      val expected = (200 to 249).filter(_ % 13 == 5)
      assert(rows.map(_.getLong(2)).sorted.toSeq == expected.map(_.toLong))
      rows.foreach(r => assert(r.getLong(1) == r.getLong(0) * 3))
      val scanned = scanOutputRows(joined)
      assert(scanned < 500, s"runtime filter did not prune: $scanned")
    }
  }
}
