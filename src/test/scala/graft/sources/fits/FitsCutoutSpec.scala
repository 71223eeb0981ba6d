package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** Image-cutout pushdown: `ImgIndex` range predicates reach the FITS
  * scan and clamp the planned byte ranges, so a cutout of a huge image
  * plans (and reads) only the line band it covers — the 100 TB imaging
  * access pattern. Plain images clamp exactly and the range leaves the
  * plan; compressed images widen to tile bands under a residual
  * filter. These tests assert BOTH the row values and the
  * plan/partition shape. */
class FitsCutoutSpec extends SparkTestBase {

  private val width = 16

  /** deterministic single-part image: line i pixel c = i*1000 + c */
  private def writeImage(dir: String, nLines: Int,
      extra: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    val src = (0 until nLines).map(r =>
      (r.toLong, (0 until width).map(c => r * 1000 + c).toArray))
      .toDF("ImgIndex", "Image")
    val w = src.coalesce(1).write.format("fits").option("image", true)
    extra.foldLeft(w) { case (wr, (k, v)) => wr.option(k, v) }
      .mode("overwrite").save(dir)
  }

  /** plain image writes land in the primary HDU (0); compressed
    * writes are ZIMAGE bintable extensions (1) */
  private def readImage(dir: String, hdu: Int = 0): DataFrame =
    spark.read.format("fits").option("hdu", hdu).load(dir)

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withTinyPartitions[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("plain image: ImgIndex BETWEEN prunes partitions exactly") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/img"
    writeImage(dir, nLines = 240)
    // 16 int pixels = 64 B/line; 10 lines per partition
    withTinyPartitions(640) {
      val full = readImage(dir)
      assert(full.rdd.getNumPartitions == 24)
      val cut = full.filter(col("ImgIndex").between(100, 119))
      assert(planOf(cut).contains("lines=[100,119]"), planOf(cut))
      // fixed-width rows: the clamp is exact — 20 lines = 2 partitions
      assert(cut.rdd.getNumPartitions == 2, cut.rdd.getNumPartitions)
      val rows = cut.collect()
      assert(rows.length == 20)
      assert(rows.map(_.getLong(1)).sorted.toSeq == (100L to 119L))
      rows.foreach { r =>
        val i = r.getLong(1)
        assert(r.getSeq[Int](0) == (0 until width).map(c => i * 1000 + c))
      }
    }
  }

  test("single-line EqualTo plans one partition") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/img1"
    writeImage(dir, nLines = 240)
    withTinyPartitions(640) {
      val one = readImage(dir).filter(col("ImgIndex") === 7)
      assert(planOf(one).contains("lines=[7,7]"), planOf(one))
      assert(one.rdd.getNumPartitions == 1)
      val r = one.collect()
      assert(r.length == 1 && r.head.getLong(1) == 7L)
    }
  }

  test("contradictory range plans zero partitions, returns zero rows") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/img0"
    writeImage(dir, nLines = 24)
    val none = readImage(dir)
      .filter(col("ImgIndex") > 10 && col("ImgIndex") < 5)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
  }

  test("compressed image: clamp widens to tile-row bands, values exact") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/fz"
    // 2D tiles 8x4: bands of 4 lines; cutting [5..6] must read band
    // [4..8) and the residual filter must trim it back to 2 rows
    writeImage(dir, nLines = 64,
      extra = Map("compress" -> "RICE_1", "compresstile" -> "8x4"))
    val cut = readImage(dir, hdu = 1).filter(col("ImgIndex").between(5, 6))
    assert(planOf(cut).contains("lines=[5,6]"), planOf(cut))
    val rows = cut.collect()
    assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(5L, 6L))
    rows.foreach { r =>
      val i = r.getLong(1)
      assert(r.getSeq[Int](0) == (0 until width).map(c => i * 1000 + c))
    }
    // band pruning is real: a one-band cutout of a 16-band image plans
    // a single partition when partitions are one band each
    withTinyPartitions(width * 4L * 4) {
      val one = readImage(dir, hdu = 1).filter(col("ImgIndex").between(5, 6))
      assert(one.rdd.getNumPartitions == 1, one.rdd.getNumPartitions)
      assert(readImage(dir, hdu = 1).rdd.getNumPartitions == 16)
    }
  }

  test("compressed image: range entirely beyond the image plans ZERO " +
      "partitions (no spurious last band)") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/fzend"
    writeImage(dir, nLines = 32,
      extra = Map("compress" -> "RICE_1", "compresstile" -> "8x8"))
    val none = readImage(dir, hdu = 1).filter(col("ImgIndex") > 100)
    assert(none.rdd.getNumPartitions == 0, none.rdd.getNumPartitions)
    assert(none.count() == 0)
  }

  test("2-D cutout: entirely out-of-range colRange on a WIDE image " +
      "returns empty arrays, never strided reads past EOF") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-cut").toString + "/wideoor"
    // 16384 int pixels = 64 KB/line (past the 32 KB strided-IO bar if
    // it were wrongly engaged); window starts exactly at lineElems
    val w = 16384
    (0 until 8).map(r => (r.toLong, Array.tabulate(w)(c => r + c)))
      .toDF("ImgIndex", "Image")
      .coalesce(1).write.format("fits").option("image", true)
      .mode("overwrite").save(dir)
    val rows = spark.read.format("fits").option("hdu", 0)
      .option("colRange", s"$w:${w + 99}").load(dir).collect()
    assert(rows.length == 8)
    rows.foreach(r =>
      assert(r.getAs[scala.collection.Seq[Int]]("Image").isEmpty))
  }

  test("user-renamed index column still prunes (positional binding)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("fits-cut").toString + "/ren"
    writeImage(dir, nLines = 48)
    val renamed = spark.read.format("fits").option("hdu", 0)
      .schema(StructType(Seq(
        StructField("px", ArrayType(IntegerType)),
        StructField("line", LongType))))
      .load(dir)
      .filter(col("line") < 10)
    assert(planOf(renamed).contains("lines=[0,9]"), planOf(renamed))
    assert(renamed.collect().map(_.getLong(1)).sorted.toSeq == (0L until 10L))
  }

  test("disjunctions and pixel predicates stay residual-only") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/or"
    writeImage(dir, nLines = 48)
    val df = readImage(dir)
      .filter(col("ImgIndex") < 5 || col("Image")(0) === 40000)
    assert(!planOf(df).contains("lines="), planOf(df))
    // rows 0..4 plus row 40 (pixel0 = 40*1000)
    assert(df.collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 40L))
  }

  test("bintable scans never carry a line range") {
    val res = RefFixtures.root
    val df = spark.read.format("fits").option("hdu", 1)
      .load(s"$res/test_file.fits").filter(col("Index") < 100)
    assert(!planOf(df).contains("lines="), planOf(df))
    assert(df.count() == 100)
  }

  test("multi-file image read prunes per file (per-file line indices)") {
    val base = Files.createTempDirectory("fits-cut").toString
    writeImage(s"$base/a", nLines = 32)
    writeImage(s"$base/b", nLines = 32)
    val df = spark.read.format("fits").option("hdu", 0)
      .load(s"$base/a,$base/b").filter(col("ImgIndex") < 3)
    assert(planOf(df).contains("lines=[0,2]"), planOf(df))
    val idx = df.collect().map(_.getLong(1)).sorted.toSeq
    assert(idx == Seq(0L, 0L, 1L, 1L, 2L, 2L))
  }

  test("pushed range shrinks reported statistics (join-planning honesty)") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/st"
    writeImage(dir, nLines = 240)
    val cut = readImage(dir).filter(col("ImgIndex").between(0, 9))
    val scanStats = cut.queryExecution.optimizedPlan.collectLeaves()
      .head.stats
    // 10 lines * 64 B of pixels (+ index) — far under the full 240
    assert(scanStats.sizeInBytes < 240L * 64,
      s"stats not range-aware: ${scanStats.sizeInBytes}")
  }

  // ------------------------------------------ _row_index table cutouts

  /** deterministic single-part bintable: row i = (i, i*3) */
  private def writeTable(dir: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i * 3L)).toDF("id", "v")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
  }

  test("bintable: _row_index range prunes partitions exactly") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/tbl"
    writeTable(dir, n = 240)
    withTinyPartitions(160) { // 16 B rows → 10 rows per partition
      val full = spark.read.format("fits").option("hdu", 1).load(dir)
      assert(full.rdd.getNumPartitions == 24)
      val cut = full.select(col("id"), col("v"),
          col("_row_index").as("ri"))
        .filter(col("_row_index").between(100, 119))
      assert(planOf(cut).contains("rows=[100,119]"), planOf(cut))
      assert(cut.rdd.getNumPartitions == 2, cut.rdd.getNumPartitions)
      val rows = cut.collect()
      assert(rows.length == 20)
      // the clamp must not shift row identity: ri == id by construction
      rows.foreach(r => assert(r.getLong(2) == r.getLong(0) &&
        r.getLong(1) == r.getLong(0) * 3))
      assert(rows.map(_.getLong(2)).sorted.toSeq == (100L to 119L))
    }
  }

  test("bintable: contradictory _row_index range plans zero partitions") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/tbl0"
    writeTable(dir, n = 24)
    val none = spark.read.format("fits").option("hdu", 1).load(dir)
      .filter(col("_row_index") > 10 && col("_row_index") < 5)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
  }

  test("2-D cutout: colRange emits only the window, values exact") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/col"
    writeImage(dir, nLines = 40)
    val cut = spark.read.format("fits").option("hdu", 0)
      .option("colRange", "3:7").load(dir)
      .filter(col("ImgIndex").between(10, 19))
    val rows = cut.collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val i = r.getAs[Long]("ImgIndex")
      val px = r.getAs[scala.collection.Seq[Int]]("Image")
      assert(px == (3 to 7).map(c => i.toInt * 1000 + c), s"line $i: $px")
    }
    // window clamps beyond the line width; empty window → empty arrays
    val tail = spark.read.format("fits").option("hdu", 0)
      .option("colRange", "14:99").load(dir)
      .filter(col("ImgIndex") === 0).collect()
    assert(tail.head.getAs[scala.collection.Seq[Int]]("Image") == Seq(14, 15))
    val none = spark.read.format("fits").option("hdu", 0)
      .option("colRange", "50:99").load(dir)
      .filter(col("ImgIndex") === 0).collect()
    assert(none.head.getAs[scala.collection.Seq[Int]]("Image").isEmpty)
  }

  test("2-D cutout of a WIDE image reads a tiny fraction of the bytes " +
      "(strided window IO)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-cut").toString + "/wide"
    // 128 lines x 32768 int pixels = 128 KB/line, 16 MB of data
    val w = 32768
    (0 until 128).map(r =>
      (r.toLong, Array.tabulate(w)(c => r * 1000 + c)))
      .toDF("ImgIndex", "Image")
      .coalesce(1).write.format("fits").option("image", true)
      .mode("overwrite").save(dir)
    def bytesRead: Long = org.apache.hadoop.fs.FileSystem
      .getGlobalStorageStatistics.get("file").getLong("bytesRead")
    // yardstick: a full scan reads all ~16 MB
    val b0 = bytesRead
    assert(readImage(dir).collect().length == 128)
    val fullBytes = bytesRead - b0
    assert(fullBytes > (12L << 20), s"yardstick read only $fullBytes B")
    // the 100x50 cutout: window bytes per line (400 B) via one pread
    // per line — the whole query reads ≪ the full lines it touches
    val b1 = bytesRead
    val cut = spark.read.format("fits").option("hdu", 0)
      .option("colRange", "1000:1099").load(dir)
      .filter(col("ImgIndex").between(10, 59))
      .collect()
    val cutBytes = bytesRead - b1
    assert(cut.length == 50)
    cut.foreach { r =>
      val i = r.getAs[Long]("ImgIndex").toInt
      val px = r.getAs[scala.collection.Seq[Int]]("Image")
      assert(px.length == 100)
      assert(px.zipWithIndex.forall { case (v, j) => v == i * 1000 + 1000 + j })
    }
    assert(cutBytes < (2L << 20),
      s"cutout read $cutBytes B vs full $fullBytes B — window IO not engaged")
  }

  test("2-D cutout on a tile-compressed image: values exact across " +
      "tile boundaries, window-only output") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/zcol"
    // width 16 with 8x8 tiles -> two tile columns; window 6..12 spans both
    writeImage(dir, nLines = 32,
      extra = Map("compress" -> "RICE_1", "compresstile" -> "8x8"))
    val cut = spark.read.format("fits").option("hdu", 1)
      .option("colRange", "6:12").load(dir)
      .filter(col("ImgIndex").between(4, 27))
    val rows = cut.collect()
    assert(rows.length == 24)
    rows.foreach { r =>
      val i = r.getAs[Long]("ImgIndex").toInt
      assert(r.getAs[scala.collection.Seq[Int]]("Image") == (6 to 12).map(c => i * 1000 + c))
    }
    // window inside ONE tile column: the other tile never decodes and
    // the values still match
    val one = spark.read.format("fits").option("hdu", 1)
      .option("colRange", "9:12").load(dir)
      .filter(col("ImgIndex") === 5).collect()
    assert(one.head.getAs[scala.collection.Seq[Int]]("Image") == (9 to 12).map(5000 + _))
  }

  test("colRange on a bintable HDU fails loudly at planning") {
    val dir = Files.createTempDirectory("fits-cut").toString + "/tblc"
    writeTable(dir, n = 8)
    val e = intercept[Exception] {
      spark.read.format("fits").option("hdu", 1)
        .option("colRange", "0:3").load(dir).collect()
    }
    assert(e.getMessage.contains("colRange"), e.getMessage)
  }

  test("columnar reader honors the column window: plain + compressed") {
    /** Drains `part`, checking each line's index and windowed pixels;
      * returns the line after the last one read. */
    def drain(part: FitsInputPartition, firstLine: Int, cols: Range): Int = {
      val r = new FitsColumnarReader(part)
      var line = firstLine
      try while (r.next()) {
        val b = r.get()
        var i = 0
        while (i < b.numRows()) {
          assert(b.column(1).getLong(i) == line)
          assert(b.column(0).getArray(i).toIntArray().toSeq ==
            cols.map(c => line * 1000 + c))
          line += 1
          i += 1
        }
      } finally r.close()
      line
    }
    val dirP = Files.createTempDirectory("fits-cut").toString + "/boxp"
    writeImage(dirP, nLines = 12)
    val resP = FitsResolution(
      Map("path" -> dirP, "hdu" -> "0", "colrange" -> "3:7"))
    val hdusP = resP.scanFile(resP.files.head)
    val metaP = resP.firstMeta
    val specP = DecodeSpec.of(metaP, Array(0, 1), resP.colRange)
    val partP = FitsInputPartition(resP.files.head.toString,
      hdusP(0).bounds.dataStart + 2 * metaP.rowBytes, 5, 2,
      metaP.rowBytes, 1 << 20, specP)
    // the plain image partition starts at line 2
    assert(drain(partP, 2, 3 to 7) == 7)
    val dirC = Files.createTempDirectory("fits-cut").toString + "/boxc"
    writeImage(dirC, nLines = 16,
      extra = Map("compress" -> "RICE_1", "compresstile" -> "8x8"))
    val resC = FitsResolution(
      Map("path" -> dirC, "hdu" -> "1", "colrange" -> "6:12"))
    val hdusC = resC.scanFile(resC.files.head)
    val metaC = resC.firstMeta
    val specC = DecodeSpec.of(metaC, Array(0, 1), resC.colRange)
    val partC = FitsInputPartition(resC.files.head.toString,
      hdusC(1).bounds.dataStart, 16, 0, metaC.rowBytes, 1 << 20, specC)
    // the compressed one at line 0
    assert(drain(partC, 0, 6 to 12) == 16)
  }

  test("a data column named _row_index shadows the clamp (data semantics)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-cut").toString + "/shadow"
    // data values are NOT the physical row order: descending
    (0 until 40).map(i => (i.toLong, (39 - i).toLong))
      .toDF("id", "_row_index")
      .coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val df = spark.read.format("fits").option("hdu", 1).load(dir)
      .filter(col("_row_index") < 5)
    assert(!planOf(df).contains("rows="), planOf(df))
    // rows with DATA value < 5 live at the physical END of the file —
    // a clamp would have dropped them
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (35L to 39L))
  }
}
