package graft.sources.fits

import java.io.{File, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkTestBase

/** Small slices share input partitions: the planner packs the
  * row-aligned slices of many small HDUs into one task per core, by
  * the rule Spark's file sources use for small files, and a packed scan
  * reads the same rows in the same order as one partition per slice. */
class FitsPackingSpec extends SparkTestBase {
  import FitsPackingSpec._
  import FitsWriteSupport.{card, quoted}

  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"
  private val OpenCost = "spark.sql.files.openCostInBytes"
  private val MinPartitions = "spark.sql.files.minPartitionNum"
  private val Cols = Seq("id", "x", "name", "_file_path", "_hdu", "_row_index")

  /** Packing off: each slice already costs a whole partition. */
  private def unpacked[A](body: => A): A =
    withConf(OpenCost -> spark.conf.get(MaxPartitionBytes))(body)

  private def partitions(df: DataFrame): Seq[InputPartition] =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in the plan")).inputPartitions

  private def read(dir: File, hdu: String): DataFrame =
    spark.read.format("fits").option("hdu", hdu).load(dir.getPath)

  /** `n` files of `hdus` bintables of `RowsPerHdu` rows each. */
  private def corpus(tag: String, n: Int, hdus: Int): File = {
    val dir = Files.createTempDirectory(s"fits-pack-$tag").toFile
    (0 until n).foreach(f => writeFile(new File(dir, f"f$f%02d.fits"), f, hdus))
    dir
  }

  private def cleanup(dir: File): Unit = {
    dir.listFiles().foreach(_.delete())
    dir.delete()
  }

  test("24 tiny one-HDU files plan fewer partitions than files") {
    val dir = corpus("tiny", 24, 1)
    try {
      val df = read(dir, "1")
      val parts = partitions(df)
      assert(parts.length < 24, parts.length)
      assert(parts.exists(_.isInstanceOf[FitsPackedPartition]))
      val ids = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (0 until 24).flatMap(f => idsOf(f, 1)))
    } finally cleanup(dir)
  }

  test("packed and unpacked scans return the same rows in the same order") {
    val dir = corpus("order", 24, 1)
    try {
      val df = read(dir, "1").select(Cols.head, Cols.tail: _*)
      val packed = df.collect()
      assert(partitions(df).length < 24)
      val plain = unpacked {
        val again = read(dir, "1").select(Cols.head, Cols.tail: _*)
        assert(partitions(again).length == 24)
        again.collect()
      }
      assert(packed.length == 24 * RowsPerHdu)
      assert(packed.toSeq == plain.toSeq)
    } finally cleanup(dir)
  }

  test("an hdu=all union over packed three-HDU files reads every HDU once") {
    val dir = corpus("all", 24, 2)
    try {
      val df = read(dir, "all").select(Cols.head, Cols.tail: _*)
      assert(partitions(df).exists(_.isInstanceOf[FitsPackedPartition]))
      val rows = df.collect()
      assert(rows.length == 24 * 2 * RowsPerHdu)
      val byFileHdu = rows.groupBy(r => (r.getString(3), r.getInt(4)))
      assert(byFileHdu.size == 24 * 2)
      byFileHdu.foreach { case ((path, hdu), rs) =>
        val f = new File(new Path(path).toUri.getPath).getName.drop(1).take(2).toInt
        assert(rs.map(r => (r.getLong(5), r.getLong(0))).toSeq ==
          idsOf(f, hdu).zipWithIndex.map { case (id, i) => (i.toLong, id) },
          s"$path HDU $hdu")
        rs.foreach(r => assert(r.getDouble(1) == r.getLong(0) * 0.5 &&
          r.getString(2) == s"r${r.getLong(0)}"))
      }
    } finally cleanup(dir)
  }

  test("a limit reads correctly across packed partitions") {
    val dir = corpus("limit", 24, 1)
    try {
      val all = read(dir, "1").select(Cols.head, Cols.tail: _*).collect()
      // 15.5 files' worth: the limit cuts the 16th file's slice
      val n = 15 * RowsPerHdu + RowsPerHdu / 2
      val limited = read(dir, "1").select(Cols.head, Cols.tail: _*).limit(n)
      assert(partitions(limited).exists(_.isInstanceOf[FitsPackedPartition]))
      assert(limited.collect().toSeq == all.take(n).toSeq)
    } finally cleanup(dir)
  }

  test("a tiny maxPartitionBytes still gives one partition per slice") {
    val dir = corpus("tinysplit", 24, 1)
    try {
      val all = read(dir, "1").select(Cols.head, Cols.tail: _*).collect()
      withConf(MaxPartitionBytes -> (2 * RowBytes).toString) {
        val df = read(dir, "1").select(Cols.head, Cols.tail: _*)
        val parts = partitions(df)
        assert(parts.length == 24 * RowsPerHdu / 2, parts.length)
        assert(parts.forall(_.isInstanceOf[FitsInputPartition]))
        assert(df.collect().toSeq == all.toSeq)
      }
    } finally cleanup(dir)
  }

  test("scan_large-shaped plans keep one partition per slice") {
    // Header-only copies of the benchmark's large HDUs (data areas are
    // sparse): planning reads headers and file lengths alone.
    val dir = Files.createTempDirectory("fits-pack-large").toFile
    def bintable(rowBytes: Int, rows: Long, pcount: Long,
        cols: Seq[(String, String)], extra: Seq[String]): Seq[String] =
      Seq(card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
        card("NAXIS2", rows.toString), card("PCOUNT", pcount.toString),
        card("GCOUNT", "1"), card("TFIELDS", cols.length.toString)) ++
        cols.zipWithIndex.flatMap { case ((n, f), i) =>
          Seq(card(s"TTYPE${i + 1}", quoted(n)), card(s"TFORM${i + 1}", quoted(f)))
        } ++ extra
    def image(codec: String, heap: Long, maxTile: Int): Seq[String] =
      bintable(8, 128, heap, Seq("COMPRESSED_DATA" -> s"1PB($maxTile)"),
        Seq(card("ZIMAGE", "T"), card("ZCMPTYPE", quoted(codec)),
          card("ZBITPIX", "16"), card("ZNAXIS", "2"),
          card("ZNAXIS1", "2048"), card("ZNAXIS2", "2048"),
          card("ZTILE1", "2048"), card("ZTILE2", "16"),
          card("ZNAME1", quoted("BLOCKSIZE")), card("ZVAL1", "32"),
          card("ZNAME2", quoted("BYTEPIX")), card("ZVAL2", "2")))
    val shapes = Seq(
      "table" -> (bintable(55, 1200000L, 0, Seq("e" -> "E", "d" -> "D",
        "k" -> "K", "j" -> "J", "s" -> "10A", "v" -> "5E", "l" -> "L"), Nil),
        55L * 1200000L),
      "tdim" -> (bintable(56, 400000L, 0, Seq("id" -> "K", "m" -> "12E"),
        Seq(card("TDIM2", quoted("(3,4)")))), 56L * 400000L),
      // heap sizes of the benchmark's RICE_1 and HCOMPRESS_1 images
      "rice" -> (image("RICE_1", 7763729L, 60808), 1024L + 7763729L),
      "hcompress" -> (image("HCOMPRESS_1", 1723625L, 13698), 1024L + 1723625L))
    try {
      shapes.foreach { case (name, (cards, dataBytes)) =>
        writeSparse(new File(dir, s"$name.fits"), cards, dataBytes)
      }
      for ((name, _) <- shapes; minParts <- Seq(2, 4, 8)) {
        withConf(MinPartitions -> minParts.toString) {
          val res = FitsResolution(Map(
            "path" -> new File(dir, s"$name.fits").getPath, "hdu" -> "1"))
          val scan = new FitsScan(res, res.inferredSchema, res.inferredSchema)
          def key(p: FitsInputPartition) =
            (p.file, p.startByte, p.numRows, p.firstRowIndex)
          val slices = scan.slicesFor(res.files).map(s => key(s._1))
          val parts = scan.planInputPartitions().toSeq
          assert(slices.length >= 2, s"$name at $minParts: $slices")
          assert(parts.forall(_.isInstanceOf[FitsInputPartition]),
            s"$name at $minParts packed: $parts")
          assert(parts.map(p => key(p.asInstanceOf[FitsInputPartition])) == slices,
            s"$name at $minParts")
        }
      }
    } finally cleanup(dir)
  }
}

object FitsPackingSpec {
  import FitsWriteSupport.{card, headerBlock, pad, quoted}

  val RowsPerHdu = 10
  /** id K, x D, name 8A */
  val RowBytes = 24

  /** Ids of HDU `hdu` of file `f`: distinct across the corpus. */
  def idsOf(f: Int, hdu: Int): Seq[Long] =
    (0 until RowsPerHdu).map(r => f * 1000L + hdu * 100L + r)

  /** An empty primary and `hdus` bintables (id, x = id / 2, name). */
  def writeFile(file: File, f: Int, hdus: Int): Unit = {
    val out = new FileOutputStream(file)
    try {
      out.write(headerBlock(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), card("EXTEND", "T"), pad("END", 80))))
      (1 to hdus).foreach { h =>
        out.write(headerBlock(Seq(card("XTENSION", quoted("BINTABLE")),
          card("BITPIX", "8"), card("NAXIS", "2"),
          card("NAXIS1", RowBytes.toString), card("NAXIS2", RowsPerHdu.toString),
          card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "3"),
          card("EXTNAME", quoted(s"EXT$h")),
          card("TTYPE1", quoted("id")), card("TFORM1", quoted("K")),
          card("TTYPE2", quoted("x")), card("TFORM2", quoted("D")),
          card("TTYPE3", quoted("name")), card("TFORM3", quoted("8A")),
          pad("END", 80))))
        val bb = ByteBuffer.allocate((RowsPerHdu * RowBytes + 2879) / 2880 * 2880)
        idsOf(f, h).foreach { id =>
          bb.putLong(id).putDouble(id * 0.5)
            .put(pad(s"r$id", 8).getBytes("US-ASCII"))
        }
        out.write(bb.array())
      }
    } finally out.close()
  }

  /** An empty primary and one extension whose data area is a hole. */
  def writeSparse(file: File, cards: Seq[String], dataBytes: Long): Unit = {
    val out = new FileOutputStream(file)
    try {
      out.write(headerBlock(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), card("EXTEND", "T"), pad("END", 80))))
      out.write(headerBlock(cards :+ pad("END", 80)))
    } finally out.close()
    val raf = new RandomAccessFile(file, "rw")
    try raf.setLength(raf.length + (dataBytes + 2879) / 2880 * 2880)
    finally raf.close()
  }
}
