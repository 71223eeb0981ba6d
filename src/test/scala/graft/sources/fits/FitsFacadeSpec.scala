package graft.sources.fits

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** The no-Spark [[FitsFile]] facade and the connector read the same
  * rows: for every file below, `FitsFile.rows()` equals
  * `spark.read.format("fits")…collect().map(_.toSeq)` — at the default
  * chunk size and at a small one that splits the HDU into many
  * partitions (compressed images round chunks up to tile-row bands). */
class FitsFacadeSpec extends SparkTestBase {

  import FitsWriteSupport.{card, headerBlock, pad, quoted}

  private def agree(file: String, hdu: Int, chunks: Int*): Unit = {
    val conn = spark.read.format("fits").option("hdu", hdu).load(file)
      .collect().map(_.toSeq).toSeq
    assert(conn.nonEmpty)
    val f = FitsFile.open(file, hdu)
    assert(f.schema == spark.read.format("fits").option("hdu", hdu)
      .load(file).schema)
    (1024 +: chunks).foreach { n =>
      val got = f.rows(n).toSeq
      assert(got.length == conn.length, s"bufferRows $n")
      got.zip(conn).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"row $i differs at bufferRows $n")
      }
    }
  }

  /** The one .fits file a single-task write leaves in `dir`. */
  private def written(dir: String): String =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head.toString

  /** Empty primary plus one extension with `cards` and `data`. */
  private def handBuilt(cards: Seq[String], data: Array[Byte]): String = {
    val f = Files.createTempDirectory("fits-facade").resolve("h.fits")
    val out = new java.io.FileOutputStream(f.toFile)
    try {
      out.write(headerBlock(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80))))
      out.write(headerBlock(cards :+ pad("END", 80)))
      out.write(data)
      out.write(new Array[Byte]((2880 - data.length % 2880) % 2880))
    } finally out.close()
    f.toString
  }

  private def quantized(dither: Int, tile: Option[String]): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val src = (0 until 40).map { r =>
      (r.toLong, (0 until 32).map { c =>
        // planted exact zeros: DITHER_2 stores them losslessly
        if ((r + c) % 5 == 0) 0f
        else (math.sin(r * 0.2 + c * 0.1) * 100 + rnd.nextGaussian()).toFloat
      }.toArray)
    }
    val dir = Files.createTempDirectory("fits-facade").toString + "/q"
    val w = src.toDF("ImgIndex", "Image").coalesce(1).write.format("fits")
      .option("image", true).option("compress", "RICE_1")
      .option("quantize", 64.0).option("dither", dither)
      .option("ditherSeed", 77)
    tile.fold(w)(t => w.option("compressTile", t)).mode("append").save(dir)
    written(dir)
  }

  test("quantized RICE floats with SUBTRACTIVE_DITHER_1 and _2") {
    agree(quantized(1, None), 1, 7)
    agree(quantized(1, Some("8x4")), 1, 5)
    val d2 = quantized(2, None)
    agree(d2, 1, 3)
    // the planted zeros come back exact through the facade
    val line0 = FitsFile.open(d2, 1).rows().next().head.asInstanceOf[Seq[Any]]
    assert(line0(0) == 0f && line0(5) == 0f)
  }

  test("variable-length P and Q columns, TNULL integers, undefined logicals") {
    // writer: ragged vec → 1PE, skewed doc → 1PA, nulls → TNULL / 'L' 0
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("flag", BooleanType, nullable = true),
      StructField("vec", ArrayType(FloatType), nullable = true),
      StructField("ivec", ArrayType(IntegerType, containsNull = true),
        nullable = true),
      StructField("doc", StringType, nullable = true)))
    val rows = (0 until 30).map { i =>
      Row(if (i % 4 == 1) null else i.toLong,
        if (i % 3 == 0) null else i % 2 == 0,
        Array.tabulate(i % 5)(j => j * 1.5f),
        Array[Any](if (i % 6 == 2) null else i, i * 2),
        "x" * (i * 37 % 300))
    }
    val dir = Files.createTempDirectory("fits-facade").toString + "/p"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.format("fits").mode("append").save(dir)
    agree(written(dir), 1, 4)
    // hand-built Q descriptors (64-bit count and heap offset)
    val heap = new ByteArrayOutputStream()
    val descs = (0 until 6).map { r =>
      val d = (r % 4, heap.size)
      (0 until r % 4).foreach(j =>
        heap.write(ByteBuffer.allocate(4).putInt(r * 10 + j).array()))
      d
    }
    val data = ByteBuffer.allocate(6 * 20 + heap.size)
    descs.zipWithIndex.foreach { case ((n, off), r) =>
      data.putInt(r).putLong(n.toLong).putLong(off.toLong)
    }
    data.put(heap.toByteArray)
    val q = handBuilt(Seq(
      card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", "20"), card("NAXIS2", "6"),
      card("PCOUNT", heap.size.toString), card("GCOUNT", "1"),
      card("TFIELDS", "2"),
      card("TTYPE1", quoted("id")), card("TFORM1", quoted("J")),
      card("TTYPE2", quoted("v")), card("TFORM2", quoted("1QJ(3)"))),
      data.array())
    agree(q, 1, 4)
  }

  test("TDIM column reads as nested arrays") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-facade").toString + "/t"
    (0 until 20).map { r =>
      (r.toLong, Array.tabulate(4)(j => Array.tabulate(3)(k =>
        (r * 100 + j * 10 + k).toLong)))
    }.toDF("id", "mat").coalesce(1).write.format("fits").mode("append")
      .save(dir)
    agree(written(dir), 1, 6)
    val first = FitsFile.open(written(dir), 1).rows().next()
    assert(first(1) == Seq(Seq(0L, 1L, 2L), Seq(10L, 11L, 12L),
      Seq(20L, 21L, 22L), Seq(30L, 31L, 32L)))
  }

  test("BLANK + BZERO image, plain and RICE tile-compressed") {
    // stored int16 = i - 32768 (physical i), BLANK on the stored -1
    val px = ByteBuffer.allocate(2 * 4 * 6)
    (0 until 24).foreach(i =>
      px.putShort((if (i % 7 == 1) -1 else i - 32768).toShort))
    val img = handBuilt(Seq(
      card("XTENSION", quoted("IMAGE")), card("BITPIX", "16"),
      card("NAXIS", "2"), card("NAXIS1", "4"), card("NAXIS2", "6"),
      card("PCOUNT", "0"), card("GCOUNT", "1"), card("BLANK", "-1"),
      card("BSCALE", "1"), card("BZERO", "32768")), px.array())
    agree(img, 1, 4)
    val line0 = FitsFile.open(img, 1).rows().next()
    assert(line0 == Seq(Seq(0, null, 2, 3), 0L))
    // writer: null int pixels → BLANK card, tiles through RICE_1
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-facade").toString + "/b"
    (0 until 9).map { y =>
      (Seq.tabulate(5)(x => if ((y * 5 + x) % 7 == 0) None else Some(y * 5 + x)),
        y.toLong)
    }.toDF("Image", "ImgIndex").coalesce(1).write.format("fits")
      .option("image", true).option("compress", "RICE_1")
      .option("compressTile", "5x2").mode("append").save(dir)
    agree(written(dir), 1, 1, 3)
  }

  test("ASCII TABLE: blanks, implied decimals, malformed text") {
    //          name(8)  id(6)  flux(8)    mag(10)
    val rows = Seq(
      ("alpha", "42", "123.45", "1.25E+02"),
      ("beta", "", "12345", "1.25D+02"),
      ("gamma", "-17", "-1.50", ""),
      ("", "7", "", "-250E-1"),
      ("delta", "4x", "abc", "1.0"))
    val text = rows.map { case (n, i, f, m) =>
      pad(n, 8) + " " + i.reverse.padTo(6, ' ').reverse + " " +
        f.reverse.padTo(8, ' ').reverse + " " +
        m.reverse.padTo(10, ' ').reverse + " "
    }.mkString
    val t = handBuilt(Seq(
      card("XTENSION", quoted("TABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", "36"),
      card("NAXIS2", rows.length.toString), card("PCOUNT", "0"),
      card("GCOUNT", "1"), card("TFIELDS", "4"),
      card("TTYPE1", quoted("name")), card("TBCOL1", "1"),
      card("TFORM1", quoted("A8")),
      card("TTYPE2", quoted("id")), card("TBCOL2", "10"),
      card("TFORM2", quoted("I6")),
      card("TTYPE3", quoted("flux")), card("TBCOL3", "17"),
      card("TFORM3", quoted("F8.2")),
      card("TTYPE4", quoted("mag")), card("TBCOL4", "26"),
      card("TFORM4", quoted("E10.3"))), text.getBytes("US-ASCII"))
    agree(t, 1, 2)
    assert(FitsFile.open(t, 1).rows().toSeq.last ==
      Seq("delta", null, null, 1.0))
  }

  test("reference fixtures: catalog table, ASCII TABLE, int16 cube") {
    agree(s"${RefFixtures.root}/test_file.fits", 1, 3000)
    val mixed = s"${RefFixtures.root}/dirIm/0_i_am_not_empty.fits"
    agree(mixed, 1, 10)
    agree(mixed, 2, 64)
  }
}
