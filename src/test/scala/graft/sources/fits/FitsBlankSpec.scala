package graft.sources.fits

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.sources.fits.core.{ElemType, FitsStructure, HduMeta}

/** Integer-image `BLANK` → SQL NULL (FITS 4.0 §4.4.2.5) — the image
  * counterpart of the bintable TNULL machinery. The reference parses
  * BLANK but never consumes it (FitsLib.scala:110-115); raw survey
  * images rely on it, so this closes the engine's last null-story gap.
  * Covers: plain int image read (vectorized e2e + facade), the
  * BLANK-before-BSCALE ordering, write→read round trip (plain and
  * RICE_1 tile-compressed), and the ambiguous-sentinel write error. */
class FitsBlankSpec extends SparkTestBase {

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def card(key: String, value: String): String =
    pad(pad(key, 8) + "= " + pad(value, 20), 80)
  private def writeHeader(out: DataOutputStream, cards: Seq[String]): Unit = {
    val bytes = cards.mkString.getBytes("US-ASCII")
    out.write(bytes)
    out.write(new Array[Byte]((bytes.length + 2879) / 2880 * 2880 - bytes.length))
  }

  /** 4×3 int16 image; stored pixel (y*4+x), except sentinel at (0,1)
    * and (2,3). Optional BZERO for the scaled variant. */
  private def writeImage(blank: Int, bzero: Long): String = {
    val f = Files.createTempDirectory("fits-blank").resolve("img.fits")
    val out = new DataOutputStream(new FileOutputStream(f.toString))
    try {
      writeHeader(out, Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80)))
      val scaleCards =
        if (bzero == 0) Nil
        else Seq(card("BSCALE", "1"), card("BZERO", bzero.toString))
      writeHeader(out, Seq(
        card("XTENSION", "'IMAGE   '"), card("BITPIX", "16"),
        card("NAXIS", "2"), card("NAXIS1", "4"), card("NAXIS2", "3"),
        card("PCOUNT", "0"), card("GCOUNT", "1"),
        card("BLANK", blank.toString)) ++ scaleCards :+ pad("END", 80))
      (0 until 12).foreach { i =>
        out.writeShort(if (i == 1 || i == 11) blank else i - bzero.toInt)
      }
      out.write(new Array[Byte](2880 - 24))
    } finally out.close()
    f.toString
  }

  test("BLANK pixels read as SQL NULL (vectorized path)") {
    val file = writeImage(blank = -32768, bzero = 0)
    val df = spark.read.format("fits").option("hdu", 1).load(file)
    val rows = df.orderBy("ImgIndex").collect()
    assert(rows.length == 3)
    val line0 = rows(0).getSeq[Any](0)
    assert(line0(0) == 0.toShort && line0(1) == null &&
      line0(2) == 2.toShort && line0(3) == 3.toShort)
    val line2 = rows(2).getSeq[Any](0)
    assert(line2(2) == 10.toShort && line2(3) == null)
    // NULL-aware aggregation sees exactly 10 non-null pixels
    import org.apache.spark.sql.functions._
    val nonNull = df.select(explode(col("Image")).as("px"))
      .filter(col("px").isNotNull).count()
    assert(nonNull == 10)
  }

  test("BLANK compares the STORED value, before BSCALE/BZERO") {
    // unsigned-int16 convention: BZERO=32768 widens to IntegerType;
    // BLANK declares the STORED sentinel (-1 here, outside the stored
    // range of the regular pixels so only the planted sentinels match)
    val file = writeImage(blank = -1, bzero = 32768L)
    val df = spark.read.format("fits").option("hdu", 1).load(file)
    assert(df.schema("Image").dataType.simpleString == "array<int>")
    val rows = df.orderBy("ImgIndex").collect()
    val line0 = rows(0).getSeq[Any](0)
    // stored = i - 32768, physical = i; i=1 stored the sentinel
    assert(line0(0) == 0 && line0(1) == null && line0(2) == 2)
  }

  test("BLANK element and facade agree on the resolved meta") {
    val file = writeImage(blank = -32768, bzero = 0)
    val p = new Path(file)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val hdus = FitsStructure.scan(fs, p)
    val elem = hdus(1).meta.asInstanceOf[HduMeta.Image].elem
    assert(elem.isInstanceOf[ElemType.BlankElem])
    val blank = elem.asInstanceOf[ElemType.BlankElem]
    val sentinel = Array[Byte](0x80.toByte, 0x00) // stored -32768
    val regular = Array[Byte](0x00, 0x07)
    assert(blank.isBlankAt(sentinel, 0))
    assert(!blank.isBlankAt(regular, 0) && blank.storedLong(regular, 0) == 7L)
    // the facade reads the planted sentinel at (0,1) as NULL
    val line0 = FitsFile.open(file, hdu = 1).rows().next().head
    assert(line0 == Seq(0.toShort, null, 2.toShort, 3.toShort))
  }

  test("null int pixels write a BLANK card and round-trip as NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-blank-w").toString + "/out"
    val lines: Seq[(Seq[Option[Int]], Long)] = (0 until 6).map { y =>
      (Seq.tabulate(5)(x =>
        if ((y * 5 + x) % 7 == 0) None else Some(y * 5 + x)), y.toLong)
    }
    lines.toDF("Image", "ImgIndex").coalesce(1)
      .write.format("fits").option("image", true).mode("append").save(dir)
    // the primary header carries the BLANK card
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val p = new Path(file.toString)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val hdr = FitsStructure.scan(fs, p).head.header
    assert(hdr.values.get("BLANK").map(_.trim) == Some(Int.MinValue.toString))
    // and the data reads back with the same nulls in the same places
    val back = spark.read.format("fits").option("hdu", 0).load(dir)
      .orderBy("ImgIndex").collect()
    assert(back.length == 6)
    back.zipWithIndex.foreach { case (r, y) =>
      val got = r.getSeq[Any](0)
      (0 until 5).foreach { x =>
        val want: Any =
          if ((y * 5 + x) % 7 == 0) null else y * 5 + x
        assert(got(x) == want, s"pixel ($y,$x)")
      }
    }
  }

  test("nulls round-trip through RICE_1 tile-compressed integer images") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-blank-c").toString + "/out"
    val lines: Seq[(Seq[Option[Int]], Long)] = (0 until 8).map { y =>
      (Seq.tabulate(16)(x =>
        if ((y + x) % 5 == 0) None else Some(y * 100 + x)), y.toLong)
    }
    lines.toDF("Image", "ImgIndex").coalesce(1)
      .write.format("fits").option("image", true)
      .option("compress", "RICE_1").mode("append").save(dir)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").collect()
    assert(back.length == 8)
    back.zipWithIndex.foreach { case (r, y) =>
      val got = r.getSeq[Any](0)
      (0 until 16).foreach { x =>
        val want: Any = if ((y + x) % 5 == 0) null else y * 100 + x
        assert(got(x) == want, s"pixel ($y,$x)")
      }
    }
  }

  test("nulls alongside a legitimate MinValue pixel fail loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-blank-amb").toString + "/out"
    val bad: Seq[(Seq[Option[Int]], Long)] =
      Seq((Seq(Some(Int.MinValue), None, Some(3)), 0L))
    val e = intercept[Exception] {
      bad.toDF("Image", "ImgIndex").coalesce(1)
        .write.format("fits").option("image", true).mode("append").save(dir)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("ambiguous"))))
  }
}
