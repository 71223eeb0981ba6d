package graft.sources.fits.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.fits.{FitsFile, RefFixtures}
import graft.sources.fits.FitsWriteSupport.{card, headerBlock, pad, quoted}

/** Byte-layer unit tests with golden values taken from the reference's
  * own fixtures/tests (FitsLibTest.scala goldens; fixtures from
  * [[RefFixtures]] — the reference's files, or byte-exact rebuilds).
  */
class FitsCoreSpec extends AnyFunSuite {

  private val res = RefFixtures.root
  private def scan(p: String) = scanFile(s"$res/$p")
  private def scanFile(f: String) = {
    val path = new Path(s"file://$f")
    FitsStructure.scan(path.getFileSystem(new Configuration()), path)
  }

  test("test_file.fits has 3 HDUs with golden HDU1 boundaries") {
    val hdus = scan("test_file.fits")
    assert(hdus.length == 3)
    // golden: FitsLibTest.scala:97-101
    assert(hdus(1).bounds == HduBounds(2880, 5760, 685760, 688320))
  }

  test("HDU1 bintable meta: 20000 rows x 34 bytes, 5 columns") {
    val meta = scan("test_file.fits")(1).meta.asInstanceOf[HduMeta.Bintable]
    assert(meta.nRows == 20000)
    assert(meta.rowBytes == 34)
    assert(meta.columns.map(_.name) ==
      Vector("target", "RA", "Dec", "Index", "RunId"))
    assert(meta.columns.map(_.tform.raw) ==
      Vector("10A", "E", "D", "K", "J"))
    assert(meta.columns.map(_.offset) == Vector(0, 10, 14, 22, 30))
    // column widths sum to the row size
    assert(meta.columns.map(_.tform.byteWidth).sum == meta.rowBytes)
  }

  test("schema inference maps TFORMs to Spark types") {
    val meta = scan("test_file.fits")(1).meta
    assert(meta.schema == StructType(Seq(
      StructField("target", StringType, nullable = true),
      StructField("RA", FloatType, nullable = true),
      StructField("Dec", DoubleType, nullable = true),
      StructField("Index", LongType, nullable = true),
      StructField("RunId", IntegerType, nullable = true))))
  }

  test("array TFORMs become ArrayType; 1-element stays scalar") {
    // fixture test_file_array.fits HDU1: 10A, 2E, 3D, 7K, I, 3I
    val meta = scan("test_file_array.fits")(1).meta.asInstanceOf[HduMeta.Bintable]
    assert(meta.schema == StructType(Seq(
      StructField("target", StringType, nullable = true),
      StructField("RA", ArrayType(FloatType, true), nullable = true),
      StructField("Dec", ArrayType(DoubleType, true), nullable = true),
      StructField("Index", ArrayType(LongType, true), nullable = true),
      StructField("RunId", ShortType, nullable = true),
      StructField("RunIdArray", ArrayType(ShortType, true), nullable = true))))
    // one-element repeat: 1E/1D/1K/1I are scalars (FitsSchemaTest.scala:59-70)
    val one = scan("test_file_one-element.fits")(1).meta
    assert(one.schema.fields.map(_.dataType).toSeq ==
      Seq(StringType, FloatType, DoubleType, LongType, ShortType))
  }

  test("header string values unescape quotes and keep comments") {
    val h = scan("test_file.fits")(0).header
    assert(h("OBSERVER") == "Toto l'asticot")
    assert(h("SIMPLE") == "T")
    assert(h.getBoolean("SIMPLE").contains(true))
    assert(h.comments("BITPIX") == "array data type")
  }

  test("CONTINUE long strings and HIERARCH keywords parse") {
    def card80(s: String) = s.padTo(80, ' ')
    val raw = (
      card80("SIMPLE  =                    T") +
        card80("LONGSTRN= 'OGIP 1.0'") +
        card80("ORIGIN  = 'a rather long va&'") +
        card80("CONTINUE  'lue split over &'") +
        card80("CONTINUE  'three cards' / the comment") +
        card80("HIERARCH ESO TEL AIRM START = 1.204 / airmass") +
        card80("HIERARCH ESO INS MODE = 'IMAGING ' / instrument mode") +
        card80("PLAIN   =                    7") +
        card80("END")).getBytes("US-ASCII")
    val padded = java.util.Arrays.copyOf(raw, 2880)
    java.util.Arrays.fill(padded, raw.length, 2880, ' '.toByte)
    val h = FitsHeader.parse(padded)
    assert(h("ORIGIN") == "a rather long value split over three cards")
    assert(h.comments("ORIGIN") == "the comment")
    assert(h.getDouble("ESO TEL AIRM START").contains(1.204))
    assert(h.comments("ESO TEL AIRM START") == "airmass")
    assert(h("ESO INS MODE") == "IMAGING")
    assert(h.getInt("PLAIN").contains(7))
    // a string legitimately ending in '&' with no CONTINUE stays intact
    val raw2 = (card80("NOTE    = 'ends with amp&'") + card80("END"))
      .getBytes("US-ASCII")
    val padded2 = java.util.Arrays.copyOf(raw2, 2880)
    java.util.Arrays.fill(padded2, raw2.length, 2880, ' '.toByte)
    assert(FitsHeader.parse(padded2)("NOTE") == "ends with amp&")
  }

  test("column names containing '/' survive parsing") {
    val meta = scan("colnames_with_slash.fits")(1)
      .meta.asInstanceOf[HduMeta.Bintable]
    assert(meta.columns.exists(_.name.contains("/")))
  }

  test("multi-block (long) headers parse") {
    val hdus = scan("test_longheader_file.fits")
    assert(hdus(1).meta.isReadable)
    assert(hdus(1).header.cards.length > 100)
  }

  test("first row of HDU1 decodes to NGC0000000") {
    // golden: FitsLibTest.scala:154-171, packageTest.scala:248-253
    val row = FitsFile.open(s"file://$res/test_file.fits", hdu = 1).rows().next()
    assert(row(0) == "NGC0000000")
    assert(row(3) == 0L) // Index
    assert(row(4).isInstanceOf[Int])
  }

  test("image HDU: 73x31x5 int16 image yields 155 rows of 73 pixels") {
    // golden: ReadFitsTest.scala:108-115 (155 rows)
    val hdus = scan("dirIm/0_i_am_not_empty.fits")
    val img = hdus(2).meta.asInstanceOf[HduMeta.Image]
    assert(img.nRows == 155)
    assert(img.lineElems == 73)
    assert(img.elem == ElemType.I)
    assert(img.schema.fieldNames.toSeq == Seq("Image", "ImgIndex"))
  }

  test("empty primary HDU is opaque; ASCII TABLE resolves its columns") {
    val hdus = scanFile(RefFixtures.reference("dirIm/0_i_am_not_empty.fits"))
    assert(hdus(0).meta == HduMeta.Opaque) // empty primary
    val t = hdus(1).meta.asInstanceOf[HduMeta.Bintable] // ASCII TABLE
    assert(t.isReadable && t.nRows == 53 && t.rowBytes == 59)
    assert(t.columns.map(_.name) == Vector("IDENT", "Mag", "Channel",
      "Dist", "Mass", "Class", "Type", "Class_No"))
    // TBCOLn are explicit 0-based offsets — Class and Type OVERLAP at 53
    assert(t.columns.map(_.offset) == Vector(0, 10, 17, 21, 32, 53, 53, 54))
    assert(t.columns.map(_.tform.sparkType) == Vector(StringType,
      DoubleType, LongType, DoubleType, DoubleType, StringType,
      StringType, LongType))
  }

  test("primary HDU with data is assumed to be an image") {
    val hdus = scanFile(RefFixtures.reference("toTest/tst0001.fits"))
    val img = hdus(0).meta.asInstanceOf[HduMeta.Image]
    assert(img.axes == Vector(123L, 321L))
    assert(img.elem == ElemType.B) // BITPIX 8
  }

  test("unsigned-byte fixture maps B to signed ByteType (compat wart)") {
    val meta = scan("test_file_ub.fits")(1).meta
    assert(meta.schema.fields.head.dataType == ByteType)
  }

  test("TForm registry: widths and types per the reference table") {
    val cases = Seq(
      ("I", 2, ShortType), ("5I", 10, ArrayType(ShortType, true)),
      ("J", 4, IntegerType), ("K", 8, LongType), ("E", 4, FloatType),
      ("D", 8, DoubleType), ("L", 1, BooleanType), ("B", 1, ByteType),
      ("10A", 10, StringType), ("16X", 2, ArrayType(BinaryType, true)))
    cases.foreach { case (raw, width, tpe) =>
      val tf = TForm.parse(raw)
      assert(tf.byteWidth == width, raw)
      assert(tf.sparkType == tpe, raw)
    }
    // variable-length descriptors now decode (heap-backed)
    val pe = TForm.parse("PE(100)").asInstanceOf[TForm.VarArr]
    assert(pe.supported && pe.byteWidth == 8 &&
      pe.sparkType == ArrayType(FloatType, true) && pe.maxLen == 100)
    val qd = TForm.parse("QD(7)").asInstanceOf[TForm.VarArr]
    assert(qd.isQ && qd.byteWidth == 16 &&
      qd.sparkType == ArrayType(DoubleType, true))
    assert(TForm.parse("PA(20)").sparkType == StringType) // var string
    // var bit fields and var complex stay undecoded, widths preserved
    assert(!TForm.parse("PX(16)").supported)
    assert(TForm.parse("PX(16)").byteWidth == 8)
    assert(!TForm.parse("1PC(0)").supported)
    assert(TForm.parse("1PC(0)").byteWidth == 8)
    // fixed-width complex decodes as interleaved [re, im] pairs
    val c1 = TForm.parse("C")
    assert(c1.supported && c1.byteWidth == 8 &&
      c1.sparkType == ArrayType(FloatType, true))
    val m3 = TForm.parse("3M")
    assert(m3.supported && m3.byteWidth == 48 &&
      m3.sparkType == ArrayType(DoubleType, true))
    // a one-row table holding that complex value, read through the facade
    val f = java.nio.file.Files.createTempFile("graft-complex", ".fits")
    val buf = java.nio.ByteBuffer.allocate(2880)
      .putFloat(1.5f).putFloat(-2.25f).array()
    java.nio.file.Files.write(f, headerBlock(Seq(card("SIMPLE", "T"),
      card("BITPIX", "8"), card("NAXIS", "0"), pad("END", 80))) ++
      headerBlock(Seq(card("XTENSION", quoted("BINTABLE")),
        card("BITPIX", "8"), card("NAXIS", "2"), card("NAXIS1", "8"),
        card("NAXIS2", "1"), card("PCOUNT", "0"), card("GCOUNT", "1"),
        card("TFIELDS", "1"), card("TTYPE1", quoted("c")),
        card("TFORM1", quoted("C")), pad("END", 80))) ++ buf)
    try assert(FitsFile.open(f.toString, hdu = 1).rows().next().head ==
      Seq(1.5f, -2.25f))
    finally java.nio.file.Files.delete(f)
  }

  test("variable-length array file walks without desync (PCOUNT heap)") {
    val hdus = scanFile(RefFixtures.reference("toTest/varitab.fits"))
    assert(hdus.nonEmpty)
    // boundaries must be monotonically increasing and block-aligned
    hdus.foreach { h =>
      assert(h.bounds.blockStop % 2880 == 0)
      assert(h.bounds.dataStart >= h.bounds.headerStart)
    }
  }
}
