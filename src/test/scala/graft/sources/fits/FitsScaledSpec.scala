package graft.sources.fits

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files

import graft.SparkTestBase

/** TSCALn/TZEROn scaled columns (beyond-reference: the reference ignores
  * both keywords). Covers the three exact integer sign conventions, a
  * general linear calibration (→ double), a scaled vector column, and an
  * adjacent unscaled column that must stay untouched. */
class FitsScaledSpec extends SparkTestBase {

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def card(key: String, value: String): String =
    pad(pad(key, 8) + "= " + pad(value, 20), 80)
  private def writeHeader(out: DataOutputStream, cards: Seq[String]): Unit = {
    val bytes = cards.mkString.getBytes("US-ASCII")
    out.write(bytes)
    val padLen = (bytes.length + 2879) / 2880 * 2880 - bytes.length
    out.write(pad("", padLen).getBytes("US-ASCII"))
  }

  // row: sbyte(B,TZERO=-128) u16(I,TZERO=32768) u32(J,TZERO=2^31)
  //      cal(I, TSCAL=0.5 TZERO=10) vec(2E, TSCAL=2) raw(I)
  private val rowBytes = 1 + 2 + 4 + 2 + 8 + 2

  private def writeFile(path: String, n: Int): Unit = {
    val cards = Seq(
      card("XTENSION", "'BINTABLE'"),
      card("BITPIX", "8"), card("NAXIS", "2"),
      card("NAXIS1", rowBytes.toString), card("NAXIS2", n.toString),
      card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "6"),
      card("TTYPE1", "'sbyte   '"), card("TFORM1", "'B       '"),
      card("TSCAL1", "1"), card("TZERO1", "-128"),
      card("TTYPE2", "'u16     '"), card("TFORM2", "'I       '"),
      card("TSCAL2", "1"), card("TZERO2", "32768"),
      card("TTYPE3", "'u32     '"), card("TFORM3", "'J       '"),
      card("TSCAL3", "1"), card("TZERO3", "2147483648"),
      card("TTYPE4", "'cal     '"), card("TFORM4", "'I       '"),
      card("TSCAL4", "0.5"), card("TZERO4", "10.0"),
      card("TTYPE5", "'vec     '"), card("TFORM5", "'2E      '"),
      card("TSCAL5", "2.0"),
      card("TTYPE6", "'raw     '"), card("TFORM6", "'I       '"),
      pad("END", 80))
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      writeHeader(out, Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80)))
      writeHeader(out, cards)
      (0 until n).foreach { i =>
        out.writeByte(i * 37 % 256) // stored unsigned byte
        out.writeShort(i * 1001 % 65536 - 32768) // stored signed i16
        out.writeInt(Int.MinValue + i) // stored signed i32
        out.writeShort(i - 5) // cal stored
        out.writeFloat(i.toFloat); out.writeFloat(i + 0.5f)
        out.writeShort(i - 100) // raw, untouched
      }
      val dataLen = rowBytes.toLong * n
      val padLen = ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt
      out.write(new Array[Byte](padLen))
    } finally out.close()
  }

  private lazy val file: String = {
    val f = Files.createTempDirectory("fits-scaled").resolve("scaled.fits")
    writeFile(f.toString, 300)
    f.toString
  }

  // unsigned 16-bit image (BZERO=32768) — the most common archive format
  private lazy val imageFile: String = {
    val f = Files.createTempDirectory("fits-scaled-img").resolve("img.fits")
    val out = new DataOutputStream(new FileOutputStream(f.toString))
    try {
      writeHeader(out, Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80)))
      writeHeader(out, Seq(
        card("XTENSION", "'IMAGE   '"), card("BITPIX", "16"),
        card("NAXIS", "2"), card("NAXIS1", "4"), card("NAXIS2", "3"),
        card("PCOUNT", "0"), card("GCOUNT", "1"),
        card("BSCALE", "1"), card("BZERO", "32768"),
        pad("END", 80)))
      // stored[y][x] = (y*4+x) - 32768 → physical = y*4+x (unsigned)
      (0 until 12).foreach(i => out.writeShort(i - 32768))
      out.write(new Array[Byte](2880 - 24))
    } finally out.close()
    f.toString
  }

  test("BZERO=32768 image decodes as unsigned ints, line per row") {
    val df = spark.read.format("fits").option("hdu", 1).load(imageFile)
    assert(df.schema("Image").dataType.simpleString == "array<int>")
    val rows = df.orderBy("ImgIndex").collect()
    assert(rows.length == 3)
    rows.zipWithIndex.foreach { case (r, y) =>
      assert(r.getSeq[Int](0) == (0 until 4).map(x => y * 4 + x), s"line $y")
    }
  }

  test("integer sign conventions decode exactly with widened types") {
    val df = spark.read.format("fits").option("hdu", 1).load(file)
    val s = df.schema
    assert(s("sbyte").dataType.typeName == "byte")
    assert(s("u16").dataType.typeName == "integer")
    assert(s("u32").dataType.typeName == "long")
    val rows = df.select("sbyte", "u16", "u32").collect()
    assert(rows.length == 300)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getByte(0) == ((i * 37 % 256) - 128).toByte, s"sbyte row $i")
      // physical = stored + 32768; stored = (i*1001 % 65536) - 32768
      assert(r.getInt(1) == i * 1001 % 65536, s"u16 row $i")
      assert(r.getLong(2) == (Int.MinValue + i).toLong + 2147483648L,
        s"u32 row $i")
    }
  }

  test("general TSCAL/TZERO calibration promotes to double") {
    val df = spark.read.format("fits").option("hdu", 1).load(file)
    assert(df.schema("cal").dataType.typeName == "double")
    val vals = df.select("cal").collect().map(_.getDouble(0))
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(v - (10.0 + 0.5 * (i - 5))) < 1e-12, s"cal row $i")
    }
  }

  test("scaled vector column becomes array<double>, element-wise") {
    val df = spark.read.format("fits").option("hdu", 1).load(file)
    assert(df.schema("vec").dataType.simpleString == "array<double>")
    val first = df.select("vec").limit(3).collect()
      .map(_.getSeq[Double](0))
    first.zipWithIndex.foreach { case (a, i) =>
      assert(a == Seq(2.0 * i, 2.0 * (i + 0.5)), s"vec row $i")
    }
  }

  // a scaled column beside a bit-field (nX) column: the scaled decode
  // must stay exact with a bit field in the projection
  test("scaled column decodes exactly beside a bit-field column") {
    val f = Files.createTempDirectory("fits-scaled-row").resolve("row.fits")
    val rb = 2 + 1 // u16(I) + bits(8X)
    val out = new DataOutputStream(new FileOutputStream(f.toString))
    try {
      writeHeader(out, Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80)))
      writeHeader(out, Seq(
        card("XTENSION", "'BINTABLE'"),
        card("BITPIX", "8"), card("NAXIS", "2"),
        card("NAXIS1", rb.toString), card("NAXIS2", "50"),
        card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "2"),
        card("TTYPE1", "'u16     '"), card("TFORM1", "'I       '"),
        card("TSCAL1", "1"), card("TZERO1", "32768"),
        card("TTYPE2", "'flags   '"), card("TFORM2", "'8X      '"),
        pad("END", 80)))
      (0 until 50).foreach { i =>
        out.writeShort(i * 7 - 32768); out.writeByte(i)
      }
      val dataLen = rb.toLong * 50
      out.write(new Array[Byte](((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
    } finally out.close()
    val df = spark.read.format("fits").option("hdu", 1).load(f.toString)
    val vals = df.select("u16").orderBy("u16").collect().map(_.getInt(0))
    assert(vals.toSeq == (0 until 50).map(_ * 7))
  }

  test("unscaled sibling column and pruning are untouched") {
    val df = spark.read.format("fits").option("hdu", 1).load(file)
    assert(df.schema("raw").dataType.typeName == "short")
    val raw = df.select("raw").limit(3).collect().map(_.getShort(0))
    assert(raw.toSeq == Seq[Short](-100, -99, -98))
    // count + pruned single-column read still work on a scaled table
    assert(df.count() == 300)
    assert(spark.read.format("fits").option("hdu", 1)
      .option("columns", "u16").load(file).columns.toSeq == Seq("u16"))
  }

  test("TNULL sentinel decodes as SQL NULL (scalar and vector)") {
    // table: id(J, TNULL=-1), v(2I vector, TNULL=-9), s(8A untouched)
    val dir = Files.createTempDirectory("fits-tnull")
    val f = dir.resolve("t.fits").toFile
    val out = new DataOutputStream(new FileOutputStream(f))
    writeHeader(out, Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
      card("NAXIS", "0"), pad("END", 80)))
    writeHeader(out, Seq(
      card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", (4 + 4 + 8).toString),
      card("NAXIS2", "4"), card("PCOUNT", "0"), card("GCOUNT", "1"),
      card("TFIELDS", "3"),
      card("TTYPE1", "'id      '"), card("TFORM1", "'J       '"),
      card("TNULL1", "-1"),
      card("TTYPE2", "'v       '"), card("TFORM2", "'2I      '"),
      card("TNULL2", "-9"),
      card("TTYPE3", "'s       '"), card("TFORM3", "'8A      '"),
      pad("END", 80)))
    val rows = Seq((10, Seq(1, 2), "aa"), (-1, Seq(-9, 5), "bb"),
      (30, Seq(7, -9), "cc"), (-1, Seq(-9, -9), "dd"))
    rows.foreach { case (id, v, s) =>
      out.writeInt(id); v.foreach(x => out.writeShort(x))
      out.write(pad(s, 8).getBytes("US-ASCII"))
    }
    val dataLen = 16 * 4
    out.write(new Array[Byte]((2880 - dataLen % 2880) % 2880))
    out.close()

    val df = spark.read.format("fits").option("hdu", 1).load(f.toString)
    val got = df.collect().map { r =>
      (if (r.isNullAt(0)) null else r.getInt(0),
        r.getSeq[Any](1).toList, r.getString(2))
    }
    assert(got.toSeq == Seq(
      (10, List(1.toShort, 2.toShort), "aa"),
      (null, List(null, 5.toShort), "bb"),
      (30, List(7.toShort, null), "cc"),
      (null, List(null, null), "dd")))
    // NULL-aware relational behavior downstream: nulls drop from aggs
    import org.apache.spark.sql.functions._
    val agg = df.agg(count(col("id")).as("n"), sum(col("id")).as("s")).head
    assert(agg.getLong(0) == 2 && agg.getLong(1) == 40)
  }
}
