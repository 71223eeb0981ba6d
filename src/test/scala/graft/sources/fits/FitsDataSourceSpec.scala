package graft.sources.fits

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** End-to-end DataFrame tests for the FITS DSv2 connector, porting the
  * reference's golden values (packageTest.scala:105-262,
  * ReadFitsTest.scala:65-316) as compatibility tests. Fixtures come from
  * [[RefFixtures]]: the reference's committed binaries, or byte-exact
  * rebuilds of them.
  */
class FitsDataSourceSpec extends SparkTestBase {

  private val res = RefFixtures.root
  private def fits(path: String, hdu: Int = 1,
      opts: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("fits").option("hdu", hdu)
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  test("format 'fits' resolves via DataSourceRegister") {
    val df = fits(s"$res/test_file.fits")
    assert(df.columns.toSeq == Seq("target", "RA", "Dec", "Index", "RunId"))
  }

  test("count == 20000 and sum(Index) == 199990000 (golden)") {
    val df = fits(s"$res/test_file.fits")
    assert(df.count() == 20000L)
    val s = df.agg(sum("Index")).collect().head.getLong(0)
    assert(s == 199990000L)
  }

  test("no torn/duplicated rows across partition boundaries (issue #93)") {
    // Adversarially tiny partitions: many row-aligned slices.
    withMaxPartitionBytes(4096) {
      val df = fits(s"$res/test_file.fits")
      assert(df.rdd.getNumPartitions > 100)
      assert(df.count() == 20000L)
      assert(df.distinct().count() == 20000L)
      assert(df.agg(sum("Index")).collect().head.getLong(0) == 199990000L)
    }
  }

  test("first row is NGC0000000 in file order (golden)") {
    val first = fits(s"$res/test_file.fits").first()
    assert(first.getString(0) == "NGC0000000")
    assert(first.getLong(3) == 0L)
  }

  test("select() prunes the scan to the requested columns") {
    val df = fits(s"$res/test_file.fits").select("RA")
    assert(df.columns.toSeq == Seq("RA"))
    assert(df.count() == 20000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=RA"), s"pruning not pushed:\n$plan")
  }

  test("columns option selects and reorders like the reference") {
    val df = fits(s"$res/test_file.fits", opts = Map("columns" -> "Index,target"))
    assert(df.columns.toSeq == Seq("Index", "target"))
    assert(df.count() == 20000L)
  }

  test("unknown column in columns option throws") {
    val e = intercept[Exception] {
      fits(s"$res/test_file.fits", opts = Map("columns" -> "nope")).count()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("HDU 2 reads the second bintable") {
    val df = fits(s"$res/test_file.fits", hdu = 2)
    assert(df.columns.toSeq == Seq("target", "Index", "Discovery"))
    assert(df.count() == 20000L)
    assert(df.schema("Discovery").dataType == BooleanType)
  }

  test("HDU 0 (empty primary) gives an empty DataFrame") {
    val df = fits(s"$res/test_file.fits", hdu = 0)
    assert(df.count() == 0L)
  }

  test("missing hdu option throws a clear error") {
    val e = intercept[Exception] {
      spark.read.format("fits").load(s"$res/test_file.fits").count()
    }
    assert(e.getMessage.toLowerCase.contains("hdu"))
  }

  test("out-of-range hdu index throws") {
    val e = intercept[Exception] { fits(s"$res/test_file.fits", hdu = 9).count() }
    assert(e.getMessage.contains("9"))
  }

  test("recordlength smaller than a row throws") {
    val e = intercept[Exception] {
      fits(s"$res/test_file.fits", opts = Map("recordlength" -> "10")).count()
    }
    assert(e.getMessage.toLowerCase.contains("recordlength"))
  }

  test("multi-file: directory, glob and comma list each read 27000 rows (golden)") {
    // dir/ holds test_file.fits (20000) + test_file2.fits (7000) + a decoy txt
    assert(fits(s"$res/dir").count() == 27000L)
    assert(fits(s"$res/dir/*.fits").count() == 27000L)
    assert(fits(s"$res/dir/test_file.fits,$res/dir/test_file2.fits").count() == 27000L)
  }

  test("PERMISSIVE skips schema-mismatched files; FAILFAST throws") {
    // dirNotOk: two files with different HDU-1 schemas
    val permissive = fits(s"$res/dirNotOk")
    assert(permissive.count() > 0L)
    val e = intercept[Exception] {
      fits(s"$res/dirNotOk", opts = Map("mode" -> "FAILFAST")).count()
    }
    assert(e.getMessage.contains("differs"))
  }

  test("nonexistent path errors mention the path") {
    val e = intercept[Exception] { fits(s"$res/no_such_thing.fits").count() }
    assert(e.getMessage.contains("no_such_thing"))
  }

  test("image HDU: 73x31x5 int16 image reads as 155 rows (golden)") {
    val df = fits(s"$res/dirIm/0_i_am_not_empty.fits", hdu = 2)
    assert(df.columns.toSeq == Seq("Image", "ImgIndex"))
    assert(df.count() == 155L)
    val rows = df.orderBy("ImgIndex").collect()
    assert(rows.head.getSeq[Short](0).length == 73)
    assert(rows.map(_.getLong(1)).toSeq == (0L until 155L))
  }

  test("ASCII TABLE HDU decodes (reference fixture goldens)") {
    val df =
      fits(RefFixtures.reference("dirIm/0_i_am_not_empty.fits"), hdu = 1)
    assert(df.count() == 53L)
    val rows = df.collect()
    // golden row "Object  1" (values verified against the raw bytes)
    val o1 = rows.find(_.getString(0) == "Object  1").get
    assert(o1.getDouble(1) == 6.32 && o1.getLong(2) == 23L &&
      o1.getDouble(3) == 93.3911 &&
      o1.getDouble(4) == 23.1846719826491824 &&
      o1.getString(5) == "A4321" && o1.getString(6) == "A" &&
      o1.getLong(7) == 4321L)
    // Fortran conventions: D exponent + implied decimal point
    val o2 = rows.find(_.getString(0) == "Object 2").get
    assert(o2.getDouble(3) == 1223.0 && o2.getDouble(4) == 0.1281928469124)
    val o3 = rows.find(_.getString(0) == "Object3").get
    assert(o3.getDouble(1) == 123.45 && // "12345" under F6.2
      o3.getDouble(3) == 1234.5678 && o3.getDouble(4) == 9.87978e-10)
    // non-numeric placeholder text ('---.--') reads as NULL, not a crash
    assert(rows.exists(r => r.isNullAt(1)))
  }

  test("array columns decode with exact lengths (golden fixture)") {
    val df = fits(s"$res/test_file_array.fits")
    val r = df.first()
    assert(r.getSeq[Float](1).length == 2) // 2E
    assert(r.getSeq[Double](2).length == 3) // 3D
    assert(r.getSeq[Long](3).length == 7) // 7K
    assert(r.getSeq[Short](5).length == 3) // 3I
    assert(df.count() == 100L)
  }

  test("user-supplied schema renames columns positionally") {
    val schema = StructType(Seq(
      StructField("name", StringType, true),
      StructField("ra", FloatType, true),
      StructField("dec", DoubleType, true),
      StructField("idx", LongType, true),
      StructField("run", IntegerType, true)))
    val df = spark.read.format("fits").schema(schema).option("hdu", 1)
      .load(s"$res/test_file.fits")
    assert(df.columns.toSeq == Seq("name", "ra", "dec", "idx", "run"))
    assert(df.select("idx").agg(sum("idx")).collect().head.getLong(0) == 199990000L)
    assert(df.select("name").first().getString(0) == "NGC0000000")
  }

  test("signed-byte wart: B column reads as ByteType (golden)") {
    val df = fits(s"$res/test_file_ub.fits")
    assert(df.schema.fields.head.dataType == ByteType)
    assert(df.count() == 20000L)
  }

  test("hdu option resolves EXTNAME (astropy-style), case-insensitive") {
    val swift = RefFixtures.reference("toTest/swift_events.fits")
    val byIndex = spark.read.format("fits").option("hdu", 1).load(swift)
    val byName = spark.read.format("fits").option("hdu", "events").load(swift)
    assert(byName.schema == byIndex.schema)
    assert(byName.count() == byIndex.count())
    // missing name errors eagerly with the available names listed
    val e = intercept[IllegalArgumentException] {
      spark.read.format("fits").option("hdu", "nope")
        .load(swift).schema
    }
    assert(e.getMessage.contains("EXTNAME") &&
      e.getMessage.contains("EVENTS"), e.getMessage)
  }

  test("EXTNAME resolves per file: same name at different indices unions") {
    import FitsWriteSupport.{card, headerBlock, pad, quoted}
    val dir = java.nio.file.Files.createTempDirectory("fits-extname")
    def bintable(ids: Seq[Int]): Array[Byte] = {
      val hdr = headerBlock(Seq(
        card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", "4"),
        card("NAXIS2", ids.length.toString), card("PCOUNT", "0"),
        card("GCOUNT", "1"), card("TFIELDS", "1"),
        card("TTYPE1", quoted("id")), card("TFORM1", quoted("J")),
        card("EXTNAME", quoted("CATALOG")), pad("END", 80)))
      val bb = java.nio.ByteBuffer.allocate(2880)
      ids.foreach(bb.putInt)
      hdr ++ bb.array()
    }
    val primary = headerBlock(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
      card("NAXIS", "0"), pad("END", 80)))
    // an unrelated named extension that shifts CATALOG to index 2 in b
    val decoy = headerBlock(Seq(
      card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", "2"), card("NAXIS2", "1"),
      card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "1"),
      card("TTYPE1", quoted("x")), card("TFORM1", quoted("I")),
      card("EXTNAME", quoted("OTHER")), pad("END", 80))) ++
      new Array[Byte](2880)
    java.nio.file.Files.write(dir.resolve("a.fits"),
      primary ++ bintable(Seq(1, 2, 3)))
    java.nio.file.Files.write(dir.resolve("b.fits"),
      primary ++ decoy ++ bintable(Seq(10, 20)))
    val df = spark.read.format("fits").option("hdu", "CATALOG")
      .load(dir.toString)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 10, 20))
  }

  test("SQL DDL: CREATE TEMPORARY VIEW USING fits works end to end") {
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW fits_ddl
         |USING fits
         |OPTIONS (path '$res/test_file.fits', hdu '1')""".stripMargin)
    try {
      val n = spark.sql("SELECT COUNT(*) FROM fits_ddl").head.getLong(0)
      assert(n == 20000L)
      val first = spark.sql(
        "SELECT target FROM fits_ddl ORDER BY Index LIMIT 1").head.getString(0)
      assert(first == "NGC0000000")
    } finally spark.catalog.dropTempView("fits_ddl")
  }

  test("fixed bit-field (nX) column decodes as a raw byte blob, vectorized") {
    import FitsWriteSupport.{card, headerBlock, pad, quoted}
    val rowBytes = 4 + 2 // id J + 12X (2 bytes)
    val dir = java.nio.file.Files.createTempDirectory("fits-bits")
    val f = dir.resolve("x.fits").toFile
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    out.write(headerBlock(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
      card("NAXIS", "0"), pad("END", 80))))
    out.write(headerBlock(Seq(
      card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
      card("NAXIS2", "3"), card("PCOUNT", "0"), card("GCOUNT", "1"),
      card("TFIELDS", "2"),
      card("TTYPE1", quoted("id")), card("TFORM1", quoted("J")),
      card("TTYPE2", quoted("flags")), card("TFORM2", quoted("12X")),
      pad("END", 80))))
    (1 to 3).foreach { r =>
      out.writeInt(r)
      out.writeByte(r * 16 + 1); out.writeByte(0xA0 + r)
    }
    out.write(new Array[Byte]((2880 - 3 * rowBytes % 2880) % 2880))
    out.close()
    val df = fits(f.toString)
    assert(df.schema("flags").dataType.simpleString == "array<binary>")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val rows = df.orderBy("id").collect()
    val blobs = rows.map(_.getSeq[Array[Byte]](1))
    assert(blobs.forall(_.length == 1))
    assert(blobs.map(_.head.toList).toSeq == Seq(
      List(0x11.toByte, 0xA1.toByte), List(0x21.toByte, 0xA2.toByte),
      List(0x31.toByte, 0xA3.toByte)))
  }

  test("complex C/M columns decode as interleaved [re, im] float pairs") {
    import FitsWriteSupport.{card, headerBlock, pad, quoted}
    // hand-built bintable: id J, vis C (scalar complex), spec 2M
    val rowBytes = 4 + 8 + 32
    val dir = java.nio.file.Files.createTempDirectory("fits-cplx")
    val f = dir.resolve("c.fits").toFile
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    out.write(headerBlock(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
      card("NAXIS", "0"), pad("END", 80))))
    out.write(headerBlock(Seq(
      card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
      card("NAXIS2", "3"), card("PCOUNT", "0"), card("GCOUNT", "1"),
      card("TFIELDS", "3"),
      card("TTYPE1", quoted("id")), card("TFORM1", quoted("J")),
      card("TTYPE2", quoted("vis")), card("TFORM2", quoted("C")),
      card("TTYPE3", quoted("spec")), card("TFORM3", quoted("2M")),
      pad("END", 80))))
    (1 to 3).foreach { r =>
      out.writeInt(r)
      out.writeFloat(r * 1.5f); out.writeFloat(-r * 0.5f) // vis re, im
      (0 until 2).foreach { j => // spec: 2 complex doubles
        out.writeDouble(r * 10.0 + j); out.writeDouble(-(r * 10.0 + j))
      }
    }
    val dataLen = 3 * rowBytes
    out.write(new Array[Byte]((2880 - dataLen % 2880) % 2880))
    out.close()
    val df = fits(f.toString)
    assert(df.schema.map(x => (x.name, x.dataType.simpleString)) == Seq(
      "id" -> "int", "vis" -> "array<float>", "spec" -> "array<double>"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getSeq[Float](1).toList).toSeq == Seq(
      List(1.5f, -0.5f), List(3.0f, -1.0f), List(4.5f, -1.5f)))
    assert(rows.head.getSeq[Double](2).toList ==
      List(10.0, -10.0, 11.0, -11.0))
  }

  test("ordering is file order within a file (golden first rows)") {
    val targets = fits(s"$res/test_file.fits").select("target", "Index")
      .limit(3).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(targets.head == ("NGC0000000", 0L))
  }

  private def withMaxPartitionBytes[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, old)
  }
}
