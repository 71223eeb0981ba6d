package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** TDIM multi-dimensional table columns (FITS 4.0 §7.3.2, beyond
  * reference — it ignores TDIM): `TDIMn = '(d1,d2,…)'` reshapes a
  * fixed repeat-count vector into a d1×d2×… array, first axis varying
  * fastest → Spark nested arrays with innermost run d1. Read side is
  * gated against a hand-built file (no writer involvement); the writer
  * emits TDIM for nested-array columns and the pair round-trips. */
class FitsTdimSpec extends SparkTestBase {
  import FitsWriteSupport.{card, headerBlock, pad, quoted}

  /** Hand-crafted single-HDU-pair FITS file: one `<repeat>J` column
    * carrying row-scoped values 100·r + k for k = 0 until repeat, with
    * the given TDIM card (or none) and any `extra` column-1 cards. */
  private def handBuilt(dir: String, tdim: Option[String],
      nRows: Int = 4, extra: Seq[String] = Nil, repeat: Int = 6): String = {
    val primary = headerBlock(Seq(card("SIMPLE", "T"),
      card("BITPIX", "8"), card("NAXIS", "0"), pad("END", 80)))
    val bt = headerBlock(Seq(
      card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", (4 * repeat).toString),
      card("NAXIS2", nRows.toString), card("PCOUNT", "0"),
      card("GCOUNT", "1"), card("TFIELDS", "1"),
      card("TTYPE1", quoted("mat")), card("TFORM1", quoted(s"${repeat}J"))) ++
      tdim.map(d => card("TDIM1", quoted(d))).toSeq ++ extra ++
      Seq(pad("END", 80)))
    val data = new java.io.ByteArrayOutputStream()
    val dd = new java.io.DataOutputStream(data)
    (0 until nRows).foreach(r => (0 until repeat).foreach(k =>
      dd.writeInt(100 * r + k)))
    val padded = data.toByteArray ++
      new Array[Byte]((2880 - data.size() % 2880) % 2880)
    val f = new java.io.File(dir, "hand.fits")
    f.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(f)
    try { out.write(primary); out.write(bt); out.write(padded) }
    finally out.close()
    f.toString
  }

  test("hand-built TDIM='(3,2)' reads as array<array<int>>, first axis fastest") {
    val dir = Files.createTempDirectory("fits-tdim").toString
    val path = handBuilt(dir, Some("(3,2)"))
    val df = spark.read.format("fits").option("hdu", 1).load(path)
    assert(df.schema("mat").dataType.simpleString == "array<array<int>>")
    val rows = df.select(col("mat")).collect()
    assert(rows.length == 4)
    rows.zipWithIndex.foreach { case (r, i) =>
      val mat = r.getAs[scala.collection.Seq[scala.collection.Seq[Int]]](0)
      // flat (f0..f5) with d1=3 fastest → [[f0,f1,f2],[f3,f4,f5]]
      assert(mat.map(_.toSeq) == Seq(
        Seq(100 * i, 100 * i + 1, 100 * i + 2),
        Seq(100 * i + 3, 100 * i + 4, 100 * i + 5)), s"row $i: $mat")
    }
    // the nested shape is queryable with plain Spark functions
    val picked = df.select(element_at(element_at(col("mat"), 2), 1))
      .collect().map(_.getInt(0)).sorted
    assert(picked.toSeq == Seq(3, 103, 203, 303))
  }

  test("hand-built TSCAL/TZERO-scaled TDIM column reads as nested doubles") {
    val dir = Files.createTempDirectory("fits-tdim").toString
    val scaling = Seq(card("TSCAL1", "0.5"), card("TZERO1", "10.0"))
    val path = handBuilt(dir, Some("(2,3)"), extra = scaling)
    val df = spark.read.format("fits").option("hdu", 1).load(path)
    assert(df.schema("mat").dataType.simpleString == "array<array<double>>")
    val rows = df.select(col("mat")).collect()
    assert(rows.length == 4)
    rows.zipWithIndex.foreach { case (r, i) =>
      val mat = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](0)
      // physical = 10 + 0.5 · stored; d1 = 2 fastest → 3 runs of 2
      val want = (0 until 6).map(k => 10.0 + 0.5 * (100 * i + k))
      assert(mat.map(_.toSeq) == want.grouped(2).toSeq, s"row $i: $mat")
    }
    // a scaled repeat-1 column with TDIM '(1,1)' nests its one element
    val one = spark.read.format("fits").option("hdu", 1).load(
      handBuilt(dir + "/one", Some("(1,1)"), extra = scaling, repeat = 1))
    assert(one.schema("mat").dataType.simpleString == "array<array<double>>")
    assert(one.select(col("mat")).collect().map(_.getAs[
      scala.collection.Seq[scala.collection.Seq[Double]]](0).map(_.toSeq))
      .toSeq == (0 until 4).map(i => Seq(Seq(10.0 + 50.0 * i))))
  }

  test("TDIM column selected with _row_index: ids and nested values align " +
      "across batches") {
    val dir = Files.createTempDirectory("fits-tdim").toString
    val n = 5000 // more than one 4096-row batch
    val path = handBuilt(dir, Some("(3,2)"), nRows = n)
    val rows = spark.read.format("fits").option("hdu", 1).load(path)
      .select(col("_row_index"), col("mat")).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until n))
    rows.foreach { r =>
      val i = r.getLong(0).toInt
      val mat = r.getAs[scala.collection.Seq[scala.collection.Seq[Int]]](1)
      assert(mat.map(_.toSeq) == Seq(
        Seq(100 * i, 100 * i + 1, 100 * i + 2),
        Seq(100 * i + 3, 100 * i + 4, 100 * i + 5)), s"row $i: $mat")
    }
  }

  test("TDIM whose product mismatches the repeat falls back to the flat vector") {
    val dir = Files.createTempDirectory("fits-tdim").toString
    val path = handBuilt(dir, Some("(4,2)")) // 8 != 6
    val df = spark.read.format("fits").option("hdu", 1).load(path)
    assert(df.schema("mat").dataType.simpleString == "array<int>")
    assert(df.select(col("mat")).head
      .getAs[scala.collection.Seq[Int]](0).toSeq == (0 to 5))
    // 1-D TDIM is equivalent to the flat form and stays flat
    val p1 = handBuilt(dir + "/one", Some("(6)"))
    assert(spark.read.format("fits").option("hdu", 1).load(p1)
      .schema("mat").dataType.simpleString == "array<int>")
  }

  test("writer round-trips nested arrays: TDIM card emitted, values exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-tdim").toString + "/rt"
    val src = (0 until 20).map { r =>
      (r.toLong, Array.tabulate(4)(j => Array.tabulate(3)(k =>
        (r * 100 + j * 10 + k).toLong)))
    }.toDF("id", "mat")
    src.coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
    assert(back.schema("mat").dataType.simpleString ==
      "array<array<bigint>>")
    // TDIM axis order: inner run 3 fastest, 4 outer → '(3,4)'
    val hdr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        new java.io.File(dir).listFiles().filter(_.getName.endsWith(".fits"))
          .head.toString)), "US-ASCII")
    assert(hdr.contains("TDIM1") || hdr.contains("TDIM2"), "TDIM card missing")
    assert(hdr.contains("(3,4)"), "TDIM shape wrong")
    val got = back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getAs[scala.collection.Seq[
        scala.collection.Seq[Long]]](1).map(_.toSeq).toSeq))
    val want = (0 until 20).map { r =>
      (r.toLong, Seq.tabulate(4)(j => Seq.tabulate(3)(k =>
        (r * 100 + j * 10 + k).toLong)))
    }
    assert(got.toSeq == want)
  }

  test("3-D nested arrays round-trip ('(2,3,2)' = 12 elements)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-tdim").toString + "/rt3"
    val src = (0 until 5).map { r =>
      (r.toLong, Array.tabulate(2)(a => Array.tabulate(3)(b =>
        Array.tabulate(2)(c => (r * 1000 + a * 100 + b * 10 + c)))))
    }.toDF("id", "cube")
    src.coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
    assert(back.schema("cube").dataType.simpleString ==
      "array<array<array<int>>>")
    val got = back.orderBy("id").collect().map(r =>
      r.getAs[scala.collection.Seq[scala.collection.Seq[
        scala.collection.Seq[Int]]]](1).map(_.map(_.toSeq).toSeq).toSeq)
    val want = (0 until 5).map { r =>
      Seq.tabulate(2)(a => Seq.tabulate(3)(b =>
        Seq.tabulate(2)(c => r * 1000 + a * 100 + b * 10 + c)))
    }
    assert(got.toSeq == want)
  }

  test("empty partitions of a nested-array write publish no file; the " +
      "directory reads back consistently in FAILFAST") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-tdim").toString + "/emptyp"
    // 2 rows across 8 partitions: most parts are empty; a 0-row part
    // would carry TFORM '0K' with no TDIM (flat schema) and poison the
    // multi-file union
    (0 until 2).map(r => (r.toLong,
      Array(Array(r * 10L, r * 10L + 1), Array(r * 10L + 2, r * 10L + 3))))
      .toDF("id", "mat")
      .repartition(8).write.format("fits").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits"))
    // only the parts that actually hold rows publish (2 rows → at most
    // 2 files, never the 8 the empty partitions would have added)
    assert(files.nonEmpty && files.length <= 2, files.mkString(","))
    val back = spark.read.format("fits").option("hdu", 1)
      .option("mode", "FAILFAST").load(dir)
    assert(back.schema("mat").dataType.simpleString ==
      "array<array<bigint>>")
    assert(back.count() == 2)
  }

  test("ALL-empty nested-array write stays readable: driver commits one " +
      "canonical 0-row part with a defaulted TDIM") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-tdim").toString + "/allempty"
    // every partition is empty → no task publishes; the driver-side
    // commit must still leave a readable 0-row part (flat schemas
    // already do) instead of an unreadable empty directory
    Seq.empty[(Long, Array[Array[Long]])].toDF("id", "mat")
      .repartition(4).write.format("fits").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits"))
    assert(files.length == 1, files.mkString(","))
    val back = spark.read.format("fits").option("hdu", 1)
      .option("mode", "FAILFAST").load(dir)
    assert(back.schema("mat").dataType.simpleString ==
      "array<array<bigint>>")
    assert(back.count() == 0)
  }

  test("empty INNER arrays fail loudly at write (TDIM axes must be positive)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-tdim").toString + "/zero"
    val src = Seq((0L, Array(Array.empty[Long], Array.empty[Long])))
      .toDF("id", "mat")
    val e = intercept[org.apache.spark.SparkException] {
      src.coalesce(1).write.format("fits").mode("overwrite").save(dir)
    }
    val msg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("positive") || msg.contains("empty innermost"), msg)
  }

  test("non-rectangular nested rows fail loudly at write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-tdim").toString + "/bad"
    val src = Seq(
      (0L, Array(Array(1L, 2L), Array(3L, 4L))),
      (1L, Array(Array(1L, 2L, 3L), Array(4L, 5L, 6L)))) // shape drifts
      .toDF("id", "mat")
    val e = intercept[org.apache.spark.SparkException] {
      src.coalesce(1).write.format("fits").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("rectangular") ||
      Option(e.getCause).exists(_.getMessage.contains("rectangular")),
      e.getMessage)
  }

  test("TNULL inside a TDIM column: null elements survive the round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fits-tdim").toString + "/nul"
    val src = Seq(
      (0L, Array(Array[java.lang.Long](1L, null), Array[java.lang.Long](3L, 4L))),
      (1L, Array(Array[java.lang.Long](5L, 6L), Array[java.lang.Long](null, 8L))))
      .toDF("id", "mat")
    src.coalesce(1).write.format("fits").mode("overwrite").save(dir)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("id").collect().map(r =>
        r.getAs[scala.collection.Seq[scala.collection.Seq[Any]]](1)
          .map(_.toSeq).toSeq)
    assert(back(0) == Seq(Seq(1L, null), Seq(3L, 4L)), back(0).toString)
    assert(back(1) == Seq(Seq(5L, 6L), Seq(null, 8L)), back(1).toString)
  }
}
