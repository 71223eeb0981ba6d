package graft.sources.fits

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.ByteBuffer
import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.fits.core.{HCompress, Rice, TileCodec}

/** Tile-compressed image support (ZIMAGE / fpack convention):
  * RICE_1 decode against hand-derived bitstreams from the published
  * spec, encode↔decode properties, and full-source reads of
  * hand-built .fz-style files for every supported codec. */
class FitsCompressedSpec extends SparkTestBase {

  // ------------------------------------------------------- RICE_1 unit

  test("RICE_1 decode: hand-derived low-entropy stream (all-equal block)") {
    // bytepix=1 → fsbits=3. Raw first pixel 5, then one block with
    // F=000 (fs=-1): every difference is zero.
    val comp = Array[Byte](5, 0x00)
    assert(Rice.decode(comp, 4, 1).toSeq == Seq[Byte](5, 5, 5, 5))
  }

  test("RICE_1 decode: hand-derived Golomb-Rice stream (fs=1)") {
    // pixels [10, 12, 9, 9], bytepix=1. Differences from lastpix=10:
    // [0, +2, -3, 0] → zig-zag [0, 4, 5, 0]. With fs=1 the bit stream
    // after the raw first byte is:
    //   F=fs+1=2     → 010
    //   zz=0: top=0  → 1, low=0       → 10
    //   zz=4: top=2  → 001, low=0     → 0010
    //   zz=5: top=2  → 001, low=1     → 0011
    //   zz=0: top=0  → 1, low=0       → 10
    // = 010 10 0010 0011 10 → bytes 0x51 0x1C (zero-padded).
    val comp = Array[Byte](10, 0x51, 0x1C)
    assert(Rice.decode(comp, 4, 1).toSeq == Seq[Byte](10, 12, 9, 9))
  }

  test("RICE_1 decode: hand-derived 16-bit foreign stream (fsbits=4)") {
    // Worked example derived from the convention text alone (registered
    // tiled-image convention §5.1 / Pence, White & Seaman 2009) — these
    // bytes were penciled out bit-by-bit, NOT produced by this engine's
    // encoder. Pixels [1000, 1002, 999, 999, 1000], bytepix=2 → raw
    // first pixel 0x03E8, diffs [0,+2,−3,0,+1] → zig-zag [0,4,5,0,2].
    // fs=1: F=2 → 0010, then 10 | 0010 | 0011 | 10 | 010, zero-padded:
    //   00101000 10001110 01000000 = 0x28 0x8E 0x40.
    val comp = Array[Byte](0x03, 0xE8.toByte, 0x28, 0x8E.toByte, 0x40)
    assert(Rice.decode(comp, 5, 2).toSeq ==
      shortTile(1000, 1002, 999, 999, 1000).toSeq)
    // and the same foreign bytes read through the full source
    val p = Files.createTempFile("graft-rice-foreign", ".fits").toString
    writeFz(p, "RICE_1", 16, 5, Seq((comp, null: Array[Byte])),
      withGzCol = false)
    try {
      val r = spark.read.format("fits").option("hdu", 1).load(p)
        .orderBy("ImgIndex").collect()
      assert(r.length == 1 &&
        r(0).getSeq[Short](0) == Seq[Short](1000, 1002, 999, 999, 1000))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("GZIP_2 decode: hand-assembled foreign gzip stream (stored block)") {
    // A foreign GZIP_2 tile assembled byte-by-byte from RFC 1952/1951
    // and the convention's byte-plane shuffle — no Deflater involved,
    // so nothing about these bytes came from this engine's encoder.
    // Pixels int16 [258, 772] → big-endian [01 02 03 04]; shuffle
    // (all MSBs first, then LSBs) → planes [01 03 | 02 04]; wrap in a
    // gzip member whose single DEFLATE block is STORED (BFINAL=1,
    // BTYPE=00, LEN=4): CRC32(01 03 02 04) = 0xAEE5A0BB, ISIZE=4.
    val comp = Array(
      0x1f, 0x8b, 0x08, 0x00, // gzip magic, CM=deflate, FLG=0
      0x00, 0x00, 0x00, 0x00, // MTIME=0
      0x00, 0xff, // XFL=0, OS=unknown
      0x01, 0x04, 0x00, 0xfb, 0xff, // stored block: final, LEN=4, NLEN
      0x01, 0x03, 0x02, 0x04, // the shuffled byte planes, verbatim
      0xbb, 0xa0, 0xe5, 0xae, // CRC32 little-endian
      0x04, 0x00, 0x00, 0x00 // ISIZE=4
    ).map(_.toByte)
    assert(TileCodec.decompress("GZIP_2", comp, 2, 2, 32).toSeq ==
      shortTile(258, 772).toSeq)
    // and through the full source
    val p = Files.createTempFile("graft-gz2-foreign", ".fits").toString
    writeFz(p, "GZIP_2", 16, 2, Seq((comp, null: Array[Byte])),
      withGzCol = false)
    try {
      val r = spark.read.format("fits").option("hdu", 1).load(p)
        .orderBy("ImgIndex").collect()
      assert(r.length == 1 && r(0).getSeq[Short](0) == Seq[Short](258, 772))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("GZIP_1 decode: hand-assembled foreign gzip stream (stored block)") {
    // GZIP_1 twin of the GZIP_2 gate above — same RFC 1952/1951
    // hand-assembly, but the payload is the UNSHUFFLED big-endian
    // pixel bytes [01 02 03 04] (int16 [258, 772]); CRC32 = 0xB63CFBCD.
    // With this, every supported codec (RICE_1, GZIP_1, GZIP_2,
    // HCOMPRESS_1) has a decoder gate whose bytes this engine never
    // produced.
    val comp = Array(
      0x1f, 0x8b, 0x08, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff,
      0x01, 0x04, 0x00, 0xfb, 0xff,
      0x01, 0x02, 0x03, 0x04,
      0xcd, 0xfb, 0x3c, 0xb6, // CRC32 little-endian
      0x04, 0x00, 0x00, 0x00
    ).map(_.toByte)
    assert(TileCodec.decompress("GZIP_1", comp, 2, 2, 32).toSeq ==
      shortTile(258, 772).toSeq)
    val p = Files.createTempFile("graft-gz1-foreign", ".fits").toString
    writeFz(p, "GZIP_1", 16, 2, Seq((comp, null: Array[Byte])),
      withGzCol = false)
    try {
      val r = spark.read.format("fits").option("hdu", 1).load(p)
        .orderBy("ImgIndex").collect()
      assert(r.length == 1 && r(0).getSeq[Short](0) == Seq[Short](258, 772))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("RICE_1 encode/decode round-trips across bytepix and extremes") {
    val rnd = new scala.util.Random(7)
    for (bytepix <- Seq(1, 2, 4); n <- Seq(1, 31, 32, 33, 257)) {
      val tile = new Array[Byte](n * bytepix)
      rnd.nextBytes(tile)
      // sprinkle flat runs and extremes: exercises all three block modes
      java.util.Arrays.fill(tile, 0, math.min(tile.length, bytepix * 8), 3.toByte)
      assert(Rice.decode(Rice.encode(tile, bytepix), n, bytepix)
        .toSeq == tile.toSeq, s"bytepix=$bytepix n=$n")
    }
    // wraparound: Int.MinValue / MaxValue adjacent (max zig-zag diffs)
    val extreme = ByteBuffer.allocate(16)
      .putInt(Int.MinValue).putInt(Int.MaxValue)
      .putInt(0).putInt(-1).array()
    assert(Rice.decode(Rice.encode(extreme, 4), 4, 4).toSeq == extreme.toSeq)
    // empty tile
    assert(Rice.decode(Rice.encode(Array.emptyByteArray, 2), 0, 2).isEmpty)
  }

  test("GZIP_2 byte-plane shuffle round-trips and transposes planes") {
    val raw = Array[Byte](1, 2, 3, 4, 5, 6) // 3 pixels × bytepix 2
    assert(TileCodec.shuffle(raw, 2).toSeq == Seq[Byte](1, 3, 5, 2, 4, 6))
    assert(TileCodec.unshuffle(TileCodec.shuffle(raw, 2), 2).toSeq == raw.toSeq)
  }

  // ------------------------------------------------- full-source reads

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def card(k: String, v: String): String =
    pad(pad(k, 8) + "= " + (if (v.length < 20) pad(v, 20) else v), 80)
  private def block(cards: Seq[String]): Array[Byte] = {
    val s = cards.mkString
    (s + " " * (2880 - s.length % 2880)).getBytes("US-ASCII")
  }

  /** Builds a ZIMAGE bintable: one tile per image row. `rows` holds
    * per-tile (compressedOrNull, gzipFallbackOrNull) heap payloads. */
  private def writeFz(path: String, cmp: String, zbitpix: Int, width: Int,
      rows: Seq[(Array[Byte], Array[Byte])], withGzCol: Boolean,
      extraCards: Seq[String] = Nil): Unit = {
    val rowBytes = if (withGzCol) 16 else 8
    val heap = new java.io.ByteArrayOutputStream()
    val descs = rows.map { case (cd, gz) =>
      val cdD = (if (cd == null) 0 else cd.length, heap.size)
      if (cd != null) heap.write(cd)
      val gzD = (if (gz == null) 0 else gz.length, heap.size)
      if (gz != null) heap.write(gz)
      (cdD, gzD)
    }
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      out.write(block(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80))))
      val gzCards = if (withGzCol)
        Seq(card("TTYPE2", "'GZIP_COMPRESSED_DATA'"),
          card("TFORM2", "'1PB     '")) else Nil
      out.write(block(Seq(
        card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
        card("NAXIS2", rows.length.toString),
        card("PCOUNT", heap.size.toString), card("GCOUNT", "1"),
        card("TFIELDS", if (withGzCol) "2" else "1"),
        card("TTYPE1", "'COMPRESSED_DATA'"), card("TFORM1", "'1PB     '"),
        card("ZIMAGE", "T"), card("ZCMPTYPE", s"'$cmp'"),
        card("ZBITPIX", zbitpix.toString), card("ZNAXIS", "2"),
        card("ZNAXIS1", width.toString),
        card("ZNAXIS2", rows.length.toString),
        card("ZTILE1", width.toString), card("ZTILE2", "1"),
        card("ZNAME1", "'BLOCKSIZE'"), card("ZVAL1", "32"),
        card("ZNAME2", "'BYTEPIX '"),
        card("ZVAL2", (math.abs(zbitpix) / 8).toString)) ++
        extraCards ++ gzCards :+ pad("END", 80)))
      descs.foreach { case ((cdLen, cdOff), (gzLen, gzOff)) =>
        out.writeInt(cdLen); out.writeInt(cdOff)
        if (withGzCol) { out.writeInt(gzLen); out.writeInt(gzOff) }
      }
      out.write(heap.toByteArray)
      val dataLen = rowBytes.toLong * rows.length + heap.size
      out.write(new Array[Byte](
        ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
    } finally out.close()
  }

  private def shortTile(vals: Short*): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 2)
    vals.foreach(bb.putShort)
    bb.array()
  }

  test("RICE_1 16-bit compressed image reads as (Image, ImgIndex) lines") {
    val width = 8
    val lines = (0 until 6).map(r =>
      (0 until width).map(c => (100 * r + c * (if (c % 3 == 0) -7 else 13)).toShort))
    val p = Files.createTempFile("graft-rice", ".fits").toString
    writeFz(p, "RICE_1", 16, width,
      lines.map(l => (TileCodec.compress("RICE_1", shortTile(l: _*), 2, 32),
        null: Array[Byte])), withGzCol = false)
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
        Seq("Image" -> "array<smallint>", "ImgIndex" -> "bigint"))
      val rows = df.orderBy("ImgIndex").collect()
      assert(rows.length == 6)
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i)
        assert(r.getSeq[Short](0) == lines(i), s"line $i")
      }
      // column pruning: ImgIndex-only projection never touches the heap
      assert(df.select("ImgIndex").collect().map(_.getLong(0)).sorted.toSeq
        == (0L until 6L))
      // zero-column projection (constant select) through the columnar
      // path: an empty vector set must still emit the right row count
      assert(df.select(org.apache.spark.sql.functions.lit(7))
        .collect().map(_.getInt(0)).toSeq == Seq.fill(6)(7))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("GZIP_1 float image and GZIP_2 int image decode exactly") {
    val width = 5
    val fl = (0 until 4).map(r => (0 until width).map(c => r * 1.5f - c / 3.0f))
    def floatTile(vs: Seq[Float]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * 4); vs.foreach(bb.putFloat)
      bb.array()
    }
    val p1 = Files.createTempFile("graft-gz1", ".fits").toString
    writeFz(p1, "GZIP_1", -32, width,
      fl.map(l => (TileCodec.gzip(floatTile(l)), null: Array[Byte])),
      withGzCol = false)
    val iv = (0 until 3).map(r => (0 until width).map(c => r * 1000000 - c * 77))
    def intTile(vs: Seq[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * 4); vs.foreach(bb.putInt)
      bb.array()
    }
    val p2 = Files.createTempFile("graft-gz2", ".fits").toString
    writeFz(p2, "GZIP_2", 32, width,
      iv.map(l => (TileCodec.gzip(TileCodec.shuffle(intTile(l), 4)),
        null: Array[Byte])), withGzCol = false)
    try {
      val r1 = spark.read.format("fits").option("hdu", 1).load(p1)
        .orderBy("ImgIndex").collect()
      assert(r1.map(_.getSeq[Float](0)).toSeq == fl)
      val r2 = spark.read.format("fits").option("hdu", 1).load(p2)
        .orderBy("ImgIndex").collect()
      assert(r2.map(_.getSeq[Int](0)).toSeq == iv)
    } finally {
      Files.deleteIfExists(java.nio.file.Paths.get(p1))
      Files.deleteIfExists(java.nio.file.Paths.get(p2))
    }
  }

  test("unsigned-16 (BZERO=32768) RICE image decodes scaled on the columnar path") {
    // the most common archive shape: fpack'd unsigned 16-bit survey
    // image — stored signed shorts, physical = stored + 32768
    val width = 6
    val stored = (0 until 4).map(r =>
      (0 until width).map(c => (r * 1000 + c * 17 - 32768).toShort))
    val p = Files.createTempFile("graft-u16", ".fits").toString
    writeFz(p, "RICE_1", 16, width,
      stored.map(l => (TileCodec.compress("RICE_1", shortTile(l: _*), 2, 32),
        null: Array[Byte])), withGzCol = false,
      extraCards = Seq(card("BSCALE", "1"), card("BZERO", "32768")))
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.schema("Image").dataType.simpleString == "array<int>")
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      val got = df.orderBy("ImgIndex").collect()
        .map(_.getSeq[Int](0).toList).toSeq
      val want = stored.map(_.map(_ + 32768).toList)
      assert(got == want)
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("zero-length COMPRESSED_DATA falls back to GZIP_COMPRESSED_DATA") {
    val width = 4
    val lines = (0 until 3).map(r => (0 until width).map(c => (r * 10 + c).toShort))
    val rows = lines.zipWithIndex.map { case (l, i) =>
      val tile = shortTile(l: _*)
      if (i == 1) (null: Array[Byte], TileCodec.gzip(tile)) // fallback row
      else (TileCodec.compress("RICE_1", tile, 2, 32), null: Array[Byte])
    }
    val p = Files.createTempFile("graft-fallback", ".fits").toString
    writeFz(p, "RICE_1", 16, width, rows, withGzCol = true)
    try {
      val got = spark.read.format("fits").option("hdu", 1).load(p)
        .orderBy("ImgIndex").collect().map(_.getSeq[Short](0)).toSeq
      assert(got == lines)
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("RICE_1 image write round-trips; GZIP_2 floats round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val width = 64
    val src = (0 until 200).map(r =>
      (r.toLong, (0 until width).map(c =>
        (1000 * math.sin(r * 0.1) + c * 3 - (c % 7) * 11).toInt).toArray))
      .toDF("ImgIndex", "Image")
    val dir = Files.createTempDirectory("fits-zw").toString + "/rice"
    src.coalesce(2).write.format("fits")
      .option("image", true).option("compress", "RICE_1")
      .mode("append").save(dir)
    // on-disk shape: ZIMAGE bintable with a COMPRESSED_DATA column
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdr = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
    assert(hdr.grouped(80).exists(_.startsWith("ZIMAGE")))
    assert(hdr.contains("RICE_1"))
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .select(col("Image")).as[Array[Int]].collect()
    // two part files: compare as multisets of lines
    val want = src.select("Image").as[Array[Int]].collect()
    assert(back.map(_.mkString(",")).sorted.toSeq ==
      want.map(_.mkString(",")).sorted.toSeq)

    val fsrc = (0 until 40).map(r =>
      (0 until 16).map(c => r * 0.5f - c * 1.25f).toArray).toDF("Image")
    val fdir = Files.createTempDirectory("fits-zw").toString + "/gz2"
    fsrc.coalesce(1).write.format("fits")
      .option("image", true).option("compress", "GZIP_2")
      .mode("append").save(fdir)
    val fback = spark.read.format("fits").option("hdu", 1).load(fdir)
      .orderBy("ImgIndex").select(col("Image")).as[Array[Float]].collect()
    assert(fback.map(_.toSeq).toSeq ==
      fsrc.select("Image").as[Array[Float]].collect().map(_.toSeq).toSeq)
  }

  test("compressTile option writes fpack -t 2D tiles that round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val width = 13
    val src = (0 until 57).map(r =>
      (r.toLong, (0 until width).map(c =>
        (r * 37 - c * 11 + (r * c) % 5).toInt).toArray))
      .toDF("ImgIndex", "Image")
    val dir = Files.createTempDirectory("fits-zw2d").toString + "/t2d"
    src.coalesce(1).write.format("fits")
      .option("image", true).option("compress", "RICE_1")
      .option("compressTile", "5x4")
      .mode("append").save(dir)
    // on-disk: ZTILE cards declare the 2D grid (5x4 over 13x57 →
    // 3x15 tiles with exact edges)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdr = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
    val cards = hdr.grouped(80).map(_.trim).toSeq
    assert(cards.exists(c => c.startsWith("ZTILE1") && c.contains("5")), hdr)
    assert(cards.exists(c => c.startsWith("ZTILE2") && c.contains("4")), hdr)
    assert(cards.exists(c => c.startsWith("NAXIS2") && c.contains("45")),
      "table must hold 3x15 = 45 tiles")
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").select(col("Image")).as[Array[Int]].collect()
    assert(back.map(_.toSeq).toSeq ==
      src.select("Image").as[Array[Int]].collect().map(_.toSeq).toSeq)
    // contract: compressTile requires compress
    val e = intercept[Exception] {
      src.write.format("fits").option("image", true)
        .option("compressTile", "5x4").mode("append")
        .save(Files.createTempDirectory("fits-zw2d").toString + "/bad")
    }
    assert(e.getMessage.contains("compressTile"), e.getMessage)
  }

  test("compress option contract: image-mode only, RICE_1 integer only") {
    import spark.implicits._
    val dir1 = Files.createTempDirectory("fits-zw").toString + "/bad1"
    val e1 = intercept[Exception] {
      Seq((1L, "a")).toDF("id", "s").write.format("fits")
        .option("compress", "RICE_1").mode("append").save(dir1)
    }
    assert(e1.getMessage.contains("image-mode"), e1.getMessage)
    val dir2 = Files.createTempDirectory("fits-zw").toString + "/bad2"
    val e2 = intercept[Exception] {
      Seq((0 until 4).map(_.toFloat).toArray).toDF("Image")
        .write.format("fits").option("image", true)
        .option("compress", "RICE_1").mode("append").save(dir2)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e2).exists(_.contains("integer pixels only")), e2)
    val dir3 = Files.createTempDirectory("fits-zw").toString + "/bad3"
    val e3 = intercept[Exception] {
      Seq((0 until 4).toArray).toDF("Image")
        .write.format("fits").option("image", true)
        .option("compress", "PLIO_1").mode("append").save(dir3)
    }
    assert(e3.getMessage.contains("unsupported compress codec"), e3.getMessage)
    // HCOMPRESS is integer-only too (or quantized floats)
    val dir4 = Files.createTempDirectory("fits-zw").toString + "/bad4"
    val e4 = intercept[Exception] {
      Seq((0 until 4).map(_.toFloat).toArray).toDF("Image")
        .write.format("fits").option("image", true)
        .option("compress", "HCOMPRESS_1").mode("append").save(dir4)
    }
    assert(msgs(e4).exists(_.contains("integer pixels only")), e4)
    // hcompScale is HCOMPRESS-specific
    val dir5 = Files.createTempDirectory("fits-zw").toString + "/bad5"
    val e5 = intercept[Exception] {
      Seq((0 until 4).toArray).toDF("Image")
        .write.format("fits").option("image", true)
        .option("compress", "RICE_1").option("hcompScale", 4)
        .mode("append").save(dir5)
    }
    assert(msgs(e5).exists(_.contains("hcompScale")), e5)
  }

  test("compressed image split across many partitions reads exactly") {
    // 4000 tiles of 8 shorts; descriptor rows are 8 bytes, so a tiny
    // maxPartitionBytes forces many row-aligned slices — every slice
    // must pread its own tiles' heap spans independently
    val width = 8
    val lines = (0 until 4000).map(r =>
      (0 until width).map(c => ((r * 31 + c * 7) % 32768).toShort))
    val p = Files.createTempFile("graft-ricesplit", ".fits").toString
    writeFz(p, "RICE_1", 16, width,
      lines.map(l => (TileCodec.compress("RICE_1", shortTile(l: _*), 2, 32),
        null: Array[Byte])), withGzCol = false)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, (4 * 1024).toString) // ≈ 500 rows per slice
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.rdd.getNumPartitions > 4, df.rdd.getNumPartitions)
      val got = df.orderBy("ImgIndex").collect()
      assert(got.length == 4000)
      assert(got.zipWithIndex.forall { case (r, i) =>
        r.getLong(1) == i && r.getSeq[Short](0) == lines(i)
      })
    } finally {
      spark.conf.set(key, prev)
      Files.deleteIfExists(java.nio.file.Paths.get(p))
    }
  }

  test("compressed reads take the vectorized columnar path, 100+ MB/s") {
    // 16000 tiles × 512 shorts ≈ 16 MB decompressed: big enough that
    // decode dominates the fixed per-job scheduling overhead
    val width = 512
    val lines = (0 until 16000).map(r =>
      (0 until width).map(c => ((r * 31 + c * 7) % 4096).toShort))
    val p = Files.createTempFile("graft-ricevec", ".fits").toString
    writeFz(p, "RICE_1", 16, width,
      lines.map(l => (TileCodec.compress("RICE_1", shortTile(l: _*), 2, 32),
        null: Array[Byte])), withGzCol = false)
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      // vectorized: the scan feeds ColumnarToRow like the parquet reader
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"), plan)
      val got = df.orderBy("ImgIndex").collect()
      assert(got.length == 16000)
      assert(got.zipWithIndex.forall { case (r, i) =>
        r.getLong(1) == i && r.getSeq[Short](0) == lines(i) })
      // throughput of the scan+decode itself: sum(size(Image)) forces
      // every tile through decompress + vector fill + ColumnarToRow but
      // keeps downstream eval trivial (aggregate() compiles, but its
      // per-pixel loop would still add to the clock; a collect() would
      // time driver-side boxing). Best-of-3 — a single
      // cold pass mostly measures job-scheduling overhead at this size
      val sumQ = df.selectExpr("size(Image) AS s")
      val expect = 16000L * width
      def run(): Long =
        sumQ.agg(org.apache.spark.sql.functions.sum("s")).collect()
          .head.getLong(0)
      assert(run() == expect)
      val dt = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min
      val mbs = 16000.0 * width * 2 / (1 << 20) / dt
      info(f"decompressed decode throughput: $mbs%.1f MB/s")
      assert(mbs > 20, f"suspiciously slow compressed decode: $mbs%.1f MB/s")
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("FitsFile facade reads tiles; hostile descriptor fails loudly") {
    val width = 8
    val lines = (0 until 4).map(r =>
      (0 until width).map(c => (r * 10 + c).toShort))
    val p = Files.createTempFile("graft-facade", ".fits").toString
    writeFz(p, "RICE_1", 16, width,
      lines.map(l => (TileCodec.compress("RICE_1", shortTile(l: _*), 2, 32),
        null: Array[Byte])), withGzCol = false)
    try {
      // happy path: the no-Spark facade decompresses the same tiles
      val f = FitsFile.open(s"file://$p", hdu = 1)
      val got = f.rows().toSeq.map(r => r.head.asInstanceOf[Seq[Short]])
      assert(got == lines)
      // hostile path: patch tile 0's descriptor count to 2^31-1 — the
      // facade must hit the same MaxVarElement guard as the connector
      // (pre-guard it attempted a ~2 GB allocation / bogus pread)
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
      val base = 2 * 2880 // first descriptor (count int32, offset int32)
      bytes(base) = 0x7f.toByte; bytes(base + 1) = 0xff.toByte
      bytes(base + 2) = 0xff.toByte; bytes(base + 3) = 0xff.toByte
      val patched = p.replace(".fits", "-bad.fits")
      Files.write(java.nio.file.Paths.get(patched), bytes)
      val fBad = FitsFile.open(s"file://$patched", hdu = 1)
      val e = intercept[IllegalArgumentException] { fBad.rows().toSeq }
      assert(e.getMessage.contains("corrupt tile descriptor"), e.getMessage)
      Files.deleteIfExists(java.nio.file.Paths.get(patched))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  /** Builds a genuinely 2D-tiled (fpack -t style) ZIMAGE: 16-bit image
    * of `width`×`height`, tiles `tileW`×`tileH` row-major, RICE_1. */
  private def write2dFz(path: String, img: Seq[Seq[Short]], tileW: Int,
      tileH: Int): Unit = write2dFzWithCards(path, img, tileW, tileH, Nil)

  private def write2dFzWithCards(path: String, img: Seq[Seq[Short]],
      tileW: Int, tileH: Int, extraCards: Seq[String]): Unit = {
    val height = img.length
    val width = img.head.length
    val nTileCols = (width + tileW - 1) / tileW
    val nTileRows = (height + tileH - 1) / tileH
    val heap = new java.io.ByteArrayOutputStream()
    val descs = (0 until nTileRows).flatMap { tr =>
      (0 until nTileCols).map { tc =>
        val tw = math.min(tileW, width - tc * tileW)
        val th = math.min(tileH, height - tr * tileH)
        val tile = ByteBuffer.allocate(tw * th * 2)
        for (r <- 0 until th; j <- 0 until tw)
          tile.putShort(img(tr * tileH + r)(tc * tileW + j))
        val comp = TileCodec.compress("RICE_1", tile.array(), 2, 32)
        val d = (comp.length, heap.size); heap.write(comp); d
      }
    }
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      out.write(block(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80))))
      out.write(block(Seq(
        card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", "8"),
        card("NAXIS2", descs.length.toString),
        card("PCOUNT", heap.size.toString), card("GCOUNT", "1"),
        card("TFIELDS", "1"),
        card("TTYPE1", "'COMPRESSED_DATA'"), card("TFORM1", "'1PB     '"),
        card("ZIMAGE", "T"), card("ZCMPTYPE", "'RICE_1'"),
        card("ZBITPIX", "16"), card("ZNAXIS", "2"),
        card("ZNAXIS1", width.toString), card("ZNAXIS2", height.toString),
        card("ZTILE1", tileW.toString), card("ZTILE2", tileH.toString),
        card("ZNAME1", "'BLOCKSIZE'"), card("ZVAL1", "32"),
        card("ZNAME2", "'BYTEPIX '"), card("ZVAL2", "2")) ++
        extraCards :+
        pad("END", 80)))
      descs.foreach { case (l, o) => out.writeInt(l); out.writeInt(o) }
      out.write(heap.toByteArray)
      val dataLen = 8L * descs.length + heap.size
      out.write(new Array[Byte](
        ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
    } finally out.close()
  }

  test("2D-tiled (fpack -t) RICE image reads as lines, edge tiles exact") {
    // 10×7 image, 4×3 tiles → tile grid 3×3 with narrower/shorter edges
    val img = (0 until 7).map(r =>
      (0 until 10).map(c => (r * 100 + c * 7 - 350).toShort))
    val p = Files.createTempFile("graft-2dtile", ".fits").toString
    write2dFz(p, img, tileW = 4, tileH = 3)
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
        Seq("Image" -> "array<smallint>", "ImgIndex" -> "bigint"))
      // COUNT(*) pushdown must answer in image LINES, not tile rows
      assert(df.count() == 7)
      val rows = df.orderBy("ImgIndex").collect()
      assert(rows.length == 7)
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i)
        assert(r.getSeq[Short](0) == img(i), s"line $i")
      }
      // LIMIT through the band-aligned planner
      assert(df.orderBy("ImgIndex").limit(4).collect().length == 4)
      // the no-Spark facade assembles the same lines
      val f = FitsFile.open(s"file://$p", hdu = 1)
      assert(f.nRows == 7)
      val got = f.rows().toSeq
      assert(got.map(_(1)) == (0L until 7L))
      assert(got.map(_.head.asInstanceOf[Seq[Short]]) == img)
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("2D-tiled image with BZERO scaling decodes unsigned values") {
    // scaled elements ride the same tile source path: physical =
    // stored + 32768 applied per element of each 2D tile
    val img = (0 until 5).map(r =>
      (0 until 7).map(c => (r * 500 + c * 3 - 32768).toShort))
    val p = Files.createTempFile("graft-2dscaled", ".fits").toString
    // reuse the 2D writer, then patch in BSCALE/BZERO cards via rebuild
    write2dFzWithCards(p, img, 3, 2,
      Seq(card("BSCALE", "1"), card("BZERO", "32768")))
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.schema("Image").dataType.simpleString == "array<int>")
      val got = df.orderBy("ImgIndex").collect()
        .map(_.getSeq[Int](0).toList).toSeq
      assert(got == img.map(_.map(_ + 32768).toList))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("2D-tiled image splits into band-aligned partitions and reads exactly") {
    // 8 wide × 60 high, 3×5 tiles → 20 bands; force tiny partitions so
    // several band-aligned slices must each pread their own tiles
    val img = (0 until 60).map(r =>
      (0 until 8).map(c => ((r * 31 + c * 7) % 32768).toShort))
    val p = Files.createTempFile("graft-2dsplit", ".fits").toString
    write2dFz(p, img, tileW = 3, tileH = 5)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, (160).toString) // 10 lines of 16 B → 2 bands/part
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.rdd.getNumPartitions > 2, df.rdd.getNumPartitions)
      val rows = df.orderBy("ImgIndex").collect()
      assert(rows.length == 60)
      assert(rows.zipWithIndex.forall { case (r, i) =>
        r.getLong(1) == i && r.getSeq[Short](0) == img(i)
      })
    } finally {
      spark.conf.set(key, prev)
      Files.deleteIfExists(java.nio.file.Paths.get(p))
    }
  }

  test("property: random 2D tilings round-trip exactly through the source") {
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 8) {
      val width = 1 + rnd.nextInt(23)
      val height = 1 + rnd.nextInt(19)
      val tileW = 1 + rnd.nextInt(width)
      val tileH = 1 + rnd.nextInt(height)
      val img = (0 until height).map(r =>
        (0 until width).map(c => (rnd.nextInt(65536) - 32768).toShort))
      val p = Files.createTempFile(s"graft-2dprop$trial", ".fits").toString
      write2dFz(p, img, tileW, tileH)
      try {
        val rows = spark.read.format("fits").option("hdu", 1).load(p)
          .orderBy("ImgIndex").collect()
        withClue(s"${width}x$height tiles ${tileW}x$tileH: ") {
          assert(rows.length == height)
          assert(rows.zipWithIndex.forall { case (r, i) =>
            r.getLong(1) == i && r.getSeq[Short](0) == img(i)
          })
        }
      } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
    }
  }

  test("NO_DITHER quantized floats reconstruct s*code+z per tile; ZBLANK -> NULL") {
    // per-line tiles; each tile row carries its own ZSCALE/ZZERO double
    // columns (the fpack layout); codes RICE-compressed int32
    val width = 6
    val nLines = 4
    val codes = (0 until nLines).map(r =>
      (0 until width).map(c => r * 100 + c * 13 - 250))
    val scales = (0 until nLines).map(r => 0.5 + r * 0.25)
    val zeros = (0 until nLines).map(r => r * 10.0)
    val blankCode = -999999
    val codesWithBlank = codes.updated(1, codes(1).updated(3, blankCode))
    val heap = new java.io.ByteArrayOutputStream()
    val descs = codesWithBlank.map { l =>
      val bb = ByteBuffer.allocate(width * 4)
      l.foreach(bb.putInt)
      val comp = TileCodec.compress("RICE_1", bb.array(), 4, 32)
      val d = (comp.length, heap.size); heap.write(comp); d
    }
    val p = Files.createTempFile("graft-quant", ".fits").toString
    val out = new DataOutputStream(new FileOutputStream(p))
    try {
      out.write(block(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80))))
      out.write(block(Seq(
        card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", "24"),
        card("NAXIS2", nLines.toString),
        card("PCOUNT", heap.size.toString), card("GCOUNT", "1"),
        card("TFIELDS", "3"),
        card("TTYPE1", "'COMPRESSED_DATA'"), card("TFORM1", "'1PB     '"),
        card("TTYPE2", "'ZSCALE  '"), card("TFORM2", "'D       '"),
        card("TTYPE3", "'ZZERO   '"), card("TFORM3", "'D       '"),
        card("ZIMAGE", "T"), card("ZCMPTYPE", "'RICE_1'"),
        card("ZBITPIX", "-32"), card("ZNAXIS", "2"),
        card("ZNAXIS1", width.toString), card("ZNAXIS2", nLines.toString),
        card("ZTILE1", width.toString), card("ZTILE2", "1"),
        card("ZQUANTIZ", "'NO_DITHER'"),
        card("ZBLANK", blankCode.toString),
        card("ZNAME1", "'BLOCKSIZE'"), card("ZVAL1", "32"),
        card("ZNAME2", "'BYTEPIX '"), card("ZVAL2", "4"),
        pad("END", 80))))
      descs.zipWithIndex.foreach { case ((l, o), r) =>
        out.writeInt(l); out.writeInt(o)
        out.writeDouble(scales(r)); out.writeDouble(zeros(r))
      }
      out.write(heap.toByteArray)
      val dataLen = 24L * nLines + heap.size
      out.write(new Array[Byte](
        ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
    } finally out.close()
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.schema("Image").dataType.simpleString == "array<float>")
      val rows = df.orderBy("ImgIndex").collect()
      assert(rows.length == nLines)
      for (r <- 0 until nLines; c <- 0 until width) {
        val cell = rows(r).getSeq[Any](0)(c)
        if (r == 1 && c == 3) assert(cell == null, "ZBLANK code must be NULL")
        else assert(cell == (scales(r) * codes(r)(c) + zeros(r)).toFloat,
          s"line $r col $c")
      }
      // the facade agrees
      val f = FitsFile.open(s"file://$p", hdu = 1)
      val line0 = f.rows().next().head.asInstanceOf[Seq[Any]]
      assert(line0 == (0 until width).map(c =>
        (scales(0) * codes(0)(c) + zeros(0)).toFloat))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("quantize option writes lossy float RICE tiles that read back within step/2") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val width = 32
    val q = 64.0
    val rnd = new scala.util.Random(5)
    // smooth signal + noise, one NaN planted
    val src = (0 until 40).map { r =>
      (r.toLong, (0 until width).map { c =>
        if (r == 3 && c == 7) Float.NaN
        else (math.sin(r * 0.2 + c * 0.1) * 100 + rnd.nextGaussian()).toFloat
      }.toArray)
    }
    val dir = Files.createTempDirectory("fits-quantw").toString + "/qf"
    src.toDF("ImgIndex", "Image").coalesce(1).write.format("fits")
      .option("image", true).option("compress", "RICE_1")
      .option("quantize", q).mode("append").save(dir)
    // on-disk: quantized layout cards present
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdr = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
    assert(hdr.contains("NO_DITHER") && hdr.contains("ZSCALE"), hdr)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").collect()
    assert(back.length == 40)
    for (r <- 0 until 40) {
      val line = back(r).getSeq[Any](0)
      // per-line tiles: bound = lineSigma/q/2 (the writer's step rule)
      val orig = src(r)._2
      val finite = orig.filter(v => !v.isNaN)
      val mean = finite.sum / finite.length
      val sigma = math.sqrt(
        finite.map(v => (v - mean) * (v - mean)).sum / finite.length)
      val bound = (if (sigma > 0) sigma / q else 1.0) / 2 + 1e-5
      for (c <- 0 until width) {
        val cell = line(c)
        if (orig(c).isNaN) assert(cell == null, s"NaN at $r/$c must be NULL")
        else {
          val err = math.abs(cell.asInstanceOf[Float] - orig(c))
          assert(err <= bound, s"line $r col $c: err $err > $bound")
        }
      }
    }
    // contract: quantize without compress fails; on integers fails
    val e1 = intercept[Exception] {
      src.toDF("ImgIndex", "Image").write.format("fits")
        .option("image", true).option("quantize", 4)
        .mode("append").save(dir + "-bad1")
    }
    assert(e1.getMessage.contains("quantize"), e1.getMessage)
  }

  test("dither RNG matches the convention's published sequence") {
    import graft.sources.fits.core.FitsDither
    // the golden final-seed (1043618065) require already ran at class
    // load — touching randValue here would have thrown otherwise; pin
    // the head of the sequence too (seed=1 Park-Miller: 16807/(2^31-1))
    assert(FitsDither.randValue.length == 10000)
    assert(math.abs(FitsDither.randValue(0) - 7.8263693e-6f) < 1e-11)
    assert(math.abs(FitsDither.randValue(1) - 0.13153778f) < 1e-7)
    // stream start rule: tile 1, seed 1 → iseed 0, first offset is
    // randValue[(int)(randValue[0]*500)]
    val s = new FitsDither.Stream(1, 1)
    val first = (FitsDither.randValue(0) * 500f).toInt
    assert(s.nextOffset() == FitsDither.randValue(first))
    // different tiles start at different points of the sequence
    val a = new FitsDither.Stream(1, 1).take(8).toSeq
    val b = new FitsDither.Stream(2, 1).take(8).toSeq
    assert(a != b)
    // seed participates the same way tile number does (N+ZDITHER0-2)
    assert(new FitsDither.Stream(3, 5).take(8).toSeq ==
      new FitsDither.Stream(5, 3).take(8).toSeq)
  }

  private def ditherRoundTrip(dir: String, dither: Int, seed: Int,
      tile2d: Option[String], plantZeros: Boolean): Unit = {
    import spark.implicits._
    val width = 32
    val q = 64.0
    val rnd = new scala.util.Random(7)
    val src = (0 until 40).map { r =>
      (r.toLong, (0 until width).map { c =>
        if (r == 3 && c == 7) Float.NaN
        else if (plantZeros && (r + c) % 5 == 0) 0f
        else (math.sin(r * 0.2 + c * 0.1) * 100 + rnd.nextGaussian()).toFloat
      }.toArray)
    }
    val w = src.toDF("ImgIndex", "Image").coalesce(1).write.format("fits")
      .option("image", true).option("compress", "RICE_1")
      .option("quantize", q).option("dither", dither)
      .option("ditherSeed", seed)
    tile2d.fold(w)(t => w.option("compressTile", t)).mode("append").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdr = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
    assert(hdr.contains(s"SUBTRACTIVE_DITHER_$dither"), hdr)
    assert(hdr.contains("ZDITHER0") && hdr.contains(s" $seed"), hdr)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").collect()
    assert(back.length == 40)
    // reread: dithered decode must be deterministic
    val back2 = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").collect()
    for (r <- 0 until 40) {
      val line = back(r).getSeq[Any](0)
      assert(line == back2(r).getSeq[Any](0), s"nondeterministic line $r")
      val orig = src(r)._2
      // whole-line tiles: bound from the line's own sigma; 2D tiles mix
      // rows, so fall back to a generous absolute bound (the signal's
      // sigma is ~70, step ≈ 1.1, so 2.0 still catches a wrong or
      // misaligned dither offset, which shifts values by O(step))
      val bound = tile2d match {
        case None =>
          val finite = orig.filter(v => !v.isNaN)
          val mean = finite.sum / finite.length
          val sigma = math.sqrt(
            finite.map(v => (v - mean) * (v - mean)).sum / finite.length)
          (if (sigma > 0) sigma / q else 1.0) / 2 + 1e-5
        case Some(_) => 2.0
      }
      for (c <- 0 until width) {
        val cell = line(c)
        if (orig(c).isNaN) assert(cell == null, s"NaN at $r/$c must be NULL")
        else if (dither == 2 && orig(c) == 0f)
          assert(cell.asInstanceOf[Float] == 0f,
            s"DITHER_2 zero at $r/$c read back ${cell}")
        else {
          val err = math.abs(cell.asInstanceOf[Float] - orig(c))
          assert(err <= bound, s"line $r col $c: err $err > $bound")
        }
      }
    }
  }

  test("SUBTRACTIVE_DITHER_1 round-trips within step/2, row and 2D tiles") {
    ditherRoundTrip(Files.createTempDirectory("fits-d1").toString + "/d1",
      dither = 1, seed = 42, tile2d = None, plantZeros = false)
    // 2D tiling exercises the row-major tile numbering on both sides:
    // a writer/reader disagreement on tile order shifts every tile's
    // dither stream and blows the error bound
    ditherRoundTrip(Files.createTempDirectory("fits-d1t").toString + "/d1t",
      dither = 1, seed = 9999, tile2d = Some("8x4"), plantZeros = false)
  }

  test("SUBTRACTIVE_DITHER_2 stores exact zeros losslessly") {
    ditherRoundTrip(Files.createTempDirectory("fits-d2").toString + "/d2",
      dither = 2, seed = 1, tile2d = None, plantZeros = true)
    // contract: dither without quantize fails loudly
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((0L, Array(1f, 2f))).toDF("ImgIndex", "Image").write.format("fits")
        .option("image", true).option("compress", "RICE_1")
        .option("dither", 1).mode("append").save(
          Files.createTempDirectory("fits-dbad").toString + "/bad")
    }
    assert(e.getMessage.contains("dither"), e.getMessage)
  }

  test("dithered file WITHOUT a ZDITHER0 seed degrades to the raw bintable") {
    // the seed is the decode key: absent ZDITHER0, nobody (cfitsio
    // included) can reconstruct the offsets, so decoding must not guess
    val tile = {
      val bb = ByteBuffer.allocate(16); (0 until 4).foreach(bb.putInt)
      TileCodec.compress("RICE_1", bb.array(), 4, 32)
    }
    val p = Files.createTempFile("graft-dither", ".fits").toString
    writeFz(p, "RICE_1", -32, 4, Seq((tile, null: Array[Byte])),
      withGzCol = false, extraCards = Seq(
        card("ZQUANTIZ", "'SUBTRACTIVE_DITHER_1'"),
        card("ZSCALE", "0.125"), card("ZZERO", "0")))
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.columns.toSeq == Seq("COMPRESSED_DATA")) // raw surface
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("unsupported variants degrade to the raw bintable, not an error") {
    val width = 4
    val tile = shortTile(1, 2, 3, 4)
    val p = Files.createTempFile("graft-lossy", ".fits").toString
    // lossy quantization marker (ZSCALE header) → raw bintable surface
    writeFz(p, "RICE_1", 16, width,
      Seq((TileCodec.compress("RICE_1", tile, 2, 32), null: Array[Byte])),
      withGzCol = false, extraCards = Seq(card("ZSCALE", "0.125")))
    val p2 = Files.createTempFile("graft-plio", ".fits").toString
    writeFz(p2, "PLIO_1", 16, width,
      Seq((tile, null: Array[Byte])), withGzCol = false)
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.columns.toSeq == Seq("COMPRESSED_DATA")) // raw table
      assert(df.count() == 1)
      val df2 = spark.read.format("fits").option("hdu", 1).load(p2)
      assert(df2.columns.toSeq == Seq("COMPRESSED_DATA"))
    } finally {
      Files.deleteIfExists(java.nio.file.Paths.get(p))
      Files.deleteIfExists(java.nio.file.Paths.get(p2))
    }
  }

  // ------------------------------------------------------- HCOMPRESS_1

  test("HCOMPRESS_1 image write round-trips exactly (default 16-row tiles)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val width = 48
    val src = (0 until 100).map(r =>
      (r.toLong, (0 until width).map(c =>
        (2000 * math.sin(r * 0.07) + c * 5 - (c % 9) * 13).toInt).toArray))
      .toDF("ImgIndex", "Image")
    val dir = Files.createTempDirectory("fits-hc").toString + "/hc"
    src.coalesce(2).write.format("fits")
      .option("image", true).option("compress", "HCOMPRESS_1")
      .mode("append").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdr = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
    val cards = hdr.grouped(80).map(_.trim).toSeq
    assert(hdr.contains("HCOMPRESS_1"), hdr)
    assert(cards.exists(c => c.startsWith("ZTILE2") && c.contains("16")),
      "HCOMPRESS defaults to 16-row 2-D tiles")
    assert(cards.exists(_.startsWith("ZNAME3")) &&
      cards.exists(c => c.startsWith("ZVAL4") && c.contains("0")),
      "SCALE/SMOOTH parameter cards present")
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .select(col("Image")).as[Array[Int]].collect()
    val want = src.select("Image").as[Array[Int]].collect()
    assert(back.map(_.mkString(",")).sorted.toSeq ==
      want.map(_.mkString(",")).sorted.toSeq)
  }

  test("HCOMPRESS_1 2D tiles round-trip; lossy hcompScale bounds the error") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val width = 29
    val src = (0 until 53).map(r =>
      (r.toLong, (0 until width).map(c =>
        500 + r * 3 + c * 2 + ((r * c) % 4)).toArray))
      .toDF("ImgIndex", "Image")
    val dir = Files.createTempDirectory("fits-hc2d").toString + "/exact"
    src.coalesce(1).write.format("fits")
      .option("image", true).option("compress", "HCOMPRESS_1")
      .option("compressTile", "7x5").mode("append").save(dir)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").select(col("Image")).as[Array[Int]].collect()
    val want = src.select("Image").as[Array[Int]].collect()
    assert(back.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)

    val scale = 8
    val ldir = Files.createTempDirectory("fits-hc2d").toString + "/lossy"
    src.coalesce(1).write.format("fits")
      .option("image", true).option("compress", "HCOMPRESS_1")
      .option("hcompScale", scale).mode("append").save(ldir)
    val lossy = spark.read.format("fits").option("hdu", 1).load(ldir)
      .orderBy("ImgIndex").select(col("Image")).as[Array[Int]].collect()
    val maxErr = lossy.zip(want).flatMap { case (l, w) =>
      l.zip(w).map { case (a, b) => math.abs(a - b) } }.max
    assert(maxErr > 0 && maxErr <= 2 * scale, s"maxErr $maxErr")
    // lossy file is smaller than the exact one
    def bytesOf(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".fits")).map(_.length()).sum
    assert(bytesOf(ldir) <= bytesOf(dir))
  }

  test("HCOMPRESS_1 quantized floats read back within step/2") {
    import spark.implicits._
    val width = 32
    val q = 64.0
    val rnd = new scala.util.Random(9)
    val src = (0 until 40).map { r =>
      (r.toLong, (0 until width).map { c =>
        (math.cos(r * 0.15 + c * 0.08) * 80 + rnd.nextGaussian()).toFloat
      }.toArray)
    }
    val dir = Files.createTempDirectory("fits-hcq").toString + "/qf"
    src.toDF("ImgIndex", "Image").coalesce(1).write.format("fits")
      .option("image", true).option("compress", "HCOMPRESS_1")
      .option("quantize", q).mode("append").save(dir)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").collect()
    assert(back.length == 40)
    // 16-row tile bands: the quantization step is derived per TILE, so
    // bound with the global max sigma across bands (safe upper bound)
    val sigmas = src.grouped(16).map { band =>
      val vals = band.flatMap(_._2.map(_.toDouble))
      val mean = vals.sum / vals.length
      math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.length)
    }.toSeq
    val bound = sigmas.max / q / 2 + 1e-5
    for (r <- 0 until 40) {
      val line = back(r).getSeq[Float](0)
      val orig = src(r)._2
      for (c <- 0 until width)
        assert(math.abs(line(c) - orig(c)) <= bound,
          s"line $r col $c: ${line(c)} vs ${orig(c)} bound $bound")
    }
  }

  test("lossy HCOMPRESS_1 decode clamps to the bytepix range (no int16 wrap)") {
    // pixels near Short.MaxValue at a lossy scale can reconstruct past
    // 32767; the decompress path clamps to the element range so the
    // error stays ~2*scale instead of a ~65536 two's-complement wrap
    val (w, h, scale) = (16, 16, 16)
    val rnd = new scala.util.Random(17)
    val pix = Array.tabulate(w * h)(_ => 32767 - rnd.nextInt(48))
    val tile = TileCodec.packBE(pix, 2)
    val comp = TileCodec.compress2D("HCOMPRESS_1", tile, 2, 32, w, h, scale)
    // witness: the raw decode really does overshoot the int16 ceiling,
    // so the clamp below is exercised, not vacuous
    assert(HCompress.decode(comp).pixels.max > Short.MaxValue)
    val back = TileCodec.unpackBE(
      TileCodec.decompress("HCOMPRESS_1", comp, w * h, 2, 32), 2)
    val maxErr = back.zip(pix).map { case (b, p) => math.abs(b - p) }.max
    assert(maxErr <= 2 * scale, s"maxErr $maxErr")
  }

  test("hand-built fz with HCOMPRESS_1 row tiles reads through the source") {
    // foreign-layout file: 1-row tiles (degenerate 1xN transform),
    // assembled by hand rather than by our writer
    import graft.sources.fits.core.HCompress
    val width = 16
    val lines = (0 until 9).map(r =>
      (0 until width).map(c => (r * 100 + c * c - 40)).toArray)
    val p = Files.createTempFile("graft-hcfz", ".fits").toString
    writeFz(p, "HCOMPRESS_1", 32, width,
      lines.map(l => (HCompress.encode(l, 1, width, 0), null: Array[Byte])),
      withGzCol = false, extraCards = Seq(
        card("ZNAME3", "'SCALE   '"), card("ZVAL3", "0"),
        card("ZNAME4", "'SMOOTH  '"), card("ZVAL4", "0")))
    try {
      val back = spark.read.format("fits").option("hdu", 1).load(p)
        .orderBy("ImgIndex").collect()
      assert(back.length == 9)
      for (r <- 0 until 9)
        assert(back(r).getSeq[Int](0).toSeq == lines(r).toSeq)
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("HCOMPRESS_1 nullable images: int16 nulls round-trip, int32 refuses") {
    import spark.implicits._
    // int16: the widened BLANK sentinel (-32768) is transform-safe
    val lines16: Seq[(Seq[Option[Short]], Long)] = (0 until 8).map { y =>
      (Seq.tabulate(16)(x =>
        if ((y + x) % 5 == 0) None
        else Some((y * 100 + x).toShort)), y.toLong)
    }
    val dir = Files.createTempDirectory("fits-hcnull").toString + "/i16"
    lines16.toDF("Image", "ImgIndex").coalesce(1)
      .write.format("fits").option("image", true)
      .option("compress", "HCOMPRESS_1").mode("append").save(dir)
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .orderBy("ImgIndex").collect()
    back.zipWithIndex.foreach { case (r, y) =>
      val got = r.getSeq[Any](0)
      (0 until 16).foreach { x =>
        val want: Any = if ((y + x) % 5 == 0) null else (y * 100 + x).toShort
        assert(got(x) == want, s"pixel ($y,$x)")
      }
    }
    // int32: the Int.MinValue sentinel cannot survive the transform —
    // the write must FAIL LOUDLY, never store silently-corrupt nulls
    val lines32: Seq[(Seq[Option[Int]], Long)] = (0 until 4).map { y =>
      (Seq.tabulate(8)(x =>
        if (x == y) None else Some(y * 10 + x)), y.toLong)
    }
    val dir2 = Files.createTempDirectory("fits-hcnull").toString + "/i32"
    val e = intercept[Exception] {
      lines32.toDF("Image", "ImgIndex").coalesce(1)
        .write.format("fits").option("image", true)
        .option("compress", "HCOMPRESS_1").mode("append").save(dir2)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("BLANK sentinel")), e)
  }

  test("HCOMPRESS_1 with SMOOTH != 0 decodes (lossless: exactly; no more degrade)") {
    // r12 degraded SMOOTH files to the raw bintable; the smoothed
    // reconstruction is now implemented, and for a LOSSLESS stream it
    // is a guaranteed no-op — so this foreign-layout file must decode
    // to the exact pixels
    val width = 4
    val stream = HCompress.encode(Array(1, 2, 3, 4), 1, width, 0)
    val p = Files.createTempFile("graft-hcsm", ".fits").toString
    writeFz(p, "HCOMPRESS_1", 32, width,
      Seq((stream, null: Array[Byte])), withGzCol = false,
      extraCards = Seq(
        card("ZNAME3", "'SCALE   '"), card("ZVAL3", "1"),
        card("ZNAME4", "'SMOOTH  '"), card("ZVAL4", "1")))
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      assert(df.columns.contains("Image"), df.columns.toSeq)
      val line = df.collect().head.getSeq[Int](df.columns.indexOf("Image"))
      assert(line == Seq(1, 2, 3, 4), line)
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("hcompSmooth write flag: SMOOTH=1 recorded and honored end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (width, scale) = (40, 8)
    val src = (0 until 64).map(r =>
      (r.toLong, (0 until width).map(c => 300 + r * 4 + c * 3).toArray))
      .toDF("ImgIndex", "Image")
    val base = Files.createTempDirectory("fits-hcsm").toString
    val sdir = base + "/smooth"
    val pdir = base + "/plain"
    for ((d, sm) <- Seq((sdir, true), (pdir, false)))
      src.coalesce(1).write.format("fits")
        .option("image", true).option("compress", "HCOMPRESS_1")
        .option("hcompScale", scale).option("hcompSmooth", sm)
        .mode("append").save(d)
    // the smooth dir's header records SMOOTH = 1
    val part = new java.io.File(sdir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val cards = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
      .grouped(80).map(_.trim).toSeq
    assert(cards.exists(c => c.startsWith("ZVAL4") && c.contains("1")), cards)
    def readBack(d: String): Array[Array[Int]] =
      spark.read.format("fits").option("hdu", 1).load(d)
        .orderBy("ImgIndex").select(col("Image")).as[Array[Int]].collect()
    val smooth = readBack(sdir)
    val plain = readBack(pdir)
    val want = src.orderBy("ImgIndex").select("Image").as[Array[Int]].collect()
    // bounded error either way; the flag actually changes the decode
    def maxErr(got: Array[Array[Int]]): Int = got.zip(want).flatMap {
      case (g, w) => g.zip(w).map { case (a, b) => math.abs(a - b) } }.max
    assert(maxErr(smooth) <= 2 * scale, s"smooth err ${maxErr(smooth)}")
    assert(maxErr(plain) <= 2 * scale, s"plain err ${maxErr(plain)}")
    assert(smooth.flatten.toSeq != plain.flatten.toSeq,
      "SMOOTH=1 did not change the lossy reconstruction")
    // hcompSmooth without a lossy scale is a refused no-op combination
    val e = intercept[Exception] {
      src.write.format("fits").option("image", true)
        .option("compress", "HCOMPRESS_1").option("hcompSmooth", true)
        .mode("append").save(base + "/bad")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("hcompSmooth")), e)
  }

  test("unbounded ImgIndex >= pushdown on a tile-compressed image (non-pow2 tileH)") {
    // a one-sided `>= x` folds to the run [x, Long.MaxValue]; the band
    // widening must clamp hi BEFORE multiplying by tileH or the product
    // wraps negative for any tileH not dividing 2^63 (here 12) and the
    // scan silently plans zero partitions
    val img = (0 until 30).map(r =>
      (0 until 6).map(c => (r * 50 + c * 3 - 700).toShort))
    val p = Files.createTempFile("graft-unbounded-ge", ".fits").toString
    write2dFz(p, img, tileW = 6, tileH = 12)
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(p)
      for ((pred, lo) <- Seq("ImgIndex >= 17" -> 17, "ImgIndex > 17" -> 18)) {
        val rows = df.filter(pred).orderBy("ImgIndex").collect()
        assert(rows.length == 30 - lo, s"$pred returned ${rows.length} rows")
        rows.zipWithIndex.foreach { case (r, i) =>
          assert(r.getLong(1) == lo + i)
          assert(r.getSeq[Short](0) == img(lo + i), s"line ${lo + i}")
        }
      }
      // two-sided range across a band edge still exact
      val mid = df.filter("ImgIndex >= 10 AND ImgIndex <= 13")
        .orderBy("ImgIndex").collect()
      assert(mid.map(_.getLong(1)).toSeq == Seq(10L, 11L, 12L, 13L))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }
}
