package graft.operators

import graft.SparkTestBase
import graft.sources.fits.RefFixtures

class MultimodalSpec extends SparkTestBase {

  private val imgFixture = s"${RefFixtures.root}/dirIm/0_i_am_not_empty.fits"

  test("FITS image lines round-trip through the media model (real path)") {
    val media = Multimodal.fitsImagesAsMedia(spark, imgFixture, hdu = 2)
    val rows = media.collect()
    assert(rows.length == 155)
    assert(rows.forall(_.payload.length == 73 * 2))
    // decode must reproduce the connector's pixel values
    val viaMedia = Multimodal.decode(rows.minBy(_.media_id))
    val direct = spark.read.format("fits").option("hdu", 2).load(imgFixture)
      .orderBy("ImgIndex").first().getSeq[Short](0).map(_.toDouble)
    assert(viaMedia.toSeq == direct)
  }

  test("feature extraction is a single no-shuffle partition pass") {
    val media = Multimodal.fitsImagesAsMedia(spark, imgFixture, hdu = 2)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 155)
    val f = feats.collect().minBy(_.media_id)
    assert(f.n_px == 73)
    assert(f.px_min <= f.px_mean && f.px_mean <= f.px_max)
    assert(f.px_std >= 0)
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("downsample and frame-sample primitives") {
    val px = Array.tabulate(12)(_.toDouble)
    assert(Multimodal.downsample(px, 4).toSeq == Seq(1.5, 5.5, 9.5))
    assert(Multimodal.frameSample(px, 5).toSeq == Seq(0.0, 5.0, 10.0))
  }

  test("image reassembly: ordered lines rebuild the full cube (B23)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("fits").option("hdu", 2).load(imgFixture)
    // distributed reassembly: sort-by-index inside the aggregation, no
    // driver-side glom (replaces the reference's coalesce(1).glom())
    val rebuilt = df
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("ImgIndex"), col("Image")))),
        s => s.getField("Image"))).as("px"))
      .collect().head.getSeq[Short](0)
    assert(rebuilt.length == 73 * 31 * 5)
    // spot-check against the connector's own ordered rows
    val direct = df.orderBy("ImgIndex").collect()
      .flatMap(_.getSeq[Short](0)).toSeq
    assert(rebuilt == direct)
  }

  test("full image loop: FITS read -> transform -> image write-back") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("fits").option("hdu", 2).load(imgFixture)
    // a pixel transform (contrast stretch ×2) over the lines, written
    // back as a REAL image HDU and re-read through the same source
    val out = java.nio.file.Files
      .createTempDirectory("mm-imgloop").toString + "/stretched"
    df.orderBy("ImgIndex")
      .select(col("ImgIndex"),
        transform(col("Image"), p => (p * 2).cast("smallint")).as("Image"))
      .coalesce(1).sortWithinPartitions("ImgIndex")
      .write.format("fits").option("image", true).mode("append").save(out)
    val back = spark.read.format("fits").option("hdu", 0).load(out)
    assert(back.count() == df.count())
    val a = df.orderBy("ImgIndex").collect()
      .flatMap(_.getSeq[Short](0)).map(p => (p * 2).toShort).toSeq
    val b = back.orderBy("ImgIndex").collect()
      .flatMap(_.getSeq[Short](0)).toSeq
    assert(a == b)
  }

  test("mm_features is deterministic, integer-exact, batch-shaped") {
    val df = Multimodal.mm_features(spark, sf0001)
    val a = df.collect()
    val b = Multimodal.mm_features(spark, sf0001).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    // integer-exact contract: px_sum recovered from mean*n must equal
    // a direct big-endian int16 sum over the same text bytes
    val doc = graft.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").orderBy("doc_id").first()
    val bytes = doc.getString(1).getBytes("UTF-8")
    val expected = (0 until bytes.length / 2).map(i =>
      (((bytes(2 * i) & 0xff) << 8) | (bytes(2 * i + 1) & 0xff)).toLong).sum
    val row = a.find(_.getLong(0) == doc.getLong(0)).get
    assert(row.getLong(4) == expected)
  }

  test("fake codec path (kinds with no in-JVM codec) is deterministic") {
    val r = Multimodal.MediaRow(7L, "video-fake", Array[Byte](1, 2, 3), 3, 1, 8)
    val a = Multimodal.decode(r).toSeq
    assert(a == Multimodal.decode(r).toSeq)
    assert(a.nonEmpty && a.forall(v => v >= 0 && v <= 0xffff))
  }

  test("png codec: real ImageIO round-trip is lossless, any geometry") {
    val rnd = new scala.util.Random(3)
    for ((w, h) <- Seq((1, 1), (7, 3), (64, 1), (1, 64), (33, 17))) {
      val bytes = Array.fill((w * h))(rnd.nextInt(256).toByte)
      val row = Multimodal.MediaRow(1L, "png",
        Multimodal.encodePng(bytes, w, h), w, h, 8)
      val px = Multimodal.decode(row)
      assert(px.length == w * h)
      assert(px.toSeq == bytes.map(b => (b & 0xff).toDouble).toSeq,
        s"png $w x $h")
    }
  }

  test("wav codec: real javax.sound PCM16 round-trip is lossless") {
    val rnd = new scala.util.Random(4)
    val samples = Array.fill(777)((rnd.nextInt(1 << 16) - (1 << 15)).toShort)
    val row = Multimodal.MediaRow(2L, "wav",
      Multimodal.encodeWavPcm16(samples), samples.length, 1, 16)
    val px = Multimodal.decode(row)
    assert(px.toSeq == samples.map(_.toDouble).toSeq)
  }

  test("wav SPI providers resolve — contended AudioSystem fallback unused") {
    // AudioSystem's per-call provider lookup goes through a `static
    // synchronized` JDK method; N concurrent scan tasks convoy on it
    // (r15: 0.8 s → 11.8 s at 10 tasks). The hot path must run on the
    // once-per-JVM cached SPI providers; this gate fails loudly if a
    // JVM change ever drops them back to the fallback.
    val (reader, writer) = Multimodal.wavIo
    assert(reader != null, "no WAVE AudioFileReader resolved via ServiceLoader")
    assert(writer != null, "no WAVE AudioFileWriter resolved via ServiceLoader")
  }

  test("jpeg codec: real ImageIO decode, bounded error (lossy by nature)") {
    // smooth gradient — the regime where JPEG's DCT quantization error
    // is small and bounded; equality is NOT the contract here
    val (w, h) = (32, 24)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, 40 + 3 * x + 2 * y)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val row = Multimodal.MediaRow(3L, "jpeg", bos.toByteArray, w, h, 8)
    val px = Multimodal.decode(row)
    assert(px.length == w * h)
    val maxErr = px.zipWithIndex.map { case (v, i) =>
      math.abs(v - (40 + 3 * (i % w) + 2 * (i / w)))
    }.max
    assert(maxErr <= 16, s"jpeg maxErr $maxErr")
    // decode is deterministic for a fixed payload
    assert(px.toSeq == Multimodal.decode(row).toSeq)
  }

  test("encodeJpeg q1.0: uniform gray images round-trip bit-exactly") {
    // the mm_jpeg_planted contract: DC-only images survive the full
    // real DCT → quantize → entropy-code → decode loop with zero error
    // at quality 1.0 (all-ones scaled quantization tables)
    for (v <- Seq(30, 77, 128, 199, 230); w <- Seq(32, 63, 97, 128)) {
      val b = Array.fill(w)(v.toByte)
      val px = Multimodal.decode(Multimodal.MediaRow(
        1L, "jpeg", Multimodal.encodeJpeg(b, w, 1, 1.0f), w, 1, 8))
      assert(px.length == w, s"geometry $w")
      assert(px.forall(_ == v.toDouble), s"uniform v=$v w=$w not exact")
    }
  }

  test("encodeJpeg q0.95: ASCII-noise rows decode within JpegTol") {
    // the mm_jpeg_features contract on its worst-case input class
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val w = 40 + rnd.nextInt(400)
      val b = Array.fill(w)((32 + rnd.nextInt(95)).toByte)
      val px = Multimodal.decode(Multimodal.MediaRow(
        2L, "jpeg", Multimodal.encodeJpeg(b, w, 1, 0.95f), w, 1, 8))
      assert(px.length == w, "jpeg must never change geometry")
      val worst = px.indices.map(i => math.abs(px(i) - (b(i) & 0xff))).max
      assert(worst <= Multimodal.JpegTol, s"err $worst > tol")
    }
  }

  test("encodeJpeg rejects inconsistent geometry") {
    intercept[IllegalArgumentException](
      Multimodal.encodeJpeg(Array[Byte](1, 2, 3), 2, 1, 1.0f))
  }

  test("undecodable payload for a real-codec kind fails loudly") {
    val bad = Multimodal.MediaRow(4L, "png", Array[Byte](1, 2, 3), 3, 1, 8)
    intercept[IllegalArgumentException](Multimodal.decode(bad))
  }

  test("mm_downsample: factor-4 block means are exact, short media drop") {
    // "ABCDEFGH" → int16 pixels (0x4142, 0x4344, 0x4546, 0x4748) =
    // (16706, 17220, 17734, 18248); one block, mean = 69908/4 = 17477.0
    // exactly (a /4 of an int is an exact binary double — the property
    // the driver-hash determinism of this key rests on).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mmds").toString
    Seq((1L, "ABCDEFGH"), (2L, "ABCDEF" /* 3 px < 1 block → dropped */))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.mm_downsample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 1L, 17477.0, 17477.0, 17477.0)), out.toSeq)
  }

  test("mm_jpeg_features: docs past the ImageIO 65500-px width ceiling " +
    "are chunked, features aggregate per doc") {
    // r14 advice: width = doc byte length broke loudly above 65500.
    // 150001 bytes = 2 full 60000-px chunks + a 30001-px tail; the key
    // must emit ONE row per doc with n_px = total byte count and the
    // tolerance certificate spanning every chunk. The short doc pins
    // the ≤-one-chunk path (bit-identical to the pre-chunking shape).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val big = Array.fill(150001)((32 + rnd.nextInt(95)).toChar).mkString
    val dir = java.nio.file.Files.createTempDirectory("mmjpeg").toString
    Seq((1L, big), (2L, "short doc"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.mm_jpeg_features(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((1L, 150001L, true), (2L, 9L, true)), out.toSeq)
  }
}
