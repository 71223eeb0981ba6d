package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import java.security.MessageDigest

import graft.sources.fits.core.TileCodec

/** Byte-level FITS corpora for the scan_large and many_files workloads.
  *
  * The files are written here, card by card, not through the program's
  * FitsWriter, so a writer change cannot change what the read workloads
  * read. The one exception is the payload of the two tile-compressed
  * images, which comes from `TileCodec.compress2D`; their SHA-256 goes
  * into every result so a changed encoder is visible.
  *
  * Every value is a closed-form function of (table, row), so each op's
  * expected answer is computed from the formulas, never from the
  * program. The corpus does not depend on the run seed: the seed picks
  * the op sequence and its parameters.
  */
object Corpus {
  val Version = "v2"

  // scan_large: 16 bintables of 1.2 M rows x 55 B (~1 GiB together)
  val NTables = 16
  val RowsPerTable = 1200000L
  val RowBytes = 55
  val Alpha = "abcdefghij"
  // TDIM table: id K, m 12E shaped (3,4) -> array<array<float>>
  val TdimRows = 400000L
  val TdimRowBytes = 8 + 48
  // int16 images, 2048 x 2048, tiles of whole lines x 16
  val ImgW = 2048
  val ImgH = 2048
  val TileH = 16
  val Codecs = Seq("RICE_1", "HCOMPRESS_1")

  // many_files: 200 night directories x 10 files, 3 HDUs each
  val Nights = 200
  val FilesPerNight = 10
  val SmallFiles: Int = Nights * FilesPerNight
  val RowsPerHdu = 100
  val SmallRowBytes = 16

  final class Layout(val root: File) {
    val scan = new File(root, "scan_large")
    val many = new File(root, "many_files")
    def table(f: Int): File = new File(scan, f"t$f%02d.fits")
    val tdim = new File(scan, "tdim.fits")
    def image(codec: String): File =
      new File(scan, s"img_${codec.toLowerCase}.fits")
    def night(n: Int): File = new File(many, f"n$n%02d")
    def small(g: Int): File = new File(night(g / FilesPerNight), f"f$g%04d.fits")
    val marker = new File(root, s"COMPLETE-$Version")
  }

  // ---- closed forms ----------------------------------------------------

  /** sum of (t mod m) for t in [0, x) */
  private def prefixModSum(x: Long, m: Long): Long =
    (x / m) * (m * (m - 1) / 2) + (x % m) * (x % m - 1) / 2
  /** sum of ((r + off) mod m) for r in [a, b) */
  def sumMod(a: Long, b: Long, m: Long, off: Long = 0L): Long =
    prefixModSum(b + off, m) - prefixModSum(a + off, m)
  def sumRange(a: Long, b: Long): Long = (b * (b - 1) - a * (a - 1)) / 2
  /** count of r in [a, b) with r mod m == 0 */
  def multiples(a: Long, b: Long, m: Long): Long =
    (b + m - 1) / m - (a + m - 1) / m

  /** Expected aggregates of bintable `f` over rows [a, b). */
  final case class TableSums(count: Long, e: Double, d: Double, k: Long,
      j: Long, len: Long, v0: Double, trues: Long)
  def tableSums(f: Int, a: Long, b: Long): TableSums = {
    val n = b - a
    TableSums(n,
      e = sumMod(a, b, 1024, f).toDouble,
      d = sumRange(a, b) * 0.5 + f.toDouble * n,
      k = f * 1000000000L * n + sumRange(a, b),
      j = sumMod(a, b, 1000) - 500L * n,
      len = n + sumMod(a, b, 10),
      v0 = sumMod(a, b, 5).toDouble,
      trues = multiples(a, b, 3))
  }

  /** TDIM element m[outer][inner] (0-based) of row r. */
  def tdimValue(r: Long, outer: Int, inner: Int): Int =
    ((r + outer * 3 + inner) % 7).toInt
  def pixel(x: Int, y: Int): Int = (x * 7 + y * 13) % 4096 - 2048
  /** Sum of image pixels over lines [lo, hi]. */
  def imageSum(lo: Long, hi: Long): Long = {
    var s = 0L
    var y = math.max(0L, lo).toInt
    while (y <= math.min(hi, ImgH - 1L)) {
      var x = 0
      while (x < ImgW) { s += pixel(x, y); x += 1 }
      y += 1
    }
    s
  }

  /** Small-file row values: HDU 1 ("SCI") and HDU 2 ("CAL") of file g. */
  def smallT(g: Int, hdu: Int, r: Int): Double =
    g * 1000.0 + (if (hdu == 1) 0 else 500) + r
  def smallX(g: Int, hdu: Int, r: Int): Int =
    if (hdu == 1) (g + r) % 97 else (3 * g + r) % 89
  def smallMag(hdu: Int, r: Int): Float = if (hdu == 1) (r % 10).toFloat else 1f
  /** (count, sum x) over HDU `hdu` of the given files. */
  def smallSums(files: Iterable[Int], hdu: Int): (Long, Long) = {
    var c = 0L
    var s = 0L
    files.foreach { g =>
      var r = 0
      while (r < RowsPerHdu) { s += smallX(g, hdu, r); c += 1; r += 1 }
    }
    (c, s)
  }

  // ---- layout sizes ----------------------------------------------------

  private def padded(n: Long): Long = (n + 2879) / 2880 * 2880
  def tableDataBytes: Long = RowsPerTable * RowBytes
  def tdimDataBytes: Long = TdimRows * TdimRowBytes
  def smallDataBytes: Long = RowsPerHdu.toLong * SmallRowBytes

  // ---- FITS cards ------------------------------------------------------

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s else s + " " * (n - s.length)
  private def card(k: String, v: String): String = {
    val field = if (v.startsWith("'")) pad(v, 20) else " " * math.max(0, 20 - v.length) + v
    pad(pad(k, 8) + "= " + field, 80)
  }
  private def str(s: String): String = "'" + pad(s, 8) + "'"
  private def header(cards: Seq[String]): Array[Byte] = {
    val s = (cards :+ pad("END", 80)).mkString
    (s + " " * ((2880 - s.length % 2880) % 2880)).getBytes(US_ASCII)
  }
  private val primary = header(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
    card("NAXIS", "0"), card("EXTEND", "T")))
  private def bintableHeader(rowBytes: Int, rows: Long, pcount: Long,
      cols: Seq[(String, String)], extra: Seq[String]): Array[Byte] =
    header(Seq(card("XTENSION", str("BINTABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
      card("NAXIS2", rows.toString), card("PCOUNT", pcount.toString),
      card("GCOUNT", "1"), card("TFIELDS", cols.length.toString)) ++
      cols.zipWithIndex.flatMap { case ((n, f), i) =>
        Seq(card(s"TTYPE${i + 1}", str(n)), card(s"TFORM${i + 1}", str(f)))
      } ++ extra)
  private def padTo2880(out: OutputStream, written: Long): Unit =
    out.write(new Array[Byte]((padded(written) - written).toInt))

  private def withFile(f: File)(body: OutputStream => Unit): Unit = {
    f.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try body(out) finally out.close()
  }

  // ---- generators ------------------------------------------------------

  private def writeTable(file: File, f: Int): Unit = withFile(file) { out =>
    out.write(primary)
    out.write(bintableHeader(RowBytes, RowsPerTable, 0, Seq(
      "e" -> "E", "d" -> "D", "k" -> "K", "j" -> "J", "s" -> "10A",
      "v" -> "5E", "l" -> "L"), Nil))
    val chunk = 1 << 16
    val bb = ByteBuffer.allocate(chunk * RowBytes)
    val strs = (1 to 10).map(n => pad(Alpha.take(n), 10).getBytes(US_ASCII))
    var r = 0L
    while (r < RowsPerTable) {
      bb.clear()
      val end = math.min(RowsPerTable, r + chunk)
      while (r < end) {
        bb.putFloat(((r + f) % 1024).toFloat)
        bb.putDouble(r * 0.5 + f)
        bb.putLong(f * 1000000000L + r)
        bb.putInt((r % 1000 - 500).toInt)
        bb.put(strs((r % 10).toInt))
        var i = 0
        while (i < 5) { bb.putFloat(((r + i) % 5).toFloat); i += 1 }
        bb.put((if (r % 3 == 0) 'T' else 'F').toByte)
        r += 1
      }
      out.write(bb.array(), 0, bb.position())
    }
    padTo2880(out, tableDataBytes)
  }

  private def writeTdim(file: File): Unit = withFile(file) { out =>
    out.write(primary)
    out.write(bintableHeader(TdimRowBytes, TdimRows, 0,
      Seq("id" -> "K", "m" -> "12E"), Seq(card("TDIM2", str("(3,4)")))))
    val bb = ByteBuffer.allocate(TdimRowBytes)
    var r = 0L
    while (r < TdimRows) {
      bb.clear()
      bb.putLong(r)
      var o = 0
      while (o < 4) {
        var i = 0
        while (i < 3) { bb.putFloat(tdimValue(r, o, i).toFloat); i += 1 }
        o += 1
      }
      out.write(bb.array())
      r += 1
    }
    padTo2880(out, tdimDataBytes)
  }

  /** Raw big-endian int16 payload of tile-row band `b`. */
  def tileBytes(b: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(ImgW * TileH * 2)
    var y = b * TileH
    while (y < (b + 1) * TileH) {
      var x = 0
      while (x < ImgW) { bb.putShort(pixel(x, y).toShort); x += 1 }
      y += 1
    }
    bb.array()
  }
  def compressTile(codec: String, raw: Array[Byte]): Array[Byte] =
    TileCodec.compress2D(codec, raw, 2, 32, ImgW, TileH, 0)

  private def writeImage(file: File, codec: String): Unit = withFile(file) { out =>
    val tiles = (0 until ImgH / TileH).map(b => compressTile(codec, tileBytes(b)))
    val heap = tiles.map(_.length.toLong).sum
    out.write(primary)
    val params = Seq(card("ZNAME1", str("BLOCKSIZE")), card("ZVAL1", "32"),
      card("ZNAME2", str("BYTEPIX")), card("ZVAL2", "2")) ++
      (if (codec == "HCOMPRESS_1") Seq(card("ZNAME3", str("SCALE")),
        card("ZVAL3", "0"), card("ZNAME4", str("SMOOTH")), card("ZVAL4", "0"))
      else Nil)
    out.write(bintableHeader(8, tiles.length, heap,
      Seq("COMPRESSED_DATA" -> s"1PB(${tiles.map(_.length).max})"),
      Seq(card("ZIMAGE", "T"), card("ZCMPTYPE", str(codec)),
        card("ZBITPIX", "16"), card("ZNAXIS", "2"),
        card("ZNAXIS1", ImgW.toString), card("ZNAXIS2", ImgH.toString),
        card("ZTILE1", ImgW.toString), card("ZTILE2", TileH.toString)) ++ params))
    var off = 0
    tiles.foreach { t =>
      out.write(ByteBuffer.allocate(8).putInt(t.length).putInt(off).array())
      off += t.length
    }
    tiles.foreach(t => out.write(t))
    padTo2880(out, tiles.length * 8L + heap)
  }

  private def writeSmall(file: File, g: Int): Unit = withFile(file) { out =>
    out.write(header(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
      card("NAXIS", "0"), card("EXTEND", "T"),
      card("NIGHT", (g / FilesPerNight).toString))))
    for ((hdu, ext) <- Seq(1 -> "SCI", 2 -> "CAL")) {
      val lo = smallT(g, hdu, 0)
      out.write(bintableHeader(SmallRowBytes, RowsPerHdu, 0,
        Seq("t" -> "D", "x" -> "J", "mag" -> "E"),
        Seq(card("EXTNAME", str(ext)), card("GMIN1", lo.toLong.toString),
          card("GMAX1", (lo.toLong + RowsPerHdu - 1).toString))))
      val bb = ByteBuffer.allocate(RowsPerHdu * SmallRowBytes)
      var r = 0
      while (r < RowsPerHdu) {
        bb.putDouble(smallT(g, hdu, r)).putInt(smallX(g, hdu, r))
          .putFloat(smallMag(hdu, r))
        r += 1
      }
      out.write(bb.array())
      padTo2880(out, smallDataBytes)
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def sha256(f: File): String = MessageDigest.getInstance("SHA-256")
    .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString

  /** Expected file sizes, the cheap part of the per-setup corpus check. */
  private def expectedSizes(l: Layout): Seq[(File, Long)] =
    (0 until NTables).map(f => l.table(f) -> (2880 * 2 + padded(tableDataBytes))) ++
      Seq(l.tdim -> (2880 * 2 + padded(tdimDataBytes))) ++
      (0 until SmallFiles).map(g => l.small(g) -> (2880L * 5))

  /** Checks the corpus: file sizes, and the image hashes recorded when
    * it was generated. Returns the image SHA-256s by codec when it is
    * complete, else None. */
  def check(l: Layout): Option[Map[String, String]] =
    if (!l.marker.isFile) None
    else {
      val recorded = new String(Files.readAllBytes(l.marker.toPath), US_ASCII)
        .linesIterator.map(_.split(' ')).collect { case Array(c, h) => c -> h }.toMap
      val sizesOk = expectedSizes(l).forall { case (f, n) => f.length == n } &&
        (0 until Nights).map(n => Option(l.night(n).list()).map(_.length).getOrElse(0))
          .sum == SmallFiles
      val shas = Codecs.map(c => c -> (if (l.image(c).isFile) sha256(l.image(c)) else "")).toMap
      if (sizesOk && shas == recorded) Some(shas) else None
    }

  /** Generates the corpus when `check` finds it absent or incomplete. */
  def ensure(l: Layout): Unit =
    if (check(l).isEmpty) {
      deleteTree(l.root)
      (0 until NTables).foreach(f => writeTable(l.table(f), f))
      writeTdim(l.tdim)
      Codecs.foreach(c => writeImage(l.image(c), c))
      (0 until SmallFiles).foreach(g => writeSmall(l.small(g), g))
      Files.write(l.marker.toPath, Codecs.map(c => s"$c ${sha256(l.image(c))}\n").mkString
        .getBytes(US_ASCII))
      if (check(l).isEmpty) sys.error("generated corpus failed its own check")
    }
}
