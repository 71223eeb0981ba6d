package graft.sources.fits

import java.io.File
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.Locale.ROOT

import org.scalatest.Assertions

/** The reference spark-fits test fixtures that the compat suites read.
  *
  * Where the reference checkout's test resources exist, [[root]] is that
  * directory and every suite reads the committed binaries. Elsewhere
  * [[root]] is a temporary directory built once per JVM, holding byte-exact
  * rebuilds of the files whose layout FIXTURES.md records and whose
  * goldens are closed-form: `target` = "NGC%07d".format(i), `Index` = i.
  * RA, Dec, RunId and Discovery are deterministic fill values; no test
  * asserts the generator's numpy draws.
  *
  * The files are written here card by card and byte by byte, not through
  * the program's FitsWriter, so a writer bug cannot hide a reader bug.
  * The builder requires the sizes FIXTURES.md records, so a layout drift
  * fails loudly instead of quietly changing what the goldens test.
  *
  * Third-party files (the `toTest/` corpus, the ESO ASCII table values)
  * cannot be rebuilt; tests that need them go through [[reference]].
  */
object RefFixtures {

  /** The reference checkout's committed test resources. */
  private val referenceDir = new File("/root/reference/src/test/resources")

  /** Directory holding `test_file.fits`, `dir/`, `dirNotOk/`, `dirIm/`
    * and the other generator-derived fixtures. */
  lazy val root: String =
    if (referenceDir.isDirectory) referenceDir.getPath
    else build().toString

  /** Path of a fixture only the reference checkout holds; cancels the
    * calling test, naming the missing path, where it is absent. */
  def reference(rel: String): String = {
    val f = new File(referenceDir, rel)
    Assertions.assume(f.exists,
      s"$f is missing: this test needs the reference's own file, " +
        "which cannot be rebuilt")
    f.getPath
  }

  // ---- FITS cards and blocks -------------------------------------------

  private val Block = 2880

  private def padded(n: Long): Long = (n + Block - 1) / Block * Block
  private def pad(s: String, n: Int): String =
    if (s.length >= n) s else s + " " * (n - s.length)

  /** A fixed-format card: strings start in column 11, other values end
    * in column 30. */
  private def card(key: String, value: String, comment: String = ""): String = {
    val field =
      if (value.startsWith("'")) pad(value, 20)
      else " " * math.max(0, 20 - value.length) + value
    val c = pad(key, 8) + "= " + field +
      (if (comment.isEmpty) "" else " / " + comment)
    require(c.length <= 80, s"card too long: $c")
    pad(c, 80)
  }
  private def card(key: String, value: Long): String = card(key, value.toString)
  private def str(s: String): String = "'" + pad(s.replace("'", "''"), 8) + "'"

  private final case class Hdu(cards: Seq[String], data: Array[Byte],
      fill: Byte = 0) {
    val header: Array[Byte] = {
      val s = (cards :+ pad("END", 80)).mkString
      require(s.length % 80 == 0)
      pad(s, padded(s.length.toLong).toInt).getBytes(US_ASCII)
    }
  }

  /** (headerStart, dataStart, dataStop, blockStop) of one written HDU. */
  private type Bounds = (Long, Long, Long, Long)

  /** Writes the HDUs back to back, each data unit padded to a whole
    * block; returns every HDU's bounds. */
  private def write(f: File, hdus: Hdu*): Seq[Bounds] = {
    f.getParentFile.mkdirs()
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f))
    var pos = 0L
    try hdus.map { h =>
      val start = pos
      val dataStart = start + h.header.length
      val dataStop = dataStart + h.data.length
      val stop = dataStart + padded(h.data.length.toLong)
      out.write(h.header)
      out.write(h.data)
      out.write(Array.fill((stop - dataStop).toInt)(h.fill))
      pos = stop
      (start, dataStart, dataStop, stop)
    } finally out.close()
  }

  private def primary(extra: String*): Hdu = Hdu(Seq(
    card("SIMPLE", "T", "conforms to FITS standard"),
    card("BITPIX", "8", "array data type"),
    card("NAXIS", "0", "number of array dimensions"),
    card("EXTEND", "T")) ++ extra, Array.emptyByteArray)

  // ---- binary tables ---------------------------------------------------

  /** One bintable column: name, TFORM, byte width, row writer. */
  private final case class Col(name: String, tform: String, width: Int,
      put: (ByteBuffer, Int) => Unit)

  private def chars(name: String, w: Int, v: Int => String): Col =
    Col(name, s"${w}A", w, (b, i) => b.put(pad(v(i), w).getBytes(US_ASCII)))
  private def floats(name: String, tform: String, n: Int, v: (Int, Int) => Float): Col =
    Col(name, tform, 4 * n, (b, i) => (0 until n).foreach(k => b.putFloat(v(i, k))))
  private def doubles(name: String, tform: String, n: Int, v: (Int, Int) => Double): Col =
    Col(name, tform, 8 * n, (b, i) => (0 until n).foreach(k => b.putDouble(v(i, k))))
  private def longs(name: String, tform: String, n: Int, v: (Int, Int) => Long): Col =
    Col(name, tform, 8 * n, (b, i) => (0 until n).foreach(k => b.putLong(v(i, k))))
  private def ints(name: String, tform: String, n: Int, v: (Int, Int) => Int): Col =
    Col(name, tform, 4 * n, (b, i) => (0 until n).foreach(k => b.putInt(v(i, k))))
  private def shorts(name: String, tform: String, n: Int, v: (Int, Int) => Int): Col =
    Col(name, tform, 2 * n, (b, i) => (0 until n).foreach(k => b.putShort(v(i, k).toShort)))

  private def bintable(nRows: Int, cols: Seq[Col]): Hdu = {
    val rowBytes = cols.map(_.width).sum
    val b = ByteBuffer.allocate(rowBytes * nRows)
    (0 until nRows).foreach(i => cols.foreach(_.put(b, i)))
    require(!b.hasRemaining)
    Hdu(Seq(
      card("XTENSION", str("BINTABLE"), "binary table extension"),
      card("BITPIX", "8", "array data type"),
      card("NAXIS", "2", "number of array dimensions"),
      card("NAXIS1", rowBytes), card("NAXIS2", nRows),
      card("PCOUNT", "0"), card("GCOUNT", "1"),
      card("TFIELDS", cols.length)) ++
      cols.zipWithIndex.flatMap { case (c, n) =>
        Seq(card(s"TTYPE${n + 1}", str(c.name)),
          card(s"TFORM${n + 1}", str(c.tform)))
      }, b.array())
  }

  // closed-form values shared by the create_test_fits.py-shaped tables
  private def target(i: Int): String = "NGC%07d".format(i)
  private def ra(i: Int): Float = (i % 3600) / 10f
  private def dec(i: Int): Double = (i * 7 % 1800) / 10.0 - 90.0
  private def runId(i: Int): Int = i % 10

  /** create_test_fits.py HDU 1: target 10A, RA E, Dec D, Index K, RunId J. */
  private def catalog(n: Int): Hdu = bintable(n, Seq(
    chars("target", 10, target),
    floats("RA", "E", 1, (i, _) => ra(i)),
    doubles("Dec", "D", 1, (i, _) => dec(i)),
    longs("Index", "K", 1, (i, _) => i.toLong),
    ints("RunId", "J", 1, (i, _) => runId(i))))

  /** create_test_fits.py HDU 2: target 20A, Index (1J or an array), Discovery L. */
  private def discoveries(n: Int, indexRepeat: Int = 1): Hdu = bintable(n, Seq(
    chars("target", 20, target),
    ints("Index", s"${indexRepeat}J", indexRepeat, (i, k) => i + k),
    Col("Discovery", "L", 1, (b, i) => b.put((if (i % 2 == 0) 'T' else 'F').toByte))))

  private def testFile(f: File, n: Int): Seq[Bounds] =
    write(f, primary(
      card("OBSERVER", str("Toto l'asticot")),
      pad("COMMENT Here's some commentary about this FITS file.", 80)),
      catalog(n), discoveries(n))

  // ---- dirIm: ASCII table + int16 cube, and an all-empty file ----------

  /** ASCII TABLE of the documented shape: 8 fields, 53 rows of 59 chars,
    * EXTNAME 'Asciitable'. Field i is (name, TFORM, width, value(row)). */
  private def asciiTable: Hdu = {
    val fields = Seq[(String, String, Int, Int => String)](
      ("IDENT", "A10", 10, i => s"Object$i"),
      ("Count", "I5", 5, i => (i * 3).toString),
      ("Flux", "F8.3", 8, i => "%.3f".formatLocal(ROOT, i * 1.25)),
      ("Mag", "E12.5", 12, i => "%.5E".formatLocal(ROOT, 10.0 + i / 8.0)),
      ("Dist", "D14.7", 14,
        i => "%.7E".formatLocal(ROOT, i * 0.5).replace('E', 'D')),
      ("Class", "A4", 4, i => "C" + (i % 7)),
      ("Flag", "I3", 3, i => (i % 2).toString),
      ("Tag", "A3", 3, i => ('a' + i % 26).toChar.toString * 2))
    val rowChars = fields.map(_._3).sum
    val rows = (0 until 53).map { i =>
      fields.map { case (_, tform, w, v) =>
        val s = v(i)
        require(s.length <= w, s"$s overflows $w")
        // strings left-justified, numbers right-justified
        if (tform.startsWith("A")) pad(s, w) else " " * (w - s.length) + s
      }.mkString
    }
    val cols = fields.scanLeft(1)(_ + _._3).zip(fields).zipWithIndex.flatMap {
      case ((tbcol, (name, tform, _, _)), n) => Seq(
        card(s"TTYPE${n + 1}", str(name)), card(s"TBCOL${n + 1}", tbcol.toLong),
        card(s"TFORM${n + 1}", str(tform)))
    }
    Hdu(Seq(
      card("XTENSION", str("TABLE"), "ASCII table extension"),
      card("BITPIX", "8"), card("NAXIS", "2"),
      card("NAXIS1", rowChars.toLong), card("NAXIS2", rows.length.toLong),
      card("PCOUNT", "0"), card("GCOUNT", "1"),
      card("TFIELDS", fields.length.toLong)) ++ cols :+
      card("EXTNAME", str("Asciitable")),
      rows.mkString.getBytes(US_ASCII), fill = ' '.toByte)
  }

  /** BITPIX 16 image, 73 x 31 x 5; pixel = (linear index mod 2000) - 1000. */
  private def cube: Hdu = {
    val axes = Seq(73, 31, 5)
    val b = ByteBuffer.allocate(2 * axes.product)
    (0 until axes.product).foreach(p => b.putShort((p % 2000 - 1000).toShort))
    Hdu(Seq(card("XTENSION", str("IMAGE"), "Image extension"),
      card("BITPIX", "16"), card("NAXIS", axes.length.toLong)) ++
      axes.zipWithIndex.map { case (a, n) => card(s"NAXIS${n + 1}", a.toLong) } ++
      Seq(card("PCOUNT", "0"), card("GCOUNT", "1")), b.array())
  }

  private def emptyImage: Hdu = Hdu(Seq(
    card("XTENSION", str("IMAGE"), "Image extension"), card("BITPIX", "8"),
    card("NAXIS", "0"), card("PCOUNT", "0"), card("GCOUNT", "1")),
    Array.emptyByteArray)

  // ---- the fixture tree ------------------------------------------------

  private def build(): Path = {
    val dir = Files.createTempDirectory("spark-fits-ref-fixtures")
    sys.addShutdownHook(deleteTree(dir.toFile))
    def at(rel: String) = dir.resolve(rel).toFile
    def requireSize(rel: String, bytes: Long): Unit =
      require(at(rel).length == bytes,
        s"rebuilt $rel is ${at(rel).length} B, FIXTURES.md records $bytes B")

    val main = testFile(at("test_file.fits"), 20000)
    requireSize("test_file.fits", 1192320L)
    require(main(1) == ((2880L, 5760L, 685760L, 688320L)),
      s"rebuilt test_file.fits HDU 1 bounds ${main(1)}")

    testFile(at("dir/test_file.fits"), 20000)
    testFile(at("dir/test_file2.fits"), 7000)
    Files.write(dir.resolve("dir/I_am_not_a_fits.txt"),
      "I am not a FITS file.\n".getBytes(US_ASCII))

    testFile(at("dirNotOk/test_file.fits"), 20000)
    write(at("dirNotOk/test_file_different.fits"), primary(), bintable(100, Seq(
      chars("target", 10, target),
      doubles("RA", "D", 1, (i, _) => ra(i).toDouble),
      ints("Index", "J", 1, (i, _) => i))))

    write(at("test_file_array.fits"), primary(), bintable(100, Seq(
      chars("target", 10, target),
      floats("RA", "2E", 2, (i, k) => ra(i) + k),
      doubles("Dec", "3D", 3, (i, k) => dec(i) + k),
      longs("Index", "7K", 7, (i, k) => 7L * i + k),
      shorts("RunId", "I", 1, (i, _) => runId(i)),
      shorts("RunIdArray", "3I", 3, (i, k) => runId(i + k)))),
      discoveries(100, indexRepeat = 2))
    requireSize("test_file_array.fits", 25920L)

    write(at("test_file_one-element.fits"), primary(), bintable(100, Seq(
      chars("target", 10, target),
      floats("RA", "1E", 1, (i, _) => ra(i)),
      doubles("Dec", "1D", 1, (i, _) => dec(i)),
      longs("Index", "1K", 1, (i, _) => i.toLong),
      shorts("RunId", "1I", 1, (i, _) => runId(i)))),
      discoveries(100))
    requireSize("test_file_one-element.fits", 17280L)

    write(at("test_file_ub.fits"), primary(), bintable(20000, Seq(
      Col("unsigned bytes", "B", 1, (b, i) => b.put((i % 256).toByte)))))
    requireSize("test_file_ub.fits", 25920L)

    val long = bintable(100,
      (0 until 200).map(c => doubles(s"col$c", "D", 1, (i, _) => i + c / 1000.0)))
    require(long.cards.length + 1 == 409, "long header must hold 409 cards")
    write(at("test_longheader_file.fits"), primary(), long)
    requireSize("test_longheader_file.fits", 198720L)

    write(at("colnames_with_slash.fits"), primary(), bintable(10,
      Seq("lsst/u_MEAN", "lsst/g_MEAN", "euclid/VIS_MEAN", "euclid/Y_MEAN")
        .zipWithIndex.map { case (n, c) =>
          floats(n, "E", 1, (i, _) => 20f + c + i / 10f)
        }))
    requireSize("colnames_with_slash.fits", 8640L)

    write(at("dirIm/0_i_am_not_empty.fits"), primary(), asciiTable, cube)
    write(at("dirIm/1_i_am_empty.fits"), primary(), emptyImage, emptyImage)
    dir
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
