package graft.sources.fits

import java.io.{ByteArrayOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.Files

import graft.SparkTestBase

/** Variable-length array columns (`rPt(max)` / `rQt(max)`, FITS 4.0
  * §7.3.5; beyond reference — it degrades P/Q to unreadable columns):
  * in-row (count, offset) descriptors pointing into the HDU heap.
  * `PA` surfaces as StringType — the natural FITS shape for documents. */
class FitsVarLengthSpec extends SparkTestBase {

  import FitsWriteSupport.{card, headerBlock, pad, quoted}

  /** One bintable with: id J, vec PE/QE var floats, txt PA/QA var text.
    * `theapGap` > 0 inserts that many zero bytes between the main table
    * and the heap, declared via THEAP and covered by PCOUNT (FITS 4.0
    * §7.3.5 allows the gap; PCOUNT spans gap + heap). */
  private def writeVarFile(useQ: Boolean, theapGap: Int = 0): String = {
    val descW = if (useQ) 16 else 8
    val rowBytes = 4 + 2 * descW
    val vecs = Seq(Array(1.5f, 2.5f), Array.empty[Float],
      Array(3f, 4f, 5f, 6f))
    val txts = Seq("hello", "worlds!", "")

    // build the heap, tracking (count, offset) per row per column
    val heap = new ByteArrayOutputStream()
    val hout = new DataOutputStream(heap)
    val vecDesc = vecs.map { v =>
      val off = heap.size(); v.foreach(hout.writeFloat); (v.length, off)
    }
    val txtDesc = txts.map { t =>
      val off = heap.size(); hout.write(t.getBytes("UTF-8")); (t.length, off)
    }
    hout.flush()
    val heapBytes = heap.toByteArray

    val dir = Files.createTempDirectory("fits-varlen")
    val f = dir.resolve("v.fits").toFile
    val out = new DataOutputStream(new FileOutputStream(f))
    out.write(headerBlock(Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
      card("NAXIS", "0"), pad("END", 80))))
    val pq = if (useQ) "Q" else "P"
    val theapCards =
      if (theapGap > 0) Seq(card("THEAP", (3 * rowBytes + theapGap).toString))
      else Nil
    out.write(headerBlock(Seq(
      card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
      card("NAXIS2", "3"),
      card("PCOUNT", (theapGap + heapBytes.length).toString),
      card("GCOUNT", "1"), card("TFIELDS", "3"),
      card("TTYPE1", quoted("id")), card("TFORM1", quoted("J")),
      card("TTYPE2", quoted("vec")), card("TFORM2", quoted(s"1${pq}E(4)")),
      card("TTYPE3", quoted("txt")), card("TFORM3", quoted(s"${pq}A(32)"))) ++
      theapCards :+
      pad("END", 80)))
    def desc(d: (Int, Int)): Unit =
      if (useQ) { out.writeLong(d._1.toLong); out.writeLong(d._2.toLong) }
      else { out.writeInt(d._1); out.writeInt(d._2) }
    (0 until 3).foreach { r =>
      out.writeInt(r + 1)
      desc(vecDesc(r))
      desc(txtDesc(r))
    }
    if (theapGap > 0) out.write(new Array[Byte](theapGap))
    out.write(heapBytes) // heap at THEAP (default: right after rows)
    val dataLen = 3 * rowBytes + theapGap + heapBytes.length
    out.write(new Array[Byte]((2880 - dataLen % 2880) % 2880))
    out.close()
    f.toString
  }

  private def check(path: String): Unit = {
    val df = spark.read.format("fits").option("hdu", 1).load(path)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("id" -> "int", "vec" -> "array<float>", "txt" -> "string"))
    // var-length columns ride the vectorized path (coalesced heap)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val got = df.collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getSeq[Float](1).toList, r.getString(2)))
    assert(got.toSeq == Seq(
      (1, List(1.5f, 2.5f), "hello"),
      (2, Nil, "worlds!"),
      (3, List(3f, 4f, 5f, 6f), "")))
    // pruning to one var column still reads through the heap correctly
    assert(df.select("txt").collect().map(_.getString(0)).sorted.toSeq
      == Seq("", "hello", "worlds!"))
    // and a var-free projection never touches the heap path
    assert(df.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("P descriptors (32-bit): var floats and var strings round-trip") {
    check(writeVarFile(useQ = false))
  }

  test("Q descriptors (64-bit): var floats and var strings round-trip") {
    check(writeVarFile(useQ = true))
  }

  test("nontrivial THEAP gap: heap still reads, var cols NOT degraded") {
    // PCOUNT covers gap + heap, so a truncation check that compares
    // heapStart + PCOUNT against the file length double-counts the gap
    // and would silently degrade these columns to NULL (r6 ADVICE).
    check(writeVarFile(useQ = false, theapGap = 160))
    check(writeVarFile(useQ = true, theapGap = 2880))
  }

  test("reference varitab.fits fixture decodes through the full source") {
    val df = spark.read.format("fits").option("hdu", 1)
      .load(RefFixtures.reference("toTest/varitab.fits"))
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "Avalue" -> "string", "Lvalue" -> "array<boolean>",
      "Xvalue" -> "array<tinyint>", "Bvalue" -> "array<tinyint>",
      "Ivalue" -> "array<smallint>", "Jvalue" -> "array<int>",
      "Evalue" -> "array<float>", "Dvalue" -> "array<double>",
      "Cvalue" -> "string", "Mvalue" -> "string")) // VAR-len C/M ⇒ null
    val rows = df.collect()
    assert(rows.length == 20)
    // the generator writes same-length arrays per row; the first string
    // is a single blank — heap lengths are exact, so PA reads keep it
    // (no nA-style trim; see FitsInteropSpec)
    assert(rows.map(_.getString(0)).take(3).toSeq == Seq(" ", "ab", "abc"))
    assert(rows.map(_.getSeq[Byte](3).length).take(4).toSeq == Seq(1, 2, 3, 4))
    assert(rows.map(_.getSeq[Double](7).length).take(4).toSeq == Seq(1, 2, 3, 4))
    assert(rows.head.getSeq[Double](7) == Seq(1.0))
    assert(rows.forall(r => r.isNullAt(8) && r.isNullAt(9)))
  }

  test("corrupt descriptor count fails with a clear error") {
    // hand-patch a descriptor count beyond the declared max
    val path = writeVarFile(useQ = false)
    val bytes = java.nio.file.Files.readAllBytes(new java.io.File(path).toPath)
    // row 0 starts at 2×2880; vec descriptor at +4; write count = 99
    val base = 2 * 2880 + 4
    bytes(base) = 0; bytes(base + 1) = 0; bytes(base + 2) = 0
    bytes(base + 3) = 99.toByte
    val patched = path.replace("v.fits", "corrupt.fits")
    java.nio.file.Files.write(new java.io.File(patched).toPath, bytes)
    val df = spark.read.format("fits").option("hdu", 1).load(patched)
    val e = intercept[Exception] { df.select("vec").collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("variable-length descriptor")), e)
  }
}
