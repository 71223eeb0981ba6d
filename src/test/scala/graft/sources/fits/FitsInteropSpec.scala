package graft.sources.fits

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.fits.core.TForm

/** External-interop + robustness behaviors (round-5 advice):
  *  - unsigned-byte TNULL convention (write 128, match stored value)
  *  - truncated-mid-heap files degrade var-length columns to NULL
  *  - `0P`/`0Q` descriptors are zero-width
  *  - var-length PA strings keep exact bytes (no trim)
  */
class FitsInteropSpec extends SparkTestBase {

  import spark.implicits._

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def card(k: String, v: String): String =
    pad(pad(k, 8) + "= " + pad(v, 20), 80)
  private def block(cards: Seq[String]): Array[Byte] = {
    val s = cards.mkString
    (s + " " * (2880 - s.length % 2880)).getBytes("US-ASCII")
  }
  private def primary: Array[Byte] = block(Seq(card("SIMPLE", "T"),
    card("BITPIX", "8"), card("NAXIS", "0"), pad("END", 80)))

  /** K + 1PA(8) bintable: 4 rows, heap strings with exact whitespace. */
  private def writeVarFile(path: String): (Long, Seq[String]) = {
    val docs = Seq("  hi\n", "ab", "cdefgh", "x")
    val heap = docs.mkString.getBytes("US-ASCII")
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      out.write(primary)
      out.write(block(Seq(
        card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", "16"),
        card("NAXIS2", docs.length.toString),
        card("PCOUNT", heap.length.toString), card("GCOUNT", "1"),
        card("TFIELDS", "2"),
        card("TTYPE1", "'k       '"), card("TFORM1", "'K       '"),
        card("TTYPE2", "'doc     '"), card("TFORM2", "'1PA(8)  '"),
        pad("END", 80))))
      var off = 0
      docs.zipWithIndex.foreach { case (d, i) =>
        out.writeLong(100L + i)
        out.writeInt(d.length); out.writeInt(off)
        off += d.length
      }
      out.write(heap)
      val dataLen = 16L * docs.length + heap.length
      out.write(new Array[Byte](((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
      (2880L * 2, docs) // dataStart, docs
    } finally out.close()
  }

  test("var-length PA strings keep exact bytes — no trim") {
    val p = Files.createTempFile("graft-pa", ".fits").toString
    val (_, docs) = writeVarFile(p)
    try {
      val rows = spark.read.format("fits").option("hdu", 1).load(p)
        .orderBy("k").collect()
      assert(rows.map(_.getString(1)).toSeq == docs) // "  hi\n" survives
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  test("file truncated mid-heap keeps all rows, var columns read NULL") {
    val full = Files.createTempFile("graft-heapfull", ".fits").toString
    val (dataStart, docs) = writeVarFile(full)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(full))
    val cut = Files.createTempFile("graft-heapcut", ".fits").toString
    // keep the whole main table + 7 of 14 heap bytes
    Files.write(java.nio.file.Paths.get(cut), java.util.Arrays.copyOfRange(
      bytes, 0, (dataStart + 16 * docs.length + 7).toInt))
    try {
      val rows = spark.read.format("fits").option("hdu", 1).load(cut)
        .orderBy("k").collect()
      assert(rows.length == docs.length) // main table complete
      assert(rows.map(_.getLong(0)).toSeq ==
        docs.indices.map(100L + _)) // fixed col intact
      assert(rows.forall(_.isNullAt(1))) // heap gone → NULL, not EOF
    } finally {
      Files.deleteIfExists(java.nio.file.Paths.get(full))
      Files.deleteIfExists(java.nio.file.Paths.get(cut))
    }
  }

  test("file truncated mid-main-table clamps rows AND degrades var cols") {
    val full = Files.createTempFile("graft-mainfull", ".fits").toString
    val (dataStart, _) = writeVarFile(full)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(full))
    val cut = Files.createTempFile("graft-maincut", ".fits").toString
    Files.write(java.nio.file.Paths.get(cut), java.util.Arrays.copyOfRange(
      bytes, 0, (dataStart + 16 * 2 + 3).toInt)) // 2.2 rows, no heap
    try {
      val rows = spark.read.format("fits").option("hdu", 1).load(cut)
        .orderBy("k").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(100L, 101L))
      assert(rows.forall(_.isNullAt(1)))
    } finally {
      Files.deleteIfExists(java.nio.file.Paths.get(full))
      Files.deleteIfExists(java.nio.file.Paths.get(cut))
    }
  }

  test("0P descriptor is zero-width; subsequent column offsets survive") {
    TForm.parse("0PJ(5)") match {
      case u: TForm.Unsupported => assert(u.byteWidth == 0)
      case other => fail(s"expected zero-width Unsupported, got $other")
    }
    assert(TForm.parse("0QE(3)").byteWidth == 0)
    // file-level: [0PJ(5), K] row is 8 bytes; K must decode from offset 0
    val p = Files.createTempFile("graft-zerop", ".fits").toString
    val out = new DataOutputStream(new FileOutputStream(p))
    try {
      out.write(primary)
      out.write(block(Seq(
        card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", "8"), card("NAXIS2", "3"),
        card("PCOUNT", "0"), card("GCOUNT", "1"), card("TFIELDS", "2"),
        card("TTYPE1", "'ghost   '"), card("TFORM1", "'0PJ(5)  '"),
        card("TTYPE2", "'k       '"), card("TFORM2", "'K       '"),
        pad("END", 80))))
      Seq(10L, 20L, 30L).foreach(out.writeLong)
      out.write(new Array[Byte](2880 - 24))
    } finally out.close()
    try {
      val rows = spark.read.format("fits").option("hdu", 1).load(p)
        .orderBy("k").collect()
      assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L, 30L))
      assert(rows.forall(_.isNullAt(0)))
    } finally Files.deleteIfExists(java.nio.file.Paths.get(p))
  }

  /** TFORM1='B' + TNULL table; `withDoc` adds a PA var-length column
    * beside it (a heap-bearing projection), the single B column is the
    * plain fixed-width shape. Both read through the columnar reader. */
  private def writeByteNullFile(path: String, tnull: String,
      data: Seq[Int], withDoc: Boolean): Unit = {
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      out.write(primary)
      val rowBytes = if (withDoc) 9 else 1
      val docCards =
        if (withDoc) Seq(card("TTYPE2", "'doc     '"),
          card("TFORM2", "'1PA(4)  '"))
        else Nil
      out.write(block(Seq(
        card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
        card("NAXIS2", data.length.toString),
        card("PCOUNT", if (withDoc) data.length.toString else "0"),
        card("GCOUNT", "1"),
        card("TFIELDS", if (withDoc) "2" else "1"),
        card("TTYPE1", "'b       '"), card("TFORM1", "'B       '"),
        card("TNULL1", tnull)) ++ docCards :+ pad("END", 80)))
      data.zipWithIndex.foreach { case (v, i) =>
        out.writeByte(v)
        if (withDoc) { out.writeInt(1); out.writeInt(i) }
      }
      if (withDoc) out.write(data.indices.map(i => ('a' + i).toByte).toArray)
      val dataLen = rowBytes.toLong * data.length +
        (if (withDoc) data.length else 0)
      out.write(new Array[Byte](((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
    } finally out.close()
  }

  test("standard unsigned TNULL on B columns matches the stored byte") {
    // TNULL=200 (unsigned convention): stored 0xC8 → NULL; stored 128
    // surfaces as the signed wart value -128, NOT null. With a PA column.
    val p1 = Files.createTempFile("graft-bnull1", ".fits").toString
    writeByteNullFile(p1, "200", Seq(200, 7, 128), withDoc = true)
    // legacy signed card TNULL=-128 with stored 0x80 → NULL. B column only.
    val p2 = Files.createTempFile("graft-bnull2", ".fits").toString
    writeByteNullFile(p2, "-128", Seq(128, 5), withDoc = false)
    try {
      val r1 = spark.read.format("fits").option("hdu", 1).load(p1).collect()
        .map(r => if (r.isNullAt(0)) null else r.getByte(0)).toSeq
      assert(r1 == Seq(null, 7.toByte, (-128).toByte))
      val r2 = spark.read.format("fits").option("hdu", 1).load(p2).collect()
        .map(r => if (r.isNullAt(0)) null else r.getByte(0)).toSet
      assert(r2 == Set(null, 5.toByte))
    } finally {
      Files.deleteIfExists(java.nio.file.Paths.get(p1))
      Files.deleteIfExists(java.nio.file.Paths.get(p2))
    }
  }

  test("writer emits unsigned TNULL=128 for byte columns; nulls round-trip") {
    val dir = Files.createTempDirectory("fits-bnull").toString + "/t"
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(null),
        org.apache.spark.sql.Row(1.toByte),
        org.apache.spark.sql.Row((-5).toByte)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.ByteType, nullable = true))))
    df.coalesce(1).write.format("fits").mode("append").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdr = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
    val tn = hdr.grouped(80).find(_.startsWith("TNULL1")).get
    assert(tn.contains("128") && !tn.contains("-128"),
      s"TNULL card must carry the unsigned stored value: $tn")
    val back = spark.read.format("fits").option("hdu", 1).load(dir).collect()
      .map(r => if (r.isNullAt(0)) null else r.getByte(0)).toSet
    assert(back == Set(null, 1.toByte, (-5).toByte))
  }

  test("writer 1PA documents keep exact whitespace through the heap") {
    val long = "x" * 400 + "\n  " // forces the skewed-string 1PA path
    val docs = long +: (0 until 50).map(i => s"d$i\n")
    val dir = Files.createTempDirectory("fits-paws").toString + "/t"
    docs.toDF("doc").coalesce(1).write.format("fits").mode("append").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".fits")).head
    val hdr = new String(java.util.Arrays.copyOfRange(
      Files.readAllBytes(part.toPath), 2880, 2880 * 2), "US-ASCII")
    assert(hdr.grouped(80).exists(c =>
      c.startsWith("TFORM1") && c.contains("1PA")), "expected 1PA storage")
    val back = spark.read.format("fits").option("hdu", 1).load(dir)
      .collect().map(_.getString(0)).toSet
    assert(back == docs.toSet) // trailing "\n" / "\n  " survive exactly
  }
}
