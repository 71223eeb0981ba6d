package graft.sources.fits

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Many-files behavior: schema inference opens one file, planning
  * scans each file's headers once (parallel, driver-side), the union
  * is complete and ordered within each file.
  */
class FitsManyFilesSpec extends SparkTestBase {

  import FitsManyFilesSpec.writeFile

  test("truncated file clamps to whole rows instead of crashing") {
    val full = Files.createTempFile("graft-full", ".fits").toString
    writeFile(full, 0L, 1000)
    val truncated = Files.createTempFile("graft-trunc", ".fits").toString
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(full))
    // cut mid-data: keep header (2 blocks) + 100.5 rows of payload
    Files.write(java.nio.file.Paths.get(truncated),
      java.util.Arrays.copyOfRange(bytes, 0, 2880 * 2 + 100 * 8 + 4))
    try {
      val df = spark.read.format("fits").option("hdu", 1).load(truncated)
      assert(df.count() == 100L) // whole rows only
      assert(df.agg(max("v")).collect().head.getLong(0) == 99L)
    } finally {
      Files.deleteIfExists(java.nio.file.Paths.get(full))
      Files.deleteIfExists(java.nio.file.Paths.get(truncated))
    }
  }

  test("60 files read as one relation with a complete, exact union") {
    val dir = Files.createTempDirectory("graft-many").toFile
    val nFiles = 60
    val rowsPer = 500
    (0 until nFiles).foreach { f =>
      writeFile(s"$dir/part$f%03d.fits".replace("%03d", f"$f%03d"),
        f.toLong * rowsPer, rowsPer)
    }
    try {
      val df = spark.read.format("fits").option("hdu", 1)
        .load(dir.getAbsolutePath)
      val total = nFiles.toLong * rowsPer
      assert(df.count() == total)
      // exact union: every value 0 until total exactly once
      assert(df.distinct().count() == total)
      val s = df.agg(sum("v")).collect().head.getLong(0)
      assert(s == total * (total - 1) / 2)
      // metadata count pushdown also covers the multi-file path
      assert(df.groupBy().count().collect().head.getLong(0) == total)
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }

  test("getTable reuses inferSchema's resolution once, then lists afresh") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft-reuse").toFile
    writeFile(s"$dir/a.fits", 0L, 10)
    try {
      spark // planning reads the active session
      val props = Map("path" -> dir.getPath, "hdu" -> "1").asJava
      val provider = new FitsDataSource
      val schema = provider.inferSchema(new CaseInsensitiveStringMap(props))
      // a file landing after inferSchema is not in that load's listing,
      // and a later getTable on the same provider lists it
      writeFile(s"$dir/b.fits", 10L, 10)
      def plannedRows(): Long = provider.getTable(schema, Array.empty, props)
        .asInstanceOf[FitsTable].newScanBuilder(CaseInsensitiveStringMap.empty())
        .build().toBatch.planInputPartitions()
        .map(_.asInstanceOf[FitsInputPartition].numRows).sum
      assert(plannedRows() == 10L)
      assert(plannedRows() == 20L)
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}

object FitsManyFilesSpec {
  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def card(k: String, v: String): String =
    pad(pad(k, 8) + "= " + pad(v, 20), 80)

  /** one-column K bintable with `rows` rows starting at `base` */
  def writeFile(path: String, base: Long, rows: Int): Unit = {
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      val primary = Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"), pad("END", 80)).mkString
      out.write(primary.getBytes("US-ASCII"))
      out.write(" ".repeat(2880 - primary.length % 2880).getBytes("US-ASCII"))
      val hdr = Seq(
        card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", "8"),
        card("NAXIS2", rows.toString), card("PCOUNT", "0"),
        card("GCOUNT", "1"), card("TFIELDS", "1"),
        card("TTYPE1", "'v       '"), card("TFORM1", "'K       '"),
        pad("END", 80)).mkString
      out.write(hdr.getBytes("US-ASCII"))
      out.write(" ".repeat(2880 - hdr.length % 2880).getBytes("US-ASCII"))
      (0 until rows).foreach(i => out.writeLong(base + i))
      val dataLen = rows * 8L
      val padLen = ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt
      out.write(new Array[Byte](padLen))
    } finally out.close()
  }
}
