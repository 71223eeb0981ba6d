package graft.sources.fits

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import graft.sources.fits.core._

/** Direct-library facade (no SparkSession required) mirroring the
  * reference's `new Fits(path, conf, hduIndex)` usage surface
  * (FitsLib.scala:173-238, exercised by its FitsLibTest): header
  * access, HDU counting, boundary math, and row iteration for one HDU.
  *
  * {{{
  * val f = FitsFile.open("file:///data/cat.fits", hdu = 1)
  * f.header("NAXIS1"); f.nRows; f.schema
  * f.rows().take(10)   // Iterator[Seq[Any]]
  * }}}
  */
final class FitsFile private (
    val path: Path,
    val conf: Configuration,
    val hduIndex: Int,
    val hdus: Vector[Hdu]) {

  require(hduIndex >= 0 && hduIndex < hdus.length,
    s"HDU index $hduIndex does not exist in $path (file has ${hdus.length})")

  def nHdus: Int = hdus.length
  def hdu: Hdu = hdus(hduIndex)
  def header: FitsHeader = hdu.header
  def headerComments: Map[String, String] = hdu.header.comments
  def bounds: HduBounds = hdu.bounds
  def meta: HduMeta = hdu.meta
  def nRows: Long = meta.nRows
  def rowBytes: Int = meta.rowBytes
  def schema: org.apache.spark.sql.types.StructType = meta.schema

  /** Sequential row iterator (single-process convenience, like the
    * reference's manual setCursor/getRow loop — use the Spark connector
    * for anything large). Rows decode through the connector's
    * [[FitsColumnarReader]] and come back as the `Row.toSeq` values a
    * `spark.read.format("fits")` user gets for [[schema]]. Each chunk
    * of `bufferRows` rows (whole tile-row bands for a compressed image)
    * is its own partition, drained and closed before the next one
    * opens, so a partially-consumed iterator never leaks a stream.
    */
  def rows(bufferRows: Int = 1024): Iterator[Seq[Any]] = {
    val spec = DecodeSpec.of(meta, schema.indices.toArray)
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    val want = math.max(1, bufferRows).toLong
    // a compressed-image partition must start on a tile-row band's
    // first descriptor row: chunks are whole bands of lines
    val (chunk, offsetOf) = meta match {
      case c: HduMeta.CompImage =>
        ((want + c.tileH - 1) / c.tileH * c.tileH,
          (line: Long) => line / c.tileH * c.nTileCols * c.tableRowBytes.toLong)
      case m => (want, (row: Long) => row * m.rowBytes)
    }
    (0L until nRows by chunk).iterator.flatMap { first =>
      val reader = new FitsColumnarReader(FitsInputPartition(path.toString,
        bounds.dataStart + offsetOf(first), math.min(chunk, nRows - first),
        first, rowBytes, bufferBytes = 4 << 20, spec), conf)
      val out = Vector.newBuilder[Seq[Any]]
      try while (reader.next())
        reader.get().rowIterator().asScala.foreach { r =>
          out += toScala(r).asInstanceOf[Row].toSeq
        }
      finally reader.close()
      out.result()
    }
  }
}

object FitsFile {
  def open(pathStr: String, hdu: Int,
      conf: Configuration = new Configuration()): FitsFile = {
    val path = new Path(pathStr)
    val hdus = FitsStructure.scan(path.getFileSystem(conf), path)
    new FitsFile(path, conf, hdu, hdus)
  }
}
