package graft.sources.fits.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Direct-library facade (no Spark required) mirroring the reference's
  * `new Fits(path, conf, hduIndex)` usage surface (FitsLib.scala:173-238,
  * exercised by its FitsLibTest): header access, HDU counting, boundary
  * math, and row iteration for one HDU.
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

  /** Sequential row iterator (driver-side convenience, like the
    * reference's manual setCursor/getRow loop — use the Spark connector
    * for anything large). Each buffered chunk opens, preads and closes
    * the file, so a partially-consumed iterator never leaks a stream.
    */
  def rows(bufferRows: Int = 1024): Iterator[Seq[Any]] = {
    def readChunk(startByte: Long, len: Int): Array[Byte] = {
      val in = path.getFileSystem(conf).open(path)
      try {
        val buf = new Array[Byte](len)
        in.readFully(startByte, buf, 0, len)
        buf
      } finally in.close()
    }
    meta match {
      case b: HduMeta.Bintable =>
        val chunk = math.max(1, bufferRows)
        (0L until b.nRows by chunk).iterator.flatMap { first =>
          val n = math.min(chunk.toLong, b.nRows - first).toInt
          val buf = readChunk(bounds.dataStart + first * b.rowBytes,
            n * b.rowBytes)
          (0 until n).iterator.map { r =>
            val base = r * b.rowBytes
            b.columns.map(c => c.tform.decode(buf, base + c.offset)): Seq[Any]
          }
        }
      case i: HduMeta.Image =>
        val chunk = math.max(1, bufferRows)
        (0L until i.nRows by chunk).iterator.flatMap { first =>
          val n = math.min(chunk.toLong, i.nRows - first).toInt
          val buf = readChunk(bounds.dataStart + first * i.rowBytes,
            n * i.rowBytes)
          (0 until n).iterator.map { r =>
            val base = r * i.rowBytes
            val line = (0 until i.lineElems)
              .map(j => i.elem.decode(buf, base + j * i.elem.width))
            Seq(line, first + r): Seq[Any]
          }
        }
      case c: HduMeta.CompImage =>
        // one emitted row per IMAGE LINE; each tile-row band's tiles
        // decompress once (per-band pread) and serve tileH lines. The
        // shared compTileBytes applies the descriptor sanity bounds —
        // a corrupt or hostile descriptor fails loudly instead of
        // driving a near-2GB allocation.
        val width = c.lineElems
        var cachedBand = -1L
        var tiles: Array[Array[Byte]] = null
        var qScale: Array[Double] = null
        var qZero: Array[Double] = null
        var qBlank: Array[Option[Long]] = null
        def loadBand(band: Long): Unit = {
          val rowB = c.tableRowBytes
          val buf = readChunk(
            bounds.dataStart + band * c.nTileCols * rowB.toLong,
            c.nTileCols * rowB)
          val bandH = math.min(c.tileH.toLong, c.nLines - band * c.tileH).toInt
          val out = new Array[Array[Byte]](c.nTileCols)
          if (c.quant.isDefined && qScale == null) {
            qScale = new Array[Double](c.nTileCols)
            qZero = new Array[Double](c.nTileCols)
            qBlank = new Array[Option[Long]](c.nTileCols)
          }
          val in = path.getFileSystem(conf).open(path)
          try {
            var tc = 0
            var c0 = 0
            while (tc < c.nTileCols) {
              val tw = math.min(c.tileWidth, width - c0)
              out(tc) = TileCodec.compTileBytes(
                c, buf, tc * rowB, Array.emptyByteArray, 0L, 0L, in,
                c.heapStart, tw * bandH)
              c.quant.foreach { q =>
                val ro = tc * rowB
                qScale(tc) =
                  if (q.scaleOff >= 0) java.lang.Double.longBitsToDouble(
                    ElemType.i64(buf, ro + q.scaleOff))
                  else q.scale
                qZero(tc) =
                  if (q.zeroOff >= 0) java.lang.Double.longBitsToDouble(
                    ElemType.i64(buf, ro + q.zeroOff))
                  else q.zero
                qBlank(tc) =
                  if (q.blankOff >= 0)
                    Some(ElemType.i32(buf, ro + q.blankOff).toLong)
                  else q.blank
              }
              c0 += tw
              tc += 1
            }
          } finally in.close()
          tiles = out
          cachedBand = band
        }
        (0L until c.nLines).iterator.map { line =>
          val band = line / c.tileH
          if (band != cachedBand) loadBand(band)
          val rowInBand = (line - band * c.tileH).toInt
          val quantized = c.quant.isDefined
          val isFloat = c.elem == ElemType.E
          val storedW = if (quantized) 4 else c.elem.width
          val out =
            if (tiles.exists(_ == null)) null
            else {
              val arr = Vector.newBuilder[Any]
              var c0 = 0
              var tc = 0
              while (tc < tiles.length) {
                val tw = math.min(c.tileWidth, width - c0)
                val srcOff = rowInBand * tw * storedW
                var j = 0
                while (j < tw) {
                  arr += (
                    if (!quantized)
                      c.elem.decode(tiles(tc), srcOff + j * storedW)
                    else {
                      val code = ElemType.i32(tiles(tc), srcOff + j * 4)
                      if (qBlank(tc).contains(code.toLong)) null
                      else if (isFloat)
                        (qScale(tc) * code + qZero(tc)).toFloat
                      else qScale(tc) * code + qZero(tc)
                    })
                  j += 1
                }
                c0 += tw
                tc += 1
              }
              arr.result()
            }
          Seq(out, line): Seq[Any]
        }
      case HduMeta.Opaque => Iterator.empty
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
