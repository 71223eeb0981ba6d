package graft.sources.fits.core

import java.io.ByteArrayInputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Tile (de)compression dispatch for the FITS Tiled Image Compression
  * convention. Every codec maps compressed bytes → the tile's
  * uncompressed big-endian pixel payload (nPix × bytepix bytes), so the
  * reader's element decode is codec-independent.
  *
  *  - RICE_1      — [[Rice]] (integer types only)
  *  - GZIP_1      — gzip of the raw big-endian payload (any type)
  *  - GZIP_2      — gzip of the byte-plane-shuffled payload (all most-
  *                  significant bytes first, then the next plane, …)
  *  - HCOMPRESS_1 — [[HCompress]] (integer types; 2-D H-transform —
  *                  the stream self-describes its tile dims, so decode
  *                  needs only the expected pixel count)
  *  - NOCOMPRESS  — identity
  */
object TileCodec {

  val Supported: Set[String] =
    Set("RICE_1", "GZIP_1", "GZIP_2", "HCOMPRESS_1", "NOCOMPRESS")

  /** Upper bound on one variable-length element's payload (256 MB):
    * far above any legitimate array, document or tile, low enough that
    * a corrupt descriptor cannot ask an executor for a multi-GB
    * allocation. */
  val MaxVarElement: Long = 256L << 20

  /** Uncompressed big-endian tile payload for one descriptor row: the
    * COMPRESSED_DATA descriptor, else the GZIP_COMPRESSED_DATA /
    * UNCOMPRESSED_DATA per-tile fallbacks (a tile that didn't compress
    * is stored there with a zero-length main descriptor); null when no
    * column holds data. `nPix` is THIS tile's pixel count — edge tiles
    * of a 2D tiling are narrower/shorter than the declared ZTILE size.
    * Reads from the coalesced heap window when the payload falls inside
    * it, else one positioned read. The columnar reader's one entry to
    * tile payloads. */
  def compTileBytes(m: HduMeta.CompImage, rowBuf: Array[Byte],
      base: Int, heapBuf: Array[Byte], heapBase: Long, heapLen: Long,
      in: org.apache.hadoop.fs.FSDataInputStream,
      heapStart: Long, nPix: Int): Array[Byte] = {
    val expect = nPix * m.bytepix
    def payloadOf(off: Int, v: TForm.VarArr): Array[Byte] = {
      val (n0, hoff) = v.descriptor(rowBuf, base + off)
      if (n0 <= 0) return null
      val payload = n0 * v.elem.width
      if (n0 > v.maxLen || payload > MaxVarElement)
        throw new IllegalArgumentException(
          s"corrupt tile descriptor: count $n0 outside [0, ${v.maxLen}] " +
            s"or payload over $MaxVarElement bytes")
      val p = payload.toInt
      if (heapLen > 0 && hoff >= heapBase && hoff + p <= heapBase + heapLen)
        java.util.Arrays.copyOfRange(heapBuf,
          (hoff - heapBase).toInt, (hoff - heapBase).toInt + p)
      else {
        val b = new Array[Byte](p)
        in.readFully(heapStart + hoff, b, 0, p)
        b
      }
    }
    val cdB = payloadOf(m.cd._1, m.cd._2)
    if (cdB != null)
      decompress(m.cmpType, cdB, nPix, m.bytepix,
        m.blocksize, hsmooth = m.hsmooth)
    else {
      val gzB = m.gz.map(g => payloadOf(g._1, g._2)).orNull
      if (gzB != null) gunzip(gzB, expect)
      else {
        val ucB = m.uc.map(u => payloadOf(u._1, u._2)).orNull
        if (ucB == null) null
        else if (ucB.length != expect)
          throw new IllegalArgumentException(
            s"UNCOMPRESSED_DATA tile: ${ucB.length} bytes, expected $expect")
        else ucB
      }
    }
  }

  /** `hsmooth` applies only to HCOMPRESS_1 (the convention's SMOOTH
    * parameter — lossy-mode smoothed reconstruction). */
  def decompress(cmpType: String, comp: Array[Byte], nPix: Int,
      bytepix: Int, blocksize: Int,
      hsmooth: Boolean = false): Array[Byte] = cmpType match {
    case "RICE_1" => Rice.decode(comp, nPix, bytepix, blocksize)
    case "GZIP_1" => gunzip(comp, nPix * bytepix)
    case "GZIP_2" => unshuffle(gunzip(comp, nPix * bytepix), bytepix)
    case "HCOMPRESS_1" =>
      // expected pixel count validated against the stream header BEFORE
      // the decoder allocates; lossy-scale overshoot near the type
      // boundary clamps to the bytepix range (lossless values always
      // fit, so the clamp never alters an exact decode) instead of
      // wrapping in packBE's toByte/toShort narrowing.
      val d = HCompress.decode(comp, nPix, smooth = hsmooth)
      packBE(clampToBytepix(d.pixels, bytepix), bytepix)
    case "NOCOMPRESS" =>
      if (comp.length != nPix * bytepix)
        throw new IllegalArgumentException(
          s"NOCOMPRESS tile: ${comp.length} bytes for $nPix×$bytepix pixels")
      comp
    case other =>
      throw new IllegalArgumentException(s"unsupported ZCMPTYPE '$other'")
  }

  def compress(cmpType: String, tile: Array[Byte], bytepix: Int,
      blocksize: Int): Array[Byte] = cmpType match {
    case "RICE_1" => Rice.encode(tile, bytepix, blocksize)
    case "GZIP_1" => gzip(tile)
    case "GZIP_2" => gzip(shuffle(tile, bytepix))
    case "HCOMPRESS_1" => throw new IllegalArgumentException(
      "HCOMPRESS_1 needs tile dimensions — use compress2D")
    case "NOCOMPRESS" => tile
    case other =>
      throw new IllegalArgumentException(s"unsupported ZCMPTYPE '$other'")
  }

  /** Compression entry point that carries the tile geometry — required
    * by HCOMPRESS_1 (a 2-D transform); every other codec ignores it.
    * `tileW` is the row length, `tileH` the row count (row-major
    * payload), `hscale` the HCOMPRESS digitization scale (≤ 1 =
    * lossless). */
  def compress2D(cmpType: String, tile: Array[Byte], bytepix: Int,
      blocksize: Int, tileW: Int, tileH: Int, hscale: Int): Array[Byte] =
    cmpType match {
      case "HCOMPRESS_1" =>
        require(tileW > 0 && tileH > 0 &&
          tileW.toLong * tileH * bytepix == tile.length,
          s"HCOMPRESS tile geometry $tileW x $tileH x $bytepix B " +
            s"!= ${tile.length} payload bytes")
        HCompress.encode(unpackBE(tile, bytepix), tileH, tileW, hscale)
      case other => compress(other, tile, bytepix, blocksize)
    }

  /** Clamp decoded pixels to the representable range of the target
    * element width, in place (FITS bytes are unsigned 0..255, wider
    * integers signed). bytepix 4 is untouched — the decoder already
    * bounds its output to Int. */
  private def clampToBytepix(pix: Array[Int], bytepix: Int): Array[Int] = {
    if (bytepix == 1 || bytepix == 2) {
      val lo = if (bytepix == 1) 0 else Short.MinValue.toInt
      val hi = if (bytepix == 1) 255 else Short.MaxValue.toInt
      var i = 0
      while (i < pix.length) {
        if (pix(i) < lo) pix(i) = lo else if (pix(i) > hi) pix(i) = hi
        i += 1
      }
    }
    pix
  }

  /** Big-endian payload → int pixels: FITS bytes are unsigned, wider
    * integers signed (FITS 4.0 §5.2). */
  def unpackBE(raw: Array[Byte], bytepix: Int): Array[Int] = {
    val n = raw.length / bytepix
    val out = new Array[Int](n)
    var i = 0
    bytepix match {
      case 1 => while (i < n) { out(i) = raw(i) & 0xFF; i += 1 }
      case 2 => while (i < n) {
        out(i) = (raw(2 * i) << 8) | (raw(2 * i + 1) & 0xFF); i += 1
      }
      case 4 => while (i < n) {
        out(i) = (raw(4 * i) << 24) | ((raw(4 * i + 1) & 0xFF) << 16) |
          ((raw(4 * i + 2) & 0xFF) << 8) | (raw(4 * i + 3) & 0xFF)
        i += 1
      }
      case other => throw new IllegalArgumentException(
        s"HCOMPRESS bytepix $other (1, 2 or 4 supported)")
    }
    out
  }

  /** Int pixels → big-endian payload (inverse of [[unpackBE]]). */
  def packBE(pix: Array[Int], bytepix: Int): Array[Byte] = {
    val out = new Array[Byte](pix.length * bytepix)
    var i = 0
    bytepix match {
      case 1 => while (i < pix.length) { out(i) = pix(i).toByte; i += 1 }
      case 2 => while (i < pix.length) {
        out(2 * i) = (pix(i) >> 8).toByte
        out(2 * i + 1) = pix(i).toByte
        i += 1
      }
      case 4 => while (i < pix.length) {
        out(4 * i) = (pix(i) >> 24).toByte
        out(4 * i + 1) = (pix(i) >> 16).toByte
        out(4 * i + 2) = (pix(i) >> 8).toByte
        out(4 * i + 3) = pix(i).toByte
        i += 1
      }
      case other => throw new IllegalArgumentException(
        s"HCOMPRESS bytepix $other (1, 2 or 4 supported)")
    }
    out
  }

  def gunzip(comp: Array[Byte], expect: Int): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(comp))
    try {
      val out = new Array[Byte](expect)
      var off = 0
      var n = 0
      while (off < expect && { n = in.read(out, off, expect - off); n > 0 })
        off += n
      if (off != expect) throw new IllegalArgumentException(
        s"gzip tile: expected $expect bytes, got $off")
      out
    } finally in.close()
  }

  def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    val out = new GZIPOutputStream(bos)
    out.write(raw); out.finish(); out.close()
    bos.toByteArray
  }

  /** GZIP_2 byte-plane transpose: plane b holds byte b of every pixel. */
  def shuffle(raw: Array[Byte], bytepix: Int): Array[Byte] = {
    val n = raw.length / bytepix
    val out = new Array[Byte](raw.length)
    var i = 0
    while (i < n) {
      var b = 0
      while (b < bytepix) { out(b * n + i) = raw(i * bytepix + b); b += 1 }
      i += 1
    }
    out
  }

  def unshuffle(shuffled: Array[Byte], bytepix: Int): Array[Byte] = {
    val n = shuffled.length / bytepix
    val out = new Array[Byte](shuffled.length)
    var i = 0
    while (i < n) {
      var b = 0
      while (b < bytepix) { out(i * bytepix + b) = shuffled(b * n + i); b += 1 }
      i += 1
    }
    out
  }
}
