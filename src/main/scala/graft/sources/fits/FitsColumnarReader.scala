package graft.sources.fits

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.fits.core._

/** The FITS scan's reader: decodes rows straight into
  * OnHeapColumnVectors, 4096 rows per ColumnarBatch (SURVEY §7 step 10
  * — the scan feeds whole-stage codegen through ColumnarToRow exactly
  * like Spark's vectorized parquet reader, skipping per-row
  * InternalRow materialization). Every HDU shape and column form takes
  * this one path. Fixed-width columns decode from the chunk buffer;
  * TDIM columns fill nested child vectors; variable-length (P/Q)
  * columns and compressed-image tiles resolve their heap payloads
  * through a per-chunk coalesced heap window (per-row pread fallback).
  * A projection with no data column (a metadata-only or constant
  * select) emits batches that carry only a row count and reads no
  * data bytes.
  *
  * Strings are trimmed at the byte level (code points ≤ U+0020 are
  * single bytes in UTF-8, so byte-trim ≡ String.trim) with no
  * intermediate String allocation.
  */
final class FitsColumnarReader(part: FitsInputPartition,
    conf: Configuration = new Configuration())
    extends PartitionReader[ColumnarBatch] {

  private val path = new Path(part.file)
  private val in = path.getFileSystem(conf).open(path)

  /** Full-line stride in the FILE — always the HDU's row width. */
  private val srcRowBytes = part.rowBytes
  /** Buffer stride. For a plain image with a pushed column window
    * worth strided IO ([[DecodeSpec.Image.ioWindow]]) the buffer holds
    * only each line's window, packed at window-bytes stride, filled by
    * one positioned read per line at `winOffBytes` into the line; for
    * everything else the two strides coincide and chunks fill with one
    * big sequential read. */
  private val (winOffBytes, rowBytes) = part.spec match {
    case img: DecodeSpec.Image if img.ioWindow =>
      (img.colLo.toLong * img.elem.width, img.windowBytes)
    case _ => (0L, part.rowBytes)
  }
  private def ioWindowed: Boolean = rowBytes != srcRowBytes || winOffBytes > 0
  // IO chunk is independent of the batch size: one large positioned
  // read feeds many ColumnarBatches (a 4-byte-row table would otherwise
  // do 16 KB reads). For wide rows the batch shrinks with the buffer so
  // the allocation stays bounded by bufferBytes (no Int overflow on
  // multi-MB rows).
  private val chunkRowsMax: Int = {
    val byBuffer = math.max(1L, part.bufferBytes.toLong / rowBytes)
    part.spec match {
      case DecodeSpec.CompImage(m, _, _, _) =>
        // numRows counts image LINES here; the buffer holds descriptor
        // TABLE rows and must cover whole tile-row bands
        val bands = (part.numRows + m.tileH - 1) / m.tileH
        val need = bands * m.nTileCols
        val capBands = math.max(1L, byBuffer / m.nTileCols)
        math.min(capBands * m.nTileCols, need).toInt.max(m.nTileCols)
      case _ => math.min(byBuffer, part.numRows).toInt.max(1)
    }
  }
  private val batchRows: Int = part.spec match {
    case _: DecodeSpec.CompImage =>
      math.min(4096L, part.numRows).toInt.max(1)
    case _ =>
      math.min(4096L, math.min(chunkRowsMax.toLong, part.numRows)).toInt.max(1)
  }
  private val schema: StructType = part.spec match {
    case DecodeSpec.Bintable(cs, _) =>
      StructType(cs.map(c => org.apache.spark.sql.types.StructField(
        c.name, c.tform.sparkType, nullable = true)).toSeq)
    case DecodeSpec.CompImage(m, fieldKinds, _, _) =>
      StructType(fieldKinds.map {
        case 0 => org.apache.spark.sql.types.StructField("Image",
          org.apache.spark.sql.types.ArrayType(m.elem.sparkType, true), true)
        case _ => org.apache.spark.sql.types.StructField("ImgIndex",
          org.apache.spark.sql.types.LongType, true)
      }.toSeq)
    case DecodeSpec.Image(elem, _, fieldKinds, _, _, _) =>
      StructType(fieldKinds.map {
        case 0 => org.apache.spark.sql.types.StructField("Image",
          org.apache.spark.sql.types.ArrayType(elem.sparkType, true), true)
        case _ => org.apache.spark.sql.types.StructField("ImgIndex",
          org.apache.spark.sql.types.LongType, true)
      }.toSeq)
  }
  // no data column ⇒ no data read, so no chunk buffer either
  private val buf =
    new Array[Byte](if (schema.isEmpty) 0 else chunkRowsMax * rowBytes)
  private var chunkStartRow = 0L // absolute row index of buf(0)
  private var chunkRows = 0 // valid rows in buf

  // -------------------------------------- tile-compressed image support
  // (descriptor rows in `buf`, tile payloads via the coalesced heap
  // window, decode into vectors)

  private val compMeta: HduMeta.CompImage = part.spec match {
    case DecodeSpec.CompImage(m, _, _, _) => m
    case _ => null
  }
  // pushed pixel-column window of a tile-compressed image: only tiles
  // intersecting [compColLo, compColLo+compColN) decompress — the
  // tile-x half of the 2-D cutout pushdown
  private val (compColLo, compColN) = part.spec match {
    case DecodeSpec.CompImage(_, _, lo, n) => (lo, n)
    case _ => (0, 0)
  }
  /** (first pixel column, width) of each tile column of a band. */
  private val compSpans: Array[(Int, Int)] =
    if (compMeta == null) Array.empty
    else {
      val out = new Array[(Int, Int)](compMeta.nTileCols)
      var c0 = 0
      var tc = 0
      while (tc < compMeta.nTileCols) {
        val tw = math.min(compMeta.tileWidth, compMeta.lineElems - c0)
        out(tc) = (c0, tw)
        c0 += tw
        tc += 1
      }
      out
    }
  private def tileSelected(tc: Int): Boolean = {
    val (c0, tw) = compSpans(tc)
    c0 < compColLo + compColN && c0 + tw > compColLo
  }
  private val heapStart: Long = part.spec match {
    case DecodeSpec.CompImage(m, _, _, _) => m.heapStart
    case DecodeSpec.Bintable(_, h) => h // −1 when no P/Q col survives
    case _ => -1L
  }
  // empty when the Image column is pruned away: an ImgIndex-only
  // projection must not coalesce-read the tile heap. For bintables the
  // projection-pruned column set already carries only surviving P/Q
  // columns.
  private val varCols: Array[(Int, TForm.VarArr)] = part.spec match {
    case DecodeSpec.CompImage(m, fieldKinds, _, _) if fieldKinds.contains(0) =>
      m.heapCols.toArray
    case DecodeSpec.Bintable(cs, _) => cs.collect {
      case c if c.tform.isInstanceOf[TForm.VarArr] &&
        !c.tform.asInstanceOf[TForm.VarArr].degraded =>
        (c.offset, c.tform.asInstanceOf[TForm.VarArr])
    }
    case _ => Array.empty
  }
  private val MaxHeapSpan: Long = 64L << 20
  private var heapBuf: Array[Byte] = Array.emptyByteArray
  private var heapBase = 0L
  private var heapLen = 0L

  /** One pass over the chunk's descriptors → union heap span, read once
    * (rows and tiles written sequentially reference a near-contiguous
    * span). */
  private def coalesceHeap(): Unit = {
    heapLen = 0L
    if (varCols.isEmpty || heapStart < 0) return
    var lo = Long.MaxValue
    var hi = 0L
    var r = 0
    while (r < chunkRows) {
      val base = r * rowBytes
      // tile-x pruning: a compressed chunk's rows are tile descriptors
      // in row-major band order — rows of window-excluded tile columns
      // must not widen the coalesced heap span, or the one big heap
      // read would fetch every pruned tile's payload anyway
      val skip = compMeta != null &&
        !tileSelected((r % compMeta.nTileCols).toInt)
      var k = if (skip) varCols.length else 0
      while (k < varCols.length) {
        val (off, v) = varCols(k)
        val (nd, hoff) = v.descriptor(buf, base + off)
        if (nd > 0 && nd <= v.maxLen && hoff >= 0) {
          val end = hoff + nd * v.elem.width
          if (hoff < lo) lo = hoff
          if (end > hi) hi = end
        }
        k += 1
      }
      r += 1
    }
    if (lo < hi && hi - lo <= MaxHeapSpan) {
      if (heapBuf.length < (hi - lo).toInt)
        heapBuf = new Array[Byte]((hi - lo).toInt)
      in.readFully(heapStart + lo, heapBuf, 0, (hi - lo).toInt)
      heapBase = lo
      heapLen = hi - lo
    }
  }
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchRows, schema)
  private val batch = new ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))

  private var emitted = 0L

  override def next(): Boolean = part.spec match {
    case DecodeSpec.CompImage(m, fieldKinds, _, _) => nextComp(m, fieldKinds)
    case _ => nextRows()
  }

  private def nextRows(): Boolean = {
    if (emitted >= part.numRows) return false
    if (vectors.isEmpty) {
      // no data column: the batch carries a row count only
      val n = math.min(batchRows.toLong, part.numRows - emitted).toInt
      batch.setNumRows(n)
      emitted += n
      return true
    }
    if (emitted >= chunkStartRow + chunkRows) {
      chunkStartRow = emitted
      chunkRows = math.min(chunkRowsMax.toLong, part.numRows - emitted).toInt
      if (ioWindowed) {
        // strided window reads: one pread per line, window bytes only
        // — a 100-px cutout of a 100k-px-wide exposure reads ~0.1% of
        // each line instead of all of it
        var r = 0
        while (r < chunkRows) {
          in.readFully(
            part.startByte + (chunkStartRow + r) * srcRowBytes + winOffBytes,
            buf, r * rowBytes, rowBytes)
          r += 1
        }
      } else
        in.readFully(part.startByte + chunkStartRow * srcRowBytes, buf, 0,
          chunkRows * rowBytes)
      coalesceHeap()
    }
    val base = ((emitted - chunkStartRow) * rowBytes).toInt
    val n = math.min(batchRows.toLong,
      chunkStartRow + chunkRows - emitted).toInt
    part.spec match {
      case DecodeSpec.Bintable(cs, _) =>
        var c = 0
        while (c < cs.length) {
          vectors(c).reset()
          fillColumn(cs(c), vectors(c), base, n)
          c += 1
        }
      case _: DecodeSpec.CompImage => throw new IllegalStateException(
        "tile-compressed images take nextComp")
      case DecodeSpec.Image(elem, _, fieldKinds, colLo, colN, ioWin) =>
        var c = 0
        while (c < fieldKinds.length) {
          val v = vectors(c)
          v.reset()
          // with strided window IO the buffer already holds ONLY the
          // window, so decode starts at element 0 of each buffered line
          if (fieldKinds(c) == 0)
            fillImage(elem, if (ioWin) 0 else colLo, colN, v, base, n)
          else {
            var r = 0
            while (r < n) {
              v.putLong(r, part.firstRowIndex + emitted + r); r += 1
            }
          }
          c += 1
        }
    }
    batch.setNumRows(n)
    emitted += n
    true
  }

  /** One image line per row: fixed-length array column, restricted to
    * the pushed column window — `dLo` is the first decoded element
    * WITHIN the buffered line (0 under strided window IO, the window's
    * colLo otherwise), `colN` the emitted width. */
  private def fillImage(elem: ElemType, dLo: Int, colN: Int,
      v: OnHeapColumnVector, chunkBase: Int, n: Int): Unit = {
    val child = v.arrayData()
    child.reserve(n * colN)
    val w = elem.width
    var r = 0
    while (r < n) {
      val rowOff = chunkBase + r * rowBytes
      var j = 0
      while (j < colN) {
        val o = rowOff + (dLo + j) * w
        val idx = r * colN + j
        elem match {
          case ElemType.L => child.putBoolean(idx, buf(o) == 'T'.toByte)
          case ElemType.B => child.putByte(idx, buf(o))
          case ElemType.I => child.putShort(idx, ElemType.s16(buf, o))
          case ElemType.J => child.putInt(idx, i32(o))
          case ElemType.K => child.putLong(idx, i64(o))
          case ElemType.E =>
            child.putFloat(idx, java.lang.Float.intBitsToFloat(i32(o)))
          case ElemType.D =>
            child.putDouble(idx, java.lang.Double.longBitsToDouble(i64(o)))
          case se: ElemType.ScaledElem => putScaled(se, child, idx, o)
          case be: ElemType.BlankElem => putBlanked(be, child, idx, o)
        }
        j += 1
      }
      v.putArray(r, r * colN, colN)
      r += 1
    }
  }

  /** BLANK-sentinel integer image element: NULL on the sentinel, else
    * the (possibly scaled) value, unboxed. */
  @inline private def putBlanked(be: ElemType.BlankElem,
      v: WritableColumnVector,
      idx: Int, o: Int, src: Array[Byte] = buf): Unit =
    if (be.isBlankAt(src, o)) v.putNull(idx)
    else be.inner match {
      case ElemType.B => v.putByte(idx, src(o))
      case ElemType.I => v.putShort(idx, ElemType.s16(src, o))
      case ElemType.J => v.putInt(idx, ElemType.i32(src, o))
      case ElemType.K => v.putLong(idx, ElemType.i64(src, o))
      case se: ElemType.ScaledElem => putScaled(se, v, idx, o, src)
      case other => throw new IllegalStateException(
        s"BLANK on non-integer element $other")
    }

  // -------------------------- tile-compressed images: band/line path
  // One emitted row = one IMAGE LINE. A chunk holds whole tile-row
  // bands' descriptor rows; payloads come from the coalesced heap
  // window; each band's tiles decompress once and serve tileH lines.
  // `emitted` and `part.numRows` count LINES on this path; the chunk
  // bookkeeping below counts bands/table rows.

  private var chunkFirstBand = 0L
  private var chunkBandsN = 0L
  private var cachedBand = -1L
  private var bandTiles: Array[Array[Byte]] = null
  // per-tile quantization params of the cached band (quantized floats)
  private var bandScale: Array[Double] = null
  private var bandZero: Array[Double] = null
  private var bandBlank: Array[Long] = null
  private var bandHasBlank: Array[Boolean] = null
  // per-tile subtractive-dither offsets of the cached band, indexed by
  // in-tile pixel position (lines read out of stream order, so the
  // tile's whole offset run is materialized at band load)
  private var bandRand: Array[Array[Float]] = null

  private def nextComp(m: HduMeta.CompImage,
      fieldKinds: Array[Int]): Boolean = {
    if (emitted >= part.numRows) return false
    val line = part.firstRowIndex + emitted
    val needTiles = fieldKinds.contains(0)
    var n = math.min(batchRows.toLong, part.numRows - emitted).toInt
    if (needTiles) {
      val band = line / m.tileH
      if (chunkBandsN == 0 || band >= chunkFirstBand + chunkBandsN) {
        val endBand =
          (part.firstRowIndex + part.numRows + m.tileH - 1) / m.tileH
        val capBands = math.max(1, chunkRowsMax / m.nTileCols)
        chunkFirstBand = band
        chunkBandsN = math.min(capBands.toLong, endBand - band)
        chunkRows = (chunkBandsN * m.nTileCols).toInt
        val partFirstBand = part.firstRowIndex / m.tileH
        in.readFully(
          part.startByte +
            (band - partFirstBand) * m.nTileCols.toLong * rowBytes,
          buf, 0, chunkRows * rowBytes)
        coalesceHeap()
        cachedBand = -1L
      }
      val chunkEndLine = math.min((chunkFirstBand + chunkBandsN) * m.tileH,
        part.firstRowIndex + part.numRows)
      n = math.min(n.toLong, chunkEndLine - line).toInt
    }
    var c = 0
    while (c < fieldKinds.length) {
      val v = vectors(c)
      v.reset()
      if (fieldKinds(c) == 0) fillCompLines(m, v, line, n)
      else {
        var r = 0
        while (r < n) { v.putLong(r, line + r); r += 1 }
      }
      c += 1
    }
    batch.setNumRows(n)
    emitted += n
    true
  }

  /** Decompresses band `band`'s tiles (edge tiles are narrower/shorter
    * than the declared ZTILE size) into the band cache, along with the
    * per-tile quantization params when the image is quantized. */
  private def loadBandTiles(m: HduMeta.CompImage, band: Long): Unit = {
    val tiles = new Array[Array[Byte]](m.nTileCols)
    val bandH = math.min(m.tileH.toLong, m.nLines - band * m.tileH).toInt
    val rowBase = ((band - chunkFirstBand) * m.nTileCols).toInt
    if (m.quant.isDefined && bandScale == null) {
      bandScale = new Array[Double](m.nTileCols)
      bandZero = new Array[Double](m.nTileCols)
      bandBlank = new Array[Long](m.nTileCols)
      bandHasBlank = new Array[Boolean](m.nTileCols)
      if (m.quant.get.dither > 0)
        bandRand = new Array[Array[Float]](m.nTileCols)
    }
    var tc = 0
    var c0 = 0
    while (tc < m.nTileCols) {
      val tw = math.min(m.tileWidth, m.lineElems - c0)
      // tile-x pruning: a tile outside the pushed column window never
      // decompresses (nor preads its payload, nor generates its dither
      // stream) — fillCompLines skips it symmetrically
      if (tileSelected(tc)) {
        tiles(tc) = TileCodec.compTileBytes(m, buf,
          (rowBase + tc) * rowBytes, heapBuf, heapBase, heapLen, in,
          heapStart, tw * bandH)
        m.quant.foreach { q =>
          val ro = (rowBase + tc) * rowBytes
          bandScale(tc) =
            if (q.scaleOff >= 0) java.lang.Double.longBitsToDouble(
              ElemType.i64(buf, ro + q.scaleOff))
            else q.scale
          bandZero(tc) =
            if (q.zeroOff >= 0) java.lang.Double.longBitsToDouble(
              ElemType.i64(buf, ro + q.zeroOff))
            else q.zero
          if (q.blankOff >= 0) {
            bandBlank(tc) = ElemType.i32(buf, ro + q.blankOff).toLong
            bandHasBlank(tc) = true
          } else {
            bandHasBlank(tc) = q.blank.isDefined
            bandBlank(tc) = q.blank.getOrElse(0L)
          }
          if (q.dither > 0) {
            // 1-based tile sequence number in row-major table order
            val tileNum = band * m.nTileCols + tc + 1
            bandRand(tc) = new graft.sources.fits.core.FitsDither
              .Stream(tileNum, q.ditherSeed).take(tw * bandH)
          }
        }
      } else tiles(tc) = null
      c0 += tw
      tc += 1
    }
    bandTiles = tiles
    cachedBand = band
  }

  /** Fills `n` image lines starting at absolute line `firstLine` from
    * cached band tiles, restricted to the pushed column window. A line
    * whose band holds any empty WINDOW-INTERSECTING tile yields a NULL
    * Image cell (no partial lines); window-excluded tiles are never
    * decompressed and never consulted. */
  private def fillCompLines(m: HduMeta.CompImage, v: OnHeapColumnVector,
      firstLine: Long, n: Int): Unit = {
    val width = compColN
    val colEnd = compColLo + compColN
    val child = v.arrayData()
    child.reserve(n * width)
    val elem = m.elem
    val w = elem.width
    var r = 0
    while (r < n) {
      val line = firstLine + r
      val band = line / m.tileH
      if (band != cachedBand) loadBandTiles(m, band)
      val rowInBand = (line - band * m.tileH).toInt
      var anyNull = false
      var tc = 0
      while (tc < bandTiles.length && !anyNull) {
        if (bandTiles(tc) == null && tileSelected(tc)) anyNull = true
        tc += 1
      }
      if (anyNull) v.putNull(r)
      else if (m.quant.isDefined) {
        // quantized floats: int32 codes, physical = s·code + z per
        // tile (NO_DITHER) or s·(code − rand + 0.5) + z (SUBTRACTIVE_
        // DITHER_1/2); ZBLANK codes surface as element NULLs and
        // DITHER_2's ZeroVal restores exact 0.0
        val base = r * width
        val isFloat = elem == ElemType.E
        val dither = m.quant.get.dither
        tc = 0
        while (tc < bandTiles.length) {
          if (tileSelected(tc)) {
            val tile = bandTiles(tc)
            val (c0, tw) = compSpans(tc)
            val srcOff = rowInBand * tw * 4
            val randBase = rowInBand * tw
            val rnd = if (dither > 0) bandRand(tc) else null
            val s = bandScale(tc)
            val z = bandZero(tc)
            val hasBlank = bandHasBlank(tc)
            val blank = bandBlank(tc)
            var j = math.max(0, compColLo - c0)
            val jEnd = math.min(tw, colEnd - c0)
            while (j < jEnd) {
              val code = ElemType.i32(tile, srcOff + j * 4)
              val idx = base + c0 + j - compColLo
              if (hasBlank && code.toLong == blank) child.putNull(idx)
              else if (dither == 2 &&
                  code == graft.sources.fits.core.FitsDither.ZeroVal) {
                if (isFloat) child.putFloat(idx, 0f)
                else child.putDouble(idx, 0.0)
              } else {
                val v =
                  if (dither > 0) s * (code - rnd(randBase + j) + 0.5) + z
                  else s * code + z
                if (isFloat) child.putFloat(idx, v.toFloat)
                else child.putDouble(idx, v)
              }
              j += 1
            }
          }
          tc += 1
        }
        v.putArray(r, base, width)
      } else {
        val base = r * width
        tc = 0
        while (tc < bandTiles.length) {
          if (!tileSelected(tc)) { tc += 1 }
          else {
          val tile = bandTiles(tc)
          val (c0, tw) = compSpans(tc)
          val srcOff = rowInBand * tw * w
          var j = math.max(0, compColLo - c0)
          val jEnd = math.min(tw, colEnd - c0)
          while (j < jEnd) {
            val o = srcOff + j * w
            val idx = base + c0 + j - compColLo
            elem match {
              case ElemType.L => child.putBoolean(idx, tile(o) == 'T'.toByte)
              case ElemType.B => child.putByte(idx, tile(o))
              case ElemType.I => child.putShort(idx, ElemType.s16(tile, o))
              case ElemType.J => child.putInt(idx, ElemType.i32(tile, o))
              case ElemType.K => child.putLong(idx, ElemType.i64(tile, o))
              case ElemType.E => child.putFloat(idx,
                java.lang.Float.intBitsToFloat(ElemType.i32(tile, o)))
              case ElemType.D => child.putDouble(idx,
                java.lang.Double.longBitsToDouble(ElemType.i64(tile, o)))
              case se: ElemType.ScaledElem =>
                putScaled(se, child, idx, o, tile)
              case be: ElemType.BlankElem =>
                putBlanked(be, child, idx, o, tile)
            }
            j += 1
          }
          tc += 1
          }
        }
        v.putArray(r, base, width)
      }
      r += 1
    }
  }

  /** BSCALE/TSCAL-scaled element into a column vector, unboxed (the
    * primitive-typed decoders on ScaledElem exist for exactly this). */
  @inline private def putScaled(se: ElemType.ScaledElem,
      v: WritableColumnVector,
      idx: Int, o: Int, src: Array[Byte] = buf): Unit =
    se.sparkType match {
      case org.apache.spark.sql.types.ByteType =>
        v.putByte(idx, se.decodeByteExact(src, o))
      case org.apache.spark.sql.types.IntegerType =>
        v.putInt(idx, se.decodeIntExact(src, o))
      case org.apache.spark.sql.types.LongType =>
        v.putLong(idx, se.decodeLongExact(src, o))
      case _ => v.putDouble(idx, se.decodeDouble(src, o))
    }

  private def fillColumn(col: BintableColumn, v: OnHeapColumnVector,
      chunkBase: Int, n: Int): Unit = {
    val off = chunkBase + col.offset
    col.tform match {
      case TForm.Scalar(_, elem) =>
        elem match {
          case ElemType.L =>
            var r = 0
            while (r < n) {
              buf(r * rowBytes + off) match {
                case 'T' => v.putBoolean(r, true)
                case 'F' => v.putBoolean(r, false)
                case _ => v.putNull(r) // undefined logical
              }
              r += 1
            }
          case ElemType.B =>
            var r = 0
            while (r < n) { v.putByte(r, buf(r * rowBytes + off)); r += 1 }
          case ElemType.I =>
            var r = 0
            while (r < n) {
              v.putShort(r, ElemType.s16(buf, r * rowBytes + off)); r += 1
            }
          case ElemType.J =>
            var r = 0
            while (r < n) { v.putInt(r, i32(r * rowBytes + off)); r += 1 }
          case ElemType.K =>
            var r = 0
            while (r < n) { v.putLong(r, i64(r * rowBytes + off)); r += 1 }
          case ElemType.E =>
            var r = 0
            while (r < n) {
              v.putFloat(r, java.lang.Float.intBitsToFloat(i32(r * rowBytes + off)))
              r += 1
            }
          case ElemType.D =>
            var r = 0
            while (r < n) {
              v.putDouble(r, java.lang.Double.longBitsToDouble(i64(r * rowBytes + off)))
              r += 1
            }
          case e @ (_: ElemType.ScaledElem | _: ElemType.BlankElem) =>
            throw new IllegalStateException(
            s"scaled element $e inside a raw Scalar — TForm.scaled wraps " +
              "at the TForm level (TForm.Scaled), never inside Scalar")
        }
      case TForm.WithNull(TForm.Scalar(_, elem), sentinel) =>
        var r = 0
        while (r < n) {
          putNullable(v, r, elem, r * rowBytes + off, sentinel); r += 1
        }
      case x: TForm.Bits =>
        // bit field: one raw byte blob per row inside a 1-element array
        val child = v.arrayData()
        var r = 0
        while (r < n) {
          child.putByteArray(r, buf, r * rowBytes + off, x.byteWidth)
          v.putArray(r, r, 1)
          r += 1
        }
      // ASCII TABLE numbers: a blank or malformed field reads as NULL
      case a: TForm.AsciiInt =>
        var r = 0
        while (r < n) {
          val o = r * rowBytes + off
          try
            if (TForm.isBlank(buf, o, a.byteWidth)) v.putNull(r)
            else v.putLong(r, a.parseLong(buf, o))
          catch { case _: NumberFormatException => v.putNull(r) }
          r += 1
        }
      case a: TForm.AsciiReal =>
        var r = 0
        while (r < n) {
          val o = r * rowBytes + off
          try
            if (TForm.isBlank(buf, o, a.byteWidth)) v.putNull(r)
            else v.putDouble(r, a.parseDouble(buf, o))
          catch { case _: NumberFormatException => v.putNull(r) }
          r += 1
        }
      case TForm.Str(_, len) =>
        var r = 0
        while (r < n) {
          val start = r * rowBytes + off
          // byte-level trim of code points <= U+0020 (see class doc)
          var from = start
          var until = start + len
          while (from < until && (buf(from) & 0xff) <= 0x20) from += 1
          while (until > from && (buf(until - 1) & 0xff) <= 0x20) until -= 1
          v.putByteArray(r, buf, from, until - from)
          r += 1
        }
      case sc: TForm.Scaled if !sc.isArray =>
        var r = 0
        while (r < n) { putScaled(sc.element, v, r, r * rowBytes + off); r += 1 }
      case _: TForm.Vec | _: TForm.Scaled | _: TForm.WithNull =>
        putRuns(v, n, fillVecElems(col.tform, v.arrayData(), off, n))
      case m: TForm.Md =>
        // TDIM: the flat elements fill the innermost vector exactly as
        // a plain vector column's do; each nesting level above then
        // holds fixed-length runs, first axis (d1) innermost
        val k = m.dims.length
        val levels = Iterator.iterate(v: WritableColumnVector)(_.arrayData())
          .take(k + 1).toArray
        var count = n * fillVecElems(m.inner, levels(k), off, n)
        var i = 0
        while (i < k) {
          count /= m.dims(i)
          putRuns(levels(k - 1 - i), count, m.dims(i))
          i += 1
        }
      case va: TForm.VarArr if va.degraded =>
        // heap truncated (FitsStructure.degradeVarCols): NULL out
        var r = 0
        while (r < n) { v.putNull(r); r += 1 }
      case va: TForm.VarArr =>
        // heap indirection, vectorized: descriptors in the chunk rows,
        // payloads from the coalesced heap window (per-row pread
        // fallback), strings copied byte-exact (no trim — heap lengths
        // are exact, unlike blank-padded nA fields), arrays appended at
        // a running child offset since rows have ragged lengths
        val child = if (va.isString) null else v.arrayData()
        val w = va.elem.width
        var ofs = 0
        var r = 0
        while (r < n) {
          val (n0, hoff) = va.descriptor(buf, r * rowBytes + off)
          if (n0 < 0 || n0 > va.maxLen ||
            n0 * w > TileCodec.MaxVarElement)
            throw new IllegalArgumentException(
              s"corrupt variable-length descriptor in '${col.name}': " +
                s"count $n0 outside [0, ${va.maxLen}] or element over " +
                s"${TileCodec.MaxVarElement} bytes")
          val count = n0.toInt
          val payload = count * w
          var src: Array[Byte] = heapBuf
          var at = 0
          if (payload == 0) src = Array.emptyByteArray
          else if (heapLen > 0 && hoff >= heapBase &&
            hoff + payload <= heapBase + heapLen)
            at = (hoff - heapBase).toInt
          else {
            src = new Array[Byte](payload)
            in.readFully(heapStart + hoff, src, 0, payload)
          }
          if (va.isString) v.putByteArray(r, src, at, payload)
          else {
            child.reserve(ofs + count)
            var j = 0
            while (j < count) {
              val o = at + j * w
              val idx = ofs + j
              va.elem match {
                case ElemType.L => src(o) match {
                  case 'T' => child.putBoolean(idx, true)
                  case 'F' => child.putBoolean(idx, false)
                  case _ => child.putNull(idx) // undefined logical
                }
                case ElemType.B => child.putByte(idx, src(o))
                case ElemType.I => child.putShort(idx, ElemType.s16(src, o))
                case ElemType.J => child.putInt(idx, ElemType.i32(src, o))
                case ElemType.K => child.putLong(idx, ElemType.i64(src, o))
                case ElemType.E => child.putFloat(idx,
                  java.lang.Float.intBitsToFloat(ElemType.i32(src, o)))
                case ElemType.D => child.putDouble(idx,
                  java.lang.Double.longBitsToDouble(ElemType.i64(src, o)))
                case e @ (_: ElemType.ScaledElem | _: ElemType.BlankElem) =>
            throw new IllegalStateException(
                  s"scaled element $e inside a var-length column")
              }
              j += 1
            }
            v.putArray(r, ofs, count)
            ofs += count
          }
          r += 1
        }
      case _ =>
        var r = 0
        while (r < n) { v.putNull(r); r += 1 }
    }
  }

  /** Fills `n` rows of a fixed-repeat vector form — plain, TSCAL/TZERO-
    * scaled or TNULL-bearing — flat into element vector `child`: row
    * r's element j lands at r·repeat + j. Returns the repeat; the
    * caller sets the array runs (one level for a vector column, every
    * nesting level for a TDIM column). */
  private def fillVecElems(t: TForm, child: WritableColumnVector,
      off: Int, n: Int): Int = t match {
    case TForm.Vec(_, elem, repeat) =>
      child.reserve(n * repeat)
      val w = elem.width
      var r = 0
      while (r < n) {
        val rowOff = off + r * rowBytes
        var j = 0
        while (j < repeat) {
          val o = rowOff + j * w
          val idx = r * repeat + j
          elem match {
            case ElemType.L => buf(o) match {
              case 'T' => child.putBoolean(idx, true)
              case 'F' => child.putBoolean(idx, false)
              case _ => child.putNull(idx) // undefined logical
            }
            case ElemType.B => child.putByte(idx, buf(o))
            case ElemType.I => child.putShort(idx, ElemType.s16(buf, o))
            case ElemType.J => child.putInt(idx, i32(o))
            case ElemType.K => child.putLong(idx, i64(o))
            case ElemType.E =>
              child.putFloat(idx, java.lang.Float.intBitsToFloat(i32(o)))
            case ElemType.D =>
              child.putDouble(idx, java.lang.Double.longBitsToDouble(i64(o)))
            case e @ (_: ElemType.ScaledElem | _: ElemType.BlankElem) =>
              throw new IllegalStateException(
                s"scaled element $e cannot take the vectorized path")
          }
          j += 1
        }
        r += 1
      }
      repeat
    case sc: TForm.Scaled =>
      val repeat = sc.repeat
      child.reserve(n * repeat)
      val w = sc.element.width
      var r = 0
      while (r < n) {
        val rowOff = off + r * rowBytes
        var j = 0
        while (j < repeat) {
          putScaled(sc.element, child, r * repeat + j, rowOff + j * w)
          j += 1
        }
        r += 1
      }
      repeat
    case TForm.WithNull(TForm.Vec(_, elem, repeat), sentinel) =>
      child.reserve(n * repeat)
      val w = elem.width
      var r = 0
      while (r < n) {
        val rowOff = off + r * rowBytes
        var j = 0
        while (j < repeat) {
          putNullable(child, r * repeat + j, elem, rowOff + j * w, sentinel)
          j += 1
        }
        r += 1
      }
      repeat
    case other => throw new IllegalStateException(
      s"$other is not a fixed-repeat vector form")
  }

  /** `count` arrays of `run` elements each, laid end to end. */
  private def putRuns(v: WritableColumnVector, count: Int, run: Int): Unit = {
    v.reserve(count)
    var i = 0
    while (i < count) { v.putArray(i, i * run, run); i += 1 }
  }

  /** TNULL sentinel integer element: NULL when the stored value equals
    * the sentinel, else the value. */
  @inline private def putNullable(v: WritableColumnVector, idx: Int,
      elem: ElemType, o: Int, sentinel: Long): Unit = elem match {
    case ElemType.B =>
      // unsigned FITS byte: sentinel is the stored 0-255 value
      val x = buf(o)
      if ((x & 0xff).toLong == sentinel) v.putNull(idx) else v.putByte(idx, x)
    case ElemType.I =>
      val x = ElemType.s16(buf, o)
      if (x.toLong == sentinel) v.putNull(idx) else v.putShort(idx, x)
    case ElemType.J =>
      val x = i32(o)
      if (x.toLong == sentinel) v.putNull(idx) else v.putInt(idx, x)
    case ElemType.K =>
      val x = i64(o)
      if (x == sentinel) v.putNull(idx) else v.putLong(idx, x)
    case other => throw new IllegalStateException(
      s"TNULL on non-integer element $other")
  }

  @inline private def i32(o: Int): Int = ElemType.i32(buf, o)
  @inline private def i64(o: Int): Long = ElemType.i64(buf, o)

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    in.close()
  }
}
