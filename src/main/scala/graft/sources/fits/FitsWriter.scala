package graft.sources.fits

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DSv2 batch write for FITS (beyond reference — it has no write path of
  * any kind): `df.write.format("fits").mode("append").save(dir)`.
  *
  * Each partition becomes one standalone `part-*.fits` file (empty
  * primary HDU + one BINTABLE), so a written directory reads straight
  * back through this source's multi-file union — the same part-file
  * layout as Spark's own file sinks. `overwrite` mode deletes the
  * directory's pre-existing `.fits` files at driver commit, after every
  * task has successfully written its (uniquely named) output.
  *
  * FITS rows are fixed-width and headers carry the row count, neither
  * of which is known until a partition is exhausted — so each writer
  * first spills rows to a local temp file (strings length-prefixed)
  * while tracking the row count and per-column maximum string width,
  * then streams the spill back out as the final file. The two-pass
  * shape is also object-store friendly: the upload is a single
  * sequential stream with no header patch-up seek.
  *
  * Supported column types: Boolean/Byte/Short/Int/Long/Float/Double/
  * String (TFORM L/B/I/J/K/E/nA) and arrays of the fixed-width
  * scalars. Equal-length array columns write as fixed FITS vectors
  * (`nT`); ragged ones automatically become variable-length
  * `1PT(max)` columns backed by the HDU heap (Q descriptors when the
  * heap outgrows int32 addressing) — both shapes read back through
  * this source.
  *
  * Nulls: integer nulls (scalar and fixed-vector) write the type's
  * MinValue sentinel plus a TNULLn card, so they READ BACK AS SQL
  * NULL; boolean nulls write the standard's undefined-logical byte 0
  * (also round-trips); float/double nulls write 0 and string nulls
  * write empty (no FITS representation); null elements inside ragged
  * var-length arrays write the sentinel without a card (TNULL is
  * untyped for heap data here — documented corner). */
object FitsWriteSupport {
  /** ZBLANK code for non-finite pixels in quantized float tiles
    * (cfitsio's conventional value). */
  val QuantBlank: Int = Int.MinValue

  /** Right-pad WITHOUT truncation — an over-long column name must fail
    * the 80-byte card check below, not be silently chopped. */
  def pad(s: String, n: Int): String =
    if (s.length >= n) s else s + " " * (n - s.length)

  /** Fixed-format card per FITS 4.0 §4.2.1: non-string values are
    * right-justified so they END at byte 30 (required for mandatory
    * keywords — SIMPLE/BITPIX/NAXISn/XTENSION/…); string values start
    * with their opening quote at byte 11. */
  def card(k: String, v: String): String = {
    val field =
      if (v.startsWith("'")) pad(v, 20)
      else " " * math.max(0, 20 - v.length) + v
    val c = pad(pad(k, 8) + "= " + field, 80)
    require(c.length == 80,
      s"FITS header card overflows 80 bytes: $k = $v")
    c
  }

  /** Quoted string value with embedded `'` escaped as `''` (FITS 4.0
    * §4.2.1.1) and padded to the 8-char minimum inside the quotes. */
  def quoted(raw: String): String = "'" + pad(raw.replace("'", "''"), 8) + "'"

  def headerBlock(cards: Seq[String]): Array[Byte] = {
    val s = cards.mkString
    val padded = s + " " * ((2880 - s.length % 2880) % 2880)
    padded.getBytes("US-ASCII")
  }

  /** One column's write shape. `elemWidth == -1` ⇒ string (width
    * resolved at commit); `isArray` ⇒ FITS vector — fixed-repeat when
    * every row agrees with the first, var-length (P/Q + heap) when
    * ragged; decided at commit. */
  final case class ColSpec(code: Char, elemWidth: Int, isArray: Boolean,
      elemType: DataType, nestDepth: Int = 0)

  def elemOf(dt: DataType): ColSpec = dt match {
    case BooleanType => ColSpec('L', 1, isArray = false, dt)
    case ByteType => ColSpec('B', 1, isArray = false, dt)
    case ShortType => ColSpec('I', 2, isArray = false, dt)
    case IntegerType => ColSpec('J', 4, isArray = false, dt)
    case LongType => ColSpec('K', 8, isArray = false, dt)
    case FloatType => ColSpec('E', 4, isArray = false, dt)
    case DoubleType => ColSpec('D', 8, isArray = false, dt)
    case StringType => ColSpec('A', -1, isArray = false, dt)
    case ArrayType(et, _) =>
      val inner = elemOf(et)
      if (inner.code == 'A')
        throw new IllegalArgumentException(
          s"FITS write supports arrays of fixed-width scalars only, " +
            s"got array<${et.simpleString}>")
      // nested arrays are the TDIM multi-dim convention: flattened
      // first-axis-fastest into one fixed repeat, shape in TDIMn
      inner.copy(isArray = true, nestDepth = inner.nestDepth + 1)
    case other => throw new IllegalArgumentException(
      s"FITS write does not support column type ${other.simpleString} — " +
        "supported: boolean, byte, short, int, long, float, double, string, " +
        "array (or nested array, written with TDIM) of those scalars")
  }

  def validate(schema: StructType): Unit = schema.fields.foreach(f => elemOf(f.dataType))

  /** Image-mode schema contract: exactly one numeric array column (the
    * image lines; its element type sets BITPIX) plus optionally one
    * integral column (an ImgIndex-style line number, NOT stored — row
    * order within the partition is the line order, exactly what the
    * reader reproduces). Returns the array column's field index. */
  def validateImage(schema: StructType): Int = {
    val arrays = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType.isInstanceOf[ArrayType] => i
    }
    require(arrays.length == 1,
      s"image write needs exactly one array column, got " +
        s"${arrays.length} in ${schema.simpleString}")
    val others = schema.fields.zipWithIndex.filter(_._2 != arrays.head)
    require(others.forall(f => f._1.dataType == LongType ||
      f._1.dataType == IntegerType) && others.length <= 1,
      "image write allows at most one integral line-index column " +
        s"besides the image array, got ${schema.simpleString}")
    val spec = elemOf(schema.fields(arrays.head).dataType)
    require(spec.nestDepth <= 1,
      "image write takes a FLAT numeric array per line; nested (TDIM) " +
        s"arrays are table-only — got ${schema.simpleString}")
    require(spec.code != 'L' && spec.code != 'A',
      s"FITS images hold numeric pixels; column " +
        s"'${schema.fields(arrays.head).name}' has element code ${spec.code}")
    arrays.head
  }

  /** Builds a header block with DATASUM + CHECKSUM cards appended and
    * the CHECKSUM resolved so the whole HDU (this header + data blocks
    * summing to `dataSum`, unfolded partial) verifies to -0 per the
    * FITS checksum convention. `cards` must not include END. */
  def headerWithChecksum(cards: Seq[String], dataSum: Long): Array[Byte] = {
    import graft.sources.fits.core.FitsChecksum
    val folded = FitsChecksum.fold(dataSum)
    val block = headerBlock(cards ++ Seq(
      card("DATASUM", quoted(folded.toString)),
      card("CHECKSUM", "'0000000000000000'"),
      pad("END", 80)))
    val total = FitsChecksum.fold(
      FitsChecksum.wordSum(block, 0, block.length) + folded)
    val enc = FitsChecksum.encode(FitsChecksum.complement(total))
      .getBytes("US-ASCII")
    // patch the 16 placeholder chars in place (quote starts the value)
    val marker = "CHECKSUM= '0000000000000000'".getBytes("US-ASCII")
    val at = block.indexOfSlice(marker)
    require(at >= 0, "CHECKSUM placeholder card not found")
    System.arraycopy(enc, 0, block, at + 11, 16)
    block
  }

  /** `compress` write-option contract: image mode only, known codec
    * (RICE_1's integer-only constraint is checked against the schema in
    * the writer, where the element type is resolved). */
  def validateCompress(res: FitsResolution): Unit = {
    res.imageCompress.foreach { c =>
      require(res.imageWrite, "option 'compress' applies to image-mode " +
        "writes only — set option(\"image\", true)")
      require(core.TileCodec.Supported(c),
        s"unsupported compress codec '$c' — supported: " +
          core.TileCodec.Supported.mkString(", "))
    }
    if (res.compressTile.isDefined)
      require(res.imageCompress.isDefined,
        "option 'compressTile' applies only with option 'compress'")
    if (res.quantize.isDefined)
      require(res.imageCompress.isDefined,
        "option 'quantize' applies only with option 'compress'")
    if (res.dither > 0)
      require(res.quantize.isDefined,
        "option 'dither' applies only with option 'quantize'")
    if (res.hcompScale > 0)
      require(res.imageCompress.contains("HCOMPRESS_1"),
        "option 'hcompScale' applies only with compress = HCOMPRESS_1")
    if (res.hcompSmooth)
      require(res.hcompScale > 1,
        "option 'hcompSmooth' applies only with a lossy hcompScale > 1 " +
          "(smoothed reconstruction is a no-op for lossless tiles)")
  }

  /** BITPIX for an image element code. */
  def bitpixOf(code: Char): Int = code match {
    case 'B' => 8
    case 'I' => 16
    case 'J' => 32
    case 'K' => 64
    case 'E' => -32
    case 'D' => -64
    case other => throw new IllegalArgumentException(
      s"no image BITPIX for element code $other")
  }
}

final class FitsWriteBuilder(res: FitsResolution, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new FitsBatchWrite(res, info.schema(), doTruncate)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new FitsStreamingWrite(res, info.schema())
  }
}

/** Streaming sink: each epoch's partitions land as epoch-tagged part
  * files in the target directory (append semantics; at-least-once on
  * recovery, like any non-transactional file sink — replayed epochs
  * write new uniquely-named files). Combined with the micro-batch
  * source this closes the loop: FITS dir → stream transform → FITS dir. */
final class FitsStreamingWrite(res: FitsResolution, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  if (res.imageWrite) FitsWriteSupport.validateImage(schema)
  else FitsWriteSupport.validate(schema)
  FitsWriteSupport.validateCompress(res)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val dir = new Path(res.pathSpec)
    dir.getFileSystem(res.hadoopConf).mkdirs(dir)
    import scala.jdk.CollectionConverters._
    val props = res.hadoopConf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    val pathSpec = res.pathSpec
    val s = schema
    val img = res.imageWrite
    val cmp = res.imageCompress
    val sum = res.checksumWrite
    val tile = res.compressTile
    val quant = res.quantize
    val dith = res.dither
    val dithSeed = res.ditherSeed
    val hsc = res.hcompScale
    val hsm = res.hcompSmooth
    new org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new FitsDataWriter(pathSpec, s, partitionId, taskId, props,
          nameTag = s"e$epochId", imageMode = img,
          imageCompress = cmp.orNull, checksum = sum,
          compressTile = tile.orNull, quantize = quant.getOrElse(0.0),
          dither = dith, ditherSeed = dithSeed, hcompScale = hsc,
          hcompSmooth = hsm)
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(res.pathSpec).getFileSystem(res.hadoopConf)
    messages.collect { case m: FitsWriteCommitted if m.file.nonEmpty => m }
      .foreach(m => fs.delete(new Path(m.file), false))
  }
}

final class FitsBatchWrite(res: FitsResolution, schema: StructType,
    truncate: Boolean) extends BatchWrite {
  if (res.imageWrite) FitsWriteSupport.validateImage(schema)
  else FitsWriteSupport.validate(schema)
  FitsWriteSupport.validateCompress(res)

  // captured BEFORE tasks run: overwrite deletes exactly these at commit
  private val preExisting: Seq[String] =
    if (!truncate) Nil
    else try FitsFiles.resolve(res.pathSpec, res.hadoopConf).map(_.toString)
    catch { case _: IllegalArgumentException => Nil }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(res.pathSpec)
    dir.getFileSystem(res.hadoopConf).mkdirs(dir)
    import scala.jdk.CollectionConverters._
    val props = res.hadoopConf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    new FitsDataWriterFactory(res.pathSpec, schema, props, res.imageWrite,
      res.imageCompress.orNull, res.checksumWrite,
      res.compressTile.orNull, res.quantize.getOrElse(0.0),
      res.dither, res.ditherSeed, res.hcompScale, res.hcompSmooth)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(res.pathSpec).getFileSystem(res.hadoopConf)
    // nested (TDIM) schemas: empty partitions publish no file (their
    // shape is unknowable task-side), so an ALL-empty write would
    // commit an unreadable directory — flat schemas keep a readable
    // 0-row part, nested ones must too. Write one canonical 0-row
    // part from the driver with a defaulted all-1 TDIM.
    val wroteAny = messages.exists {
      case m: FitsWriteCommitted => m.file.nonEmpty
      case _ => false
    }
    val nested = !res.imageWrite && schema.fields
      .map(f => FitsWriteSupport.elemOf(f.dataType))
      .exists(_.nestDepth >= 2)
    if (!wroteAny && nested) {
      import scala.jdk.CollectionConverters._
      val props = res.hadoopConf.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
      new FitsDataWriter(res.pathSpec, schema, 0, 0L, props,
        checksum = res.checksumWrite, forceNestedEmpty = true).commit()
    }
    preExisting.foreach(p => fs.delete(new Path(p), false))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(res.pathSpec).getFileSystem(res.hadoopConf)
    messages.collect { case m: FitsWriteCommitted if m.file.nonEmpty => m }
      .foreach(m => fs.delete(new Path(m.file), false))
  }
}

final case class FitsWriteCommitted(file: String, rows: Long)
    extends WriterCommitMessage

final class FitsDataWriterFactory(dirSpec: String, schema: StructType,
    confProps: Array[(String, String)], imageMode: Boolean = false,
    imageCompress: String = null, checksum: Boolean = false,
    compressTile: (Int, Int) = null, quantize: Double = 0.0,
    dither: Int = 0, ditherSeed: Int = 1, hcompScale: Int = 0,
    hcompSmooth: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FitsDataWriter(dirSpec, schema, partitionId, taskId, confProps,
      imageMode = imageMode, imageCompress = imageCompress,
      checksum = checksum, compressTile = compressTile, quantize = quantize,
      dither = dither, ditherSeed = ditherSeed, hcompScale = hcompScale,
      hcompSmooth = hcompSmooth)
}

final class FitsDataWriter(dirSpec: String, schema: StructType,
    partitionId: Int, taskId: Long, confProps: Array[(String, String)],
    nameTag: String = "", imageMode: Boolean = false,
    imageCompress: String = null, checksum: Boolean = false,
    compressTile: (Int, Int) = null, quantize: Double = 0.0,
    dither: Int = 0, ditherSeed: Int = 1, hcompScale: Int = 0,
    hcompSmooth: Boolean = false, forceNestedEmpty: Boolean = false)
    extends DataWriter[InternalRow] {
  import FitsWriteSupport._

  private val fields = schema.fields
  private val elems: Array[ColSpec] = fields.map(f => elemOf(f.dataType))
  private val strWidth: Array[Int] = Array.fill(fields.length)(1)
  // per array column: candidate fixed repeat (first row), raggedness,
  // max length, and total payload bytes — commit() writes equal-length
  // columns as fixed nT vectors and ragged ones as 1PT(max) descriptors
  // into a heap, choosing Q descriptors if the heap outgrows int32
  private val repeat: Array[Int] = Array.fill(fields.length)(-1)
  private val ragged: Array[Boolean] = new Array[Boolean](fields.length)
  private val maxRepeat: Array[Int] = new Array[Int](fields.length)
  private val colPayload: Array[Long] = new Array[Long](fields.length)
  // nested (TDIM) columns: the first row's shape in FITS axis order
  // (first axis fastest = innermost Spark level); every later row must
  // match exactly — multi-dim columns are rectangular by definition
  private val mdDims: Array[Array[Int]] = new Array(fields.length)
  private var nRows = 0L

  // Per-column min/max over the SCALAR numeric values a reader gets
  // back, emitted at commit as reserved GMINn/GMAXn cards (ignorable by
  // other readers; FITS 4.0 §4.1.2.3 user keywords). The scan planner
  // uses them to drop whole files whose value range excludes a pushed
  // predicate — the data-skipping layer fixed-width FITS rows otherwise
  // lack — and to prove that every row matches one. An integer null
  // reads back as NULL (TNULLn) and stays out; a float null is stored,
  // and reads back, as 0.0, so that placeholder counts. A NaN poisons
  // the column's stats (Spark orders NaN above every value, so a
  // NaN-bearing column has no usable max).
  private val statLongMin = Array.fill(fields.length)(Long.MaxValue)
  private val statLongMax = Array.fill(fields.length)(Long.MinValue)
  private val statDblMin = Array.fill(fields.length)(Double.MaxValue)
  private val statDblMax = Array.fill(fields.length)(Double.MinValue)
  private val statBad = new Array[Boolean](fields.length)

  private def trackStat(i: Int, dt: DataType, row: InternalRow): Unit =
    dt match {
      case ByteType => trackLong(i, row.getByte(i).toLong)
      case ShortType => trackLong(i, row.getShort(i).toLong)
      case IntegerType => trackLong(i, row.getInt(i).toLong)
      case LongType => trackLong(i, row.getLong(i))
      case FloatType => trackDbl(i, row.getFloat(i).toDouble)
      case DoubleType => trackDbl(i, row.getDouble(i))
      case _ => ()
    }
  @inline private def trackLong(i: Int, v: Long): Unit = {
    if (v < statLongMin(i)) statLongMin(i) = v
    if (v > statLongMax(i)) statLongMax(i) = v
  }
  @inline private def trackDbl(i: Int, v: Double): Unit = {
    if (v.isNaN) statBad(i) = true
    else {
      if (v < statDblMin(i)) statDblMin(i) = v
      if (v > statDblMax(i)) statDblMax(i) = v
    }
  }
  /** GMINn/GMAXn cards for every column with usable stats. */
  private def statCards: Seq[String] = fields.indices.flatMap { i =>
    if (statBad(i)) Nil
    else if (statLongMin(i) <= statLongMax(i))
      Seq(card(s"GMIN${i + 1}", statLongMin(i).toString),
        card(s"GMAX${i + 1}", statLongMax(i).toString))
    else if (statDblMin(i) <= statDblMax(i))
      Seq(card(s"GMIN${i + 1}", statDblMin(i).toString),
        card(s"GMAX${i + 1}", statDblMax(i).toString))
    else Nil
  }

  /** Var-length string threshold: a column whose fixed `nA` form would
    * waste more than half its bytes on padding (and is at least this
    * wide) is stored as `1PA(max)` instead — a corpus with one long
    * document must not balloon every row to the longest one. */
  private val VarStrMinWidth = 64

  // image mode: the single array column's index, element spec, and the
  // locked rectangular line length
  private val imgCol: Int =
    if (imageMode) FitsWriteSupport.validateImage(schema) else -1
  private val imgElem: ColSpec =
    if (imageMode) elemOf(fields(imgCol).dataType) else null
  private var imgLine = -1
  // tile compression (ZIMAGE write): codec resolved here so a bad
  // codec/type combination fails at writer construction, not mid-commit
  if (imageMode && (imageCompress == "RICE_1" ||
    imageCompress == "HCOMPRESS_1") && imgElem != null &&
    "BIJ".indexOf(imgElem.code) < 0 && quantize <= 0)
    throw new IllegalArgumentException(
      s"$imageCompress compresses integer pixels only (byte/short/int " +
        s"lines); element code '${imgElem.code}' — use GZIP_1/GZIP_2, or " +
        "option(\"quantize\", q) for lossy float compression")
  if (imageMode && quantize > 0 && imgElem != null &&
    "ED".indexOf(imgElem.code) < 0)
    throw new IllegalArgumentException(
      "option 'quantize' applies to float image pixels only; " +
        s"element code '${imgElem.code}' is already integer")

  private val tmp: File = File.createTempFile("fits-write-spill", ".bin")
  private val spill = new ByteSink(new FileOutputStream(tmp))

  // integer-null round-trip: a null writes the type's MinValue and the
  // column gains a TNULLn card at commit, so it reads back as SQL NULL.
  // A column holding BOTH nulls and a legitimate MinValue cannot be
  // encoded unambiguously and fails loudly at commit.
  private val intHasNull = new Array[Boolean](fields.length)
  private val intSawMin = new Array[Boolean](fields.length)

  /** `i` = column index for null bookkeeping; −1 (image mode) keeps the
    * legacy nulls→0 behavior (TNULL is a table keyword; images would
    * need BLANK, out of scope). */
  private def writeScalar(i: Int, dt: DataType, nul: Boolean,
      get: => Any): Unit =
    dt match {
      // FITS logical: 'T' / 'F' / 0 = undefined (null round-trips)
      case BooleanType =>
        spill.writeByte(
          if (nul) 0 else if (get.asInstanceOf[Boolean]) 'T' else 'F')
      case ByteType =>
        if (nul) {
          if (i >= 0) { intHasNull(i) = true; spill.writeByte(Byte.MinValue) }
          else spill.writeByte(0)
        } else {
          val v = get.asInstanceOf[Byte]
          if (i >= 0 && v == Byte.MinValue) intSawMin(i) = true
          spill.writeByte(v)
        }
      case ShortType =>
        if (nul) {
          if (i >= 0) { intHasNull(i) = true; spill.writeShort(Short.MinValue) }
          else spill.writeShort(0)
        } else {
          val v = get.asInstanceOf[Short]
          if (i >= 0 && v == Short.MinValue) intSawMin(i) = true
          spill.writeShort(v)
        }
      case IntegerType =>
        if (nul) {
          if (i >= 0) { intHasNull(i) = true; spill.writeInt(Int.MinValue) }
          else spill.writeInt(0)
        } else {
          val v = get.asInstanceOf[Int]
          if (i >= 0 && v == Int.MinValue) intSawMin(i) = true
          spill.writeInt(v)
        }
      case LongType =>
        if (nul) {
          if (i >= 0) { intHasNull(i) = true; spill.writeLong(Long.MinValue) }
          else spill.writeLong(0L)
        } else {
          val v = get.asInstanceOf[Long]
          if (i >= 0 && v == Long.MinValue) intSawMin(i) = true
          spill.writeLong(v)
        }
      case FloatType =>
        spill.writeFloat(if (nul) 0f else get.asInstanceOf[Float])
      case DoubleType =>
        spill.writeDouble(if (nul) 0d else get.asInstanceOf[Double])
      case other => throw new IllegalStateException(other.simpleString)
    }

  override def write(row: InternalRow): Unit =
    if (imageMode) writeImageLine(row) else writeTableRow(row)

  /** Image mode: each row is one image line; pixels spill raw (the
    * line length is locked rectangular by the first row). An integral
    * line-index column, if present, is not stored — row order is the
    * line order, exactly what the image reader reproduces. */
  // integer-image null round-trip: a null pixel spills the type's
  // MinValue and the HDU gains a BLANK card at commit (the image
  // counterpart of the bintable TNULL encoding); data holding BOTH
  // nulls and a legitimate MinValue pixel fails loudly at commit.
  private var imgHasNull = false
  private var imgSawMin = false

  private def writeImageLine(row: InternalRow): Unit = {
    if (row.isNullAt(imgCol)) throw new IllegalArgumentException(
      s"null image line in column '${fields(imgCol).name}'")
    val arr = row.getArray(imgCol)
    val n = arr.numElements()
    if (imgLine == -1) imgLine = n
    else if (imgLine != n) throw new IllegalArgumentException(
      s"FITS images are rectangular: first line had $imgLine pixels, " +
        s"this row has $n")
    val et = imgElem.elemType
    var j = 0
    while (j < n) {
      writeImagePixel(et, nul = arr.isNullAt(j), arr.get(j, et)); j += 1
    }
    nRows += 1
  }

  /** One image pixel: integer nulls spill the MinValue sentinel (BLANK
    * card at commit); float/boolean pixels keep writeScalar's legacy
    * behavior (null → 0 / undefined). */
  private def writeImagePixel(dt: DataType, nul: Boolean,
      get: => Any): Unit = dt match {
    case ByteType =>
      if (nul) { imgHasNull = true; spill.writeByte(Byte.MinValue) }
      else {
        val v = get.asInstanceOf[Byte]
        if (v == Byte.MinValue) imgSawMin = true
        spill.writeByte(v)
      }
    case ShortType =>
      if (nul) { imgHasNull = true; spill.writeShort(Short.MinValue) }
      else {
        val v = get.asInstanceOf[Short]
        if (v == Short.MinValue) imgSawMin = true
        spill.writeShort(v)
      }
    case IntegerType =>
      if (nul) { imgHasNull = true; spill.writeInt(Int.MinValue) }
      else {
        val v = get.asInstanceOf[Int]
        if (v == Int.MinValue) imgSawMin = true
        spill.writeInt(v)
      }
    case LongType =>
      if (nul) { imgHasNull = true; spill.writeLong(Long.MinValue) }
      else {
        val v = get.asInstanceOf[Long]
        if (v == Long.MinValue) imgSawMin = true
        spill.writeLong(v)
      }
    case _ => writeScalar(-1, dt, nul, get)
  }

  /** The BLANK card for an integer image that spilled null pixels; the
    * stored 'B' sentinel byte 0x80 is the unsigned value 128, same
    * normalization as the table TNULL card. */
  private def imageBlankCards: Seq[String] =
    if (!imgHasNull) Nil
    else if (imgSawMin) throw new IllegalArgumentException(
      s"image column '${fields(imgCol).name}' contains both NULL pixels " +
        "and the type's MinValue — the BLANK sentinel encoding is " +
        "ambiguous; shift the data or drop the nulls")
    else {
      val sentinel = imgElem.code match {
        case 'B' => 128L
        case 'I' => Short.MinValue.toLong
        case 'J' => Int.MinValue.toLong
        case 'K' => Long.MinValue
        case other => throw new IllegalStateException(
          s"null pixels in non-integer image element '$other'")
      }
      Seq(card("BLANK", sentinel.toString))
    }

  /** Shape of a nested array in FITS TDIM axis order (first axis
    * fastest): depth-first innermost length first, outer last; every
    * sibling at each level must agree (rectangularity). */
  private def mdShape(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      at: ArrayType, name: String): Array[Int] = at.elementType match {
    case inner: ArrayType =>
      val outer = arr.numElements()
      if (outer == 0) throw new IllegalArgumentException(
        s"FITS multi-dim column '$name' cannot hold an empty outer array")
      var shape: Array[Int] = null
      var j = 0
      while (j < outer) {
        if (arr.isNullAt(j)) throw new IllegalArgumentException(
          s"null inner array in multi-dim column '$name'")
        val sj = mdShape(arr.getArray(j), inner, name)
        if (shape == null) shape = sj
        else if (!java.util.Arrays.equals(shape, sj))
          throw new IllegalArgumentException(
            s"ragged inner arrays in multi-dim column '$name'")
        j += 1
      }
      shape :+ outer
    case _ =>
      if (arr.numElements() == 0) throw new IllegalArgumentException(
        s"empty innermost array in multi-dim column '$name' — TDIM " +
          "axes must be positive (FITS 4.0); write a flat array column " +
          "if rows can be empty")
      Array(arr.numElements())
  }

  /** Spills a nested array's scalars first-axis-fastest (row-major in
    * FITS terms) — the exact order TForm.Md.nest reassembles. */
  private def flatWrite(i: Int,
      arr: org.apache.spark.sql.catalyst.util.ArrayData,
      at: ArrayType): Unit = at.elementType match {
    case inner: ArrayType =>
      var j = 0
      val n = arr.numElements()
      while (j < n) { flatWrite(i, arr.getArray(j), inner); j += 1 }
    case et =>
      var j = 0
      val n = arr.numElements()
      while (j < n) {
        writeScalar(i, et, nul = arr.isNullAt(j), arr.get(j, et))
        j += 1
      }
  }

  private def writeTableRow(row: InternalRow): Unit = {
    var i = 0
    while (i < fields.length) {
      val nul = row.isNullAt(i)
      val spec = elems(i)
      fields(i).dataType match {
        case StringType =>
          if (nul) spill.writeInt(0)
          else {
            // writeTo hands the UTF8String's backing bytes straight to
            // the spill buffer — no per-row byte[] materialization
            val s = row.getUTF8String(i)
            val len = s.numBytes()
            if (len > strWidth(i)) strWidth(i) = len
            colPayload(i) += len
            spill.writeInt(len)
            s.writeTo(spill)
          }
        case at @ ArrayType(et, _) =>
          if (nul) throw new IllegalArgumentException(
            s"null array in column '${fields(i).name}' — FITS arrays have " +
              "no null representation (write an empty array instead)")
          val arr = row.getArray(i)
          val n =
            if (spec.nestDepth <= 1) arr.numElements()
            else {
              // nested (TDIM) column: constant rectangular shape, flat
              // count = product; elements spill first-axis-fastest
              val dims = mdShape(arr, at, fields(i).name)
              if (mdDims(i) == null) mdDims(i) = dims
              else if (!java.util.Arrays.equals(mdDims(i), dims))
                throw new IllegalArgumentException(
                  s"FITS multi-dim column '${fields(i).name}' must keep " +
                    s"one rectangular shape: row $nRows has " +
                    s"(${dims.mkString(",")}), first row " +
                    s"(${mdDims(i).mkString(",")})")
              dims.product
            }
          if (repeat(i) == -1) repeat(i) = n
          else if (repeat(i) != n) ragged(i) = true
          if (n > maxRepeat(i)) maxRepeat(i) = n
          colPayload(i) += n.toLong * spec.elemWidth
          spill.writeInt(n) // length prefix; fixed-vs-var decided at commit
          if (spec.nestDepth <= 1) {
            var j = 0
            while (j < n) {
              writeScalar(i, et, nul = arr.isNullAt(j), arr.get(j, et))
              j += 1
            }
          } else flatWrite(i, arr, at)
        case dt =>
          if (!nul) trackStat(i, dt, row)
          else if (dt == FloatType || dt == DoubleType) trackDbl(i, 0d)
          writeScalar(i, dt, nul, row.get(i, dt))
      }
      i += 1
    }
    nRows += 1
  }

  // In-flight staging file, tracked so abort() can remove it. The final
  // part-*.fits name only ever appears via an atomic rename at the END of
  // commit(), so readers (batch multi-file union and the micro-batch
  // stream alike) can never list a half-written file, and a failed task
  // leaves nothing a retry's output would silently duplicate.
  @volatile private var inFlight
      : Option[(org.apache.hadoop.fs.FileSystem, Path)] = None

  /** Opens the staging file for this part (tracked for abort). */
  private def openStaging(): (org.apache.hadoop.fs.FileSystem, Path, Path,
      org.apache.hadoop.fs.FSDataOutputStream) = {
    val tag = if (nameTag.isEmpty) "" else s"-$nameTag"
    val name =
      f"part-$partitionId%05d-$taskId$tag%s-${UUID.randomUUID().toString.take(8)}.fits"
    val file = new Path(dirSpec, name)
    // dot-prefixed, non-.fits suffix: invisible both to directory listing
    // (FitsFiles.listFits keeps *.fits only) and to '*.fits' globs
    val staging = new Path(dirSpec, s".$name.inprogress")
    val conf = new Configuration()
    confProps.foreach { case (k, v) => conf.set(k, v) }
    val fs = file.getFileSystem(conf)
    inFlight = Some((fs, staging))
    (fs, file, staging, fs.create(staging, false))
  }

  private def publish(fs: org.apache.hadoop.fs.FileSystem, staging: Path,
      file: Path): Unit = {
    if (!fs.rename(staging, file))
      throw new java.io.IOException(
        s"FITS write: rename of staging file $staging to $file failed")
    inFlight = None
  }

  /** Image mode: one IMAGE primary HDU per partition — NAXIS1 = pixels
    * per line, NAXIS2 = lines written; reads back as (Image, ImgIndex)
    * rows at hdu 0. Closes the loop with the image reader: decode →
    * transform → write back as real FITS images. */
  private def commitImage(): WriterCommitMessage = {
    val line = math.max(imgLine, 0)
    // checksum: data blocks = the raw spill + zero padding, so one
    // extra sequential pass over the spill is the whole cost
    val dataSum = if (checksum) sumFile(tmp) else 0L
    val (fs, file, staging, out) = openStaging()
    val in = new DataInputStream(
      new java.io.BufferedInputStream(new FileInputStream(tmp), 1 << 20))
    try {
      val cards = Seq(card("SIMPLE", "T"),
        card("BITPIX", bitpixOf(imgElem.code).toString),
        card("NAXIS", "2"), card("NAXIS1", line.toString),
        card("NAXIS2", nRows.toString)) ++ imageBlankCards
      out.write(
        if (checksum) headerWithChecksum(cards, dataSum)
        else headerBlock(cards :+ pad("END", 80)))
      val dataLen = nRows * line.toLong * imgElem.elemWidth
      val copyBuf = new Array[Byte](1 << 16)
      var remaining = dataLen
      while (remaining > 0) {
        val take = math.min(remaining, copyBuf.length.toLong).toInt
        in.readFully(copyBuf, 0, take)
        out.write(copyBuf, 0, take)
        remaining -= take
      }
      out.write(new Array[Byte](
        ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
    } finally {
      out.close()
      in.close()
      tmp.delete()
    }
    publish(fs, staging, file)
    FitsWriteCommitted(file.toString, nRows)
  }

  /** Quantization of one float/double tile (fpack's scheme): step =
    * tileSigma / q, code = round((v − mean) / step [+ rand − 0.5]),
    * stored with the per-tile (step, mean) as ZSCALE/ZZERO. With
    * `dither` 1/2 the bracketed subtractive-dither offset is the
    * convention's verified Park–Miller sequence ([[core.FitsDither]]),
    * which decorrelates the quantization noise from the signal;
    * DITHER_2 additionally stores exact-0.0 pixels as the lossless
    * ZeroVal sentinel. Every pixel position consumes one random value
    * — including ZBLANK and ZeroVal pixels — keeping writer and reader
    * aligned. The step widens when any code would overflow int32
    * (extreme outliers), and non-finite pixels become the ZBLANK code.
    * Reconstruction error stays ≤ step/2 per pixel (the dither shifts
    * the rounding point and shifts it back on read). */
  private def quantizeTile(raw: Array[Byte],
      nPix: Int, tileNum: Long): (Array[Byte], Double, Double) = {
    import graft.sources.fits.core.ElemType
    val isF = imgElem.code == 'E'
    val vals = new Array[Double](nPix)
    var i = 0
    var n = 0
    var sum = 0.0
    while (i < nPix) {
      val v =
        if (isF) java.lang.Float.intBitsToFloat(ElemType.i32(raw, i * 4))
          .toDouble
        else java.lang.Double.longBitsToDouble(ElemType.i64(raw, i * 8))
      vals(i) = v
      if (java.lang.Double.isFinite(v)) { n += 1; sum += v }
      i += 1
    }
    val mean = if (n > 0) sum / n else 0.0
    var ss = 0.0
    var maxAbs = 0.0
    i = 0
    while (i < nPix) {
      val v = vals(i)
      if (java.lang.Double.isFinite(v)) {
        val d = v - mean
        ss += d * d
        if (math.abs(d) > maxAbs) maxAbs = math.abs(d)
      }
      i += 1
    }
    val sigma = if (n > 1) math.sqrt(ss / n) else 0.0
    var step = if (sigma > 0) sigma / quantize else 1.0
    if (maxAbs / step > (Int.MaxValue - 2).toDouble)
      step = maxAbs / (Int.MaxValue - 2).toDouble
    if (step == 0.0 || java.lang.Double.isNaN(step)) step = 1.0
    val out = java.nio.ByteBuffer.allocate(nPix * 4)
    val rand =
      if (dither > 0)
        new graft.sources.fits.core.FitsDither.Stream(tileNum, ditherSeed)
      else null
    i = 0
    while (i < nPix) {
      val v = vals(i)
      val r = if (rand != null) rand.nextOffset().toDouble else 0.0
      out.putInt(
        if (!java.lang.Double.isFinite(v)) FitsWriteSupport.QuantBlank
        else if (dither == 2 && v == 0.0)
          graft.sources.fits.core.FitsDither.ZeroVal
        else {
          val t = (v - mean) / step + (if (rand != null) r - 0.5 else 0.0)
          math.max(-(Int.MaxValue - 1).toLong, math.min(
            (Int.MaxValue - 1).toLong, math.round(t))).toInt
        })
      i += 1
    }
    (out.array(), step, mean)
  }

  /** u32-word checksum partial of a whole local file, zero-padding the
    * tail to word alignment (matching the HDU's own zero block
    * padding). Folded per buffer: raw u64 accumulation would wrap mod
    * 2^64 (≢ 0 mod 2^32−1) somewhere past ~16 GB of data and silently
    * corrupt the sum; folded values stay <2^32 and add associatively. */
  private def sumFile(f: File): Long = {
    val in = new java.io.BufferedInputStream(new FileInputStream(f), 1 << 20)
    try {
      val buf = new Array[Byte](1 << 16)
      var acc = 0L
      var eof = false
      while (!eof) {
        var got = 0
        while (got < buf.length && !eof) {
          val k = in.read(buf, got, buf.length - got)
          if (k < 0) eof = true else got += k
        }
        if (got > 0) {
          var aligned = got
          if (aligned % 4 != 0) {
            val pad = 4 - aligned % 4
            java.util.Arrays.fill(buf, aligned, aligned + pad, 0.toByte)
            aligned += pad
          }
          acc = graft.sources.fits.core.FitsChecksum.fold(
            acc + graft.sources.fits.core.FitsChecksum.wordSum(buf, 0, aligned))
        }
      }
      acc
    } finally in.close()
  }

  /** Image mode + `compress`: a ZIMAGE bintable in the fpack layout —
    * COMPRESSED_DATA P/Q byte column, tile payloads in the heap. Tiles
    * are whole lines by default (single-pass-per-tile, read planning
    * identical to plain images); `compressTile = (w, h)` writes genuine
    * 2D tiles (`fpack -t` layout, row-major, exact edge tiles), which
    * compress better when vertical correlation beats horizontal. Reads
    * back through this source's compressed-image path (and any
    * convention-compliant reader). */
  private def commitCompressedImage(): WriterCommitMessage = {
    import graft.sources.fits.core.TileCodec
    val line = math.max(imgLine, 0)
    val tileBytes = line * imgElem.elemWidth
    // quantized float tiles store int32 codes; plain tiles the element
    val quantized = quantize > 0
    val bytepix = if (quantized) 4 else imgElem.elemWidth
    require(nRows <= Int.MaxValue, s"too many lines in one partition: $nRows")
    val tileW = if (compressTile == null) line
      else math.min(math.max(1, compressTile._1), math.max(1, line))
    // HCOMPRESS is a 2-D transform: 1-line tiles would degenerate to a
    // 1-D Haar chain, so default to fpack's whole-line × 16-row tiles
    // (clamped to the partition's height — a ZTILE taller than the
    // image is convention-legal but needless)
    val tileH =
      if (compressTile != null) math.max(1, compressTile._2)
      else if (imageCompress == "HCOMPRESS_1")
        math.min(16L, math.max(1L, nRows)).toInt
      else 1
    val nTileCols = if (line == 0) 1 else (line + tileW - 1) / tileW
    val bands = ((nRows + tileH - 1) / tileH).toInt
    val nTiles = bands * nTileCols
    val qScale = if (quantized) new Array[Double](nTiles) else null
    val qZero = if (quantized) new Array[Double](nTiles) else null
    // pass 1: compress tile-row bands from the spill into a heap temp
    // file (the spill is line-sequential; a band buffers tileH lines)
    val heapTmp = File.createTempFile("graft-fits-zheap", ".tmp")
    val lens = new Array[Int](nTiles)
    var heapSize = 0L
    var maxLen = 0
    val in = new DataInputStream(
      new java.io.BufferedInputStream(new FileInputStream(tmp), 1 << 20))
    try {
      val heapOut = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(heapTmp), 1 << 20))
      try {
        val bandBuf = new Array[Byte](tileH * tileBytes)
        var b = 0
        var t = 0
        while (b < bands) {
          val bandH = math.min(tileH.toLong, nRows - b.toLong * tileH).toInt
          in.readFully(bandBuf, 0, bandH * tileBytes)
          var tc = 0
          var c0 = 0
          while (tc < nTileCols) {
            val tw = math.min(tileW, line - c0)
            val ew = imgElem.elemWidth
            val raw = new Array[Byte](tw * bandH * ew)
            var r = 0
            while (r < bandH) {
              System.arraycopy(bandBuf, r * tileBytes + c0 * ew,
                raw, r * tw * ew, tw * ew)
              r += 1
            }
            val tile =
              if (!quantized) raw
              else {
                val (codes, step, mean) = quantizeTile(raw, tw * bandH, t + 1L)
                qScale(t) = step
                qZero(t) = mean
                codes
              }
            val comp = TileCodec.compress2D(imageCompress, tile, bytepix,
              32, tw, bandH, hcompScale)
            heapOut.write(comp)
            lens(t) = comp.length
            heapSize += comp.length
            if (comp.length > maxLen) maxLen = comp.length
            c0 += tw
            tc += 1
            t += 1
          }
          b += 1
        }
      } finally heapOut.close()

      val useQ = heapSize > Int.MaxValue.toLong
      val descBytes = if (useQ) 16 else 8
      // one full table row per tile (descriptor + optional per-tile
      // ZSCALE/ZZERO doubles), built once: written below and, with
      // checksum on, summed first (the row area is 4-byte aligned, so
      // the heap's word phase is position-independent)
      val rowWidth = descBytes + (if (quantized) 16 else 0)
      val descs = new Array[Array[Byte]](nTiles)
      var off = 0L
      var t = 0
      while (t < nTiles) {
        val bb = java.nio.ByteBuffer.allocate(rowWidth)
        if (useQ) bb.putLong(lens(t).toLong).putLong(off)
        else bb.putInt(lens(t)).putInt(off.toInt)
        if (quantized) bb.putDouble(qScale(t)).putDouble(qZero(t))
        descs(t) = bb.array()
        off += lens(t)
        t += 1
      }
      val dataSum =
        if (!checksum) 0L
        else descs.foldLeft(sumFile(heapTmp)) { (s, d) =>
          // fold per descriptor: billions of 8/16-byte descriptors would
          // otherwise overflow the raw u64 accumulation
          graft.sources.fits.core.FitsChecksum.fold(
            s + graft.sources.fits.core.FitsChecksum.wordSum(d, 0, d.length))
        }
      val (fs, file, staging, out) = openStaging()
      val primaryCards = Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"))
      out.write(
        if (checksum) headerWithChecksum(primaryCards, 0L)
        else headerBlock(primaryCards :+ pad("END", 80)))
      val quantCols =
        if (!quantized) Nil
        else Seq(
          card("TTYPE2", quoted("ZSCALE")), card("TFORM2", quoted("D")),
          card("TTYPE3", quoted("ZZERO")), card("TFORM3", quoted("D")))
      val quantCards =
        if (!quantized) Nil
        else {
          val zq = dither match {
            case 1 => "SUBTRACTIVE_DITHER_1"
            case 2 => "SUBTRACTIVE_DITHER_2"
            case _ => "NO_DITHER"
          }
          Seq(
            card("ZQUANTIZ", quoted(zq)),
            card("ZBLANK", FitsWriteSupport.QuantBlank.toString)) ++
            (if (dither > 0) Seq(card("ZDITHER0", ditherSeed.toString))
             else Nil)
        }
      val btCards = Seq(
        card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", rowWidth.toString),
        card("NAXIS2", nTiles.toString),
        card("PCOUNT", heapSize.toString), card("GCOUNT", "1"),
        card("TFIELDS", if (quantized) "3" else "1"),
        card("TTYPE1", quoted("COMPRESSED_DATA")),
        card("TFORM1", quoted(s"1${if (useQ) "Q" else "P"}B($maxLen)"))) ++
        quantCols ++ Seq(
        card("ZIMAGE", "T"), card("ZCMPTYPE", quoted(imageCompress)),
        card("ZBITPIX", bitpixOf(imgElem.code).toString),
        card("ZNAXIS", "2"), card("ZNAXIS1", line.toString),
        card("ZNAXIS2", nRows.toString),
        card("ZTILE1", tileW.toString), card("ZTILE2", tileH.toString)) ++
        quantCards ++ imageBlankCards ++ Seq(
        card("ZNAME1", quoted("BLOCKSIZE")), card("ZVAL1", "32"),
        card("ZNAME2", quoted("BYTEPIX")),
        card("ZVAL2", bytepix.toString)) ++
        (if (imageCompress == "HCOMPRESS_1") Seq(
          card("ZNAME3", quoted("SCALE")), card("ZVAL3", hcompScale.toString),
          card("ZNAME4", quoted("SMOOTH")),
          card("ZVAL4", if (hcompSmooth) "1" else "0"))
         else Nil)
      out.write(
        if (checksum) headerWithChecksum(btCards, dataSum)
        else headerBlock(btCards :+ pad("END", 80)))
      // descriptor rows, then the heap — buffered: millions of 8-16
      // byte descriptor writes against the raw checksumming stream
      // would pay a per-call toll (same rationale as the table path)
      val bout = new BufferedOutputStream(out, 1 << 20)
      t = 0
      while (t < nTiles) { bout.write(descs(t)); t += 1 }
      val copyIn = new DataInputStream(new java.io.BufferedInputStream(
        new FileInputStream(heapTmp), 1 << 20))
      try {
        val copyBuf = new Array[Byte](1 << 16)
        var remaining = heapSize
        while (remaining > 0) {
          val take = math.min(remaining, copyBuf.length.toLong).toInt
          copyIn.readFully(copyBuf, 0, take)
          bout.write(copyBuf, 0, take)
          remaining -= take
        }
      } finally copyIn.close()
      val dataLen = rowWidth.toLong * nTiles + heapSize
      bout.write(new Array[Byte](
        ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt))
      bout.flush()
      out.close()
      publish(fs, staging, file)
      FitsWriteCommitted(file.toString, nRows)
    } finally {
      in.close()
      tmp.delete()
      heapTmp.delete()
    }
  }

  override def commit(): WriterCommitMessage = {
    spill.close()
    if (imageMode)
      return if (imageCompress != null) commitCompressedImage()
      else commitImage()
    // A 0-row part of a schema with NESTED array columns publishes no
    // file: its shape is unknowable, so its header would say the flat
    // '0T' with no TDIM and make the directory schema-inconsistent
    // with sibling parts (FAILFAST would then reject the just-written
    // dataset). Flat schemas keep emitting empty parts — '0T'/0-row
    // headers are harmless there and keep the all-empty-write shape.
    if (nRows == 0 && elems.exists(_.nestDepth >= 2)) {
      if (!forceNestedEmpty) {
        tmp.delete() // the spill file — every other commit path deletes it
        return FitsWriteCommitted("", 0L)
      }
      // driver-side canonical empty part (FitsBatchWrite.commit): when
      // EVERY partition was empty no task published a file and the
      // directory would be unreadable — default the unknowable nested
      // shape to all-1 axes so the dataset reads back as 0 rows with
      // the declared nesting depth
      elems.indices.foreach { i =>
        if (elems(i).isArray && elems(i).nestDepth >= 2) {
          mdDims(i) = Array.fill(elems(i).nestDepth)(1)
          repeat(i) = 1
        }
      }
    }
    // ragged array columns — and string columns whose fixed form would
    // be mostly padding — become heap-backed var-length columns; the
    // descriptor flavor is file-wide (all-P or all-Q) keyed on whether
    // the total heap can be addressed by int32 offsets
    val varStr: Array[Boolean] = elems.zipWithIndex.map { case (spec, i) =>
      !spec.isArray && spec.code == 'A' &&
        strWidth(i) >= VarStrMinWidth &&
        strWidth(i).toLong * nRows > 2L * colPayload(i)
    }
    val heapTotal: Long = elems.indices.collect {
      case i if (elems(i).isArray && ragged(i)) || varStr(i) => colPayload(i)
    }.sum
    val useQ = heapTotal > Int.MaxValue.toLong
    val descBytes = if (useQ) 16 else 8
    val widths: Array[Int] = elems.zipWithIndex.map { case (spec, i) =>
      if (spec.isArray)
        if (ragged(i)) descBytes else spec.elemWidth * math.max(repeat(i), 0)
      else if (spec.elemWidth >= 0) spec.elemWidth
      else if (varStr(i)) descBytes
      else strWidth(i)
    }
    val rowBytes = widths.sum
    val (fs, file, staging, out) = openStaging()
    val in = new SpillReader(tmp)
    try {
      // FITS 'B' is unsigned (0-255): the stored sentinel byte 0x80 is
      // the unsigned value 128, and the TNULL card must say so or
      // standard-compliant readers (astropy/cfitsio) never match it.
      val sentinelOf = Map('B' -> 128L,
        'I' -> Short.MinValue.toLong, 'J' -> Int.MinValue.toLong,
        'K' -> Long.MinValue)
      val colCards = fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        val spec = elems(i)
        val tform =
          if (spec.isArray && ragged(i))
            s"1${if (useQ) "Q" else "P"}${spec.code}(${maxRepeat(i)})"
          else if (spec.isArray) s"${math.max(repeat(i), 0)}${spec.code}"
          else if (varStr(i))
            s"1${if (useQ) "Q" else "P"}A(${strWidth(i)})"
          else if (spec.code == 'A') s"${widths(i)}A"
          else spec.code.toString
        val tnull =
          if (!intHasNull(i)) Nil
          else if (intSawMin(i)) throw new IllegalArgumentException(
            s"column '${f.name}' contains both NULLs and the type's " +
              "MinValue — the TNULL sentinel encoding is ambiguous; " +
              "shift the data or drop the nulls")
          else if (spec.isArray && ragged(i)) Nil // var-col TNULL undefined
          else Seq(card(s"TNULL${i + 1}", sentinelOf(spec.code).toString))
        val tdim =
          if (spec.isArray && spec.nestDepth >= 2 && !ragged(i) &&
            mdDims(i) != null)
            Seq(card(s"TDIM${i + 1}",
              quoted("(" + mdDims(i).mkString(",") + ")")))
          else Nil
        Seq(card(s"TTYPE${i + 1}", quoted(f.name)),
          card(s"TFORM${i + 1}", quoted(tform))) ++ tnull ++ tdim
      }
      val primaryCards = Seq(card("SIMPLE", "T"), card("BITPIX", "8"),
        card("NAXIS", "0"))
      val btCards = Seq(
        card("XTENSION", quoted("BINTABLE")), card("BITPIX", "8"),
        card("NAXIS", "2"), card("NAXIS1", rowBytes.toString),
        card("NAXIS2", nRows.toString), card("PCOUNT", heapTotal.toString),
        card("GCOUNT", "1"),
        card("TFIELDS", fields.length.toString)) ++ colCards ++ statCards
      def writeData(dout: ByteSink): Unit = {
      // Pass 1 over the spill — the main table. Numerics are already
      // big-endian (DataOutput); strings right-pad with ASCII spaces to
      // their column width; ragged arrays emit a (count, offset)
      // descriptor and leave their payload for pass 2. Heap offsets are
      // the running payload total in (row, column) order — exactly the
      // order pass 2 streams the heap in.
      var r = 0L
      var heapOff = 0L
      val spaceBuf = {
        val b = new Array[Byte](math.max(1,
          widths.indices.collect {
            case i if elems(i).code == 'A' && !elems(i).isArray && !varStr(i)
              => widths(i)
          }.maxOption.getOrElse(1)))
        java.util.Arrays.fill(b, ' '.toByte)
        b
      }
      while (r < nRows) {
        var i = 0
        while (i < fields.length) {
          val spec = elems(i)
          if (!spec.isArray && spec.code == 'A') {
            val len = in.readInt()
            if (varStr(i)) {
              if (useQ) { dout.writeLong(len.toLong); dout.writeLong(heapOff) }
              else { dout.writeInt(len); dout.writeInt(heapOff.toInt) }
              heapOff += len
              in.skip(len.toLong)
            } else {
              in.copyTo(dout, len.toLong)
              if (len < widths(i)) dout.write(spaceBuf, 0, widths(i) - len)
            }
          } else if (spec.isArray) {
            val len = in.readInt()
            val payload = len.toLong * spec.elemWidth
            if (ragged(i)) {
              if (useQ) { dout.writeLong(len.toLong); dout.writeLong(heapOff) }
              else { dout.writeInt(len); dout.writeInt(heapOff.toInt) }
              heapOff += payload
              in.skip(payload)
            } else in.copyTo(dout, payload)
          } else in.copyTo(dout, widths(i).toLong)
          i += 1
        }
        r += 1
      }
      // Pass 2 — the heap (THEAP default: immediately after the rows).
      if (heapTotal > 0) {
        val in2 = new SpillReader(tmp)
        try {
          var r2 = 0L
          while (r2 < nRows) {
            var i = 0
            while (i < fields.length) {
              val spec = elems(i)
              if (!spec.isArray && spec.code == 'A') {
                val len = in2.readInt().toLong
                if (varStr(i)) in2.copyTo(dout, len) else in2.skip(len)
              } else if (spec.isArray) {
                val payload = in2.readInt().toLong * spec.elemWidth
                if (ragged(i)) in2.copyTo(dout, payload) else in2.skip(payload)
              } else in2.skip(widths(i).toLong)
              i += 1
            }
            r2 += 1
          }
        } finally in2.close()
      }
      val dataLen = rowBytes * nRows + heapTotal
      val padLen = ((dataLen + 2879) / 2880 * 2880 - dataLen).toInt
      dout.write(new Array[Byte](padLen))
      }
      if (!checksum) {
        // The Hadoop FSDataOutputStream fronts a checksumming
        // FSOutputSummer whose per-write() cost dominates on a per-row
        // trickle; the ByteSink turns descriptor ints + row payloads
        // into 1 MiB block writes.
        val bout = new ByteSink(out)
        bout.write(headerBlock(primaryCards :+ pad("END", 80)))
        bout.write(headerBlock(btCards :+ pad("END", 80)))
        writeData(bout)
        bout.flush()
      } else {
        // CHECKSUM must be resolved before the header is written, so
        // the data blocks spool through a local temp first (one extra
        // local write+read; the upload stays a single stream)
        val dataTmp = File.createTempFile("graft-fits-data", ".tmp")
        try {
          val dOut = new ByteSink(new FileOutputStream(dataTmp))
          try writeData(dOut) finally dOut.close()
          val dataSum = sumFile(dataTmp)
          out.write(headerWithChecksum(primaryCards, 0L))
          out.write(headerWithChecksum(btCards, dataSum))
          val cin = new DataInputStream(new java.io.BufferedInputStream(
            new FileInputStream(dataTmp), 1 << 20))
          try {
            val cbuf = new Array[Byte](1 << 16)
            var remaining = dataTmp.length()
            while (remaining > 0) {
              val take = math.min(remaining, cbuf.length.toLong).toInt
              cin.readFully(cbuf, 0, take)
              out.write(cbuf, 0, take)
              remaining -= take
            }
          } finally cin.close()
        } finally dataTmp.delete()
      }
    } finally {
      out.close()
      in.close()
      tmp.delete()
    }
    publish(fs, staging, file)
    FitsWriteCommitted(file.toString, nRows)
  }

  override def abort(): Unit = {
    spill.close()
    tmp.delete()
    inFlight.foreach { case (fs, p) =>
      try fs.delete(p, false)
      catch { case _: java.io.IOException => () } // best-effort cleanup
    }
    inFlight = None
  }
  override def close(): Unit = ()
}

/** Unsynchronized buffered big-endian sink — the write-side twin of
  * [[SpillReader]]. DataOutputStream-over-BufferedOutputStream costs a
  * synchronized method call per BYTE for primitive writes (writeInt =
  * four single-byte calls), and the spill + commit paths issue one
  * length/descriptor int per row — JFR showed the two stream layers as
  * the top table-write frames. Primitives encode straight into the
  * buffer here; extends OutputStream so UTF8String.writeTo and
  * SpillReader.copyTo hand byte ranges over without an adapter. */
private final class ByteSink(out: java.io.OutputStream, cap: Int = 1 << 20)
    extends java.io.OutputStream {
  private val buf = new Array[Byte](cap)
  private var pos = 0
  @inline private def need(n: Int): Unit = if (cap - pos < n) flushBuf()
  private def flushBuf(): Unit =
    if (pos > 0) { out.write(buf, 0, pos); pos = 0 }
  override def write(b: Int): Unit = { need(1); buf(pos) = b.toByte; pos += 1 }
  override def write(b: Array[Byte]): Unit = write(b, 0, b.length)
  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    if (len >= cap) { flushBuf(); out.write(b, off, len) }
    else { need(len); System.arraycopy(b, off, buf, pos, len); pos += len }
  def writeByte(v: Int): Unit = { need(1); buf(pos) = v.toByte; pos += 1 }
  def writeShort(v: Int): Unit = {
    need(2); buf(pos) = (v >> 8).toByte; buf(pos + 1) = v.toByte; pos += 2
  }
  def writeInt(v: Int): Unit = {
    need(4)
    buf(pos) = (v >> 24).toByte; buf(pos + 1) = (v >> 16).toByte
    buf(pos + 2) = (v >> 8).toByte; buf(pos + 3) = v.toByte
    pos += 4
  }
  def writeLong(v: Long): Unit = {
    need(8)
    var i = 0
    while (i < 8) { buf(pos + i) = (v >> (56 - 8 * i)).toByte; i += 1 }
    pos += 8
  }
  def writeFloat(v: Float): Unit = writeInt(java.lang.Float.floatToIntBits(v))
  def writeDouble(v: Double): Unit =
    writeLong(java.lang.Double.doubleToLongBits(v))
  override def flush(): Unit = { flushBuf(); out.flush() }
  override def close(): Unit = { flushBuf(); out.close() }
}

/** Sequential reader over the local spill with exactly one buffer
  * layer: ints decode straight out of the buffer, payload copies hand
  * buffer slices to the output stream (no intermediate copy array),
  * and skips past the buffered window become lseeks — pass 1 of the
  * table commit never reads the heap payload it is stepping over,
  * which for a text-heavy corpus is most of the spill. The
  * DataInputStream-over-BufferedInputStream stack this replaces paid
  * four single-byte synchronized reads per readInt and two extra
  * copies per payload byte (JFR-measured as the dominant commit
  * cost). */
private final class SpillReader(f: File) {
  private val in = new FileInputStream(f)
  private val fileLen = f.length()
  private var consumed = 0L // bytes advanced past (read or skipped)
  private val buf = new Array[Byte](1 << 20)
  private var pos = 0
  private var lim = 0

  /** Refill so at least `n` (≤ buf.length) bytes are buffered. */
  private def ensure(n: Int): Unit = {
    if (lim - pos < n) {
      System.arraycopy(buf, pos, buf, 0, lim - pos)
      lim -= pos
      pos = 0
      while (lim < n) {
        val k = in.read(buf, lim, buf.length - lim)
        if (k < 0) throw new java.io.EOFException("FITS write spill truncated")
        lim += k
        consumed += k
      }
    }
  }

  def readInt(): Int = {
    ensure(4)
    val p = pos
    pos = p + 4
    ((buf(p) & 0xff) << 24) | ((buf(p + 1) & 0xff) << 16) |
      ((buf(p + 2) & 0xff) << 8) | (buf(p + 3) & 0xff)
  }

  def copyTo(out: java.io.OutputStream, n0: Long): Unit = {
    var remaining = n0
    while (remaining > 0) {
      if (pos == lim) {
        pos = 0
        lim = in.read(buf)
        if (lim < 0) throw new java.io.EOFException("FITS write spill truncated")
        consumed += lim
      }
      val take = math.min(remaining, (lim - pos).toLong).toInt
      out.write(buf, pos, take)
      pos += take
      remaining -= take
    }
  }

  def skip(n0: Long): Unit = {
    // FileInputStream.skip happily lseeks past EOF, so a truncated
    // spill would only surface as a corrupt-output EOF much later —
    // bound every skip against the spill length to keep the fail-fast
    // behavior of the readFully-based skip this replaced.
    if (consumed - (lim - pos) + n0 > fileLen)
      throw new java.io.EOFException("FITS write spill truncated")
    val buffered = (lim - pos).toLong
    if (n0 <= buffered) pos += n0.toInt
    else {
      var rest = n0 - buffered
      pos = 0
      lim = 0
      while (rest > 0) {
        val k = in.skip(rest)
        if (k > 0) { rest -= k; consumed += k }
        else if (in.read() < 0) // skip() can refuse near EOF; probe a byte
          throw new java.io.EOFException("FITS write spill truncated")
        else { rest -= 1; consumed += 1 }
      }
    }
  }

  def close(): Unit = in.close()
}
