package graft.sources.fits

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.fits.core._

/** Spark DataSource V2 for the FITS astronomy format:
  * `spark.read.format("fits").option("hdu", 1).load(path)`.
  *
  * Idiomatic rebuild of the reference's V1 connector
  * (DefaultSource.scala:26-53) with the architecture SURVEY §7 calls
  * for: all per-file metadata (header, HDU boundaries, row layout) is
  * computed once on the driver and serialized into each InputPartition,
  * partitions are planned as row-aligned byte ranges (no runtime split
  * rejection or rewind — the reference's trickiest code, issue #93,
  * disappears), and column pruning flows from Catalyst via
  * `SupportsPushDownRequiredColumns` instead of a manual option (the
  * `columns` option is kept as a compatible alias).
  *
  * Options: `hdu` (mandatory), `columns` (comma list, prunes+reorders),
  * `recordlength` (buffer size hint, validated ≥ row size), `mode`
  * (PERMISSIVE skips schema-mismatched files, FAILFAST throws),
  * `verbose`.
  */
class FitsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fits"
  override def supportsExternalMetadata(): Boolean = true

  /** The resolution [[inferSchema]] built, for the [[getTable]] call that
    * follows it on this instance within one `load()` (Spark's
    * `FileDataSourceV2` keeps its file index the same way): without it
    * the files are listed and the first file's headers walked twice. */
  private var inferred: Option[FitsResolution] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val res = FitsResolution(options.asCaseSensitiveMap().asScala.toMap)
    val schema = res.tableSchema
    inferred = Some(res)
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // before the query that reads the table is optimized
    graft.plans.GraftExtensions.ensure(SparkSession.active)
    val props = properties.asScala.toMap
    // taken and cleared: a reused provider never serves a stale listing
    val cached = inferred
    inferred = None
    val res = cached.filter(_.options == props)
      .getOrElse(FitsResolution(props))
    // the inferred-schema comparison must not force file resolution:
    // a write targets a directory that may not exist yet
    new FitsTable(res, Option(schema).filter(s =>
      scala.util.Try(res.inferredSchema).map(_ != s).getOrElse(true)))
  }
}

/** Driver-side resolution of one read: file list + first-file structure.
  * Eagerly validates options the way the reference does
  * (FitsSourceRelation.scala:109-120). */
final case class FitsResolution(options: Map[String, String]) {
  private val ci: Map[String, String] = options.map { case (k, v) => k.toLowerCase -> v }

  val pathSpec: String = ci.getOrElse("path",
    throw new IllegalArgumentException("'path' must be specified"))
  // lazy: the write path needs no HDU; every read path forces it up
  // front (schema inference / scan planning), keeping the eager-error
  // parity with the reference for reads. The option is an index OR an
  // EXTNAME (astropy-style): a non-numeric value resolves against each
  // file's EXTNAME cards, case-insensitively — so heterogeneous files
  // that place the named extension at different indices still union.
  lazy val hduSpec: String = ci.getOrElse("hdu",
    throw new IllegalArgumentException(
      "You need to specify the HDU to be read! Set the 'hdu' option.")).trim
  private lazy val hduSpecIndex: Option[Int] = hduSpec.toIntOption

  /** Multi-HDU load: `hdu` accepts a single index or EXTNAME, a COMMA
    * LIST of either, or `all` (every readable data-bearing HDU, schema
    * compatibility enforced under the session mode). Real MEF
    * (multi-extension FITS) archives store N same-schema bintables per
    * file; the reference forces one load() per HDU
    * (FitsSourceRelation.scala:114-120) and users union by hand. */
  private lazy val hduTokens: Seq[String] =
    hduSpec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
  lazy val isAllHdu: Boolean = hduSpec.equalsIgnoreCase("all")
  lazy val isMultiHdu: Boolean = isAllHdu || hduTokens.lengthCompare(1) > 0

  /** Resolves the FIRST target HDU in one file (the schema source):
    * the numeric index, or the first HDU whose EXTNAME matches; for
    * `all`, the first readable data-bearing HDU; −1 when absent
    * (callers treat that like an out-of-range index). */
  def hduIndexFor(hdus: Vector[Hdu]): Int =
    if (isAllHdu)
      hdus.indexWhere(h => h.meta.isReadable && h.meta.rowBytes > 0)
    else hduTokens.headOption.flatMap(_.toIntOption).getOrElse {
      hdus.indexWhere(_.header.values.get("EXTNAME")
        .exists(n => hduTokens.headOption.exists(n.trim.equalsIgnoreCase)))
    }

  /** Per-token resolution in one file: (token, index) with −1 /
    * out-of-range preserved, so the planner can report EACH
    * unresolved token through the session mode (a list `"1,9"` with
    * only HDU 1 present must FAILFAST like a bare `"9"` would, not
    * silently return HDU 1's rows). Empty for `all`. */
  def hduResolutionsFor(hdus: Vector[Hdu]): Seq[(String, Int)] =
    if (isAllHdu) Seq.empty
    else hduTokens.map { tok =>
      tok -> tok.toIntOption.getOrElse {
        hdus.indexWhere(_.header.values.get("EXTNAME")
          .exists(_.trim.equalsIgnoreCase(tok)))
      }
    }

  /** EVERY resolved target HDU index in one file, in file order,
    * deduplicated: the parsed list (index or EXTNAME per token), or
    * all readable data-bearing HDUs for `all`. Unresolved tokens are
    * absent here — diagnose them via [[hduResolutionsFor]]. */
  def hduIndicesFor(hdus: Vector[Hdu]): Seq[Int] =
    if (isAllHdu)
      hdus.indices.filter(i =>
        hdus(i).meta.isReadable && hdus(i).meta.rowBytes > 0)
    else hduResolutionsFor(hdus).map(_._2)
      .filter(i => i >= 0 && i < hdus.length).distinct

  /** The `hdu` tokens that resolve to no HDU of this file. */
  def missingHduTokens(hdus: Vector[Hdu]): Seq[String] =
    hduResolutionsFor(hdus).collect {
      case (tok, i) if i < 0 || i >= hdus.length => tok
    }

  lazy val hduIndex: Int = hduSpecIndex.getOrElse {
    val i = hduIndexFor(firstFileHdus)
    require(i >= 0,
      s"no HDU with EXTNAME '$hduSpec' in ${files.head} " +
        s"(names: ${firstFileHdus.flatMap(_.header.values.get("EXTNAME"))
          .map(_.trim).mkString(", ")})")
    i
  }
  val mode: String = ci.getOrElse("mode", "PERMISSIVE").toUpperCase
  /** Write option: `option("image", true)` writes an IMAGE primary HDU
    * (one row per image line) instead of a BINTABLE extension. */
  val imageWrite: Boolean = ci.get("image").exists(_.toBoolean)
  /** Write option (image mode only): tile-compress each image line per
    * the ZIMAGE convention — `RICE_1` (integer pixels), `GZIP_1`,
    * `GZIP_2` or `NOCOMPRESS`. The output reads back through this
    * source's compressed-image path (and fpack-compatible readers). */
  val imageCompress: Option[String] = ci.get("compress").map(_.trim.toUpperCase)
  /** Write option (with `compress`): 2D tile size `"WxH"` in pixels —
    * default is whole-line tiles (`ZTILE1`=width, `ZTILE2`=1). 2D tiles
    * compress better when vertical correlation beats horizontal (and
    * match `fpack -t`); the reader handles both layouts. */
  val compressTile: Option[(Int, Int)] = ci.get("compresstile").map { v =>
    val parts = v.toLowerCase.split("x")
    require(parts.length == 2 &&
      parts.forall(p => scala.util.Try(p.trim.toInt).toOption.exists(_ > 0)),
      s"compressTile must be WxH with positive integers, got '$v'")
    (parts(0).trim.toInt, parts(1).trim.toInt)
  }
  /** Write option (with `compress`, float pixels): lossy NO_DITHER
    * quantization in fpack's terms — the per-tile step is tileSigma/q,
    * so larger q preserves more precision. Codes are int32 with
    * per-tile ZSCALE/ZZERO columns; non-finite pixels become ZBLANK
    * (read back as NULL). */
  val quantize: Option[Double] = ci.get("quantize").map { v =>
    val q = v.toDouble
    require(q > 0, s"quantize must be a positive sigma divisor, got $v")
    q
  }
  /** Write option (with `quantize`): subtractive dithering per the
    * tiled-image convention — 1 (SUBTRACTIVE_DITHER_1) adds the
    * convention's Park–Miller random offset per pixel before rounding
    * (decorrelates quantization noise from the signal), 2
    * (SUBTRACTIVE_DITHER_2) additionally stores exact-0.0 pixels
    * losslessly. The seed is `ditherSeed` (ZDITHER0). */
  val dither: Int = ci.get("dither").map { v =>
    val d = v.trim.toInt
    require(d == 1 || d == 2, s"dither must be 1 or 2, got '$v'")
    d
  }.getOrElse(0)
  val ditherSeed: Int = ci.get("ditherseed").map { v =>
    val sd = v.trim.toInt
    require(sd >= 1 && sd <= FitsDither.NRandom,
      s"ditherSeed must be in 1..10000, got '$v'")
    sd
  }.getOrElse(1)
  /** Write option (with `compress = HCOMPRESS_1`): the H-transform
    * digitization scale. 0 (default) or 1 is lossless; larger values
    * divide transform coefficients by `hcompScale` before coding —
    * lossy, reconstruction error bounded by a small multiple of the
    * scale. Stored per-tile in the stream (and as ZVAL SCALE). */
  val hcompScale: Int = ci.get("hcompscale").map { v =>
    val s = v.trim.toInt
    require(s >= 0, s"hcompScale must be >= 0, got '$v'")
    s
  }.getOrElse(0)
  /** Write option (with lossy `hcompScale`): record `SMOOTH = 1` so
    * readers apply the smoothed reconstruction (decode-side
    * interpolation inside the quantization interval — the data stream
    * itself is unchanged). */
  val hcompSmooth: Boolean = ci.get("hcompsmooth").exists(_.toBoolean)
  /** Write option (image modes): emit DATASUM + CHECKSUM cards per the
    * FITS checksum convention (one extra sequential pass over the
    * partition's spill). Verify with [[FitsChecksumReport]]. */
  val checksumWrite: Boolean = ci.get("checksum").exists(_.toBoolean)
  /** Streaming-read option: cap how many new files one micro-batch
    * admits (same contract as Spark's file source) — without it a
    * large backlog becomes a single giant batch. */
  val maxFilesPerTrigger: Option[Int] =
    ci.get("maxfilespertrigger").map(_.toInt)
  val verbose: Boolean = ci.get("verbose").exists(_.toBoolean)
  val recordLength: Option[Int] = ci.get("recordlength").map(_.toInt)
  /** Read option (image HDUs): `colRange = "lo:hi"` — an inclusive,
    * 0-based pixel-COLUMN window pushed into the scan. The second
    * cutout axis, pairing with the line-range (`ImgIndex` predicate)
    * pushdown: emitted `Image` arrays hold only the window, plain
    * images with wide lines read only the window's bytes per line
    * (strided positioned reads), and tile-compressed images
    * decompress only the tiles intersecting the window. A 100×100
    * cutout of a 100k-pixel-wide exposure stops paying for full
    * lines. */
  val colRange: Option[(Int, Int)] = ci.get("colrange").map { v =>
    val p = v.split(":")
    require(p.length == 2 &&
      p.forall(x => scala.util.Try(x.trim.toLong).isSuccess),
      s"colRange must be 'lo:hi' with integers, got '$v'")
    val (lo, hi) = (p(0).trim.toLong, p(1).trim.toLong)
    require(lo >= 0 && hi >= lo && hi <= Int.MaxValue,
      s"colRange needs 0 <= lo <= hi, got '$v'")
    (lo.toInt, hi.toInt)
  }
  val columnsOption: Option[Seq[String]] =
    ci.get("columns").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))

  @transient lazy val hadoopConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  @transient lazy val files: Seq[Path] = FitsFiles.resolve(pathSpec, hadoopConf)

  @transient lazy val firstFileHdus: Vector[Hdu] = scanFile(files.head)

  def scanFile(p: Path): Vector[Hdu] =
    FitsStructure.scan(p.getFileSystem(hadoopConf), p)

  /** Every resolved file with its HDUs: one header walk per file per
    * load, shared by filter pushdown, the size estimate and partition
    * planning of every scan over this resolution (headers are immutable
    * once a load has listed the files, by the file-source contract). The
    * workers walk through a captured conf, so none of them waits on
    * this object's initialization lock, which the caller holds. */
  @transient lazy val fileHdus: Seq[(Path, Vector[Hdu])] = {
    val conf = hadoopConf
    (files.head -> firstFileHdus) +: FitsFiles.parMap(files.tail, 16)(p =>
      p -> FitsStructure.scan(p.getFileSystem(conf), p))
  }

  /** The target HDUs of one file that hold rows of the table, with
    * their metadata (`columns` applied): readable, non-empty and of the
    * first file's schema. `skip` hears every target left out for a
    * reason the session mode rules on: an `hdu` token this file lacks
    * (a list "1,9" with only HDU 1 present must FAILFAST like a bare
    * "9" would), no readable HDU under `all`, or a differing schema.
    * Under a multi-HDU `hdu`, non-data HDUs (the MEF primary under
    * `all`) skip silently. */
  def rowHdus(path: Path, hdus: Vector[Hdu])(
      skip: String => Unit): Seq[(Int, HduMeta)] = {
    val missing = missingHduTokens(hdus)
    if (missing.nonEmpty)
      skip(s"$path has no HDU ${missing.mkString(",")}; skipping")
    val idxs = hduIndicesFor(hdus)
    if (idxs.isEmpty && isAllHdu) skip(s"$path has no readable HDU; skipping")
    idxs.flatMap { idx =>
      val meta = targetMetaAt(hdus, idx)
      val hasRows = meta.isReadable && meta.nRows > 0 && meta.rowBytes > 0
      if (isMultiHdu && !hasRows) None
      else if (meta.schema != inferredSchema) {
        skip(s"$path HDU $idx schema ${meta.schema.simpleString} " +
          s"differs from first file's ${inferredSchema.simpleString}; skipping")
        None
      } else if (hasRows) Some(idx -> meta)
      else None
    }
  }

  /** The target HDU's metadata with the `columns` option applied. */
  def targetMeta(hdus: Vector[Hdu], file: Path): HduMeta = {
    val idx = hduIndexFor(hdus)
    require(idx >= 0 && idx < hdus.length,
      if (hduSpecIndex.isDefined)
        s"HDU index $hduSpec does not exist in $file " +
          s"(file has ${hdus.length} HDUs)"
      else
        s"no HDU with EXTNAME '$hduSpec' in $file (names: " +
          hdus.flatMap(_.header.values.get("EXTNAME"))
            .map(_.trim).mkString(", ") + ")")
    targetMetaAt(hdus, idx)
  }

  /** The HDU-`idx` metadata with the `columns` option applied. */
  def targetMetaAt(hdus: Vector[Hdu], idx: Int): HduMeta = {
    val meta = hdus(idx).meta
    (meta, columnsOption) match {
      case (b: HduMeta.Bintable, Some(names)) => b.select(names)
      case _ => meta
    }
  }

  @transient lazy val firstMeta: HduMeta = {
    // PERMISSIVE: infer from the first file whose target HDU is
    // readable — an empty-HDU file that merely sorts first must not
    // empty the whole multi-file read. FAILFAST keeps strict
    // first-file semantics so inconsistencies surface eagerly.
    val meta = targetMeta(firstFileHdus, files.head)
    val chosen =
      if (meta.isReadable || mode == "FAILFAST" || files.lengthCompare(1) == 0)
        meta
      else files.drop(1).iterator
        .map(p => targetMeta(scanFile(p), p))
        .collectFirst { case m if m.isReadable => m }
        .getOrElse(meta)
    recordLength.foreach { rl =>
      require(rl >= chosen.rowBytes,
        s"recordLength $rl is smaller than the row size ${chosen.rowBytes} B" +
          " — increase it or drop the option")
    }
    chosen
  }

  def inferredSchema: StructType = firstMeta.schema
  def tableSchema: StructType = inferredSchema

  /** Name of the line-index column when the target HDU is an image —
    * resolved POSITIONALLY (field 1 of the two-field image schema), the
    * same binding `columns`/user schemas use, so a user-renamed index
    * column still prunes. Bintables never qualify: a data column that
    * merely happens to be named `ImgIndex` carries values unrelated to
    * row position, and pruning on it would drop wrong rows. ONE
    * definition shared by the static pushdown (builder) and runtime
    * filtering (scan): the two prune paths must gate identically or
    * runtime pruning silently stops matching what the builder folds. */
  def lineIndexColIn(schema: StructType): Option[String] = firstMeta match {
    case _: HduMeta.Image | _: HduMeta.CompImage
        if schema.length == 2 => Some(schema.fields(1).name)
    case _ => None
  }
}

final class FitsTable(res: FitsResolution, userSchema: Option[StructType])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"fits:${res.pathSpec}"
  override def schema(): StructType = userSchema.getOrElse(res.inferredSchema)
  /** Hidden provenance columns (`_file_path`, `_hdu`, `_row_index`) —
    * see [[FitsMetadata]]. Selectable by name, never inferred. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    FitsMetadata.columnsFor(schema())
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new FitsScanBuilder(res, schema())
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new FitsWriteBuilder(res, info)
}

final class FitsScanBuilder(res: FitsResolution, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var metaCols: Array[String] = Array.empty
  private var limit: Option[Long] = None
  private var accepted: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var lineRange: Option[(Long, Long)] = None
  private var rowRange: Option[(Long, Long)] = None

  // fail-loud at planning time, not mid-task: a column window has no
  // meaning for a bintable's heterogeneous columns
  res.colRange.foreach { _ =>
    res.firstMeta match {
      case _: HduMeta.Image | _: HduMeta.CompImage => ()
      case _ => throw new IllegalArgumentException(
        s"colRange applies to IMAGE HDUs; HDU ${res.hduSpec} of " +
          s"${res.files.head} is not one")
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // metadata columns ([[FitsMetadata]]) arrive in the required schema
    // by name; split them out so positional data binding stays intact —
    // a data column that shares the name stays data (it shadows the
    // metadata column at the table level already)
    val dataNames = tableSchema.fieldNames.toSet
    val (meta, data) = requiredSchema.fields.partition(f =>
      !dataNames.contains(f.name) && FitsMetadata.kindOf(f.name) >= 0)
    required = StructType(data)
    metaCols = meta.map(_.name)
  }

  /** Rows are fixed-width, so LIMIT n maps exactly to the first n rows
    * of the first file(s): plan only that byte range. Partial pushdown
    * — Spark still applies the final limit. */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n.toLong)
    true
  }

  /** See [[FitsResolution.lineIndexColIn]] — shared with FitsScan. */
  private lazy val lineIndexCol: Option[String] =
    res.lineIndexColIn(tableSchema)

  /** Filter pushdown. Conjuncts that bound the line-index column of an
    * image HDU (`ImgIndex =, <, <=, >, >=, IN`) fold into one [lo, hi]
    * line range, and `_row_index` conjuncts into one row range, that
    * the partition planner clamps to: a cutout of a 100 GB image plans
    * (and reads) only the byte bands the range intersects. Value
    * conjuncts on data columns drop files whose GMINn/GMAXn stats
    * exclude them (see [[FitsStats]]).
    *
    * A conjunct the scan answers exactly leaves the plan: Spark then
    * plans no `Filter` above the scan (so no generated code carries its
    * literal), and offers aggregates and LIMIT to the scan. Index range
    * conjuncts (not `IN`, which folds to an envelope) are exact when
    * every HDU that plans rows slices them exactly: every HDU for
    * `_row_index` but tile-compressed images, whose ranges widen to
    * whole tile bands, and only plain images for the line index. A
    * value conjunct is exact when, for every such HDU, the stats of some
    * conjunct exclude it or its own stats prove every row matches. All
    * other conjuncts stay residual. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val acc = Array.newBuilder[org.apache.spark.sql.sources.Filter]
    val exact = Array.newBuilder[org.apache.spark.sql.sources.Filter]
    def foldIndex(col: String, slicesExactly: HduMeta => Boolean)
        : Option[(Long, Long)] = {
      val (r, a) = FitsScanBuilder.foldRange(col, filters)
      acc ++= a
      if (a.nonEmpty && rowHdus.forall { case (_, m) => slicesExactly(m) })
        exact ++= a.filter(FitsScanBuilder.foldsExactly)
      r
    }
    lineIndexCol.foreach { col =>
      lineRange = foldIndex(col, _.isInstanceOf[HduMeta.Image])
    }
    // `_row_index` bounds prune EVERY HDU type — rows are fixed width,
    // so "rows N..M of a 100 GB table" plans only those bytes.
    // A data column shadowing the name keeps data semantics: no clamp.
    if (!tableSchema.fieldNames.contains(FitsMetadata.RowIndex))
      rowRange = foldIndex(FitsMetadata.RowIndex,
        !_.isInstanceOf[HduMeta.CompImage])
    val dataCols = tableSchema.fieldNames.toSet
    valueFilters = filters.filter(f =>
      FitsStats.colOf(f).exists(dataCols.contains))
    acc ++= valueFilters
    exact ++= filters.filter(f => FitsStats.provable(f, dataCols) &&
      rowHdus.forall { case (hdu, _) =>
        FitsStats.skips(res, tableSchema, valueFilters, hdu) ||
          FitsStats.covers(res, tableSchema, f, hdu)
      })
    exactFilters = exact.result().distinct
    accepted = (acc.result() ++ exactFilters).distinct
    filters.filterNot(exactFilters.contains)
  }
  private var valueFilters
      : Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var exactFilters
      : Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** Every HDU that can plan rows, with its table-bound metadata. */
  private lazy val rowHdus: Seq[(Hdu, HduMeta)] =
    res.fileHdus.flatMap { case (path, hdus) =>
      res.rowHdus(path, hdus)(_ => ()).map { case (i, m) => hdus(i) -> m }
    }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    accepted

  /** Metadata-answerable aggregates push down (zero data bytes read at
    * any scale): `COUNT(*)`, and `MIN`/`MAX` of the line-index column
    * of an image HDU or of `_row_index` on any HDU — per HDU those are
    * just 0 and NAXIS2−1. Complete pushdown: the scan answers with the
    * final row, so the plan needs no shuffle and no final aggregate.
    * Spark only offers the aggregation when every filter left the plan
    * (see [[pushFilters]]); the answer then counts the slices planned
    * under those filters, so it is exact by construction. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    aggKindsOf(aggregation).nonEmpty

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    aggKinds = aggKindsOf(aggregation).getOrElse(Array.empty)
    aggKinds.nonEmpty
  }
  private var aggKinds: Array[Int] = Array.empty

  /** The [[FitsAggScan]] kind of each aggregate, or None when any of
    * them needs data. Free of side effects: Spark asks
    * [[supportCompletePushDown]] before [[pushAggregation]]. */
  private def aggKindsOf(aggregation: Aggregation): Option[Array[Int]] = {
    if (aggregation.groupByExpressions().nonEmpty) return None
    def idxKind(e: org.apache.spark.sql.connector.expressions.Expression,
        k: Int): Int = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        val n = nr.fieldNames().head
        val isImgLine = lineIndexCol.contains(n)
        val isMetaIdx = n == FitsMetadata.RowIndex &&
          !tableSchema.fieldNames.contains(n)
        if (isImgLine || isMetaIdx) k else -1
      case _ => -1
    }
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    val kinds = aggregation.aggregateExpressions().map {
      case _: CountStar => FitsAggScan.KindCount
      case m: Min => idxKind(m.column(), FitsAggScan.KindMinIdx)
      case m: Max => idxKind(m.column(), FitsAggScan.KindMaxIdx)
      case _ => -1
    }
    Some(kinds).filter(ks => ks.nonEmpty && ks.forall(_ >= 0))
  }

  override def build(): Scan =
    if (aggKinds.isEmpty)
      new FitsScan(res, tableSchema, required, limit, lineRange,
        metaCols, rowRange, valueFilters, exactFilters)
    else {
      // the rows the aggregate counts: no column is decoded
      new FitsAggScan(res, new FitsScan(res, tableSchema, StructType(Nil),
        limit, lineRange, Array.empty, rowRange, valueFilters, exactFilters),
        aggKinds)
    }
}

object FitsScanBuilder {
  /** Folds index-bounding conjuncts on `col` into one [lo, hi] range;
    * returns the range (if any bound tightened) and the filters it
    * understood (reported as accepted; [[foldsExactly]] says which of
    * them the range answers exactly). */
  private[fits] def foldRange(col: String,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : (Option[(Long, Long)], Array[org.apache.spark.sql.sources.Filter]) = {
    import org.apache.spark.sql.sources._
    var lo = 0L
    var hi = Long.MaxValue
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    val acc = Array.newBuilder[Filter]
    filters.foreach {
      case f @ EqualTo(`col`, v) => asLong(v).foreach { x =>
        lo = math.max(lo, x); hi = math.min(hi, x); acc += f }
      case f @ GreaterThan(`col`, v) => asLong(v).foreach { x =>
        if (x < Long.MaxValue) lo = math.max(lo, x + 1) else hi = -1
        acc += f }
      case f @ GreaterThanOrEqual(`col`, v) => asLong(v).foreach { x =>
        lo = math.max(lo, x); acc += f }
      case f @ LessThan(`col`, v) => asLong(v).foreach { x =>
        if (x > Long.MinValue) hi = math.min(hi, x - 1) else hi = -1
        acc += f }
      case f @ LessThanOrEqual(`col`, v) => asLong(v).foreach { x =>
        hi = math.min(hi, x); acc += f }
      case f @ In(`col`, vs) if vs.nonEmpty =>
        val xs = vs.flatMap(asLong)
        if (xs.length == vs.length) {
          lo = math.max(lo, xs.min); hi = math.min(hi, xs.max); acc += f
        }
      case f @ IsNotNull(`col`) => acc += f // emitted indices are never null
      case _ => () // unsupported shape: residual-only, no pruning
    }
    (if (lo > 0L || hi < Long.MaxValue) Some((lo, hi)) else None,
      acc.result())
  }

  /** True iff [[foldRange]]'s range holds exactly the indices `f`
    * admits: a comparison with an integral literal (a fractional one
    * truncates), or IsNotNull (indices are never null). `In` folds to
    * its envelope, a superset. */
  private[fits] def foldsExactly(f: org.apache.spark.sql.sources.Filter)
      : Boolean = {
    import org.apache.spark.sql.sources._
    def integral(v: Any): Boolean = v match {
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
          _: java.lang.Byte => true
      case _ => false
    }
    f match {
      case EqualTo(_, v) => integral(v)
      case GreaterThan(_, v) => integral(v)
      case GreaterThanOrEqual(_, v) => integral(v)
      case LessThan(_, v) => integral(v)
      case LessThanOrEqual(_, v) => integral(v)
      case IsNotNull(_) => true
      case _ => false
    }
  }

  /** Folds index conjuncts on `col` into a SORTED, DISJOINT run list —
    * the runtime-filter variant of [[foldRange]]. An `In` value set
    * (the shape a DPP-style join filter arrives as) keeps its gaps: 50
    * alert lines scattered across a 100 GB exposure prune to ≤50 byte
    * ranges instead of one whole-file envelope. Range conjuncts fold
    * exactly as in foldRange and INTERSECT the runs. None = no
    * understood conjunct (no pruning); Some(empty) = provably no rows. */
  private[fits] def foldRuns(col: String,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[Vector[(Long, Long)]] = {
    import org.apache.spark.sql.sources._
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    var acc: Option[Vector[(Long, Long)]] = None
    def add(runs: Vector[(Long, Long)]): Unit =
      acc = Some(acc.fold(runs)(RowRuns.intersect(_, runs)))
    filters.foreach {
      case In(`col`, vs) if vs.nonEmpty =>
        val xs = vs.flatMap(asLong)
        if (xs.length == vs.length) add(RowRuns.fromPoints(xs.toSeq))
      case EqualTo(`col`, v) => asLong(v).foreach(x =>
        add(if (x >= 0) Vector((x, x)) else Vector.empty))
      case GreaterThan(`col`, v) => asLong(v).foreach(x =>
        add(if (x < Long.MaxValue) Vector((math.max(0L, x + 1), Long.MaxValue))
          else Vector.empty))
      case GreaterThanOrEqual(`col`, v) => asLong(v).foreach(x =>
        add(Vector((math.max(0L, x), Long.MaxValue))))
      case LessThan(`col`, v) => asLong(v).foreach(x =>
        add(if (x > 0) Vector((0L, x - 1)) else Vector.empty))
      case LessThanOrEqual(`col`, v) => asLong(v).foreach(x =>
        add(if (x >= 0) Vector((0L, x)) else Vector.empty))
      case _ => () // unsupported shape: residual-only, no pruning
    }
    acc.map(RowRuns.cap(_))
  }
}

/** Value-domain data skipping over the writer's reserved GMINn/GMAXn
  * per-column min/max cards (FitsWriter emits them on every bintable
  * part; other readers ignore unknown keywords per FITS 4.0 §4.1.2.3).
  * A pushed comparison whose value range the stats PROVABLY exclude
  * drops the whole file from the plan — zero extra IO, the stats ride
  * the one header walk the planner already does. Conservative by
  * construction: absent, unparsable, or NaN-poisoned stats never skip.
  * The same stats, trusted exactly as far, also prove that EVERY row of
  * a file matches a comparison ([[covers]]), which lets an exact
  * conjunct leave the plan (see [[FitsScanBuilder.pushFilters]]).
  *
  * The reference has no predicate pushdown at all (SURVEY §4:
  * fixed-width rows ⇒ no row-group stats) — this is the writer-owned
  * lever it never had. */
private[fits] object FitsStats {
  import org.apache.spark.sql.sources._

  /** The single data column a skippable comparison references, if the
    * filter is a shape stats can evaluate. */
  def colOf(f: Filter): Option[String] = f match {
    case EqualTo(c, v) if isNum(v) => Some(c)
    case GreaterThan(c, v) if isNum(v) => Some(c)
    case GreaterThanOrEqual(c, v) if isNum(v) => Some(c)
    case LessThan(c, v) if isNum(v) => Some(c)
    case LessThanOrEqual(c, v) if isNum(v) => Some(c)
    case In(c, vs) if vs.nonEmpty && vs.forall(isNum) => Some(c)
    case _ => None
  }
  private def isNum(v: Any): Boolean = v.isInstanceOf[java.lang.Number]

  /** Shapes [[covers]] can prove on data column `dataCols`: the
    * comparisons of [[colOf]] but `In`, and IsNotNull. */
  def provable(f: Filter, dataCols: Set[String]): Boolean = f match {
    case _: In => false
    case IsNotNull(c) => dataCols(c)
    case _ => colOf(f).exists(dataCols)
  }

  private def bd(s: String): Option[BigDecimal] =
    scala.util.Try(BigDecimal(s.trim)).toOption

  /** The header's (GMIN, GMAX) for 0-based physical column `physIdx`. */
  private def stats(h: core.FitsHeader, physIdx: Int)
      : Option[(BigDecimal, BigDecimal)] = for {
    mn <- h.values.get(s"GMIN${physIdx + 1}").flatMap(bd)
    mx <- h.values.get(s"GMAX${physIdx + 1}").flatMap(bd)
  } yield (mn, mx)

  /** The 0-based physical column of `full` that table column `name`
    * binds to, or −1. Binding is positional, like planning: the name
    * maps to a table-schema position, then through the `columns`
    * selection (TTYPE-name keyed, per file) to the FITS column the
    * GMINn/GMAXn cards describe. */
  private def physIndex(res: FitsResolution, tableSchema: StructType,
      full: HduMeta.Bintable, name: String): Int = {
    val p = tableSchema.fieldIndex(name)
    val phys = res.columnsOption match {
      case Some(names) if p < names.length =>
        full.columns.indexWhere(_.name == names(p))
      case Some(_) => -1
      case None => p
    }
    if (phys < full.columns.length) phys else -1
  }

  /** True iff the stats of `hdu` prove that some of `filters` matches
    * no row: the HDU drops from the plan. */
  def skips(res: FitsResolution, tableSchema: StructType,
      filters: Array[Filter], hdu: Hdu): Boolean =
    filters.nonEmpty && (hdu.meta match {
      case full: HduMeta.Bintable => filters.exists { f =>
        colOf(f).exists { name =>
          val phys = physIndex(res, tableSchema, full, name)
          phys >= 0 && excludes(f, hdu.header, phys)
        }
      }
      case _ => false
    })

  /** True iff `hdu` proves that every row matches the [[provable]]
    * conjunct `f`. The column must never read as NULL (a numeric scalar
    * with no TNULLn card), since stats leave nulls out. A float null is
    * no NULL here: the writer stores it as 0.0, the reader returns 0.0,
    * and the writer's stats count that 0.0. The literal must
    * have the column's own type, not Float (see [[excludes]]): Spark
    * then compares in a type whose order the BigDecimal domain keeps
    * exactly. A float column holding NaN has no stats (the writer's
    * poisoning), so it is never proven. */
  def covers(res: FitsResolution, tableSchema: StructType, f: Filter,
      hdu: Hdu): Boolean = (hdu.meta, f.references) match {
    case (full: HduMeta.Bintable, Array(name)) =>
      val phys = physIndex(res, tableSchema, full, name)
      phys >= 0 && {
        val col = full.columns(phys)
        val neverNull = !hdu.header.values.contains(s"TNULL${phys + 1}") &&
          (col.tform match {
            case TForm.Scalar(_, e) => e != ElemType.L
            case sc: TForm.Scaled => !sc.isArray
            case _ => false
          })
        def literal(x: Any): Option[BigDecimal] = {
          import org.apache.spark.sql.types._
          (x, col.tform.sparkType) match {
            case (_: java.lang.Byte, ByteType) | (_: java.lang.Short, ShortType) |
                (_: java.lang.Integer, IntegerType) |
                (_: java.lang.Long, LongType) |
                (_: java.lang.Double, DoubleType) => bd(x.toString)
            case _ => None
          }
        }
        def all(x: Any)(holds: (BigDecimal, BigDecimal, BigDecimal) => Boolean) =
          neverNull && (for {
            q <- literal(x)
            (mn, mx) <- stats(hdu.header, phys)
          } yield holds(mn, mx, q)).contains(true)
        f match {
          case IsNotNull(_) => neverNull
          case EqualTo(_, x) => all(x)((mn, mx, q) => mn == q && mx == q)
          case GreaterThan(_, x) => all(x)((mn, _, q) => mn > q)
          case GreaterThanOrEqual(_, x) => all(x)((mn, _, q) => mn >= q)
          case LessThan(_, x) => all(x)((_, mx, q) => mx < q)
          case LessThanOrEqual(_, x) => all(x)((_, mx, q) => mx <= q)
          case _ => false
        }
      }
    case _ => false
  }

  /** True iff the header's stats for 1-based physical column
    * `physIdx+1` prove `f` matches no row. BigDecimal domain: exact for
    * int64 stats at any magnitude AND for float stats (Double.toString
    * round-trips); NaN/Infinity text fails the parse and disables the
    * skip. */
  def excludes(f: Filter, h: core.FitsHeader, physIdx: Int): Boolean = {
    def v(x: Any): Option[BigDecimal] = x match {
      // Float literals widen to DOUBLE first: the writer tracks float
      // columns in the widened-double domain (exact, order-preserving),
      // but Float.toString is the FLOAT's shortest representation —
      // "0.1f".toString = "0.1" parses to a BigDecimal BELOW the
      // stored 0.100000001490116…, and the comparison would "prove"
      // exclusion for a value that matches exactly in float domain
      case f: java.lang.Float => bd(f.doubleValue.toString)
      case n: java.lang.Number => bd(n.toString)
      case _ => None
    }
    stats(h, physIdx).exists { case (mn, mx) =>
      f match {
        case EqualTo(_, x) => v(x).exists(q => q < mn || q > mx)
        case GreaterThan(_, x) => v(x).exists(q => mx <= q)
        case GreaterThanOrEqual(_, x) => v(x).exists(q => mx < q)
        case LessThan(_, x) => v(x).exists(q => mn >= q)
        case LessThanOrEqual(_, x) => v(x).exists(q => mn > q)
        case In(_, xs) =>
          xs.forall(x => v(x).exists(q => q < mn || q > mx))
        case _ => false
      }
    }
  }
}

/** Sorted-disjoint inclusive [lo, hi] run-list algebra for row/line
  * pruning. Runs are always a SUPERSET contract: a reader may emit
  * extra rows (the join/filter re-evaluates), never fewer. */
private[fits] object RowRuns {
  /** Planner cap: beyond this, closest runs merge — bounds the planned
    * partition count (and the per-scan metadata) no matter how many
    * distinct keys the build side hands over. 64 preserves the sparse
    * "N alert lines" shape while keeping task metadata trivial. */
  val MaxRuns = 64

  /** Distinct points → coalesced inclusive runs (adjacent ints merge).
    * Negative points are dropped: row/line indices start at 0. */
  def fromPoints(points: Seq[Long]): Vector[(Long, Long)] = {
    val xs = points.filter(_ >= 0).distinct.sorted
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0
    while (i < xs.length) {
      val lo = xs(i)
      var hi = lo
      while (i + 1 < xs.length && xs(i + 1) == hi + 1) { i += 1; hi = xs(i) }
      out += ((lo, hi))
      i += 1
    }
    out.result()
  }

  /** Sort + merge overlapping/adjacent runs. */
  def coalesce(runs: Vector[(Long, Long)]): Vector[(Long, Long)] = {
    val sorted = runs.filter(r => r._2 >= r._1).sortBy(_._1)
    val out = Vector.newBuilder[(Long, Long)]
    var cur: Option[(Long, Long)] = None
    sorted.foreach { case (lo, hi) =>
      cur match {
        case Some((a, b)) if lo <= b + 1 || b == Long.MaxValue =>
          cur = Some((a, math.max(b, hi)))
        case Some(prev) => out += prev; cur = Some((lo, hi))
        case None => cur = Some((lo, hi))
      }
    }
    cur.foreach(out += _)
    out.result()
  }

  /** Intersection of two sorted-disjoint run lists (linear merge). */
  def intersect(a: Vector[(Long, Long)], b: Vector[(Long, Long)])
      : Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  /** Bounds the run count by merging the runs separated by the
    * SMALLEST gaps first — a correct superset that re-reads the fewest
    * skipped rows. Falls back toward the envelope as max shrinks. */
  def cap(runs: Vector[(Long, Long)], max: Int = MaxRuns)
      : Vector[(Long, Long)] = {
    if (runs.length <= max) runs
    else {
      // gaps between consecutive runs, largest kept: keep the max-1
      // largest gaps open, merge across the rest
      val gaps = runs.sliding(2).zipWithIndex.collect {
        case (Vector(a, b), idx) => (b._1 - a._2, idx)
      }.toVector.sortBy(-_._1).take(max - 1).map(_._2).toSet
      val out = Vector.newBuilder[(Long, Long)]
      var cur = runs.head
      runs.indices.drop(1).foreach { i =>
        if (gaps.contains(i - 1)) { out += cur; cur = runs(i) }
        else cur = (cur._1, runs(i)._2)
      }
      out += cur
      out.result()
    }
  }
}

object FitsAggScan {
  val KindCount = 0
  val KindMinIdx = 1
  val KindMaxIdx = 2
}

/** Metadata-only aggregates, answered on the driver from the slices
  * the row scan `rows` plans for the same pushed filters, and planned
  * as ONE partition holding the final row: COUNT(*) = Σ slice rows,
  * MIN/MAX(index) = the first and last planned index, NULL extrema when
  * no slice has rows (an all-empty archive counts 0).
  * [[FitsHeaderAnswer]] returns the row without a job. */
final class FitsAggScan(res: FitsResolution, rows: FitsScan, kinds: Array[Int])
    extends Scan with Batch with SupportsReportStatistics {
  import FitsAggScan._
  /** Exactly one row of longs: joins against it plan as broadcasts. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(8L * kinds.length)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(1L)
  }
  override def readSchema(): StructType =
    StructType(kinds.zipWithIndex.map { case (k, i) =>
      org.apache.spark.sql.types.StructField(
        k match {
          case KindCount => "count(*)"
          case KindMinIdx => s"min_idx_$i"
          case _ => s"max_idx_$i"
        },
        org.apache.spark.sql.types.LongType, nullable = k != KindCount)
    }.toSeq)
  override def toBatch: Batch = this
  override def description(): String =
    s"FITS ${res.pathSpec} hdu=${res.hduSpec} [metadata-only aggregate]" +
      rows.pushedDescription

  /** The final row, in [[readSchema]] order. */
  private[fits] lazy val answer: org.apache.spark.sql.catalyst.InternalRow = {
    val slices = rows.slicesFor(res.files).map(_._1).filter(_.numRows > 0)
    val first = slices.map(_.firstRowIndex).minOption
    val last = slices.map(p => p.firstRowIndex + p.numRows - 1).maxOption
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      kinds.map[Any] {
        case KindCount => slices.map(_.numRows).sum
        case KindMinIdx => first.map(Long.box).orNull
        case _ => last.map(Long.box).orNull
      })
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(FitsAggPartition(answer))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          private var done = false
          override def next(): Boolean = !done
          override def get(): org.apache.spark.sql.catalyst.InternalRow = {
            done = true
            p.asInstanceOf[FitsAggPartition].row
          }
          override def close(): Unit = ()
        }
    }
}

/** The final metadata-aggregate row. */
final case class FitsAggPartition(row: org.apache.spark.sql.catalyst.InternalRow)
    extends InputPartition

final class FitsScan(res: FitsResolution, tableSchema: StructType,
    required: StructType, limit: Option[Long] = None,
    lineRange: Option[(Long, Long)] = None,
    metaCols: Array[String] = Array.empty,
    rowRange: Option[(Long, Long)] = None,
    valueFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    exactFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with Logging {

  /** True iff the HDU's header stats prove a pushed value predicate
    * matches no row — it drops from the plan entirely. */
  private def statsExclude(hdu: Hdu): Boolean =
    FitsStats.skips(res, tableSchema, valueFilters, hdu)

  /** (files skipped, data bytes skipped) by value-predicate stats in
    * the last partition plan — test/telemetry surface. */
  @volatile private[fits] var lastStatsSkip: (Int, Long) = (0, 0L)

  /** Runtime (DPP-style) pruning: a join whose key is the image
    * line-index column or `_row_index` hands this scan the build
    * side's value set at execution time, and the value set folds into
    * a SORTED RUN LIST (≤ [[RowRuns.MaxRuns]], closest runs merged
    * beyond that) that clamps the planned byte ranges exactly like a
    * static cutout — per run. Returning a superset of matching rows is
    * fine — the join re-evaluates equality — so runs (not the exact
    * set) are all the pruner needs. The "fetch these 50 alert lines
    * from a 100 GB exposure" pattern becomes ≤50 byte-ranged reads,
    * even when the lines span the whole file (the r16 envelope-only
    * fold degenerated to a full scan there). */
  private[fits] var runtimeRuns: Option[Vector[(Long, Long)]] = None
  /** (planned data bytes, total data bytes) of the last partition plan
    * — numRows × rowBytes per planned slice (for tile-compressed
    * images the row unit is the descriptor row, so this is a relative
    * pruning measure there, exact elsewhere). Test/telemetry surface
    * for the skipped-bytes accounting. */
  @volatile private[fits] var lastPlanSummary: Option[(Long, Long)] = None
  /** See [[FitsResolution.lineIndexColIn]] — shared with the builder. */
  private val imgLineCol: Option[String] = res.lineIndexColIn(tableSchema)
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns present in THIS scan's output — Spark resolves each
    // one against the relation and errors on absent names: the image
    // line column qualifies only if it survived pruning, _row_index
    // only if the query requested it (it is never shadowed there:
    // metaCols excludes data-shadowed names by construction)
    val img = imgLineCol.filter(required.fieldNames.contains)
    val metaIdx = metaCols.find(_ == FitsMetadata.RowIndex)
    (img.toSeq ++ metaIdx).map(
      org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit = {
    val cols = filterAttributes().map(_.fieldNames().head)
    val folded = cols.flatMap(c => FitsScanBuilder.foldRuns(c, filters))
    // intersect everything that arrived (multiple runtime filters AND);
    // re-cap: intersecting two ≤64-run lists can yield up to 127 runs,
    // which would leak past the planner's partition/metadata bound
    runtimeRuns = (runtimeRuns.toSeq ++ folded)
      .reduceOption(RowRuns.intersect).map(RowRuns.cap(_))
  }

  /** The line/row runs this HDU's partitions clamp to: image HDUs
    * intersect the `ImgIndex` range with any `_row_index` range; every
    * other HDU type is prunable by `_row_index` alone. Runtime-filter
    * run lists intersect on top of the statically pushed ranges.
    * None = unconstrained; Some(empty) = provably zero rows. */
  private def runsFor(meta: HduMeta): Option[Vector[(Long, Long)]] = {
    val img = meta match {
      case _: HduMeta.Image | _: HduMeta.CompImage => lineRange
      case _ => None
    }
    val statics = Seq(img, rowRange).flatten
      .map(r => Vector(r).filter(x => x._2 >= x._1))
    (statics ++ runtimeRuns.toSeq).reduceOption(RowRuns.intersect)
  }

  /** Data columns first, then any requested metadata columns — Spark
    * re-projects to the query's order by name. */
  override def readSchema(): StructType =
    StructType(required.fields ++ metaCols.map(FitsMetadata.fieldFor))
  override def toBatch: Batch = this

  /** Exact row count and data size from HDU metadata (headers only, no
    * data bytes read) — with real statistics Catalyst's size-based join
    * planning works on FITS inputs: a small dimension table read from
    * FITS auto-broadcasts exactly like a parquet one would. The size is
    * scaled down to the pruned column fraction so projection-heavy
    * plans see the bytes they will actually move. */
  private lazy val stats: (Long, Long) = {
    // only HDUs that plan rows count, with the `columns` option applied;
    // value-domain skips count in the ESTIMATE too: a selective
    // predicate over a sorted archive must report the pruned size, or
    // Catalyst sizes joins as if every file scanned
    val metas = res.fileHdus.flatMap { case (path, hdus) =>
      res.rowHdus(path, hdus)(_ => ()).collect {
        case (i, m) if !statsExclude(hdus(i)) => m
      }
    }
    // prune-aware row width, bound positionally like planFor (user
    // schemas rename columns) — computed PER FILE: heterogeneous unions
    // (e.g. differing string widths under PERMISSIVE) have different
    // row sizes, so a first-file-only width would misreport the total
    val positions = required.fieldNames.map(tableSchema.fieldIndex)
    def prunedRowBytes(m: HduMeta): Long = (m match {
      case b: HduMeta.Bintable =>
        positions.map(p => b.columns(p).tform.byteWidth).sum.max(1)
      case i: HduMeta.Image if res.colRange.isDefined =>
        // pushed column window: the scan moves only the window's bytes
        val (_, n) = DecodeSpec.window(res.colRange, i.lineElems)
        math.max(1, n * i.elem.width)
      case other => other.rowBytes
    }).toLong
    // a pushed limit caps the scan at the first `limit` rows in file
    // order (planFor stops planning once the limit is covered), so the
    // estimate walks files in the same order
    var remaining = limit.getOrElse(Long.MaxValue)
    var rows = 0L
    var bytes = 0L
    // a pushed line/row run list reads only its overlap with each HDU
    def rangedRows(m: HduMeta): Long = runsFor(m) match {
      case Some(runs) => runs.iterator.map { case (lo, hi) =>
        math.max(0L, math.min(m.nRows - 1, hi) - math.max(0L, lo) + 1)
      }.sum
      case None => m.nRows
    }
    metas.foreach { m =>
      val take = math.min(rangedRows(m), remaining)
      if (take > 0) {
        rows += take
        bytes += take * prunedRowBytes(m)
        remaining -= take
      }
    }
    (rows, bytes)
  }

  override def estimateStatistics(): Statistics = {
    val (rows, bytes) = stats
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
  override def description(): String =
    s"FITS ${res.pathSpec} hdu=${res.hduSpec} " +
      s"cols=${required.fieldNames.mkString(",")}" +
      limit.map(l => s" limit=$l").getOrElse("") +
      lineRange.map { case (lo, hi) => s" lines=[$lo,$hi]" }.getOrElse("") +
      rowRange.map { case (lo, hi) => s" rows=[$lo,$hi]" }.getOrElse("") +
      // runtime-filter visibility (r16 verdict ask #7): a scan pruned
      // at runtime is distinguishable in the UI/explain output from an
      // unpruned one — first runs shown, remainder counted
      runtimeRuns.map { rs =>
        val shown = rs.take(8).map { case (a, b) => s"[$a,$b]" }.mkString(",")
        val more = if (rs.length > 8) s"+${rs.length - 8} more" else ""
        s" runtimeRuns=$shown$more"
      }.getOrElse("") +
      (if (valueFilters.nonEmpty)
        s" statsFilters=${valueFilters.mkString(",")}" else "") +
      pushedDescription

  /** The conjuncts this scan answers exactly, which no Filter re-checks,
    * as explain lists them. */
  private[fits] def pushedDescription: String =
    if (exactFilters.isEmpty) ""
    else s" pushed=${exactFilters.mkString("[", ", ", "]")}"

  override def planInputPartitions(): Array[InputPartition] =
    planFor(res.files)

  /** Plans input partitions for `files` — shared by the batch path
    * (all resolved files) and the micro-batch stream (only the files
    * new to the current batch): the row-aligned slices of
    * [[slicesFor]], packed by [[FitsScan.pack]] so many small slices
    * share a task. */
  private[fits] def planFor(files: Seq[Path]): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.conf
    val slices = slicesFor(files)
    val out = FitsScan.pack(slices, conf.filesMaxPartitionBytes,
      conf.filesOpenCostInBytes, minPartitions)
    if (res.verbose) {
      // reference parity (A18): file list + target-HDU header dump
      logInfo(s"FITS files (${res.files.length}): " +
        res.files.take(20).mkString(", ") +
        (if (res.files.length > 20) ", ..." else ""))
      res.firstFileHdus.lift(res.hduIndex).foreach { h =>
        logInfo(s"HDU ${res.hduIndex} header:\n" + h.header.cards
          .map(c => s"  ${c.keyword} = ${c.value.getOrElse("")}" +
            c.comment.map(" / " + _).getOrElse("")).mkString("\n"))
      }
      logInfo(s"FITS scan: ${out.length} partitions packing " +
        s"${slices.length} slices of ${files.length} files")
    }
    out
  }

  /** `spark.sql.files.minPartitionNum`, else the default parallelism. */
  private def minPartitions: Int = {
    val session = SparkSession.active
    math.max(1, session.sessionState.conf.filesMinPartitionNum
      .getOrElse(session.sparkContext.defaultParallelism))
  }

  /** The row-aligned slices of `files` in plan order (file, then HDU,
    * then row), each with the bytes it was sized by (see [[slice]]). */
  private[fits] def slicesFor(
      files: Seq[Path]): Seq[(FitsInputPartition, Long)] = {
    val conf = SparkSession.active.sessionState.conf
    // Positional pruning: user-supplied schemas rename columns, so map
    // required fields to positions in the table schema, then to FITS
    // columns (the reference binds user schemas positionally too).
    val positions: Array[Int] =
      required.fieldNames.map(n => tableSchema.fieldIndex(n))

    // Per-file structural scans, parallelized on the driver: one header
    // walk (a few KB of reads) per file. The reference re-walks every
    // file inside every task instead (FitsLib.scala:181-202). The batch
    // path reuses the resolution's walk; the micro-batch stream passes
    // per-batch file subsets and walks those.
    val fileMetas: Seq[(Path, Vector[Hdu])] =
      if (files eq res.files) res.fileHdus
      else FitsFiles.parMap(files, 16)(p => p -> res.scanFile(p))

    var statsSkipFiles = 0
    var statsSkipBytes = 0L
    val readable = fileMetas.flatMap { case (path, hdus) =>
      res.rowHdus(path, hdus)(failOrWarn).flatMap { case (idx, meta) =>
        if (statsExclude(hdus(idx))) {
          // value-domain skip: header stats prove no row matches
          statsSkipFiles += 1
          statsSkipBytes += hdus(idx).bounds.dataBytes
          None
        } else Some((path, hdus(idx).bounds, meta, idx))
      }
    }
    lastStatsSkip = (statsSkipFiles, statsSkipBytes)
    if (statsSkipFiles > 0)
      logInfo(s"FITS stats skipping: dropped $statsSkipFiles files " +
        s"($statsSkipBytes data bytes) on GMIN/GMAX value predicates")
    // skipped files still count in the total so the planned/total
    // accounting below reflects the value-domain pruning too
    val totalBytes = readable.map { case (_, b, _, _) => b.dataBytes }.sum +
      statsSkipBytes
    // Slices are capped like Spark's own file splits: at most
    // maxPartitionBytes, and smaller when the scan's bytes would
    // otherwise give fewer slices than the minimum partition count.
    val targetBytes = math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, totalBytes / minPartitions))
    val slices = Vector.newBuilder[(FitsInputPartition, Long)]
    var remaining = limit.getOrElse(Long.MaxValue)
    readable.iterator.takeWhile(_ => remaining > 0)
      .foreach { case (path, bounds, meta, idx) =>
        val (unitBytes, sliced) =
          slice(path, bounds, meta, positions, targetBytes, idx)
        sliced.iterator.takeWhile(_ => remaining > 0).foreach { p =>
          val take = math.min(p.numRows, remaining)
          slices += ((if (take == p.numRows) p else p.copy(numRows = take),
            take * unitBytes))
          remaining -= take
        }
      }
    val out = slices.result()
    // skipped-bytes accounting for pruned plans: planned vs total data
    // bytes, recorded for tests/telemetry and logged whenever a
    // runtime run list actually clamped the scan
    val plannedBytes = out.iterator.map { case (p, _) =>
      p.numRows * (p.spec match {
        // strided-window image IO moves only the window's bytes
        case img: DecodeSpec.Image if img.ioWindow => img.windowBytes.toLong
        case _ => p.rowBytes.toLong
      })
    }.sum
    lastPlanSummary = Some((plannedBytes, totalBytes))
    if (runtimeRuns.nonEmpty)
      logInfo(s"FITS runtime pruning: planned $plannedBytes of " +
        s"$totalBytes data bytes (${out.length} slices, " +
        s"${runtimeRuns.map(_.length).getOrElse(0)} runs)")
    out
  }

  private def failOrWarn(msg: String): Unit =
    if (res.mode == "FAILFAST") throw new IllegalArgumentException(msg)
    else logWarning(msg)

  /** Row-aligned byte slices of one HDU, ≤ maxPartitionBytes each —
    * planned on the driver so readers never see torn rows and no task is
    * ever planned outside the HDU extent.
    *
    * Tile-compressed images slice by IMAGE LINE (the emitted row unit),
    * aligned to whole tile-row bands, and sized by DECODED line bytes:
    * sizing by the 8-16-byte descriptor rows would pack the payload of
    * a 100 GB compressed image into one task. `startByte` points at the
    * first band's descriptor row; `numRows`/`firstRowIndex` count
    * lines.
    *
    * Returns the bytes one row (or line) is sized by, with the slices:
    * a slice weighs its row count times that. */
  private def slice(path: Path, bounds: HduBounds, meta: HduMeta,
      positions: Array[Int], maxPartBytes: Long,
      hduIdx: Int): (Long, Seq[FitsInputPartition]) = {
    val rowBytes = meta.rowBytes
    val spec = DecodeSpec.of(meta, positions, res.colRange)
    val metaKinds = metaCols.map(FitsMetadata.kindOf)
    meta match {
      case c: HduMeta.CompImage =>
        val lineBytes = math.max(1L, c.lineElems.toLong * c.elem.width)
        val aligned = math.max(1L, maxPartBytes / lineBytes) /
          c.tileH * c.tileH
        val linesPerPart = math.max(c.tileH.toLong, aligned)
        val bandRowBytes = c.nTileCols.toLong * rowBytes
        // Pushed line runs, each widened to whole tile-row bands so
        // every partition keeps the planner's invariant (starts at a
        // band's descriptor row, ends at a band boundary or the image
        // end); the residual filter drops the few band-edge lines.
        // Widened runs that land in the same band COALESCE, so no band
        // is ever planned twice (duplicate rows would break the join).
        val runs: Vector[(Long, Long)] = runsFor(meta) match {
          case None => if (c.nLines > 0) Vector((0L, c.nLines - 1)) else Vector.empty
          case Some(rs) => RowRuns.coalesce(rs.flatMap { case (lo, hi) =>
            if (hi < math.max(0L, lo) || c.nLines == 0 ||
              math.max(0L, lo) >= c.nLines) None
            else {
              val s = math.min(c.nLines - 1, math.max(0L, lo) / c.tileH * c.tileH)
              // clamp BEFORE widening: an unbounded `>= x` run carries
              // hi = Long.MaxValue, and (hi/tileH + 1) * tileH wraps
              // negative for any tileH not dividing 2^63 — the run
              // would vanish and the scan plan zero partitions
              val hiC = math.min(hi, c.nLines - 1)
              val e = math.min(c.nLines - 1, (hiC / c.tileH + 1) * c.tileH - 1)
              if (e >= s) Some((s, e)) else None
            }
          })
        }
        lineBytes -> runs.flatMap { case (rLo, rHiInc) =>
          val end = rHiInc + 1
          (rLo until end by linesPerPart).map { firstLine =>
            val n = math.min(linesPerPart, end - firstLine)
            FitsInputPartition(
              path.toString,
              bounds.dataStart + firstLine / c.tileH * bandRowBytes,
              n, firstLine, rowBytes,
              res.recordLength.getOrElse(4 << 20), spec, hduIdx, metaKinds)
          }
        }
      case _ =>
        // Heap-backed tables (surviving P/Q columns) weigh each row by
        // the HDU's TOTAL bytes (row area + heap) amortized per row —
        // sizing by the 8-16-byte descriptor stride alone would pack a
        // 100 GB document heap into a handful of tasks (same failure
        // mode the CompImage branch above guards against).
        val hasHeap = spec match {
          case DecodeSpec.Bintable(_, h) => h >= 0
          case _ => false
        }
        val effRowBytes = spec match {
          // strided window IO reads only windowBytes per line, so size
          // partitions by what a task will actually read — the planner
          // and reader decide ioWindow from the SAME spec
          case img: DecodeSpec.Image if img.ioWindow =>
            img.windowBytes.toLong
          case _ =>
            if (hasHeap && meta.nRows > 0)
              math.max(rowBytes.toLong, bounds.dataBytes / meta.nRows)
            else rowBytes.toLong
        }
        val rowsPerPart = math.max(1L, maxPartBytes / effRowBytes)
        // Pushed line/row runs — rows are fixed width here (the row
        // area of a heap-backed table included), so each run's clamp
        // is exact: plan bytes for its [lo, hi] alone. `ImgIndex`
        // ranges only ever bind to image HDUs; `_row_index` ranges
        // reach any type. Runs are sorted-disjoint by construction, so
        // partitions never overlap (no duplicate rows).
        val runs: Vector[(Long, Long)] = runsFor(meta) match {
          case None =>
            if (meta.nRows > 0) Vector((0L, meta.nRows - 1)) else Vector.empty
          case Some(rs) => rs
        }
        effRowBytes -> runs.flatMap { case (lo, hi) =>
          val start = math.min(meta.nRows, math.max(0L, lo))
          val end =
            if (hi < start) start
            else if (hi >= meta.nRows - 1) meta.nRows
            else hi + 1
          (start until end by rowsPerPart).map { firstRow =>
            val n = math.min(rowsPerPart, end - firstRow)
            FitsInputPartition(
              path.toString,
              bounds.dataStart + firstRow * rowBytes,
              n, firstRow, rowBytes,
              res.recordLength.getOrElse(4 << 20), spec, hduIdx, metaKinds)
          }
        }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // ship the driver's Hadoop conf (object-store credentials, FS
    // settings) to executor readers — a bare `new Configuration()`
    // would silently drop them on a real cluster
    import scala.jdk.CollectionConverters._
    val props = res.hadoopConf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    new FitsPartitionReaderFactory(props)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // Streaming builds the scan with NO pruneColumns call, and when a
    // query references ANY metadata column the analyzer appends ALL of
    // them to the relation output (AddMetadataColumns →
    // withMetadataColumns appends the full metadataOutput, declaration
    // order). So the streaming scan emits data + every metadata column
    // unconditionally: that positionally matches both output shapes —
    // when none were requested the trailing vectors are simply never
    // read (batch columns are accessed by output position only), and
    // the cost is three near-free vectors per batch.
    val withMeta = new FitsScan(res, tableSchema, required, limit,
      lineRange, FitsMetadata.columnsFor(tableSchema).map(_.name()),
      rowRange)
    new FitsMicroBatchStream(withMeta, res)
  }
}

object FitsScan {
  /** Packs weighted slices into input partitions by the rule Spark's
    * file sources apply to files (`FilePartition.getFilePartitions`):
    * each slice costs its weight plus `openCost`, and a partition
    * closes before a slice whose weight would take it past
    * `min(maxPartitionBytes, max(openCost, Σ cost / minParts))`. Slices
    * keep plan order, so a packed scan returns rows in the order of an
    * unpacked one. A partition of one slice stays that slice. */
  private[fits] def pack(slices: Seq[(FitsInputPartition, Long)],
      maxPartitionBytes: Long, openCost: Long,
      minParts: Int): Array[InputPartition] = {
    val total = slices.iterator.map(_._2 + openCost).sum
    val maxSplit =
      math.min(maxPartitionBytes, math.max(openCost, total / minParts))
    val out = Array.newBuilder[InputPartition]
    val bin = scala.collection.mutable.ArrayBuffer.empty[FitsInputPartition]
    var size = 0L
    def close(): Unit = if (bin.nonEmpty) {
      out += (if (bin.length == 1) bin.head else FitsPackedPartition(bin.toArray))
      bin.clear()
      size = 0L
    }
    slices.foreach { case (p, weight) =>
      if (size + weight > maxSplit) close()
      bin += p
      size += weight + openCost
    }
    close()
    out.result()
  }
}

/** Offset of the FITS micro-batch stream: the set of files already
  * processed, as a sorted JSON list. Self-describing, so restarts
  * recover exactly-once semantics from the checkpointed offset alone —
  * no reliance on listing order or modification times (Spark's own
  * file source keeps a separate compacted file log for the same
  * reason; at this source's scale the offset IS the log). */
final case class FitsStreamOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(files.sorted)
  }
}

/** Micro-batch streaming over an append-only directory of FITS files
  * (`spark.readStream.format("fits")`): each batch reads exactly the
  * files not yet committed, planned with the SAME driver-side
  * row-aligned partitioner as the batch path. The reference has no
  * streaming surface at all — this is the alert-stream ingestion shape
  * (new exposures land as files; downstream watermarked aggregations
  * consume them incrementally).
  *
  * Assumes files are immutable once visible (the standard file-stream
  * contract); deletions after commit are fine. */
final class FitsMicroBatchStream(scan: FitsScan, res: FitsResolution)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with Logging {
  import org.apache.spark.sql.connector.read.streaming.{
    Offset => StreamOffset, ReadLimit, ReadMaxFiles}

  override def initialOffset(): StreamOffset = FitsStreamOffset(Nil)

  private def allFiles(): Seq[String] =
    (try FitsFiles.resolve(res.pathSpec, res.hadoopConf).map(_.toString)
    catch { case _: IllegalArgumentException => Nil }).sorted // empty dir (yet)

  /** AvailableNow contract: batches stop at the file set that existed
    * when the trigger fired, even if more files keep landing. */
  @volatile private var availableNowTarget: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(allFiles().toSet)

  /** `maxFilesPerTrigger` bounds each micro-batch — a 10k-file backlog
    * drains as many bounded batches instead of one giant one (Spark's
    * own file source contract; AvailableNow still processes everything,
    * just in capped steps). */
  override def getDefaultReadLimit: ReadLimit =
    res.maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: StreamOffset, limit: ReadLimit)
      : StreamOffset = {
    val seen = start.asInstanceOf[FitsStreamOffset].files.toSet
    val visible = availableNowTarget match {
      case Some(target) => allFiles().filter(target)
      case None => allFiles()
    }
    val fresh = visible.filterNot(seen)
    val admitted = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    FitsStreamOffset((seen ++ admitted).toSeq.sorted)
  }

  override def reportLatestOffset(): StreamOffset =
    FitsStreamOffset(allFiles())

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): StreamOffset = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    FitsStreamOffset(org.json4s.jackson.Serialization.read[Seq[String]](json))
  }

  override def planInputPartitions(start: StreamOffset,
      end: StreamOffset): Array[InputPartition] = {
    val seen = start.asInstanceOf[FitsStreamOffset].files.toSet
    val fresh = end.asInstanceOf[FitsStreamOffset].files
      .filterNot(seen).sorted.map(new Path(_))
    if (fresh.isEmpty) Array.empty
    else scan.planFor(fresh)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: StreamOffset): Unit = () // files are immutable
  override def stop(): Unit = ()
}

/** What an executor needs to decode its slice — fully serialized, no
  * driver callbacks, no Hadoop-conf metadata channel (obsoletes the
  * reference's registerHeader/retrieveHeader, FitsLib.scala:608-629). */
sealed trait DecodeSpec extends Serializable
object DecodeSpec {
  /** Bintable: pruned columns in output order. `heapStart` = absolute
    * file offset of the variable-length heap (−1 when no P/Q column
    * survives pruning — readers then never touch the heap). */
  final case class Bintable(cols: Array[BintableColumn],
      heapStart: Long = -1L) extends DecodeSpec
  /** Image: which of (Image, ImgIndex) to emit, in output order.
    * fieldKinds(i): 0 = Image array, 1 = ImgIndex. `colLo`/`colN` are
    * the pushed pixel-column window (0/lineElems when none): emitted
    * arrays hold only those elements. `ioWindow` = the per-line byte
    * savings justify strided positioned reads (one pread per line
    * instead of one per chunk), decided HERE so the planner and the
    * reader size partitions and buffers consistently. */
  final case class Image(elem: ElemType, lineElems: Int,
      fieldKinds: Array[Int], colLo: Int, colN: Int,
      ioWindow: Boolean) extends DecodeSpec {
    def windowBytes: Int = math.max(1, colN * elem.width)
  }
  /** Tile-compressed image: the full [[HduMeta.CompImage]] (codec
    * params + descriptor-column layout) plus Image-style fieldKinds
    * and the pushed pixel-column window — only tiles intersecting
    * [colLo, colLo+colN) decompress. */
  final case class CompImage(meta: HduMeta.CompImage,
      fieldKinds: Array[Int], colLo: Int, colN: Int) extends DecodeSpec

  /** Clamps a pushed column window to the line width. */
  private[fits] def window(colRange: Option[(Int, Int)],
      lineElems: Int): (Int, Int) = colRange match {
    case Some((lo, hi)) =>
      val l = math.min(lo, lineElems)
      val h = math.min(hi, lineElems - 1)
      (l, math.max(0, h - l + 1))
    case None => (0, lineElems)
  }

  /** Strided reads pay one positioned read per LINE; worth it only
    * when each line skips enough bytes to beat sequential throughput
    * (~32 KB of skipped bytes per line ≈ a seek's worth on local
    * disk, far more conservative than an object store's). */
  private[fits] val IoWindowMinSkip = 32 * 1024

  def of(meta: HduMeta, positions: Array[Int],
      colRange: Option[(Int, Int)] = None): DecodeSpec = meta match {
    case b: HduMeta.Bintable =>
      val picked = positions.map(b.columns)
      Bintable(picked,
        if (picked.exists(_.tform.isInstanceOf[TForm.VarArr])) b.heapStart
        else -1L)
    case i: HduMeta.Image =>
      val (lo, n) = window(colRange, i.lineElems)
      val skipped = (i.lineElems - n).toLong * i.elem.width
      // n == 0 (window entirely past the line) must NOT engage strided
      // IO: winOffBytes would point at the line END and the 1-byte
      // pread of the last line can EOF on a padding-free HDU — the
      // full-line path decodes nothing and is already correct
      Image(i.elem, i.lineElems, positions, lo, n,
        colRange.isDefined && n > 0 && skipped >= IoWindowMinSkip)
    case c: HduMeta.CompImage =>
      val (lo, n) = window(colRange, c.lineElems)
      CompImage(c, positions, lo, n)
    case HduMeta.Opaque =>
      Bintable(Array.empty)
  }
}

final case class FitsInputPartition(
    file: String,
    startByte: Long,
    numRows: Long,
    firstRowIndex: Long,
    rowBytes: Int,
    bufferBytes: Int,
    spec: DecodeSpec,
    hduIndex: Int = 0,
    metaKinds: Array[Int] = Array.empty) extends InputPartition

/** Several slices that one task reads back to back, in plan order
  * (see [[FitsScan.pack]]). */
final case class FitsPackedPartition(slices: Array[FitsInputPartition])
    extends InputPartition

final class FitsPartitionReaderFactory(confProps: Array[(String, String)])
    extends PartitionReaderFactory {

  /** Built once per task from the shipped entries alone: they are the
    * driver's full conf, defaults included, so loading the default
    * resources here would re-parse core-default/core-site XML per task
    * only to overwrite every value. */
  @transient private lazy val hadoopConf: Configuration = {
    val c = new Configuration(false)
    confProps.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Every FITS partition reads columnar: [[FitsColumnarReader]] is
    * the scan's one decode path, and ColumnarToRow is its one hand-off
    * to row operators. */
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: FitsInputPartition | _: FitsPackedPartition => true
    case _ => false
  }

  /** Required by the interface; no FITS scan reaches it, because
    * [[supportColumnarReads]] holds for every partition. */
  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new UnsupportedOperationException(
      "FITS partitions are read columnar only")

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    p match {
      case fp: FitsInputPartition => sliceReader(fp)
      case pp: FitsPackedPartition => new FitsChainedReader(pp.slices, sliceReader)
    }

  private def sliceReader(fp: FitsInputPartition)
      : PartitionReader[ColumnarBatch] = {
    val inner = new FitsColumnarReader(fp, hadoopConf)
    if (fp.metaKinds.isEmpty) inner
    else new FitsMetadata.BatchReader(inner, fp)
  }
}

/** Reads a packed partition's slices one after another. Each slice's
  * reader opens when the one before it is exhausted and closed, so a
  * task holds one file handle and one chunk buffer at a time. */
private final class FitsChainedReader(slices: Array[FitsInputPartition],
    open: FitsInputPartition => PartitionReader[ColumnarBatch])
    extends PartitionReader[ColumnarBatch] {
  private var opened = 0
  private var current: PartitionReader[ColumnarBatch] = null

  @scala.annotation.tailrec
  override def next(): Boolean =
    if (current != null && current.next()) true
    else {
      close()
      if (opened == slices.length) false
      else {
        current = open(slices(opened))
        opened += 1
        next()
      }
    }

  override def get(): ColumnarBatch = current.get()

  override def close(): Unit = if (current != null) {
    val r = current
    current = null
    r.close()
  }
}
