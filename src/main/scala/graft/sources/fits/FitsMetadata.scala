package graft.sources.fits

import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Hidden per-row provenance columns for the FITS source
  * (`SupportsMetadataColumns`): selectable by name, never part of the
  * inferred schema, zero extra IO — every value derives from what the
  * driver already planned into the partition.
  *
  * | name         | type   | meaning                                       |
  * |--------------|--------|-----------------------------------------------|
  * | `_file_path` | string | fully-qualified source file of the row        |
  * | `_hdu`       | int    | resolved HDU index the row came from (per     |
  * |              |        | file — EXTNAME-addressed reads can differ)    |
  * | `_row_index` | long   | 0-based row (table) / line (image) index      |
  * |              |        | within that file's target HDU                 |
  *
  * The reference has no provenance surface at all; at archive scale
  * (alert streams, reprocessing campaigns) joining results back to
  * their source exposure file is a first-class need. The columns ride
  * the scan's reader through a thin wrapper — constants per partition
  * plus one ascending counter — so the scan stays vectorized and the
  * decode path is untouched. */
object FitsMetadata {
  val FilePath = "_file_path"
  val Hdu = "_hdu"
  val RowIndex = "_row_index"

  /** Stable kind codes serialized into [[FitsInputPartition]]. */
  val KindFilePath = 0
  val KindHdu = 1
  val KindRowIndex = 2

  val names: Seq[String] = Seq(FilePath, Hdu, RowIndex)

  def kindOf(name: String): Int = name match {
    case FilePath => KindFilePath
    case Hdu => KindHdu
    case RowIndex => KindRowIndex
    case _ => -1
  }

  def typeOf(kind: Int): DataType = kind match {
    case KindFilePath => StringType
    case KindHdu => IntegerType
    case _ => LongType
  }

  def fieldFor(name: String): StructField =
    StructField(name, typeOf(kindOf(name)), nullable = false)

  /** Table-level declarations, minus any name a data column already
    * uses (the interface contract: data columns shadow metadata). */
  def columnsFor(dataSchema: StructType): Array[MetadataColumn] = {
    val taken = dataSchema.fieldNames.toSet
    names.filterNot(taken).map { n =>
      new MetadataColumn {
        override def name(): String = n
        override def dataType(): DataType = typeOf(kindOf(n))
        override def isNullable: Boolean = false
        override def comment(): String = n match {
          case FilePath => "source FITS file of the row"
          case Hdu => "resolved HDU index the row came from"
          case _ => "0-based row/line index within the file's target HDU"
        }
      }
    }.toArray
  }

  /** Reader wrapper: the data vectors pass through untouched;
    * `_file_path`/`_hdu` are ConstantColumnVectors and `_row_index` an
    * OnHeapColumnVector refilled with an ascending run per batch. */
  final class BatchReader(inner: PartitionReader[ColumnarBatch],
      part: FitsInputPartition) extends PartitionReader[ColumnarBatch] {
    private val kinds = part.metaKinds
    private var rowIdxVec: OnHeapColumnVector = null
    private var outBatch: ColumnarBatch = null
    private var nextRowIdx = part.firstRowIndex

    private def metaVector(kind: Int, capacity: Int): ColumnVector =
      kind match {
        case KindFilePath =>
          val v = new ConstantColumnVector(capacity, StringType)
          v.setUtf8String(UTF8String.fromString(part.file)); v
        case KindHdu =>
          val v = new ConstantColumnVector(capacity, IntegerType)
          v.setInt(part.hduIndex); v
        case _ =>
          rowIdxVec = new OnHeapColumnVector(capacity, LongType)
          rowIdxVec
      }

    override def next(): Boolean = inner.next()

    override def get(): ColumnarBatch = {
      val in = inner.get()
      val n = in.numRows()
      if (outBatch == null) {
        // inner readers reuse one ColumnarBatch across next() calls, so
        // its column handles are stable — build the widened batch once
        val dataVecs = (0 until in.numCols()).map(in.column).toArray
        val metaVecs = kinds.map(metaVector(_, math.max(n, 4096)))
        outBatch = new ColumnarBatch(dataVecs ++ metaVecs)
      }
      if (rowIdxVec != null) {
        rowIdxVec.reset()
        // grow to this batch's row count before filling: putLong does
        // NOT auto-grow, and the initial sizing is only a hint — a
        // reader emitting a batch larger than the first would
        // otherwise write past capacity (r16 advice). Constant vectors
        // need no growth: they hold one value regardless of row index.
        rowIdxVec.reserve(n)
        var i = 0
        while (i < n) { rowIdxVec.putLong(i, nextRowIdx + i); i += 1 }
      }
      nextRowIdx += n
      outBatch.setNumRows(n)
      outBatch
    }
    override def close(): Unit = {
      inner.close()
      if (outBatch != null) {
        // data vectors are owned (and closed) by the inner reader; only
        // the appended metadata vectors are ours
        var i = 0
        val nData = outBatch.numCols() - kinds.length
        while (i < kinds.length) {
          outBatch.column(nData + i).close(); i += 1
        }
      }
    }
  }
}
