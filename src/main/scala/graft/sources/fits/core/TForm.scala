package graft.sources.fits.core

import org.apache.spark.sql.types._

/** FITS binary-table element type (TFORMn), the single registry of
  * byte width and Spark type; the connector's columnar reader is the
  * one decoder over it (the reference keeps three scattered copies of
  * decode logic: FitsSchema.scala:42-77, FitsHduBintable.scala:232-294,
  * FitsHdu.scala:124-235).
  *
  * Byte order is always big-endian (FITS standard §5.2).
  */
sealed trait ElemType {
  def code: Char
  /** bytes per element */
  def width: Int
  def sparkType: DataType
}

object ElemType {
  // Big-endian primitive assembly, no ByteBuffer allocation per element.
  // Public: the columnar reader and the tile-descriptor reads share
  // these so the decode logic exists exactly once (unlike the
  // reference's three copies).
  @inline def s16(b: Array[Byte], o: Int): Short =
    (((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)).toShort
  @inline def i32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  @inline def i64(b: Array[Byte], o: Int): Long =
    ((i32(b, o).toLong) << 32) | (i32(b, o + 4).toLong & 0xffffffffL)

  /** FITS logical: 'T', 'F', or anything else = undefined (FITS 4.0
    * table 15 defines 0 as the undefined value) → SQL NULL. The
    * reference decodes undefined as false; NULL is the standard-correct
    * reading and lets boolean nulls round-trip through the writer. */
  case object L extends ElemType {
    val code = 'L'; val width = 1; val sparkType = BooleanType
  }
  /** FITS `B` is unsigned, but the reference maps it to signed ByteType
    * (FitsHdu.scala:214-217, asserted by ReadFitsTest.scala:310-316).
    * Kept signed for behavior compatibility; documented wart. */
  case object B extends ElemType {
    val code = 'B'; val width = 1; val sparkType = ByteType
  }
  case object I extends ElemType {
    val code = 'I'; val width = 2; val sparkType = ShortType
  }
  case object J extends ElemType {
    val code = 'J'; val width = 4; val sparkType = IntegerType
  }
  case object K extends ElemType {
    val code = 'K'; val width = 8; val sparkType = LongType
  }
  case object E extends ElemType {
    val code = 'E'; val width = 4; val sparkType = FloatType
  }
  case object D extends ElemType {
    val code = 'D'; val width = 8; val sparkType = DoubleType
  }

  val byCode: Map[Char, ElemType] =
    Seq(L, B, I, J, K, E, D).map(e => e.code -> e).toMap

  /** BSCALE/BZERO-scaled image element (FITS 4.0 §4.4.2.5): physical =
    * BZERO + BSCALE × stored. Same type rules as bintable TSCAL/TZERO
    * (TForm.Scaled): integer sign conventions widen exactly, anything
    * else promotes to double. The vectorized reader decodes scaled
    * elements unboxed via the primitive-typed decoders below. Beyond
    * reference, which ignores BSCALE. */
  final case class ScaledElem(inner: ElemType, scale: Double, zero: Double)
      extends ElemType {
    def code: Char = inner.code
    def width: Int = inner.width

    private val widened: Option[DataType] = (inner, scale, zero) match {
      case (B, 1.0, -128.0) => Some(ByteType)
      case (I, 1.0, 32768.0) => Some(IntegerType)
      case (J, 1.0, 2147483648.0) => Some(LongType)
      case _ => None
    }
    def sparkType: DataType = widened.getOrElse(DoubleType)

    // primitive-typed decoders (no boxing) for the vectorized reader;
    // physical = stored + zero, exact integer arithmetic (stored B is
    // unsigned per the standard; I/J are signed two's complement)
    def decodeByteExact(b: Array[Byte], off: Int): Byte =
      ((b(off) & 0xff) - 128).toByte
    def decodeIntExact(b: Array[Byte], off: Int): Int = s16(b, off) + 32768
    def decodeLongExact(b: Array[Byte], off: Int): Long =
      i32(b, off).toLong + 2147483648L
    def decodeDouble(b: Array[Byte], off: Int): Double = {
      val stored = inner match {
        case B => (b(off) & 0xff).toDouble // unsigned per standard
        case I => s16(b, off).toDouble
        case J => i32(b, off).toDouble
        case K => i64(b, off).toDouble
        case E => java.lang.Float.intBitsToFloat(i32(b, off)).toDouble
        case D => java.lang.Double.longBitsToDouble(i64(b, off))
        case other => throw new IllegalStateException(
          s"unscalable element $other")
      }
      zero + scale * stored
    }
  }

  /** Wraps `e` when non-trivial scaling applies (numeric elements only). */
  def scaled(e: ElemType, scale: Double, zero: Double): ElemType =
    if (scale == 1.0 && zero == 0.0) e
    else e match {
      case L | _: ScaledElem => e
      case _ => ScaledElem(e, scale, zero)
    }

  /** Integer-image `BLANK` null sentinel (FITS 4.0 §4.4.2.5): a STORED
    * pixel equal to the sentinel reads as SQL NULL. The comparison is
    * on the stored integer, before any BSCALE/BZERO scaling — exactly
    * the standard's definition — so `inner` may be the raw integer
    * element or a [[ScaledElem]] wrapping it. The image-HDU counterpart
    * of the bintable TNULL machinery (TForm.WithNull); the reference
    * parses BLANK but never consumes it (FitsLib.scala:110-115). */
  final case class BlankElem(inner: ElemType, sentinel: Long)
      extends ElemType {
    private val stored: ElemType = inner match {
      case ScaledElem(i, _, _) => i
      case e => e
    }
    def code: Char = inner.code
    def width: Int = inner.width
    def sparkType: DataType = inner.sparkType
    /** The stored integer at `off` (B unsigned per the standard). */
    @inline def storedLong(b: Array[Byte], off: Int): Long = stored match {
      case B => (b(off) & 0xffL)
      case I => s16(b, off).toLong
      case J => i32(b, off).toLong
      case K => i64(b, off)
      case other => throw new IllegalStateException(
        s"BLANK on non-integer element $other")
    }
    @inline def isBlankAt(b: Array[Byte], off: Int): Boolean =
      storedLong(b, off) == sentinel
  }

  /** Wraps integer-based image elements with the BLANK sentinel; the
    * keyword is defined for positive BITPIX only, so float/logical
    * elements ignore it. For BITPIX=8 the stored byte is unsigned:
    * the sentinel is normalized to 0-255 so both the standard card and
    * legacy signed cards (e.g. -128) match the same stored byte. */
  def blanked(e: ElemType, sentinel: Option[Long]): ElemType =
    sentinel match {
      case None => e
      case Some(s) =>
        def intBase(x: ElemType): Option[ElemType] = x match {
          case B | I | J | K => Some(x)
          case ScaledElem(i, _, _) if i == B || i == I || i == J || i == K =>
            Some(i)
          case _ => None
        }
        intBase(e) match {
          case Some(B) => BlankElem(e, s & 0xffL)
          case Some(_) => BlankElem(e, s)
          case None => e
        }
    }
}

/** A parsed TFORM: repeat count + element code.
  *
  * Spark-type rules (matching the reference, FitsSchema.scala:42-77):
  * repeat == 1 ⇒ scalar; repeat > 1 ⇒ ArrayType(elem). `nA` is a single
  * right-trimmed string of n bytes, `nX` is a raw bit-field surfaced as
  * ArrayType(BinaryType) holding one byte array.
  */
sealed trait TForm {
  def raw: String
  def byteWidth: Int
  def sparkType: DataType
  def supported: Boolean = true
}

object TForm {
  final case class Scalar(raw: String, elem: ElemType) extends TForm {
    def byteWidth: Int = elem.width
    def sparkType: DataType = elem.sparkType
  }

  final case class Vec(raw: String, elem: ElemType, repeat: Int) extends TForm {
    def byteWidth: Int = elem.width * repeat
    def sparkType: DataType = ArrayType(elem.sparkType, containsNull = true)
  }

  /** TDIMn = '(d1,d2,…)' — the FITS multi-dimensional array convention
    * (FITS 4.0 §7.3.2, beyond reference: it ignores TDIM): a fixed
    * repeat-count column whose `d1·d2·…` elements form a d1×d2×…
    * array, FIRST axis varying fastest. Spark shape: nested ArrayType,
    * innermost run length d1 (so `TDIM='(3,2)'` reads as
    * `array<array<T>>` with 2 outer rows of 3). Wraps any fixed-width
    * vector form (plain, TSCAL/TZERO-scaled, TNULL-bearing) — `inner`
    * must type as a one-level array. */
  final case class Md(inner: TForm, dims: Seq[Int]) extends TForm {
    def raw: String = inner.raw
    def byteWidth: Int = inner.byteWidth
    private def elemT: DataType =
      inner.sparkType.asInstanceOf[ArrayType].elementType
    def sparkType: DataType = dims.tail.foldLeft(
      ArrayType(elemT, containsNull = true): DataType)(
      (t, _) => ArrayType(t, containsNull = true))
  }

  /** Flat element count of a fixed-width vector form (None = not a
    * shape TDIM can apply to). */
  def flatLen(t: TForm): Option[Int] = t match {
    case Vec(_, _, n) => Some(n)
    case Scaled(inner, _, _) => flatLen(inner)
    case WithNull(inner, _) => flatLen(inner)
    case _ => None
  }

  /** Rewrites a repeat-1 (scalar-shaped) fixed-width form into its
    * equivalent 1-element vector so a legal `TDIM='(1,1,…)'` on a
    * repeat-1 column can shape it (astropy writes these; the writer's
    * canonical all-empty nested part defaults to all-1 axes). None when
    * the form is already a vector or not TDIM-applicable. */
  def asVec1(t: TForm): Option[TForm] = t match {
    case Scalar(raw, e) => Some(Vec(raw, e, 1))
    case Scaled(inner, s, z) => asVec1(inner).map(Scaled(_, s, z))
    case WithNull(inner, n) => asVec1(inner).map(WithNull(_, n))
    case _ => None
  }

  /** Parses a TDIM value `(d1,d2,…)`; None on any malformed shape. */
  def parseTDim(v: String): Option[Seq[Int]] = {
    val s = v.trim.stripPrefix("'").stripSuffix("'").trim
    if (!s.startsWith("(") || !s.endsWith(")")) None
    else {
      val parts = s.substring(1, s.length - 1).split(',').map(_.trim)
      val dims = parts.flatMap(_.toIntOption)
      if (dims.length == parts.length && dims.nonEmpty && dims.forall(_ > 0))
        Some(dims.toSeq)
      else None
    }
  }

  /** `nA`: fixed-width ASCII, trimmed like the reference
    * (FitsHdu.scala:222-226 uses String.trim — both ends). */
  final case class Str(raw: String, length: Int) extends TForm {
    def byteWidth: Int = length
    def sparkType: DataType = StringType
  }

  /** `nX` bit field: ceil(n/8) raw bytes, surfaced as one binary blob
    * inside an array (reference shape: FitsSchema.scala:68,
    * FitsHdu.scala:218-221). */
  final case class Bits(raw: String, nBits: Int) extends TForm {
    def byteWidth: Int = (nBits + 7) / 8
    def sparkType: DataType = ArrayType(BinaryType, containsNull = true)
  }

  /** TSCALn/TZEROn linear scaling (FITS 4.0 §7.3.2): physical = TZERO +
    * TSCAL × stored. Beyond-reference extension — the reference ignores
    * both keywords and surfaces raw stored values, but the convention is
    * how real archives store unsigned integers and calibrated counts.
    *
    * Type mapping: the integer sign conventions (TSCAL=1 with TZERO =
    * −128 on `B`, 32768 on `I`, 2³¹ on `J`) decode with EXACT integer
    * arithmetic into ByteType / IntegerType / LongType; any other
    * scaling of a numeric column promotes to DoubleType (including
    * unsigned `K`, whose 2⁶³ offset loses exactness above 2⁵³ — same
    * float64 fallback as astropy). Stored `B` is unsigned per the
    * standard for scaling purposes, independent of the signed-ByteType
    * surface wart kept for reference compatibility on UNscaled columns.
    */
  final case class Scaled(inner: TForm, scale: Double, zero: Double)
      extends TForm {
    def raw: String = inner.raw
    def byteWidth: Int = inner.byteWidth

    private val (elem: ElemType, rep: Int) = (inner: @unchecked) match {
      case Scalar(_, e) => (e, 1)
      case Vec(_, e, n) => (e, n)
    }
    // a Vec inner is an array even at repeat 1 (TForm.asVec1 lifts a
    // scalar that way so TDIM '(1,1)' can shape it)
    def isArray: Boolean = inner.isInstanceOf[Vec]
    def repeat: Int = rep

    /** single scaling implementation, shared with the image path and
      * usable unboxed by the vectorized reader */
    val element: ElemType.ScaledElem = ElemType.ScaledElem(elem, scale, zero)

    def sparkType: DataType =
      if (isArray) ArrayType(element.sparkType, containsNull = true)
      else element.sparkType
  }

  /** Wraps `t` in [[Scaled]] when non-trivial scaling applies and the
    * column is numeric; logical/string/bit/undecoded columns ignore the
    * keywords (the standard defines scaling for numeric fields only). */
  def scaled(t: TForm, scale: Double, zero: Double): TForm =
    if (scale == 1.0 && zero == 0.0) t
    else t match {
      case Scalar(_, e) if e != ElemType.L => Scaled(t, scale, zero)
      case Vec(_, e, _) if e != ElemType.L => Scaled(t, scale, zero)
      case other => other
    }

  /** Variable-length array descriptor `rPt(max)` / `rQt(max)` (FITS 4.0
    * §7.3.5, beyond reference — it degrades these to an unreadable
    * column): the in-row value is a (count, heapOffset) pair of int32s
    * (`P`) or int64s (`Q`) pointing into the HDU's heap area, so the
    * reader resolves the payload from the heap. `PA` surfaces as a variable-length StringType (the
    * natural FITS encoding for documents); other element codes surface
    * as ArrayType(elem). */
  final case class VarArr(raw: String, elem: ElemType, isQ: Boolean,
      isString: Boolean, maxLen: Int, degraded: Boolean = false)
      extends TForm {
    def byteWidth: Int = if (isQ) 16 else 8
    def sparkType: DataType =
      if (isString) StringType
      else ArrayType(elem.sparkType, containsNull = true)
    /** Descriptor only — (count, heap offset). Heap read is the reader's. */
    def descriptor(b: Array[Byte], off: Int): (Long, Long) =
      if (isQ) (ElemType.i64(b, off), ElemType.i64(b, off + 8))
      else (ElemType.i32(b, off).toLong, ElemType.i32(b, off + 4).toLong)
  }

  /** Codes with no decode (variable-length complex `PC`/`PM`, 0-repeat
    * P/Q, malformed TFORMs) surface a null-valued string column so
    * schema inference never throws on exotic files. The byte width is
    * still the FITS-standard element width — a zero width would corrupt
    * the offsets of every subsequent column in the row. (Fixed-width
    * complex `rC`/`rM` DO decode — see [[parse]].) */
  final case class Unsupported(raw: String, byteWidth: Int = 0) extends TForm {
    def sparkType: DataType = StringType
    override def supported: Boolean = false
  }

  private val Pattern = """^(\d*)([LXBIJKAEDCMPQ])(.*)$""".r
  private val VarPattern = """^(\d*)([PQ])([LXBIJKAED])(?:\((\d+)\))?\s*$""".r

  def parse(tform: String): TForm = {
    val t = tform.trim
    t match {
      case VarPattern(rep, _, _, _) if rep == "0" =>
        // FITS 4.0 §7.3.1: a repeat of 0 before P/Q means field width
        // r*8 = 0 bytes — NO descriptor is stored in the row. A full
        // 8/16-byte width here would corrupt every subsequent offset.
        Unsupported(t, 0)
      case VarPattern(_, pq, code, max) if code != "X" =>
        // the repeat before P/Q is 0 or 1 by the standard; the in-row
        // descriptor is one (count, offset) pair either way
        val maxLen = if (max == null) Int.MaxValue else max.toInt
        VarArr(t, if (code == "A") ElemType.B else ElemType.byCode(code.head),
          isQ = pq == "Q", isString = code == "A", maxLen)
      case Pattern(rep, code, _) =>
        val n = if (rep.isEmpty) 1 else rep.toInt
        code.head match {
          case 'A' => Str(t, n)
          case 'X' => Bits(t, n)
          // Complex (FITS 4.0 table 18: C = 2×float32, M = 2×float64)
          // is byte-identical to 2r interleaved reals, so it decodes as
          // array<float>/array<double> of [re₀, im₀, re₁, im₁, …] on
          // every read path with no dedicated machinery. Spark has no
          // complex type; the interleaved-pair surface is documented.
          // The reference degrades these columns entirely
          // (FitsSchema.scala:70-75) — beyond-reference extension.
          case 'C' => Vec(t, ElemType.E, 2 * n)
          case 'M' => Vec(t, ElemType.D, 2 * n)
          case c @ ('P' | 'Q') =>
            // var-length of an element we can't decode (X bit fields):
            // keep the descriptor width so later offsets stay aligned
            Unsupported(t, if (c == 'Q') 16 else 8)
          case c =>
            val elem = ElemType.byCode(c)
            if (n == 1) Scalar(t, elem) else Vec(t, elem, n)
        }
      case _ => Unsupported(t)
    }
  }

  /** TNULLn integer null sentinel (FITS 4.0 §7.3.2, beyond reference —
    * it surfaces sentinels as ordinary values): stored elements equal
    * to the sentinel decode as SQL NULL. Defined by the standard for
    * integer columns only; applied here to UNSCALED B/I/J/K scalars
    * and vectors (the TSCAL+TNULL combination is rare enough that
    * scaled columns keep their raw behavior, documented). */
  final case class WithNull(inner: TForm, sentinel: Long) extends TForm {
    def raw: String = inner.raw
    def byteWidth: Int = inner.byteWidth
    def sparkType: DataType = inner.sparkType
  }

  /** Wraps integer scalar/vector forms with the TNULL sentinel.
    * For 'B' columns the sentinel is normalized to the unsigned stored
    * value (`& 0xff`) so both the standard convention (TNULL in 0-255)
    * and legacy signed cards (e.g. -128) match the same stored byte. */
  def withNull(t: TForm, sentinel: Option[Long]): TForm = sentinel match {
    case None => t
    case Some(s) =>
      def norm(e: ElemType): Long = if (e == ElemType.B) s & 0xffL else s
      t match {
        case Scalar(_, e) if e == ElemType.B || e == ElemType.I ||
          e == ElemType.J || e == ElemType.K => WithNull(t, norm(e))
        case Vec(_, e, _) if e == ElemType.B || e == ElemType.I ||
          e == ElemType.J || e == ElemType.K => WithNull(t, norm(e))
        case other => other // non-integer / scaled: keyword ignored
      }
  }

  // ------------------------------------------------------- ASCII tables

  /** True when the `width`-byte ASCII field at `off` is all blanks —
    * a NULL in an ASCII TABLE's numeric columns. */
  def isBlank(b: Array[Byte], off: Int, width: Int): Boolean = {
    var i = off
    while (i < off + width && (b(i) & 0xff) <= 0x20) i += 1
    i == off + width
  }

  private def fieldText(b: Array[Byte], off: Int, width: Int): String =
    new String(b, off, width, java.nio.charset.StandardCharsets.US_ASCII).trim

  /** ASCII TABLE integer field `Iw` (FITS 4.0 §7.2.5): right-justified
    * decimal text; a blank field ([[isBlank]]) is SQL NULL. Surfaced as
    * LongType — `w` can exceed Int range and the standard puts no bound
    * on it. */
  final case class AsciiInt(raw: String, byteWidth: Int) extends TForm {
    def sparkType: DataType = LongType
    /** The non-blank field at `off`; NumberFormatException on text that
      * is not a decimal integer. */
    def parseLong(b: Array[Byte], off: Int): Long =
      java.lang.Long.parseLong(fieldText(b, off, byteWidth))
  }

  /** ASCII TABLE real field `Fw.d` / `Ew.d` / `Dw.d`: Fortran-style
    * text. A `D` exponent reads like `E`; a value WITHOUT an explicit
    * decimal point has one implied `d` digits from the right (Fortran
    * input convention, same as astropy). Blank ⇒ NULL. */
  final case class AsciiReal(raw: String, byteWidth: Int, implied: Int)
      extends TForm {
    def sparkType: DataType = DoubleType
    /** The non-blank field at `off`; NumberFormatException on text that
      * is not a number. */
    def parseDouble(b: Array[Byte], off: Int): Double = {
      val e = fieldText(b, off, byteWidth).replace('D', 'E').replace('d', 'E')
      val v = java.lang.Double.parseDouble(e)
      // no explicit point ⇒ rightmost `d` mantissa digits are the
      // fraction; mantissa/10^d ≡ value/10^d even with an exponent
      if (implied > 0 && e.indexOf('.') < 0) v / math.pow(10, implied) else v
    }
  }

  private val AsciiPattern = """^([AIFED])(\d+)(?:\.(\d+))?\s*$""".r

  /** TFORMn of an ASCII TABLE extension — a DIFFERENT grammar from the
    * bintable one above (`A`/`I`/`E`/`D` letters collide but mean
    * fixed-width text fields here). */
  def parseAscii(tform: String): TForm = {
    val t = tform.trim
    t match {
      case AsciiPattern(code, w, d) =>
        val width = w.toInt
        code.head match {
          case 'A' => Str(t, width)
          case 'I' => AsciiInt(t, width)
          case _ => AsciiReal(t, width, if (d == null) 0 else d.toInt)
        }
      case _ => Unsupported(t)
    }
  }
}
