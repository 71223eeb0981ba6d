package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.DoubleType

import graft.functions.VecAlgo

/** Approximate cosine similarity join as a first-class operator:
  * logical node + planner strategy + physical shuffle plan (the (c)
  * option in SURVEY §2's preference order — used here because no
  * composition of built-ins yields a *deduplicated* LSH band join
  * without a wide Distinct).
  *
  * Semantics: emit each (left, right) pair whose vectors share ≥1
  * sign-LSH band (`spark.graft.approxJoin.bands` × bitsPerBand; default
  * 8 bands with corpus-adaptive width — see
  * [[ApproxCosineJoinExec.resolvedGeometry]]) AND whose exact cosine ≥
  * threshold, exactly once, with the cosine appended as `sim`.
  * Approximate by design (band recall < 1); the user opts in through
  * [[ApproxCosineJoin.join]] — no silent rewrite of exact plans.
  *
  * Scale: both sides shuffle once on the band key (cogroup); a pair
  * colliding in several bands is emitted only at its *minimal* matching
  * band — deduplication without global state or a wide Distinct. Band
  * width grows with the corpus (auto mode) so random band collisions —
  * the quadratic term — stay bounded per bucket.
  */
final case class ApproxCosineJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftVec: Expression,
    rightVec: Expression,
    threshold: Double,
    // constructor field so copy() keeps the exprId stable across
    // transformUp/withNewChildren — a fresh id would orphan upstream refs
    simAttr: AttributeReference =
      AttributeReference("sim", DoubleType, nullable = false)())
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output :+ simAttr
  // sim is generated here, not read from children
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(simAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object ApproxCosineJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: ApproxCosineJoinNode =>
      ApproxCosineJoinExec(planLater(n.left), planLater(n.right),
        n.leftVec, n.rightVec, n.threshold, n.output) :: Nil
    case _ => Nil
  }
}

final case class ApproxCosineJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftVec: Expression,
    rightVec: Expression,
    threshold: Double,
    output: Seq[Attribute])
    extends BinaryExecNode {

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  /** Band value `b` of a multi-word signature: `bits` bits starting at
    * bit `b*bits`, possibly spanning a word boundary. `bits` ≤ 24 < 64,
    * so the mask shift never overflows. */
  @inline private def bandVal(sig: Array[Long], b: Int, bits: Int): Long = {
    val start = b.toLong * bits
    val word = (start >>> 6).toInt
    val off = (start & 63).toInt
    val lo = sig(word) >>> off
    val v =
      if (off + bits <= 64 || word + 1 >= sig.length) lo
      else lo | (sig(word + 1) << (64 - off))
    v & ((1L << bits) - 1)
  }

  /** Minimal band index on which two signatures collide, or -1. */
  private def minMatchingBand(a: Array[Long], b: Array[Long],
      bands: Int, bits: Int): Int = {
    var i = 0
    while (i < bands) {
      if (bandVal(a, i, bits) == bandVal(b, i, bits)) return i
      i += 1
    }
    -1
  }

  private def ceilLog2(x: Long): Int =
    if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)

  /** Band geometry. `bands` is `spark.graft.approxJoin.bands` (default
    * 8); `bitsPerBand` is `spark.graft.approxJoin.bitsPerBand` (default
    * "auto").
    *
    * Fixed-width bands cannot survive growth: a random (unrelated) pair
    * collides in a band with P = 2^-bits, so the verify loop does
    * ~bands · N² / 2^bits cosine evaluations — quadratic in the corpus
    * for any FIXED bits (the r7 canary measured 8.6× time at 10× data
    * on 8-bit bands). "auto" therefore sizes bits to the corpus:
    * bits = clamp(8, 24, ceil(log2(maxSide / 64))), which bounds the
    * expected random-collision bucket at ~64 rows and keeps candidate
    * volume ~linear in N up to ~10⁹ rows per side. The price of auto is
    * one extra counting pass over each child (linear — cheap insurance
    * against a quadratic loop) and band recall that narrows as bands
    * widen: at bits=16, a true cos=0.9 pair still collides per band
    * with p=(1−θ/π)^16 ≈ 0.29 (recall ≈ 0.93 over 8 bands), while the
    * low-similarity tail thins out — the operator is FOR high-similarity
    * search; raise `bands` to buy recall with linear, not quadratic,
    * cost. Set bitsPerBand explicitly to skip the counting pass.
    *
    * Sizing source: logical-plan row-count STATISTICS when the
    * optimizer has them (exact for leaf scans with gathered stats; no
    * extra execution), else one counting pass per child. The counting
    * fallback executes each child plan once more than the keyed pass —
    * auto mode therefore ASSUMES deterministic children (a
    * rand()-derived vector column or files mutating between the two
    * passes would size the geometry on different data than it joins;
    * pass bitsPerBand explicitly for such inputs, which also skips the
    * extra pass). log2 granularity makes the choice robust: an
    * estimate within 2× of the true count lands within one bit of the
    * same geometry.
    *
    * Memoized (lazy) per exec instance: QueryExecution reuses the same
    * physical plan across actions on a frame, so the counting passes
    * run once, not once per collect/count. AQE's plan copies
    * (withNewChildrenInternal) get a fresh lazy val — with
    * deterministic children each copy resolves the identical geometry,
    * and under stats-based sizing the re-resolution is free. */
  private lazy val resolvedGeometry: (Int, Int) = {
    val bands = conf.getConfString("spark.graft.approxJoin.bands", "8").toInt
    require(bands >= 1 && bands <= 64, s"approxJoin.bands out of range: $bands")
    val bitsStr = conf.getConfString("spark.graft.approxJoin.bitsPerBand", "auto")
    def planRows(p: SparkPlan): Long =
      p.logicalLink.flatMap(_.stats.rowCount).map(_.toLong)
        .getOrElse(p.execute().count())
    val bits = bitsStr match {
      case "auto" =>
        val n = math.max(planRows(left), planRows(right))
        math.min(24, math.max(8, ceilLog2(n / 64)))
      case s => s.toInt
    }
    require(bits >= 1 && bits <= 24, s"approxJoin.bitsPerBand out of range: $bits")
    (bands, bits)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lSchema = left.schema
    val rSchema = right.schema
    val lBound = BindReferences.bindReference(leftVec, left.output)
    val rBound = BindReferences.bindReference(rightVec, right.output)
    val t = threshold
    val (bands, bits) = resolvedGeometry
    val nBits = bands * bits

    def keyed(plan: SparkPlan, bound: Expression): RDD[((Int, Long), (InternalRow, Array[Long], ArrayData))] =
      plan.execute().mapPartitions { it =>
        it.flatMap { row =>
          val v = bound.eval(row)
          if (v == null) Iterator.empty
          else {
            val arr = v.asInstanceOf[ArrayData]
            val sig = VecAlgo.signSignatureWords(arr, nBits)
            val copied = row.copy()
            // copy the vector out of the reused row buffer too
            val vecCopy = arr.copy()
            (0 until bands).iterator.map(b =>
              ((b, bandVal(sig, b, bits)), (copied, sig, vecCopy)))
          }
        }
      }

    val lk = keyed(left, lBound)
    val rk = keyed(right, rBound)
    // Hot-bucket guard: a band bucket of f rows on both sides is an f²
    // all-pairs loop AND an f-row in-memory cogroup buffer — one
    // degenerate band value (all-identical boilerplate vectors) owns
    // the whole job at scale. DEFAULT-ON at 1M — far above any
    // legitimate near-dup bucket and a no-op at test scale, so oracled
    // outputs stay exact while a degenerate corpus cannot own the job.
    // The cap is enforced inside the cogroup with an O(1) size check
    // per bucket — no extra job (cogroup's spillable buffers bound
    // memory; the f² LOOP is what the check skips). `<=0` disables it.
    val cap = conf.getConfString("spark.graft.lsh.maxBucket", "1000000").toLong
    // skips must be visible: named accumulator + job-end log
    val skippedBuckets = graft.util.GuardMetrics.loggedAccumulator(
      sparkContext, "graft.approxCosineJoin.guardSkippedBuckets") { v =>
      s"[graft] ApproxCosineJoinExec: hot-bucket guard skipped $v " +
        "degenerate band buckets (over spark.graft.lsh.maxBucket rows " +
        "on a side, default 1000000)"
    }
    lk.cogroup(rk).flatMap {
      case ((band, _), (ls, rs)) =>
        if (ls.isEmpty || rs.isEmpty) Iterator.empty
        else if (cap > 0 && (ls.size > cap || rs.size > cap)) {
          skippedBuckets.add(1L)
          Iterator.empty // degenerate bucket: skip the f² loop entirely
        }
        else for {
          (lRow, lSig, lVec) <- ls.iterator
          (rRow, rSig, rVec) <- rs.iterator
          // emit only at the minimal matching band → exactly-once pairs
          if minMatchingBand(lSig, rSig, bands, bits) == band
          sim = VecAlgo.cosine(lVec, rVec)
          if sim >= t
        } yield {
          val values = new Array[Any](lSchema.length + rSchema.length + 1)
          var i = 0
          while (i < lSchema.length) {
            values(i) = lRow.get(i, lSchema(i).dataType); i += 1
          }
          var j = 0
          while (j < rSchema.length) {
            values(i + j) = rRow.get(j, rSchema(j).dataType); j += 1
          }
          values(values.length - 1) = sim
          new GenericInternalRow(values): InternalRow
        }
    }
  }
}

/** User-facing API. */
object ApproxCosineJoin {

  /** `left ⋈_{cos(lv, rv) ≥ t}` approximate join (see class doc).
    * Vector columns are named so they resolve against each side's own
    * analyzed output — the node is born fully resolved. */
  def join(left: DataFrame, right: DataFrame,
      leftVecCol: String, rightVecCol: String,
      threshold: Double): DataFrame = {
    val spark = left.sparkSession
    GraftExtensions.ensure(spark)
    val lPlan = org.apache.spark.sql.graftx.Bridge.logicalPlan(left)
    val rPlan = org.apache.spark.sql.graftx.Bridge.logicalPlan(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"Column '$name' not found in ${p.output.map(_.name).mkString(", ")}"))
    val node = ApproxCosineJoinNode(lPlan, rPlan,
      attr(lPlan, leftVecCol), attr(rPlan, rightVecCol), threshold)
    org.apache.spark.sql.graftx.Bridge.ofRows(spark, node)
  }
}
