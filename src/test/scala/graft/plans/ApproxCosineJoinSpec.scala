package graft.plans

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.VectorFunctions

class ApproxCosineJoinSpec extends SparkTestBase {

  /** 60 seeded random vectors + 10 near-identical perturbed copies. */
  private lazy val (baseDf, dupDf) = {
    val rnd = new Random(7)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val dups = base.take(10).map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }
    import spark.implicits._
    (base.toDF("id", "vec"), dups.toDF("id", "vec"))
  }

  test("custom operator: exactly-once pairs, precision 1, planted recall") {
    val left = baseDf.select(col("id").as("l_id"), col("vec").as("l_vec"))
    val right = dupDf.select(col("id").as("r_id"), col("vec").as("r_vec"))

    val approx = ApproxCosineJoin.join(left, right, "l_vec", "r_vec", 0.99)
      .select(col("l_id"), col("r_id"), col("sim"))
      .collect()

    val exact = left.crossJoin(right)
      .select(col("l_id"), col("r_id"),
        VectorFunctions.cosine_sim(col("l_vec"), col("r_vec")).as("sim"))
      .filter(col("sim") >= 0.99)
      .collect()

    val approxPairs = approx.map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exactPairs = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly-once emission despite multi-band collisions
    assert(approxPairs.distinct.size == approxPairs.size)
    // precision 1: the operator verifies exact cosine
    assert(approxPairs.toSet.subsetOf(exactPairs))
    // the 10 planted near-identical pairs (cos ≈ 1) must all be found:
    // band collision probability ≈ 1 at this similarity
    assert(exactPairs.size == 10)
    assert(approxPairs.toSet == exactPairs)
    // sims agree with the expression-computed values
    val exactSims = exact.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    approx.foreach { r =>
      assert(math.abs(r.getDouble(2) - exactSims((r.getLong(0), r.getLong(1)))) < 1e-12)
    }
  }

  test("plan uses the custom physical operator") {
    val df = ApproxCosineJoin.join(
      baseDf.select(col("id").as("l_id"), col("vec").as("l_vec")),
      dupDf.select(col("id").as("r_id"), col("vec").as("r_vec")),
      "l_vec", "r_vec", 0.9)
    // physical nodeName strips the Exec suffix
    assert(df.queryExecution.executedPlan.toString
      .contains("ApproxCosineJoin"))
    assert(df.columns.toSeq == Seq("l_id", "l_vec", "r_id", "r_vec", "sim"))
  }

  test("maxBucket guard excludes degenerate all-identical buckets") {
    import spark.implicits._
    // 50 identical vectors: every one of the 8 band buckets holds all
    // 50 rows on both sides — unguarded, that is 8 × 50² pair checks
    // and a 50-row in-memory cogroup buffer per bucket; capped at 10,
    // every bucket is excluded before the shuffle and output is empty
    val same = (0 until 50).map(i => (i.toLong, Array(1f, 2f, 3f, 4f)))
      .toDF("id", "vec")
    val l = same.select(col("id").as("l_id"), col("vec").as("l_vec"))
    val r = same.select(col("id").as("r_id"), col("vec").as("r_vec"))
    spark.conf.set("spark.graft.lsh.maxBucket", "10")
    try {
      assert(ApproxCosineJoin.join(l, r, "l_vec", "r_vec", 0.9).count() == 0)
      // a healthy corpus under the same cap is untouched: buckets are
      // small, so the guarded plan returns the exact result
      val guarded = ApproxCosineJoin.join(
        baseDf.select(col("id").as("l_id"), col("vec").as("l_vec")),
        dupDf.select(col("id").as("r_id"), col("vec").as("r_vec")),
        "l_vec", "r_vec", 0.99).select("l_id", "r_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(guarded.size == 10)
    } finally spark.conf.unset("spark.graft.lsh.maxBucket")
  }

  test("wide band geometry keeps exactly-once + planted recall") {
    // explicit 16-bit bands (the shape auto picks at ~10⁶ rows): the
    // planted cos≈1 pairs still collide in every band, pairs are still
    // emitted exactly once, and widening only thins random collisions
    val left = baseDf.select(col("id").as("l_id"), col("vec").as("l_vec"))
    val right = dupDf.select(col("id").as("r_id"), col("vec").as("r_vec"))
    for (bits <- Seq("16", "24", "auto")) {
      spark.conf.set("spark.graft.approxJoin.bitsPerBand", bits)
      try {
        val pairs = ApproxCosineJoin.join(left, right, "l_vec", "r_vec", 0.99)
          .select("l_id", "r_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(pairs.distinct.size == pairs.size, s"bits=$bits: dup pairs")
        assert(pairs.toSet == (0 until 10)
          .map(i => (i.toLong, i + 1000L)).toSet, s"bits=$bits: recall")
      } finally spark.conf.unset("spark.graft.approxJoin.bitsPerBand")
    }
  }

  test("odd geometry crossing word boundaries stays exact-once + subset") {
    // 5 bands × 13 bits = 65 signature bits: band 4 spans the word-0/
    // word-1 boundary — the cross-word extraction path that a divisor
    // geometry never exercises. Exactness properties must be unchanged.
    val left = baseDf.select(col("id").as("l_id"), col("vec").as("l_vec"))
    val right = dupDf.select(col("id").as("r_id"), col("vec").as("r_vec"))
    spark.conf.set("spark.graft.approxJoin.bands", "5")
    spark.conf.set("spark.graft.approxJoin.bitsPerBand", "13")
    try {
      val pairs = ApproxCosineJoin.join(left, right, "l_vec", "r_vec", 0.99)
        .select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs.distinct.size == pairs.size, "exactly-once")
      // precision 1 (cosine-verified) and full planted recall at cos≈1
      assert(pairs.toSet == (0 until 10)
        .map(i => (i.toLong, i + 1000L)).toSet)
    } finally {
      spark.conf.unset("spark.graft.approxJoin.bands")
      spark.conf.unset("spark.graft.approxJoin.bitsPerBand")
    }
  }

  test("empty result below threshold; no crash on nulls") {
    import spark.implicits._
    val withNull = Seq((1L, null.asInstanceOf[Array[Float]]),
      (2L, Array(1f, 0f))).toDF("id", "vec")
    val out = ApproxCosineJoin.join(
      withNull.select(col("id").as("l_id"), col("vec").as("l_vec")),
      withNull.select(col("id").as("r_id"), col("vec").as("r_vec")),
      "l_vec", "r_vec", 0.999999)
    // null vectors drop out; the (2,2) self pair survives at cos=1
    val rows = out.select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((2L, 2L)))
  }
}
