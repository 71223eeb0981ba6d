package graft.plans

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** [[CompileArrayAggregate]] against Spark's interpreted `aggregate`
  * (the same query with the rule excluded), row for row and bit for bit,
  * under whole-stage codegen, expression codegen and no codegen at all;
  * codegen failures throw instead of falling back. */
class CompileArrayAggregateSpec extends SparkTestBase {

  private val Fallback = "spark.sql.codegen.fallback" -> "false"
  private val Modes = Seq(
    "whole-stage" -> Seq(Fallback),
    "expression codegen" -> Seq(Fallback, "spark.sql.codegen.wholeStage" -> "false"),
    "no codegen" -> Seq(Fallback, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def compiled(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.flatMap(_.collect {
      case c: CompiledArrayAggregate => c }).length }.sum
  private def interpreted(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.flatMap(_.collect {
      case a: ArrayAggregate => a }).length }.sum

  /** Floats and doubles by their bits, so NaN payloads and -0.0 count. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case s: scala.collection.Seq[_] => s.map(bits)
    case r: Row => r.toSeq.map(bits)
    case o => o
  }

  /** `build()` collected with the rule and without it: the answers are
    * equal, and the compiled plan holds `nCompiled` twins. */
  private def same(build: () => DataFrame, nCompiled: Int): Seq[Row] = {
    GraftExtensions.ensure(spark)
    val oracle = withConf("spark.sql.optimizer.excludedRules" ->
        CompileArrayAggregate.ruleName) {
      val df = build()
      assert(compiled(df.queryExecution.optimizedPlan) == 0)
      df.collect().toSeq
    }
    Modes.foreach { case (mode, confs) =>
      withConf(confs: _*) {
        val df = build()
        val plan = df.queryExecution.optimizedPlan
        assert(compiled(plan) == nCompiled, s"$mode: $plan")
        assert(interpreted(plan) == 0 || nCompiled == 0, s"$mode: $plan")
        val got = df.collect().toSeq
        assert(got.length == oracle.length, mode)
        got.zip(oracle).foreach { case (g, o) => assert(bits(g) == bits(o), s"$mode: $g vs $o") }
      }
    }
    oracle
  }

  private lazy val arrays: DataFrame = {
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("b", ArrayType(ByteType)),
      StructField("s", ArrayType(ShortType)),
      StructField("i", ArrayType(IntegerType)),
      StructField("l", ArrayType(LongType)),
      StructField("f", ArrayType(FloatType)),
      StructField("d", ArrayType(DoubleType)),
      StructField("dec", ArrayType(DecimalType(12, 3))),
      StructField("str", ArrayType(StringType)),
      StructField("bo", ArrayType(BooleanType)),
      StructField("aa", ArrayType(ArrayType(IntegerType)))))
    val rnd = new Random(12)
    def arr[A](row: Int)(gen: => A): Seq[Any] = row match {
      case 0 => null
      case 1 => Seq.empty
      case _ => Seq.fill(rnd.nextInt(12))(if (rnd.nextInt(7) == 0) null else gen)
    }
    val specialD = Seq(Double.NaN, -0.0, Double.PositiveInfinity, 1e300)
    val rows = (0 until 60).map { r =>
      Row(r.toLong - 20,
        arr(r)((rnd.nextInt(256) - 128).toByte),
        arr(r)((rnd.nextInt(65536) - 32768).toShort),
        arr(r)(rnd.nextInt()),
        arr(r)(rnd.nextLong() >> 24),
        arr(r)(if (rnd.nextInt(9) == 0) Float.NaN else rnd.nextFloat() * 1e4f - 5e3f),
        arr(r)(if (rnd.nextInt(6) == 0) specialD(rnd.nextInt(4)) else rnd.nextGaussian()),
        arr(r)(BigDecimal(rnd.nextInt(1000000), 3).bigDecimal),
        arr(r)(rnd.alphanumeric.take(rnd.nextInt(5)).mkString),
        arr(r)(rnd.nextBoolean()),
        arr(r)(if (rnd.nextInt(5) == 0) null
          else Seq.fill(rnd.nextInt(4))(rnd.nextInt(100))))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    df.createOrReplaceTempView("arrays")
    df
  }

  private val shapes = Seq(
    "aggregate(b, 0, (a, x) -> a + x)",
    "aggregate(s, 0L, (a, x) -> a + x)",
    "aggregate(i, 0L, (a, x) -> a * 3 + x)",
    "aggregate(l, 0L, (a, x) -> a + x * k)",
    "aggregate(f, CAST(0 AS FLOAT), (a, x) -> a * CAST(0.5 AS FLOAT) + x)",
    "aggregate(d, 0D, (a, x) -> a + x / 3)",
    "aggregate(d, CAST('NaN' AS DOUBLE), (a, x) -> greatest(a, x))",
    "aggregate(dec, CAST(0 AS DECIMAL(20, 3)), (a, x) -> CAST(a + x AS DECIMAL(20, 3)))",
    "aggregate(str, '', (a, x) -> concat(a, x))",
    "aggregate(str, '', (a, x) -> concat(a, coalesce(x, '~')), a -> upper(a))",
    "aggregate(bo, true, (a, x) -> a AND x)",
    "reduce(bo, 0, (a, x) -> IF(x, a + 1, a))",
    "aggregate(aa, 0L, (a, x) -> a + size(x) + coalesce(try_element_at(x, 1), 0))",
    "aggregate(l, 0L, (a, x) -> a + coalesce(x, 7), a -> a * 2 + k)",
    "aggregate(i, 0L, (a, x) -> a + x, a -> CAST(a AS STRING))")

  test("every element type, nulls, finish and outer columns match Spark bit for bit") {
    val rows = same(() => arrays.select(col("k") +: shapes.map(expr): _*)
      .orderBy("k"), shapes.length)
    // the data holds null, empty and NaN-bearing arrays
    assert(rows.exists(_.isNullAt(1)) && rows.exists(r => r.get(2) == 0L))
    assert(rows.exists(r => !r.isNullAt(6) && r.getDouble(6).isNaN))
  }

  test("one whole-stage projection holds every compiled aggregate") {
    GraftExtensions.ensure(spark)
    withConf(Fallback) {
      val df = arrays.select(shapes.map(expr): _*)
      val stages = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.child.collect { case p: ProjectExec => p }
      }.flatten
      assert(stages.length == 1, df.queryExecution.executedPlan)
      assert(df.collect().length == 60)
    }
  }

  test("the similarity shapes: aggregates over zip_with and transform") {
    val vw = arrays.select(col("k"), transform(col("b"), _.cast("int")).as("v"),
      transform(col("b"), x => x.cast("int") * 3 - 1).as("w"))
    same(() => vw.select(col("k"),
      aggregate(zip_with(col("v"), col("w"), (a, b) => a.cast("long") * b),
        lit(0L), (acc, x) => acc + x).as("dqs"),
      aggregate(transform(col("v"), a => a.cast("long") * a),
        lit(0L), (acc, x) => acc + x).as("dqq")).orderBy("k"), 2)
  }

  test("overflow: ANSI raises Spark's error, non-ANSI wraps like Spark") {
    val big = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(Seq(Long.MaxValue, 1L))), 1),
      StructType(Seq(StructField("l", ArrayType(LongType)))))
    def sum() = big.select(expr("aggregate(l, 0L, (a, x) -> a + x)"))
    def condition(t: Throwable): Option[String] = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).collectFirst {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }
    withConf("spark.sql.ansi.enabled" -> "true") {
      GraftExtensions.ensure(spark)
      val want = withConf("spark.sql.optimizer.excludedRules" ->
        CompileArrayAggregate.ruleName)(intercept[Exception](sum().collect()))
      assert(condition(want).contains("ARITHMETIC_OVERFLOW"), want)
      Modes.foreach { case (mode, confs) =>
        withConf(confs: _*) {
          assert(compiled(sum().queryExecution.optimizedPlan) == 1)
          assert(condition(intercept[Exception](sum().collect())) == condition(want), mode)
        }
      }
    }
    withConf("spark.sql.ansi.enabled" -> "false") {
      assert(same(() => sum(), 1) == Seq(Row(Long.MinValue)))
    }
  }

  test("a body runs only inside the loop, however often it repeats") {
    // k * 2^62 overflows for k = 3, whose array is null: Spark never
    // evaluates the body there, so neither may a hoisted common piece
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(3L, null), Row(0L, Seq(1L, 2L))), 1),
      StructType(Seq(StructField("k", LongType), StructField("l", ArrayType(LongType)))))
    val body = "(a, x) -> a + x + k * 4611686018427387904L"
    withConf("spark.sql.ansi.enabled" -> "true") {
      assert(same(() => df.select(col("k"), expr(s"aggregate(l, 0L, $body)"),
        expr(s"aggregate(l, 1L, $body)")).orderBy("k"), 2) ==
        Seq(Row(0L, 3L, 4L), Row(3L, null, null)))
    }
  }

  test("grouping by a compiled aggregate") {
    arrays
    same(() => spark.sql("SELECT aggregate(i, 0L, (a, x) -> a + x % 3) AS g, count(*) AS n " +
      "FROM arrays GROUP BY aggregate(i, 0L, (a, x) -> a + x % 3) ORDER BY g"), 1)
  }

  test("declined shapes keep Spark's ArrayAggregate") {
    Seq(
      "aggregate(d, 0D, (a, x) -> a + x * rand(7))",
      "aggregate(l, 0L, (a, x) -> a + size(filter(l, y -> y > x)))",
      "transform(aa, y -> aggregate(y, 0L, (a, x) -> a + x + size(y)))",
      "aggregate(l, named_struct('s', 0L, 'n', 0L), " +
        "(a, x) -> named_struct('s', a.s + coalesce(x, 0L), 'n', a.n + 1), a -> a.s)"
    ).foreach { shape =>
      GraftExtensions.ensure(spark)
      val plan = arrays.select(expr(shape)).queryExecution.optimizedPlan
      assert(interpreted(plan) == 1 && compiled(plan) == 0, s"$shape: $plan")
    }
    same(() => arrays.select(col("k"), expr("aggregate(l, named_struct('s', 0L, 'n', 0L), " +
      "(a, x) -> named_struct('s', a.s + coalesce(x, 0L), 'n', a.n + 1), a -> a.s)"))
      .orderBy("k"), 0)
  }

  test("explain still reads aggregate(...)") {
    GraftExtensions.ensure(spark)
    val df = arrays.select(expr("aggregate(l, 0L, (a, x) -> a + x)").as("t"),
      expr("reduce(i, 0L, (a, x) -> a + x)").as("r"))
    assert(compiled(df.queryExecution.optimizedPlan) == 2)
    val text = df.queryExecution.toString + df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(text.contains("aggregate(") && text.contains("reduce("), text)
    assert(!text.contains("CompiledArrayAggregate") && !text.contains("lambdavariable"), text)
  }

  test("a second build of the same query shape compiles no new code") {
    GraftExtensions.ensure(spark)
    def run(): Long = spark.range(0, 1000, 1, 2)
      .select(expr("aggregate(array(id, id + 1, id * 2), 0L, (a, x) -> a + x, a -> a + 1)")
        .as("t"))
      .agg(sum("t")).head.getLong(0)
    val want = (0L until 1000).map(i => 4 * i + 2).sum
    assert(run() == want)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run() == want)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  // ---- FITS images ----------------------------------------------------

  private val Width = 23
  private def pixel(y: Int, x: Int): Option[Short] =
    if ((y * 7 + x) % 11 == 0) None else Some(((y * 997 + x * 31) % 30000 - 15000).toShort)

  private def image(codec: Option[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-agg").toString + "/img"
    val w = (0 until 40).map(y => (Seq.tabulate(Width)(pixel(y, _)), y.toLong))
      .toDF("Image", "ImgIndex").coalesce(1).write.format("fits").mode("append")
      .option("image", true)
    codec.fold(w)(c => w.option("compress", c)).save(dir)
    dir
  }

  /** Plain int16 image with BLANK, BSCALE 0.5 and BZERO 3: pixels read as
    * nullable doubles. */
  private def scaledImage(): String = {
    val f = Files.createTempDirectory("graft-agg").resolve("scaled.fits").toString
    def card(k: String, v: String) = f"$k%-8s= $v%-20s".padTo(80, ' ')
    def header(out: DataOutputStream, cards: Seq[String]): Unit = {
      val b = (cards :+ "END".padTo(80, ' ')).mkString.getBytes("US-ASCII")
      out.write(b); out.write(new Array[Byte]((b.length + 2879) / 2880 * 2880 - b.length))
    }
    val out = new DataOutputStream(new FileOutputStream(f))
    try {
      header(out, Seq(card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0")))
      header(out, Seq(card("XTENSION", "'IMAGE   '"), card("BITPIX", "16"),
        card("NAXIS", "2"), card("NAXIS1", Width.toString), card("NAXIS2", "40"),
        card("PCOUNT", "0"), card("GCOUNT", "1"), card("BLANK", "-32768"),
        card("BSCALE", "0.5"), card("BZERO", "3")))
      for (y <- 0 until 40; x <- 0 until Width) out.writeShort(pixel(y, x).fold(-32768)(_.toInt))
      val n = 40 * Width * 2
      out.write(new Array[Byte]((n + 2879) / 2880 * 2880 - n))
    } finally out.close()
    f
  }

  test("FITS images: RICE, HCOMPRESS, GZIP, plain and BSCALE-scaled lines") {
    val sums = Seq("aggregate(Image, 0L, (a, x) -> a + x)",
      "aggregate(Image, 0L, (a, x) -> a + coalesce(x, 0))",
      "aggregate(Image, 0, (a, x) -> IF(x IS NULL, a + 1, a))")
    val all = (0 until 40).flatMap(y => (0 until Width).flatMap(pixel(y, _))).map(_.toLong).sum
    Seq(Some("RICE_1"), Some("HCOMPRESS_1"), Some("GZIP_1"), None).foreach { codec =>
      val p = image(codec)
      // a plain image is the primary HDU, a compressed one the first extension
      def load() = spark.read.format("fits").option("hdu", codec.size).load(p)
      val rows = same(() => load()
        .select(col("ImgIndex") +: sums.map(expr): _*).orderBy("ImgIndex"), 3)
      assert(rows.map(_.getLong(2)).sum == all, codec)
      assert(rows.exists(_.isNullAt(1)) && rows.map(_.getInt(3)).sum > 0, codec)
      val total = same(() => load().agg(sum(expr(sums(1)))), 1)
      assert(total == Seq(Row(all)), codec)
    }
    val p = scaledImage()
    val rows = same(() => spark.read.format("fits").option("hdu", 1).load(p)
      .select(col("ImgIndex"), expr("aggregate(Image, 0D, (a, x) -> a + coalesce(x, 0D))"),
        expr("aggregate(Image, 0D, (a, x) -> a + x)")).orderBy("ImgIndex"), 2)
    assert(rows.map(_.getDouble(1)).sum == all * 0.5 + 3.0 * (0 until 40).map(y =>
      (0 until Width).count(pixel(y, _).isDefined)).sum)
  }

  test("the first query of a fresh session that loads FITS is compiled") {
    val p = image(Some("RICE_1"))
    val s2 = spark.newSession()
    assert(!s2.experimental.extraOptimizations.contains(CompileArrayAggregate))
    SparkSession.setActiveSession(s2)
    try {
      val df = s2.read.format("fits").option("hdu", 1).load(p)
        .agg(sum(expr("aggregate(Image, 0L, (a, x) -> a + coalesce(x, 0))")))
      assert(compiled(df.queryExecution.optimizedPlan) == 1)
      assert(df.head.getLong(0) ==
        (0 until 40).flatMap(y => (0 until Width).flatMap(pixel(y, _))).map(_.toLong).sum)
    } finally SparkSession.setActiveSession(spark)
  }
}
