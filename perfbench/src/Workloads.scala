package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Streaming

/** What a workload or probe needs from the run: the session, the corpus
  * layout, a scratch directory inside the checkout, the benchmark's own
  * directory (committed sf0.01 tables and stored answers), the tracer
  * and the core count. */
final class Env(val spark: SparkSession, val layout: Corpus.Layout,
    val scratch: File, val benchDir: File, val tracer: Tracer, val k: Int) {
  val tables: String = new File(benchDir, "data/sf0.01").getPath
}

/** One op instance. `run` is the timed part; `check` (untimed) returns
  * an error when the answer is wrong; `bytes` is the HDU data the op
  * targets, for `scan_mb_s`. */
final case class Call(kind: String, run: () => Any,
    check: Any => Option[String], bytes: Long)

/** A set of op kinds over the generated corpus; `draw` picks one op's
  * parameters from the run's seeded random source. */
abstract class Workload(val env: Env) {
  protected def spark: SparkSession = env.spark
  protected def tr: Tracer = env.tracer
  def kinds: IndexedSeq[String]
  def draw(kind: String, rng: Random): Call

  protected def fits(path: String, opts: (String, String)*): DataFrame =
    tr.span("FitsDataSource.resolve") {
      spark.read.format("fits").options(opts.toMap).load(path)
    }
  /** Plans, then executes and collects, each under its own span. */
  protected def collect(df: DataFrame): Array[Row] = {
    tr.span("plan")(df.queryExecution.executedPlan)
    tr.span("run")(df.collect())
  }
}

object Workload {
  val names: Seq[String] = Seq("scan_large", "many_files")

  def apply(name: String, env: Env): Workload = name match {
    case "scan_large" => new ScanLarge(env)
    case "many_files" => new ManyFiles(env)
  }

  /** Compares a one-row answer with the expected values; numbers
    * compare by value, so a long 5 equals a double 5.0. */
  def expectRow(got: Any, want: Any*): Option[String] = {
    val row = got.asInstanceOf[Array[Row]]
    if (row.length != 1) Some(s"expected 1 row, got ${row.length}")
    else {
      val vals = row.head.toSeq
      val ok = vals.length == want.length && vals.zip(want).forall {
        case (a: Number, b: Number) => BigDecimal(a.toString) == BigDecimal(b.toString)
        case (a, b) => a == b
      }
      if (ok) None else Some(s"got ${vals.mkString(",")} want ${want.mkString(",")}")
    }
  }
}

import Workload.expectRow

/** ~1 GiB of bintables plus a TDIM table and two tile-compressed
  * images; each op reads one HDU. Decode dominates. */
final class ScanLarge(env: Env) extends Workload(env) {
  import Corpus._
  private val l = env.layout
  // One kind per codec: HCOMPRESS_1 decodes several times slower than
  // RICE_1, and a seeded mix of the two in one kind would move the 90th
  // percentile with the mix.
  val kinds = Vector("multi_sum", "project1", "count", "rowidx_range",
    "strlen_sum", "tdim_agg", "rice_sum", "hcompress_sum", "cutout")

  private def table(f: Int) = fits(l.table(f).getPath, "hdu" -> "1")
  private def imageBytes(c: String) = l.image(c).length - 2 * 2880L
  private val imageAgg = Seq(
    sum(expr("aggregate(Image, 0L, (a, x) -> a + x)")), count(lit(1)))

  def draw(kind: String, rng: Random): Call = {
    val f = rng.nextInt(NTables)
    val tb = tableDataBytes
    kind match {
      case "multi_sum" => Call(kind, () => collect(table(f).agg(sum("e"),
        sum("d"), sum("k"), sum("j"), sum(element_at(col("v"), 1)),
        count(when(col("l"), 1)), count(lit(1)))), r => {
        val e = tableSums(f, 0, RowsPerTable)
        expectRow(r, e.e, e.d, e.k, e.j, e.v0, e.trues, e.count)
      }, tb)
      case "project1" =>
        val c = Seq("e", "d", "k", "j")(rng.nextInt(4))
        Call(kind, () => collect(table(f).agg(sum(c))), r => {
          val e = tableSums(f, 0, RowsPerTable)
          expectRow(r, Map("e" -> e.e, "d" -> e.d, "k" -> e.k, "j" -> e.j)(c))
        }, tb)
      case "count" => Call(kind, () => collect(table(f).agg(count(lit(1)))),
        r => expectRow(r, RowsPerTable), tb)
      case "rowidx_range" =>
        val lo = (rng.nextDouble() * RowsPerTable).toLong
        val hi = math.min(RowsPerTable - 1, lo + rng.nextInt((RowsPerTable / 8).toInt))
        Call(kind, () => collect(table(f)
          .filter(col("_row_index").between(lo, hi)).agg(sum("k"), count(lit(1)))),
          r => {
            val e = tableSums(f, lo, hi + 1)
            expectRow(r, e.k, e.count)
          }, tb)
      case "strlen_sum" => Call(kind,
        () => collect(table(f).agg(sum(length(col("s"))))),
        r => expectRow(r, tableSums(f, 0, RowsPerTable).len), tb)
      case "tdim_agg" => Call(kind, () => collect(fits(l.tdim.getPath, "hdu" -> "1")
        .agg(sum(element_at(element_at(col("m"), 2), 3)), count(lit(1)))),
        r => expectRow(r, sumMod(0, TdimRows, 7, 5), TdimRows), tdimDataBytes)
      case "rice_sum" | "hcompress_sum" =>
        val c = if (kind == "rice_sum") "RICE_1" else "HCOMPRESS_1"
        Call(kind, () => collect(fits(l.image(c).getPath, "hdu" -> "1").agg(
          imageAgg.head, imageAgg.tail: _*)),
          r => expectRow(r, imageSum(0, ImgH - 1), ImgH), imageBytes(c))
      case "cutout" =>
        val lo = rng.nextInt(ImgH)
        val hi = math.min(ImgH - 1, lo + rng.nextInt(ImgH / 8))
        Call(kind, () => collect(fits(l.image("RICE_1").getPath, "hdu" -> "1")
          .filter(col("ImgIndex").between(lo, hi)).agg(imageAgg.head, imageAgg.tail: _*)),
          r => expectRow(r, imageSum(lo, hi), hi - lo + 1L), imageBytes("RICE_1"))
    }
  }
}

/** 2,000 small three-HDU files in 200 night directories of 10; every op
  * re-resolves its files. File listing, header walks, planning and
  * per-task set-up dominate; decode is negligible. */
final class ManyFiles(env: Env) extends Workload(env) {
  import Corpus._
  private val l = env.layout
  val kinds = Vector("dir_count", "extname_glob", "all_union", "stats_skip")
  /** stats_skip reads two nights and keeps 10% of their files */
  val SkipWindow: Int = 2 * FilesPerNight / 10

  private def countSum(df: DataFrame) = collect(df.agg(count(lit(1)), sum("x")))

  def draw(kind: String, rng: Random): Call = kind match {
    case "dir_count" =>
      val n = rng.nextInt(Nights)
      Call(kind, () => collect(fits(l.night(n).getPath, "hdu" -> "1")
        .agg(count(lit(1)))),
        r => expectRow(r, FilesPerNight.toLong * RowsPerHdu), FilesPerNight * smallDataBytes)
    case "extname_glob" =>
      // files whose number ends in `ef`: one in every 100, across nights
      val ef = rng.nextInt(100)
      Call(kind, () => countSum(fits(f"${l.many.getPath}/n*/f??$ef%02d.fits",
        "hdu" -> "CAL")), r => {
        val (c, s) = smallSums((0 until SmallFiles / 100).map(_ * 100 + ef), 2)
        expectRow(r, c, s)
      }, SmallFiles / 100 * smallDataBytes)
    case "all_union" =>
      val n = rng.nextInt(Nights)
      Call(kind, () => countSum(fits(l.night(n).getPath, "hdu" -> "all")), r => {
        val files = n * FilesPerNight until (n + 1) * FilesPerNight
        val (c1, s1) = smallSums(files, 1)
        val (c2, s2) = smallSums(files, 2)
        expectRow(r, c1 + c2, s1 + s2)
      }, 2L * FilesPerNight * smallDataBytes)
    case "stats_skip" =>
      val n = rng.nextInt(Nights - 1)
      val g0 = n * FilesPerNight + rng.nextInt(2 * FilesPerNight - SkipWindow + 1)
      Call(kind, () => countSum(fits(s"${l.night(n).getPath},${l.night(n + 1).getPath}",
        "hdu" -> "1").filter(col("t") >= g0 * 1000.0 && col("t") < (g0 + SkipWindow) * 1000.0)),
        r => {
          val (c, s) = smallSums(g0 until g0 + SkipWindow, 1)
          expectRow(r, c, s)
        }, 2L * FilesPerNight * smallDataBytes)
  }
}

/** The write round trip the FitsWriter probe times: a seeded slice of a
  * cached in-memory table (with a variable-length text column) or of a
  * cached int16 image goes through `df.write.format("fits")`, is read
  * back, and is compared with the source. */
final class WriteRoundTrip(env: Env) {
  import WriteRoundTrip._
  private val spark = env.spark
  val kinds = Vector("table", "image")
  private var table: DataFrame = _
  private var image: DataFrame = _
  private var n = 0

  def prepare(): Unit = {
    val session = spark
    import session.implicits._
    table = spark.range(SourceRows).map(r => (r, r * 0.25, text(r)))
      .toDF("id", "f", "txt").repartition(env.k).cache()
    image = spark.range(ImageLines).map(y => (y, line(y.toInt)))
      .toDF("ImgIndex", "Image").repartition(env.k).cache()
    table.count()
    image.count()
  }

  def release(): Unit = { table.unpersist(true); image.unpersist(true) }

  private def out(tag: String): String = {
    n += 1
    new File(env.scratch, s"write_round_trip/$tag-${n % 2}").getPath
  }

  /** Sum of `.fits` bytes under a written directory. */
  def stored(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".fits")).map(_.length).sum
  def filesWritten(dir: String): Int =
    Option(new File(dir).listFiles()).toSeq.flatten.count(_.getName.endsWith(".fits"))

  /** One round trip: (output directory, the write, the read-back, the
    * expected read-back row, the user bytes written). */
  def parts(kind: String, rng: Random): (String, () => Unit, () => Any, Seq[Any], Long) =
    kind match {
      case "table" =>
        val lo = rng.nextInt(SourceRows - SliceRows + 1).toLong
        val hi = lo + SliceRows - 1
        val dir = out("table")
        (dir,
          () => table.filter(col("id").between(lo, hi))
            .write.format("fits").mode("overwrite").save(dir),
          () => spark.read.format("fits").option("hdu", "1").load(dir).agg(
            count(lit(1)), sum("id"), sum("f"), sum(length(col("txt")))).collect(),
          Seq(SliceRows.toLong, Corpus.sumRange(lo, hi + 1),
            Corpus.sumRange(lo, hi + 1) * 0.25, (lo to hi).map(textLen(_).toLong).sum),
          (lo to hi).map(r => 16L + textLen(r)).sum)
      case "image" =>
        val lo = rng.nextInt(ImageLines - SliceLines + 1)
        val hi = lo + SliceLines - 1
        val dir = out("image")
        (dir,
          () => image.filter(col("ImgIndex").between(lo, hi)).write.format("fits")
            .option("image", true).option("compress", "RICE_1")
            .mode("overwrite").save(dir),
          () => spark.read.format("fits").option("hdu", "1").load(dir).agg(count(lit(1)),
            sum(expr("aggregate(Image, 0L, (a, x) -> a + x)"))).collect(),
          Seq(SliceLines.toLong, (lo to hi).map(y => line(y).map(_.toLong).sum).sum),
          SliceLines.toLong * LineWidth * 2)
    }

}

object WriteRoundTrip {
  val SourceRows = 40000
  val SliceRows = 10000
  val ImageLines = 4096
  val SliceLines = 512
  val LineWidth = 512
  /** Mostly short text, one long row in a thousand: the writer stores a
    * column like this as variable-length `1PA`. */
  def textLen(r: Long): Int = if (r % 1000 == 0) 400 else 4 + (r % 13).toInt
  def text(r: Long): String = (s"doc$r " * 60).take(textLen(r))
  def line(y: Int): Array[Short] =
    Array.tabulate(LineWidth)(x => Corpus.pixel(x, y).toShort)
}

/** The program's declared query keys that the operators probe runs
  * over the sf0.01 tables committed with the benchmark, each answer
  * checked against the stored oracle. */
final class QueryKeys(env: Env) {
  private val spark = env.spark
  private lazy val oracle = Oracle.load(env.benchDir)

  /** Runs one key to a collected answer; returns the answer's error, if
    * any, and leaves the session as the key found it. */
  def run(key: String): Option[String] = {
    val df = SparkEntry.queries(key)(spark, env.tables)
    val rows = df.collect()
    try oracle.check(key, df.schema, rows)
    finally {
      spark.catalog.clearCache()
      Streaming.dropSinkTables(spark)
    }
  }
}

object QueryKeys {
  /** Keys of every operator family; `sim_ivf_topk`, `q27_bucket_join`
    * and the memo-backed dedup and pipeline keys read the session memos
    * the probe builds first. */
  val Keys: IndexedSeq[String] = Vector(
    "q01_project", "q03_count", "q10_topk", "q15_date", "q27_bucket_join",
    "q32_fits_roundtrip", "q40_fits_tdim",
    "sim_topk", "sim_ivf_topk",
    "dedup_exact", "dedup_survivors", "dedup_cluster_sizes",
    "text_tokens", "text_fingerprint",
    "mm_features",
    "pipeline_clean", "pipeline_mix",
    "stream_dedup")

  def family(key: String): String =
    if (key.startsWith("q")) {
      if (key.contains("_fits_")) "fits" else "relational"
    } else key.takeWhile(_ != '_') match {
      case "embed" => "dedup"
      case other => other
    }
}

/** Expected answers for the probed query keys, stored next to the benchmark:
  * DuckDB result hashes for keys with an oracle, row counts for the
  * approximate-by-design keys. */
final class Oracle(hashes: Map[String, (Long, String)], rows: Map[String, Long]) {
  def check(key: String, schema: org.apache.spark.sql.types.StructType,
      got: Array[Row]): Option[String] =
    hashes.get(key) match {
      case Some((n, h)) =>
        val mine = Answer.hash(schema, got)
        if (got.length == n && mine == h) None
        else Some(s"$key: ${got.length} rows hash $mine, oracle $n rows hash $h")
      case None => rows.get(key) match {
        case Some(n) => if (got.length == n) None else Some(s"$key: ${got.length} rows, want $n")
        case None => Some(s"$key has no stored answer")
      }
    }
}

object Oracle {
  val FileName = "oracle_sf0.01.tsv"
  /** Reads the `key<TAB>rows<TAB>hash` lines `oracle.py` writes; a hash
    * of `-` marks a key checked by row count alone. */
  def load(benchDir: File): Oracle = {
    val lines = scala.io.Source.fromFile(new File(benchDir, FileName), "UTF-8")
    try {
      val parsed = lines.getLines().filter(_.nonEmpty).map(_.split('\t')).toSeq
      new Oracle(
        parsed.collect { case Array(k, n, h) if h != "-" => k -> ((n.toLong, h)) }.toMap,
        parsed.collect { case Array(k, n, "-") => k -> n.toLong }.toMap)
    } finally lines.close()
  }
}
