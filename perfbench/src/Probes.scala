package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Relational, Similarity}
import graft.sources.fits.FitsInputPartition
import graft.sources.fits.core.{FitsStructure, TileCodec}

/** The traced run's module probes: the benchmark calls each layer's
  * public entry point directly and times the call. The probes are the
  * same whichever workload is traced, so every traced result carries
  * every per-layer metric. Each probe also checks its own answer. */
final class Probes(env: Env) {
  import Corpus._
  private val spark = env.spark
  private val l = env.layout
  private val k = env.k
  val metrics = mutable.LinkedHashMap[String, Double]()
  val errors = mutable.ArrayBuffer[String]()
  var checks = 0

  private def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) errors += what
  }
  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  private def median(xs: Seq[Double]): Double = Stats.median(xs)
  /** Median seconds of `reps` runs of `body`. */
  private def timed(reps: Int)(body: => Unit): Double =
    median((1 to reps).map(_ => secs(body)._2))

  def run(): Unit = Seq[(String, () => Unit)](
    "header_walk" -> headerWalk, "codecs" -> codecs, "planning" -> planning,
    "ladder_256m" -> (() => ladder("256m", 4)),
    "ladder_1g" -> (() => ladder("1g", NTables)),
    "row_reader" -> rowReader, "handoff" -> handoff, "writer" -> writer,
    "operators" -> operators, "tables" -> tables
  ).foreach { case (name, probe) =>
    val s = secs(probe())._2
    System.err.println(f"[perfbench] probe $name took $s%.2f s")
  }

  private def headerWalk(): Unit = {
    val fs = FileSystem.getLocal(new Configuration())
    val paths = (0 until SmallFiles).map(g => new Path(l.small(g).getPath))
    var hdus = 0
    val s = timed(3) { hdus = paths.map(p => FitsStructure.scan(fs, p).length).sum }
    check(hdus == 3 * SmallFiles, s"header walk found $hdus HDUs")
    metrics("core.header_walk_ms") = s * 1e3
    metrics("core.hdus_per_s") = hdus / s
  }

  private def codecs(): Unit = {
    val raw = (0 until ImgH / TileH).map(tileBytes)
    val mb = raw.map(_.length).sum / 1e6
    val nPix = ImgW * TileH
    var rice: Seq[Array[Byte]] = Nil
    metrics("core.tile_encode_mb_s") =
      mb / timed(3) { rice = raw.map(compressTile("RICE_1", _)) }
    def decode(name: String, codec: String, comp: Seq[Array[Byte]]): Unit = {
      var out: Seq[Array[Byte]] = Nil
      metrics(s"core.${name}_decode_mb_s") = mb / timed(3) {
        out = comp.map(TileCodec.decompress(codec, _, nPix, 2, 32))
      }
      check(out.zip(raw).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"$codec tiles did not decode to their source")
    }
    decode("rice", "RICE_1", rice)
    decode("hcompress", "HCOMPRESS_1", raw.map(compressTile("HCOMPRESS_1", _)))
    decode("gzip", "GZIP_1", raw.map(TileCodec.compress("GZIP_1", _, 2, 32)))
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(sys.error("no BatchScanExec in the plan"))

  /** Resolution and partition planning over the many_files corpus, in
    * the four shapes the many_files ops use. */
  private def planning(): Unit = {
    val many = l.many.getPath
    // the stats filter keeps the first 10% of nights 2 and 3
    val keep0 = 2 * FilesPerNight
    val keep = 2 * FilesPerNight / 10
    val shapes: Seq[(String, Map[String, String], DataFrame => DataFrame, Int)] = Seq(
      (l.night(0).getPath, Map("hdu" -> "1"), _.agg(count(lit(1))), FilesPerNight),
      (s"$many/n*/f??07.fits", Map("hdu" -> "CAL"), _.agg(sum("x")), SmallFiles / 100),
      (l.night(1).getPath, Map("hdu" -> "all"), _.agg(sum("x")), FilesPerNight),
      (s"${l.night(2).getPath},${l.night(3).getPath}", Map("hdu" -> "1"),
        _.filter(col("t") >= keep0 * 1000.0 && col("t") < (keep0 + keep) * 1000.0)
          .agg(sum("x")), 2 * FilesPerNight))
    val rows = shapes.map { case (path, opts, q, matched) =>
      val rs = (1 to 3).map { _ =>
        val (df, resolve) = secs(spark.read.format("fits").options(opts).load(path))
        val query = q(df)
        val (scan, plan) = secs {
          query.queryExecution.executedPlan
          val s = scanOf(query)
          s.inputPartitions
          s
        }
        val parts = scan.inputPartitions
        val files = parts.collect { case p: FitsInputPartition => p.file }.distinct.size
        (resolve, plan, parts.size, if (files == 0) parts.size else files)
      }
      val planned = rs.head._4
      check(planned <= matched && planned > 0, s"planned $planned of $matched files at $path")
      (median(rs.map(_._1)), median(rs.map(_._2)), rs.head._3, planned, matched)
    }
    metrics("FitsDataSource.resolve_ms") = rows.map(_._1).sum / rows.size * 1e3
    metrics("FitsDataSource.plan_ms") = rows.map(_._2).sum / rows.size * 1e3
    metrics("FitsDataSource.partitions") = rows.map(_._3).sum.toDouble / rows.size
    metrics("FitsDataSource.files_planned_ratio") =
      rows.map(_._4).sum.toDouble / rows.map(_._5).sum
  }

  private val allCols: Seq[Column] = Seq(sum("e"), sum("d"), sum("k"), sum("j"),
    sum(length(col("s"))), sum(element_at(col("v"), 1)), count(when(col("l"), 1)))
  private def tablesDf(n: Int): DataFrame = spark.read.format("fits")
    .option("hdu", "1").load((0 until n).map(l.table(_).getPath).mkString(","))
  private def expectAll(n: Int): Seq[Any] = {
    val s = (0 until n).map(tableSums(_, 0, RowsPerTable))
    Seq(s.map(_.e).sum, s.map(_.d).sum, s.map(_.k).sum, s.map(_.j).sum,
      s.map(_.len).sum, s.map(_.v0).sum, s.map(_.trues).sum)
  }

  /** The FitsColumnarReader ladder over the first `n` tables: the
    * reader driven directly on one thread, then a one-task and a k-task
    * Spark job computing the same all-column aggregate. */
  private def ladder(tag: String, n: Int): Unit = {
    val mb = n * tableDataBytes / 1e6
    val df = tablesDf(n)
    val scan = scanOf(df.agg(allCols.head, allCols.tail: _*))
    val factory = scan.readerFactory
    var rows = 0L
    val s1 = secs {
      scan.inputPartitions.foreach { p =>
        val r = factory.createColumnarReader(p)
        try while (r.next()) rows += r.get().numRows()
        finally r.close()
      }
    }._2
    check(rows == n * RowsPerTable, s"reader decoded $rows rows")
    def job(tasks: Int): Double = {
      val (res, s) = secs(df.coalesce(tasks).agg(allCols.head, allCols.tail: _*).collect())
      check(Workload.expectRow(res, expectAll(n): _*).isEmpty, s"$tag ladder sums")
      s
    }
    val task1 = mb / job(1)
    val taskN = mb / job(k)
    metrics(s"FitsColumnarReader.decode_1t_mb_s.$tag") = mb / s1
    metrics(s"FitsColumnarReader.task1_mb_s.$tag") = task1
    metrics(s"FitsColumnarReader.taskN_mb_s.$tag") = taskN
    metrics(s"FitsColumnarReader.scaling_eff.$tag") = taskN / (k * task1)
  }

  /** Decode of the TDIM table on one thread, through whichever reader
    * the factory picks for it (the row reader, today). */
  private def rowReader(): Unit = {
    val scan = scanOf(spark.read.format("fits").option("hdu", "1")
      .load(l.tdim.getPath).agg(sum(element_at(element_at(col("m"), 2), 3))))
    val f = scan.readerFactory
    var rows = 0L
    val s = timed(3) {
      rows = 0L
      scan.inputPartitions.foreach { p =>
        if (f.supportColumnarReads(p)) {
          val r = f.createColumnarReader(p)
          try while (r.next()) rows += r.get().numRows() finally r.close()
        } else {
          val r = f.createReader(p)
          try while (r.next()) { r.get(); rows += 1 } finally r.close()
        }
      }
    }
    check(rows == TdimRows, s"TDIM reader read $rows rows")
    metrics("FitsPartitionReader.decode_1t_mb_s") = tdimDataBytes / 1e6 / s
  }

  /** Columnar-to-row hand-off: a row count through the whole plan minus
    * a batch count straight off the scan node, both on k tasks. */
  private def handoff(): Unit = {
    val proj = tablesDf(4).select("e", "d", "k", "j", "s", "v", "l")
    val scan = proj.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(sys.error("no BatchScanExec in the projection plan"))
    var rows, batchRows = 0L
    val full = timed(3) { rows = proj.queryExecution.toRdd.count() }
    val batch = timed(3) {
      batchRows = scan.executeColumnar().map(_.numRows().toLong).reduce(_ + _)
    }
    check(rows == 4 * RowsPerTable && batchRows == rows,
      s"hand-off counted $rows rows, $batchRows in batches")
    metrics("handoff.c2r_ms") = (full - batch) * 1e3
  }

  private def writer(): Unit = {
    val w = new WriteRoundTrip(env)
    w.prepare()
    val rng = new Random(17)
    val runs = (1 to 2).flatMap(_ => w.kinds).map { kind =>
      val (dir, write, read, want, user) = w.parts(kind, rng)
      val (_, s) = secs(write())
      check(Workload.expectRow(read(), want: _*).isEmpty, s"write round trip ($kind) read-back")
      (s, w.filesWritten(dir), w.stored(dir), user)
    }
    metrics("FitsWriter.write_ms") = median(runs.map(_._1)) * 1e3
    metrics("FitsWriter.files_written") = runs.map(_._2).sum.toDouble / runs.size
    metrics("FitsWriter.write_mb_s") = runs.map(_._4).sum / 1e6 / runs.map(_._1).sum
    metrics("FitsWriter.stored_bytes_per_user_byte") =
      runs.map(_._3).sum.toDouble / runs.map(_._4).sum
    w.release()
  }

  /** The three session-memo builds from scratch, then one pass over the
    * query keys, by family. */
  private def operators(): Unit = {
    val dir = env.tables
    Similarity.evictMemo(spark)
    Relational.evictBucketMemo(spark)
    Dedup.evictMemo(spark)
    metrics("operators.ivf_build_s") = Similarity.warmIvfIndex(spark, dir)
    metrics("operators.bucket_build_s") = Relational.warmBucketedTables(spark, dir)
    metrics("operators.dedup_memo_build_s") = {
      val (shingles, labels) = Dedup.warmMemos(spark, dir)
      shingles + labels
    }
    val qk = new QueryKeys(env)
    val byFamily = QueryKeys.Keys.map { key =>
      val (err, s) = secs(qk.run(key))
      check(err.isEmpty, err.getOrElse(""))
      QueryKeys.family(key) -> s
    }.groupBy(_._1)
    Seq("relational", "fits", "sim", "dedup", "text", "mm", "pipeline", "stream")
      .foreach(f => metrics(s"operators.${f}_ms") = median(byFamily(f).map(_._2)) * 1e3)
  }

  private def tables(): Unit = {
    val s2 = spark.newSession()
    val per = Tables.names.map(n => secs(Tables.load(s2, env.tables, n))._2)
    metrics("Tables.load_ms") = per.sum / per.size * 1e3
  }
}
