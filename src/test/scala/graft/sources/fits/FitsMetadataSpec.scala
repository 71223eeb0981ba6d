package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Hidden provenance columns (`SupportsMetadataColumns`): `_file_path`,
  * `_hdu`, `_row_index` are selectable by name on any FITS read, never
  * part of the inferred schema, and cost zero extra IO. At archive
  * scale they are the join key back to the source exposure file — the
  * reference has no equivalent surface. */
class FitsMetadataSpec extends SparkTestBase {
  import spark.implicits._

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"fits-meta-$tag").toString + "/out"

  /** 4 part files × 250 rows of (id, v) — deterministic content. */
  private def writeTable(dir: String): Unit =
    spark.range(1000).select($"id", ($"id" * 3).as("v"))
      .repartition(4, $"id")
      .write.format("fits").mode("overwrite").save(dir)

  private def read(dir: String, hdu: Int = 1): DataFrame =
    spark.read.format("fits").option("hdu", hdu).load(dir)

  test("metadata columns are hidden from the inferred schema") {
    val dir = scratch("hidden")
    writeTable(dir)
    val df = read(dir)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    // but resolvable by name on demand
    val withMeta = df.select($"id", $"_file_path", $"_hdu", $"_row_index")
    assert(withMeta.schema.fieldNames.toSeq ==
      Seq("id", "_file_path", "_hdu", "_row_index"))
  }

  test("bintable: per-file row indices are dense and hdu/path correct") {
    val dir = scratch("dense")
    writeTable(dir)
    val df = read(dir)
      .select($"id", $"v", $"_file_path".as("fp"), $"_hdu".as("hdu"),
        $"_row_index".as("ri"))
    // content unchanged by the metadata projection
    assert(df.count() == 1000)
    assert(df.filter($"v" =!= $"id" * 3).count() == 0)
    // the writer lands one part file per partition
    assert(df.select($"fp").distinct().count() == 4)
    assert(df.filter(!$"fp".startsWith("file:")).count() == 0)
    assert(df.filter($"fp".endsWith(".fits")).count() == 1000)
    // hdu 1: the writer emits empty primary + BINTABLE extension
    assert(df.filter($"hdu" =!= 1).count() == 0)
    // per file: indices are exactly 0..cnt-1
    val perFile = df.groupBy($"fp").agg(
      count(lit(1)).as("cnt"), min($"ri").as("mn"), max($"ri").as("mx"),
      countDistinct($"ri").as("nd")).collect()
    perFile.foreach { r =>
      val (cnt, mn, mx, nd) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mn == 0L && mx == cnt - 1 && nd == cnt, r.toString)
    }
  }

  test("row indices stay dense when one file splits into many partitions") {
    val dir = scratch("split")
    spark.range(500).select($"id").coalesce(1)
      .write.format("fits").mode("overwrite").save(dir)
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1024") // 8 B rows → many partitions
    try {
      val df = read(dir).select($"id", $"_row_index".as("ri"))
      assert(df.rdd.getNumPartitions > 1)
      // writer preserves partition-local order; one coalesced input
      // partition means ri must equal id exactly
      assert(df.filter($"ri" =!= $"id").count() == 0)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("image HDU: _row_index equals ImgIndex on every line") {
    val dir = scratch("img")
    (0 until 64).map(r => (r.toLong, (0 until 8).map(c => r * 10 + c).toArray))
      .toDF("ImgIndex", "Image")
      .coalesce(1).write.format("fits").option("image", true)
      .mode("overwrite").save(dir)
    val df = read(dir, hdu = 0)
      .select($"ImgIndex", $"_row_index".as("ri"), $"_hdu".as("hdu"))
    assert(df.count() == 64)
    assert(df.filter($"ri" =!= $"ImgIndex").count() == 0)
    assert(df.filter($"hdu" =!= 0).count() == 0)
  }

  test("metadata-only select (no data columns) still emits every row") {
    val dir = scratch("only")
    writeTable(dir)
    val df = read(dir).select($"_file_path", $"_row_index")
    assert(df.count() == 1000)
    assert(df.distinct().count() == 1000) // (file, index) is a row id
    // a constant select reads no data column either, yet keeps every row
    val consts = read(dir).select(lit(7)).collect()
    assert(consts.length == 1000 && consts.forall(_.getInt(0) == 7))
  }

  test("metadata survives filters and joins back to source rows") {
    val dir = scratch("filter")
    writeTable(dir)
    val df = read(dir)
      .select($"id", $"_file_path".as("fp"), $"_row_index".as("ri"))
      .filter($"id" % 100 === 0)
    val rows = df.collect()
    assert(rows.length == 10)
    // re-read each claimed (file, index) directly and check the id —
    // provenance round-trips row-exactly
    rows.groupBy(_.getString(1)).foreach { case (file, rs) =>
      val back = read(file)
        .select($"id", $"_row_index".as("ri"))
        .filter($"ri".isin(rs.map(_.getLong(2)).toSeq: _*))
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      rs.foreach(r => assert(back(r.getLong(2)) == r.getLong(0)))
    }
  }

  test("streaming FITS reads carry metadata columns too") {
    val dir = scratch("stream")
    writeTable(dir)
    val ckpt = Files.createTempDirectory("fits-meta-ckpt").toString
    val q = spark.readStream.format("fits").option("hdu", 1)
      .schema(read(dir).schema)
      .load(dir)
      .select($"id", $"_file_path".as("fp"), $"_row_index".as("ri"))
      .writeStream.format("memory").queryName("fits_meta_stream")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("fits_meta_stream")
    assert(got.count() == 1000)
    assert(got.select($"fp").distinct().count() == 4)
    // the streaming read must agree row-for-row with the (already
    // gated) batch metadata read — hash repartition makes the per-file
    // row counts uneven, so equality is the only layout-safe assert
    val batch = read(dir)
      .select($"id", $"_file_path".as("fp"), $"_row_index".as("ri"))
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("streaming: selecting a metadata subset binds positionally right") {
    // pins the analyzer contract the streaming path relies on: when ANY
    // metadata column is referenced, ALL of them are appended to the
    // relation output in declaration order — so a subset select must
    // still read the right values (not a neighboring metadata column)
    val dir = scratch("stream2")
    writeTable(dir)
    val ckpt = Files.createTempDirectory("fits-meta-ckpt2").toString
    val q = spark.readStream.format("fits").option("hdu", 1)
      .schema(read(dir).schema)
      .load(dir)
      .select($"id", $"_row_index".as("ri"))
      .writeStream.format("memory").queryName("fits_meta_stream2")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("fits_meta_stream2")
    assert(got.count() == 1000)
    assert(got.schema("ri").dataType ==
      org.apache.spark.sql.types.LongType)
    // a wrong positional binding would surface as string/int values or
    // a constant column here — compare against the gated batch read
    val batch = read(dir).select($"id", $"_row_index".as("ri"))
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }
}
