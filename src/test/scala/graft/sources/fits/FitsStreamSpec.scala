package graft.sources.fits

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

/** Micro-batch streaming over an append-only FITS directory: each file
  * is read exactly once, across restarts, from the checkpointed offset
  * alone. (The reference has no streaming surface — alert-stream
  * ingestion is a beyond-reference capability.) */
class FitsStreamSpec extends SparkTestBase {

  // each generated file: 1-col E bintable, x = i%1000 → sum(100 rows) = 4950
  private val rowsPerFile = 100L
  private val sumPerFile = 4950.0

  test("full FITS streaming loop: dir -> stream transform -> dir -> batch read") {
    val src = Files.createTempDirectory("fits-loop-src").toString
    val dst = Files.createTempDirectory("fits-loop-dst").toString + "/out"
    val ckpt = Files.createTempDirectory("fits-loop-ckpt").toString
    graft.examples.FitsBench.generate(s"$src/a.fits", rowsPerFile)
    graft.examples.FitsBench.generate(s"$src/b.fits", rowsPerFile)

    val q = spark.readStream.format("fits").option("hdu", 1).load(src)
      .withColumn("doubled",
        org.apache.spark.sql.functions.col("x") * 2.0f)
      .writeStream.format("fits")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val back = spark.read.format("fits").option("hdu", 1).load(dst)
    assert(back.columns.toSeq == Seq("x", "doubled"))
    assert(back.count() == 2 * rowsPerFile)
    val sums = back.agg(
      org.apache.spark.sql.functions.sum("x"),
      org.apache.spark.sql.functions.sum("doubled")).collect().head
    assert(sums.getDouble(0) == 2 * sumPerFile)
    assert(sums.getDouble(1) == 4 * sumPerFile)
  }

  test("streaming FITS source reads each file exactly once across restarts") {
    val dir = Files.createTempDirectory("fits-stream").toString
    val ckpt = Files.createTempDirectory("fits-stream-ckpt").toString
    graft.examples.FitsBench.generate(s"$dir/a.fits", rowsPerFile)

    val batches = new scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("fits").option("hdu", 1).load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val agg = df.agg(
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum("x")).collect().head
          if (agg.getLong(0) > 0)
            batches.synchronized {
              batches += ((agg.getLong(0), agg.getDouble(1)))
            }
          ()
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(batches.toList == List((rowsPerFile, sumPerFile)),
      s"first run must read exactly file a: $batches")

    // two more files land; restart from the same checkpoint
    graft.examples.FitsBench.generate(s"$dir/b.fits", rowsPerFile)
    graft.examples.FitsBench.generate(s"$dir/c.fits", rowsPerFile)
    runOnce()
    assert(batches.map(_._1).sum == 3 * rowsPerFile,
      s"restart must read only the two new files: $batches")
    assert(batches.map(_._2).sum == 3 * sumPerFile)

    // third run with nothing new: no rows
    runOnce()
    assert(batches.map(_._1).sum == 3 * rowsPerFile,
      s"no-new-data run must emit nothing: $batches")
  }

  test("maxFilesPerTrigger drains a backlog in bounded batches") {
    val dir = Files.createTempDirectory("fits-stream-rate").toString
    val ckpt = Files.createTempDirectory("fits-stream-rate-ckpt").toString
    (0 until 3).foreach(i =>
      graft.examples.FitsBench.generate(s"$dir/f$i.fits", rowsPerFile))

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("fits").option("hdu", 1)
      .option("maxFilesPerTrigger", 1)
      .load(dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) batchSizes.synchronized { batchSizes += n }
        ()
      }
      .start()
    q.awaitTermination()

    // the 3-file backlog drains fully, but one file per batch
    assert(batchSizes.toList == List(rowsPerFile, rowsPerFile, rowsPerFile),
      s"expected 3 batches of one file each: $batchSizes")
  }

  test("a micro-batch of many small files is packed; each file read once") {
    val dir = Files.createTempDirectory("fits-stream-pack").toString
    val ckpt = Files.createTempDirectory("fits-stream-pack-ck").toString
    val nFiles = 24
    val perBatch = 12
    (0 until nFiles).foreach(f => FitsManyFilesSpec.writeFile(
      f"$dir/f$f%02d.fits", f * rowsPerFile, rowsPerFile.toInt))

    val partitions = scala.collection.mutable.ArrayBuffer.empty[Int]
    val values = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("fits").option("hdu", 1)
      .option("maxFilesPerTrigger", perBatch)
      .load(dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.collect().map(_.getLong(0))
        if (vs.nonEmpty) values.synchronized {
          partitions += df.rdd.getNumPartitions
          values ++= vs
        }
        ()
      }
      .start()
    q.awaitTermination()

    assert(partitions.length == nFiles / perBatch, partitions)
    assert(partitions.forall(_ < perBatch),
      s"batches of $perBatch files were not packed: $partitions")
    assert(values.sorted.toSeq == (0L until nFiles * rowsPerFile))
  }

  test("streaming image reads honor the colRange 2-D window") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("fits-stream-col").toString + "/img"
    val ckpt = Files.createTempDirectory("fits-stream-col-ck").toString
    (0 until 16).map(r =>
      (r.toLong, (0 until 32).map(c => r * 1000 + c).toArray))
      .toDF("ImgIndex", "Image")
      .coalesce(1).write.format("fits").option("image", true)
      .mode("overwrite").save(dir)
    val got = new scala.collection.mutable.ArrayBuffer[(Long, Seq[Int])]()
    val q = spark.readStream.format("fits").option("hdu", 0)
      .option("colRange", "5:9").load(dir)
      .filter(col("ImgIndex") < 4)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getAs[Long]("ImgIndex"),
          r.getAs[scala.collection.Seq[Int]]("Image").toSeq))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    q.awaitTermination()
    assert(got.map(_._1).sorted.toSeq == (0L until 4L))
    got.foreach { case (i, px) =>
      assert(px == (5 to 9).map(c => i.toInt * 1000 + c), s"line $i: $px")
    }
  }
}
