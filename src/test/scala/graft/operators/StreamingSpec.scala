package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class StreamingSpec extends SparkTestBase {

  test("statePartitions that is not a positive integer fails naming the " +
      "key, before any streaming query starts") {
    val key = "spark.graft.stream.statePartitions"
    try Seq("0", "-1", "x").foreach { bad =>
      spark.conf.set(key, bad)
      val e = intercept[IllegalArgumentException] {
        Streaming.stream_hour_counts(spark, sf0001)
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
      assert(spark.streams.active.isEmpty)
    } finally spark.conf.unset(key)
  }

  test("a replay that outlasts its bound fails naming its query and " +
      "leaves no active stream") {
    val dir = java.nio.file.Files.createTempDirectory("slow-replay").toString
    spark.range(4).coalesce(1).write.mode("overwrite").parquet(dir)
    val slow = udf((x: Long) => { Thread.sleep(2000); x })
    val in = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir).select(slow(col("id")).as("id"))
    val name = "slow_replay_tbl"
    try {
      val e = intercept[java.util.concurrent.TimeoutException] {
        Streaming.runToTable(spark, in, name, "append",
          scala.concurrent.duration.Duration(200, "millis"))
      }
      assert(e.getMessage.contains(name), e.getMessage)
      assert(spark.streams.active.isEmpty, spark.streams.active.toSeq)
    } finally spark.catalog.dropTempView(name)
  }

  test("replay checkpoints are single-use: repeat runs re-ingest from " +
      "offset zero and leave no checkpoint dirs behind") {
    // r18 optimization round: runToTable places its per-run checkpoint
    // under a (RAM-backed when available) scratch base. Two invariants
    // keep that safe: every start gets a FRESH dir (a reused dir would
    // resume committed offsets and silently stream zero rows on the
    // second run), and the dir is deleted on completion (else /dev/shm
    // accumulates state files for the session's life).
    val base = java.nio.file.Files.createTempDirectory("ckpt-base")
    spark.conf.set("spark.graft.stream.checkpointBase", base.toString)
    try {
      def run(): Seq[String] = {
        val rows = Streaming.stream_hour_counts(spark, sf0001)
          .collect().map(_.toString).sorted.toSeq
        Streaming.dropSinkTables(spark)
        rows
      }
      val first = run()
      assert(first.nonEmpty)
      // stale-offset reuse would make the second replay see no input
      assert(run() == first, "second replay diverged — stale checkpoint?")
      import scala.jdk.CollectionConverters._
      val leftovers = java.nio.file.Files.list(base).iterator().asScala
        .map(_.getFileName.toString).toList
      assert(leftovers.isEmpty,
        s"checkpoint dirs outlived their queries: $leftovers")
    } finally spark.conf.unset("spark.graft.stream.checkpointBase")
  }

  test("stream_joined equals the batch interval join — with its empty " +
    "finalization batch skipped") {
    // r19: stream_joined disables no-data micro-batches (the inner
    // interval join emits every match in the data batch; the empty
    // finalization batch only trims state, at full per-partition
    // state-store commit cost × 4 stores). This pins output equality
    // against the batch formulation AND that the skip-conf is restored.
    val before = spark.conf
      .getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    val streamed = Streaming.stream_joined(spark, sf0001)
    val e = Tables.load(spark, sf0001, "events")
    val a = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"))
    val batch = a.join(b, col("user_id") === col("b_user") &&
        col("buy_ts") > col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("buy_ts").cast("timestamp_ntz").as("buy_ts"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty)
    assert(spark.conf
      .getOption("spark.sql.streaming.noDataMicroBatches.enabled") == before,
      "stream_joined leaked its no-data-batch conf")
    Streaming.dropSinkTables(spark)
  }

  test("checkpoint base: /dev/shm only under a local master, conf " +
    "override always wins") {
    // r18 verdict ask #7: a bare local path on a multi-node cluster
    // would give each executor a private state dir — silently wrong
    // state, worse than lost fault tolerance. The decision is gated on
    // sparkContext.isLocal; the conf override is absolute.
    val shm = java.nio.file.Paths.get("/dev/shm")
    assert(spark.sparkContext.isLocal)
    if (java.nio.file.Files.isWritable(shm))
      assert(Streaming.checkpointBase(spark) == shm)
    val over = java.nio.file.Files.createTempDirectory("ckpt-over")
    spark.conf.set("spark.graft.stream.checkpointBase", over.toString)
    try assert(Streaming.checkpointBase(spark) == over)
    finally spark.conf.unset("spark.graft.stream.checkpointBase")
  }

  test("hour window counts equal the batch equivalent") {
    val streamed = Streaming.stream_hour_counts(spark, sf0001)
    val batch = Tables.load(spark, sf0001, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("timestamp_ntz").as("h"),
        col("event_type"), col("cnt"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty)
  }

  test("session windows: totals partition all events") {
    val total = Tables.load(spark, sf0001, "events").count()
    val sessions = Streaming.stream_sessions(spark, sf0001)
    val inSessions = sessions
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(inSessions == total)
    // session bounds sane: start < end, gap rule respected within a user
    val rows = sessions.collect()
    assert(rows.forall(r =>
      r.getAs[java.time.LocalDateTime]("session_start")
        .isBefore(r.getAs[java.time.LocalDateTime]("session_end"))))
  }

  test("append mode emits exactly the watermark-closed windows") {
    val events = Tables.load(spark, sf0001, "events")
    val wm = events.agg(max(col("ts"))).head.getTimestamp(0).toInstant
      .minusSeconds(3600)
    val batchClosed = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("window.end").cast("timestamp") <= lit(java.sql.Timestamp.from(wm)))
      .select(col("window.start").cast("timestamp_ntz").as("h"),
        col("event_type"), col("cnt"))
    val streamed = Streaming.stream_append(spark, sf0001)
    assert(streamed.count() == batchClosed.count())
    assert(streamed.exceptAll(batchClosed).isEmpty)
  }

  test("append mode: emit-once and state eviction across AvailableNow restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("append-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("append-ckpt").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def writeHours(hours: Seq[Int]): Unit =
      hours.flatMap(h => Seq(0, 30).map(m =>
        (java.sql.Timestamp.from(base.plusSeconds(h * 3600L + m * 60L)), "a")))
        .toDF("ts", "k").coalesce(1)
        .write.mode("append").parquet(src)

    val emitted = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var lastStateRows = -1L
    def runOnce(): Unit = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType)))
      val agg = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").cast("string").as("h"), col("cnt"))
      val q = agg.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()
      q.awaitTermination()
      lastStateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
        .lastOption.getOrElse(-1L)
    }

    // run 1: hours 0-2 → watermark 01:30 → only window [00,01) is closed
    writeHours(0 to 2)
    runOnce()
    val afterRun1 = emitted.toList
    // run 2 (restart from the same checkpoint): hours 5-6 → watermark
    // 05:30 → windows [01,02), [02,03) close; [05,06), [06,07) withheld
    writeHours(5 to 6)
    runOnce()
    val afterRun2 = emitted.toList

    def hoursOf(rows: List[(String, Long)]): Set[String] = rows.map(_._1).toSet
    assert(afterRun1.nonEmpty,
      "AvailableNow must flush windows closed by the final watermark")
    assert(hoursOf(afterRun1) == Set("2024-01-01 00:00:00"))
    // emit-once across restarts: no window appears twice
    assert(afterRun2.map(_._1).distinct.size == afterRun2.size)
    assert(hoursOf(afterRun2) ==
      Set("2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-01 02:00:00"))
    assert(afterRun2.forall(_._2 == 2L), "each window holds its 2 events")
    // eviction proof: 5 distinct windows existed, 3 were emitted+evicted,
    // so the store holds only the 2 still-open windows after run 2
    assert(lastStateRows == 2L,
      s"state should hold only open windows, got $lastStateRows")
  }

  test("bounded dedup equals batch distinct keys on the replay") {
    val streamed = Streaming.stream_dedup_bounded(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = Tables.load(spark, sf0001, "events")
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(streamed.length == batch.length)
    assert(streamed.toSet == batch.toSet)
  }

  test("dropDuplicatesWithinWatermark: state expires and re-admits across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("ddw-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ddw-ckpt").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def write(rows: Seq[(Int, String)]): Unit = // (minutesFromBase, key)
      rows.map { case (m, k) =>
        (java.sql.Timestamp.from(base.plusSeconds(m * 60L)), k)
      }.toDF("ts", "k").coalesce(1).write.mode("append").parquet(src)

    val emitted = new scala.collection.mutable.ArrayBuffer[String]()
    var lastStateRows = -1L
    def runOnce(): Unit = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType)))
      val dd = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("k")
        .select(col("k"))
      val q = dd.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(_.getString(0))
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()
      q.awaitTermination()
      lastStateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal))
        .lastOption.getOrElse(-1L)
    }

    // run 1: a, b at 00:00 and an in-batch duplicate a at 00:10 —
    // the duplicate is dropped, keys emitted once each
    write(Seq((0, "a"), (0, "b"), (10, "a")))
    runOnce()
    assert(emitted.sorted.toList == List("a", "b"))

    // run 2 (same checkpoint): new key x at 05:00 → watermark advances
    // to 04:00, far past a/b's expiry (event time + 1h delay = 01:10)
    // → their state rows are EVICTED; only x's row remains
    write(Seq((300, "x")))
    runOnce()
    assert(emitted.sorted.toList == List("a", "b", "x"))
    assert(lastStateRows == 1L,
      s"expired keys must leave the store, got $lastStateRows rows")

    // run 3: a returns at 05:30 — its old state is gone, so it is
    // RE-ADMITTED (the semantics that make the state bounded: a key
    // suppresses duplicates only within the watermark, not forever)
    write(Seq((330, "a")))
    runOnce()
    assert(emitted.sorted.toList == List("a", "a", "b", "x"))
  }

  test("bounded sessions equal the unbounded state machine on the replay") {
    val bounded = Streaming.stream_state_sessions_bounded(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val unbounded = Streaming.stream_state_sessions(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bounded.toSeq == unbounded.toSeq)
  }

  test("bounded sessions: idle-user state EVICTS and a returning user " +
      "RE-ADMITS across AvailableNow restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("bss-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bss-ckpt").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def write(rows: Seq[(Long, Int)]): Unit = // (user, minutesFromBase)
      rows.map { case (u, m) =>
        (u, java.sql.Timestamp.from(base.plusSeconds(m * 60L)))
      }.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(src)

    val emitted = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var lastStateRows = -1L
    def runOnce(): Unit = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val counts = Streaming.boundedSessionCounts(spark,
        spark.readStream.schema(schema).parquet(src)
          .withWatermark("ts", "2 hours"))
      val q = counts.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()
      q.awaitTermination()
      lastStateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal))
        .lastOption.getOrElse(-1L)
    }

    // run 1: user 1 with a 30-min-gap rule → 2 sessions (00:00 block,
    // then 01:00 after a 45-min gap); user 2 one session
    write(Seq((1L, 0), (1L, 15), (1L, 60), (2L, 0)))
    runOnce()
    assert(emitted.toSet == Set((1L, 2L), (2L, 1L)), emitted)
    assert(lastStateRows == 2L, s"state rows: $lastStateRows")

    // run 2 (same checkpoint): user 3 at 08:00 → watermark 06:00, far
    // past both users' idle horizon (last event + 2 h ≤ 03:00) → their
    // state rows EVICT (timeout fires, final counts re-emitted once)
    emitted.clear()
    write(Seq((3L, 480)))
    runOnce()
    assert(emitted.toSet == Set((1L, 2L), (2L, 1L), (3L, 1L)), emitted)
    assert(lastStateRows == 1L,
      s"idle users must leave the store, got $lastStateRows rows")

    // run 3: user 1 returns at 09:00 — old state is gone, so the count
    // RESTARTS at 1 (the bounded-state contract: per-key state lives
    // only inside the idle horizon, not forever)
    emitted.clear()
    write(Seq((1L, 540)))
    runOnce()
    assert(emitted.toSet == Set((1L, 1L)), emitted)
  }

  test("stateful keys run byte-identical under the RocksDB state store, " +
      "and the provider verifiably engages") {
    // at real stream scale state must spill off-heap: the declared
    // stateful keys' outputs must not depend on the state store
    // implementation (r17 verdict ask #3)
    val keys = Seq("stream_state_sessions", "stream_state_sessions_bounded",
      "stream_funnel", "stream_dedup_bounded")
    def snap(k: String): Seq[String] = {
      val rows = Streaming.queries(k)(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq
      Streaming.dropSinkTables(spark)
      assert(rows.nonEmpty, k)
      rows
    }
    val base = keys.map(k => k -> snap(k)).toMap
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    try {
      spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      keys.foreach(k => assert(snap(k) == base(k), s"$k diverged"))

      // engaged, not just configured: a directly-driven stateful query
      // reports rocksdb* custom metrics on its state operator
      import spark.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val src = java.nio.file.Files.createTempDirectory("rdb-src").toString
      val base0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
      Seq((1L, 0), (1L, 15), (2L, 0)).map { case (u, m) =>
        (u, java.sql.Timestamp.from(base0.plusSeconds(m * 60L)))
      }.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(src)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val counts = Streaming.boundedSessionCounts(spark,
        spark.readStream.schema(schema).parquet(src)
          .withWatermark("ts", "2 hours"))
      val q = counts.writeStream.format("memory")
        .queryName("rocksdb_probe_tbl").outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val metricKeys = q.recentProgress.flatMap(_.stateOperators).flatMap {
        so =>
          import scala.jdk.CollectionConverters._
          so.customMetrics.keySet.asScala
      }.toSet
      spark.catalog.dropTempView("rocksdb_probe_tbl")
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"RocksDB provider did not engage; metrics: $metricKeys")
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  test("streaming ingest dedup equals batch distinct-text set") {
    val streamed = Streaming.stream_dedup(spark, sf0001)
      .collect().map(_.getString(0))
    val batch = Tables.load(spark, sf0001, "documents")
      .select("text").distinct().collect().map(_.getString(0))
    assert(streamed.length == batch.length)
    assert(streamed.toSet == batch.toSet)
    assert(streamed.sorted.sameElements(streamed), "output is sorted")
  }

  test("streaming sources read directory-layout tables (canary corpus shape)") {
    // CanaryGen (and any Spark job at real scale) writes <table>.parquet
    // as a DIRECTORY of part files; the r7 canary silently streamed zero
    // rows because the source glob assumed the single-file layout.
    val out = java.nio.file.Files.createTempDirectory("stream-dirlayout").toString
    spark.read.parquet(s"$sf0001/events.parquet")
      .write.parquet(s"$out/events.parquet")
    spark.read.parquet(s"$sf0001/documents.parquet")
      .write.parquet(s"$out/documents.parquet")
    val fromFile = Streaming.stream_hour_counts(spark, sf0001).collect()
    assert(fromFile.nonEmpty)
    Streaming.dropSinkTables(spark)
    val fromDir = Streaming.stream_hour_counts(spark, out).collect()
    assert(fromDir.length == fromFile.length)
    assert(fromDir.map(_.toString).sorted.sameElements(
      fromFile.map(_.toString).sorted))
    Streaming.dropSinkTables(spark)
    val dedupRows = Streaming.stream_dedup(spark, out).count()
    val batchDistinct = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").distinct().count()
    assert(dedupRows == batchDistinct && dedupRows > 0)
    Streaming.dropSinkTables(spark)
  }

  test("stream-static decontam equals the batch decontam result") {
    val streamed = Streaming.stream_decontam(spark, sf0001)
    val rows = streamed.collect()
    assert(rows.nonEmpty, "decontam stream must be non-vacuous at sf0.001")
    val batch = TextOps.pipeline_decontam(spark, sf0001).collect()
    assert(rows.map(_.toString).sorted.sameElements(
      batch.map(_.toString).sorted))
    Streaming.dropSinkTables(spark)
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = Streaming.stream_joined(spark, sf0001).collect()
    assert(streamed.nonEmpty, "interval join must be non-vacuous at sf0.001")
    val e = Tables.load(spark, sf0001, "events")
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"))
    val batch = v.join(b, col("user_id") === col("b_user") &&
        col("buy_ts") > col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_ts").cast("timestamp_ntz"),
        col("buy_ts").cast("timestamp_ntz"))
      .collect()
    assert(streamed.map(_.toString).sorted.sameElements(
      batch.map(_.toString).sorted))
    Streaming.dropSinkTables(spark)
  }

  test("stateful session count equals session-window session count") {
    val byState = Streaming.stream_state_sessions(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byWindow = Streaming.stream_sessions(spark, sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byState == byWindow)
  }

  test("stateful streaming funnel equals the batch window funnel") {
    // the monotone per-user state machine and the batch running-flag
    // windows must agree on every ordered-stage count
    val streamed = Streaming.stream_funnel(spark, sf0001).collect()
    val batch = Relational.q29_funnel(spark, sf0001).collect()
    assert(streamed.length == 1 && batch.length == 1)
    assert(streamed.head.toSeq == batch.head.toSeq,
      s"stream=${streamed.head} batch=${batch.head}")
    // sanity: the funnel is strictly ordered, so each stage count is
    // bounded by the previous one (and by the user count)
    val Seq(n, s1, s2, s3) = streamed.head.toSeq.map(_.asInstanceOf[Long])
    assert(n >= s1 && s1 >= s2 && s2 >= s3 && s3 >= 0)
  }
}
