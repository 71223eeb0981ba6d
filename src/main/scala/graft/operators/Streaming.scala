package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table (SURVEY B24).
  *
  * Each query replays the events parquet as a file stream with
  * `Trigger.AvailableNow`, runs a genuinely streaming plan (watermark +
  * tumbling window / session window / mapGroupsWithState), lands in a
  * memory sink, and returns the final table — so the driver's batch
  * oracle can check the result against the batch-equivalent SQL.
  *
  * Scale: event-time windows + watermarks bound state; session windows
  * and the stateful per-user path shuffle once on user_id — the same
  * plan shape a 1000-executor continuous job would run.
  */
object Streaming {

  type Q = (SparkSession, String) => DataFrame

  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The file stream source wants a directory, and `<table>.parquet`
    * under a scale-factor dir can be either a plain file (TESTDATA
    * layout) or a Spark-written directory of `part-*.parquet` files
    * (CanaryGen layout, and any Hadoop-FS dataset at real scale). A
    * glob that assumes one layout silently streams ZERO files on the
    * other — the r7 canary ran every streaming query over an empty
    * source without failing. Resolve the layout through the Hadoop
    * FileSystem and aim the source accordingly. */
  private def streamTable(s: SparkSession, dir: String, table: String,
      schema: StructType, oneBatch: Boolean = false): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    var rdr = s.readStream.schema(schema)
    // oneBatch: replay the whole source in ONE data micro-batch (the
    // file source otherwise chunks at maxFilesPerTrigger=1000). For the
    // stream-stream join this is a correctness guard, not just speed:
    // watermarks only advance BETWEEN batches, so a single-batch replay
    // can never drop late rows however disordered the file listing is —
    // the batch-oracle equivalence holds unconditionally.
    if (oneBatch) rdr = rdr.option("maxFilesPerTrigger", Int.MaxValue.toString)
    if (fs.getFileStatus(path).isDirectory)
      rdr.option("pathGlobFilter", "*.parquet").parquet(path.toString)
    else
      rdr.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** events replayed as a file stream, `ts` normalized to TimestampType.
    *
    * The file source takes a DECLARED schema — it never looks at the
    * parquet footer's logical type, so a schema hard-coded to one
    * timestamp layout silently misreads the other (a LongType
    * declaration over µs TIMESTAMP files reads the raw int64 µs values
    * as "nanos" without any error — event time compressed 1000×).
    * Resolve the unit ONCE, driver-side, with a batch footer probe of
    * the same path, declare the stream schema to match, and normalize
    * exactly as [[graft.Tables]] does for batch:
    *   LongType → nanos-as-long, floor-divide to µs;
    *   TimestampNTZ → cast to session-TZ TimestampType;
    *   TimestampType → pass through.
    * The probe is one metadata read per query start — nothing per-batch. */
  private def eventsStream(s: SparkSession, dir: String,
      oneBatch: Boolean = false): DataFrame = {
    // footer probe through the session-scoped resolved-table memo — a
    // fresh spark.read.parquet here cost ~65 ms per streaming key
    val tsType = graft.Tables.eventsRaw(s, dir).schema("ts").dataType
    val raw = streamTable(s, dir, "events", eventsSchema(tsType), oneBatch)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalArgumentException(
        s"events.ts loaded as unsupported type $other — expected a " +
          "timestamp (µs layout) or long (nanos-as-long layout)")
    }
  }

  /** State-partition count for the bounded replays —
    * `spark.graft.stream.statePartitions`, default 8: a continuous job
    * sizes state partitions to its state volume, and at the declared
    * scale factors the state is KB-to-MB sized — inheriting the
    * relational default of 32 pays 4 state-store maintenance cycles
    * per partition per batch for stores that hold almost nothing
    * (measured 40-55% of several keys' wall time, r17; 16 and 32
    * re-measured worse in r18, 4 re-measured ≈ flat-to-worse in r19).
    * A production deployment sets the knob to its state volume. A
    * value that is not a positive integer fails here, naming the key,
    * before the replay starts. */
  private def statePartitions(s: SparkSession): Int = {
    val key = "spark.graft.stream.statePartitions"
    s.conf.getOption(key).fold(8) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$key must be a positive integer, got '$v'"))
    }
  }

  /** Runs `f` with the session's shuffle-partition count (= stateful
    * operators' state-partition count, fixed at first checkpoint)
    * temporarily set to `n`, restoring the old value after. Conf
    * mutation is visible session-wide while `f` runs; the declared
    * queries execute sequentially (Bench/Verify), so this is safe
    * there. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, old)
  }

  /** Runs `f` with no-data micro-batches disabled, restoring after.
    * Streaming queries here execute eagerly inside runToTable, so the
    * scope is exact — unlike the batch keys, whose conf would leak.
    *
    * Where it applies (guide §5, r18 verdict ask #6): an AvailableNow
    * replay appends one EMPTY finalization batch after the data, whose
    * only job is to advance the watermark — emit append-mode aggregate
    * results and evict state. A stateful op that emits NOTHING on
    * watermark advance (the stream-stream INNER join: matches emit in
    * the batch the later row arrives, the watermark only trims state)
    * pays that batch's full per-partition state-store commit cycle —
    * stream_joined: 8 partitions × 4 stores — for zero output rows.
    * NOT applicable to append-mode aggregations (stream_append emits
    * windows only when the watermark passes: the final batch IS the
    * output) or to event-time-timeout state machines
    * (stream_state_sessions_bounded evicts in that batch). */
  private def withoutNoDataBatches[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = s.conf.getOption(key)
    s.conf.set(key, "false")
    try f finally old match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Checkpoint base for the bounded replays (guide §6: I/O placement).
    * Every micro-batch pays offset-WAL + commit-log + state-store
    * delta-file writes with fsyncs into the checkpoint dir; on this
    * host java.io.tmpdir is a VM ext4 disk, so a 2-4 batch replay
    * spends a measurable slice of its wall time in checkpoint I/O.
    * These declared keys are bounded AvailableNow REPLAYS whose
    * checkpoints are ALWAYS ephemeral by design (fresh dir per start,
    * deleted on completion — runToTable passes an explicit per-run
    * checkpointLocation, so durable/resumable checkpointing is
    * deliberately unreachable through this path), so RAM-backed
    * scratch is the right default where available — but ONLY under a
    * local master (r18 verdict ask #7): on a multi-node cluster a bare
    * local path would give each executor its own private state dir —
    * worse than lost fault tolerance, silently wrong state. Non-local
    * masters fall back to java.io.tmpdir unless
    * `spark.graft.stream.checkpointBase` (a shared filesystem there)
    * explicitly opts in. */
  private[operators] def checkpointBase(s: SparkSession): java.nio.file.Path = {
    val conf = s.conf.getOption("spark.graft.stream.checkpointBase")
    val base = conf.map(java.nio.file.Paths.get(_)).orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (s.sparkContext.isLocal && java.nio.file.Files.isWritable(shm))
        Some(shm)
      else None
    }.getOrElse(java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(base)
    base
  }

  /** Deletes a checkpoint tree, children before parents, CLOSING the
    * directory stream (an unclosed Files.walk leaks a directory fd per
    * streaming-query run until GC — r18 advice). */
  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toList.reverseIterator
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Longest [[runToTable]] waits for a replay to drain its input. */
  val ReplayTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(30, "minutes")

  /** Runs a streaming frame to completion into a memory sink. A replay
    * still running after `timeout` is stopped, and fails naming its
    * query. */
  private[operators] def runToTable(s: SparkSession, out: DataFrame,
      name: String, mode: String,
      timeout: scala.concurrent.duration.FiniteDuration = ReplayTimeout)
      : DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(
      checkpointBase(s), s"graft-ckpt-$name-")
    try {
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(mode).option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      if (!q.awaitTermination(timeout.toMillis)) {
        q.stop()
        throw new java.util.concurrent.TimeoutException(
          s"streaming replay '$name' did not finish within $timeout")
      }
      if (sys.env.contains("GRAFT_STREAM_DEBUG"))
        q.recentProgress.foreach(p => System.err.println(
          s"[stream-debug] $name batch=${p.batchId} rows=${p.numInputRows} " +
            s"ms=${p.batchDuration} ${p.durationMs}"))
      s.table(name)
    } finally {
      // replay checkpoints are single-use: a later invocation resuming
      // stale offsets would skip its input, so the dir must not outlive
      // the query (also keeps /dev/shm from accumulating state files)
      deleteTree(ckpt)
    }
  }

  private val sinkTableNames = Seq(
    "stream_hour_counts_tbl", "stream_sliding_tbl", "stream_sessions_tbl",
    "stream_state_sessions_tbl", "stream_state_sessions_bounded_tbl",
    "stream_append_tbl", "stream_dedup_tbl",
    "stream_dedup_bounded_tbl", "stream_decontam_tbl", "stream_joined_tbl",
    "stream_funnel_tbl", "stream_fits_ingest_tbl")

  /** Memory-sink tables hold their full result in the driver for the
    * session's life; a long multi-query session (the bench) must drop
    * them once consumed or they accumulate as permanent heap residue. */
  def dropSinkTables(s: SparkSession): Unit =
    sinkTableNames.foreach(s.catalog.dropTempView)

  /** FITS alert-stream ingestion at the driver surface: a FITS copy of
    * `events` (the connector's own writer, 8 part files) consumed
    * through the connector's micro-batch streaming source in bounded
    * batches (`maxFilesPerTrigger` 2 → admission-controlled batches),
    * windowed per hour × event_type, hash-oracled against the batch SQL
    * over the parquet original. Complete output mode makes the final
    * aggregate independent of batch boundaries, so the oracle
    * equivalence is unconditional. Gates the streaming DSv2 read path —
    * offset tracking, admission control, per-file partition planning —
    * end-to-end (previously ScalaTest-only, FitsStreamSpec). This is
    * the reference domain's core streaming shape: alert exposures land
    * as FITS files, downstream watermarked aggregations consume them
    * incrementally. */
  val stream_fits_ingest: Q = (s, dir) => {
    val staged = Relational.fitsScratch(s, dir, "sfits")
    graft.Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .repartition(8)
      .write.format("fits").mode("overwrite").save(staged)
    // maxFilesPerTrigger 4 over the 8 staged part files → TWO data
    // micro-batches: still a genuine multi-batch admission-controlled
    // replay (offsets advance between batches, which is what this key
    // gates end-to-end), but half the per-batch machinery cost
    // (measured ~0.4-0.6 s/batch at sf0.1 — ProfileQuery, r18 opt
    // round; was 2 → four batches). Complete output mode makes the
    // final aggregate independent of the batch count, so the declared
    // result is bitwise unchanged.
    val agg = s.readStream.format("fits")
      .option("hdu", 1).option("maxFilesPerTrigger", 4)
      .load(staged)
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("sum_id"))
    withShufflePartitions(s, statePartitions(s)) {
      runToTable(s, agg, "stream_fits_ingest_tbl", "complete")
        .select(col("window.start").cast("timestamp_ntz").as("h"),
          col("event_type"), col("cnt"), col("sum_id"))
        .orderBy(col("h"), col("event_type"))
    }
  }

  /** Tumbling 1-hour windows × event_type with a 1-hour watermark. */
  val stream_hour_counts: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToTable(s, agg, "stream_hour_counts_tbl", "complete")
      .select(col("window.start").cast("timestamp_ntz").as("h"),
        col("event_type"), col("cnt"))
      .orderBy(col("h"), col("event_type"))
  }

  /** Sliding 1-hour windows every 30 minutes (each event lands in
    * exactly two windows). */
  val stream_sliding: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToTable(s, agg, "stream_sliding_tbl", "complete")
      .select(col("window.start").cast("timestamp_ntz").as("h"),
        col("event_type"), col("cnt"))
      .orderBy(col("h"), col("event_type"))
  }

  /** Session windows (30-minute gap) per user. */
  val stream_sessions: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(s, agg, "stream_sessions_tbl", "complete")
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Tumbling windows in APPEND mode: a window row is emitted exactly
    * once, when the watermark passes its end, and its state is evicted
    * — the only mode whose state is bounded on an unbounded stream
    * (`complete` retains every group forever; the other queries here
    * use it because an AvailableNow replay IS bounded). The final
    * watermark of the replay is max(ts) − 1 hour, so windows ending
    * after it are (deterministically) withheld — mirrored in the
    * oracle's HAVING clause. Cross-restart eviction is proven in
    * StreamingSpec ("append mode ... across restarts"). */
  val stream_append: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToTable(s, agg, "stream_append_tbl", "append")
      .select(col("window.start").cast("timestamp_ntz").as("h"),
        col("event_type"), col("cnt"))
      .orderBy(col("h"), col("event_type"))
  }

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming-ingest exact dedup: documents deduplicated BY CONTENT as
    * they arrive — the pipeline shape of "never admit a duplicate into
    * the training corpus", with one state row per distinct text rather
    * than a post-hoc batch pass over everything ever ingested. Output
    * is the distinct text set (arrival-order-free, so the replay is
    * deterministic and oracle-safe). On a truly unbounded stream the
    * same plan runs as `dropDuplicatesWithinWatermark` so state expires
    * with the watermark; the replay here is bounded, like the other
    * AvailableNow queries. */
  val stream_dedup: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    val docs = streamTable(s, dir, "documents", documentsSchema)
    val distinct = docs.dropDuplicates("text").select(col("text"))
    runToTable(s, distinct, "stream_dedup_tbl", "append")
      .orderBy(col("text"))
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * keeps one state row per key only until the watermark passes its
    * event time + delay — the production form of stream_dedup for a
    * truly unbounded stream, where plain dropDuplicates would grow
    * state forever. Keys here are (user_id, event_type) over the
    * events stream (the table with event time). The AvailableNow
    * replay ingests the single parquet file as one micro-batch, so no
    * state expires mid-replay and the result equals DISTINCT — which
    * is what makes this oracle-checkable; cross-restart expiry and
    * re-admission are proven in StreamingSpec. */
  val stream_dedup_bounded: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    val dd = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToTable(s, dd, "stream_dedup_bounded_tbl", "append")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Custom state machine via mapGroupsWithState: per-user session
    * count with a 30-minute gap rule. */
  val stream_state_sessions: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    import s.implicits._
    val gapMicros = 30L * 60 * 1000 * 1000
    val typed = eventsStream(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
    val counted = typed
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long)](
        GroupStateTimeout.NoTimeout) {
        case (user, events, state: GroupState[(Long, Long)]) =>
          // state = (sessionCount, lastTsMicros)
          val sorted = events.map(_._2).toArray.sorted
          var (sessions, last) = state.getOption.getOrElse((0L, Long.MinValue))
          sorted.foreach { t =>
            if (last == Long.MinValue || t - last > gapMicros) sessions += 1
            last = t
          }
          state.update((sessions, last))
          (user, sessions)
      }
    runToTable(s, counted.toDF("user_id", "n_sessions"),
      "stream_state_sessions_tbl", "update")
      .orderBy(col("user_id"))
  }

  /** Bounded-state form of [[stream_state_sessions]] (r16 verdict ask
    * #6): same session counting, but the state machine registers an
    * EventTimeTimeout two hours past each user's last event — when the
    * watermark passes it, the timeout fires, the user's final count is
    * emitted once more and the state row is REMOVED. On a true stream
    * the keyspace no longer grows with all-time users, only with users
    * active inside the idle horizon; a returning user re-admits with a
    * fresh count (semantics change vs the unbounded key, which is why
    * this is its own key, not a swap). Eviction + re-admission across
    * AvailableNow restarts are proven in StreamingSpec. The declared
    * replay ingests one micro-batch — no watermark passes mid-replay,
    * so the oracle is the unbounded key's. */
  val stream_state_sessions_bounded: Q = (s, dir) =>
    withShufflePartitions(s, statePartitions(s)) {
    // oneBatch: the oracle equivalence REQUIRES a single-micro-batch
    // replay (eviction mid-replay would make max()-compaction
    // undercount a re-admitted user) — enforce it like stream_joined
    // does instead of relying on the file count staying under the
    // source's default chunking
    val counted = boundedSessionCounts(s,
      eventsStream(s, dir, oneBatch = true).withWatermark("ts", "2 hours"))
    // AvailableNow runs a final batch after the watermark commits, so
    // evicting users re-emit their settled count — an update-mode
    // memory sink APPENDS updates, and the reader compacts to the
    // latest value per key (counts are monotone within a replay, so
    // max = latest), exactly what an upsert sink does natively
    runToTable(s, counted, "stream_state_sessions_bounded_tbl", "update")
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** The bounded session state machine on a watermarked (user_id, ts)
    * stream — shared by the declared key and the StreamingSpec
    * eviction/re-admission restart proof (so the proof gates the SAME
    * transform the key runs, not a test-local copy). */
  private[operators] def boundedSessionCounts(s: SparkSession,
      events: DataFrame): DataFrame = {
    import s.implicits._
    val gapMicros = 30L * 60 * 1000 * 1000
    val idleMs = 2L * 60 * 60 * 1000
    // the watermark-tagged ts column must REACH the stateful operator
    // (Spark's checker rejects event-time timeout otherwise), so it
    // rides alongside the µs value the gap logic uses
    val typed = events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
    typed
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long)](
        GroupStateTimeout.EventTimeTimeout) {
        case (user, events, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // idle horizon passed: emit the settled count, drop the row
            val finalCount = state.get._1
            state.remove()
            (user, finalCount)
          } else {
            val sorted = events.map(_._3).toArray.sorted
            var (sessions, last) =
              state.getOption.getOrElse((0L, Long.MinValue))
            sorted.foreach { t =>
              if (last == Long.MinValue || t - last > gapMicros) sessions += 1
              last = t
            }
            state.update((sessions, last))
            // evict when the watermark passes last-event + idle horizon
            // (clamped above the current watermark: late straggler
            // batches must update state, not crash the query)
            state.setTimeoutTimestamp(math.max(last / 1000 + idleMs,
              state.getCurrentWatermarkMs() + 1))
            (user, sessions)
          }
      }
      .toDF("user_id", "n_sessions")
  }

  /** Stream–static join: documents arrive as a micro-batch stream and
    * are decontamination-checked against a STATIC benchmark suite
    * (doc_id ≡ 0 mod 97 of the same corpus, matching
    * [[TextOps.pipeline_decontam]]) — the streaming-ingest form of
    * benchmark decontamination, and the B24 surface's stream-static
    * join shape. The static side is computed once per micro-batch plan
    * and broadcast, so the unbounded stream side never shuffles for
    * the match; state is the (doc, bench) pair counts only. Shares the
    * batch key's oracle. */
  val stream_decontam: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    val bench = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"),
        explode(graft.functions.GraftFunctions
          .word_shingle_hashes(col("text"), 3)).as("h"))
    val corpus = streamTable(s, dir, "documents", documentsSchema)
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions
          .word_shingle_hashes(col("text"), 3)).as("h"))
    val hits = corpus.join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    runToTable(s, hits, "stream_decontam_tbl", "complete")
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Stream–stream interval join — the attribution shape (each view
    * joined to the same user's purchases within the following hour),
    * and the last Structured Streaming join class the surface needed:
    * BOTH sides unbounded, both watermarked, with the time-range
    * predicate that lets Spark bound each side's state (view state
    * expires 1 h + watermark past its event time). Append mode: an
    * inner interval join emits each match exactly once.
    *
    * Scale shape: one shuffle per side on user_id; state per user is
    * bounded by the interval × arrival rate, exactly the plan a
    * continuous 1000-executor attribution job runs. */
  val stream_joined: Q = (s, dir) => withShufflePartitions(s, statePartitions(s)) {
    // measured-and-rejected (r18 opt round): session-default (32)
    // state partitions for this key — the interval join's per-task CPU
    // (690 ms/task × 8, ProfileQuery) suggested spreading, but each
    // state partition pays fixed HDFSStateStore delta-file/commit cost
    // per batch × 4 stores (two sides × two batches incl. the empty
    // finalization one): best-of-3 2.60 s at 8 partitions → 7.03 s at
    // 32 (disk checkpoints) and still 5.33 s at 16 even with the
    // RAM-backed checkpoint base. The 8-partition r17 sizing stands.
    val views = eventsStream(s, dir, oneBatch = true)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val buys = eventsStream(s, dir, oneBatch = true)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "2 hours")
    val joined = views.join(buys,
      col("v_user") === col("b_user") &&
        col("buy_ts") > col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
    // inner interval joins emit every match in the data batch itself;
    // the empty finalization batch only trims state — skip it (see
    // withoutNoDataBatches; StreamingSpec pins output equality)
    withoutNoDataBatches(s) {
      runToTable(s, joined, "stream_joined_tbl", "append")
    }
      .select(col("v_user").as("user_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("buy_ts").cast("timestamp_ntz").as("buy_ts"))
      .orderBy(col("user_id"), col("view_ts"), col("buy_ts"))
  }

  /** Streaming ordered funnel via mapGroupsWithState — the stateful
    * twin of [[Relational.q29_funnel]]. State per user is three
    * MONOTONE booleans (reached signup / signup→view /
    * signup→view→purchase): constant bytes per user forever, no event
    * retention — the production funnel shape for an unbounded stream,
    * where the batch twin's per-user window sort would re-read all
    * history every run. Events fold in exact (ts, event_id) order
    * within the replay; the single-batch replay pins batch-equivalence
    * unconditionally (a multi-batch split could order a late signup
    * after a view the batch ordering puts before it — same guard as
    * stream_joined). The per-user flag rows roll up to the one-row
    * funnel on the sink table; shares q29_funnel's oracle. */
  val stream_funnel: Q = (s, dir) => {
    import s.implicits._
    val typed = eventsStream(s, dir, oneBatch = true)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
    val flags = withShufflePartitions(s, statePartitions(s)) {
      typed.groupByKey(_._1)
        .mapGroupsWithState[(Boolean, Boolean, Boolean), (Long, Int, Int, Int)](
          GroupStateTimeout.NoTimeout) {
          case (user, events, state: GroupState[(Boolean, Boolean, Boolean)]) =>
            var (sS, sSV, sSVP) =
              state.getOption.getOrElse((false, false, false))
            events.toArray.sortBy(e => (e._2, e._3)).foreach { e =>
              e._4 match {
                case "signup" => sS = true
                case "view" if sS => sSV = true
                case "purchase" if sSV => sSVP = true
                case _ =>
              }
            }
            state.update((sS, sSV, sSVP))
            (user, if (sS) 1 else 0, if (sSV) 1 else 0, if (sSVP) 1 else 0)
        }
    }
    runToTable(s, flags.toDF("user_id", "u_s", "u_sv", "u_svp"),
      "stream_funnel_tbl", "update")
      .agg(count(lit(1)).as("n_users"),
        sum(col("u_s")).cast(LongType).as("n_signup"),
        sum(col("u_sv")).cast(LongType).as("n_signup_view"),
        sum(col("u_svp")).cast(LongType).as("n_full_funnel"))
  }

  val queries: Map[String, Q] = Map(
    "stream_hour_counts" -> stream_hour_counts,
    "stream_sliding" -> stream_sliding,
    "stream_sessions" -> stream_sessions,
    "stream_state_sessions" -> stream_state_sessions,
    "stream_state_sessions_bounded" -> stream_state_sessions_bounded,
    "stream_append" -> stream_append,
    "stream_dedup" -> stream_dedup,
    "stream_dedup_bounded" -> stream_dedup_bounded,
    "stream_decontam" -> stream_decontam,
    "stream_joined" -> stream_joined,
    "stream_funnel" -> stream_funnel,
    "stream_fits_ingest" -> stream_fits_ingest,
  )

  private val sessionIslands =
    """WITH flags AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flags)""".stripMargin

  val oracles: Map[String, String] = Map(
    "stream_decontam" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS wds
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2] AS s
        |       FROM w, UNNEST(range(1, len(wds)-1)) AS t(i)),
        |hits AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS shared
        |         FROM sh c JOIN sh b ON c.s = b.s
        |         WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
        |         GROUP BY 1, 2)
        |SELECT doc_id, bench_id, shared FROM hits
        |WHERE shared >= 3 ORDER BY doc_id, bench_id""".stripMargin,
    "stream_joined" ->
      """SELECT a.user_id, a.ts AS view_ts, b.ts AS buy_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |WHERE a.event_type = 'view' AND b.event_type = 'purchase'
        |ORDER BY a.user_id, view_ts, buy_ts""".stripMargin,
    "stream_hour_counts" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h, event_type,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,
    // same hourly rollup replayed through the FITS streaming source;
    // SUM over BIGINT is HUGEINT in DuckDB → explicit cast
    "stream_fits_ingest" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h, event_type,
        |  COUNT(*) AS cnt, CAST(SUM(event_id) AS BIGINT) AS sum_id
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,
    "stream_dedup" ->
      "SELECT DISTINCT text FROM documents ORDER BY text",
    "stream_dedup_bounded" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // append emits a window only once the watermark (max ts − 1 hour)
    // passes its END; the HAVING clause mirrors that emission rule
    "stream_append" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h, event_type,
        |  COUNT(*) AS cnt
        |FROM events
        |GROUP BY h, event_type
        |HAVING h + INTERVAL 1 HOUR <= (SELECT MAX(ts) - INTERVAL 1 HOUR
        |                               FROM events)
        |ORDER BY h, event_type""".stripMargin,
    "stream_sliding" ->
      """SELECT time_bucket(INTERVAL 30 MINUTE, ts)
        |         - k.k * INTERVAL 30 MINUTE AS h,
        |  event_type, COUNT(*) AS cnt
        |FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
        |GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,
    "stream_sessions" ->
      (sessionIslands +
        """
          |SELECT user_id, MIN(ts) AS session_start,
          |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
          |  COUNT(*) AS n_events
          |FROM sessions GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin),
    "stream_state_sessions" ->
      // CAST: DuckDB's windowed SUM over integers is HUGEINT (int128);
      // the engine emits BIGINT, and the driver's hash compare includes
      // the result type — cast so both sides are canonically BIGINT.
      (sessionIslands +
        """
          |SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions
          |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin),
    // single-batch replay: no watermark passes mid-replay, so the
    // bounded state machine settles to the unbounded key's result
    "stream_state_sessions_bounded" ->
      (sessionIslands +
        """
          |SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions
          |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin),
    // identical to q29_funnel's oracle: the stateful stream and the
    // batch windows must agree on the same ordered-funnel counts
    "stream_funnel" -> Relational.oracles("q29_funnel"),
  )
}
