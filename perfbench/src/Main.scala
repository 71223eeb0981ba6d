package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SparkEntry, Tables}

/** One benchmark run in one JVM: set up the workload, run its ops in a
  * closed loop (one client thread) for the given seconds, check every
  * answer, and write the result JSON.
  *
  * Usage (normally through `perfbench/run.py`):
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --root CHECKOUT --t0-ms EPOCH_MS --out RESULT.json
  *   perfbench.Main --ensure-corpus CHECKOUT
  *   perfbench.Main --dump-oracle-sql FILE
  *   perfbench.Main --cds-train SCRATCH_DIR
  */
object Main {
  private val WarmRounds = 3
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("dump-oracle-sql")) dumpOracleSql(new File(opt("dump-oracle-sql")))
    else if (opt.contains("cds-train")) cdsTrain(new File(opt("cds-train")))
    else if (opt.contains("ensure-corpus")) Corpus.ensure(corpusLayout(new File(opt("ensure-corpus"))))
    else run(opt)
  }

  private def corpusLayout(root: File) = new Corpus.Layout(new File(root, ".bench_build/corpus"))

  private def session(k: Int, scratch: File): SparkSession =
    Tables.sessionDefaults(SparkSession.builder())
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .config("spark.graft.stream.checkpointBase", new File(scratch, "checkpoints").getPath)
      .getOrCreate()

  /** A short session whose loaded classes `build.py` records in the
    * class-data-sharing archive: a parquet scan, a FITS write and read,
    * and a shuffle. */
  private def cdsTrain(scratch: File): Unit = {
    val spark = session(2, scratch)
    import org.apache.spark.sql.functions._
    val dir = new File(scratch, "train.fits").getPath
    spark.range(1000).selectExpr("id", "cast(id as double) as x", "cast(id as string) as s")
      .write.format("fits").mode("overwrite").save(dir)
    spark.read.format("fits").option("hdu", "1").load(dir)
      .groupBy(col("id") % 7).agg(sum("x"), max(length(col("s")))).collect()
    spark.stop()
  }

  /** Writes the oracle SQL of the probe's query keys for `oracle.py`. */
  private def dumpOracleSql(f: File): Unit = Json.writeFile(f, Json.obj(
    "oracle" -> Json.obj(QueryKeys.Keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)): _*),
    "approx" -> QueryKeys.Keys.filter(SparkEntry.approxKeys)))

  private def run(opt: Map[String, String]): Unit = {
    val name = opt("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = new File(opt("root"))
    val t0Ms = opt("t0-ms").toLong
    val k = Runtime.getRuntime.availableProcessors
    val loadBefore = loadAvg
    val build = new File(root, ".bench_build")
    val scratch = new File(build, "scratch")

    val spark = session(k, scratch)
    spark.sparkContext.setLogLevel("WARN")
    val bootS = (System.currentTimeMillis() - t0Ms) / 1e3

    val tracer = new Tracer
    val env = new Env(spark, corpusLayout(root), scratch,
      new File(root, "perfbench"), tracer, k)
    val wl = Workload(name, env)
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0L

    // Set-up: the input check three times (run.py generated the corpus,
    // if it was missing, before the clock started), then WarmRounds
    // rounds of one warm-up op of every kind, each answer checked;
    // setup_s = boot + the median check + warm-up. The first ops of a
    // JVM run up to 1.5x slower while the JIT compiles Spark's and the
    // reader's hot paths; three rounds take a run past most of that.
    var imageShas = Map.empty[String, String]
    val checks = (1 to 3).map(_ => timeS {
      imageShas = Corpus.check(env.layout).getOrElse(sys.error("the corpus is missing or damaged"))
    })
    val warmRng = new Random(seed * 1000003L + 17)
    val warmS = timeS {
      for (_ <- 1 to WarmRounds; kind <- wl.kinds) {
        val call = wl.draw(kind, warmRng)
        attempted += 1
        try call.check(call.run()).foreach(errors += _)
        catch { case e: Throwable => errors += s"$kind: $e" }
      }
    }
    val setupS = bootS + warmS + Stats.median(checks)

    // Closed loop: one client, the next op starts when the last ends.
    // In a traced run every second op is traced, so the untraced half
    // gives the tracing overhead under the same conditions.
    val counters = new SparkCounters(spark, tracer)
    counters.start()
    val compile0 = CodeGenerator.compileTime
    val rng = new Random(seed)
    final case class Done(kind: String, ms: Double, cpuMs: Double, traced: Boolean,
        bytes: Double)
    val done = mutable.ArrayBuffer[Done]()
    val sc = spark.sparkContext
    // Ops come in rounds, each a seeded shuffle of every kind once, so
    // every seed runs the same mix and only the parameters differ.
    var round = Iterator.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || done.size < wl.kinds.size) {
      val id = done.size + 1L
      if (!round.hasNext) round = rng.shuffle(wl.kinds).iterator
      val kind = round.next()
      val call = wl.draw(kind, rng)
      val traced = trace && id % 2 == 0
      tracer.enabled = traced
      tracer.op = id
      sc.setLocalProperty(SparkCounters.OpKey, id.toString)
      val c0 = cpuNs
      val t0 = System.nanoTime()
      val result = try Right(tracer.span(s"op.$kind")(call.run()))
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (cpuNs - c0) / 1e6
      tracer.enabled = false
      sc.setLocalProperty(SparkCounters.OpKey, null)
      attempted += 1
      val err = result match {
        case Right(r) => call.check(r)
        case Left(e) => Some(s"$kind: $e")
      }
      err.foreach(errors += _)
      done += Done(kind, ms, cpuMs, traced, if (err.isEmpty) call.bytes.toDouble else 0.0)
    }
    counters.stop()
    val compileMs = (CodeGenerator.compileTime - compile0) / 1e6

    // Kind-balanced statistics: each op weighs 1 / (ops of its kind), so
    // every kind counts equally however many rounds the run completed.
    def balancedQuantile(ds: Iterable[Done], q: Double): Double = {
      val perKind = ds.groupBy(_.kind).view.mapValues(_.size.toDouble).toMap
      Stats.weightedQuantile(ds.map(d => (d.ms, 1.0 / perKind(d.kind))).toSeq, q)
    }
    def kindMean(f: Done => Double): Double = {
      val byKind = done.groupBy(_.kind).values
      byKind.map(ds => ds.map(f).sum / ds.size).sum / byKind.size
    }
    val lat = done.map(_.ms).toSeq
    val n = done.size.toDouble
    val p90 = balancedQuantile(done, 0.9)
    val cpuPerOp = kindMean(_.cpuMs)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!trace) {
      System.gc()
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      val meanMs = kindMean(_.ms)
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_ms") = (balancedQuantile(done, 0.5), "ms")
      metrics("op_p90_ms") = (p90, "ms")
      metrics("ops_per_s") = (1e3 / meanMs, "1/s")
      metrics("scan_mb_s") = (kindMean(_.bytes) / 1e6 / (meanMs / 1e3), "MB/s")
      metrics("cpu_ms_per_op") = (cpuPerOp, "ms")
      metrics("live_heap_mb") = (heapMb, "MB")
    } else {
      val (on, off) = done.partition(_.traced)
      metrics("trace.overhead_pct") =
        (100 * (balancedQuantile(on, 0.5) / balancedQuantile(off, 0.5) - 1), "%")
      metrics("sql.analysis_ms") = (counters.analysisMs / n, "ms")
      metrics("sql.optimization_ms") = (counters.optimizationMs / n, "ms")
      metrics("sql.planning_ms") = (counters.planningMs / n, "ms")
      metrics("sql.codegen_ms") = (compileMs / n, "ms")
      metrics("exec.cpu_ms") = (counters.cpuNs / 1e6 / n, "ms")
      metrics("exec.run_ms") = (counters.runMs / n, "ms")
      metrics("exec.gc_ms") = (counters.gcMs / n, "ms")
      metrics("exec.task_wait_ms") = (counters.waitMs / n, "ms")
      metrics("exec.input_mb") = (counters.inputB / 1e6 / n, "MB")
      metrics("exec.shuffle_read_mb") = (counters.shufReadB / 1e6 / n, "MB")
      metrics("exec.shuffle_write_mb") = (counters.shufWriteB / 1e6 / n, "MB")
      metrics("exec.jobs") = (counters.jobs / n, "count")
      metrics("exec.stages") = (counters.stages / n, "count")
      metrics("exec.tasks") = (counters.tasks / n, "count")
      val probes = new Probes(env)
      probes.run()
      attempted += probes.checks
      errors ++= probes.errors
      probes.metrics.foreach { case (key, v) => metrics(key) = (v, Units.of(key)) }
      val traces = new File(build, "traces")
      tracer.write(new File(traces, s"$name-seed$seed-spans.jsonl"),
        new File(traces, s"$name-seed$seed-self.json"))
    }

    val byKind = done.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kd, ds) =>
      kd -> Json.obj("n" -> ds.size, "p50_ms" -> Stats.median(ds.map(_.ms).toSeq))
    }
    val context = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "spark_cores" -> k, "load_before" -> loadBefore, "load_after" -> loadAvg,
      "ops" -> done.size, "ops_beyond_p90" -> lat.count(_ > p90),
      "cpu_ms_per_op" -> cpuPerOp,
      "error_rate" -> errors.size.toDouble / attempted,
      "setup" -> Json.obj("boot_s" -> bootS, "warmup_s" -> warmS, "check_s" -> checks),
      "kinds" -> Json.obj(byKind: _*),
      "image_sha256" -> imageShas,
      "errors" -> errors.take(5)): _*)
    Json.writeFile(new File(opt("out")), Json.obj(
      "correct" -> errors.isEmpty, "attempted" -> attempted, "failed" -> errors.size,
      "metrics" -> Json.obj(metrics.toSeq.map { case (key, (v, u)) =>
        key -> Json.obj("value" -> v, "unit" -> u)
      }: _*),
      "context" -> context,
      "ops" -> done.map(d => Seq(d.kind, d.ms, d.cpuMs))))
    spark.stop()
    sys.exit(0) // no lingering non-daemon thread may hold the JVM open
  }
}

object Units {
  def of(metric: String): String = metric match {
    case m if m.contains("_mb_s") => "MB/s"
    case m if m.endsWith("per_s") => "1/s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.contains("ratio") || m.contains("eff") || m.contains("per_user_byte") => "ratio"
    case _ => "count"
  }
}
