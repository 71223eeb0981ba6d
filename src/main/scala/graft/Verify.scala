package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** One declared query exactly as the driver harness runs it: resolved
    * through the SparkEntry.queries map and materialized to
    * `outDir/<name>` parquet. Returns (failed name, error message), None
    * on success. Factored out of main so specs can drive the SAME
    * end-to-end path on engine-side fixtures (e.g. the planted-positive
    * embedding corpus for `dedup_embed`, whose driver oracle is
    * vacuously 0==0 at the graded SFs). */
  def runOne(spark: SparkSession, name: String, sfDir: String,
      outDir: String): Option[(String, String)] =
    try {
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated key subset — the 100x planted
    // value-verification flow runs ONLY the bounded-output planted/gate
    // keys (their DuckDB oracles are cheap at any scale, unlike the full
    // sketch replays, which cap out near 10x)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet)
      else None
    only.foreach { ks =>
      val unknown = ks -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.sessionDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A subset run routes EVERYTHING — per-key dumps and both manifests,
    // under their standard names — to outDir/subset/, so a prior full
    // run's artifact set is never partially rewritten (r14 advice: the
    // old scheme renamed only the manifests to *.subset.json while the
    // per-key dumps still overwrote the full run's, leaving a
    // mixed-vintage dump directory beside a full-run manifest). The
    // subset dir is itself a complete verify-out dir: selfcheck.py and
    // planted_check.py run against it directly.
    val dumpDir = if (only.isEmpty) outDir else s"$outDir/subset"
    new java.io.File(dumpDir).mkdirs()
    // fail-loud: every failed query is recorded and forces a non-zero
    // exit AFTER all artifacts are written — a partial run can never
    // read as a clean round, but it still dumps everything it can
    val failed = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => only.forall(_.contains(k))).flatMap { name =>
      val err = runOne(spark, name, sfDir, dumpDir)
      spark.catalog.clearCache()
      operators.Streaming.dropSinkTables(spark)
      err
    }
    // Diagnostic dumps (never hash-checked): run whenever their base
    // declared key (`<base>_diag` → `<base>`) is in this run, so a red
    // declared row's artifact set carries its own diagnosis. They live
    // in a SIBLING `<dumpDir>_diag/` directory, not in the dump dir —
    // the driver (and selfcheck) enumerate top-level dump dirs as
    // declared keys, and a diag dir there would read as a phantom
    // rows-only key. Best-effort by design — a crashed diagnostic is
    // reported on stderr but must not fail the gate or land in
    // errors.json (the driver reads that file as per-DECLARED-key
    // errors).
    val diagDir = dumpDir + "_diag"
    SparkEntry.diagnostics.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val base = name.stripSuffix("_diag")
      if (only.forall(_.contains(base)))
        try {
          fn(spark, sfDir).coalesce(1).write
            .mode("overwrite").parquet(s"$diagDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] diagnostic $name failed " +
            s"(non-fatal): ${e.getMessage}")
        } finally {
          spark.catalog.clearCache()
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // Manifests carry their standard names but live in dumpDir, next to
    // the dumps they describe (full run → outDir, subset → outDir/subset)
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), json)
    // Approximate-by-design keys (r16 verdict ask #3): every declared
    // key with NO oracle must be on this list, so a reader can tell
    // "rows-only by contract" from "oracle missing by accident". The
    // invariant is enforced HERE, fail-loud, at every verify run.
    val approx = SparkEntry.approxKeys
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    require(approx == noOracle,
      s"approxKeys drift: declared-without-oracle=${(noOracle -- approx).toSeq.sorted.mkString(",")} " +
        s"approx-with-oracle-or-unknown=${(approx -- noOracle).toSeq.sorted.mkString(",")}")
    Files.writeString(Paths.get(s"$dumpDir/approx_keys.json"),
      approx.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // Always written (empty object when clean): a crashed query would
    // otherwise appear in the dump only as a MISSING directory, and a
    // reader of the artifacts alone undercounts the damage (the r10/r11
    // lesson — four crashed keys were invisible in the correctness
    // JSON). With this manifest the per-key error text travels with the
    // dump the driver reads.
    val errJson = failed
      .map { case (k, msg) => s"${q(k)}: ${q(msg)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$dumpDir/errors.json"), errJson)
    // frees the IVF index and bucketed-table copies under tmpdir
    graft.util.SessionMemo.clear(spark)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] FAILED queries: ${failed.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
