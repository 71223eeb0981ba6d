package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables
import graft.util.SessionMemo

/** The declared relational surface (SURVEY.md §2.B, Q01–Q21).
  *
  * The reference engine (astrolabsoftware/spark-fits) delegates all
  * relational processing to Spark SQL (reference README.md:27-35); these
  * queries declare and verify that surface over the driver's TESTDATA
  * tables against a DuckDB oracle.
  *
  * Design notes for determinism and 100 TB scale:
  *   - Money aggregations go through `DECIMAL(18,2)` so the sum is exact
  *     and independent of partition order (a double sum re-ordered by a
  *     1000-executor shuffle is not bit-stable run to run).
  *   - Every query ends in ORDER BY on a key prefix that makes the
  *     selected row-set and row-order deterministic.
  *   - Plans are plain Catalyst: filters/projections push into the
  *     parquet scan, small dimension tables are broadcast, aggregations
  *     use partial (map-side) combine automatically. No collect() loops.
  */
object Relational {

  private val D = DecimalType(18, 2)
  /** Exact, order-independent money sum: per-row round to cents, decimal sum. */
  private def moneySum(c: Column): Column = sum(c.cast(D)).cast(D)

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** `$"col"` without needing a SparkSession's implicits in scope. */
  private implicit class ColInterp(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  // ---------------------------------------------------------------- B1-B5

  /** B1 projection — column pruning must reach the parquet scan. */
  val q01_project: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
      .limit(100)

  /** B2 filter — predicates push down to the scan (`PushedFilters`). */
  val q02_filter: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter($"l_quantity" > 45 && $"l_discount".between(0.05, 0.07))
      .select($"l_orderkey", $"l_linenumber")
      .orderBy($"l_orderkey", $"l_linenumber")

  /** B3 count — partial + final aggregate, no row materialization. */
  val q03_count: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))

  /** B4 numeric aggregates — exact decimal sum, rounded avg, min/max. */
  val q04_agg: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(
      moneySum($"l_extendedprice").as("sum_price"),
      round(avg($"l_discount"), 6).as("avg_disc"),
      min($"l_shipdate").as("min_ship"),
      max($"l_shipdate").as("max_ship"))

  /** B5 distinct aggregation. */
  val q05_distinct: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(countDistinct($"l_suppkey").as("n_supp"))

  // ------------------------------------------------------------------- B6

  /** B6 hash aggregate (TPC-H Q1 core). Map-side partial agg keeps the
    * shuffle tiny: 32 partitions × (#flag,#status) groups regardless of
    * input size. */
  val q06_groupby: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        sum($"l_quantity").as("sum_qty"), // integral values: double-exact
        moneySum($"l_extendedprice").as("sum_price"),
        round(avg($"l_quantity"), 6).as("avg_qty"))
      .orderBy($"l_returnflag", $"l_linestatus")

  // ------------------------------------------------------------------- B7

  /** B7 multi-way equi join. `nation` is broadcast explicitly; at 100 TB
    * customer⋈orders⋈lineitem are shuffle joins on their keys, which AQE
    * can re-plan (skew split / broadcast promotion) at runtime. */
  val q07_join: Q = (s, dir) => {
    val customer = t(s, dir, "customer")
    val orders   = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val nation   = t(s, dir, "nation")
    customer
      .join(orders, $"c_custkey" === $"o_custkey")
      .join(lineitem, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      // Exact decimal product: price and (1-discount) are 2-decimal
      // valued, so the per-column casts are unambiguous in any engine
      // and the 4-decimal product sums exactly — the double product
      // would round differently at .005 boundaries across engines.
      // The exact decimal then casts to DOUBLE so the result type is
      // trivially canonical: Spark's DECIMAL(18,4) and DuckDB's
      // HUGEINT-backed decimal sum carry different precision metadata
      // and hash differently even when every value matches.
      .agg(sum($"l_extendedprice".cast(D) *
          (lit(1.0) - $"l_discount").cast(DecimalType(4, 2)))
        .cast(DecimalType(18, 4)).cast("double").as("revenue"))
      .orderBy($"n_name")
  }

  // ------------------------------------------------------------------- B8

  /** B8a anti join: customers with no RECENT orders (NOT EXISTS over a
    * filtered subset). Every customer in TESTDATA has at least one
    * order, so an unfiltered anti-join is empty and its oracle passes
    * vacuously (0 == 0); the 2000-01-01 cutoff makes the result
    * non-empty and deterministic at every SF (14/135/1355 rows), so
    * the hash check proves row content, not absence. */
  val q08_anti: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(
        t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp_ntz")),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey")
      .orderBy($"c_custkey")

  /** B8b semi join: customers with at least one order (EXISTS). */
  val q08_semi: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey")
      .orderBy($"c_custkey")

  /** B8c left outer join + conditional count (zero-order customers kept). */
  val q08_outer: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"))
      .orderBy($"c_custkey")

  // ------------------------------------------------------------------- B9

  /** B9 theta join: equi key + range residual. Stays a hash join on
    * l_partkey=p_partkey with the range as a post-join filter — never a
    * nested-loop cross product. */
  val q09_theta: Q = (s, dir) =>
    t(s, dir, "part")
      .join(t(s, dir, "lineitem"),
        $"l_partkey" === $"p_partkey" && $"l_quantity" < $"p_size")
      .agg(count(lit(1)).as("cnt"))

  // ------------------------------------------------------------------ B10

  /** B10 top-k — Catalyst plans TakeOrderedAndProject: per-partition
    * heap of k, no global sort, no full shuffle. */
  val q10_topk: Q = (s, dir) =>
    t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)

  // ------------------------------------------------------------------ B11

  private def bldg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
  private def inDebt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter($"c_acctbal" < 0).select($"c_custkey")

  /** B11a UNION (set semantics = union + distinct). */
  val q11_union: Q = (s, dir) =>
    bldg(s, dir).union(inDebt(s, dir)).distinct().orderBy($"c_custkey")

  /** B11b INTERSECT. */
  val q11_intersect: Q = (s, dir) =>
    bldg(s, dir).intersect(inDebt(s, dir)).orderBy($"c_custkey")

  /** B11c EXCEPT. */
  val q11_except: Q = (s, dir) =>
    bldg(s, dir).except(inDebt(s, dir)).orderBy($"c_custkey")

  // ------------------------------------------------------------------ B12

  /** B12a rank window, top-3 per customer. Window order includes the key
    * so rank values are fully deterministic. */
  val q12_window: Q = (s, dir) => {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    t(s, dir, "orders")
      .withColumn("rnk", rank().over(w))
      .filter($"rnk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"rnk")
      .orderBy($"o_custkey", $"rnk", $"o_orderkey")
  }

  /** B12b lag window (previous order's price per customer). */
  val q12_lag: Q = (s, dir) => {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    t(s, dir, "orders")
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .select($"o_custkey", $"o_orderkey", $"prev_price")
      .orderBy($"o_custkey", $"o_orderkey")
      .limit(200)
  }

  // ------------------------------------------------------------------ B13

  /** B13a ROLLUP — subtotals + grand total. */
  val q13_rollup: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)

  /** B13b CUBE. */
  val q13_cube: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)

  // ------------------------------------------------------------------ B14

  /** B14 scalar string functions. */
  val q14_string: Q = (s, dir) =>
    t(s, dir, "part")
      .filter($"p_name".like("%red%"))
      .select(
        $"p_partkey",
        substring($"p_name", 1, 5).as("name5"),
        upper($"p_brand").as("brand_up"),
        length($"p_name").as("name_len"))
      .orderBy($"p_partkey")

  /** B14b regexp extraction. */
  val q14_regex: Q = (s, dir) =>
    t(s, dir, "part")
      .select($"p_partkey",
        regexp_extract($"p_name", "([a-z]+)$", 1).as("last_word"))
      .orderBy($"p_partkey")
      .limit(200)

  // ------------------------------------------------------------------ B15

  /** B15a date extraction. */
  val q15_date: Q = (s, dir) =>
    t(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1995-01-01").cast("timestamp_ntz"))
      .select($"o_orderkey", year($"o_orderdate").cast(LongType).as("o_year"))
      .orderBy($"o_orderkey")
      .limit(100)

  /** B15b monthly order counts via date_trunc. */
  val q15_month: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("mon"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"mon")

  /** B15c day arithmetic relative to a fixed date. */
  val q15_diff: Q = (s, dir) =>
    t(s, dir, "orders")
      .select($"o_orderkey",
        datediff($"o_orderdate", lit("1995-01-01").cast("timestamp_ntz"))
          .as("days"))
      .orderBy($"o_orderkey")
      .limit(200)

  // ------------------------------------------------------------------ B16

  /** B16 math functions — IEEE-deterministic per row in both engines. */
  val q16_math: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(
        $"l_orderkey", $"l_linenumber",
        round(sqrt(abs($"l_extendedprice")), 3).as("root_price"))
      .orderBy($"l_orderkey", $"l_linenumber")
      .limit(100)

  // ------------------------------------------------------------------ B17

  /** B17a array size. */
  val q17_size: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .select($"vec_id", size($"embedding").as("emb_len"))
      .orderBy($"vec_id")
      .limit(100)

  /** B17b generator/explode with position. Floats widened to double then
    * rounded — identical widening in Spark and DuckDB. */
  val q17_explode: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .filter($"vec_id" < 2)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
      .select($"vec_id", $"pos", round($"v".cast("double"), 5).as("v"))
      .orderBy($"vec_id", $"pos")

  // ------------------------------------------------------------------ B18

  /** B18 JSON extraction from the events `props` payload. */
  val q18_json: Q = (s, dir) =>
    t(s, dir, "events")
      .select($"event_id", get_json_object($"props", "$.k").as("k"))
      .orderBy($"event_id")
      .limit(100)

  /** B18b typed JSON parsing via from_json. */
  val q18_from_json: Q = (s, dir) =>
    t(s, dir, "events")
      .select($"event_id",
        from_json($"props", lit("k INT")).getField("k").as("k"))
      .orderBy($"event_id")
      .limit(200)

  // ------------------------------------------------------------------ B19

  /** B19 approx distinct (HLL). Not hash-matched against the oracle —
    * the query itself reports the relative error vs the exact count so
    * the rows-only check still exercises both paths. */
  val q19_approx: Q = (s, dir) =>
    t(s, dir, "orders").agg(
      approx_count_distinct($"o_custkey").as("approx_cnt"),
      countDistinct($"o_custkey").as("exact_cnt"))
      .select(
        $"approx_cnt", $"exact_cnt",
        (abs($"approx_cnt" - $"exact_cnt") / $"exact_cnt").as("rel_err"))

  /** B19 driver-checkable gate (r12 verdict ask #2) — the twin that
    * de-vacuates [[q19_approx]]'s rows-only status: emits every
    * (year, priority) group whose HLL estimate lands within 8% of the
    * exact distinct count, and the oracle is the FULL group list, so
    * any group where the sketch collapses (broken merge, wrong
    * precision) turns the driver row red. The band is ~5 sigma at the
    * pinned rsd 0.02 (actual register error 1.04/sqrt(4096) ≈ 1.6%),
    * deterministic for any fixed corpus (HLL is hash-based, no RNG)
    * and stable under canary replication, which only adds duplicates
    * HLL ignores by construction.
    *
    * Shape, chosen by measurement: the keys are DISTINCTed first and
    * the sketch + exact count run over the distinct stream (HLL is
    * duplicate-insensitive, so the estimate is bit-identical to the
    * raw-stream sketch). Mixing approx_count_distinct with
    * countDistinct in ONE aggregate makes Spark's distinct-rewrite
    * materialize a full HLL register buffer per (group x custkey) in
    * the first-level aggregate — at rsd 0.01 that was ~21 KB x every
    * distinct key (~3 GB of buffer traffic at sf0.1, 6x slower here,
    * and a scale-killer at 100 TB). Distinct-then-agg keeps one
    * shuffle and exactly groups-many sketches. */
  val q19_approx_gate: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(year($"o_orderdate").cast(LongType).as("o_year"),
        $"o_orderpriority", $"o_custkey")
      .distinct()
      .groupBy($"o_year", $"o_orderpriority")
      .agg(
        approx_count_distinct($"o_custkey", 0.02).as("approx_cnt"),
        count(lit(1)).as("exact_cnt"))
      .filter(abs($"approx_cnt" - $"exact_cnt") <= $"exact_cnt" * lit(0.08))
      .select($"o_year", $"o_orderpriority")
      .orderBy($"o_year", $"o_orderpriority")

  // ------------------------------------------------------------------ B20

  /** B20 scalar expression (codegen'd, no UDF): net price. */
  val q20_expr: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(
        $"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount") *
          (lit(1.0) + $"l_tax")).as("net_price"))
      .orderBy($"l_orderkey", $"l_linenumber")
      .limit(100)

  // ------------------------------------------------------------------ B21

  /** B21 statistical aggregate per group (stddev). */
  val q21_stddev: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(round(stddev_samp($"l_quantity"), 4).as("sd_qty"))
      .orderBy($"l_returnflag")

  /** B21b custom UDAF: sigma-clipped stats (k=2, 2 iterations) of the
    * events value per type — a typed Aggregator, distributed, with an
    * iteration-for-iteration SQL oracle. */
  val q21_sigmaclip: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(graft.functions.SigmaClip.sigma_clip($"value", 2.0, 2).as("sc"))
      // singleton groups clip to n=0 (stddev undefined); the SQL
      // oracle's NULL-stddev predicate drops those groups entirely, so
      // mirror that here
      .filter($"sc.n" > 0)
      .select($"event_type",
        round($"sc.mean", 4).as("sc_mean"),
        round($"sc.stddev", 4).as("sc_std"),
        $"sc.n".as("sc_n"))
      .orderBy($"event_type")

  /** Skew-salted shuffle join surfaced as a driver-gated query: the
    * large side salted over 8 buckets, the dimension replicated 8× —
    * result provably identical to the plain join (hash-matched against
    * the unsalted SQL), while each hot supplier key spreads across 8
    * reducers instead of one. */
  val q22_skewjoin: Q = (s, dir) =>
    SkewJoin.salted(
      t(s, dir, "lineitem")
        .select($"l_suppkey".as("suppkey"), $"l_quantity"),
      t(s, dir, "supplier")
        .select($"s_suppkey".as("suppkey"), $"s_name"),
      "suppkey", salts = 8)
      .groupBy($"s_name")
      .agg(sum($"l_quantity").as("sum_qty"))
      .orderBy($"s_name")

  /** As-of join (nearest at-or-before match), the canonical time-series
    * operator Spark's joiner lacks: each 'view' event matches the same
    * user's most recent 'purchase' at or before its timestamp (left
    * semantics — views with no prior purchase keep NULLs).
    *
    * Scale shape: the naive formulation is an inequality join (O(n·m)
    * pairs per user, then an argmax per probe). This instead UNIONs the
    * two sides, sorts each user's timeline once, and carries the last
    * purchase forward with `last(ignoreNulls)` over an unbounded-
    * preceding row window — ONE shuffle on user_id, linear work, no
    * range explosion. Ref rows sort before probes at equal ts (`side`
    * key), giving exact ≤ semantics. Window partitions are per-user
    * (millions of keys at 100 TB), never a global funnel. */
  val q23_asof: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val refStruct = struct($"ts".as("ts"), $"value".as("value"))
    val probes = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts", lit(1).as("side"), $"event_id",
        lit(null).cast(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType)))).as("ref"))
    val refs = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(0).as("side"),
        lit(null).cast(LongType).as("event_id"), refStruct.as("ref"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probes.unionByName(refs)
      .withColumn("m", last($"ref", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"event_id", $"m.ts".as("asof_ts"), $"m.value".as("asof_value"))
      .orderBy($"event_id")
  }

  /** Exact percentiles (sort-based aggregate, distributed): median and
    * p95 of l_quantity per return flag. Spark's `percentile` and
    * DuckDB's `quantile_cont` share the continuous-interpolation
    * definition; both sides round to 6 dp to absorb last-bit float
    * divergence. */
  val q24_percentile: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5D)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.95D)"), 6).as("p95"))
      .orderBy($"l_returnflag")

  /** Pivot (long→wide reshape): sum of quantity per return flag, one
    * column per line status. Values are passed EXPLICITLY — without
    * them Spark runs a distinct-values discovery job over the whole
    * input first, and the column set becomes data-dependent (both
    * wrong at 100 TB). With explicit values this is a single two-phase
    * hash aggregate, no extra pass. */
  val q25_pivot: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum($"l_quantity"))
      .orderBy($"l_returnflag")

  // ------------------------------------------------- bucketed co-location

  private val bucketMemo = new SessionMemo.Slot[String,
    (String, String, String)](this, { case (s, (lt, ot, base)) =>
      dropBucketed(s, lt, ot, base) })
  private val bucketSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Longest wait for one bucketed-table write: the build holds its
    * registry entry, so every other caller for the corpus waits on it
    * too. A write still running after this is stuck, not slow. */
  private val BucketWriteTimeout = scala.concurrent.duration.Duration(30, "min")

  private def dropBucketed(s: SparkSession, lt: String, ot: String,
      base: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $lt")
    s.sql(s"DROP TABLE IF EXISTS $ot")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  /** lineitem + orders written ONCE bucketed (8 buckets, sorted) by
    * their order key — the one-off layout job a 100 TB deployment runs
    * at ingest so every later order-key join is co-located. Registered
    * in the session catalog as external tables under java.io.tmpdir;
    * memoized per (session, corpus). Returns (lineitemTable, ordersTable). */
  private[operators] def bucketedTables(s: SparkSession,
      dir: String): (String, String) = {
    val (lt, ot, _) = SessionMemo(s, bucketMemo, dir) {
      // Uniquifier = sanitized path + per-JVM counter: hashCode alone
      // can collide across corpus dirs (or sessions sharing a catalog),
      // silently serving one corpus's layout to another's query.
      val id = dir.replaceAll("[^A-Za-z0-9]+", "_").takeRight(40) +
        "_" + bucketSeq.getAndIncrement()
      val base = java.nio.file.Files.createTempDirectory("graft-bucketed")
        .toString
      val lt = s"graft_lineitem_b_$id"
      val ot = s"graft_orders_b_$id"
      // the two layout writes are independent single-scan jobs —
      // submit them from two driver threads so the second's tasks
      // back-fill cores the first leaves idle (guide §2.6 "overlap
      // independent jobs"); each write's plan is unchanged
      import scala.concurrent.{Await, Future, TimeoutException}
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes = Seq(
        lt -> Future {
          t(s, dir, "lineitem").write.mode("overwrite")
            .option("path", s"$base/$lt")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
        },
        ot -> Future {
          t(s, dir, "orders").write.mode("overwrite")
            .option("path", s"$base/$ot")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
        })
      // settle BOTH before rethrowing
      val errors = writes.flatMap { case (tbl, f) =>
        try { Await.ready(f, BucketWriteTimeout); f.value.get.failed.toOption }
        catch { case _: TimeoutException => Some(new TimeoutException(
          s"bucketed write of table $tbl not done after $BucketWriteTimeout"))
        }
      }
      errors.headOption.foreach { e =>
        // a failed build must not leak the temp dir or half-registered
        // tables, but dropping them under a write that is still running
        // would race it: then leave them and say where
        if (writes.forall(_._2.isCompleted)) dropBucketed(s, lt, ot, base)
        else System.err.println(
          s"[graft] bucketedTables: a write is still running; left $base")
        throw e
      }
      (lt, ot, base)
    }
    (lt, ot)
  }

  /** Builds (and memoizes) the bucketed layout ahead of time, returning
    * the build seconds — the bench calls this in warmup so the declared
    * key times the CO-LOCATED JOIN the layout exists to make cheap,
    * with the one-off write reported as its own field (the IVF-index
    * convention). */
  def warmBucketedTables(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    bucketedTables(s, dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** Drops this session's bucketed tables and deletes their
    * directories. */
  def evictBucketMemo(s: SparkSession): Unit = SessionMemo.clear(s, this)

  /** B-extra: bucketed co-located join — the layout-driven scale
    * technique the flat-file joins can't use. Both sides read
    * pre-bucketed on the join key, so the join plans with ZERO shuffle
    * exchanges beneath it (plan-asserted in PlanQualitySpec with
    * broadcast disabled): at 100 TB this is the difference between
    * re-shuffling two fact tables per query and reading them joined in
    * place. The aggregate after the join is the only exchange in the
    * plan. */
  val q27_bucket_join: Q = (s, dir) => {
    val (lt, ot) = bucketedTables(s, dir)
    val l = s.table(lt)
    val o = s.table(ot)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        moneySum($"l_extendedprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** B-extra: batch gap-sessionization over the events stream's data —
    * the lag+cumsum formulation of what `session_window` computes in
    * Structured Streaming (Streaming.stream_sessions), for the backfill
    * / reprocessing side of a lambda pipeline. A new session starts
    * when a user's inter-event gap reaches 30 minutes (`>= 1800 s`,
    * matching session_window's `[start, last+gap)` exclusivity).
    *
    * Determinism: event time compared in exact integer MICROSECONDS
    * (`unix_micros` ≡ DuckDB `epoch_us` — no sub-second truncation, no
    * float), total per-user order pinned by (ts, event_id). Scale: both
    * window frames share one partitioning on user_id — a single
    * shuffle, no global ordering anywhere; the final session rollup is
    * a hash agg on (user_id, session_id). */
  val q28_sessionize: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)
    e.withColumn("new_s",
        when(gapUs >= 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum($"new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1)
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").cast("timestamp_ntz").as("session_start"),
        max($"ts").cast("timestamp_ntz").as("session_end"))
      .orderBy($"user_id", $"session_id")
  }

  /** B-extra: ordered conversion funnel (signup → view → purchase) —
    * the product-analytics staple. A stage counts only if it happens
    * AT OR AFTER the previous stage (a view before signup doesn't
    * convert), which the naive per-stage MIN(ts) comparison gets wrong;
    * instead two chained running-flag windows ("seen signup so far",
    * "seen view-after-signup so far") give exact ordered semantics in
    * a single pass.
    *
    * Scale: both window frames and the per-user rollup share ONE
    * partitioning on user_id — a single shuffle of the events table,
    * no self-joins (the CTE-chain formulation re-joins events per
    * stage); the final stage-count rollup is a 1-row global aggregate
    * of per-user 0/1 flags (partial map-side sums). Ties at equal ts
    * are pinned by event_id, mirrored in the oracle. */
  val q29_funnel: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("seen_s",
        max(when($"event_type" === "signup", 1).otherwise(0)).over(w))
      .withColumn("seen_sv",
        max(when($"event_type" === "view" && $"seen_s" === 1, 1)
          .otherwise(0)).over(w))
      .groupBy($"user_id")
      .agg(
        max($"seen_s").as("u_s"),
        max(when($"event_type" === "view" && $"seen_s" === 1, 1)
          .otherwise(0)).as("u_sv"),
        max(when($"event_type" === "purchase" && $"seen_sv" === 1, 1)
          .otherwise(0)).as("u_svp"))
      .agg(
        count(lit(1)).as("n_users"),
        sum($"u_s").cast(LongType).as("n_signup"),
        sum($"u_sv").cast(LongType).as("n_signup_view"),
        sum($"u_svp").cast(LongType).as("n_full_funnel"))
  }

  /** B-extra: daily cohort retention — cohort = a user's first active
    * day; cell (cohort_day, day_offset) counts users active again
    * `day_offset` days later. The other product-analytics staple, and
    * a shape 100 TB pipelines run constantly (DAU/retention curves).
    *
    * Scale: the cohort day is a whole-partition MIN window (one shuffle
    * on user_id, no sort); the (user, cohort, offset) de-dup and the
    * cell counts are hash aggregations with map-side partials. Nothing
    * holds more state than distinct (user, day) pairs — bounded by the
    * calendar, not the event volume. */
  val q30_retention: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events")
    val w = Window.partitionBy($"user_id")
    e.select($"user_id", to_date($"ts").as("day"))
      .withColumn("cohort_day", min($"day").over(w))
      .select($"user_id", $"cohort_day",
        datediff($"day", $"cohort_day").cast(LongType).as("day_offset"))
      .distinct()
      .groupBy($"cohort_day", $"day_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_day", $"day_offset")
  }

  /** Bloom-prefiltered semi-join — the 100 TB decontamination /
    * join-pruning pattern: build a compact Bloom sketch over the key
    * set (here: customers in one market segment), probe it MAP-SIDE
    * over the fact table so ~4/5 of the rows die before any join, and
    * exact-verify the admitted remainder with a broadcast semi join
    * that removes the sketch's false positives. Result is EXACTLY the
    * plain semi join (Bloom filters have no false negatives, whatever
    * the sizing), so the DuckDB oracle is the ordinary IN-subquery —
    * the driver row proves the sketch path loses nothing. Plan: zero
    * shuffles before the output sort — the sketch is a scalar
    * subquery, the verify join broadcasts the key set. At a real
    * 100 TB the sketch (1 MB here) replaces shuffling the fact table
    * when the key side is too large for a cheap broadcast hash join
    * probe but fits a Bloom sketch; undersizing degrades only the
    * prune rate, never correctness. */
  val q31_bloom: Q = (s, dir) => {
    val keys = t(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val bf = keys.agg(graft.functions.GraftFunctions
      .bloom_filter_agg(xxhash64($"c_custkey"), 1000000L, 8000000L)
      .as("bf"))
    val admitted = t(s, dir, "orders")
      .filter(graft.functions.GraftFunctions
        .bloom_might_contain(bf, xxhash64($"o_custkey")))
      .select($"o_orderkey", $"o_custkey")
    admitted
      .join(broadcast(keys), admitted("o_custkey") === keys("c_custkey"),
        "leftsemi")
      .select($"o_orderkey")
      .orderBy($"o_orderkey")
  }

  /** Write-path round trip at the query surface: `events` →
    * `write.format("fits")` → read back → every row, hash-oracled
    * against the parquet original. The writer itself is deeply
    * spec-gated (FitsWriterSpec), but until r14 no driver-checked key
    * exercised write→read end-to-end — this closes that seam.
    *
    * Columns are the writer's exactly-round-trippable subset: int64,
    * string (no trailing blanks in the data — FITS `A` columns are
    * blank-padded), and double (IEEE bits preserved through `D`);
    * `ts` travels as epoch microseconds (FITS has no timestamp type).
    * The table has no NULLs (floating/string NULLs don't round-trip —
    * documented writer corner), verified by the oracle's exact hash.
    *
    * Scale shape: one linear write pass + one linear read pass over a
    * small table, a per-partition part-file layout identical to
    * Spark's own sinks; no shuffle until the output sort. */
  val q32_fits_roundtrip: Q = (s, dir) => {
    val src = t(s, dir, "events").select(
      $"event_id", $"user_id", $"event_type", $"value",
      unix_micros($"ts").as("ts_us"))
    val out = fitsScratch(s, dir, "q32")
    src.write.format("fits").mode("overwrite").save(out)
    s.read.format("fits").option("hdu", 1).load(out)
      .orderBy($"event_id")
  }

  /** Round-trip scratch dirs, deleted by a single JVM shutdown hook so
    * the table-sized FITS copies don't accumulate in the system tmpdir.
    * The path is keyed on (tag, corpus, applicationId): concurrent JVMs
    * on the same corpus (bench + verify — a documented hazard here)
    * must not overwrite each other's output mid-read; within one
    * session reps reuse and overwrite the same dir. */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { d =>
        def del(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(del)
          f.delete(): Unit
        }
        del(new java.io.File(d))
      }))
  private[operators] def fitsScratch(s: SparkSession, dir: String,
      tag: String): String = {
    // corpus component is a SHA-256 prefix, not String.hashCode: two
    // corpus paths colliding in 32 bits would silently share (and
    // mid-session overwrite) one scratch dir, surfacing only as a
    // downstream hash mismatch (r14 advice)
    val corpusId = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-$tag-" + corpusId +
        "-" + s.sparkContext.applicationId)
      .getAbsolutePath
    scratchHookInstalled
    scratchDirs.add(out): Unit
    out
  }

  /** The var-length twin of [[q32_fits_roundtrip]]: `documents` plus a
    * RAGGED per-word-length int array through the FITS writer's heap
    * path and back, every row hash-oracled. Word counts differ per doc,
    * so the array column is guaranteed ragged and stores as a
    * heap-backed `1PJ(max)` var-length column — the P/Q descriptor
    * machinery (heap offsets, Q promotion, multi-file union reads) is
    * thereby gated at the driver-checked query surface, not only in
    * ScalaTest. (`text` itself sits just UNDER the writer's >50%%
    * padding-waste threshold at these corpora — mean/max length ≈ 0.52
    * — so it stores fixed `nA`; exactness holds either way since the
    * corpus has no trailing blanks, but the ragged int array is what
    * pins the heap path deterministically.)
    *
    * The array that came back through the heap path is dumped as a
    * comma-joined string, not a raw array column: the join is injective
    * on int arrays, so the per-row gate is just as exact, and the
    * driver's comparator (pandas sort over the dumped parquet) can only
    * sort scalar columns — r14's dump of the raw `array<int>` errored
    * with "unhashable type: numpy.ndarray" and zeroed the key. */
  val q33_fits_varlen: Q = (s, dir) => {
    val src = t(s, dir, "documents").select(
      $"doc_id", $"text",
      transform(split($"text", " "), w => length(w)).as("word_lens"))
    val out = fitsScratch(s, dir, "q33")
    src.write.format("fits").mode("overwrite").save(out)
    s.read.format("fits").option("hdu", 1).load(out)
      .select($"doc_id", $"text",
        array_join($"word_lens".cast("array<string>"), ",")
          .as("word_lens_csv"))
      .orderBy($"doc_id")
  }

  /** The tile-compression member of the FITS round-trip family
    * ([[q32_fits_roundtrip]] fixed-width table, [[q33_fits_varlen]]
    * heap var-length): `documents` text bytes become fixed-width int16
    * image lines, travel through the writer's RICE_1 ZIMAGE path
    * (whole-line × 16-row tiles, lossless for integer pixels) and the
    * tile-decompressing reader, and every pixel of every line is
    * hash-oracled. Until r15 the four tile codecs were gated only in
    * ScalaTest; this puts one (the fpack default) on the driver-checked
    * query surface.
    *
    * An image HDU stores no row ids — line order is partition order —
    * so the line carries its own identity: pixels 0..3 encode `doc_id`
    * base-32768 big-endian (doc ids stay well under 2^60 at every
    * canary scale), making the key independent of file/partition
    * read-back order. The payload is the doc's bytes at pixels 4+
    * (ASCII corpus, so byte = codepoint and the DuckDB oracle replays
    * pixels with `ord`), zero-padded — and truncated at the fixed line
    * width on BOTH sides, so the gate stays exact on any future corpus.
    * Dumped comma-joined for the driver's scalar-only comparator. */
  val q34_fits_tilecomp: Q = (s, dir) => {
    val width = 640 // 4 id pixels + 636 payload (max doc ~577 today)
    val payload = width - 4
    val lines = {
      // no `$` uses in this block — the session implicits (encoders)
      // don't collide with this object's `$` interpolator here
      import s.implicits._
      // Write parallelism must scale with the DATA, not the input file
      // layout: each text byte becomes an int16 pixel plus padding
      // (~7.7x expansion at these corpora), so input-split sizing
      // under-parallelizes the encode badly (100x canary ships one
      // 83 MB parquet file -> ONE task RICE-encoding 640 MB, 17.5 s).
      // A hash repartition on doc_id costs one small shuffle of the
      // raw text; AQE coalesces it away on small corpora and keeps
      // full parallelism on big ones. Post-fix 100x: ~4x faster.
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(col("doc_id")).as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          val arr = new Array[Short](width)
          arr(0) = ((id >> 45) & 0x7fff).toShort
          arr(1) = ((id >> 30) & 0x7fff).toShort
          arr(2) = ((id >> 15) & 0x7fff).toShort
          arr(3) = (id & 0x7fff).toShort
          var j = 0
          val n = math.min(b.length, payload)
          while (j < n) { arr(4 + j) = (b(j) & 0xff).toShort; j += 1 }
          Tuple1(arr)
        }.toDF("Image")
    }
    val out = fitsScratch(s, dir, "q34")
    lines.write.format("fits").option("image", true)
      .option("compress", "RICE_1").mode("overwrite").save(out)
    val px = s.read.format("fits").option("hdu", 1).load(out)
      .select(col("Image").cast("array<long>").as("px"))
    px.select(
      (element_at(col("px"), lit(1)) * lit(1L << 45) +
        element_at(col("px"), lit(2)) * lit(1L << 30) +
        element_at(col("px"), lit(3)) * lit(1L << 15) +
        element_at(col("px"), lit(4))).as("doc_id"),
      array_join(slice(col("px"), 5, payload).cast("array<string>"), ",")
        .as("px_csv"))
      .orderBy(col("doc_id"))
  }

  /** Driver-checked key for the image-cutout (line-range) pushdown —
    * r15's only operator shipped with spec tests alone (verdict ask
    * #4): write a reference image whose line→doc binding is
    * DETERMINISTIC, read back a line band with an `ImgIndex` range
    * predicate, and hash-oracle every surviving line (its index, its
    * id pixels, its payload pixels) against DuckDB replaying the same
    * band with `row_number`. The range predicate folds into the scan
    * planner's [lo,hi] byte clamp (exact for plain images) — partitions
    * planned < full scan is asserted in RelationalSpec; correctness
    * never depends on the clamp since every predicate stays residual.
    *
    * Determinism setup: a cutout gate needs a defined total line order,
    * so the reference image is written as ONE sorted partition — the
    * corpus is bounded to replica 0 (`doc_id < 1M`, the planted-key
    * convention) so this setup stays CONSTANT-size at every canary
    * scale; the operator under test is the pruned read, not the write.
    * Line encoding is [[q34_fits_tilecomp]]'s: pixels 0..3 carry doc_id
    * base-32768, pixels 4+ the doc's ASCII bytes, zero-padded. */
  val q35_fits_cutout: Q = (s, dir) => {
    val width = 640
    val payload = width - 4
    val (cutLo, cutHi) = (100L, 299L) // within the 500-doc sf0.01 corpus
    val lines = {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000000L)
        .repartition(1).sortWithinPartitions(col("doc_id")).as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          val arr = new Array[Short](width)
          arr(0) = ((id >> 45) & 0x7fff).toShort
          arr(1) = ((id >> 30) & 0x7fff).toShort
          arr(2) = ((id >> 15) & 0x7fff).toShort
          arr(3) = (id & 0x7fff).toShort
          var j = 0
          val n = math.min(b.length, payload)
          while (j < n) { arr(4 + j) = (b(j) & 0xff).toShort; j += 1 }
          Tuple1(arr)
        }.toDF("Image")
    }
    val out = fitsScratch(s, dir, "q35")
    lines.write.format("fits").option("image", true)
      .mode("overwrite").save(out)
    // plain image → primary HDU; the between() lands in the planner as
    // a [100,299] line clamp AND stays residual
    val cut = s.read.format("fits").option("hdu", 0).load(out)
      .filter(col("ImgIndex").between(cutLo, cutHi))
      .select(col("ImgIndex").as("img_line"),
        col("Image").cast("array<long>").as("px"))
    cut.select(
      col("img_line"),
      (element_at(col("px"), lit(1)) * lit(1L << 45) +
        element_at(col("px"), lit(2)) * lit(1L << 30) +
        element_at(col("px"), lit(3)) * lit(1L << 15) +
        element_at(col("px"), lit(4))).as("doc_id"),
      array_join(slice(col("px"), 5, payload).cast("array<string>"), ",")
        .as("px_csv"))
      .orderBy(col("img_line"))
  }

  /** Driver-checked key for the 2-D cutout pushdown (r16 verdict ask
    * #5; write parallelized per r17 ask #4): the q35-encoded image is
    * written SORTED-PARALLEL (4 range partitions — the q34 precedent:
    * lines self-identify via doc_id pixels 0..3, so nothing depends on
    * a global file order), and read back with the `colRange`
    * pixel-column window pushed (columns 0..103 = id pixels + the
    * first 100 text bytes of the 640-px line). Columns outside the
    * window are never decoded and only the window's bytes move
    * (strided-IO, tile-x, and combined band+window variants are
    * spec-gated in FitsCutoutSpec); verification joins on the DECODED
    * doc_id, order-independent by construction, against DuckDB
    * replaying substr(text, 1, 100). */
  val q39_fits_cutout2d: Q = (s, dir) => {
    val width = 640
    val payload = width - 4
    val lines = {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000000L)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")).as[(Long, String)]
        .map { case (id, text) =>
          val b = text.getBytes("UTF-8")
          val arr = new Array[Short](width)
          arr(0) = ((id >> 45) & 0x7fff).toShort
          arr(1) = ((id >> 30) & 0x7fff).toShort
          arr(2) = ((id >> 15) & 0x7fff).toShort
          arr(3) = (id & 0x7fff).toShort
          var j = 0
          val n = math.min(b.length, payload)
          while (j < n) { arr(4 + j) = (b(j) & 0xff).toShort; j += 1 }
          Tuple1(arr)
        }.toDF("Image")
    }
    val out = fitsScratch(s, dir, "q39")
    lines.write.format("fits").option("image", true)
      .mode("overwrite").save(out)
    val px = s.read.format("fits").option("hdu", 0)
      .option("colRange", "0:103") // id pixels + text bytes 1..100
      .load(out)
      .select(col("Image").cast("array<long>").as("px"))
    px.select(
      (element_at(col("px"), lit(1)) * lit(1L << 45) +
        element_at(col("px"), lit(2)) * lit(1L << 30) +
        element_at(col("px"), lit(3)) * lit(1L << 15) +
        element_at(col("px"), lit(4))).as("doc_id"),
      array_join(slice(col("px"), 5, 100).cast("array<string>"), ",")
        .as("px_csv"))
      .filter(col("doc_id").between(100, 299))
      .orderBy(col("doc_id"))
  }

  /** Driver-checked key for TDIM multi-dimensional table columns
    * (FITS 4.0 §7.3.2, beyond reference): each doc's first 6 text
    * bytes become a 2×3 nested matrix, written through the FITS writer
    * (which flattens first-axis-fastest and emits `TDIM='(3,2)'`),
    * read back through the scan's Md decode (which reshapes), and
    * value-verified — shape from size() of the read-back nesting,
    * content from flatten() — against DuckDB replaying the same bytes
    * from parquet. A broken axis order, a dropped TDIM card, or a
    * flat-vector regression all change the hash. */
  val q40_fits_tdim: Q = (s, dir) => {
    val idx = (i: Int, j: Int) => lit(i * 3 + j + 1)
    val cell = (i: Int, j: Int) =>
      when(length(col("text")) >= idx(i, j),
        ascii(col("text").substr(idx(i, j), lit(1)))).otherwise(0)
        .cast("long")
    val src = t(s, dir, "documents")
      .filter(col("doc_id") < 1000000L)
      .select(col("doc_id"),
        array(
          array(cell(0, 0), cell(0, 1), cell(0, 2)),
          array(cell(1, 0), cell(1, 1), cell(1, 2))).as("mat"))
    val out = fitsScratch(s, dir, "q40")
    src.write.format("fits").mode("overwrite").save(out)
    s.read.format("fits").option("hdu", 1).load(out)
      .select(col("doc_id"),
        size(col("mat")).as("d2"),
        size(element_at(col("mat"), 1)).as("d1"),
        array_join(flatten(col("mat")).cast("array<string>"), ",")
          .as("mat_csv"))
      .orderBy(col("doc_id"))
  }

  /** Driver-checked key for the runtime-filtering surface (r16,
    * `SupportsRuntimeFiltering`): a bounded `documents` slice written
    * to FITS as ONE sorted partition (so `_row_index` = dense rank of
    * doc_id — the q35 determinism setup), read back and joined against
    * a small arithmetic key set on `_row_index` with the key side
    * broadcast. When Spark injects the DPP subquery the scan clamps
    * its planned bytes to the key envelope; either way the join
    * re-checks equality, and the oracle replays the whole thing with
    * row_number — so this key gates the CORRECTNESS half of the
    * contract (pruning never changes the result), while the
    * partition-level pruning assertions live in FitsRuntimeFilterSpec.
    *
    * Scale shape: broadcast join, corpus side never shuffles; with
    * pruning active the corpus side reads only the envelope bytes. */
  val q37_fits_rtjoin: Q = (s, dir) => {
    val src = t(s, dir, "documents")
      .select($"doc_id", $"lang")
      .filter($"doc_id" < 1000000L)
      .repartition(1).sortWithinPartitions($"doc_id")
    val out = fitsScratch(s, dir, "q37")
    src.write.format("fits").mode("overwrite").save(out)
    val back = s.read.format("fits").option("hdu", 1).load(out)
      .select($"doc_id", $"lang", col("_row_index").as("ri"))
    val keys = s.range(50, 150).filter($"id" % 7 === 3)
    back.join(broadcast(keys), back("ri") === keys("id"))
      .select($"doc_id", $"lang", $"ri")
      .orderBy($"ri")
  }

  /** Driver-checked key for the metadata-answered aggregates (r16):
    * ungrouped COUNT(*) and MIN/MAX of `_row_index` over a FITS table
    * answer from NAXIS2 alone (FitsAggScan — zero data bytes read),
    * cross-checked against a full-scan count over the same read so the
    * key fails if the header-derived numbers ever diverge from the
    * data. The oracle needs only count(*). */
  val q38_fits_extent: Q = (s, dir) => {
    // bounded corpus (replica-0 convention) + ONE part file: the
    // global max(_row_index) equals rows−1 only within a single file,
    // and the bound keeps this setup constant-size at any canary scale
    val src = t(s, dir, "events").select($"event_id")
      .filter($"event_id" < 1000000L)
    val out = fitsScratch(s, dir, "q38")
    src.repartition(1)
      .write.format("fits").mode("overwrite").save(out)
    val back = s.read.format("fits").option("hdu", 1).load(out)
    // metadata-only plan (asserted in FitsCountPushdownSpec)
    val meta = back.agg(
      count(lit(1)).as("n_rows"),
      (max(col("_row_index")) + lit(1L)).as("n_via_max"))
    // full-scan cross-check ties headers to data: counting a column
    // (event_id has no nulls) reads it, where count(lit(1)) would be
    // answered from the headers like `meta`
    val scanned = back
      .agg(count($"event_id").cast(LongType).as("n_scanned"))
    meta.crossJoin(scanned)
      .select($"n_rows", $"n_via_max", $"n_scanned")
  }

  /** Driver-checked key for value-domain data skipping (r17 verdict
    * ask #1): a bounded `events` slice goes through the FITS writer as
    * an 8-part RANGE-partitioned multi-file table (each part's
    * GMINn/GMAXn header stats cover a disjoint event_id window), and
    * the read-back applies a selective event_id band plus a value
    * bound. The planner drops every file whose stats exclude the
    * predicates (partition-level assertions live in FitsStatsSkipSpec);
    * the filters stay residual, so the result is exact whether or not
    * the skip engages — this key gates the CORRECTNESS half of the
    * contract.
    *
    * Scale shape: over a 10k-file archive the band plans only the
    * covering files, and the stats ride the one header walk the
    * planner already does — zero extra IO for the pruning decision. */
  val q41_fits_skip: Q = (s, dir) => {
    val src = t(s, dir, "events")
      .select($"event_id", $"user_id", $"value")
      .filter($"event_id" < 1000000L)
    val out = fitsScratch(s, dir, "q41")
    src.repartitionByRange(8, $"event_id")
      .write.format("fits").mode("overwrite").save(out)
    s.read.format("fits").option("hdu", 1).load(out)
      .filter($"event_id".between(100, 299) && $"value" > -1.0e18)
      .orderBy($"event_id")
  }

  /** Driver-checked key for the multi-HDU union (r17 verdict ask #7):
    * three disjoint `events` slices (event_id mod 3) go through the
    * FITS writer as single-part files, concatenate into ONE real MEF
    * (primary + 3 same-schema BINTABLE extensions — each writer part
    * is primary block + extension, so the MEF is part0 ++ tail(part1)
    * ++ tail(part2)), and come back through a single
    * `option("hdu", "all")` load. The provenance `_hdu` column must
    * reproduce each row's slice (hdu = event_id mod 3 + 1), which the
    * oracle can state with zero layout knowledge. The reference forces
    * one load() per HDU here (FitsSourceRelation.scala:114-120).
    *
    * Scale shape: per-HDU partitions plan independently (union, no
    * shuffle); at a 10k-file MEF archive the planner walks each file's
    * headers once and plans every extension from that single walk. */
  val q42_fits_multihdu: Q = (s, dir) => {
    val src = t(s, dir, "events").select($"event_id", $"user_id")
      .filter($"event_id" < 1000000L)
    val out = fitsScratch(s, dir, "q42")
    val parts = (0 until 3).map { k =>
      val d = s"$out/part$k"
      src.filter(pmod($"event_id", lit(3)) === k).repartition(1)
        .write.format("fits").mode("overwrite").save(d)
      new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".fits")).head
    }
    val mefDir = new java.io.File(s"$out/mef")
    mefDir.mkdirs()
    val mef = new java.io.File(mefDir, "mef.fits")
    val fo = new java.io.FileOutputStream(mef)
    try parts.zipWithIndex.foreach { case (f, k) =>
      val b = java.nio.file.Files.readAllBytes(f.toPath)
      // writer layout invariant: one 2880-byte primary block, then the
      // bintable extension
      require(new String(b, 2880, 8, "US-ASCII") == "XTENSION",
        s"unexpected primary size in ${f.getName}")
      if (k == 0) fo.write(b) else fo.write(b, 2880, b.length - 2880)
    } finally fo.close()
    s.read.format("fits").option("hdu", "all").load(mefDir.toString)
      .select($"event_id", $"user_id", col("_hdu").as("hdu"))
      .orderBy($"event_id")
  }

  /** Driver-checked key for the `SupportsMetadataColumns` surface (r16):
    * `events` goes through the FITS writer as an 8-part multi-file
    * table, comes back with `_file_path`/`_hdu`/`_row_index` selected,
    * and the metadata is verified through aggregate INVARIANTS the
    * DuckDB oracle can state without knowing the file layout: per
    * source file the row indices must be exactly 0..cnt−1 (so
    * Σ(max+1) = Σ distinct = Σ cnt = total rows) and every row must
    * come from HDU 1 (the writer's bintable extension). Any wrong,
    * shifted, or duplicated metadata value breaks one of the emitted
    * totals; the event_id/user_id sums tie the data content in too.
    *
    * Scale shape: one write + one read pass, then a two-level
    * aggregation whose first level is keyed on file path — at 100 TB
    * that is one group per part file (map-side partial applies), and
    * the final rollup is a single-row reduce. */
  val q36_fits_metadata: Q = (s, dir) => {
    val src = t(s, dir, "events")
      .select($"event_id", $"user_id")
    val out = fitsScratch(s, dir, "q36")
    src.repartition(8, $"event_id")
      .write.format("fits").mode("overwrite").save(out)
    val back = s.read.format("fits").option("hdu", 1).load(out)
      .select($"event_id", $"user_id", col("_file_path").as("fp"),
        col("_hdu").as("hdu"), col("_row_index").as("ri"))
    back.groupBy($"fp").agg(
        count(lit(1)).as("cnt"),
        min($"ri").as("mn"), max($"ri").as("mx"),
        countDistinct($"ri").as("nd"),
        min($"hdu").as("hmn"), max($"hdu").as("hmx"),
        sum($"event_id").as("sid"), sum($"user_id").as("suid"))
      .agg(
        sum($"cnt").cast(LongType).as("n_rows"),
        sum($"mx" + lit(1L)).cast(LongType).as("rows_via_index"),
        sum($"nd").cast(LongType).as("rows_via_distinct"),
        sum(when($"mn" === 0L && $"hmn" === 1 && $"hmx" === 1, lit(0L))
          .otherwise(lit(1L))).cast(LongType).as("bad_files"),
        sum($"sid").cast(LongType).as("sum_event_id"),
        sum($"suid").cast(LongType).as("sum_user_id"))
  }

  // ------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "q01_project" -> q01_project,
    "q02_filter" -> q02_filter,
    "q03_count" -> q03_count,
    "q04_agg" -> q04_agg,
    "q05_distinct" -> q05_distinct,
    "q06_groupby" -> q06_groupby,
    "q07_join" -> q07_join,
    "q08_anti" -> q08_anti,
    "q08_semi" -> q08_semi,
    "q08_outer" -> q08_outer,
    "q09_theta" -> q09_theta,
    "q10_topk" -> q10_topk,
    "q11_union" -> q11_union,
    "q11_intersect" -> q11_intersect,
    "q11_except" -> q11_except,
    "q12_window" -> q12_window,
    "q12_lag" -> q12_lag,
    "q13_rollup" -> q13_rollup,
    "q13_cube" -> q13_cube,
    "q14_string" -> q14_string,
    "q14_regex" -> q14_regex,
    "q15_date" -> q15_date,
    "q15_month" -> q15_month,
    "q15_diff" -> q15_diff,
    "q16_math" -> q16_math,
    "q17_size" -> q17_size,
    "q17_explode" -> q17_explode,
    "q18_json" -> q18_json,
    "q18_from_json" -> q18_from_json,
    "q19_approx" -> q19_approx,
    "q19_approx_gate" -> q19_approx_gate,
    "q20_expr" -> q20_expr,
    "q21_stddev" -> q21_stddev,
    "q21_sigmaclip" -> q21_sigmaclip,
    "q22_skewjoin" -> q22_skewjoin,
    "q23_asof" -> q23_asof,
    "q24_percentile" -> q24_percentile,
    "q25_pivot" -> q25_pivot,
    "q27_bucket_join" -> q27_bucket_join,
    "q28_sessionize" -> q28_sessionize,
    "q29_funnel" -> q29_funnel,
    "q30_retention" -> q30_retention,
    "q31_bloom" -> q31_bloom,
    "q32_fits_roundtrip" -> q32_fits_roundtrip,
    "q33_fits_varlen" -> q33_fits_varlen,
    "q34_fits_tilecomp" -> q34_fits_tilecomp,
    "q35_fits_cutout" -> q35_fits_cutout,
    "q36_fits_metadata" -> q36_fits_metadata,
    "q37_fits_rtjoin" -> q37_fits_rtjoin,
    "q38_fits_extent" -> q38_fits_extent,
    "q39_fits_cutout2d" -> q39_fits_cutout2d,
    "q40_fits_tdim" -> q40_fits_tdim,
    "q41_fits_skip" -> q41_fits_skip,
    "q42_fits_multihdu" -> q42_fits_multihdu,
  )

  /** DuckDB-compatible oracle SQL. Keys mirror `queries`; column aliases
    * match the Spark output exactly (the driver compare sorts columns by
    * name before hashing). q19_approx intentionally has no oracle —
    * its driver-checkable twin is q19_approx_gate.
    */
  /** Approximate-by-design key: q19_approx's HLL estimate is rows-only;
    * its exact multi-threshold twin q19_approx_gate is hash-oracled. */
  val approxKeys: Set[String] = Set("q19_approx")

  val oracles: Map[String, String] = Map(
    "q31_bloom" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,
    // per-row equality: any write- or read-side corruption of any row
    // breaks the hash (ts compared as exact integer microseconds)
    "q32_fits_roundtrip" ->
      """SELECT event_id, user_id, event_type, value,
        |  epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin,
    // the ragged word-length array replays as a DuckDB list transform,
    // dumped comma-joined (injective on int arrays; the driver's pandas
    // comparator can only sort scalar columns — the r14 lesson)
    "q33_fits_varlen" ->
      """SELECT doc_id, text,
        |  array_to_string(list_transform(regexp_split_to_array(text, ' '),
        |                                 w -> CAST(len(w) AS INTEGER)),
        |                  ',') AS word_lens_csv
        |FROM documents ORDER BY doc_id""".stripMargin,
    // every RICE-decompressed pixel of every line replays as ord() over
    // the ASCII doc bytes, zero-padded/truncated to the fixed 636-px
    // payload (pixels 1..4 carry doc_id and are checked via the id col)
    "q34_fits_tilecomp" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(range(1, 637),
        |    j -> CAST(CASE WHEN j <= len(t) THEN ord(substr(t, j, 1))
        |              ELSE 0 END AS BIGINT)), ',') AS px_csv
        |FROM (SELECT doc_id, substr(text, 1, 636) AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // order-independent replay keyed on the DECODED doc_id (the write
    // is parallel; lines self-identify via id pixels): the id band and
    // every windowed payload pixel of every surviving line
    "q39_fits_cutout2d" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(range(1, 101),
        |    j -> CAST(CASE WHEN j <= len(t) THEN ord(substr(t, j, 1))
        |              ELSE 0 END AS BIGINT)), ',') AS px_csv
        |FROM (SELECT doc_id, substr(text, 1, 100) AS t FROM documents
        |      WHERE doc_id < 1000000)
        |WHERE doc_id BETWEEN 100 AND 299
        |ORDER BY doc_id""".stripMargin,
    "q40_fits_tdim" ->
      """SELECT doc_id, CAST(2 AS INT) AS d2, CAST(3 AS INT) AS d1,
        |  array_to_string(list_transform(range(1, 7),
        |    j -> CAST(CASE WHEN j <= len(text) THEN ord(substr(text, j, 1))
        |              ELSE 0 END AS BIGINT)), ',') AS mat_csv
        |FROM documents WHERE doc_id < 1000000
        |ORDER BY doc_id""".stripMargin,
    // the MEF union replays with zero layout knowledge: each row's
    // HDU is its mod-3 slice + 1 (primary is HDU 0, extensions 1..3)
    "q42_fits_multihdu" ->
      """SELECT event_id, user_id,
        |  CAST(event_id % 3 + 1 AS INTEGER) AS hdu
        |FROM events WHERE event_id < 1000000
        |ORDER BY event_id""".stripMargin,
    // value-domain skipping must never change the result: the oracle
    // replays the band over the same bounded slice (the value bound is
    // vacuously true — it exists to exercise the double-column stats)
    "q41_fits_skip" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_id < 1000000 AND event_id BETWEEN 100 AND 299
        |  AND value > -1e18
        |ORDER BY event_id""".stripMargin,
    "q35_fits_cutout" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 636) AS t,
        |         row_number() OVER (ORDER BY doc_id) - 1 AS img_line
        |  FROM documents WHERE doc_id < 1000000)
        |SELECT img_line, doc_id,
        |  array_to_string(list_transform(range(1, 637),
        |    j -> CAST(CASE WHEN j <= len(t) THEN ord(substr(t, j, 1))
        |              ELSE 0 END AS BIGINT)), ',') AS px_csv
        |FROM d WHERE img_line BETWEEN 100 AND 299
        |ORDER BY img_line""".stripMargin,
    // the metadata invariants collapse to count(*) when (and only
    // when) every file's _row_index set is exactly 0..cnt-1 and every
    // row reports _hdu = 1 — the oracle needs no layout knowledge
    "q36_fits_metadata" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS rows_via_index,
        |  CAST(count(*) AS BIGINT) AS rows_via_distinct,
        |  CAST(0 AS BIGINT) AS bad_files,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_user_id
        |FROM events""".stripMargin,
    // the runtime-filtered join replays as row_number over the same
    // bounded sorted corpus — pruning must never change the result
    "q37_fits_rtjoin" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (ORDER BY doc_id) - 1 AS ri
        |  FROM documents WHERE doc_id < 1000000)
        |SELECT doc_id, lang, ri FROM d
        |WHERE ri BETWEEN 50 AND 149 AND ri % 7 = 3
        |ORDER BY ri""".stripMargin,
    // header-derived extent == data extent == count(*), single file
    "q38_fits_extent" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_via_max,
        |  CAST(count(*) AS BIGINT) AS n_scanned
        |FROM events WHERE event_id < 1000000""".stripMargin,
    "q19_approx_gate" ->
      """SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
        |  AS o_year, o_orderpriority
        |FROM orders ORDER BY 1, 2""".stripMargin,
    "q27_bucket_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // windowed SUM(CASE) is HUGEINT in DuckDB → cast (pipeline_pack
    // lesson); gaps compared in exact integer microseconds both sides
    "q28_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(CASE WHEN gap_us >= 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      + 1 AS BIGINT) AS session_id
        |  FROM o)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same chained running-flag windows; window SUM/MAX of CASE is
    // HUGEINT in DuckDB → explicit BIGINT casts on every output count
    "q29_funnel" ->
      """WITH f1 AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_s
        |  FROM events),
        |f2 AS (
        |  SELECT user_id, event_type, seen_s,
        |    MAX(CASE WHEN event_type = 'view' AND seen_s = 1
        |             THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_sv
        |  FROM f1),
        |u AS (
        |  SELECT user_id,
        |    MAX(seen_s) AS u_s,
        |    MAX(CASE WHEN event_type = 'view' AND seen_s = 1
        |             THEN 1 ELSE 0 END) AS u_sv,
        |    MAX(CASE WHEN event_type = 'purchase' AND seen_sv = 1
        |             THEN 1 ELSE 0 END) AS u_svp
        |  FROM f2 GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(u_s) AS BIGINT) AS n_signup,
        |  CAST(SUM(u_sv) AS BIGINT) AS n_signup_view,
        |  CAST(SUM(u_svp) AS BIGINT) AS n_full_funnel
        |FROM u""".stripMargin,
    // DATE - DATE is BIGINT days in DuckDB; the engine casts its
    // datediff to match
    "q30_retention" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |    MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day,
        |    CAST(CAST(ts AS DATE)
        |      - MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
        |      AS BIGINT) AS day_offset
        |  FROM events)
        |SELECT cohort_day, day_offset, COUNT(*) AS n_users
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q01_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q02_filter" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_quantity > 45 AND l_discount BETWEEN 0.05 AND 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_count" -> "SELECT COUNT(*) AS cnt FROM lineitem",
    "q04_agg" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price,
        |  ROUND(AVG(l_discount), 6) AS avg_disc,
        |  MIN(l_shipdate) AS min_ship,
        |  MAX(l_shipdate) AS max_ship
        |FROM lineitem""".stripMargin,
    "q05_distinct" ->
      "SELECT COUNT(DISTINCT l_suppkey) AS n_supp FROM lineitem",
    // oracle is the UNSALTED join — hash equality IS the proof that the
    // salt+replicate rewrite preserves join semantics exactly
    "q22_skewjoin" ->
      """SELECT s_name, SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    // inequality-join + argmax formulation; deterministic because
    // (user_id, ts) is unique within an event_type in the test data
    // (verified at sf0.01 and sf0.1) — the engine's union+window
    // formulation must hash-match it exactly
    "q23_asof" ->
      """SELECT a.event_id, MAX(b.ts) AS asof_ts,
        |  ARG_MAX(b.value, b.ts) AS asof_value
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'view') a
        |LEFT JOIN (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id AND b.ts <= a.ts
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin,
    "q24_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // conditional-aggregation formulation of the same pivot; output
    // column names F/O match Spark's pivot-value naming
    "q25_pivot" ->
      """SELECT l_returnflag,
        |  SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
        |  SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q06_groupby" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price,
        |  ROUND(AVG(l_quantity), 6) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q07_join" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q08_anti" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q08_semi" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q08_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q09_theta" ->
      """SELECT COUNT(*) AS cnt FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey
        |  AND l.l_quantity < p.p_size""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q11_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY c_custkey""".stripMargin,
    "q11_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY c_custkey""".stripMargin,
    "q11_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY c_custkey""".stripMargin,
    "q12_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(RANK() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
        |FROM orders
        |QUALIFY rnk <= 3
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    "q12_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders
        |ORDER BY o_custkey, o_orderkey LIMIT 200""".stripMargin,
    "q13_rollup" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q13_cube" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q14_string" ->
      """SELECT p_partkey, SUBSTRING(p_name, 1, 5) AS name5,
        |  UPPER(p_brand) AS brand_up,
        |  CAST(LENGTH(p_name) AS INTEGER) AS name_len
        |FROM part WHERE p_name LIKE '%red%' ORDER BY p_partkey""".stripMargin,
    "q14_regex" ->
      """SELECT p_partkey, regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
        |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin,
    "q15_diff" ->
      """SELECT o_orderkey,
        |  CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,
    "q18_from_json" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id LIMIT 200""".stripMargin,
    "q15_date" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |ORDER BY o_orderkey LIMIT 100""".stripMargin,
    "q15_month" ->
      """SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mon,
        |  COUNT(*) AS cnt
        |FROM orders GROUP BY mon ORDER BY mon""".stripMargin,
    "q16_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(SQRT(ABS(l_extendedprice)), 3) AS root_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q17_size" ->
      """SELECT vec_id, CAST(LEN(embedding) AS INTEGER) AS emb_len
        |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin,
    "q17_explode" ->
      """SELECT vec_id,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
        |  ROUND(CAST(UNNEST(embedding) AS DOUBLE), 5) AS v
        |FROM embeddings WHERE vec_id < 2 ORDER BY vec_id, pos""".stripMargin,
    "q18_json" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events ORDER BY event_id LIMIT 100""".stripMargin,
    "q20_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q21_stddev" ->
      """SELECT l_returnflag, ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q21_sigmaclip" ->
      """WITH s0 AS (SELECT event_type, AVG(value) m, STDDEV_SAMP(value) s
        |            FROM events GROUP BY 1),
        |k1 AS (SELECT e.event_type, e.value FROM events e
        |       JOIN s0 ON e.event_type = s0.event_type
        |       WHERE e.value >= s0.m - 2*s0.s AND e.value <= s0.m + 2*s0.s),
        |s1 AS (SELECT event_type, AVG(value) m, STDDEV_SAMP(value) s
        |       FROM k1 GROUP BY 1),
        |k2 AS (SELECT k1.event_type, k1.value FROM k1
        |       JOIN s1 ON k1.event_type = s1.event_type
        |       WHERE k1.value >= s1.m - 2*s1.s AND k1.value <= s1.m + 2*s1.s)
        |SELECT event_type, ROUND(AVG(value), 4) AS sc_mean,
        |  ROUND(STDDEV_SAMP(value), 4) AS sc_std, COUNT(*) AS sc_n
        |FROM k2 GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
