package graft

import org.apache.spark.sql.graftx.Bridge

/** Storage hygiene: the iterative operators checkpoint per round and
  * must actually release superseded blocks, or a long session (the
  * bench, a production pipeline driver) accumulates pinned storage. */
class SessionHygieneSpec extends SparkTestBase {

  test("Bridge.unpersistCheckpoint removes the localCheckpoint RDD from persistent set") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val df = spark.range(1000).toDF("x").localCheckpoint()
    df.count()
    assert(sc.getPersistentRDDs.size == before + 1,
      "localCheckpoint should register exactly one persistent RDD")
    Bridge.unpersistCheckpoint(df)
    assert(sc.getPersistentRDDs.size == before,
      "unpersistCheckpoint should deregister the checkpoint RDD")
  }

  test("unpersistCheckpoint is a no-op on plans without checkpoint RDDs") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = spark.range(10).toDF("x")
    Bridge.unpersistCheckpoint(df) // must not throw or unpersist anything
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("SessionMemo.clear leaves no resolved frame of its session") {
    val dir = java.nio.file.Files.createTempDirectory("tables-memo").toString
    spark.range(3).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
    val s = spark.newSession()
    def keys = util.SessionMemo.keys(s).filter(_._1 eq Tables)
    assert(Tables.load(s, dir, "region").count() == 3)
    assert(keys.size == 1)
    util.SessionMemo.clear(s)
    assert(keys.isEmpty)
  }

  test("survivors memo pins exactly its final labels; evictMemo releases them") {
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.size
    // force the memoized computation (idempotent if already memoized)
    operators.Dedup.dedup_survivors(spark, sf001).count()
    val pinned = sc.getPersistentRDDs.size
    assert(pinned >= base,
      "memoized survivor labels keep their checkpoint blocks alive")
    operators.Dedup.evictMemo(spark)
    assert(sc.getPersistentRDDs.size < pinned || pinned == base,
      "evictMemo should release the memoized checkpoint")
    // memo transparently recomputes after eviction
    assert(operators.Dedup.dedup_survivors(spark, sf001).count() > 0)
    operators.Dedup.evictMemo(spark)
  }
}
