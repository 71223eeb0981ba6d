package graft.util

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkTestBase
import graft.operators.Relational

/** The session-state registry: nested builds, one build per key, no
  * entry after a failed build, and clears that release each finished
  * entry once and touch nothing of another session or owner. */
class SessionMemoSpec extends SparkTestBase {

  private object Spec
  private object Other
  private val slot = new SessionMemo.Slot[String, Int](Spec)

  /** A slot whose releases are recorded as (session, value). */
  private def recorded(owner: AnyRef) = {
    val released = new ConcurrentLinkedQueue[(SparkSession, Int)]
    (new SessionMemo.Slot[String, Int](owner, (s, v) => released.add((s, v))),
      released)
  }

  test("a build may build other keys of the store inside it") {
    val s = spark.newSession()
    // four deep, like IVF mass → index frame → index path → model, and
    // enough sibling inserts inside the build to resize the map
    def chain(d: Int): Int =
      if (d == 0) 1
      else SessionMemo(s, slot, s"chain$d") {
        (0 until 100).foreach(i => SessionMemo(s, slot, s"d$d-$i")(i))
        chain(d - 1) + 1
      }
    assert(chain(4) == 5)
    assert(SessionMemo.get(s, slot, "chain1").contains(2))
    assert(SessionMemo.keys(s).size == 4 + 400)
    SessionMemo.clear(s)
  }

  test("two threads asking for one key build it once") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val first = Future(SessionMemo(s, slot, "k") {
      builds.incrementAndGet(); started.countDown(); finish.await(); 7
    })
    started.await()
    val second = Future(SessionMemo(s, slot, "k") {
      builds.incrementAndGet(); 8
    })
    Thread.sleep(200) // let the second caller reach the held entry
    finish.countDown()
    assert(Await.result(first, 1.minute) == 7)
    assert(Await.result(second, 1.minute) == 7)
    assert(builds.get == 1)
    SessionMemo.clear(s)
  }

  test("a failed build leaves no entry and the next call builds again") {
    val s = spark.newSession()
    intercept[IllegalStateException](
      SessionMemo(s, slot, "k")(throw new IllegalStateException("boom")))
    assert(SessionMemo.keys(s).isEmpty)
    assert(SessionMemo(s, slot, "k")(3) == 3)
    SessionMemo.clear(s)
  }

  test("clear(s) releases each entry once and keeps other sessions' entries") {
    val (counted, released) = recorded(Spec)
    val s = spark.newSession()
    val other = spark.newSession()
    SessionMemo(s, counted, "a")(1)
    SessionMemo(s, counted, "b")(2)
    SessionMemo(other, counted, "a")(3)
    SessionMemo.clear(s)
    SessionMemo.clear(s)
    assert(released.asScala.toList.sortBy(_._2) == List((s, 1), (s, 2)))
    assert(SessionMemo.keys(s).isEmpty)
    assert(SessionMemo.keys(other) == Seq((Spec, "a")))
    SessionMemo.clear(other)
    assert(released.asScala.map(_._2).toSet == Set(1, 2, 3))
  }

  test("clear leaves an entry still building for a later clear") {
    val (counted, released) = recorded(Spec)
    val s = spark.newSession()
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val build = Future(SessionMemo(s, counted, "k") {
      started.countDown(); finish.await(); 5
    })
    started.await()
    SessionMemo.clear(s)
    assert(released.isEmpty)
    assert(SessionMemo.keys(s) == Seq((Spec, "k")))
    finish.countDown()
    assert(Await.result(build, 1.minute) == 5)
    SessionMemo.clear(s)
    assert(released.asScala.toList == List((s, 5)))
    assert(SessionMemo.keys(s).isEmpty)
  }

  test("clear(s, owner) leaves other owners' entries") {
    val (mine, released) = recorded(Other)
    val s = spark.newSession()
    SessionMemo(s, mine, "k")(1)
    SessionMemo(s, slot, "k")(2)
    SessionMemo.clear(s, Other)
    assert(released.asScala.toList == List((s, 1)))
    assert(SessionMemo.keys(s) == Seq((Spec, "k")))
    SessionMemo.clear(s)
  }

  test("clear drops the bucketed tables and deletes their directory") {
    val s = spark.newSession()
    Relational.warmBucketedTables(s, sf0001)
    // q27 reads both tables, whose files live at <base>/<table>/part-*
    val files = Relational.q27_bucket_join(s, sf0001).inputFiles.toSeq
      .map(f => java.nio.file.Paths.get(new java.net.URI(f)))
    val tables = files.map(_.getParent.getFileName.toString).distinct
    val base = files.head.getParent.getParent
    assert(tables.size == 2 && tables.forall(s.catalog.tableExists), tables)
    assert(java.nio.file.Files.isDirectory(base))
    SessionMemo.clear(s)
    assert(!tables.exists(s.catalog.tableExists), tables)
    assert(!java.nio.file.Files.exists(base), base)
    assert(SessionMemo.keys(s).isEmpty)
  }
}
