package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.util.SessionMemo

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Runs `body` with the session confs `pairs` set, then restores them. */
  protected def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Releases what the suite left in the shared session's registry:
    * IVF index copies and bucketed tables live in temp directories
    * that only a release deletes. */
  override protected def afterAll(): Unit =
    try SparkTestBase.started.foreach(SessionMemo.clear)
    finally super.afterAll()
}

object SparkTestBase {
  @volatile private var started: Option[SparkSession] = None

  lazy val session: SparkSession = {
    val s = Tables.sessionDefaults(SparkSession.builder())
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    started = Some(s)
    s
  }
}
