package graft.examples

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Per-stage profile of ONE declared query (guide §1.1: decide whether
  * the time goes to shuffle read/write, compute, or scheduling before
  * touching anything). Prints, per stage: wall ms, task count, total
  * task ms, shuffle read/write bytes, input bytes, and the stage name
  * (callsite) — enough to map stages back to operators without the UI
  * (the bench runs with the UI off).
  *
  * Usage: runMain graft.examples.ProfileQuery <sfDir> <key>[,<key>...] [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.sessionDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graft-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(name: String, var submitted: Long = 0L,
        var completed: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L,
        var shufReadMb: Double = 0, var shufWriteMb: Double = 0,
        var inputMb: Double = 0, var gcMs: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          stages(e.stageInfo.stageId) = St(e.stageInfo.name,
            submitted = System.currentTimeMillis())
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages.get(e.stageInfo.stageId).foreach { s =>
            s.completed = System.currentTimeMillis()
            s.tasks = e.stageInfo.numTasks
            val m = e.stageInfo.taskMetrics
            if (m != null) {
              s.taskMs = m.executorRunTime
              s.gcMs = m.jvmGCTime
              s.shufReadMb = m.shuffleReadMetrics.totalBytesRead / 1e6
              s.shufWriteMb = m.shuffleWriteMetrics.bytesWritten / 1e6
              s.inputMb = m.inputMetrics.bytesRead / 1e6
            }
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"[profile] $name rep=$i sec=$dt%.3f rows=$rows")
      val snap = stages.synchronized(stages.toSeq)
      val totalWall = snap.map(s => math.max(0L, s._2.completed - s._2.submitted)).sum
      println(f"[profile] stages=${snap.size} sum-stage-wall=${totalWall / 1000.0}%.3f s (overlap possible)")
      snap.sortBy(-_._2.taskMs).take(25).foreach { case (id, s) =>
        val wall = math.max(0L, s.completed - s.submitted)
        println(f"  stage=$id%4d wall=${wall}%6d ms tasks=${s.tasks}%4d taskMs=${s.taskMs}%7d gc=${s.gcMs}%5d in=${s.inputMb}%8.1fMB sr=${s.shufReadMb}%8.2fMB sw=${s.shufWriteMb}%8.2fMB  ${s.name.take(90)}")
      }
      spark.catalog.clearCache()
      graft.operators.Streaming.dropSinkTables(spark)
      graft.util.SessionMemo.clear(spark)
    }
    }
    spark.stop()
  }
}
