package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is shared by every span of one op (0 for
  * spans outside the op loop); `parent` is the id of the enclosing span
  * (0 at the top). Times are epoch nanoseconds for benchmark spans and
  * epoch milliseconds x 1e6 for spans taken from Spark's listener. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans open and close on the benchmark's
  * single client thread; listener spans arrive on Spark's listener bus
  * and are added under a lock. Nothing is written until [[write]]. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var stack: List[Long] = Nil
  @volatile var op = 0L
  var enabled = false
  // epoch-ns anchor so nanoTime spans and listener millis share a clock
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now: Long = System.nanoTime() + epochNs

  /** Times `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      onEnter(id)
      val t0 = now
      try body
      finally {
        stack = stack.tail
        onEnter(parent)
        add(Span(id, parent, op, name, t0, now))
      }
    }
  /** Told the innermost open span id whenever it changes, so Spark jobs
    * submitted under it can name it as their parent. */
  var onEnter: Long => Unit = _ => ()

  def add(s: Span): Unit = synchronized { spans += s }
  def newId(): Long = synchronized { nextId += 1; nextId }
  def all: Seq[Span] = synchronized(spans.toList)

  /** Span duration minus the part of it that its children cover. */
  def selfTimes: Map[String, (Long, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e6
      }
      name -> ((group.size.toLong, group.map(s => (s.end - s.start) / 1e6).sum, self.sum))
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Writes every span (one JSON object a line) and the per-name
    * count / total / self time summary. */
  def write(spansFile: File, summaryFile: File): Unit = {
    spansFile.getParentFile.mkdirs()
    val w = new PrintWriter(spansFile, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
    val summary = selfTimes.toSeq.sortBy(-_._2._3).map { case (n, (c, tot, self)) =>
      n -> Json.obj("count" -> c, "total_ms" -> tot, "self_ms" -> self)
    }
    Json.writeFile(summaryFile, Json.obj(summary: _*))
  }
}

/** Executor-side and planning-side counters, gathered from Spark's
  * public listener APIs while the op loop runs. Job, stage and task
  * spans go to the tracer when it is enabled: a job's parent is the
  * benchmark span open when it was submitted and its op is the loop's,
  * both read from local properties; stages and tasks inherit the op. */
final class SparkCounters(spark: SparkSession, tracer: Tracer) {
  var cpuNs, runMs, gcMs, waitMs, inputB, shufReadB, shufWriteB = 0L
  var jobs, stages, tasks = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  private val stageSubmit = mutable.Map[Int, Long]()
  // stage id -> (its span id, its job's span id, op id)
  private val stageSpan = mutable.Map[Int, (Long, Long, Long)]()
  // job id -> (its span id, parent span id, op id, start ms)
  private val jobSpan = mutable.Map[Int, (Long, Long, Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      if (tracer.enabled) {
        def prop(k: String) = Option(e.properties).flatMap(p =>
          Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
        val (id, op) = (tracer.newId(), prop(SparkCounters.OpKey))
        jobSpan(e.jobId) = (id, prop(SparkCounters.SpanKey), op, e.time)
        e.stageIds.foreach(s => stageSpan(s) = (tracer.newId(), id, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, op, t0) =>
        tracer.add(Span(id, parent, op, "spark.job", t0 * 1000000L, e.time * 1000000L))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages += 1
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stageSpan.remove(info.stageId).foreach { case (id, job, op) =>
        val t0 = info.submissionTime.getOrElse(0L)
        val t1 = info.completionTime.getOrElse(t0)
        tracer.add(Span(id, job, op, "spark.stage", t0 * 1000000L, t1 * 1000000L))
      }
      stageSubmit.remove(info.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        inputB += m.inputMetrics.bytesRead
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
      }
      stageSubmit.get(e.stageId).foreach(s =>
        waitMs += math.max(0L, e.taskInfo.launchTime - s))
      stageSpan.get(e.stageId).foreach { case (stage, _, op) =>
        tracer.add(Span(tracer.newId(), stage, op, "spark.task",
          e.taskInfo.launchTime * 1000000L, e.taskInfo.finishTime * 1000000L))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }

  def start(): Unit = {
    val sc = spark.sparkContext
    tracer.onEnter = id => sc.setLocalProperty(SparkCounters.SpanKey,
      if (id == 0L) null else id.toString)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  def stop(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object SparkCounters {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}
