package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** One traced interval. Times are epoch microseconds so driver-side spans
  * (System.nanoTime) and listener-reported jobs and stages (epoch ms) share
  * one clock. `attrs` carries counts measured at the same boundary. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startUs: Long, var endUs: Long = -1L,
    attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** In-memory span recorder. Spans are opened and closed on the client
  * thread; Spark jobs and stages are attached to the innermost open span
  * through a job-group local property, and their task metrics are summed
  * onto the stage span by a SparkListener. Everything stays in memory
  * until the run ends and [[Trace.json]] renders it. */
final class Trace(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val nanoToEpochUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = System.nanoTime() / 1000L + nanoToEpochUs

  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Long]()
  private val stageSpan = mutable.Map[(Int, Int), Span]()
  private val stageJob = mutable.Map[Int, Long]()
  private val jobsOpen = new AtomicLong(0)
  val planPhaseMs: mutable.Map[String, Double] = mutable.Map.empty

  private val SpanKey = "perfbench.span"

  private def add(s: Span): Span = synchronized { spans += s; s }

  @volatile private var recording = false

  /** Run `body` inside a new child span of the innermost open span (a
    * plain call before [[start]]). */
  def span[A](name: String, kind: String)(body: => A): A =
    if (!recording) body
    else {
      val parent = if (open.isEmpty) 0L else open.top
      val s = add(Span(ids.incrementAndGet(), parent, name, kind, nowUs()))
      open.push(s.id)
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endUs = nowUs()
        open.pop()
        spark.sparkContext.setLocalProperty(SpanKey,
          if (open.isEmpty) null else open.top.toString)
      }
    }

  /** Add `v` to attribute `k` of the most recent span of `kind`. */
  def attrLast(kind: String, k: String, v: Double): Unit = synchronized {
    spans.reverseIterator.find(_.kind == kind).foreach { s =>
      s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      val j = add(Span(ids.incrementAndGet(), parent, s"job ${e.jobId}",
        "job", e.time * 1000L, attrs = mutable.Map("job_id" -> e.jobId.toDouble)))
      jobsOpen.incrementAndGet()
      synchronized { e.stageIds.foreach(sid => stageJob(sid) = j.id) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      spans.reverseIterator.find(s => s.kind == "job" &&
        s.attrs.get("job_id").contains(e.jobId.toDouble))
        .foreach(_.endUs = e.time * 1000L)
      jobsOpen.decrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val info = e.stageInfo
        val parent = stageJob.getOrElse(info.stageId, 0L)
        val start = info.submissionTime.getOrElse(System.currentTimeMillis())
        stageSpan((info.stageId, info.attemptNumber())) = add(Span(
          ids.incrementAndGet(), parent, s"stage ${info.stageId}", "stage",
          start * 1000L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        stageSpan.get((info.stageId, info.attemptNumber())).foreach { s =>
          s.endUs = info.completionTime.getOrElse(
            System.currentTimeMillis()) * 1000L
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val a = s.attrs
        def inc(k: String, v: Double): Unit = a(k) = a.getOrElse(k, 0.0) + v
        inc("tasks", 1)
        if (e.reason != org.apache.spark.Success) inc("failed_tasks", 1)
        val launchUs = e.taskInfo.launchTime * 1000L
        a("first_launch_us") = math.min(
          a.getOrElse("first_launch_us", Double.MaxValue), launchUs.toDouble)
        val m = e.taskMetrics
        if (m != null) {
          inc("task_run_s", m.executorRunTime / 1e3)
          inc("task_cpu_s", m.executorCpuTime / 1e9)
          inc("gc_s", m.jvmGCTime / 1e3)
          inc("input_bytes", m.inputMetrics.bytesRead.toDouble)
          inc("shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          inc("shuffle_read_bytes",
            m.shuffleReadMetrics.totalBytesRead.toDouble)
          inc("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          inc("spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          inc("result_bytes", m.resultSize.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        planPhaseMs(phase) = planPhaseMs.getOrElse(phase, 0.0) + p.durationMs
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = phases(qe)
  }

  def start(): Unit = {
    recording = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Stop listening once every started job has ended, so no late event
    * lands after the spans are written. Bounded wait: listener delivery
    * is asynchronous. */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobsOpen.get() > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    recording = false
  }

  def json: JValue = synchronized {
    JArray(spans.toList.map { s =>
      JObject("id" -> JLong(s.id), "parent" -> JLong(s.parent),
        "name" -> JString(s.name), "kind" -> JString(s.kind),
        "start_us" -> JLong(s.startUs), "end_us" -> JLong(s.endUs),
        "attrs" -> JObject(s.attrs.toList.map { case (k, v) =>
          k -> JDouble(v) }))
    })
  }
}
