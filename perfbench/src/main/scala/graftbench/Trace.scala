package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. Spans carry wall-clock milliseconds (with
  * fractional part) so they line up with Spark's job timestamps; they
  * are written out once, when the run ends. */
final case class Span(id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Any])

final class Spans {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // Wall clock anchored once, advanced with the monotonic clock.
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, startMs: Double,
             endMs: Double, attrs: Map[String, Any] = Map.empty): Unit =
    done.add(Span(id, parent, name, startMs, endMs, attrs))

  /** Time `f` as a span named `name` under `parent`; `f` receives the
    * new span's id so its own callees can nest under it. */
  def span[T](parent: Long, name: String)(f: Long => T): T = {
    val id = newId()
    val t0 = nowMs()
    try f(id)
    finally record(id, parent, name, t0, nowMs())
  }

  def all: Seq[Span] = done.asScala.toSeq

  def toJson: Seq[String] = all.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs.toSeq)
  }
}

/** Spark-side counters, keyed by the span id the calling thread put in
  * the `graftbench.span` local property before it ran the job (0 when
  * untagged, e.g. jobs the HTTP server threads run). */
final class SparkTap(sc: SparkContext) extends SparkListener {
  import SparkTap._
  final class Acc {
    var stages = 0L; var tasks = 0L; var taskBusyMs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var outputBytes = 0L; var outputRows = 0L; var taskFailures = 0L
    var longestTaskMs = 0L
    def toMap: Map[String, Any] = Map("stages" -> stages, "tasks" -> tasks,
      "task_busy_ms" -> taskBusyMs, "gc_ms" -> gcMs,
      "input_bytes" -> inputBytes, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes,
      "output_rows" -> outputRows, "task_failures" -> taskFailures,
      "longest_task_ms" -> longestTaskMs)
  }
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageSpan = scala.collection.mutable.HashMap[Int, Long]()
  private val accs = scala.collection.mutable.HashMap[Long, Acc]()
  private def acc(span: Long) = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = Job(e.jobId, span, e.time, -1L, e.stageIds, ok = false)
    e.stageIds.foreach(stageSpan(_) = span)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, 0L))
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.taskFailures += 1
    a.longestTaskMs = math.max(a.longestTaskMs, e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      a.taskBusyMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRows += m.outputMetrics.recordsWritten
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1 }

  def tag(span: Long): Unit = sc.setLocalProperty(SpanKey, span.toString)
  def untag(): Unit = sc.setLocalProperty(SpanKey, null)

  /** Wait (bounded) until every started job has reported its end: the
    * listener bus delivers events asynchronously. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.endMs < 0)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // trailing task/stage events of the last job
  }

  def jobsJson: Seq[String] = synchronized {
    jobs.values.toSeq.map(j => Json.obj(Seq("id" -> j.id, "span" -> j.span,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages.size,
      "ok" -> j.ok)))
  }
  def accsJson: Seq[String] = synchronized {
    accs.toSeq.map { case (span, a) => Json.obj(("span" -> span) +: a.toMap.toSeq) }
  }
}

object SparkTap {
  val SpanKey = "graftbench.span"
  final case class Job(id: Int, span: Long, startMs: Long,
                       var endMs: Long, stages: Seq[Int], var ok: Boolean)
}
