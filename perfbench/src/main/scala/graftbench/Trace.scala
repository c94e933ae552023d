package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._

/** One traced interval. `parent` is 0 for a request's root span; every
  * span of one request carries its `req` id. Times are nanoseconds on
  * the tracer's clock.
  */
final case class Span(
    id: Long, parent: Long, req: Long, name: String, kind: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: spans are kept until the run ends and are
  * then written out in one go, so tracing does no I/O while measuring.
  * Spark jobs and stages become spans too, linked to the phase that
  * submitted them through a job-local property (see [[TraceListener]]).
  */
final class Tracer {
  private val ids = new AtomicLong
  private val done = mutable.ArrayBuffer.empty[Span]
  // wall-clock epoch of the nano clock, to place listener (epoch-ms) events
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = done.synchronized { done += s }
  def spans: Seq[Span] = done.synchronized(done.toList)
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** Job and stage spans from the listener, parented to the phase span
    * whose id the submitting thread carried.
    */
  def addSparkSpans(l: TraceListener): Unit = l.synchronized {
    l.jobs.values.filter(j => j.span > 0 && j.endMs >= 0).foreach { j =>
      val jobSpan = nextId()
      record(Span(jobSpan, j.span, j.req, s"job ${j.jobId}", "job",
        fromEpochMs(j.startMs), fromEpochMs(j.endMs),
        Map("stages" -> j.stageIds.size.toDouble)))
      j.stageIds.flatMap(l.stages.get).filter(s => s.endMs >= 0 && s.startMs >= 0 &&
        s.tasks.nonEmpty).foreach { s =>
        record(Span(nextId(), jobSpan, j.req, s"stage ${s.stageId}", "stage",
          fromEpochMs(s.startMs), fromEpochMs(s.endMs),
          Map("tasks" -> s.tasks.size.toDouble)))
      }
    }
  }
}

object Tracer {
  /** Span id a thread's Spark jobs are attributed to. */
  val SpanProperty = "graftbench.span"
  val ReqProperty = "graftbench.req"

  /** Per span: its duration minus the part of its interval covered by
    * its children (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def toJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
    "kind" -> s.kind, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "attrs" -> Json.RawJson(Json.obj(s.attrs.toSeq.sortBy(_._1)))))
}

/** Per-task figures the per-layer metrics are built from. */
final case class TaskRec(
    durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputRecords: Long, inputBytes: Long, outputBytes: Long, outputRecords: Long)

final class JobRec(val jobId: Int, val req: Long, val span: Long, val startMs: Long,
    val stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

final class StageRec(val stageId: Int) {
  var startMs: Long = -1L
  var endMs: Long = -1L
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
}

/** Collects jobs, stages and task metrics, keyed by the request and span
  * ids the submitting thread set as job-local properties. Attached from
  * outside the program: nothing under test knows it exists.
  */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toLongOption).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, prop(e.properties, Tracer.ReqProperty),
      prop(e.properties, Tracer.SpanProperty), e.time, e.stageIds)
    e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageRec(id)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
    s.startMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
    s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      s.tasks += TaskRec(
        durMs = e.taskInfo.duration,
        runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRecords = m.inputMetrics.recordsRead,
        inputBytes = m.inputMetrics.bytesRead,
        outputBytes = m.outputMetrics.bytesWritten,
        outputRecords = m.outputMetrics.recordsWritten)
    }
  }

  /** Jobs submitted from the given phase spans. */
  def jobsOfSpans(spanIds: Set[Long]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toList
  }

  /** Tasks of every stage the given jobs ran, per stage. */
  def tasksOf(js: Seq[JobRec]): Seq[(Int, Seq[TaskRec])] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(id => stages.get(id))
      .map(s => s.stageId -> s.tasks.toList)
  }
}
