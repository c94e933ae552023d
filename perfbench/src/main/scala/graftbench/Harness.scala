package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed public call: build (the API returns a DataFrame or finishes
  * a commit), plan (forcing the executed plan) and exec (collect). Calls
  * that only build (commits) have plan = exec = 0.
  */
final case class CallSample(
    unit: Long, api: String, buildNs: Long, planNs: Long, execNs: Long,
    rows: Long, inputFiles: Int, ok: Boolean, spanId: Long) {
  def totalNs: Long = buildNs + planNs + execNs
}

/** One unit of a workload's work (a training-set build, an ingest commit
  * with its read-back, a curate iteration): the latency end-to-end
  * metrics use.
  */
final case class UnitSample(id: Long, kind: String, startNs: Long, endNs: Long, items: Long,
    traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class Metric(name: String, value: Double, unit: String, samples: Long = 0L)

/** Runs timed calls against the program and keeps what the metrics need.
  * Failures are recorded against their unit and never enter a latency
  * figure: a failed or mismatching unit is dropped from every timing.
  */
final class Harness(val spark: SparkSession, val cores: Int) {
  private val sc = spark.sparkContext
  private val unitIds = new AtomicLong
  private val callQ = new ConcurrentLinkedQueue[CallSample]
  private val unitQ = new ConcurrentLinkedQueue[UnitSample]
  private val failures = TrieMap.empty[Long, String]
  private val attemptedUnits = new AtomicLong

  /** False during warm-up: nothing is recorded. */
  @volatile var recording = false
  /** Set while a `--trace 1` run is in a traced block. */
  @volatile var tracer: Option[Tracer] = None

  final class Req(val id: Long, val span: Long)

  def calls: Seq[CallSample] = callQ.asScala.toList
  def units: Seq[UnitSample] = unitQ.asScala.toList
  def attempted: Long = attemptedUnits.get
  def failed: Map[Long, String] = failures.readOnlySnapshot().toMap
  def okUnits: Seq[UnitSample] = units.filterNot(u => failures.contains(u.id))
  def okCalls: Seq[CallSample] = calls.filter(c => c.ok && !failures.contains(c.unit))
  def tracedCalls: Seq[CallSample] = okCalls.filter(_.spanId != 0)

  /** Seconds during which at least one unit was in flight: throughput is
    * work per busy second, so the benchmark's own bookkeeping between
    * units never counts against the program.
    */
  def busySeconds: Double = {
    var busy, end = 0L
    units.sortBy(_.startNs).foreach { u =>
      if (u.startNs >= end) { busy += u.endNs - u.startNs; end = u.endNs }
      else if (u.endNs > end) { busy += u.endNs - end; end = u.endNs }
    }
    busy / 1e9
  }

  def fail(unit: Long, why: String): Unit = failures.putIfAbsent(unit, why)

  def unit[T](kind: String, items: Long)(body: Req => T): Option[T] = {
    val rec = recording
    val id = unitIds.incrementAndGet()
    val tr = tracer
    val spanId = tr.map(_.nextId()).getOrElse(0L)
    if (rec) attemptedUnits.incrementAndGet()
    val t0 = System.nanoTime()
    val r = try Right(body(new Req(id, spanId))) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    tr.foreach(_.record(Span(spanId, 0L, id, kind, "unit", t0, t1)))
    if (rec) unitQ.add(UnitSample(id, kind, t0, t1, items, tr.isDefined))
    r match {
      case Right(v) => Some(v)
      case Left(e) =>
        if (rec) fail(id, s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** A public call returning a DataFrame, collected. */
  def frame(req: Req, api: String)(build: => DataFrame): Array[Row] = {
    val callSpan = tracer.map(_.nextId()).getOrElse(0L)
    val t0 = System.nanoTime()
    var tb, tp, te = t0
    var ok = false
    var rows = 0L
    var files = 0
    try {
      val df = phase(req, callSpan, "build")(build)
      tb = System.nanoTime()
      phase(req, callSpan, "plan")(df.queryExecution.executedPlan)
      tp = System.nanoTime()
      val out = phase(req, callSpan, "exec")(df.collect())
      te = System.nanoTime()
      rows = out.length
      ok = true
      if (tracer.isDefined) files = df.inputFiles.length
      out
    } finally {
      if (!ok) te = System.nanoTime()
      val (b, p) = if (ok) (tb - t0, tp - tb) else (te - t0, 0L)
      finish(req, api, callSpan, t0, te, b, p, if (ok) te - tp else 0L, rows, files, ok)
    }
  }

  /** A public call that does its work when called (a commit). */
  def action[T](req: Req, api: String)(body: => T): T = {
    val callSpan = tracer.map(_.nextId()).getOrElse(0L)
    val t0 = System.nanoTime()
    var ok = false
    try { val v = phase(req, callSpan, "build")(body); ok = true; v }
    finally {
      val te = System.nanoTime()
      finish(req, api, callSpan, t0, te, te - t0, 0L, 0L, 0L, 0, ok)
    }
  }

  private def finish(req: Req, api: String, callSpan: Long, t0: Long, te: Long,
      b: Long, p: Long, x: Long, rows: Long, files: Int, ok: Boolean): Unit = {
    tracer.foreach(_.record(Span(callSpan, req.span, req.id, api, "call", t0, te,
      Map("rows" -> rows.toDouble, "input_files" -> files.toDouble))))
    if (recording) callQ.add(CallSample(req.id, api, b, p, x, rows, files, ok, callSpan))
  }

  private def phase[T](req: Req, callSpan: Long, kind: String)(body: => T): T =
    tracer match {
      case None => body
      case Some(tr) =>
        val id = tr.nextId()
        sc.setLocalProperty(Tracer.SpanProperty, id.toString)
        sc.setLocalProperty(Tracer.ReqProperty, req.id.toString)
        val t0 = System.nanoTime()
        try body
        finally {
          tr.record(Span(id, callSpan, req.id, kind, kind, t0, System.nanoTime()))
          sc.setLocalProperty(Tracer.SpanProperty, null)
          sc.setLocalProperty(Tracer.ReqProperty, null)
        }
    }

  /** Closed loop, one client: the next unit starts when the previous one
    * returned and is expected to end within `seconds`, judged by the
    * previous unit's duration (at least one unit runs). A run therefore
    * measures whole units for at most about `seconds`.
    */
  def closedLoop(seconds: Double)(op: => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var last = 0L
    do {
      val t0 = System.nanoTime()
      op
      last = System.nanoTime() - t0
    } while (System.nanoTime() + last <= deadline)
  }

  /** Live heap after a full collection, in MB: what the run keeps alive
    * (cached inputs, memos, catalogs), not transient garbage.
    */
  def liveHeapMb(): Double = {
    // the second collection also frees what the first one let Spark's
    // context cleaner drop (broadcast and shuffle blocks of dead queries)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Harness {
  /** Runs `body(0)` once untimed, the cold pass (class loading, codegen,
    * JIT), then `body(1)` to `body(reps)` timed; returns the last value
    * and the median wall time of the timed passes in seconds.
    */
  def repeated[T](reps: Int)(body: Int => T): (T, Double) = {
    var last = body(0)
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      last = body(i)
      (System.nanoTime() - t0) / 1e9
    }
    (last, Stats.median(times))
  }

  /** Runs independent benchmark-side jobs (input materialization, oracle
    * collects) side by side; results in input order.
    */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(tasks.map(t => Future(t()))), scala.concurrent.duration.Duration.Inf)
  }
}
