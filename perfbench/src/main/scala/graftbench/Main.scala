package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload gives the run loop in [[Main]]. */
trait Workload {
  /** Generates inputs and brings the program to its serving state: the
    * program's share runs once cold, then `reps` times timed; returns the
    * median seconds of the timed repetitions.
    */
  def setup(reps: Int): Double
  /** Fingerprint of every generated input (same seed, same value). */
  def fingerprint: String
  /** Calls on an input stream disjoint from the timed one. */
  def warmup(): Unit
  /** The timed loop. */
  def measure(seconds: Double): Unit
  /** Checks every recorded unit against its oracle, failing mismatches. */
  def verify(): Unit
  /** 1.0 when every checked result is right; recall where a workload
    * finds planted ground truth.
    */
  def resultRecall: Double
  /** The workload's own named end-to-end figures for the report line. */
  def named(busyS: Double): Seq[Metric]
  /** Workload-specific per-layer metrics of the traced units. */
  def layerExtras(tracer: Tracer, listener: TraceListener): Map[String, Double] = Map.empty
  /** A one-line statement of the loop: closed/batch and client count. */
  def loop: String
}

final case class Ctx(spark: SparkSession, h: Harness, seed: Long, dir: File, cores: Int)

object Main {
  val Workloads: Map[String, Ctx => Workload] = Map(
    "train_asof" -> (new TrainAsOf(_)),
    "ingest_mix" -> (new IngestMix(_)),
    "curate_corpus" -> (new CurateCorpus(_)))

  val SetupReps = 2

  def session(dir: File, cores: Int): SparkSession = {
    val local = new File(dir, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "131072")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // status stores keep finished queries in memory; a long fast run
      // must not read as a larger heap than a short slow one
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val dir = new File(need("work-dir"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    run(name, seed, seconds, need("trace") == "1", dir, cores, opts.get("trace-out").map(new File(_)))
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean, dir: File, cores: Int,
      traceOut: Option[File]): Unit = {
    val make = Workloads.getOrElse(name,
      sys.error(s"unknown workload '$name' (${Workloads.keys.toSeq.sorted.mkString(", ")})"))

    val started = System.nanoTime()
    def progress(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - started) / 1e9}%.1fs")
    val spark = session(dir, cores)
    progress("session up")
    val h = new Harness(spark, cores)
    val wl = make(Ctx(spark, h, seed, dir, cores))
    val setupS = wl.setup(SetupReps)
    println(s"FINGERPRINT $name seed=$seed ${wl.fingerprint}")
    progress("set up")
    wl.warmup()
    progress("warmed up")

    def phase(secs: Double): Unit = {
      h.recording = true
      wl.measure(secs)
      h.recording = false
      progress("measured")
    }

    val out: Seq[Metric] =
      if (!trace) {
        phase(seconds)
        // after the checks, which drop what they held: the heap is then
        // the program's state, not the number of results awaiting a check
        wl.verify()
        val heap = h.liveHeapMb()
        val lat = h.okUnits.map(_.ms)
        val items = h.okUnits.map(_.items).sum
        println(s"UNITS ${h.units.map(u => f"${u.ms}%.0f").mkString(" ")} ms")
        val e2e = Seq(
          Metric("setup_s", setupS, "s", SetupReps),
          Metric("p50_ms", Stats.medianOr0(lat), "ms", lat.size),
          Metric("throughput_per_s", Stats.ratio(items, h.busySeconds), "1/s", lat.size),
          Metric("peak_heap_mb", heap, "MB", 1),
          Metric("result_recall", wl.resultRecall, "ratio", lat.size))
        val common = Seq(
          Metric("setup_s", setupS, "s", SetupReps),
          Metric("fail_ratio", Stats.ratio(h.failed.size, h.attempted), "failed/attempted", h.attempted),
          Metric("peak_heap_mb", heap, "MB", 1),
          Metric("unit.p50_ms", Stats.medianOr0(lat), "ms", lat.size),
          Metric("unit.p90_ms", if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.9), "ms", lat.size))
        (common ++ wl.named(h.busySeconds)).foreach(m => println("REPORT " + Json.obj(Seq(
          "workload" -> name, "loop" -> wl.loop, "metric" -> m.name, "value" -> m.value,
          "unit" -> m.unit, "samples" -> m.samples))))
        e2e
      } else {
        // untraced and traced blocks in the order U T T U: a steady drift
        // in speed (JIT warm-up, host load) weighs on both sides alike, so
        // the difference of their medians is the tracing overhead
        val sc = spark.sparkContext
        val tracer = new Tracer
        val listener = new TraceListener
        var tracedNs, tracedGcMs, tracedCompileNs = 0L
        Seq(false, true, true, false).foreach { on =>
          if (on) { sc.addSparkListener(listener); h.tracer = Some(tracer) }
          val (t0, gc0, cc0) = (System.nanoTime(), gcMs(), compileNs())
          phase(seconds / 4)
          if (on) {
            h.tracer = None
            tracedNs += System.nanoTime() - t0
            tracedGcMs += gcMs() - gc0
            tracedCompileNs += compileNs() - cc0
            org.apache.spark.BenchBus.drain(sc)
            sc.removeSparkListener(listener)
          }
        }
        tracer.addSparkSpans(listener)
        wl.verify()
        val (tracedUnits, untracedUnits) = h.okUnits.partition(_.traced)
        val traced = Stats.medianOr0(tracedUnits.map(_.ms))
        val untraced = Stats.medianOr0(untracedUnits.map(_.ms))
        val layers = Layers.compute(h, tracer, listener, tracedNs, tracedGcMs.toDouble,
          tracedCompileNs, Stats.ratio(traced - untraced, untraced)) ++ wl.layerExtras(tracer, listener)
        traceOut.foreach { f =>
          f.getParentFile.mkdirs()
          Files.write(f.toPath, tracer.spans.map(Tracer.toJson).asJava, StandardCharsets.UTF_8)
          println(s"SPANS ${tracer.spans.size} -> ${f.getPath}")
        }
        println(s"TRACE untraced_unit_ms=$untraced (${untracedUnits.size}) traced_unit_ms=$traced (${tracedUnits.size})")
        Layers.Names.map { case (n, u) => Metric(n, layers.getOrElse(n, 0.0), u) }
      }

    progress("verified")
    val failures = h.failed.toSeq.sortBy(_._1).map(_._2)
    val attempted = h.attempted
    failures.take(20).foreach(why => println(s"FAILED $why"))
    println(Json.obj(Seq(
      "correct" -> (failures.isEmpty && attempted > 0),
      "attempted" -> math.max(1L, attempted),
      "failed" -> failures.size.toLong,
      "metrics" -> Json.RawJson(Json.obj(out.map(m =>
        m.name -> Json.RawJson(Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))))))))
    System.out.flush()
    spark.stop()
  }
}
