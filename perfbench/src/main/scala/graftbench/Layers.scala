package graftbench

/** Per-layer metrics of the traced units, from their call samples, the
  * spans and the listener's task metrics. A layer the workload never calls
  * reads 0 — which is itself the prediction for that workload.
  */
object Layers {
  /** Every per-layer metric, with its unit. Order is the report order. */
  val Names: Seq[(String, String)] = Seq(
    "store.get.build_ms" -> "ms",
    "store.getRecent.build_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "spark.jobs_per_call" -> "count",
    "spark.tasks_per_call" -> "count",
    "spark.input_files_per_call" -> "count",
    "spark.rows_examined_per_result" -> "ratio",
    "codegen.compile_ms_per_call" -> "ms",
    "train.getTrainingSet.s" -> "s",
    "train.getFeatureView.s" -> "s",
    "train.getWindowFeatures.s" -> "s",
    "spark.shuffle_bytes_per_row" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.task_skew" -> "ratio",
    "spark.cpu_busy_ratio" -> "ratio",
    "spark.gc_ms_per_call" -> "ms",
    "store.registerAppend.ms" -> "ms",
    "store.registerUpsert.ms" -> "ms",
    "store.deleteRowsByKeys.ms" -> "ms",
    "store.compact.ms" -> "ms",
    "storage.bytes_written_per_input_byte" -> "ratio",
    "storage.files_per_commit" -> "count",
    "storage.compact_bytes_rewritten" -> "bytes",
    "storage.segments_live" -> "count",
    "storage.segments_live_max" -> "count",
    "storage.auto_compactions" -> "count",
    "catalog.bytes_per_commit" -> "bytes",
    "ops.exactDuplicates.s" -> "s",
    "ops.verifiedNearDupPairs.s" -> "s",
    "ops.ivfTopK.s" -> "s",
    "ops.qualityScore.s" -> "s",
    "ops.lsh_candidates_per_true_pair" -> "ratio",
    "read_after_commit.p50_ms" -> "ms",
    "storage.bytes_per_input_byte" -> "ratio",
    "curate.ann_recall_at_k" -> "ratio",
    "curate.dedup_pair_recall" -> "ratio",
    "trace.overhead_ratio" -> "ratio",
    "trace.spans_per_call" -> "count",
    "trace.self.unit_ms" -> "ms",
    "trace.self.call_ms" -> "ms",
    "trace.self.build_ms" -> "ms",
    "trace.self.plan_ms" -> "ms",
    "trace.self.exec_ms" -> "ms",
    "trace.self.job_ms" -> "ms",
    "trace.self.stage_ms" -> "ms")

  /** Median of one API's per-call figure, in the metric's unit. */
  private def perApi(calls: Seq[CallSample], api: String, f: CallSample => Long, scale: Double): Double =
    Stats.medianOr0(calls.filter(_.api == api).map(c => f(c) / scale))

  def compute(
      h: Harness, tracer: Tracer, listener: TraceListener, wallNs: Long,
      gcMs: Double, compileNs: Long, overheadRatio: Double): Map[String, Double] = {
    val calls = h.tracedCalls
    val n = math.max(1, calls.size).toDouble
    val frames = calls.filter(_.execNs > 0)
    val results = frames.map(_.rows).sum.toDouble
    val spans = tracer.spans
    val callOf: Map[Long, Long] = spans.filter(s => Set("build", "plan", "exec")(s.kind))
      .map(s => s.id -> s.parent).toMap
    val jobs = listener.jobsOfSpans(callOf.keySet)
    val jobsByCall = jobs.groupBy(j => callOf(j.span))
    val tasksByCall = jobsByCall.map { case (c, js) => c -> listener.tasksOf(js) }
    val allTasks = tasksByCall.values.flatten.flatMap(_._2).toSeq
    val skew = tasksByCall.values.flatMap { stages =>
      val widest = stages.map(_._2).filter(_.size >= 2).sortBy(-_.size).headOption
      widest.map { ts =>
        val d = ts.map(_.durMs.toDouble)
        d.max / math.max(1.0, Stats.median(d))
      }
    }.toSeq
    val self = Tracer.selfTimes(spans)
    def selfMs(kind: String): Double =
      spans.filter(_.kind == kind).map(s => self(s.id)).sum / 1e6 / n
    val ms = 1e6
    val s = 1e9
    Map(
      "store.get.build_ms" -> perApi(calls, "store.get", _.buildNs, ms),
      "store.getRecent.build_ms" -> perApi(calls, "store.getRecent", _.buildNs, ms),
      "spark.plan_ms" -> Stats.medianOr0(frames.map(_.planNs / ms)),
      "spark.exec_ms" -> Stats.medianOr0(frames.map(_.execNs / ms)),
      "spark.jobs_per_call" -> jobs.size / n,
      "spark.tasks_per_call" -> allTasks.size / n,
      "spark.input_files_per_call" -> Stats.ratio(frames.map(_.inputFiles).sum, frames.size),
      "spark.rows_examined_per_result" -> Stats.ratio(allTasks.map(_.inputRecords).sum, results),
      "codegen.compile_ms_per_call" -> compileNs / ms / n,
      "train.getTrainingSet.s" -> perApi(calls, "store.getTrainingSet", _.totalNs, s),
      "train.getFeatureView.s" -> perApi(calls, "store.getFeatureView", _.totalNs, s),
      "train.getWindowFeatures.s" -> perApi(calls, "store.getWindowFeatures", _.totalNs, s),
      "spark.shuffle_bytes_per_row" -> Stats.ratio(allTasks.map(_.shuffleWriteBytes).sum, results),
      "spark.spill_bytes" -> allTasks.map(_.spillBytes).sum.toDouble,
      "spark.task_skew" -> Stats.medianOr0(skew),
      "spark.cpu_busy_ratio" -> Stats.ratio(allTasks.map(_.cpuNs).sum, wallNs.toDouble * h.cores),
      "spark.gc_ms_per_call" -> gcMs / n,
      "store.registerAppend.ms" -> perApi(calls, "store.registerAppend", _.totalNs, ms),
      "store.registerUpsert.ms" -> perApi(calls, "store.registerUpsert", _.totalNs, ms),
      "store.deleteRowsByKeys.ms" -> perApi(calls, "store.deleteRowsByKeys", _.totalNs, ms),
      "store.compact.ms" -> perApi(calls, "store.compact", _.totalNs, ms),
      "ops.exactDuplicates.s" -> perApi(calls, "ops.exactDuplicates", _.totalNs, s),
      "ops.verifiedNearDupPairs.s" -> perApi(calls, "ops.verifiedNearDupPairs", _.totalNs, s),
      "ops.ivfTopK.s" -> perApi(calls, "ops.ivfTopK", _.totalNs, s),
      "ops.qualityScore.s" -> perApi(calls, "ops.qualityScore", _.totalNs, s),
      "trace.overhead_ratio" -> overheadRatio,
      "trace.spans_per_call" -> spans.size / n,
      "trace.self.unit_ms" -> selfMs("unit"),
      "trace.self.call_ms" -> selfMs("call"),
      "trace.self.build_ms" -> selfMs("build"),
      "trace.self.plan_ms" -> selfMs("plan"),
      "trace.self.exec_ms" -> selfMs("exec"),
      "trace.self.job_ms" -> selfMs("job"),
      "trace.self.stage_ms" -> selfMs("stage"))
  }

  /** Output bytes the given calls' jobs wrote (commit write amplification). */
  def outputBytes(listener: TraceListener, tracer: Tracer, callSpans: Set[Long]): Long = {
    val phaseIds = tracer.spans.filter(s => callSpans.contains(s.parent)).map(_.id).toSet
    listener.tasksOf(listener.jobsOfSpans(phaseIds)).flatMap(_._2).map(_.outputBytes).sum
  }
}
