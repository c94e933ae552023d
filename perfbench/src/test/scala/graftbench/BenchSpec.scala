package graftbench

import java.io.File
import java.sql.Timestamp
import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tooling on tiny inputs: span arithmetic, the
  * listener's attribution of jobs and tasks to calls, generator
  * determinism and the oracles.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dir = Files.createTempDirectory("graftbench-spec").toFile
  private lazy val spark: SparkSession = Main.session(dir, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Dirs.delete(dir)
  }

  test("self time subtracts the union of child intervals, overlaps counted once") {
    val spans = Seq(
      Span(1, 0, 1, "unit", "unit", 0, 100),
      Span(2, 1, 1, "a", "call", 10, 40),
      Span(3, 1, 1, "b", "call", 30, 60),
      Span(4, 1, 1, "c", "call", 90, 120),
      Span(5, 2, 1, "job", "job", 15, 20))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(5) == 5)
  }

  test("quantiles interpolate and the median of nothing is 0") {
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.medianOr0(Nil) == 0.0)
  }

  test("the same seed generates the same inputs, another seed other inputs") {
    def fp(seed: Long) = Gen.fingerprint(Gen.featureTable(spark, seed, "t", 2000, 50, 1000, Seq("v" -> 10L), 2))
    assert(fp(7) == fp(7))
    assert(fp(7) != fp(8))
    assert(Rng.stream(3, "x", 1).nextLong() == Rng.stream(3, "x", 1).nextLong())
    assert(Rng.stream(3, "x", 1).nextLong() != Rng.stream(3, "warm", 1).nextLong())
    val r = Rng.stream(1, "z")
    val counts = Seq.fill(10000)(r.zipf(100)).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(counts.keys.forall(x => x >= 0 && x < 100))
    assert(counts(0) > 5 * counts.getOrElse(20, 1))
  }

  test("row multisets ignore row and column order but not values") {
    val s = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val r1 = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(Array[Any](1L, "x"), s)
    val r2 = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(Array[Any](2L, "y"), s)
    assert(RowHash.multiset(Seq(r1, r2), Seq("a", "b")) == RowHash.multiset(Seq(r2, r1), Seq("a", "b")))
    assert(RowHash.multiset(Seq(r1), Seq("a", "b")) == RowHash.multiset(Seq(Row(1L, "x")), Seq("a", "b")))
    assert(RowHash.multiset(Seq(r1, r1), Seq("a", "b")) != RowHash.multiset(Seq(r1), Seq("a", "b")))
    assert(RowHash.multiset(Seq(r1), Seq("a", "b")) != RowHash.multiset(Seq(r2), Seq("a", "b")))
  }

  test("the listener attributes every job and task of a call to its phase spans") {
    val h = new Harness(spark, 2)
    val tracer = new Tracer
    val listener = new TraceListener
    spark.sparkContext.addSparkListener(listener)
    h.tracer = Some(tracer)
    h.recording = true
    h.unit("u", 1) { req =>
      h.frame(req, "probe")(spark.range(0, 1000, 1, 2).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k")).count())
    }
    h.tracer = None
    h.recording = false
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    tracer.addSparkSpans(listener)
    val spans = tracer.spans
    val call = spans.find(_.kind == "call").get
    val phases = spans.filter(_.parent == call.id)
    assert(phases.map(_.kind).toSet == Set("build", "plan", "exec"))
    val jobs = spans.filter(_.kind == "job")
    assert(jobs.nonEmpty && jobs.forall(j => phases.exists(_.id == j.parent)))
    assert(spans.exists(_.kind == "stage"))
    assert(spans.forall(_.req == call.req))
    val tasks = listener.tasksOf(listener.jobsOfSpans(phases.map(_.id).toSet)).flatMap(_._2)
    assert(tasks.nonEmpty && tasks.map(_.inputRecords).sum >= 0)
    val layers = Layers.compute(h, tracer, listener, 1000000L, 0.0, 0L, 0.0)
    assert(layers("spark.jobs_per_call") >= 1.0)
    assert(layers("spark.tasks_per_call") >= 2.0)
    assert(Layers.Names.map(_._1).toSet.subsetOf(layers.keySet ++ Set(
      "storage.bytes_written_per_input_byte", "storage.files_per_commit", "storage.compact_bytes_rewritten",
      "storage.segments_live", "storage.segments_live_max", "storage.auto_compactions", "catalog.bytes_per_commit", "ops.lsh_candidates_per_true_pair",
      "read_after_commit.p50_ms", "storage.bytes_per_input_byte", "curate.ann_recall_at_k",
      "curate.dedup_pair_recall")))
    assert(h.okCalls.size == 1 && h.okCalls.head.rows == 7)
  }

  test("a failing call fails its unit and is never timed as a success") {
    val h = new Harness(spark, 2)
    h.recording = true
    h.unit("u", 1) { req => h.frame(req, "boom")(spark.sql("SELECT assert_true(false)")) }
    assert(h.attempted == 1 && h.failed.size == 1 && h.okUnits.isEmpty && h.okCalls.isEmpty)
  }

  test("the as-of oracles agree with a brute-force answer") {
    val fs = StructType(Seq(StructField("entity_id", LongType), StructField("timestamp", TimestampType),
      StructField("v", LongType)))
    def ts(s: Long) = new Timestamp(s * 1000L)
    val feat = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, ts(10), 1L), Row(1L, ts(20), 2L), Row(1L, ts(30), 3L), Row(2L, ts(5), 7L)), fs)
    val spine = spark.createDataFrame(java.util.Arrays.asList(
      Row(9L, 0L, 1L, ts(20)), Row(9L, 1L, 1L, ts(25)), Row(9L, 2L, 1L, ts(5)), Row(9L, 3L, 2L, ts(100))),
      StructType(Seq(StructField("call_id", LongType), StructField("sid", LongType)) ++ fs.fields.take(2)))
    val sv = Oracle.view(spine)
    val fv = Oracle.view(feat)
    val cols = Seq("entity_id", "timestamp", "v")
    val k = Oracle.view(Oracle.counts(spark, Oracle.probes(spark, sv, Some(15L)), fv))
    val ranked = Oracle.view(Oracle.ranked(spark, fv, cols, Some("v")))
    val inner = Oracle.asOfInner(spark, k, ranked, cols)
      .collect().map(r => r.getAs[Long]("v")).sorted.toSeq
    assert(inner == Seq(2L, 2L, 7L))
    val left = Oracle.asOfLeft(spark, spark.table(sv), k, ranked, cols, "t_")
      .collect().map(r => r.getAs[Long]("sid") -> Option(r.getAs[java.lang.Long]("t_v")).map(_.toLong)).toMap
    assert(left == Map(0L -> Some(2L), 1L -> Some(2L), 2L -> None, 3L -> Some(7L)))
    val win = Oracle.windowRowsSum(spark, sv, k, ranked, "n", "s").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("timestamp").getTime / 1000, r.getAs[Int]("n"),
        Option(r.getAs[java.lang.Long]("s")).map(_.toLong))).sortBy(_._1).toSeq
    // windows (t - 15, t]: t=5 sees nothing, t=20 sees 10 and 20, t=25 sees 20, t=100 (entity 2) nothing
    assert(win == Seq((5L, 0, None), (20L, 2, Some(3L)), (25L, 1, Some(2L)), (100L, 0, None)))
  }

  test("set-up repetitions leave the cold pass out of the median") {
    val (last, secs) = Harness.repeated(3) { i => Thread.sleep(if (i == 0) 400L else 20L); i }
    assert(last == 3 && secs < 0.2)
  }

  test("the closed loop runs whole units and starts none it expects to overrun") {
    val h = new Harness(spark, 2)
    var n = 0
    h.closedLoop(0.25) { n += 1; Thread.sleep(100L) }
    assert(n == 2)
    var once = 0
    h.closedLoop(0.0) { once += 1 }
    assert(once == 1)
  }

  test("a work directory is removed with everything in it") {
    val d = new File(dir, "nested/deeper")
    d.mkdirs()
    Files.write(new File(d, "f").toPath, Array[Byte](1, 2, 3))
    assert(Dirs.files(new File(dir, "nested")) == 1 && Dirs.bytes(new File(dir, "nested")) == 3)
    Dirs.delete(new File(dir, "nested"))
    assert(!new File(dir, "nested").exists)
  }
}
