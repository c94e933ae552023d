package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Profiling
import graft.store.FeatureStore
import graft.store.FeatureStore.MutationKernel.{Auto, OnSpark}

/** How many Spark SQL executions a call starts, counted by a listener.
  * On inputs this small each execution is mostly fixed driver and stage
  * overhead, so the count is what a commit's latency follows.
  */
class ExecutionCountSpec extends AnyFunSuite with SparkTestBase {

  /** SQL executions, jobs outside any SQL execution (footer-inference
    * jobs of `spark.read.parquet` and other driver-side helpers) and
    * jobs in all, started while a body runs.
    */
  private case class Counts(execs: Int, bareJobs: Int, jobs: Int)

  private def counted(body: => Unit): Counts = {
    val execs = new AtomicInteger()
    val bareJobs = new AtomicInteger()
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet(); ()
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .isEmpty) { bareJobs.incrementAndGet(); () }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      try body
      finally {
        // listener delivery is async: poll until the counts are stable
        var last = Counts(-1, -1, -1)
        var stable = 0
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (stable < 3 && System.nanoTime() < deadline) {
          val c = Counts(execs.get(), bareJobs.get(), jobs.get())
          if (c == last) stable += 1 else { stable = 0; last = c }
          Thread.sleep(100)
        }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    Counts(execs.get(), bareJobs.get(), jobs.get())
  }

  test("small commits run no Spark job; a delta over the bound takes Spark") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_small_commits").toString)
    def key(i: Int, month: Int) = (s"e${i % 7}", ts(f"2024-$month%02d-${i % 27 + 1}%02d"))
    def rows(from: Int, n: Int, month: Int) = (from until from + n)
      .map { i => val (e, t) = key(i, month); (e, t, i.toDouble) }
      .toDF("entity_id", "timestamp", "v")
    def keys(ks: (String, java.sql.Timestamp)*) = ks.toDF("entity_id", "timestamp")
    store.register("t", rows(0, 40, 1))
    def jobs(body: => Unit): Int = counted(body).jobs
    assert(jobs(store.registerAppend("t", rows(40, 30, 2), maxSegments = 10)) == 0,
      "append")
    assert(jobs(store.compact("t")) == 0, "compact")
    store.registerAppend("t", rows(70, 30, 3), maxSegments = 10)
    assert(jobs(store.registerAppend("t", rows(100, 30, 4), maxSegments = 2)) == 0,
      "auto-compacting append")
    assert(store.currentSegmentStats("t").map(_.size).contains(1))
    store.registerAppend("t", rows(130, 30, 5), maxSegments = 10)
    // replaces two rows of the May segment and inserts one
    val delta = Seq((key(131, 5), -1.0), (key(140, 5), -2.0), (("e9", ts("2024-05-03")), -3.0))
      .map { case ((e, t), v) => (e, t, v) }.toDF("entity_id", "timestamp", "v")
    assert(jobs(store.registerUpsert("t", delta)) == 0, "upsert")
    assert(jobs(store.registerRewrite("t", delta.limit(1), keys(key(135, 5)))) == 0,
      "rewrite")
    assert(jobs(store.deleteRowsByKeys("t", keys(key(141, 5)))) == 0, "delete")
    // a segment whose rows the keys match wholly is dropped unwritten
    store.registerAppend("t", rows(160, 2, 6), maxSegments = 10)
    val whole = keys(key(160, 6), key(161, 6))
    assert(jobs(store.deleteRowsByKeys("t", whole)) == 0, "wholly matched delete")
    assert(jobs(store.deleteRowsByKeys("t", whole)) == 0, "no-match delete")
    assert(store.getTableInfo("t").rowCount == 160 + 1 - 1 - 1)

    // a delta one row over the bound: the Spark kernel, whose bounds
    // aggregate, change set and rewrite each run at least one job
    val large = spark.range(FeatureStore.DriverMutationMaxRows + 1).select(
      concat(lit("n"), col("id").cast("string")).as("entity_id"),
      lit(ts("2024-07-01")).as("timestamp"), col("id").cast("double").as("v"))
    val before = store.getTableInfo("t").rowCount
    assert(jobs(store.registerUpsert("t", large)) > 3, "a delta over the bound")
    assert(store.getTableInfo("t").rowCount == before + FeatureStore.DriverMutationMaxRows + 1)
  }

  test("wide rows past the byte bound take the Spark kernel; local deltas past it the exchange") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_byte_bound").toString)
    // 200 rows of about 1 KiB each, all in one January segment
    val pad = "x" * 1000
    def wide(from: Int, n: Int, tag: String) = (from until from + n)
      .map(i => (s"e$i", ts(f"2024-01-${i % 28 + 1}%02d"), tag + pad)).toDF("entity_id", "timestamp", "s")
    store.register("t", wide(0, 200, "a"))
    def upsert(kernel: FeatureStore.MutationKernel, i: Int, tag: String) = counted(
      store.registerUpsertOn(kernel, "t", wide(i, 1, tag))).jobs
    // within both bounds: the driver kernel, written on the driver
    assert(upsert(Auto(maxRows = 1000, maxBytes = 1L << 20), 3, "b") == 0)
    // within the row bound but not the byte bound: the driver's read
    // stops part way and the Spark kernel runs, to the same result
    assert(upsert(Auto(maxRows = 1000, maxBytes = 100L << 10), 5, "c") > 2)
    val deleted = counted(store.deleteRowsByKeysOn(Auto(maxRows = 1000, maxBytes = 100L << 10),
      "t", Seq(("e7", ts("2024-01-08"))).toDF("entity_id", "timestamp"))).jobs
    assert(deleted > 2)
    val got = store.get("t", Seq("e3", "e5", "e7", "e9"), ts("2024-02-01")).collect()
      .map(r => r.getString(0) -> r.getString(2).take(1)).toMap
    assert(got == Map("e3" -> "b", "e5" -> "c", "e9" -> "a"))
    assert(store.getTableInfo("t").rowCount == 199)

    // a local delta of few rows and more than LocalRowsMaxBytes bytes:
    // the exchanged write (its two jobs), not the single task
    val big = "y" * (1 << 20)
    val rows = (FeatureStore.LocalRowsMaxBytes >> 20).toInt + 1
    val heavy = (0 until rows).map(i => (s"h$i", ts("2024-02-01"), big))
      .toDF("entity_id", "timestamp", "s")
    assert(counted(store.registerAppend("t", heavy, maxSegments = 10)).jobs == 2)
    assert(store.getTableInfo("t").rowCount == 199 + rows)
    // a compaction of few rows and more than LocalRowsMaxBytes bytes: the
    // driver's read of the segments stops part way, Spark reads and
    // writes them
    assert(counted(store.compact("t")).jobs > 0)
    assert(store.currentSegmentStats("t").map(_.size).contains(1))
    assert(store.getTableInfo("t").rowCount == 199 + rows)
    assert(store.get("t", Seq("h0", "e3"), ts("2024-03-01")).collect()
      .map(r => r.getString(0) -> r.getString(2).take(1)).toMap == Map("h0" -> "y", "e3" -> "b"))
  }

  test("small commits leave no Observation registered in the session") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graftbridge.driverWrite
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_observations").toString)
    def rows(from: Int, n: Int) = (from until from + n)
      .map(i => (s"e${i % 5}", ts(f"2024-01-${i % 28 + 1}%02d"), i.toDouble))
      .toDF("entity_id", "timestamp", "v")
    store.register("t", rows(0, 10))
    store.addConstraint("t", "positive", "v >= 0")
    val before = driverWrite.pendingObservations(spark)
    (1 to 200).foreach { i =>
      i % 4 match {
        case 0 => store.registerUpsert("t", rows(i * 3, 2))
        case 1 => store.compact("t")
        case 2 => store.deleteRowsByKeys("t", rows(i * 3 - 4, 1).select("entity_id", "timestamp"))
        case _ => store.registerAppend("t", rows(i * 3, 3), maxSegments = 3)
      }
    }
    assert(driverWrite.pendingObservations(spark) == before,
      s"${driverWrite.pendingObservations(spark) - before} Observations left registered")
  }

  test("the driver kernel takes NaN, -0.0 and null keys, nested doubles and evolved segments") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_driver_kernel_shapes").toString)
    def schema(extra: Boolean) = StructType(Seq(
      StructField("entity_id", DoubleType), StructField("timestamp", TimestampType),
      StructField("arr", ArrayType(DoubleType))) ++
      (if (extra) Seq(StructField("extra", IntegerType)) else Nil))
    def frame(extra: Boolean, rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema(extra))
    store.register("t", frame(false,
      Row(Double.NaN, ts("2024-01-01"), Seq(-0.0, Double.NaN)),
      Row(-0.0, ts("2024-01-02"), null),
      Row(null, null, Seq(1.0))))
    store.registerAppend("t", frame(true, Row(1.5, ts("2024-02-01"), Seq(0.0), 7)),
      mergeSchema = true)
    val delta = frame(true,
      Row(Double.NaN, ts("2024-01-01"), Seq(0.0, Double.NaN), 1), // replaces the NaN row
      Row(0.0, ts("2024-01-02"), Seq(2.0), null),               // replaces the -0.0 row
      Row(null, null, Seq(1.0), null))                          // replaces the null-key row
    assert(counted(store.registerUpsert("t", delta)).jobs == 0)
    assert(store.getTableInfo("t").rowCount == 4)
    val keys = spark.createDataFrame(java.util.Arrays.asList(Row(null, null)),
      StructType(schema(false).fields.take(2)))
    assert(counted(store.deleteRowsByKeys("t", keys)).jobs == 0)
    assert(store.getTableInfo("t").rowCount == 3)
  }

  test("key-addressed mutations run in three SQL executions; read-backs infer no schema") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_exec_count").toString)
    val jan = sampleFeatures.filter(col("timestamp") < lit(ts("2024-02-01")))
    val feb = sampleFeatures.filter(col("timestamp") >= lit(ts("2024-02-01")))
    store.register("t", jan)
    store.registerAppend("t", feb)
    val delta = Seq(
      ("user_1", ts("2024-02-01"), 30.0, 3000L), // replaces a Feb row
      ("user_3", ts("2024-02-05"), 5.0, 500L))   // inserts
      .toDF("entity_id", "timestamp", "feature_a", "feature_b")
    // forced: on inputs this small the public call takes the driver
    // kernel (pinned in jobs above), and this bound is the Spark kernel's
    val upsertExecs = counted(store.registerUpsertOn(OnSpark, "t", delta)).execs
    assert(upsertExecs <= 3, s"registerUpsert ran $upsertExecs SQL executions")
    val bareAfterUpsert = counted(
      store.get("t", Seq("user_1", "user_3"), ts("2024-03-01")).collect()).bareJobs
    assert(bareAfterUpsert == 0,
      s"a get after an upsert ran $bareAfterUpsert jobs outside SQL executions")

    val keys = Seq(("user_3", ts("2024-02-05"))).toDF("entity_id", "timestamp")
    val deleteExecs = counted(store.deleteRowsByKeysOn(OnSpark, "t", keys)).execs
    assert(deleteExecs <= 3, s"deleteRowsByKeys ran $deleteExecs SQL executions")
    val bareAfterDelete = counted(
      store.get("t", Seq("user_1"), ts("2024-03-01")).collect()).bareJobs
    assert(bareAfterDelete == 0,
      s"a get after a delete ran $bareAfterDelete jobs outside SQL executions")
    assert(store.get("t", Seq("user_1", "user_3"), ts("2024-03-01"))
      .collect().map(_.getAs[Double]("feature_a")).toSeq == Seq(30.0))
  }

  test("correlationMatrix: a CAST_OVERFLOW fails once, with no decimal recompute") {
    // 1e30 does not fit the long cast: the optimistic aggregate fails
    // with CAST_OVERFLOW, and a decimal recompute of the same cast
    // would fail the same way. A range source, not a local one, so the
    // cast runs in a task instead of being folded while planning.
    val df = spark.range(3).select(
      when(col("id") === 0L, lit(1e30)).otherwise(col("id").cast("double")).as("x"),
      (col("id") * 2).cast("double").as("y"))
    var err: Throwable = null
    val execs = counted {
      err = intercept[Exception](
        Profiling.correlationMatrix(df, Seq("x", "y")).collect())
    }.execs
    val conditions = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .collect { case st: org.apache.spark.SparkThrowable => st.getCondition }
      .toSeq
    assert(conditions.contains("CAST_OVERFLOW"), s"got $err")
    assert(execs == 1, s"correlationMatrix ran $execs SQL executions")
  }

  test("a small get and getRecent start no Spark job") {
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_point_read").toString)
    store.register("t", sampleFeatures.filter(col("timestamp") < lit(ts("2024-02-01"))))
    store.registerAppend("t", sampleFeatures.filter(col("timestamp") >= lit(ts("2024-02-01"))))
    var got, recent = Array.empty[org.apache.spark.sql.Row]
    val c = counted {
      got = store.get("t", Seq("user_1", "user_2"), ts("2024-03-01")).collect()
      recent = store.getRecent("t", Seq("user_1"), ts("2024-03-01"), 2).collect()
    }
    assert(c.jobs == 0, s"a small get and getRecent started ${c.jobs} Spark jobs")
    assert(got.map(r => (r.getString(0), r.getDouble(2))).toSet ==
      Set(("user_1", 3.0), ("user_2", 20.0)))
    assert(recent.map(r => (r.getDouble(2), r.getInt(4))).toSet == Set((3.0, 1), (2.0, 2)))
  }

  test("a read whose candidate segments exceed the bound runs the Spark kernel") {
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_point_read_large").toString)
    // one segment just over the bound (entities 0..999), then a small
    // one whose entities no row of the first has
    store.register("t", spark.range(FeatureStore.LocalReadMaxRows + 1).select(
      (col("id") % 1000).as("entity_id"),
      (lit(ts("2024-01-01").getTime / 1000L) + col("id")).cast("timestamp").as("timestamp"),
      col("id").as("v")))
    store.registerAppend("t", spark.range(5000, 5003).select(
      col("id").as("entity_id"), lit(ts("2024-02-01")).as("timestamp"),
      col("id").as("v")))
    var large, small = Array.empty[org.apache.spark.sql.Row]
    val onSpark = counted {
      large = store.get("t", Seq(7L), ts("2024-03-01")).collect()
    }
    assert(onSpark.jobs > 0, "a read over the bound ran no Spark job")
    assert(large.map(_.getLong(2)).toSeq ==
      Seq((FeatureStore.LocalReadMaxRows / 1000 - 1) * 1000 + 7))
    // entity pruning drops the large segment: the read is small again
    val onDriver = counted {
      small = store.get("t", Seq(5001L), ts("2024-03-01")).collect()
    }
    assert(onDriver.jobs == 0, s"an entity-pruned read started ${onDriver.jobs} jobs")
    assert(small.map(_.getLong(2)).toSeq == Seq(5001L))
  }

  test("a small get is a snapshot: taken before a vacuum, it collects after") {
    val root = java.nio.file.Files.createTempDirectory("graft_point_read_vacuum").toString
    val store = new FeatureStore(spark, root, maxVersions = 1)
    store.register("t", singleRow(1.0))
    val before = store.get("t", Seq("user_1"), ts("2024-02-01"))
    store.register("t", singleRow(2.0))
    assert(store.vacuum(graceMillis = 0).exists(_.endsWith("v=1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=1")))
    assert(before.collect().map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    assert(store.get("t", Seq("user_1"), ts("2024-02-01"))
      .collect().map(_.getAs[Double]("val")).toSeq == Seq(2.0))
  }

  /** Three tables of the reference fixture and a local spine. */
  private def trainingStore(prefix: String) = {
    val store = new FeatureStore(spark, java.nio.file.Files.createTempDirectory(prefix).toString)
    for (name <- Seq("fa", "fb", "fc")) store.register(name, sampleFeatures)
    store
  }

  private def trainingSpine = {
    val s = spark
    import s.implicits._
    Seq(("user_1", ts("2024-01-20"), 1), ("user_2", ts("2024-01-10"), 0), ("user_3", ts("2024-02-01"), 1))
      .toDF("entity_id", "timestamp", "label")
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet

  test("a small getTrainingSet and a small 3-table getFeatureView start no Spark job") {
    val store = trainingStore("graft_training_small")
    val spine = trainingSpine
    var training, view = Set.empty[Seq[Any]]
    val c = counted {
      training = rowSet(store.getTrainingSet("fa", spine))
      view = rowSet(store.getFeatureView(spine, Seq("fa", "fb", "fc")))
    }
    assert(c.jobs == 0, s"a small training set and view started ${c.jobs} Spark jobs")
    assert(training == rowSet(store.getTrainingSetOnSpark("fa", spine)))
    assert(training.map(_.take(3)) ==
      Set(Seq("user_1", ts("2024-01-15"), 2.0), Seq("user_2", ts("2024-01-01"), 10.0)))
    assert(view == rowSet(store.getFeatureViewOnSpark(spine, Seq("fa", "fb", "fc"))))
    assert(view.size == 3)
  }

  test("a view whose tables exceed the read bound runs the Spark kernel, with equal rows") {
    val store = trainingStore("graft_training_large")
    // one table one row over the bound by itself (entities 0..999)
    store.register("big", spark.range(FeatureStore.LocalReadMaxRows + 1).select(
      (col("id") % 1000).cast("string").as("entity_id"),
      (lit(ts("2024-01-01").getTime / 1000L) + col("id")).cast("timestamp").as("timestamp"),
      col("id").as("v")))
    val s = spark
    import s.implicits._
    val spine = Seq(("7", ts("2024-03-01")), ("user_1", ts("2024-03-01")), ("1000", ts("2024-03-01")))
      .toDF("entity_id", "timestamp")
    var got = Set.empty[Seq[Any]]
    val c = counted { got = rowSet(store.getFeatureView(spine, Seq("fa", "big"))) }
    assert(c.jobs > 0, "a view over the bound ran no Spark job")
    assert(got == rowSet(store.getFeatureViewOnDriver(spine, Seq("fa", "big"))))
    assert(got.map(r => r.head -> r.last) == Set[(Any, Any)](
      "7" -> ((FeatureStore.LocalReadMaxRows / 1000 - 1) * 1000 + 7), "user_1" -> null, "1000" -> null))
    // the small tables alone stay on the driver
    assert(counted(store.getFeatureView(spine, Seq("fa", "fb")).collect()).jobs == 0)
  }

  test("a training set whose matched rows pass the byte bound runs the Spark kernel") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_training_bytes").toString)
    // every spine row matches its own 4 KiB row: the rows the driver
    // kernel would hold pass LocalRowsMaxBytes part way through the read
    val n = (FeatureStore.LocalRowsMaxBytes / 4096).toInt + 100
    store.register("t", (0 until n).map(i => (s"e$i", ts("2024-01-01"), "x" * 4096))
      .toDF("entity_id", "timestamp", "s"))
    val spine = (0 until n).map(i => (s"e$i", ts("2024-02-01"))).toDF("entity_id", "timestamp")
    var rows = 0L
    val c = counted { rows = store.getTrainingSet("t", spine).count() }
    assert(c.jobs > 0, "a training set over the byte bound ran no Spark job")
    assert(rows == n)
  }

  test("a small view is a snapshot: taken before a vacuum, it collects after") {
    val root = java.nio.file.Files.createTempDirectory("graft_training_vacuum").toString
    val store = new FeatureStore(spark, root, maxVersions = 1)
    store.register("t", singleRow(1.0))
    val s = spark
    import s.implicits._
    val spine = Seq(("user_1", ts("2024-02-01"))).toDF("entity_id", "timestamp")
    val training = store.getTrainingSet("t", spine)
    val view = store.getFeatureView(spine, Seq("t"))
    store.register("t", singleRow(2.0))
    assert(store.vacuum(graceMillis = 0).exists(_.endsWith("v=1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=1")))
    assert(training.collect().map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    assert(view.collect().map(_.getAs[Double]("t_val")).toSeq == Seq(1.0))
    assert(store.getFeatureView(spine, Seq("t")).collect().map(_.getAs[Double]("t_val")).toSeq ==
      Seq(2.0))
  }
}
