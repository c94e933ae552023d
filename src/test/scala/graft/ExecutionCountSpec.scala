package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Profiling
import graft.store.FeatureStore

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
    val upsertExecs = counted(store.registerUpsert("t", delta)).execs
    assert(upsertExecs <= 3, s"registerUpsert ran $upsertExecs SQL executions")
    val bareAfterUpsert = counted(
      store.get("t", Seq("user_1", "user_3"), ts("2024-03-01")).collect()).bareJobs
    assert(bareAfterUpsert == 0,
      s"a get after an upsert ran $bareAfterUpsert jobs outside SQL executions")

    val keys = Seq(("user_3", ts("2024-02-05"))).toDF("entity_id", "timestamp")
    val deleteExecs = counted(store.deleteRowsByKeys("t", keys)).execs
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
}
