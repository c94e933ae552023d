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

  /** (SQL executions started, jobs started outside any SQL execution)
    * while `body` runs — the latter are footer-inference jobs of
    * `spark.read.parquet` and other driver-side helpers.
    */
  private def counted(body: => Unit): (Int, Int) = {
    val execs = new AtomicInteger()
    val bareJobs = new AtomicInteger()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet(); ()
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .isEmpty) { bareJobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      try body
      finally {
        // listener delivery is async: poll until both counts are stable
        var last = (-1, -1)
        var stable = 0
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (stable < 3 && System.nanoTime() < deadline) {
          val c = (execs.get(), bareJobs.get())
          if (c == last) stable += 1 else { stable = 0; last = c }
          Thread.sleep(100)
        }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    (execs.get(), bareJobs.get())
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
    val (upsertExecs, _) = counted(store.registerUpsert("t", delta))
    assert(upsertExecs <= 3, s"registerUpsert ran $upsertExecs SQL executions")
    val (_, bareAfterUpsert) = counted(
      store.get("t", Seq("user_1", "user_3"), ts("2024-03-01")).collect())
    assert(bareAfterUpsert == 0,
      s"a get after an upsert ran $bareAfterUpsert jobs outside SQL executions")

    val keys = Seq(("user_3", ts("2024-02-05"))).toDF("entity_id", "timestamp")
    val (deleteExecs, _) = counted(store.deleteRowsByKeys("t", keys))
    assert(deleteExecs <= 3, s"deleteRowsByKeys ran $deleteExecs SQL executions")
    val (_, bareAfterDelete) = counted(
      store.get("t", Seq("user_1"), ts("2024-03-01")).collect())
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
    val (execs, _) = counted {
      err = intercept[Exception](
        Profiling.correlationMatrix(df, Seq("x", "y")).collect())
    }
    val conditions = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .collect { case st: org.apache.spark.SparkThrowable => st.getCondition }
      .toSeq
    assert(conditions.contains("CAST_OVERFLOW"), s"got $err")
    assert(execs == 1, s"correlationMatrix ran $execs SQL executions")
  }
}
