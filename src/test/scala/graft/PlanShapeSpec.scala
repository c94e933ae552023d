package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, FeatureEncoding, Profiling, Similarity}

/** Physical-plan shape assertions for the round-2 kernels: these
  * properties are invisible to value-level tests but are exactly what
  * breaks at 1000 executors — a theta-join reappearing in SimHash, the
  * standardization stats degrading to a per-group window, or the
  * correlation matrix multiplying scans with the feature count.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      // materialized AQE stages hold their subtree as a field, not a child
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: nodes(q.plan)
      case n => Seq(n)
    }.flatten

  /** Materialize (AQE finalizes the plan on execute) then collect nodes. */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  private lazy val docsDf: DataFrame = {
    val s = spark
    import s.implicits._
    (0L until 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 3} shared common words here"))
      .toDF("doc_id", "text")
  }

  test("simhashPairs plans as equi-joins — the all-pairs theta-join is gone") {
    val ns = executedNodes(Dedup.simhashPairs(docsDf, maxHamming = 2))
    assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "pigeonhole banding must not plan a nested-loop join")
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
      "pigeonhole banding must not plan a cartesian product")
  }

  test("incrementalNearDupPairs never plans a corpus self-join or cartesian") {
    val incoming = docsDf.filter(col("doc_id") % 5 === 0)
    val corpus = docsDf.filter(col("doc_id") % 5 =!= 0)
    val ns = executedNodes(
      Dedup.incrementalNearDupPairs(incoming, corpus, threshold = 0.3))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
      "candidate generation must stay an equi-join on (band, sig)")
    assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "no all-pairs fallback may appear")
  }

  test("standardize stats ride a broadcast join, not a per-group window") {
    val s = spark
    import s.implicits._
    val df = (0L until 100L).map(i => (s"g${i % 3}", i, i * 7 % 50))
      .toDF("g", "id", "cents")
    val plan = FeatureEncoding.standardize(df, "cents", "g")
    val ns = executedNodes(plan)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "group statistics must broadcast back onto the rows")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "a window partitioned by a low-cardinality group caps parallelism at |groups|")
  }

  test("store PIT read prunes time partitions at the scan") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_prune_spec").toString
    val store = new graft.store.FeatureStore(spark, root)
    store.register("t", sampleFeatures) // spans 2024-01 and 2024-02
    val df = store.getOnSpark("t", Seq("user_1", "user_2"), ts("2024-01-20"))
    val scans = executedNodes(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val partitioned = scans.filter(_.partitionFilters.nonEmpty)
    assert(partitioned.nonEmpty, "expected a partition filter on the version scan")
    assert(partitioned.exists(_.partitionFilters.exists(_.toString.contains("_ts_date"))),
      "the derived period bound must reach PartitionFilters")
    // the 2024-02 partition is pruned: only January files are read
    assert(partitioned.forall(_.selectedPartitions.partitionCount == 1),
      "cutoff 2024-01-20 must prune the February partition")
    // and the values are still the right PIT answer
    val rows = df.collect().map(r =>
      r.getAs[String]("entity_id") -> r.getAs[Double]("feature_a")).toMap
    // inclusive cutoff: user_2's row ON 2024-01-20 wins
    assert(rows == Map("user_1" -> 2.0, "user_2" -> 20.0))
  }

  private lazy val embDf: DataFrame = {
    val s = spark
    import s.implicits._
    (0L until 60L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(16)(d =>
        if (d / 4 == c) ((d % 4) + 1f) * (1 + i / 4).toFloat else 0f)
      (i, v, s"l$c")
    }.toDF("vec_id", "embedding", "label")
  }

  test("ANN assignment paths plan codegen'd matrix kernels, no ScalaUDF") {
    def assertNoUdf(df: DataFrame, what: String): Unit = {
      val udfs = executedNodes(df).flatMap(_.expressions).flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
      assert(udfs.isEmpty, s"$what still plans ScalaUDF(s): ${udfs.take(3)}")
    }
    assertNoUdf(Similarity.lshTopK(embDf, Seq(0L, 1L), k = 3, numPlanes = 6), "lshTopK")
    assertNoUdf(Similarity.ivfTopK(embDf, Seq(0L, 1L), k = 3, numCentroids = 4, nProbe = 2), "ivfTopK")
    assertNoUdf(Similarity.buildIvfIndex(embDf, numCentroids = 4), "buildIvfIndex")
    assertNoUdf(Similarity.allPairsTopKIvf(embDf, k = 3, numCentroids = 4, nProbe = 2), "allPairsTopKIvf")
    assertNoUdf(Similarity.cosineNearDupPairsLsh(embDf, 0.9), "cosineNearDupPairsLsh")
  }

  test("routed embedding kernels stay equi-join shaped — no cartesian, no nested loop") {
    for ((df, what) <- Seq(
        (Similarity.cosineNearDupPairsLsh(embDf, 0.9), "cosineNearDupPairsLsh"),
        (Similarity.allPairsTopKIvf(embDf, k = 3, numCentroids = 4, nProbe = 2), "allPairsTopKIvf"))) {
      val ns = executedNodes(df)
      assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
        s"$what must not plan a cartesian product")
      assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$what must not plan a nested-loop join")
    }
  }

  test("duplicateSpans heavy stage has no Expand and no span text through a shuffle") {
    val s = spark
    import s.implicits._
    val df = (0L until 30L).map(i =>
      (i, Seq.fill(12)(s"w${i % 3}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.duplicateSpans(df, width = 8, stride = 4)
    val ns = executedNodes(out)
    // countDistinct would plan an Expand that doubles the heavy stage;
    // the (hash, doc) two-level aggregation must not
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]),
      "span counting must not plan an Expand")
    // the window pass emits (hash, doc, position) only — no shuffle
    // carries the token arrays (the representative text is re-sliced
    // from a plain docs scan after the join)
    val shufflesWithArrays = ns.collect {
      case e: ShuffleExchangeExec
          if e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) => e
    }
    assert(shufflesWithArrays.isEmpty,
      "no token array may cross a shuffle in duplicateSpans")
  }

  test("correlationMatrix optimistic path runs strictly fewer jobs than the fallback") {
    val s = spark
    import s.implicits._
    def countJobs(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      s.sparkContext.addSparkListener(l)
      try {
        body
        // listener delivery is async: poll until the count is stable
        var last = -1
        var stable = 0
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (stable < 3 && System.nanoTime() < deadline) {
          val c = counter.get()
          if (c == last) stable += 1 else { stable = 0; last = c }
          Thread.sleep(100)
        }
      } finally s.sparkContext.removeSparkListener(l)
      counter.get()
    }
    val small = (1L to 50L).map(i => (i, 2 * i)).toDF("x", "y")
    // values past 2^31 integer units force the width gate to fail and
    // take the decimal recompute — a second scan the optimistic path
    // (same row count, small values) must not pay
    val wide = (1L to 50L).map(i => ((i + (1L << 40)), 2 * i)).toDF("x", "y")
    val optimistic = countJobs(Profiling.correlationMatrix(small, Seq("x", "y")))
    val fallback = countJobs(Profiling.correlationMatrix(wide, Seq("x", "y")))
    assert(optimistic < fallback,
      s"optimistic path ($optimistic jobs) must beat the gate-failed fallback ($fallback)")
  }

  test("correlationMatrix aggregates in one pass: one shuffle, one scan subtree") {
    val s = spark
    import s.implicits._
    val df = (0L until 100L).map(i => (i, i * 2, 100 - i, i % 13))
      .toDF("a", "b", "c", "d")
    val plan = Profiling.correlationMatrix(df, Seq("a", "b", "c", "d"))
    val ns = executedNodes(plan)
    val shuffles = ns.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1,
      s"expected the single final-aggregation exchange, saw $shuffles")
  }

  test("a 3-table feature view and a mixed window-aggregate call each plan one shuffle and one sort") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_train_shape").toString
    val store = new graft.store.FeatureStore(spark, root)
    val rows = (0L until 60L).map(i =>
      (s"u${i % 7}", ts(f"2024-01-${1 + i % 28}%02d"), i, i * 0.5, s"c${i % 3}"))
    for (name <- Seq("fa", "fb", "fc"))
      store.register(name, rows.toDF("entity_id", "timestamp", "amount", "score", "kind"))
    val spine = (0 until 20).map(i => (s"u${i % 9}", ts(f"2024-01-${1 + i}%02d")))
      .toDF("entity_id", "timestamp")
    import graft.store.WindowFeatures.WindowAgg
    val calls = Seq(
      // forced: a view this small is answered on the driver, with no plan
      "getFeatureView" -> store.getFeatureViewOnSpark(spine, Seq("fa", "fb", "fc")),
      "getWindowFeatures" -> store.getWindowFeatures("fa", spine, 3L * 86400, Seq(
        WindowAgg("n", "rows"),
        WindowAgg("amt", "sum", "amount"),
        WindowAgg("amt7", "sum", "amount", Some(7L * 86400)),
        WindowAgg("sc", "sum", "score"),
        WindowAgg("lo", "min", "amount", Some(7L * 86400)),
        WindowAgg("kinds", "distinct", "kind"))))
    for ((what, df) <- calls) {
      val ns = executedNodes(df)
      val shuffles = ns.count(_.isInstanceOf[ShuffleExchangeExec])
      val sorts = ns.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])
      assert(shuffles == 1, s"$what planned $shuffles shuffles")
      assert(sorts == 1, s"$what planned $sorts sorts")
    }
  }
}
