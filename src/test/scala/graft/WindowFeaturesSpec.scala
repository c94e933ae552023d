package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FeatureValidationError, WindowFeatures}
import graft.store.WindowFeatures.WindowAgg

/** Unit coverage for the windowed operators' non-temporal ts path
  * (numeric ordering columns: epoch longs, version counters) and the
  * validation surface — the properties file covers temporal semantics.
  */
class WindowFeaturesSpec extends AnyFunSuite with SparkTestBase {

  test("windowAggJoin on a numeric ts column uses the column's own units") {
    val s = spark
    import s.implicits._
    val feat = Seq(("a", 10L, 1L), ("a", 15L, 2L), ("a", 20L, 4L))
      .toDF("entity_id", "timestamp", "v")
    val spine = Seq(("a", 20L), ("a", 14L)).toDF("entity_id", "timestamp")
    // window 6 units: (14, 20] → rows at 15, 20; (8, 14] → row at 10
    val out = WindowFeatures
      .windowAggJoin(spine, feat, windowSeconds = 6L,
        Seq(WindowAgg("n", "rows"), WindowAgg("sv", "sum", "v")))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toList.sorted
    assert(out == List((14L, 1L, 1L), (20L, 2L, 6L)))
  }

  test("windowAggJoin 'distinct' counts frame-distinct values") {
    val s = spark
    import s.implicits._
    val feat = Seq(("a", 10L, "x"), ("a", 15L, "y"), ("a", 20L, "x"), ("a", 2L, "z"))
      .toDF("entity_id", "timestamp", "kind")
    val spine = Seq(("a", 20L), ("a", 3L), ("b", 20L)).toDF("entity_id", "timestamp")
    // window 12: (8,20] → kinds {x,y,x} → 2; (−9,3] → {z} → 1; b → empty → 0
    val out = WindowFeatures
      .windowAggJoin(spine, feat, windowSeconds = 12L,
        Seq(WindowAgg("nd", "distinct", "kind")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", 20L) -> 2L, ("a", 3L) -> 1L, ("b", 20L) -> 0L))
  }

  test("intervalJoin pairs rows inside the inclusive lookback only") {
    val s = spark
    import s.implicits._
    val purchases = Seq(("u1", ts("2024-01-10 12:00:00"), 100L))
      .toDF("entity_id", "timestamp", "pid")
    val clicks = Seq(
      ("u1", ts("2024-01-10 11:00:00"), 1L), // exactly 1h before: kept
      ("u1", ts("2024-01-10 11:30:00"), 2L), // inside: kept
      ("u1", ts("2024-01-10 12:00:00"), 3L), // same instant: kept
      ("u1", ts("2024-01-10 10:59:59"), 4L), // 1s too old: dropped
      ("u1", ts("2024-01-10 12:00:01"), 5L), // future: dropped
      ("u2", ts("2024-01-10 11:30:00"), 6L)) // other entity: dropped
      .toDF("entity_id", "timestamp", "cid")
    val out = WindowFeatures
      .intervalJoin(purchases, clicks, maxGapSeconds = 3600L)
      .select("entity_id", "l_pid", "r_cid")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList.sorted
    assert(out == List(("u1", 100L, 1L), ("u1", 100L, 2L), ("u1", 100L, 3L)))
    intercept[FeatureValidationError] {
      WindowFeatures.intervalJoin(purchases, clicks, maxGapSeconds = -1L)
    }
  }

  test("sessionize on a numeric ts column splits on strictly-greater gaps") {
    val s = spark
    import s.implicits._
    val ev = Seq(("a", 1L), ("a", 4L), ("a", 7L), ("a", 20L))
      .toDF("entity_id", "timestamp")
    // gap 3: diffs 3,3 stay; diff 13 splits
    val out = WindowFeatures.sessionize(ev, gapSeconds = 3L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toList.sorted
    assert(out == List((1L, 1L, 7L, 3L), (2L, 20L, 20L, 1L)))
  }

  test("lagDelta emits prev value, delta, and inter-arrival seconds per entity") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      ("u1", ts("2024-01-10 11:00:00"), 1L, 10.0),
      ("u1", ts("2024-01-10 11:00:30"), 2L, 14.5),
      ("u2", ts("2024-01-10 11:00:10"), 3L, 7.0))
      .toDF("entity_id", "timestamp", "eid", "value")
    val out = WindowFeatures
      .lagDelta(ev, valueCol = "value", tieBreakCols = Seq("eid"))
      .collect()
      .map(r => r.getAs[Long]("eid") ->
        ((Option(r.getAs[java.lang.Double]("prev_value")),
          Option(r.getAs[java.lang.Double]("value_delta")),
          Option(r.getAs[java.lang.Double]("secs_since_prev"))))).toMap
    assert(out(1L) == ((None, None, None)))              // first per entity
    assert(out(2L) == ((Some(10.0), Some(4.5), Some(30.0))))
    assert(out(3L) == ((None, None, None)))              // u2's first
  }

  test("windowAggJoin validation: bad fn, bad column, dup outputs, bad window") {
    val s = spark
    import s.implicits._
    val feat = Seq(("a", 1L, 1L)).toDF("entity_id", "timestamp", "v")
    val spine = Seq(("a", 1L)).toDF("entity_id", "timestamp")
    intercept[FeatureValidationError](
      WindowFeatures.windowAggJoin(spine, feat, 5L, Seq(WindowAgg("x", "avg", "v"))))
    intercept[FeatureValidationError](
      WindowFeatures.windowAggJoin(spine, feat, 5L, Seq(WindowAgg("x", "sum", "nope"))))
    intercept[FeatureValidationError](
      WindowFeatures.windowAggJoin(spine, feat, 5L,
        Seq(WindowAgg("x", "rows"), WindowAgg("x", "sum", "v"))))
    intercept[FeatureValidationError](
      WindowFeatures.windowAggJoin(spine, feat, 0L, Seq(WindowAgg("x", "rows"))))
    intercept[FeatureValidationError](
      WindowFeatures.windowAggJoin(spine, feat, 5L,
        Seq(WindowAgg("x", "rows", "", Some(0L)))))
  }

  test("intervalJoin on DateType bounds at second precision, not day units") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    def d(x: String) = java.sql.Date.valueOf(x)
    val left = Seq(("e1", d("2024-01-10"))).toDF("entity_id", "timestamp")
    val right = Seq(
      ("e1", d("2024-01-10")), // same instant: inside any bound
      ("e1", d("2024-01-09"))) // 86400s earlier
      .toDF("entity_id", "timestamp")
    // one-hour lookback: only the same-day row pairs (the former
    // numeric fallback subtracted 3600 DAYS — a ten-year lookback)
    assert(WindowFeatures.intervalJoin(left, right, 3600L).count() == 1)
    // a full-day lookback (inclusive) pairs both
    assert(WindowFeatures.intervalJoin(left, right, 86400L).count() == 2)
  }

  test("window agg is exact for numeric timestamps past 2^53") {
    // the RANGE frame orders numeric ts as Long: a detour through a
    // double would merge neighbouring values past 2^53 and widen or
    // shift the frame
    val s = spark
    import s.implicits._
    val base = (1L << 53) + 1L // not representable as double + 1
    val feat = Seq(
      ("e1", base, 1L), ("e1", base + 2L, 10L), // inside the window
      ("e1", base - 4L, 100L)) // outside it
      .toDF("entity_id", "timestamp", "v")
    val spine = Seq(("e1", base + 2L)).toDF("entity_id", "timestamp")
    val aggs = Seq(WindowAgg("sv", "sum", "v"))
    val exact = WindowFeatures
      .windowAggJoin(spine, feat, 3L, aggs).head().getAs[Long]("sv")
    assert(exact == 11L, s"exact=$exact") // window [base-1, base+2]
  }

  test("window sums are exact when an entity's history sum passes Long.MaxValue") {
    val s = spark
    import s.implicits._
    val big = Long.MaxValue - 10L
    val feat = Seq(("e1", 1L, big), ("e1", 100L, big), ("e1", 200L, 5L), ("e1", 205L, -3L))
      .toDF("entity_id", "timestamp", "v")
    val spine = Seq(("e1", 1L), ("e1", 100L), ("e1", 205L)).toDF("entity_id", "timestamp")
    // every 10-unit window holds at most one big value; the running
    // total passes Long.MaxValue at ts 100
    val out = WindowFeatures
      .windowAggJoin(spine, feat, 10L, Seq(WindowAgg("sv", "sum", "v")))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> big, 100L -> big, 205L -> 2L))
  }

  test("a window sum past Long.MaxValue fails the call") {
    val s = spark
    import s.implicits._
    val feat = Seq(("e1", 1L, Long.MaxValue), ("e1", 2L, 1L)).toDF("entity_id", "timestamp", "v")
    val spine = Seq(("e1", 2L)).toDF("entity_id", "timestamp")
    val e = intercept[Exception] {
      WindowFeatures
        .windowAggJoin(spine, feat, 10L, Seq(WindowAgg("sv", "sum", "v")))
        .collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e.toString)
  }
}
