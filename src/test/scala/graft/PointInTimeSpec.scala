package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FeatureValidationError, PointInTime}

/** Kernel-level ports of the reference's semantic core
  * (reference tests/test_core.py:119-267 — TestPointInTimeLookup +
  * TestTrainingSet), run directly against the pure kernels.
  */
class PointInTimeSpec extends AnyFunSuite with SparkTestBase {

  private def snapshotMap(ids: Seq[Any], asOf: String, cols: Option[Seq[String]] = None): Map[String, Row] =
    PointInTime
      .pitSnapshot(sampleFeatures, lit(ts(asOf)), Some(ids), cols)
      .collect()
      .map(r => r.getString(r.fieldIndex("entity_id")) -> r)
      .toMap

  test("latest row at or before cutoff (test_core.py:122-136)") {
    val m = snapshotMap(Seq("user_1"), "2024-01-20")
    assert(m.size == 1)
    assert(m("user_1").getAs[Double]("feature_a") == 2.0)
    assert(m("user_1").getAs[Long]("feature_b") == 200L)
  }

  test("no future leakage (test_core.py:138-152)") {
    val m = snapshotMap(Seq("user_1"), "2024-01-10")
    assert(m("user_1").getAs[Double]("feature_a") == 1.0)
  }

  test("multi-entity lookup (test_core.py:154-166)") {
    val m = snapshotMap(Seq("user_1", "user_2"), "2024-01-25")
    assert(m.size == 2)
    assert(m("user_1").getAs[Double]("feature_a") == 2.0)
    assert(m("user_2").getAs[Double]("feature_a") == 20.0)
  }

  test("unknown entity yields empty, not error (test_core.py:168-180)") {
    val m = snapshotMap(Seq("ghost"), "2024-01-25")
    assert(m.isEmpty)
  }

  test("column subset projection (test_core.py:193-207)") {
    val df = PointInTime.pitSnapshot(
      sampleFeatures, lit(ts("2024-01-20")), Some(Seq("user_1")),
      Some(Seq("feature_a")))
    assert(df.columns.toSeq == Seq("entity_id", "timestamp", "feature_a"))
    assert(df.collect().head.getAs[Double]("feature_a") == 2.0)
  }

  test("unknown column raises validation error (test_core.py:209-221)") {
    intercept[FeatureValidationError] {
      PointInTime.pitSnapshot(
        sampleFeatures, lit(ts("2024-01-20")), Some(Seq("user_1")),
        Some(Seq("nope")))
    }
    // entity_id/timestamp cannot be re-requested either (store.py:464)
    intercept[FeatureValidationError] {
      PointInTime.pitSnapshot(
        sampleFeatures, lit(ts("2024-01-20")), Some(Seq("user_1")),
        Some(Seq("entity_id")))
    }
  }

  test("parametrized timeline sweep incl. inclusive boundary (test_core.py:223-248)") {
    val cases = Seq(
      "2024-01-01" -> 1.0, // exact boundary is inclusive
      "2024-01-15" -> 2.0,
      "2024-02-01" -> 3.0,
      "2024-12-31" -> 3.0)
    for ((cutoff, expected) <- cases) {
      val m = snapshotMap(Seq("user_1"), cutoff)
      assert(m("user_1").getAs[Double]("feature_a") == expected, s"cutoff=$cutoff")
    }
  }

  test("before all data yields empty") {
    assert(snapshotMap(Seq("user_1"), "2023-12-31").isEmpty)
  }

  test("as-of join over 2-row spine (test_core.py:251-267)") {
    val s = spark
    import s.implicits._
    val spine = Seq(
      ("user_1", ts("2024-01-20")),
      ("user_2", ts("2024-01-15"))).toDF("entity_id", "timestamp")
    val out = PointInTime.asOfJoin(spine, sampleFeatures).collect()
    assert(out.length == 2)
    val byEntity = out.map(r => r.getString(0) -> r).toMap
    // user_1 @ Jan 20 matches the Jan 15 feature row (feature-row ts kept)
    assert(byEntity("user_1").getAs[Double]("feature_a") == 2.0)
    assert(byEntity("user_1").getAs[java.sql.Timestamp]("timestamp") == ts("2024-01-15"))
    // user_2 @ Jan 15 matches the Jan 1 row
    assert(byEntity("user_2").getAs[Double]("feature_a") == 10.0)
  }

  test("as-of join drops non-matching pairs (inner semantics)") {
    val s = spark
    import s.implicits._
    val spine = Seq(
      ("user_1", ts("2023-01-01")), // before all data → dropped
      ("ghost", ts("2024-06-01")), // unknown entity → dropped
      ("user_2", ts("2024-06-01"))).toDF("entity_id", "timestamp")
    val out = PointInTime.asOfJoin(spine, sampleFeatures).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("feature_a") == 20.0)
  }

  test("as-of join staleness bound drops matches older than maxAge") {
    val s = spark
    import s.implicits._
    val spine = Seq(
      ("user_1", ts("2024-01-20")), // latest match Jan 15: 5 days old
      ("user_2", ts("2024-03-01"))) // latest match Jan 20: 41 days old
      .toDF("entity_id", "timestamp")
    // unbounded: both match
    assert(PointInTime.asOfJoin(spine, sampleFeatures).count() == 2)
    // 7-day SLA: user_2's stale match is dropped, user_1's kept
    val bounded = PointInTime
      .asOfJoin(spine, sampleFeatures, maxAgeSeconds = Some(7L * 86400))
      .collect()
    assert(bounded.map(_.getString(0)).toList == List("user_1"))
    assert(bounded.head.getAs[Double]("feature_a") == 2.0)
    // boundary is inclusive: exactly 5 days old still matches at 5d
    assert(PointInTime
      .asOfJoin(spine.filter($"entity_id" === "user_1"), sampleFeatures,
        maxAgeSeconds = Some(5L * 86400))
      .count() == 1)
    intercept[FeatureValidationError] {
      PointInTime.asOfJoin(spine, sampleFeatures, maxAgeSeconds = Some(-1L))
    }
  }

  test("left as-of join keeps unmatched spine rows and chains for views") {
    val s = spark
    import s.implicits._
    val spine = Seq(
      ("user_1", ts("2024-01-20")),
      ("ghost", ts("2024-06-01"))) // no history → null-extended, kept
      .toDF("entity_id", "timestamp")
    val one = PointInTime.asOfJoinLeft(spine, sampleFeatures, "f_")
    assert(one.count() == 2)
    val byEntity = one.collect().map(r => r.getString(0) -> r).toMap
    assert(byEntity("user_1").getAs[Double]("f_feature_a") == 2.0)
    assert(byEntity("user_1").getAs[java.sql.Timestamp]("f_timestamp") == ts("2024-01-15"))
    assert(byEntity("ghost").isNullAt(one.columns.indexOf("f_feature_a")))
    // chaining: previous view columns ride through the next join
    val two = PointInTime.asOfJoinLeft(one, sampleFeatures, "g_")
    assert(two.columns.toSeq ==
      Seq("entity_id", "timestamp",
        "f_timestamp", "f_feature_a", "f_feature_b",
        "g_timestamp", "g_feature_a", "g_feature_b"))
    val u1 = two.filter($"entity_id" === "user_1").collect().head
    assert(u1.getAs[Double]("f_feature_a") == 2.0)
    assert(u1.getAs[Double]("g_feature_a") == 2.0)
  }

  test("as-of join preserves duplicate spine pairs") {
    val s = spark
    import s.implicits._
    val spine = Seq(
      ("user_1", ts("2024-01-20")),
      ("user_1", ts("2024-01-20")),
      ("user_1", ts("2024-01-20"))).toDF("entity_id", "timestamp")
    val out = PointInTime.asOfJoin(spine, sampleFeatures).collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[Double]("feature_a") == 2.0))
  }

  test("as-of join column projection (store.py:303-306)") {
    val s = spark
    import s.implicits._
    val spine = Seq(("user_1", ts("2024-01-20"))).toDF("entity_id", "timestamp")
    val out = PointInTime.asOfJoin(spine, sampleFeatures, Some(Seq("feature_b")))
    assert(out.columns.toSeq == Seq("entity_id", "timestamp", "feature_b"))
    assert(out.collect().head.getAs[Long]("feature_b") == 200L)
  }

  test("as-of join exact-timestamp boundary is inclusive") {
    val s = spark
    import s.implicits._
    val spine = Seq(("user_1", ts("2024-01-15"))).toDF("entity_id", "timestamp")
    val out = PointInTime.asOfJoin(spine, sampleFeatures).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("feature_a") == 2.0)
  }

  test("scd2 assigns validity intervals; duplicates get empty intervals") {
    val s = spark
    import s.implicits._
    val t = Seq(
      ("u", ts("2024-01-01"), "old", 1L),
      ("u", ts("2024-01-01"), "winner", 2L), // dup ts: empty interval for "old"
      ("u", ts("2024-01-10"), "next", 3L)).toDF("entity_id", "timestamp", "tag", "seq")
    val out = PointInTime.scd2(t, tieBreakCols = Seq("seq"))
      .collect()
      .map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.sql.Timestamp]("valid_to"))).toMap
    assert(out("old") == Some(ts("2024-01-01")))    // [t, t) — never matches
    assert(out("winner") == Some(ts("2024-01-10")))
    assert(out("next") == None)                     // current row, open interval
  }

  test("deterministic tie-break among duplicate (entity, ts) rows") {
    val s = spark
    import s.implicits._
    val dup = Seq(
      ("u", ts("2024-01-01"), "first", 1L),
      ("u", ts("2024-01-01"), "second", 2L)).toDF("entity_id", "timestamp", "tag", "seq")
    val snap = PointInTime.pitSnapshot(
      dup, lit(ts("2024-06-01")), None, None, tieBreakCols = Seq("seq"))
    assert(snap.collect().head.getAs[String]("tag") == "second")
    val spine = Seq(("u", ts("2024-06-01"))).toDF("entity_id", "timestamp")
    val joined = PointInTime.asOfJoin(spine, dup, tieBreakCols = Seq("seq"))
    assert(joined.collect().head.getAs[String]("tag") == "second")
  }

  test("latestPerEntity on empty input returns empty with schema") {
    val empty = sampleFeatures.limit(0)
    val out = PointInTime.latestPerEntity(empty)
    assert(out.columns.toSeq == sampleFeatures.columns.toSeq)
    assert(out.count() == 0)
  }

  test("asOfJoin matches a spine entity after casting it to the table's type") {
    val s = spark
    import s.implicits._
    // table entities are LONG; the spine arrives as DOUBLE with a
    // fractional id. taggedUnion casts 1.5 → 1L, so both probes match.
    val feat = Seq((1L, ts("2024-01-01"), 10L), (1L, ts("2024-01-02"), 20L))
      .toDF("entity_id", "timestamp", "v")
    val spine = Seq((1.5d, ts("2024-01-03")), (1.0d, ts("2024-01-03")))
      .toDF("entity_id", "timestamp")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(2))
    val plain = PointInTime.asOfJoin(spine, feat, tieBreakCols = Seq("v"))
      .collect().map(key).toList.sorted
    assert(plain == List((1L, 20L), (1L, 20L)))
  }

  test("null-timestamp feature rows have no as-of position in ANY strategy") {
    // ASC NULLS FIRST would sort a null-ts row before every probe and
    // make it the running match, while ts <= t is three-valued-false in
    // the PIT snapshot — the as-of joins must agree with the snapshot:
    // a row with unknown time never reaches training output
    val s = spark
    import s.implicits._
    val feat = Seq(
      ("e1", Some(ts("2024-01-05")), 1.0),
      ("e1", None: Option[java.sql.Timestamp], 7.0), // no as-of position
      ("e2", None, 9.0)) // entity with ONLY a null-ts row
      .toDF("entity_id", "timestamp", "f")
    val spine = Seq(
      ("e1", ts("2024-01-10")), ("e2", ts("2024-01-10")))
      .toDF("entity_id", "timestamp")
    def fs(df: org.apache.spark.sql.DataFrame): List[(String, Double)] =
      df.select("entity_id", "f").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toList.sorted
    val expected = List(("e1", 1.0)) // e2 has no timed history
    assert(fs(PointInTime.asOfJoin(spine, feat)) == expected)
    val left = PointInTime.asOfJoinLeft(spine, feat, prefix = "t_")
      .select(col("entity_id"), col("t_f")).collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toMap
    assert(left("e1").contains(1.0) && left("e2").isEmpty)
  }

  test("maxAgeSeconds on a DateType table is second-precision, not day units") {
    val s = spark
    import s.implicits._
    val feat = Seq(("e1", java.sql.Date.valueOf("2024-01-01"), 1.0))
      .toDF("entity_id", "timestamp", "f")
    val spine = Seq(("e1", java.sql.Date.valueOf("2024-01-10")))
      .toDF("entity_id", "timestamp")
    // 9 days stale: a 1-day SLA drops it (the former numeric fallback
    // subtracted 86400 DAYS from a date — or failed analysis)
    assert(PointInTime
      .asOfJoin(spine, feat, maxAgeSeconds = Some(86400L)).isEmpty)
    // a 9-day SLA keeps it (inclusive at the floor)
    assert(PointInTime
      .asOfJoin(spine, feat, maxAgeSeconds = Some(9L * 86400)).count() == 1)
  }

  test("custom entity/ts column names validate projections against the REAL keys") {
    val s = spark
    import s.implicits._
    // a feature column literally NAMED "entity_id" on a table whose
    // real key is "user": must be projectable (it is a feature here)
    val feat = Seq(("u1", ts("2024-01-05"), "shadow", 5.0))
      .toDF("user", "ts", "entity_id", "f")
    val out = PointInTime.pitSnapshot(
      feat, lit(ts("2024-01-10")), columns = Some(Seq("entity_id")),
      entityCol = "user", tsCol = "ts")
    assert(out.columns.toSeq == Seq("user", "ts", "entity_id"))
    assert(out.head().getString(2) == "shadow")
    // and the REAL key cannot be re-requested (it is always prepended)
    intercept[FeatureValidationError] {
      PointInTime.pitSnapshot(
        feat, lit(ts("2024-01-10")), columns = Some(Seq("user")),
        entityCol = "user", tsCol = "ts").collect()
    }
  }
}
