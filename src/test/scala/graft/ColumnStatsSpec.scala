package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{ColStat, ColumnStats, FeatureStore, TxnLogStorage}

/** Column-level segment statistics + predicate data skipping
  * ([[graft.store.ColumnStats]], [[graft.store.StatsPruning]],
  * [[FeatureStore.scanWhere]]) — the stats-filter discipline of the
  * transactional table formats over the manifest's segment dimension.
  */
class ColumnStatsSpec extends AnyFunSuite with SparkTestBase {

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Three time-sliced segments (register + 2 appends): Jan / Feb / Mar
    * 2024, entities and values disjoint per slice so every column is a
    * usable skipping key.
    */
  private def threeSliceStore(root: String): FeatureStore = {
    val s = spark
    import s.implicits._
    def slice(month: Int, ent: String, v: Long): DataFrame =
      Seq(
        (ent, ts(f"2024-$month%02d-05"), v),
        (ent, ts(f"2024-$month%02d-20"), v + 1))
        .toDF("entity_id", "timestamp", "feature_b")
    val store = new FeatureStore(spark, root)
    store.register("t", slice(1, "user_1", 100L))
    store.registerAppend("t", slice(2, "user_2", 2000L))
    store.registerAppend("t", slice(3, "user_3", 30000L))
    store
  }

  private def segsOf(df: DataFrame): Set[Int] =
    df.inputFiles.toSeq
      .flatMap("/v=(\\d+)/".r.findFirstMatchIn(_).map(_.group(1).toInt))
      .toSet

  test("scanWhere prunes segments by timestamp and by value-column stats") {
    val store = threeSliceStore(tmpRoot("graft_colstats"))

    // timestamp predicate: only the March segment can match
    val byTs = store.scanWhere("t", col("timestamp") >= lit(ts("2024-03-01")))
    assert(segsOf(byTs) == Set(3))
    assert(byTs.count() == 2)

    // value predicate on a non-timestamp column: February only
    val byVal =
      store.scanWhere("t", col("feature_b") >= 1000L && col("feature_b") < 10000L)
    assert(segsOf(byVal) == Set(2))
    assert(byVal.select("entity_id").distinct().collect().map(_.getString(0)).toSeq
      == Seq("user_2"))

    // string equality on entity_id: January only
    val byEnt = store.scanWhere("t", col("entity_id") === "user_1")
    assert(segsOf(byEnt) == Set(1))
    assert(byEnt.count() == 2)

    // disjunction keeps both matching segments, drops the third
    val byOr = store.scanWhere("t",
      col("entity_id") === "user_1" || col("feature_b") > 20000L)
    assert(segsOf(byOr) == Set(1, 3))
    assert(byOr.count() == 4)

    // unsatisfiable everywhere: zero segments scanned, schema exact
    val none = store.scanWhere("t", col("feature_b") > 1000000L)
    assert(none.isEmpty)
    assert(none.columns.toSeq == Seq("entity_id", "timestamp", "feature_b"))

    // result equality against the unpruned read on a satisfiable filter
    val full = store.getVersion("t", 3)
      .filter(col("timestamp") >= lit(ts("2024-03-01")))
    assert(byTs.exceptAll(full).isEmpty && full.exceptAll(byTs).isEmpty)
  }

  test("null-count stats: IsNull/IsNotNull and all-null segments prune") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark, tmpRoot("graft_colstats_null"))
    val withNulls = Seq(
      ("u1", ts("2024-01-05"), Option.empty[Double]),
      ("u1", ts("2024-01-06"), Option.empty[Double]))
      .toDF("entity_id", "timestamp", "score")
    val noNulls = Seq(
      ("u2", ts("2024-02-05"), Option(5.0)),
      ("u2", ts("2024-02-06"), Option(7.0)))
      .toDF("entity_id", "timestamp", "score")
    store.register("n", withNulls)
    store.registerAppend("n", noNulls)

    // isNull can only hit segment 1
    assert(segsOf(store.scanWhere("n", col("score").isNull)) == Set(1))
    // a comparison can never be TRUE on the all-null segment
    assert(segsOf(store.scanWhere("n", col("score") === 5.0)) == Set(2))
    // isNotNull skips the all-null segment too
    assert(segsOf(store.scanWhere("n", col("score").isNotNull)) == Set(2))
  }

  test("deleteRows classification skips stats-disjoint segments entirely") {
    val root = tmpRoot("graft_colstats_del")
    val store = threeSliceStore(root)
    // physically destroy the February segment: if the classification,
    // survivor rewrite, or change-set record touched it, the delete
    // would fail — stats skipping is what keeps it untouched
    val feb = java.nio.file.Paths.get(root, "t", "v=2")
    org.apache.commons.io.FileUtils.deleteDirectory(feb.toFile)
    val info = store.deleteRows("t",
      col("timestamp") >= lit(ts("2024-03-01")) && col("feature_b") === 30000L)
    assert(info.rowCount == 5)
    // the rewritten manifest re-references the intact January segment
    // and the (skipped) February one
    val hist = store.getTableHistory("t").find(_.isCurrent).get
    assert(hist.segments.toSet == Set(1, 2, 4))
  }

  test("registerUpsert key-bounds skip delta-disjoint segments") {
    val root = tmpRoot("graft_colstats_ups")
    val store = threeSliceStore(root)
    val feb = java.nio.file.Paths.get(root, "t", "v=2")
    org.apache.commons.io.FileUtils.deleteDirectory(feb.toFile)
    val s = spark
    import s.implicits._
    // delta replaces one March key and inserts one — its (entity, ts)
    // bounds are disjoint from January AND February
    val delta = Seq(
      ("user_3", ts("2024-03-05"), 99L),
      ("user_9", ts("2024-03-25"), 77L))
      .toDF("entity_id", "timestamp", "feature_b")
    val info = store.registerUpsert("t", delta)
    assert(info.rowCount == 7)
    val got = store.scanWhere("t", col("entity_id") === "user_3")
      .select("feature_b").orderBy("timestamp")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(99L, 30001L))
  }

  test("stats survive a catalog reopen and travel in txn commit markers") {
    val root = tmpRoot("graft_colstats_txn")
    val s = spark
    import s.implicits._
    def slice(month: Int, v: Long): DataFrame =
      Seq(("u" + month, ts(f"2024-$month%02d-10"), v))
        .toDF("entity_id", "timestamp", "feature_b")
    val a = new FeatureStore(spark, root,
      storageFactory = new TxnLogStorage(_, _, _))
    a.register("t", slice(1, 10L))
    a.registerAppend("t", slice(2, 20L))

    // plain reopen: stats come from the catalog file
    val b = new FeatureStore(spark, root,
      storageFactory = new TxnLogStorage(_, _, _))
    assert(segsOf(b.scanWhere("t", col("feature_b") === 20L)) == Set(2))

    // catalog destroyed: reconciliation from commit markers must
    // restore the column stats, not just the versions
    java.nio.file.Files.delete(graft.store.CatalogPersistence.tableFile(root, "t"))
    val c = new FeatureStore(spark, root,
      storageFactory = new TxnLogStorage(_, _, _))
    c.registerAppend("t", slice(3, 30L)) // triggers reconcileFromLog
    assert(segsOf(c.scanWhere("t", col("feature_b") === 20L)) == Set(2))
    assert(segsOf(c.scanWhere("t", col("feature_b") === 30L)) == Set(3))
  }

  test("colStats marker/catalog codec roundtrips exotic values") {
    val stats = Map(
      "plain" -> ColStat(3L, Some("-12.5"), Some("99")),
      "empty str bound" -> ColStat(0L, Some(""), Some("z")),
      "absent" -> ColStat(7L, None, None),
      "col:with,delims" -> ColStat(1L, Some("a:b,c"), Some("x y\tz")))
    val parsed = ColumnStats.parseMap(ColumnStats.renderMap(stats))
    assert(parsed == stats)
  }

  test("store_scan_pruned plans only the append segment") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val df = SparkEntry.queries("store_scan_pruned")(spark, "/root/testdata/sf0.001")
    val segs = segsOf(df)
    // the predicate's time bound postdates the append split: the first
    // chained segment must not appear in the planned scan
    assert(!segs.contains(1) && segs.contains(2), s"scanned segments: $segs")
  }

  test("-0.0 bounds never prune a 0.0 probe (Spark compares them equal)") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark, tmpRoot("graft_colstats_negzero"))
    store.register("z", Seq(
      ("u1", ts("2024-01-05"), -0.0),
      ("u1", ts("2024-01-06"), -0.0))
      .toDF("entity_id", "timestamp", "score"))
    store.registerAppend("z", Seq(("u2", ts("2024-02-05"), 5.0))
      .toDF("entity_id", "timestamp", "score"))
    // With parquet filter pushdown DISABLED, Spark evaluates
    // -0.0 === 0.0 as TRUE (IEEE): the segment whose min/max are both
    // -0.0 must NOT be pruned by our stats — an unnormalized bound
    // would order "-0.0" below the 0.0 probe and drop both rows.
    // (With pushdown enabled Spark's own parquet layer excludes the
    // rows either way — an upstream -0.0 edge our pruning must simply
    // agree with, which the invariant check covers.)
    val key = "spark.sql.parquet.filterPushdown"
    spark.conf.set(key, "false")
    try {
      assert(store.scanWhere("z", col("score") === 0.0).count() == 2)
      assert(store.scanWhere("z", col("score") === -0.0).count() == 2)
    } finally spark.conf.set(key, "true")
    // invariant under the default config too: pruned == unpruned
    assert(store.scanWhere("z", col("score") === 0.0).count() ==
      store.getVersion("z", 2).filter(col("score") === 0.0).count())
  }

  test("legacy ts-range stats never prune IS NULL (null-ts rows exist)") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("graft_colstats_nullts")
    val store = new FeatureStore(spark, root)
    store.register("t", Seq(
      ("u1", Some(ts("2024-01-05")), 1L),
      ("u2", Option.empty[java.sql.Timestamp], 2L))
      .toDF("entity_id", "timestamp", "feature_b"))
    store.registerAppend("t", Seq(("u3", Some(ts("2024-02-05")), 3L))
      .toDF("entity_id", "timestamp", "feature_b"))
    // reduce the catalog to the legacy shape: ts range (R) only
    val catFile = graft.store.CatalogPersistence.tableFile(root, "t")
    val stripped = java.nio.file.Files.readString(catFile).split("\n")
      .filterNot(l => l.startsWith("X\t") || l.startsWith("N\t"))
      .mkString("\n")
    java.nio.file.Files.writeString(catFile, stripped)
    val reopened = new FeatureStore(spark, root)
    // the synthesized ts stat must claim "nulls may exist": the
    // null-ts row survives an IS NULL scan
    val got = reopened.scanWhere("t", col("timestamp").isNull).collect()
    assert(got.length == 1 && got.head.getAs[Long]("feature_b") == 2L)
  }

  test("deleteRowsByKeys: distributed key delete with segment skipping") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("graft_colstats_delkeys")
    val store = threeSliceStore(root)
    // the February segment is stats-disjoint from the key set: destroy
    // it — the delete must never touch it
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(root, "t", "v=2").toFile)
    val keys = Seq(
      ("user_3", ts("2024-03-05")),   // exists → deleted
      ("user_3", ts("2024-03-21")),   // no such ts → ignored
      ("ghost", ts("2024-03-05")))    // no such entity → ignored
      .toDF("entity_id", "timestamp")
    val info = store.deleteRowsByKeys("t", keys)
    assert(info.exists(_.rowCount == 5))
    // re-applying the same keys is a no-op (CDC replay idempotence)
    assert(store.deleteRowsByKeys("t", keys).isEmpty)
    assert(store.getTableInfo("t").rowCount == 5)
    // the change feed recorded the deleted row
    val ch = store.getChanges("t", 3, 4)
      .filter(col("_change_type") === "delete").collect()
    assert(ch.length == 1 && ch.head.getAs[Long]("feature_b") == 30000L)
  }

  test("decimal column stats prune exactly") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark, tmpRoot("graft_colstats_dec"))
    def df(v: String, month: Int) = Seq(
      ("u1", ts(f"2024-$month%02d-05"), BigDecimal(v)))
      .toDF("entity_id", "timestamp", "amount")
    store.register("d", df("-12.345", 1))
    store.registerAppend("d", df("99999.99", 2))
    assert(segsOf(store.scanWhere("d",
      col("amount") > BigDecimal("1000"))) == Set(2))
    assert(segsOf(store.scanWhere("d",
      col("amount") === BigDecimal("-12.345"))) == Set(1))
    assert(store.scanWhere("d", col("amount") < BigDecimal("-100")).isEmpty)
  }

  test("pruning never fires without recorded stats (legacy safety)") {
    val root = tmpRoot("graft_colstats_legacy")
    val store = threeSliceStore(root)
    // strip the new records the way a pre-stats catalog would lack them
    val catFile = graft.store.CatalogPersistence.tableFile(root, "t")
    val stripped = java.nio.file.Files.readString(catFile).split("\n")
      .filterNot(l => l.startsWith("X\t") || l.startsWith("N\t"))
      .mkString("\n")
    java.nio.file.Files.writeString(catFile, stripped)
    val reopened = new FeatureStore(spark, root)
    // ts-range pruning still works from the legacy R record...
    val byTs =
      reopened.scanWhere("t", col("timestamp") >= lit(ts("2024-03-01")))
    assert(segsOf(byTs) == Set(3))
    // ...but a value predicate scans everything — and is still exact
    val byVal = reopened.scanWhere("t", col("feature_b") >= 1000L)
    assert(segsOf(byVal) == Set(1, 2, 3))
    assert(byVal.count() == 4)
  }

  test("a filter naming an unknown column raises, on every call") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("graft_unknown_col").toString)
    store.register("t", Seq(("e1", ts("2024-01-01"), 1.0)).toDF("entity_id", "timestamp", "v"))
    // the second call resolves against the table's kept probe
    (1 to 2).foreach { _ =>
      intercept[org.apache.spark.sql.AnalysisException](
        store.scanWhere("t", org.apache.spark.sql.functions.col("nope") > 1))
      intercept[org.apache.spark.sql.AnalysisException](
        store.deleteRows("t", org.apache.spark.sql.functions.col("nope") > 1))
      assert(store.get("t", Seq("e1"), ts("2024-02-01")).count() == 1)
    }
    // a new column gets a new probe: it resolves once the table has it
    store.registerAppend("t",
      Seq(("e2", ts("2024-01-02"), 2.0, 5)).toDF("entity_id", "timestamp", "v", "nope"),
      mergeSchema = true)
    assert(store.scanWhere("t", org.apache.spark.sql.functions.col("nope") > 1).count() == 1)
  }
}
