package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{FeatureStore, FeatureTableNotFoundError, FeatureValidationError, TxnLogStorage}

/** Row-level mutation surface: deleteRows (copy-on-write DELETE),
  * registerUpsert (MERGE), getChanges (change data feed), and the
  * per-version operation record that backs DESCRIBE HISTORY and the
  * change feed's compaction fast path.
  */
class MutationSpec extends AnyFunSuite with SparkTestBase {

  private def freshStore(maxVersions: Int = 10): FeatureStore =
    new FeatureStore(spark, maxVersions = maxVersions)

  /** Two-segment table: v1 = Jan rows, v2 = +Feb rows appended. */
  private def twoSegmentStore(): (FeatureStore, DataFrame, DataFrame) = {
    val store = freshStore()
    val jan = sampleFeatures.filter(col("timestamp") < lit(ts("2024-02-01")))
    val feb = sampleFeatures.filter(col("timestamp") >= lit(ts("2024-02-01")))
    store.register("t", jan)
    store.registerAppend("t", feb)
    (store, jan, feb)
  }

  // ------------------------------------------------------------ deleteRows

  test("deleteRows removes matching rows in a new version, history intact") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    val info = store.deleteRows("t", col("feature_a") === 2.0)
    assert(info.version == 2)
    assert(info.rowCount == 4)
    val cur = store.getVersion("t", 2).collect()
    assert(cur.length == 4)
    assert(!cur.exists(_.getAs[Double]("feature_a") == 2.0))
    // time travel: version 1 still has the original five rows
    assert(store.getVersion("t", 1).count() == 5)
  }

  test("deleteRows matching nothing is a no-op (no version minted)") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    val info = store.deleteRows("t", col("feature_a") === 99.0)
    assert(info.version == 1)
    assert(store.getTableHistory("t").map(_.version) == Seq(1))
  }

  test("deleteRows removing every row is rejected") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    val e = intercept[FeatureValidationError](
      store.deleteRows("t", col("feature_a") >= 0.0))
    assert(e.getMessage.contains("every row"))
    assert(store.getTableInfo("t").version == 1)
  }

  test("deleteRows keeps NULL-condition rows (SQL DELETE semantics)") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    val df = Seq(
      ("u1", ts("2024-01-01"), Some(1.0)),
      ("u2", ts("2024-01-01"), None),
      ("u3", ts("2024-01-01"), Some(5.0))
    ).toDF("entity_id", "timestamp", "v")
    store.register("t", df)
    val info = store.deleteRows("t", col("v") > 2.0)
    assert(info.rowCount == 2)
    val kept = store.getVersion("t", 2).collect().map(_.getString(0)).toSet
    assert(kept == Set("u1", "u2")) // null v row survives
  }

  test("deleteRows rewrites only affected segments; untouched re-referenced") {
    val (store, _, _) = twoSegmentStore()
    // hits only segment 2 (the Feb append), and only part of it is
    // impossible here (Feb has 1 row) — so hit segment 1 partially
    val info = store.deleteRows("t", col("feature_a") === 1.0)
    assert(info.version == 3)
    val h = store.getTableHistory("t").find(_.version == 3).get
    // segment 2 (Feb delta) survives verbatim; survivors of segment 1
    // were rewritten as segment 3
    assert(h.segments.sorted == Seq(2, 3))
    assert(store.getVersion("t", 3).count() == 4)
  }

  test("deleteRows drops a wholly-matched segment without writing data") {
    val (store, _, feb) = twoSegmentStore()
    // every Feb row matches → manifest shrinks to the Jan segment only
    val info = store.deleteRows("t", col("timestamp") >= lit(ts("2024-02-01")))
    assert(info.version == 3)
    val h = store.getTableHistory("t").find(_.version == 3).get
    assert(h.segments == Seq(1))
    assert(info.rowCount == 5 - feb.count())
  }

  test("deleteRows preserves tie-break winners among duplicate keys") {
    val s = spark
    import s.implicits._
    val dup = Seq(
      ("u1", ts("2024-01-01"), 1.0),
      ("u1", ts("2024-01-01"), 2.0), // duplicate (entity, ts) key
      ("u2", ts("2024-01-05"), 9.0)
    ).toDF("entity_id", "timestamp", "v")
    val store = freshStore()
    store.register("t", dup)
    val before =
      store.get("t", Seq("u1"), ts("2024-01-10")).head().getAs[Double]("v")
    // delete an UNRELATED row: the duplicate pair's segment is rewritten,
    // but the surviving rows keep their ingest keys — same winner
    store.deleteRows("t", col("entity_id") === "u2")
    val after =
      store.get("t", Seq("u1"), ts("2024-01-10")).head().getAs[Double]("v")
    assert(before == after)
  }

  test("a failed deleteRows classification releases its claim (txn storage)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mut-claim-").toString
    val store = new FeatureStore(spark, root,
      storageFactory = new TxnLogStorage(_, _, _),
      arbitrationWaitMillis = 2000)
    store.register("t", sampleFeatures)
    intercept[Exception](
      store.deleteRows("t", col("no_such_column") === 1))
    // the reservation was released: the next register claims v2
    // immediately instead of waiting out a wedged lineage
    assert(store.register("t", sampleFeatures).version == 2)
  }

  // --------------------------------------------------------- registerUpsert

  test("upsert replaces matched keys and inserts new ones") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("t", sampleFeatures)
    val delta = Seq(
      ("user_1", ts("2024-01-15"), 42.0, 4200L), // existing key → replace
      ("user_3", ts("2024-01-10"), 7.0, 700L)    // new key → insert
    ).toDF("entity_id", "timestamp", "feature_a", "feature_b")
    val info = store.registerUpsert("t", delta)
    assert(info.version == 2)
    assert(info.rowCount == 6) // 5 - 1 replaced + 2 delta rows
    val pit =
      store.get("t", Seq("user_1"), ts("2024-01-19")).head()
    assert(pit.getAs[Double]("feature_a") == 42.0)
    assert(store.get("t", Seq("user_3"), ts("2024-01-19")).count() == 1)
    // version 1 unchanged
    assert(store.getVersion("t", 1)
      .filter(col("feature_a") === 42.0).count() == 0)
  }

  test("upsert replaces ALL current rows of a matched key; duplicate delta keys all insert") {
    val s = spark
    import s.implicits._
    val base = Seq(
      ("u1", ts("2024-01-01"), 1.0),
      ("u1", ts("2024-01-01"), 2.0), // duplicate key in the table
      ("u2", ts("2024-01-02"), 3.0)
    ).toDF("entity_id", "timestamp", "v")
    val store = freshStore()
    store.register("t", base)
    val delta = Seq(
      ("u1", ts("2024-01-01"), 10.0),
      ("u1", ts("2024-01-01"), 11.0) // duplicate key in the delta
    ).toDF("entity_id", "timestamp", "v")
    val info = store.registerUpsert("t", delta)
    assert(info.rowCount == 3) // both old u1 rows replaced by both new
    val vs = store.getVersion("t", 2)
      .filter(col("entity_id") === "u1")
      .collect().map(_.getAs[Double]("v")).sorted.toSeq
    assert(vs == Seq(10.0, 11.0))
  }

  test("upsert rejects schema drift") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("t", sampleFeatures)
    val bad = Seq(("u", ts("2024-01-01"), 1.0))
      .toDF("entity_id", "timestamp", "feature_a")
    intercept[FeatureValidationError](store.registerUpsert("t", bad))
  }

  test("upsert on a missing table falls back to register") {
    val store = freshStore()
    val info = store.registerUpsert("t", sampleFeatures)
    assert(info.version == 1)
    assert(store.getTableHistory("t").head.operation.contains("register"))
  }

  test("rewrite on a missing table fails; it never degrades to register") {
    // a rewrite addresses EXISTING rows (its dropKeys delete them) —
    // silently registering instead would ignore the drops and skip the
    // empty-delta validation
    val store = freshStore()
    val s = spark
    import s.implicits._
    val keys = Seq(("user_1", ts("2024-01-01")))
      .toDF("entity_id", "timestamp")
    intercept[FeatureTableNotFoundError] {
      store.registerRewrite("nope", sampleFeatures, keys)
    }
    assert(store.tableNames.isEmpty)
    // same contract under arbitration, where the claim (not the local
    // catalog) is what says the table is absent
    val root = java.nio.file.Files
      .createTempDirectory("graft-mut-rwmiss-").toString
    val txn = new FeatureStore(spark, root,
      storageFactory = new TxnLogStorage(_, _, _),
      arbitrationWaitMillis = 2000)
    intercept[FeatureTableNotFoundError] {
      txn.registerRewrite("nope", sampleFeatures, keys)
    }
    assert(txn.tableNames.isEmpty)
  }

  test("upsert leaves untouched segments un-rewritten") {
    val s = spark
    import s.implicits._
    val (store, _, _) = twoSegmentStore()
    val delta = Seq(("user_1", ts("2024-01-15"), 42.0, 4200L))
      .toDF("entity_id", "timestamp", "feature_a", "feature_b")
    store.registerUpsert("t", delta) // key lives in segment 1 only
    val h = store.getTableHistory("t").find(_.version == 3).get
    assert(h.segments.sorted == Seq(2, 3))
  }

  // ------------------------------------------------------------- getChanges

  test("change feed: append step emits only the delta, as inserts") {
    val (store, _, feb) = twoSegmentStore()
    val ch = store.getChanges("t", 1, 2).collect()
    assert(ch.length == feb.count())
    assert(ch.forall(_.getAs[String]("_change_type") == "insert"))
    assert(ch.forall(_.getAs[Int]("_commit_version") == 2))
  }

  test("change feed: fromVersion 0 includes creation inserts") {
    val (store, jan, feb) = twoSegmentStore()
    val ch = store.getChanges("t", 0, 2)
    assert(ch.count() == jan.count() + feb.count())
    assert(ch.filter(col("_commit_version") === 1).count() == jan.count())
  }

  test("change feed: delete steps emit the deleted rows") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    store.deleteRows("t", col("feature_a") === 2.0) // partial rewrite
    val ch = store.getChanges("t", 1, 2).collect()
    assert(ch.length == 1)
    assert(ch.head.getAs[String]("_change_type") == "delete")
    assert(ch.head.getAs[Double]("feature_a") == 2.0)
  }

  test("change feed: whole-segment delete takes the dropped-segment path") {
    val (store, _, feb) = twoSegmentStore()
    store.deleteRows("t", col("timestamp") >= lit(ts("2024-02-01")))
    val ch = store.getChanges("t", 2, 3).collect()
    assert(ch.length == feb.count())
    assert(ch.forall(_.getAs[String]("_change_type") == "delete"))
  }

  test("change feed: upsert emits delete+insert pairs; unchanged-content rows cancel") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("t", sampleFeatures)
    val delta = Seq(
      ("user_1", ts("2024-01-15"), 42.0, 4200L), // changed content
      ("user_2", ts("2024-01-20"), 20.0, 2000L)  // identical content
    ).toDF("entity_id", "timestamp", "feature_a", "feature_b")
    store.registerUpsert("t", delta)
    val ch = store.getChanges("t", 1, 2).collect()
    val byType = ch.groupBy(_.getAs[String]("_change_type"))
    // identical-content replacement is NOT a change; only the real one is
    assert(byType("insert").map(_.getAs[Double]("feature_a")).toSeq == Seq(42.0))
    assert(byType("delete").map(_.getAs[Double]("feature_a")).toSeq == Seq(2.0))
  }

  test("change feed: an upserted -0.0 reads alike with or without an overlapping segment") {
    val s = spark
    import s.implicits._
    // the inserted row's sign bits in the change feed, for each kernel,
    // with the delta's key bounds overlapping the one segment or not
    def insertedBits(kernel: FeatureStore.MutationKernel, overlap: Boolean): Seq[Long] = {
      val store = freshStore()
      store.register("t", Seq(("user_1", ts("2024-01-01"), 1.0))
        .toDF("entity_id", "timestamp", "val"))
      val delta =
        (if (overlap) Seq(("user_1", ts("2024-01-01"), 5.0)) else Nil) :+
          (("user_9", ts(if (overlap) "2024-01-02" else "2025-06-01"), -0.0))
      store.registerUpsertOn(kernel, "t", delta.toDF("entity_id", "timestamp", "val"))
      store.getChanges("t", 1, 2).collect().toSeq
        .filter(r => r.getAs[String]("entity_id") == "user_9")
        .map(r => java.lang.Double.doubleToRawLongBits(r.getAs[Double]("val")))
    }
    for {
      kernel <- Seq(FeatureStore.MutationKernel.OnSpark, FeatureStore.MutationKernel.OnDriver)
      overlap <- Seq(true, false)
    } assert(insertedBits(kernel, overlap) == Seq(0L),
      s"$kernel, overlap = $overlap: the insert must read as 0.0, as the netting records it")
  }

  test("change feed: compact step contributes nothing") {
    val (store, jan, feb) = twoSegmentStore()
    store.compact("t")
    assert(store.getChanges("t", 2, 3).count() == 0)
    // and a multi-step feed across the compaction still carries the append
    assert(store.getChanges("t", 1, 3).count() == feb.count())
    assert(store.getChanges("t", 0, 3).count() == jan.count() + feb.count())
  }

  test("change feed: merge-schema append step reports only inserted rows") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    val base = Seq(("u1", ts("2024-01-01"), 1.0))
      .toDF("entity_id", "timestamp", "v")
    store.register("t", base)
    val evolved = Seq(("u2", ts("2024-02-01"), 2.0, "new"))
      .toDF("entity_id", "timestamp", "v", "tag")
    store.registerAppend("t", evolved, mergeSchema = true)
    val ch = store.getChanges("t", 1, 2).collect()
    assert(ch.length == 1)
    assert(ch.head.getAs[String]("tag") == "new")
    assert(ch.head.getAs[String]("_change_type") == "insert")
  }

  test("change feed plan shape: append step scans ONLY the delta segment; compact step scans nothing") {
    val (store, _, _) = twoSegmentStore()
    def scansOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    // append fast path: one scan, rooted at the delta segment (v=2) —
    // the base segment is never touched (the O(delta) guarantee)
    val appendScans = scansOf(store.getChanges("t", 1, 2))
    assert(appendScans.length == 1)
    assert(appendScans.head.relation.location.rootPaths
      .forall(_.toString.contains("v=2")))
    // compact step: resolved from the operation record — zero scans
    store.compact("t")
    assert(scansOf(store.getChanges("t", 2, 3)).isEmpty)
    // delete step: served from the RECORDED change set (_cdf), not a
    // two-snapshot diff — one scan, rooted at the change-data dir
    store.deleteRows("t", col("feature_a") === 2.0)
    val delScans = scansOf(store.getChanges("t", 3, 4))
    assert(delScans.length == 1)
    assert(delScans.head.relation.location.rootPaths
      .forall(_.toString.contains("_cdf")))
  }

  test("change feed: range validation and pruned-history errors") {
    val store = freshStore(maxVersions = 2)
    store.register("t", singleRow(1.0))
    store.register("t", singleRow(2.0))
    store.register("t", singleRow(3.0)) // version 1 pruned
    intercept[FeatureValidationError](store.getChanges("t", 3, 2))
    assert(store.getChanges("t", 2, 2).count() == 0) // same endpoints: empty
    val e = intercept[FeatureTableNotFoundError](store.getChanges("t", 0, 3))
    assert(e.getMessage.contains("missing"))
    // the retained window still diffs fine (full re-registers → exceptAll)
    val ch = store.getChanges("t", 2, 3).collect()
    assert(ch.map(_.getAs[String]("_change_type")).sorted.toSeq ==
      Seq("delete", "insert"))
  }

  // ---------------------------------------------------------- restore

  test("restore re-references the old manifest with zero data written") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    store.deleteRows("t", col("feature_a") === 2.0)
    val info = store.restoreVersion("t", 1)
    assert(info.version == 3)
    assert(info.rowCount == 5)
    // content is exactly version 1 again
    assert(store.getVersion("t", 3).collect().toSet ==
      store.getVersion("t", 1).collect().toSet)
    // the manifest re-references version 1's segment — no v=3 data dir
    val h = store.getTableHistory("t").find(_.version == 3).get
    assert(h.segments == Seq(1))
    assert(h.operation.contains("restore"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store.rootPath, "t", "v=3")))
    // the rolled-over delete version stays in history
    assert(store.getVersion("t", 2).count() == 4)
  }

  test("restore of the current version is a no-op; unknown version raises") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    assert(store.restoreVersion("t", 1).version == 1)
    assert(store.getTableHistory("t").map(_.version) == Seq(1))
    intercept[FeatureTableNotFoundError](store.restoreVersion("t", 9))
  }

  test("restore reverts a schema evolution") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("t", Seq(("u1", ts("2024-01-01"), 1.0))
      .toDF("entity_id", "timestamp", "v"))
    store.registerAppend("t",
      Seq(("u2", ts("2024-02-01"), 2.0, "x"))
        .toDF("entity_id", "timestamp", "v", "tag"),
      mergeSchema = true)
    val info = store.restoreVersion("t", 1)
    assert(info.columns == Seq("entity_id", "timestamp", "v")) // tag gone
    assert(store.getVersion("t", info.version).columns.toSeq ==
      Seq("entity_id", "timestamp", "v"))
  }

  test("change feed across a restore emits the undone changes — composed, not diffed") {
    val (store, _, feb) = twoSegmentStore()
    store.restoreVersion("t", 1) // undo the append
    val feed = store.getChanges("t", 2, 3)
    val ch = feed.collect()
    assert(ch.length == feb.count())
    assert(ch.forall(_.getAs[String]("_change_type") == "delete"))
    // composition reads ONLY the interval's delta segment (v=2), never
    // the two snapshots
    val scans = feed.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1 &&
      scans.head.relation.location.rootPaths
        .forall(_.toString.contains("v=2")))
  }

  test("restore across a recorded delete: feed re-inserts from the change set") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    store.deleteRows("t", col("feature_a") === 2.0) // recorded
    store.restoreVersion("t", 1)
    val feed = store.getChanges("t", 2, 3)
    val ch = feed.collect()
    assert(ch.length == 1)
    assert(ch.head.getAs[String]("_change_type") == "insert")
    assert(ch.head.getAs[Double]("feature_a") == 2.0)
    // served from the recorded set via composition — every relation in
    // the plan is rooted at _cdf, no snapshot is read (logical plan:
    // robust under AQE, which hides physical leaves behind stages)
    val roots = feed.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("_cdf")))
  }

  test("restore across a multi-step interval composes the net inverse") {
    val (store, _, feb) = twoSegmentStore() // v1 jan, v2 +feb
    store.deleteRows("t", col("feature_a") === 1.0) // v3, recorded
    store.restoreVersion("t", 1) // v4: undo both the append and the delete
    val ch = store.getChanges("t", 3, 4).collect()
    val ins = ch.filter(_.getAs[String]("_change_type") == "insert")
    val del = ch.filter(_.getAs[String]("_change_type") == "delete")
    assert(ins.map(_.getAs[Double]("feature_a")).toSeq == Seq(1.0))
    assert(del.length == feb.count())
  }

  test("restore whose interval needs a diff falls back to the exact diff") {
    val store = freshStore()
    store.register("t", singleRow(1.0))
    store.register("t", singleRow(2.0)) // full re-register: diff-only step
    store.restoreVersion("t", 1)
    val ch = store.getChanges("t", 2, 3).collect()
    assert(ch.map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Double]("val"))).toSet ==
      Set("insert" -> 1.0, "delete" -> 2.0))
  }

  test("change feed addressed by commit timestamps") {
    val store = freshStore()
    store.register("t", sampleFeatures.filter(col("timestamp") < lit(ts("2024-02-01"))))
    Thread.sleep(10)
    val afterV1 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(10)
    store.registerAppend("t", sampleFeatures.filter(col("timestamp") >= lit(ts("2024-02-01"))))
    Thread.sleep(10)
    val afterV2 = new java.sql.Timestamp(System.currentTimeMillis())
    val beforeAll = ts("2000-01-01")
    assert(store.getChangesBetween("t", beforeAll, afterV2).count() == 5)
    assert(store.getChangesBetween("t", afterV1, afterV2).count() == 1)
    assert(store.getChangesBetween("t", afterV2, afterV2).count() == 0)
    intercept[FeatureValidationError](
      store.getChangesBetween("t", afterV2, afterV1))
    intercept[FeatureTableNotFoundError](
      store.getChangesBetween("t", beforeAll, beforeAll))
  }

  // ------------------------------------------------- history + persistence

  test("history records the producing operation and row count per version") {
    val (store, _, _) = twoSegmentStore()
    store.deleteRows("t", col("feature_a") === 1.0)
    store.compact("t")
    val h = store.getTableHistory("t")
    assert(h.map(v => v.version -> v.operation) == Seq(
      1 -> Some("register"), 2 -> Some("append"),
      3 -> Some("delete"), 4 -> Some("compact")))
    assert(h.map(_.rows.get) == Seq(4, 5, 4, 4))
  }

  test("operations and mutations survive a store reopen") {
    val (store, _, _) = twoSegmentStore()
    store.deleteRows("t", col("feature_a") === 1.0)
    val reopened = new FeatureStore(spark, store.rootPath)
    assert(reopened.getTableInfo("t").rowCount == 4)
    assert(reopened.getTableHistory("t").map(_.operation.get) ==
      Seq("register", "append", "delete"))
    val feed = reopened.getChanges("t", 2, 3)
    assert(feed.count() == 1)
    // the change-data authorization persisted: the reopened feed is
    // still served from the recorded set, not a diff
    val scans = feed.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1 &&
      scans.head.relation.location.rootPaths
        .forall(_.toString.contains("_cdf")))
  }

  test("a change-data file the commit never vouched for is ignored") {
    val (store, _, feb) = twoSegmentStore()
    // plant a STALE change file at version 2 (whose commit recorded
    // none — it was an append): the feed must ignore it and keep the
    // append fast path, rather than misattribute the junk
    val junk = sampleFeatures.limit(1)
      .withColumn("_change_type", lit("delete"))
    junk.write.mode("overwrite")
      .parquet(s"${store.rootPath}/t/_cdf/v=2")
    val ch = store.getChanges("t", 1, 2).collect()
    assert(ch.length == feb.count())
    assert(ch.forall(_.getAs[String]("_change_type") == "insert"))
  }

  // --------------------------------------------- txn-log multi-writer path

  test("mutations over TxnLogStorage reconcile from markers alone") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-mut-txn-").toString
    val a = new FeatureStore(spark, root,
      storageFactory = new TxnLogStorage(_, _, _))
    a.register("t", sampleFeatures)
    a.registerUpsert("t", {
      val s = spark
      import s.implicits._
      Seq(("user_1", ts("2024-01-15"), 42.0, 4200L))
        .toDF("entity_id", "timestamp", "feature_a", "feature_b")
    })
    a.deleteRows("t", col("feature_a") === 10.0)
    // destroy the catalog: the commit markers are the only record left
    java.nio.file.Files.delete(graft.store.CatalogPersistence.tableFile(root, "t"))
    val b = new FeatureStore(spark, root,
      storageFactory = new TxnLogStorage(_, _, _))
    assert(b.getTableInfo("t").version == 3)
    assert(b.getTableInfo("t").rowCount == 4) // 5, upsert ±1, delete -1
    assert(b.getTableHistory("t").map(_.operation.get) ==
      Seq("register", "upsert", "delete"))
    val cur = b.getVersion("t", 3).collect()
    assert(cur.length == 4)
    assert(cur.exists(_.getAs[Double]("feature_a") == 42.0))
    assert(!cur.exists(_.getAs[Double]("feature_a") == 10.0))
    // two writers: B mutates next — arbitration over the reconciled state
    val infoB = b.deleteRows("t", col("feature_a") === 42.0)
    assert(infoB.version == 4)
    assert(a.getVersion("t", 4).count() == 3) // A adopts B's version on miss
  }
  // --------------------------------------------------- incremental rollup

  test("IncrementalRollup maintained == from-scratch across delete/upsert/append") {
    val store = freshStore()
    store.register("t", sampleFeatures)
    // v2: delete BOTH user_2 rows — that entire group must vanish
    store.deleteRows("t", col("entity_id") === "user_2")
    // v3: upsert replaces one user_1 row (+5 on feature_b) and inserts
    // a brand-new entity
    val s = spark
    import s.implicits._
    store.registerUpsert("t", Seq(
      ("user_1", ts("2024-01-15"), 2.0, 205L),
      ("user_3", ts("2024-03-01"), 7.0, 700L)
    ).toDF("entity_id", "timestamp", "feature_a", "feature_b"))
    // v4: plain append into an existing group
    store.registerAppend("t", Seq(
      ("user_3", ts("2024-03-02"), 8.0, 800L)
    ).toDF("entity_id", "timestamp", "feature_a", "feature_b"))

    val maintained = graft.store.IncrementalRollup
      .maintained(store, "t", Seq("entity_id"), col("feature_b"))
    val scratch = graft.store.IncrementalRollup
      .initialState(store.getVersion("t", 4), Seq("entity_id"), col("feature_b"))
    assert(maintained.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(maintained).isEmpty)
    val m = maintained.collect()
      .map(r => r.getAs[String]("entity_id") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_value"))).toMap
    assert(!m.contains("user_2")) // zero-count group dropped, not kept at 0
    assert(m("user_1") == (3L, 100L + 205L + 300L)) // upsert netted +5
    assert(m("user_3") == (2L, 1500L))
  }

  test("IncrementalRollup keeps an all-NULL-measure group's sum NULL (SQL sum semantics)") {
    // SQL sum over zero non-null rows is NULL, not 0 — the fold must
    // agree with the from-scratch rollup BOTH for a group that was
    // born all-null and for one whose valued rows were all deleted
    val store = freshStore()
    val s = spark
    import s.implicits._
    def rows(t3: Seq[(String, java.sql.Timestamp, Option[Long])]) =
      t3.toDF("entity_id", "timestamp", "v")
    store.register("t", rows(Seq(
      ("a", ts("2024-01-01"), None), // group a: all-null from birth
      ("a", ts("2024-01-02"), None),
      ("b", ts("2024-01-01"), Some(5L)), // group b: one valued, one null
      ("b", ts("2024-01-02"), None))))
    // delete b's ONLY valued row: its sum must become NULL, not 0
    store.deleteRows("t", col("v") === 5L)
    for (flavor <- Seq("sum", "stats")) {
      val maintained =
        if (flavor == "sum")
          graft.store.IncrementalRollup
            .maintained(store, "t", Seq("entity_id"), col("v"))
        else graft.store.IncrementalRollup
          .maintainedStats(store, "t", Seq("entity_id"), col("v"))
      val scratch =
        if (flavor == "sum")
          graft.store.IncrementalRollup.initialState(
            store.getVersion("t", 2), Seq("entity_id"), col("v"))
        else graft.store.IncrementalRollup.initialStateStats(
          store.getVersion("t", 2), Seq("entity_id"), col("v"))
      assert(maintained.exceptAll(scratch).isEmpty &&
        scratch.exceptAll(maintained).isEmpty, s"flavor=$flavor")
      val byKey = maintained.collect()
        .map(r => r.getAs[String]("entity_id") -> r).toMap
      assert(byKey("a").isNullAt(byKey("a").fieldIndex("sum_value")),
        s"flavor=$flavor: born-all-null group's sum must stay NULL")
      assert(byKey("b").isNullAt(byKey("b").fieldIndex("sum_value")),
        s"flavor=$flavor: group deleted to all-null must fold sum to NULL")
      assert(byKey("b").getAs[Long]("n_rows") == 1L)
      assert(byKey("b").getAs[Long]("n_valued") == 0L)
    }
  }

  test("IncrementalRollup folds NULL-valued group keys (null-safe merge join)") {
    // GROUP BY treats NULLs as one group but a plain equi-join never
    // matches them — the merge must use <=> or the null group's state
    // and delta rows silently diverge from the from-scratch rollup
    val store = freshStore()
    val s = spark
    import s.implicits._
    def df(rows: Seq[(String, java.sql.Timestamp, Option[String], Long)]) =
      rows.toDF("entity_id", "timestamp", "color", "v")
    store.register("t", df(Seq(
      ("u1", ts("2024-01-01"), Some("red"), 10L),
      ("u2", ts("2024-01-01"), None, 20L),
      ("u3", ts("2024-01-02"), None, 30L))))
    store.deleteRows("t", col("entity_id") === "u2") // null group −20
    store.registerUpsert("t", df(Seq( // null group 30 → 35
      ("u3", ts("2024-01-02"), None, 35L))))
    store.registerAppend("t", df(Seq( // null group +5
      ("u4", ts("2024-01-03"), None, 5L))))
    val maintained = graft.store.IncrementalRollup
      .maintained(store, "t", Seq("color"), col("v"))
    val scratch = graft.store.IncrementalRollup
      .initialState(store.getVersion("t", 4), Seq("color"), col("v"))
    assert(maintained.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(maintained).isEmpty)
    val m = maintained.collect()
      .map(r => Option(r.getAs[String]("color")) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_value"))).toMap
    assert(m(None) == (2L, 40L))
    assert(m(Some("red")) == (1L, 10L))
  }

  test("IncrementalRollup min/max: clean closed-form folds vs dirty rescans") {
    val store = freshStore()
    val s = spark
    import s.implicits._
    def df(rows: Seq[(String, java.sql.Timestamp, Long)]) =
      rows.toDF("entity_id", "timestamp", "v")
    store.register("t", df(Seq(
      ("a", ts("2024-01-01"), 10L), ("a", ts("2024-01-02"), 20L),
      ("a", ts("2024-01-03"), 30L),
      ("b", ts("2024-01-01"), 5L), ("b", ts("2024-01-02"), 50L))))
    // v2 append: pure inserts — 'a' widens its max closed-form, 'c' is
    // a brand-new group (no bounds, no deletes → still closed-form)
    store.registerAppend("t", df(Seq(
      ("a", ts("2024-01-04"), 99L), ("c", ts("2024-01-05"), 7L))))
    // v3 delete: kills 'a''s CURRENT MIN (boundary hit → dirty rescan
    // must surface 20 as the new min) but only a STRICTLY INTERIOR row
    // of 'b'... there is none interior, so delete b's max instead —
    // also dirty — while 'c' stays untouched (clean path)
    store.deleteRows("t",
      (col("entity_id") === "a" && col("v") === 10L) ||
        (col("entity_id") === "b" && col("v") === 50L))
    // v4 upsert: replace one 'a' row (30 → 35), adding a delete+insert
    // pair to the same fold interval
    store.registerUpsert("t", df(Seq(("a", ts("2024-01-03"), 35L))))

    val maintained = graft.store.IncrementalRollup
      .maintainedMinMax(store, "t", Seq("entity_id"), col("v"))
    val scratch = graft.store.IncrementalRollup.initialStateMinMax(
      store.getVersion("t", store.getTableInfo("t").version),
      Seq("entity_id"), col("v"))
    assert(maintained.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(maintained).isEmpty)
    val m = maintained.collect().map(r => r.getAs[String]("entity_id") ->
      ((r.getAs[Long]("n_rows"), r.getAs[Long]("min_value"),
        r.getAs[Long]("max_value")))).toMap
    assert(m("a") == ((3L, 20L, 99L))) // min rescanned past the deleted 10
    assert(m("b") == ((1L, 5L, 5L)))   // max rescanned past the deleted 50
    assert(m("c") == ((1L, 7L, 7L)))   // insert-only group, closed-form
  }

  test("IncrementalRollup distinct: multiplicity state tracks the distinct set exactly") {
    val store = freshStore()
    val s = spark
    import s.implicits._
    def df(rows: Seq[(String, java.sql.Timestamp, Option[Long])]) =
      rows.toDF("entity_id", "timestamp", "v")
    store.register("t", df(Seq(
      ("a", ts("2024-01-01"), Some(1L)), ("a", ts("2024-01-02"), Some(1L)),
      ("a", ts("2024-01-03"), Some(2L)),
      ("b", ts("2024-01-01"), Some(5L)), ("b", ts("2024-01-02"), None))))
    // delete ONE of the two copies of value 1 (distinct unchanged) and
    // the ONLY copy of value 2 (distinct shrinks)
    store.deleteRows("t",
      col("entity_id") === "a" &&
        (col("timestamp") === lit(ts("2024-01-02")) ||
          col("timestamp") === lit(ts("2024-01-03"))))
    // append re-introduces 2 and a brand-new 3
    store.registerAppend("t", df(Seq(
      ("a", ts("2024-01-04"), Some(2L)), ("a", ts("2024-01-05"), Some(3L)))))

    val got = graft.store.IncrementalRollup
      .maintainedDistinct(store, "t", Seq("entity_id"), col("v"))
      .collect().map(r => r.getAs[String]("entity_id") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_distinct")))).toMap
    // a: rows {1, 2, 3} → 3 rows, 3 distinct; b: {5, NULL} → 2 rows,
    // 1 distinct (NULL never counts as a distinct value)
    assert(got == Map("a" -> ((3L, 3L)), "b" -> ((2L, 1L))))
  }

  test("IncrementalRollup serving table: appends advance closed-form, latest-deletes rescan") {
    val store = freshStore()
    val s = spark
    import s.implicits._
    def df(rows: Seq[(String, java.sql.Timestamp, Long, Long)]) =
      rows.toDF("entity_id", "timestamp", "event_id", "v")
    store.register("t", df(Seq(
      ("a", ts("2024-01-01"), 1L, 10L), ("a", ts("2024-01-05"), 2L, 20L),
      ("b", ts("2024-01-02"), 3L, 30L), ("b", ts("2024-01-06"), 4L, 40L),
      ("c", ts("2024-01-03"), 5L, 50L))))
    // v2: delete 'a''s LATEST (dirty → rescan surfaces event 1) and an
    // OLD row of 'b' (clean — latest untouched)
    store.deleteRows("t", col("event_id") === 2L || col("event_id") === 3L)
    // v3: append a strictly-newer row for 'c' (clean advance) and a
    // brand-new entity 'd'
    store.registerAppend("t", df(Seq(
      ("c", ts("2024-02-01"), 6L, 60L), ("d", ts("2024-02-02"), 7L, 70L))))

    val maintained = graft.store.IncrementalRollup
      .maintainedServing(store, "t", tieCols = Seq("event_id"))
    val scratch = graft.store.IncrementalRollup.initialStateServing(
      store.getVersion("t", store.getTableInfo("t").version),
      tieCols = Seq("event_id"))
    assert(maintained.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(maintained).isEmpty)
    val m = maintained.collect().map(r => r.getAs[String]("entity_id") ->
      r.getAs[Long]("event_id")).toMap
    assert(m == Map("a" -> 1L, "b" -> 4L, "c" -> 6L, "d" -> 7L))
  }

  test("serving maintenance reads the current version ONLY when deletes are possible") {
    // the O(changes) claim for the production append-only feed rides
    // on the metadata routing: side 2 (the current version's rows)
    // must be ABSENT from the fused union for delete-free histories
    // and present once a delete-capable op lands. Pin the decision by
    // the _side literals the union branches tag themselves with.
    def sideTags(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect { case p =>
        p.expressions.flatMap(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Alias
              if a.name == "_side" => a.child
        })
      }.flatten.collect {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      }.toSet
    val store = freshStore()
    val s = spark
    import s.implicits._
    def df(rows: Seq[(String, java.sql.Timestamp, Long, Long)]) =
      rows.toDF("entity_id", "timestamp", "event_id", "v")
    store.register("t", df(Seq(("a", ts("2024-01-01"), 1L, 10L))))
    store.registerAppend("t", df(Seq(("a", ts("2024-01-02"), 2L, 20L))))
    def maintained() = graft.store.IncrementalRollup
      .maintainedServing(store, "t", tieCols = Seq("event_id"))
    assert(sideTags(maintained()) == Set(0, 1),
      "append-only history must not carry the current version (side 2)")
    store.registerAppend("t", df(Seq(("a", ts("2024-01-03"), 3L, 30L))))
    assert(sideTags(maintained()) == Set(0, 1))
    store.deleteRows("t", col("event_id") === 3L)
    assert(sideTags(maintained()) == Set(0, 1, 2),
      "a delete-bearing history must resolve dirty entities from side 2")
    assert(maintained().collect().map(r =>
      r.getAs[String]("entity_id") -> r.getAs[Long]("event_id")).toMap ==
      Map("a" -> 2L))
  }

  test("IncrementalRollup serving: duplicate-timestamp ties resolve by tie column") {
    val store = freshStore()
    val s = spark
    import s.implicits._
    store.register("t", Seq(
      ("a", ts("2024-01-01"), 1L, 10L), ("a", ts("2024-01-01"), 9L, 90L))
      .toDF("entity_id", "timestamp", "event_id", "v"))
    // same timestamp, higher event_id wins — then delete it: the
    // rescan must fall back to the lower-id sibling at the SAME ts
    store.deleteRows("t", col("event_id") === 9L)
    val m = graft.store.IncrementalRollup
      .maintainedServing(store, "t", tieCols = Seq("event_id"))
      .collect().map(r => r.getAs[String]("entity_id") ->
        r.getAs[Long]("event_id")).toMap
    assert(m == Map("a" -> 1L))
  }

  test("IncrementalRollup min/max: group deleted to zero rows vanishes") {
    val store = freshStore()
    val s = spark
    import s.implicits._
    store.register("t", Seq(
      ("a", ts("2024-01-01"), 1L), ("b", ts("2024-01-01"), 2L),
      ("b", ts("2024-01-02"), 3L))
      .toDF("entity_id", "timestamp", "v"))
    store.deleteRows("t", col("entity_id") === "a")
    val m = graft.store.IncrementalRollup
      .maintainedMinMax(store, "t", Seq("entity_id"), col("v"))
      .collect().map(r => r.getAs[String]("entity_id") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("min_value"),
          r.getAs[Long]("max_value")))).toMap
    assert(m == Map("b" -> ((2L, 2L, 3L))))
  }

  // ------------------------------------------- null-key addressing
  // Null keys are legal observations (prepare casts null → null, the
  // reference's NaT analogue). The key-addressed primitives must
  // address them NULL-SAFELY: a null-unsafe match silently accumulates
  // duplicates on upsert and no-ops on key delete — the same class of
  // defect the IVM folds already guard against with <=> joins.

  /** u1 has one dated and one unknown-time observation. */
  private def nullKeyedTable(store: FeatureStore): Unit = {
    val s = spark
    import s.implicits._
    store.register("t", Seq(
      ("u1", Option(ts("2024-01-01")), 1.0),
      ("u1", Option.empty[java.sql.Timestamp], 2.0),
      ("u2", Option(ts("2024-01-02")), 3.0))
      .toDF("entity_id", "timestamp", "v"))
  }

  test("upsert replaces a NULL-timestamp key null-safely (no duplicate accumulation)") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    nullKeyedTable(store)
    val delta = Seq(("u1", Option.empty[java.sql.Timestamp], 20.0))
      .toDF("entity_id", "timestamp", "v")
    val info = store.registerUpsert("t", delta)
    assert(info.rowCount == 3) // replaced in place, not inserted alongside
    val nullRows = store.getVersion("t", info.version)
      .filter(col("timestamp").isNull).collect()
    assert(nullRows.map(_.getAs[Double]("v")).toSeq == Seq(20.0))
    // the change feed records the replacement (delete image + insert)
    val ch = store.getChanges("t", 1, info.version)
      .collect().map(r =>
        (r.getAs[String](FeatureStore.ChangeTypeCol), r.getAs[Double]("v")))
    assert(ch.toSet == Set(("delete", 2.0), ("insert", 20.0)))
  }

  test("upsert replaces a NULL-entity key null-safely") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("t", Seq(
      (Option.empty[String], Option(ts("2024-01-01")), 1.0),
      (Option("u1"), Option(ts("2024-01-01")), 2.0))
      .toDF("entity_id", "timestamp", "v"))
    val delta = Seq((Option.empty[String], Option(ts("2024-01-01")), 10.0))
      .toDF("entity_id", "timestamp", "v")
    val info = store.registerUpsert("t", delta)
    assert(info.rowCount == 2)
    assert(store.getVersion("t", info.version)
      .filter(col("entity_id").isNull)
      .collect().map(_.getAs[Double]("v")).toSeq == Seq(10.0))
  }

  test("deleteRowsByKeys addresses a NULL-timestamp key null-safely") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    nullKeyedTable(store)
    val keys = Seq(("u1", Option.empty[java.sql.Timestamp]))
      .toDF("entity_id", "timestamp")
    val info = store.deleteRowsByKeys("t", keys)
    assert(info.isDefined)
    val cur = store.getVersion("t", info.get.version)
    assert(cur.count() == 2)
    assert(cur.filter(col("timestamp").isNull).count() == 0)
    // a second delete of the same (now absent) key is a no-op
    assert(store.deleteRowsByKeys("t", keys).isEmpty)
  }

  test("null-key upsert is not defeated by key-range segment skipping") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    // segment 1: January rows + the null-ts observation (its non-null
    // ts bounds are January-only); segment 2: March rows
    store.register("t", Seq(
      ("u1", Option(ts("2024-01-01")), 1.0),
      ("u9", Option.empty[java.sql.Timestamp], 2.0))
      .toDF("entity_id", "timestamp", "v"))
    store.registerAppend("t", Seq(
      ("u3", Option(ts("2024-03-01")), 3.0))
      .toDF("entity_id", "timestamp", "v"))
    // delta spans a March key AND the null-ts key: the March-only time
    // bounds would prune segment 1 unless the skip condition admits
    // IS NULL on the dimension the key frame has nulls in
    val delta = Seq(
      ("u3", Option(ts("2024-03-01")), 30.0),
      ("u9", Option.empty[java.sql.Timestamp], 20.0))
      .toDF("entity_id", "timestamp", "v")
    val info = store.registerUpsert("t", delta)
    assert(info.rowCount == 3)
    val byEntity = store.getVersion("t", info.version)
      .collect().map(r => r.getAs[String]("entity_id") -> r.getAs[Double]("v"))
      .toMap
    assert(byEntity == Map("u1" -> 1.0, "u9" -> 20.0, "u3" -> 30.0))
  }

  // ------------------------------------------- change-set pass checks

  private def rootedStore(prefix: String): (FeatureStore, String) = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    (new FeatureStore(spark, root), root)
  }

  private def exists(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path))

  test("a segment's seeded schema equals the schema a read infers") {
    val s = spark
    import s.implicits._
    val (store, root) = rootedStore("graft_seeded_schema")
    // every column type the store persists, one row with nulls
    val wide = spark.sql("""
      SELECT * FROM VALUES
        (1L, TIMESTAMP'2024-01-05 00:00:00', 7, 1.5D,
         CAST(1.25 AS DECIMAL(10,2)), 'x', true, X'0102', DATE'2024-01-05',
         TIMESTAMP_NTZ'2024-01-05 01:02:03', array(1, 2),
         named_struct('a', 1, 'b', 'y')),
        (2L, TIMESTAMP'2024-02-07 00:00:00', NULL, NULL, NULL, NULL, NULL,
         NULL, NULL, NULL, NULL, NULL)
      AS w(entity_id, timestamp, i, d, dec, s, b, bin, dt, ntz, arr, st)""")
    store.register("t", wide)                                  // v1
    store.registerUpsert("t", wide.filter(col("entity_id") === 2L)
      .withColumn("i", lit(9)))                                // v2 + change set
    store.deleteRowsByKeys("t",
      Seq((1L, ts("2024-01-05"))).toDF("entity_id", "timestamp")) // v3 + change set
    store.registerEmpty("e", wide.limit(0))                    // zero-row v1
    store.register("n", Seq((1L, Option.empty[java.sql.Timestamp], 1.0))
      .toDF("entity_id", "timestamp", "v"))                    // all-null ts
    val seeded = Seq(
      s"$root/t/v=1", s"$root/t/v=2", s"$root/t/_cdf/v=2",
      s"$root/t/_cdf/v=3", s"$root/e/v=1")
    seeded.foreach { p =>
      val memo = graft.store.Storage.memoizedSchema(p)
      assert(memo.isDefined, s"$p was not seeded at write")
      graft.store.Storage.invalidateSchemas(p)
      val inferred = spark.read.parquet(p).schema
      assert(memo.get == inferred,
        s"$p seeded ${memo.get.treeString} but infers ${inferred.treeString}")
    }
    // the default partition of an all-null-timestamp segment infers as a
    // string: that segment is left to inference, never guessed
    assert(graft.store.Storage.memoizedSchema(s"$root/n/v=1").isEmpty)
    assert(store.getVersion("n", 1).count() == 1)
  }

  test("a segment whose files disagree with the catalog fails the upsert loudly") {
    val s = spark
    import s.implicits._
    val (store, root) = rootedStore("graft_segrows_mismatch")
    store.register("t", sampleFeatures.filter(col("timestamp") < lit(ts("2024-02-01"))))
    store.registerAppend("t", Seq(
      ("user_1", ts("2024-02-01"), 3.0, 300L),
      ("user_2", ts("2024-02-20"), 4.0, 400L))
      .toDF("entity_id", "timestamp", "feature_a", "feature_b"))
    // swap segment 2's part files for a copy holding one of its two rows
    val seg = s"$root/t/v=2"
    val swap = s"$root/swap"
    spark.read.parquet(seg).limit(1).write.partitionBy("_ts_date").parquet(swap)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seg))
    assert(new java.io.File(swap).renameTo(new java.io.File(seg)))
    val err = intercept[graft.store.FeatureStorageError](
      store.registerUpsert("t", Seq(("user_1", ts("2024-02-10"), 5.0, 500L))
        .toDF("entity_id", "timestamp", "feature_a", "feature_b")))
    assert(err.getMessage.contains("segment 2 of table 't' holds 1 rows"), err.getMessage)
    assert(err.getMessage.contains("catalog records 2"), err.getMessage)
    assert(store.getTableHistory("t").map(_.version) == Seq(1, 2))
    assert(!exists(s"$root/t/v=3") && !exists(s"$root/t/_cdf/v=3"))
  }

  test("no-match and every-row deleteRowsByKeys leave no change data and no version") {
    val s = spark
    import s.implicits._
    val (store, root) = rootedStore("graft_delete_keys_leftover")
    store.register("t", sampleFeatures.filter(col("timestamp") < lit(ts("2024-02-01"))))
    store.registerAppend("t", sampleFeatures.filter(col("timestamp") >= lit(ts("2024-02-01"))))
    // inside segment 1's key range, but no such row: scanned, unmatched
    val absent = Seq(("user_1", ts("2024-01-02"))).toDF("entity_id", "timestamp")
    assert(store.deleteRowsByKeys("t", absent).isEmpty)
    assert(!exists(s"$root/t/_cdf/v=3"))
    val all = sampleFeatures.select("entity_id", "timestamp")
    intercept[FeatureValidationError](store.deleteRowsByKeys("t", all))
    assert(!exists(s"$root/t/_cdf/v=3"))
    assert(store.getTableHistory("t").map(_.version) == Seq(1, 2))
  }

  test("change feed: a whole-segment deleteRowsByKeys records the dropped rows") {
    val (store, root) = rootedStore("graft_delete_keys_drop")
    val jan = sampleFeatures.filter(col("timestamp") < lit(ts("2024-02-01")))
    val feb = sampleFeatures.filter(col("timestamp") >= lit(ts("2024-02-01")))
    store.register("t", jan)
    store.registerAppend("t", feb)
    val info = store.deleteRowsByKeys("t", feb.select("entity_id", "timestamp"))
    assert(info.map(_.version).contains(3))
    // the manifest just drops segment 2; its rows are the change set
    assert(store.getVersion("t", 3).count() == jan.count())
    assert(exists(s"$root/t/_cdf/v=3"), "the dropped rows must be recorded")
    val ch = store.getChanges("t", 2, 3)
    assert(ch.filter(col("_change_type") =!= "delete").isEmpty)
    val cols = feb.columns.map(col).toSeq
    assert(ch.select(cols: _*).exceptAll(feb).isEmpty &&
      feb.exceptAll(ch.select(cols: _*)).isEmpty)
  }
}
