package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FeatureStore, FeatureTableNotFoundError, FeatureValidationError}

/** API-level ports of the reference's lifecycle tests
  * (reference tests/test_core.py:54-116, 270-347 — init, register,
  * versioning, table management) against the parquet-backed store.
  */
class FeatureStoreSpec extends AnyFunSuite with SparkTestBase {

  private def freshStore(maxVersions: Int = 5): FeatureStore =
    new FeatureStore(spark, maxVersions = maxVersions)

  // --- TestFeatureStoreInit (test_core.py:54-66) ---

  test("default max_versions is 10") {
    assert(new FeatureStore(spark).maxVersions == 10)
  }

  test("max_versions < 1 rejected") {
    intercept[IllegalArgumentException](new FeatureStore(spark, maxVersions = 0))
  }

  // --- TestRegisterFeatures (test_core.py:69-116) ---

  test("register returns correct metadata") {
    val store = freshStore()
    val info = store.register("user_features", sampleFeatures)
    assert(info.name == "user_features")
    assert(info.version == 1)
    assert(info.rowCount == 5)
    assert(info.columns.toSet ==
      Set("entity_id", "timestamp", "feature_a", "feature_b"))
    assert(store.tableNames == Seq("user_features"))
  }

  test("re-register increments version") {
    val store = freshStore()
    assert(store.register("t", singleRow(1.0)).version == 1)
    assert(store.register("t", singleRow(2.0)).version == 2)
  }

  test("register rejects missing required columns") {
    val s = spark
    import s.implicits._
    val bad = Seq((1, 2)).toDF("x", "y")
    intercept[FeatureValidationError](freshStore().register("bad", bad))
  }

  test("register rejects empty DataFrame") {
    intercept[FeatureValidationError](
      freshStore().register("empty", sampleFeatures.limit(0)))
  }

  // --- PIT reads through the store (schema round-trips parquet) ---

  test("get round-trips through parquet storage") {
    val store = freshStore()
    store.register("f", sampleFeatures)
    val rows = store.get("f", Seq("user_1"), ts("2024-01-20")).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("feature_a") == 2.0)
    assert(rows.head.schema.fieldNames.toSeq ==
      Seq("entity_id", "timestamp", "feature_a", "feature_b"))
  }

  test("get on unknown table raises with available-tables message") {
    val store = freshStore()
    store.register("known", sampleFeatures)
    val e = intercept[FeatureTableNotFoundError](
      store.get("nope", Seq("u"), ts("2024-01-01")))
    assert(e.getMessage.contains("known"))
  }

  test("getTrainingSet through the store") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("f", sampleFeatures)
    val spine = Seq(
      ("user_1", ts("2024-01-20")),
      ("user_2", ts("2024-01-15"))).toDF("entity_id", "timestamp")
    val out = store.getTrainingSet("f", spine).collect()
    assert(out.length == 2)
    assert(out.map(_.schema.fieldNames.toSeq).distinct.head ==
      Seq("entity_id", "timestamp", "feature_a", "feature_b"))
  }

  test("getTrainingSet enforces the staleness bound") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("f", sampleFeatures)
    val spine = Seq(
      ("user_1", ts("2024-01-20")), // match Jan 15 — 5 days old
      ("user_2", ts("2024-03-01"))) // match Jan 20 — 41 days old
      .toDF("entity_id", "timestamp")
    val out = store
      .getTrainingSet("f", spine, maxAgeSeconds = Some(7L * 86400))
      .collect()
    assert(out.map(_.getString(0)).toList == List("user_1"))
  }

  test("getFeatureView joins several tables with prefixed columns") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("fa", sampleFeatures)
    store.register("fb", sampleFeatures)
    val spine = Seq(("user_1", ts("2024-01-20"))).toDF("entity_id", "timestamp")
    val out = store.getFeatureView(spine, Seq("fa", "fb"))
    assert(out.columns.toSeq ==
      Seq("entity_id", "timestamp",
        "fa_timestamp", "fa_feature_a", "fa_feature_b",
        "fb_timestamp", "fb_feature_a", "fb_feature_b"))
    val r = out.collect().head
    assert(r.getAs[Double]("fa_feature_a") == 2.0)
    assert(r.getAs[Double]("fb_feature_a") == 2.0)
    intercept[FeatureValidationError](store.getFeatureView(spine, Nil))
  }

  test("getTrainingSet validates the spine") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("f", sampleFeatures)
    val badSpine = Seq(1).toDF("x")
    intercept[FeatureValidationError](store.getTrainingSet("f", badSpine))
  }

  test("a table deleted and re-registered at the same root reads only its new files and schema") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("t", sampleFeatures)
    store.register("u", sampleFeatures)
    val spine = Seq(("user_1", ts("2024-03-01")), ("user_2", ts("2024-03-01")))
      .toDF("entity_id", "timestamp")
    def reads(): Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "get on Spark" -> store.getOnSpark("t", Seq("user_1", "user_2"), ts("2024-03-01")),
      "get on the driver" -> store.getOnDriver("t", Seq("user_1", "user_2"), ts("2024-03-01")),
      "getTrainingSet on Spark" -> store.getTrainingSetOnSpark("t", spine),
      "getTrainingSet on the driver" -> store.getTrainingSetOnDriver("t", spine),
      "getFeatureView on Spark" -> store.getFeatureViewOnSpark(spine, Seq("t", "u")),
      "getFeatureView on the driver" -> store.getFeatureViewOnDriver(spine, Seq("t", "u")))
    // every kernel has read the old files, so every memo of them is warm
    reads().foreach { case (_, df) => df.collect() }

    assert(store.delete("t"))
    store.register("t", Seq(("user_1", ts("2024-01-10"), "new", 7)).toDF("entity_id", "timestamp", "label", "n"))
    val point = Seq("entity_id", "timestamp", "label", "n")
    val view = Seq("entity_id", "timestamp", "t_timestamp", "t_label", "t_n",
      "u_timestamp", "u_feature_a", "u_feature_b")
    reads().foreach { case (what, df) =>
      val rows = df.collect().map(_.toSeq).toSet
      if (what.startsWith("getFeatureView")) {
        assert(df.columns.toSeq == view, what)
        assert(rows == Set(
          Seq("user_1", ts("2024-03-01"), ts("2024-01-10"), "new", 7, ts("2024-02-01"), 3.0, 300L),
          Seq("user_2", ts("2024-03-01"), null, null, null, ts("2024-01-20"), 20.0, 2000L)), what)
      } else {
        assert(df.columns.toSeq == point, what)
        assert(rows == Set(Seq("user_1", ts("2024-01-10"), "new", 7)), what)
      }
    }
  }

  // --- TestVersioning (test_core.py:270-303) ---

  test("historical versions retrievable (test_core.py:273-291)") {
    val store = freshStore()
    store.register("t", singleRow(1.0))
    store.register("t", singleRow(2.0))
    assert(store.getVersion("t", 1).collect().head.getAs[Double]("val") == 1.0)
    assert(store.getVersion("t", 2).collect().head.getAs[Double]("val") == 2.0)
  }

  test("missing version raises with available versions (store.py:398-401)") {
    val store = freshStore()
    store.register("t", singleRow(1.0))
    val e = intercept[FeatureTableNotFoundError](store.getVersion("t", 99))
    assert(e.getMessage.contains("1"))
  }

  test("history pruned to max_versions, current counting as one") {
    val store = freshStore(maxVersions = 2)
    (1 to 4).foreach(i => store.register("t", singleRow(i.toDouble)))
    assert(store.getTableInfo("t").version == 4)
    assert(store.getVersion("t", 4).collect().head.getAs[Double]("val") == 4.0)
    assert(store.getVersion("t", 3).collect().head.getAs[Double]("val") == 3.0)
    intercept[FeatureTableNotFoundError](store.getVersion("t", 2))
    intercept[FeatureTableNotFoundError](store.getVersion("t", 1))
  }

  test("schema drift across versions keeps per-version columns") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("t", singleRow(1.0))
    val wider = Seq(("user_1", ts("2024-01-02"), 2.0, "extra"))
      .toDF("entity_id", "timestamp", "val", "note")
    store.register("t", wider)
    assert(store.getVersion("t", 1).columns.toSeq ==
      Seq("entity_id", "timestamp", "val"))
    assert(store.getVersion("t", 2).columns.toSeq ==
      Seq("entity_id", "timestamp", "val", "note"))
  }

  // --- TestTableManagement (test_core.py:306-347) ---

  test("list tables and get info") {
    val store = freshStore()
    store.register("a", singleRow(1.0))
    store.register("b", sampleFeatures)
    val infos = store.listTables()
    assert(infos.map(_.name) == Seq("a", "b"))
    assert(store.getTableInfo("b").rowCount == 5)
    intercept[FeatureTableNotFoundError](store.getTableInfo("c"))
  }

  test("a new session reopens the store from the persisted catalog") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-reopen-").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(1.0))
    store.register("t", singleRow(2.0))

    val reopened = new FeatureStore(spark, root)
    assert(reopened.tableNames == Seq("t"))
    assert(reopened.getTableInfo("t").version == 2)
    assert(reopened.getVersion("t", 1).collect().head.getAs[Double]("val") == 1.0)
    assert(reopened
      .get("t", Seq("user_1"), ts("2024-06-01"))
      .collect().head.getAs[Double]("val") == 2.0)
  }

  test("PIT read prunes day partitions from a known cutoff") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    val multiDay = Seq(
      ("u", ts("2024-01-01"), 1.0),
      ("u", ts("2024-01-10"), 2.0),
      ("u", ts("2024-02-20"), 3.0)).toDF("entity_id", "timestamp", "val")
    store.register("t", multiDay)
    val df = store.getOnSpark("t", Seq("u"), ts("2024-01-15"))
    // the derived _ts_date predicate must reach the scan as a partition
    // filter, so the Feb file is never read
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("_ts_date"), s"no partition filter in plan:\n$scan")
    assert(df.collect().head.getAs[Double]("val") == 2.0)
  }

  test("a small PIT read on the driver never opens a partition after its cutoff") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_driver_prune").toString
    val store = new FeatureStore(spark, root)
    store.register("t", Seq(
      ("u", ts("2024-01-01"), 1.0),
      ("u", ts("2024-01-10"), 2.0),
      ("u", ts("2024-02-20"), 3.0)).toDF("entity_id", "timestamp", "val"))
    // the February partition's data files become unreadable
    val feb = java.nio.file.Paths.get(root, "t", "v=1", "_ts_date=2024-02-01")
    val files = java.nio.file.Files.list(feb).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach(f => java.nio.file.Files.write(f, "not parquet".getBytes))
    assert(store.get("t", Seq("u"), ts("2024-01-15"))
      .collect().map(_.getAs[Double]("val")).toSeq == Seq(2.0))
    assert(store.getRecent("t", Seq("u"), ts("2024-01-31"), 5)
      .collect().map(_.getAs[Double]("val")).toSeq == Seq(2.0, 1.0))
    // a cutoff in February must open the damaged files, and fail there
    intercept[Exception](store.get("t", Seq("u"), ts("2024-02-25")).collect())
  }

  test("delete removes table, returns false for missing") {
    val store = freshStore()
    store.register("t", singleRow(1.0))
    assert(store.delete("t"))
    assert(store.tableNames.isEmpty)
    assert(!store.delete("t"))
    intercept[FeatureTableNotFoundError](store.get("t", Seq("u"), ts("2024-01-01")))
  }

  test("getWindowFeatures aggregates only rows inside the probe window") {
    val s = spark
    import s.implicits._
    val store = freshStore()
    store.register("f", sampleFeatures)
    val spine = Seq(
      ("user_1", ts("2024-01-20")), // Jan 1 outside 10d window, Jan 15 inside
      ("user_2", ts("2024-01-02"))  // only Jan 1 inside
    ).toDF("entity_id", "timestamp")
    val out = store
      .getWindowFeatures("f", spine, 10L * 86400, Seq(
        graft.store.WindowFeatures.WindowAgg("n", "rows"),
        graft.store.WindowFeatures.WindowAgg("max_b", "max", "feature_b")))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toList.sorted
    assert(out == List(("user_1", 1L, 200L), ("user_2", 1L, 1000L)))
    intercept[FeatureValidationError](
      store.getWindowFeatures("f", spine, 86400L,
        Seq(graft.store.WindowFeatures.WindowAgg("x", "sum", "nope"))))
  }

  test("getRecent returns k latest rows per entity at the PIT cutoff") {
    val store = freshStore()
    store.register("f", sampleFeatures)
    val out = store
      .getRecent("f", Seq("user_1", "user_2"), ts("2024-01-31"), k = 2)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getAs[Int]("recency_rank")))
      .toList.sorted
    // user_1's Feb 1 row is beyond the cutoff; ranks restart per entity
    assert(out == List(
      ("user_1", ts("2024-01-01"), 2), ("user_1", ts("2024-01-15"), 1),
      ("user_2", ts("2024-01-01"), 2), ("user_2", ts("2024-01-20"), 1)))
  }

  test("profileTable profiles registered columns, rejects unknown ones") {
    val store = freshStore()
    store.register("f", sampleFeatures)
    val out = store.profileTable("f")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet ==
      Set("entity_id", "timestamp", "feature_a", "feature_b"))
    assert(out.values.forall(_ == 5L))
    intercept[FeatureValidationError](
      store.profileTable("f", Some(Seq("nope"))))
  }

  test("getSessions groups the stored rows by gap") {
    val store = freshStore()
    store.register("f", sampleFeatures)
    val out = store.getSessions("f", gapSeconds = 15L * 86400)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toList.sorted
    // user_1: Jan 1 → Jan 15 (14d, same) → Feb 1 (17d, new session)
    // user_2: Jan 1 → Jan 20 (19d, new session)
    assert(out == List(
      ("user_1", 1L, 2L), ("user_1", 2L, 1L),
      ("user_2", 1L, 1L), ("user_2", 2L, 1L)))
  }

  test("createOrReplaceViews exposes current and historical versions to SQL") {
    val store = freshStore()
    store.register("events_view_t", singleRow(1.0))
    store.register("events_view_t", singleRow(2.0))
    store.createOrReplaceViews("events_view_t")
    // current version through the catalog path
    val cur = spark.sql(
      "SELECT val FROM events_view_t").collect().map(_.getDouble(0)).toSeq
    assert(cur == Seq(2.0))
    // each retained version under its _v<k> name
    val v1 = spark.sql(
      "SELECT val FROM events_view_t_v1").collect().map(_.getDouble(0)).toSeq
    assert(v1 == Seq(1.0))
    assert(spark.sql(
      "SELECT count(*) FROM events_view_t_v2").head().getLong(0) == 1L)
    intercept[FeatureTableNotFoundError](store.createOrReplaceViews("nope"))
  }

  test("vacuum is two-phase: stranded paths get a grace window, then are removed") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_vacuum_spec").toString
    val store = new FeatureStore(spark, root, maxVersions = 5)
    store.register("t", singleRow(1.0))
    store.register("t", singleRow(2.0))
    // strand a version dir the catalog never references (crashed write)
    val stray = java.nio.file.Paths.get(root, "t", "v=99")
    java.nio.file.Files.createDirectories(stray)
    // strand a whole table dir the catalog doesn't know (crashed delete)
    val orphan = java.nio.file.Paths.get(root, "ghost", "v=1")
    java.nio.file.Files.createDirectories(orphan)
    // pass 1 (default grace): stranded paths are only ENROLLED — a
    // concurrent writer's not-yet-committed version dir must survive
    assert(store.vacuum().isEmpty)
    assert(java.nio.file.Files.exists(stray))
    assert(java.nio.file.Files.exists(orphan.getParent))
    // pass 2 past the grace window: physically removed
    val deleted = store.vacuum(graceMillis = 0)
    assert(deleted.toSet == Set("t/v=99", "ghost"))
    assert(!java.nio.file.Files.exists(stray))
    assert(!java.nio.file.Files.exists(orphan.getParent))
    // every retained version still reads exactly
    assert(store.getVersion("t", 1).collect().map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    assert(store.getVersion("t", 2).collect().map(_.getAs[Double]("val")).toSeq == Seq(2.0))
    // idempotent: a clean store vacuums nothing
    assert(store.vacuum(graceMillis = 0).isEmpty)
  }

  test("readers keep snapshot isolation across delete: files retire, vacuum reclaims later") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_retire_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(1.0))
    // a reader obtains its DataFrame BEFORE the delete...
    val reader = store.getVersion("t", 1)
    val pit = store.get("t", Seq("user_1"), ts("2024-06-01"))
    assert(store.delete("t"))
    intercept[FeatureTableNotFoundError](store.getTableInfo("t"))
    // ...and completes correctly after it: delete is logical-only
    assert(reader.collect().map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    assert(pit.collect().head.getAs[Double]("val") == 1.0)
    // a vacuum inside the grace window leaves the retired files alone
    assert(store.vacuum().isEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")))
    // the pass after the grace window reclaims them
    assert(store.vacuum(graceMillis = 0) == Seq("t"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")))
  }

  test("pruned-version readers keep their files until vacuum's grace passes") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_retire_prune_spec").toString
    val store = new FeatureStore(spark, root, maxVersions = 2)
    store.register("t", singleRow(1.0))
    val reader = store.getVersion("t", 1)
    store.register("t", singleRow(2.0))
    store.register("t", singleRow(3.0)) // v1 pruned from the catalog here
    intercept[FeatureTableNotFoundError](store.getVersion("t", 1))
    // the pre-prune reader still scans v1's files
    assert(reader.collect().map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    assert(store.vacuum().isEmpty) // inside grace: files stay
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=1")))
    assert(store.vacuum(graceMillis = 0) == Seq("t/v=1"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=1")))
  }

  test("getTableHistory lists retained versions with manifests, oldest first") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_history_spec").toString
    val store = new FeatureStore(spark, root, maxVersions = 2)
    store.register("t", singleRow(1.0))
    store.registerAppend("t", singleRow(2.0)) // v2 chains v1's segment
    val h = store.getTableHistory("t")
    assert(h.map(_.version) == Seq(1, 2))
    assert(h.last.segments == Seq(1, 2), "append version resolves through the chain")
    assert(h.last.isCurrent && !h.head.isCurrent)
    assert(h.forall(_.columns == Seq("entity_id", "timestamp", "val")))
    // pruning removes a version from history exactly when getVersion rejects it
    store.register("t", singleRow(3.0)) // v1 pruned (maxVersions = 2)
    val h2 = store.getTableHistory("t")
    assert(h2.map(_.version) == Seq(2, 3))
    intercept[FeatureTableNotFoundError](store.getVersion("t", 1))
    intercept[FeatureTableNotFoundError](store.getTableHistory("nope"))
  }

  test("a leased reader's files survive vacuum at graceMillis=0 until release") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lease_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(1.0))
    val lease = store.acquireReadLease("t")
    val reader = store.getVersion("t", 1)
    assert(store.delete("t"))
    // even a ZERO-grace vacuum (which reclaims instantly otherwise)
    // must keep the leased table's retired paths...
    assert(store.vacuum(graceMillis = 0).isEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")))
    // ...so the reader outlives any grace window
    assert(reader.collect().map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    // release: the next pass reclaims normally
    store.releaseReadLease(lease)
    assert(store.vacuum(graceMillis = 0) == Seq("t"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")))
    // releasing again is a no-op; leasing an unknown table raises
    store.releaseReadLease(lease)
    intercept[FeatureTableNotFoundError](store.acquireReadLease("t"))
  }

  test("withReadLease brackets: protected during the body, reclaimable after") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lease_bracket_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(42.0))
    val got = store.withReadLease("t") { df =>
      store.delete("t")
      assert(store.vacuum(graceMillis = 0).isEmpty,
        "vacuum must not reclaim under the bracket's lease")
      df.collect().map(_.getAs[Double]("val")).toSeq
    }
    assert(got == Seq(42.0))
    assert(store.vacuum(graceMillis = 0) == Seq("t"))
  }

  test("vacuum sweeps tmp files a crashed lease acquire left behind") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lease_tmp_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(1.0))
    // simulate a crash between tmp write and rename
    val leases = java.nio.file.Paths.get(root, "_leases")
    java.nio.file.Files.createDirectories(leases)
    val orphan = leases.resolve(".dead-reader.tmp")
    java.nio.file.Files.writeString(orphan, "123\tt")
    // within TTL: a young tmp could be an in-flight acquire — kept
    store.vacuum(graceMillis = 0)
    assert(java.nio.file.Files.exists(orphan))
    // past TTL: reclaimed
    store.vacuum(graceMillis = 0, leaseTtlMillis = 0)
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("a renewed lease survives vacuum past the TTL; an un-renewed one is purged") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lease_renew_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(1.0))
    val lease = store.acquireReadLease("t")
    store.delete("t")
    // age the lease past any TTL, then heartbeat: renewal resets the
    // age, so even leaseTtlMillis=1 sees a fresh lease and keeps the
    // retired table
    Thread.sleep(5)
    assert(store.renewReadLease(lease))
    assert(store.vacuum(graceMillis = 0, leaseTtlMillis = 1000).isEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")))
    // stop renewing: the same TTL that a heartbeat would have survived
    // now classifies the lease as crashed — purged, files reclaimed
    Thread.sleep(5)
    assert(store.vacuum(graceMillis = 0, leaseTtlMillis = 1) == Seq("t"))
    assert(graft.store.ReadLeases.load(root).isEmpty)
    // renewing after the purge reports the lapse instead of lying
    assert(!store.renewReadLease(lease))
  }

  test("withReadLease auto-renew heartbeats the lease through a long body") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lease_autorenew_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(7.0))
    val got = store.withReadLease("t", renewEveryMillis = 20) { df =>
      store.delete("t")
      // let several heartbeats land, then vacuum with a TTL far below
      // the body's age — only the renewals keep the lease fresh
      Thread.sleep(200)
      assert(store.vacuum(graceMillis = 0, leaseTtlMillis = 100).isEmpty,
        "heartbeat must keep the lease inside the TTL")
      df.collect().map(_.getAs[Double]("val")).toSeq
    }
    assert(got == Seq(7.0))
    assert(store.vacuum(graceMillis = 0) == Seq("t"))
  }

  test("a lease acquired after the vacuum pass snapshot still protects (per-delete recheck)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lease_toctou_spec").toString
    // interpose on the storage seam: listTableDirs runs during the
    // pass's stranded-path discovery — AFTER the pass-start lease
    // snapshot, BEFORE the deletion loop. Acquiring a lease there is
    // exactly the snapshot-then-act race: only the per-delete recheck
    // can see it.
    @volatile var raced = false
    val factory: (org.apache.spark.sql.SparkSession, String, String) => graft.store.VersionStorage =
      (s, r, g) => new LogDecorator(s, r, g) {
        override def listTableDirs(): Seq[String] = {
          val dirs = inner.listTableDirs()
          if (!raced && dirs.contains("t")) {
            raced = true
            graft.store.ReadLeases.acquire(r, "t")
            ()
          }
          dirs
        }
      }
    val store = new FeatureStore(spark, root, storageFactory = factory)
    store.register("t", singleRow(1.0))
    store.delete("t")
    // the lease lands mid-pass, after the snapshot; the per-delete
    // recheck must keep the path — nothing may be deleted this pass
    assert(store.vacuum(graceMillis = 0).isEmpty,
      "a lease acquired mid-pass (before the physical delete) must protect")
    assert(raced, "the interposed race must actually have fired")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")))
  }

  test("vacuum purges expired leases instead of staying wedged by a dead reader") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_lease_ttl_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(1.0))
    store.acquireReadLease("t") // never released: simulated crashed reader
    store.delete("t")
    // within TTL the lease holds even at zero grace
    assert(store.vacuum(graceMillis = 0).isEmpty)
    // with the lease aged past TTL, reclamation proceeds and the stale
    // lease file is purged
    assert(store.vacuum(graceMillis = 0, leaseTtlMillis = 0) == Seq("t"))
    assert(graft.store.ReadLeases.load(root).isEmpty)
  }

  test("vacuum reconciles against the on-disk catalog: another writer's tables survive") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_vacuum_foreign_spec").toString
    val a = new FeatureStore(spark, root)
    a.register("mine", singleRow(1.0))
    // a second session (same root) registers AFTER `a` was opened
    val b = new FeatureStore(spark, root)
    b.register("theirs", singleRow(2.0))
    // a's in-memory catalog doesn't know "theirs" — vacuum must refresh
    // from disk and leave the foreign writer's live data untouched
    assert(a.vacuum(graceMillis = 0).isEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "theirs", "v=1")))
    assert(b.getVersion("theirs", 1)
      .collect().map(_.getAs[Double]("val")).toSeq == Seq(2.0))
  }

  test("a retired path resurrected by re-register is never vacuumed") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_resurrect_spec").toString
    val store = new FeatureStore(spark, root)
    store.register("t", singleRow(1.0))
    assert(store.delete("t"))
    // re-register restarts the version counter at 1 — the same v=1 path
    // the retire ledger points at
    store.register("t", singleRow(9.0))
    assert(store.vacuum(graceMillis = 0).isEmpty)
    assert(store.getVersion("t", 1)
      .collect().map(_.getAs[Double]("val")).toSeq == Seq(9.0))
  }

  test("the storage seam is pluggable: a VersionStorage decorator sees every call") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_seam_spec").toString
    val writes = new java.util.concurrent.atomic.AtomicInteger
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val store = new FeatureStore(spark, root, storageFactory = (s, r, g) =>
      new LogDecorator(s, r, g) {
        override def write(name: String, version: Int, df: org.apache.spark.sql.DataFrame,
            entityCol: String, tsCol: String): graft.store.WriteResult = {
          writes.incrementAndGet()
          inner.write(name, version, df, entityCol, tsCol)
        }
        override def read(name: String, version: Int, columns: Seq[String],
            asOf: Option[java.sql.Timestamp]): org.apache.spark.sql.DataFrame = {
          reads.incrementAndGet()
          inner.read(name, version, columns, asOf)
        }
        override def readSegments(name: String, segments: Seq[Int], columns: Seq[String],
            asOf: Option[java.sql.Timestamp],
            columnTypes: Map[String, String]): org.apache.spark.sql.DataFrame = {
          reads.incrementAndGet()
          inner.readSegments(name, segments, columns, asOf, columnTypes)
        }
      })
    store.register("t", singleRow(1.0))
    assert(writes.get() == 1)
    assert(store.get("t", Seq("user_1"), ts("2024-06-01"))
      .collect().head.getAs[Double]("val") == 1.0)
    assert(reads.get() >= 1, "PIT reads must route through the seam")
  }

  test("getVersionAsOf travels the commit-time axis (TIMESTAMP AS OF)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_timetravel_spec").toString
    val store = new FeatureStore(spark, root, maxVersions = 2)
    store.register("t", singleRow(1.0))
    Thread.sleep(3) // commit times must be distinct across versions
    store.register("t", singleRow(2.0))
    Thread.sleep(3)
    store.register("t", singleRow(3.0)) // v1 pruned (maxVersions = 2)

    val h = store.getTableHistory("t")
    assert(h.map(_.version) == Seq(2, 3))
    val times = h.map(v => v.version -> v.committedAt.get).toMap
    assert(times(2) < times(3), "history must expose strictly ordered commit times")

    def valueAt(millis: Long): Double =
      store.getVersionAsOf("t", new java.sql.Timestamp(millis))
        .collect().head.getAs[Double]("val")
    // exactly at a commit → that version; between commits → the earlier;
    // far future → current
    assert(valueAt(times(2)) == 2.0)
    assert(valueAt(times(3) - 1) == 2.0)
    assert(valueAt(times(3)) == 3.0)
    assert(valueAt(times(3) + 1000000) == 3.0)
    // before every RETAINED commit (v1 pruned): same availability as getVersion
    intercept[FeatureTableNotFoundError](
      store.getVersionAsOf("t", new java.sql.Timestamp(times(2) - 1)))

    // commit times persist: a reopened store answers identically
    val reopened = new FeatureStore(spark, root, maxVersions = 2)
    assert(reopened.getVersionAsOf("t", new java.sql.Timestamp(times(3) - 1))
      .collect().head.getAs[Double]("val") == 2.0)
    intercept[FeatureTableNotFoundError](store.getVersionAsOf("nope", ts("2024-01-01")))
  }

  test("PIT reads skip manifest segments whose min timestamp is after the cutoff") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_segskip_spec").toString
    // record the segment list every readSegments is asked for — the
    // catalog-side skip happens BEFORE the storage call, so the
    // decorator observes exactly what survives
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val store = new FeatureStore(spark, root, storageFactory = (sp, r, g) =>
      new LogDecorator(sp, r, g) {
        override def readSegments(name: String, segments: Seq[Int], columns: Seq[String],
            asOf: Option[java.sql.Timestamp],
            columnTypes: Map[String, String]): org.apache.spark.sql.DataFrame = {
          seen += segments
          inner.readSegments(name, segments, columns, asOf, columnTypes)
        }
      })
    def month(m: Int, v: Double) =
      Seq(("e1", ts(f"2024-$m%02d-10"), v)).toDF("entity_id", "timestamp", "val")
    store.register("t", month(1, 1.0))
    store.registerAppend("t", month(2, 2.0), maxSegments = 100)
    store.registerAppend("t", month(3, 3.0), maxSegments = 100)

    // selective cutoff: only the January segment can hold eligible rows
    seen.clear()
    val jan = store.get("t", Seq("e1"), ts("2024-01-31")).collect()
    assert(jan.map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    assert(seen.last == Seq(1),
      s"cutoff inside segment 1 must skip segments 2 and 3, scanned ${seen.last}")

    // mid cutoff keeps two; unselective cutoff scans the full manifest
    seen.clear()
    val feb = store.get("t", Seq("e1"), ts("2024-02-28")).collect()
    assert(feb.map(_.getAs[Double]("val")).toSeq == Seq(2.0))
    assert(seen.last == Seq(1, 2))
    seen.clear()
    val all = store.get("t", Seq("e1"), ts("2024-12-31")).collect()
    assert(all.map(_.getAs[Double]("val")).toSeq == Seq(3.0))
    assert(seen.last == Seq(1, 2, 3))

    // a cutoff BEFORE every segment keeps one for schema and returns empty
    seen.clear()
    assert(store.get("t", Seq("e1"), ts("2023-01-01")).isEmpty)
    assert(seen.last == Seq(1))

    // a reopened store reads the stats back from the catalog file
    val reopened = new FeatureStore(spark, root)
    assert(reopened.get("t", Seq("e1"), ts("2024-01-31")).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(1.0))
  }

  test("vacuumSiblingRoots reclaims stale fingerprint-keyed roots only") {
    val parent = java.nio.file.Files.createTempDirectory("graft_roots_spec")
    val keep = parent.resolve("demo_ds1_AAA")
    val stale = parent.resolve("demo_ds1_BBB")
    val other = parent.resolve("demo_ds2_CCC")
    Seq(keep, stale, other).foreach { r =>
      java.nio.file.Files.createDirectories(r.resolve("sub"))
      java.nio.file.Files.writeString(r.resolve("sub/f.txt"), "x")
    }
    val deleted = FeatureStore.vacuumSiblingRoots(keep.toString, "demo_ds1_")
    assert(deleted == Seq(stale.toString))
    assert(java.nio.file.Files.exists(keep))
    assert(!java.nio.file.Files.exists(stale))
    assert(java.nio.file.Files.exists(other), "a different dataset's roots must survive")
  }
}
