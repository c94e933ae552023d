package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FeatureStore, FeatureTableNotFoundError, TxnLogStorage}

/** The transaction-log storage's commit-protocol semantics (the store's
  * lifecycle contract over it is model-checked in StoreProps).
  */
class TxnLogStorageSpec extends AnyFunSuite with SparkTestBase {

  private def newStore(root: String, maxVersions: Int = 10) =
    new FeatureStore(spark, root, maxVersions = maxVersions,
      storageFactory = new TxnLogStorage(_, _, _))

  test("versions resolve through commit markers; uncommitted data never half-appears") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txn_spec").toString
    val store = newStore(root)
    store.register("t", singleRow(1.0))
    store.registerAppend("t", singleRow(2.0))
    val txn = new TxnLogStorage(spark, root)
    assert(txn.committedVersions("t") == Seq(1, 2))
    assert(store.getVersion("t", 2).count() == 2)
    // the log is plain local files: no checksum sidecars
    val logFiles = java.nio.file.Files.list(java.nio.file.Paths.get(root, "t", "_txn"))
      .toArray.toSeq.map(_.toString)
    assert(!logFiles.exists(_.endsWith(".crc")), logFiles)

    // simulate a crash BETWEEN data write and commit: a version dir
    // with no marker. versionAsOf-shaped reads refuse it...
    val orphan = java.nio.file.Paths.get(root, "t", "v=7")
    java.nio.file.Files.createDirectories(orphan)
    intercept[FeatureTableNotFoundError] {
      txn.read("t", 7, Seq("entity_id"), None)
    }
    // ...and vacuum reclaims it as stranded after the grace window
    assert(store.vacuum().isEmpty) // enrolled only
    assert(store.vacuum(graceMillis = 0).contains("t/v=7"))
    assert(!java.nio.file.Files.exists(orphan))
    // committed versions read on, untouched
    assert(store.getVersion("t", 2).count() == 2)
  }

  test("vacuum of a pruned version also cleans its log entry (retention discipline)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txn_retain_spec").toString
    val store = newStore(root, maxVersions = 2)
    store.register("t", singleRow(1.0))
    store.register("t", singleRow(2.0))
    store.register("t", singleRow(3.0)) // v1 pruned (retired) here
    val txn = new TxnLogStorage(spark, root)
    assert(txn.committedVersions("t") == Seq(1, 2, 3))
    assert(store.vacuum(graceMillis = 0) == Seq("t/v=1"))
    // data dir AND commit marker are gone together
    assert(txn.committedVersions("t") == Seq(2, 3))
    intercept[FeatureTableNotFoundError] {
      txn.read("t", 1, Seq("entity_id"), None)
    }
    // reopening the store reconstructs and reads the retained versions
    val reopened = newStore(root, maxVersions = 2)
    assert(reopened.getVersion("t", 3).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(3.0))
  }

  test("rename carries the txn log; a second session adopts the new name") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txn_rename_spec").toString
    val store = newStore(root)
    store.register("t", singleRow(1.0))
    store.registerAppend("t", singleRow(2.0))
    store.renameTable("t", "t2")
    // the arbitration history moved with the directory: the log still
    // resolves both versions under the new name
    val txn = new TxnLogStorage(spark, root)
    assert(txn.committedVersions("t2") == Seq(1, 2))
    assert(store.getVersion("t2", 1).count() == 1)
    assert(store.getVersion("t2", 2).count() == 2)
    // a session opened fresh on the root sees only the new name...
    val other = newStore(root)
    assert(other.tableNames == Seq("t2"))
    // ...and appends continue the carried lineage at v3
    other.registerAppend("t2", singleRow(3.0))
    store.refresh()
    assert(store.getTableInfo("t2").version == 3)
    assert(store.getVersion("t2", 3).count() == 3)
    intercept[FeatureTableNotFoundError](other.getTableInfo("t"))
  }

  test("delete + re-register restarts the lineage over a not-yet-vacuumed log") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txn_relineage_spec").toString
    val store = newStore(root)
    store.register("t", singleRow(1.0))
    assert(store.delete("t"))
    // old lineage retired but NOT vacuumed: its v=1 marker still exists;
    // the new lineage's v1 commit must overwrite, not collide
    store.register("t", singleRow(9.0))
    assert(store.getVersion("t", 1).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(9.0))
  }

  test("a retained version with no commit marker fails the open, naming the log") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txn_unlogged_spec").toString
    val store = newStore(root)
    store.register("t", singleRow(1.0))
    store.registerAppend("t", singleRow(2.0))
    // a root written without the log: the catalog retains v2, no marker does
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "t", "_txn", "0000000002.commit"))
    val e = intercept[graft.store.FeatureStorageError](newStore(root))
    assert(e.getMessage.contains(s"$root/t/_txn") && e.getMessage.contains("2"),
      e.getMessage)
  }

  test("log checkpoints: covered markers are never opened, tail still is") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txn_ckpt").toString
    def open() = new FeatureStore(spark, root, maxVersions = 30,
      storageFactory = new TxnLogStorage(_, _, _, checkpointInterval = 5))
    val store = open()
    store.register("t", singleRow(1.0))
    (2 to 12).foreach(i => store.registerAppend("t", singleRow(i.toDouble)))

    // checkpoints landed at v5 and v10; the superseded one was retired
    val txnDir = java.nio.file.Paths.get(root, "t", "_txn")
    val ckpts = java.nio.file.Files.list(txnDir).toArray.toSeq
      .map(_.toString.split("/").last).filter(_.endsWith(".checkpoint"))
    assert(ckpts == Seq("0000000010.checkpoint"))

    // PROOF the checkpoint is the read path: garbage every covered
    // marker's content (existence still matters — vacuumed versions
    // must not resurrect from a stale checkpoint — but the bytes are
    // only read for the tail)
    (1 to 10).foreach { v =>
      java.nio.file.Files.writeString(
        txnDir.resolve(f"$v%010d.commit"), "garbage")
    }
    // catalog destroyed: reconciliation rebuilds the table from the
    // checkpoint + the two tail markers, exactly
    java.nio.file.Files.delete(graft.store.CatalogPersistence.tableFile(root, "t"))
    val b = open()
    b.registerAppend("t", singleRow(13.0))
    assert(b.getTableInfo("t").version == 13)
    assert(b.getTableInfo("t").rowCount == 13)
    assert(b.getVersion("t", 13).count() == 13)

    // a version vacuumed after the checkpoint was written must NOT
    // resurrect from it: drop v3's marker (simulating log cleanup) and
    // reconcile fresh — v3 is gone from the log's view
    java.nio.file.Files.delete(txnDir.resolve(f"${3}%010d.commit"))
    val txn = new TxnLogStorage(spark, root, checkpointInterval = 5)
    assert(!txn.committedMeta("t").contains(3))
    assert(txn.committedMeta("t").contains(2))
  }
}
