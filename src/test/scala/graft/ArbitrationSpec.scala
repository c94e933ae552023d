package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{
  CatalogIO, CatalogPersistence, FeatureConcurrencyError, FeatureStore,
  TableMeta, TxnLogStorage}

/** Multi-writer commit arbitration over the transaction-log storage:
  * two independent FeatureStore instances on ONE root interleave
  * registers with every version allocated exactly-once and no lost
  * update — the optimistic-concurrency half of the Delta commit
  * protocol the adapter implements (reserve create-exclusive → write →
  * commit marker → catalog save, with log-based reconciliation for
  * saves that never landed).
  */
class ArbitrationSpec extends AnyFunSuite with SparkTestBase {

  private def newStore(
      root: String,
      maxVersions: Int = 100,
      catalogIO: CatalogIO = CatalogPersistence,
      waitMillis: Long = 30000L) =
    new FeatureStore(spark, root, maxVersions = maxVersions,
      storageFactory = new TxnLogStorage(_, _, _),
      catalogIO = catalogIO,
      arbitrationWaitMillis = waitMillis)

  test("two stores racing registers: every version exactly-once, no lost update") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_race_spec").toString
    val s1 = newStore(root)
    val s2 = newStore(root)
    val n = 6 // per writer
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(store: FeatureStore, base: Int): Thread = {
      val t = new Thread(() =>
        try (0 until n).foreach(i =>
          store.register("t", singleRow((base + i).toDouble)))
        catch { case e: Throwable => errs.add(e); () })
      t.start(); t
    }
    val t1 = writer(s1, 100)
    val t2 = writer(s2, 200)
    t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"racing registers must all succeed: ${errs.peek()}")

    // the log allocated 2n versions, gap-free, each committed once
    val txn = new TxnLogStorage(spark, root)
    assert(txn.committedVersions("t") == (1 to 2 * n))

    // a FRESH store reconstructs the full interleaved history: every
    // version readable with exactly its writer's row, and the union of
    // all versions' values is both writers' full output — nothing lost
    val fresh = newStore(root)
    assert(fresh.getTableInfo("t").version == 2 * n)
    assert(fresh.getTableHistory("t").map(_.version) == (1 to 2 * n))
    val values = (1 to 2 * n).map { v =>
      val rows = fresh.getVersion("t", v).collect()
      assert(rows.length == 1, s"version $v must hold exactly its register's row")
      rows.head.getAs[Double]("val")
    }
    val expected = ((100 until 100 + n) ++ (200 until 200 + n)).map(_.toDouble)
    assert(values.sorted == expected.sorted.map(identity),
      "every racing register's data must appear in exactly one version")
  }

  test("two stores racing appends: every manifest chains the true predecessor") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_append_spec").toString
    val s1 = newStore(root)
    val s2 = newStore(root)
    s1.register("t", singleRow(0.0))
    val n = 4 // appends per writer
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(store: FeatureStore, base: Int): Thread = {
      val t = new Thread(() =>
        try (0 until n).foreach(i =>
          store.registerAppend("t", singleRow((base + i).toDouble), maxSegments = 100))
        catch { case e: Throwable => errs.add(e); () })
      t.start(); t
    }
    val t1 = writer(s1, 100)
    val t2 = writer(s2, 200)
    t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"racing appends must all succeed: ${errs.peek()}")

    // each append adds exactly one row ON TOP of the absorbed
    // predecessor, so version k must hold exactly k rows — a dropped
    // racing delta would show up as a short version here
    val fresh = newStore(root)
    assert(fresh.getTableInfo("t").version == 1 + 2 * n)
    (1 to 1 + 2 * n).foreach { v =>
      assert(fresh.getVersion("t", v).count() == v,
        s"append version $v must contain exactly $v rows (its full chain)")
    }
    val finalVals = fresh.getVersion("t", 1 + 2 * n).collect()
      .map(_.getAs[Double]("val")).toSet
    val expected = Set(0.0) ++
      ((100 until 100 + n) ++ (200 until 200 + n)).map(_.toDouble)
    assert(finalVals == expected, "the final chain must union every writer's delta")
  }

  test("a crashed writer's reservation blocks, vacuum sweeps it, lineage resumes") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_crash_spec").toString
    val store = newStore(root, waitMillis = 250)
    store.register("t", singleRow(1.0))
    // simulate another writer that reserved v2 and died before commit
    val logDir = java.nio.file.Paths.get(root, "t", "_txn")
    java.nio.file.Files.writeString(
      logDir.resolve("0000000002.reserve"), "dead-writer-token")
    val e = intercept[FeatureConcurrencyError](store.register("t", singleRow(2.0)))
    assert(e.getMessage.contains("vacuum"),
      "the failure must point the operator at the remedy")
    // vacuum's uncommitted sweep reclaims the stale claim...
    store.vacuum(graceMillis = 0)
    assert(!java.nio.file.Files.exists(logDir.resolve("0000000002.reserve")))
    // ...and the lineage resumes at the reclaimed number
    assert(store.register("t", singleRow(2.0)).version == 2)
    assert(store.getVersion("t", 2).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(2.0))
  }

  /** CatalogIO that can drop saves on command — simulates a writer
    * crashing AFTER the storage commit point but BEFORE its catalog
    * save (the window log-based reconciliation exists for).
    */
  private final class DroppingCatalogIO extends CatalogIO {
    @volatile var drop = false
    def save(root: String, metas: Seq[TableMeta], removed: Seq[String]): Unit =
      if (!drop) CatalogPersistence.save(root, metas, removed)
    def load(root: String): Seq[TableMeta] = CatalogPersistence.load(root)
  }

  test("a commit whose catalog save never landed is reconciled from the log, not lost") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_reconcile_spec").toString
    val io = new DroppingCatalogIO
    val a = newStore(root, catalogIO = io)
    a.register("t", singleRow(1.0))
    // a store opened BEFORE the unsaved commit — its catalog will never
    // know v2 unless reconciliation runs
    val bystander = newStore(root)
    io.drop = true
    a.register("t", singleRow(2.0)) // commit marker lands, catalog save doesn't
    io.drop = false

    // vacuum from the stale bystander must protect the unreconciled
    // commit (it is durable — the marker IS the commit point)
    bystander.vacuum(graceMillis = 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=2")))

    // a fresh open folds the version in from its commit record
    val fresh = newStore(root)
    assert(fresh.getTableInfo("t").version == 2)
    assert(fresh.getVersion("t", 2).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(2.0))
    // and the next register builds on it instead of clobbering
    assert(fresh.register("t", singleRow(3.0)).version == 3)
    assert(fresh.getVersion("t", 2).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(2.0))
  }

  test("a batch whose catalog save never landed keeps its watermark in the log") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_watermark_spec").toString
    val io = new DroppingCatalogIO
    val a = newStore(root, catalogIO = io)
    assert(a.registerBatch("t", singleRow(1.0), batchId = 0, streamId = "s").isDefined)
    io.drop = true
    // the marker lands with the batch's watermark; the catalog save doesn't
    assert(a.registerBatch("t", singleRow(2.0), batchId = 1, streamId = "s").isDefined)
    io.drop = false

    val reopened = newStore(root)
    assert(reopened.getTableInfo("t").version == 2)
    val rows = reopened.getTableInfo("t").rowCount
    // the crash-recovery replay of batch 1 must be skipped, not registered twice
    assert(reopened.registerBatch("t", singleRow(2.0), batchId = 1, streamId = "s").isEmpty)
    assert(reopened.getTableInfo("t").version == 2)
    assert(reopened.getTableInfo("t").rowCount == rows)
    assert(newStore(root).getTableInfo("t").version == 2)
  }

  test("a table CREATION whose catalog save never landed is synthesized from the log") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_creation_spec").toString
    val io = new DroppingCatalogIO
    io.drop = true
    val a = newStore(root, catalogIO = io)
    a.register("t", singleRow(1.0)) // marker lands; NO catalog save ever
    io.drop = false

    // vacuum from a store that knows nothing must spare the committed
    // data: the marker is the commit point, not the catalog save
    val bystander = newStore(root)
    bystander.vacuum(graceMillis = 0)
    bystander.vacuum(graceMillis = 0) // second pass would delete a ledgered path
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=1")),
      "a committed creation must never be stranded/reclaimed")

    // readers synthesize the entry from the commit record on miss...
    assert(bystander.getTableInfo("t").version == 1)
    assert(bystander.getVersion("t", 1).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(1.0))
    // ...and the next writer builds on it instead of wedging or clobbering
    val fresh = newStore(root)
    assert(fresh.register("t", singleRow(2.0)).version == 2)
    assert(fresh.getVersion("t", 1).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(1.0))
  }

  test("a racing re-register's committed-but-unsaved lineage is never wiped by reset") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_reset_race_spec").toString
    val io = new DroppingCatalogIO
    val a = newStore(root, catalogIO = io)
    a.register("t", singleRow(1.0))
    assert(a.delete("t")) // retired lineage, markers await vacuum
    Thread.sleep(3) // marker times must clearly exceed the retirement time
    io.drop = true
    a.register("t", singleRow(9.0)) // re-register: v1 of the NEW lineage commits, save dropped
    io.drop = false

    // writer B arrives in exactly the commit→save window: it must adopt
    // A's committed v1 (newer than the retirement) — NOT treat the log
    // as the retired lineage, reset it, and clobber v1
    val b = newStore(root)
    assert(b.register("t", singleRow(2.0)).version == 2,
      "B must build on A's committed re-register, not restart at v1")
    assert(b.getVersion("t", 1).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(9.0),
      "A's committed version must survive B's concurrent register")
    assert(b.getVersion("t", 2).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(2.0))
  }

  test("arbitrated lineage restart: delete + re-register begins at v1 with a clean log") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_restart_spec").toString
    val store = newStore(root)
    store.register("t", singleRow(1.0))
    store.register("t", singleRow(2.0))
    assert(store.delete("t"))
    // the retired lineage's markers are still on disk (vacuum pending);
    // re-registration must reset the version authority, not reconcile
    // the old lineage back in or block on its numbers
    val info = store.register("t", singleRow(9.0))
    assert(info.version == 1)
    val txn = new TxnLogStorage(spark, root)
    assert(txn.committedVersions("t") == Seq(1))
    assert(store.getVersion("t", 1).collect()
      .map(_.getAs[Double]("val")).toSeq == Seq(9.0))
  }

  test("two stores racing upserts of disjoint keys: every correction lands exactly once") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_upsert_spec").toString
    val s1 = newStore(root)
    val s2 = newStore(root)
    def rows(ids: Range, value: Double) =
      ids.map(i => (s"e$i", ts("2024-01-01"), value))
        .toDF("entity_id", "timestamp", "val")
    s1.register("t", rows(0 until 10, 0.0))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // each writer upserts its own half of the key space in 3 rounds;
    // rounds r=1..3 bump the value, so the final value per key must be
    // that writer's LAST round — any lost update or mis-chained
    // manifest surfaces as a stale value or wrong rowCount
    def writer(store: FeatureStore, ids: Range, base: Double): Thread = {
      val t = new Thread(() =>
        try (1 to 3).foreach(r => store.registerUpsert("t", rows(ids, base + r)))
        catch { case e: Throwable => errs.add(e); () })
      t.start(); t
    }
    val t1 = writer(s1, 0 until 5, 100.0)
    val t2 = writer(s2, 5 until 10, 200.0)
    t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"racing upserts must all succeed: ${errs.peek()}")

    val fresh = newStore(root)
    assert(fresh.getTableInfo("t").version == 7) // 1 register + 6 upserts
    assert(fresh.getTableInfo("t").rowCount == 10)
    val got = fresh.getVersion("t", 7).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("val")).toMap
    val expected =
      (0 until 5).map(i => s"e$i" -> 103.0).toMap ++
        (5 until 10).map(i => s"e$i" -> 203.0).toMap
    assert(got == expected,
      "each key must hold its writer's final correction — nothing stale, nothing lost")
  }

  test("deleteRows racing a disjoint append: both land, neither is lost") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_arb_del_spec").toString
    val s1 = newStore(root)
    val s2 = newStore(root)
    val base = (0 until 20).map(i => (s"e$i", ts("2024-01-01"), i.toDouble))
      .toDF("entity_id", "timestamp", "val")
    s1.register("t", base)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // writer 1 deletes the odd values; writer 2 appends NEW rows the
    // predicate cannot match (all EVEN) — the operations commute, so
    // any interleaving must converge to the same state
    val extra = (100 until 110 by 2).map(i => (s"x$i", ts("2024-02-01"), i.toDouble))
      .toDF("entity_id", "timestamp", "val")
    val t1 = new Thread(() =>
      try { s1.deleteRows("t", org.apache.spark.sql.functions.col("val") % 2 === 1); () }
      catch { case e: Throwable => errs.add(e); () })
    val t2 = new Thread(() =>
      try { s2.registerAppend("t", extra, maxSegments = 100); () }
      catch { case e: Throwable => errs.add(e); () })
    t1.start(); t2.start()
    t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"racing delete/append must both succeed: ${errs.peek()}")

    val fresh = newStore(root)
    assert(fresh.getTableInfo("t").version == 3)
    val vals = fresh.getVersion("t", 3).collect()
      .map(_.getAs[Double]("val")).sorted.toSeq
    val expected =
      ((0 until 20 by 2).map(_.toDouble) ++ (100 until 110 by 2).map(_.toDouble)).sorted
    assert(vals == expected,
      "evens survive the delete AND the appended rows all arrive")
  }
}
