package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.store.{CatalogPersistence, FeatureStore}

/** Per-table catalog persistence ([[CatalogPersistence]]): a commit's
  * driver I/O is one table's metadata file, not a whole-root rewrite,
  * and pre-round-8 whole-root `_catalog.tsv` files migrate seamlessly.
  */
class CatalogPersistenceSpec extends AnyFunSuite with SparkTestBase {

  private def tmpRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def feats(tag: Long) = {
    val s = spark
    import s.implicits._
    Seq((s"u$tag", ts("2024-01-05"), tag))
      .toDF("entity_id", "timestamp", "feature_b")
  }

  test("a commit rewrites only the mutated table's file") {
    val root = tmpRoot("graft_cat_pertbl")
    val store = new FeatureStore(spark, root)
    val names = (1 to 5).map(i => s"t$i")
    names.foreach(n => store.register(n, feats(1)))

    val epoch = FileTime.fromMillis(0)
    names.foreach(n =>
      Files.setLastModifiedTime(CatalogPersistence.tableFile(root, n), epoch))

    store.registerAppend("t1", feats(2))

    assert(Files.getLastModifiedTime(
      CatalogPersistence.tableFile(root, "t1")) != epoch,
      "mutated table's file was not rewritten")
    names.drop(1).foreach { n =>
      assert(Files.getLastModifiedTime(
        CatalogPersistence.tableFile(root, n)) == epoch,
        s"commit on t1 rewrote $n's catalog file — per-commit I/O " +
          "must be independent of table count")
    }
  }

  test("a commit reads no other table's catalog file") {
    val root = tmpRoot("graft_cat_reads")
    val store = new FeatureStore(spark, root)
    store.register("a", feats(1))
    store.register("b", feats(1))
    // b's file no longer parses: a commit to a that loaded it would fail
    Files.writeString(CatalogPersistence.tableFile(root, "b"), "T\tb\tnot-a-version\n")
    assert(store.registerAppend("a", feats(2)).version == 2)
    assert(store.compact("a").version == 3)
    assert(CatalogPersistence.loadTable(root, "a").map(_.version).contains(3))
    assert(store.getTableInfo("a").rowCount == 2)
  }

  test("vacuum sweeps crashed catalog saves' temp files older than its grace") {
    val root = tmpRoot("graft_cat_tmp")
    val store = new FeatureStore(spark, root)
    store.register("a", feats(1))
    val dir = CatalogPersistence.catalogDir(root)
    val old = dir.resolve(".a.tsv.tmp-crashed-long-ago")
    val fresh = dir.resolve(".a.tsv.tmp-in-flight")
    Seq(old, fresh).foreach(Files.writeString(_, "partial"))
    Files.setLastModifiedTime(old, FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    store.vacuum(graceMillis = 60000L)
    assert(!Files.exists(old), "a temp file older than the grace survived vacuum")
    assert(Files.exists(fresh), "vacuum removed a temp file within the grace")
    store.vacuum(graceMillis = 0L)
    assert(!Files.exists(fresh))
    assert(Files.exists(CatalogPersistence.tableFile(root, "a")))
    assert(new FeatureStore(spark, root).getTableInfo("a").version == 1)
  }

  test("whole-table delete removes the table's file") {
    val root = tmpRoot("graft_cat_del")
    val store = new FeatureStore(spark, root)
    store.register("a", feats(1))
    store.register("b", feats(2))
    assert(store.delete("a"))
    assert(!Files.exists(CatalogPersistence.tableFile(root, "a")))
    assert(Files.exists(CatalogPersistence.tableFile(root, "b")))
    assert(new FeatureStore(spark, root).tableNames == Seq("b"))
  }

  test("legacy whole-root _catalog.tsv reads seamlessly and migrates on first save") {
    val root = tmpRoot("graft_cat_legacy")
    val store = new FeatureStore(spark, root)
    store.register("a", feats(1))
    store.register("b", feats(2))

    // reconstruct the pre-round-8 layout bit-exactly: concatenate the
    // per-table files into _catalog.tsv and drop the directory
    val legacy = Seq("a", "b")
      .map(n => Files.readString(CatalogPersistence.tableFile(root, n)))
      .mkString("\n")
    Files.writeString(CatalogPersistence.legacyCatalogFile(root), legacy)
    org.apache.commons.io.FileUtils.deleteDirectory(
      CatalogPersistence.catalogDir(root).toFile)

    // reopen: both tables resolve from the legacy file
    val reopened = new FeatureStore(spark, root)
    assert(reopened.tableNames == Seq("a", "b"))
    assert(reopened.getTableInfo("b").rowCount == 1)

    // first commit migrates: legacy file gone, BOTH tables split into
    // per-table files (not just the mutated one), nothing lost
    reopened.registerAppend("a", feats(3))
    assert(!Files.exists(CatalogPersistence.legacyCatalogFile(root)))
    assert(Files.exists(CatalogPersistence.tableFile(root, "a")))
    assert(Files.exists(CatalogPersistence.tableFile(root, "b")))
    val fresh = new FeatureStore(spark, root)
    assert(fresh.getTableInfo("a").version == 2)
    assert(fresh.getTableInfo("a").rowCount == 2)
    assert(fresh.getTableInfo("b").rowCount == 1)
  }

  test("table names needing encoding get distinct, decodable files") {
    val root = tmpRoot("graft_cat_enc")
    val store = new FeatureStore(spark, root)
    val odd = "weird table/v=1"
    store.register(odd, feats(1))
    store.register("plain", feats(2))
    assert(Files.exists(CatalogPersistence.tableFile(root, odd)))
    // the encoded name must not escape the catalog dir
    assert(CatalogPersistence.tableFile(root, odd).getParent
      == Paths.get(root, "_catalog"))
    val reopened = new FeatureStore(spark, root)
    assert(reopened.tableNames.sorted == Seq("plain", odd).sorted)
    assert(reopened.getTableInfo(odd).rowCount == 1)
  }
  test("refresh adopts a re-registered lineage whole, never cross-merging chains") {
    val root = tmpRoot("graft_cat_lineage")
    val stale = new FeatureStore(spark, root)
    stale.register("t", feats(1))
    stale.registerAppend("t", feats(2)) // stale memory: lineage A at v2, 2 rows
    // another handle drops the name and registers a FRESH lineage that
    // also reaches v2 — the REPLACE TABLE shape
    val other = new FeatureStore(spark, root)
    other.delete("t")
    other.register("t", feats(9))
    other.registerAppend("t", feats(10)) // lineage B at v2, 2 rows... make it distinguishable
    other.deleteRows("t", org.apache.spark.sql.functions.col("feature_b") === 10L)
    // lineage B: v3, 1 row; a naive (version, tie->memory) merge keeps A
    stale.refresh()
    val info = stale.getTableInfo("t")
    assert(info.rowCount == 1, info)
    assert(info.version == 3, info)
    // the adopted chain must be READABLE end-to-end (no fused version maps)
    assert(stale.getVersion("t", 3).collect()
      .map(_.getAs[Long]("feature_b")).toSeq == Seq(9L))
    assert(stale.getVersion("t", 1).count() == 1) // lineage B's own v1
  }

  test("refresh retires the replaced lineage's memoized segment schemas") {
    // the re-registered lineage REUSES the same version paths
    // (root/t/v=1); if the stale handle read lineage A first, its
    // footer schema is memoized per path — refresh must retire it, or
    // lineage B's differently-shaped v1 would be read under A's schema
    val root = tmpRoot("graft_cat_schemamemo")
    val s = spark
    import s.implicits._
    val stale = new FeatureStore(spark, root)
    stale.register("t", Seq(("u1", ts("2024-01-05"), 1L))
      .toDF("entity_id", "timestamp", "feature_b"))
    // populate the schema memo under lineage A
    assert(stale.getVersion("t", 1).collect()
      .map(_.getAs[Long]("feature_b")).toSeq == Seq(1L))
    // foreign drop + re-register with a DIFFERENT shape at the same path
    val other = new FeatureStore(spark, root)
    other.delete("t")
    other.register("t", Seq(("u9", ts("2024-02-05"), 2.5, "hello"))
      .toDF("entity_id", "timestamp", "feature_x", "note"))
    stale.refresh()
    val got = stale.getVersion("t", 1)
    assert(got.columns.toSeq ==
      Seq("entity_id", "timestamp", "feature_x", "note"), got.columns.toSeq)
    val row = got.head()
    assert(row.getAs[Double]("feature_x") == 2.5)
    assert(row.getAs[String]("note") == "hello")
  }
}
