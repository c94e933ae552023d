package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.store._

/** Incremental (manifest-chained) registration and multi-writer catalog
  * safety — engine extensions over the reference surface (SURVEY.md
  * §7.4 risk 5).
  */
class IncrementalStoreSpec extends AnyFunSuite with SparkTestBase {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-inc-spec-").toString

  private def rows(ids: Range, day: Int): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (s"user_$i", ts(f"2024-01-$day%02d"), i.toDouble))
      .toDF("entity_id", "timestamp", "value")
  }

  private def collected(df: DataFrame): Set[(String, java.sql.Timestamp, Double)] =
    df.select("entity_id", "timestamp", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet

  test("registerAppend writes O(delta) storage yet reproduces exact snapshots") {
    val root = freshRoot()
    val store = new FeatureStore(spark, root)
    store.register("t", rows(1 to 100, day = 1))
    store.registerAppend("t", rows(101 to 105, day = 2))

    // the v2 segment directory holds ONLY the 5 delta rows
    val seg2 = spark.read.parquet(s"$root/t/v=2")
    assert(seg2.count() == 5)

    // both versions reproduce their exact logical snapshots
    assert(store.getVersion("t", 1).count() == 100)
    val v2 = store.getVersion("t", 2)
    assert(v2.count() == 105)
    assert(collected(v2) ==
      collected(rows(1 to 100, day = 1)) ++ collected(rows(101 to 105, day = 2)))
    assert(store.getTableInfo("t").rowCount == 105)
    assert(store.getTableInfo("t").version == 2)
  }

  test("PIT reads through a chained manifest equal a full-snapshot register") {
    val rootA = freshRoot(); val rootB = freshRoot()
    val inc = new FeatureStore(spark, rootA)
    inc.register("t", rows(1 to 50, day = 1))
    inc.registerAppend("t", rows(1 to 50, day = 15))
    val full = new FeatureStore(spark, rootB)
    full.register("t",
      rows(1 to 50, day = 1).unionByName(rows(1 to 50, day = 15)))

    val ids = (1 to 50).map(i => s"user_$i")
    val a = collected(inc.get("t", ids, "2024-01-10"))
    val b = collected(full.get("t", ids, "2024-01-10"))
    assert(a == b && a.nonEmpty)
    val a2 = collected(inc.get("t", ids, "2024-02-01"))
    val b2 = collected(full.get("t", ids, "2024-02-01"))
    assert(a2 == b2 && a2.size == 50)
  }

  test("prune keeps shared base segments alive until the last referencing version leaves") {
    val root = freshRoot()
    val store = new FeatureStore(spark, root, maxVersions = 2)
    store.register("t", rows(1 to 10, day = 1)) // v1 = [1]
    store.registerAppend("t", rows(11 to 12, day = 2)) // v2 = [1,2]
    store.registerAppend("t", rows(13 to 14, day = 3)) // v3 = [1,2,3]; v1 pruned

    intercept[FeatureTableNotFoundError](store.getVersion("t", 1))
    // v2 still reads through segment 1 even though version 1 is gone
    assert(store.getVersion("t", 2).count() == 12)
    assert(store.getVersion("t", 3).count() == 14)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=1")))
  }

  test("manifest past maxSegments compacts to a full snapshot") {
    val root = freshRoot()
    val store = new FeatureStore(spark, root)
    store.register("t", rows(1 to 10, day = 1)) // v1 = [1]
    store.registerAppend("t", rows(11 to 12, day = 2), maxSegments = 2) // v2 = [1,2]
    store.registerAppend("t", rows(13 to 15, day = 3), maxSegments = 2) // compacts: v3 = [3]

    // v3's own directory holds the WHOLE table after compaction
    assert(spark.read.parquet(s"$root/t/v=3").count() == 15)
    assert(store.getVersion("t", 3).count() == 15)
    assert(collected(store.getVersion("t", 3)) ==
      collected(rows(1 to 10, day = 1)) ++ collected(rows(11 to 12, day = 2)) ++
        collected(rows(13 to 15, day = 3)))
  }

  test("compact materializes a chained manifest as one snapshot, values unchanged") {
    val root = freshRoot()
    val store = new FeatureStore(spark, root)
    store.register("t", rows(1 to 20, day = 1))
    store.registerAppend("t", rows(21 to 25, day = 2)) // v2 = [1,2]
    val before = collected(store.getVersion("t", 2))
    val info = store.compact("t") // v3 = [3]
    assert(info.version == 3)
    assert(spark.read.parquet(s"$root/t/v=3").count() == 25)
    assert(collected(store.getVersion("t", 3)) == before)
    assert(store.getTableInfo("t").rowCount == 25)
    // already-compacted table: no-op, no new version
    assert(store.compact("t").version == 3)
  }

  test("an empty append fails as before and leaves no version directory") {
    val root = freshRoot()
    val store = new FeatureStore(spark, root)
    store.register("t", rows(1 to 3, day = 1))
    val empty = rows(1 to 3, day = 2).limit(0)
    // the plain append, then one that would compact (maxSegments = 1)
    Seq(16, 1).foreach { maxSegments =>
      val e = intercept[FeatureValidationError](
        store.registerAppend("t", empty, maxSegments = maxSegments))
      assert(e.getMessage == "t must not be empty")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t", "v=2")))
      assert(store.getTableInfo("t").version == 1)
    }
    // a non-local empty delta takes the same path
    intercept[FeatureValidationError](store.registerAppend("t",
      spark.range(0).selectExpr("'u' AS entity_id",
        "TIMESTAMP'2024-01-02 00:00:00' AS timestamp", "1.0D AS value")))
    assert(store.registerAppend("t", rows(4 to 5, day = 2)).version == 2)
    assert(store.getTableInfo("t").rowCount == 5)
  }

  test("segment files stay sorted by (entity, timestamp) within each period's one file") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val store = new FeatureStore(spark, root)
    // 1,000 rows over 50 entities and three months, in hash order
    val source = spark.range(1000).select(
      pmod(hash(col("id")), lit(50)).cast("long").as("entity_id"),
      (lit(ts("2024-01-01").getTime / 1000L) + pmod(hash(col("id"), lit(7)), lit(90 * 86400)))
        .cast("timestamp").as("timestamp"),
      col("id").cast("double").as("value"))
    val local = spark.createDataFrame(source.collect().toSeq.asJava, source.schema)
    def checkSorted(v: Int, what: String): Unit = {
      val periods = java.nio.file.Files.list(java.nio.file.Paths.get(root, "t", s"v=$v"))
        .iterator().asScala.filter(_.getFileName.toString.startsWith("_ts_date=")).toSeq
      assert(periods.nonEmpty, what)
      periods.foreach { dir =>
        val files = java.nio.file.Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        assert(files.size == 1, s"$what: ${files.size} files in $dir")
        val keys = spark.read.parquet(files.head.toString)
          .select("entity_id", "timestamp").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
        val inversions = keys.sliding(2).count {
          case Array((e1, t1), (e2, t2)) => e1 > e2 || (e1 == e2 && t1 > t2)
          case _ => false
        }
        assert(inversions == 0, s"$what: $inversions order inversions in $dir")
      }
    }
    store.register("t", source) // not local: the period exchange
    checkSorted(1, "exchanged write")
    store.register("t", local) // local: the driver write
    checkSorted(2, "driver write")
    // a copy-on-write rewrite of the one segment, by either kernel
    val delta = local.limit(30).withColumn("value", col("value") + 0.5)
    store.registerUpsert("t", delta)
    checkSorted(3, "driver-classified rewrite")
    store.registerUpsertOn(FeatureStore.MutationKernel.OnSpark, "t", delta)
    checkSorted(4, "Spark-classified rewrite")
    assert(store.getTableInfo("t").rowCount == 1000)
  }

  test("registerAppend rejects schema drift") {
    val s = spark
    import s.implicits._
    val store = new FeatureStore(spark, freshRoot())
    store.register("t", rows(1 to 3, day = 1))
    val drifted = Seq(("user_1", ts("2024-01-02"), 1.0, "extra"))
      .toDF("entity_id", "timestamp", "value", "note")
    intercept[FeatureValidationError](store.registerAppend("t", drifted))
  }

  test("two stores on one root keep each other's tables (merge-on-save)") {
    val root = freshRoot()
    val a = new FeatureStore(spark, root)
    val b = new FeatureStore(spark, root)
    a.register("alpha", rows(1 to 3, day = 1))
    b.register("beta", rows(1 to 4, day = 1))
    val c = new FeatureStore(spark, root)
    assert(c.tableNames == Seq("alpha", "beta"))
    assert(c.getTableInfo("alpha").rowCount == 3)
    assert(c.getTableInfo("beta").rowCount == 4)
    // delete tombstones beat the merge: beta stays deleted
    assert(c.delete("beta"))
    val d = new FeatureStore(spark, root)
    assert(d.tableNames == Seq("alpha"))
  }

  test("random register/append interleavings equal full-snapshot registers (model check)") {
    // deterministic pseudo-random schedule; the model is "version v =
    // concatenation of all batches registered up to v"
    val rnd = new scala.util.Random(42)
    val root = freshRoot()
    val store = new FeatureStore(spark, root, maxVersions = 20)
    var model = Vector.empty[Vector[(Int, Int)]] // batches of (idStart, day)
    var nextId = 1
    for (step <- 1 to 6) {
      val n = 3 + rnd.nextInt(5)
      val batch = rnd.nextInt(3) // 0 = full register of model+new, 1,2 = append
      val ids = nextId until (nextId + n); nextId += n
      val day = 1 + step
      val df = rows(ids, day)
      if (batch == 0 || model.isEmpty) {
        // full snapshot = everything so far plus this batch
        val allDf = model.map(b => rows(b.head._1 until (b.head._1 + b.size), b.head._2))
          .foldLeft(df)((acc, d) => acc.unionByName(d))
        store.register("t", allDf)
        model = model :+ ids.map(i => (i, day)).toVector
      } else {
        store.registerAppend("t", df, maxSegments = 3) // small cap → compactions fire
        model = model :+ ids.map(i => (i, day)).toVector
      }
      // the CURRENT version must always equal the model union
      val expected = model.map(b =>
        collected(rows(b.head._1 until (b.head._1 + b.size), b.head._2))).reduce(_ ++ _)
      val v = store.getTableInfo("t").version
      assert(collected(store.getVersion("t", v)) == expected,
        s"step $step (mode $batch, version $v) diverged from model")
    }
  }

  test("concurrent writers of the SAME table are serialized by the log") {
    val root = freshRoot()
    val a = new FeatureStore(spark, root)
    val b = new FeatureStore(spark, root) // opened before a's write
    a.register("t", rows(1 to 3, day = 1))
    // b never saw v1: its claim reconciles v1 from the log, and its
    // register lands as v2 instead of forking or failing
    assert(b.register("t", rows(4 to 6, day = 2)).version == 2)
    // a, still holding v1, must chain its append on b's v2
    assert(a.registerAppend("t", rows(7 to 9, day = 3)).version == 3)
    val c = new FeatureStore(spark, root)
    assert(c.getTableInfo("t").version == 3)
    assert(collected(c.getVersion("t", 1)) == collected(rows(1 to 3, day = 1)))
    assert(collected(c.getVersion("t", 2)) == collected(rows(4 to 6, day = 2)))
    assert(collected(c.getVersion("t", 3)) ==
      collected(rows(4 to 6, day = 2)) ++ collected(rows(7 to 9, day = 3)))
    assert(collected(b.getVersion("t", 1)) == collected(rows(1 to 3, day = 1)))
  }
}
