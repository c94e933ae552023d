package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{CatalogIO, CatalogPersistence, CommitMeta, FeatureStore, TableMeta, WriteResult}

/** Crash injection over the store's one commit protocol (reserve → data
  * write → marker rename → catalog cache write). A commit killed at each
  * point leaves a root that a reopened store reads at exactly the last
  * committed version, that `vacuum(graceMillis = 0)` clears of every
  * leftover directory, reservation and temp file, and whose next commit
  * takes the next number.
  */
class CommitCrashSpec extends AnyFunSuite with SparkTestBase {

  private final class Crash extends RuntimeException("injected crash")

  /** Where the writer dies, and whether it has. Once dead, every call
    * the writer makes throws: a crashed process runs no cleanup.
    */
  private final class Fault(val point: String) {
    @volatile var armed = false
    @volatile var dead = false
    def alive(): Unit = if (dead) throw new Crash
    def at(p: String): Unit = if (armed && point == p) { dead = true; throw new Crash }
  }

  private final class CrashingLog(s: org.apache.spark.sql.SparkSession, root: String,
      g: String, fault: Fault) extends LogDecorator(s, root, g) {
    override def reserveVersion(name: String, version: Int): Boolean = {
      fault.alive()
      val won = inner.reserveVersion(name, version)
      if (won) fault.at("after the reservation")
      won
    }
    override def write(name: String, version: Int, df: DataFrame,
        entityCol: String, tsCol: String): WriteResult = {
      fault.alive()
      val wr = inner.write(name, version, df, entityCol, tsCol)
      fault.at("after the data write")
      wr
    }
    override def writeSmall(name: String, version: Int, df: DataFrame,
        entityCol: String, tsCol: String): WriteResult = {
      fault.alive()
      if (fault.armed && fault.point == DriverWriteCrash) {
        // the driver write writes the first period's file, then the
        // writer dies before the next: only January's rows go through it
        inner.writeSmall(name, version, df.filter(col(tsCol) < lit(ts("2024-02-01"))),
          entityCol, tsCol)
        fault.at(fault.point)
      }
      val wr = inner.writeSmall(name, version, df, entityCol, tsCol)
      fault.at("after the data write")
      wr
    }
    override def localReadSchema(name: String, segments: Seq[Int], columns: Seq[String],
        columnTypes: Map[String, String]): Option[StructType] =
      inner.localReadSchema(name, segments, columns, columnTypes)
    override def scanSegmentsLocal(name: String, segments: Seq[Int], schema: StructType,
        asOf: Option[java.sql.Timestamp], filters: Seq[Filter])(
        f: (Int, InternalRow) => Unit): Unit =
      inner.scanSegmentsLocal(name, segments, schema, asOf, filters)(f)
    override def commitVersion(name: String, version: Int, meta: CommitMeta): Unit = {
      fault.alive()
      val reserve = Paths.get(root, name, "_txn", f"$version%010d.reserve")
      val token = Files.readAllBytes(reserve)
      inner.commitVersion(name, version, meta)
      if (fault.armed && fault.point == "after the marker rename") {
        // the writer died between the rename and removing its reservation
        Files.write(reserve, token)
        fault.at(fault.point)
      }
    }
    override def releaseVersion(name: String, version: Int): Unit = {
      fault.alive()
      inner.releaseVersion(name, version)
    }
    override def deleteVersion(name: String, version: Int): Unit = {
      fault.alive()
      inner.deleteVersion(name, version)
    }
  }

  private final class CrashingCatalog(fault: Fault) extends CatalogIO {
    def save(root: String, metas: Seq[TableMeta], removed: Seq[String]): Unit = {
      fault.alive()
      fault.at("before the catalog cache write")
      CatalogPersistence.save(root, metas, removed)
    }
    def load(root: String): Seq[TableMeta] = CatalogPersistence.load(root)
  }

  private val DriverWriteCrash = "inside the driver write, after its first period file"

  /** One row in January and one in February: two period files. */
  private def twoPeriods(value: Double): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(("user_1", ts("2024-01-01"), value), ("user_2", ts("2024-02-01"), value + 0.5))
      .toDF("entity_id", "timestamp", "val")
  }

  private def values(df: DataFrame): Seq[Double] =
    df.collect().map(_.getAs[Double]("val")).toSeq.sorted

  private def files(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.toSeq finally walk.close()
  }

  Seq(
    "after the data write" -> false,
    DriverWriteCrash -> false,
    "after the reservation" -> false,
    "after the marker rename" -> true,
    "before the catalog cache write" -> true).foreach { case (point, committed) =>
    test(s"a commit killed $point: reopen, vacuum and the next commit are exact") {
      val root = Files.createTempDirectory("graft_crash_spec").toString
      val fault = new Fault(point)
      val writer = new FeatureStore(spark, root,
        storageFactory = new CrashingLog(_, _, _, fault),
        catalogIO = new CrashingCatalog(fault),
        arbitrationWaitMillis = 1000)
      writer.register("t", singleRow(1.0))
      writer.registerAppend("t", singleRow(2.0))
      fault.armed = true
      intercept[Crash](writer.registerAppend("t", twoPeriods(3.0)))
      assert(fault.dead, s"the writer must have died $point")
      if (point == DriverWriteCrash)
        assert(Files.list(Paths.get(root, "t", "v=3")).iterator().asScala
          .map(_.getFileName.toString).toSeq == Seq("_ts_date=2024-01-01"))

      val last = if (committed) 3 else 2
      val want = if (committed) Seq(1.0, 2.0, 3.0, 3.5) else Seq(1.0, 2.0)
      val reopened = new FeatureStore(spark, root)
      assert(reopened.getTableInfo("t").version == last)
      assert(reopened.getTableInfo("t").rowCount == want.size)
      assert(values(reopened.getVersion("t", last)) == want)

      reopened.vacuum(graceMillis = 0)
      val log = Paths.get(root, "t", "_txn")
      val left = files(root).map(_.getFileName.toString)
      assert(!left.exists(_.endsWith(".reserve")), s"reservations left: $left")
      assert(!left.exists(_.contains(".tmp-")), s"temp files left: $left")
      assert(Files.list(Paths.get(root, "t")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v=")).toSeq.sorted ==
        (1 to last).map(v => s"v=$v"), "only committed versions' directories remain")
      assert(Files.list(log).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".commit")).toSeq.sorted ==
        (1 to last).map(v => f"$v%010d.commit"))

      assert(reopened.registerAppend("t", singleRow(4.0)).version == last + 1)
      assert(values(reopened.getVersion("t", last + 1)) == want :+ 4.0)
      assert(values(new FeatureStore(spark, root).getVersion("t", last + 1)) == want :+ 4.0)
    }
  }

  test("a reclaimed version whose directories hold a crashed writer's files reads back only its own rows") {
    val root = Files.createTempDirectory("graft_crash_reclaim").toString
    val store = new FeatureStore(spark, root)
    store.register("t", twoPeriods(1.0))
    // a crashed writer of version 2, its claim swept: stray part files in
    // a period the next write also writes and in one it does not, and
    // stray change data at version 3
    def stray(dir: Path): Unit = {
      val part = files(Paths.get(root, "t", "v=1").toString).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(dir)
      Files.copy(part, dir.resolve("part-00000-stray.c000.snappy.parquet"))
      ()
    }
    stray(Paths.get(root, "t", "v=2", "_ts_date=2024-01-01"))
    stray(Paths.get(root, "t", "v=2", "_ts_date=2023-12-01"))
    stray(Paths.get(root, "t", "_cdf", "v=3"))
    assert(store.registerAppend("t", singleRow(2.0)).version == 2)
    assert(values(spark.read.parquet(Paths.get(root, "t", "v=2").toString)) == Seq(2.0))
    assert(values(store.getVersion("t", 2)) == Seq(1.0, 1.5, 2.0))
    val s = spark
    import s.implicits._
    store.registerUpsert("t", Seq(("user_2", ts("2024-02-01"), 7.0)).toDF("entity_id", "timestamp", "val"))
    assert(values(store.getVersion("t", 3)) == Seq(1.0, 2.0, 7.0))
    assert(store.getChanges("t", 2, 3).collect().map(r => r.getAs[Double]("val")).sorted.toSeq ==
      Seq(1.5, 7.0))
  }
}
