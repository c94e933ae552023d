package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
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

  private def values(df: DataFrame): Seq[Double] =
    df.collect().map(_.getAs[Double]("val")).toSeq.sorted

  private def files(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.toSeq finally walk.close()
  }

  Seq(
    "after the data write" -> false,
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
      intercept[Crash](writer.registerAppend("t", singleRow(3.0)))
      assert(fault.dead, s"the writer must have died $point")

      val last = if (committed) 3 else 2
      val want = if (committed) Seq(1.0, 2.0, 3.0) else Seq(1.0, 2.0)
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
}
