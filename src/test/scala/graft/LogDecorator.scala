package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.{CommitMeta, TxnLogStorage, VersionStorage, WriteResult}

/** A [[VersionStorage]] decorator over the transaction log: every call a
  * store must make forwards to `inner`, so a spec overrides only the
  * calls it observes or breaks. The optional calls keep the seam's
  * defaults (no driver-side reader, no change data), so reads go through
  * [[readSegments]].
  */
class LogDecorator(spark: SparkSession, root: String, granularity: String)
    extends VersionStorage {
  protected val inner = new TxnLogStorage(spark, root, granularity)

  def write(name: String, version: Int, df: DataFrame,
      entityCol: String, tsCol: String): WriteResult =
    inner.write(name, version, df, entityCol, tsCol)
  def read(name: String, version: Int, columns: Seq[String],
      asOf: Option[java.sql.Timestamp]): DataFrame =
    inner.read(name, version, columns, asOf)
  def readSegments(name: String, segments: Seq[Int], columns: Seq[String],
      asOf: Option[java.sql.Timestamp], columnTypes: Map[String, String]): DataFrame =
    inner.readSegments(name, segments, columns, asOf, columnTypes)
  def deleteVersion(name: String, version: Int): Unit = inner.deleteVersion(name, version)
  def deleteTable(name: String): Unit = inner.deleteTable(name)
  def listVersionDirs(name: String): Seq[Int] = inner.listVersionDirs(name)
  def listTableDirs(): Seq[String] = inner.listTableDirs()

  def reserveVersion(name: String, version: Int): Boolean =
    inner.reserveVersion(name, version)
  def maxClaimedVersion(name: String): Option[Int] = inner.maxClaimedVersion(name)
  def releaseVersion(name: String, version: Int): Unit = inner.releaseVersion(name, version)
  def commitVersion(name: String, version: Int, meta: CommitMeta): Unit =
    inner.commitVersion(name, version, meta)
  def committedVersions(name: String): Seq[Int] = inner.committedVersions(name)
  def committedMeta(name: String, skip: Int => Boolean): Map[Int, CommitMeta] =
    inner.committedMeta(name, skip)
  def resetVersionAuthority(name: String): Unit = inner.resetVersionAuthority(name)
  def sweepUncommitted(name: String, olderThanMillis: Long): Unit =
    inner.sweepUncommitted(name, olderThanMillis)
}
