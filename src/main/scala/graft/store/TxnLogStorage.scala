package graft.store

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The store's [[VersionStorage]]: the Delta-shaped commit log every
  * [[FeatureStore]] commits through (seam doc above [[VersionStorage]];
  * SURVEY.md §1.3 names the mapping). The data layout is [[Storage]]'s
  * (period-partitioned, entity-sorted parquet under `<name>/v=<k>/`);
  * a per-table COMMIT LOG under `<name>/_txn/` is the table's only
  * VERSION AUTHORITY, and the store's catalog is a cache of it:
  *
  *   - MULTI-WRITER ARBITRATION is optimistic concurrency on the next
  *     version number, exactly the Delta commit-protocol shape: a
  *     writer claims version v by ATOMIC CREATE-EXCLUSIVE (`O_EXCL`)
  *     of `_txn/<v>.reserve` (first creator wins). A loser re-reads
  *     the log and retries at the next number ([[FeatureStore]] drives
  *     the retry loop), so two stores on one root can interleave
  *     registers with every version written by exactly one writer. The
  *     log is local files written through `java.nio`, as the catalog
  *     is; a store on an object store without an atomic create-exclusive
  *     (plain S3) would need a stronger LogStore, as Delta itself does.
  *   - [[write]] puts data files on disk under the claimed version;
  *     [[commitVersion]] then publishes `_txn/<v>.commit` via synced
  *     tmp + atomic rename — the commit point. The marker carries the full
  *     commit record ([[CommitMeta]]: rows, cumulative rows, columns,
  *     segment manifest, timestamp range), so a concurrent store can
  *     RECONCILE versions it never saw the catalog save for. Commit
  *     re-verifies reservation ownership (the reserve file holds the
  *     writer's token) immediately before the rename, so a reservation
  *     reclaimed by vacuum and re-claimed by another writer makes the
  *     zombie abort instead of clobbering.
  *   - A crash between reserve and commit leaves an UNCOMMITTED
  *     claim/data directory that reads refuse and
  *     [[FeatureStore.vacuum]] reclaims after its grace window
  *     ([[sweepUncommitted]]) — data never half-appears, and the
  *     lineage resumes at the reclaimed number.
  *   - [[read]]/[[readSegments]] are `versionAsOf`-shaped: a segment
  *     resolves through its commit marker or the read fails with the
  *     not-found error, exactly like `VERSION AS OF` on a vacuumed or
  *     never-committed Delta version.
  *   - retention is the store's RETIRE LEDGER: pruning/delete retire
  *     paths logically, vacuum deletes data AND its commit marker after
  *     the grace window ([[deleteVersion]]) — the VACUUM + log-cleanup
  *     discipline of the table formats. A delete + re-register restarts
  *     the lineage at v1 through [[resetVersionAuthority]] (the one
  *     explicit overwrite branch, taken only for a ledgered-retired
  *     lineage).
  *
  * The log also carries column-level skipping stats per commit
  * ([[CommitMeta.colStats]]) and folds itself into CHECKPOINT files
  * every `checkpointInterval` commits (tmp + atomic rename; readers
  * take the newest checkpoint plus the tail markers after it), so a
  * log read costs O(interval) file opens however long the table has
  * lived. What a real Delta/Iceberg binding would still add is
  * multi-table transactions; the arbitration, stats, and checkpoint
  * disciplines are now the same shape.
  */
final class TxnLogStorage(
    spark: SparkSession,
    root: String,
    granularity: String = "month",
    // every Nth commit folds the log into a CHECKPOINT file (Delta's
    // checkpoint discipline): log reads open the latest checkpoint plus
    // the markers after it — O(interval) file opens per reconciliation
    // instead of O(commits), which is the difference between a usable
    // and an unusable log after a year of streaming commits
    checkpointInterval: Int = 10) extends VersionStorage {

  private val inner = new Storage(spark, root, granularity)

  /** This writer's arbitration token: reservations carry it, and commit
    * verifies it still owns the claim immediately before publishing.
    */
  private val writerToken = java.util.UUID.randomUUID().toString

  // the log is local files written through java.nio, as the catalog,
  // the read leases and the retire ledger are: no checksum sidecars,
  // and no forked `chmod` per create
  private def logDir(name: String): Path = Paths.get(root, name, "_txn")
  private def commitFile(name: String, version: Int): Path =
    logDir(name).resolve(f"$version%010d.commit")
  private def reserveFile(name: String, version: Int): Path =
    logDir(name).resolve(f"$version%010d.reserve")
  private def checkpointFile(name: String, version: Int): Path =
    logDir(name).resolve(f"$version%010d.checkpoint")

  /** File names in the table's log directory; empty when it has none. */
  private def logNames(name: String): Seq[String] =
    try {
      val listing = Files.list(logDir(name))
      try listing.iterator().asScala.map(_.getFileName.toString).toSeq
      finally listing.close()
    } catch { case _: java.nio.file.NoSuchFileException => Seq.empty }

  /** Versions of the log files named `*<suffix>`. */
  private def versionsOf(names: Seq[String], suffix: String): Seq[Int] =
    names.collect { case n if n.endsWith(suffix) => n.stripSuffix(suffix).toIntOption }.flatten

  private def readLog(p: Path): Option[String] =
    try Some(Files.readString(p)) catch { case _: java.io.IOException => None }

  /** Atomic create-exclusive of the reservation (`O_EXCL`) — the
    * arbitration point. Returns false when the version is already
    * claimed.
    */
  override def reserveVersion(name: String, version: Int): Boolean = {
    Files.createDirectories(logDir(name))
    try {
      Files.write(reserveFile(name, version), writerToken.getBytes(UTF_8),
        StandardOpenOption.CREATE_NEW)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    }
  }

  /** True when this writer's token is what the reservation file holds.
    * Single read is sound: the file is written in one create (36-byte
    * token) and never appended, so a short read can only under-match —
    * the safe direction (treat as not owned).
    */
  private def ownsReservation(name: String, version: Int): Boolean =
    readLog(reserveFile(name, version)).contains(writerToken)

  /** Drop this writer's own reservation (claim whose write/validation
    * failed); verified by token so a vacuum-reclaimed-and-re-claimed
    * number is never stolen back.
    */
  override def releaseVersion(name: String, version: Int): Unit =
    if (ownsReservation(name, version)) {
      Files.deleteIfExists(reserveFile(name, version))
      ()
    }

  override def maxClaimedVersion(name: String): Option[Int] = {
    val names = logNames(name)
    (versionsOf(names, ".commit") ++ versionsOf(names, ".reserve")).maxOption
  }

  def write(
      name: String,
      version: Int,
      df: DataFrame,
      entityCol: String,
      tsCol: String): WriteResult =
    inner.write(name, version, df, entityCol, tsCol)

  override def writeSmall(
      name: String,
      version: Int,
      df: DataFrame,
      entityCol: String,
      tsCol: String): WriteResult =
    inner.writeSmall(name, version, df, entityCol, tsCol)

  override def writeClustered(
      name: String,
      version: Int,
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      cluster: Seq[org.apache.spark.sql.Column]): WriteResult =
    inner.writeClustered(name, version, df, entityCol, tsCol, cluster)

  /** Publish the commit marker — the version becomes visible here.
    * Requires this writer's reservation to still be in place: a claim
    * reclaimed by vacuum (this writer presumed crashed) and possibly
    * re-claimed by another writer makes the publish fail instead of
    * silently clobbering the other writer's version.
    */
  override def commitVersion(name: String, version: Int, meta: CommitMeta): Unit = {
    if (!ownsReservation(name, version))
      throw new FeatureConcurrencyError(
        s"commit of '$name' version $version lost its reservation " +
          "(vacuum reclaimed it as crashed, or another writer re-claimed " +
          "the number); re-read the log and retry at the next version")
    val target = commitFile(name, version)
    CatalogPersistence.writeAtomic(target, TxnLogStorage.render(meta), () =>
      // the reservation serializes writers of this version; an existing
      // marker under a HELD reservation can only be a retired lineage's
      // (see resetVersionAuthority) or this writer's own retry. But the
      // entry check above is stale by now (the render+write took time,
      // and a vacuum could have reclaimed a presumed-crashed writer):
      // re-verify ownership IMMEDIATELY before replacing, so a marker
      // another writer published after reclaiming the number is never
      // clobbered — fail loudly instead
      if (Files.exists(target) && !ownsReservation(name, version))
        throw new FeatureConcurrencyError(
          s"commit of '$name' version $version found a foreign marker " +
            "and no longer holds its reservation (vacuum reclaimed it " +
            "as crashed and another writer committed); re-read the log " +
            "and retry at the next version"))
    // reservation is transient: claim → write → commit → release. Its
    // absence is what lets a delete + re-register (or a later lineage)
    // reuse the number after vacuum clears the log.
    Files.deleteIfExists(reserveFile(name, version))
    // fold the log into a checkpoint every Nth commit — strictly
    // best-effort: the marker above IS the commit point, and a reader
    // without this checkpoint just opens more tail markers
    if (checkpointInterval > 0 && version % checkpointInterval == 0)
      try writeCheckpoint(name, version)
      catch {
        // strictly best-effort: the marker above IS the commit point,
        // and failing the caller here would report a DURABLY COMMITTED
        // version as failed — swallow anything non-fatal, not just IO
        case scala.util.control.NonFatal(_) => ()
      }
    ()
  }

  /** Write `_txn/<v>.checkpoint`: one line per committed version (tab-
    * joined key=value — the marker body in one-line form, which
    * [[TxnLogStorage.parse]] reads identically), via tmp + atomic
    * rename. Older checkpoints are dropped after the new one lands;
    * readers pick the newest present, so a concurrent reader never sees
    * a gap.
    */
  private def writeCheckpoint(name: String, version: Int): Unit = {
    val records = committedMeta(name) // itself checkpoint-accelerated
    if (records.isEmpty) return
    val body = records.toSeq.sortBy(_._1).map { case (v, cm) =>
      s"version=$v\t" + TxnLogStorage.render(cm).trim.replace("\n", "\t")
    }.mkString("\n") + "\n"
    CatalogPersistence.writeAtomic(checkpointFile(name, version), body)
    // retire superseded checkpoints (best effort — extras are harmless,
    // readers take the newest)
    versionsOf(logNames(name), ".checkpoint").filter(_ < version)
      .foreach(v => Files.deleteIfExists(checkpointFile(name, v)))
  }

  /** Latest checkpoint's records, keyed by version; empty when none. */
  private def readCheckpoint(name: String, names: Seq[String]): Map[Int, CommitMeta] =
    versionsOf(names, ".checkpoint").maxOption
      .flatMap(v => readLog(checkpointFile(name, v)))
      .fold(Map.empty[Int, CommitMeta]) { body =>
        body.split("\n").toSeq
          .filter(_.nonEmpty)
          .flatMap { line =>
            val v = line.split("\t", 2)(0) match {
              case s if s.startsWith("version=") =>
                s.stripPrefix("version=").toIntOption
              case _ => None
            }
            v.flatMap(ver => TxnLogStorage.parse(line).map(ver -> _))
          }
          .toMap
      }

  private def requireCommitted(name: String, version: Int): Unit =
    if (!Files.exists(commitFile(name, version)))
      throw new FeatureTableNotFoundError(
        s"Version $version of table '$name' has no commit in the " +
          "transaction log (never committed, or vacuumed past retention)")

  def read(
      name: String,
      version: Int,
      columns: Seq[String],
      asOf: Option[java.sql.Timestamp]): DataFrame = {
    requireCommitted(name, version)
    inner.read(name, version, columns, asOf)
  }

  def readSegments(
      name: String,
      segments: Seq[Int],
      columns: Seq[String],
      asOf: Option[java.sql.Timestamp],
      columnTypes: Map[String, String]): DataFrame = {
    segments.foreach(requireCommitted(name, _))
    inner.readSegments(name, segments, columns, asOf, columnTypes)
  }

  override def localReadSchema(
      name: String,
      segments: Seq[Int],
      columns: Seq[String],
      columnTypes: Map[String, String]): Option[org.apache.spark.sql.types.StructType] =
    inner.localReadSchema(name, segments, columns, columnTypes)

  override def scanSegmentsLocal(
      name: String,
      segments: Seq[Int],
      schema: org.apache.spark.sql.types.StructType,
      asOf: Option[java.sql.Timestamp],
      filters: Seq[org.apache.spark.sql.sources.Filter])(
      f: (Int, org.apache.spark.sql.catalyst.InternalRow) => Unit): Unit = {
    segments.foreach(requireCommitted(name, _))
    inner.scanSegmentsLocal(name, segments, schema, asOf, filters)(f)
  }

  /** Vacuum-time reclamation: data dir AND its log entry go together
    * (Delta's VACUUM + log cleanup, in one step, under the retire
    * ledger's grace window).
    */
  def deleteVersion(name: String, version: Int): Unit = {
    inner.deleteVersion(name, version)
    Files.deleteIfExists(commitFile(name, version))
    Files.deleteIfExists(reserveFile(name, version))
    // also reclaim tmp markers a crashed commit of THIS version left
    // behind (create succeeded, rename never ran) — otherwise they
    // accumulate until deleteTable
    val tmpPrefix = s".${commitFile(name, version).getFileName}.tmp-"
    logNames(name).filter(_.startsWith(tmpPrefix))
      .foreach(n => Files.deleteIfExists(logDir(name).resolve(n)))
  }

  def deleteTable(name: String): Unit = inner.deleteTable(name)

  /** The `_txn` log lives INSIDE the table directory, and commit
    * markers key versions by position, not by table name — the one
    * directory rename carries the whole arbitration history to the new
    * name unchanged.
    */
  override def renameTable(from: String, to: String): Unit =
    inner.renameTable(from, to)

  override def writeChangeData(name: String, version: Int, df: DataFrame,
      small: Boolean): Long =
    inner.writeChangeData(name, version, df, small)

  override def readChangeData(name: String, version: Int): Option[DataFrame] =
    inner.readChangeData(name, version)

  /** Physical truth for vacuum: ALL data dirs, committed or not — an
    * uncommitted directory (crash between data and marker) is exactly
    * the stranded-path class vacuum exists to reclaim.
    */
  def listVersionDirs(name: String): Seq[Int] = inner.listVersionDirs(name)

  def listTableDirs(): Seq[String] = inner.listTableDirs()

  /** Committed versions present in the log, ascending — the `DESCRIBE
    * HISTORY` surface. Every version the store's catalog retains has
    * one: the marker is the commit point, and the catalog is a cache
    * of the log.
    */
  override def committedVersions(name: String): Seq[Int] =
    versionsOf(logNames(name), ".commit").sorted

  /** Full commit records, version → metadata; `skip`ped versions are
    * filtered by FILENAME before any file is opened. Markers in the
    * legacy (pre-arbitration) single-line format parse to a record
    * without columns, which reconciliation skips — those versions are
    * known to their writer's catalog by construction.
    */
  override def committedMeta(
      name: String, skip: Int => Boolean = _ => false): Map[Int, CommitMeta] = {
    // one directory listing + the latest checkpoint + only the markers
    // the checkpoint doesn't cover: O(interval) opens, not O(commits).
    // Only versions whose marker is STILL LISTED are returned — a
    // checkpoint may cover versions vacuumed since it was written, and
    // those must not resurrect.
    val names = logNames(name)
    val commits = versionsOf(names, ".commit").filterNot(skip)
    if (commits.isEmpty) return Map.empty
    val fromCheckpoint = readCheckpoint(name, names)
    commits.flatMap { v =>
      fromCheckpoint.get(v)
        .orElse(readLog(commitFile(name, v)).flatMap(TxnLogStorage.parse))
        .map(v -> _)
    }.toMap
  }

  /** Delete the whole per-table log — the re-register-only branch: a
    * retired lineage's markers and stale reservations must not block or
    * leak into the fresh lineage restarting at v1. In-flight DataFrames
    * of leased readers are unaffected (marker checks happen at read
    * construction; scans read parquet directly).
    */
  override def resetVersionAuthority(name: String): Unit = {
    logNames(name).foreach(n => Files.deleteIfExists(logDir(name).resolve(n)))
    Files.deleteIfExists(logDir(name))
    ()
  }

  /** Reclaim crashed-writer leftovers: reservations and orphaned tmp
    * markers older than the threshold (a reservation whose marker
    * landed belongs to a writer that died before removing it). Age-gated
    * on file mtime so an in-flight writer's fresh claim is never touched —
    * UNDER A NONZERO THRESHOLD. `olderThanMillis = 0` (vacuum's
    * single-phase mode) sweeps every reservation including a concurrent
    * writer's in-flight one; that writer's commit then FAILS STOP (the
    * ownership re-check aborts it — no silent clobber is possible), so
    * zero-grace vacuum keeps its documented contract: offline
    * maintenance or tests, never alongside live writers.
    */
  override def sweepUncommitted(name: String, olderThanMillis: Long): Unit = {
    val cutoff = System.currentTimeMillis() - olderThanMillis
    logNames(name)
      .filter(n => n.endsWith(".reserve") || (n.startsWith(".") && n.contains(".tmp-")))
      .map(logDir(name).resolve(_))
      .foreach { p =>
        try {
          if (Files.getLastModifiedTime(p).toMillis <= cutoff) Files.deleteIfExists(p)
        } catch { case _: java.nio.file.NoSuchFileException => () }
      }
  }
}

object TxnLogStorage {
  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  /** Marker body: one `key=value` per line. */
  private[store] def render(m: CommitMeta): String = {
    val lines = Seq(
      s"rows=${m.segmentRows}",
      s"tableRows=${m.tableRows}",
      s"committedAt=${m.committedAt}",
      s"cols=${m.columns.map(enc).mkString(",")}",
      s"segments=${m.segments.mkString(",")}",
      s"minTs=${m.minTsMillis.fold("")(_.toString)}",
      s"maxTs=${m.maxTsMillis.fold("")(_.toString)}",
      s"colTypes=${m.columnTypes.toSeq.sorted
        .map { case (c, t) => s"${enc(c)}:${enc(t)}" }.mkString(",")}",
      s"operation=${enc(m.operation)}",
      s"changeRows=${m.changeRows}",
      s"colStats=${ColumnStats.renderMap(m.colStats)}",
      s"checks=${m.constraints.toSeq.sorted
        .map { case (k, sql) => s"${enc(k)}:${enc(sql)}" }.mkString(",")}",
      s"cluster=${m.clusterSpec.fold("")(enc)}",
      s"watermark=${m.watermark.fold("") { case (sid, b) => s"${enc(sid)}:$b" }}")
    lines.mkString("\n") + "\n"
  }

  /** Tolerant parse: new markers are line-based `key=value`; legacy
    * round-6 markers are one tab-separated line (`rows=N committedAt=M`)
    * and yield a record without columns/segments.
    */
  private[store] def parse(content: String): Option[CommitMeta] = {
    val kv = content.split("[\t\n]").toSeq
      .map(_.trim)
      .filter(_.contains("="))
      .map { t =>
        val i = t.indexOf('=')
        t.substring(0, i) -> t.substring(i + 1)
      }
      .toMap
    kv.get("rows").flatMap(_.toLongOption).map { rows =>
      CommitMeta(
        segmentRows = rows,
        tableRows = kv.get("tableRows").flatMap(_.toLongOption).getOrElse(rows),
        columns = kv.get("cols").toSeq
          .flatMap(_.split(",").toSeq.filter(_.nonEmpty).map(dec)),
        segments = kv.get("segments").toSeq
          .flatMap(_.split(",").toSeq.flatMap(_.toIntOption)),
        minTsMillis = kv.get("minTs").flatMap(_.toLongOption),
        maxTsMillis = kv.get("maxTs").flatMap(_.toLongOption),
        committedAt =
          kv.get("committedAt").flatMap(_.toLongOption).getOrElse(0L),
        columnTypes = kv.get("colTypes").toSeq
          .flatMap(_.split(",").toSeq.filter(_.contains(":")).map { p =>
            val i = p.indexOf(':')
            dec(p.substring(0, i)) -> dec(p.substring(i + 1))
          })
          .toMap,
        operation = kv.get("operation").map(dec).getOrElse(""),
        changeRows = kv.get("changeRows").flatMap(_.toLongOption).getOrElse(-1L),
        colStats = kv.get("colStats").fold(
          Map.empty[String, ColStat])(ColumnStats.parseMap),
        constraints = kv.get("checks").toSeq
          .flatMap(_.split(",").toSeq.filter(_.contains(":")).map { p =>
            val i = p.indexOf(':')
            dec(p.substring(0, i)) -> dec(p.substring(i + 1))
          })
          .toMap,
        clusterSpec = kv.get("cluster").filter(_.nonEmpty).map(dec),
        watermark = kv.get("watermark").filter(_.contains(":")).flatMap { p =>
          val i = p.lastIndexOf(':')
          p.substring(i + 1).toLongOption.map(dec(p.substring(0, i)) -> _)
        })
    }
  }
}
