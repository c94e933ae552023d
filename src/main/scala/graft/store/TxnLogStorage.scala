package graft.store

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Transaction-log [[VersionStorage]] — the Delta-shaped adapter the
  * storage seam was built for (seam doc above [[VersionStorage]];
  * SURVEY.md §1.3 names the mapping). Same physical data layout as
  * [[Storage]] (period-partitioned, entity-sorted parquet under
  * `<name>/v=<k>/`), plus a per-table COMMIT LOG under `<name>/_txn/`
  * that is the table's VERSION AUTHORITY:
  *
  *   - MULTI-WRITER ARBITRATION is optimistic concurrency on the next
  *     version number, exactly the Delta commit-protocol shape: a
  *     writer claims version v by ATOMIC CREATE-EXCLUSIVE of
  *     `_txn/<v>.reserve` (first creator wins; `O_EXCL` on local
  *     filesystems, `create(overwrite = false)` on HDFS-like stores).
  *     A loser re-reads the log and retries at the next number
  *     ([[FeatureStore]] drives the retry loop), so two stores on one
  *     root can interleave registers with every version written by
  *     exactly one writer. Object stores without an atomic
  *     create-exclusive (plain S3) need a stronger LogStore, as Delta
  *     itself does — documented, not hidden.
  *   - [[write]] puts data files on disk under the claimed version;
  *     [[commitVersion]] then publishes `_txn/<v>.commit` via tmp +
  *     atomic rename — the commit point. The marker carries the full
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

  private def logDir(name: String): Path =
    new Path(s"$root/$name/_txn")
  private def commitFile(name: String, version: Int): Path =
    new Path(logDir(name), f"$version%010d.commit")
  private def reserveFile(name: String, version: Int): Path =
    new Path(logDir(name), f"$version%010d.reserve")
  private def checkpointFile(name: String, version: Int): Path =
    new Path(logDir(name), f"$version%010d.checkpoint")

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def arbitrates: Boolean = true

  /** Atomic create-exclusive of the reservation — the arbitration
    * point. Local filesystems get true `O_EXCL` atomicity via NIO;
    * HDFS-like stores get `create(overwrite = false)`, which is atomic
    * on HDFS. Returns false when the version is already claimed.
    */
  override def reserveVersion(name: String, version: Int): Boolean = {
    val target = reserveFile(name, version)
    val f = fs(target)
    f.mkdirs(target.getParent)
    if (f.getScheme == "file") {
      val local = java.nio.file.Paths.get(target.toUri.getPath)
      try {
        java.nio.file.Files.write(
          local, writerToken.getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        val out = f.create(target, false)
        try out.write(writerToken.getBytes(UTF_8)) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if f.exists(target) => false
      }
    }
  }

  /** True when this writer's token is what the reservation file holds.
    * Single read is sound: the file is written in one create (36-byte
    * token) and never appended, so a short read can only under-match —
    * the safe direction (treat as not owned).
    */
  private def ownsReservation(name: String, version: Int): Boolean = {
    val r = reserveFile(name, version)
    val f = fs(r)
    try {
      val in = f.open(r)
      val buf = new Array[Byte](64)
      val n = in.read(buf)
      in.close()
      n > 0 && new String(buf, 0, n, UTF_8) == writerToken
    } catch { case _: java.io.IOException => false }
  }

  /** Drop this writer's own reservation (claim whose write/validation
    * failed); verified by token so a vacuum-reclaimed-and-re-claimed
    * number is never stolen back.
    */
  override def releaseVersion(name: String, version: Int): Unit =
    if (ownsReservation(name, version)) {
      val r = reserveFile(name, version)
      fs(r).delete(r, false)
      ()
    }

  override def maxClaimedVersion(name: String): Option[Int] = {
    val d = logDir(name)
    val f = fs(d)
    if (!f.exists(d)) None
    else f.listStatus(d).toSeq
      .map(_.getPath.getName)
      .collect {
        case s if s.endsWith(".commit")  => s.stripSuffix(".commit").toIntOption
        case s if s.endsWith(".reserve") => s.stripSuffix(".reserve").toIntOption
      }
      .flatten
      .maxOption
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
    val reserve = reserveFile(name, version)
    val rf = fs(reserve)
    if (!ownsReservation(name, version))
      throw new FeatureConcurrencyError(
        s"commit of '$name' version $version lost its reservation " +
          "(vacuum reclaimed it as crashed, or another writer re-claimed " +
          "the number); re-read the log and retry at the next version")
    val target = commitFile(name, version)
    val f = fs(target)
    val tmp = new Path(
      target.getParent, s".${target.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(TxnLogStorage.render(meta).getBytes(UTF_8))
    finally out.close()
    // the reservation serializes writers of this version; an existing
    // marker under a HELD reservation can only be a retired lineage's
    // (see resetVersionAuthority) or this writer's own retry. But the
    // entry check above is stale by now (the render+write took time,
    // and a vacuum could have reclaimed a presumed-crashed writer):
    // re-verify ownership IMMEDIATELY before removing, so a marker
    // another writer published after reclaiming the number is never
    // clobbered — fail loudly instead
    if (f.exists(target)) {
      if (!ownsReservation(name, version))
        throw new FeatureConcurrencyError(
          s"commit of '$name' version $version found a foreign marker " +
            "and no longer holds its reservation (vacuum reclaimed it " +
            "as crashed and another writer committed); re-read the log " +
            "and retry at the next version")
      f.delete(target, false)
    }
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new FeatureConcurrencyError(
        s"commit of '$name' version $version failed to publish its marker")
    }
    // reservation is transient: claim → write → commit → release. Its
    // absence is what lets a delete + re-register (or a later lineage)
    // reuse the number after vacuum clears the log.
    rf.delete(reserve, false)
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
    val target = checkpointFile(name, version)
    val f = fs(target)
    val tmp = new Path(
      target.getParent, s".${target.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    if (f.exists(target)) f.delete(target, false)
    if (!f.rename(tmp, target)) { f.delete(tmp, false); return }
    // retire superseded checkpoints (best effort — extras are harmless,
    // readers take the newest)
    f.listStatus(logDir(name)).toSeq
      .map(_.getPath)
      .filter { p =>
        p.getName.endsWith(".checkpoint") &&
          p.getName.stripSuffix(".checkpoint").toIntOption.exists(_ < version)
      }
      .foreach(p => { f.delete(p, false); () })
  }

  /** Latest checkpoint's records, keyed by version; empty when none. */
  private def readCheckpoint(
      statuses: Seq[org.apache.hadoop.fs.FileStatus]): Map[Int, CommitMeta] = {
    val latest = statuses.map(_.getPath)
      .filter(_.getName.endsWith(".checkpoint"))
      .flatMap(p => p.getName.stripSuffix(".checkpoint").toIntOption.map(_ -> p))
      .sortBy(_._1).lastOption
    latest.fold(Map.empty[Int, CommitMeta]) { case (_, p) =>
      try {
        val in = fs(p).open(p)
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, true)
        new String(buf.toByteArray, UTF_8).split("\n").toSeq
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
      } catch { case _: java.io.IOException => Map.empty }
    }
  }

  private def requireCommitted(name: String, version: Int): Unit = {
    val c = commitFile(name, version)
    if (!fs(c).exists(c))
      throw new FeatureTableNotFoundError(
        s"Version $version of table '$name' has no commit in the " +
          "transaction log (never committed, or vacuumed past retention)")
  }

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
    val c = commitFile(name, version)
    val f = fs(c)
    if (f.exists(c)) { f.delete(c, false); () }
    val r = reserveFile(name, version)
    if (f.exists(r)) { f.delete(r, false); () }
    // also reclaim tmp markers a crashed commit of THIS version left
    // behind (create succeeded, rename never ran) — otherwise they
    // accumulate until deleteTable
    val d = logDir(name)
    if (f.exists(d)) {
      val tmpPrefix = s".${c.getName}.tmp-"
      f.listStatus(d).toSeq
        .filter(_.getPath.getName.startsWith(tmpPrefix))
        .foreach(s => { f.delete(s.getPath, false); () })
    }
  }

  def deleteTable(name: String): Unit = inner.deleteTable(name)

  /** The `_txn` log lives INSIDE the table directory, and commit
    * markers key versions by position, not by table name — the one
    * directory rename carries the whole arbitration history to the new
    * name unchanged.
    */
  override def renameTable(from: String, to: String): Unit =
    inner.renameTable(from, to)

  override def writeChangeData(name: String, version: Int, df: DataFrame): Long =
    inner.writeChangeData(name, version, df)

  override def readChangeData(name: String, version: Int): Option[DataFrame] =
    inner.readChangeData(name, version)

  /** Physical truth for vacuum: ALL data dirs, committed or not — an
    * uncommitted directory (crash between data and marker) is exactly
    * the stranded-path class vacuum exists to reclaim.
    */
  def listVersionDirs(name: String): Seq[Int] = inner.listVersionDirs(name)

  def listTableDirs(): Seq[String] = inner.listTableDirs()

  /** Committed versions present in the log — the `DESCRIBE HISTORY`
    * surface (exposed for tests and operators; the store's catalog
    * remains the authority on which versions are retained).
    */
  def committedVersions(name: String): Seq[Int] = {
    val d = logDir(name)
    val f = fs(d)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq
      .map(_.getPath.getName)
      .collect {
        case s if s.endsWith(".commit") =>
          s.stripSuffix(".commit").toIntOption
      }
      .flatten
      .sorted
  }

  /** Full commit records, version → metadata; `skip`ped versions are
    * filtered by FILENAME before any file is opened. Markers in the
    * legacy (pre-arbitration) single-line format parse to a record
    * without columns, which reconciliation skips — those versions are
    * known to their writer's catalog by construction.
    */
  override def committedMeta(
      name: String, skip: Int => Boolean = _ => false): Map[Int, CommitMeta] = {
    val d = logDir(name)
    val f = fs(d)
    if (!f.exists(d)) return Map.empty
    val statuses = f.listStatus(d).toSeq
    // one directory listing + the latest checkpoint + only the markers
    // the checkpoint doesn't cover: O(interval) opens, not O(commits).
    // Only versions whose marker is STILL LISTED are returned — a
    // checkpoint may cover versions vacuumed since it was written, and
    // those must not resurrect.
    val fromCheckpoint = readCheckpoint(statuses)
    statuses
      .map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (!n.endsWith(".commit")) None
        else n.stripSuffix(".commit").toIntOption
          .filterNot(skip)
          .flatMap { v =>
            fromCheckpoint.get(v).map(v -> _).orElse {
              try {
                val in = f.open(p)
                val buf = new java.io.ByteArrayOutputStream()
                org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, true)
                TxnLogStorage.parse(new String(buf.toByteArray, UTF_8)).map(v -> _)
              } catch { case _: java.io.IOException => None }
            }
          }
      }
      .toMap
  }

  /** Delete the whole per-table log — the re-register-only branch: a
    * retired lineage's markers and stale reservations must not block or
    * leak into the fresh lineage restarting at v1. In-flight DataFrames
    * of leased readers are unaffected (marker checks happen at read
    * construction; scans read parquet directly).
    */
  override def resetVersionAuthority(name: String): Unit = {
    val d = logDir(name)
    val f = fs(d)
    if (f.exists(d)) { f.delete(d, true); () }
  }

  /** Reclaim crashed-writer leftovers: reservations with no commit and
    * orphaned tmp markers older than the threshold. Age-gated on file
    * mtime so an in-flight writer's fresh claim is never touched —
    * UNDER A NONZERO THRESHOLD. `olderThanMillis = 0` (vacuum's
    * single-phase mode) sweeps every reservation including a concurrent
    * writer's in-flight one; that writer's commit then FAILS STOP (the
    * ownership re-check aborts it — no silent clobber is possible), so
    * zero-grace vacuum keeps its documented contract: offline
    * maintenance or tests, never alongside live writers.
    */
  override def sweepUncommitted(name: String, olderThanMillis: Long): Unit = {
    val d = logDir(name)
    val f = fs(d)
    if (!f.exists(d)) return
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val statuses = f.listStatus(d).toSeq
    val committed = statuses.map(_.getPath.getName)
      .filter(_.endsWith(".commit"))
      .flatMap(_.stripSuffix(".commit").toIntOption)
      .toSet
    statuses.foreach { s =>
      val n = s.getPath.getName
      val stale = s.getModificationTime <= cutoff
      val deadReserve = n.endsWith(".reserve") && stale &&
        !n.stripSuffix(".reserve").toIntOption.exists(committed)
      val orphanTmp = n.startsWith(".") && n.contains(".tmp-") && stale
      if (deadReserve || orphanTmp) { f.delete(s.getPath, false); () }
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
      s"cluster=${m.clusterSpec.fold("")(enc)}")
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
        clusterSpec = kv.get("cluster").filter(_.nonEmpty).map(dec))
    }
  }
}
