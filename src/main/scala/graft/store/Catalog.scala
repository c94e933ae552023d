package graft.store

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.SortedMap

/** Public per-table metadata (reference: src/ml_feature_store/store.py:30-48
  * `FeatureTableInfo`). `registeredAt`/`updatedAt` are epoch millis (the
  * reference stores float epoch seconds from `time.time()`, store.py:152).
  */
final case class FeatureTableInfo(
    name: String,
    columns: Seq[String],
    version: Int,
    rowCount: Long,
    registeredAt: Long,
    updatedAt: Long)

/** One retained version in a table's history
  * ([[FeatureStore.getTableHistory]]): its column list, the segment
  * manifest its reads resolve through, and whether it is the current
  * version.
  */
final case class VersionInfo(
    version: Int,
    columns: Seq[String],
    segments: Seq[Int],
    isCurrent: Boolean,
    // commit wall-clock (epoch millis) — None only for versions written
    // by catalogs that predate commit-time tracking
    committedAt: Option[Long] = None,
    // what produced the version ("register" | "append" | "compact" |
    // "delete" | "upsert" | "restore") — None for versions written
    // before operation tracking existed
    operation: Option[String] = None,
    // total rows at this version — None for versions written before
    // the per-version row record existed
    rows: Option[Long] = None)

/** Internal catalog entry — the Spark analog of `_VersionedTable`
  * (reference: store.py:51-69): current version pointer plus the retained
  * versions (each with its own column list — schema drift across versions
  * is allowed, reference README.md:144), over on-disk parquet snapshots.
  *
  * `segments` is the per-version MANIFEST for incremental registration:
  * version v's data is the union of the listed segment directories
  * (each segment is the `v=<k>` dir written by the register that
  * created version k). A full-snapshot register has `segments(v) =
  * Seq(v)`; an append register reuses the previous manifest plus its
  * own delta segment — O(delta) bytes written per version instead of
  * O(table). Manifests default to the snapshot form so pre-manifest
  * catalogs load unchanged.
  */
final case class TableMeta(
    name: String,
    version: Int,
    rowCount: Long,
    registeredAt: Long,
    updatedAt: Long,
    versions: SortedMap[Int, Seq[String]],
    segments: SortedMap[Int, Seq[Int]] = SortedMap.empty,
    // streaming idempotence high-water marks, one per STREAM IDENTITY
    // (StreamingQuery.id — stable across restarts from one checkpoint,
    // fresh per new checkpoint): the highest foreachBatch batch id each
    // stream has registered ([[FeatureStore.registerBatch]]). Keying by
    // stream makes a fresh-checkpoint restart (batch ids back at 0) a
    // NEW high-water line instead of a silent skip of every early
    // batch. Empty for batch-only tables; one entry per stream
    // generation that ever fed the table (bounded by restart count).
    batchWatermarks: SortedMap[String, Long] = SortedMap.empty,
    // PRUNE HIGH-WATER: every version <= prunedThrough has left the
    // retention window. This is what lets reconciliation from the
    // transaction log ([[FeatureStore]] over [[TxnLogStorage]]) tell a
    // RACE GAP (a version another writer committed that this catalog
    // entry never saw — reconcile it in from its commit record) from a
    // PRUNED version (deliberately dropped — never resurrect it).
    // Monotone; 0 for catalogs written before the field existed.
    prunedThrough: Int = 0,
    // per-SEGMENT timestamp range (epoch millis), observed by the
    // segment's own write job: data-skipping statistics — a PIT read at
    // cutoff T drops every manifest segment whose min is after T before
    // the scan is even planned. Absent entries (pre-stats catalogs,
    // all-null segments) are never skipped.
    segStats: SortedMap[Int, (Long, Long)] = SortedMap.empty,
    // per-VERSION commit wall-clock (epoch millis) — the TIMESTAMP AS OF
    // axis ([[FeatureStore.getVersionAsOf]]). Absent for versions
    // written before commit-time tracking existed.
    versionTimes: SortedMap[Int, Long] = SortedMap.empty,
    // Spark DDL type per column EVER registered to the table — the
    // schema authority that lets chained-manifest reads pad segments
    // written before a column existed with correctly-TYPED nulls
    // (merge-schema evolution, [[FeatureStore.registerAppend]]).
    // Accumulative: a column keeps its recorded type across versions
    // (type changes are rejected at register). Empty for catalogs
    // written before evolution existed — such tables never evolved,
    // so no read ever needs a pad.
    columnTypes: SortedMap[String, String] = SortedMap.empty,
    // per-VERSION producing operation ("register" | "append" |
    // "compact" | "delete" | "upsert" | "restore") — the DESCRIBE
    // HISTORY operation column, and what lets
    // [[FeatureStore.getChanges]] skip content-preserving
    // compactions/restores without a diff. Absent for versions
    // written before operation tracking.
    versionOps: SortedMap[Int, String] = SortedMap.empty,
    // per-VERSION total row count — history display and what lets
    // [[FeatureStore.restoreVersion]] set the restored rowCount
    // without a scan. Absent for versions written before the record
    // existed.
    versionRows: SortedMap[Int, Long] = SortedMap.empty,
    // versions whose commit RECORDED a change-data set, with its row
    // count — the authorization the change feed requires before
    // trusting a _cdf file (a crashed mutation's leftover at a reused
    // version number is never misattributed).
    versionCdf: SortedMap[Int, Long] = SortedMap.empty,
    // per-SEGMENT row count, observed by the segment's write job (or
    // adopted from its commit marker): what lets stats-pruned segments
    // contribute exact totals to mutation classification without being
    // scanned. Absent for segments written before the record existed —
    // those are simply never pruned from a classification.
    segRows: SortedMap[Int, Long] = SortedMap.empty,
    // per-SEGMENT column-level skipping stats ([[ColStat]] per eligible
    // column): the generalization of `segStats` beyond the timestamp —
    // [[StatsPruning]] drops segments a resolved predicate provably
    // cannot match. Absent entries are never used to prune.
    segColStats: SortedMap[Int, Map[String, ColStat]] = SortedMap.empty,
    // CHECK constraints, name → SQL condition ([[FeatureStore.addConstraint]]):
    // every data-adding write must leave no row where the condition is
    // FALSE (NULL passes, standard SQL). Enforced by the write job's
    // own metrics; a violating write aborts before its commit.
    constraints: SortedMap[String, String] = SortedMap.empty,
    // the table's recorded clustering spec ("range:" | "zorder:" +
    // comma-joined columns), set by [[FeatureStore.optimizeTable]] —
    // what lets INCREMENTAL optimize know the base segments' layout
    // still matches the requested one (Delta records clustering as
    // table metadata the same way). None = never optimized.
    clusterSpec: Option[String] = None) {
  def columns: Seq[String] = versions(version)
  /** Manifest for `v`: explicit entry, else the single-snapshot default. */
  def segmentsOf(v: Int): Seq[Int] = segments.getOrElse(v, Seq(v))
  def info: FeatureTableInfo =
    FeatureTableInfo(name, columns, version, rowCount, registeredAt, updatedAt)
}

/** Driver-local, thread-safe catalog — the Spark analog of the reference's
  * `Dict[str, _VersionedTable]` (store.py:112). No Hive metastore needed:
  * table state is tiny (one entry per table) and versions live as parquet
  * dirs managed by [[Storage]].
  */
final class Catalog {
  private val tables = TrieMap.empty[String, TableMeta]

  def names: Seq[String] = tables.keys.toSeq.sorted

  def get(name: String): Option[TableMeta] = tables.get(name)

  /** Lookup-or-raise with the available-tables message
    * (reference: store.py:403-420).
    */
  def getOrThrow(name: String): TableMeta =
    tables.getOrElse(
      name, {
        val available =
          if (tables.isEmpty) "none" else names.mkString(", ")
        throw new FeatureTableNotFoundError(
          s"Feature table '$name' not found. Available tables: $available")
      })

  def put(meta: TableMeta): Unit = tables.put(meta.name, meta)

  def remove(name: String): Option[TableMeta] = tables.remove(name)

  /** Atomic snapshot — safe against concurrent removals. */
  def all: Seq[TableMeta] =
    tables.readOnlySnapshot().values.toSeq.sortBy(_.name)
}

/** Durable catalog state: tiny line-based metadata files under the
  * storage root — ONE FILE PER TABLE (`_catalog/<enc(name)>.tsv`),
  * each rewritten atomically (unique temp file + atomic rename) when
  * ITS table commits, so a new session can reopen a store from disk
  * (the reference is ephemeral by design; persistence is what makes
  * versioned parquet storage usable across processes) and a commit's
  * driver I/O is O(one table's metadata) regardless of how many
  * tables share the root. Pre-round-8 roots used a single whole-root
  * `_catalog.tsv`; it is read transparently and split into per-table
  * files on the first save. Format, one record per line,
  * tab-separated with URL-encoded fields:
  *
  *   T <name> <version> <rowCount> <registeredAt> <updatedAt> [prunedThrough]
  *   V <name> <version> <col1> <col2> ...
  *   S <name> <version> <seg1> <seg2> ...      (manifest; absent = [version])
  *   K <name> <streamId> <maxBatchId>          (streaming high-water; optional)
  *   R <name> <segment> <minTsMillis> <maxTsMillis>   (segment stats; optional)
  *   C <name> <version> <committedAtMillis>           (commit time; optional)
  *   Y <name> <column> <sparkDdlType>                 (column type record; optional)
  *   O <name> <version> <operation>                   (producing operation; optional)
  *   W <name> <version> <rowCount>                    (per-version rows; optional)
  *   D <name> <version> <changeRows>                  (recorded change set; optional)
  *   N <name> <segment> <rowCount>                    (per-segment rows; optional)
  *   X <name> <segment> <colStatsRendered>            (per-segment column stats; optional)
  *   Q <name> <constraintName> <conditionSql>         (CHECK constraint; optional)
  *   Z <name> <clusterSpec>                           (clustering spec; optional)
  *
  * Legacy two-field `K <name> <maxBatchId>` lines (pre-stream-identity
  * catalogs) load under [[CatalogIO.LegacyStreamId]]; six-field `T`
  * lines load with `prunedThrough = 0` and absent `R` lines as
  * no-stats — both are the safe directions.
  *
  * The catalog is a CACHE of the transaction log ([[TxnLogStorage]]):
  * version numbers are decided by the log's reservations and commit
  * markers, and a version whose catalog save never landed is folded
  * back in from its marker. The catalog also keeps facts no marker
  * carries, such as the prune high-water and constraint edits made
  * without a commit.
  *
  * Multi-writer stance: [[save]] touches ONLY the files of the tables
  * it is handed (tables this session never touched keep their files
  * untouched, tables in `removed` lose theirs), so sessions writing
  * different tables of one root never share a file. Concurrent writers
  * of the SAME table are serialized by the log's reserve/commit
  * protocol; their catalog saves race last-writer-wins, and the log
  * reconciles any version a lost save dropped. The one multi-writer
  * operation NOT arbitrated is whole-table DELETE racing a concurrent
  * register: deletion does not go through the log, so a writer holding
  * a pre-delete snapshot can commit one more version and resurrect the
  * table (routing delete through the log as a tombstone commit is the
  * named next step).
  */
/** The catalog persistence seam: [[FeatureStore]] performs every durable
  * catalog read/write through this interface, so tests can interpose
  * (e.g. count saves to assert crash-atomicity — one commit per
  * register) and a deployment can swap the TSV file for a metastore.
  * [[CatalogPersistence]] is the default zero-dependency implementation.
  */
trait CatalogIO {
  def save(root: String, metas: Seq[TableMeta], removed: Seq[String] = Seq.empty): Unit
  def load(root: String): Seq[TableMeta]
  /** `name`'s entry of [[load]], read without the other tables'. */
  def loadTable(root: String, name: String): Option[TableMeta] =
    load(root).find(_.name == name)
  /** Remove what crashed saves left behind, once older than
    * `olderThanMillis` ([[FeatureStore.vacuum]]'s grace).
    */
  def sweepTemp(root: String, olderThanMillis: Long): Unit = ()
}

object CatalogIO {
  /** Stream identity assigned to pre-stream-identity `K` lines and used
    * as the default for direct [[FeatureStore.registerBatch]] callers
    * that don't name a stream.
    */
  val LegacyStreamId = "default"
}

object CatalogPersistence extends CatalogIO {
  import java.net.{URLDecoder, URLEncoder}
  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  /** PER-TABLE catalog files: `_catalog/<enc(name)>.tsv`, one per
    * table, each written atomically (unique temp + atomic rename). A
    * commit's driver I/O is O(one table's metadata) — the former
    * single `_catalog.tsv` was rewritten whole per mutation, O(tables
    * × retained versions), and its load-merge-rewrite window could
    * lose a concurrent session's update to a DIFFERENT table; disjoint
    * tables now never share a file. Same-table writers are serialized
    * by the transaction log.
    */
  def catalogDir(root: String): Path = Paths.get(root, "_catalog")

  def tableFile(root: String, name: String): Path =
    catalogDir(root).resolve(enc(name) + ".tsv")

  /** The pre-round-8 whole-root file: read (and split into per-table
    * files on the first save) for seamless reopen of older roots.
    */
  def legacyCatalogFile(root: String): Path = Paths.get(root, "_catalog.tsv")

  def save(
      root: String,
      metas: Seq[TableMeta],
      removed: Seq[String] = Seq.empty): Unit = {
    migrateLegacy(root)
    val dir = catalogDir(root)
    Files.createDirectories(dir)
    metas.foreach(m => writeAtomic(tableFile(root, m.name), renderMeta(m)))
    removed.foreach { n => Files.deleteIfExists(tableFile(root, n)); () }
  }

  /** Split a legacy whole-root `_catalog.tsv` into per-table files,
    * then retire it. A table that already has a per-table file keeps
    * it (the per-table form is always at least as new); a crash
    * between the split and the delete just re-runs the split — load
    * prefers per-table entries, so the stale legacy copy is inert.
    */
  private def migrateLegacy(root: String): Unit = {
    val legacy = legacyCatalogFile(root)
    if (!Files.exists(legacy)) return
    Files.createDirectories(catalogDir(root))
    // exists→read races a CONCURRENT migrator's delete (two sessions
    // saving on one legacy root): the loser finding the file gone just
    // means the winner finished the split — proceed, don't fail the
    // loser's commit
    val legacyMetas =
      try parseLines(readLines(legacy))
      catch { case _: java.nio.file.NoSuchFileException => Seq.empty }
    legacyMetas.foreach { m =>
      val f = tableFile(root, m.name)
      if (!Files.exists(f)) writeAtomic(f, renderMeta(m))
    }
    Files.deleteIfExists(legacy)
    ()
  }

  /** Replace `path` with `content` atomically: a unique temp file beside
    * it (`.<name>.tmp-<uuid>`), synced, then renamed over it. The catalog
    * files and the transaction log's markers and checkpoints are all
    * written this way. `beforeMove` runs between the synced write and
    * the rename (the log's last ownership re-check); when it or the
    * rename throws, the temp file is removed and `path` is untouched.
    */
  private[store] def writeAtomic(
      path: Path, content: String, beforeMove: () => Unit = () => ()): Unit = {
    // unique tmp name: concurrent saves must not interleave on one file
    val tmp = path.resolveSibling(
      s".${path.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    // SYNC: the temp file's bytes must be durable BEFORE the rename —
    // otherwise a power loss shortly after a commit can leave the
    // renamed file empty or truncated (rename ordering is not
    // guaranteed against data writes on most filesystems)
    Files.writeString(
      tmp, content,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.SYNC)
    try {
      beforeMove()
      Files.move(
        tmp, path,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
    // fsync the directory so the rename itself survives power loss
    fsyncDir(path.getParent)
  }

  /** Best-effort directory fsync (makes a just-renamed entry durable).
    * Filesystems that refuse directory reads for channels (e.g. some
    * object-store mounts) degrade to no-op — the same durability the
    * code had before the fsync existed.
    */
  private def fsyncDir(dir: Path): Unit =
    if (dir != null) {
      try {
        val ch = java.nio.channels.FileChannel.open(
          dir, java.nio.file.StandardOpenOption.READ)
        try ch.force(true) finally ch.close()
      } catch { case _: java.io.IOException => }
    }

  private def readLines(path: Path): Seq[String] =
    Files.readString(path).split("\n").toSeq.filter(_.nonEmpty)

  private def renderMeta(m: TableMeta): String = {
    {
      val head =
        s"T\t${enc(m.name)}\t${m.version}\t${m.rowCount}\t${m.registeredAt}\t${m.updatedAt}\t${m.prunedThrough}"
      val versions = m.versions.toSeq.map { case (v, cols) =>
        (s"V\t${enc(m.name)}\t$v" +: cols.map(enc)).mkString("\t")
      }
      val manifests = m.segments.toSeq.map { case (v, segs) =>
        (s"S\t${enc(m.name)}\t$v" +: segs.map(_.toString)).mkString("\t")
      }
      val watermark =
        m.batchWatermarks.toSeq.map { case (sid, b) =>
          s"K\t${enc(m.name)}\t${enc(sid)}\t$b"
        }
      val stats = m.segStats.toSeq.map { case (seg, (lo, hi)) =>
        s"R\t${enc(m.name)}\t$seg\t$lo\t$hi"
      }
      val times = m.versionTimes.toSeq.map { case (v, t) =>
        s"C\t${enc(m.name)}\t$v\t$t"
      }
      val types = m.columnTypes.toSeq.map { case (c, t) =>
        s"Y\t${enc(m.name)}\t${enc(c)}\t${enc(t)}"
      }
      val ops = m.versionOps.toSeq.map { case (v, op) =>
        s"O\t${enc(m.name)}\t$v\t${enc(op)}"
      }
      val vrows = m.versionRows.toSeq.map { case (v, n) =>
        s"W\t${enc(m.name)}\t$v\t$n"
      }
      val cdf = m.versionCdf.toSeq.map { case (v, n) =>
        s"D\t${enc(m.name)}\t$v\t$n"
      }
      val srows = m.segRows.toSeq.map { case (seg, n) =>
        s"N\t${enc(m.name)}\t$seg\t$n"
      }
      val cstats = m.segColStats.toSeq
        .filter(_._2.nonEmpty)
        .map { case (seg, cs) =>
          s"X\t${enc(m.name)}\t$seg\t${ColumnStats.renderMap(cs)}"
        }
      val checks = m.constraints.toSeq.map { case (cn, sql) =>
        s"Q\t${enc(m.name)}\t${enc(cn)}\t${enc(sql)}"
      }
      val cluster = m.clusterSpec.toSeq.map(sp =>
        s"Z\t${enc(m.name)}\t${enc(sp)}")
      ((head +: versions) ++ manifests ++ watermark ++ stats ++ times ++
        types ++ ops ++ vrows ++ cdf ++ srows ++ cstats ++ checks ++ cluster)
        .mkString("\n")
    }
  }

  /** One table's file, plus its legacy whole-root entry if the root
    * has not been migrated, chosen as [[load]] chooses.
    */
  override def loadTable(root: String, name: String): Option[TableMeta] =
    newest(readMetas(tableFile(root, name)).filter(_.name == name) ++
      readMetas(legacyCatalogFile(root)).filter(_.name == name)).headOption

  /** The temp files of saves that crashed between write and rename
    * (`.<name>.tmp-<uuid>` in `_catalog/`), once older than
    * `olderThanMillis`: younger ones may belong to a save in flight.
    */
  override def sweepTemp(root: String, olderThanMillis: Long): Unit = {
    val dir = catalogDir(root)
    if (Files.isDirectory(dir)) {
      import scala.jdk.CollectionConverters._
      val cutoff = System.currentTimeMillis() - olderThanMillis
      val files = Files.list(dir)
      try files.iterator().asScala.toSeq
        .filter { p => val n = p.getFileName.toString; n.startsWith(".") && n.contains(".tmp-") }
        .foreach { p =>
          try {
            if (Files.getLastModifiedTime(p).toMillis <= cutoff) Files.deleteIfExists(p)
          } catch { case _: java.nio.file.NoSuchFileException => () }
        }
      finally files.close()
    }
  }

  /** The tables of one catalog file; none when it is absent (or was
    * removed by a racing drop or migration after it was listed).
    */
  private def readMetas(f: Path): Seq[TableMeta] =
    try parseLines(readLines(f))
    catch { case _: java.nio.file.NoSuchFileException => Seq.empty }

  /** When BOTH forms carry a table (mixed-version rollout: an old
    * binary still writing _catalog.tsv beside migrated sessions), the
    * NEWER copy wins by (version, updatedAt); the copy listed first
    * (per-table) wins ties — maxBy keeps the first maximum.
    */
  private def newest(metas: Seq[TableMeta]): Seq[TableMeta] =
    metas.groupBy(_.name).values.map(_.maxBy(m => (m.version, m.updatedAt))).toSeq.sortBy(_.name)

  /** Per-table files, plus legacy whole-root entries for tables not
    * yet migrated (per-table wins on overlap).
    */
  def load(root: String): Seq[TableMeta] = {
    val dir = catalogDir(root)
    val fromDir =
      if (!Files.isDirectory(dir)) Seq.empty[TableMeta]
      else {
        import scala.jdk.CollectionConverters._
        val files = Files.list(dir)
        // racing a concurrent session's DROP: the directory listing
        // already yielded the file, delete lands before the read —
        // gone = dropped, same policy as the legacy path below
        try files.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".tsv"))
          .toSeq
          .flatMap(readMetas)
        finally files.close()
      }
    // racing a concurrent migrator's delete: gone = migrated
    newest(fromDir ++ readMetas(legacyCatalogFile(root)))
  }

  private def parseLines(lines: Seq[String]): Seq[TableMeta] = {
    val heads = lines.collect {
      case l if l.startsWith("T\t") =>
        val f = l.split("\t")
        dec(f(1)) -> (f(2).toInt, f(3).toLong, f(4).toLong, f(5).toLong,
          if (f.length >= 7) f(6).toInt else 0)
    }.toMap
    val versions = lines
      .collect {
        case l if l.startsWith("V\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, f.drop(3).toSeq.map(dec))
      }
      .groupBy(_._1)
    val manifests = lines
      .collect {
        case l if l.startsWith("S\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, f.drop(3).toSeq.map(_.toInt))
      }
      .groupBy(_._1)
    val watermarks = lines
      .collect {
        case l if l.startsWith("K\t") =>
          val f = l.split("\t")
          if (f.length >= 4) (dec(f(1)), dec(f(2)), f(3).toLong)
          else (dec(f(1)), CatalogIO.LegacyStreamId, f(2).toLong)
      }
      .groupBy(_._1)
    val stats = lines
      .collect {
        case l if l.startsWith("R\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, (f(3).toLong, f(4).toLong))
      }
      .groupBy(_._1)
    val times = lines
      .collect {
        case l if l.startsWith("C\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, f(3).toLong)
      }
      .groupBy(_._1)
    val types = lines
      .collect {
        case l if l.startsWith("Y\t") =>
          val f = l.split("\t")
          (dec(f(1)), dec(f(2)), dec(f(3)))
      }
      .groupBy(_._1)
    val ops = lines
      .collect {
        case l if l.startsWith("O\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, dec(f(3)))
      }
      .groupBy(_._1)
    val vrows = lines
      .collect {
        case l if l.startsWith("W\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, f(3).toLong)
      }
      .groupBy(_._1)
    val cdf = lines
      .collect {
        case l if l.startsWith("D\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, f(3).toLong)
      }
      .groupBy(_._1)
    val srows = lines
      .collect {
        case l if l.startsWith("N\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, f(3).toLong)
      }
      .groupBy(_._1)
    val cstats = lines
      .collect {
        case l if l.startsWith("X\t") =>
          val f = l.split("\t")
          (dec(f(1)), f(2).toInt, ColumnStats.parseMap(f(3)))
      }
      .groupBy(_._1)
    val checks = lines
      .collect {
        case l if l.startsWith("Q\t") =>
          val f = l.split("\t")
          (dec(f(1)), dec(f(2)), dec(f(3)))
      }
      .groupBy(_._1)
    val clusterSpecs = lines
      .collect {
        case l if l.startsWith("Z\t") =>
          val f = l.split("\t")
          dec(f(1)) -> dec(f(2))
      }
      .toMap
    heads.toSeq.map { case (name, (version, rowCount, reg, upd, prunedThrough)) =>
      val vs = scala.collection.immutable.SortedMap(
        versions.getOrElse(name, Seq.empty).map(v => v._2 -> v._3): _*)
      val segs = scala.collection.immutable.SortedMap(
        manifests.getOrElse(name, Seq.empty).map(s => s._2 -> s._3): _*)
      TableMeta(name, version, rowCount, reg, upd, vs, segs,
        batchWatermarks = scala.collection.immutable.SortedMap(
          watermarks.getOrElse(name, Seq.empty).map(w => w._2 -> w._3): _*),
        prunedThrough = prunedThrough,
        segStats = scala.collection.immutable.SortedMap(
          stats.getOrElse(name, Seq.empty).map(r => r._2 -> r._3): _*),
        versionTimes = scala.collection.immutable.SortedMap(
          times.getOrElse(name, Seq.empty).map(t => t._2 -> t._3): _*),
        columnTypes = scala.collection.immutable.SortedMap(
          types.getOrElse(name, Seq.empty).map(t => t._2 -> t._3): _*),
        versionOps = scala.collection.immutable.SortedMap(
          ops.getOrElse(name, Seq.empty).map(o => o._2 -> o._3): _*),
        versionRows = scala.collection.immutable.SortedMap(
          vrows.getOrElse(name, Seq.empty).map(w => w._2 -> w._3): _*),
        versionCdf = scala.collection.immutable.SortedMap(
          cdf.getOrElse(name, Seq.empty).map(d => d._2 -> d._3): _*),
        segRows = scala.collection.immutable.SortedMap(
          srows.getOrElse(name, Seq.empty).map(n => n._2 -> n._3): _*),
        segColStats = scala.collection.immutable.SortedMap(
          cstats.getOrElse(name, Seq.empty).map(x => x._2 -> x._3): _*),
        constraints = scala.collection.immutable.SortedMap(
          checks.getOrElse(name, Seq.empty).map(q => q._2 -> q._3): _*),
        clusterSpec = clusterSpecs.get(name))
    }
  }
}
