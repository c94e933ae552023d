package graft.store

import java.sql.Timestamp
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType, TimestampType}

import scala.collection.immutable.SortedMap

/** Point-in-time correct feature store on Spark — the engine's public API,
  * mirroring the reference surface one-to-one
  * (reference: src/ml_feature_store/store.py:95-401):
  *
  *   register / get / getTrainingSet / getVersion / listTables /
  *   getTableInfo / delete / tableNames / maxVersions
  *
  * Differences by design (documented in SURVEY.md §7.4):
  *   - storage is versioned parquet directories (not in-memory pandas), so
  *     tables scale past one machine's RAM;
  *   - a deterministic tie-break column `_ingest_key` (xxhash64 of the
  *     full row) is added at registration: the reference's winner among
  *     duplicate (entity, ts) rows is unspecified, this engine's is total;
  *   - `description` is accepted and dropped, exactly like the reference
  *     (store.py:133 — dead parameter).
  */
final class FeatureStore(
    val spark: SparkSession,
    storageRoot: String = null,
    val maxVersions: Int = 10,
    partitionGranularity: String = "month",
    // the storage seam: the [[VersionStorage]] every commit goes
    // through, for the resolved (session, root, granularity). The
    // transaction log ([[TxnLogStorage]]) is the version authority;
    // the parameter exists so a decorator can wrap it
    storageFactory: (SparkSession, String, String) => VersionStorage =
      new TxnLogStorage(_, _, _),
    // the catalog persistence seam (see [[CatalogIO]]): every durable
    // catalog read/write goes through here. The catalog is a cache of
    // the log: a commit whose save never lands is reconciled from its
    // marker, stream watermark included
    catalogIO: CatalogIO = CatalogPersistence,
    // how long a register waits out another writer's in-flight
    // reservation before failing with FeatureConcurrencyError. Crashed
    // reservations are swept by vacuum, after which the lineage resumes.
    arbitrationWaitMillis: Long = 30000L) {

  if (maxVersions < 1)
    throw new IllegalArgumentException(
      s"max_versions must be >= 1, got $maxVersions")

  import Validation.{EntityIdColumn, TimestampColumn}
  import FeatureStore.{DriverWriteMaxRows, LocalReadMaxRows, LocalRowsMaxBytes, localRowBound, localRows, recordedRows, within}

  private val root =
    Option(storageRoot).getOrElse(Storage.defaultRoot())
  private val storage: VersionStorage =
    storageFactory(spark, root, partitionGranularity)
  private val catalog = new Catalog
  /** [[typedEmptyFrame]]'s probes: table -> (columns, types, frame). */
  private val probes = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[String], Seq[String], DataFrame)]
  // Reopen an existing store: the catalog cache under the root restores
  // tables, versions and schemas; the transaction log, the version
  // authority, then folds in any version committed by a writer whose
  // catalog save this cache never saw (crashed after commit, or raced
  // by a later save). Every retained version must have its marker.
  catalogIO.load(root).foreach(catalog.put)
  catalog.names.foreach { n => reconcileFromLog(n); requireLogged(n) }

  /** Internal deterministic tie-break column; never surfaced in output. */
  private val IngestKeyCol = "_ingest_key"

  def tableNames: Seq[String] = catalog.names

  /** The resolved storage root this store operates on — what a second
    * writer passes to open its own instance on the same tables
    * (multi-writer arbitration, [[TxnLogStorage]]), and where
    * maintenance tooling finds `_leases`/`_retired`/`_catalog.tsv`.
    */
  def rootPath: String = root

  /** Register (create or new-version) a feature table
    * (reference: store.py:129-216). Validates required columns +
    * non-emptiness, casts `timestamp` to TimestampType, writes a sorted,
    * day-partitioned parquet snapshot, prunes history beyond
    * `maxVersions`.
    */
  def register(
      name: String,
      df: DataFrame,
      description: String = ""): FeatureTableInfo =
    registerWith(name, df, watermark = None)

  /** [[register]] with an optional streaming high-water to stamp into
    * the new version's commit marker — crash-atomicity for
    * [[registerBatch]]: there is no window where a version exists
    * without its batch watermark (which would make a recovery replay
    * mint a duplicate).
    */
  /** SQL `CREATE TABLE` entry ([[graft.sources.GraftCatalog]]): an
    * EMPTY version 1 carrying just the declared schema — the one
    * register that skips the reference's non-emptiness rule (DDL
    * declares shape; the first INSERT brings rows). Everything else
    * (required columns, type record, catalog commit) is the normal
    * register path.
    */
  private[graft] def registerEmpty(name: String, df: DataFrame): FeatureTableInfo =
    registerWith(name, df, watermark = None, allowEmpty = true)

  /** SQL `TRUNCATE TABLE` (and no-predicate `DELETE FROM`): mint a new
    * EMPTY full-snapshot version in the SAME lineage — prior versions
    * stay time-travelable, the change feed sees a full-register step,
    * and the next INSERT appends onto the emptied table. This is the
    * one row-removal that may empty a table: the DDL statement states
    * that intent explicitly, where [[deleteRows]]' every-row guard
    * protects against a PREDICATE that happens to match everything.
    */
  def truncate(name: String): FeatureTableInfo = {
    val meta = catalog.getOrThrow(name)
    val empty = typedEmptyFrame(meta).getOrElse(
      throw new FeatureValidationError(
        s"cannot TRUNCATE '$name': no recorded column types " +
          "(legacy catalog) to rebuild its typed empty schema"))
    registerWith(name, empty, watermark = None, allowEmpty = true)
  }

  private def registerWith(
      name: String,
      df: DataFrame,
      watermark: Option[(String, Long)],
      allowEmpty: Boolean = false): FeatureTableInfo = this.synchronized {
    Validation.validateDataFrame(df, name, allowEmpty)
    val (cur, v) = claimVersion(name)
    val meta = completeClaim(name, v) {
      val prepared = prepare(df)
      val (guarded, checksOk) =
        constraintGuard(cur.fold(Map.empty[String, String])(_.constraints), prepared)
      val wr = writeSegment(name, v, guarded,
        within(localRowBound(df), DriverWriteMaxRows))
      verifyOrScrap(name, v)(checksOk)
      val now = System.currentTimeMillis()
      storage.commitVersion(name, v, CommitMeta(
        wr.rows, wr.rows, df.columns.toSeq, Seq(v),
        wr.minTsMillis, wr.maxTsMillis, now, typesOf(df),
        operation = "register", colStats = wr.colStats,
        constraints = cur.fold(Map.empty[String, String])(_.constraints.toMap),
        watermark = watermark))
      cur match {
        case None =>
          TableMeta(name, v, wr.rows, now, now, SortedMap(v -> df.columns.toSeq),
            SortedMap(v -> Seq(v)), segStats = segStatsOf(v, wr),
            versionTimes = SortedMap(v -> now),
            columnTypes = typesOf(df),
            versionOps = SortedMap(v -> "register"),
            versionRows = SortedMap(v -> wr.rows),
            segRows = segRowsOf(v, wr),
            segColStats = segColStatsOf(v, wr))
        case Some(c) =>
          prune(c.copy(
            version = v,
            rowCount = wr.rows,
            updatedAt = now,
            versions = c.versions + (v -> df.columns.toSeq),
            segments = c.segments + (v -> Seq(v)),
            segStats = c.segStats ++ segStatsOf(v, wr),
            versionTimes = c.versionTimes + (v -> now),
            columnTypes = c.columnTypes ++ typesOf(df),
            versionOps = c.versionOps + (v -> "register"),
            versionRows = c.versionRows + (v -> wr.rows),
            segRows = c.segRows ++ segRowsOf(v, wr),
            segColStats = c.segColStats ++ segColStatsOf(v, wr)))
      }
    }
    val stamped = stampWatermark(meta, watermark)
    catalog.put(stamped)
    catalogIO.save(root, Seq(stamped))
    stamped.info
  }

  /** Per-segment stats entry from a write's observed timestamp range
    * (absent for empty/all-null segments — they're simply never
    * skipped).
    */
  private def segStatsOf(v: Int, wr: WriteResult): SortedMap[Int, (Long, Long)] =
    (for { lo <- wr.minTsMillis; hi <- wr.maxTsMillis }
      yield SortedMap(v -> (lo, hi))).getOrElse(SortedMap.empty)

  /** Per-segment row count from the write — what lets a stats-pruned
    * segment contribute exact totals to a mutation's classification
    * without being scanned.
    */
  private def segRowsOf(v: Int, wr: WriteResult): SortedMap[Int, Long] =
    SortedMap(v -> wr.rows)

  /** Per-segment column-level stats from the write ([[ColumnStats]]). */
  private def segColStatsOf(
      v: Int, wr: WriteResult): SortedMap[Int, Map[String, ColStat]] =
    if (wr.colStats.nonEmpty) SortedMap(v -> wr.colStats) else SortedMap.empty

  /** The skipping stats of segment `s` as [[StatsPruning]] consumes
    * them: the column-level record, with the timestamp column's entry
    * synthesized from the legacy per-segment ts range when no
    * column-level record exists (pre-stats segments keep skipping on
    * time, their only recorded dimension). Millis→micros widens the max
    * bound by 999 so millis truncation can never fake an upper bound
    * below a real row.
    */
  private def pruneStatsOf(meta: TableMeta, s: Int): Map[String, ColStat] = {
    val recorded = meta.segColStats.getOrElse(s, Map.empty)
    if (recorded.contains(TimestampColumn)) recorded
    else recorded ++ meta.segStats.get(s).map { case (lo, hi) =>
      // the legacy range never counted nulls, and null-ts rows DO
      // exist (prepare only rejects non-null uncastable values) —
      // claim "nulls may exist" so IS NULL never prunes on it
      TimestampColumn ->
        ColStat(Long.MaxValue,
          Some((lo * 1000L).toString), Some((hi * 1000L + 999L).toString))
    }
  }

  /** Segments of `segs` that `resolvedCond` provably cannot match —
    * droppable from a scan or classification. With `needRows` (the
    * classification paths), only segments with a recorded row count are
    * ever pruned, so skipped segments still contribute exact totals;
    * plain scans prune on stats alone. Anything [[StatsPruning]] can't
    * reason about is kept — always the sound direction.
    */
  private def pruneSegments(
      meta: TableMeta,
      segs: Seq[Int],
      resolvedCond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      needRows: Boolean = true): (Seq[Int], Seq[Int]) =
    resolvedCond match {
      case None => (segs, Seq.empty)
      case Some(e) =>
        segs.partition { s =>
          (needRows && meta.segRows.get(s).isEmpty) ||
            StatsPruning.maySatisfy(e, pruneStatsOf(meta, s), meta.segRows.get(s))
        }
    }

  /** An empty frame with exactly the table's current schema, built
    * from the catalog's type record — no storage touched; None when
    * the record is incomplete (legacy catalogs). Built once per table
    * and kept while its columns and their types stay the same: every
    * `get`, `getRecent` and key-range pruning resolves its filter
    * against it.
    */
  private def typedEmptyFrame(meta: TableMeta): Option[DataFrame] =
    Option.when(meta.columns.forall(meta.columnTypes.contains)) {
      val types = meta.columns.map(meta.columnTypes)
      probes.get(meta.name) match {
        case Some((cols, ts, probe)) if cols == meta.columns && ts == types => probe
        case _ =>
          val probe = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(meta.columns.zip(types).map {
              case (c, t) => org.apache.spark.sql.types.StructField(c,
                org.apache.spark.sql.types.DataType.fromDDL(t))
            }))
          probes.put(meta.name, (meta.columns, types, probe))
          probe
      }
    }

  /** Resolve `condition` against a probe with the table's schema (no
    * job runs, no storage touched) and return the analyzed predicate —
    * the expression [[StatsPruning]] needs, with qualified /
    * case-insensitive references resolved exactly as the real filter
    * will resolve them. An unknown-column predicate raises the normal
    * analysis error. The probe is an empty frame built from the
    * catalog's type record — reading a segment for its schema would
    * make condition ANALYSIS depend on that segment's files existing;
    * legacy catalogs without a full type record fall back to that read.
    */
  private def resolveCondition(
      name: String,
      meta: TableMeta,
      condition: Column): Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val probe = typedEmptyFrame(meta).getOrElse(
      storage.readSegments(
        name, meta.segmentsOf(meta.version).take(1), meta.columns,
        None, meta.columnTypes))
    probe
      .filter(condition)
      .queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.headOption
  }

  /** Stored Spark DDL type per registered column: what [[prepare]]
    * writes — the timestamp column persists as TIMESTAMP regardless of
    * the input's castable type; everything else keeps the input type.
    * This is the type record that pads evolved chained reads
    * ([[TableMeta.columnTypes]]).
    */
  private def typesOf(df: DataFrame): SortedMap[String, String] =
    SortedMap(df.schema.fields.map { f =>
      f.name -> (if (f.name == TimestampColumn) "TIMESTAMP" else f.dataType.sql)
    }.toSeq: _*)

  /** Run a claimed version's write+commit, releasing the reservation on
    * failure so a failed write doesn't wedge the lineage until a vacuum
    * sweep.
    */
  private def completeClaim[A](name: String, v: Int)(body: => A): A =
    try body
    catch {
      case e: Throwable =>
        try storage.releaseVersion(name, v) catch { case _: Exception => () }
        throw e
    }

  /** Produce (current meta, claimed next version) for a register: the
    * optimistic-concurrency loop of the Delta commit protocol. Adopt
    * the freshest state ([[refreshTable]]: the on-disk catalog entry,
    * then versions committed in the transaction log that no catalog
    * save recorded), then try to RESERVE the next number atomically.
    * Losing the race (another writer claimed it first) re-reads and
    * retries; an in-flight foreign reservation is awaited up to
    * `arbitrationWaitMillis`, after which the register fails with the
    * vacuum hint (a crashed writer's reservation is swept by vacuum
    * under the grace window).
    */
  private def claimVersion(name: String): (Option[TableMeta], Int) = {
    val deadline = System.currentTimeMillis() + arbitrationWaitMillis
    var backoff = 2L
    while (true) {
      refreshTable(name)
      catalog.get(name) match {
        case None =>
          // reconcileFromLog already synthesized any creation whose
          // catalog save never landed, so still-unknown means: a truly
          // fresh table, a retired lineage awaiting re-register, or
          // markers that CANNOT be synthesized (legacy no-cols format)
          // from a concurrent creation whose save is pending
          val retiredAt = retiredTableAt(name)
          val committed = storage.committedMeta(name)
          val freshLineageMarkers = committed.exists { case (_, cm) =>
            retiredAt.forall(cm.committedAt > _)
          }
          if (!freshLineageMarkers) {
            // truly fresh, or every marker belongs to the retired
            // lineage: the explicit re-register-only branch — clear the
            // old log so it neither blocks numbering nor leaks into
            // reconcile. The gate on marker times means a racing
            // re-register's already-committed (newer) versions are
            // NEVER wiped — they synthesize above instead.
            if (committed.nonEmpty) storage.resetVersionAuthority(name)
            if (storage.reserveVersion(name, 1)) return (None, 1)
            // lost the creation race — loop; the winner's commit/save
            // will surface via reconcileFromLog/adoptDiskMeta
          }
          // else: wait for the concurrent creator's catalog save
        case Some(c) =>
          val next = c.version + 1
          val claimed = storage.maxClaimedVersion(name).getOrElse(0)
          // reserve only when every earlier version is committed AND
          // absorbed into our meta — an append's manifest must chain on
          // the true predecessor, so building past an unabsorbed claim
          // would silently drop the racing writer's rows
          if (claimed < next && storage.reserveVersion(name, next))
            return (Some(c), next)
      }
      if (System.currentTimeMillis() > deadline)
        throw new FeatureConcurrencyError(
          s"could not claim a version of '$name' within ${arbitrationWaitMillis}ms: " +
            "another writer holds an in-flight reservation (if it crashed, " +
            "vacuum sweeps stale reservations after the grace window) or " +
            "concurrent commits are outpacing this writer")
      Thread.sleep(backoff)
      backoff = math.min(backoff * 2, 250L)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Catalog lookup for READ paths. A hit keeps session-snapshot
    * semantics (this session's view is pinned until it writes or
    * reopens — the same contract as before multi-writer support). A
    * MISS adopts the shared state first, so a table another session
    * registered is readable here without a reopen; version-level misses
    * get the same retry in [[getVersion]].
    */
  private def resolveMeta(name: String): TableMeta =
    catalog.get(name).getOrElse {
      refreshTable(name)
      catalog.getOrThrow(name)
    }

  /** Adopt every commit to `name` this session has not seen: the
    * on-disk catalog entry, then the transaction log's markers past it.
    * Every write runs this before acting on the table's state.
    */
  private def refreshTable(name: String): Unit = {
    adoptDiskMeta(name)
    reconcileFromLog(name)
  }

  /** Adopt the freshest on-disk catalog entry for `name` (another
    * writer's save), merging rather than replacing so neither side's
    * versions, stats or stream watermarks are lost.
    */
  private def adoptDiskMeta(name: String): Unit =
    catalogIO.loadTable(root, name).foreach { d =>
      catalog.get(name) match {
        case None    => catalog.put(d)
        case Some(o) => catalog.put(FeatureStore.mergeMetas(o, d))
      }
    }

  /** Re-read the durable catalog and adopt every table/version other
    * PROCESSES committed to this root — the REFRESH TABLE surface.
    * Writers do this implicitly per claim, and
    * the graft streaming source reopens per poll; an explicit refresh
    * is for a long-lived reader session that wants to see foreign
    * commits without writing. Local state merges (never regresses) and
    * tables this session knows that the disk doesn't are kept.
    */
  def refresh(): Unit = this.synchronized {
    val onDisk = catalogIO.load(root)
    onDisk.foreach(d =>
      catalog.put(catalog.get(d.name)
        .fold(d) { o =>
          // a different registeredAt is a DIFFERENT LINEAGE: the name
          // was dropped and re-registered (REPLACE TABLE, rename-away
          // + fresh register) while this handle held the old chain.
          // The two version chains share nothing — merging them would
          // fuse unrelated version maps and keep the retired chain's
          // scalars on a version-number tie — so the newer lineage is
          // adopted whole. (registeredAt is stable along a chain:
          // every commit preserves it, and same-lineage merges fold it
          // at min.)
          if (d.registeredAt != o.registeredAt) {
            // a foreign drop + re-register reuses the same version
            // PATHS (root/t/v=1...) with a possibly different schema —
            // the memoized footer schemas of the retired lineage must
            // go with it, or reads of the adopted lineage would apply
            // the stale schema silently
            Storage.invalidateSchemas(s"$root/${d.name}")
            if (d.registeredAt > o.registeredAt) d else o
          } else {
            // refresh is the user saying "adopt the disk state": the
            // merge's union-of-constraints bias (right for concurrent
            // ARBITRATION, where a drop may race an enforcing writer)
            // would resurrect another session's DROP CONSTRAINT here,
            // so the at-least-as-new disk copy's constraint set is
            // adopted verbatim
            val merged = FeatureStore.mergeMetas(o, d)
            if (d.updatedAt >= o.updatedAt) merged.copy(constraints = d.constraints)
            else merged
          }
        }))
    // adopt cross-session DROPs too: an in-memory entry whose catalog
    // file is gone AND whose retirement is in the ledger was deleted
    // by another session (ledger evidence keeps a mid-commit save —
    // file momentarily absent — from being mistaken for a drop)
    val diskNames = onDisk.map(_.name).toSet
    catalog.names
      .filterNot(diskNames.contains)
      .filter(n => retiredTableAt(n).isDefined)
      .foreach { n =>
        // a cross-session DROP frees the paths for re-registration —
        // retire their memoized schemas with the catalog entry
        Storage.invalidateSchemas(s"$root/$n")
        catalog.remove(n)
      }
    catalog.names.foreach(reconcileFromLog)
  }

  /** Latest whole-table retirement time for `name`, if any (a `delete`
    * records one; re-register + re-delete can stack several — the
    * newest bounds which commit markers belong to the retired lineage).
    */
  private def retiredTableAt(name: String): Option[Long] =
    RetireLedger.load(root)
      .filter(e => e.name == name && e.version.isEmpty)
      .map(_.retiredAt)
      .maxOption

  /** Fold versions committed in the storage's transaction log into the
    * catalog entry — the reconciliation half of multi-writer
    * arbitration. A commit record is adopted when its version is above
    * the prune high-water (below it, absence means PRUNED, not racing)
    * and carries its column list (legacy markers don't; their writers'
    * catalogs know those versions by construction). The newest adopted
    * version advances the pointer and cumulative row count.
    *
    * With NO catalog entry at all, cols-bearing commit records
    * committed AFTER the table's latest retirement (if any) are a
    * CREATION whose catalog save never landed — the marker is the
    * commit point, so the entry is SYNTHESIZED from the records rather
    * than the versions being treated as stranded: readers see the
    * table, the next writer builds on it, and vacuum spares it. Records
    * at or before a retirement belong to the retired lineage and are
    * never resurrected.
    */
  private def reconcileFromLog(name: String): Unit =
    catalog.get(name) match {
      case Some(m) =>
        val addable = storage
          .committedMeta(
            name, skip = v => v <= m.prunedThrough || m.versions.contains(v))
          .filter { case (_, cm) => cm.columns.nonEmpty }
        if (addable.nonEmpty) {
          val top = addable.keys.max
          var merged = m.copy(
            versions = m.versions ++ addable.view.mapValues(_.columns).toSeq,
            segments = m.segments ++ addable.map { case (v, cm) =>
              v -> (if (cm.segments.nonEmpty) cm.segments else Seq(v))
            },
            segStats = m.segStats ++ addable.toSeq.flatMap { case (v, cm) =>
              for { lo <- cm.minTsMillis; hi <- cm.maxTsMillis } yield v -> (lo, hi)
            },
            versionTimes = m.versionTimes ++ addable.toSeq.collect {
              case (v, cm) if cm.committedAt > 0 => v -> cm.committedAt
            },
            // a reconciled version may have evolved the schema: adopt
            // the marker's type record so padded reads resolve (later
            // markers win, same as the marker-ordered version fold)
            columnTypes = m.columnTypes ++
              addable.toSeq.sortBy(_._1).flatMap(_._2.columnTypes),
            versionOps = m.versionOps ++ addable.toSeq.collect {
              case (v, cm) if cm.operation.nonEmpty => v -> cm.operation
            },
            versionRows = m.versionRows ++
              addable.view.mapValues(_.tableRows).toSeq,
            versionCdf = m.versionCdf ++ addable.toSeq.collect {
              case (v, cm) if cm.changeRows >= 0 => v -> cm.changeRows
            },
            // segment-level records apply only to versions that wrote
            // their OWN segment (manifest contains v) — a manifest-only
            // delete's marker carries rows=0 for no segment at all
            segRows = m.segRows ++ addable.toSeq.collect {
              case (v, cm) if ownSegment(v, cm) => v -> cm.segmentRows
            },
            segColStats = m.segColStats ++ addable.toSeq.collect {
              case (v, cm) if ownSegment(v, cm) && cm.colStats.nonEmpty =>
                v -> cm.colStats
            },
            // a foreign optimize's spec wins when present (spec is only
            // ever set by optimize commits, never cleared; a mismatch
            // at worst downgrades the next incremental run to a full
            // rewrite — the safe direction)
            clusterSpec = addable.toSeq.sortBy(_._1)
              .flatMap(_._2.clusterSpec).lastOption.orElse(m.clusterSpec),
            // adopt CHECK constraints a foreign commit carries (its
            // writer's addConstraint may have never reached a catalog
            // save) — union with local, biased toward enforcement
            constraints = m.constraints ++
              addable.toSeq.sortBy(_._1).flatMap(_._2.constraints),
            // a stream high-water whose catalog save never landed: the
            // replay of that batch must still be skipped
            batchWatermarks = FeatureStore.maxWatermarks(
              m.batchWatermarks.toSeq ++ addable.values.flatMap(_.watermark)))
          if (top > m.version)
            merged = merged.copy(
              version = top,
              rowCount = addable(top).tableRows,
              updatedAt = math.max(m.updatedAt, addable(top).committedAt))
          catalog.put(merged)
        }
      case None =>
        val retiredAt = retiredTableAt(name)
        val records = storage.committedMeta(name).filter { case (_, cm) =>
          cm.columns.nonEmpty && cm.committedAt > 0 &&
            retiredAt.forall(cm.committedAt > _)
        }
        if (records.nonEmpty) {
          val top = records.keys.max
          catalog.put(TableMeta(
            name,
            version = top,
            rowCount = records(top).tableRows,
            registeredAt = records.values.map(_.committedAt).min,
            updatedAt = records.values.map(_.committedAt).max,
            versions = SortedMap(records.view.mapValues(_.columns).toSeq: _*),
            segments = SortedMap(records.toSeq.map { case (v, cm) =>
              v -> (if (cm.segments.nonEmpty) cm.segments else Seq(v))
            }: _*),
            segStats = SortedMap(records.toSeq.flatMap { case (v, cm) =>
              for { lo <- cm.minTsMillis; hi <- cm.maxTsMillis } yield v -> (lo, hi)
            }: _*),
            versionTimes =
              SortedMap(records.view.mapValues(_.committedAt).toSeq: _*),
            columnTypes = SortedMap(
              records.toSeq.sortBy(_._1).flatMap(_._2.columnTypes): _*),
            versionOps = SortedMap(records.toSeq.collect {
              case (v, cm) if cm.operation.nonEmpty => v -> cm.operation
            }: _*),
            versionRows = SortedMap(
              records.view.mapValues(_.tableRows).toSeq: _*),
            versionCdf = SortedMap(records.toSeq.collect {
              case (v, cm) if cm.changeRows >= 0 => v -> cm.changeRows
            }: _*),
            segRows = SortedMap(records.toSeq.collect {
              case (v, cm) if ownSegment(v, cm) => v -> cm.segmentRows
            }: _*),
            segColStats = SortedMap(records.toSeq.collect {
              case (v, cm) if ownSegment(v, cm) && cm.colStats.nonEmpty =>
                v -> cm.colStats
            }: _*),
            // CHECK constraints / cluster spec as of the newest commit
            // — both survive a catalog rebuilt purely from markers
            constraints = SortedMap(records(top).constraints.toSeq: _*),
            clusterSpec = records(top).clusterSpec,
            batchWatermarks =
              FeatureStore.maxWatermarks(records.values.flatMap(_.watermark).toSeq)))
        }
    }

  /** Fail the open of a root whose catalog retains a version of `name`
    * that has no commit marker: such a version was written without the
    * transaction log, and every read of it would fail.
    */
  private def requireLogged(name: String): Unit =
    catalog.get(name).foreach { m =>
      val missing = m.versions.keySet -- storage.committedVersions(name)
      if (missing.nonEmpty)
        throw new FeatureStorageError(
          s"table '$name' at $root retains versions " +
            s"${missing.toSeq.sorted.mkString(", ")} with no commit marker in " +
            s"its transaction log ($root/$name/_txn): the root was written " +
            "without the log; rebuild it by registering its tables again")
    }

  /** Decorate a to-be-written DataFrame with a SECOND observation
    * counting CHECK-constraint violations — it rides the write job's
    * plan next to the stats observation, so enforcement costs zero
    * extra passes. Returns the guarded frame plus the post-write
    * verifier, which throws BEFORE anything is committed. NULL
    * conditions pass (standard SQL CHECK); only FALSE rows violate.
    * A constraint that no longer resolves against the written schema
    * (schema-drift register broke a referenced column) fails fast here
    * with the remedy in the message.
    *
    * Counting note: under a CLUSTERED layout the range partitioner's
    * sampling pass re-executes the plan below it, so violation counts
    * can over-count; the abort decision (any violation at all) is
    * unaffected, and zero stays exactly zero.
    */
  private def constraintGuard(
      checks: scala.collection.Map[String, String],
      df: DataFrame): (DataFrame, () => Unit) =
    if (checks.isEmpty) (df, () => ())
    else {
      // probe against a FRESH empty frame with exactly the written
      // schema: filtering `df` itself would falsely resolve columns the
      // write no longer carries (Spark's missing-reference fallback
      // reaches through the projection into dropped lineage columns)
      val probe = df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
      checks.foreach { case (cn, sql) =>
        try probe.filter(expr(sql)).queryExecution.assertAnalyzed()
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new FeatureValidationError(
              s"CHECK constraint '$cn' (`$sql`) cannot be evaluated against " +
                s"the written schema ${df.columns.mkString("[", ", ", "]")}: " +
                s"${e.getMessage}. Drop the constraint first if the schema " +
                "change is intended")
        }
      }
      val obs = org.apache.spark.sql.Observation(
        s"graft_checks_${java.util.UUID.randomUUID()}")
      val metrics = checks.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((_, sql), i) =>
          count(when(not(coalesce(expr(sql), lit(true))), lit(1))).as(s"_c_$i")
      }
      val guarded = df.observe(obs, metrics.head, metrics.tail: _*)
      val verify = () => {
        val violated = checks.toSeq.sortBy(_._1).zipWithIndex.flatMap {
          case ((cn, sql), i) =>
            val n = obs.get(s"_c_$i").asInstanceOf[Long]
            if (n > 0) Some(s"'$cn' (`$sql`): $n rows") else None
        }
        if (violated.nonEmpty)
          throw new FeatureValidationError(
            "CHECK constraint violation — write aborted, no version " +
              "committed: " + violated.mkString("; "))
      }
      (guarded, verify)
    }

  /** Write a mutation's rewritten segment PRESERVING the table's
    * recorded clustering (the liquid-clustering discipline: once a
    * table opts into a layout, rewrites keep it — otherwise every
    * delete/upsert would slowly degrade the optimize work). Falls back
    * to the plain layout when no spec is recorded, its columns have
    * drifted away, or the clustered write fails.
    */
  private def writeKeepingLayout(
      cur: TableMeta,
      name: String,
      v: Int,
      df: DataFrame,
      small: Boolean): WriteResult = {
    val clustered = cur.clusterSpec.flatMap { spec =>
      val cols = spec.drop(spec.indexOf(':') + 1)
        .split(",").toSeq.filter(_.nonEmpty)
      Option.when(cols.nonEmpty && cols.forall(df.columns.contains)) {
        () => {
          val cluster =
            if (spec.startsWith("zorder:") && cols.size > 1)
              Seq(zValue(cur, cols, df))
            else cols.map(col)
          storage.writeClustered(
            name, v, df, EntityIdColumn, TimestampColumn, cluster)
        }
      }
    }
    clustered match {
      case Some(w) =>
        try w()
        catch {
          case _: Exception =>
            storage.write(name, v, df, EntityIdColumn, TimestampColumn)
        }
      case None => writeSegment(name, v, df, small)
    }
  }

  /** Write segment `v`: on the driver when the caller knows `df` is
    * `small` — rows the driver holds, at most
    * [[FeatureStore.DriverWriteMaxRows]] of them within
    * [[FeatureStore.LocalRowsMaxBytes]] ([[VersionStorage.writeSmall]]) —
    * else with the period shuffle.
    */
  private def writeSegment(name: String, v: Int, df: DataFrame, small: Boolean): WriteResult =
    if (small) storage.writeSmall(name, v, df, EntityIdColumn, TimestampColumn)
    else storage.write(name, v, df, EntityIdColumn, TimestampColumn)

  /** The current rows of `meta` as a local relation, read on the
    * driver through [[VersionStorage.scanSegmentsLocal]] for a write
    * that rewrites them all (a compaction), when the catalog records
    * at most [[FeatureStore.DriverWriteMaxRows]] less the `extra` rows
    * the write adds. None when it records more or cannot say, when the
    * storage has no driver-side reader, and when the rows pass
    * [[FeatureStore.LocalRowsMaxBytes]], where the read stops: the
    * caller then reads them with Spark and writes with the exchange.
    */
  private def heldData(meta: TableMeta, extra: Long): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    object TooLarge extends scala.util.control.ControlThrowable
    val segs = meta.segmentsOf(meta.version)
    if (!within(recordedRows(meta, segs).map(_ + extra), DriverWriteMaxRows)) None
    else storage.localReadSchema(meta.name, segs, meta.columns, meta.columnTypes)
      .flatMap { schema =>
        val own = UnsafeProjection.create(schema)
        val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        var bytes = 0L
        try {
          storage.scanSegmentsLocal(meta.name, segs, schema, None, Nil) { (_, row) =>
            val r = own(row).copy()
            bytes += r.getSizeInBytes
            if (bytes > LocalRowsMaxBytes) throw TooLarge
            rows += r
          }
          Some(localFrame(schema, rows.toSeq))
        } catch { case TooLarge => None }
      }
  }

  /** Run the constraint verifier for a just-written version; on
    * violation the written data is scrapped eagerly (the claim itself
    * is released by [[completeClaim]]'s failure path).
    */
  private def verifyOrScrap(name: String, v: Int)(verify: () => Unit): Unit =
    try verify()
    catch {
      case e: Throwable =>
        try storage.deleteVersion(name, v) catch { case _: Exception => () }
        throw e
    }

  /** Did this commit write its own segment? (its manifest references
    * its version number; a legacy marker's empty manifest defaults to
    * the single-snapshot form, which is its own segment)
    */
  private def ownSegment(v: Int, cm: CommitMeta): Boolean =
    cm.segments.isEmpty || cm.segments.contains(v)

  private def stampWatermark(
      m: TableMeta,
      wm: Option[(String, Long)]): TableMeta =
    wm.fold(m) { case (sid, b) =>
      m.copy(batchWatermarks = m.batchWatermarks + (sid -> b))
    }

  /** Incremental register (engine extension — SURVEY.md §7.4 risk 5):
    * creates a new version whose data is the previous version PLUS
    * `df`, but writes ONLY `df` to storage — O(delta) bytes and files
    * per version instead of a full O(table) snapshot, which is the
    * difference between a feasible and an infeasible daily register at
    * 100 TB. The new version's manifest chains the previous segments;
    * [[getVersion]] and every PIT read reproduce exact snapshots for
    * ALL versions. Falls back to a plain [[register]] for new tables.
    *
    * Append semantics (immutable-observations model): rows are added,
    * never replaced — the natural shape for event-sourced features.
    * The delta must carry exactly the current columns; with
    * `mergeSchema = true` it may additionally carry NEW columns
    * (Delta Lake's `mergeSchema` semantics): the new columns append to
    * the table schema, prior segments read them as typed nulls (the
    * catalog records every column's type — [[TableMeta.columnTypes]]),
    * and historical [[getVersion]] reads keep each version's own column
    * set. Existing columns may never change type or be dropped on the
    * append path — that remains a full [[register]], where drift is
    * explicit.
    *
    * When a manifest would exceed `maxSegments`, the version is written
    * as a COMPACTED full snapshot instead (read amplification stays
    * bounded: every read unions at most `maxSegments` segment scans) —
    * the standard log-plus-compaction discipline.
    */
  def registerAppend(
      name: String,
      df: DataFrame,
      maxSegments: Int = 16,
      description: String = "",
      mergeSchema: Boolean = false): FeatureTableInfo =
    registerAppendWith(name, df, maxSegments, watermark = None,
      mergeSchema = mergeSchema)

  /** Expectation-gated ingestion with QUARANTINE routing — the
    * Delta-Live-Tables "expect or quarantine" discipline, vs the
    * store's CHECK constraints which FAIL the whole commit: each
    * expectation is a named predicate that must hold per row; rows
    * violating ANY expectation (false or NULL — an unevaluable row is
    * not a clean row) are diverted to `quarantine` with a `violated`
    * column naming the failed expectations (comma-joined, declaration
    * order), and only clean rows land in `name`. Both tables
    * create-or-append, so the call composes with incremental loads.
    *
    * Ordering: the quarantine commit lands FIRST — a crash between the
    * two commits re-runs the load with the bad rows already safe,
    * never silently dropped. One pass of predicate evaluation; the
    * split is two filters over the same cached frame.
    *
    * Returns (table info, quarantine info) — either side None when it
    * received no rows.
    */
  def registerWithExpectations(
      name: String,
      df: DataFrame,
      expectations: Seq[(String, Column)],
      quarantine: String): (Option[FeatureTableInfo], Option[FeatureTableInfo]) = {
    if (expectations.isEmpty)
      throw new FeatureValidationError(
        "registerWithExpectations needs at least one expectation; " +
          "use register for unconditional ingestion")
    if (quarantine == name)
      throw new FeatureValidationError(
        s"quarantine table must differ from the target table ('$name')")
    Validation.validateDataFrame(df, name)
    val marker = "_graft_violated"
    if (df.columns.contains(marker))
      throw new FeatureValidationError(
        s"registerWithExpectations reserves column '$marker'")
    val labeled = df.withColumn(marker,
      concat_ws(",", expectations.map { case (label, pred) =>
        when(!coalesce(pred, lit(false)), lit(label))
      }: _*)).persist()
    try {
      val bad = labeled.filter(col(marker) =!= "")
        .withColumnRenamed(marker, "violated")
      val good = labeled.filter(col(marker) === "").drop(marker)
      def land(table: String, rows: DataFrame): Option[FeatureTableInfo] =
        if (rows.isEmpty) None
        else Some(
          if (tableNames.contains(table)) registerAppend(table, rows)
          else register(table, rows))
      val q = land(quarantine, bad)
      val t = land(name, good)
      (t, q)
    } finally { labeled.unpersist(); () }
  }

  /** Evolved column list for an append/upsert delta: same-name columns
    * must keep their RECORDED types (checked even when the column sets
    * match — a same-shape delta with a retyped column would otherwise
    * write a segment later reads cannot union), and new columns append
    * only under `mergeSchema`.
    */
  private def evolveColumns(
      op: String,
      name: String,
      cur: TableMeta,
      df: DataFrame,
      mergeSchema: Boolean): Seq[String] = {
    val dfCols = df.columns.toSeq
    val dfTypes = typesOf(df)
    def checkTypes(): Unit = {
      val conflicts = cur.columns.filter { c =>
        cur.columnTypes.get(c).exists(t => dfTypes.get(c).exists(_ != t))
      }
      if (conflicts.nonEmpty)
        throw new FeatureValidationError(
          s"$op('$name') cannot change column types; " +
            conflicts.map(c =>
              s"'$c' is ${cur.columnTypes(c)}, delta has ${dfTypes(c)}")
              .mkString("; ") + ". Use register() for type changes")
    }
    if (dfCols == cur.columns) { checkTypes(); cur.columns }
    else if (mergeSchema && cur.columns.forall(dfCols.contains)) {
      checkTypes()
      cur.columns ++ dfCols.filterNot(cur.columns.contains)
    }
    else throw new FeatureValidationError(
      s"$op('$name') requires the current schema " +
        s"${cur.columns.mkString("[", ", ", "]")}, got " +
        s"${dfCols.mkString("[", ", ", "]")}; " +
        (if (mergeSchema)
          "mergeSchema=true only ADDS columns — every existing column must stay"
        else "pass mergeSchema=true to add columns, or use register() for other changes"))
  }

  private def registerAppendWith(
      name: String,
      df: DataFrame,
      maxSegments: Int,
      watermark: Option[(String, Long)],
      mergeSchema: Boolean = false): FeatureTableInfo = this.synchronized {
    if (maxSegments < 1)
      throw new IllegalArgumentException(s"maxSegments must be >= 1, got $maxSegments")
    // emptiness is counted on the write itself, below
    Validation.validateDataFrame(df, name, allowEmpty = true)
    val (curOpt, v) = claimVersion(name)
    val cur = curOpt.getOrElse {
      // the claim resolved to table creation: hand it back and take the
      // full-snapshot creation path
      storage.releaseVersion(name, v)
      return registerWith(name, df, watermark)
    }
    val meta = completeClaim(name, v) {
      // re-validate against the CLAIMED state: the claim may have
      // absorbed another writer's schema-drift register
      val evolved = evolveColumns("registerAppend", name, cur, df, mergeSchema)
      val chained = cur.segmentsOf(cur.version) :+ v
      val now0 = System.currentTimeMillis()
      val newTypes = cur.columnTypes ++ typesOf(df)
      // the delta's rows, counted on the write: an empty delta mints no
      // version, and no job runs only to find that out
      val deltaObs = org.apache.spark.sql.Observation(
        s"graft_append_${java.util.UUID.randomUUID()}")
      val delta = df.select(evolved.map(col): _*)
        .observe(deltaObs, count(lit(1)).as("rows"))
      val deltaRows = localRowBound(df)
      def requireRows(): Unit =
        if (deltaObs.get("rows").asInstanceOf[Long] == 0L) {
          try storage.deleteVersion(name, v) catch { case _: Exception => () }
          throw new FeatureValidationError(s"$name must not be empty")
        }
      if (chained.size > maxSegments) {
        // compact: materialize delta ∪ previous as one snapshot (the
        // union pads pre-evolution rows with nulls when evolving). The
        // delta is the union's left side, so the write runs in the
        // delta's session, where its observation is registered (a
        // streaming micro-batch's frame belongs to a session of its own)
        val held = deltaRows.flatMap(heldData(cur, _))
        val full = delta
          .unionByName(held.getOrElse(currentData(cur)).select(cur.columns.map(col): _*),
            allowMissingColumns = true)
          .select(evolved.map(col): _*)
        val (guarded, checksOk) = constraintGuard(cur.constraints, prepare(full))
        val wr = writeSegment(name, v, guarded, small = held.isDefined)
        requireRows()
        verifyOrScrap(name, v)(checksOk)
        storage.commitVersion(name, v, CommitMeta(
          wr.rows, wr.rows, evolved, Seq(v),
          wr.minTsMillis, wr.maxTsMillis, now0, newTypes,
          operation = "append", colStats = wr.colStats,
          constraints = cur.constraints.toMap, watermark = watermark))
        cur.copy(version = v, rowCount = wr.rows, updatedAt = now0,
          versions = cur.versions + (v -> evolved),
          segments = cur.segments + (v -> Seq(v)),
          segStats = cur.segStats ++ segStatsOf(v, wr),
          versionTimes = cur.versionTimes + (v -> now0),
          columnTypes = newTypes,
          versionOps = cur.versionOps + (v -> "append"),
          versionRows = cur.versionRows + (v -> wr.rows),
          segRows = cur.segRows ++ segRowsOf(v, wr),
          segColStats = cur.segColStats ++ segColStatsOf(v, wr))
      } else {
        val (guarded, checksOk) = constraintGuard(cur.constraints, prepare(delta))
        val wr = writeSegment(name, v, guarded, within(deltaRows, DriverWriteMaxRows))
        requireRows()
        verifyOrScrap(name, v)(checksOk)
        storage.commitVersion(name, v, CommitMeta(
          wr.rows, cur.rowCount + wr.rows, evolved, chained,
          wr.minTsMillis, wr.maxTsMillis, now0, newTypes,
          operation = "append", colStats = wr.colStats,
          constraints = cur.constraints.toMap, watermark = watermark))
        cur.copy(version = v, rowCount = cur.rowCount + wr.rows, updatedAt = now0,
          versions = cur.versions + (v -> evolved),
          segments = cur.segments + (v -> chained),
          segStats = cur.segStats ++ segStatsOf(v, wr),
          versionTimes = cur.versionTimes + (v -> now0),
          columnTypes = newTypes,
          versionOps = cur.versionOps + (v -> "append"),
          versionRows = cur.versionRows + (v -> (cur.rowCount + wr.rows)),
          segRows = cur.segRows ++ segRowsOf(v, wr),
          segColStats = cur.segColStats ++ segColStatsOf(v, wr))
      }
    }
    val pruned = stampWatermark(prune(meta), watermark)
    catalog.put(pruned)
    catalogIO.save(root, Seq(pruned))
    pruned.info
  }

  /** Idempotent register for exactly-once STREAMING versioning, keyed
    * by STREAM IDENTITY: a version is minted only when `batchId` is
    * strictly newer than the highest batch id already recorded for
    * (table, stream). Structured Streaming's foreachBatch re-delivers
    * the last batch after a crash recovery with the SAME batch id
    * (batch ids are monotonic per checkpoint), so a replay is detected
    * and skipped — no duplicate version, no double-appended rows. The
    * high-water marks persist in the catalog file, making replay
    * detection survive a store reopen — which is exactly the
    * crash-recovery case that re-delivers.
    *
    * `streamId` should be the stream's checkpoint-stable identity —
    * `StreamingQuery.id` ([[graft.streaming.StreamingIngest]] wires
    * this automatically). Keying by stream is what makes a restart
    * with a FRESH checkpoint directory (batch ids back at 0 — the
    * common recovery after checkpoint corruption) safe: the new query
    * id opens a new high-water line and every batch registers, where a
    * per-table max would silently skip them all (data loss). Within
    * ONE stream a batch id can only repeat (crash replay of the last
    * batch → skipped) or advance; a REGRESSION means the caller reused
    * a streamId across checkpoint generations, and the store throws
    * [[FeatureConcurrencyError]] instead of silently dropping data.
    *
    * The watermark commits in the commit marker of the version it
    * marks ([[registerWith]]), and the catalog save after it is a cache —
    * a crash can lose both (replay re-registers, correct) but never the
    * watermark alone (which would replay into a duplicate version).
    *
    * Returns `Some(info)` when a version was registered, `None` on a
    * skipped replay.
    */
  def registerBatch(
      name: String,
      df: DataFrame,
      batchId: Long,
      streamId: String = CatalogIO.LegacyStreamId): Option[FeatureTableInfo] =
    idempotent(name, streamId, batchId)(registerWith(name, df, _))

  /** The O(delta) twin of [[registerBatch]]: append-register `df` under
    * the same per-stream batch-id idempotence. This is the streaming
    * shape that actually survives 100 TB — each micro-batch writes only
    * its own rows ([[registerAppend]]'s manifest chaining), instead of
    * rewriting the accumulated table per batch, and a crash-recovery
    * replay appends nothing twice.
    */
  def registerAppendBatch(
      name: String,
      df: DataFrame,
      batchId: Long,
      maxSegments: Int = 16,
      streamId: String = CatalogIO.LegacyStreamId,
      mergeSchema: Boolean = false): Option[FeatureTableInfo] =
    idempotent(name, streamId, batchId)(
      registerAppendWith(name, df, maxSegments, _, mergeSchema = mergeSchema))

  private def idempotent(name: String, streamId: String, batchId: Long)(
      body: Option[(String, Long)] => FeatureTableInfo): Option[FeatureTableInfo] =
    this.synchronized {
      val seen = catalog.get(name).flatMap(_.batchWatermarks.get(streamId))
      // ONE-TIME UPGRADE SHIM (pre-stream-identity catalogs): a stream
      // restarting across the upgrade keeps its checkpoint, so its
      // crash-recovery replay re-delivers the LAST batch — same id as
      // the legacy per-table high-water, but under a stream id the
      // catalog has never seen. Without this check that replay would
      // re-register once (a duplicate version). It applies only when
      // the new stream id has no line yet AND the ids match EXACTLY: a
      // genuinely fresh stream restarts at batch 0 < legacy high-water
      // and registers normally (the old silent-skip data-loss path
      // stays dead). The skipped id migrates to the new stream id so
      // the legacy line is consulted exactly once. Batch 0 is EXCLUDED
      // from the shim: a legacy high-water of 0 is indistinguishable
      // from a fresh stream's first batch, and when the two collide a
      // once-duplicated VISIBLE version (the straddling-replay cost)
      // is the right failure mode — silently losing a fresh stream's
      // batch 0 is not.
      val legacyReplay = streamId != CatalogIO.LegacyStreamId && batchId > 0 &&
        seen.isEmpty &&
        catalog.get(name)
          .flatMap(_.batchWatermarks.get(CatalogIO.LegacyStreamId))
          .contains(batchId)
      if (legacyReplay) {
        catalog.get(name).foreach { m =>
          val stampedM = m.copy(
            batchWatermarks = m.batchWatermarks + (streamId -> batchId))
          catalog.put(stampedM)
          catalogIO.save(root, Seq(stampedM))
        }
        None
      }
      else if (seen.contains(batchId)) None // crash-recovery replay of the last batch
      else if (seen.exists(batchId < _))
        throw new FeatureConcurrencyError(
          s"Batch id $batchId for table '$name' regressed below the recorded " +
            s"high-water ${seen.get} of stream '$streamId'. A restarted stream " +
            "with a fresh checkpoint restarts batch ids at 0 — give it its own " +
            "stream identity (StreamingIngest passes StreamingQuery.id " +
            "automatically) rather than silently skipping its batches. If this " +
            "stream was deliberately restored from an older checkpoint BACKUP " +
            "(same query id, batch ids rewound), silently skipping is unsafe — " +
            "batches past the backup's last commit may recompose differently — " +
            "so after verifying the table's registered state, call " +
            "clearStreamWatermark(table, streamId) to let the replay register")
      else Some(body(Some(streamId -> batchId)))
    }

  /** OPERATOR TOOL for the one legitimate batch-id-regression case: a
    * stream deliberately restored from an older checkpoint BACKUP keeps
    * its query id but replays batch ids below the recorded high-water,
    * which [[registerBatch]] refuses (a replayed batch past the
    * backup's last commit may recompose with different contents, so
    * neither silent skip nor silent re-register is safe — the old
    * per-table skip was the silent-data-loss path this design
    * removed). After verifying what the restored stream will replay,
    * clear the stream's high-water so its batches register again;
    * replayed batches then mint new versions (duplicate CONTENT is
    * possible and visible, duplicate silent loss is not).
    *
    * Returns true when a watermark existed and was cleared.
    */
  def clearStreamWatermark(name: String, streamId: String): Boolean =
    this.synchronized {
      catalog.get(name) match {
        case Some(m) if m.batchWatermarks.contains(streamId) =>
          val cleared = m.copy(batchWatermarks = m.batchWatermarks - streamId)
          catalog.put(cleared)
          catalogIO.save(root, Seq(cleared))
          true
        case _ => false
      }
    }

  /** Explicit compaction: materialize the CURRENT version's chained
    * manifest as a single-snapshot new version (data unchanged — only
    * the physical layout). The maintenance operation an append-heavy
    * table schedules off-peak: read amplification drops back to one
    * segment scan, and once older versions age out of the retention
    * window their delta segments become reclaimable. A no-op (returns
    * current info, writes nothing) when the current version is already
    * a single snapshot.
    */
  def compact(name: String): FeatureTableInfo = this.synchronized {
    // compact is a WRITE: it must act on the freshest multi-writer
    // state, and it materializes its snapshot from the CLAIMED
    // predecessor — materializing from a pre-claim read could republish
    // a stale version's content as the newest, silently dropping a
    // racing writer's register
    refreshTable(name)
    val meta0 = catalog.getOrThrow(name)
    if (meta0.segmentsOf(meta0.version).size <= 1) return meta0.info
    val (curOpt, v) = claimVersion(name)
    val cur = curOpt.getOrElse {
      storage.releaseVersion(name, v)
      throw new FeatureConcurrencyError(
        s"table '$name' was deleted by another writer during compact")
    }
    if (cur.segmentsOf(cur.version).size <= 1) {
      // another writer compacted between the check and the claim
      storage.releaseVersion(name, v)
      return cur.info
    }
    val meta = completeClaim(name, v) {
      val held = heldData(cur, 0L)
      val full = held.getOrElse(currentData(cur)).select(cur.columns.map(col): _*)
      val wr = writeSegment(name, v, prepare(full), small = held.isDefined)
      val now0 = System.currentTimeMillis()
      storage.commitVersion(name, v, CommitMeta(
        wr.rows, wr.rows, cur.columns, Seq(v),
        wr.minTsMillis, wr.maxTsMillis, now0,
        columnTypes = cur.columnTypes,
        operation = "compact", colStats = wr.colStats,
        constraints = cur.constraints.toMap))
      cur.copy(version = v, rowCount = wr.rows, updatedAt = now0,
        versions = cur.versions + (v -> cur.columns),
        segments = cur.segments + (v -> Seq(v)),
        segStats = cur.segStats ++ segStatsOf(v, wr),
        versionTimes = cur.versionTimes + (v -> now0),
        versionOps = cur.versionOps + (v -> "compact"),
        versionRows = cur.versionRows + (v -> wr.rows),
        segRows = cur.segRows ++ segRowsOf(v, wr),
        segColStats = cur.segColStats ++ segColStatsOf(v, wr))
    }
    val pruned = prune(meta)
    catalog.put(pruned)
    catalogIO.save(root, Seq(pruned))
    pruned.info
  }

  /** OPTIMIZE: rewrite the current content as one compacted segment
    * whose PHYSICAL LAYOUT is clustered by `clusterBy` — Delta's
    * `OPTIMIZE ... ZORDER BY` discipline on the versioned-parquet
    * layout. Rows are range-partitioned and sorted by the cluster keys
    * within each time partition, so parquet file and row-group min/max
    * become tight intervals on those keys and a selective scan skips
    * most of the bytes natively (the engine's segment-level stats keep
    * working above that). Content-identical to its predecessor: time
    * travel sees it, the change feed resolves it to "no changes"
    * without a diff, and the read paths are untouched.
    *
    * `zorder = true` interleaves the bits of up to four NUMERIC /
    * DATE / TIMESTAMP cluster columns into one z-value (each scaled to
    * its global min-max range — taken from the catalog's column stats
    * when every segment has them, else one agg job), so multi-
    * dimensional selective scans each skip well instead of only the
    * leading key. With one cluster column, plain range clustering and
    * z-order coincide.
    */
  def optimizeTable(
      name: String,
      clusterBy: Seq[String],
      zorder: Boolean = false,
      incremental: Boolean = false): FeatureTableInfo = this.synchronized {
    if (clusterBy.isEmpty)
      throw new FeatureValidationError(
        "optimizeTable needs at least one cluster column")
    refreshTable(name)
    catalog.getOrThrow(name)
    val (curOpt, v) = claimVersion(name)
    val cur = curOpt.getOrElse {
      storage.releaseVersion(name, v)
      throw new FeatureConcurrencyError(
        s"table '$name' was deleted by another writer during optimizeTable")
    }
    val missing = clusterBy.filterNot(cur.columns.contains)
    if (missing.nonEmpty) {
      storage.releaseVersion(name, v)
      throw new FeatureValidationError(
        s"optimizeTable('$name') cluster columns not in the table: " +
          missing.mkString(", ") + s"; columns are ${cur.columns.mkString(", ")}")
    }
    val spec =
      (if (zorder && clusterBy.size > 1) "zorder:" else "range:") +
        clusterBy.mkString(",")
    val manifest0 = cur.segmentsOf(cur.version)
    // INCREMENTAL (Delta's clustered-OPTIMIZE shape): when the recorded
    // cluster spec matches, already-optimized base segments are
    // re-referenced verbatim and only the tail appended since is
    // rewritten — O(new data) maintenance per run instead of O(table),
    // which is the only affordable cadence at 100 TB. A spec change, or
    // a manifest with no optimized base, falls back to the full rewrite.
    val baseSegs =
      if (incremental && cur.clusterSpec.contains(spec))
        manifest0.filter(s => cur.versionOps.get(s).contains("optimize"))
      else Seq.empty
    val tailSegs = manifest0.filterNot(baseSegs.contains)
    if (baseSegs.nonEmpty && tailSegs.isEmpty) {
      // fully clustered already — nothing to do, nothing minted
      storage.releaseVersion(name, v)
      return cur.info
    }
    val meta = completeClaim(name, v) {
      val source =
        if (baseSegs.isEmpty) currentData(cur).select(cur.columns.map(col): _*)
        else storage.readSegments(
          name, tailSegs, cur.columns, None, cur.columnTypes)
      val cluster: Seq[Column] =
        if (zorder && clusterBy.size > 1) Seq(zValue(cur, clusterBy, source))
        else clusterBy.map(col)
      val wr = storage.writeClustered(
        name, v, prepare(source), EntityIdColumn, TimestampColumn, cluster)
      // content-preservation cross-check: the rewrite must reproduce
      // exactly the rows it replaced (a stale catalog rowCount or a
      // non-idempotent read would otherwise corrupt silently)
      val expectTail = tailSegs.flatMap(cur.segRows.get)
      if (baseSegs.isEmpty && wr.rows != cur.rowCount)
        throw new FeatureValidationError(
          s"optimizeTable('$name') rewrite produced ${wr.rows} rows, table " +
            s"has ${cur.rowCount} — aborting (content must be preserved)")
      if (baseSegs.nonEmpty && expectTail.size == tailSegs.size &&
          wr.rows != expectTail.sum)
        throw new FeatureValidationError(
          s"optimizeTable('$name') incremental rewrite produced ${wr.rows} " +
            s"rows, tail segments hold ${expectTail.sum} — aborting")
      val manifest = if (baseSegs.isEmpty) Seq(v) else baseSegs :+ v
      val now0 = System.currentTimeMillis()
      storage.commitVersion(name, v, CommitMeta(
        wr.rows, cur.rowCount, cur.columns, manifest,
        wr.minTsMillis, wr.maxTsMillis, now0,
        columnTypes = cur.columnTypes,
        operation = "optimize", colStats = wr.colStats,
        constraints = cur.constraints.toMap,
        clusterSpec = Some(spec)))
      cur.copy(version = v, rowCount = cur.rowCount, updatedAt = now0,
        versions = cur.versions + (v -> cur.columns),
        segments = cur.segments + (v -> manifest),
        segStats = cur.segStats ++ segStatsOf(v, wr),
        versionTimes = cur.versionTimes + (v -> now0),
        versionOps = cur.versionOps + (v -> "optimize"),
        versionRows = cur.versionRows + (v -> cur.rowCount),
        segRows = cur.segRows ++ segRowsOf(v, wr),
        segColStats = cur.segColStats ++ segColStatsOf(v, wr),
        clusterSpec = Some(spec))
    }
    val pruned = prune(meta)
    catalog.put(pruned)
    catalogIO.save(root, Seq(pruned))
    pruned.info
  }

  /** The interleaved-bit z-value of `clusterBy` as ONE codegen'd column
    * expression: each column scales linearly into a k-bit code over its
    * GLOBAL min-max (catalog column stats when every current segment
    * recorded them — no job; else one agg over the table), and the
    * codes' bits interleave LSB-first. k = min(16, 63/n), so up to
    * four columns fit a signed long. NULLs code to 0 (cluster first).
    */
  private def zValue(
      cur: TableMeta,
      clusterBy: Seq[String],
      full: DataFrame): Column = {
    if (clusterBy.size > 4)
      throw new FeatureValidationError(
        s"zorder supports at most 4 cluster columns, got ${clusterBy.size}")
    val bad = clusterBy.filterNot { c =>
      full.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.DateType => true
        case org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      }
    }
    if (bad.nonEmpty)
      throw new FeatureValidationError(
        "zorder cluster columns must be numeric, date, or timestamp; " +
          s"not: ${bad.mkString(", ")} (use zorder = false for lexicographic " +
          "clustering of other types)")
    val segs = cur.segmentsOf(cur.version)
    // global per-column bounds, as doubles (z-scaling tolerates the
    // precision loss — it only affects bucket boundaries, not values)
    def statBounds(c: String): Option[(Double, Double)] = {
      val perSeg = segs.map(s =>
        cur.segColStats.getOrElse(s, Map.empty).get(c).flatMap { st =>
          val ddl = cur.columnTypes.getOrElse(c, "").toUpperCase
          def cvt(v: String): Option[Double] =
            if (ddl.startsWith("TIMESTAMP") || ddl == "DATE") v.toDoubleOption
            else scala.util.Try(
              new java.math.BigDecimal(v).doubleValue()).toOption
          for { lo <- st.min.flatMap(cvt); hi <- st.max.flatMap(cvt) }
            yield (lo, hi)
        })
      if (perSeg.forall(_.isDefined))
        Some((perSeg.flatten.map(_._1).min, perSeg.flatten.map(_._2).max))
      else None
    }
    // numeric z-code domain per column: cast to double. TIMESTAMP casts
    // to SECONDS while its stats are micros — align by scaling
    def asDouble(c: String): Column =
      full.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType =>
          col(c).cast("double") * lit(1e6)
        case org.apache.spark.sql.types.DateType =>
          datediff(col(c), lit("1970-01-01").cast("date")).cast("double")
        case _ => col(c).cast("double")
      }
    val bounds: Seq[(Double, Double)] = {
      val fromStats = clusterBy.map(statBounds)
      if (fromStats.forall(_.isDefined)) fromStats.flatten
      else {
        val aggs = clusterBy.flatMap(c =>
          Seq(min(asDouble(c)), max(asDouble(c))))
        val row = full.agg(aggs.head, aggs.tail: _*).head()
        clusterBy.indices.map { i =>
          (Option(row.get(2 * i)).fold(0.0)(_.asInstanceOf[Double]),
            Option(row.get(2 * i + 1)).fold(1.0)(_.asInstanceOf[Double]))
        }
      }
    }
    val n = clusterBy.size
    val nbits = math.min(16, 63 / n)
    val maxCode = (1L << nbits) - 1
    val codes: Seq[Column] = clusterBy.zip(bounds).map { case (c, (lo, hi)) =>
      val range = if (hi > lo) hi - lo else 1.0
      val scaled = (asDouble(c) - lit(lo)) / lit(range) * lit(maxCode.toDouble)
      least(lit(maxCode), greatest(lit(0L), scaled.cast("long")))
    }
    (0 until nbits).foldLeft(lit(0L)) { (acc, i) =>
      codes.zipWithIndex.foldLeft(acc) { case (a, (code, j)) =>
        a.bitwiseOR(shiftleft(shiftright(code, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** One discovery scan over a manifest: per segment, (total rows,
    * hit rows) — the classification that bounds copy-on-write rewrites
    * to affected segments. `withHit` decorates the segment-tagged
    * union with a hit marker (counted when non-null); the driver
    * result is O(#segments), bounded by the manifest cap.
    */
  private def classifySegments(
      name: String,
      meta: TableMeta,
      segs: Seq[Int],
      readCols: Seq[String])(
      withHit: DataFrame => (DataFrame, Column)): Map[Int, (Long, Long)] = {
    val tagged = segs.map { s =>
      storage.readSegments(name, Seq(s), readCols, None, meta.columnTypes)
        .withColumn(FeatureStore.SegTagCol, lit(s))
    }.reduce(_.unionByName(_))
    val (decorated, hit) = withHit(tagged)
    decorated
      .groupBy(col(FeatureStore.SegTagCol))
      .agg(count(lit(1)).as("_graft_total"), count(hit).as("_graft_hits"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
  }

  /** The Spark kernel's change-set pass of a key-addressed mutation,
    * which is also its classification: the candidate segments `segs`
    * are read once, tagged by segment, and null-safely semi-joined with
    * `keys`; `changeSet` shapes the matched rows into the change data
    * of version `v`, and that write is the only execution that scans
    * the candidates. Two `Observation`s ride it, one below the join and
    * one above, counting rows per segment tag — per segment, (total
    * rows, key-matched rows). A storage that records no change data
    * gets the same plan run into a no-op sink, so the counts never
    * depend on change-data support. Returns the counts and the recorded
    * change row count (-1 = none recorded).
    *
    * Trade-off: this pass reads every column of each stats-surviving
    * candidate, where a key-column classification would read two. It
    * reads less overall whenever stats pruning isolates the touched
    * segments (candidates = affected: the separate classification then
    * read each affected segment's keys, and the change set and rewrite
    * read it in full twice more); it reads more when pruning cannot
    * isolate them — many candidates, few of them affected.
    */
  private def writeChangeSet(
      name: String,
      v: Int,
      segs: Seq[Int],
      readCols: Seq[String],
      readTypes: Map[String, String],
      keys: DataFrame)(
      changeSet: DataFrame => DataFrame): (Map[Int, (Long, Long)], Long) = {
    val tag = FeatureStore.SegTagCol
    def perTag = segs.map(s => count(when(col(tag) === s, 1)).as(s"_seg_$s"))
    val id = java.util.UUID.randomUUID()
    val totalObs = org.apache.spark.sql.Observation(s"graft_seg_rows_$id")
    val hitObs = org.apache.spark.sql.Observation(s"graft_seg_hits_$id")
    val tagged = segs.map { s =>
      storage.readSegments(name, Seq(s), readCols, None, readTypes)
        .withColumn(tag, lit(s))
    }.reduce(_.unionByName(_))
    val matched = joinKeysNullSafe(
      tagged.observe(totalObs, perTag.head, perTag.tail: _*), keys, "left_semi")
      .observe(hitObs, perTag.head, perTag.tail: _*)
      .drop(tag)
    val changes = changeSet(matched)
    val cdfRows = storage.writeChangeData(name, v, changes)
    if (cdfRows < 0) changes.write.format("noop").mode("overwrite").save()
    val (totals, hits) = (totalObs.get, hitObs.get)
    val counts = segs.map { s =>
      s -> (totals(s"_seg_$s").asInstanceOf[Long],
        hits(s"_seg_$s").asInstanceOf[Long])
    }.toMap
    (counts, cdfRows)
  }

  /** The driver kernel's pass over a key-addressed mutation's candidate
    * segments `segs`: their rows are read once through
    * [[VersionStorage.scanSegmentsLocal]] in the layout
    * `readCols :+ _ingest_key`, and each is matched against `keys`
    * (rows of entity and timestamp, the entity of type `keyType`) on
    * float-normalized UnsafeRow keys — nulls equal, NaN and -0.0
    * canonical, as Spark's `<=>` join compares them. Returns the
    * layout, the per-segment (total, matched) counts, the matched rows,
    * and the unmatched rows of every segment with a match; a segment's
    * rows are let go once it is read without one. None when the storage
    * has no driver-side reader or cannot type a column without Spark,
    * when the keys' types are not the table's, or when a column does
    * not compare by its bytes (maps, variants, collated strings): the
    * Spark kernel then runs. None too, with the read abandoned, once
    * the bytes held — `held` for the caller's rows, the keys, and the
    * rows kept — pass `maxBytes`.
    */
  private def scanOnDriver(
      name: String,
      segs: Seq[Int],
      readCols: Seq[String],
      readTypes: Map[String, String],
      keyType: DataType,
      keys: Seq[InternalRow],
      held: Long,
      maxBytes: Long): Option[FeatureStore.DriverScan] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
    import scala.collection.mutable
    object TooLarge extends scala.util.control.ControlThrowable
    storage.localReadSchema(name, segs, readCols :+ IngestKeyCol, readTypes).filter(schema =>
      sameType(schema(EntityIdColumn).dataType, keyType) &&
        schema(TimestampColumn).dataType == TimestampType &&
        schema.forall(f => bridge.groupsByBytes(f.dataType))
    ).flatMap { schema =>
      def keyOf(e: Int, t: Int) = UnsafeProjection.create(Seq(
        bridge.normalizeFloats(BoundReference(e, schema(EntityIdColumn).dataType, nullable = true)),
        BoundReference(t, TimestampType, nullable = true)))
      val wanted = { val k = keyOf(0, 1); keys.iterator.map(k(_).copy()).toSet }
      val rowKey = keyOf(schema.fieldIndex(EntityIdColumn), schema.fieldIndex(TimestampColumn))
      val own = UnsafeProjection.create(schema)
      val counts = segs.map(_ -> Array(0L, 0L)).toMap
      val matched = mutable.ArrayBuffer.empty[InternalRow]
      // per segment: its unmatched rows and their bytes
      val kept = mutable.HashMap.empty[Int, (mutable.ArrayBuffer[InternalRow], Array[Long])]
      var bytes = held + wanted.iterator.map(_.getSizeInBytes.toLong).sum
      def keep(row: UnsafeRow): UnsafeRow = {
        bytes += row.getSizeInBytes
        if (bytes > maxBytes) throw TooLarge
        row
      }
      var last = -1
      try {
        if (bytes > maxBytes) throw TooLarge
        storage.scanSegmentsLocal(name, segs, schema, None, Nil) { (s, row) =>
          if (s != last) {
            if (counts.get(last).exists(_(1) == 0L))
              kept.remove(last).foreach { case (_, b) => bytes -= b(0) }
            last = s
          }
          val c = counts(s)
          c(0) += 1
          if (wanted.contains(rowKey(row))) { c(1) += 1; matched += keep(own(row).copy()) }
          else {
            val (rows, b) = kept.getOrElseUpdate(s, (mutable.ArrayBuffer.empty, Array(0L)))
            val r = keep(own(row).copy())
            rows += r
            b(0) += r.getSizeInBytes
          }
        }
        Some(FeatureStore.DriverScan(schema,
          counts.map { case (s, c) => s -> (c(0), c(1)) },
          matched.toSeq,
          kept.collect { case (s, (rows, _)) if counts(s)(1) > 0L => s -> rows.toSeq }.toMap))
      } catch { case TooLarge => None }
    }
  }

  /** Every scanned segment's row count must equal the catalog's
    * `segRows` record where one exists: a mismatch means the segment's
    * files no longer hold what the catalog says, and a commit on top of
    * them would record a wrong row count. Version `v` (with any change
    * data already written) is scrapped and a [[FeatureStorageError]]
    * names the segment and both counts.
    */
  private def requireRecordedRows(
      name: String, meta: TableMeta, v: Int, counts: Map[Int, (Long, Long)]): Unit =
    counts.toSeq.sortBy(_._1).foreach { case (s, (rows, _)) =>
      meta.segRows.get(s).filter(_ != rows).foreach { recorded =>
        try storage.deleteVersion(name, v) catch { case _: Exception => () }
        throw new FeatureStorageError(
          s"segment $s of table '$name' holds $rows rows but the " +
            s"catalog records $recorded — its files changed outside the " +
            "store; no version was committed")
      }
    }

  /** An upsert's change set as ONE signed-count aggregate: each
    * replaced row counts +1 and each delta row -1, grouped by `cols`; a
    * group whose net is not 0 emits |net| copies, tagged `delete` when
    * positive and `insert` when negative. That is exactly
    * `replaced EXCEPT ALL delta` as deletes plus `delta EXCEPT ALL
    * replaced` as inserts — nulls group as equal, floats normalize, a
    * delta re-writing identical rows cancels out — with the replaced
    * rows read once instead of twice.
    */
  private def netChanges(
      replaced: DataFrame, delta: DataFrame, cols: Seq[String]): DataFrame = {
    val net = col("_graft_net")
    def signed(df: DataFrame, sign: Long) =
      df.select(cols.map(col) :+ lit(sign).as("_graft_sign"): _*)
    signed(replaced, 1L).unionByName(signed(delta, -1L))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_graft_sign")).as("_graft_net"))
      .filter(net =!= 0L)
      .select(cols.map(col) ++ Seq(
        when(net > 0L, lit("delete")).otherwise(lit("insert"))
          .as(FeatureStore.ChangeTypeCol),
        explode(array_repeat(lit(0), abs(net).cast("int"))).as("_graft_copy")): _*)
      .drop("_graft_copy")
  }

  /** `df` with its floats and doubles, at any depth, as [[netChanges]]'
    * grouping outputs them: -0.0 as 0.0, every NaN the same NaN. Map
    * columns, which no grouping takes, pass as they are.
    */
  private def floatsNormalized(df: DataFrame): DataFrame =
    df.select(bridge.analyzed(df).output.map(a =>
      if (bridge.containsMap(a.dataType)) bridge.column(a)
      else bridge.column(bridge.normalizeFloats(a)).as(a.name)): _*)

  /** [[netChanges]] on the driver, over rows whose first `n` columns
    * (of `schema`) are the change set's: grouped on those columns
    * float-normalized, as Spark's grouping compares and outputs them, a
    * group whose net is not 0 gives |net| copies of its normalized
    * values, tagged `delete` when positive and `insert` when negative.
    */
  private def netChangesLocal(
      schema: StructType,
      n: Int,
      replaced: Seq[InternalRow],
      delta: Seq[InternalRow]): Seq[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, UnsafeProjection, UnsafeRow}
    val refs = (0 until n).map(i => BoundReference(i, schema(i).dataType, nullable = true))
    val key = UnsafeProjection.create(refs.map(bridge.normalizeFloats))
    val net = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, Long]
    def add(rows: Seq[InternalRow], sign: Long): Unit =
      rows.foreach { r =>
        val k = key(r).copy()
        net.update(k, net.getOrElse(k, 0L) + sign)
      }
    add(replaced, 1L)
    add(delta, -1L)
    val tagged = UnsafeProjection.create(
      refs :+ BoundReference(n, org.apache.spark.sql.types.StringType, nullable = false))
    net.toSeq.filter(_._2 != 0L).flatMap { case (k, c) =>
      val tag = org.apache.spark.unsafe.types.UTF8String.fromString(
        if (c > 0L) "delete" else "insert")
      Seq.fill(math.abs(c).toInt)(tagged(new JoinedRow(k, InternalRow(tag))).copy())
    }
  }

  /** Row-level DELETE with copy-on-write rewrite — Delta Lake's
    * `DELETE FROM` shape on the manifest-chained layout. Rows where
    * `condition` is TRUE leave the table as a NEW version; history is
    * untouched (prior versions still read the original rows, so time
    * travel across deletes works, and vacuum reclaims the replaced
    * segments only after they leave the retention window).
    * NULL-condition rows are KEPT, matching SQL DELETE semantics.
    * `condition` must be deterministic over the table's registered
    * columns (it is evaluated up to three times: classification,
    * survivor filter, change-set record — nondeterminism is detected
    * by count cross-checks on the latter two and rejected).
    *
    * Cost shape (the 100 TB story): ONE discovery scan classifies
    * segments (per-segment counts — a map-side-combined aggregate, no
    * row shuffle), then only segments that CONTAIN matches are
    * rewritten; untouched segments are re-referenced by the new
    * manifest verbatim, so write amplification is O(affected
    * segments), not O(table). A segment whose rows ALL match is simply
    * dropped from the manifest — zero bytes written. Surviving rows
    * keep their original ingest keys, so tie-break winners among
    * duplicate (entity, ts) observations never change under an
    * unrelated delete.
    *
    * Returns the new version's info. A delete matching NOTHING is a
    * no-op (no version minted — the claim is released). Deleting EVERY
    * row is rejected (registered tables are non-empty by contract) —
    * use [[delete]] to drop the table.
    */
  def deleteRows(name: String, condition: Column): FeatureTableInfo =
    this.synchronized {
      refreshTable(name)
      catalog.getOrThrow(name)
      val (curOpt, v) = claimVersion(name)
      val cur = curOpt.getOrElse {
        storage.releaseVersion(name, v)
        throw new FeatureConcurrencyError(
          s"table '$name' was deleted by another writer during deleteRows")
      }
      val segs = cur.segmentsOf(cur.version)
      // probe + classification run under the claim but before the
      // commit body: release the reservation on ANY failure here (an
      // unknown-column predicate, a transient scan error) so a failed
      // classification can't wedge the lineage until a vacuum sweep
      val perSeg = try {
        // the classification scan reads ONLY the columns the predicate
        // references — on a wide feature table this is the difference
        // between scanning 2 columns and 200. The references come from
        // ANALYZING a probe filter over the table schema (no job
        // runs), so qualified/case-insensitive references resolve
        // exactly as the real filter will; a predicate naming an
        // unknown column raises the normal analysis error here.
        val resolved = resolveCondition(name, cur, condition)
        val condRefs =
          resolved.toSeq.flatMap(_.references.map(_.name).toSeq).distinct
        val classifyCols =
          if (condRefs.nonEmpty && condRefs.forall(cur.columns.contains))
            condRefs
          else cur.columns
        // column-stats skipping: segments the predicate provably cannot
        // match skip the scan entirely and classify as (rows, 0 hits)
        // from the catalog's segment row record — at 100 TB a
        // time-clustered GDPR delete classifies one day, not the corpus
        val (scanSegs, skipped) = pruneSegments(cur, segs, resolved)
        val scanned =
          if (scanSegs.isEmpty) Map.empty[Int, (Long, Long)]
          else classifySegments(name, cur, scanSegs, classifyCols)(df =>
            (df, when(condition, lit(1))))
        scanned ++ skipped.map(s => s -> (cur.segRows(s), 0L))
      } catch {
        case e: Throwable =>
          try storage.releaseVersion(name, v) catch { case _: Exception => () }
          throw e
      }
      val total = perSeg.values.map(_._1).sum
      val hits = perSeg.values.map(_._2).sum
      if (hits == 0L) { storage.releaseVersion(name, v); return cur.info }
      if (hits == total) {
        storage.releaseVersion(name, v)
        throw new FeatureValidationError(
          s"deleteRows would remove every row of '$name'; registered tables " +
            "are non-empty — use delete(name) to drop the whole table")
      }
      val affected = segs.filter(s => perSeg.get(s).exists(_._2 > 0L))
      val untouched = segs.filterNot(affected.contains)
      val affectedTotal = affected.map(s => perSeg(s)._1).sum
      val meta = completeClaim(name, v) {
        val now0 = System.currentTimeMillis()
        if (affectedTotal == hits) {
          // every affected segment matches WHOLLY: the new manifest
          // just drops them — no data write at all
          storage.commitVersion(name, v, CommitMeta(
            0L, total - hits, cur.columns, untouched,
            None, None, now0, cur.columnTypes, operation = "delete",
            constraints = cur.constraints.toMap))
          cur.copy(version = v, rowCount = total - hits, updatedAt = now0,
            versions = cur.versions + (v -> cur.columns),
            segments = cur.segments + (v -> untouched),
            versionTimes = cur.versionTimes + (v -> now0),
            versionOps = cur.versionOps + (v -> "delete"),
            versionRows = cur.versionRows + (v -> (total - hits)))
        } else {
          // rewrite ONLY the affected segments' survivors as this
          // version's own segment; ingest keys pass through unchanged
          val survivors = storage
            .readSegments(name, affected, cur.columns :+ IngestKeyCol, None,
              cur.columnTypes)
            .filter(not(coalesce(condition, lit(false))))
          val wr = writeKeepingLayout(cur, name, v, survivors, small = false)
          if (wr.rows != affectedTotal - hits)
            throw new FeatureValidationError(
              s"deleteRows condition on '$name' is nondeterministic: the " +
                s"classification pass matched $hits rows but the rewrite kept " +
                s"${wr.rows} of $affectedTotal (expected ${affectedTotal - hits})")
          // record the exact change set at commit time (Delta's
          // _change_data discipline): O(deleted) extra write here buys
          // an O(changes) change-feed read instead of a two-snapshot
          // diff — the only shape that survives 100 TB. The commit
          // itself carries the recorded row count: a file is trusted
          // by the feed only when its version's commit vouches for it.
          val cdfRows = storage.writeChangeData(name, v,
            storage.readSegments(name, affected, cur.columns, None,
              cur.columnTypes)
              .filter(condition)
              .withColumn(FeatureStore.ChangeTypeCol, lit("delete")))
          if (cdfRows >= 0 && cdfRows != hits)
            throw new FeatureValidationError(
              s"deleteRows condition on '$name' is nondeterministic: " +
                s"$hits rows matched classification but the recorded change " +
                s"set holds $cdfRows")
          val manifest = untouched :+ v
          storage.commitVersion(name, v, CommitMeta(
            wr.rows, total - hits, cur.columns, manifest,
            wr.minTsMillis, wr.maxTsMillis, now0, cur.columnTypes,
            operation = "delete", changeRows = cdfRows,
            colStats = wr.colStats, constraints = cur.constraints.toMap))
          cur.copy(version = v, rowCount = total - hits, updatedAt = now0,
            versions = cur.versions + (v -> cur.columns),
            segments = cur.segments + (v -> manifest),
            segStats = cur.segStats ++ segStatsOf(v, wr),
            versionTimes = cur.versionTimes + (v -> now0),
            versionOps = cur.versionOps + (v -> "delete"),
            versionRows = cur.versionRows + (v -> (total - hits)),
            versionCdf =
              if (cdfRows >= 0) cur.versionCdf + (v -> cdfRows)
              else cur.versionCdf,
            segRows = cur.segRows ++ segRowsOf(v, wr),
            segColStats = cur.segColStats ++ segColStatsOf(v, wr))
        }
      }
      val pruned = prune(meta)
      catalog.put(pruned)
      catalogIO.save(root, Seq(pruned))
      pruned.info
    }

  /** Row-level DELETE by an explicit (entity, ts) KEY SET — the form
    * `deleteRows(condition)` cannot express without materializing keys
    * on the driver (CDC applies, GDPR key-list purges). Copy-on-write:
    * the keys' (entity, ts) bounds prune stats-disjoint segments; the
    * surviving candidates are classified — per segment, its rows and
    * the rows the keys match — and the matched rows are recorded as
    * `delete` images; the affected segments' unmatched rows then
    * rewrite (through the recorded cluster layout) as the new version's
    * segment, and untouched segments re-reference verbatim. A segment
    * whose rows all match is simply dropped from the manifest. Keys
    * absent from the table are ignored — re-applying a delete is a
    * natural no-op, which is what makes CDC replay idempotent. Returns
    * None when nothing matched (no version minted); deleting every row
    * is rejected.
    *
    * Two kernels classify ([[classifyKeyed]]). When the candidates'
    * catalog rows plus the keys number at most
    * [[FeatureStore.DriverMutationMaxRows]], and the rows it holds stay
    * within [[FeatureStore.LocalRowsMaxBytes]], the driver reads the
    * candidates and matches the keys itself, and the change data and
    * the rewrite are each a driver write: no Spark job, and two for a
    * key frame that is not a local relation (its bounds aggregate and
    * its collection). Otherwise Spark runs one
    * bounds aggregate (skipped for a local key frame, whose bounds the
    * driver computes), one change-set write that also classifies
    * ([[writeChangeSet]]), and one anti-join rewrite.
    */
  def deleteRowsByKeys(
      name: String, keyDf: DataFrame): Option[FeatureTableInfo] =
    deleteRowsByKeysOn(FeatureStore.MutationKernel.Auto(), name, keyDf)

  /** [[deleteRowsByKeys]] through the given classification kernel. */
  private[graft] def deleteRowsByKeysOn(
      kernel: FeatureStore.MutationKernel,
      name: String,
      keyDf: DataFrame): Option[FeatureTableInfo] =
    this.synchronized {
      refreshTable(name)
      catalog.getOrThrow(name)
      val missingCols = Seq(EntityIdColumn, TimestampColumn)
        .filterNot(keyDf.columns.contains)
      if (missingCols.nonEmpty)
        throw new FeatureValidationError(
          s"deleteRowsByKeys('$name') needs columns " +
            s"($EntityIdColumn, $TimestampColumn); missing: " +
            missingCols.mkString(", "))
      val (curOpt, v) = claimVersion(name)
      val cur = curOpt.getOrElse {
        storage.releaseVersion(name, v)
        throw new FeatureConcurrencyError(
          s"table '$name' was deleted by another writer during deleteRowsByKeys")
      }
      val meta = completeClaim(name, v) {
        // duplicate keys are harmless: every match below is a semi or
        // anti match, and the bounds only need count > 0
        val keys = keyFrame(keyDf)
        val keyType = keys.schema(EntityIdColumn).dataType
        val local = localKeys(kernel, keys)
        val boundsRow = local.fold(keys.agg(keyBoundAggs.head, keyBoundAggs.tail: _*).head())(
          localKeyBounds(_, keyType))
        if (boundsRow.getLong(0) == 0L) {
          storage.releaseVersion(name, v)
          return None
        }
        val segs = cur.segmentsOf(cur.version)
        val (scanSegs, skipped) =
          pruneSegments(cur, segs, keyRangeOf(name, cur, boundsRow))
        if (scanSegs.isEmpty) {
          storage.releaseVersion(name, v)
          return None
        }
        val c = classifyKeyed(kernel, cur, scanSegs, boundsRow.getLong(0),
          typedKeys(cur, keys), local, collectRows(keys)) { (ks, maxBytes) =>
          scanOnDriver(name, scanSegs, cur.columns, cur.columnTypes, keyType, ks,
            held = 0L, maxBytes).map { d =>
            FeatureStore.Classified(d.counts,
              () => storage.writeChangeData(name, v,
                localFrame(d.schema, d.matched).drop(IngestKeyCol)
                  .withColumn(FeatureStore.ChangeTypeCol, lit("delete")), small = true),
              affected => localFrame(d.schema,
                affected.flatMap(s => d.survivors.getOrElse(s, Nil))),
              small = true)
          }
        } {
          val (counts, cdfRows) = writeChangeSet(
            name, v, scanSegs, cur.columns, cur.columnTypes, keys)(
            _.withColumn(FeatureStore.ChangeTypeCol, lit("delete")))
          FeatureStore.Classified(counts, () => cdfRows,
            affected => joinKeysNullSafe(
              storage.readSegments(name, affected, cur.columns :+ IngestKeyCol,
                None, cur.columnTypes),
              keys, "left_anti"),
            small = false)
        }
        requireRecordedRows(name, cur, v, c.counts)
        val perSeg = c.counts ++ skipped.map(s => s -> (cur.segRows(s), 0L))
        val total = perSeg.values.map(_._1).sum
        val hits = perSeg.values.map(_._2).sum
        if (hits == 0L || hits == total) {
          // no version: take any change data already written back out
          storage.deleteVersion(name, v)
          if (hits == 0L) { storage.releaseVersion(name, v); return None }
          throw new FeatureValidationError(
            s"deleteRowsByKeys would remove every row of '$name'; " +
              "registered tables are non-empty — use delete(name)")
        }
        val cdfRows = c.recordChanges()
        val affected = segs.filter(s => perSeg.get(s).exists(_._2 > 0L))
        val untouched = segs.filterNot(affected.contains)
        val affectedTotal = affected.map(s => perSeg(s)._1).sum
        val now0 = System.currentTimeMillis()
        val cdf =
          if (cdfRows >= 0) cur.versionCdf + (v -> cdfRows) else cur.versionCdf
        if (affectedTotal == hits) {
          // affected segments match WHOLLY: drop them, write nothing
          storage.commitVersion(name, v, CommitMeta(
            0L, total - hits, cur.columns, untouched,
            None, None, now0, cur.columnTypes, operation = "delete",
            changeRows = cdfRows, constraints = cur.constraints.toMap))
          cur.copy(version = v, rowCount = total - hits, updatedAt = now0,
            versions = cur.versions + (v -> cur.columns),
            segments = cur.segments + (v -> untouched),
            versionTimes = cur.versionTimes + (v -> now0),
            versionOps = cur.versionOps + (v -> "delete"),
            versionRows = cur.versionRows + (v -> (total - hits)),
            versionCdf = cdf)
        } else {
          val wr = writeKeepingLayout(cur, name, v, c.rewrite(affected), c.small)
          if (wr.rows != affectedTotal - hits)
            throw new FeatureValidationError(
              s"deleteRowsByKeys on '$name': classification matched $hits " +
                s"rows but the rewrite kept ${wr.rows} of $affectedTotal " +
                s"(expected ${affectedTotal - hits}) — key frame must be " +
                "deterministic")
          val manifest = untouched :+ v
          storage.commitVersion(name, v, CommitMeta(
            wr.rows, total - hits, cur.columns, manifest,
            wr.minTsMillis, wr.maxTsMillis, now0, cur.columnTypes,
            operation = "delete", changeRows = cdfRows,
            colStats = wr.colStats, constraints = cur.constraints.toMap))
          cur.copy(version = v, rowCount = total - hits, updatedAt = now0,
            versions = cur.versions + (v -> cur.columns),
            segments = cur.segments + (v -> manifest),
            segStats = cur.segStats ++ segStatsOf(v, wr),
            versionTimes = cur.versionTimes + (v -> now0),
            versionOps = cur.versionOps + (v -> "delete"),
            versionRows = cur.versionRows + (v -> (total - hits)),
            versionCdf = cdf,
            segRows = cur.segRows ++ segRowsOf(v, wr),
            segColStats = cur.segColStats ++ segColStatsOf(v, wr))
        }
      }
      val pruned = prune(meta)
      catalog.put(pruned)
      catalogIO.save(root, Seq(pruned))
      Some(pruned.info)
    }

  /** The key frame of a key-addressed mutation: entity and timestamp,
    * the timestamp cast as the store stores it.
    */
  private def keyFrame(df: DataFrame): DataFrame =
    df.select(col(EntityIdColumn),
      col(TimestampColumn).cast(TimestampType).as(TimestampColumn))

  /** The rows of a key-addressed mutation's input frame, held on the
    * driver without a Spark job, when it is a local relation and the
    * kernel may be the driver's.
    */
  private def localKeys(
      kernel: FeatureStore.MutationKernel, df: DataFrame): Option[Seq[InternalRow]] =
    if (kernel == FeatureStore.MutationKernel.OnSpark) None else localRows(df)

  /** True when every frame's entity column has the table's recorded
    * entity type. Keys of another type compare through Spark's type
    * coercion, which only the Spark kernel applies.
    */
  private def typedKeys(meta: TableMeta, frames: DataFrame*): Boolean =
    meta.columnTypes.get(EntityIdColumn).map(DataType.fromDDL).exists(t =>
      frames.forall(f => sameType(f.schema(EntityIdColumn).dataType, t)))

  private def sameType(a: DataType, b: DataType): Boolean =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.equalsIgnoreNullability(a, b)

  /** Classify a key-addressed mutation's candidate segments `segs`
    * with one kernel. The driver's (`onDriver`, given the inputs it
    * needs and the bytes it may hold) runs when forced, or, under
    * [[FeatureStore.MutationKernel.Auto]], when every candidate has a
    * catalog row count and those counts plus the `keyCount` keys total
    * at most its row bound; inputs that are not local relations
    * (`local` empty) are then collected first. The keys must be `typed`
    * ([[typedKeys]]). The Spark kernel (`onSpark`) runs otherwise, and
    * wherever the driver's cannot or would hold more than the byte
    * bound.
    */
  private def classifyKeyed[A](
      kernel: FeatureStore.MutationKernel,
      meta: TableMeta,
      segs: Seq[Int],
      keyCount: Long,
      typed: Boolean,
      local: Option[A],
      collect: => A)(
      onDriver: (A, Long) => Option[FeatureStore.Classified])(
      onSpark: => FeatureStore.Classified): FeatureStore.Classified = {
    import FeatureStore.MutationKernel._
    val maxBytes = kernel match {
      case _ if !typed => None
      case OnSpark => None
      case OnDriver => Some(Long.MaxValue)
      case Auto(maxRows, bytes) =>
        Option.when(within(recordedRows(meta, segs).map(_ + keyCount), maxRows))(bytes)
    }
    maxBytes.flatMap(onDriver(local.getOrElse(collect), _)).getOrElse(onSpark)
  }

  /** MERGE-style upsert keyed by (entity_id, timestamp) — Delta's
    * `MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT` for
    * the observation model: every current row whose key appears in
    * `df` is REPLACED by the delta's row(s) for that key; keys new to
    * the table INSERT. The delta must carry exactly the current
    * schema (use [[register]] for schema changes). Falls back to a
    * plain [[register]] when the table doesn't exist yet.
    *
    * Copy-on-write, O(affected segments + delta) writes: the delta's
    * (entity, ts) bounds prune stats-disjoint segments; the surviving
    * candidates are classified, finding the segments that hold matched
    * keys, and the change set is recorded; the affected segments'
    * surviving rows plus the whole delta then become the new version's
    * single segment, and untouched segments are re-referenced verbatim.
    * Small inputs (within [[FeatureStore.DriverMutationMaxRows]] and
    * [[FeatureStore.LocalRowsMaxBytes]]) are classified on the driver
    * and write their change data and segment on the driver, with no
    * Spark job; larger ones take three Spark executions, as
    * [[deleteRowsByKeys]] describes.
    * Duplicate keys WITHIN the delta all
    * insert — the store allows duplicate (entity, ts) observations,
    * ordered by its deterministic ingest-key tie-break. Prior
    * versions are untouched (time travel across upserts works).
    *
    * Key matching is NULL-SAFE: a delta key with a NULL component
    * replaces exactly the current rows whose component IS NULL (null
    * keys are legal observations, and "every current row whose key
    * appears in df" must mean them too — a null-unsafe match would
    * silently accumulate duplicates for rows with unknown time).
    * [[deleteRowsByKeys]] and [[registerRewrite]] drop keys the same
    * way.
    */
  def registerUpsert(
      name: String,
      df: DataFrame,
      mergeSchema: Boolean = false): FeatureTableInfo =
    registerUpsertWith(name, df, watermark = None, mergeSchema = mergeSchema)

  /** The ATOMIC merge-rewrite: ONE commit that both REPLACES every
    * current row whose key appears in `df` (exactly [[registerUpsert]]'s
    * contract) and DROPS every current row whose key appears in
    * `dropKeys` but has no replacement in the delta. This is the
    * single-commit primitive behind SQL UPDATE/MERGE (rekeying updates
    * and DELETE actions): expressed as deleteRowsByKeys + registerUpsert
    * those statements would span TWO versions, leaving a crash window
    * with matched rows deleted but not yet re-inserted and a time-travel
    * history showing a state no statement produced — Delta's MERGE is
    * likewise one commit. Cost is identical to the upsert alone: the
    * drop keys join the delta's keys in the same bounds, classification
    * and copy-on-write rewrite (dropped rows appear as `delete` images
    * in the recorded change set).
    * `df` must be non-empty — a pure key-set delete is
    * [[deleteRowsByKeys]].
    */
  def registerRewrite(
      name: String,
      df: DataFrame,
      dropKeys: DataFrame,
      mergeSchema: Boolean = false): FeatureTableInfo =
    registerUpsertWith(name, df, watermark = None, mergeSchema = mergeSchema,
      dropKeys = Some(dropKeys))

  /** [[registerUpsert]] through the given classification kernel. */
  private[graft] def registerUpsertOn(
      kernel: FeatureStore.MutationKernel,
      name: String,
      df: DataFrame,
      mergeSchema: Boolean = false): FeatureTableInfo =
    registerUpsertWith(name, df, watermark = None, mergeSchema = mergeSchema,
      kernel = kernel)

  /** [[registerRewrite]] through the given classification kernel. */
  private[graft] def registerRewriteOn(
      kernel: FeatureStore.MutationKernel,
      name: String,
      df: DataFrame,
      dropKeys: DataFrame,
      mergeSchema: Boolean = false): FeatureTableInfo =
    registerUpsertWith(name, df, watermark = None, mergeSchema = mergeSchema,
      dropKeys = Some(dropKeys), kernel = kernel)

  private def registerUpsertWith(
      name: String,
      df: DataFrame,
      watermark: Option[(String, Long)],
      mergeSchema: Boolean = false,
      dropKeys: Option[DataFrame] = None,
      kernel: FeatureStore.MutationKernel = FeatureStore.MutationKernel.Auto()): FeatureTableInfo =
    this.synchronized {
      // emptiness is probed by the key bounds below; the
      // table-creating fallbacks validate it themselves
      Validation.validateDataFrame(df, name, allowEmpty = true)
      dropKeys.foreach { dk =>
        val missing = Seq(EntityIdColumn, TimestampColumn)
          .filterNot(dk.columns.contains)
        if (missing.nonEmpty)
          throw new FeatureValidationError(
            s"registerRewrite('$name') dropKeys needs columns " +
              s"($EntityIdColumn, $TimestampColumn); missing: " +
              missing.mkString(", "))
      }
      val (curOpt, v) = claimVersion(name)
      val cur = curOpt.getOrElse {
        storage.releaseVersion(name, v)
        // a rewrite (dropKeys present) addresses EXISTING rows — on a
        // table that doesn't exist it must fail like any other lookup,
        // not silently degrade to a plain register that ignores the drops
        dropKeys.foreach(_ => throw new FeatureTableNotFoundError(
          s"registerRewrite('$name'): table not found (a rewrite " +
            "addresses existing rows; register the table first)"))
        return registerWith(name, df, watermark)
      }
      val meta = completeClaim(name, v) {
        // merge-schema evolution, exactly registerAppend's contract:
        // existing columns must all stay (types unchanged — checked
        // even for same-shape deltas), new ones append; prior segments
        // read them as typed nulls
        val evolved = evolveColumns("registerUpsert", name, cur, df, mergeSchema)
        val newTypes = cur.columnTypes ++ typesOf(df)
        val prepared = prepare(df.select(evolved.map(col): _*))
        // the key frame: the delta's keys plus any drop keys, flagged
        // so ONE bounds row gives both the delta size (the emptiness
        // probe and the determinism cross-check's count) and the
        // key-domain bounds that key-range skipping needs. Duplicate
        // keys are harmless: every match below is a semi or anti match.
        val deltaFlag = "_graft_delta"
        val deltaKeys = prepared.select(
          col(EntityIdColumn), col(TimestampColumn), lit(true).as(deltaFlag))
        val drops = dropKeys.map(keyFrame)
        val keys = drops.fold(deltaKeys)(dk =>
          deltaKeys.unionByName(dk.withColumn(deltaFlag, lit(false))))
        val typed = typedKeys(cur, prepared +: drops.toSeq: _*)
        val entityType = prepared.schema(EntityIdColumn).dataType
        // the driver kernel's inputs: the delta's rows, and every key
        // (the delta's, then the drop keys) as (entity, timestamp) rows
        def driverInputs(d: Seq[InternalRow], dropRows: Seq[InternalRow]) = {
          import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
          val key = UnsafeProjection.create(Seq(EntityIdColumn, TimestampColumn).map { c =>
            val i = prepared.schema.fieldIndex(c)
            BoundReference(i, prepared.schema(i).dataType, nullable = true)
          })
          (d, d.map(key(_).copy()) ++ dropRows)
        }
        val local =
          if (!typed) None
          else for {
            d <- localKeys(kernel, prepared)
            k <- drops.fold(Option(Seq.empty[InternalRow]))(localKeys(kernel, _))
          } yield driverInputs(d, k)
        val kb = local.fold(keys.agg(keyBoundAggs.head,
          keyBoundAggs.tail :+ count(when(col(deltaFlag), 1)): _*).head()) {
          case (d, ks) => localKeyBounds(ks, entityType, d.size.toLong)
        }
        val deltaCount = kb.getLong(keyBoundAggs.size)
        if (deltaCount == 0L)
          throw new FeatureValidationError(s"$name must not be empty")
        val segs = cur.segmentsOf(cur.version)
        // key-range skipping: a segment disjoint from the keys'
        // (entity, ts) bounds on EITHER dimension holds no matched key
        // — with time-sliced appends a CDC delta of recent keys
        // scans recent segments only, O(delta) not O(table)
        val (scanSegs, skipped) =
          pruneSegments(cur, segs, keyRangeOf(name, cur, kb))
        // record the change set (Delta _change_data): delete images =
        // replaced rows, insert images = the delta, identical-content
        // pairs cancelled (an upsert re-writing the same bytes is NOT a
        // change); with no candidate, the delta's rows as inserts. Both
        // record floats as the netting groups them (-0.0 as 0.0, one
        // NaN), whichever segments the keys' bounds overlap
        val deltaRows = prepared.drop(IngestKeyCol)
        val c = classifyKeyed(kernel, cur, scanSegs, kb.getLong(0), typed, local,
          driverInputs(collectRows(prepared), drops.fold(Seq.empty[InternalRow])(collectRows))) {
          case ((d, ks), maxBytes) =>
            scanOnDriver(name, scanSegs, evolved, newTypes, entityType, ks,
              held = FeatureStore.unsafeBytes(prepared.schema, d), maxBytes)
              .filter(_.schema.map(_.dataType).corresponds(prepared.schema.map(_.dataType))(sameType))
              .map { s =>
                val changes = localFrame(
                  StructType(s.schema.take(evolved.size) :+
                    StructField(FeatureStore.ChangeTypeCol, StringType)),
                  netChangesLocal(s.schema, evolved.size, s.matched, d))
                FeatureStore.Classified(s.counts,
                  () => storage.writeChangeData(name, v, changes, small = true),
                  affected => localFrame(s.schema,
                    affected.flatMap(a => s.survivors.getOrElse(a, Nil)) ++ d),
                  small = true)
              }
        } {
          if (scanSegs.isEmpty)
            FeatureStore.Classified(Map.empty,
              () => storage.writeChangeData(name, v,
                floatsNormalized(deltaRows)
                  .withColumn(FeatureStore.ChangeTypeCol, lit("insert"))),
              _ => prepared, small = false)
          else {
            val (counts, cdfRows) = writeChangeSet(
              name, v, scanSegs, evolved, newTypes, keys)(
              netChanges(_, deltaRows, evolved))
            FeatureStore.Classified(counts, () => cdfRows,
              affected =>
                if (affected.isEmpty) prepared
                else joinKeysNullSafe(
                  storage.readSegments(name, affected, evolved :+ IngestKeyCol,
                    None, newTypes),
                  keys, "left_anti").unionByName(prepared),
              small = false)
          }
        }
        requireRecordedRows(name, cur, v, c.counts)
        val cdfRows = c.recordChanges()
        val perSeg = c.counts ++ skipped.map(s => s -> (cur.segRows(s), 0L))
        val affected = segs.filter(s => perSeg.get(s).exists(_._2 > 0L))
        val untouched = segs.filterNot(affected.contains)
        val untouchedRows = untouched.map(s => perSeg.get(s).fold(0L)(_._1)).sum
        val (guarded, checksOk) = constraintGuard(cur.constraints, c.rewrite(affected))
        val wr = writeKeepingLayout(cur, name, v, guarded, c.small)
        verifyOrScrap(name, v)(checksOk)
        // determinism cross-check (the delta is evaluated by more than
        // one execution — bounds, change set, rewrite): the written
        // segment must hold exactly the affected survivors plus the
        // delta, or a nondeterministic delta just lost rows
        val replaced = perSeg.values.map(_._2).sum
        val affectedTotal = affected.map(s => perSeg.get(s).fold(0L)(_._1)).sum
        if (wr.rows != (affectedTotal - replaced) + deltaCount)
          throw new FeatureValidationError(
            s"registerUpsert delta for '$name' is nondeterministic: wrote " +
              s"${wr.rows} rows, expected ${(affectedTotal - replaced) + deltaCount} " +
              s"($affectedTotal affected - $replaced replaced + $deltaCount delta)")
        val now0 = System.currentTimeMillis()
        val manifest = untouched :+ v
        storage.commitVersion(name, v, CommitMeta(
          wr.rows, untouchedRows + wr.rows, evolved, manifest,
          wr.minTsMillis, wr.maxTsMillis, now0, newTypes,
          operation = "upsert", changeRows = cdfRows,
          colStats = wr.colStats, constraints = cur.constraints.toMap,
          watermark = watermark))
        cur.copy(version = v, rowCount = untouchedRows + wr.rows,
          updatedAt = now0,
          columnTypes = newTypes,
          versions = cur.versions + (v -> evolved),
          segments = cur.segments + (v -> manifest),
          segStats = cur.segStats ++ segStatsOf(v, wr),
          versionTimes = cur.versionTimes + (v -> now0),
          versionOps = cur.versionOps + (v -> "upsert"),
          versionRows = cur.versionRows + (v -> (untouchedRows + wr.rows)),
          versionCdf =
            if (cdfRows >= 0) cur.versionCdf + (v -> cdfRows)
            else cur.versionCdf,
          segRows = cur.segRows ++ segRowsOf(v, wr),
          segColStats = cur.segColStats ++ segColStatsOf(v, wr))
      }
      val pruned = stampWatermark(prune(meta), watermark)
      catalog.put(pruned)
      catalogIO.save(root, Seq(pruned))
      pruned.info
    }

  /** The CDC-apply twin of [[registerAppendBatch]]: upsert-register
    * `df` under the same per-stream batch-id idempotence — the
    * streaming MERGE shape (each micro-batch of a change stream
    * replaces matched keys and inserts new ones, exactly once). A
    * crash-recovery replay of the last batch is detected and skipped,
    * and the batch watermark commits in the commit marker of the
    * version it marks, so no crash window can replay a batch into a
    * duplicate upsert.
    */
  def registerUpsertBatch(
      name: String,
      df: DataFrame,
      batchId: Long,
      streamId: String = CatalogIO.LegacyStreamId,
      mergeSchema: Boolean = false): Option[FeatureTableInfo] =
    idempotent(name, streamId, batchId)(
      registerUpsertWith(name, df, _, mergeSchema = mergeSchema))

  /** [[registerRewrite]] under the same per-stream batch-id
    * idempotence — the streaming CDC-apply shape when one micro-batch
    * nets BOTH replacements and key deletes: ONE commit (no crash
    * window with keys deleted but their replacements unregistered),
    * replay-skipped exactly like the other *Batch entries.
    */
  def registerRewriteBatch(
      name: String,
      df: DataFrame,
      dropKeys: DataFrame,
      batchId: Long,
      streamId: String = CatalogIO.LegacyStreamId,
      mergeSchema: Boolean = false): Option[FeatureTableInfo] =
    idempotent(name, streamId, batchId)(
      registerUpsertWith(name, df, _, mergeSchema = mergeSchema,
        dropKeys = Some(dropKeys)))

  /** CHANGE DATA FEED: row-level changes between two retained versions
    * — Delta's `table_changes` surface. Output columns are the union
    * of the involved versions' columns (evolution-padded with typed
    * nulls) plus `_change_type` ("insert" | "delete") and
    * `_commit_version`, one block per version step.
    *
    * Per-step cost, cheapest applicable plan first:
    *   - a step whose recorded operation is `compact` is
    *     content-preserving BY CONSTRUCTION → contributes nothing,
    *     zero scan;
    *   - a mutation that RECORDED its change set at commit time
    *     (deleteRows rewrites, upserts — the Delta `_change_data`
    *     discipline) reads it back directly — O(changes);
    *   - a step that only ADDS segments (append lineage) reads just
    *     the added segments — O(step delta);
    *   - a step that only DROPS segments (whole-segment delete) reads
    *     just the dropped ones — O(rows deleted);
    *   - a RESTORE step is COMPOSED as the net inverse of the interval
    *     back to its source version, from those same cheap per-step
    *     changes — O(interval changes);
    *   - anything else (full re-registers, legacy catalogs, storages
    *     without change-data support, restores whose source left
    *     retention or whose interval contains an un-diffable step)
    *     falls back to an exact multiset diff of the two snapshots
    *     (`EXCEPT ALL` both ways).
    * Updates surface as delete + insert pairs (no
    * update_pre/postimage rows). A merge-schema append step reports
    * only its inserted rows — pre-existing rows reading a new column
    * as null are not "changes", matching Delta CDF.
    *
    * `fromVersion = 0` means "since creation". Every version in
    * [max(fromVersion, 1), toVersion] must still be retained —
    * changes are attributed per commit, and the first step needs
    * fromVersion's own manifest — so asking across pruned history
    * raises with the available range.
    */
  def getChanges(name: String, fromVersion: Int, toVersion: Int): DataFrame = {
    val meta = resolveMeta(name)
    if (fromVersion < 0 || toVersion < 1 || toVersion < fromVersion)
      throw new FeatureValidationError(
        s"getChanges needs 0 <= fromVersion <= toVersion (toVersion >= 1), " +
          s"got ($fromVersion, $toVersion)")
    val needed = (math.max(fromVersion, 1) to toVersion).toSeq
    val missing = needed.filterNot(meta.versions.contains)
    if (missing.nonEmpty)
      throw new FeatureTableNotFoundError(
        s"getChanges($fromVersion, $toVersion) on '$name' needs versions " +
          s"${needed.mkString(", ")} retained; missing: " +
          s"${missing.mkString(", ")}. Available versions: " +
          s"${meta.versions.keys.mkString(", ")}")
    val outCols = needed.foldLeft(Vector.empty[String]) { (acc, ver) =>
      acc ++ meta.versions(ver).filterNot(acc.contains)
    }
    def readSegs(ss: Seq[Int]): DataFrame =
      storage.readSegments(name, ss, outCols, None, meta.columnTypes)
    def stamped(df: DataFrame, tpe: String, ver: Int): DataFrame =
      df.withColumn(FeatureStore.ChangeTypeCol, lit(tpe))
        .withColumn(FeatureStore.CommitVersionCol, lit(ver))
    // change rows recorded at mutation time (delete/upsert rewrites)
    // read back O(changes); evolution pads resolve from the type
    // record. Gated on the catalog's per-commit authorization
    // ([[TableMeta.versionCdf]]): a crashed mutation's leftover file at
    // a reused version number is never misattributed to the commit
    // that eventually landed there.
    def recorded(ver: Int): Option[DataFrame] =
      (if (meta.versionCdf.contains(ver)) storage.readChangeData(name, ver)
       else None).map { cd =>
        val padded = outCols
          .filterNot(cd.columns.contains)
          .flatMap(c => meta.columnTypes.get(c).map(c -> _))
          .foldLeft(cd) { case (df, (c, t)) =>
            df.withColumn(c, lit(null).cast(t))
          }
        padded.select((outCols :+ FeatureStore.ChangeTypeCol).map(col): _*)
      }
    // a step's exact multiset change (insert frames, delete frames)
    // over outCols, CHEAP PATHS ONLY: compact = nothing, recorded
    // change sets, append-added segments, dropped segments. None =
    // only a snapshot diff can answer. Shared by the per-step feed and
    // the restore composition below.
    def stepRaw(ver: Int): Option[(Seq[DataFrame], Seq[DataFrame])] = {
      val prevSegs = if (ver == 1) Seq.empty[Int] else meta.segmentsOf(ver - 1)
      val curSegs = meta.segmentsOf(ver)
      lazy val rec = recorded(ver)
      if (meta.versionOps.get(ver).exists(FeatureStore.ContentPreservingOps))
        Some((Nil, Nil))
      else if (rec.isDefined) {
        val cd = rec.get
        def side(t: String) = cd
          .filter(col(FeatureStore.ChangeTypeCol) === t)
          .select(outCols.map(col): _*)
        // a delete commit's recorded set is all-deletes by
        // construction — one untyped read, no filter, and the
        // composition's cancellation short-circuits on the empty side
        if (meta.versionOps.get(ver).contains("delete"))
          Some((Nil, Seq(cd.select(outCols.map(col): _*))))
        else Some((Seq(side("insert")), Seq(side("delete"))))
      } else if (prevSegs.forall(curSegs.contains)) {
        val added = curSegs.filterNot(prevSegs.contains)
        Some((if (added.isEmpty) Nil else Seq(readSegs(added)), Nil))
      } else if (curSegs.forall(prevSegs.contains)) {
        val dropped = prevSegs.filterNot(curSegs.contains)
        Some((Nil, Seq(readSegs(dropped))))
      } else None
    }
    // a RESTORE step's feed is the NET INVERSE of the interval since
    // its source version (content(ver) == content(s), so the step diff
    // (ver-1 → ver) equals the diff (ver-1 → s) — undo the interval):
    // accumulate the interval's cheap per-step changes, swap roles,
    // and cancel multiset overlap. O(interval changes), never a
    // two-snapshot diff — the only shape that survives restoring a
    // 100 TB table while a follower is subscribed. Source version:
    // any retained version < ver with the SAME manifest (the manifest
    // determines content); nearest match minimizes the interval.
    // None = source pruned or some interval step needs a diff itself.
    def composeRestore(ver: Int): Option[Seq[DataFrame]] = {
      val curSet = meta.segmentsOf(ver).toSet
      meta.versions.keys
        .filter(s => s < ver && meta.segmentsOf(s).toSet == curSet)
        .maxOption
        .flatMap { s =>
          val interval = (s + 1 until ver).map(stepRaw)
          if (interval.exists(_.isEmpty)) None
          else {
            val stepsRaw = interval.flatten
            val insU = stepsRaw.flatMap(_._1).reduceOption(_.unionByName(_))
            val delU = stepsRaw.flatMap(_._2).reduceOption(_.unionByName(_))
            val restoreIns = (delU, insU) match {
              case (Some(d0), Some(i0)) => Some(d0.exceptAll(i0))
              case (d0, None)           => d0
              case (None, _)            => None
            }
            val restoreDel = (insU, delU) match {
              case (Some(i0), Some(d0)) => Some(i0.exceptAll(d0))
              case (i0, None)           => i0
              case (None, _)            => None
            }
            Some(Seq(
              restoreIns.map(stamped(_, "insert", ver)),
              restoreDel.map(stamped(_, "delete", ver))).flatten)
          }
        }
    }
    val steps: Seq[DataFrame] = (fromVersion + 1 to toVersion).flatMap { ver =>
      def diff(): DataFrame = {
        val prevSegs =
          if (ver == 1) Seq.empty[Int] else meta.segmentsOf(ver - 1)
        val prev = readSegs(prevSegs)
        val curD = readSegs(meta.segmentsOf(ver))
        stamped(curD.exceptAll(prev), "insert", ver).unionByName(
          stamped(prev.exceptAll(curD), "delete", ver))
      }
      lazy val rec = recorded(ver)
      if (!meta.versionOps.get(ver).exists(FeatureStore.ContentPreservingOps) &&
          rec.isDefined)
        // single-frame recorded read (one _cdf scan; types in the file)
        Some(rec.get.withColumn(FeatureStore.CommitVersionCol, lit(ver)))
      else stepRaw(ver) match {
        case Some((ins, del)) =>
          val parts = ins.map(stamped(_, "insert", ver)) ++
            del.map(stamped(_, "delete", ver))
          parts.reduceOption(_.unionByName(_))
        case None if meta.versionOps.get(ver).contains("restore") =>
          composeRestore(ver) match {
            case Some(parts) => parts.reduceOption(_.unionByName(_))
            case None        => Some(diff())
          }
        case None => Some(diff())
      }
    }
    // the schema-bearing empty seed (one segment read at plan time) is
    // built ONLY when no step contributed — with steps present it
    // would just add plan-time file listings to every feed
    if (steps.isEmpty)
      stamped(
        readSegs(meta.segmentsOf(toVersion).take(1)).limit(0),
        "insert", toVersion)
    else steps.reduce(_.unionByName(_))
  }

  /** [[getChanges]] addressed by WALL-CLOCK commit time — Delta's
    * timestamp-bounded `table_changes`: the changes committed AFTER the
    * version that was current at `fromTimestamp`, up to and including
    * the version current at `toTimestamp` (both endpoints resolved
    * exactly like [[getVersionAsOf]]). A `fromTimestamp` earlier than
    * every retained commit means "since creation"; endpoints resolving
    * to the same version yield an empty (correctly-shaped) feed.
    */
  def getChangesBetween(
      name: String,
      fromTimestamp: Any,
      toTimestamp: Any): DataFrame = {
    val meta = resolveMeta(name)
    val fromMs = FeatureStore.normalizeTimestamp(fromTimestamp).getTime
    val toMs = FeatureStore.normalizeTimestamp(toTimestamp).getTime
    if (fromMs > toMs)
      throw new FeatureValidationError(
        s"getChangesBetween needs fromTimestamp <= toTimestamp, " +
          s"got ($fromTimestamp, $toTimestamp)")
    def resolve(cutoff: Long): Option[Int] = meta.versionTimes
      .filter { case (ver, at) => meta.versions.contains(ver) && at <= cutoff }
      .keys.maxOption
    val to = resolve(toMs).getOrElse(throw new FeatureTableNotFoundError(
      s"Table '$name' has no version committed at or before $toTimestamp"))
    val from = resolve(fromMs).getOrElse(0)
    getChanges(name, from, to)
  }

  /** RESTORE TO VERSION — Delta's `RESTORE TABLE ... TO VERSION AS OF`:
    * mint a NEW version whose content is exactly a retained historical
    * version, by RE-REFERENCING that version's segment manifest — ZERO
    * data written, O(1) metadata, at any table size. The rolled-over
    * versions stay in history (auditable, re-restorable) until they
    * age out of retention; restoring across a schema evolution reverts
    * the column set, exactly like Delta. Restoring the CURRENT version
    * is a no-op (current info returned, nothing minted).
    *
    * The restored rowCount comes from the per-version row record
    * ([[TableMeta.versionRows]]); a catalog predating that record
    * falls back to one count scan.
    */
  def restoreVersion(name: String, version: Int): FeatureTableInfo =
    this.synchronized {
      refreshTable(name)
      val meta0 = catalog.getOrThrow(name)
      if (!meta0.versions.contains(version))
        throw new FeatureTableNotFoundError(
          s"Version $version of table '$name' not found. " +
            s"Available versions: ${meta0.versions.keys.mkString(", ")}")
      if (version == meta0.version) return meta0.info
      val (curOpt, v) = claimVersion(name)
      val cur = curOpt.getOrElse {
        storage.releaseVersion(name, v)
        throw new FeatureConcurrencyError(
          s"table '$name' was deleted by another writer during restore")
      }
      val meta = completeClaim(name, v) {
        // re-check against the CLAIMED state: the claim may have
        // absorbed other writers' versions, including a prune of
        // the restore source
        val cols = cur.versions.getOrElse(version,
          throw new FeatureTableNotFoundError(
            s"Version $version of table '$name' left retention during " +
              s"restore. Available versions: ${cur.versions.keys.mkString(", ")}"))
        val srcSegs = cur.segmentsOf(version)
        val rows = cur.versionRows.getOrElse(version,
          storage.readSegments(name, srcSegs, Seq(EntityIdColumn), None,
            cur.columnTypes).count())
        val now0 = System.currentTimeMillis()
        storage.commitVersion(name, v, CommitMeta(
          0L, rows, cols, srcSegs, None, None, now0, cur.columnTypes,
          operation = "restore", constraints = cur.constraints.toMap))
        cur.copy(version = v, rowCount = rows, updatedAt = now0,
          versions = cur.versions + (v -> cols),
          segments = cur.segments + (v -> srcSegs),
          versionTimes = cur.versionTimes + (v -> now0),
          versionOps = cur.versionOps + (v -> "restore"),
          versionRows = cur.versionRows + (v -> rows))
      }
      val pruned = prune(meta)
      catalog.put(pruned)
      catalogIO.save(root, Seq(pruned))
      pruned.info
    }

  /** PIT snapshot read (reference: store.py:218-259): latest row per
    * requested entity at or before `timestamp`. Unknown entities yield no
    * rows (not an error); unknown table raises FeatureTableNotFoundError.
    *
    * Segments are pruned by time and by the requested entities. When
    * the catalog row counts of what is left are at most
    * [[FeatureStore.LocalReadMaxRows]], the rows are read on the driver
    * and the result is an eager snapshot taken at call time, which
    * collects with no Spark job; above it the result is a lazy frame
    * over the pruned segments, as for every other read.
    */
  def get(
      name: String,
      entityIds: Seq[Any],
      timestamp: Any,
      columns: Option[Seq[String]] = None): DataFrame = {
    val p = pointRead(name, entityIds, timestamp, columns)
    (if (p.small) latestOnDriver(p, columns, k = 1) else None)
      .getOrElse(latestOnSpark(p, columns))
  }

  /** [[get]] through its Spark kernel, whatever the read's size. */
  private[graft] def getOnSpark(
      name: String,
      entityIds: Seq[Any],
      timestamp: Any,
      columns: Option[Seq[String]] = None): DataFrame =
    latestOnSpark(pointRead(name, entityIds, timestamp, columns), columns)

  /** [[get]] through its driver kernel, whatever the read's size. */
  private[graft] def getOnDriver(
      name: String,
      entityIds: Seq[Any],
      timestamp: Any,
      columns: Option[Seq[String]] = None): DataFrame =
    latestOnDriver(pointRead(name, entityIds, timestamp, columns), columns, k = 1)
      .getOrElse(throw new UnsupportedOperationException(
        s"no driver-side read for table '$name'"))

  private def pointRead(
      name: String,
      entityIds: Seq[Any],
      timestamp: Any,
      columns: Option[Seq[String]]): FeatureStore.PointRead = {
    val meta = resolveMeta(name)
    val asOf = FeatureStore.normalizeTimestamp(timestamp)
    columns.foreach(cs => Validation.validateColumns(
      cs, PointInTime.dropInternal(meta.columns), name))
    val filter = resolveCondition(name, meta,
      col(TimestampColumn) <= lit(asOf) && col(EntityIdColumn).isin(entityIds: _*))
    val (kept, _) = pruneSegments(meta, meta.segmentsOf(meta.version), filter,
      needRows = false)
    FeatureStore.PointRead(meta, asOf, entityIds, filter, kept)
  }

  /** The Spark kernels of [[get]] and [[getRecent]]: lazy frames over
    * the candidate segments.
    */
  private def latestOnSpark(p: FeatureStore.PointRead, columns: Option[Seq[String]]): DataFrame =
    PointInTime.pitSnapshot(
      currentData(p.meta, p.schemaSegments, Some(p.asOf)),
      lit(p.asOf),
      entityIds = Some(p.entityIds),
      columns = columns,
      tieBreakCols = Seq(IngestKeyCol),
      tableName = p.meta.name)

  private def recentOnSpark(p: FeatureStore.PointRead, k: Int): DataFrame = {
    val eligible = currentData(p.meta, p.schemaSegments, Some(p.asOf))
      .filter(col(TimestampColumn) <= lit(p.asOf))
      .filter(col(EntityIdColumn).isin(p.entityIds: _*))
    PointInTime
      .latestKPerEntity(eligible, k, tieBreakCols = Seq(IngestKeyCol))
      .select((p.meta.columns :+ "recency_rank").map(col): _*)
  }

  /** The driver kernel of [[get]] (`k = 1`, output `columns` as
    * [[PointInTime.pitSnapshot]] projects them) and of [[getRecent]]
    * (`k` given, every column plus `recency_rank`): the candidate
    * segments' files read with Spark's parquet reader on the driver,
    * filtered by the same resolved predicate, reduced by
    * [[PointInTime.latestKLocal]], and returned as a local relation
    * with the Spark kernel's schema. None when the storage has no
    * driver-side reader or cannot type a column without Spark.
    */
  private def latestOnDriver(
      p: FeatureStore.PointRead,
      columns: Option[Seq[String]],
      k: Int,
      ranked: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.graftbridge.bridge
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val out = columns.fold(PointInTime.dropInternal(p.meta.columns))(
      cs => Seq(EntityIdColumn, TimestampColumn) ++ cs)
    val readCols = (Seq(EntityIdColumn, TimestampColumn, IngestKeyCol) ++ out).distinct
    for {
      filter <- p.filter
      schema <- storage.localReadSchema(
        p.meta.name, p.schemaSegments, readCols, p.meta.columnTypes)
    } yield {
      val predicate = bridge.optimizedCondition(spark, filter)
      val rows = PointInTime.latestKLocal(schema, predicate, k,
        tieBreakCols = Seq(IngestKeyCol))(f =>
        storage.scanSegmentsLocal(p.meta.name, p.segments, schema, Some(p.asOf),
          bridge.pushableFilters(predicate))((_, row) => f(row)))
      // every read column is nullable in the Spark kernel's output;
      // recency_rank (row_number) is not
      val fields = out.map(c => StructField(c, schema(c).dataType)) ++
        Option.when(ranked)(StructField("recency_rank", IntegerType, nullable = false))
      val rank = schema.length
      val project = UnsafeProjection.create(
        out.map { c =>
          val i = schema.fieldIndex(c)
          BoundReference(i, schema(i).dataType, nullable = true)
        } ++ Option.when(ranked)(BoundReference(rank, IntegerType, nullable = false)))
      val data = rows.map { case (r, n) =>
        project(new JoinedRow(r, org.apache.spark.sql.catalyst.InternalRow(n))).copy()
      }
      bridge.ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        StructType(fields).map(f => AttributeReference(f.name, f.dataType, f.nullable)()),
        data))
    }
  }

  /** Filtered read of the current version with COLUMN-STATS DATA
    * SKIPPING: segments whose recorded per-column min/max
    * ([[TableMeta.segColStats]]) prove the predicate unsatisfiable are
    * dropped before the scan is even planned — the stats-filter read
    * path of the transactional table formats, over the manifest's
    * segment dimension. On a manifest-chained table whose appends are
    * clustered in the filter column (time-sliced ingest filtered by
    * time, entity-bucketed ingest filtered by entity), a selective scan
    * touches O(matching segments) of the manifest instead of all of it;
    * parquet row-group stats then skip WITHIN the surviving segments.
    * The filter is re-applied to the surviving scan, so the result is
    * always exact regardless of how much the stats could prune.
    */
  def scanWhere(name: String, condition: Column): DataFrame = {
    val meta = resolveMeta(name)
    val segs = meta.segmentsOf(meta.version)
    val resolved = resolveCondition(name, meta, condition)
    val (kept, _) = pruneSegments(meta, segs, resolved, needRows = false)
    if (kept.isEmpty)
      // every segment pruned: an empty result with the exact schema
      // (and the exact analysis errors) of the unpruned read — from
      // the type record when complete, else a zero-row segment read
      typedEmptyFrame(meta)
        .map(_.filter(condition))
        .getOrElse(storage
          .readSegments(name, segs.take(1), meta.columns, None,
            meta.columnTypes)
          .filter(condition).limit(0))
    else
      storage
        .readSegments(name, kept, meta.columns, None, meta.columnTypes)
        .filter(condition)
  }

  /** Point-in-time training-set join (reference: store.py:261-308):
    * for each (entity, ts) spine row, the latest feature row at or before
    * ts; non-matches dropped, duplicate spine rows duplicated.
    *
    * When the spine is a small local relation the driver holds
    * ([[FeatureStore.localRowBound]]) and the table's current segments
    * record at most [[FeatureStore.LocalReadMaxRows]] rows, the
    * driver kernel ([[PointInTime.asOfJoinLocal]]) answers: an eager
    * snapshot taken at call time, which collects with no Spark job.
    * Otherwise the result is the Spark kernel's lazy frame
    * ([[PointInTime.asOfJoin]]).
    */
  def getTrainingSet(
      name: String,
      entityTimestamps: DataFrame,
      columns: Option[Seq[String]] = None,
      maxAgeSeconds: Option[Long] = None): DataFrame = {
    val meta = resolveMeta(name)
    trainingOnDriver(meta, entityTimestamps, columns, maxAgeSeconds, LocalReadMaxRows)
      .getOrElse(trainingOnSpark(meta, entityTimestamps, columns, maxAgeSeconds))
  }

  /** [[getTrainingSet]] through its Spark kernel, whatever the size. */
  private[graft] def getTrainingSetOnSpark(
      name: String,
      entityTimestamps: DataFrame,
      columns: Option[Seq[String]] = None,
      maxAgeSeconds: Option[Long] = None): DataFrame =
    trainingOnSpark(resolveMeta(name), entityTimestamps, columns, maxAgeSeconds)

  /** [[getTrainingSet]] through its driver kernel, whatever the size. */
  private[graft] def getTrainingSetOnDriver(
      name: String,
      entityTimestamps: DataFrame,
      columns: Option[Seq[String]] = None,
      maxAgeSeconds: Option[Long] = None): DataFrame =
    trainingOnDriver(resolveMeta(name), entityTimestamps, columns, maxAgeSeconds, Long.MaxValue)
      .getOrElse(throw new UnsupportedOperationException(
        s"no driver-side training set for table '$name'"))

  private def trainingOnSpark(
      meta: TableMeta,
      spine: DataFrame,
      columns: Option[Seq[String]],
      maxAgeSeconds: Option[Long]): DataFrame =
    PointInTime.asOfJoin(
      spine,
      currentData(meta),
      columns = columns,
      tieBreakCols = Seq(IngestKeyCol),
      tableName = meta.name,
      maxAgeSeconds = maxAgeSeconds)

  private def trainingOnDriver(
      meta: TableMeta,
      spine: DataFrame,
      columns: Option[Seq[String]],
      maxAgeSeconds: Option[Long],
      maxRows: Long): Option[DataFrame] =
    for {
      _ <- localRowBound(spine)
      tables <- localTables(Seq(meta -> ""), maxRows)(m =>
        columns.getOrElse(PointInTime.dropInternal(m.columns)).filter(m.columns.contains))
      result <- PointInTime.asOfJoinLocal(spine, tables.head, columns, maxAgeSeconds,
        LocalRowsMaxBytes, tableName = meta.name)
    } yield result

  /** The current rows of each table (with the prefix its view columns
    * take) as the driver kernels read them: the entity, ts and ingest
    * key columns plus `cols` of it, read once through
    * [[VersionStorage.scanSegmentsLocal]]. None when a segment has no
    * catalog row count, when the tables record more than `maxRows`
    * rows in all, or when a column cannot be typed without Spark
    * ([[VersionStorage.localReadSchema]]).
    */
  private def localTables(tables: Seq[(TableMeta, String)], maxRows: Long)(
      cols: TableMeta => Seq[String]): Option[Seq[PointInTime.LocalTable]] = {
    val segs = tables.map { case (m, _) => m.segmentsOf(m.version) }
    val rows = tables.zip(segs).map { case ((m, _), ss) => recordedRows(m, ss) }
    if (rows.exists(_.isEmpty) || !within(Some(rows.flatten.sum), maxRows)) None
    else tables.zip(segs).foldLeft(Option(Vector.empty[PointInTime.LocalTable])) {
      case (acc, ((m, prefix), ss)) => for {
        done <- acc
        schema <- storage.localReadSchema(m.name, ss,
          (Seq(EntityIdColumn, TimestampColumn, IngestKeyCol) ++ cols(m)).distinct,
          m.columnTypes)
      } yield done :+ PointInTime.LocalTable(m.columns :+ IngestKeyCol, schema,
        f => storage.scanSegmentsLocal(m.name, ss, schema, None, Nil)((_, row) => f(row)),
        prefix, Seq(IngestKeyCol))
    }
  }

  /** Multi-table training view: left as-of join each named table onto
    * the spine in order, feature columns prefixed `<table>_`. Every
    * spine row survives (entities with no history in some table get
    * nulls there — the trainer decides the imputation, not the store).
    * All tables go through one [[PointInTime.asOfJoinLeftAll]]: one
    * entity-keyed shuffle and one sort for the whole view, since every
    * stored table has the same timestamp type (tables whose entity
    * types differ each start a new pass). It chooses its kernel as
    * [[getTrainingSet]] does, the row bound counting every table's
    * rows: small views are eager snapshots from
    * [[PointInTime.asOfJoinLeftAllLocal]].
    */
  def getFeatureView(spine: DataFrame, names: Seq[String]): DataFrame = {
    val metas = viewTables(names)
    viewOnDriver(spine, metas, LocalReadMaxRows).getOrElse(viewOnSpark(spine, metas))
  }

  /** [[getFeatureView]] through its Spark kernel, whatever the size. */
  private[graft] def getFeatureViewOnSpark(spine: DataFrame, names: Seq[String]): DataFrame =
    viewOnSpark(spine, viewTables(names))

  /** [[getFeatureView]] through its driver kernel, whatever the size. */
  private[graft] def getFeatureViewOnDriver(spine: DataFrame, names: Seq[String]): DataFrame =
    viewOnDriver(spine, viewTables(names), Long.MaxValue)
      .getOrElse(throw new UnsupportedOperationException(
        s"no driver-side feature view of ${names.mkString(", ")}"))

  private def viewTables(names: Seq[String]): Seq[TableMeta] = {
    if (names.isEmpty)
      throw new FeatureValidationError("getFeatureView needs at least one table")
    names.map(resolveMeta)
  }

  private def viewOnSpark(spine: DataFrame, metas: Seq[TableMeta]): DataFrame =
    PointInTime.asOfJoinLeftAll(spine, metas.map(m => PointInTime.ViewTable(
      currentData(m), s"${m.name}_", Seq(IngestKeyCol))))

  private def viewOnDriver(
      spine: DataFrame, metas: Seq[TableMeta], maxRows: Long): Option[DataFrame] =
    for {
      _ <- localRowBound(spine)
      tables <- localTables(metas.map(m => m -> s"${m.name}_"), maxRows)(m =>
        PointInTime.dropInternal(m.columns))
      result <- PointInTime.asOfJoinLeftAllLocal(spine, tables, LocalRowsMaxBytes)
    } yield result

  /** Windowed aggregation features over the stored table: for each
    * spine row (entity, t), aggregates of the table's rows inside
    * (t − window, t] — see [[WindowFeatures.windowAggJoin]]. The
    * training-set twin of [[getTrainingSet]] for "activity in the last
    * N days" features.
    */
  def getWindowFeatures(
      name: String,
      entityTimestamps: DataFrame,
      windowSeconds: Long,
      aggs: Seq[WindowFeatures.WindowAgg]): DataFrame = {
    val meta = resolveMeta(name)
    val inputs = aggs.filter(_.fn != "rows").map(_.input).distinct
    Validation.validateColumns(inputs, meta.columns, name)
    WindowFeatures.windowAggJoin(
      entityTimestamps, currentData(meta), windowSeconds, aggs)
  }

  /** The k most recent rows per requested entity at or before
    * `timestamp`, each tagged with its 1-based `recency_rank` — the
    * "last N interactions" read ([[PointInTime.latestKPerEntity]]
    * under the store's PIT cutoff and deterministic tie-break). Chooses
    * its kernel as [[get]] does: small reads are eager snapshots.
    */
  def getRecent(
      name: String,
      entityIds: Seq[Any],
      timestamp: Any,
      k: Int): DataFrame = {
    val p = recentRead(name, entityIds, timestamp, k)
    (if (p.small) latestOnDriver(p, None, k, ranked = true) else None)
      .getOrElse(recentOnSpark(p, k))
  }

  /** [[getRecent]] through its Spark kernel, whatever the read's size. */
  private[graft] def getRecentOnSpark(
      name: String, entityIds: Seq[Any], timestamp: Any, k: Int): DataFrame =
    recentOnSpark(recentRead(name, entityIds, timestamp, k), k)

  /** [[getRecent]] through its driver kernel, whatever the read's size. */
  private[graft] def getRecentOnDriver(
      name: String, entityIds: Seq[Any], timestamp: Any, k: Int): DataFrame =
    latestOnDriver(recentRead(name, entityIds, timestamp, k), None, k, ranked = true)
      .getOrElse(throw new UnsupportedOperationException(
        s"no driver-side read for table '$name'"))

  private def recentRead(
      name: String, entityIds: Seq[Any], timestamp: Any, k: Int): FeatureStore.PointRead = {
    val p = pointRead(name, entityIds, timestamp, None)
    if (k < 1)
      throw new FeatureValidationError(s"k must be >= 1, got $k")
    p
  }

  /** Gap-based sessions over the stored table — see
    * [[WindowFeatures.sessionize]]; the store supplies its internal
    * ingest key as the deterministic within-timestamp tie-break.
    */
  def getSessions(name: String, gapSeconds: Long): DataFrame = {
    val meta = resolveMeta(name)
    WindowFeatures.sessionize(
      currentData(meta), gapSeconds, tieBreakCols = Seq(IngestKeyCol))
  }

  /** Per-column data-quality profile of the stored table's current
    * version — see [[graft.ops.Profiling.profile]]. Defaults to every
    * registered column; `exactDistinct = false` switches distinct
    * counts to one-pass HLL sketches for very large tables.
    */
  def profileTable(
      name: String,
      columns: Option[Seq[String]] = None,
      exactDistinct: Boolean = true): DataFrame = {
    val meta = resolveMeta(name)
    // plain membership, not validateColumns: profiling entity_id /
    // timestamp (cardinality, time range) is legitimate here
    columns.foreach { cs =>
      val unknown = cs.filterNot(meta.columns.contains)
      if (unknown.nonEmpty)
        throw new FeatureValidationError(
          s"Columns not found in table '$name': ${unknown.mkString(", ")}")
    }
    val cols = columns.getOrElse(meta.columns)
    graft.ops.Profiling.profile(currentData(meta), cols, exactDistinct)
  }

  /** Retrieve the current or a historical snapshot
    * (reference: store.py:377-401).
    */
  def getVersion(name: String, version: Int): DataFrame = {
    val meta0 = resolveMeta(name)
    // version-level adopt-on-miss: another session may have committed
    // this version after ours pinned its snapshot — same retry as the
    // table-level miss, only on the would-fail path
    val meta =
      if (meta0.versions.contains(version)) meta0
      else {
        refreshTable(name)
        catalog.getOrThrow(name)
      }
    val cols = meta.versions.getOrElse(
      version,
      throw new FeatureTableNotFoundError(
        s"Version $version of table '$name' not found. " +
          s"Available versions: ${meta.versions.keys.mkString(", ")}"))
    storage.readSegments(name, meta.segmentsOf(version), cols,
      columnTypes = meta.columnTypes)
  }

  /** TIMESTAMP AS OF time travel: the snapshot that was CURRENT at the
    * given wall-clock instant — the newest retained version whose
    * commit time is at or before `timestamp` (Delta's `TIMESTAMP AS
    * OF`, the companion of the version-addressed [[getVersion]]).
    * Distinct from [[get]]'s DATA-time cutoff: this axis is when
    * versions were registered, not what the rows' timestamps say.
    *
    * Raises [[FeatureTableNotFoundError]] when the instant predates
    * every retained version's commit (including versions pruned past
    * `maxVersions` — same availability as [[getVersion]]). Versions
    * from catalogs that predate commit-time tracking carry no time and
    * cannot be addressed on this axis; the error says so.
    */
  def getVersionAsOf(name: String, timestamp: Any): DataFrame =
    getVersion(name, resolveVersionAsOf(name, timestamp))

  /** The newest retained version committed at or before `timestamp` —
    * the TIMESTAMP-AS-OF resolution by itself (used by time-travel
    * reads and the streaming source's `startingTimestamp`).
    */
  def resolveVersionAsOf(name: String, timestamp: Any): Int = {
    val meta = resolveMeta(name)
    val cutoff = FeatureStore.normalizeTimestamp(timestamp).getTime
    val timed = meta.versionTimes.filter { case (v, _) => meta.versions.contains(v) }
    val hit = timed.filter { case (_, t) => t <= cutoff }.keys.maxOption
    hit.getOrElse {
      val range =
        if (timed.isEmpty)
          "no retained version has a recorded commit time " +
            "(catalog predates commit-time tracking)"
        else
          s"earliest retained commit is at epoch-millis ${timed.values.min}"
      throw new FeatureTableNotFoundError(
        s"Table '$name' has no version committed at or before " +
          s"$timestamp: $range")
    }
  }

  /** Register the table as session TEMP VIEWS for SQL-first consumers:
    * `name` resolves to the current version and `name_v<k>` to every
    * retained version, all through the catalog's manifests (chained
    * segments and schema drift included). Views capture the version
    * that is current NOW — re-call after new registrations to refresh.
    * The table name must be a valid SQL identifier (it is used
    * verbatim as the view name).
    */
  def createOrReplaceViews(name: String): Unit = {
    val meta = resolveMeta(name)
    getVersion(name, meta.version).createOrReplaceTempView(name)
    meta.versions.keys.foreach { v =>
      getVersion(name, v).createOrReplaceTempView(s"${name}_v$v")
    }
  }

  /** Acquire a READ LEASE on `name`: until released (or expired past
    * vacuum's TTL), [[vacuum]] will not physically delete any retired
    * path of the table — the protection for readers that outlive the
    * grace window. Prefer the [[withReadLease]] bracket; use this pair
    * for multi-statement flows that span call sites. The table must
    * exist when leased (leasing is for readers, who need it to exist
    * anyway); the lease then protects across a concurrent delete.
    */
  def acquireReadLease(name: String): String = {
    resolveMeta(name)
    ReadLeases.acquire(root, name)
  }

  /** Release a read lease; unknown or already-expired ids are no-ops. */
  def releaseReadLease(leaseId: String): Unit =
    ReadLeases.release(root, leaseId)

  /** Heartbeat a held lease ([[ReadLeases.renew]]): resets its age so a
    * read longer than vacuum's lease TTL keeps its protection — renew
    * at least every TTL/2. Returns false when the lease is gone
    * (released or already purged as presumed-crashed): protection has
    * LAPSED and the caller should re-acquire or abort.
    */
  def renewReadLease(leaseId: String): Boolean =
    ReadLeases.renew(root, leaseId)

  /** Run `body` over the table's CURRENT-version DataFrame under a read
    * lease: however long the body runs — past the vacuum grace window,
    * across a concurrent `delete` of the table — its parquet files
    * survive until the bracket exits (then the next vacuum pass
    * reclaims them normally). The long-running-training-job read shape.
    *
    * `renewEveryMillis > 0` auto-renews the lease on a daemon heartbeat
    * (pass ~TTL/2 or less), so a body that outlives vacuum's lease TTL
    * keeps its protection without giving up crashed-reader reclamation
    * — a process that dies stops heartbeating and its lease ages out
    * normally. A failed renew (lease purged by an aggressive vacuum
    * schedule) stops the heartbeat; the body keeps running and fails
    * only if its files are actually reclaimed.
    */
  def withReadLease[A](name: String, renewEveryMillis: Long = 0L)(
      body: DataFrame => A): A = {
    val meta = resolveMeta(name)
    val lease = ReadLeases.acquire(root, name)
    val heartbeat = Option.when(renewEveryMillis > 0L) {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, s"graft-lease-renew-$lease")
          t.setDaemon(true)
          t
        })
      ex.scheduleAtFixedRate(
        () => if (!ReadLeases.renew(root, lease)) throw new RuntimeException(
          "lease gone — stop heartbeat"), // cancels this schedule only
        renewEveryMillis, renewEveryMillis,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      ex
    }
    try body(getVersion(name, meta.version))
    finally {
      heartbeat.foreach(_.shutdownNow())
      ReadLeases.release(root, lease)
    }
  }

  /** Storage hygiene with SNAPSHOT ISOLATION for readers: physical
    * deletion is TWO-PHASE. [[delete]] and version pruning only RETIRE
    * paths (logical removal is immediate; the parquet files stay), and
    * `vacuum` physically deletes a retired path once `graceMillis` has
    * passed since its retirement — so a long-running query holding a
    * DataFrame over a deleted table or pruned version is never robbed
    * of its files mid-scan (the reference gets this from pandas copies,
    * store.py:393-396; Delta/Iceberg from a VACUUM retention window).
    *
    * Stranded paths — version dirs no retained manifest references and
    * table dirs the catalog doesn't know, left by crashes between a
    * write and its catalog commit — are ENROLLED into the retire ledger
    * on the pass that discovers them and deleted on a later pass after
    * the same grace window, which also protects another process's
    * in-flight register (its directory exists before its catalog
    * commit).
    *
    * Liveness is judged against the UNION of this session's catalog and
    * the on-disk catalog reloaded at call time, so a store instance
    * opened before another writer registered new tables/versions never
    * classifies that writer's live data as stranded. A retired path
    * that became live again (delete + re-register reuses version
    * numbers from 1) is dropped from the ledger, never deleted.
    *
    * READ LEASES ([[acquireReadLease]]/[[withReadLease]]) harden the
    * grace window into a guarantee: a retired path whose table holds an
    * active lease is kept regardless of age. Leases older than
    * `leaseTtlMillis` are presumed crashed and purged (reclamation must
    * not be wedged forever by a dead reader) — a legitimately
    * longer-than-TTL read HEARTBEATS instead ([[renewReadLease]], or
    * `withReadLease(name, renewEveryMillis = ttl/2)`), which resets the
    * lease's age without weakening crash recovery; raising the TTL on
    * the vacuum schedule remains the blunt alternative. Lease checks
    * re-read the lease directory immediately before every physical
    * delete, so a lease acquired or renewed mid-pass still protects.
    *
    * Returns the root-relative paths physically deleted by THIS pass.
    * `graceMillis = 0` collapses to single-phase immediate reclamation
    * (retire and delete in one call) for tests and offline maintenance.
    */
  def vacuum(
      graceMillis: Long = FeatureStore.DefaultRetireGraceMillis,
      leaseTtlMillis: Long = FeatureStore.DefaultLeaseTtlMillis): Seq[String] =
    this.synchronized {
      val now = System.currentTimeMillis()
      val allLeases = ReadLeases.load(root)
      val (activeLeases, staleLeases) =
        allLeases.partition(l => now - l.acquiredAt < leaseTtlMillis)
      ReadLeases.purge(root, staleLeases.map(_.id))
      ReadLeases.sweepTmp(root, leaseTtlMillis) // crashed-acquire leftovers
      val leased: Set[String] = activeLeases.map(_.name).toSet
      val diskMetas = catalogIO.load(root)
      val names =
        (catalog.all.map(_.name) ++ diskMetas.map(_.name)).distinct
      val metasByName: Map[String, Seq[TableMeta]] = names.map { n =>
        n -> (catalog.get(n).toSeq ++ diskMetas.filter(_.name == n))
      }.toMap
      val live: Map[String, Set[Int]] = metasByName.map { case (n, metas) =>
        n -> metas
          .flatMap(m => m.versions.keys.toSeq.flatMap(m.segmentsOf))
          .toSet
      }
      val ledger = RetireLedger.load(root)
      val ledgered = ledger.map(e => (e.name, e.version)).toSet
      val stranded = scala.collection.mutable.ArrayBuffer.empty[RetiredPath]
      val tableDirs = storage.listTableDirs()
      tableDirs.foreach { t =>
        live.get(t) match {
          case Some(liveSegs) =>
            // a version COMMITTED in the transaction log above the prune
            // high-water is durable even if no catalog save recorded it
            // yet (its writer crashed after the commit point) — protect
            // it and its manifest, exactly as an unread Delta commit
            // survives VACUUM
            val pt = metasByName(t).map(_.prunedThrough).maxOption.getOrElse(0)
            val committedLive = storage.committedMeta(t).collect {
              case (v, cm) if v > pt && !liveSegs.contains(v) =>
                cm.segments.toSet + v
            }.flatten.toSet
            storage.listVersionDirs(t)
              .filterNot(liveSegs ++ committedLive)
              .filterNot(v => ledgered((t, Some(v))))
              .foreach(v => stranded += RetiredPath(t, Some(v), now))
          case None =>
            // creation-crash durability: cols-bearing commits newer
            // than any whole-table retirement are durable even though
            // no catalog knows the table yet (the marker is the commit
            // point; reconciliation will surface it) — never strand them
            val retiredAt = ledger
              .filter(e => e.name == t && e.version.isEmpty)
              .map(_.retiredAt).maxOption
            val durable = storage.committedMeta(t).exists { case (_, cm) =>
              cm.columns.nonEmpty && cm.committedAt > 0 &&
                retiredAt.forall(cm.committedAt > _)
            }
            if (!durable && !ledgered((t, None)))
              stranded += RetiredPath(t, None, now)
        }
        // crashed-writer leftovers in the log (reservations, orphaned
        // marker tmps) age out under the same grace
        storage.sweepUncommitted(t, graceMillis)
      }
      // and so do the temp files of crashed catalog saves
      catalogIO.sweepTemp(root, graceMillis)
      val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
      // TOCTOU guard: the pass-start lease snapshot above decides the
      // cheap keep path, but a lease acquired AFTER the snapshot (or a
      // renew racing this pass) must still protect — so every physical
      // delete re-reads the lease directory immediately before acting.
      // Deletes are rare and the directory is tiny, so the re-read is
      // O(leases) driver I/O per reclaimed path, not per pass. The
      // remaining window is acquire-vs-delete at filesystem granularity;
      // [[acquireReadLease]] closes it by requiring the table to exist
      // at acquire time (a retired path older than the grace window has
      // no live table to lease).
      def leasedNow(name: String): Boolean = {
        val t = System.currentTimeMillis()
        ReadLeases.load(root).exists(l =>
          l.name == name && t - l.acquiredAt < leaseTtlMillis)
      }
      val remaining = (ledger ++ stranded).filter { e =>
        val isLive = e.version match {
          case Some(v) => live.get(e.name).exists(_.contains(v))
          case None    => live.contains(e.name)
        }
        if (isLive) false // resurrected path: drop the entry, keep the data
        else if (leased(e.name)) true // active reader lease: keep path + entry
        else if (now - e.retiredAt >= graceMillis) {
          if (leasedNow(e.name)) true // lease landed after the pass snapshot
          else {
            e.version match {
              case Some(v) =>
                storage.deleteVersion(e.name, v); deleted += s"${e.name}/v=$v"
              case None =>
                storage.deleteTable(e.name); deleted += e.name
            }
            false
          }
        } else true
      }
      RetireLedger.save(root, remaining)
      deleted.toSeq
    }

  def listTables(): Seq[FeatureTableInfo] = catalog.all.map(_.info)

  /** Per-version history of a table, oldest first — the DESCRIBE
    * HISTORY surface: retained version numbers with their column lists
    * and segment manifests (a chained manifest means the version was
    * built by O(delta) appends; a single segment means a full
    * snapshot/compaction). Versions pruned past `maxVersions` are
    * absent — exactly the set [[getVersion]] accepts.
    */
  def getTableHistory(name: String): Seq[VersionInfo] = {
    val meta = resolveMeta(name)
    meta.versions.keys.toSeq.sorted.map { v =>
      VersionInfo(v, meta.versions(v), meta.segmentsOf(v),
        isCurrent = v == meta.version,
        committedAt = meta.versionTimes.get(v),
        operation = meta.versionOps.get(v),
        rows = meta.versionRows.get(v))
    }
  }

  /** Add a CHECK constraint (Delta's `ALTER TABLE ADD CONSTRAINT ...
    * CHECK` shape): after this, every data-adding write — register,
    * append, upsert, their streaming batch forms — must leave no row
    * where `conditionSql` evaluates FALSE (NULL passes, standard SQL),
    * or it aborts with [[FeatureValidationError]] before committing.
    * Enforcement rides the write job's own metrics: zero extra passes
    * per write. Adding validates the EXISTING current data in one scan
    * and fails if any row violates, so a present constraint always
    * means "all data satisfies it". Constraint changes are catalog
    * metadata (no version minted); they travel in subsequent commit
    * markers so marker-only catalog reconciliation keeps enforcing.
    */
  def addConstraint(
      name: String,
      constraintName: String,
      conditionSql: String): FeatureTableInfo = this.synchronized {
    refreshTable(name)
    val meta = catalog.getOrThrow(name)
    if (constraintName.trim.isEmpty)
      throw new FeatureValidationError("Constraint name must be non-empty")
    if (meta.constraints.contains(constraintName))
      throw new FeatureValidationError(
        s"Table '$name' already has a constraint '$constraintName' " +
          s"(`${meta.constraints(constraintName)}`); drop it first")
    val current = currentData(meta).select(meta.columns.map(col): _*)
    // filter() analysis enforces that the condition resolves AND is
    // boolean; unknown columns/types fail here with the standard error
    val violations =
      try current.filter(not(coalesce(expr(conditionSql), lit(true)))).count()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new FeatureValidationError(
            s"CHECK constraint '$constraintName' (`$conditionSql`) is not a " +
              s"valid boolean condition over ${meta.columns.mkString("[", ", ", "]")}: " +
              e.getMessage)
      }
    if (violations > 0)
      throw new FeatureValidationError(
        s"Cannot add CHECK constraint '$constraintName' (`$conditionSql`) to " +
          s"'$name': $violations existing rows violate it")
    val updated =
      meta.copy(constraints = meta.constraints + (constraintName -> conditionSql))
    catalog.put(updated)
    catalogIO.save(root, Seq(updated))
    updated.info
  }

  /** Drop a CHECK constraint; false when it doesn't exist. */
  def dropConstraint(name: String, constraintName: String): Boolean =
    this.synchronized {
      val meta = catalog.getOrThrow(name)
      if (!meta.constraints.contains(constraintName)) false
      else {
        val dropped = meta.copy(constraints = meta.constraints - constraintName)
        catalog.put(dropped)
        catalogIO.save(root, Seq(dropped))
        true
      }
    }

  /** The table's CHECK constraints, name → SQL condition. */
  def getConstraints(name: String): Map[String, String] =
    catalog.getOrThrow(name).constraints.toMap

  /** The current schema as a StructType, from the catalog's type
    * record — no data files touched (the schema of a table whose data
    * lives on slow/remote storage costs one catalog lookup). Falls
    * back to the data read only for legacy catalogs without a full
    * type record.
    */
  def getTableSchema(name: String): org.apache.spark.sql.types.StructType = {
    val meta = resolveMeta(name)
    typedEmptyFrame(meta)
      .map(_.schema)
      .getOrElse(currentData(meta).select(meta.columns.map(col): _*).schema)
  }

  def getTableInfo(name: String): FeatureTableInfo =
    resolveMeta(name).info

  /** Per-segment (row count, column stats) of the CURRENT version,
    * when every current segment recorded its row count — the metadata
    * the V2 aggregate pushdown answers COUNT / MIN / MAX from in
    * O(#segments) driver work, zero data reads
    * ([[graft.sources.GraftScanBuilder]]). None when any segment
    * predates row-count stats (the caller falls back to a real scan).
    * Stats may legitimately lack a column entry or a bound (NaN,
    * over-long string, past the column cap) — the CALLER must refuse
    * per-aggregate on those, this surface only guarantees the row
    * counts.
    */
  def currentSegmentStats(
      name: String): Option[Seq[(Long, Map[String, ColStat])]] =
    this.synchronized {
      val meta = resolveMeta(name)
      val segs = meta.segments.getOrElse(meta.version, Seq.empty)
      val entries = segs.map(sg =>
        meta.segRows.get(sg).map(r =>
          (r, meta.segColStats.getOrElse(sg, Map.empty[String, ColStat]))))
      if (entries.forall(_.isDefined)) Some(entries.flatten) else None
    }

  /** Drop a table and all versions; returns false (never throws) when the
    * table does not exist (reference: store.py:362-375).
    *
    * Logical removal only: the table leaves the catalog immediately
    * (every subsequent lookup raises, matching the reference), but the
    * parquet files are RETIRED, not deleted — a reader that obtained a
    * DataFrame before the delete completes its scan correctly, exactly
    * as the reference's returned pandas copies survive deletion
    * (store.py:393-396). [[vacuum]] reclaims the files after the grace
    * window.
    *
    * Multi-writer caveat: deletion is NOT a logged commit, so a
    * concurrent register racing the delete from another session can
    * land one more version and resurrect the table
    * — the one unarbitrated cross-writer operation (see the stance doc
    * on [[CatalogPersistence]]). Coordinate deletes out of band, or
    * re-check `tableNames` after quiescing writers.
    */
  def delete(name: String): Boolean = this.synchronized {
    // another writer may have created the table after this session
    // opened — adopt before deciding existence
    adoptDiskMeta(name)
    catalog.remove(name) match {
      case Some(_) =>
        RetireLedger.record(
          root, Seq(RetiredPath(name, None, System.currentTimeMillis())))
        // tombstone: merge-on-save would otherwise resurrect the table
        // from the shared on-disk catalog
        catalogIO.save(root, Seq.empty, removed = Seq(name))
        true
      case None => false
    }
  }

  /** Rename a table — catalog move plus ONE physical directory rename
    * ([[VersionStorage.renameTable]]): the full version lineage,
    * change feed and any colocated txn log move as a metadata
    * operation, zero bytes copied at any table size. All history
    * (versions, time travel, CDF, constraints) survives under the new
    * name. The old name's catalog entry is tombstoned so other
    * sessions' [[refresh]] adopts the rename; a table registered later
    * at the old name starts a fresh lineage, exactly as after
    * [[delete]]. Rename is a whole-table exclusive operation: run it
    * with no concurrent writers on this table (concurrent writers on
    * OTHER tables of the root are unaffected).
    */
  def renameTable(from: String, to: String): Unit = this.synchronized {
    if (to.isEmpty || to.startsWith("_") || to.contains("/"))
      throw new FeatureValidationError(
        s"invalid table name '$to' (must be non-empty, not start with " +
          "'_', and contain no '/')")
    adoptDiskMeta(from); adoptDiskMeta(to)
    val meta = catalog.getOrThrow(from)
    if (catalog.get(to).isDefined)
      throw new FeatureValidationError(
        s"cannot rename '$from' to '$to': table '$to' already exists")
    storage.renameTable(from, to)
    catalog.remove(from)
    val renamed = meta.copy(name = to, updatedAt = System.currentTimeMillis())
    catalog.put(renamed)
    // same two-phase bookkeeping as delete: ledger evidence + tombstone
    // let other sessions distinguish the adopted rename from a
    // mid-commit save of the old name
    RetireLedger.record(
      root, Seq(RetiredPath(from, None, System.currentTimeMillis())))
    catalogIO.save(root, Seq(renamed), removed = Seq(from))
  }

  // ---------------------------------------------------------------- private

  /** Current-version DataFrame including the internal tie-break column,
    * over `segments` (default: the whole manifest). A known as-of
    * cutoff partition-prunes each segment's scan on the derived period
    * column ([[Storage.read]]); the point reads pass the segments their
    * filter leaves after catalog-side data skipping
    * ([[TableMeta.segColStats]], [[pruneSegments]]) — the
    * version-dimension analog of the reference author's
    * partition-pruning wish (reference README.md:167). Skipping is
    * purely an IO saving, never a semantic change.
    */
  private def currentData(
      meta: TableMeta,
      segments: Seq[Int] = Nil,
      asOf: Option[Timestamp] = None): DataFrame =
    storage.readSegments(meta.name,
      if (segments.isEmpty) meta.segmentsOf(meta.version) else segments,
      meta.columns :+ IngestKeyCol, asOf, meta.columnTypes)

  /** Null-safe key-addressed join on (entity_id, timestamp) — the
    * documented key-addressed contract ("every current row whose key
    * appears in df" includes rows with NULL key components). ONE shared
    * definition with the DML sibling carry: [[KeyJoins]].
    */
  private def joinKeysNullSafe(
      rows: DataFrame, keys: DataFrame, joinType: String): DataFrame =
    KeyJoins.onKeys(rows, keys, Seq(EntityIdColumn, TimestampColumn), joinType)

  /** One aggregate over a key frame: [0] its row count, [1..4] the
    * entity and timestamp min/max, [5..6] each key column's null count
    * — what [[keyRangeOf]] needs.
    */
  private def keyBoundAggs: Seq[Column] = Seq(
    count(lit(1)),
    min(col(EntityIdColumn)), max(col(EntityIdColumn)),
    min(col(TimestampColumn)), max(col(TimestampColumn)),
    count(when(col(EntityIdColumn).isNull, 1)),
    count(when(col(TimestampColumn).isNull, 1)))

  /** [[keyBoundAggs]]' row computed on the driver from key rows
    * (entity of type `entityType`, timestamp), followed by `extra`:
    * min and max as Spark's `min` and `max` order values, nulls
    * skipped.
    */
  private def localKeyBounds(
      keys: Seq[InternalRow], entityType: DataType, extra: Long*): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder}
    def range(i: Int, t: DataType): Seq[Any] = {
      val present = keys.filterNot(_.isNullAt(i))
      if (present.isEmpty) Seq(null, null)
      else {
        val ord = new InterpretedOrdering(Seq(SortOrder(BoundReference(i, t, nullable = true), Ascending)))
        val toScala = CatalystTypeConverters.createToScalaConverter(t)
        Seq(present.min(ord), present.max(ord)).map(r => toScala(r.get(i, t)))
      }
    }
    org.apache.spark.sql.Row.fromSeq(Seq(keys.size.toLong) ++
      range(0, entityType) ++ range(1, TimestampType) ++
      Seq(keys.count(_.isNullAt(0)).toLong, keys.count(_.isNullAt(1)).toLong) ++ extra)
  }

  /** The rows of `df` on the driver: [[localRows]], else one collect. */
  private def collectRows(df: DataFrame): Seq[InternalRow] =
    localRows(df).getOrElse(bridge.collectInternal(df))

  /** A local relation of `rows` in the layout of `schema`, every column
    * nullable as a file read gives it.
    */
  private def localFrame(schema: StructType, rows: Seq[InternalRow]): DataFrame =
    bridge.ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      schema.map(f =>
        org.apache.spark.sql.catalyst.expressions.AttributeReference(f.name, f.dataType)()),
      rows))

  /** The resolved key-range skip condition for a [[keyBoundAggs]] row;
    * None (prune nothing) when a key column is all-null or the range
    * does not resolve against the table.
    */
  private def keyRangeOf(
      name: String,
      meta: TableMeta,
      kb: org.apache.spark.sql.Row): Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    (for {
      loE <- Option(kb.get(1)); hiE <- Option(kb.get(2))
      loT <- Option(kb.get(3)); hiT <- Option(kb.get(4))
    } yield scala.util.Try(resolveCondition(name, meta,
      keyRangeCondition(loE, hiE, loT, hiT,
        kb.getLong(5) > 0L, kb.getLong(6) > 0L)))
      .toOption.flatten)
      .flatten

  /** Key-range segment-skip condition for a key frame with bounds
    * `(loE, hiE, loT, hiT)` (nulls skipped by min/max): each dimension
    * must ALSO admit IS NULL when the key frame contains a null on it —
    * under null-safe key addressing a segment whose non-null values sit
    * outside the bounds can still hold addressed null-key rows, and the
    * column stats know per-segment null counts, so segments without
    * nulls stay skippable.
    */
  private def keyRangeCondition(
      loE: Any, hiE: Any, loT: Any, hiT: Any,
      nullE: Boolean, nullT: Boolean): Column = {
    def dim(c: Column, lo: Any, hi: Any, withNull: Boolean): Column = {
      val base = c.between(lit(lo), lit(hi))
      if (withNull) base || c.isNull else base
    }
    dim(col(EntityIdColumn), loE, hiE, nullE) &&
      dim(col(TimestampColumn), loT, hiT, nullT)
  }

  /** Cast timestamp + attach the deterministic ingest key
    * (reference: store.py:472-486 casts and sorts; the physical sort
    * happens at write time in [[Storage]]). Unparseable timestamp values
    * are rejected rather than silently nulled — the reference's
    * `pd.to_datetime` raises, and a silently-null row would vanish from
    * every PIT read while still counting toward rowCount.
    */
  private def prepare(df: DataFrame): DataFrame = {
    val tsIsTemporal = df.schema(TimestampColumn).dataType match {
      case _: org.apache.spark.sql.types.TimestampType    => true
      case _: org.apache.spark.sql.types.TimestampNTZType => true
      case _: org.apache.spark.sql.types.DateType         => true
      case _                                              => false
    }
    if (!tsIsTemporal) {
      val bad = df.filter(
        col(TimestampColumn).isNotNull &&
          col(TimestampColumn).cast(TimestampType).isNull)
      if (!bad.isEmpty)
        throw new FeatureValidationError(
          s"Column '$TimestampColumn' contains values that cannot be cast to timestamp")
    }
    df.withColumn(TimestampColumn, col(TimestampColumn).cast(TimestampType))
      .withColumn(IngestKeyCol, xxhash64(df.columns.map(col): _*))
  }

  /** Keep the newest `maxVersions` snapshots, current counting as one
    * (reference: store.py:585-599). Segment-aware: a dropped VERSION
    * only frees its storage directory when no RETAINED version's
    * manifest still references that segment — an append lineage shares
    * its base segments across versions, and deleting a shared segment
    * would corrupt every retained version built on it. Freed segments
    * are RETIRED (two-phase, see [[vacuum]]) so readers mid-query over
    * a just-pruned version keep their files until the grace window
    * passes.
    */
  private def prune(meta: TableMeta): TableMeta = {
    val all = meta.versions.keys.toSeq.sorted
    val excess = all.dropRight(maxVersions)
    val retained = all.takeRight(maxVersions)
    // a segment is freed exactly when its LAST referencing version
    // leaves the window: referenced-before minus referenced-after
    val before = all.flatMap(meta.segmentsOf).toSet
    val after = retained.flatMap(meta.segmentsOf).toSet
    val freed = before -- after
    val now = System.currentTimeMillis()
    RetireLedger.record(
      root,
      freed.toSeq.sorted.map(v => RetiredPath(meta.name, Some(v), now)))
    meta.copy(
      versions = meta.versions -- excess,
      segments = meta.segments -- excess,
      segStats = meta.segStats -- freed,
      segRows = meta.segRows -- freed,
      segColStats = meta.segColStats -- freed,
      versionTimes = meta.versionTimes -- excess,
      versionOps = meta.versionOps -- excess,
      versionRows = meta.versionRows -- excess,
      versionCdf = meta.versionCdf -- excess,
      // the prune high-water is what reconciliation uses to tell
      // "pruned" from "committed by a racing writer" — monotone
      prunedThrough = excess.foldLeft(meta.prunedThrough)(math.max))
  }
}

object FeatureStore {

  /** The largest point read, in catalog rows of the candidate segments,
    * that [[FeatureStore.get]] and [[FeatureStore.getRecent]] answer on
    * the driver. The Spark read's cost barely moves with size at these
    * scales; the driver read grows with the rows it decodes. Measured on
    * a shared 4-core host (local[4], 2026-10-19), tables of two segments
    * of (long entity, timestamp, two longs) over 5,000 entities, medians
    * of the `get` and `getRecent` calls after four warm-up rounds (24
    * calls per point in the first case, 16 in the second):
    *   - 5 random entities: driver 57, 56, 77, 135, 212 ms against
    *     Spark 273, 210, 220, 275, 386 ms at 20 k, 100 k, 300 k, 1 M and
    *     2 M rows;
    *   - 100 entities spread over the whole key range, so parquet
    *     statistics skip little: driver 76, 110, 162, 186, 333 ms against
    *     Spark 283, 243, 260, 233, 278 ms at 100 k, 300 k, 600 k, 1 M
    *     and 2 M rows.
    * The bound sits below the second case's crossover (about 1.5 M).
    *
    * It also bounds [[FeatureStore.getTrainingSet]] and
    * [[FeatureStore.getFeatureView]] on the driver, in catalog rows of
    * every table of the call: their driver kernel streams each table
    * once and holds O(spine) rows, while the Spark kernel shuffles and
    * sorts every table row. Measured on the same host (local[4], the
    * benchmark's session settings, 2026-10-20) with a 5,000-row spine
    * over 20,000 long entities, a training set on one table of n rows
    * and a three-table view splitting n rows 60/15/25, medians of 5
    * calls after two warm-ups, driver against Spark kernel in ms:
    *   - narrow rows (entity, timestamp, two longs): training set 100/283,
    *     84/349, 170/899, 371/1942 and view 121/423, 131/437, 245/888,
    *     463/1883 at 100 k, 300 k, 1 M and 2 M rows;
    *   - wide rows (adding 16 doubles and a 55-character string):
    *     training set 241/883, 540/2186, 983/2894 and view 272/1024,
    *     601/1878, 1044/3268 at 300 k, 1 M and 2 M rows.
    * The driver kept a 3-5x lead up to 2 M rows, so the crossover sits
    * above the point reads' bound, which training calls share.
    */
  private[graft] val LocalReadMaxRows: Long = 1000000L

  /** The largest key-addressed mutation, in catalog rows of its
    * candidate segments plus its keys, that [[FeatureStore.registerUpsert]],
    * [[FeatureStore.registerRewrite]] and [[FeatureStore.deleteRowsByKeys]]
    * classify on the driver. Unlike a point read, the driver kernel
    * keeps rows: every matched row, and every row of each candidate
    * segment with a match, which it then hands back to Spark as local
    * relations; [[LocalRowsMaxBytes]] bounds what it holds. It reads on
    * one thread, so its cost grows with the candidates' rows faster
    * than Spark's. Measured, when it still wrote from one Spark task,
    * on a shared 4-core
    * host (local[4], the benchmark's session settings, 2026-10-19):
    * one segment of n rows over 5,000 long entities and 60 days,
    * "narrow" rows of a timestamp, a double and a long (40 bytes as
    * `UnsafeRow`s) and "wide" ones adding a 55-character string and 16
    * doubles (256 bytes); a 250-row upsert replacing existing keys and
    * a 100-key delete, medians of 3 calls after a warm-up call, driver
    * against Spark kernel in ms:
    *   - narrow upsert: 374/859, 412/973, 529/818, 657/716, 1079/880,
    *     2356/1203 at 10 k, 20 k, 40 k, 60 k, 100 k, 300 k rows;
    *     delete: 429/741, 397/747, 525/677, 618/586, 1113/767, 2562/1029;
    *   - wide upsert: 760/1766, 535/901, 782/967, 1065/1032, 2269/1955,
    *     4976/2433; delete: 648/1292, 525/701, 642/865, 947/925,
    *     2307/1706, 5676/2040.
    * Both widths cross near 55 k rows; the bound sits below. The 20 k,
    * 40 k and 60 k points ran alone; the others partly shared the host
    * with a compile and a test run (the wide 10 k point reads slow).
    */
  private[graft] val DriverMutationMaxRows: Long = 40000L

  /** The most bytes, in Spark's `UnsafeRow` form, of the rows the
    * driver holds for one commit: a key-addressed mutation's delta, keys
    * and the candidate rows it keeps, a local relation it writes
    * ([[DriverWriteMaxRows]]), and the segments a small compaction reads
    * to rewrite. A driver read past it stops and the Spark path runs,
    * so wide rows never pile up in driver memory; a local relation over
    * it is written by Spark, whose tasks must each stay well under
    * `spark.rpc.message.maxSize` (128 MiB by default). Time sets the
    * bound lower than memory does: in the measurements of
    * [[DriverMutationMaxRows]], 256-byte rows lost to Spark from about
    * 55 k rows classified (13 MiB), and wider rows cost the driver more
    * per row.
    */
  private[graft] val LocalRowsMaxBytes: Long = 8L << 20

  /** The largest input, in rows the store knows it holds (catalog
    * `segRows`, a local relation's rows), that a segment write takes on
    * the driver ([[VersionStorage.writeSmall]]): evaluated, sorted and
    * encoded on one thread, against the period exchange's four tasks
    * and fixed cost of two Spark jobs. Measured on a shared 4-core host
    * (local[4], the benchmark's session settings, 2026-10-20) with the
    * rows of [[DriverMutationMaxRows]]' probe, medians of 5 writes after
    * two warm-ups, driver write against exchanged write in ms:
    *   - from a local relation, as an append of a local delta: narrow
    *     35/236, 57/232, 95/291, 178/458, 253/737 at 1 k, 10 k, 30 k,
    *     60 k and 100 k rows; wide 56/194, 109/292, 376/672, 657/1175,
    *     944/1803;
    *   - read from six parquet files, as a compaction reads its
    *     segments (on the driver through
    *     [[VersionStorage.scanSegmentsLocal]], against a Spark read):
    *     narrow 77/502, 112/406, 163/388, 232/379, 329/451; wide
    *     103/363, 187/398, 446/520, 747/698, 939/751.
    * Only file-backed wide rows cross, between 30 k and 60 k rows; the
    * bound sits below. Wide rows pass [[LocalRowsMaxBytes]] near 33 k
    * rows, where the driver's read stops and the exchange runs.
    */
  private[graft] val DriverWriteMaxRows: Long = 30000L

  /** A known row count of at most `bound`. */
  private def within(rows: Option[Long], bound: Long): Boolean =
    rows.exists(_ <= bound)

  /** The catalog rows of `segs`, when every one of them has a record. */
  private def recordedRows(meta: TableMeta, segs: Seq[Int]): Option[Long] =
    Option.when(segs.forall(meta.segRows.contains))(segs.map(meta.segRows).sum)

  /** The local relation `df` is built on, when its analyzed plan is
    * one under projections, filters and limits: known from the plan
    * Spark analyzed when the frame was made, with no job and no
    * optimizer pass; `df` holds at most its rows. None for any other
    * plan.
    */
  private def localRelationOf(
      df: DataFrame): Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @scala.annotation.tailrec
    def base(p: LogicalPlan): Option[LocalRelation] = p match {
      case l: LocalRelation => Option.when(!l.isStreaming)(l)
      case Project(_, c) => base(c)
      case Filter(_, c) => base(c)
      case GlobalLimit(_, c) => base(c)
      case LocalLimit(_, c) => base(c)
      case SubqueryAlias(_, c) => base(c)
      case _ => None
    }
    base(bridge.analyzed(df))
  }

  /** At most how many rows `df` holds, when it is built on a local
    * relation ([[localRelationOf]]) of at most [[LocalRowsMaxBytes]];
    * None otherwise, and for a larger relation, which no driver write
    * or driver kernel takes.
    */
  private[store] def localRowBound(df: DataFrame): Option[Long] =
    localRelationOf(df).filter(l =>
      l.data.size <= DriverWriteMaxRows.max(DriverMutationMaxRows) &&
        unsafeBytes(l.schema, l.data) <= LocalRowsMaxBytes).map(_.data.size.toLong)

  /** The rows of `df` when its plan is a local relation within
    * [[localRowBound]]'s bounds under projections, filters and limits,
    * which the optimizer folds into one local relation: no Spark job
    * runs. None for any other plan.
    */
  private[store] def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    localRowBound(df).flatMap(_ =>
      bridge.optimizedPlan(df) match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some(l.data)
        case _ => None
      })

  /** The bytes of `rows` (of layout `schema`) in Spark's `UnsafeRow`
    * form, which a local relation keeps the rows it was made of in, or
    * keeps as generic rows, converted here to be measured.
    */
  private def unsafeBytes(schema: StructType, rows: Seq[InternalRow]): Long = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    lazy val toUnsafe = UnsafeProjection.create(schema)
    rows.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case r => toUnsafe(r).getSizeInBytes.toLong
    }.sum
  }

  /** Which kernel classifies a key-addressed mutation. */
  private[graft] sealed trait MutationKernel
  private[graft] object MutationKernel {
    /** The driver's for at most `maxRows` candidate rows plus keys and
      * `maxBytes` held, else Spark's: the driver's read stops, and
      * Spark's runs, once the rows the driver holds pass `maxBytes`.
      */
    final case class Auto(
        maxRows: Long = DriverMutationMaxRows,
        maxBytes: Long = LocalRowsMaxBytes) extends MutationKernel
    case object OnSpark extends MutationKernel
    /** The driver's whatever the size, wherever it can run. */
    case object OnDriver extends MutationKernel
  }

  /** A key-addressed mutation's classification of its candidate
    * segments, from either kernel: per segment, (total rows, matched
    * rows). `recordChanges` records the version's change data, or
    * reports what the classification already recorded, and returns its
    * row count (-1 = none recorded); `rewrite` gives the rows of the
    * segment that replaces the named affected segments; `small` says
    * they are rows the driver holds, written on the driver.
    */
  private final case class Classified(
      counts: Map[Int, (Long, Long)],
      recordChanges: () => Long,
      rewrite: Seq[Int] => DataFrame,
      small: Boolean)

  /** The driver kernel's read of a mutation's candidates: their
    * layout, per segment (total, matched), the matched rows, and the
    * unmatched rows of each segment with a match.
    */
  private final case class DriverScan(
      schema: StructType,
      counts: Map[Int, (Long, Long)],
      matched: Seq[InternalRow],
      survivors: Map[Int, Seq[InternalRow]])

  /** What both point-read kernels start from: the table, the cutoff,
    * the resolved filter `timestamp <= asOf AND entity_id IN (ids)`,
    * and the segments that filter may match under their recorded stats.
    */
  private final case class PointRead(
      meta: TableMeta,
      asOf: Timestamp,
      entityIds: Seq[Any],
      filter: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      segments: Seq[Int]) {
    /** Every candidate segment has a recorded row count, and together
      * they hold at most [[LocalReadMaxRows]] rows.
      */
    def small: Boolean = within(recordedRows(meta, segments), LocalReadMaxRows)
    /** Where the result's schema comes from: the candidates, or, when
      * every segment is pruned, the first one (its rows all fail the
      * filter).
      */
    def schemaSegments: Seq[Int] =
      if (segments.nonEmpty) segments else meta.segmentsOf(meta.version).take(1)
  }

  /** Change-feed metadata columns ([[FeatureStore.getChanges]]). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Operations whose version has the SAME content as its predecessor
    * — the change feed resolves them to "no changes" without a diff.
    */
  private[store] val ContentPreservingOps: Set[String] =
    Set("compact", "optimize")

  /** Internal segment tag for copy-on-write discovery scans. */
  private[store] val SegTagCol = "_graft_seg"

  /** Merge two catalog views of ONE table produced by racing writers
    * (multi-writer arbitration over a transaction-log storage). Version
    * numbers are allocated exactly-once by the log, so per-version
    * entries never conflict — the merge is a union with the higher
    * pointer winning the scalar fields, the prune high-water taken at
    * its max (pruning is monotone), entries at or below it dropped
    * (pruned on either side means pruned), and stream watermarks joined
    * per-stream at their max.
    */
  private[store] def mergeMetas(a: TableMeta, b: TableMeta): TableMeta = {
    val hi = if (a.version >= b.version) a else b
    val pruned = math.max(a.prunedThrough, b.prunedThrough)
    hi.copy(
      registeredAt = math.min(a.registeredAt, b.registeredAt),
      updatedAt = math.max(a.updatedAt, b.updatedAt),
      versions = (a.versions ++ b.versions ++ hi.versions)
        .filter { case (v, _) => v > pruned },
      segments = (a.segments ++ b.segments ++ hi.segments)
        .filter { case (v, _) => v > pruned },
      segStats = a.segStats ++ b.segStats,
      segRows = a.segRows ++ b.segRows,
      segColStats = a.segColStats ++ b.segColStats,
      // union, biased toward ENFORCEMENT: a constraint added by either
      // writer survives the merge (a concurrent drop may resurrect —
      // the safe direction; drop again to settle it)
      constraints = a.constraints ++ b.constraints ++ hi.constraints,
      clusterSpec = hi.clusterSpec
        .orElse(a.clusterSpec).orElse(b.clusterSpec),
      versionTimes = (a.versionTimes ++ b.versionTimes)
        .filter { case (v, _) => v > pruned },
      batchWatermarks =
        maxWatermarks(a.batchWatermarks.toSeq ++ b.batchWatermarks.toSeq),
      prunedThrough = pruned,
      columnTypes = a.columnTypes ++ b.columnTypes ++ hi.columnTypes,
      versionOps = (a.versionOps ++ b.versionOps ++ hi.versionOps)
        .filter { case (v, _) => v > pruned },
      versionRows = (a.versionRows ++ b.versionRows ++ hi.versionRows)
        .filter { case (v, _) => v > pruned },
      versionCdf = (a.versionCdf ++ b.versionCdf ++ hi.versionCdf)
        .filter { case (v, _) => v > pruned })
  }

  /** Per stream, the highest batch id among `marks`. */
  private[store] def maxWatermarks(marks: Seq[(String, Long)]): SortedMap[String, Long] =
    SortedMap(marks.groupMapReduce(_._1)(_._2)(math.max).toSeq: _*)

  /** Default grace between logical retirement and physical deletion
    * (30 minutes): long enough to outlive any interactive query over a
    * just-deleted table, short enough that [[FeatureStore.vacuum]]
    * passes scheduled hourly keep storage bounded. A deployment with
    * longer-running batch reads raises it per call.
    */
  val DefaultRetireGraceMillis: Long = 30L * 60 * 1000

  /** Default age past which [[FeatureStore.vacuum]] treats a read lease
    * as crashed and ignores it (24 h): long enough for any sane batch
    * read, short enough that a dead reader cannot wedge reclamation
    * indefinitely. Jobs that legitimately read longer pass a larger
    * TTL to their vacuum schedule.
    */
  val DefaultLeaseTtlMillis: Long = 24L * 60 * 60 * 1000

  /** Root-level hygiene for the fingerprint-keyed root pattern (a demo/
    * bench store whose root NAME encodes a dataset checksum — see
    * SparkEntry.demoStore): deletes LOCAL sibling directories of
    * `keepRoot` whose name starts with `prefix` but differ from
    * `keepRoot` itself — exactly the roots stranded when the source
    * data regenerated under a new fingerprint. Local-filesystem only
    * (java.nio) by design: fingerprint-keyed roots live in tmpdirs;
    * durable shared roots get [[FeatureStore.vacuum]] instead. Returns
    * deleted paths.
    *
    * `minAgeMillis` is the liveness guard for CONCURRENT processes: a
    * sibling root modified more recently than the threshold is left
    * alone — it may belong to a bench/test process still running
    * against source data with an older fingerprint. Stale roots from
    * genuinely dead fingerprints age past any threshold and are
    * reclaimed by a later pass.
    */
  def vacuumSiblingRoots(
      keepRoot: String,
      prefix: String,
      minAgeMillis: Long = 0L): Seq[String] = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    val keep = java.nio.file.Paths.get(keepRoot).toAbsolutePath.normalize
    val parent = keep.getParent
    if (parent == null || !java.nio.file.Files.isDirectory(parent)) return Seq.empty
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val stale = {
      val s = java.nio.file.Files.list(parent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p))
          .filter(p => p.getFileName.toString.startsWith(prefix))
          .filterNot(_.toAbsolutePath.normalize == keep)
          .filter(p =>
            minAgeMillis <= 0L ||
              java.nio.file.Files.getLastModifiedTime(p).toMillis <= cutoff)
          .toList
      } finally s.close()
    }
    stale.foreach { dir =>
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
    stale.map(_.toString)
  }

  /** Timestamp coercion at the API boundary
    * (reference: store.py:602-611 `pd.Timestamp(ts)`): accepts
    * java.sql.Timestamp, java.time.Instant/LocalDateTime/LocalDate and
    * ISO-ish strings ("2024-01-15" or "2024-01-15 10:30:00"), all
    * interpreted as UTC (naive-as-UTC convention, SURVEY.md §1.2).
    */
  def normalizeTimestamp(ts: Any): Timestamp = ts match {
    case t: Timestamp     => t
    case i: Instant       => Timestamp.from(i)
    case d: LocalDateTime => Timestamp.from(d.toInstant(ZoneOffset.UTC))
    case d: LocalDate     => Timestamp.from(d.atStartOfDay.toInstant(ZoneOffset.UTC))
    case d: java.util.Date => new Timestamp(d.getTime)
    case s: String =>
      val norm = if (s.length == 10) s"${s}T00:00:00" else s.replace(' ', 'T')
      Timestamp.from(LocalDateTime.parse(norm).toInstant(ZoneOffset.UTC))
    case other =>
      throw new FeatureValidationError(
        s"Cannot interpret timestamp value: $other (${other.getClass.getName})")
  }
}
