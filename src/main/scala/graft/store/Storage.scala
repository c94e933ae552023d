package graft.store

import java.net.URI
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.driverWrite
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, DataType, DateType, MapType, StructField, StructType}

/** Result of one segment write: the row count plus the segment's
  * timestamp range (epoch millis, None for an empty/all-null segment).
  * The range is observed by the write job itself — zero extra passes —
  * and becomes the catalog's per-segment data-skipping statistics
  * ([[TableMeta.segStats]]): a PIT read at cutoff T skips every segment
  * whose minimum timestamp is after T.
  */
final case class WriteResult(
    rows: Long, minTsMillis: Option[Long], maxTsMillis: Option[Long],
    // per-column null count + min/max for the segment's eligible columns
    // ([[ColumnStats]]) — observed by the same write job, zero extra
    // passes; feeds predicate-level data skipping ([[StatsPruning]])
    colStats: Map[String, ColStat] = Map.empty)

/** Everything a commit marker records about one committed version — the
  * transaction log's own copy of the catalog facts for that version,
  * which is what lets a store RECONCILE versions another writer
  * committed but whose catalog save it never saw
  * ([[TxnLogStorage]] multi-writer arbitration). `segmentRows` is the
  * version's own segment; `tableRows` the cumulative table size at this
  * version (they differ on append manifests).
  */
final case class CommitMeta(
    segmentRows: Long,
    tableRows: Long,
    columns: Seq[String],
    segments: Seq[Int],
    minTsMillis: Option[Long],
    maxTsMillis: Option[Long],
    committedAt: Long,
    // Spark DDL type per column — carried in the commit marker so a
    // catalog reconciled from another writer's log can pad evolved
    // chained reads ([[TableMeta.columnTypes]]); empty on legacy markers
    columnTypes: Map[String, String] = Map.empty,
    // what produced this version — "register" | "append" | "compact" |
    // "delete" | "upsert" — the DESCRIBE HISTORY operation column and
    // the fact that lets the change feed ([[FeatureStore.getChanges]])
    // skip content-preserving compactions without diffing them. Empty
    // on legacy markers/catalogs (operation unknown).
    operation: String = "",
    // rows in this commit's RECORDED change set (-1 = none recorded).
    // The change feed trusts a change-data file ONLY when the commit
    // that owns the version says it wrote one — a crashed mutation's
    // leftover file at a reused version number must never be
    // misattributed to the commit that eventually lands there.
    changeRows: Long = -1L,
    // column-level skipping stats of this version's OWN segment
    // ([[ColumnStats]]); empty for commits that wrote no segment
    // (manifest-only deletes, restores) and for legacy markers
    colStats: Map[String, ColStat] = Map.empty,
    // the table's CHECK constraints as of this commit (name → SQL) —
    // carried so a catalog reconciled purely from markers keeps
    // enforcing them
    constraints: Map[String, String] = Map.empty,
    // clustering spec as of this commit ([[TableMeta.clusterSpec]]) —
    // set by optimize commits so marker-only reconciliation keeps
    // incremental optimize working
    clusterSpec: Option[String] = None,
    // the stream high-water (stream id, batch id) this commit stamps
    // ([[FeatureStore.registerBatch]]): a version reconciled from its
    // marker keeps it, so a replay of that batch is still skipped
    watermark: Option[(String, Long)] = None)

/** The STORAGE SEAM of the feature store: version-addressed table data
  * behind one commit protocol. A writer reserves a version number
  * ([[reserveVersion]]), writes its data under it, and publishes a
  * commit record ([[commitVersion]]) — the commit point; reads resolve
  * only committed versions, and the store's catalog is a cache that
  * [[committedMeta]] can always rebuild. [[TxnLogStorage]] is the
  * implementation (a per-table log over the [[Storage]] data layout);
  * a transactional table format maps onto the same calls
  * (SURVEY.md §1.3 names the scale mapping):
  *
  *   - Delta Lake: [[write]] → transactional append/overwrite + commit;
  *     version numbers → Delta versions (time travel), [[readSegments]]
  *     → `VERSION AS OF` reads, [[deleteTable]] → DROP + VACUUM, and
  *     [[FeatureStore.vacuum]] → Delta VACUUM.
  *   - Iceberg: versions → snapshots, the segment manifests → Iceberg's
  *     own manifest lists, vacuum → expire_snapshots /
  *     remove_orphan_files.
  *
  * What those formats ADD — multi-table transactions and
  * snapshot-isolated readers during concurrent delete — comes from
  * their own protocols; the log here serializes writers one table at a
  * time.
  */
trait VersionStorage {
  /** Write one version snapshot/segment; returns the row count and the
    * segment's observed timestamp range.
    */
  def write(name: String, version: Int, df: DataFrame,
      entityCol: String, tsCol: String): WriteResult
  /** [[write]] with a CLUSTERED physical layout: rows range-partitioned
    * and sorted by `cluster` (arbitrary expressions — a z-value works)
    * within the storage's own partitioning, so parquet file/row-group
    * min-max stats become tight on the cluster keys and selective scans
    * skip most of the bytes. Layout-only: same rows, same schema, same
    * read paths. Default ignores the hint (a storage that can't cluster
    * is still correct).
    */
  def writeClustered(name: String, version: Int, df: DataFrame,
      entityCol: String, tsCol: String,
      cluster: Seq[org.apache.spark.sql.Column]): WriteResult =
    write(name, version, df, entityCol, tsCol)
  /** [[write]] of an input the caller holds on the driver and knows,
    * from counts it already has, to be small (at most
    * [[FeatureStore.DriverWriteMaxRows]] rows within
    * [[FeatureStore.LocalRowsMaxBytes]]): the same files, written
    * without a Spark job where the storage can. Default: [[write]].
    */
  def writeSmall(name: String, version: Int, df: DataFrame,
      entityCol: String, tsCol: String): WriteResult =
    write(name, version, df, entityCol, tsCol)
  /** Read one version segment, original column order, optional as-of
    * pruning bound.
    */
  def read(name: String, version: Int, columns: Seq[String],
      asOf: Option[java.sql.Timestamp] = None): DataFrame
  /** Read the union of a version manifest's segments. `columnTypes`
    * (Spark DDL per column, the catalog's [[CommitMeta.columnTypes]]
    * record) lets a requested column a segment predates — merge-schema
    * evolution — be padded with a correctly-typed null; a missing
    * column with no recorded type still fails analysis, exactly as
    * before evolution existed.
    */
  def readSegments(name: String, segments: Seq[Int], columns: Seq[String],
      asOf: Option[java.sql.Timestamp] = None,
      columnTypes: Map[String, String] = Map.empty): DataFrame
  /** The schema [[readSegments]] gives the same arguments, found
    * without a file listing (and without a Spark job once the segments'
    * schemas are memoized); None when this storage has no driver-side
    * reader ([[scanSegmentsLocal]]), when a column is
    * missing with no recorded type, or when the segments disagree on a
    * column's type. The caller then reads through [[readSegments]],
    * which raises or widens as Spark does.
    */
  def localReadSchema(name: String, segments: Seq[Int], columns: Seq[String],
      columnTypes: Map[String, String]): Option[StructType] = None
  /** Read the rows of `segments` on the driver, with no Spark job, and
    * hand each to `f`, with its segment, in the layout of `schema` (from
    * [[localReadSchema]]). Segments are read one after another, in the
    * given order. A column a segment predates reads as null.
    * Rows are reused between calls: `f` copies what it keeps. With an
    * as-of cutoff, partitions after it are skipped as [[readSegments]]
    * skips them, and `filters` skip parquet row groups; both are hints,
    * so `f` still sees rows its own predicate rejects.
    */
  def scanSegmentsLocal(name: String, segments: Seq[Int], schema: StructType,
      asOf: Option[java.sql.Timestamp],
      filters: Seq[Filter])(f: (Int, InternalRow) => Unit): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} has no driver-side segment reader")
  def deleteVersion(name: String, version: Int): Unit
  def deleteTable(name: String): Unit
  /** Move a table's entire physical lineage (segments, change data,
    * any arbitration log living under the table directory) to a new
    * name — ONE metadata-level directory rename, never a data copy
    * (O(1) on HDFS/posix; object stores without atomic rename should
    * bind a storage that overrides this). `to` must not exist.
    */
  def renameTable(from: String, to: String): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not support table rename")
  /** Persist a version's RECORDED CHANGE ROWS (user columns + a
    * `_change_type` tag) — the Delta `_change_data` discipline: a
    * mutation that rewrites segments writes its exact change set at
    * commit time (O(changes) extra write), so the change feed reads it
    * back O(changes) instead of diffing two snapshots. `small`, as in
    * [[writeSmall]], says the caller holds the rows on the driver
    * within its bounds. Returns the row count written, or -1 when this
    * storage does not support change data (the feed then falls back to
    * the exact diff).
    */
  def writeChangeData(name: String, version: Int, df: DataFrame,
      small: Boolean = false): Long = -1L
  /** The recorded change rows of a version, if any were written. */
  def readChangeData(name: String, version: Int): Option[DataFrame] = None
  /** Version segments physically present (storage-side truth for vacuum). */
  def listVersionDirs(name: String): Seq[Int]
  /** Tables physically present under the root. */
  def listTableDirs(): Seq[String]

  // ------------------------------------------------- version authority
  // The commit protocol every store runs: reserve → write → commit.

  /** Atomically claim `version` of `name` for exclusive write; false
    * means another writer holds or committed it (caller re-reads and
    * retries with the next number).
    */
  def reserveVersion(name: String, version: Int): Boolean
  /** Highest version visibly claimed (committed or reserved in flight). */
  def maxClaimedVersion(name: String): Option[Int]
  /** Release a reservation THIS writer holds without committing (the
    * claim's write or validation failed) so the number doesn't stay
    * wedged until a vacuum sweep; foreign reservations are left alone.
    */
  def releaseVersion(name: String, version: Int): Unit
  /** Publish the commit record for a written version — the commit
    * point.
    */
  def commitVersion(name: String, version: Int, meta: CommitMeta): Unit
  /** Committed versions of `name`, ascending. */
  def committedVersions(name: String): Seq[Int]
  /** Commit records of committed versions, for catalog reconciliation
    * after racing writers or a lost catalog save; versions matching
    * `skip` are not even parsed (the retry loop passes the
    * already-absorbed set, so contention costs O(new markers), not
    * O(history), per iteration).
    */
  def committedMeta(
      name: String, skip: Int => Boolean = _ => false): Map[Int, CommitMeta]
  /** Drop the version-authority state of a RETIRED lineage so a
    * delete + re-register can restart numbering at 1 (the explicit
    * re-register-only overwrite branch; called by the store only when
    * the table is absent from every catalog and ledgered as retired).
    */
  def resetVersionAuthority(name: String): Unit
  /** Reclaim leftovers of crashed writers (reservations, orphaned temp
    * markers) older than the given age. Run by [[FeatureStore.vacuum]]
    * under its grace window.
    */
  def sweepUncommitted(name: String, olderThanMillis: Long): Unit
}

/** Versioned parquet storage: one directory per table version,
  * `<root>/<table>/v=<n>/` — the durable analog of the reference's
  * in-memory `history: Dict[int, DataFrame]` (store.py:51-69, 204).
  * This is the data layout only: which versions exist is decided by
  * the commit log that wraps it ([[TxnLogStorage]]).
  *
  * Write layout is chosen for the 100 TB read paths, implementing what the
  * reference's author lists as future work (reference README.md:167,
  * time-based partitioning):
  *   - partitioned by a derived `_ts_date` period column (month by
  *     default, day for high-density tables) → partition pruning for
  *     `timestamp <= T` scans;
  *   - the shuffle before the write is keyed by the PARTITION column,
  *     not the entity: every task then holds few periods, so the file
  *     count stays ≈ #periods. (Keying by entity looks natural but makes
  *     every task write a file into every period directory —
  *     tasks × periods tiny files.) An input the caller holds on the
  *     driver and knows is small ([[writeSmall]]) is written on the
  *     driver with no Spark job: one file per period as well.
  *   - within each file, rows sorted by (entity, timestamp) → parquet
  *     row-group min/max stats make per-entity probes skip row groups.
  *     The sort within each task leads with the period, the order the
  *     partitioned write needs: sorted by (entity, timestamp) alone, a
  *     task holding several periods (AQE coalesces a small shuffle into
  *     one task) had that order undone by the write's own sort by
  *     period. `IncrementalStoreSpec` and `WriteKernelProps` guard the
  *     layout.
  */
final class Storage(
    spark: SparkSession,
    root: String,
    granularity: String = "month") {

  private val DateCol = "_ts_date"

  private def period(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    granularity match {
      case "day"   => to_date(ts)
      case "month" => trunc(ts, "month")
      case other =>
        throw new FeatureValidationError(
          s"Unsupported partition granularity '$other' (day|month)")
    }


  def tablePath(name: String): String = s"$root/$name"
  def versionPath(name: String, version: Int): String =
    s"${tablePath(name)}/v=$version"
  /** Recorded change rows of a version (underscore dir: never listed as
    * a version; reclaimed with the version by [[deleteVersion]]).
    */
  def changeDataPath(name: String, version: Int): String =
    s"${tablePath(name)}/_cdf/v=$version"

  /** Write one version snapshot; returns the row count and timestamp
    * range, observed from the write job itself (an `Observation` rides
    * the write plan as a CollectMetrics node) — no second footer-read
    * job per register, and the range feeds segment-level data skipping
    * for free.
    */
  def write(
      name: String,
      version: Int,
      df: DataFrame,
      entityCol: String,
      tsCol: String): WriteResult =
    writeWith(name, version, df, entityCol, tsCol)(
      _.repartition(col(DateCol))
        .sortWithinPartitions(col(DateCol), col(entityCol), col(tsCol)))

  /** [[write]] on the driver, with no Spark job, for an input whose
    * plan holds its rows in local relations ([[driverWrite.fold]]);
    * any other plan takes [[write]]. The rows are evaluated, sorted by
    * (period, entity, timestamp) and written through Spark's own write
    * task straight into the version directory, cleared first as
    * `mode("overwrite")` clears it: one file per period, no `_SUCCESS`
    * file and no `_temporary` rename (the log's marker is the commit).
    * The row count, timestamp range and column stats come from the same
    * metric expressions as [[write]]'s, aggregated on the driver, which
    * also fulfils the input plan's own `Observation`s.
    */
  def writeSmall(
      name: String,
      version: Int,
      df: DataFrame,
      entityCol: String,
      tsCol: String): WriteResult = {
    val path = versionPath(name, version)
    val statFields = ColumnStats.eligible(df.schema, priority = Seq(entityCol, tsCol))
    val stats = s"graft_write_${name}_v$version"
    val metrics = writeMetrics(tsCol, statFields)
    val framed = df.withColumn(DateCol, period(col(tsCol)))
    driverWrite.fold(framed.observe(stats, metrics.head, metrics.tail: _*)) match {
      case None => write(name, version, df, entityCol, tsCol)
      case Some(folded) =>
        val out = folded.output
        val Seq(date, entity, ts) = Seq(DateCol, entityCol, tsCol).map(c => out.find(_.name == c).get)
        // no rows: one typed file of every column, as [[write]] appends
        writeOnDriver(path, df.sparkSession, folded, if (folded.rows.isEmpty) Nil else Seq(date),
          driverWrite.sorted(folded.rows, out, Seq(date, entity, ts)))
        memoized(path, df, writeResult(statFields, folded.metrics(stats).getAs[Any](_)))
    }
  }

  /** Write `rows` of `folded` under `path` on the driver, after clearing
    * it (a reclaimed version may hold a crashed writer's files), and
    * fulfil its `Observation`s; they leave `session` either way. Local
    * files are created through [[NioLocalFileSystem]], in a Hadoop
    * configuration of their own: Hadoop caches file systems by scheme,
    * not by configuration, so that one is not cached.
    */
  private def writeOnDriver(
      path: String,
      session: SparkSession,
      folded: driverWrite.Folded,
      partitionColumns: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      rows: => Seq[InternalRow]): Unit =
    try {
      delete(path)
      val conf = session.sessionState.newHadoopConf()
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      driverWrite.writeParquet(session, path, folded.output, partitionColumns, rows.iterator, conf)
      folded.complete()
    } finally folded.discard()

  /** Clustered layout ([[VersionStorage.writeClustered]]): range-
    * partition and sort by (period, cluster...) so each task holds a
    * contiguous key range of few periods — file count stays bounded,
    * and within a period directory every file covers a tight cluster-
    * key interval (parquet min/max skipping does the rest at scan).
    */
  def writeClustered(
      name: String,
      version: Int,
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      cluster: Seq[org.apache.spark.sql.Column]): WriteResult =
    writeWith(name, version, df, entityCol, tsCol) { d =>
      val keys = col(DateCol) +: cluster
      d.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
    }

  private def writeWith(
      name: String,
      version: Int,
      df: DataFrame,
      entityCol: String,
      tsCol: String)(layout: DataFrame => DataFrame): WriteResult = {
    val path = versionPath(name, version)
    val obs = org.apache.spark.sql.Observation(s"graft_write_${name}_v$version")
    // per-column min/max/nulls ride the SAME CollectMetrics node as the
    // row count — column-level skipping stats at zero extra passes.
    // The node sits ABOVE the layout exchange: a range partitioner
    // SAMPLES its child to pick boundaries, and metrics below it would
    // be double-counted by the sampling pass. Entity/timestamp are
    // priority columns: wide schemas must not push the keys every read
    // prunes on past the stats cap.
    val statFields =
      ColumnStats.eligible(df.schema, priority = Seq(entityCol, tsCol))
    val metrics = writeMetrics(tsCol, statFields)
    layout(df.withColumn(DateCol, period(col(tsCol))))
      .observe(obs, metrics.head, metrics.tail: _*)
      .write
      .mode("overwrite")
      .partitionBy(DateCol)
      .parquet(path)
    // a ZERO-ROW segment (SQL CREATE TABLE's empty v1) writes no data
    // files under partitionBy, and a later read of the bare directory
    // cannot infer a schema — append one empty TYPED part file so the
    // segment reads back as the declared shape (DateCol rides as a
    // regular column there; per-segment reads filter/drop it the same
    // way)
    if (obs.get("rows").asInstanceOf[Long] == 0L)
      df.withColumn(DateCol, period(col(tsCol)))
        .limit(0)
        .write.mode("append").parquet(path)
    memoized(path, df, writeResult(statFields, obs.get))
  }

  /** What a segment write observes: its rows, its timestamp range and
    * the column stats of `statFields`.
    */
  private def writeMetrics(tsCol: String, statFields: Seq[StructField]) =
    Seq(
      count(lit(1)).as("rows"),
      min(col(tsCol)).as("min_ts"),
      max(col(tsCol)).as("max_ts")) ++ ColumnStats.metrics(statFields)

  private def writeResult(statFields: Seq[StructField], get: String => Any): WriteResult = {
    def millis(key: String): Option[Long] = get(key) match {
      case t: java.sql.Timestamp    => Some(t.getTime)
      case i: java.time.Instant     => Some(i.toEpochMilli)
      case d: java.time.LocalDateTime => // TIMESTAMP_NTZ observation
        Some(d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      case _ => None // null: empty or all-null segment — no skipping stats
    }
    WriteResult(
      get("rows").asInstanceOf[Long], millis("min_ts"), millis("max_ts"),
      ColumnStats.fromMetrics(statFields, get))
  }

  /** `wr`, after seeding the schema memo of the segment at `path`. The
    * schema a read infers is known right here: the data columns, all
    * nullable, then the DATE partition column (the zero-row segment's
    * typed part file carries it last, too). A segment whose timestamps
    * are all null has only the default partition, which infers as a
    * STRING — left to inference rather than guessed here.
    */
  private def memoized(path: String, df: DataFrame, wr: WriteResult): WriteResult = {
    if (wr.rows == 0L || wr.minTsMillis.isDefined)
      Storage.schemaMemo.put(path, StructType(
        Storage.asRead(df.schema).fields :+ StructField(DateCol, DateType)))
    wr
  }

  /** Read one version snapshot with the original column order restored
    * (the partition column is internal and dropped). When an as-of
    * cutoff is known, the derived period predicate prunes partitions at
    * planning time — `timestamp <= T ⇒ _ts_date <= period(T)` — which is
    * the reference author's wish-list item (README.md:167, "partitioning
    * by month reduces scan size by 24x") implemented natively. The bound
    * is derived with the SAME `period` expression that produced the
    * partition values, so write and read agree under any session
    * timezone (a driver-side UTC conversion would silently prune valid
    * rows in non-UTC sessions).
    */
  def read(
      name: String,
      version: Int,
      columns: Seq[String],
      asOf: Option[java.sql.Timestamp]): DataFrame = {
    val base = Storage.readParquetMemo(spark, versionPath(name, version))
    val pruned =
      asOf.fold(base)(t => base.filter(col(DateCol) <= period(lit(t))))
    pruned.select(columns.map(col): _*)
  }

  /** Read the union of a version MANIFEST's segments (incremental
    * registration): each segment is one version directory; per-segment
    * as-of pruning applies before the union, so partition pruning works
    * exactly as in the single-snapshot read. Segments are append deltas
    * of one table version lineage, so their schemas match by
    * construction ([[FeatureStore.registerAppend]] enforces it).
    */
  def readSegments(
      name: String,
      segments: Seq[Int],
      columns: Seq[String],
      asOf: Option[java.sql.Timestamp],
      columnTypes: Map[String, String]): DataFrame =
    segments.map { s =>
      val base = Storage.readParquetMemo(spark, versionPath(name, s))
      val pruned = asOf.fold(base)(t => base.filter(col(DateCol) <= period(lit(t))))
      // pad columns this segment predates (merge-schema evolution) with
      // typed nulls from the catalog's type record; columns without a
      // recorded type fall through to the strict select below and fail
      // analysis exactly as they did before evolution existed
      val padded = columns
        .filterNot(pruned.columns.contains)
        .flatMap(c => columnTypes.get(c).map(c -> _))
        .foldLeft(pruned) { case (df, (c, t)) =>
          df.withColumn(c, lit(null).cast(t))
        }
      padded.select(columns.map(col): _*)
    }.reduce(_.unionByName(_))

  /** Per column: the type every segment that stores it agrees on, or
    * the recorded type where none does (the typed-null padding of
    * [[readSegments]]). Memoized segment schemas are nullable at every
    * depth, so this is also the type `unionByName` would merge.
    */
  def localReadSchema(
      name: String,
      segments: Seq[Int],
      columns: Seq[String],
      columnTypes: Map[String, String]): Option[StructType] = {
    val stored = segments.map(s => Storage.schemaOf(spark, versionPath(name, s)))
    val fields = columns.map { c =>
      stored.flatMap(_.find(_.name == c)).map(_.dataType).distinct match {
        case Seq(t) => Some(StructField(c, t))
        case Seq()  => columnTypes.get(c).map(t => StructField(c, DataType.fromDDL(t)))
        case _      => None
      }
    }
    Option.when(fields.forall(_.isDefined))(StructType(fields.flatten))
  }

  /** Spark's own parquet reader, run on the driver over each data file:
    * INT96, datetime rebase modes, decimals, nested types and columns a
    * file lacks convert exactly as in a Spark scan. At most one reader
    * is built per call; files are found with `listStatus` (a `listFiles` walk
    * loads permissions, one forked `stat` per file without native
    * Hadoop).
    */
  def scanSegmentsLocal(
      name: String,
      segments: Seq[Int],
      schema: StructType,
      asOf: Option[java.sql.Timestamp],
      filters: Seq[Filter])(f: (Int, InternalRow) => Unit): Unit = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    // built on the first file: a read every file of which is pruned
    // broadcasts no configuration
    lazy val read = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, schema, new StructType(), schema,
        filters, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    // a partition holds rows whose period is its value, and the period
    // never exceeds the local date of its timestamp: keep the partitions
    // `period(ts) <= period(asOf)` keeps, as [[readSegments]] does
    val lastDay = asOf.map(t => java.time.LocalDateTime.ofInstant(t.toInstant,
      org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
        spark.conf.get("spark.sql.session.timeZone"))).toLocalDate)
    def keep(partition: String): Boolean = lastDay.forall { d =>
      // the default partition holds null timestamps, which no cutoff keeps
      partition != "__HIVE_DEFAULT_PARTITION__" &&
        scala.util.Try(java.time.LocalDate.parse(partition)).toOption.forall(!_.isAfter(d))
    }
    segments.foreach { s =>
      dataFiles(new Path(versionPath(name, s)), keep).foreach { st =>
        val rows = read(PartitionedFile(InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromFileStatus(st), 0L, st.getLen,
          Array.empty[String], st.getModificationTime, st.getLen))
        try rows.foreach(f(s, _))
        finally rows match {
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
      }
    }
  }

  /** The visible data files of one segment directory: its `_ts_date=`
    * partitions that `keepPartition` admits, plus any part file at the
    * top (a zero-row segment's typed file). Hidden and `_`-prefixed
    * names are skipped, as Spark's file index skips them.
    */
  private def dataFiles(
      dir: Path, keepPartition: String => Boolean): Seq[FileStatus] = {
    val f = fs(dir)
    def visibleFile(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val prefix = s"$DateCol="
    f.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory)
        if (n.startsWith(prefix) && keepPartition(n.drop(prefix.length)))
          f.listStatus(st.getPath).toSeq.filter(visibleFile)
        else Nil
      else if (visibleFile(st)) Seq(st)
      else Nil
    }
  }

  /** One plain (unpartitioned) parquet write — change sets are small
    * relative to their mutation. A `small` one whose rows the plan holds
    * ([[driverWrite.fold]]) is written on the driver as one file, as
    * [[writeSmall]] writes; otherwise an Observation rides a Spark write
    * for the row count, as in [[write]].
    */
  def writeChangeData(name: String, version: Int, df: DataFrame, small: Boolean): Long = {
    val path = changeDataPath(name, version)
    val rows = (if (small) driverWrite.fold(df) else None) match {
      case Some(folded) =>
        writeOnDriver(path, df.sparkSession, folded, Nil, folded.rows)
        folded.rows.size.toLong
      case None =>
        val obs = org.apache.spark.sql.Observation(s"graft_cdf_${name}_v$version")
        df.observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite")
          .parquet(path)
        obs.get("rows").asInstanceOf[Long]
    }
    Storage.schemaMemo.put(path, Storage.asRead(df.schema))
    rows
  }

  def readChangeData(name: String, version: Int): Option[DataFrame] = {
    val p = changeDataPath(name, version)
    if (fs(new Path(p)).exists(new Path(p)))
      Some(Storage.readParquetMemo(spark, p))
    else None
  }

  def deleteVersion(name: String, version: Int): Unit = {
    delete(versionPath(name, version))
    delete(changeDataPath(name, version))
    Storage.invalidateSchemas(versionPath(name, version))
    Storage.invalidateSchemas(changeDataPath(name, version))
  }

  def deleteTable(name: String): Unit = {
    delete(tablePath(name))
    Storage.invalidateSchemas(tablePath(name))
  }

  /** One atomic directory rename — the whole lineage (every `v=<n>`
    * segment, `_cdf`, a colocated `_txn` log) moves as a metadata
    * operation, zero bytes of data copied regardless of table size.
    */
  def renameTable(from: String, to: String): Unit = {
    val src = new Path(tablePath(from))
    val dst = new Path(tablePath(to))
    val f = fs(src)
    if (!f.exists(src))
      throw new FeatureValidationError(
        s"cannot rename '$from': no data directory at $src")
    if (f.exists(dst))
      throw new FeatureValidationError(
        s"cannot rename '$from' to '$to': $dst already exists")
    if (!f.rename(src, dst))
      throw new FeatureStorageError(
        s"filesystem refused to rename $src to $dst")
    // the old path is free for a future re-register; the new path's
    // schemas re-infer on first read
    Storage.invalidateSchemas(tablePath(from))
  }

  /** `v=<n>` version directories physically present for `name` —
    * the storage-side truth [[FeatureStore.vacuum]] reconciles against
    * the catalog's retained manifests.
    */
  def listVersionDirs(name: String): Seq[Int] = {
    val p = new Path(tablePath(name))
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toIntOption }
      .flatten
      .sorted
  }

  /** Table directories under the storage root (plain files — the
    * catalog — are skipped).
    */
  def listTableDirs(): Seq[String] = {
    val p = new Path(root)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      // store-internal metadata dirs (e.g. _leases/) are never tables;
      // underscore names are reserved, matching _catalog.tsv/_retired.tsv
      .filterNot(_.startsWith("_"))
      .sorted
  }

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def delete(pathStr: String): Unit = {
    val path = new Path(pathStr)
    if (fs(path).exists(path)) { fs(path).delete(path, true); () }
  }
}

object Storage {

  /** Parquet-schema memo, keyed by directory path. A COMMITTED
    * version (or change-data) directory is IMMUTABLE — versions are
    * claimed monotonically, mutations always mint a new directory — so
    * its footer schema is a constant of the path. A segment or change
    * set write seeds its entry; a path this JVM did not write is
    * inferred once on first read. Either way
    * every later read passes the known schema and skips the
    * footer-inference job entirely. Each
    * `spark.read.parquet` call otherwise dispatches one such job
    * (~20-40 ms of pure driver latency); a maintained-IVM read that
    * touches the seed snapshot, two change sets and a three-segment
    * manifest was paying 5 of its 16 jobs there (JobProfile
    * store_ivm_minmax, round 11). A real metastore-backed deployment
    * pays this once at catalog registration — this memo is that, for
    * the path-addressed layout.
    *
    * Invalidated on deleteVersion / deleteTable / renameTable (a
    * deleted table can be re-registered at the same path with a new
    * schema) and by [[graft.Tables.invalidate]]. Cross-PROCESS
    * delete-then-recreate follows the store's existing long-lived
    * reader contract (call `refresh()` after external commits).
    */
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[String, StructType]

  private[store] def readParquetMemo(
      spark: SparkSession, path: String): DataFrame =
    schemaMemo.get(path) match {
      case Some(sch) => spark.read.schema(sch).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemaMemo.put(path, df.schema)
        df
    }

  /** The schema a read of `path` resolves: memoized, else inferred
    * once (a footer-inference job) and memoized.
    */
  private[store] def schemaOf(spark: SparkSession, path: String): StructType =
    schemaMemo.getOrElse(path, readParquetMemo(spark, path).schema)

  /** The memoized schema of `path`, if any (seeded or inferred). */
  private[graft] def memoizedSchema(path: String): Option[StructType] =
    schemaMemo.get(path)

  /** A written schema as a file read returns it: every field, element
    * and map value nullable, at every depth.
    */
  private def asRead(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullableType(f.dataType),
      nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => asRead(s)
    case a: ArrayType  => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType    =>
      MapType(nullableType(m.keyType), nullableType(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** Drop memoized schemas at `path` and below. Exact-or-child match:
    * "t/v=1" must not sweep "t/v=10".
    */
  private[graft] def invalidateSchemas(path: String): Unit =
    schemaMemo.keys
      .filter(k => k == path || k.startsWith(path + "/"))
      .foreach(schemaMemo.remove)

  private[graft] def invalidateAllSchemas(): Unit = schemaMemo.clear()

  /** A fresh session-local storage root under java.io.tmpdir — keeps the
    * reference's zero-infrastructure stance (README.md:122) while being
    * swappable for any Hadoop-compatible URI (s3a://, hdfs://) at scale.
    */
  def defaultRoot(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-feature-store-")
      .toUri
    new URI(dir.toString).getPath.stripSuffix("/")
  }
}
