package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.PointInTime

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry pairs a Spark plan (built on the graft.store kernels) with
  * equivalent DuckDB SQL in [[oracleSql]]. All queries emit a canonical
  * ORDER BY and explicit tie-breaks so the driver's hash compare is
  * deterministic (SURVEY.md §2.6/§2.7).
  */
object SparkEntry {

  // -------------------------------------------------------------- helpers

  private def read(s: SparkSession, dir: String, table: String): DataFrame =
    Tables.parquet(s, s"$dir/$table.parquet")

  /** Timestamp literal parsed as UTC regardless of the JVM default zone
    * (java.sql.Timestamp.valueOf would use the host zone — a latent
    * off-by-offset against the oracle's TIMESTAMP literals on any
    * non-UTC host).
    */
  private def utcTs(v: String): java.sql.Timestamp =
    graft.store.FeatureStore.normalizeTimestamp(v)

  /** events with `ts` normalized to TimestampType. The file stores
    * TIMESTAMP(NANOS), which Spark's parquet reader rejects by default —
    * read nanos as long and floor-divide to micros, the exact truncation
    * DuckDB applies when casting ns→us (FIXTURES.md B, precision note).
    *
    * Requires `spark.sql.legacy.parquet.nanosAsLong=true`, which every
    * session owner (Bench, Verify, SparkTestBase, examples) sets at
    * build time — a session-construction concern, not a query concern,
    * so this helper never mutates conf.
    */
  private def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    val raw = read(s, dir, "events")
    val tsCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _                                   => col("ts")
    }
    raw.select(
      col("event_id"),
      tsCol.as("ts"),
      col("user_id"),
      col("event_type"),
      col("value"),
      col("props"))
  }

  /** events with normalized `ts` for the NorthStar query set. */
  private[graft] def eventsForNorthStar(s: SparkSession, dir: String): DataFrame =
    eventsRaw(s, dir)

  /** events recast as a feature table: user_id → entity_id, ts → timestamp,
    * event_id as the deterministic tie-break (FIXTURES.md B).
    */
  private def eventsFeatures(s: SparkSession, dir: String): DataFrame =
    eventsRaw(s, dir).select(
      col("user_id").as("entity_id"),
      col("ts").as("timestamp"),
      col("event_id"),
      col("event_type"),
      col("value"),
      col("props"))

  /** orders recast as a feature table keyed by customer. */
  private def ordersFeatures(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "orders").select(
      col("o_custkey").as("entity_id"),
      col("o_orderdate").as("timestamp"),
      col("o_orderkey"),
      col("o_orderstatus"),
      col("o_totalprice"),
      col("o_orderpriority"))

  private val PitAsOf = "2024-01-20 00:00:00"
  private val PitIds: Seq[Any] = (0L to 9L) :+ 999999L
  private val PitIdsSql = "(0,1,2,3,4,5,6,7,8,9,999999)"
  private val StrPitIds: Seq[Any] = PitIds.map("u" + _)
  private val StrPitIdsSql =
    PitIds.map(i => s"'u$i'").mkString("(", ",", ")")

  /** A [[graft.store.FeatureStore]] with the events feature table
    * registered — the storage-layer roundtrip the `store_*` queries
    * exercise: register → versioned, partitioned parquet + catalog →
    * read back through the PIT kernels. The root is keyed by (schema
    * version, source dir, row count) so a stale directory from an older
    * build never satisfies the check, and re-invocations (bench passes)
    * skip the write and measure the read path.
    *
    * Oracle safety: the engine tie-breaks duplicate (entity, ts) rows by
    * the internal ingest key, which SQL cannot reproduce — but events
    * has no duplicate (user_id, ts) pairs at any scale factor (checked),
    * so the tie-break never fires and plain SQL over the raw table is an
    * exact oracle.
    */
  /** One bootstrap for every fingerprint-keyed demo store, shared by
    * the variants below (prefix + init body are the only differences). The root is keyed by (prefix, source dir,
    * row count, id checksum): one aggregation job computes the
    * fingerprint — the checksum means a regenerated source with the
    * same row count still maps to a fresh directory — and the per-dir
    * memo means bench re-invocations skip even that scan. Roots
    * stranded by older fingerprints are reclaimed by
    * [[graft.store.FeatureStore.vacuumSiblingRoots]].
    */
  private def fingerprintStore(
      memo: java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore],
      s: SparkSession,
      dir: String,
      prefix: String,
      // completeness check for an already-initialized root: MUTATED
      // stores (row deletes / upserts) end with rowCount != source rows
      // by design, so they verify "the final version exists" instead of
      // the source row count (both catch a crash mid-init: the partial
      // store re-inits, whose body starts by deleting the table)
      minVersion: Int = 1)(
      init: (graft.store.FeatureStore, DataFrame) => Unit): graft.store.FeatureStore =
    memo.computeIfAbsent(dir, _ => {
      val feats = eventsFeatures(s, dir)
      // ONE fingerprint scan per source dir, shared by every store
      // variant (eight of them ride the bench JVM) — the scan is pure
      // function of the source data, not of the variant
      val (rows, idSum) = sourceFingerprints.computeIfAbsent(dir, _ => {
        val fp = feats.agg(count(lit(1)), sum(col("event_id"))).head()
        (fp.getLong(0), fp.getLong(1))
      })
      val san = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root =
        s"${sys.props("java.io.tmpdir")}/${prefix}_${san}_${rows}_$idSum"
      graft.store.FeatureStore.vacuumSiblingRoots(root, s"${prefix}_${san}_",
        minAgeMillis = 15L * 60 * 1000)
      val store = new graft.store.FeatureStore(s, root)
      val fresh = !store.tableNames.contains("events") ||
        (if (minVersion > 1) store.getTableInfo("events").version < minVersion
         else store.getTableInfo("events").rowCount != rows)
      if (fresh) init(store, feats)
      store
    })

  private val sourceFingerprints =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private val demoStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def demoStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(demoStores, s, dir, "graft_store_rt_v3") {
      (store, feats) => store.register("events", feats); ()
    }

  /** [[demoStore]]'s build under a root of its own, whose versions
    * resolve through commit markers of the transaction log
    * ([[graft.store.TxnLogStorage]]), as every store's do. Its
    * roundtrip query shares the PIT oracle — the log must be
    * value-invisible through the seam.
    */
  private val txnStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def txnStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(txnStores, s, dir, "graft_store_txn_v1") {
      (store, feats) => store.register("events", feats); ()
    }

  /** The incremental-registration twin of [[demoStore]]: the same events
    * table built as an initial register PLUS a [[graft.store.FeatureStore.registerAppend]]
    * of everything after a cutoff — manifest-chained version 2 whose
    * reads must be value-identical to a single full register (and to
    * plain SQL over the raw table). Splitting on ts keeps both segments
    * non-empty at every scale factor.
    */
  private val appendStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def appendStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    // prefix v2: rebuilt once so the catalog carries the column-level
    // segment stats scanWhere's skipping path needs
    fingerprintStore(appendStores, s, dir, "graft_store_app_v3") { (store, feats) =>
      store.delete("events")
      val cutoff = lit(utcTs("2024-01-10 00:00:00"))
      store.register("events", feats.filter(col("timestamp") < cutoff))
      store.registerAppend("events", feats.filter(col("timestamp") >= cutoff))
      ()
    }

  /** The SCHEMA-EVOLUTION twin of [[appendStore]]: version 1 registers
    * the pre-cutoff events WITHOUT `props`, version 2 append-registers
    * the post-cutoff rows WITH it (`mergeSchema = true`) — the chained
    * read must pad the pre-cutoff segment's `props` with typed nulls
    * and be value-identical to plain SQL that nulls `props` before the
    * cutoff. Exercises the catalog's column-type record through the
    * driver gate.
    */
  private val evolveStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def evolveStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(evolveStores, s, dir, "graft_store_evo_v2") { (store, feats) =>
      store.delete("events")
      val cutoff = lit(utcTs("2024-01-10 00:00:00"))
      store.register("events",
        feats.filter(col("timestamp") < cutoff).drop("props"))
      store.registerAppend("events",
        feats.filter(col("timestamp") >= cutoff), mergeSchema = true)
      ()
    }

  /** MULTI-WRITER build of the events table: three time spans land via
    * TWO independent [[graft.store.FeatureStore]] instances on one
    * transaction-log root — writer A registers the head, writer B (a
    * separate instance, opened on [[graft.store.FeatureStore.rootPath]])
    * appends the middle, writer A appends the tail. A's final append
    * can only chain correctly if it ADOPTED B's version through the
    * arbitration/reconciliation path, so a value-exact read through the
    * result certifies the multi-writer protocol end-to-end: a lost or
    * mis-chained interleaved append surfaces as missing rows against
    * the same SQL oracle as the single-writer roundtrips. Span edges
    * (Jan 8 / Jan 16 over the Jan 1-30 events range) keep all three
    * segments non-empty at every scale factor.
    */
  private val mwStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def multiWriterStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(mwStores, s, dir, "graft_store_mw_v1") { (a, feats) =>
      a.delete("events")
      val c1 = lit(utcTs("2024-01-08 00:00:00"))
      val c2 = lit(utcTs("2024-01-16 00:00:00"))
      a.register("events", feats.filter(col("timestamp") < c1))
      val b = new graft.store.FeatureStore(s, a.rootPath)
      b.registerAppend("events",
        feats.filter(col("timestamp") >= c1 && col("timestamp") < c2))
      a.registerAppend("events", feats.filter(col("timestamp") >= c2))
      ()
    }

  /** ROW-DELETE twin of [[appendStore]]: the two-segment append build
    * plus a [[graft.store.FeatureStore.deleteRows]] of early clicks —
    * version 3 is a copy-on-write rewrite of the FIRST segment only
    * (every deleted row predates the append cutoff), so the roundtrip
    * exercises both the partial-segment rewrite and the untouched
    * segment's verbatim re-reference under the oracle gate.
    */
  private val delStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  /** Expectation-gated ingestion twin: the events load split by TWO
    * named expectations (`no_errors`: event_type != 'error';
    * `small_value`: value <= 300) — clean rows land in `events`,
    * violating rows in `events_quarantine` with the comma-joined
    * failed-expectation labels. Both sides are oracle-checked against
    * the same split computed in SQL.
    */
  private val expectStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def expectStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    expectStores.computeIfAbsent(dir, _ => {
      val feats = eventsFeatures(s, dir)
      val (rows, idSum) = sourceFingerprints.computeIfAbsent(dir, _ => {
        val fp = feats.agg(count(lit(1)), sum(col("event_id"))).head()
        (fp.getLong(0), fp.getLong(1))
      })
      val san = dir.replaceAll("[^A-Za-z0-9]", "_")
      val prefix = "graft_store_expect_v2"
      val root =
        s"${sys.props("java.io.tmpdir")}/${prefix}_${san}_${rows}_$idSum"
      graft.store.FeatureStore.vacuumSiblingRoots(root, s"${prefix}_${san}_",
        minAgeMillis = 15L * 60 * 1000)
      val store = new graft.store.FeatureStore(s, root)
      // complete iff both sides of the split exist and partition the
      // source exactly (a crash mid-init re-runs the whole split)
      val names = store.tableNames
      val fresh = !(names.contains("events") &&
        names.contains("events_quarantine")) ||
        store.getTableInfo("events").rowCount +
          store.getTableInfo("events_quarantine").rowCount != rows
      if (fresh) {
        store.delete("events")
        store.delete("events_quarantine")
        store.registerWithExpectations(
          "events", feats,
          Seq(
            "no_errors" -> (col("event_type") =!= "error"),
            "small_value" -> (col("value") <= 300.0)),
          quarantine = "events_quarantine")
        ()
      }
      store
    })

  /** STREAMING twin of [[expectStore]]: the same expectation split
    * executed per micro-batch by
    * [[graft.streaming.StreamingIngest.startWithExpectations]] (file
    * stream over the raw events, exactly-once on BOTH tables); the
    * post-stream tables must answer the identical split oracles.
    */
  private val streamExpectStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def streamExpectStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    streamExpectStores.computeIfAbsent(dir, _ => {
      val feats = eventsFeatures(s, dir)
      val (rows, idSum) = sourceFingerprints.computeIfAbsent(dir, _ => {
        val fp = feats.agg(count(lit(1)), sum(col("event_id"))).head()
        (fp.getLong(0), fp.getLong(1))
      })
      val san = dir.replaceAll("[^A-Za-z0-9]", "_")
      val prefix = "graft_store_sexpect_v2"
      val root =
        s"${sys.props("java.io.tmpdir")}/${prefix}_${san}_${rows}_$idSum"
      graft.store.FeatureStore.vacuumSiblingRoots(root, s"${prefix}_${san}_",
        minAgeMillis = 15L * 60 * 1000)
      val store = new graft.store.FeatureStore(s, root)
      val names = store.tableNames
      val fresh = !(names.contains("events") &&
        names.contains("events_quarantine")) ||
        store.getTableInfo("events").rowCount +
          store.getTableInfo("events_quarantine").rowCount != rows
      if (fresh) {
        store.delete("events")
        store.delete("events_quarantine")
        val ck = root + "_ck"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
        val raw = read(s, dir, "events")
        val stream = s.readStream.schema(raw.schema)
          .parquet(s"$dir/events.parque[t]")
        val tsCol = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            expr("timestamp_micros(ts div 1000)")
          case _ => col("ts")
        }
        val q = graft.streaming.StreamingIngest.startWithExpectations(
          stream.select(
            col("user_id").as("entity_id"),
            tsCol.as("timestamp"),
            col("event_id"),
            col("event_type"),
            col("value"),
            col("props")),
          store, "events",
          Seq(
            "no_errors" -> (col("event_type") =!= "error"),
            "small_value" -> (col("value") <= 300.0)),
          quarantine = "events_quarantine",
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        try q.processAllAvailable() finally q.stop()
        store.refresh()
        ()
      }
      store
    })

  private def deleteStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(delStores, s, dir, "graft_store_del_v3", minVersion = 3) {
      (store, feats) =>
        store.delete("events")
        val cutoff = lit(utcTs("2024-01-10 00:00:00"))
        store.register("events", feats.filter(col("timestamp") < cutoff))
        store.registerAppend("events", feats.filter(col("timestamp") >= cutoff))
        store.deleteRows("events",
          col("event_type") === "click" &&
            col("timestamp") < lit(utcTs("2024-01-05 00:00:00")))
        ()
    }

  /** RESTORE twin of [[demoStore]]: register the full table (v1),
    * row-delete the early clicks (v2), then
    * [[graft.store.FeatureStore.restoreVersion]] back to v1 (v3 — a
    * zero-copy manifest re-reference). The roundtrip read must equal
    * the PLAIN PIT oracle, proving the restore undid the delete
    * exactly.
    */
  private val resStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def restoreStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(resStores, s, dir, "graft_store_res_v3", minVersion = 3) {
      (store, feats) =>
        store.delete("events")
        store.register("events", feats)
        store.deleteRows("events",
          col("event_type") === "click" &&
            col("timestamp") < lit(utcTs("2024-01-05 00:00:00")))
        store.restoreVersion("events", 1)
        ()
    }

  /** CDC-REPLICA build: the events table is REPLICATED across roots
    * purely through the change feed — a SOURCE store takes a register,
    * an append, and a row delete; a `format("graft")` streaming source
    * → cdc-sink follower (run intermittently, so one microbatch spans
    * interacting commits) applies them to THIS store. The replica's
    * PIT read must hash-match the oracle of the directly-mutated
    * store (`store_delete_roundtrip`'s SQL) — the entire
    * source→feed→apply pipeline sits under the DuckDB gate.
    */
  private val cdcStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def cdcReplicaStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(cdcStores, s, dir, "graft_store_cdcr_v2", minVersion = 2) {
      (replica, feats) =>
        replica.delete("events")
        val srcRoot = replica.rootPath + "_src"
        val ckRoot = replica.rootPath + "_ck"
        Seq(srcRoot, ckRoot).foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
        val src = new graft.store.FeatureStore(s, srcRoot)
        val cutoff = lit(utcTs("2024-01-10 00:00:00"))
        src.register("events", feats.filter(col("timestamp") < cutoff))
        def follow(): Unit = {
          val q = s.readStream.format("graft")
            .option("root", srcRoot).option("table", "events")
            .load()
            .writeStream.format("graft")
            .option("root", replica.rootPath).option("table", "events")
            .option("mode", "cdc")
            .option("checkpointLocation", ckRoot)
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        follow() // initial snapshot
        src.registerAppend("events", feats.filter(col("timestamp") >= cutoff))
        src.deleteRows("events",
          col("event_type") === "click" &&
            col("timestamp") < lit(utcTs("2024-01-05 00:00:00")))
        follow() // one batch carrying both the append and the delete
        // the cdc sink wrote through its own store instances; this
        // long-lived reader adopts their commits (REFRESH TABLE)
        replica.refresh()
    }

  /** SQL-DML twin of [[appendStore]]: version 1 registers the
    * pre-cutoff events through the Scala API, version 2 lands through
    * the SQL surface — `INSERT INTO` on a `USING graft` temp view
    * ([[graft.sources.GraftRelation]]'s InsertableRelation, the
    * planner casting/reordering the SELECT to the view's schema). The
    * PIT read must equal the plain oracle: v1 + the SQL insert = the
    * whole table, so SQL DML is value-identical to registerAppend.
    */
  private val sqlInsStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def sqlInsertStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(sqlInsStores, s, dir, "graft_store_sqlins_v2", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        val cutoff = lit(utcTs("2024-01-10 00:00:00"))
        store.register("events", feats.filter(col("timestamp") < cutoff))
        feats.filter(col("timestamp") >= cutoff)
          .createOrReplaceTempView("graft_sql_insert_delta")
        s.sql(
          s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_insert_t
             |USING graft OPTIONS (root '${store.rootPath}', `table` 'events')"""
            .stripMargin)
        s.sql("INSERT INTO graft_sql_insert_t SELECT * FROM graft_sql_insert_delta")
        // the DML committed through the view's own store instance; this
        // long-lived reader adopts the commit (REFRESH TABLE)
        store.refresh()
    }

  /** STREAMING-INGEST serve roundtrip: the events table is fed through
    * `readStream` (Spark's parquet file source over the raw testdata)
    * into the graft streaming SINK (exactly-once append), and the
    * post-stream PIT read must hash-match the plain batch oracle —
    * the reference's train/serve-symmetry claim ("same logic, same
    * code path", README.md:96) with the TRAINING side now literally
    * fed by a stream.
    */
  private val ssStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def streamServeStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(ssStores, s, dir, "graft_store_ss_v2") { (store, feats) =>
      store.delete("events")
      val ck = store.rootPath + "_ck"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ck))
      val raw = read(s, dir, "events")
      // the file source needs a directory basePath; a glob that matches
      // exactly the events file keeps the raw testdata as the stream
      val stream = s.readStream.schema(raw.schema).parquet(s"$dir/events.parque[t]")
      val tsCol = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
        case _                                   => col("ts")
      }
      val q = stream
        .select(
          col("user_id").as("entity_id"),
          tsCol.as("timestamp"),
          col("event_id"),
          col("event_type"),
          col("value"),
          col("props"))
        .writeStream.format("graft")
        .option("root", store.rootPath).option("table", "events")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      try q.processAllAvailable() finally q.stop()
      store.refresh()
    }

  /** CATALOG STREAM-READ roundtrip: the chained events table is
    * CONSUMED through `spark.readStream.table(...)` on the graft SQL
    * catalog ([[graft.sources.GraftTableRowsStream]] — the initial
    * snapshot batch at v1, then v2's append delta as its own
    * microbatch, rows in the table's own schema) into a parquet sink;
    * the sink's content must equal plain SQL over the raw events —
    * the append-streaming read path under the DuckDB gate. Returns
    * the sink directory, memoized per source dir.
    */
  private val streamReadDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def streamReadSink(s: SparkSession, dir: String): String =
    streamReadDirs.computeIfAbsent(dir, _ => {
      val feats = eventsFeatures(s, dir)
      val base = java.nio.file.Files
        .createTempDirectory("graft_stream_read").toString
      val store = new graft.store.FeatureStore(s, s"$base/root")
      val cutoff = lit(utcTs("2024-01-10 00:00:00"))
      store.register("events", feats.filter(col("timestamp") < cutoff))
      val c = graftCatalogFor(s, store.rootPath)
      val out = s"$base/out"
      val ck = s"$base/ck"
      val q = s.readStream
        .table(s"$c.events")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      try {
        q.processAllAvailable() // batch 1: the v1 snapshot
        store.registerAppend("events", feats.filter(col("timestamp") >= cutoff))
        q.processAllAvailable() // batch 2: v2's append DELTA only
      } finally q.stop()
      out
    })

  /** STREAMING-IVM roundtrip state: the delete-series mutation
    * sequence applied LIVE under a running
    * [[graft.streaming.StreamingRollup]] follower
    * (maxVersionsPerBatch=1, so the snapshot and each commit fold as
    * separate micro-batches); the maintained state dir is memoized per
    * source dir and must answer the same from-scratch rollup oracle as
    * the batch fold (`store_ivm_rollup`).
    */
  private val ivmStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ivmStreamState(s: SparkSession, dir: String): String =
    ivmStreamDirs.computeIfAbsent(dir, _ => {
      val feats = eventsFeatures(s, dir)
      val base = java.nio.file.Files
        .createTempDirectory("graft_ivm_stream").toString
      val store = new graft.store.FeatureStore(s, s"$base/root")
      val cutoff = lit(utcTs("2024-01-10 00:00:00"))
      store.register("events", feats.filter(col("timestamp") < cutoff))
      val q = graft.streaming.StreamingRollup.start(
        s, store.rootPath, "events", Seq("event_type"),
        round(col("value") * 100).cast("long"),
        s"$base/state", s"$base/ck", maxVersionsPerBatch = Some(1))
      try {
        q.processAllAvailable() // the v1 snapshot fold
        store.registerAppend("events",
          feats.filter(col("timestamp") >= cutoff))
        store.deleteRows("events",
          col("event_type") === "click" &&
            col("timestamp") < lit(utcTs("2024-01-05 00:00:00")))
        q.processAllAvailable() // v2 and v3 fold as separate batches
      } finally q.stop()
      s"$base/state"
    })

  /** Streaming MIN/MAX IVM state over the same mutation series: the
    * v3 row delete strips boundary values, so the live follower's
    * version-pinned dirty-group rescan must recover the true extremes
    * — the non-invertible flavor under the oracle gate.
    */
  private val ivmMmStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ivmMinMaxStreamState(s: SparkSession, dir: String): String =
    ivmMmStreamDirs.computeIfAbsent(dir, _ => {
      val feats = eventsFeatures(s, dir)
      val base = java.nio.file.Files
        .createTempDirectory("graft_ivm_mm_stream").toString
      val store = new graft.store.FeatureStore(s, s"$base/root")
      val cutoff = lit(utcTs("2024-01-10 00:00:00"))
      store.register("events", feats.filter(col("timestamp") < cutoff))
      val q = graft.streaming.StreamingRollup.startMinMax(
        s, store.rootPath, "events", Seq("event_type"),
        round(col("value") * 100).cast("long"),
        s"$base/state", s"$base/ck", maxVersionsPerBatch = Some(1))
      try {
        q.processAllAvailable() // the v1 snapshot fold
        store.registerAppend("events",
          feats.filter(col("timestamp") >= cutoff))
        store.deleteRows("events",
          col("event_type") === "click" &&
            col("timestamp") < lit(utcTs("2024-01-05 00:00:00")))
        q.processAllAvailable() // v2 and v3 fold as separate batches
      } finally q.stop()
      s"$base/state"
    })

  /** Serving-table IVM store: v1 = full events; v2 DELETES the LATE
    * clicks (ts >= 2024-01-10) — for many entities that removes the
    * current latest row, forcing the serving fold's dirty rescan to
    * surface the next-newest survivor; v3 appends strictly-newer
    * synthetic rows for entities 0-99 — the clean closed-form advance.
    */
  private val servingStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def servingStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(servingStores, s, dir, "graft_store_serving_v2",
      minVersion = 3) { (store, feats) =>
      store.delete("events")
      store.register("events", feats)
      store.deleteRows("events",
        col("event_type") === "click" &&
          col("timestamp") >= lit(utcTs("2024-01-10 00:00:00")))
      store.registerAppend("events", s.range(100).select(
        col("id").as("entity_id"),
        lit(utcTs("2099-01-01 00:00:00")).as("timestamp"),
        (col("id") + 900000000L).as("event_id"),
        lit("synthetic").as("event_type"),
        lit(1.0).as("value"),
        lit(null).cast("string").as("props")))
      ()
    }

  /** Register (idempotently) a graft SQL catalog over `root` and
    * return its name — the session surface the SQL-DML roundtrips
    * address ([[graft.sources.GraftCatalog]]); one catalog name per
    * root, so repeat invocations in one JVM reuse the instance.
    */
  private def graftCatalogFor(s: SparkSession, root: String): String = {
    val name = "graft_" + java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s.conf.set(
      s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  /** SQL row-delete twin of [[deleteStore]]: the same two-segment
    * build, but version 3's copy-on-write row delete lands through
    * `DELETE FROM` on the graft SQL catalog
    * ([[graft.sources.GraftCatalogTable]]'s `SupportsDeleteV2` routing
    * the pushed predicates to [[graft.store.FeatureStore.deleteRows]]).
    * Same oracle as the Scala-API delete — SQL DML must be
    * value-identical.
    */
  private val sqlDelStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def sqlDeleteStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(sqlDelStores, s, dir, "graft_store_sqldel_v2", minVersion = 3) {
      (store, feats) =>
        store.delete("events")
        val cutoff = lit(utcTs("2024-01-10 00:00:00"))
        store.register("events", feats.filter(col("timestamp") < cutoff))
        store.registerAppend("events", feats.filter(col("timestamp") >= cutoff))
        val c = graftCatalogFor(s, store.rootPath)
        s.sql(
          s"""DELETE FROM $c.events
             |WHERE event_type = 'click'
             |  AND timestamp < TIMESTAMP '2024-01-05 00:00:00'""".stripMargin)
        store.refresh()
    }

  /** SQL UPDATE roundtrip: version 2 bumps the pre-cutoff values of
    * entities 0-9 through `UPDATE ... SET ... WHERE` on the catalog
    * table ([[graft.plans.GraftUpdateCommand]] via the session
    * extension), executed as the store's key-addressed MERGE upsert.
    */
  private val sqlUpdStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def sqlUpdateStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(sqlUpdStores, s, dir, "graft_store_squpd_v2", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        store.register("events", feats)
        val c = graftCatalogFor(s, store.rootPath)
        s.sql(
          s"""UPDATE $c.events SET value = value + 1000
             |WHERE entity_id < 10 AND timestamp <= TIMESTAMP '$PitAsOf'"""
            .stripMargin)
        store.refresh()
    }

  /** REKEYING SQL UPDATE roundtrip: assigning a KEY column routes
    * through [[graft.store.FeatureStore.registerRewrite]] — the
    * originals' keys drop and the rekeyed rows land in the SAME commit
    * (one version, no delete-then-upsert crash window). The WHERE is
    * key-complete (whole key groups match), so the rekey moves every
    * row of entities 0-9's pre-cutoff keys to entity+1000000.
    */
  private val sqlRekStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def sqlRekeyStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(sqlRekStores, s, dir, "graft_store_sqlrek_v2", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        store.register("events", feats)
        val c = graftCatalogFor(s, store.rootPath)
        s.sql(
          s"""UPDATE $c.events SET entity_id = entity_id + 1000000
             |WHERE entity_id < 10 AND timestamp <= TIMESTAMP '$PitAsOf'"""
            .stripMargin)
        store.refresh()
        if (store.getTableInfo("events").version != 2)
          throw new IllegalStateException(
            "rekeying UPDATE must be ONE commit (got version " +
              s"${store.getTableInfo("events").version})")
    }

  /** SQL MERGE twin of [[upsertStore]]: the identical delta (replaced
    * pre-cutoff rows of entities 0-9, +1000 on value, plus the brand
    * new key for entity 999999) lands through `MERGE INTO ... WHEN
    * MATCHED UPDATE / WHEN NOT MATCHED INSERT *` on the catalog table
    * ([[graft.plans.GraftMergeCommand]]) — same oracle as the
    * Scala-API upsert.
    */
  private val sqlMrgStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def sqlMergeStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(sqlMrgStores, s, dir, "graft_store_sqlmrg_v2", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        store.register("events", feats)
        val modified = feats
          .filter(col("entity_id") < 10 &&
            col("timestamp") <= lit(utcTs(PitAsOf)))
          .withColumn("value", col("value") + lit(1000.0))
        val inserted = s.range(1).select(
          lit(999999L).as("entity_id"),
          lit(utcTs("2024-01-15 00:00:00")).as("timestamp"),
          lit(999999999L).as("event_id"),
          lit("synthetic").as("event_type"),
          lit(42.0).as("value"),
          lit(null).cast("string").as("props"))
        modified.unionByName(inserted)
          .createOrReplaceTempView("graft_sql_merge_delta")
        val c = graftCatalogFor(s, store.rootPath)
        s.sql(
          s"""MERGE INTO $c.events t
             |USING graft_sql_merge_delta s
             |ON t.entity_id = s.entity_id AND t.timestamp = s.timestamp
             |WHEN MATCHED THEN UPDATE SET
             |  event_id = s.event_id, event_type = s.event_type,
             |  value = s.value, props = s.props
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        store.refresh()
    }

  /** SQL RENAME roundtrip: the two-segment chained build lands under
    * the name `events_src`, then `ALTER TABLE ... RENAME TO events`
    * moves it — one catalog move plus one physical directory rename
    * ([[graft.store.FeatureStore.renameTable]]), zero bytes copied.
    * The PIT read under the NEW name must equal the plain oracle: the
    * whole version lineage (both manifest segments, the chained v2)
    * survives the rename value-identically.
    */
  private val sqlRenStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def sqlRenameStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(sqlRenStores, s, dir, "graft_store_sqlren_v2", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        store.delete("events_src")
        val cutoff = lit(utcTs("2024-01-10 00:00:00"))
        store.register("events_src", feats.filter(col("timestamp") < cutoff))
        store.registerAppend("events_src", feats.filter(col("timestamp") >= cutoff))
        val c = graftCatalogFor(s, store.rootPath)
        s.sql(s"ALTER TABLE $c.events_src RENAME TO events")
        store.refresh()
    }

  /** SQL CHECK-CONSTRAINT roundtrip: version 1 registers the
    * pre-cutoff events, `ALTER TABLE ... ADD CONSTRAINT` installs a
    * CHECK the data satisfies (validated in one scan), and the delta
    * lands through `INSERT INTO` with every write now passing the
    * store's zero-extra-pass enforcement — the PIT read must equal the
    * plain oracle: enforcement must never change accepted data.
    */
  private val sqlConStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def sqlConstraintStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(sqlConStores, s, dir, "graft_store_sqlcon_v2", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        val cutoff = lit(utcTs("2024-01-10 00:00:00"))
        store.register("events", feats.filter(col("timestamp") < cutoff))
        val c = graftCatalogFor(s, store.rootPath)
        s.sql(
          s"ALTER TABLE $c.events ADD CONSTRAINT nonneg_entity CHECK (entity_id >= 0)")
        feats.filter(col("timestamp") >= cutoff)
          .createOrReplaceTempView("graft_sql_con_delta")
        s.sql(s"INSERT INTO $c.events SELECT * FROM graft_sql_con_delta")
        store.refresh()
    }

  /** STRING-KEYED twin of [[demoStore]]: the same events table with
    * `entity_id` as a STRING (`'u' + user_id`) — every other
    * oracle-facing store roundtrip keys on numbers, so this pins the
    * register → catalog-type record → PIT entity-IN compare semantics
    * for strings cross-engine (lexicographic output order included).
    */
  private val strStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def stringKeyStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(strStores, s, dir, "graft_store_str_v2") {
      (store, feats) =>
        store.register("events",
          feats.withColumn("entity_id",
            concat(lit("u"), col("entity_id").cast("string"))))
        ()
    }

  /** OPTIMIZE twin of [[demoStore]]: register the full events table,
    * then rewrite it Z-ORDERED by (timestamp, value) — a content-
    * preserving clustered layout whose reads must stay value-identical
    * to the plain PIT oracle.
    */
  private val optStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def optimizeStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(optStores, s, dir, "graft_store_opt_v2", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        store.register("events", feats)
        store.optimizeTable("events", Seq("timestamp", "value"), zorder = true)
        ()
    }

  /** MERGE twin of [[demoStore]]: register the full events table, then
    * [[graft.store.FeatureStore.registerUpsert]] a delta that REPLACES
    * every pre-cutoff row of entities 0-9 (value shifted by +1000) and
    * INSERTS one brand-new key for entity 999999 — the entity the PIT
    * id set queries but the raw table never contains, so the insert is
    * directly visible in the roundtrip.
    */
  private val upsStores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.FeatureStore]()

  private def upsertStore(s: SparkSession, dir: String): graft.store.FeatureStore =
    fingerprintStore(upsStores, s, dir, "graft_store_ups_v3", minVersion = 2) {
      (store, feats) =>
        store.delete("events")
        store.register("events", feats)
        val modified = feats
          .filter(col("entity_id") < 10 &&
            col("timestamp") <= lit(utcTs(PitAsOf)))
          .withColumn("value", col("value") + lit(1000.0))
        val inserted = s.range(1).select(
          lit(999999L).as("entity_id"),
          lit(utcTs("2024-01-15 00:00:00")).as("timestamp"),
          lit(999999999L).as("event_id"),
          lit("synthetic").as("event_type"),
          lit(42.0).as("value"),
          lit(null).cast("string").as("props"))
        store.registerUpsert("events", modified.unionByName(inserted))
        ()
    }

  // -------------------------------------------------------------- contract

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("asof_join_orders")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * north-star extension set in [[NorthStar]].
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = parityQueries ++ NorthStar.queries

  private def parityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O7/O18/O19/O20: PIT snapshot — σ_time → σ_entity → γ_argmax → π
    "pit_snapshot_events" -> ((s, dir) =>
      PointInTime
        .pitSnapshot(
          eventsFeatures(s, dir),
          lit(utcTs(PitAsOf)),
          entityIds = Some(PitIds),
          tieBreakCols = Seq("event_id"))
        .orderBy("entity_id")),

    // O7 + O16: PIT snapshot with feature-column projection
    "pit_snapshot_projection" -> ((s, dir) =>
      PointInTime
        .pitSnapshot(
          eventsFeatures(s, dir),
          lit(utcTs(PitAsOf)),
          entityIds = Some(PitIds),
          columns = Some(Seq("value")),
          tieBreakCols = Seq("event_id"))
        .orderBy("entity_id")),

    // O19 scale path: entity predicate as a broadcast left-semi join
    // (for id sets too large for an IN literal)
    "pit_snapshot_semijoin" -> ((s, dir) => {
      val entities = eventsRaw(s, dir)
        .filter(col("user_id") % 3 === 0)
        .select(col("user_id").as("entity_id"))
      PointInTime
        .pitSnapshotForEntities(
          eventsFeatures(s, dir),
          lit(utcTs(PitAsOf)),
          entities,
          tieBreakCols = Seq("event_id"))
        .orderBy("entity_id")
    }),

    // O20 over the whole table: every entity's latest state as of T
    "pit_latest_all_entities" -> ((s, dir) =>
      PointInTime
        .pitSnapshot(
          eventsFeatures(s, dir),
          lit(utcTs("2024-01-15 00:00:00")),
          tieBreakCols = Seq("event_id"))
        .orderBy("entity_id")),

    // O7 on a bigger-cardinality entity space (lineitem per supplier);
    // composite tie-break because (suppkey, shipdate) ties are dense
    "pit_lineitem_supplier" -> ((s, dir) =>
      PointInTime
        .pitSnapshot(
          read(s, dir, "lineitem").select(
            col("l_suppkey").as("entity_id"),
            col("l_shipdate").as("timestamp"),
            col("l_orderkey"),
            col("l_linenumber"),
            col("l_quantity"),
            col("l_extendedprice")),
          lit(utcTs("1998-06-01 00:00:00")),
          tieBreakCols = Seq("l_orderkey", "l_linenumber"))
        .orderBy("entity_id")),

    // O8: as-of join — spine derived from orders (custkey, orderdate+30d)
    "asof_join_orders" -> ((s, dir) => {
      val feat = ordersFeatures(s, dir)
      val spine = read(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(
          col("o_custkey").as("entity_id"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("timestamp"))
      PointInTime
        .asOfJoin(spine, feat, tieBreakCols = Seq("o_orderkey"))
        .orderBy("entity_id", "timestamp", "o_orderkey")
    }),

    // SCD2 validity intervals over the event stream: each feature row
    // with its [timestamp, valid_to) window; the open current row's
    // bound is a far-future sentinel so the oracle compare never sees
    // a NULL timestamp (NaT defeats exact equality)
    "scd2_intervals" -> ((s, dir) =>
      PointInTime
        .scd2(eventsFeatures(s, dir), tieBreakCols = Seq("event_id"))
        .withColumn("valid_to",
          coalesce(col("valid_to"), lit(utcTs("2100-01-01 00:00:00"))))
        .orderBy("entity_id", "timestamp", "event_id")),

    // O8 on the event stream: probe each sampled event 1h after it happened
    "asof_join_events" -> ((s, dir) => {
      val feat = eventsFeatures(s, dir)
      val spine = eventsRaw(s, dir)
        .filter(col("event_id") % 13 === 0)
        .select(
          col("user_id").as("entity_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("timestamp"))
      PointInTime
        .asOfJoin(spine, feat, tieBreakCols = Seq("event_id"))
        .orderBy("entity_id", "timestamp", "event_id")
    }),

    // as-of join with a staleness bound: matches older than 3 days
    // before the spine timestamp are dropped (feature-freshness SLA).
    // The 10-day spine shift makes the bound selective — entities idle
    // in the last 3 days of each probe's window really drop out.
    "asof_join_maxage" -> ((s, dir) => {
      val feat = eventsFeatures(s, dir)
      val spine = eventsRaw(s, dir)
        .filter(col("event_id") % 13 === 0)
        .select(
          col("user_id").as("entity_id"),
          (col("ts") + expr("INTERVAL 10 DAYS")).as("timestamp"))
      PointInTime
        .asOfJoin(spine, feat, tieBreakCols = Seq("event_id"),
          maxAgeSeconds = Some(3L * 86400))
        .orderBy("entity_id", "timestamp", "event_id")
    }),

    // O8 + O16: as-of join with projection (training-set shape)
    "asof_join_projection" -> ((s, dir) => {
      val feat = ordersFeatures(s, dir)
      val spine = read(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(
          col("o_custkey").as("entity_id"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("timestamp"))
      PointInTime
        .asOfJoin(spine, feat, columns = Some(Seq("o_totalprice")),
          tieBreakCols = Seq("o_orderkey"))
        .orderBy("entity_id", "timestamp", "o_totalprice")
    }),

    // O1-O13 storage roundtrip: register events into a versioned parquet
    // store, then answer the PIT snapshot through the catalog (same
    // oracle as pit_snapshot_events — the storage layer must be
    // value-invisible)
    "store_pit_roundtrip" -> ((s, dir) =>
      demoStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // incremental-registration roundtrip: the table is version 2 of an
    // initial register + registerAppend (manifest-chained segments);
    // the PIT read through the chained manifest must equal the same
    // oracle as the single-snapshot roundtrip — O(delta) storage is
    // value-invisible
    "store_append_roundtrip" -> ((s, dir) =>
      appendStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // the storage SEAM roundtrip: the same PIT read through the
    // transaction-log adapter (Delta-shaped commit markers,
    // versionAsOf-resolved segments) — the physical format is a
    // deployment choice the values must not see
    "store_txnlog_roundtrip" -> ((s, dir) =>
      txnStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // segment-stats data skipping under the oracle gate: a PIT read at
    // a cutoff BEFORE the append split plans only the first segment of
    // the chained manifest (the second's recorded min timestamp is
    // after the cutoff — assert-tested in FeatureStoreSpec), and the
    // skipped plan must still hash-match the full-scan SQL oracle
    "store_pit_pruned" -> ((s, dir) =>
      appendStore(s, dir)
        .get("events", PitIds, "2024-01-09 12:00:00")
        .orderBy("entity_id")),

    // COLUMN-STATS data skipping on a filtered read: the predicate's
    // time bound is provably outside the first chained segment's
    // recorded min/max, so scanWhere plans only the append segment
    // (input-files assert-tested in ColumnStatsSpec) — and the skipped
    // plan must still hash-match the full-scan SQL oracle
    "store_scan_pruned" -> ((s, dir) =>
      appendStore(s, dir)
        .scanWhere("events",
          col("timestamp") >= lit(utcTs("2024-01-12 00:00:00")) &&
            col("event_type") === "click")
        .orderBy("event_id")),

    // OPTIMIZE roundtrip: version 2 is a Z-ORDERED clustered rewrite
    // of version 1 (content-preserving by contract); the PIT read over
    // the optimized layout must equal the plain oracle
    "store_optimize_roundtrip" -> ((s, dir) =>
      optimizeStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // SCHEMA-EVOLUTION roundtrip: version 2 added `props` via a
    // merge-schema append; the PIT read spans both segments, padding
    // the pre-evolution one with typed nulls — against an oracle that
    // nulls props before the evolution cutoff
    "store_evolve_roundtrip" -> ((s, dir) =>
      evolveStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // MULTI-WRITER roundtrip: the table was built by two store
    // instances interleaving register/append on one txn-log root
    // (arbitration + cross-writer adoption); the read must be
    // value-identical to every single-writer build of the same data
    "store_concurrent_roundtrip" -> ((s, dir) =>
      multiWriterStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // ROW-LEVEL DELETE roundtrip: version 3 copy-on-write-deleted the
    // early clicks (rewriting only the pre-cutoff segment); the PIT
    // read must equal SQL over the raw table minus those rows
    "store_delete_roundtrip" -> ((s, dir) =>
      deleteStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // MERGE/UPSERT roundtrip: version 2 replaced every pre-cutoff row
    // of entities 0-9 (+1000 on value) and inserted a brand-new key
    // for entity 999999 — both visible in the PIT snapshot
    "store_upsert_roundtrip" -> ((s, dir) =>
      upsertStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // INCREMENTAL VIEW MAINTENANCE: a per-type rollup seeded from the
    // v1 snapshot and maintained purely from the recorded change sets
    // of v2 (append) and v3 (row delete) — O(changes) folds, never a
    // rescan — must equal the from-scratch rollup of the final content
    "store_ivm_rollup" -> ((s, dir) =>
      graft.store.IncrementalRollup.maintained(
          deleteStore(s, dir), "events", Seq("event_type"),
          round(col("value") * 100).cast("long"))
        .orderBy("event_type")),

    // STREAMING IVM: the same rollup maintained as a LIVE follower —
    // snapshot batch, then each mutating commit folded as its own
    // micro-batch (exactly once, state versioned by batch id) — must
    // answer the identical from-scratch oracle
    "store_ivm_stream" -> ((s, dir) =>
      graft.streaming.StreamingRollup
        .currentState(s, ivmStreamState(s, dir)).get
        .orderBy("event_type")),

    // SERVING-TABLE IVM: the online store — each entity's single
    // latest row maintained O(changes): appends advance closed-form,
    // and only entities whose DELETES reach the current latest key
    // rescan (v2 deletes the late clicks, so many do); must equal the
    // from-scratch latest-per-entity of the final content
    "store_ivm_serving" -> ((s, dir) =>
      graft.store.IncrementalRollup.maintainedServing(
          servingStore(s, dir), "events", tieCols = Seq("event_id"))
        .orderBy("entity_id")),

    // STREAMING NON-INVERTIBLE IVM: min/max maintained LIVE — the v3
    // delete strips boundary values and the follower's version-pinned
    // dirty-group rescan must recover the true extremes; answers the
    // same from-scratch oracle as the batch fold
    "store_ivm_minmax_stream" -> ((s, dir) =>
      graft.streaming.StreamingRollup
        .currentState(s, ivmMinMaxStreamState(s, dir)).get
        .orderBy("event_type")),

    // EXPECTATION-GATED INGESTION, quarantine side: rows failing ANY
    // named expectation land in the quarantine table carrying the
    // comma-joined labels of the expectations they broke
    "store_quarantine_roundtrip" -> ((s, dir) => {
      val store = expectStore(s, dir)
      store.getVersion("events_quarantine",
          store.getTableInfo("events_quarantine").version)
        .orderBy("entity_id", "timestamp", "event_id")
    }),

    // ... and the clean side: exactly the rows every expectation passed
    // — together the two reads partition the source load
    "store_expect_clean" -> ((s, dir) => {
      val store = expectStore(s, dir)
      store.getVersion("events", store.getTableInfo("events").version)
        .orderBy("entity_id", "timestamp", "event_id")
    }),

    // SECOND-MOMENT IVM: mean/variance state (n, sum, sum of squares)
    // folded additively — squares sign-fold like sums, so the exact
    // integer state cancels deletes exactly
    "store_ivm_stats" -> ((s, dir) =>
      graft.store.IncrementalRollup.maintainedStats(
          deleteStore(s, dir), "events", Seq("event_type"),
          round(col("value") * 100).cast("long"))
        .orderBy("event_type")),

    // COUNT(DISTINCT) IVM: distinct values are not additive, so the
    // maintained state is one level finer — (key, value, multiplicity)
    // — folded additively from the same change feed; a value leaves
    // the distinct set exactly when its multiplicity nets to zero
    "store_ivm_distinct" -> ((s, dir) =>
      graft.store.IncrementalRollup.maintainedDistinct(
          deleteStore(s, dir), "events", Seq("event_type"),
          round(col("value") * 100).cast("long"))
        .orderBy("event_type")),

    // STREAMING expectation split: the same quarantine contract under
    // a running micro-batch ingest (exactly-once on both tables) —
    // answers the identical oracle as the batch split
    "store_stream_quarantine" -> ((s, dir) => {
      val store = streamExpectStore(s, dir)
      store.getVersion("events_quarantine",
          store.getTableInfo("events_quarantine").version)
        .orderBy("entity_id", "timestamp", "event_id")
    }),

    // NON-INVERTIBLE IVM: min/max maintained over the same change
    // feed — inserts fold closed-form, and the v3 row delete dirties
    // exactly the groups whose deleted values touch a bound, which are
    // recomputed from current content alone (O(dirty groups), never a
    // full-state rescan) — must equal the from-scratch min/max rollup
    "store_ivm_minmax" -> ((s, dir) =>
      graft.store.IncrementalRollup.maintainedMinMax(
          deleteStore(s, dir), "events", Seq("event_type"),
          round(col("value") * 100).cast("long"))
        .orderBy("event_type")),

    // CHANGE DATA FEED, append fast path: the v1→v2 step of the
    // chained build reads ONLY the delta segment and emits it as
    // inserts — no diff, no full scan
    "store_cdf_roundtrip" -> ((s, dir) =>
      appendStore(s, dir)
        .getChanges("events", 1, 2)
        .orderBy("entity_id", "timestamp", "event_id")),

    // CHANGE DATA FEED over a row-delete step: the v2→v3 diff emits
    // exactly the deleted rows as 'delete' (exceptAll multiset diff —
    // rewritten survivors cancel against their originals)
    "store_cdf_delete" -> ((s, dir) =>
      deleteStore(s, dir)
        .getChanges("events", 2, 3)
        .orderBy("entity_id", "timestamp", "event_id")),

    // the SQL twin: the change feed through the graft_changes
    // TABLE-VALUED FUNCTION (session extension) — resolves to the same
    // store plan, so the same oracle must hash-match
    "store_changes_tvf" -> ((s, dir) => {
      val store = deleteStore(s, dir)
      s.sql(
        s"""SELECT * FROM graft_changes('${store.rootPath}', 'events', 2, 3)
           |ORDER BY entity_id, `timestamp`, event_id""".stripMargin)
    }),

    // CHANGE DATA FEED over a MERGE step: delete+insert pairs for
    // replaced rows, a lone insert for the new key
    "store_cdf_upsert" -> ((s, dir) =>
      upsertStore(s, dir)
        .getChanges("events", 1, 2)
        .orderBy("entity_id", "timestamp", "event_id", "_change_type")),

    // CDC-REPLICATION roundtrip: this table was never written directly
    // — it is a change-feed REPLICA of a source that registered,
    // appended, and row-deleted; the replica's PIT read must equal the
    // directly-mutated oracle (same SQL as store_delete_roundtrip)
    "store_cdc_replica" -> ((s, dir) =>
      cdcReplicaStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // RESTORE roundtrip: v3 re-references v1's manifest (zero-copy),
    // undoing the v2 row-delete — the PIT read must equal the PLAIN
    // oracle, as if the delete never happened
    "store_restore_roundtrip" -> ((s, dir) =>
      restoreStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // CHANGE DATA FEED over a restore step: the undone deletions come
    // back as inserts
    "store_cdf_restore" -> ((s, dir) =>
      restoreStore(s, dir)
        .getChanges("events", 2, 3)
        .orderBy("entity_id", "timestamp", "event_id")),

    // SQL DML roundtrip: version 2 landed through INSERT INTO on a
    // USING graft view (InsertableRelation) — v1 + the SQL insert =
    // the whole table, same plain oracle as the API-built variants
    "store_sql_insert" -> ((s, dir) =>
      sqlInsertStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // STREAMING-INGEST serve roundtrip: readStream -> graft sink
    // (exactly-once append) -> the PIT serve read answers the plain
    // batch oracle — train/serve symmetry under the DuckDB gate
    "store_stream_serve_roundtrip" -> ((s, dir) =>
      streamServeStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // CATALOG STREAM-READ roundtrip: the table CONSUMED through
    // readStream.table (v1 snapshot batch + v2 append-delta batch,
    // rows in the table's own schema) must re-materialize exactly the
    // raw events — the appended-rows streaming read under the gate
    "store_stream_table_read" -> ((s, dir) =>
      s.read.parquet(streamReadSink(s, dir))
        .orderBy("event_id")),

    // SQL SELECT through the graft catalog: the V2 batch scan (the
    // store's own plan wrapped into DSv2 partitions, filters pushed
    // into scanWhere's stats skipping) answers the same oracle as the
    // Scala-API scan — the catalog read path under the DuckDB gate
    "store_sql_select" -> ((s, dir) => {
      val store = appendStore(s, dir)
      val c = graftCatalogFor(s, store.rootPath)
      s.sql(
        s"""SELECT entity_id, `timestamp`, event_id, event_type, value, props
           |FROM $c.events
           |WHERE `timestamp` >= TIMESTAMP '2024-01-12 00:00:00'
           |  AND event_type = 'click'
           |ORDER BY event_id""".stripMargin)
    }),

    // METADATA-ONLY AGGREGATES through the catalog: COUNT/MIN/MAX over
    // the two-segment chained table answered from per-segment stats —
    // O(#segments) driver work, zero files opened. The lambda ASSERTS
    // the plan used the metadata scan, so this row also gates that the
    // pushdown fired (not just that the values match)
    "store_agg_pushdown" -> ((s, dir) => {
      val store = appendStore(s, dir)
      val c = graftCatalogFor(s, store.rootPath)
      val df = s.sql(
        s"""SELECT count(*) AS n_rows, count(props) AS n_props,
           |       min(event_id) AS min_event, max(event_id) AS max_event,
           |       min(`timestamp`) AS min_ts, max(`timestamp`) AS max_ts,
           |       min(event_type) AS min_type, max(event_type) AS max_type
           |FROM $c.events""".stripMargin)
      val usedMetadataScan = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.exists(_.isInstanceOf[graft.sources.GraftAggScan])
      if (!usedMetadataScan)
        throw new IllegalStateException(
          "store_agg_pushdown expected the metadata-only aggregate scan; " +
            df.queryExecution.executedPlan.toString)
      df
    }),

    // SQL TIME TRAVEL through the catalog: VERSION AS OF 1 reads the
    // pre-cutoff register exactly (chained v2 invisible), against a
    // raw-SQL oracle filtered to the same span
    "store_sql_timetravel" -> ((s, dir) => {
      val store = appendStore(s, dir)
      val c = graftCatalogFor(s, store.rootPath)
      s.sql(
        s"""SELECT event_type, count(*) AS n_rows,
           |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
           |FROM $c.events VERSION AS OF 1
           |GROUP BY event_type
           |ORDER BY event_type""".stripMargin)
    }),

    // SQL ROW-DELETE roundtrip: version 3's copy-on-write delete
    // landed through DELETE FROM on the graft SQL catalog
    // (SupportsDeleteV2 pushing the predicates into deleteRows) —
    // value-identical to the Scala-API delete, same oracle
    "store_sql_delete" -> ((s, dir) =>
      sqlDeleteStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // SQL UPDATE roundtrip: version 2 bumped pre-cutoff values of
    // entities 0-9 via UPDATE ... SET ... WHERE on the catalog table
    // (session-extension rule -> key-addressed MERGE upsert)
    "store_sql_update" -> ((s, dir) =>
      sqlUpdateStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // REKEYING SQL UPDATE roundtrip: key-column assignment = ONE
    // atomic registerRewrite commit (originals dropped + rekeyed rows
    // landed together); reads back both the moved and the untouched
    // rows of the affected entities
    "store_sql_update_rekey" -> ((s, dir) => {
      val store = sqlRekeyStore(s, dir)
      store
        .getVersion("events", store.getTableInfo("events").version)
        .filter(col("entity_id") < 10 ||
          (col("entity_id") >= 1000000L && col("entity_id") < 1000010L))
        .orderBy("entity_id", "timestamp", "event_id")
    }),

    // SQL MERGE roundtrip: the upsert delta landed through MERGE INTO
    // (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT *) — same oracle
    // as the Scala-API upsert roundtrip
    "store_sql_merge" -> ((s, dir) =>
      sqlMergeStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // SQL RENAME roundtrip: the chained build landed as 'events_src',
    // then ALTER TABLE ... RENAME TO events (one directory move, zero
    // data copied) — the PIT read under the new name answers the same
    // plain oracle, certifying the lineage survived intact
    "store_sql_rename_roundtrip" -> ((s, dir) =>
      sqlRenameStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // SQL CHECK-CONSTRAINT roundtrip: ADD CONSTRAINT validated v1 in
    // one scan, the INSERT INTO delta passed write-time enforcement —
    // same plain oracle: enforcement never changes accepted data
    "store_sql_constraint_roundtrip" -> ((s, dir) =>
      sqlConstraintStore(s, dir)
        .get("events", PitIds, PitAsOf)
        .orderBy("entity_id")),

    // STRING-KEYED roundtrip: same PIT read with entity_id a STRING
    // ('u' + user_id) — pins register → catalog type record → entity
    // IN-set compare semantics for strings cross-engine
    "store_string_key_roundtrip" -> ((s, dir) =>
      stringKeyStore(s, dir)
        .get("events", StrPitIds, PitAsOf)
        .orderBy("entity_id")),

    // SQL-first surface: the stored table registered as a temp view via
    // createOrReplaceViews and consumed with plain spark.sql — the
    // analyst's first query, resolved through the catalog/manifest
    // path; the storage layer must be value-invisible to SQL too
    "store_sql_view" -> ((s, dir) => {
      demoStore(s, dir).createOrReplaceViews("events")
      s.sql("""SELECT entity_id,
              |       count(*) AS n_rows,
              |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
              |FROM events
              |GROUP BY entity_id
              |ORDER BY entity_id""".stripMargin)
    }),

    // O8 through the storage layer: training-set as-of join against the
    // registered table (same oracle as asof_join_events)
    "store_asof_roundtrip" -> ((s, dir) => {
      val spine = eventsRaw(s, dir)
        .filter(col("event_id") % 13 === 0)
        .select(
          col("user_id").as("entity_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("timestamp"))
      demoStore(s, dir)
        .getTrainingSet("events", spine)
        .orderBy("entity_id", "timestamp", "event_id")
    }),

    // O8 extension through the storage layer: multi-table feature view
    // assembled by the catalog (register purchase/click event subsets as
    // feature tables, then chain left as-of joins) — same oracle as the
    // kernel-level feature_view_multi, proving the store adds nothing
    "store_feature_view_roundtrip" -> ((s, dir) => {
      val store = demoStore(s, dir)
      val ev = eventsRaw(s, dir)
      if (!store.tableNames.contains("purchase"))
        store.register("purchase", ev.filter(col("event_type") === "purchase")
          .select(
            col("user_id").as("entity_id"),
            col("ts").as("timestamp"),
            round(col("value") * 100).cast("long").as("value_cents"),
            col("event_id")))
      if (!store.tableNames.contains("click"))
        store.register("click", ev.filter(col("event_type") === "click")
          .select(
            col("user_id").as("entity_id"),
            col("ts").as("timestamp"),
            col("event_id")))
      val spine = ev
        .filter(col("event_id") % 13 === 0)
        .select(
          col("user_id").as("entity_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("timestamp"))
      val epoch = lit(utcTs("1970-01-01 00:00:00"))
      store.getFeatureView(spine, Seq("purchase", "click"))
        .select(
          col("entity_id"),
          col("timestamp"),
          coalesce(col("purchase_timestamp"), epoch).as("purchase_timestamp"),
          coalesce(col("purchase_value_cents"), lit(-1L)).as("purchase_value_cents"),
          coalesce(col("purchase_event_id"), lit(-1L)).as("purchase_event_id"),
          coalesce(col("click_timestamp"), epoch).as("click_timestamp"),
          coalesce(col("click_event_id"), lit(-1L)).as("click_event_id"))
        .orderBy("entity_id", "timestamp")
    }),

    // Aggregation showcase (integer-cents arithmetic so the hash compare
    // is exact across engines — double sums are order-dependent)
    "agg_pricing_summary" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(utcTs("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("count_order"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("sum_disc_units"))
        .orderBy("l_returnflag", "l_linestatus"))
    ,

    // TPC-H Q3-shaped star join: fact lineitem filtered then joined to
    // orders (shuffle, both large) and broadcast customer dim; AQE is
    // free to reorder/replan. Integer-cents revenue keeps the hash
    // compare exact; deterministic top-10 via (revenue, orderkey).
    "star_revenue" -> ((s, dir) => {
      val cust = read(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = read(s, dir, "orders")
        .filter(col("o_orderdate") < lit(utcTs("1995-03-15 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = read(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit(utcTs("1995-03-15 00:00:00")))
        .select(
          col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("disc_units"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("disc_units")).as("revenue_units"))
        .orderBy(col("revenue_units").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q4-shaped EXISTS: orders with at least one returned item,
    // counted by priority. left_semi plans as a semi hash join — the
    // probe side never duplicates orders no matter how many lineitems
    // match (an inner join + distinct would materialize the blowup)
    "orders_returned_semijoin" -> ((s, dir) => {
      val returned = read(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      read(s, dir, "orders")
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q13-shaped distribution: orders-per-customer including the
    // zero-order customers (left outer keeps them; an inner join would
    // silently drop the most interesting bucket), then the histogram
    "customer_order_distribution" -> ((s, dir) => {
      val ord = read(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      read(s, dir, "customer")
        .select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = parityOracleSql ++ NorthStar.oracleSql

  /** The as-of oracle of `asof_join_orders`: latest order per customer
    * at or before each spine probe, by row_number over the pairwise
    * join — independent of the union + running-`last` plan it checks.
    */
  private val OrdersAsOfOracle: String =
    """WITH spine AS (
        |  SELECT o_orderkey AS spine_id, o_custkey AS e,
        |         o_orderdate + INTERVAL 30 DAY AS t
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), j AS (
        |  SELECT s.spine_id, f.o_custkey, f.o_orderdate, f.o_orderkey,
        |         f.o_orderstatus, f.o_totalprice, f.o_orderpriority,
        |         row_number() OVER (PARTITION BY s.spine_id
        |             ORDER BY f.o_orderdate DESC, f.o_orderkey DESC) AS rn
        |  FROM spine s JOIN orders f
        |    ON f.o_custkey = s.e AND f.o_orderdate <= s.t
        |)
        |SELECT o_custkey AS entity_id, o_orderdate AS "timestamp",
        |       o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM j WHERE rn = 1
        |ORDER BY entity_id, "timestamp", o_orderkey""".stripMargin

  /** Shared by the kernel-level query and the storage roundtrip: the
    * store must be value-invisible. (Tie-break note: events has no
    * duplicate (user_id, ts), so the SQL's event_id tie-break and the
    * store's ingest-key tie-break are both inert.)
    */
  private def eventsPitOracleAt(cutoff: String): String =
    s"""SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value, props
       |FROM events
       |WHERE ts <= TIMESTAMP '$cutoff' AND user_id IN $PitIdsSql
       |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
       |ORDER BY entity_id""".stripMargin

  private lazy val EventsPitOracle: String = eventsPitOracleAt(PitAsOf)

  /** PIT oracle over the raw table minus the deleted early clicks —
    * shared by the direct row-delete roundtrip and its change-feed
    * replica (one mutation series, two physical histories, one truth).
    */
  /** From-scratch rollup of the delete-series store's final content —
    * the IVM contract both the batch fold (`store_ivm_rollup`) and the
    * streaming follower (`store_ivm_stream`) must answer.
    */
  /** The expectation split's quarantine side — shared by the batch
    * registerWithExpectations roundtrip and its streaming twin (one
    * contract, two ingest paths).
    */
  private lazy val EventsQuarantineOracle: String =
    """WITH labeled AS (
      |  SELECT user_id AS entity_id, ts AS "timestamp", event_id,
      |         event_type, value, props,
      |         concat_ws(',',
      |           CASE WHEN NOT coalesce(event_type != 'error', false)
      |                THEN 'no_errors' END,
      |           CASE WHEN NOT coalesce(value <= 300.0, false)
      |                THEN 'small_value' END) AS violated
      |  FROM events)
      |SELECT * FROM labeled WHERE violated != ''
      |ORDER BY entity_id, "timestamp", event_id""".stripMargin

  /** From-scratch min/max of the delete-series final content — shared
    * by the batch fold and the streaming follower.
    */
  private lazy val EventsIvmMinMaxOracle: String =
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       min(CAST(round(value * 100) AS BIGINT)) AS min_value,
      |       max(CAST(round(value * 100) AS BIGINT)) AS max_value
      |FROM events
      |WHERE NOT (event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00')
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private lazy val EventsIvmRollupOracle: String =
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value,
      |       CAST(count(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS n_valued
      |FROM events
      |WHERE NOT (event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00')
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private lazy val EventsDeletedPitOracle: String =
    s"""SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value, props
       |FROM events
       |WHERE ts <= TIMESTAMP '$PitAsOf' AND user_id IN $PitIdsSql
       |  AND NOT (event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00')
       |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
       |ORDER BY entity_id""".stripMargin

  /** MERGE/UPSERT oracle: the raw table with replaced values patched
    * in plus the inserted key — shared by the Scala-API upsert
    * roundtrip and its SQL `MERGE INTO` twin.
    */
  private lazy val EventsUpsertOracle: String =
    s"""WITH t AS (
       |  SELECT user_id, ts, event_id, event_type,
       |         value + CASE WHEN user_id < 10 AND ts <= TIMESTAMP '$PitAsOf'
       |                      THEN 1000 ELSE 0 END AS value,
       |         props
       |  FROM events
       |  UNION ALL
       |  SELECT 999999, TIMESTAMP '2024-01-15 00:00:00', 999999999,
       |         'synthetic', 42.0, CAST(NULL AS VARCHAR)
       |)
       |SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value, props
       |FROM t
       |WHERE ts <= TIMESTAMP '$PitAsOf' AND user_id IN $PitIdsSql
       |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
       |ORDER BY entity_id""".stripMargin

  private lazy val EventsAsOfOracle: String =
    """WITH spine AS (
      |  SELECT event_id AS spine_id, user_id AS e, ts + INTERVAL 1 HOUR AS t
      |  FROM events WHERE event_id % 13 = 0
      |), j AS (
      |  SELECT s.spine_id, f.user_id, f.ts, f.event_id, f.event_type,
      |         f.value, f.props,
      |         row_number() OVER (PARTITION BY s.spine_id
      |             ORDER BY f.ts DESC, f.event_id DESC) AS rn
      |  FROM spine s JOIN events f
      |    ON f.user_id = s.e AND f.ts <= s.t
      |)
      |SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
      |       value, props
      |FROM j WHERE rn = 1
      |ORDER BY entity_id, "timestamp", event_id""".stripMargin

  private def parityOracleSql: Map[String, String] = Map(
    "pit_snapshot_events" -> EventsPitOracle,

    "store_pit_roundtrip" -> EventsPitOracle,

    // the chained-manifest read must be value-invisible too
    "store_append_roundtrip" -> EventsPitOracle,

    // ...and so must the transaction-log adapter behind the seam
    "store_txnlog_roundtrip" -> EventsPitOracle,

    // merge-schema evolution: rows from the pre-evolution segment read
    // `props` as NULL (the engine pads them from the catalog's type
    // record); everything else matches the plain PIT oracle
    "store_evolve_roundtrip" ->
      s"""SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value,
         |       CASE WHEN ts < TIMESTAMP '2024-01-10 00:00:00' THEN NULL
         |            ELSE props END AS props
         |FROM events
         |WHERE ts <= TIMESTAMP '$PitAsOf' AND user_id IN $PitIdsSql
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY entity_id""".stripMargin,

    // segment-skipped chained-manifest read ≡ full-scan SQL at the
    // same (earlier) cutoff
    "store_pit_pruned" -> eventsPitOracleAt("2024-01-09 12:00:00"),

    // column-stats-skipped filtered read ≡ full-scan SQL filter
    "store_scan_pruned" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value, props
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-12 00:00:00' AND event_type = 'click'
        |ORDER BY event_id""".stripMargin,

    // the two-writer interleaved build must be value-invisible too
    "store_concurrent_roundtrip" -> EventsPitOracle,

    // ...and the z-ordered OPTIMIZE rewrite (content-preserving)
    "store_optimize_roundtrip" -> EventsPitOracle,

    // copy-on-write DELETE: PIT over the raw table minus the deleted
    // predicate (engine deleted early clicks in version 3)
    "store_delete_roundtrip" -> EventsDeletedPitOracle,

    // the maintained rollup must equal the from-scratch rollup of the
    // mutated table's final content (cents-exact additive state) —
    // shared by the batch fold and the streaming follower
    "store_ivm_rollup" -> EventsIvmRollupOracle,
    "store_ivm_stream" -> EventsIvmRollupOracle,
    "store_quarantine_roundtrip" -> EventsQuarantineOracle,
    "store_stream_quarantine" -> EventsQuarantineOracle,
    "store_expect_clean" ->
      """WITH labeled AS (
        |  SELECT user_id AS entity_id, ts AS "timestamp", event_id,
        |         event_type, value, props,
        |         concat_ws(',',
        |           CASE WHEN NOT coalesce(event_type != 'error', false)
        |                THEN 'no_errors' END,
        |           CASE WHEN NOT coalesce(value <= 300.0, false)
        |                THEN 'small_value' END) AS violated
        |  FROM events)
        |SELECT entity_id, "timestamp", event_id, event_type, value, props
        |FROM labeled WHERE violated = ''
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,
    "store_ivm_stats" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_value,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)
        |                * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_sq,
        |       CAST(count(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS n_valued
        |FROM events
        |WHERE NOT (event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "store_ivm_distinct" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT CAST(round(value * 100) AS BIGINT))
        |            AS BIGINT) AS n_distinct
        |FROM events
        |WHERE NOT (event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00')
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "store_ivm_minmax" -> EventsIvmMinMaxOracle,
    "store_ivm_minmax_stream" -> EventsIvmMinMaxOracle,
    "store_ivm_serving" ->
      """WITH content AS (
        |  SELECT user_id AS entity_id, ts AS "timestamp", event_id,
        |         event_type, value, props
        |  FROM events
        |  WHERE NOT (event_type = 'click'
        |             AND ts >= TIMESTAMP '2024-01-10 00:00:00')
        |  UNION ALL
        |  SELECT i, TIMESTAMP '2099-01-01 00:00:00', 900000000 + i,
        |         'synthetic', 1.0, NULL
        |  FROM range(0, 100) t(i)
        |)
        |SELECT entity_id, "timestamp", event_id, event_type, value, props
        |FROM content
        |QUALIFY row_number() OVER (PARTITION BY entity_id
        |          ORDER BY "timestamp" DESC, event_id DESC) = 1
        |ORDER BY entity_id""".stripMargin,

    // the change-feed REPLICA of the same mutation series must answer
    // the identical oracle — the source→feed→cdc-apply pipeline is
    // value-invisible
    "store_cdc_replica" -> EventsDeletedPitOracle,

    // MERGE/UPSERT: raw table with replaced values patched in (+1000
    // for entities 0-9 before the cutoff) plus the inserted key
    "store_upsert_roundtrip" -> EventsUpsertOracle,

    // streamed-in table, batch-identical PIT serve
    "store_stream_serve_roundtrip" -> EventsPitOracle,

    // the catalog stream-read re-materializes the raw events exactly
    "store_stream_table_read" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id,
        |       event_type, value, props
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // metadata-only aggregates: the oracle computes them the hard way
    "store_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(props) AS BIGINT) AS n_props,
        |       CAST(min(event_id) AS BIGINT) AS min_event,
        |       CAST(max(event_id) AS BIGINT) AS max_event,
        |       min(ts) AS min_ts, max(ts) AS max_ts,
        |       min(event_type) AS min_type, max(event_type) AS max_type
        |FROM events""".stripMargin,

    // catalog SELECT: same truth as the Scala-API stats-skipped scan
    "store_sql_select" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value, props
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-12 00:00:00' AND event_type = 'click'
        |ORDER BY event_id""".stripMargin,

    // catalog VERSION AS OF 1 = the pre-cutoff register
    "store_sql_timetravel" ->
      """SELECT event_type, count(*) AS n_rows,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // the SQL-DML twins: DELETE FROM / UPDATE / MERGE INTO on the
    // graft catalog must be value-identical to the Scala-API
    // mutations, so they share (or minimally vary) those oracles
    "store_sql_delete" -> EventsDeletedPitOracle,

    "store_sql_update" ->
      s"""SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
         |       value + CASE WHEN user_id < 10 AND ts <= TIMESTAMP '$PitAsOf'
         |                    THEN 1000 ELSE 0 END AS value,
         |       props
         |FROM events
         |WHERE ts <= TIMESTAMP '$PitAsOf' AND user_id IN $PitIdsSql
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY entity_id""".stripMargin,

    "store_sql_merge" -> EventsUpsertOracle,

    "store_sql_update_rekey" ->
      s"""SELECT CASE WHEN user_id < 10 AND ts <= TIMESTAMP '$PitAsOf'
         |            THEN user_id + 1000000 ELSE user_id END AS entity_id,
         |       ts AS "timestamp", event_id, event_type, value, props
         |FROM events
         |WHERE user_id < 10
         |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    // change feed of the append step: the delta rows, all inserts
    "store_cdf_roundtrip" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
        |       value, props,
        |       'insert' AS _change_type, 2 AS _commit_version
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    // restore undid the row delete: the plain PIT oracle again
    "store_restore_roundtrip" -> EventsPitOracle,

    // change feed of the restore step: the undone deletions re-insert
    "store_cdf_restore" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
        |       value, props,
        |       'insert' AS _change_type, 3 AS _commit_version
        |FROM events
        |WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00'
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    // change feed of the delete step: exactly the deleted rows
    "store_cdf_delete" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
        |       value, props,
        |       'delete' AS _change_type, 3 AS _commit_version
        |FROM events
        |WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00'
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    // the TVF twin answers the identical feed
    "store_changes_tvf" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
        |       value, props,
        |       'delete' AS _change_type, 3 AS _commit_version
        |FROM events
        |WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-05 00:00:00'
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    // change feed of the MERGE step: delete+insert per replaced row
    // (old and new content), one lone insert for the new key
    "store_cdf_upsert" ->
      s"""WITH ch AS (
         |  SELECT user_id, ts, event_id, event_type, value + 1000 AS value,
         |         props, 'insert' AS _change_type
         |  FROM events WHERE user_id < 10 AND ts <= TIMESTAMP '$PitAsOf'
         |  UNION ALL
         |  SELECT user_id, ts, event_id, event_type, value, props, 'delete'
         |  FROM events WHERE user_id < 10 AND ts <= TIMESTAMP '$PitAsOf'
         |  UNION ALL
         |  SELECT 999999, TIMESTAMP '2024-01-15 00:00:00', 999999999,
         |         'synthetic', 42.0, CAST(NULL AS VARCHAR), 'insert'
         |)
         |SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
         |       value, props, _change_type, 2 AS _commit_version
         |FROM ch
         |ORDER BY entity_id, ts, event_id, _change_type""".stripMargin,

    // v1 register + SQL INSERT INTO = the whole table: plain oracle
    "store_sql_insert" -> EventsPitOracle,

    // renamed lineage reads value-identically: plain oracle
    "store_sql_rename_roundtrip" -> EventsPitOracle,

    // constraint-enforced writes accept the same data: plain oracle
    "store_sql_constraint_roundtrip" -> EventsPitOracle,

    // string-keyed PIT: same rows, string key and lexicographic order
    "store_string_key_roundtrip" ->
      s"""SELECT 'u' || CAST(user_id AS VARCHAR) AS entity_id, ts AS "timestamp",
         |       event_id, event_type, value, props
         |FROM events
         |WHERE ts <= TIMESTAMP '$PitAsOf'
         |  AND ('u' || CAST(user_id AS VARCHAR)) IN $StrPitIdsSql
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY entity_id""".stripMargin,

    "store_asof_roundtrip" -> EventsAsOfOracle,

    // SQL over the registered view ≡ SQL over the raw events table
    "store_sql_view" ->
      """SELECT user_id AS entity_id,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |GROUP BY user_id
        |ORDER BY entity_id""".stripMargin,

    // the storage layer must be value-invisible for views too
    "store_feature_view_roundtrip" -> NorthStar.oracleSql("feature_view_multi"),

    "pit_snapshot_projection" ->
      s"""SELECT user_id AS entity_id, ts AS "timestamp", value
         |FROM events
         |WHERE ts <= TIMESTAMP '$PitAsOf' AND user_id IN $PitIdsSql
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY entity_id""".stripMargin,

    "pit_snapshot_semijoin" ->
      s"""SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value, props
         |FROM events
         |WHERE ts <= TIMESTAMP '$PitAsOf' AND user_id % 3 = 0
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         |ORDER BY entity_id""".stripMargin,

    "pit_latest_all_entities" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type, value, props
        |FROM events
        |WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY entity_id""".stripMargin,

    "pit_lineitem_supplier" ->
      """SELECT l_suppkey AS entity_id, l_shipdate AS "timestamp",
        |       l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-06-01 00:00:00'
        |QUALIFY row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) = 1
        |ORDER BY entity_id""".stripMargin,

    "asof_join_orders" -> OrdersAsOfOracle,

    "scd2_intervals" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
        |       value, props,
        |       coalesce(lead(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id),
        |         TIMESTAMP '2100-01-01 00:00:00') AS valid_to
        |FROM events
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    "asof_join_events" -> EventsAsOfOracle,

    // the staleness bound lands in the join condition: the latest row
    // <= t is the latest within [t-3d, t] whenever any row is in range
    "asof_join_maxage" ->
      """WITH spine AS (
        |  SELECT event_id AS spine_id, user_id AS e, ts + INTERVAL 10 DAY AS t
        |  FROM events WHERE event_id % 13 = 0
        |), j AS (
        |  SELECT s.spine_id, f.user_id, f.ts, f.event_id, f.event_type,
        |         f.value, f.props,
        |         row_number() OVER (PARTITION BY s.spine_id
        |             ORDER BY f.ts DESC, f.event_id DESC) AS rn
        |  FROM spine s JOIN events f
        |    ON f.user_id = s.e AND f.ts <= s.t
        |   AND f.ts >= s.t - INTERVAL 3 DAY
        |)
        |SELECT user_id AS entity_id, ts AS "timestamp", event_id, event_type,
        |       value, props
        |FROM j WHERE rn = 1
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    "asof_join_projection" ->
      """WITH spine AS (
        |  SELECT o_orderkey AS spine_id, o_custkey AS e,
        |         o_orderdate + INTERVAL 30 DAY AS t
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), j AS (
        |  SELECT s.spine_id, f.o_custkey, f.o_orderdate, f.o_totalprice,
        |         row_number() OVER (PARTITION BY s.spine_id
        |             ORDER BY f.o_orderdate DESC, f.o_orderkey DESC) AS rn
        |  FROM spine s JOIN orders f
        |    ON f.o_custkey = s.e AND f.o_orderdate <= s.t
        |)
        |SELECT o_custkey AS entity_id, o_orderdate AS "timestamp", o_totalprice
        |FROM j WHERE rn = 1
        |ORDER BY entity_id, "timestamp", o_totalprice""".stripMargin,

    "star_revenue" ->
      """SELECT l_orderkey, o_orderdate,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS revenue_units
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_units DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS count_order,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_units
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "orders_returned_semijoin" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE o_orderkey IN
        |  (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "customer_order_distribution" ->
      """SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
        |FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_custkey
        |)
        |GROUP BY n_orders
        |ORDER BY n_orders""".stripMargin
  )
}
