package graft

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.store.{FeatureStore, FeatureValidationError, PointInTime, WindowFeatures}

/** Randomized DIFFERENTIAL fuzzing against DuckDB — the same operation
  * runs through the engine and through generated ANSI SQL, and the
  * results must match value-for-value (the driver's compare_oracle
  * discipline: sort columns by name, exact values in emitted order).
  *
  * Rationale: the fixed 169-query contract is saturated — every future
  * regression will come from inputs the fixed queries don't reach.
  * These properties walk the input space the contract can't: duplicate
  * timestamps at the argmax (tie-break totality, reference
  * store.py:516-530), duplicate spine pairs (store.py:288-296),
  * cutoff-boundary equality, staleness bounds landing exactly on a row,
  * NULL values inside aggregates, and three-valued-logic DELETE
  * predicates. Each case ships rows to DuckDB as literal VALUES CTEs —
  * no parquet for inputs, one parquet dump for the engine result — and
  * a persistent python worker (tools/duckdb_worker.py) does the exact
  * compare, so a case costs one engine query plus one IPC round trip.
  *
  * Cancels (passes trivially, like PythonBindingSpec's assume) when
  * python3+duckdb+pandas is absent, so `sbt test` stays green on hosts
  * without the oracle toolchain.
  */
object DifferentialProps extends Properties("Differential") {

  // 12 cases/family in CI; GRAFT_DIFF_N=<n> cranks the depth for
  // dedicated soak runs (each case is one engine query + one IPC
  // round trip to the persistent DuckDB worker, ~0.5s) and
  // GRAFT_DIFF_SEED=<base64> replays a reported failing seed exactly
  override def overrideParameters(p: Test.Parameters): Test.Parameters = {
    val base = p.withMinSuccessfulTests(
      sys.env.get("GRAFT_DIFF_N").map(_.toInt).getOrElse(12))
      .withMaxSize(40)
    sys.env.get("GRAFT_DIFF_SEED").fold(base)(s =>
      base.withInitialSeed(org.scalacheck.rng.Seed.fromBase64(s).get))
  }

  private lazy val spark = SparkTestBase.session

  // ---------------------------------------------------------------
  // DuckDB worker plumbing
  // ---------------------------------------------------------------

  private object Duck {
    import scala.sys.process._

    lazy val available: Boolean =
      try Process(Seq("python3", "-c", "import duckdb, pandas")).! == 0
      catch { case _: Throwable => false }

    private lazy val io = {
      val script = new java.io.File("tools/duckdb_worker.py").getAbsolutePath
      val pb = new java.lang.ProcessBuilder("python3", "-u", script)
      pb.redirectError(java.lang.ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      sys.addShutdownHook { p.destroy() }
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(p.getOutputStream, "UTF-8"))
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
      (p, w, r)
    }

    private def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    /** Run the oracle SQL, compare against the engine parquet at
      * `resultDir`; Left(first difference) on mismatch.
      */
    def compare(sql: String, resultDir: String): Either[String, Unit] =
      synchronized {
        val (_, w, r) = io
        w.write(s"""{"sql": ${jstr(sql)}, "result": ${jstr(resultDir)}}""")
        w.newLine(); w.flush()
        val line = r.readLine()
        // the worker emits exactly json.dumps({"ok": True, ...}) —
        // anchor on the prefix so a failure message that merely EMBEDS
        // the substring can never be misread as a pass
        if (line == null) Left("duckdb worker died")
        else if (line.startsWith("{\"ok\": true")) Right(())
        else Left(line)
      }
  }

  /** Prop that PASSES the whole property when the oracle toolchain is
    * absent, otherwise checks every generated case against DuckDB.
    */
  private def differential[A](g: Gen[A])(f: A => Either[String, Unit]): Prop =
    if (!Duck.available) Prop.passed
    else forAllNoShrink(g) { a =>
      val r = f(a)
      Prop.propBoolean(r.isRight) :| r.left.getOrElse("")
    }

  // ---------------------------------------------------------------
  // Shared generators + SQL rendering
  // ---------------------------------------------------------------

  /** 2024-01-01T00:00:00Z — all generated times are whole seconds
    * offset from here (tz-free: epoch-based on the Spark side, UTC
    * wall-clock literals on the DuckDB side, session pinned UTC).
    */
  private val Base = 1704067200L

  /** Small hour pool → dense (entity, ts) collisions, the tie-break
    * edge the fixed contract can't reach.
    */
  private val HourPool: Seq[Long] = Seq(0L, 1L, 2L, 3L, 5L, 8L, 13L, 21L)

  private case class F(e: Long, sec: Long, id: Long, v: Option[Long])

  private val TsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private def tsLit(sec: Long): String =
    s"TIMESTAMP '${TsFmt.format(Instant.ofEpochSecond(sec))}'"

  private def longLit(v: Option[Long]): String =
    v.map(x => s"CAST($x AS BIGINT)").getOrElse("CAST(NULL AS BIGINT)")

  /** feat(entity_id, "timestamp", event_id, value) as a VALUES CTE. */
  private def featCte(name: String, rows: Seq[F]): String = {
    require(rows.nonEmpty, "feature CTE must be non-empty")
    val vals = rows.map(r =>
      s"(CAST(${r.e} AS BIGINT), ${tsLit(r.sec)}, CAST(${r.id} AS BIGINT), ${longLit(r.v)})")
    s"""$name(entity_id, "timestamp", event_id, value) AS (VALUES ${vals.mkString(", ")})"""
  }

  /** spine(spine_id, entity_id, "timestamp") as a VALUES CTE; null
    * spine timestamps render as CAST(NULL AS TIMESTAMP).
    */
  private def spineCte(name: String, rows: Seq[(Long, Option[Long])]): String = {
    require(rows.nonEmpty, "spine CTE must be non-empty")
    val vals = rows.zipWithIndex.map { case ((e, t), i) =>
      val tl = t.map(tsLit).getOrElse("CAST(NULL AS TIMESTAMP)")
      s"(CAST($i AS BIGINT), CAST($e AS BIGINT), $tl)"
    }
    s"""$name(spine_id, entity_id, "timestamp") AS (VALUES ${vals.mkString(", ")})"""
  }

  private val featSchema = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("event_id", LongType, nullable = false),
    StructField("value", LongType, nullable = true)))

  private def featDF(rows: Seq[F]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(
        r.e, new java.sql.Timestamp(r.sec * 1000L), r.id,
        r.v.map(java.lang.Long.valueOf).orNull)), 2),
      featSchema)

  private val spineSchema = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = true)))

  private def spineDF(rows: Seq[(Long, Option[Long])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (e, t) => Row(
        e, t.map(s => new java.sql.Timestamp(s * 1000L)).orNull) }, 2),
      spineSchema)

  /** Feature rows: entities 0..3, times from the hour pool (dense
    * duplicate (entity, ts) pairs), ~20% null values; event_id is the
    * unique deterministic ingest key 0..n-1.
    */
  private val genFeatRows: Gen[List[F]] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      e <- Gen.choose(0L, 3L)
      h <- Gen.oneOf(HourPool)
      v <- Gen.frequency(4 -> Gen.choose(-50L, 50L).map(Some(_)),
                         1 -> Gen.const(None))
    } yield F(e, Base + h * 3600L, 0L, v))
  } yield rows.zipWithIndex.map { case (r, i) => r.copy(id = i.toLong) }

  /** A cutoff that often lands EXACTLY on a row's timestamp (boundary
    * inclusivity), sometimes 1s before (exclusion), sometimes between.
    */
  private val genCutoff: Gen[Long] = for {
    h <- Gen.oneOf(HourPool)
    d <- Gen.oneOf(0L, 0L, 0L, -1L, 1800L, -3600L * 2)
  } yield Base + h * 3600L + d

  /** Spine rows: entities 0..4 (4 has no features), times around the
    * pool including before-all-data, plus ~8% null timestamps.
    */
  private val genSpineRows: Gen[List[(Long, Option[Long])]] = for {
    n <- Gen.choose(1, 20)
    rows <- Gen.listOfN(n, for {
      e <- Gen.choose(0L, 4L)
      t <- Gen.frequency(
        11 -> (for {
          h <- Gen.oneOf(HourPool)
          d <- Gen.oneOf(0L, 0L, -1L, 1L, 1800L, -3600L * 6)
        } yield Some(Base + h * 3600L + d)),
        1 -> Gen.const(None))
    } yield (e, t))
  } yield rows

  private val caseIdx = new AtomicInteger()
  private lazy val baseDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_diff_")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(d.toFile)
    }
    d
  }

  /** Engine result → single sorted parquet file (the same
    * coalesce-after-ORDER-BY shape Verify.scala dumps with); an
    * all-empty plan that produces no part file gets an explicit empty
    * single-partition write so DuckDB can still read the schema.
    */
  private def dump(df: DataFrame, tag: String): String = {
    val dir = baseDir.resolve(s"$tag-${caseIdx.incrementAndGet()}").toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val hasPart = Option(new java.io.File(dir).listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (!hasPart)
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[Row], 1), df.schema)
        .write.mode("overwrite").parquet(dir)
    dir
  }

  // ---------------------------------------------------------------
  // Family 1: PIT snapshot (σ ts<=T → σ id∈set → γ argmax → π)
  // ---------------------------------------------------------------

  private case class PitCase(rows: List[F], cutoff: Long,
      ids: Option[List[Long]], cols: Option[List[String]], viaDf: Boolean)

  private val genPit: Gen[PitCase] = for {
    rows <- genFeatRows
    cutoff <- genCutoff
    ids <- Gen.option(Gen.nonEmptyListOf(Gen.choose(0L, 5L)).map(_.distinct))
    cols <- Gen.oneOf(None, Some(List("value")), Some(List("event_id")),
      Some(List("event_id", "value")))
    viaDf <- Gen.oneOf(true, false) // broadcast-semi-join scale form
  } yield PitCase(rows, cutoff, ids, cols, viaDf)

  property("pitSnapshot == DuckDB argmax (ties, boundary, projection)") =
    differential(genPit) { c =>
      val asOf = lit(new java.sql.Timestamp(c.cutoff * 1000L))
      val engine =
        if (c.viaDf && c.ids.isDefined)
          // the entity-set-as-DataFrame form must agree with the
          // IN-literal form on the same oracle
          PointInTime.pitSnapshotForEntities(
            featDF(c.rows), asOf,
            entities = spark.createDataFrame(
              spark.sparkContext.parallelize(
                c.ids.get.map(Row(_)), 1),
              StructType(Seq(StructField("entity_id", LongType, false)))),
            columns = c.cols, tieBreakCols = Seq("event_id"))
        else PointInTime.pitSnapshot(
          featDF(c.rows), asOf,
          entityIds = c.ids.map(_.map(x => x: Any)),
          columns = c.cols,
          tieBreakCols = Seq("event_id"))
      val out = engine.orderBy("entity_id")
      val proj = (Seq("entity_id", "\"timestamp\"") ++
        c.cols.getOrElse(List("event_id", "value"))).mkString(", ")
      val idPred = c.ids
        .map(ids => s"AND entity_id IN (${ids.mkString(", ")})").getOrElse("")
      val sql =
        s"""WITH ${featCte("feat", c.rows)}
           |SELECT $proj FROM feat
           |WHERE "timestamp" <= ${tsLit(c.cutoff)} $idPred
           |QUALIFY row_number() OVER (PARTITION BY entity_id
           |    ORDER BY "timestamp" DESC, event_id DESC) = 1
           |ORDER BY entity_id""".stripMargin
      Duck.compare(sql, dump(out, "pit"))
    }

  // ---------------------------------------------------------------
  // Family 2: top-k recency (γ argmax generalized, rank totality)
  // ---------------------------------------------------------------

  property("latestKPerEntity == DuckDB ranked window") =
    differential(for {
      rows <- genFeatRows
      k <- Gen.choose(1, 4)
    } yield (rows, k)) { case (rows, k) =>
      val out = PointInTime.latestKPerEntity(
        featDF(rows), k, tieBreakCols = Seq("event_id"))
        .orderBy("entity_id", "recency_rank")
      val sql =
        s"""WITH ${featCte("feat", rows)}
           |SELECT entity_id, "timestamp", event_id, value,
           |       CAST(row_number() OVER (PARTITION BY entity_id
           |           ORDER BY "timestamp" DESC, event_id DESC) AS INT)
           |         AS recency_rank
           |FROM feat
           |QUALIFY recency_rank <= $k
           |ORDER BY entity_id, recency_rank""".stripMargin
      Duck.compare(sql, dump(out, "topk"))
    }

  // ---------------------------------------------------------------
  // Family 3: as-of join (duplicate spine pairs, staleness bound,
  // null spine timestamps, entities with no history)
  // ---------------------------------------------------------------

  private case class AsOfCase(rows: List[F],
      spine: List[(Long, Option[Long])], maxAge: Option[Long])

  private val genAsOf: Gen[AsOfCase] = for {
    rows <- genFeatRows
    spine <- genSpineRows
    // ages landing exactly on hour gaps fuzz the inclusive floor
    maxAge <- Gen.option(Gen.oneOf(0L, 3600L, 2 * 3600L, 5 * 3600L,
      7 * 3600L, 3600L - 1, 24 * 3600L))
  } yield AsOfCase(rows, spine, maxAge)

  property("asOfJoin == DuckDB lateral argmax (dup spine pairs, max_age)") =
    differential(genAsOf) { c =>
      val sp = spineDF(c.spine)
      val tb = featDF(c.rows)
      val out = PointInTime
        .asOfJoin(sp, tb, tieBreakCols = Seq("event_id"), maxAgeSeconds = c.maxAge)
        .orderBy("entity_id", "timestamp", "event_id")
      val agePred = c.maxAge
        .map(a => s"""AND f."timestamp" >= s."timestamp" - INTERVAL $a SECOND""")
        .getOrElse("")
      val sql =
        s"""WITH ${featCte("feat", c.rows)},
           |${spineCte("spine", c.spine)},
           |j AS (
           |  SELECT s.spine_id, f.entity_id, f."timestamp", f.event_id, f.value,
           |         row_number() OVER (PARTITION BY s.spine_id
           |             ORDER BY f."timestamp" DESC, f.event_id DESC) AS rn
           |  FROM spine s JOIN feat f
           |    ON f.entity_id = s.entity_id AND f."timestamp" <= s."timestamp"
           |       $agePred
           |)
           |SELECT entity_id, "timestamp", event_id, value FROM j WHERE rn = 1
           |ORDER BY entity_id, "timestamp", event_id""".stripMargin
      Duck.compare(sql, dump(out, "asof"))
    }

  // ---------------------------------------------------------------
  // Family 4: windowed aggregates over a spine (frame boundaries,
  // NULLs inside sum/min/max/distinct, empty windows)
  // ---------------------------------------------------------------

  private val genWindow: Gen[(List[F], List[(Long, Option[Long])], Long)] =
    for {
      rows <- genFeatRows
      spineRaw <- genSpineRows
      w <- Gen.oneOf(3600L, 2 * 3600L, 5 * 3600L, 21 * 3600L)
      // window probes need a timestamp; keep entity diversity, drop nulls
    } yield
      (rows, spineRaw.collect { case (e, Some(t)) => (e, Option(t)) }, w)

  property("windowAggJoin == DuckDB grouped left join (all six fns)") =
    differential(genWindow.suchThat(_._2.nonEmpty)) { case (rows, spine, w) =>
      import WindowFeatures.WindowAgg
      val aggs = Seq(
        WindowAgg("n_rows", "rows", "", None),
        WindowAgg("n_vals", "count", "value", None),
        WindowAgg("v_sum", "sum", "value", None),
        WindowAgg("v_min", "min", "value", None),
        WindowAgg("v_max", "max", "value", None),
        WindowAgg("v_distinct", "distinct", "value", None),
        WindowAgg("v_sum_wide", "sum", "value", Some(3 * w)))
      val out = WindowFeatures.windowAggJoin(spineDF(spine), featDF(rows), w, aggs)
        .orderBy("entity_id", "timestamp")
      def inWin(age: Long) =
        s"""f."timestamp" > s."timestamp" - INTERVAL $age SECOND
           | AND f."timestamp" <= s."timestamp"""".stripMargin.replace("\n", "")
      val sql =
        s"""WITH ${featCte("feat", rows)},
           |${spineCte("spine", spine.map { case (e, t) => (e, t) })}
           |SELECT s.entity_id, s."timestamp",
           |  count(f.event_id) FILTER (WHERE ${inWin(w)}) AS n_rows,
           |  count(f.value)    FILTER (WHERE ${inWin(w)}) AS n_vals,
           |  CAST(sum(f.value) FILTER (WHERE ${inWin(w)}) AS BIGINT) AS v_sum,
           |  min(f.value)      FILTER (WHERE ${inWin(w)}) AS v_min,
           |  max(f.value)      FILTER (WHERE ${inWin(w)}) AS v_max,
           |  count(DISTINCT f.value) FILTER (WHERE ${inWin(w)}) AS v_distinct,
           |  CAST(sum(f.value) FILTER (WHERE ${inWin(3 * w)}) AS BIGINT) AS v_sum_wide
           |FROM spine s LEFT JOIN feat f ON f.entity_id = s.entity_id
           |GROUP BY s.spine_id, s.entity_id, s."timestamp"
           |ORDER BY s.entity_id, s."timestamp"""".stripMargin
      Duck.compare(sql, dump(out, "window"))
    }

  // ---------------------------------------------------------------
  // Family 4b: sessionize (gap-split sessions; strict-> boundary,
  // duplicate timestamps inside a session, singleton sessions)
  // ---------------------------------------------------------------

  property("sessionize == DuckDB lag/cumsum sessions (gap-exact edges)") =
    differential(for {
      rows <- genFeatRows
      // 3600 is EXACTLY the smallest hour-pool gap: a diff of exactly
      // the gap must NOT split (strict >), both engines
      gap <- Gen.oneOf(3600L, 7199L, 7200L, 10800L)
    } yield (rows, gap)) { case (rows, gap) =>
      val out = WindowFeatures.sessionize(
        featDF(rows).select(col("entity_id"), col("timestamp"), col("event_id")),
        gapSeconds = gap, tieBreakCols = Seq("event_id"))
        .orderBy("entity_id", "session_seq")
      val sql =
        s"""WITH ${featCte("feat", rows)},
           |marked AS (
           |  SELECT entity_id, "timestamp", event_id,
           |         CASE WHEN lag("timestamp") OVER w IS NULL
           |                OR "timestamp" - lag("timestamp") OVER w
           |                   > INTERVAL $gap SECOND
           |              THEN 1 ELSE 0 END AS is_new
           |  FROM feat
           |  WINDOW w AS (PARTITION BY entity_id ORDER BY "timestamp", event_id)
           |), sess AS (
           |  SELECT entity_id, "timestamp",
           |         CAST(sum(is_new) OVER (
           |             PARTITION BY entity_id ORDER BY "timestamp", event_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |           AS BIGINT) AS session_seq
           |  FROM marked
           |)
           |SELECT entity_id, session_seq,
           |       min("timestamp") AS session_start,
           |       max("timestamp") AS session_end,
           |       CAST(count(*) AS BIGINT) AS n_events
           |FROM sess GROUP BY entity_id, session_seq
           |ORDER BY entity_id, session_seq""".stripMargin
      Duck.compare(sql, dump(out, "sess"))
    }

  // ---------------------------------------------------------------
  // Family 5: store upsert state (key-wise merge commit)
  // ---------------------------------------------------------------

  /** Distinct (entity, hour) key picks so upsert keys are unambiguous;
    * values random, overlap between init and delta random.
    */
  private val genKeyed: Gen[(List[F], List[F])] = {
    val combos = for { e <- 0L to 3L; h <- HourPool } yield (e, h)
    for {
      nInit <- Gen.choose(1, 16)
      nDelta <- Gen.choose(1, 10)
      initKeys <- Gen.pick(nInit min combos.size, combos)
      deltaKeys <- Gen.pick(nDelta min combos.size, combos)
      initVals <- Gen.listOfN(initKeys.size, Gen.option(Gen.choose(-50L, 50L)))
      deltaVals <- Gen.listOfN(deltaKeys.size, Gen.option(Gen.choose(-50L, 50L)))
    } yield {
      val init = initKeys.toList.zip(initVals).zipWithIndex.map {
        case (((e, h), v), i) => F(e, Base + h * 3600L, i.toLong, v) }
      val delta = deltaKeys.toList.zip(deltaVals).zipWithIndex.map {
        case (((e, h), v), i) => F(e, Base + h * 3600L, 1000L + i, v) }
      (init, delta)
    }
  }

  property("registerUpsert state == DuckDB anti-join ∪ delta") =
    differential(genKeyed) { case (init, delta) =>
      val root = baseDir.resolve(s"store-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 4)
      store.register("t", featDF(init))
      val info = store.registerUpsert("t", featDF(delta))
      val out = store.getVersion("t", info.version)
        .orderBy("entity_id", "timestamp")
      val sql =
        s"""WITH ${featCte("init", init)},
           |${featCte("delta", delta)}
           |SELECT entity_id, "timestamp", event_id, value FROM delta
           |UNION ALL
           |SELECT i.entity_id, i."timestamp", i.event_id, i.value FROM init i
           |WHERE NOT EXISTS (SELECT 1 FROM delta d
           |  WHERE d.entity_id = i.entity_id AND d."timestamp" = i."timestamp")
           |ORDER BY entity_id, "timestamp"""".stripMargin
      Duck.compare(sql, dump(out, "upsert"))
    }

  // ---------------------------------------------------------------
  // Family 6: store row delete under three-valued logic (NULL
  // predicate rows survive; delete-all is rejected)
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // Family 7: SQL MERGE (matched update + matched delete + not-matched
  // insert, optional NOT MATCHED BY SOURCE purge) — state vs DuckDB
  // ---------------------------------------------------------------

  private def catalogFor(root: String): String = {
    val name = "gdiff_" + java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    spark.conf.set(
      s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  private case class SrcRow(e: Long, sec: Long, sid: Long,
      v: Option[Long], op: String)

  private def srcCte(name: String, rows: Seq[SrcRow]): String = {
    require(rows.nonEmpty)
    val vals = rows.map(r =>
      s"(CAST(${r.e} AS BIGINT), ${tsLit(r.sec)}, CAST(${r.sid} AS BIGINT), ${longLit(r.v)}, '${r.op}')")
    s"""$name(entity_id, "timestamp", sid, value, op) AS (VALUES ${vals.mkString(", ")})"""
  }

  private val srcSchema = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("sid", LongType, nullable = false),
    StructField("value", LongType, nullable = true),
    StructField("op", StringType, nullable = false)))

  private def srcDF(rows: Seq[SrcRow]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(
        r.e, new java.sql.Timestamp(r.sec * 1000L), r.sid,
        r.v.map(java.lang.Long.valueOf).orNull, r.op)), 2),
      srcSchema)

  private val genMerge: Gen[(List[F], List[SrcRow], Boolean)] = {
    val combos = for { e <- 0L to 3L; h <- HourPool } yield (e, h)
    for {
      (init, _) <- genKeyed
      nSrc <- Gen.choose(1, 12)
      // distinct source keys: several source rows onto ONE target key
      // trip the engine's cardinality guard by contract (SqlDmlSpec
      // pins that); here we fuzz the multi-key semantics
      srcKeys <- Gen.pick(nSrc min combos.size, combos)
      ops <- Gen.listOfN(srcKeys.size, Gen.frequency(
        3 -> Gen.const("update"), 2 -> Gen.const("delete"),
        3 -> Gen.const("insert")))
      vals <- Gen.listOfN(srcKeys.size, Gen.option(Gen.choose(-50L, 50L)))
      nmbs <- Gen.oneOf(true, false)
    } yield {
      val src = srcKeys.toList.zip(ops).zip(vals).zipWithIndex.map {
        case ((((e, h), op), v), i) =>
          SrcRow(e, Base + h * 3600L, 1000L + i, v, op) }
      (init, src, nmbs)
    }
  }

  property("SQL MERGE state == DuckDB join-cases model") =
    differential(genMerge) { case (init, src, nmbs) =>
      val root = baseDir.resolve(s"merge-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 4)
      store.register("t", featDF(init))
      val c = catalogFor(root)
      srcDF(src).createOrReplaceTempView("graft_diff_merge_src")
      val nmbsClause =
        if (nmbs) "\nWHEN NOT MATCHED BY SOURCE THEN DELETE" else ""
      def runMerge(): Unit = { spark.sql(
        s"""MERGE INTO $c.t t
           |USING graft_diff_merge_src s
           |ON t.entity_id = s.entity_id AND t.timestamp = s.timestamp
           |WHEN MATCHED AND s.op = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET value = s.value
           |WHEN NOT MATCHED AND s.op = 'insert' THEN
           |  INSERT (entity_id, timestamp, event_id, value)
           |  VALUES (s.entity_id, s.timestamp, s.sid, s.value)$nmbsClause"""
          .stripMargin); () }
      // A MERGE whose net result would EMPTY the table trips the
      // store's non-empty invariant (the deleteRows contract: use
      // delete(name) to drop a table) — found by this harness's first
      // 100-case soak: a source matching nothing + NOT MATCHED BY
      // SOURCE DELETE purges every row. The engine must refuse and
      // leave the table intact.
      val srcByKey = src.map(r => (r.e, r.sec) -> r).toMap
      val expectedRows =
        init.count { f =>
          srcByKey.get((f.e, f.sec)) match {
            case Some(m) => m.op != "delete"
            case None => !nmbs
          }
        } + src.count(s => s.op == "insert" &&
          !init.exists(f => f.e == s.e && f.sec == s.sec))
      if (expectedRows == 0) {
        val rejected =
          try { runMerge(); false }
          catch { case _: FeatureValidationError => true }
        if (!rejected) Left("empty-result MERGE was not rejected")
        else {
          store.refresh()
          val out = store.getVersion("t", 1).orderBy("event_id")
          val sql =
            s"""WITH ${featCte("init", init)}
               |SELECT * FROM init ORDER BY event_id""".stripMargin
          Duck.compare(sql, dump(out, "mergeEmpty"))
        }
      } else {
        runMerge()
        store.refresh()
        val out = store.getVersion("t", store.getTableInfo("t").version)
          .orderBy("event_id")
        val survivorPred =
          if (nmbs) "m.entity_id IS NOT NULL AND m.op <> 'delete'"
          else "m.entity_id IS NULL OR m.op <> 'delete'"
        val sql =
          s"""WITH ${featCte("init", init)},
             |${srcCte("src", src)}
             |SELECT t.entity_id, t."timestamp", t.event_id,
             |       CASE WHEN m.entity_id IS NOT NULL THEN m.value
             |            ELSE t.value END AS value
             |FROM init t LEFT JOIN src m
             |  ON t.entity_id = m.entity_id AND t."timestamp" = m."timestamp"
             |WHERE $survivorPred
             |UNION ALL
             |SELECT s.entity_id, s."timestamp", s.sid AS event_id, s.value
             |FROM src s WHERE s.op = 'insert' AND NOT EXISTS (
             |  SELECT 1 FROM init t
             |  WHERE t.entity_id = s.entity_id AND t."timestamp" = s."timestamp")
             |ORDER BY event_id""".stripMargin
        Duck.compare(sql, dump(out, "merge"))
      }
    }

  // ---------------------------------------------------------------
  // Family 8: SQL UPDATE — rekeying SET (possibly onto colliding
  // keys) and value SET, under a three-valued-logic WHERE
  // ---------------------------------------------------------------

  property("SQL UPDATE state == DuckDB CASE model (rekey + 3VL WHERE)") =
    differential(for {
      rows <- genFeatRows
      threshold <- Gen.choose(-60L, 60L)
      rekey <- Gen.oneOf(true, false)
    } yield (rows, threshold, rekey)) { case (rows, threshold, rekey) =>
      val root = baseDir.resolve(s"upd-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 4)
      store.register("t", featDF(rows))
      val c = catalogFor(root)
      val (setSql, caseSelect) =
        if (rekey)
          ("SET entity_id = entity_id + 10",
            s"""CASE WHEN coalesce(value > $threshold, false)
               |     THEN entity_id + 10 ELSE entity_id END AS entity_id,
               |"timestamp", event_id, value""".stripMargin)
        else
          ("SET value = value + 7",
            s"""entity_id, "timestamp", event_id,
               |CASE WHEN coalesce(value > $threshold, false)
               |     THEN value + 7 ELSE value END AS value""".stripMargin)
      spark.sql(s"UPDATE $c.t $setSql WHERE value > $threshold")
      store.refresh()
      val out = store.getVersion("t", store.getTableInfo("t").version)
        .orderBy("event_id")
      val sql =
        s"""WITH ${featCte("init", rows)}
           |SELECT $caseSelect
           |FROM init ORDER BY event_id""".stripMargin
      Duck.compare(sql, dump(out, "update"))
    }

  property("deleteRows state == DuckDB NOT coalesce(pred, false)") =
    differential(for {
      kv <- genKeyed
      threshold <- Gen.choose(-60L, 60L)
    } yield (kv._1, threshold)) { case (init, threshold) =>
      val root = baseDir.resolve(s"store-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 4)
      store.register("t", featDF(init))
      val kept = init.filterNot(_.v.exists(_ > threshold))
      if (kept.isEmpty) {
        // engine contract: deleting every row is rejected, table intact
        try { store.deleteRows("t", col("value") > threshold); Left(
          "delete-all was not rejected") }
        catch { case _: FeatureValidationError =>
          val out = store.getVersion("t", 1).orderBy("entity_id", "timestamp")
          val sql =
            s"""WITH ${featCte("init", init)}
               |SELECT * FROM init ORDER BY entity_id, "timestamp"""".stripMargin
          Duck.compare(sql, dump(out, "delall"))
        }
      } else {
        val info = store.deleteRows("t", col("value") > threshold)
        val out = store.getVersion("t", info.version)
          .orderBy("entity_id", "timestamp")
        val sql =
          s"""WITH ${featCte("init", init)}
             |SELECT * FROM init
             |WHERE NOT coalesce(value > $threshold, false)
             |ORDER BY entity_id, "timestamp"""".stripMargin
        Duck.compare(sql, dump(out, "del"))
      }
    }

  // ---------------------------------------------------------------
  // Family 9: fixed-grid resample with forward fill (asOfJoinLeft
  // over a generated time grid — grid cells exactly ON event
  // timestamps, cells before any history, sentinel back-fill)
  // ---------------------------------------------------------------

  private case class GridCase(rows: List[F], startHour: Long,
      stepSeconds: Long, nPoints: Int)

  private val genGrid: Gen[GridCase] = for {
    rows <- genFeatRows
    // -6h start puts whole leading cells before ALL history (null
    // arm); 0/5h starts land grid points exactly on hour-pool rows
    // (inclusive <= boundary)
    s0 <- Gen.oneOf(-6L, 0L, 5L)
    step <- Gen.oneOf(6L * 3600, 8L * 3600, 13L * 3600)
    n <- Gen.choose(3, 6)
  } yield GridCase(rows, s0, step, n)

  property("resampleFfill(asOfJoinLeft grid) == DuckDB grid left-argmax") =
    differential(genGrid) { c =>
      val start = Base + c.startHour * 3600L
      val end = start + (c.nPoints - 1).toLong * c.stepSeconds
      val (startStr, endStr) =
        (TsFmt.format(Instant.ofEpochSecond(start)),
          TsFmt.format(Instant.ofEpochSecond(end)))
      val feat = featDF(c.rows)
      val grid = feat.select(col("entity_id")).distinct()
        .select(col("entity_id"), explode(expr(
          s"sequence(timestamp '$startStr', timestamp '$endStr'," +
            s" interval ${c.stepSeconds} second)")).as("timestamp"))
      val epoch = lit(new java.sql.Timestamp(0L))
      val out = PointInTime
        .asOfJoinLeft(grid, feat, "last_", tieBreakCols = Seq("event_id"))
        .select(
          col("entity_id"),
          col("timestamp").as("day"),
          coalesce(col("last_timestamp"), epoch).as("last_event_ts"),
          coalesce(col("last_event_id"), lit(-1L)).as("last_event_id"),
          coalesce(col("last_value"), lit(-1L)).as("last_value"))
        .orderBy("entity_id", "day")
      val sql =
        s"""WITH ${featCte("feat", c.rows)},
           |users AS (SELECT DISTINCT entity_id FROM feat),
           |days AS (
           |  SELECT unnest(generate_series(TIMESTAMP '$startStr',
           |      TIMESTAMP '$endStr', INTERVAL ${c.stepSeconds} SECOND)) AS d
           |),
           |grid AS (SELECT entity_id, d FROM users CROSS JOIN days),
           |j AS (
           |  SELECT g.entity_id, g.d, f."timestamp" AS fts, f.event_id, f.value,
           |         row_number() OVER (PARTITION BY g.entity_id, g.d
           |             ORDER BY f."timestamp" DESC, f.event_id DESC) AS rn
           |  FROM grid g JOIN feat f
           |    ON f.entity_id = g.entity_id AND f."timestamp" <= g.d
           |)
           |SELECT g.entity_id, g.d AS day,
           |       coalesce(j.fts, TIMESTAMP '1970-01-01 00:00:00')
           |         AS last_event_ts,
           |       coalesce(j.event_id, -1) AS last_event_id,
           |       coalesce(j.value, -1) AS last_value
           |FROM grid g LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
           |  ON j.entity_id = g.entity_id AND j.d = g.d
           |ORDER BY g.entity_id, day""".stripMargin
      Duck.compare(sql, dump(out, "grid"))
    }

  // ---------------------------------------------------------------
  // Family 10: SCD2 interval view (lead-based valid_to — duplicate
  // (entity, ts) rows must get EMPTY intervals for all but the
  // tie-break winner, current rows a NULL valid_to)
  // ---------------------------------------------------------------

  property("scd2 == DuckDB lead(ts) over (ts, tieBreak)") =
    differential(genFeatRows) { rows =>
      val out = PointInTime.scd2(featDF(rows), tieBreakCols = Seq("event_id"))
        .orderBy("entity_id", "timestamp", "event_id")
      val sql =
        s"""WITH ${featCte("feat", rows)}
           |SELECT entity_id, "timestamp", event_id, value,
           |       lead("timestamp") OVER (PARTITION BY entity_id
           |           ORDER BY "timestamp", event_id) AS valid_to
           |FROM feat
           |ORDER BY entity_id, "timestamp", event_id""".stripMargin
      Duck.compare(sql, dump(out, "scd2"))
    }

  // ---------------------------------------------------------------
  // Family 11: V2 catalog scanWhere pushdown under 3VL — a random
  // predicate tree over (value NULLs, entity, timestamp) runs as SQL
  // against the catalog table (filters push through GraftScanBuilder
  // into scanWhere's stats-skipping read) and against DuckDB on the
  // same rows. A pushdown that treats NULL as false at the wrong
  // level, or prunes a segment whose stats straddle the predicate,
  // diverges here and is invisible to the fixed contract.
  // ---------------------------------------------------------------

  private sealed trait Pred {
    /** Render for one dialect: duck=false → Spark SQL (backticked
      * `timestamp`, `<=>`); duck=true → DuckDB (quoted "timestamp",
      * IS NOT DISTINCT FROM). Everything else is shared ANSI.
      */
    def sql(duck: Boolean): String
  }
  private def tsCol(duck: Boolean): String =
    if (duck) "\"timestamp\"" else "`timestamp`"
  private case class CmpV(op: String, k: Long) extends Pred {
    def sql(duck: Boolean) = s"value $op $k"
  }
  private case class CmpE(k: Long) extends Pred {
    def sql(duck: Boolean) = s"entity_id = $k"
  }
  private case class CmpTs(op: String, sec: Long) extends Pred {
    def sql(duck: Boolean) = s"${tsCol(duck)} $op ${tsLit(sec)}"
  }
  private case class NullP(not: Boolean) extends Pred {
    def sql(duck: Boolean) = s"value IS ${if (not) "NOT " else ""}NULL"
  }
  private case class Nseq(k: Option[Long]) extends Pred {
    def sql(duck: Boolean) = {
      val lit = k.map(_.toString).getOrElse("CAST(NULL AS BIGINT)")
      if (duck) s"value IS NOT DISTINCT FROM $lit" else s"value <=> $lit"
    }
  }
  private case class InV(vs: List[Long]) extends Pred {
    def sql(duck: Boolean) = s"value IN (${vs.mkString(", ")})"
  }
  private case class InE(vs: List[Long]) extends Pred {
    def sql(duck: Boolean) = s"entity_id IN (${vs.mkString(", ")})"
  }
  private case class NotP(p: Pred) extends Pred {
    def sql(duck: Boolean) = s"NOT (${p.sql(duck)})"
  }
  private case class AndP(a: Pred, b: Pred) extends Pred {
    def sql(duck: Boolean) = s"(${a.sql(duck)}) AND (${b.sql(duck)})"
  }
  private case class OrP(a: Pred, b: Pred) extends Pred {
    def sql(duck: Boolean) = s"(${a.sql(duck)}) OR (${b.sql(duck)})"
  }

  private val genAtom: Gen[Pred] = Gen.oneOf(
    for { op <- Gen.oneOf(">", ">=", "<", "<=", "=")
          k <- Gen.choose(-50L, 50L) } yield CmpV(op, k),
    Gen.choose(0L, 4L).map(CmpE),
    for { h <- Gen.oneOf(HourPool); d <- Gen.oneOf(-1L, 0L, 1L)
          op <- Gen.oneOf("<=", ">") } yield CmpTs(op, Base + h * 3600L + d),
    Gen.oneOf(NullP(false), NullP(true)),
    Gen.option(Gen.choose(-50L, 50L)).map(Nseq),
    Gen.nonEmptyListOf(Gen.choose(-50L, 50L)).map(l => InV(l.take(4))),
    Gen.nonEmptyListOf(Gen.choose(0L, 4L)).map(l => InE(l.distinct.take(3))))

  private def genPred(depth: Int): Gen[Pred] =
    if (depth <= 0) genAtom
    else Gen.frequency(
      3 -> genAtom,
      1 -> Gen.lzy(genPred(depth - 1).map(NotP)),
      2 -> Gen.lzy(for { a <- genPred(depth - 1); b <- genPred(depth - 1) }
        yield AndP(a, b)),
      2 -> Gen.lzy(for { a <- genPred(depth - 1); b <- genPred(depth - 1) }
        yield OrP(a, b)))

  property("V2 scanWhere pushdown == DuckDB WHERE (3VL predicate trees)") =
    differential(for {
      rows <- genFeatRows
      p <- genPred(2)
    } yield (rows, p)) { case (rows, p) =>
      val root = baseDir.resolve(s"scan-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 4)
      store.register("t", featDF(rows))
      val c = catalogFor(root)
      val out = spark.sql(
        s"""SELECT entity_id, `timestamp`, event_id, value
           |FROM $c.t WHERE ${p.sql(duck = false)}
           |ORDER BY event_id""".stripMargin)
      val sql =
        s"""WITH ${featCte("feat", rows)}
           |SELECT entity_id, "timestamp", event_id, value
           |FROM feat WHERE ${p.sql(duck = true)}
           |ORDER BY event_id""".stripMargin
      Duck.compare(sql, dump(out, "scan"))
    }

  // ---------------------------------------------------------------
  // Family 12: the GENERAL serving fold (applyChangesServing) — since
  // round 13's fusion, maintainedServing no longer routes through it;
  // only the streaming follower does. Fold a randomized mutation
  // history (upserts, predicate deletes) version-by-version from the
  // v1 seed and compare the final state against DuckDB's argmax over
  // an independently-chained SQL model of the same mutations.
  // ---------------------------------------------------------------

  private sealed trait Mut
  private case class UpM(delta: List[F]) extends Mut
  private case class DelM(threshold: Long) extends Mut
  private case class AppM(delta: List[F]) extends Mut
  /** Generator form: resolved to [[RestResolvedM]] against the version
    * count at apply time (restoring the current version is a no-op the
    * store short-circuits, so it is skipped like a zero-hit delete).
    */
  private case class RestM(pick: Int) extends Mut
  private case class RestResolvedM(target: Int) extends Mut
  /** Maintenance rewrites (compact, optimize w/ optional Z-order):
    * content-preserving by contract — they mint a version whose state
    * is identical, whose change feed is EMPTY, and whose rewritten
    * segments must carry exact colStats for the metadata-only
    * aggregate path. Mixing them into the alphabet pins all three
    * properties differentially (a compact that perturbed one stat or
    * leaked a phantom change row would surface here).
    */
  private case object CompM extends Mut
  private case class OptM(zorder: Boolean) extends Mut
  /** Key-addressed delete (deleteRowsByKeys) — the streaming-CDC
    * delete shape: rows matching the (entity, ts) key set go, no
    * predicate involved.
    */
  private case class KeyDelM(keys: List[(Long, Long)]) extends Mut
  /** registerRewrite: upsert `delta` AND drop `drop` keys in ONE
    * commit (the compaction-with-tombstones shape). Preimages of both
    * the overwritten and the dropped keys must surface as deletes in
    * the feed, each exactly once.
    */
  private case class RewM(delta: List[F], drop: List[(Long, Long)]) extends Mut

  private def keyCte(name: String, keys: Seq[(Long, Long)]): String = {
    require(keys.nonEmpty)
    val vals = keys.map { case (e, s) => s"(CAST($e AS BIGINT), ${tsLit(s)})" }
    s"""$name(entity_id, "timestamp") AS (VALUES ${vals.mkString(", ")})"""
  }

  private def keyDF(keys: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map { case (e, s) =>
        Row(e, new java.sql.Timestamp(s * 1000L)) }, 2),
      StructType(Seq(
        StructField("entity_id", LongType, nullable = false),
        StructField("timestamp", TimestampType, nullable = false))))

  private val genMutSeq: Gen[(List[F], List[Mut])] = for {
    (init, _) <- genKeyed
    n <- Gen.choose(1, 3)
    muts <- Gen.listOfN(n, Gen.frequency(
      3 -> genKeyed.map { case (_, d) => UpM(d) },
      2 -> Gen.choose(-60L, 60L).map(DelM(_)),
      2 -> genKeyed.map { case (_, d) => AppM(d) },
      1 -> Gen.choose(0, 100).map(RestM(_)),
      1 -> Gen.const(CompM),
      1 -> Gen.oneOf(true, false).map(OptM(_)),
      2 -> genKeyed.map { case (_, d) => KeyDelM(d.map(r => (r.e, r.sec))) },
      2 -> Gen.zip(genKeyed, genKeyed).map { case ((_, d), (_, d2)) =>
        RewM(d, d2.map(r => (r.e, r.sec))) }))
  } yield (init, muts)

  /** Apply `muts` to the registered table 't', skipping inapplicable
    * deletes (zero-hit deletes commit no version; delete-all is
    * refused) — a model state is tracked in-process ONLY for that
    * applicability decision; the compared values always come from the
    * DuckDB chain [[chainCtes]] renders for the returned steps.
    */
  private def applyMutations(
      store: FeatureStore, init: List[F], muts: List[Mut]): List[Mut] = {
    // per-version model states: history(v - 1) = content at version v
    // (restore targets resolve against it); the model decides ONLY
    // applicability — compared values come from the DuckDB chain
    var history = Vector[List[F]](init)
    def model = history.last
    var applied = List.empty[Mut]
    def freshIds(delta: List[F]): List[F] =
      // fresh event_ids per step keep the tie-break deterministic
      delta.zipWithIndex.map { case (r, i) =>
        r.copy(id = 1000L * (applied.size + 1) + i) }
    muts.foreach {
      case UpM(delta) =>
        val d = freshIds(delta)
        store.registerUpsert("t", featDF(d))
        val keys = d.map(r => (r.e, r.sec)).toSet
        history :+= d ++ model.filterNot(r => keys.contains((r.e, r.sec)))
        applied ::= UpM(d)
      case DelM(thr) =>
        val kept = model.filterNot(_.v.exists(_ > thr))
        if (kept.nonEmpty && kept.size != model.size) {
          store.deleteRows("t", col("value") > thr)
          history :+= kept
          applied ::= DelM(thr)
        }
      case AppM(delta) =>
        val d = freshIds(delta)
        store.registerAppend("t", featDF(d))
        history :+= d ++ model
        applied ::= AppM(d)
      case RestM(pick) =>
        val target = 1 + math.floorMod(pick, history.size)
        if (target != history.size) {
          store.restoreVersion("t", target)
          history :+= history(target - 1)
          applied ::= RestResolvedM(target)
        }
      case CompM =>
        // single-segment tables make compact a version-less no-op —
        // detect by version delta, like zero-hit deletes
        val before = store.getTableInfo("t").version
        store.compact("t")
        if (store.getTableInfo("t").version != before) {
          history :+= model
          applied ::= CompM
        }
      case OptM(z) =>
        val before = store.getTableInfo("t").version
        store.optimizeTable("t", Seq("entity_id"), zorder = z)
        if (store.getTableInfo("t").version != before) {
          history :+= model
          applied ::= OptM(z)
        }
      case KeyDelM(keys) =>
        val ks = keys.toSet
        val kept = model.filterNot(r => ks.contains((r.e, r.sec)))
        if (kept.nonEmpty && kept.size != model.size) {
          store.deleteRowsByKeys("t", keyDF(keys))
          history :+= kept
          applied ::= KeyDelM(keys)
        }
      case RewM(delta, drop) =>
        val d = freshIds(delta)
        val ks = d.map(r => (r.e, r.sec)).toSet
        val ds = drop.toSet
        val kept = model.filterNot(r =>
          ks.contains((r.e, r.sec)) || ds.contains((r.e, r.sec)))
        store.registerRewrite("t", featDF(d), keyDF(drop))
        history :+= d ++ kept
        applied ::= RewM(d, drop)
      case RestResolvedM(_) =>
        throw new IllegalArgumentException("resolved form is apply-output only")
    }
    applied.reverse
  }

  /** DuckDB CTE chain modeling `steps` over the `init` CTE: upsert =
    * delta ∪ anti-join survivors, delete = NOT coalesce(pred, false).
    * Returns (rendered CTEs to append after the init CTE, final name).
    */
  private def chainCtes(steps: List[Mut]): (String, String) = {
    // CTE of store version v: v1 = init, each applied step i = s_i
    def cteOf(v: Int): String = if (v == 1) "init" else s"s${v - 2}"
    val ctes = steps.zipWithIndex.map { case (m, i) =>
      val prior = if (i == 0) "init" else s"s${i - 1}"
      m match {
        case UpM(d) =>
          s"""${featCte(s"d$i", d)},
             |s$i AS (
             |  SELECT entity_id, "timestamp", event_id, value FROM d$i
             |  UNION ALL
             |  SELECT p.entity_id, p."timestamp", p.event_id, p.value
             |  FROM $prior p
             |  WHERE NOT EXISTS (SELECT 1 FROM d$i d
             |    WHERE d.entity_id = p.entity_id
             |      AND d."timestamp" = p."timestamp")
             |)""".stripMargin
        case DelM(thr) =>
          s"""s$i AS (
             |  SELECT * FROM $prior
             |  WHERE NOT coalesce(value > $thr, false)
             |)""".stripMargin
        case AppM(d) =>
          s"""${featCte(s"d$i", d)},
             |s$i AS (
             |  SELECT entity_id, "timestamp", event_id, value FROM d$i
             |  UNION ALL
             |  SELECT entity_id, "timestamp", event_id, value FROM $prior
             |)""".stripMargin
        case RestResolvedM(target) =>
          s"""s$i AS (SELECT * FROM ${cteOf(target)})""".stripMargin
        case CompM | OptM(_) =>
          // content-preserving maintenance: same state, new version
          s"""s$i AS (SELECT * FROM $prior)"""
        case KeyDelM(keys) =>
          s"""${keyCte(s"k$i", keys)},
             |s$i AS (
             |  SELECT * FROM $prior p
             |  WHERE NOT EXISTS (SELECT 1 FROM k$i k
             |    WHERE k.entity_id = p.entity_id
             |      AND k."timestamp" = p."timestamp")
             |)""".stripMargin
        case RewM(d, drop) =>
          s"""${featCte(s"d$i", d)},
             |${keyCte(s"k$i", drop)},
             |s$i AS (
             |  SELECT entity_id, "timestamp", event_id, value FROM d$i
             |  UNION ALL
             |  SELECT p.entity_id, p."timestamp", p.event_id, p.value
             |  FROM $prior p
             |  WHERE NOT EXISTS (SELECT 1 FROM d$i d
             |    WHERE d.entity_id = p.entity_id
             |      AND d."timestamp" = p."timestamp")
             |    AND NOT EXISTS (SELECT 1 FROM k$i k
             |    WHERE k.entity_id = p.entity_id
             |      AND k."timestamp" = p."timestamp")
             |)""".stripMargin
        case RestM(_) =>
          throw new IllegalArgumentException(
            "chainCtes takes applyMutations output (RestM must be resolved)")
      }
    }
    val rendered = if (ctes.isEmpty) "" else ",\n" + ctes.mkString(",\n")
    (rendered, if (steps.isEmpty) "init" else s"s${steps.size - 1}")
  }

  property("applyChangesServing fold == DuckDB argmax over mutation chain") =
    differential(genMutSeq) { case (init, muts) =>
      val root = baseDir.resolve(s"fold-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 6)
      store.register("t", featDF(init))
      val steps = applyMutations(store, init, muts)
      val cur = store.getTableInfo("t").version
      var state = graft.store.IncrementalRollup.initialStateServing(
        store.getVersion("t", 1), tieCols = Seq("event_id"))
      (2 to cur).foreach { v =>
        state = graft.store.IncrementalRollup.applyChangesServing(
          state, store.getChanges("t", v - 1, v), store.getVersion("t", v),
          tieCols = Seq("event_id"))
      }
      val out = state
        .select(col("entity_id"), col("timestamp"), col("event_id"),
          col("value"))
        .orderBy("entity_id")
      val (chain, last) = chainCtes(steps)
      val sql =
        s"""WITH ${featCte("init", init)}$chain
           |SELECT entity_id, "timestamp", event_id, value FROM $last
           |QUALIFY row_number() OVER (PARTITION BY entity_id
           |    ORDER BY "timestamp" DESC, event_id DESC) = 1
           |ORDER BY entity_id""".stripMargin
      Duck.compare(sql, dump(out, "fold"))
    }

  // ---------------------------------------------------------------
  // Family 13: V2 metadata aggregate pushdown — count(*)/count(col)/
  // min/max answered from per-segment stats must stay exact across
  // mutation histories (upsert rewrites, delete rewrites and
  // whole-segment drops all fold new colStats into the catalog; a
  // stale bound would silently corrupt the metadata-only answer). A
  // WHERE arm forces the complete-pushdown refusal and checks the
  // fallback scan path on the same history.
  // ---------------------------------------------------------------

  property("V2 aggregate pushdown == DuckDB aggregates over mutation chain") =
    differential(for {
      (init, muts) <- genMutSeq
      where <- Gen.option(Gen.choose(-50L, 50L))
    } yield (init, muts, where)) { case (init, muts, where) =>
      val root = baseDir.resolve(s"agg-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 6)
      store.register("t", featDF(init))
      val steps = applyMutations(store, init, muts)
      val c = catalogFor(root)
      val wh = where.map(k => s"WHERE value > $k").getOrElse("")
      val out = spark.sql(
        s"""SELECT count(*) AS n_rows, count(value) AS n_vals,
           |       min(value) AS v_min, max(value) AS v_max,
           |       min(`timestamp`) AS ts_min, max(`timestamp`) AS ts_max,
           |       min(event_id) AS id_min, max(event_id) AS id_max
           |FROM $c.t $wh""".stripMargin)
      val (chain, last) = chainCtes(steps)
      val sql =
        s"""WITH ${featCte("init", init)}$chain
           |SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(value) AS BIGINT) AS n_vals,
           |       min(value) AS v_min, max(value) AS v_max,
           |       min("timestamp") AS ts_min, max("timestamp") AS ts_max,
           |       min(event_id) AS id_min, max(event_id) AS id_max
           |FROM $last $wh""".stripMargin
      Duck.compare(sql, dump(out, "agg"))
    }

  // ---------------------------------------------------------------
  // Family 14: expectation-gated ingestion under 3VL — rows violating
  // ANY expectation (false or NULL — an unevaluable row is not a
  // clean row) land in quarantine carrying a comma-joined `violated`
  // column in declaration order; only clean rows land in the target.
  // Predicates come from the same grammar as the scanWhere family, so
  // the NULL seams (null-safe eq, IN, NOT) hit the gate too.
  // ---------------------------------------------------------------

  property("expectation split == DuckDB 3VL gate (violated labels exact)") =
    differential(for {
      rows <- genFeatRows
      n <- Gen.choose(1, 2)
      preds <- Gen.listOfN(n, genPred(1))
    } yield (rows, preds)) { case (rows, preds) =>
      val root = baseDir.resolve(s"exp-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 4)
      val exps = preds.zipWithIndex.map { case (p, i) =>
        s"e$i" -> expr(p.sql(duck = false)) }
      val (goodInfo, quarInfo) = store.registerWithExpectations(
        "t", featDF(rows), exps, quarantine = "q")
      def read(info: Option[graft.store.FeatureTableInfo],
          table: String, withViolated: Boolean): DataFrame = info match {
        case Some(i) => store.getVersion(table, i.version)
        case None => spark.createDataFrame(
          spark.sparkContext.parallelize(Seq.empty[Row], 1),
          if (withViolated) featSchema.add(StructField("violated", StringType))
          else featSchema)
      }
      val caseExprs = preds.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN NOT coalesce(${p.sql(duck = true)}, false) THEN 'e$i' END" }
      val violated = s"concat_ws(',', ${caseExprs.mkString(", ")})"
      val goodOut = read(goodInfo, "t", withViolated = false)
        .orderBy("event_id")
      val goodSql =
        s"""WITH ${featCte("feat", rows)}
           |SELECT entity_id, "timestamp", event_id, value FROM feat
           |WHERE $violated = ''
           |ORDER BY event_id""".stripMargin
      val quarOut = read(quarInfo, "q", withViolated = true)
        .orderBy("event_id")
      val quarSql =
        s"""WITH ${featCte("feat", rows)}
           |SELECT entity_id, "timestamp", event_id, value,
           |       $violated AS violated
           |FROM feat
           |WHERE $violated <> ''
           |ORDER BY event_id""".stripMargin
      for {
        _ <- Duck.compare(goodSql, dump(goodOut, "expGood"))
        _ <- Duck.compare(quarSql, dump(quarOut, "expQuar"))
      } yield ()
    }

  // ---------------------------------------------------------------
  // Family 16: the change feed itself — getChangesBetween over a
  // randomized mutation history, row-for-row against a DuckDB
  // per-step diff model. Family 12 consumes getChanges only through
  // the serving argmax (a missing preimage-delete can hide behind a
  // row that loses the argmax anyway); this family compares the feed
  // DIRECTLY: insert/delete attribution per commit, upsert preimage
  // deletes, delete-commit recorded sets, composed restore diffs, and
  // the wall-clock endpoint resolution (cutoff exactly ON a commit
  // time, 1ms before, far before creation → "since creation" v1
  // inserts, endpoints resolving to the same version → empty feed).
  // ---------------------------------------------------------------

  /** Per-step change rows (insert CTE sql, delete CTE sql options) for
    * applied step i at store version `ver`, against the [[chainCtes]]
    * naming (prior content CTE = version ver-1, `cteOf`).
    */
  private def feedArms(steps: List[Mut]): Seq[(Int, Option[String], Option[String])] = {
    def cteOf(v: Int): String = if (v == 1) "init" else s"s${v - 2}"
    steps.zipWithIndex.map { case (m, i) =>
      val ver = i + 2
      val prior = cteOf(ver - 1)
      val cols = """entity_id, "timestamp", event_id, value"""
      m match {
        case UpM(_) => (ver,
          Some(s"""SELECT $cols FROM d$i"""),
          Some(s"""SELECT p.entity_id, p."timestamp", p.event_id, p.value
                  |FROM $prior p WHERE EXISTS (SELECT 1 FROM d$i d
                  |  WHERE d.entity_id = p.entity_id
                  |    AND d."timestamp" = p."timestamp")""".stripMargin))
        case DelM(thr) => (ver, None,
          Some(s"""SELECT $cols FROM $prior
                  |WHERE coalesce(value > $thr, false)""".stripMargin))
        case AppM(_) => (ver, Some(s"""SELECT $cols FROM d$i"""), None)
        case RestResolvedM(target) => (ver,
          Some(s"""SELECT $cols FROM ${cteOf(target)}
                  |EXCEPT ALL SELECT $cols FROM $prior""".stripMargin),
          Some(s"""SELECT $cols FROM $prior
                  |EXCEPT ALL SELECT $cols FROM ${cteOf(target)}"""
            .stripMargin))
        case CompM | OptM(_) => (ver, None, None)
        case KeyDelM(_) => (ver, None,
          Some(s"""SELECT p.entity_id, p."timestamp", p.event_id, p.value
                  |FROM $prior p WHERE EXISTS (SELECT 1 FROM k$i k
                  |  WHERE k.entity_id = p.entity_id
                  |    AND k."timestamp" = p."timestamp")""".stripMargin))
        case RewM(_, _) => (ver,
          Some(s"""SELECT $cols FROM d$i"""),
          Some(s"""SELECT p.entity_id, p."timestamp", p.event_id, p.value
                  |FROM $prior p WHERE EXISTS (SELECT 1 FROM d$i d
                  |  WHERE d.entity_id = p.entity_id
                  |    AND d."timestamp" = p."timestamp")
                  |  OR EXISTS (SELECT 1 FROM k$i k
                  |  WHERE k.entity_id = p.entity_id
                  |    AND k."timestamp" = p."timestamp")""".stripMargin))
        case RestM(_) => throw new IllegalArgumentException(
          "feedArms takes applyMutations output (RestM must be resolved)")
      }
    }
  }

  property("getChangesBetween feed == DuckDB per-step diff model") =
    differential(for {
      (init, muts) <- genMutSeq
      p1 <- Gen.choose(0, 1000)
      d1 <- Gen.oneOf(-1L, 0L, 0L, 1L, -100000L, 100000L)
      p2 <- Gen.choose(0, 1000)
      d2 <- Gen.oneOf(-1L, 0L, 0L, 1L, -100000L, 100000L)
    } yield (init, muts, (p1, d1), (p2, d2))) {
      case (init, muts, (p1, d1), (p2, d2)) =>
        val root =
          baseDir.resolve(s"feed-${caseIdx.incrementAndGet()}").toString
        val store = new FeatureStore(spark, root, maxVersions = 6)
        store.register("t", featDF(init))
        val steps = applyMutations(store, init, muts)
        val hist = store.getTableHistory("t")
        val times = hist.map(v => v.version -> v.committedAt.get).toMap
        val cur = hist.map(_.version).max
        def cutoff(p: Int, d: Long): Long =
          times(1 + math.floorMod(p, cur)) + d
        val (fromMs, toMs) = {
          val (a, b) = (cutoff(p1, d1), cutoff(p2, d2))
          (math.min(a, b), math.max(a, b))
        }
        def resolve(ms: Long): Option[Int] =
          times.filter { case (_, t) => t <= ms }.keys.maxOption
        val expTo = resolve(toMs)
        val expFrom = resolve(fromMs).getOrElse(0)
        def between(): DataFrame = store.getChangesBetween("t",
          new java.sql.Timestamp(fromMs), new java.sql.Timestamp(toMs))
        if (expTo.isEmpty) {
          // before every commit: the resolution must refuse, loudly
          try { between(); Left("expected FeatureTableNotFoundError") }
          catch { case _: graft.store.FeatureTableNotFoundError => Right(()) }
        } else {
          val out = between()
            .select(col("entity_id"), col("timestamp"), col("event_id"),
              col("value"), col("_change_type"), col("_commit_version"))
            .orderBy("_commit_version", "_change_type", "event_id")
          val (chain, _) = chainCtes(steps)
          val cols = """entity_id, "timestamp", event_id, value"""
          val arms = feedArms(steps)
            .filter { case (v, _, _) => v > expFrom && v <= expTo.get }
            .flatMap { case (v, ins, del) =>
              ins.map(s =>
                s"""SELECT $cols, 'insert' AS ct, $v AS cv FROM ($s)""") ++
                del.map(s =>
                  s"""SELECT $cols, 'delete' AS ct, $v AS cv FROM ($s)""")
            } ++
            (if (expFrom == 0)
              Seq(s"""SELECT $cols, 'insert' AS ct, 1 AS cv FROM init""")
             else Nil)
          val body =
            if (arms.isEmpty)
              s"""SELECT $cols, 'insert' AS ct, 1 AS cv FROM init WHERE false"""
            else arms.mkString("\nUNION ALL\n")
          val sql =
            s"""WITH ${featCte("init", init)}$chain
               |SELECT entity_id, "timestamp", event_id, value,
               |       ct AS "_change_type",
               |       CAST(cv AS INTEGER) AS "_commit_version"
               |FROM ($body)
               |ORDER BY cv, ct, event_id""".stripMargin
          Duck.compare(sql, dump(out, "feed"))
        }
    }

  // ---------------------------------------------------------------
  // Family 15: multi-table feature view (getFeatureView — one n-table
  // LEFT as-of join, feature columns table-prefixed, every spine row
  // surviving). Kernel arm: asOfJoinLeftAll called directly over
  // dense duplicate-(entity,ts) pools (tie-break totality inside the
  // left variant, which family 3 never reaches); store arm: the full
  // wiring through register → currentData → prefix projection, with
  // distinct keys per table so the store's internal ingest-key
  // tie-break is never load-bearing against the oracle.
  // ---------------------------------------------------------------

  private val genFeatureView: Gen[(List[F], List[F], List[(Long, Option[Long])], Boolean)] =
    for {
      viaStore <- Gen.oneOf(true, false)
      ra <- if (viaStore) genKeyed.map(_._1) else genFeatRows
      rb <- if (viaStore) genKeyed.map(_._1) else genFeatRows
      spine <- genSpineRows
    } yield (ra, rb, spine, viaStore)

  property("getFeatureView == DuckDB chained left argmax (prefixed cols)") =
    differential(genFeatureView) { case (ra, rb, spine, viaStore) =>
      val sp = spineDF(spine)
      val engine =
        if (viaStore) {
          val root =
            baseDir.resolve(s"fview-${caseIdx.incrementAndGet()}").toString
          val store = new FeatureStore(spark, root, maxVersions = 4)
          store.register("fa", featDF(ra))
          store.register("fb", featDF(rb))
          store.getFeatureView(sp, Seq("fa", "fb"))
        } else
          PointInTime.asOfJoinLeftAll(sp, Seq(
            PointInTime.ViewTable(featDF(ra), "fa_", Seq("event_id")),
            PointInTime.ViewTable(featDF(rb), "fb_", Seq("event_id"))))
      val out = engine.orderBy(
        col("entity_id"), col("timestamp").asc_nulls_first,
        col("fa_event_id").asc_nulls_first,
        col("fb_event_id").asc_nulls_first)
      def arm(n: String, cte: String) =
        s"""j$n AS (
           |  SELECT s.spine_id, f."timestamp" AS ts, f.event_id AS eid,
           |         f.value AS v,
           |         row_number() OVER (PARTITION BY s.spine_id
           |             ORDER BY f."timestamp" DESC, f.event_id DESC) AS rn
           |  FROM spine s JOIN $cte f
           |    ON f.entity_id = s.entity_id AND f."timestamp" <= s."timestamp"
           |)""".stripMargin
      val sql =
        s"""WITH ${featCte("feat_a", ra)},
           |${featCte("feat_b", rb)},
           |${spineCte("spine", spine)},
           |${arm("a", "feat_a")},
           |${arm("b", "feat_b")}
           |SELECT s.entity_id, s."timestamp",
           |       a.ts AS fa_timestamp, a.eid AS fa_event_id, a.v AS fa_value,
           |       b.ts AS fb_timestamp, b.eid AS fb_event_id, b.v AS fb_value
           |FROM spine s
           |LEFT JOIN ja a ON a.spine_id = s.spine_id AND a.rn = 1
           |LEFT JOIN jb b ON b.spine_id = s.spine_id AND b.rn = 1
           |ORDER BY s.entity_id, s."timestamp" NULLS FIRST,
           |         fa_event_id NULLS FIRST, fb_event_id NULLS FIRST"""
          .stripMargin
      Duck.compare(sql, dump(out, "fview"))
    }

  // ---------------------------------------------------------------
  // Family 17: schema evolution (mergeSchema append) through the
  // state AND the change feed — a post-evolution read must pad every
  // pre-evolution row's new column with NULL; the feed since creation
  // must pad pre-evolution recorded changes the same way, report the
  // merge-schema append as ONLY its inserted rows (pre-existing rows
  // reading NULL are not "changes", Delta CDF semantics), and carry
  // the evolved column through post-evolution upsert preimages and
  // predicate deletes.
  // ---------------------------------------------------------------

  private case class G(e: Long, sec: Long, id: Long,
      v: Option[Long], x: Option[Long])

  private sealed trait EMut
  private case class EApp(d: List[G]) extends EMut
  private case class EUp(d: List[G]) extends EMut
  private case class EDel(thr: Long) extends EMut

  private def gCte(name: String, rows: Seq[G]): String = {
    require(rows.nonEmpty)
    val vals = rows.map(r =>
      s"(CAST(${r.e} AS BIGINT), ${tsLit(r.sec)}, CAST(${r.id} AS BIGINT), " +
        s"${longLit(r.v)}, ${longLit(r.x)})")
    s"""$name(entity_id, "timestamp", event_id, value, extra) AS (VALUES ${vals.mkString(", ")})"""
  }

  private val gSchema = featSchema.add(StructField("extra", LongType))

  private def gDF(rows: Seq[G]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(
        r.e, new java.sql.Timestamp(r.sec * 1000L), r.id,
        r.v.map(java.lang.Long.valueOf).orNull,
        r.x.map(java.lang.Long.valueOf).orNull)), 2),
      gSchema)

  /** Keyed 5-col delta: distinct (entity, hour) keys, random value and
    * extra (both nullable).
    */
  private val genGDelta: Gen[List[G]] = {
    val combos = for { e <- 0L to 3L; h <- HourPool } yield (e, h)
    for {
      n <- Gen.choose(1, 10)
      keys <- Gen.pick(n min combos.size, combos)
      vals <- Gen.listOfN(keys.size, Gen.option(Gen.choose(-50L, 50L)))
      xs <- Gen.listOfN(keys.size, Gen.option(Gen.choose(-50L, 50L)))
    } yield keys.toList.zip(vals.zip(xs)).map { case ((e, h), (v, x)) =>
      G(e, Base + h * 3600L, 0L, v, x) }
  }

  private val genEvo: Gen[(List[F], List[G], List[EMut])] = for {
    (init, _) <- genKeyed
    evo <- genGDelta
    n <- Gen.choose(0, 2)
    post <- Gen.listOfN(n, Gen.frequency(
      2 -> genGDelta.map(EApp(_)),
      2 -> genGDelta.map(EUp(_)),
      1 -> Gen.choose(-60L, 60L).map(EDel(_))))
  } yield (init, evo, post)

  property("schema evolution: state + feed pad the new column exactly") =
    differential(genEvo) { case (init, evo, post) =>
      val root = baseDir.resolve(s"evo-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 8)
      store.register("t", featDF(init))
      // model state per version: content AS G rows (pre-evolution rows
      // carry x = None — exactly the NULL pad the engine must emit)
      var history = Vector[List[G]](init.map(r => G(r.e, r.sec, r.id, r.v, None)))
      def model = history.last
      var applied = List.empty[EMut]
      var nextId = 1000L
      def fresh(d: List[G]): List[G] = d.map { r =>
        nextId += 1; r.copy(id = nextId)
      }
      val evoD = fresh(evo)
      store.registerAppend("t", gDF(evoD), mergeSchema = true)
      history :+= evoD ++ model
      applied ::= EApp(evoD)
      post.foreach {
        case EApp(d) =>
          val dd = fresh(d)
          store.registerAppend("t", gDF(dd))
          history :+= dd ++ model
          applied ::= EApp(dd)
        case EUp(d) =>
          val dd = fresh(d)
          store.registerUpsert("t", gDF(dd))
          val keys = dd.map(r => (r.e, r.sec)).toSet
          history :+= dd ++ model.filterNot(r => keys.contains((r.e, r.sec)))
          applied ::= EUp(dd)
        case EDel(thr) =>
          val kept = model.filterNot(_.v.exists(_ > thr))
          if (kept.nonEmpty && kept.size != model.size) {
            store.deleteRows("t", col("value") > thr)
            history :+= kept
            applied ::= EDel(thr)
          }
      }
      val steps = applied.reverse
      val cur = store.getTableInfo("t").version
      val cols = """entity_id, "timestamp", event_id, value, extra"""
      // per-version content CTEs: v1 = init padded, step i → version i+2
      val ctes = steps.zipWithIndex.map { case (m, i) =>
        val prior = if (i == 0) "v1" else s"v${i + 1}"
        m match {
          case EApp(d) =>
            s"""${gCte(s"d$i", d)},
               |v${i + 2} AS (
               |  SELECT $cols FROM d$i UNION ALL SELECT $cols FROM $prior
               |)""".stripMargin
          case EUp(d) =>
            s"""${gCte(s"d$i", d)},
               |v${i + 2} AS (
               |  SELECT $cols FROM d$i
               |  UNION ALL
               |  SELECT p.entity_id, p."timestamp", p.event_id, p.value,
               |         p.extra
               |  FROM $prior p
               |  WHERE NOT EXISTS (SELECT 1 FROM d$i d
               |    WHERE d.entity_id = p.entity_id
               |      AND d."timestamp" = p."timestamp")
               |)""".stripMargin
          case EDel(thr) =>
            s"""v${i + 2} AS (
               |  SELECT * FROM $prior WHERE NOT coalesce(value > $thr, false)
               |)""".stripMargin
        }
      }
      val withCtes =
        (s"""v1(entity_id, "timestamp", event_id, value, extra) AS (
            |  SELECT entity_id, "timestamp", event_id, value,
            |         CAST(NULL AS BIGINT)
            |  FROM init
            |)""".stripMargin +: ctes).mkString(",\n")
      // (a) final state
      val stateOut = store.getVersion("t", cur)
        .select(col("entity_id"), col("timestamp"), col("event_id"),
          col("value"), col("extra"))
        .orderBy("event_id")
      val stateSql =
        s"""WITH ${featCte("init", init)},
           |$withCtes
           |SELECT $cols FROM v$cur ORDER BY event_id""".stripMargin
      // (b) feed since creation: v1 inserts padded; merge-schema append
      // = only its delta; upsert preimages carry their STORED extra
      val feedParts = steps.zipWithIndex.flatMap { case (m, i) =>
        val ver = i + 2
        val prior = if (i == 0) "v1" else s"v${i + 1}"
        m match {
          case EApp(_) => Seq(
            s"""SELECT $cols, 'insert' AS ct, $ver AS cv FROM d$i""")
          case EUp(_) => Seq(
            s"""SELECT $cols, 'insert' AS ct, $ver AS cv FROM d$i""",
            s"""SELECT p.entity_id, p."timestamp", p.event_id, p.value,
               |       p.extra, 'delete' AS ct, $ver AS cv
               |FROM $prior p WHERE EXISTS (SELECT 1 FROM d$i d
               |  WHERE d.entity_id = p.entity_id
               |    AND d."timestamp" = p."timestamp")""".stripMargin)
          case EDel(thr) => Seq(
            s"""SELECT $cols, 'delete' AS ct, $ver AS cv FROM $prior
               |WHERE coalesce(value > $thr, false)""".stripMargin)
        }
      } :+ s"""SELECT $cols, 'insert' AS ct, 1 AS cv FROM v1"""
      val feedOut = store.getChanges("t", 0, cur)
        .select(col("entity_id"), col("timestamp"), col("event_id"),
          col("value"), col("extra"), col("_change_type"),
          col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "event_id")
      val feedSql =
        s"""WITH ${featCte("init", init)},
           |$withCtes
           |SELECT entity_id, "timestamp", event_id, value, extra,
           |       ct AS "_change_type", CAST(cv AS INTEGER) AS "_commit_version"
           |FROM (${feedParts.mkString("\nUNION ALL\n")})
           |ORDER BY cv, ct, event_id""".stripMargin
      for {
        _ <- Duck.compare(stateSql, dump(stateOut, "evoState"))
        _ <- Duck.compare(feedSql, dump(feedOut, "evoFeed"))
      } yield ()
    }

  // ---------------------------------------------------------------
  // Family 18: the LIVE follower loop — a ChangeFeedFollower folds
  // applyChangesServing while the writer is still committing
  // mutations on the main thread (real concurrency: polls race
  // commits), and the follower-built serving state must equal the
  // DuckDB argmax over the same mutation chain. Family 12 drives the
  // identical fold synchronously; this pins the delivery loop around
  // it — strict version order, exactly-once per version, no skipped
  // or re-applied commit under a racing writer.
  // ---------------------------------------------------------------

  property("live follower fold == DuckDB argmax over mutation chain") =
    differential(genMutSeq) { case (init, muts) =>
      val root =
        baseDir.resolve(s"follow-${caseIdx.incrementAndGet()}").toString
      val store = new FeatureStore(spark, root, maxVersions = 6)
      store.register("t", featDF(init))
      val tie = Seq("event_id")
      @volatile var state = graft.store.IncrementalRollup
        .initialStateServing(store.getVersion("t", 1), tieCols = tie)
      @volatile var folded = 0
      @volatile var err: Option[Throwable] = None
      val follower = graft.streaming.ChangeFeedFollower.start(
        store, "t", fromVersion = 1, pollMillis = 5L,
        onError = e => err = Some(e)) { (changes, ver) =>
        state = graft.store.IncrementalRollup.applyChangesServing(
          state, changes, store.getVersion("t", ver), tieCols = tie)
        folded += 1
      }
      val res = try {
        val steps = applyMutations(store, init, muts)
        val cur = store.getTableInfo("t").version
        val deadline = System.currentTimeMillis() + 120000L
        while (follower.position < cur && err.isEmpty &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(10L)
        if (err.nonEmpty) Left(s"follower error: ${err.get}")
        else if (follower.position < cur)
          Left(s"follower stalled at ${follower.position} of $cur")
        else if (folded != cur - 1)
          Left(s"delivery count ${folded} != ${cur - 1} commits " +
            "(skipped or duplicated a version)")
        else Right(steps)
      } finally follower.close()
      res.flatMap { steps =>
        val out = state
          .select(col("entity_id"), col("timestamp"), col("event_id"),
            col("value"))
          .orderBy("entity_id")
        val (chain, last) = chainCtes(steps)
        val sql =
          s"""WITH ${featCte("init", init)}$chain
             |SELECT entity_id, "timestamp", event_id, value FROM $last
             |QUALIFY row_number() OVER (PARTITION BY entity_id
             |    ORDER BY "timestamp" DESC, event_id DESC) = 1
             |ORDER BY entity_id""".stripMargin
        Duck.compare(sql, dump(out, "follow"))
      }
    }

  // ---------------------------------------------------------------
  // Family 19: store read wiring — getRecent (PIT cutoff + entity
  // IN-filter + recency ranks over currentData) and getSessions (the
  // sessionize kernel fed by the store) against the same DuckDB
  // models the kernel families use. Distinct (entity, ts) keys keep
  // the store's internal ingest-key tie-break out of play; under test
  // is the WIRING the kernel families bypass: cutoff filtering,
  // entity filtering, projection order, rank/session columns computed
  // on STORED data rather than in-memory frames.
  // ---------------------------------------------------------------

  property("store getRecent/getSessions == DuckDB ranked/session models") =
    differential(for {
      (init, _) <- genKeyed
      cutoff <- genCutoff
      ids <- Gen.nonEmptyListOf(Gen.choose(0L, 5L)).map(_.distinct)
      k <- Gen.choose(1, 4)
      gap <- Gen.oneOf(3600L, 7199L, 7200L, 10800L)
    } yield (init, cutoff, ids, k, gap)) {
      case (init, cutoff, ids, k, gap) =>
        val root =
          baseDir.resolve(s"sread-${caseIdx.incrementAndGet()}").toString
        val store = new FeatureStore(spark, root, maxVersions = 4)
        store.register("t", featDF(init))
        val rec = store.getRecent("t", ids.map(Long.box),
          new java.sql.Timestamp(cutoff * 1000L), k)
          .orderBy("entity_id", "recency_rank")
        val recSql =
          s"""WITH ${featCte("feat", init)},
             |r AS (
             |  SELECT entity_id, "timestamp", event_id, value,
             |         CAST(row_number() OVER (PARTITION BY entity_id
             |             ORDER BY "timestamp" DESC) AS INTEGER)
             |           AS recency_rank
             |  FROM feat
             |  WHERE "timestamp" <= ${tsLit(cutoff)}
             |    AND entity_id IN (${ids.mkString(", ")})
             |)
             |SELECT * FROM r WHERE recency_rank <= $k
             |ORDER BY entity_id, recency_rank""".stripMargin
        val sess = store.getSessions("t", gap)
          .orderBy("entity_id", "session_seq")
        val sessSql =
          s"""WITH ${featCte("feat", init)},
             |marked AS (
             |  SELECT entity_id, "timestamp",
             |         CASE WHEN lag("timestamp") OVER w IS NULL
             |                OR "timestamp" - lag("timestamp") OVER w
             |                   > INTERVAL $gap SECOND
             |              THEN 1 ELSE 0 END AS is_new
             |  FROM feat
             |  WINDOW w AS (PARTITION BY entity_id ORDER BY "timestamp")
             |), sess AS (
             |  SELECT entity_id, "timestamp",
             |         CAST(sum(is_new) OVER (
             |             PARTITION BY entity_id ORDER BY "timestamp"
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           AS BIGINT) AS session_seq
             |  FROM marked
             |)
             |SELECT entity_id, session_seq,
             |       min("timestamp") AS session_start,
             |       max("timestamp") AS session_end,
             |       CAST(count(*) AS BIGINT) AS n_events
             |FROM sess GROUP BY entity_id, session_seq
             |ORDER BY entity_id, session_seq""".stripMargin
        for {
          _ <- Duck.compare(recSql, dump(rec, "recent"))
          _ <- Duck.compare(sessSql, dump(sess, "storeSess"))
        } yield ()
    }

  // ---------------------------------------------------------------
  // Harness self-probes (deterministic): the compare plumbing itself
  // is part of the trusted base — prove the FAILURE path still fails
  // (a harness that can only say "ok" verifies nothing) and that the
  // worker's NaN canonicalization reaches INSIDE array values.
  // ---------------------------------------------------------------

  property("probe: a genuine mismatch is reported, not swallowed") =
    if (!Duck.available) Prop.passed
    else {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L)), 1),
        StructType(Seq(StructField("v", LongType, nullable = false))))
      Duck.compare("SELECT CAST(2 AS BIGINT) AS v", dump(df, "probeBad")) match {
        case Left(msg) => Prop.propBoolean(!msg.startsWith("{\"ok\": true")) :|
          s"mismatch line looked like a pass: $msg"
        case Right(_) => Prop.falsified :| "wrong oracle compared equal"
      }
    }

  property("probe: NULL inside an array column canonicalizes (NaN != NaN)") =
    if (!Duck.available) Prop.passed
    else {
      val df = spark.range(1).select(
        array(lit(1.0), lit(null).cast("double")).as("arr"))
      val r = Duck.compare(
        "SELECT [CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)] AS arr",
        dump(df, "probeArr"))
      Prop.propBoolean(r.isRight) :| r.left.getOrElse("")
    }
}
