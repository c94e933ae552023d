package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{bridge, driverWrite}
import org.apache.spark.sql.types.{DataType, DateType, StructField, StructType, TimestampNTZType, TimestampType}

/** The temporal kernels of the engine, as pure `DataFrame => DataFrame`
  * transformations (no catalog state). There is one kernel per
  * semantics:
  *
  *   - [[pitSnapshot]] — "latest row per entity at or before T"
  *     (reference: src/ml_feature_store/store.py:218-259, the
  *     σ_time → σ_entity → γ_argmax → π pipeline)
  *   - [[asOfJoin]] — point-in-time training-set join: for each spine
  *     row (e, t), the feature row with the same entity and the greatest
  *     timestamp <= t; non-matching pairs dropped (inner as-of)
  *     (reference: store.py:261-334, an O(|spine|·|table|) nested loop
  *     there — replaced here by a single-sort merge formulated as a
  *     union + running `last(..., ignoreNulls)` window).
  *   - [[asOfJoinLeftAll]] — the same plan with left semantics over n
  *     tables at once: every spine row survives, null-extended where a
  *     table has no matching row (the feature view); [[asOfJoinLeft]] is
  *     its one-table call.
  *
  * The store answers small calls on the driver, with no Spark job, by
  * twins of the same semantics: [[latestKLocal]] for point reads, and
  * [[asOfJoinLocal]] and [[asOfJoinLeftAllLocal]], one as-of kernel
  * ([[matchLocal]]), for training sets and views. The Spark kernels
  * serve every larger call and are their oracles.
  *
  * Scale notes (100 TB design):
  *   - `pitSnapshot` / `latestPerEntity` use `max_by(struct(row), ord)` —
  *     a hash aggregation with map-side partial combine: one shuffle of
  *     *one row per entity per map partition*, never a full sort. The
  *     preceding filters push down to the parquet scan.
  *   - `asOfJoin` unions the (narrow) spine with the feature table and
  *     computes a running "latest feature row so far" per entity with a
  *     ROWS-frame window: one shuffle + one sort, O((n+m) log(n+m))
  *     per entity, with NO pairwise blowup — unlike the naive
  *     equi-join + `ts <= t` filter plan whose intermediate size is the
  *     number of (spine row, earlier feature row) pairs.
  *     `asOfJoinLeftAll` puts all n tables of a view into that one
  *     union, so an n-table view is still one shuffle + one sort. A hot
  *     entity still lands in one window task; no skew route exists,
  *     because no measured workload has an entity hot enough to need one.
  *   - Every kernel takes explicit tie-break columns: the reference's
  *     winner among duplicate (entity, ts) rows is unspecified
  *     (pandas idxmax of an unstable sort), so a deterministic total
  *     order is this engine's documented divergence-by-design.
  */
object PointInTime {

  import Validation.{EntityIdColumn, TimestampColumn}

  /** γ argmax: the single row per entity maximizing (ts, tieBreak...)
    * (reference: store.py:516-530 `groupby(...).idxmax()`).
    * Empty input → empty output, schema preserved.
    */
  def latestPerEntity(
      df: DataFrame,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val ord = struct((tsCol +: tieBreakCols).map(col): _*)
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(col(entityCol).as("_gk"))
      .agg(max_by(payload, ord).as("_row"))
      .select(df.columns.map(c => col("_row").getField(c).as(c)): _*)
  }

  /** γ argmax generalized to the top k: the k most recent rows per
    * entity in (ts, tieBreak...) descending order, each tagged with its
    * 1-based `recency_rank` — the "last N interactions" feature shape.
    * Plan: rank window + filter; Spark's WindowGroupLimit pushes the
    * `rank <= k` limit into the shuffle-map side, so each partition
    * ships at most k rows per entity rather than the full history.
    */
  def latestKPerEntity(
      df: DataFrame,
      k: Int,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    if (k < 1)
      throw new FeatureValidationError(s"k must be >= 1, got $k")
    val w = Window
      .partitionBy(col(entityCol))
      .orderBy((tsCol +: tieBreakCols).map(col(_).desc): _*)
    df.withColumn("recency_rank", row_number().over(w))
      .filter(col("recency_rank") <= k)
  }

  /** The driver-side twin of [[pitSnapshot]]'s argmax (k = 1) and of
    * [[latestKPerEntity]], for reads small enough to answer without a
    * Spark job: per entity, the k greatest rows of `scan` in
    * (ts, tieBreak...) order that satisfy `predicate`, each with its
    * 1-based rank. `predicate` is the resolved filter the Spark kernel
    * applies, evaluated by Spark's interpreted `Predicate`; entities
    * compare as grouping and window partitioning compare them, with NaN
    * and -0.0 normalized. `scan` hands each row in the layout of
    * `schema` and may reuse it; a kept row is copied.
    */
  private[store] def latestKLocal(
      schema: StructType,
      predicate: Expression,
      k: Int,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil)(
      scan: (InternalRow => Unit) => Unit): Seq[(InternalRow, Int)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import scala.collection.mutable
    def ref(c: String): BoundReference = {
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    val keep = Predicate.createInterpreted(
      predicate.transform { case a: AttributeReference => ref(a.name) })
    keep.initialize(0)
    val key = UnsafeProjection.create(
      Seq(org.apache.spark.sql.graftbridge.bridge.normalizeFloats(ref(entityCol))))
    val own = UnsafeProjection.create(schema)
    val newestFirst = new InterpretedOrdering(
      (tsCol +: tieBreakCols).map(c => SortOrder(ref(c), Descending)))
    // per entity, its k newest rows so far, newest first
    val best = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[UnsafeRow]]
    scan { row =>
      if (keep.eval(row)) {
        val e = key(row)
        val rows = best.getOrElse(e, {
          val fresh = mutable.ArrayBuffer.empty[UnsafeRow]
          best.update(e.copy(), fresh)
          fresh
        })
        val at = rows.indexWhere(newestFirst.compare(row, _) < 0) match {
          case -1 => rows.length
          case i => i
        }
        if (at < k) {
          rows.insert(at, own(row).copy())
          if (rows.length > k) rows.remove(k)
        }
      }
    }
    best.valuesIterator.flatMap(_.iterator.zipWithIndex.map { case (r, i) => (r, i + 1) }).toSeq
  }

  /** PIT snapshot read: time filter → entity filter → latest-per-entity →
    * optional projection (reference: store.py:218-259).
    *
    * @param entityIds None = all entities; Some(ids) filters (an `IN`
    *                  predicate, pushed to the scan; for very large id
    *                  sets prefer a broadcast left-semi join upstream).
    * @param columns   None = all table columns; Some(cols) validates the
    *                  subset and emits [entity, ts] ++ cols in that order.
    */
  def pitSnapshot(
      table: DataFrame,
      asOf: Column,
      entityIds: Option[Seq[Any]] = None,
      columns: Option[Seq[String]] = None,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil,
      tableName: String = "<anonymous>"): DataFrame = {
    columns.foreach(cs => Validation.validateColumns(
      cs, dropInternal(table.columns), tableName, Seq(entityCol, tsCol)))
    // Prune to the requested columns BEFORE the argmax: the projection
    // reaches the parquet scan (ReadSchema shrinks) and the aggregation
    // payload carries only what the caller asked for.
    val pruned = pruneFor(table, columns, entityCol, tsCol, tieBreakCols)
    val timeFiltered = pruned.filter(col(tsCol) <= asOf)
    val filtered = entityIds match {
      case Some(ids) => timeFiltered.filter(col(entityCol).isin(ids: _*))
      case None      => timeFiltered
    }
    val latest = latestPerEntity(filtered, entityCol, tsCol, tieBreakCols)
    project(latest, columns, entityCol, tsCol)
  }

  /** PIT snapshot for a large entity set supplied as a DataFrame: the
    * entity predicate becomes a broadcast left-semi join instead of an
    * IN literal — the scale form of the reference's `isin` filter
    * (store.py:502-514) once the id set no longer fits a literal list.
    */
  def pitSnapshotForEntities(
      table: DataFrame,
      asOf: Column,
      entities: DataFrame,
      columns: Option[Seq[String]] = None,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil,
      tableName: String = "<anonymous>"): DataFrame = {
    columns.foreach(cs => Validation.validateColumns(
      cs, dropInternal(table.columns), tableName, Seq(entityCol, tsCol)))
    val ids = entities
      .select(col(entityCol).cast(table.schema(entityCol).dataType).as(entityCol))
      .distinct()
    val filtered = pruneFor(table, columns, entityCol, tsCol, tieBreakCols)
      .filter(col(tsCol) <= asOf)
      .join(broadcast(ids), Seq(entityCol), "left_semi")
    project(latestPerEntity(filtered, entityCol, tsCol, tieBreakCols), columns, entityCol, tsCol)
  }

  /** Point-in-time as-of join (reference: store.py:261-334). Output rows
    * are the matched *feature* rows (including the feature row's own
    * timestamp — the spine timestamp is dropped, matching
    * `_point_in_time_lookup`'s `.to_dict()` of the feature row);
    * spine pairs with no match emit nothing; duplicate spine pairs emit
    * duplicate rows.
    *
    * Plan shape: tag feature rows side=0 and spine probes side=1, union,
    * then per entity in (ts, side, tieBreak) order take the running
    * `last(featureRow, ignoreNulls)` with a ROWS frame — each spine probe
    * sees exactly the latest feature row at-or-before its ts (side=0
    * sorts before side=1 at equal ts ⇒ inclusive cutoff).
    *
    * @param columns       None = every non-internal table column; Some
    *                      projects [entity, ts] ++ columns and prunes
    *                      the feature-table scan to them.
    * @param tieBreakCols  total order among duplicate (entity, ts) rows;
    *                      the greatest wins.
    * @param tableName     names the table in validation errors.
    * @param maxAgeSeconds staleness bound: a match older than t - age is
    *                      dropped (in the column's own units for a
    *                      numeric ts).
    *
    * [[FeatureStore.getTrainingSet]] runs this kernel for spines the
    * driver does not hold and for tables over
    * [[FeatureStore.LocalReadMaxRows]] rows; smaller calls run the
    * driver twin [[asOfJoinLocal]], against which this kernel measured
    * 3-5x slower at 100 k to 2 M table rows (figures at the bound).
    */
  def asOfJoin(
      spine: DataFrame,
      table: DataFrame,
      columns: Option[Seq[String]] = None,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil,
      tableName: String = "<anonymous>",
      maxAgeSeconds: Option[Long] = None): DataFrame = {
    requireAge(maxAgeSeconds)
    val (unioned, outCols) =
      taggedUnion(spine, table, columns, entityCol, tsCol, tieBreakCols,
        tableName)

    val w = Window
      .partitionBy(col("_e"))
      .orderBy(col("_t").asc, col("_side").asc, col("_o").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // Staleness bound: the latest feature row at-or-before t is also the
    // latest within [t - maxAge, t] whenever one exists there at all, so
    // the bound is a post-window filter on the matched row's timestamp —
    // the plan shape (one shuffle, one sort) is unchanged. Inclusive at
    // the floor; for numeric ts columns the age is in the column's units.
    val ageOk = fresh(col("_match").getField(tsCol), col("_t"),
      table.schema(tsCol).dataType, maxAgeSeconds)

    val matched = unioned
      .withColumn("_match", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_match").isNotNull && ageOk)
      .select(outCols.map(c => col("_match").getField(c).as(c)): _*)

    project(matched, columns, entityCol, tsCol)
  }

  /** The staleness bound of [[asOfJoin]] on a matched row's timestamp
    * `m` for a probe at `t` (both of type `tsType`): true with no bound,
    * else `m >= t - maxAge`, inclusive at the floor, in the column's own
    * units for a numeric ts.
    */
  private def fresh(
      m: Column, t: Column, tsType: DataType, maxAgeSeconds: Option[Long]): Column =
    maxAgeSeconds match {
      case None => lit(true)
      case Some(age) =>
        tsType match {
          case _: TimestampType | _: TimestampNTZType =>
            m >= t - expr(s"INTERVAL $age SECOND")
          // DateType: compare at timestamp precision (midnight under
          // the UTC-pinned session) — the numeric fallback would
          // subtract DAYS, a ~86400x looser staleness bound
          case _: DateType =>
            m.cast("timestamp") >= t.cast("timestamp") - expr(s"INTERVAL $age SECOND")
          case _ => m >= t - lit(age)
        }
    }

  private def requireAge(maxAgeSeconds: Option[Long]): Unit =
    maxAgeSeconds.foreach(a =>
      if (a < 0)
        throw new FeatureValidationError(
          s"maxAgeSeconds must be >= 0, got $a"))

  /** One feature table of a left as-of view ([[asOfJoinLeftAll]]): its
    * rows, the prefix its columns come back under, and the tie-break
    * columns that order its own duplicate (entity, ts) rows.
    */
  final case class ViewTable(
      table: DataFrame,
      prefix: String,
      tieBreakCols: Seq[String] = Nil)

  /** LEFT as-of join for feature views: every spine row survives
    * (null-extended where the entity has no history at or before t),
    * the spine's own columns pass through untouched, and the matched
    * feature row's columns come back `prefix`ed. The one-table call of
    * [[asOfJoinLeftAll]]. Internal (underscore) table columns are
    * ordering keys only and do not appear in the output.
    */
  def asOfJoinLeft(
      spine: DataFrame,
      table: DataFrame,
      prefix: String,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil): DataFrame =
    asOfJoinLeftAll(spine, Seq(ViewTable(table, prefix, tieBreakCols)),
      entityCol, tsCol)

  /** n-table LEFT as-of join — the multi-table training view
    * ([[FeatureStore.getFeatureView]]). The result equals chaining one
    * [[asOfJoinLeft]] per table in order: spine columns first, then
    * each table's non-internal columns (entity excluded) under its
    * prefix, spine rows never dropped nor merged.
    *
    * Plan shape: the spine and every table go into one tagged union in
    * which table i carries its row as payload `_p<i>` (null on every
    * other row). One entity-keyed shuffle and one sort by (ts, side,
    * then each table's tie-break columns read from its payload) feed one
    * running `last(_p<i>, ignoreNulls)` per table over the same window:
    * a table's rows order among themselves by that table's own
    * tie-break (the earlier tables' keys are all null on them), feature
    * rows sort before spine probes at equal ts (inclusive cutoff), and
    * rows of different tables never compete because each running `last`
    * sees only its own table's payload. So an n-table view costs one
    * shuffle, not n. Consecutive tables whose entity and ts types differ
    * cannot share the union (the chained form casts the spine to each
    * table's key types in turn); each maximal run of equal key types is
    * one such pass over the previous run's output.
    *
    * [[FeatureStore.getFeatureView]] chooses between this kernel and
    * its driver twin [[asOfJoinLeftAllLocal]] as
    * [[FeatureStore.getTrainingSet]] does, counting the rows of every
    * table of the view.
    */
  def asOfJoinLeftAll(
      spine: DataFrame,
      tables: Seq[ViewTable],
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn): DataFrame = {
    Validation.validateSpine(spine, entityCol, tsCol)
    keyRuns(tables)(v => keyTypes(v.table.schema, entityCol, tsCol))
      .foldLeft(spine)((acc, run) => asOfJoinLeftRun(acc, run, entityCol, tsCol))
  }

  private def keyTypes(schema: StructType, entityCol: String, tsCol: String) =
    (schema(entityCol).dataType, schema(tsCol).dataType)

  /** The maximal runs of consecutive tables with equal (entity, ts)
    * types: one pass of a left as-of view each.
    */
  private def keyRuns[A](tables: Seq[A])(types: A => (DataType, DataType)): Seq[Seq[A]] =
    tables.foldLeft(List.empty[List[A]]) {
      case ((run @ (last :: _)) :: done, v) if types(last) == types(v) =>
        (v :: run) :: done
      case (done, v) => List(v) :: done
    }.reverse.map(_.reverse)

  /** One union + one window pass of [[asOfJoinLeftAll]] over tables
    * that share their entity and ts types.
    */
  private def asOfJoinLeftRun(
      spine: DataFrame,
      run: Seq[ViewTable],
      entityCol: String,
      tsCol: String): DataFrame = {
    val spineExtra =
      spine.columns.toSeq.filterNot(c => c == entityCol || c == tsCol)
    val sPayload =
      if (spineExtra.isEmpty) struct(lit(0)) else struct(spineExtra.map(col): _*)
    val sPayloadType = spine.select(sPayload.as("_sp")).schema.head.dataType
    val entityType = run.head.table.schema(entityCol).dataType
    val tsType = run.head.table.schema(tsCol).dataType

    // table i's rows carry its whole row as payload `_p<i>`, null on
    // every other row; its tie-break columns are sort keys read from it
    val payloadTypes = run.map(v =>
      v.table.select(struct(v.table.columns.toSeq.map(col): _*)).schema.head.dataType)
    def payloads(own: Option[Int]): Seq[Column] = run.indices.map { i =>
      (if (own.contains(i)) struct(run(i).table.columns.toSeq.map(col): _*)
       else lit(null).cast(payloadTypes(i))).as(s"_p$i")
    }

    val featSides = run.zipWithIndex.map { case (v, i) =>
      v.table
        .filter(col(tsCol).isNotNull) // no as-of position — see taggedUnion
        .select(
          Seq(col(entityCol).as("_e"), col(tsCol).as("_t"), lit(0).as("_side"),
            lit(null).cast(sPayloadType).as("_sp")) ++ payloads(Some(i)): _*)
    }
    val spineSide = spine.select(
      Seq(col(entityCol).cast(entityType).as("_e"),
        col(tsCol).cast(tsType).as("_t"), lit(1).as("_side"),
        sPayload.as("_sp")) ++ payloads(None): _*)

    val w = Window
      .partitionBy(col("_e"))
      .orderBy(Seq(col("_t").asc, col("_side").asc) ++
        run.zipWithIndex.flatMap { case (v, i) =>
          v.tieBreakCols.map(c => col(s"_p$i").getField(c).asc) }: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matches = run.indices.map(i =>
      last(col(s"_p$i"), ignoreNulls = true).over(w).as(s"_m$i"))
    val featOut = run.zipWithIndex.flatMap { case (v, i) =>
      dropInternal(v.table.columns.toSeq).filterNot(_ == entityCol)
        .map(c => col(s"_m$i").getField(c).as(v.prefix + c))
    }
    (featSides :+ spineSide).reduce(_ unionByName _)
      .select(col("*") +: matches: _*)
      .filter(col("_side") === 1)
      .select(
        col("_e").as(entityCol) +:
          col("_t").as(tsCol) +:
          (spineExtra.map(c => col("_sp").getField(c).as(c)) ++ featOut): _*)
  }

  /** One feature table of the driver kernels ([[asOfJoinLocal]],
    * [[asOfJoinLeftAllLocal]]): every column of the table, the layout
    * `schema` its rows are read in (its entity, ts and tie-break columns
    * and the columns the call returns, typed as the Spark kernel reads
    * them), `scan`, which hands each row to its callback once and may
    * reuse it, and, as in [[ViewTable]], a view's prefix and the
    * tie-break columns.
    */
  private[store] final case class LocalTable(
      columns: Seq[String],
      schema: StructType,
      scan: (InternalRow => Unit) => Unit,
      prefix: String = "",
      tieBreakCols: Seq[String] = Nil)

  /** The driver twin of [[asOfJoin]] for a spine whose plan is a local
    * relation under projections, filters and limits: the same
    * validation, and the same schema and rows as an eager local
    * relation, so collecting it starts no Spark job. `table` is read
    * once ([[matchLocal]]), holding at most one feature row per spine
    * row. None, before `table` is read, where only Spark's kernel can
    * answer: a plan Spark cannot evaluate row by row, a key that does
    * not group by its bytes or does not order, a name `col` would not
    * take as it is, or a spine key cast that fails (the Spark kernel
    * then raises the error itself). None too, with the read abandoned,
    * once the feature rows held pass `maxBytes`.
    */
  private[store] def asOfJoinLocal(
      spine: DataFrame,
      table: LocalTable,
      columns: Option[Seq[String]],
      maxAgeSeconds: Option[Long],
      maxBytes: Long,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tableName: String = "<anonymous>"): Option[DataFrame] = {
    requireAge(maxAgeSeconds)
    Validation.requireSpineColumns(spine, entityCol, tsCol)
    val out = columns.fold(dropInternal(table.columns))(cs => Seq(entityCol, tsCol) ++ cs)
    val tsType = table.schema(tsCol).dataType
    for {
      _ <- Option.when(localSupported(Seq(table), Nil, entityCol, tsCol))(())
      probes <- probesLocal(spine, Seq(keyTypes(table.schema, entityCol, tsCol)), Nil,
        entityCol, tsCol)
      _ = columns.foreach(cs => Validation.validateColumns(
        cs, dropInternal(table.columns), tableName, Seq(entityCol, tsCol)))
      matched <- matchLocal(probes, Seq((0, table)), entityCol, tsCol, maxBytes)
      result <- evaluated(spine.sparkSession,
        Seq(StructField("_t", tsType), StructField("_m", table.schema)),
        probes.indices.map(i => InternalRow(probes(i).get(1, tsType), matched(0)(i))))(
        _.filter(col("_m").isNotNull && fresh(col("_m").getField(tsCol), col("_t"), tsType,
          maxAgeSeconds))
          .select(out.map(c => col("_m").getField(c).as(c)): _*))
    } yield result
  }

  /** The driver twin of [[asOfJoinLeftAll]], for a spine as in
    * [[asOfJoinLocal]] and on the same terms: the same validation, and
    * the same schema and rows as an eager local relation. Each table is
    * read once; the spine's keys are cast pass by pass, as the Spark
    * kernel's passes cast them.
    */
  private[store] def asOfJoinLeftAllLocal(
      spine: DataFrame,
      tables: Seq[LocalTable],
      maxBytes: Long,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn): Option[DataFrame] = {
    Validation.requireSpineColumns(spine, entityCol, tsCol)
    val extras = spine.columns.toSeq.filterNot(c => c == entityCol || c == tsCol)
    val feats = tables.zipWithIndex.flatMap { case (t, i) =>
      dropInternal(t.columns).filterNot(_ == entityCol).map(c => (i, c, t.prefix + c))
    }
    val runs = keyRuns(tables.zipWithIndex)(t => keyTypes(t._1.schema, entityCol, tsCol))
    val passKeys = runs.map(r => keyTypes(r.head._1.schema, entityCol, tsCol))
    val (entityType, tsType) = passKeys.last
    val lastPass = 2 * (runs.size - 1)
    val extraTypes = extras.map(c => spine.schema(c).dataType)
    for {
      _ <- Option.when(localSupported(tables, spine.columns.toSeq ++ feats.map(_._3),
        entityCol, tsCol))(())
      probes <- probesLocal(spine, passKeys, extras, entityCol, tsCol)
      matched <- matchLocal(probes, runs.zipWithIndex.flatMap { case (run, p) =>
        run.map { case (t, _) => (2 * p, t) } }, entityCol, tsCol, maxBytes)
      result <- evaluated(spine.sparkSession,
        Seq(StructField("_e", entityType), StructField("_t", tsType)) ++
          extraTypes.zipWithIndex.map { case (t, j) => StructField(s"_x$j", t) } ++
          tables.zipWithIndex.map { case (t, i) => StructField(s"_m$i", t.schema) },
        probes.indices.map { i =>
          val p = probes(i)
          InternalRow.fromSeq(Seq(p.get(lastPass, entityType), p.get(lastPass + 1, tsType)) ++
            extraTypes.zipWithIndex.map { case (t, j) => p.get(2 * runs.size + j, t) } ++
            matched.map(_(i)))
        })(_.select(Seq(col("_e").as(entityCol), col("_t").as(tsCol)) ++
          extras.zipWithIndex.map { case (c, j) => col(s"_x$j").as(c) } ++
          feats.map { case (i, c, name) => col(s"_m$i").getField(c).as(name) }: _*))
    } yield result
  }

  /** True when the driver kernels take these tables and names: every
    * table's entity groups by its float-normalized bytes as a window
    * partition groups it, its ts and tie-break columns order, no name
    * holds a dot or a backtick (which `col` would parse), and the
    * `names` of the result differ even ignoring case (duplicates there
    * are ambiguous to a later pass).
    */
  private def localSupported(
      tables: Seq[LocalTable], names: Seq[String], entityCol: String, tsCol: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val all = names ++ tables.flatMap(_.columns)
    tables.forall(t =>
      bridge.groupsByBytes(t.schema(entityCol).dataType) &&
        (tsCol +: t.tieBreakCols).forall(c => RowOrdering.isOrderable(t.schema(c).dataType))) &&
      !all.exists(n => n.contains('.') || n.contains('`')) &&
      names.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size == names.size
  }

  /** The spine's rows evaluated on the driver by Spark's expressions,
    * as columns `_e<p>`, `_t<p>` (its entity and ts cast to pass `p`'s
    * key types, each pass casting the previous one's keys, as chained
    * passes do) and then its `extras` columns. Fails with the spine's
    * own emptiness error; None when Spark would have to run the plan,
    * or when the cast fails, in analysis or on a row.
    */
  private def probesLocal(
      spine: DataFrame,
      passKeys: Seq[(DataType, DataType)],
      extras: Seq[String],
      entityCol: String,
      tsCol: String): Option[IndexedSeq[InternalRow]] = {
    val keys = passKeys.scanLeft((col(entityCol), col(tsCol))) {
      case ((e, t), (et, tt)) => (e.cast(et), t.cast(tt))
    }.tail
    val select = keys.zipWithIndex.flatMap { case ((e, t), p) =>
      Seq(e.as(s"_e$p"), t.as(s"_t$p")) } ++ extras.map(col)
    sparkErrorsAsNone(driverWrite.fold(spine.select(select: _*)).map(_.rows)).map { rows =>
      if (rows.isEmpty) throw new FeatureValidationError(Validation.EmptySpine)
      rows
    }
  }

  /** `plan` over a local relation of `rows` (of layout `fields`, every
    * field nullable, as a window's running `last` and a union leave
    * them), evaluated on the driver by Spark's expressions and returned
    * as an eager local relation. None when an expression fails on a
    * row: the Spark kernel raises the error itself.
    */
  private def evaluated(
      spark: org.apache.spark.sql.SparkSession,
      fields: Seq[StructField],
      rows: Seq[InternalRow])(plan: DataFrame => DataFrame): Option[DataFrame] = {
    def relation(attrs: Seq[(String, DataType, Boolean)], data: Seq[InternalRow]) =
      bridge.ofRows(spark, LocalRelation(
        attrs.map { case (n, t, nullable) => AttributeReference(n, t, nullable)() }, data))
    val input = relation(fields.map(f => (f.name, f.dataType, true)), rows)
    sparkErrorsAsNone(driverWrite.fold(plan(input))).map(f =>
      relation(f.output.map(a => (a.name, a.dataType, a.nullable)), f.rows))
  }

  private def sparkErrorsAsNone[A](body: => Option[A]): Option[A] =
    try body
    catch { case _: org.apache.spark.SparkThrowable => None }

  /** The as-of match of every spine row of `probes` in each of
    * `tables`, paired with the column of `probes` where its pass's
    * (entity, ts) keys start: per table, per spine row, the greatest
    * row in (ts, tieBreak...) order with the same entity and a ts at or
    * before the spine row's, or null — what the Spark kernels' running
    * `last` over (ts, side, tieBreak...) gives each spine row. Entities
    * compare float-normalized, a null entity matching null entities, as
    * window partitions group them; ts and tie-break columns compare by
    * Spark's orderings (nulls first). Feature rows with a null ts are
    * skipped; spine rows with a null ts match nothing.
    *
    * Each feature row is read once and kept only at the first spine
    * row of its entity (in ts order, found by binary search) it can
    * match, and only while it is the greatest seen there; a running
    * maximum over each entity's spine rows in ts order then gives every
    * spine row its match. So at most one row per spine row and table is
    * held. None once the rows held pass `maxBytes`.
    */
  private def matchLocal(
      probes: IndexedSeq[InternalRow],
      tables: Seq[(Int, LocalTable)],
      entityCol: String,
      tsCol: String,
      maxBytes: Long): Option[Seq[Array[InternalRow]]] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import scala.collection.mutable
    object TooLarge extends scala.util.control.ControlThrowable
    var held = 0L
    def hold(delta: Long): Unit = {
      held += delta
      if (held > maxBytes) throw TooLarge
    }
    try Some(tables.map { case (at, table) =>
      val schema = table.schema
      def ref(c: String) = {
        val i = schema.fieldIndex(c)
        BoundReference(i, schema(i).dataType, nullable = true)
      }
      val entityType = schema(entityCol).dataType
      val tsType = schema(tsCol).dataType
      val tsAt = schema.fieldIndex(tsCol)
      val tsOrder = TypeUtils.getInterpretedOrdering(tsType)
      def compareTs(a: Any, b: Any): Int =
        if (a == null) { if (b == null) 0 else -1 }
        else if (b == null) 1
        else tsOrder.compare(a, b)
      val rowOrder = new InterpretedOrdering(
        (tsCol +: table.tieBreakCols).map(c => SortOrder(ref(c), Ascending)))
      val probeKey = UnsafeProjection.create(Seq(bridge.normalizeFloats(
        BoundReference(at, entityType, nullable = true))))
      val rowKey = UnsafeProjection.create(Seq(bridge.normalizeFloats(ref(entityCol))))
      val own = UnsafeProjection.create(schema)

      // per entity: its spine rows in ts order, their ts, and per spine
      // row the greatest feature row first matchable there
      final class Entity(val spine: Array[Int]) {
        val ts: Array[Any] = spine.map(probes(_).get(at + 1, tsType))
        val slots = new Array[UnsafeRow](spine.length)
      }
      val entities = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuilder.ofInt]
      probes.indices.foreach { i =>
        val k = probeKey(probes(i))
        entities.get(k) match {
          case Some(b) => b += i
          case None => entities(k.copy()) = new mutable.ArrayBuilder.ofInt += i
        }
      }
      val byEntity = entities.map { case (k, b) =>
        k -> new Entity(b.result().sortWith((x, y) =>
          compareTs(probes(x).get(at + 1, tsType), probes(y).get(at + 1, tsType)) < 0))
      }

      table.scan { row =>
        if (!row.isNullAt(tsAt)) byEntity.get(rowKey(row)).foreach { e =>
          val ts = row.get(tsAt, tsType)
          var lo = 0
          var hi = e.ts.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (compareTs(e.ts(mid), ts) < 0) lo = mid + 1 else hi = mid
          }
          if (lo < e.ts.length) {
            val cur = e.slots(lo)
            if (cur == null || rowOrder.compare(row, cur) > 0) {
              val kept = own(row).copy()
              hold(kept.getSizeInBytes.toLong - (if (cur == null) 0L else cur.getSizeInBytes))
              e.slots(lo) = kept
            }
          }
        }
      }

      val matched = new Array[InternalRow](probes.size)
      byEntity.valuesIterator.foreach { e =>
        var best: UnsafeRow = null
        e.spine.indices.foreach { k =>
          val s = e.slots(k)
          if (s != null && (best == null || rowOrder.compare(s, best) > 0)) best = s
          matched(e.spine(k)) = best
        }
      }
      matched
    })
    catch { case TooLarge => None }
  }

  /** Front half of [[asOfJoin]]: validate, then union feature rows
    * (side 0, full payload + tie-break ord) with spine probes (side 1,
    * null payload). Side 0 sorting before side 1 at equal ts is what
    * makes the cutoff inclusive.
    */
  private def taggedUnion(
      spine: DataFrame,
      table: DataFrame,
      columns: Option[Seq[String]],
      entityCol: String,
      tsCol: String,
      tieBreakCols: Seq[String],
      tableName: String): (DataFrame, Seq[String]) = {
    Validation.validateSpine(spine, entityCol, tsCol)
    columns.foreach(cs => Validation.validateColumns(
      cs, dropInternal(table.columns), tableName, Seq(entityCol, tsCol)))

    // With an explicit projection the payload struct carries only the
    // requested columns — the pruning reaches the feature-table scan and
    // the union shuffles narrow rows instead of full ones.
    val prunedTable = pruneFor(table, columns, entityCol, tsCol, tieBreakCols)
    val outCols = prunedTable.columns.toSeq
    val payload = struct(outCols.map(col): _*)
    val payloadType = prunedTable.select(payload.as("_p")).schema.head.dataType
    val ord =
      if (tieBreakCols.isEmpty) struct(lit(0))
      else struct(tieBreakCols.map(col): _*)
    val ordType = prunedTable.select(ord.as("_o")).schema.head.dataType
    val entityType = prunedTable.schema(entityCol).dataType
    val tsType = prunedTable.schema(tsCol).dataType

    // a null-ts feature row has no as-of position: ASC NULLS FIRST
    // would sort it before every probe and make it the running match,
    // while the PIT snapshot (three-valued ts <= t) excludes it — drop
    // it here so both kernels agree
    val featSide = prunedTable
      .filter(col(tsCol).isNotNull)
      .select(
        col(entityCol).as("_e"),
        col(tsCol).as("_t"),
        lit(0).as("_side"),
        payload.as("_p"),
        ord.as("_o"))
    val spineSide = spine.select(
      col(entityCol).cast(entityType).as("_e"),
      col(tsCol).cast(tsType).as("_t"),
      lit(1).as("_side"),
      lit(null).cast(payloadType).as("_p"),
      lit(null).cast(ordType).as("_o"))
    (featSide.unionByName(spineSide), outCols)
  }

  /** SCD2 (slowly-changing-dimension type 2) view of a feature table:
    * every row annotated with its validity interval — `valid_to` is the
    * next row's timestamp for the same entity in (ts, tieBreak...)
    * order, NULL for the entity's current row. Turns the PIT argmax
    * into interval containment: a probe at time t matches exactly the
    * row with `ts <= t < valid_to`. Duplicate (entity, ts) rows get
    * empty intervals for all but the tie-break winner, so containment
    * picks the same row the argmax kernels pick.
    *
    * One entity-keyed window pass (`lead`); the output stays
    * partitioned by entity, which a following entity-keyed join reuses.
    */
  def scd2(
      table: DataFrame,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    Validation.validateSpine(table, entityCol, tsCol)
    val order = (tsCol +: tieBreakCols).map(c => col(c).asc)
    val w = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    table.withColumn("valid_to", lead(col(tsCol), 1).over(w))
  }

  /** π [entity, ts] ++ columns (reference: store.py:250-253, 303-306);
    * None keeps the table's registration column order minus internal cols.
    */
  private def project(
      df: DataFrame,
      columns: Option[Seq[String]],
      entityCol: String,
      tsCol: String): DataFrame = columns match {
    case Some(cs) => df.select((Seq(entityCol, tsCol) ++ cs).map(col): _*)
    case None     => df.select(dropInternal(df.columns).map(col): _*)
  }

  /** Engine-internal columns (e.g. the deterministic tie-break id added
    * at registration) never appear in query output.
    */
  private[store] def dropInternal(cols: Seq[String]): Seq[String] =
    cols.filterNot(_.startsWith("_"))

  /** When an explicit projection was requested, restrict the feature
    * table to the columns the kernel can actually emit or order by
    * (entity, ts, tie-breaks, requested features) — applied BEFORE the
    * heavy operator so Catalyst pushes the pruning into the scan
    * (ReadSchema) and every shuffle carries narrow rows. No projection →
    * untouched (full-row semantics).
    */
  private def pruneFor(
      table: DataFrame,
      columns: Option[Seq[String]],
      entityCol: String,
      tsCol: String,
      tieBreakCols: Seq[String]): DataFrame = columns match {
    case Some(cs) =>
      val needed = (Seq(entityCol, tsCol) ++ tieBreakCols ++ cs).distinct
      table.select(needed.map(col): _*)
    case None => table
  }
}
