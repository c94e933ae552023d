package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
    maxAgeSeconds.foreach(a =>
      if (a < 0)
        throw new FeatureValidationError(
          s"maxAgeSeconds must be >= 0, got $a"))
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
    val ageOk: Column = maxAgeSeconds match {
      case None => lit(true)
      case Some(age) =>
        val m = col("_match").getField(tsCol)
        table.schema(tsCol).dataType match {
          case _: org.apache.spark.sql.types.TimestampType |
              _: org.apache.spark.sql.types.TimestampNTZType =>
            m >= col("_t") - expr(s"INTERVAL $age SECOND")
          // DateType: compare at timestamp precision (midnight under
          // the UTC-pinned session) — the numeric fallback would
          // subtract DAYS, a ~86400x looser staleness bound
          case _: org.apache.spark.sql.types.DateType =>
            m.cast("timestamp") >=
              col("_t").cast("timestamp") - expr(s"INTERVAL $age SECOND")
          case _ => m >= col("_t") - lit(age)
        }
    }

    val matched = unioned
      .withColumn("_match", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_match").isNotNull && ageOk)
      .select(outCols.map(c => col("_match").getField(c).as(c)): _*)

    project(matched, columns, entityCol, tsCol)
  }

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
    */
  def asOfJoinLeftAll(
      spine: DataFrame,
      tables: Seq[ViewTable],
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn): DataFrame = {
    Validation.validateSpine(spine, entityCol, tsCol)
    def keyTypes(v: ViewTable) =
      (v.table.schema(entityCol).dataType, v.table.schema(tsCol).dataType)
    val runs = tables.foldLeft(List.empty[List[ViewTable]]) {
      case ((run @ (last :: _)) :: done, v) if keyTypes(last) == keyTypes(v) =>
        (v :: run) :: done
      case (done, v) => List(v) :: done
    }.reverse.map(_.reverse)
    runs.foldLeft(spine)((acc, run) => asOfJoinLeftRun(acc, run, entityCol, tsCol))
  }

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
