package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-windowed aggregation features — the "sum of events in the last
  * N days as of each training timestamp" family that production feature
  * pipelines layer on top of the reference's plain as-of join
  * (reference: src/ml_feature_store/store.py:261-308 gives only the
  * latest-row lookup; windowed aggregates are the standard extension).
  *
  * Scale design (100 TB): the naive plan — range join spine×table then
  * group by spine row — materializes every (probe, in-window row) pair:
  * a 7-day window over a busy entity multiplies the shuffle by the
  * window's row count. [[windowAggJoin]] instead unions probes into the
  * event stream and evaluates every aggregate with a RANGE-frame window
  * over epoch-micros: ONE shuffle + one sort of (events + probes), no
  * pairwise intermediate, all aggregates computed in the same window
  * pass. `rows`, `count` and integral `sum` are prefix differences over
  * growing frames, linear in the rows; `min`, `max`, `distinct` and
  * floating or decimal `sum` read a sliding frame that Spark
  * re-aggregates whenever its lower edge moves, O(rows × rows in the
  * window) on a busy entity. It is the one window-aggregate kernel: a
  * single hot entity still lands in one task, and no skew route exists,
  * because no measured workload has an entity hot enough to need one.
  */
object WindowFeatures {

  import Validation.{EntityIdColumn, TimestampColumn}


  /** Ordering value + frame width for a window/session kernel, in
    * matching units: temporal columns at microsecond precision, numeric
    * ts columns in their own units. ONE dispatch site for every
    * windowed kernel, so a new ts type is supported in one place.
    */
  private def ordAndWidth(
      tsType: org.apache.spark.sql.types.DataType,
      seconds: Long,
      kernel: String): (Column => Column, Long) = tsType match {
    case _: TimestampType | _: TimestampNTZType | _: DateType =>
      ((c: Column) => unix_micros(c.cast(TimestampType)), seconds * 1000000L)
    case _: NumericType =>
      ((c: Column) => c.cast(LongType), seconds)
    case other =>
      throw new FeatureValidationError(
        s"$kernel needs a temporal or numeric timestamp column, got $other")
  }
  /** One requested aggregate: `fn` ∈ {rows, count, sum, min, max},
    * evaluated over the feature rows inside the probe's window.
    * `rows` counts feature rows (input ignored); the rest apply to
    * `input` with SQL null-skipping semantics.
    *
    * `windowSeconds` optionally overrides the join-level window length
    * for THIS aggregate — the "7d / 30d / 90d horizons of the same
    * signal" shape. All horizons share the one shuffle and sort: each
    * distinct length adds only a frame evaluation over the already-
    * sorted run, never another pass over the data.
    */
  final case class WindowAgg(
      out: String,
      fn: String,
      input: String = "",
      windowSeconds: Option[Long] = None)

  private val SupportedFns = Set("rows", "count", "sum", "min", "max", "distinct")

  /** For each spine row (e, t): aggregates over feature rows r with
    * `r.entity == e AND t - window < r.ts <= t` (inclusive upper bound —
    * same cutoff convention as the as-of join; lower bound exclusive so
    * consecutive windows of length `windowSeconds` tile without
    * overlap). Every spine row is emitted (left semantics): zero
    * in-window rows → `rows`/`count` = 0, `sum`/`min`/`max` = null.
    * Duplicate spine rows emit duplicate outputs.
    *
    * `rows`, `count` and `sum` over byte/short/int/long inputs are
    * computed as prefix(t) − prefix(t − w) from running totals (sums in
    * decimal(38,0), so a long history cannot overflow; a window sum that
    * does not fit a long fails under ANSI); `min`, `max`, `distinct` and
    * floating or decimal `sum` aggregate a bounded frame. The rule is
    * fixed by the function and the input type.
    *
    * Determinism note (oracle-facing callers): `sum` over floating
    * point is order-dependent across engines — aggregate integer units
    * (e.g. cents as LONG) instead, as everywhere else in this engine.
    *
    * @param windowSeconds window length; for a temporal `tsCol` the
    *   unit is seconds (applied at microsecond precision); for a
    *   numeric `tsCol` it is the column's own units.
    */
  def windowAggJoin(
      spine: DataFrame,
      table: DataFrame,
      windowSeconds: Long,
      aggs: Seq[WindowAgg],
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn): DataFrame = {
    if (windowSeconds < 1 || aggs.flatMap(_.windowSeconds).exists(_ < 1))
      throw new FeatureValidationError(
        s"windowSeconds must be >= 1 (join-level: $windowSeconds)")
    if (aggs.isEmpty)
      throw new FeatureValidationError("windowAggJoin needs at least one aggregate")
    aggs.find(a => !SupportedFns.contains(a.fn)).foreach(a =>
      throw new FeatureValidationError(
        s"unsupported window aggregate '${a.fn}' (supported: ${SupportedFns.toSeq.sorted.mkString(", ")})"))
    Validation.validateSpine(spine, entityCol, tsCol)
    val valueCols = aggs.collect { case a if a.fn != "rows" => a.input }.distinct
    val missing = valueCols.filterNot(table.columns.contains)
    if (missing.nonEmpty)
      throw new FeatureValidationError(
        s"windowAggJoin input columns not in table: ${missing.mkString(", ")}")
    val dupOut = aggs.groupBy(_.out).collect { case (o, as) if as.size > 1 => o }
    if (dupOut.nonEmpty)
      throw new FeatureValidationError(
        s"duplicate output names: ${dupOut.toSeq.sorted.mkString(", ")}")

    val entityType = table.schema(entityCol).dataType
    val tsType = table.schema(tsCol).dataType
    val (ordOf, width) = ordAndWidth(tsType, windowSeconds, "windowAggJoin")

    // null-ts feature rows can be inside NO window — but unfiltered they
    // would sort as null-ordering peers of null-ts probes and leak into
    // those probes' frames
    val featSide = table
      .filter(col(tsCol).isNotNull)
      .select(
        col(entityCol).as("_e") +:
          col(tsCol).as("_t") +:
          lit(0).as("_side") +:
          valueCols.map(c => col(c).as(s"_v_$c")): _*)
    val spineSide = spine.select(
      col(entityCol).cast(entityType).as("_e") +:
        col(tsCol).cast(tsType).as("_t") +:
        lit(1).as("_side") +:
        valueCols.map(c => lit(null).cast(table.schema(c).dataType).as(s"_v_$c")): _*)

    // Every frame is a RANGE frame over `_us` (value-based: peers at the
    // probe's exact ordering value are all included regardless of union
    // order, so the inclusive upper bound needs no side tag in the
    // sort), and every one shares the partitioning and the order, so
    // Catalyst plans one shuffle + one sort for all aggregates and
    // horizons.
    //
    // rows, count and integral sum are invertible: their window value is
    // prefix(t) - prefix(t - w) (Leis et al., VLDB 2015), read from two
    // growing frames — UNBOUNDED PRECEDING to CURRENT ROW, and to w
    // PRECEDING — which Spark advances row by row. Sums accumulate in
    // decimal(38,0), so no entity's history can overflow; the difference
    // goes back to a long, which fails under ANSI only when the window
    // sum itself does not fit. min, max, distinct and floating or
    // decimal sums are not invertible and read a bounded sliding frame,
    // which Spark re-aggregates whenever its lower edge moves.
    val sameUnits: Long => Long = tsType match {
      case _: NumericType => identity
      case _ => _ * 1000000L
    }
    val byTime = Window.partitionBy(col("_e")).orderBy(col("_us"))
    val upToNow = byTime.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    def span(seconds: Option[Long]): Long = seconds.map(sameUnits).getOrElse(width)
    def frameFor(seconds: Option[Long]) = byTime.rangeBetween(-(span(seconds) - 1L), 0L)
    // a sum over an empty frame is null, so the lower prefix defaults to 0
    def inWindow(prefix: Column, seconds: Option[Long]): Column =
      prefix.over(upToNow) - coalesce(
        prefix.over(byTime.rangeBetween(Window.unboundedPreceding, -span(seconds))), lit(0))
    def featOnly(c: Column): Column = when(col("_side") === 0, c)
    def integral(in: String): Boolean = table.schema(in).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val aggCols = aggs.map { a =>
      val v = featOnly(col(s"_v_${a.input}"))
      val h = a.windowSeconds
      a match {
        case WindowAgg(out, "rows", _, _) => inWindow(count(featOnly(lit(1))), h).as(out)
        case WindowAgg(out, "count", _, _) => inWindow(count(v), h).as(out)
        case WindowAgg(out, "sum", in, _) if integral(in) =>
          when(inWindow(count(v), h) > 0,
            inWindow(sum(v.cast(DecimalType(38, 0))), h).cast(LongType)).as(out)
        case WindowAgg(out, "sum", _, _) => sum(v).over(frameFor(h)).as(out)
        case WindowAgg(out, "min", _, _) => min(v).over(frameFor(h)).as(out)
        case WindowAgg(out, "max", _, _) => max(v).over(frameFor(h)).as(out)
        // distinct cardinality inside the frame: collect_set ignores the
        // null-tagged spine rows, size() reads the buffer — the window
        // form of count(DISTINCT) Spark doesn't accept directly. State
        // per frame is the distinct-value set; for very-high-cardinality
        // inputs prefer an HLL sketch column upstream.
        case WindowAgg(out, "distinct", _, _) =>
          size(collect_set(v).over(frameFor(h))).cast("long").as(out)
        case WindowAgg(_, fn, _, _) =>
          throw new FeatureValidationError(s"unsupported window aggregate '$fn'")
      }
    }

    // the window's own exchange, placed explicitly: Spark computes a
    // window function's inputs (the decimal casts above) in a projection
    // below the Window, so this keeps them after the shuffle instead of
    // shipping a 16-byte decimal per row through it
    featSide.unionByName(spineSide)
      .withColumn("_us", ordOf(col("_t")))
      .repartition(col("_e"))
      .select(col("_e") +: col("_t") +: col("_side") +: aggCols: _*)
      .filter(col("_side") === 1)
      .select(col("_e").as(entityCol) +: col("_t").as(tsCol) +: aggs.map(a => col(a.out)): _*)
  }

  /** Interval (range) join: every (left, right) pair of the same entity
    * with the right timestamp inside `[left.ts − maxGapSeconds,
    * left.ts]` — the attribution shape ("clicks in the hour before each
    * purchase"), sensor alignment, and the general bounded-lookback
    * pairing the as-of join's latest-only rule cannot express.
    *
    * Columns come back prefixed (`l_` / `r_`, entity once, unprefixed)
    * so both sides' payloads survive. Plan: equi-join on entity with the
    * range predicate evaluated inside the join — one shuffle per side,
    * output bounded by true match multiplicity, never an entity-wide
    * cross product. The same function runs STREAM-STREAM: apply
    * `withWatermark` to both inputs first and Spark uses the range
    * bounds in the condition to expire join state.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      maxGapSeconds: Long,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn): DataFrame = {
    if (maxGapSeconds < 0)
      throw new FeatureValidationError(
        s"maxGapSeconds must be >= 0, got $maxGapSeconds")
    Validation.validateSpine(left, entityCol, tsCol)
    Validation.validateSpine(right, entityCol, tsCol)
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))
    val l = prefixed(left, "l_")
    val r = prefixed(right, "r_")
    val lTs = col(s"l_$tsCol")
    val rTs = col(s"r_$tsCol")
    val bound: Column = left.schema(tsCol).dataType match {
      case _: TimestampType | _: TimestampNTZType =>
        rTs >= lTs - expr(s"INTERVAL $maxGapSeconds SECOND")
      // DateType: compare at timestamp precision (midnight, UTC-pinned
      // session) — the numeric fallback would subtract DAYS, pairing
      // events maxGapSeconds DAYS apart (or failing analysis)
      case _: DateType =>
        rTs.cast(TimestampType) >=
          lTs.cast(TimestampType) - expr(s"INTERVAL $maxGapSeconds SECOND")
      case _ => rTs >= lTs - lit(maxGapSeconds)
    }
    l.join(
        r,
        col(s"l_$entityCol") === col(s"r_$entityCol") &&
          rTs <= lTs && bound)
      .withColumn(entityCol, col(s"l_$entityCol"))
      .drop(s"l_$entityCol", s"r_$entityCol")
  }

  /** Batch sessionization: split each entity's event stream into
    * sessions separated by gaps strictly greater than `gapSeconds`,
    * returning one row per session with its bounds and event count —
    * the batch twin of a streaming session window, and the
    * deterministic base for session-length / events-per-session
    * features.
    *
    * Plan: per-entity `lag` marks session starts (gap > threshold or
    * first event), a running sum over the same sort turns marks into
    * session ordinals, then a hash aggregation by (entity, ordinal)
    * collapses sessions — map-side partial combine keeps the second
    * shuffle at one row per session per map partition.
    *
    * All outputs are timestamps and counts — deterministic across
    * engines by construction.
    */
  def sessionize(
      events: DataFrame,
      gapSeconds: Long,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    if (gapSeconds < 1)
      throw new FeatureValidationError(s"gapSeconds must be >= 1, got $gapSeconds")
    Validation.validateSpine(events, entityCol, tsCol)
    val tsType = events.schema(tsCol).dataType
    val (ordOf, gapWidth) = ordAndWidth(tsType, gapSeconds, "sessionize")
    val order = (col("_us") +: tieBreakCols.map(col)).map(_.asc)
    val we = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    val marked = events
      .withColumn("_us", ordOf(col(tsCol)))
      .withColumn("_new",
        when(col("_us") - lag(col("_us"), 1).over(we) > gapWidth, 1)
          .when(lag(col("_us"), 1).over(we).isNull, 1)
          .otherwise(0))
      .withColumn("_sess",
        sum(col("_new")).over(we.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked
      .groupBy(col(entityCol), col("_sess").as("session_seq"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col(entityCol), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"))
  }

  /** Per-entity lag/delta features: each event row annotated with the
    * previous event's value and the difference — the standard
    * "change-since-last-observation" feature family (and, shifted to
    * timestamps, inter-arrival time in seconds).
    *
    * Plan: ONE entity-keyed shuffle serves every lag column (all lags
    * share the same window sort); the subtraction operates on the same
    * two doubles in both engines, so deltas are bit-deterministic.
    */
  def lagDelta(
      events: DataFrame,
      valueCol: String,
      entityCol: String = EntityIdColumn,
      tsCol: String = TimestampColumn,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    Validation.validateSpine(events, entityCol, tsCol)
    val order = (col(tsCol) +: tieBreakCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    events
      .withColumn("prev_value", lag(col(valueCol), 1).over(w))
      .withColumn("value_delta", col(valueCol) - col("prev_value"))
      .withColumn(
        "secs_since_prev",
        (unix_micros(col(tsCol).cast(TimestampType)) -
          unix_micros(lag(col(tsCol), 1).over(w).cast(TimestampType))) / 1000000L)
  }
}
