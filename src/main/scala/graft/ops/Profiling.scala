package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.FeatureValidationError

/** Data-quality and drift monitoring over feature tables — the
  * operational layer a production feature store runs beside training
  * (the reference stores features but publishes no monitoring; this is
  * the standard extension its users build first).
  *
  * Every metric here is engine-portable by construction: counts and
  * integer arithmetic end-to-end, with at most ONE scalar double
  * division at the end of a query — never a cross-row double
  * accumulation, whose order-dependence would break exact comparisons
  * between engines (and between runs at different parallelism).
  *
  * Scale notes: [[profile]] is one aggregation pass (count-distincts
  * expand the input once per profiled column — at petabyte scale swap
  * exact distincts for HLL sketches); [[driftHistogram]],
  * [[totalVariation]] and [[freshness]] shuffle only (bin, count) /
  * (entity, max-ts) pairs after map-side partial aggregation.
  */
object Profiling {

  /** Join/groupBy-key skew diagnostic: the top-`k` heaviest values per
    * key column with exact counts and integer per-mille share of the
    * table — the measurement that shows whether a key is hot enough to
    * need a salted or skew-routed plan BEFORE a 100 TB shuffle discovers
    * it the hard way. One
    * partial-aggregated count per column + a distributed top-k
    * (`orderBy.limit`, never a single-partition window over all keys);
    * values surface as strings so one output schema fits every column
    * type. Ties order (n desc, value asc); the share uses integer
    * division so it is engine-exact.
    */
  def keySkew(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    if (cols.isEmpty)
      throw new FeatureValidationError("keySkew needs at least one column")
    if (k < 1)
      throw new FeatureValidationError(s"keySkew needs k >= 1, got $k")
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new FeatureValidationError(
        s"keySkew columns not in table: ${missing.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val parts = cols.map { c =>
      // ties break on the stringified value with NULLS LAST pinned
      // explicitly: Spark's plain ASC sorts nulls first, DuckDB's last —
      // a null key in the top-k would rank differently otherwise
      val topk = df
        .groupBy(col(c).cast("string").as("value"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, asc_nulls_last("value"))
        .limit(k) // TakeOrdered: k-bounded per partition, then merged
      // the window ranks only the k surviving rows — not the key space
      topk
        .withColumn("col_name", lit(c))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, asc_nulls_last("value"))))
    }
    parts.reduce(_.unionByName(_))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("_n_rows"))))
      .select(
        col("col_name"),
        col("rank"),
        col("value"),
        col("n"),
        expr("n * 1000 DIV _n_rows").as("share_permille"))
  }

  /** Long-format per-column profile: one row per requested column with
    * row/non-null/distinct counts and numeric min/max (null min/max for
    * non-numeric columns). The profile is a single aggregation job.
    *
    * @param exactDistinct true (default) counts distincts exactly — the
    *   oracle-comparable mode, but each profiled column re-expands the
    *   input. false switches to HyperLogLog++ (`approx_count_distinct`,
    *   ~2% rsd): ONE pass total regardless of column count, constant
    *   memory — the petabyte-scale mode (not oracle-paired: the sketch
    *   estimate is engine-specific).
    */
  def profile(
      df: DataFrame,
      cols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    if (cols.isEmpty)
      throw new FeatureValidationError("profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new FeatureValidationError(
        s"profile columns not in table: ${missing.mkString(", ")}")
    // internal aliases are INDEX-based and labels are escaped: column
    // names are caller-controlled and may contain quotes, spaces, or
    // operator characters that would misparse inside selectExpr
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val numeric = df.schema(c).dataType.isInstanceOf[NumericType]
      def mm(f: Column => Column) =
        if (numeric) f(col(c)).cast(DoubleType) else lit(null).cast(DoubleType)
      val distinct =
        if (exactDistinct) count_distinct(col(c))
        else approx_count_distinct(col(c))
      Seq(
        count(lit(1)).as(s"_n_$i"),
        count(col(c)).as(s"_nn_$i"),
        distinct.as(s"_nd_$i"),
        mm(min).as(s"_min_$i"),
        mm(max).as(s"_max_$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.zipWithIndex
      .map { case (c, i) =>
        s"'${c.replace("\\", "\\\\").replace("'", "\\'")}', " +
          s"_n_$i, _nn_$i, _nd_$i, _min_$i, _max_$i"
      }
      .mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stacked) AS " +
        "(col_name, n_rows, n_nonnull, n_distinct, min_value, max_value)")
  }

  /** Two-period histogram of a numeric column: rows before `splitAt` go
    * to period A, the rest to B; values bin into `floor(value /
    * binWidth)` clamped to [0, numBins-1]. Returns (bin, cnt_a, cnt_b)
    * — the integer base both drift scores build on.
    *
    * Rows with a NULL value or NULL timestamp are excluded — without
    * the filter, `greatest(null, 0)` would silently fold every null
    * value into bin 0 and `otherwise` would route null timestamps to
    * period B. Track null RATES with [[profile]], not the histogram.
    */
  def driftHistogram(
      df: DataFrame,
      valueCol: String,
      tsCol: String,
      splitAt: Column,
      binWidth: Double,
      numBins: Int): DataFrame = {
    if (numBins < 1 || !(binWidth > 0))
      throw new FeatureValidationError(
        s"need numBins >= 1 and binWidth > 0, got $numBins / $binWidth")
    df.filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
      .select(
        least(greatest(floor(col(valueCol) / binWidth), lit(0L)),
          lit(numBins - 1L)).cast(LongType).as("bin"),
        when(col(tsCol) < splitAt, 1L).otherwise(0L).as("_a"),
        when(col(tsCol) < splitAt, 0L).otherwise(1L).as("_b"))
      .groupBy("bin")
      .agg(sum(col("_a")).as("cnt_a"), sum(col("_b")).as("cnt_b"))
  }

  /** Total-variation distance between the two periods of a
    * [[driftHistogram]]: TVD = ½ Σ_bins |p_bin − q_bin|.
    *
    * Computed exactly: Σ|cnt_a·total_b − cnt_b·total_a| is an integer
    * (`tvd_numerator`), and TVD = numerator / (2·total_a·total_b) is
    * one scalar division — bit-identical across engines. 64-bit bound:
    * cnt·total pairs must stay under 2^63 (fine to ~3·10^9 rows per
    * period; beyond that, widen to DECIMAL).
    *
    * An EMPTY period (total_a or total_b = 0) yields `tvd` NULL (0/0
    * under non-ANSI division) — deliberately not 0: a missing
    * comparison period is "undefined drift", and a NULL reaching a
    * threshold check is the alert a silent 0.0 would suppress.
    */
  def totalVariation(hist: DataFrame): DataFrame = {
    val totals = hist.agg(
      sum(col("cnt_a")).as("total_a"), sum(col("cnt_b")).as("total_b"))
    hist
      .crossJoin(broadcast(totals))
      .agg(
        sum(abs(col("cnt_a") * col("total_b") - col("cnt_b") * col("total_a")))
          .as("tvd_numerator"),
        max(col("total_a")).as("total_a"),
        max(col("total_b")).as("total_b"))
      .select(
        col("tvd_numerator"),
        col("total_a"),
        col("total_b"),
        (col("tvd_numerator") /
          (lit(2.0) * col("total_a") * col("total_b"))).as("tvd"))
  }

  /** Exact per-group percentiles of an integral column — p50/p90/p99
    * latency-style monitoring over integer-unit features (cents,
    * micros, counts).
    *
    * Cross-engine exactness: Spark's `percentile` and DuckDB's
    * `quantile_cont` both interpolate `lower + (upper − lower) · frac`
    * at rank `p · (n − 1)`; on integral inputs every operand is exact
    * in double and the interpolation is one scalar expression, so
    * results are bit-identical (verified empirically on the events
    * table, float noise digits included).
    *
    * Scale note: exact percentiles buffer each group's values — right
    * for bounded groups (per event type, per tenant). For unbounded
    * groups switch to `approx_percentile`, which sketches in constant
    * memory but is not oracle-comparable.
    */
  def percentiles(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      ps: Seq[(String, Double)]): DataFrame = {
    if (ps.isEmpty)
      throw new FeatureValidationError("percentiles needs at least one (name, p)")
    ps.find(p => p._2 < 0 || p._2 > 1).foreach(p =>
      throw new FeatureValidationError(
        s"percentile fraction must be in [0, 1], got ${p._2} for '${p._1}'"))
    if (!df.schema(valueCol).dataType.isInstanceOf[NumericType])
      throw new FeatureValidationError(
        s"percentiles needs a numeric $valueCol, got ${df.schema(valueCol).dataType}")
    val aggs = ps.map { case (n, p) => percentile(col(valueCol), lit(p)).as(n) } :+
      count(lit(1)).as("n_rows")
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Feature freshness as of `asOf`: for every entity with at least one
    * row at or before the cutoff, the age in whole days of its latest
    * row, histogrammed as (days_stale, n_entities) — the "how stale is
    * what serving would read" monitor, PIT-consistent with the store's
    * snapshot semantics (inclusive cutoff).
    */
  def freshness(
      df: DataFrame,
      asOf: Column,
      entityCol: String = "entity_id",
      tsCol: String = "timestamp"): DataFrame = {
    df.filter(col(tsCol) <= asOf)
      .groupBy(col(entityCol))
      .agg(max(col(tsCol)).as("_latest"))
      // exact long micros + integer `div`: floor(double-division) could
      // misround a quotient landing within an ulp of an integer
      .withColumn("_age_us",
        unix_micros(asOf.cast(TimestampType)) -
          unix_micros(col("_latest").cast(TimestampType)))
      .select(expr("_age_us div 86400000000").as("days_stale"))
      .groupBy("days_stale")
      .agg(count(lit(1)).as("n_entities"))
  }

  /** Tukey-fence outlier monitor: per group, how many values fall
    * outside [q1 − 1.5·IQR, q3 + 1.5·IQR], with the bounds. Quartiles
    * come from the exact percentile (bit-identical to the oracle's
    * quantile_cont on integral inputs) evaluated as a window over the
    * group — one shuffle serves both the quartiles and the counting
    * pass, no self-join.
    */
  def valueOutliers(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
    val q1 = percentile(col(valueCol), lit(0.25)).over(w)
    val q3 = percentile(col(valueCol), lit(0.75)).over(w)
    df.select(col(groupCol), col(valueCol).as("_v"), q1.as("_q1"), q3.as("_q3"))
      .withColumn("_lo", col("_q1") - lit(1.5) * (col("_q3") - col("_q1")))
      .withColumn("_hi", col("_q3") + lit(1.5) * (col("_q3") - col("_q1")))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("_v") < col("_lo") || col("_v") > col("_hi"), 1))
          .as("n_outliers"),
        first(col("_lo")).as("lo_bound"),
        first(col("_hi")).as("hi_bound"))
  }

  /** Mergeable per-group statistics — the incremental-maintenance
    * primitive: [[partialStats]] summarizes any slice of the data into
    * (n, sum, min, max) per group, and [[mergeStats]] combines two such
    * summaries into the summary of the union WITHOUT rescanning either
    * slice. `merge(partial(A), partial(B)) == partial(A ∪ B)` exactly
    * (integer arithmetic — asserted against the oracle's direct full
    * aggregation), which is what lets a 100 TB pipeline aggregate each
    * new day/batch alone and fold it into yesterday's state, and is the
    * same algebra Spark's own partial aggregation uses inside one job.
    */
  def partialStats(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Merge two [[partialStats]] summaries (full outer by group: a group
    * present in only one side passes through unchanged).
    */
  def mergeStats(a: DataFrame, b: DataFrame, groupCol: String): DataFrame = {
    val bb = b.columns.foldLeft(b)((d, c) =>
      if (c == groupCol) d else d.withColumnRenamed(c, s"_b_$c"))
    a.join(bb, Seq(groupCol), "full_outer")
      .select(
        col(groupCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_b_n"), lit(0L))).as("n"),
        (coalesce(col("sum_v"), lit(0L)) + coalesce(col("_b_sum_v"), lit(0L)))
          .as("sum_v"),
        least(col("min_v"), col("_b_min_v")).as("min_v"),
        greatest(col("max_v"), col("_b_max_v")).as("max_v"))
  }

  /** Pairwise Pearson correlation matrix over pre-integerized feature
    * columns, in ONE aggregation pass over the data in the common case:
    * all p sums, p squares and p·(p−1)/2 cross-products accumulate as
    * EXACT integers, so the result is independent of aggregation order;
    * the only floating-point steps are the final string→double
    * conversions, two sqrts and one division per pair — an identical
    * expression tree in both engines (see [[trendCorrelation]] for the
    * widening/rounding rationale). Pairs without variance on either
    * axis are dropped by an exact integer predicate.
    *
    * Width handling is OPTIMISTIC: the single aggregation accumulates
    * every product in SPLIT long accumulators (each factor split at
    * 2^16 — a = x >> 16 arithmetic, b = x & 0xFFFF, exact for negatives
    * since x = a·2^16 + b under floor division; three long sums Σaa',
    * Σ(ab'+a'b), Σbb' reassemble the exact Σxy) — pure long arithmetic
    * per row, ~10× cheaper than BigDecimal — and the SAME row also
    * carries per-column max(|x|) and the count. Those range numbers
    * prove, post hoc, whether any accumulator could have exceeded 2^62
    * (the same bounds the former pre-scan checked up front, so passing
    * them means every long sum is exact). The arithmetic is PLAIN long
    * ops: under the default Spark 4 session (spark.sql.ansi.enabled =
    * true) a genuinely overflowing run THROWS SparkArithmeticException
    * mid-aggregate — the optimistic actions are wrapped in a catch that
    * routes exactly those runs to the decimal recompute (driver-side,
    * zero per-row cost); under a non-ANSI session the sums wrap instead,
    * and the post-hoc width gate rejects the run from the measured
    * min/max ranges (which wrap never corrupts — min/max do no
    * arithmetic), so a wrapped sum is never read either way. The former
    * `try_*` forms nulled on overflow instead — a second, redundant
    * per-row guard that measured 19% slower per row (round-14 CorrProbe,
    * 0.575 → 0.464 s on the 600k-row tier-1 pass). If the gate
    * holds — every realistic feature table; it fails only past ~2^31
    * integer units or ~2^62/65535² rows — the aggregate longs are
    * combined EXACTLY in BigInt driver-side (a bounded handful, the
    * same shape as the skew-classification collects), with the double
    * conversion through the decimal STRING — the identical expression
    * tree the all-decimal formulation and the oracle compute. If it
    * fails, the optimistic pass is discarded and ONE decimal(38,0) pass
    * recomputes everything with unconditional 128-bit exactness — two
    * scans only in the astronomically-wide case, where the retired
    * pre-scan design also took two.
    *
    * Pairwise completeness comes from NULL-PATTERN GROUPING rather than
    * per-pair conditioned aggregates: rows group by the bitmask of
    * which profiled columns are non-null, so within a pattern every sum
    * is unconditioned (a set bit cannot see a null; an unset bit's
    * products are null and SQL sums skip them), squares are computed
    * once per column instead of once per pair, and the exact
    * pair-(i, j)-complete statistic is the BigInt total over the
    * patterns with bits i and j set. That keeps the aggregate list at
    * O(p²) simple expressions instead of O(p²) CASE-wrapped ones — the
    * per-pair-conditioned formulation measured 8× slower at p = 4
    * (4.1 s vs 0.5 s on 600k rows; the 77-expression aggregate's
    * per-row CASE evaluation dominated). Collected rows are bounded by
    * the null patterns PRESENT (≤ 2^p; p is capped at 16).
    *
    * The optimistic pass itself is tiered: the FIRST scan is a flat
    * GLOBAL aggregate (no grouping key — measured ~30% cheaper per row
    * than the grouped form's per-row hash-map probe) that also carries
    * per-column non-null counts. When no profiled column has a null —
    * the overwhelmingly common case for pre-integerized feature
    * columns — the global statistics ARE the (single, full-mask)
    * pattern, pairwise-complete by vacuity, and no second scan runs.
    * Only a table with nulls in profiled columns pays the
    * pattern-grouped second scan (same two-scan acceptance as the
    * decimal fallback).
    *
    * Output: one row per unordered pair (col_a < col_b by argument
    * order) with n and corr_r, materialized driver-side (the aggregate
    * output is driver-bounded either way).
    *
    * Scale shape: ONE partial-aggregated shuffle carrying ≤ 2^p tiny
    * rows — the input is scanned once, never materialized. The gate
    * re-derives from ranges measured in the same pass, not from a tuned
    * constant.
    */
  def correlationMatrix(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    if (valueCols.size < 2)
      throw new FeatureValidationError(
        s"correlationMatrix needs >= 2 columns, got $valueCols")
    if (valueCols.size > 16)
      throw new FeatureValidationError(
        s"correlationMatrix supports at most 16 columns (${valueCols.size} " +
          "requested): the null-pattern pass collects up to 2^p rows — " +
          "split the matrix into column blocks")
    val session = df.sparkSession
    val idx = valueCols.indices
    val upairs = for { i <- idx; j <- idx if i < j } yield (i, j)
    // products include the squares as the (i, i) diagonal — computed
    // once per column, shared by every pair using that column
    val spairs = for { i <- idx; j <- idx if i <= j } yield (i, j)
    // contract: pre-integerized feature columns (integer units in long
    // range — cents, counts); the long cast is a no-op for integral
    // values and pins the arithmetic type the width gate reasons about.
    // Deliberately NOT fanned out on narrow scans: the round-14/15
    // fan-out family does not pay here — the ~40 long aggregates cost
    // less per row than shuffling the row, so both the hash-keyed and
    // the round-robin repartition LOSE to the flat single-split
    // aggregate (CorrFanAB, 600k rows sf0.1: flat 0.49 s vs hash
    // fan-out 0.65 s vs round-robin 0.98 s — the serial split read and
    // shuffle write replace, not shrink, the serial aggregate).
    val prepared = df.select(valueCols.map(c => col(c).cast("long").as(c)): _*)
    def hiOf(c: Column) = shiftright(c, 16)
    def loOf(c: Column) = c.bitwiseAND(lit(0xFFFFL))
    // PAIRWISE-COMPLETE statistics: every sufficient statistic of pair
    // (i, j) — n, Σx, Σy, Σxy, Σx², Σy² — aggregates over exactly the
    // rows where BOTH sides are non-null. A shared global n with
    // null-skipping sums would count rows the sums never saw,
    // fabricating variance for constant columns and letting |r| exceed
    // 1 on mixed-null input; a pair with NO complete row drops.
    def bothNN(i: Int, j: Int): Column =
      col(valueCols(i)).isNotNull && col(valueCols(j)).isNotNull
    def pcond(i: Int, j: Int, c: Column): Column = when(bothNN(i, j), c)

    // the optimistic aggregate set: per-column range (the width gate),
    // per-column sum, and the upper-triangle product set in split-long
    // form — all UNCONDITIONED (see Scaladoc)
    val optimisticAggs: Seq[Column] =
      count(lit(1)).as("_n") +:
        (idx.flatMap(i => Seq(
          min(col(valueCols(i))).as(s"_lo_$i"),
          max(col(valueCols(i))).as(s"_hi_$i"),
          sum(col(valueCols(i))).as(s"_s_$i"))) ++
          spairs.flatMap { case (i, j) =>
            val x = col(valueCols(i))
            val y = col(valueCols(j))
            Seq(
              sum(hiOf(x) * hiOf(y)).as(s"_p_${i}_${j}_hh"),
              sum(hiOf(x) * loOf(y) + hiOf(y) * loOf(x))
                .as(s"_p_${i}_${j}_hl"),
              sum(loOf(x) * loOf(y)).as(s"_p_${i}_${j}_ll"))
          })

    val outSchema = StructType(Seq(
      StructField("col_a", StringType, nullable = false),
      StructField("col_b", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("corr_r", DoubleType, nullable = false)))
    // exact per-pair sufficient statistics, either from the optimistic
    // pattern rows or — gate failed / ANSI overflow — from ONE
    // unconditional decimal(38,0) recompute. A stat is None when its
    // aggregate saw NO complete row for the pair — those pairs drop
    // below (SQL sum-over-nothing).
    final case class PairStats(
        n: Long, sa: Option[BigInt], sb: Option[BigInt],
        pxy: Option[BigInt], pxx: Option[BigInt], pyy: Option[BigInt])
    // an ANSI overflow thrown inside a task surfaces from the driver
    // action wrapped (SparkException → ... → SparkArithmeticException)
    // — walk the cause chain for the aggregate's own ARITHMETIC_OVERFLOW
    // condition. Any other arithmetic error (a CAST_OVERFLOW on the
    // long cast, a division by zero) fails the recompute identically,
    // so it propagates from here instead of paying a second scan.
    def isOverflow(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
        case st: org.apache.spark.SparkThrowable =>
          st.getCondition == "ARITHMETIC_OVERFLOW"
        case _ => false
      }

    // tier 1: flat global aggregate + per-column non-null counts
    val fullMask = (1 << valueCols.size) - 1
    val globalAggs = optimisticAggs ++
      idx.map(i => count(col(valueCols(i))).as(s"_nn_$i"))
    val optimistic: Option[Map[(Int, Int), PairStats]] = try {
    val gRow = prepared
      .agg(globalAggs.head, globalAggs.tail: _*)
      .select(lit(fullMask).as("_np"), col("*"))
      .head()
    val n = gRow.getLong(gRow.fieldIndex("_n"))
    if (n == 0L)
      return session.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val nullFree =
      idx.forall(i => gRow.getLong(gRow.fieldIndex(s"_nn_$i")) == n)

    // tier 2 (only with nulls present): re-scan grouped by null pattern
    val patterns: Array[org.apache.spark.sql.Row] =
      if (nullFree) Array(gRow)
      else {
        val maskCol = idx
          .map(i =>
            when(col(valueCols(i)).isNotNull, lit(1 << i)).otherwise(lit(0)))
          .reduce(_ + _)
        prepared
          .groupBy(maskCol.as("_np"))
          .agg(optimisticAggs.head, optimisticAggs.tail: _*)
          .collect()
      }

    // post-hoc width gate from EXACT measured ranges: every long
    // accumulator provably stayed under 2^62 → the optimistic sums are
    // exact. Under the default ANSI session an overflowing run never
    // reaches this point (the catch below routes it to the decimal
    // recompute); under a non-ANSI session the sums wrap silently, and
    // this gate is what rejects them. Global n and per-column max|x|
    // upper-bound every per-pattern accumulator (a pattern's rows are a
    // subset of the table's). Magnitude comes from per-column MIN and
    // MAX taken |·| in BigInt driver-side — never max(abs(x)):
    // abs(Long.MinValue) wraps negative under non-ANSI arithmetic, and
    // an understated range would let the gate accept a wrapped run.
    val maxAbs: IndexedSeq[BigInt] = idx.map { i =>
      patterns.iterator.flatMap { r =>
        Seq(s"_lo_$i", s"_hi_$i").map { name =>
          val f = r.fieldIndex(name)
          if (r.isNullAt(f)) BigInt(0) else BigInt(r.getLong(f)).abs
        }
      }.foldLeft(BigInt(0))(_ max _)
    }.toIndexedSeq
    val lim = BigInt(1) << 62
    val nn = BigInt(n)
    val lo = BigInt(65535)
    def sumFits(i: Int): Boolean = maxAbs(i) * nn < lim
    def splitFits(i: Int, j: Int): Boolean = {
      val hiI = (maxAbs(i) >> 16) + 1
      val hiJ = (maxAbs(j) >> 16) + 1
      maxAbs(i) < (BigInt(1) << 31) && maxAbs(j) < (BigInt(1) << 31) &&
        nn * hiI * hiJ < lim &&
        nn * (hiI * lo + hiJ * lo) < lim &&
        nn * lo * lo < lim
    }
    val gateHolds = idx.forall(sumFits) &&
      upairs.forall { case (i, j) =>
        splitFits(i, j) && splitFits(i, i) && splitFits(j, j)
      }

    // the optimistic extraction yields None when the gate fails OR any
    // required aggregate nulled anyway (belt over the gate's braces: in
    // a pattern with bits i and j set those inputs are non-null by
    // construction, so a null sum should be impossible — but it must
    // route to the exact recompute, never silently drop a pair)
      if (!gateHolds) None
      else {
        // pair-(i, j)-complete = the patterns with bits i AND j set;
        // within them every needed aggregate is exact (gate) and
        // non-null (set bits see no nulls), so plain BigInt addition
        // of the pattern subtotals IS the pairwise-complete statistic
        def pairPatterns(i: Int, j: Int) = {
          val need = (1 << i) | (1 << j)
          patterns.filter(r => (r.getInt(r.fieldIndex("_np")) & need) == need)
        }
        def sumOf(rs: Array[org.apache.spark.sql.Row], name: String): Option[BigInt] =
          rs.foldLeft(Option(BigInt(0))) { (acc, r) =>
            val f = r.fieldIndex(name)
            if (r.isNullAt(f)) None
            else acc.map(_ + BigInt(r.getLong(f)))
          }
        def prodOf(rs: Array[org.apache.spark.sql.Row], i: Int, j: Int): Option[BigInt] = for {
          hh <- sumOf(rs, s"_p_${i}_${j}_hh")
          hl <- sumOf(rs, s"_p_${i}_${j}_hl")
          ll <- sumOf(rs, s"_p_${i}_${j}_ll")
        } yield (hh << 32) + (hl << 16) + ll
        val m = upairs.map { case (i, j) =>
          val rs = pairPatterns(i, j)
          val nij = rs.iterator
            .map(r => r.getLong(r.fieldIndex("_n"))).foldLeft(0L)(_ + _)
          (i, j) -> (if (nij == 0L)
            PairStats(0L, None, None, None, None, None)
          else
            PairStats(
              nij,
              sumOf(rs, s"_s_$i"), sumOf(rs, s"_s_$j"),
              prodOf(rs, i, j), prodOf(rs, i, i), prodOf(rs, j, j)))
        }.toMap
        val consistent = m.values.forall(st =>
          st.n == 0L || (st.sa.isDefined && st.sb.isDefined &&
            st.pxy.isDefined && st.pxx.isDefined && st.pyy.isDefined))
        if (consistent) Some(m) else None
      }
    } catch {
      // Spark 4's default ANSI session: plain long sum/* on a genuinely
      // overflowing run throws mid-aggregate instead of wrapping —
      // precisely the runs the width gate exists to reject. Route them
      // to the exact decimal(38,0) recompute (driver-side catch, zero
      // per-row cost on the non-overflowing fast path).
      case e: Exception if isOverflow(e) => None
    }
    val stats: Map[(Int, Int), PairStats] =
      optimistic.getOrElse {
        val dec = "decimal(38,0)"
        val decAggs: Seq[Column] = upairs.flatMap { case (i, j) =>
          val x = col(valueCols(i)).cast(dec)
          val y = col(valueCols(j)).cast(dec)
          Seq(
            count(pcond(i, j, lit(1))).as(s"_n_${i}_$j"),
            sum(pcond(i, j, x)).as(s"_s_${i}_${j}_a"),
            sum(pcond(i, j, y)).as(s"_s_${i}_${j}_b"),
            sum(pcond(i, j, x * y)).as(s"_p_${i}_${j}_xy"),
            sum(pcond(i, j, x * x)).as(s"_p_${i}_${j}_xx"),
            sum(pcond(i, j, y * y)).as(s"_p_${i}_${j}_yy"))
        }
        val r2 = prepared.agg(decAggs.head, decAggs.tail: _*).head()
        def d(name: String): Option[BigInt] = {
          val f = r2.fieldIndex(name)
          if (r2.isNullAt(f)) None
          else Some(BigInt(r2.getDecimal(f).toBigIntegerExact))
        }
        upairs.map { case (i, j) =>
          (i, j) -> PairStats(
            r2.getLong(r2.fieldIndex(s"_n_${i}_$j")),
            d(s"_s_${i}_${j}_a"), d(s"_s_${i}_${j}_b"),
            d(s"_p_${i}_${j}_xy"), d(s"_p_${i}_${j}_xx"), d(s"_p_${i}_${j}_yy"))
        }.toMap
      }

    // exact BigInt combination + the oracle's identical float tail:
    // double(num via decimal string) / (sqrt(double d1) * sqrt(double d2))
    def toD(v: BigInt): Double = java.lang.Double.parseDouble(v.toString)
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for { (i, j) <- upairs } {
      val st = stats((i, j))
      val np = BigInt(st.n)
      for {
        si <- st.sa; sj <- st.sb
        pij <- st.pxy; pii <- st.pxx; pjj <- st.pyy
      } {
        val num = np * pij - si * sj
        val d1 = np * pii - si * si
        val d2 = np * pjj - sj * sj
        if (d1 > 0 && d2 > 0)
          out.add(org.apache.spark.sql.Row(
            valueCols(i), valueCols(j), st.n,
            toD(num) / (math.sqrt(toD(d1)) * math.sqrt(toD(d2)))))
      }
    }
    session.createDataFrame(out, outSchema)
  }

  /** Per-group trend monitor: Pearson correlation between a feature's
    * integer units and event time ("is this feature drifting over
    * time?"). All six sufficient statistics accumulate as EXACT 128-bit
    * integers (decimal(38,0) here, HUGEINT in the oracle) — a plain
    * double `corr()` is order-dependent across engines and partition
    * counts, this is not: the only floating-point steps are the final
    * casts and one division, an identical expression tree everywhere.
    * Groups without variance on either axis are dropped (exact integer
    * predicate, so the cut is deterministic too).
    *
    * Scale shape: one partial-aggregated shuffle, six numbers per group.
    */
  def trendCorrelation(
      df: DataFrame,
      groupCol: String,
      tsCol: String = "timestamp",
      valueCol: String = "value"): DataFrame = {
    val dec = "decimal(38,0)"
    val x = unix_timestamp(col(tsCol))
    val y = round(col(valueCol) * 100).cast("long")
    // widen BEFORE multiplying: a 64-bit x*x / y*y product can already
    // overflow per row (big cents values, far-future epochs) — the
    // oracle widens to HUGEINT the same way
    val a = df
      .select(col(groupCol), x.cast(dec).as("_x"), y.cast(dec).as("_y"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"),
        sum(col("_x") * col("_y")).as("_sxy"))
    val nD = col("n").cast(dec)
    val num = nD * col("_sxy") - col("_sx") * col("_sy")
    val d1 = nD * col("_sxx") - col("_sx") * col("_sx")
    val d2 = nD * col("_syy") - col("_sy") * col("_sy")
    // 128-bit integer → double must go through the exact decimal STRING:
    // Spark's direct decimal→double cast is not correctly rounded above
    // 2^53 (one-ulp drift vs DuckDB's hugeint→double), but both engines
    // parse a digit string correctly rounded.
    def toD(c: Column): Column = c.cast("string").cast("double")
    a.filter(d1 > 0 && d2 > 0)
      .select(
        col(groupCol),
        col("n"),
        (toD(num) / (sqrt(toD(d1)) * sqrt(toD(d2)))).as("trend_r"))
  }
}
