package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.util.hashing.MurmurHash3

/** Order-independent row-multiset hashing: results and oracles are
  * matched by (hash, count) over the named columns, so column order and
  * row order never matter but every value does.
  */
object RowHash {
  def value(v: Any): Long = v match {
    case null => 0x5bd1e9955bd1e995L
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case b: Boolean => if (b) 1L else 2L
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => value(f.toDouble)
    case s: String => (MurmurHash3.stringHash(s).toLong << 32) ^ s.length
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case r: Row => row(r, r.schema.fieldNames.toSeq)
    case xs: scala.collection.Seq[_] => xs.foldLeft(xs.size.toLong)((h, x) => Rng.mix(h * 31 + value(x)))
    case other => other.hashCode.toLong
  }

  /** Hash of `cols` of `r`; a row without a schema holds exactly `cols`, in order. */
  def row(r: Row, cols: Seq[String]): Long =
    cols.indices.foldLeft(cols.size.toLong) { (h, i) =>
      Rng.mix(h * 31 + value(r.get(if (r.schema == null) i else r.fieldIndex(cols(i)))))
    }

  /** (wrapping sum of mixed row hashes, row count). */
  def multiset(rows: Iterable[Row], cols: Seq[String]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((h, n), r) => (h + Rng.mix(row(r, cols)), n + 1) }
}

/** Reference answers computed with plain Spark SQL window functions over
  * the generated inputs (never over the store's files), in formulations
  * independent of the program's own plans. They run after the timed loop.
  */
object Oracle {
  private val views = new java.util.concurrent.atomic.AtomicLong

  /** Registers `df` as a fresh temp view and returns its name. */
  def view(df: DataFrame): String = {
    val name = s"oracle_v${views.incrementAndGet()}"
    df.createOrReplaceTempView(name)
    name
  }

  /** Per probe row (call_id, sid, probe, entity_id, timestamp) the number
    * `k` of feature rows of its entity at or before its timestamp, by
    * row_number arithmetic over the union: a probe's position among all
    * rows minus its position among probes.
    */
  def counts(spark: SparkSession, probes: String, feat: String): DataFrame =
    spark.sql(s"""
      SELECT call_id, sid, probe, entity_id, rn_all - rn_side AS k FROM (
        SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY timestamp, side, call_id, sid, probe) AS rn_all,
                  row_number() OVER (PARTITION BY entity_id, side ORDER BY timestamp, call_id, sid, probe) AS rn_side
        FROM (SELECT entity_id, timestamp, 0 AS side, CAST(NULL AS BIGINT) AS call_id,
                     CAST(NULL AS BIGINT) AS sid, 0 AS probe FROM $feat
              UNION ALL
              SELECT entity_id, timestamp, 1, call_id, sid, probe FROM $probes))
      WHERE side = 1""")

  /** Feature rows with their 1-based rank `fr` in timestamp order per
    * entity and the running sum `cs` of `sumCol` (when given).
    */
  def ranked(spark: SparkSession, feat: String, featCols: Seq[String], sumCol: Option[String]): DataFrame = {
    val cs = sumCol.fold("")(c =>
      s", sum($c) OVER (PARTITION BY entity_id ORDER BY timestamp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs")
    spark.sql(s"""
      SELECT ${featCols.map(c => s"`$c`").mkString(", ")},
             row_number() OVER (PARTITION BY entity_id ORDER BY timestamp) AS fr$cs
      FROM $feat""")
  }

  /** Probes at each spine row's timestamp (probe 0) and, for windows,
    * `windowSeconds` earlier (probe 1).
    */
  def probes(spark: SparkSession, spine: String, windowSeconds: Option[Long]): String =
    view(spark.sql((s"SELECT call_id, sid, 0 AS probe, entity_id, timestamp FROM $spine" +:
      windowSeconds.toSeq.map(w => s"""SELECT call_id, sid, 1 AS probe, entity_id,
        timestamp - make_dt_interval(0, 0, 0, $w) AS timestamp FROM $spine""")).mkString(" UNION ALL ")))

  /** getTrainingSet: for each spine row, the latest feature row at or
    * before its timestamp; spine rows without one are dropped. Output:
    * call_id plus the feature row's columns. `k` and `ranked` are views
    * of [[counts]] and [[ranked]].
    */
  def asOfInner(spark: SparkSession, k: String, ranked: String, featCols: Seq[String]): DataFrame =
    spark.sql(s"""SELECT p.call_id, ${featCols.map(c => s"f.`$c`").mkString(", ")}
      FROM $k p JOIN $ranked f ON p.probe = 0 AND p.entity_id = f.entity_id AND f.fr = p.k""")

  /** One getFeatureView link: every row of `left` (call_id, sid,
    * entity_id, timestamp, ...) gains the latest feature row at or before
    * its timestamp, columns prefixed `prefix`, null when none exists.
    */
  def asOfLeft(spark: SparkSession, left: DataFrame, k: String, ranked: String,
      featCols: Seq[String], prefix: String): DataFrame = {
    val lv = view(left)
    val out = featCols.filterNot(_ == "entity_id").map(c => s"f.`$c` AS `$prefix$c`")
    spark.sql(s"""SELECT l.*, ${out.mkString(", ")} FROM $lv l
      JOIN $k p ON p.probe = 0 AND l.call_id = p.call_id AND l.sid = p.sid
      LEFT JOIN $ranked f ON p.entity_id = f.entity_id AND f.fr = p.k""")
  }

  /** getWindowFeatures with (rows, sum) over (t - window, t]: both are
    * differences of prefix counts / prefix sums at t (probe 0) and at
    * t - window (probe 1). `sum` is null when the window holds no row.
    */
  def windowRowsSum(spark: SparkSession, spine: String, k: String, ranked: String,
      rowsOut: String, sumOut: String): DataFrame =
    spark.sql(s"""
      SELECT s.call_id, s.entity_id, s.timestamp, hi.k - lo.k AS `$rowsOut`,
             CASE WHEN hi.k = lo.k THEN NULL ELSE coalesce(fh.cs, 0) - coalesce(fl.cs, 0) END AS `$sumOut`
      FROM $spine s
      JOIN $k hi ON hi.call_id = s.call_id AND hi.sid = s.sid AND hi.probe = 0
      JOIN $k lo ON lo.call_id = s.call_id AND lo.sid = s.sid AND lo.probe = 1
      LEFT JOIN $ranked fh ON fh.entity_id = s.entity_id AND fh.fr = hi.k
      LEFT JOIN $ranked fl ON fl.entity_id = s.entity_id AND fl.fr = lo.k""")
}
