package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SplitMix64: a tiny, fully specified PRNG, so one seed yields the same
  * stream on every JVM. Every generated input derives from
  * `Rng.stream(seed, tag, index)`; distinct tags are disjoint streams
  * (the warm-up stream never overlaps the timed one).
  */
final class Rng(private var state: Long) {
  def nextLong(): Long = { state += Rng.Golden; Rng.mix(state) }
  def nextDouble(): Double = (nextLong() >>> 11) * Rng.Unit53
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  /** Zipf(1) rank in [0, n): log-uniform, so P(r) ~ 1 / (r + 1). */
  def zipf(n: Int): Int = Gen.zipfRank(nextDouble(), n)
}

object Rng {
  val Golden = 0x9e3779b97f4a7c15L
  val Unit53 = 1.0 / (1L << 53)
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def stream(seed: Long, tag: String, index: Long = 0L): Rng =
    new Rng(mix(mix(seed * Golden + tag.hashCode) + index))
}

/** Generated inputs shared by the workloads. Large tables are produced
  * inside Spark from `range` ids hashed with the seed (identical for any
  * partitioning); small inputs come from [[Rng]] on the Spark driver.
  */
object Gen {
  /** 2024-01-01T00:00:00Z: every generated timestamp is an offset from it. */
  val T0: Long = 1704067200L

  def zipfRank(u: Double, n: Int): Int =
    math.min(n - 1, math.max(0, math.floor(math.exp(u * math.log(n + 1.0))).toInt - 1))

  /** Uniform [0, 1) column from (seed, tag, id). */
  def uniform(seed: Long, tag: String, id: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(tag), id), 11).cast("double") * lit(Rng.Unit53)

  def zipfCol(seed: Long, tag: String, id: Column, n: Int): Column =
    least(lit(n - 1L), greatest(lit(0L),
      floor(exp(uniform(seed, tag, id) * lit(math.log(n + 1.0)))).cast("long") - 1L))

  def boundedCol(seed: Long, tag: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(n))

  /** A feature table of `rows` rows over `entities` zipf-skewed entities.
    * Row i has timestamp T0 + i * stepMillis, so timestamps are unique per
    * table and no (entity, timestamp) tie exists for a tie-break to decide.
    */
  def featureTable(
      spark: SparkSession, seed: Long, tag: String, rows: Long, entities: Int,
      stepMillis: Long, values: Seq[(String, Long)], parts: Int,
      firstRow: Long = 0L): DataFrame = {
    val id = col("id")
    val cols =
      Seq(zipfCol(seed, s"$tag.e", id, entities).as("entity_id"),
        timestamp_millis(lit(T0 * 1000L) + id * lit(stepMillis)).as("timestamp")) ++
        values.map { case (c, bound) => boundedCol(seed, s"$tag.$c", id, bound).as(c) }
    spark.range(firstRow, firstRow + rows, 1, parts).select(cols: _*)
  }

  /** Order-independent fingerprint of a frame: sums of the two 32-bit
    * halves of a 64-bit hash of every row (exact, no overflow), plus the
    * row count. Equal seeds give equal fingerprints; any changed byte of
    * any row changes it.
    */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)),
      count(lit(1))).head()
    f"${r.getLong(0)}%x:${r.getLong(1)}%x:${r.getLong(2)}"
  }

  def combine(parts: Seq[String]): String =
    f"${parts.foldLeft(17L)((h, p) => Rng.mix(h * 31 + p.hashCode))}%016x"
}
