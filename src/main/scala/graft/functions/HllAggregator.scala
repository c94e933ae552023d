package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed [[Aggregator]] building a HyperLogLog register array in ONE
  * aggregation pass — one of the engine's extension points (scalar
  * [[FloatVectorDot]] `Expression`, the SQL DML analyzer rule, and this
  * custom aggregation state).
  *
  * Input is the 60-bit portable hash ([[Hashing.md5Long60]]); the buffer
  * is the m-byte register array itself, so map-side partial aggregation
  * ships one fixed-size array per group per partition — the two-stage
  * `groupBy(bucket).max` formulation in `graft.ops.Sketches.hllDistinct`
  * ships up to m rows instead and needs a second exchange to sum them.
  * Output is (register sum scaled by 2^scale, empty-bucket count) — the
  * same pair the column formulation derives, bit-identical, so both
  * paths face the same oracle.
  */
case class HllRegisterSummary(hll_sum_scaled: Long, n_empty_buckets: Long)

class HllAggregator(p: Int)
    extends Aggregator[Long, Array[Byte], HllRegisterSummary] {
  require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")

  private val m = 1 << p
  private val remBits = 60 - p
  private val scale = remBits + 1
  private val remMask = (1L << remBits) - 1

  override def zero: Array[Byte] = new Array[Byte](m)

  override def reduce(regs: Array[Byte], hash: Long): Array[Byte] = {
    val bucket = (hash >>> remBits).toInt
    val rem = hash & remMask
    // rank = leading zeros within remBits, plus one (rem == 0 → scale)
    val rank =
      if (rem == 0L) scale
      else scale - (64 - java.lang.Long.numberOfLeadingZeros(rem))
    if (rank > regs(bucket)) regs(bucket) = rank.toByte
    regs
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (b(i) > a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def finish(regs: Array[Byte]): HllRegisterSummary = {
    var sum = 0L
    var empty = 0L
    var i = 0
    while (i < m) {
      sum += 1L << (scale - regs(i))
      if (regs(i) == 0) empty += 1
      i += 1
    }
    HllRegisterSummary(sum, empty)
  }

  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[HllRegisterSummary] =
    Encoders.product[HllRegisterSummary]
}
