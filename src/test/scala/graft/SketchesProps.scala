package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.functions.Hashing
import graft.ops.{Dedup, Similarity, Sketches, TextAnalysis}

/** Model-based properties for the round-2 kernels: each distributed
  * plan must equal a straightforward sequential in-memory model EXACTLY
  * — these pin the ALGORITHMS (pigeonhole banding, bounded top-k
  * selection, register arithmetic, window slicing) against reference
  * implementations simple enough to be obviously correct.
  */
object SketchesProps extends Properties("Sketches") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxSize(40)

  private lazy val spark = SparkTestBase.session

  private def md5Long32Jvm(s: String): Long = {
    val digest = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      digest.map(b => f"$b%02x").mkString.substring(0, 8), 16)
  }

  private val genDocs: Gen[List[(Long, List[String])]] = for {
    n <- Gen.choose(1, 12)
    docs <- Gen.listOfN(
      n,
      Gen.choose(1, 18).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "dd", "e1"))))
  } yield docs.zipWithIndex.map { case (toks, i) => (i.toLong, toks) }

  private def toDF(docs: List[(Long, List[String])]): DataFrame = {
    val s = spark
    import s.implicits._
    docs.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def simhashModel(toks: List[String]): Long =
    (0 until 32).map { i =>
      val sgn = toks.map(t => ((md5Long32Jvm(t) >> i) & 1L) * 2 - 1).sum
      if (sgn > 0) 1L << i else 0L
    }.sum

  property("simhashPairs (pigeonhole) equals all-pairs model") = forAllNoShrink(
    genDocs, Gen.choose(0, 6)) { (docs, maxHamming) =>
    val got = Dedup.simhashPairs(toDF(docs), maxHamming)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val sigs = docs.map { case (id, toks) => id -> simhashModel(toks) }
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= maxHamming
    } yield (ia, ib, h)).toSet
    got == want
  }

  property("hllDistinct registers equal the sequential model") = forAllNoShrink(genDocs) { docs =>
    val s = spark
    import s.implicits._
    val rows = docs.flatMap { case (id, toks) => toks.map(t => (s"g${id % 2}", t)) }
    val got = Sketches
      .hllDistinct(rows.toDF("g", "tok"), "tok", Seq("g"))
      .collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("exact_distinct"), r.getAs[Long]("hll_sum_scaled"),
          r.getAs[Long]("n_empty_buckets"))))
      .toMap
    val want = rows.groupBy(_._1).map { case (g, grp) =>
      val toks = grp.map(_._2)
      val regs = new Array[Int](64)
      toks.foreach { t =>
        val h = Hashing.md5Long60Jvm(t)
        val bucket = (h >> 54).toInt
        val rem = h & ((1L << 54) - 1)
        val rank = if (rem == 0) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
        regs(bucket) = math.max(regs(bucket), rank)
      }
      val sum = regs.map(r => 1L << (55 - r)).sum
      g -> ((toks.distinct.size.toLong, sum, regs.count(_ == 0).toLong))
    }
    got == want
  }

  property("chunkTokens equals sliding-window model") = forAllNoShrink(
    genDocs, Gen.choose(1, 6), Gen.choose(1, 6)) { (docs, chunk, stride) =>
    val got = TextAnalysis.chunkTokens(toDF(docs), chunk, stride)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2))
      .toMap
    val want = docs.flatMap { case (id, toks) =>
      if (toks.size < chunk) Nil
      else (0 to (toks.size - chunk) / stride).map { i =>
        (id, i) -> toks.slice(i * stride, i * stride + chunk).mkString(" ")
      }
    }.toMap
    got == want
  }

  private val genVecs: Gen[List[(Long, List[Float])]] = for {
    n <- Gen.choose(2, 10)
    d <- Gen.choose(1, 6)
    vecs <- Gen.listOfN(
      n, Gen.listOfN(d, Gen.oneOf(0.5f, 1.5f, -2.25f, 0.1f, -0.0039f, 7.75f)))
  } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  property("all-queries top-k equals the window-form model, bit-exact") = forAllNoShrink(
    genVecs, Gen.choose(1, 4)) { (vecs, k) =>
    val s = spark
    import s.implicits._
    val df = vecs.map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopKFor(df, None, k)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    def dot(a: List[Float], b: List[Float]): Double = {
      var acc = 0.0
      a.zip(b).foreach { case (x, y) => acc += x.toDouble * y.toDouble }
      acc
    }
    val norms = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val byId = vecs.toMap
    val want = vecs.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, dot(qv, nv) / (norms(qid) * norms(nid))) }
        .sortBy { case (nid, score) => (-score, nid) }
        .take(k)
        .zipWithIndex
        .map { case ((nid, score), r) => (qid, r + 1) -> ((nid, score)) }
    }.toMap
    got == want
  }
}
