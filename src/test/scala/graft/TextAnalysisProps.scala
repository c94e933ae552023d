package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.functions.Hashing
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Model-based properties for the corpus-quality operators: the
  * distributed plans must equal straightforward sequential in-memory
  * models EXACTLY (including double results — the operators are built so
  * their floating-point expression trees match a left-to-right model).
  */
object TextAnalysisProps extends Properties("TextAnalysis") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxSize(40)

  private lazy val spark = SparkTestBase.session

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

  property("bigramRepetition equals sliding-window model") = forAllNoShrink(genDocs) { docs =>
    val got = TextAnalysis
      .bigramRepetition(toDF(docs))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getDouble(5))))
      .toMap
    val want = docs.flatMap { case (id, toks) =>
      val grams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toList
      if (grams.isEmpty) None
      else {
        val counts = grams.groupBy(identity).map { case (g, o) => g -> o.size.toLong }
        val total = grams.size.toLong
        val (gram, n) = counts.toList.sortBy { case (g, c) => (-c, g) }.head
        Some(id -> ((total, counts.size.toLong, gram, n, n.toDouble / total)))
      }
    }.toMap
    got == want
  }

  property("tfIdfTopTerm equals sequential tf/df model") = forAllNoShrink(genDocs) { docs =>
    val got = TextAnalysis
      .tfIdfTopTerm(toDF(docs))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val nDocs = docs.size.toLong
    val tf = docs.map { case (id, toks) =>
      id -> toks.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    }.toMap
    val df = docs.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    val want = tf.map { case (id, counts) =>
      val scored = counts.toList.map { case (t, c) =>
        (t, c, df(t), (c * (nDocs + 1)).toDouble / (df(t) + 1).toDouble)
      }
      id -> {
        val (t, c, d, s) = scored.sortBy { case (tok, _, _, sc) => (-sc, tok) }.head
        (t, c, d, s)
      }
    }
    got == want
  }

  property("decontaminateBloom equals exact decontaminate on random splits") =
    forAllNoShrink(genDocs, Gen.choose(2, 4)) { (docs, n) =>
      // random corpus/eval split: small vocab ("a","b","c","dd","e1")
      // makes cross-doc n-gram overlap dense; odd splits also produce
      // EMPTY eval sets and eval docs shorter than any n-gram — the
      // null-bloom edge must behave (no grams = nothing contaminated)
      val (corpusDocs, evalDocs) = docs.partition(_._1 % 3 != 0)
      if (corpusDocs.isEmpty) true
      else {
        val exact = TextAnalysis
          .decontaminate(toDF(corpusDocs), toDF(evalDocs), n)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
        // undersized filter (32 items / 512 bits) forces real false
        // positives; the verify join must remove every one
        val bloom = TextAnalysis
          .decontaminateBloom(toDF(corpusDocs), toDF(evalDocs), n,
            expectedGrams = 32L, numBits = 512L)
          .orderBy("doc_id").collect().map(_.toSeq).toSeq
        bloom == exact
      }
    }

  property("duplicateSpans equals sequential window-hash model") = forAllNoShrink(genDocs) { docs =>
    val width = 3; val stride = 2
    // model: hash every width-token window at stride positions, count
    // docs and occurrences per hash, keep hashes in >= 2 distinct docs
    val windows = docs.flatMap { case (id, toks) =>
      if (toks.size < width) Nil
      else (0 to (toks.size - width) / stride).map { i =>
        val span = toks.slice(i * stride, i * stride + width).mkString(" ")
        (id, Hashing.md5Long60Jvm(span))
      }
    }
    val model = windows.groupBy(_._2).collect {
      case (h, occ) if occ.map(_._1).distinct.size >= 2 =>
        h -> ((occ.map(_._1).distinct.size.toLong, occ.size.toLong))
    }.toMap
    val got = TextAnalysis.duplicateSpans(toDF(docs), width, stride)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got == model
  }

  property("bpeTopPairs equals sequential pair-count model") = forAllNoShrink(genDocs) { docs =>
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, toks) =>
      toks.foreach { t =>
        (0 until t.length - 1).foreach { i =>
          val p = t.substring(i, i + 2)
          counts(p) = counts.getOrElse(p, 0L) + 1
        }
      }
    }
    val k = 4
    val model = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(k)
      .zipWithIndex.map { case ((p, n), i) => (p, n, i + 1) }
    val got = TextAnalysis.bpeTopPairs(toDF(docs), k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      .sortBy(_._3)
    got == model
  }

  private val genPairs: Gen[List[(Long, Long)]] =
    Gen.listOf(for {
      a <- Gen.choose(0L, 15L)
      b <- Gen.choose(0L, 15L).suchThat(_ != a)
    } yield (math.min(a, b), math.max(a, b)))

  property("connectedComponents equals union-find model (both paths)") = forAllNoShrink(
    genPairs, Gen.oneOf(0L, Long.MaxValue)) { (pairs, threshold) =>
    // threshold 0 forces the distributed iterative path, MaxValue the
    // driver union-find path — both must match the model
    val s = spark
    import s.implicits._
    val got =
      if (pairs.isEmpty) Map.empty[Long, Long]
      else Dedup.connectedComponents(pairs.toDF("id_a", "id_b"),
          localEdgeThreshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // union-find with min-id representatives
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo
      }
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    got == want
  }

  private val genVecs: Gen[List[(Long, List[Float])]] = for {
    n <- Gen.choose(1, 10)
    vecs <- Gen.listOfN(
      n,
      Gen.choose(1, 8).flatMap(d =>
        Gen.listOfN(d, Gen.oneOf(0.0f, 1.5f, -2.25f, 0.1f, -0.0039f, 7.75f))))
  } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  property("quantizeInt8 equals per-element model") = forAllNoShrink(genVecs) { vecs =>
    val s = spark
    import s.implicits._
    val got = Similarity
      .quantizeInt8(vecs.map { case (id, v) => (id, v.toArray) }
        .toDF("vec_id", "embedding"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2), r.getLong(3))))
      .toMap
    val want = vecs.map { case (id, v) =>
      val maxAbs = v.map(x => math.abs(x.toDouble)).max
      val scale = if (maxAbs == 0d) 0d else 127d / maxAbs
      val codes = v.map(x => math.floor(x.toDouble * scale + 0.5d).toLong)
      id -> ((scale, codes.mkString(","), codes.foldLeft(0L)((a, c) => a + c * c)))
    }.toMap
    got == want
  }
}
