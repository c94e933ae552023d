package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.ops.{Dedup, Sampling, Similarity}

/** Cross-operator invariants for the sampling and incremental-dedup
  * families.
  */
object OpsProps extends Properties("Ops") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxSize(40)

  private lazy val spark = SparkTestBase.session

  private val genStrata: Gen[List[(Long, String)]] = for {
    nStrata <- Gen.choose(2, 4)
    sizes <- Gen.listOfN(nStrata, Gen.choose(1, 60))
  } yield {
    var id = 0L
    sizes.zipWithIndex.flatMap { case (n, s) =>
      (1 to n).map { _ => id += 1; (id, s"s$s") }
    }
  }

  private def toDF(rows: List[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "source")
  }

  property("temperatureSample nests: hotter (smaller 1/T) samples are subsets") =
    forAllNoShrink(genStrata, Gen.choose(0, 1000), Gen.choose(0, 1000)) { (rows, a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val df = toDF(rows)
      def ids(invT: Int) = Sampling.temperatureSample(df, invT)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val hotter = ids(lo) // lower 1/T = higher temperature = smaller rates
      val cooler = ids(hi)
      hotter.subsetOf(cooler) && ids(1000).size == rows.size
    }

  private val genWeighted: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 80)
    ws <- Gen.listOfN(n, Gen.oneOf(Gen.choose(0L, 5L), Gen.choose(1L, 500L)))
  } yield ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }

  property("systematicSample emits exactly k picks over any weights") =
    forAllNoShrink(genWeighted, Gen.choose(1L, 50L)) { (rows, k) =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("doc_id", "w")
      val out = Sampling.systematicSample(df, k, "w")
        .select("doc_id", "n_picks").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val byId = rows.toMap
      val totalPos = rows.map(_._2).filter(_ > 0).sum
      // exactly k picks when any weight mass exists; picked rows carry
      // positive weight; multiplicities are all >= 1
      (if (totalPos > 0) out.map(_._2).sum == k else out.isEmpty) &&
        out.forall { case (id, np) => np >= 1 && byId(id) > 0 }
    }

  property("weightedSample keeps every heavy row and never a zero-weight row") =
    forAllNoShrink(genWeighted, Gen.choose(1L, 50L)) { (rows, k) =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("doc_id", "w")
      val kept = Sampling.weightedSample(df, k, "w")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val tot = rows.map(_._2).filter(_ > 0).sum
      rows.forall { case (id, w) =>
        if (w <= 0) !kept.contains(id)
        // rate saturates at 2^20 ⇔ (2^20·k·w) div tot >= 2^20 ⇔ k·w >= tot
        // (plus any div remainder): k·w >= tot guarantees inclusion
        else if (tot > 0 && k * w >= tot) kept.contains(id)
        else true
      }
    }

  property("crossDupSpans equals the O(n²) diagonal-run model") =
    forAllNoShrink(
      Gen.choose(2, 6).flatMap(n => Gen.listOfN(n,
        Gen.choose(4, 14).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))))),
      Gen.choose(2, 3), Gen.choose(4, 8)) { (docsToks, w, minSpan0) =>
      val minSpan = math.max(w, minSpan0)
      val s = spark
      import s.implicits._
      val rows = docsToks.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val df = rows.toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis
        .crossDupSpans(df, width = w, minSpanTokens = minSpan,
          maxShingleOcc = 1000)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // model: all cross-doc shingle alignments, merged per diagonal
      val toks = docsToks.map(_.toArray)
      val want = (for {
        a <- toks.indices; b <- toks.indices if a < b
        da = toks(a); db = toks(b)
        d <- -(db.length) to da.length // every possible diagonal
      } yield {
        // positions (1-based) pa on this diagonal where shingles match
        val pas = (1 to da.length - w + 1).filter { pa =>
          val pb = pa - d
          pb >= 1 && pb <= db.length - w + 1 &&
            (0 until w).forall(j => da(pa - 1 + j) == db(pb - 1 + j))
        }
        // merge consecutive pa into maximal runs
        val runs = pas.foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e) :: rest, p) if p == e + 1 => (s0, p) :: rest
          case (acc, p) => (p, p) :: acc
        }
        runs.collect {
          case (s0, e) if e - s0 + w >= minSpan =>
            (a.toLong, b.toLong, s0.toLong, (s0 - d).toLong, (e - s0 + w).toLong)
        }
      }).flatten.toSet
      got == want
    }

  property("bm25TopK equals the nested-loop integer model") =
    forAllNoShrink(
      Gen.choose(2, 8).flatMap(n => Gen.listOfN(n,
        Gen.choose(2, 12).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("x", "y", "z", "q", "r"))))),
      Gen.choose(1, 4)) { (docsToks, k) =>
      val s = spark
      import s.implicits._
      val queries = Seq(1 -> Seq("x", "q"), 2 -> Seq("z"))
      val df = docsToks.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.ops.TextAnalysis.bm25TopK(df, queries, k)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // independent model: direct nested loops, same integer contract
      val nDocs = docsToks.size.toLong
      val dls = docsToks.map(_.size.toLong)
      val sumDl = dls.sum
      def tf(d: Int, t: String) = docsToks(d).count(_ == t).toLong
      def df0(t: String) = docsToks.count(_.contains(t)).toLong
      val want = queries.flatMap { case (q, terms) =>
        val scored = docsToks.indices.flatMap { d =>
          val sc = terms.distinct.map { t =>
            val f = tf(d, t); val dfv = df0(t)
            if (f == 0) 0L
            else {
              val nd = (1000L * dls(d) * nDocs) / sumDl
              val tfp = (2200000L * f) / (1000L * f + 300L + (9L * nd) / 10L)
              val idfm = (1000L * (2 * nDocs - 2 * dfv + 1)) / (2 * dfv + 1)
              idfm * tfp
            }
          }.sum
          if (sc > 0 || terms.exists(t => tf(d, t) > 0)) Some((d.toLong, sc)) else None
        }
        scored.sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
          .map { case ((d, sc), i) => (q, d, sc, (i + 1).toLong) }
      }.toSet
      got == want
    }

  property("mmrRerank equals the local greedy model") =
    forAllNoShrink(
      Gen.choose(3, 10).flatMap(n => Gen.listOfN(n,
        Gen.listOfN(4, Gen.choose(-5, 5).map(_.toFloat / 4f)))),
      Gen.choose(1, 3), Gen.oneOf(0, 300, 700, 1000)) { (vecsRaw, k, lamPm) =>
      val s = spark
      import s.implicits._
      // vec 0 is the query; guarantee nonzero norms by bumping dim 0
      val vecs = vecsRaw.zipWithIndex.map { case (v, i) =>
        val a = v.toArray; if (a.forall(_ == 0f)) a(0) = 1f; (i.toLong, a)
      }
      val df = vecs.toDF("vec_id", "embedding")
      // the pool can hold at most n-1 candidates and must cover k —
      // clamp k inside the property (shrinkers also wander outside the
      // generator's range, so derive, don't trust, the arguments)
      val kEff = math.max(1, math.min(k, vecs.size - 1))
      val pool = math.min(vecs.size - 1, math.max(kEff, 3))
      val got = graft.ops.Retrieval
        .mmrRerank(df, Seq(0L), kEff, pool, lamPm)
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2).map(_._1)
      // local model with the same fold/tie-break contract
      def dot(a: Array[Float], b: Array[Float]) =
        a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
      val qv = vecs.head._2; val qn = nrm(qv)
      val cands0 = vecs.tail
        .map { case (id, v) => (id, v, dot(qv, v) / (qn * nrm(v))) }
        .sortBy(c => (-c._3, c._1)).take(pool)
      val lam = lamPm / 1000.0; val om = 1.0 - lam
      var sel = List.empty[(Long, Array[Float])]
      var rest = cands0
      var wantIds = List.empty[Long]
      while (wantIds.size < math.min(kEff, cands0.size)) {
        val pick =
          if (sel.isEmpty) rest.head
          else rest.minBy(c => (
            -(lam * c._3 - om * sel.map(p => dot(c._2, p._2) / (nrm(c._2) * nrm(p._2))).max),
            c._1))
        wantIds = wantIds :+ pick._1
        sel = sel :+ ((pick._1, pick._2))
        rest = rest.filterNot(_._1 == pick._1)
      }
      got.toList == wantIds
    }

  private val genCorpus: Gen[List[(Long, List[String])]] = for {
    n <- Gen.choose(2, 10)
    docs <- Gen.listOfN(
      n,
      Gen.choose(3, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "ee"))))
  } yield docs.zipWithIndex.map { case (toks, i) => (i.toLong, toks) }

  property("incrementalNearDupPairs agrees with the all-pairs exact op on its output") =
    forAllNoShrink(genCorpus) { docs =>
      val s = spark
      import s.implicits._
      val df = docs.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val incoming = df.filter($"doc_id" % 2 === 0)
      val corpus = df.filter($"doc_id" % 2 =!= 0)
      val inc = Dedup.incrementalNearDupPairs(incoming, corpus, threshold = 0.3)
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1))) -> r.getDouble(2)).toMap
      // every reported pair must appear in the all-pairs exact op with
      // the IDENTICAL jaccard (incremental is a restriction, not an
      // approximation, of the verification arithmetic)
      val all = Dedup.ngramJaccardPairs(df, n = 3, threshold = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      inc.forall { case (pair, j) => all.get(pair).contains(j) }
    }

  property("ngramJaccardPairs physical strategies agree (size-carry vs coarse one-shuffle)") =
    forAllNoShrink(genCorpus) { docs =>
      val s = spark
      import s.implicits._
      val df = docs.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      def pairs(carry: Boolean) = Dedup
        .ngramJaccardPairs(df, n = 3, threshold = 0.2, carrySizes = carry)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      pairs(carry = true) == pairs(carry = false)
    }

  // Clustered embedding corpora for the routed-vs-exact agreement
  // properties: cluster c owns coordinate block [4c, 4c+4) of a 16-dim
  // vector and member m scales the block pattern by (m+1) — so
  // within-cluster cosines are exactly 1 (identical direction: every
  // band signature matches, every IVF probe covers) and cross-cluster
  // cosines are exactly 0 (disjoint support), putting every true pair
  // deterministically above a 0.9 threshold and every false one far
  // below it.
  private val genVecClusters: Gen[List[(Long, Array[Float], String)]] = for {
    nClusters <- Gen.choose(2, 4)
    sizes <- Gen.listOfN(nClusters, Gen.choose(1, 5))
  } yield {
    var id = -1L
    sizes.zipWithIndex.flatMap { case (n, c) =>
      (0 until n).map { m =>
        id += 1
        val v = Array.tabulate(16) { d =>
          if (d / 4 == c) ((d % 4) + 1f) * (m + 1f) else 0f
        }
        (id, v, s"l$c")
      }
    }
  }

  private def toVecDF(rows: List[(Long, Array[Float], String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  property("cosineNearDupPairsLsh agrees with the exact broadcast kernel (values AND cosine bits)") =
    forAllNoShrink(genVecClusters) { rows =>
      val df = toVecDF(rows)
      def pairs(res: DataFrame) = res.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val exact = pairs(Similarity.cosineNearDupPairs(df, threshold = 0.9))
      val routed = pairs(
        Similarity.cosineNearDupPairsLsh(df, threshold = 0.9, bands = 8, planesPerBand = 8))
      routed == exact
    }

  property("allPairsTopKIvf with total probe coverage equals the exact all-pairs top-k") =
    forAllNoShrink(genVecClusters, Gen.choose(1, 5)) { (rows, k) =>
      val df = toVecDF(rows)
      def rowsOf(res: DataFrame) = res.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val exact = rowsOf(Similarity.bruteForceTopKFor(df, None, k))
      // nProbe = numCentroids → the candidate set is total, so the
      // routed path must reproduce the exact kernel bit-for-bit
      val routed = rowsOf(Similarity.allPairsTopKIvf(df, k, numCentroids = 4, nProbe = 4))
      routed == exact
    }

  property("frameSample windows DECODED audio exactly as the reference model") =
    forAllNoShrink(
      Gen.resize(30, Gen.listOf(Gen.chooseNum(Short.MinValue, Short.MaxValue))),
      Gen.choose(1, 5), Gen.choose(1, 5)) { (samplesL, frameLen, stride) =>
      val s = spark
      import s.implicits._
      val samples = samplesL.toArray
      val media = Seq(
        (1L, graft.ops.WavCodec.encode(samples, 8000, 1), "audio/wav"))
        .toDF("doc_id", "media", "kind")
      val got = graft.ops.Multimodal.frameSample(media, frameLen, stride)
        .collect()
        .map(f => (f.frame_idx, f.n_units, f.sum_abs, f.max_unit))
        .toList.sortBy(_._1)
      val model = Iterator.from(0)
        .map(f => (f, f * stride))
        .takeWhile { case (_, st) => st + frameLen <= samples.length }
        .map { case (f, st) =>
          val w = samples.slice(st, st + frameLen).map(_.toLong)
          (f, frameLen.toLong, w.map(math.abs).sum, w.max)
        }
        .toList
      got == model
    }

  property("embeddingDriftSummary equals the sequential BigInt model bit-for-bit") =
    forAllNoShrink(
      Gen.choose(2, 5).flatMap(d =>
        Gen.choose(2, 24).flatMap(n =>
          Gen.listOfN(n, Gen.listOfN(d, Gen.choose(-1000, 1000).map(_ / 500.0f)))))) { vecs =>
      val s = spark
      import s.implicits._
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      val df = rows.toDF("vec_id", "embedding")
      val got = Similarity
        .embeddingDriftSummary(df, org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
        .head()

      // sequential model: quantize exactly as the engine does, fold in
      // BigInt, finish with the identical float tree
      def q(x: Float): BigInt = BigInt(math.floor(x.toDouble * 1e6 + 0.5).toLong)
      val (a, b) = rows.partition(_._1 % 2 == 0)
      val dims = vecs.head.size
      val sa = (0 until dims).map(d => a.map(r => q(r._2(d))).sum)
      val sb = (0 until dims).map(d => b.map(r => q(r._2(d))).sum)
      val dot = sa.zip(sb).map { case (x, y) => x * y }.sum
      val naa = sa.map(x => x * x).sum
      val nbb = sb.map(x => x * x).sum
      val l2q = sa.zip(sb).map { case (x, y) =>
        val diff = x * BigInt(b.size) - y * BigInt(a.size); diff * diff
      }.sum
      def toD(v: BigInt): Double = java.lang.Double.parseDouble(v.toString)
      val expCos =
        if (naa > 0 && nbb > 0)
          Some(toD(dot) / (math.sqrt(toD(naa)) * math.sqrt(toD(nbb))))
        else None
      val expL2 =
        if (a.nonEmpty && b.nonEmpty)
          Some(math.sqrt(toD(l2q)) / (a.size.toDouble * b.size.toDouble * 1e6))
        else None
      val gotCos = if (got.isNullAt(got.fieldIndex("cos_shift"))) None
        else Some(got.getAs[Double]("cos_shift"))
      val gotL2 = if (got.isNullAt(got.fieldIndex("l2_shift"))) None
        else Some(got.getAs[Double]("l2_shift"))
      got.getAs[Long]("n_a") == a.size.toLong &&
        got.getAs[Long]("n_b") == b.size.toLong &&
        gotCos == expCos && gotL2 == expL2
    }

  property("knnLabelNoiseAuto under a forced tiny budget equals the exact audit") =
    forAllNoShrink(genVecClusters) { rows =>
      val df = toVecDF(rows)
      def rowsOf(res: DataFrame) = res.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      val exact = rowsOf(Similarity.knnLabelNoise(df, k = 3))
      val conf = spark.conf
      conf.set("spark.graft.similarity.broadcastBudgetBytes", "1")
      try {
        val routed = rowsOf(
          Similarity.knnLabelNoiseAuto(df, k = 3, numCentroids = 4, nProbe = 4))
        routed == exact
      } finally conf.unset("spark.graft.similarity.broadcastBudgetBytes")
    }

  // ---- retrieval COMPOSITION seams (the shapes the contract queries
  // wire together): fusion over two rankings, MMR over an IVF pool ----

  private val genRankedPair
      : Gen[(List[(Int, Long, Long)], List[(Int, Long, Long)])] = {
    def ranked(qs: Seq[Int]): Gen[List[(Int, Long, Long)]] =
      Gen.sequence[List[List[(Int, Long, Long)]], List[(Int, Long, Long)]](
        qs.map { q =>
          for {
            m <- Gen.choose(1, 12)
            ids <- Gen.pick(m, 0L until 20L)
          } yield ids.toList.zipWithIndex
            .map { case (d, r) => (q, d, (r + 1).toLong) }
        }).map(_.flatten)
    for { a <- ranked(Seq(0, 1)); b <- ranked(Seq(0, 1)) } yield (a, b)
  }

  property("rrfFuse is a permutation-stable, symmetric function of the two rankings") =
    forAllNoShrink(genRankedPair, Gen.choose(1, 8),
      Gen.choose(Long.MinValue, Long.MaxValue)) { case ((a, b), k, seed) =>
      val s = spark
      import s.implicits._
      def df(rows: List[(Int, Long, Long)]) =
        rows.toDF("query_id", "doc_id", "rank")
      def fuse(x: DataFrame, y: DataFrame) = graft.ops.Retrieval
        .rrfFuse(x, y, k)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val base = fuse(df(a), df(b))
      // input ROW ORDER must not matter (the rankings are the input,
      // not their physical layout); the permutation derives from a
      // GENERATED seed so any failure replays from the reported args
      val rnd = new scala.util.Random(seed)
      val shuffled = fuse(df(rnd.shuffle(a)), df(rnd.shuffle(b)))
      // ... and neither must which retriever is "a" vs "b": reciprocal
      // contributions are summed, so fusion is symmetric
      val swapped = fuse(df(b), df(a))
      base == shuffled && base == swapped
    }

  property("annTopKProjected with candidates >= corpus equals exact brute force") =
    forAllNoShrink(
      Gen.choose(4, 14).flatMap(n => Gen.listOfN(n,
        Gen.listOfN(4, Gen.choose(-8, 8).map(_.toFloat / 4f)))),
      Gen.choose(1, 3)) { (vecsRaw, k) =>
      val s = spark
      import s.implicits._
      // nonzero norms (an all-zero vector is excluded by BOTH paths —
      // raw norm on the brute side, projected norm on the prune side)
      val vecs = vecsRaw.zipWithIndex.map { case (v, i) =>
        val a = v.toArray; if (a.forall(_ == 0f)) a(0) = 1f; (i.toLong, a)
      }
      val df = vecs.toDF("vec_id", "embedding")
      val qIds = Seq(0L, 1L)
      val kEff = math.min(k, vecs.size - 1)
      def rows(out: org.apache.spark.sql.DataFrame) = out
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          r.getInt(3)))
        .toSet
      // with the candidate prefix covering the whole corpus, the prune
      // drops nothing and the exact rescore must reproduce brute force
      // bit-for-bit — scores included (same dotFast fold both sides)
      val pruned = rows(Similarity.annTopKProjected(
        df, qIds, k = kEff, candidates = vecs.size,
        outDims = 8, inDims = 4))
      val brute = rows(Similarity.bruteForceTopK(df, qIds, kEff)
        .selectExpr("CAST(query_id AS BIGINT)", "CAST(neighbor_id AS BIGINT)",
          "score", "rank"))
      pruned == brute
    }

  property("mmrRerankPool over an IVF pool selects only from the pool") =
    forAllNoShrink(
      Gen.choose(5, 12).flatMap(n => Gen.listOfN(n,
        Gen.listOfN(4, Gen.choose(-5, 5).map(_.toFloat / 4f)))),
      Gen.choose(1, 4), Gen.oneOf(0, 500, 1000)) { (vecsRaw, k, lamPm) =>
      val s = spark
      import s.implicits._
      val vecs = vecsRaw.zipWithIndex.map { case (v, i) =>
        val a = v.toArray; if (a.forall(_ == 0f)) a(0) = 1f; (i.toLong, a)
      }
      val df = vecs.toDF("vec_id", "embedding")
      val pool = Similarity.ivfTopK(
        df, Seq(0L), k = math.max(k, 3), numCentroids = 4, nProbe = 2)
      val poolIds = pool.collect().map(_.getAs[Long]("neighbor_id")).toSet
      val sel = graft.ops.Retrieval
        .mmrRerankPool(df, pool, k, lamPm)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val selIds = sel.map(_._1).toSet
      // every MMR pick comes FROM the pool (the approximate pool is
      // the only corpus the greedy step may see), picks are distinct,
      // ranks are 1..|picks|, and MMR exhausts min(k, |pool|)
      selIds.subsetOf(poolIds) &&
        selIds.size == sel.length &&
        sel.map(_._2).sorted.toList == (1L to sel.length).toList &&
        sel.length == math.min(k, poolIds.size)
    }
}
