package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Similarity search over an embedding column (`array<float>`).
  *
  * Determinism contract: dot products fold left-to-right in double
  * precision after casting each float element to double — the exact
  * arithmetic DuckDB's `list_sum(list_transform(...))` performs — so
  * cosine scores are bit-identical between the engine and the oracle
  * and top-k cuts cannot flap.
  *
  * Scale notes: brute force is one broadcast-join + window — O(N·Q·d),
  * the right baseline when the query set is small. The LSH variant is
  * the scale path: random-hyperplane signatures bucket the corpus so a
  * query only scores its bucket (tunable recall); hyperplanes are
  * derived from the md5 hash family, so they are deterministic and
  * reproducible anywhere.
  */
object Similarity extends Serializable {

  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Sequential left-fold dot product in double precision (Catalyst
    * higher-order-function form — interpreted, kept as the reference
    * semantics; hot paths use [[dotFast]], which folds in the same
    * order and is therefore bit-identical).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Native codegen left fold ([[graft.functions.FloatVectorDot]]):
    * float elements widened to double, products accumulated
    * left-to-right — exactly [[dot]]'s (and DuckDB
    * `list_sum(list_transform(...))`'s) rounding sequence. Reads the
    * unsafe array buffers directly inside whole-stage codegen — no
    * Seq boxing (the former UDF form), no interpreted HOF.
    */
  def dotFast(a: Column, b: Column): Column =
    graft.functions.FloatVectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors by cosine for a (small, broadcastable) query
    * id set: score every (query, candidate) pair, rank per query by
    * (score desc, id asc).
    */
  def bruteForceTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    bruteForceTopKFor(emb, Some(queryIds), k, idCol, vecCol)

  /** [[bruteForceTopK]] generalized to an optional query-id set: None
    * scores EVERY vector against every other.
    *
    * Two physical strategies, same semantics and bit-identical scores:
    * a small explicit query set uses a broadcast join + window rank
    * (the window input is |queries| x |corpus| — fine when queries are
    * few); the all-queries case instead distributes the QUERY side and
    * broadcasts the corpus, selecting each query's top k inside the
    * partition with a bounded buffer — the n^2 score matrix is never
    * materialized as rows, so no shuffle ever carries it (the window
    * form would exchange all n^2 scored rows before ranking).
    */
  def bruteForceTopKFor(
      emb: DataFrame,
      queryIds: Option[Seq[Long]],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = queryIds match {
    case Some(ids) =>
      // zero-norm (or null) vectors have no cosine: their scores are
      // NaN, which Spark desc-sort ranks FIRST — one padding row would
      // otherwise occupy rank 1 of every query's top-k
      val withNorm = emb.select(
        col(idCol),
        col(vecCol),
        sqrt(dotFast(col(vecCol), col(vecCol))).as("_nrm"))
        .filter(col("_nrm") > 0d)
      val q = withNorm.filter(col(idCol).isin(ids: _*))
        .select(col(idCol).as("query_id"), col(vecCol).as("_qv"), col("_nrm").as("_qn"))
      val scored = withNorm
        .join(broadcast(q), col(idCol) =!= col("query_id"))
        .select(
          col("query_id"),
          col(idCol).as("neighbor_id"),
          (dotFast(col("_qv"), col(vecCol)) / (col("_qn") * col("_nrm"))).as("score"))
      val w = Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    case None => allPairsTopK(emb, k, idCol, vecCol)
  }

  /** All-queries exact top-k: corpus broadcast (ids + widened vectors +
    * norms — the same fits-in-memory envelope [[cosineNearDupPairs]]
    * already assumes; past it, [[knnLabelNoiseAuto]] routes to the
    * IVF-bucketed [[allPairsTopKIvf]]), query rows partitioned,
    * per-query selection in a k-bounded buffer.
    * Scores use the identical widen-then-fold arithmetic as
    * [[graft.functions.FloatVectorDot]]; ties and NaNs order exactly as
    * the window form's (score desc, neighbor_id asc) via Double.compare
    * (NaN greatest, matching Spark sort semantics).
    */
  private def allPairsTopK(
      emb: DataFrame,
      k: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    assertBroadcastEnvelope(emb, vecCol,
      "bruteForceTopK over all queries", "knnLabelNoiseAuto / allPairsTopKIvf")
    allPairsTopKUnchecked(emb, k, idCol, vecCol)
  }

  /** [[allPairsTopK]] body for callers that ALREADY measured the corpus
    * (the Auto routers): skips the envelope re-assert, saving its
    * classification aggregate — one fewer driver round-trip per call.
    */
  private def allPairsTopKUnchecked(
      emb: DataFrame,
      k: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .filter(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
    val side = rows.collect().sortBy(_._1)
    val ids = side.map(_._1)
    val vecs = side.map(_._2.map(_.toDouble))
    val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val bIds = spark.sparkContext.broadcast(ids)
    val bVecs = spark.sparkContext.broadcast(vecs)
    val bNorms = spark.sparkContext.broadcast(norms)
    rows
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { case (qid, qvf) =>
        val oIds = bIds.value; val oVecs = bVecs.value; val oNorms = bNorms.value
        val qv = qvf.map(_.toDouble)
        var sq = 0.0; var i = 0
        while (i < qv.length) { sq += qv(i) * qv(i); i += 1 }
        val qn = math.sqrt(sq)
        if (qn == 0d) Iterator.empty else {
        // k-bounded selection: sel* hold the current top rows, worst last
        val m = math.min(k, math.max(0, oIds.length - 1))
        val selScore = new Array[Double](m)
        val selId = new Array[Long](m)
        var filled = 0
        var j = 0
        while (j < oIds.length) {
          if (oIds(j) != qid && oNorms(j) > 0d) {
            val vb = oVecs(j)
            var d = 0.0; var t = 0
            val n = math.min(qv.length, vb.length)
            while (t < n) { d += qv(t) * vb(t); t += 1 }
            val score = d / (qn * oNorms(j))
            val nid = oIds(j)
            // better-than: (score desc, id asc) with NaN greatest
            def beats(s: Double, id: Long, s2: Double, id2: Long): Boolean = {
              val c = java.lang.Double.compare(s, s2)
              c > 0 || (c == 0 && id < id2)
            }
            if (filled < m) {
              // insertion sort into the prefix
              var p = filled
              while (p > 0 && beats(score, nid, selScore(p - 1), selId(p - 1))) {
                selScore(p) = selScore(p - 1); selId(p) = selId(p - 1); p -= 1
              }
              selScore(p) = score; selId(p) = nid
              filled += 1
            } else if (m > 0 && beats(score, nid, selScore(m - 1), selId(m - 1))) {
              var p = m - 1
              while (p > 0 && beats(score, nid, selScore(p - 1), selId(p - 1))) {
                selScore(p) = selScore(p - 1); selId(p) = selId(p - 1); p -= 1
              }
              selScore(p) = score; selId(p) = nid
            }
          }
          j += 1
        }
        (0 until filled).map(r => (qid, selId(r), selScore(r), r + 1))
        }
      }
      .toDF("query_id", "neighbor_id", "score", "rank")
  }

  /** All near-duplicate vector pairs (a < b) with cosine >= threshold.
    *
    * Physical shape: the corpus is broadcast once (ids + widened vectors
    * + precomputed norms) and each partition scores its rows against the
    * broadcast side in a tight primitive loop — a hand-rolled broadcast
    * nested-loop join with zero per-pair allocation. Right-sized when
    * one side fits in executor memory (the same condition Spark's own
    * BroadcastNestedLoopJoin needs). The envelope is ENFORCED by
    * [[cosineNearDupPairsAuto]], which measures the corpus and routes
    * past-envelope inputs to [[cosineNearDupPairsLsh]] — callers should
    * prefer the Auto form unless they've sized the corpus themselves.
    *
    * Arithmetic is the same left-to-right double fold as [[dot]] /
    * DuckDB `list_sum`, so scores stay bit-identical to the oracle.
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    assertBroadcastEnvelope(emb, vecCol,
      "cosineNearDupPairs", "cosineNearDupPairsAuto")
    cosineNearDupPairsUnchecked(emb, threshold, idCol, vecCol)
  }

  /** [[cosineNearDupPairs]] body for callers that ALREADY measured the
    * corpus (the Auto router): skips the envelope re-assert and its
    * classification aggregate — one fewer driver round-trip per call.
    */
  private def cosineNearDupPairsUnchecked(
      emb: DataFrame,
      threshold: Double,
      idCol: String,
      vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val side = rows.collect().sortBy(_._1)
    val ids = side.map(_._1)
    val vecs = side.map(_._2.map(_.toDouble))
    val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val bIds = spark.sparkContext.broadcast(ids)
    val bVecs = spark.sparkContext.broadcast(vecs)
    val bNorms = spark.sparkContext.broadcast(norms)
    rows
      .repartition(spark.sparkContext.defaultParallelism) // parquet gives 1 split; fan the O(n²) scan out
      .flatMap { case (idA, vfA) =>
        val oIds = bIds.value; val oVecs = bVecs.value; val oNorms = bNorms.value
        val va = vfA.map(_.toDouble)
        var sa = 0.0; var i = 0
        while (i < va.length) { sa += va(i) * va(i); i += 1 }
        val na = math.sqrt(sa)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = 0
        while (j < oIds.length) {
          if (oIds(j) > idA) {
            val vb = oVecs(j)
            var d = 0.0; var t = 0
            val n = math.min(va.length, vb.length)
            while (t < n) { d += va(t) * vb(t); t += 1 }
            val cos = d / (na * oNorms(j))
            if (cos >= threshold) out += ((idA, oIds(j), cos))
          }
          j += 1
        }
        out
      }
      .toDF("id_a", "id_b", "cosine")
  }

  // ---------------------------------------------------------------------
  // Size-gated routing for the broadcast-envelope kernels.
  //
  // cosineNearDupPairs / allPairsTopK collect the corpus to the driver
  // and broadcast it — the right plan while ids+norms+double-widened
  // vectors fit comfortably in memory, a driver OOM past it. The gate
  // below applies a classify-then-route pattern: ONE bounded
  // classification aggregate (count + max vector width — two numbers
  // through the shuffle), then route to the exact broadcast kernel
  // under the budget or to a bucketed candidate generator + exact
  // rescoring over it.
  // The routed paths never materialize an all-pairs set and never
  // collect the corpus: every join is a shuffle join keyed on a bucket
  // (LSH band signature / IVF list), so they survive corpora that are
  // 1000× past the broadcast envelope.
  // ---------------------------------------------------------------------

  /** Broadcast-envelope classifier: estimated driver/executor bytes for
    * the collected corpus (ids + norms + double-widened vectors + array
    * overhead) vs the budget in `spark.graft.similarity.broadcastBudgetBytes`
    * (default 512 MiB — half a typical executor's user memory; ~1M
    * 64-dim or ~120k 512-dim vectors). Classification cost: one
    * partial-aggregated pass carrying two numbers.
    */
  def fitsBroadcastEnvelope(emb: DataFrame, vecCol: String = "embedding"): Boolean = {
    val (n, d) = corpusStats(emb, vecCol)
    fitsBudget(emb, n, d)
  }

  /** Hard guard at the collect-kernel BOUNDARY: the Auto routers
    * divert past-envelope corpora before reaching these kernels, but a
    * caller invoking a kernel directly must fail LOUDLY here — one
    * bounded classification aggregate — instead of OOMing the driver
    * silently. The re-measure costs one count/max pass, noise next to
    * the O(n²) scoring behind it; it bypasses the memo, so a corpus
    * rewritten in place without [[graft.Tables.invalidate]] is judged
    * on its current size.
    */
  private def assertBroadcastEnvelope(
      emb: DataFrame, vecCol: String, kernel: String, router: String): Unit = {
    val (n, d) = measureCorpus(emb, vecCol)
    if (!fitsBudget(emb, n, d))
      throw new graft.store.FeatureValidationError(
        s"$kernel collects the corpus to the driver, and $n vectors x " +
          s"dim $d exceeds spark.graft.similarity.broadcastBudgetBytes; " +
          s"use $router, which routes past-envelope corpora to the " +
          "bucketed candidate path")
  }

  /** The classification aggregate: (row count, max vector width) in one
    * partial-aggregated pass — MEMOIZED per (analyzed-plan semantic
    * hash, vecCol): the corpus envelope is a property of the table
    * version, not of the probe, so the measuring job runs once per
    * corpus per JVM instead of once per router call (it ran on EVERY
    * call before — one whole Spark job per Auto-routed query). Cleared
    * by [[graft.Tables.invalidate]]: an in-place rewrite is the one case
    * where a re-read plan hashes equal while the data changed, and a
    * stale entry here could route a grown corpus INTO the broadcast
    * kernel — so the escape hatch clears this cache too. Store-API
    * writes never need it (new version = new path = fresh hash).
    */
  /** Plan-keyed memo, COLLISION-PROOF: entries key on the canonicalized
    * analyzed plan's 32-bit hash but a hit additionally verifies full
    * STRUCTURAL equality against the stored plan — the values memoized
    * here are result-bearing (route choice flips between non-identical
    * kernels; IVF centroids surface in outputs), so a 2^-32 hash
    * collision must fall through to a recompute, never serve another
    * corpus's value.
    */
  private val statsMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any)]
  private val StatsMemoMax = 256
  private[graft] def invalidateCorpusStats(): Unit = statsMemo.clear()
  private[graft] def corpusStatsMemoSize: Int = statsMemo.size
  private def memoizedOnPlan[T](df: DataFrame, tag: String)(compute: => T): T = {
    val plan = df.queryExecution.analyzed.canonicalized
    val key = (plan.hashCode(), tag)
    statsMemo.get(key) match {
      case Some((p, v)) if p == plan => v.asInstanceOf[T]
      case _ =>
        val v = compute
        // one critical section for evict+put: a concurrent put cannot
        // slip between the size check and the eviction
        statsMemo.synchronized {
          if (statsMemo.size >= StatsMemoMax)
            statsMemo.headOption.foreach { case (k, _) => statsMemo.remove(k) }
          statsMemo.put(key, (plan, v))
          ()
        }
        v
    }
  }
  private def corpusStats(emb: DataFrame, vecCol: String): (Long, Int) =
    memoizedOnPlan(emb, s"stats:$vecCol")(measureCorpus(emb, vecCol))

  private def measureCorpus(emb: DataFrame, vecCol: String): (Long, Int) = {
    val row = emb
      .agg(count(lit(1)).as("n"), coalesce(max(size(col(vecCol))), lit(0)).as("d"))
      .head()
    (row.getLong(0), row.getInt(1))
  }

  private def fitsBudget(emb: DataFrame, n: Long, d: Int): Boolean = {
    val budget = emb.sparkSession.conf
      .getOption("spark.graft.similarity.broadcastBudgetBytes")
      .map(_.toLong)
      .getOrElse(512L << 20)
    n * (16L + 8L * d + 48L) <= budget
  }

  /** Routed-path IVF width derived from the measured corpus: ~n/64
    * vectors per list keeps the per-query candidate set (n·nProbe/lists)
    * bounded as the corpus grows — a FIXED list count degrades the
    * routed path back toward quadratic. Clamped to [64, 4096]: the
    * centroid matrix (lists × dims doubles) rides the codegen'd argmax
    * kernel and must itself stay small.
    */
  private def derivedListCount(n: Long): Int =
    math.max(64L, math.min(4096L, n / 64L)).toInt

  /** RECALL-TARGETED LSH width: the fewest bands b such that a pair at
    * cosine `threshold` survives banding with probability ≥ `recall`
    * under the standard hyperplane collision model — per-plane
    * agreement p = 1 − θ/π (θ = arccos threshold), band match p^r,
    * survival 1 − (1 − p^r)^b. Solving for b:
    *
    *   b = ⌈ ln(1 − recall) / ln(1 − p^r) ⌉
    *
    * The same derivation discipline as [[derivedListCount]]: the knob a
    * 100 TB user actually has (a recall target) maps to the physical
    * width mechanically instead of by per-corpus hand-tuning. Pairs
    * MORE similar than the design threshold survive with strictly
    * higher probability, so the target is a floor across the whole
    * reported range. Clamped to [1, 256] — past 256 bands the caller
    * should lower `planesPerBand` (each unit buys a 2× candidate-rate
    * change) rather than widen further. Measured recall ≥ target is
    * property-tested on seeded clustered corpora (OpsProps).
    */
  def bandsFor(
      recall: Double,
      threshold: Double,
      planesPerBand: Int = 16): Int = {
    require(recall > 0.0 && recall < 1.0, s"recall must be in (0,1), got $recall")
    require(threshold > -1.0 && threshold < 1.0,
      s"threshold must be in (-1,1), got $threshold")
    require(planesPerBand > 0, s"planesPerBand must be positive")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, planesPerBand.toDouble)
    if (pBand >= 1.0) 1
    else {
      val b = math.ceil(math.log1p(-recall) / math.log1p(-pBand))
      math.max(1, math.min(256.0, b).toInt)
    }
  }

  /** CANDIDATE-BUDGETED LSH band width: the fewest planes per band r
    * such that the expected FALSE-candidate volume of the banded join —
    * two unrelated random high-dim vectors share an r-bit signature
    * with p ≈ 2^−r, so ≈ bands·n²/2^r pairs — stays within a LINEAR
    * budget of `candidatesPerVector · n`:
    *
    *   r = ⌈ log₂(bands · n / candidatesPerVector) ⌉
    *
    * This is the third derived width (with [[derivedListCount]] and
    * [[bandsFor]]): a FIXED r turns the candidate join quadratic again
    * as the corpus grows — at n = 10⁶ the 16-bit default would emit
    * ~10¹¹ false candidates; r = 22 holds the join to ~4n. Clamped to
    * [8, 62] (the signature packs into one long). Derive r from the
    * corpus first, then `bandsFor(recall, threshold, r)` for the band
    * count — the two solve independent constraints (cost vs recall).
    */
  def planesFor(
      n: Long,
      bands: Int = 16,
      candidatesPerVector: Double = 4.0): Int = {
    require(n > 0, s"n must be positive, got $n")
    require(bands > 0, s"bands must be positive")
    require(candidatesPerVector > 0, s"candidatesPerVector must be positive")
    val r = math.ceil(
      math.log(bands.toDouble * n.toDouble / candidatesPerVector) / math.log(2.0))
    math.max(8, math.min(62.0, r).toInt)
  }

  /** RECALL-TARGETED IVF probe width: the fewest probed lists m with
    * modeled recall ≥ `recall`. Model: a true neighbor's list is the
    * query's m-th-closest centroid with geometrically decaying
    * probability (rank 1 with p ≈ 1/2 mass at each successive Voronoi
    * boundary crossing), so P(hit within m probes) ≈ 1 − 2^−m and
    *
    *   m = ⌈ −log₂(1 − recall) ⌉
    *
    * — a deliberately conservative boundary model for the near-dup /
    * near-neighbor regime this engine targets (a neighbor close to its
    * query rarely sits many Voronoi cells away); the default nProbe = 4
    * corresponds to recall ≈ 0.94. The model's floor property is what
    * the OpsProps seeded-corpus test checks empirically. Clamped to
    * [1, numCentroids] (probing every list is exact by construction).
    */
  def nProbeFor(recall: Double, numCentroids: Int): Int = {
    require(recall > 0.0 && recall < 1.0, s"recall must be in (0,1), got $recall")
    require(numCentroids > 0, s"numCentroids must be positive")
    val m = math.ceil(-math.log(1.0 - recall) / math.log(2.0)).toInt
    math.max(1, math.min(numCentroids, m))
  }

  /** Banded LSH signatures: `bands` independent `planesPerBand`-bit
    * hyperplane signatures per vector (band b draws planes
    * [b·planesPerBand, (b+1)·planesPerBand) from the md5 family, so
    * band 0 with the default widths IS [[lshBuckets]]'s signature).
    * Output (id, band, sig) — two near-duplicate vectors collide when
    * ANY band's full signature matches, the cosine analogue of MinHash
    * banding ([[Dedup]]'s near-dup shape).
    */
  def lshBandedSignatures(
      emb: DataFrame,
      bands: Int,
      planesPerBand: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(bands > 0 && planesPerBand > 0, s"bands/planesPerBand must be positive")
    val dims = emb.select(size(col(vecCol)).as("d")).head().getInt(0)
    val fv = col(vecCol).cast("array<float>")
    val sigCols = (0 until bands).map { b =>
      graft.functions.FloatVectorHyperplaneSignature(
        fv, hyperplanes(b * planesPerBand, planesPerBand, dims))
    }
    emb.select(
      col(idCol).cast("long").as(idCol),
      posexplode(array(sigCols: _*)).as(Seq("band", "sig")))
  }

  /** Beyond-envelope near-duplicate pairs: banded-LSH candidates +
    * exact rescoring. Candidates are pairs sharing any band signature
    * (equi-join on (band, sig) — one shuffle keyed on the signature,
    * output bounded by colliding pairs, never all-pairs); each distinct
    * candidate pair is then scored with the IDENTICAL widen-then-fold
    * cosine as [[cosineNearDupPairs]] and filtered by the threshold, so
    * false band collisions cost only a rescore and every REPORTED pair
    * is exact. Recall is probabilistic in the standard LSH sense:
    * a pair at angle θ survives with 1-(1-(1-θ/π)^r)^b — near-identical
    * vectors (the near-dup regime) collide in every band.
    *
    * Width defaults (b=16 bands × r=16 planes): r controls the false
    * -candidate rate — two UNRELATED random high-dim vectors share a
    * 16-bit band signature with p≈2^-16, so expected false candidates
    * stay ~b·n²/2^r — while exact duplicates collide in every band
    * regardless. Shrink r toward 8 to buy recall for mid-similarity
    * pairs (θ near the threshold) on smaller corpora, at quadratic
    * false-candidate cost.
    */
  def cosineNearDupPairsLsh(
      emb: DataFrame,
      threshold: Double,
      bands: Int = 16,
      planesPerBand: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sigs = lshBandedSignatures(emb, bands, planesPerBand, idCol, vecCol)
    val cand = sigs.select(col("band"), col("sig"), col(idCol).as("_ida"))
      .join(sigs.select(col("band"), col("sig"), col(idCol).as("_idb")), Seq("band", "sig"))
      .filter(col("_ida") < col("_idb"))
      .select(col("_ida"), col("_idb"))
      .distinct()
    val sides = emb.select(
      col(idCol).cast("long").as("_id"),
      col(vecCol).as("_v"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("_n"))
    cand
      .join(sides.select(col("_id").as("_ida"), col("_v").as("_va"), col("_n").as("_na")), "_ida")
      .join(sides.select(col("_id").as("_idb"), col("_v").as("_vb"), col("_n").as("_nb")), "_idb")
      .select(
        col("_ida").as("id_a"),
        col("_idb").as("id_b"),
        (dotFast(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Size-routed [[cosineNearDupPairs]]: the exact broadcast kernel
    * inside the envelope, banded-LSH candidates + exact rescoring past
    * it. Inside the envelope results are identical to the exact kernel;
    * routed, every reported pair is still exactly scored (only recall
    * is probabilistic). Routed-vs-exact agreement is property-tested on
    * seeded corpora (OpsProps).
    */
  def cosineNearDupPairsAuto(
      emb: DataFrame,
      threshold: Double,
      bands: Int = 16,
      // 0 (default) derives the band width from the MEASURED corpus
      // ([[planesFor]]) — a fixed width turns the candidate join
      // quadratic as the corpus grows past the envelope
      planesPerBand: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      // recall TARGET for the routed path: when set, the band count is
      // DERIVED from the collision model ([[bandsFor]] at this
      // threshold) instead of taken from `bands` — the inside-envelope
      // exact kernel is unaffected (its recall is 1 by construction)
      targetRecall: Option[Double] = None): DataFrame = {
    val (n, d) = corpusStats(emb, vecCol)
    if (fitsBudget(emb, n, d))
      // the router IS the measurement — the unchecked kernel skips the
      // envelope re-assert's second classification aggregate
      cosineNearDupPairsUnchecked(emb, threshold, idCol, vecCol)
    else {
      val r = if (planesPerBand > 0) planesPerBand else planesFor(n, bands)
      val b = targetRecall
        .map(t => bandsFor(t, threshold, r))
        .getOrElse(bands)
      cosineNearDupPairsLsh(emb, threshold, b, r, idCol, vecCol)
    }
  }

  /** Beyond-envelope all-queries top-k: IVF-bucketed candidates + exact
    * rescoring. Every vector is assigned its coarse list once
    * (codegen'd argmax); the query side fans out to its `nProbe`
    * nearest lists; candidates meet in ONE shuffle join keyed on the
    * list id — the corpus is never collected or broadcast, and each
    * (query, neighbor) pair appears at most once (a neighbor lives in
    * exactly one list). Scores use the identical widen-then-fold
    * arithmetic as the exact kernel; with `nProbe = numCentroids` the
    * candidate set is total and results equal [[allPairsTopK]] exactly.
    *
    * Sizing: per-query candidates ≈ n·nProbe/numCentroids, so the list
    * count must GROW with the corpus (~n/64 per [[derivedListCount]],
    * what [[knnLabelNoiseAuto]] derives) — a fixed numCentroids turns
    * the candidate join quadratic again at scale.
    */
  def allPairsTopKIvf(
      emb: DataFrame,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = seedCentroids(emb, numCentroids, idCol, vecCol)
    val fv = col(vecCol).cast("array<float>")
    // zero/null-norm rows have no cosine — and their NaN scores would
    // rank FIRST under Spark's desc sort (NaN greatest)
    val corpus = emb.select(
      graft.functions.FloatVectorArgmaxDot(fv, cents).as("_list"),
      col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("_v"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("_nrm"))
      .filter(col("_nrm") > 0d)
    val queries = emb.select(
      col(idCol).cast("long").as("query_id"),
      col(vecCol).as("_qv"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("_qn"),
      explode(graft.functions.FloatVectorTopCentroids(fv, cents, nProbe)).as("_list"))
      .filter(col("_qn") > 0d)
    val scored = corpus
      .join(queries, Seq("_list"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        (dotFast(col("_qv"), col("_v")) / (col("_qn") * col("_nrm"))).as("score"))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

    /** Contrastive training-pair mining — the dataset an embedding model
    * trains on: POSITIVES are the exact near-duplicate pairs above
    * `threshold` (the same size-routed machinery as
    * [[cosineNearDupPairsAuto]]: exact broadcast kernel inside the
    * measured envelope, banded-LSH candidates + exact rescore past it);
    * NEGATIVES are `negPerAnchor` deterministic md5-derived partners
    * per anchor over a DENSE id space [0, n), with self-pairs and true
    * near-dups excluded by an anti-join. Output
    * (anchor_id, other_id, label 1|0); negatives are reproducible
    * in plain SQL (the portable md5 hash family), so the whole mining
    * run is oracle-checkable.
    *
    * Scale shape: positives inherit the routed near-dup path (never
    * all-pairs); negatives are a per-row hash map plus one broadcast
    * scalar (n) and one anti-join against the positive set — pair-set
    * sized, key-partitioned past broadcast scale. Requires dense ids
    * 0..n-1 (remap through a dictionary first otherwise — the usual
    * state of a curated embedding corpus).
    */
  def contrastivePairs(
      emb: DataFrame,
      threshold: Double = 0.4,
      negPerAnchor: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(negPerAnchor >= 1, s"negPerAnchor must be >= 1, got $negPerAnchor")
    val pos = cosineNearDupPairsAuto(emb, threshold, idCol = idCol, vecCol = vecCol)
      .select(col("id_a").as("anchor_id"), col("id_b").as("other_id"))
    val posBoth = pos.unionByName(pos.select(
      col("other_id").as("anchor_id"), col("anchor_id").as("other_id")))
    val nRow = emb.agg(count(lit(1)).as("_n"))
    val negs = emb.select(col(idCol).as("anchor_id"))
      .crossJoin(broadcast(nRow))
      .select(
        col("anchor_id"),
        explode(sequence(lit(0), lit(negPerAnchor - 1))).as("_k"),
        col("_n"))
      .withColumn(
        "other_id",
        Hashing.md5Long60(
          concat_ws(":", lit("neg"), col("anchor_id"), col("_k"))) % col("_n"))
      .filter(col("other_id") =!= col("anchor_id"))
      .select("anchor_id", "other_id")
      // no broadcast hint: the positive pair set is PAIR-set-sized (the
      // near-dup graph of the corpus), which a dup-heavy corpus can push
      // far past the driver envelope — let AQE broadcast it only when
      // its measured size is actually small; the anti-join otherwise
      // runs as a shuffle join keyed on the pair
      .join(posBoth, Seq("anchor_id", "other_id"), "left_anti")
      .distinct()
    pos.withColumn("label", lit(1))
      .unionByName(negs.withColumn("label", lit(0)))
  }

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): assign every vector to a
    * deterministic coarse cluster ([[ivfCentroids]] seed scored by the
    * codegen'd argmax kernel), generate candidate pairs ONLY within a
    * cluster, and mark a vector a duplicate when a LOWER-id vector in
    * its cluster is cosine-similar at `threshold` or above — the min-id
    * survivor policy, the same deterministic convention as
    * [[graft.ops.Dedup]]'s survivor selection. One row per vector:
    * (vec_id, cluster, is_dup, dup_of), dup_of = the smallest similar
    * lower id (null for keepers).
    *
    * Scale shape: one corpus scan for assignment (k·d centroid doubles
    * broadcast inside the expression, argmax in whole-stage codegen),
    * then ONE shuffle co-locates each cluster and the pair join runs
    * per cluster — pair cardinality is Σ|cluster|², set by the cluster
    * granularity, never the corpus n². numCentroids should grow ~√n
    * (the paper's regime, ~n^1.5/k expected pair work); past ~10⁴
    * centroids swap the embedded-matrix argmax for a join-based
    * assignment. Exact cosine on candidates only, same widen-then-fold
    * arithmetic as [[cosineNearDupPairs]], so the output is
    * bit-reproducible against the SQL oracle.
    */
  def semanticDedup(
      emb: DataFrame,
      threshold: Double,
      numCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = seedCentroids(emb, numCentroids, idCol, vecCol)
    val fv = col(vecCol).cast("array<float>")
    val assigned = emb.select(
      col(idCol).cast("long").as("vec_id"),
      fv.as("_v"),
      graft.functions.FloatVectorArgmaxDot(fv, cents).as("cluster"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("_nrm"))
    // Spark SQL orders NaN LARGEST even in comparisons, so a zero-norm
    // vector's NaN cosine would PASS the >= threshold filter — exclude
    // them from pairing (they stay in the output listing as non-dups)
    val valued = assigned.filter(col("_nrm") > 0d)
    val left = valued.select(
      col("cluster"), col("vec_id").as("id_a"),
      col("_v").as("_va"), col("_nrm").as("_na"))
    val right = valued.select(
      col("cluster"), col("vec_id").as("id_b"),
      col("_v").as("_vb"), col("_nrm").as("_nb"))
    val dups = left.join(right, "cluster")
      .filter(col("id_a") < col("id_b") &&
        dotFast(col("_va"), col("_vb")) / (col("_na") * col("_nb")) >= threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** Product-quantization approximate top-k (Jégou, Douze, Schmid 2011,
    * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI):
    * the corpus is compressed to `m` sub-codeword indices per vector
    * ([[graft.functions.FloatVectorPqEncode]], codegen'd), queries score
    * candidates by ASYMMETRIC DISTANCE COMPUTATION — per query a small
    * (m × ks) lookup table of query-subvector · codeword dots, so an
    * approximate score is m table lookups instead of d multiplies — and
    * the top `candidateFactor·k` by ADC are re-scored EXACTLY before the
    * final cut, so emitted scores are true cosines.
    *
    * Codebooks are the deterministic seed family of the house
    * ([[ivfCentroids]] convention): codeword c of subspace s = the s-th
    * subvector of the c-th vector in id order — reproducible anywhere,
    * which is what lets the whole encode→ADC→rescore pipeline
    * hash-match a SQL oracle; recall vs [[bruteForceTopK]] is measured
    * separately in the test suite (k-means-refined codebooks would drop
    * in here exactly as [[ivfCentroidsKMeans]] does for IVF).
    *
    * Scale shape — the MEMORY answer to 100 TB ANN: codes are
    * m·log₂(ks) bits per vector (64 bits here vs 64·32 for raw floats),
    * so the searchable index is ~32× smaller than the corpus and stays
    * in executor memory after one encode pass; the full-width vectors
    * are touched only for the candidateFactor·k re-score sliver. The
    * ADC join broadcasts |Q| rows of (m·ks) LUT doubles; corpus-side
    * work is one codegen'd encode + m lookups per (query, vector), no
    * shuffle until the per-query top-k window. Compose with the IVF
    * list routing ([[allPairsTopKIvf]]) for IVF-PQ when the query set
    * is the corpus itself.
    */
  def pqTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      m: Int = 8,
      codebookSize: Int = 16,
      candidateFactor: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val typed = emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val seed = typed.orderBy(col(idCol)).limit(codebookSize).collect()
    require(seed.nonEmpty, "pqTopK needs a non-empty corpus")
    val dims = seed.head._2.length
    require(dims % m == 0, s"embedding width $dims not divisible by m=$m subspaces")
    val subDim = dims / m
    val codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m, seed.length) { (s, c) =>
        val v = seed(c)._2
        Array.tabulate(subDim)(i => v(s * subDim + i).toDouble)
      }
    // per-query ADC lookup tables, driver-built: |Q|·m·ks doubles.
    // Fine for interactive query batches; a MILLION-query batch would
    // need the LUT build pushed into a distributed map — guard the
    // driver explicitly rather than OOM it silently (the same
    // discipline as assertBroadcastEnvelope)
    val lutDoubles = queryIds.size.toLong * m * codebookSize * 2
    if (lutDoubles * 8 > (256L << 20))
      throw new graft.store.FeatureValidationError(
        s"pqTopK builds per-query lookup tables on the driver " +
          s"(${queryIds.size} queries x $m x $codebookSize doubles " +
          "exceeds 256 MiB); batch the queries, or use allPairsTopKIvf " +
          "for corpus-wide scoring")
    val qset = queryIds.toSet
    val lutRows = typed.filter(r => qset.contains(r._1)).collect().sortBy(_._1)
      .map { case (qid, qv) =>
        val qd = qv.map(_.toDouble)
        val lut = Seq.tabulate(m, seed.length) { (s, c) =>
          val w = codebooks(s)(c)
          var acc = 0.0; var i = 0
          while (i < subDim) { acc += qd(s * subDim + i) * w(i); i += 1 }
          acc
        }.map(_.toSeq)
        var qn = 0.0; var i = 0
        while (i < qd.length) { qn += qd(i) * qd(i); i += 1 }
        (qid, lut, qv, math.sqrt(qn))
      }.toSeq
    // codeword squared norms are QUERY-INDEPENDENT: computed once and
    // folded per corpus row (not per (query, neighbor) pair, where the
    // former per-query _nsq copy re-ran the fold |Q|x|corpus| times and
    // rode every broadcast row)
    val nsq: Seq[Seq[Double]] = Seq.tabulate(m, seed.length) { (s, c) =>
      val w = codebooks(s)(c)
      var acc = 0.0; var i = 0
      while (i < subDim) { acc += w(i) * w(i); i += 1 }
      acc
    }.map(_.toSeq)
    // zero-norm queries have no cosine (their exact rescore is NaN)
    val q = lutRows.filter(_._4 > 0d)
      .toDF("query_id", "_lut", "_qv", "_qn")
    // ADC = Σ_s lut[s][code_s], folded in subspace order (bit-identical
    // to the oracle's list_sum over an s-ordered list); approximate
    // cosine divides by the reconstruction norm √Σ_s ‖w(code_s)‖²
    def lutSum(lutCol: Column): Column =
      aggregate(
        zip_with(col("_codes"), lutCol, (code, row) => element_at(row, code + lit(1))),
        lit(0.0), (acc, x) => acc + x)
    val fv = col(vecCol).cast("array<float>")
    val corpus = emb.select(
      col(idCol).cast("long").as("neighbor_id"),
      fv.as("_v"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("_nrm"),
      graft.functions.FloatVectorPqEncode(fv, codebooks).as("_codes"))
      .filter(col("_nrm") > 0d) // NaN rescores rank first — exclude
      .withColumn("_recon", sqrt(lutSum(typedLit(nsq))))
    val scored = corpus.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("_adc", lutSum(col("_lut")) / col("_recon"))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").desc, col("neighbor_id").asc)
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("_crank", row_number().over(wCand))
      .filter(col("_crank") <= k * candidateFactor)
      .select(
        col("query_id"), col("neighbor_id"),
        (dotFast(col("_qv"), col("_v")) / (col("_qn") * col("_nrm"))).as("score"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
  }

  /** Deterministic random-hyperplane signature: `numPlanes` sign bits,
    * plane p's weight for dimension d derived from md5(p:d) mapped to
    * [-1, 1). Returns (id, bucket) where bucket packs the sign bits.
    */
  def lshBuckets(
      emb: DataFrame,
      numPlanes: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val dims = vectorDims(emb, vecCol)
    // Hyperplanes derived on the driver from the portable md5 family
    // (plane p, dim d ← md5("p:d") mapped to [-1, 1)) and embedded in a
    // codegen'd signature expression; each vector's signature is one
    // tight generated loop, no explode/join, no Seq boxing.
    val planes = hyperplanes(0, numPlanes, dims)
    emb.select(
      col(idCol),
      graft.functions.FloatVectorHyperplaneSignature(
        col(vecCol).cast("array<float>"), planes).as("bucket"))
  }

  /** Hyperplane weights for global plane indices [first, first+count):
    * plane p, dim d ← md5("p:d") mapped to [-1, 1). Banded callers pass
    * `first = band * planesPerBand` so every band draws fresh planes
    * from the same portable family.
    */
  /** Corpus vector width, via ONE bounded aggregate: `head()` of a
    * distributed frame is not stable under ragged widths (a rerun can
    * pick a different first row -> different hyperplanes -> different
    * buckets), crashes on an empty corpus, and NPEs on a null first
    * vector — max(size) is deterministic against all three.
    */
  private def vectorDims(emb: DataFrame, vecCol: String): Int = {
    val r = emb.agg(max(size(col(vecCol)))).head()
    if (r.isNullAt(0))
      throw new graft.store.FeatureValidationError(
        "cannot derive hyperplane dimensionality: corpus is empty or " +
          "every vector is null")
    r.getInt(0)
  }

  private def hyperplanes(first: Int, count: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(count, dims) {
      (p, d) => Hashing.md5Long60Jvm(s"${first + p}:$d").toDouble / math.pow(2, 59) - 1.0
    }

  /** IVF (inverted-file) approximate top-k: a deterministic coarse
    * quantizer assigns every vector to its nearest centroid (one
    * broadcast pass — seed centroids by default, learned k-means
    * centroids via [[ivfTopKWith]] + [[ivfCentroidsKMeans]]), and a
    * query scores only the `nProbe` centroid lists nearest to it.
    * Recall measured against [[bruteForceTopK]] in the test suite.
    *
    * Scale shape: the corpus is scanned once for assignment; per query
    * the candidate set shrinks by ~numCentroids/nProbe. Partitioning the
    * stored corpus by list id turns each probe into a partition-pruned
    * read.
    */
  /** Deterministic IVF SEED centroids: the first `numCentroids` vectors
    * in id order, double-widened — the zero-iteration baseline and the
    * initialization of [[ivfCentroidsKMeans]] (which beats it on
    * recall@k; measured in OpsSpec). Each call returns its own copy of
    * the memoized centroids, so a caller mutating it cannot corrupt the
    * next call's index.
    */
  def ivfCentroids(
      emb: DataFrame,
      numCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Double]] =
    seedCentroids(emb, numCentroids, idCol, vecCol).map(_.clone())

  /** The memoized [[ivfCentroids]] array itself, for internal callers
    * that only read it.
    */
  private def seedCentroids(
      emb: DataFrame,
      numCentroids: Int,
      idCol: String,
      vecCol: String): Array[Array[Double]] =
    // memoized per corpus plan (collision-proof, see [[memoizedOnPlan]]):
    // the seed is a deterministic function of the table version and was
    // re-collected as a full Spark job on every call — every IVF query
    // paid it per invocation
    memoizedOnPlan(emb, s"ivfseed:$numCentroids:$idCol:$vecCol") {
      val spark = emb.sparkSession
      import spark.implicits._
      emb
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
        .as[(Long, Array[Float])]
        .orderBy(col(idCol))
        .limit(numCentroids)
        .collect()
        .map(_._2.map(_.toDouble))
    }

  /** Learned IVF coarse centroids: deterministic Lloyd iterations on
    * top of the [[ivfCentroids]] seed, with the centroid UPDATE in
    * EXACT integer arithmetic — each element contributes
    * `floor(x·10^6 + 0.5)` as a 64-bit integer, the per-(cluster, dim)
    * sums are order-independent, and the new coordinate is one double
    * division `sum/n/10^6` — so the learned centroids are bit-identical
    * across partitionings, cluster sizes AND engines (a plain double
    * mean would drift with aggregation order and break the oracle
    * pairing; quantization error of 10^-6 per element is far below any
    * recall effect). Empty clusters keep their previous centroid.
    *
    * Scale shape per iteration: one broadcast of k·d doubles out, one
    * WIDE partial-aggregated pass back (d per-dimension sums as
    * aggregate columns keyed on the assignment — k·(d+1) numbers per
    * partition through the shuffle; the codegen'd argmax expression
    * computing the assignment runs once per VECTOR as the grouping key,
    * where an explode-based formulation re-evaluates it per element,
    * measured 13× slower) —
    * the corpus is scanned `iters` times and nothing else moves. The
    * wide form fits embedding dims (64-4096); past that, explode with a
    * pre-materialized assignment instead. Seeding from the first k
    * vectors (not a random sample) keeps runs reproducible; k-means||
    * style sampling would drop in here if seed diversity ever matters
    * more than reproducibility. Like [[ivfCentroids]], each call returns
    * its own copy of the memoized centroids.
    */
  def ivfCentroidsKMeans(
      emb: DataFrame,
      numCentroids: Int = 16,
      iters: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Double]] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val seed = seedCentroids(emb, numCentroids, idCol, vecCol)
    if (seed.isEmpty) return Array.empty
    // memoized per corpus plan like the seed: each Lloyd iteration is a
    // full aggregate job, re-run per call before — deterministic in
    // (plan, k, iters) by the exact-integer update, so the memo returns
    // byte-identical centroids
    memoizedOnPlan(emb, s"ivfkmeans:$numCentroids:$iters:$idCol:$vecCol") {
    var cents = seed
    val dims = cents(0).length
    for (_ <- 0 until iters) {
      val sumAggs = (0 until dims).map { d =>
        sum(floor(element_at(col(vecCol), d + 1).cast("double") * 1e6 + 0.5)
          .cast("long")).as(s"_s$d")
      }
      val rows = emb
        // a null embedding makes the (null-intolerant) argmax null: its
        // group would NPE the driver's getInt before the range guard
        .filter(col(vecCol).isNotNull)
        .groupBy(graft.functions.FloatVectorArgmaxDot(
          col(vecCol).cast("array<float>"), cents).as("_c"))
        .agg(count(lit(1)).as("_n"), sumAggs: _*)
        .collect()
      val next = cents.map(_.clone())
      rows.foreach { r =>
        if (r.isNullAt(0)) () else {
          val c = r.getInt(0)
          val n = r.getLong(1)
          if (c >= 0 && c < next.length) {
            var d = 0
            while (d < dims) {
              next(c)(d) = r.getLong(d + 2).toDouble / n / 1e6
              d += 1
            }
          }
        }
      }
      cents = next
    }
    cents
    }.map(_.clone())
  }

  /** Dot products of one vector against every centroid — the shared
    * kernel of index build (argmax list assignment) and query-side probe
    * selection; sequential fold per centroid keeps it oracle-exact.
    */
  private def centroidDots(cs: Array[Array[Double]], v: Seq[Float]): Array[Double] =
    Array.tabulate(cs.length) { c =>
      val w = cs(c)
      var s = 0.0; var i = 0
      val n = math.min(w.length, v.length)
      while (i < n) { s += v(i).toDouble * w(i); i += 1 }
      s
    }

  def ivfTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfTopKWith(
      emb, seedCentroids(emb, numCentroids, idCol, vecCol),
      queryIds, k, nProbe, idCol, vecCol)

  /** [[ivfTopK]] against an explicit centroid set (seeded or learned —
    * [[ivfCentroidsKMeans]]); the probe/score/rank pipeline is
    * identical for any coarse quantizer.
    */
  def ivfTopKWith(
      emb: DataFrame,
      cents: Array[Array[Double]],
      queryIds: Seq[Long],
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val fv = col(vecCol).cast("array<float>")
    val assigned = emb
      .withColumn("_list", graft.functions.FloatVectorArgmaxDot(fv, cents))
      .withColumn("_nrm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .filter(col("_nrm") > 0d) // NaN cosines rank first — see bruteForceTopKFor
    val q = assigned
      .filter(col(idCol).isin(queryIds: _*))
      .select(
        col(idCol).as("query_id"), col(vecCol).as("_qv"),
        col("_nrm").as("_qn"),
        graft.functions.FloatVectorTopCentroids(fv, cents, nProbe).as("_probes"))
    val scored = assigned
      .join(
        broadcast(q),
        array_contains(col("_probes"), col("_list")) && col(idCol) =!= col("query_id"))
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        (dotFast(col("_qv"), col(vecCol)) / (col("_qn") * col("_nrm"))).as("score"))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Build a persistable IVF index: every vector tagged with its
    * inverted-list id (`ivf_list` — argmax centroid dot, first-best on
    * ties) and its norm (`ivf_norm`). Persist with
    * `.write.partitionBy("ivf_list").parquet(...)` — the index is then a
    * plain partitioned table, and [[ivfTopKIndexed]]'s coarse filter
    * prunes whole partitions at the scan. Build cost (one codegen'd
    * assignment pass) is paid once and amortized over every subsequent
    * query — the standard index/query split the one-shot [[ivfTopK]]
    * cannot give.
    */
  def buildIvfIndex(
      emb: DataFrame,
      numCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = seedCentroids(emb, numCentroids, idCol, vecCol)
    emb
      .withColumn("ivf_norm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .withColumn("ivf_list", graft.functions.FloatVectorArgmaxDot(
        col(vecCol).cast("array<float>"), cents))
  }

  /** O(delta) IVF index maintenance — the ANN twin of the store's
    * `registerAppend` and the dedup family's incremental `NearDupIndex`:
    * assign ONLY the new batch against the index's EXISTING centroid
    * set and union it on; the indexed corpus is never rescanned, so a
    * daily ingest pays O(batch) assignment work. With a
    * `partitionBy("ivf_list")`-persisted index, appending is writing
    * the batch's rows into their list partitions.
    *
    * The centroids MUST be the ones the index was built with — they are
    * the index's coarse quantizer, and per-row assignment is
    * deterministic and batch-independent, so an index built in one shot
    * and one built base+append are value-identical (oracle-checked by
    * `ann_ivf_append`). Re-learning centroids on drifted data is a
    * REBUILD ([[buildIvfIndex]]), not an append.
    */
  def appendToIvfIndex(
      index: DataFrame,
      batch: DataFrame,
      centroids: Array[Array[Double]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = batch
      .withColumn("ivf_norm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .withColumn("ivf_list", graft.functions.FloatVectorArgmaxDot(
        col(vecCol).cast("array<float>"), centroids))
    index.unionByName(assigned.select(index.columns.map(col): _*))
  }

  /** Incremental embedding near-dup: a (small) batch of new vectors
    * against an EXISTING IVF index — the embedding twin of
    * [[graft.ops.Dedup.incrementalNearDupPairs]], and the kernel behind
    * [[graft.streaming.StreamingFeatures.embeddingDedupStream]].
    * Output: (new_id, corpus_id, cosine) for candidate pairs at or
    * above `threshold`.
    *
    * Scale shape: the batch's probe lists are computed with the
    * codegen'd top-centroids kernel and collected (≤ |batch|·nProbe
    * ints — bounded, the same driver-side literal step as
    * [[ivfTopKIndexed]]) so the coarse `ivf_list IN (...)` filter
    * reaches a `partitionBy("ivf_list")` index as STATIC partition
    * pruning; the batch then broadcasts onto the pruned lists for exact
    * widen-then-fold rescoring. Work per batch is
    * O(batch · corpusShareOfProbedLists) — the corpus is never
    * self-joined and never fully scanned. Recall is IVF-probabilistic
    * (a true near-dup outside the probed lists is missed); raise
    * `nProbe` to trade cost for recall.
    */
  def incrementalCosineNearDupPairs(
      batch: DataFrame,
      index: DataFrame,
      centroids: Array[Array[Double]],
      threshold: Double,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val fv = col(vecCol).cast("array<float>")
    val q = batch.select(
      col(idCol).cast("long").as("new_id"),
      col(vecCol).as("_qv"),
      sqrt(dotFast(col(vecCol), col(vecCol))).as("_qn"),
      explode(graft.functions.FloatVectorTopCentroids(fv, centroids, nProbe))
        .as("ivf_list"))
      // Spark SQL treats NaN as LARGEST even in >=, so a zero-norm
      // vector's NaN cosine would pass the threshold — exclude both sides
      .filter(col("_qn") > 0d)
    val probeLists: Seq[Any] = q.select("ivf_list").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    index
      .filter(col("ivf_list").isin(probeLists: _*) && col("ivf_norm") > 0d)
      .join(broadcast(q), Seq("ivf_list"))
      .select(
        col("new_id"),
        col(idCol).cast("long").as("corpus_id"),
        (dotFast(col("_qv"), col(vecCol)) / (col("_qn") * col("ivf_norm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Top-k cosine search over a built (typically parquet-round-tripped)
    * IVF index. Probe lists are computed driver-side from the queries'
    * own index rows against the (small, broadcastable) centroid set, so
    * the coarse `ivf_list IN (...)` filter is a LITERAL predicate that
    * reaches a partitioned scan as partition pruning — only ~nProbe of
    * numCentroids of the corpus is read, the scale win of an inverted
    * index. Fine scoring then joins the pruned lists against the
    * broadcast query set; results are identical to [[ivfTopK]] with the
    * same centroids.
    */
  def ivfTopKIndexed(
      index: DataFrame,
      centroids: Array[Array[Double]],
      queryIds: Seq[Long],
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    // the probe computation collects |Q| (vector + norm) rows to the
    // driver — bounded for interactive batches, unguarded OOM at 1M
    // queries. Gate on the ACTUAL payload BEFORE any job: the query
    // vectors share the centroids' dimensionality, so |Q| x (d floats
    // + norm + ~64 B of Row overhead) is exact without touching data
    // (same discipline as pqTopK's LUT guard). Route, don't crash.
    val qBytesPerRow = centroids.headOption.fold(4096L)(_.length * 4L + 72L)
    if (queryIds.size.toLong * qBytesPerRow > (256L << 20))
      throw new graft.store.FeatureValidationError(
        s"ivfTopKIndexed computes probe lists on the driver " +
          s"(${queryIds.size} query vectors x $qBytesPerRow B exceeds " +
          "the 256 MiB collect envelope); batch the queries, or use " +
          "allPairsTopKIvf for corpus-wide scoring")
    val qRows = index
      .filter(col(idCol).isin(queryIds: _*))
      .select(
        col(idCol).cast("long"),
        col(vecCol).cast("array<float>"),
        col("ivf_norm").cast("double"))
      .as[(Long, Array[Float], Double)]
      .collect()
    // zero-norm queries have no cosine — drop them here (NaN scores
    // would rank first under the desc window)
    val probes = qRows.filter(_._3 > 0d).map { case (id, v, n) =>
      val s = centroidDots(centroids, v)
      val pr = s.zipWithIndex.sortBy { case (sc, i) => (-sc, i) }
        .take(nProbe).map(_._2)
      (id, v, n, pr)
    }
    val allProbes: Seq[Any] = probes.flatMap(_._4).distinct.sorted.toSeq
    val pruned = index.filter(
      col("ivf_list").isin(allProbes: _*) && col("ivf_norm") > 0d)
    val qDf = probes.toSeq.toDF("query_id", "_qv", "_qn", "_probes")
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    pruned
      .join(
        broadcast(qDf),
        array_contains(col("_probes"), col("ivf_list")) &&
          col(idCol) =!= col("query_id"))
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        (dotFast(col("_qv"), col(vecCol)) / (col("_qn") * col("ivf_norm")))
          .as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Approximate top-k: score only candidates sharing the query's LSH
    * bucket. Recall < 1 by construction (measured against
    * [[bruteForceTopK]] in the test suite); raise numPlanes ↓ bucket
    * size, lower it ↑ recall.
    */
  def lshTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      numPlanes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // the signature is a pure per-row expression: attach it as a
    // column (one narrow pass, the buildIvfIndex pattern) instead of
    // shuffle-joining lshBuckets' (id, bucket) output back on by id
    val dims = vectorDims(emb, vecCol)
    val withBucket = emb
      .withColumn("bucket",
        graft.functions.FloatVectorHyperplaneSignature(
          col(vecCol).cast("array<float>"), hyperplanes(0, numPlanes, dims)))
      .withColumn("_nrm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .filter(col("_nrm") > 0d) // NaN scores rank first — exclude
    val q = withBucket
      .filter(col(idCol).isin(queryIds: _*))
      .select(
        col(idCol).as("query_id"), col(vecCol).as("_qv"),
        col("bucket"), col("_nrm").as("_qn"))
    val scored = withBucket
      .join(broadcast(q), Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        (dotFast(col("_qv"), col(vecCol)) / (col("_qn") * col("_nrm"))).as("score"))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** k-NN label vote — the classic embedding-space classifier/eval:
    * for each query vector, take the k nearest neighbors by cosine
    * (exact, via [[bruteForceTopK]]) and return the majority label,
    * ties broken by (votes desc, label asc) so the prediction is
    * deterministic. Output: (query_id, predicted_label, n_votes).
    *
    * Scale shape: inherits the broadcast-join + per-query window from
    * [[bruteForceTopK]]; the vote is a partial-aggregated count over at
    * most |queries| * k rows — negligible next to the scoring pass.
    */
  def knnClassify(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    majorityVote(
      bruteForceTopK(emb, queryIds, k, idCol, vecCol), emb, idCol, labelCol)

  /** Deterministic majority vote over a top-k neighbor list: (votes
    * desc, label asc) rank-1 per query.
    */
  private def majorityVote(
      topk: DataFrame,
      emb: DataFrame,
      idCol: String,
      labelCol: String): DataFrame = {
    val labels = emb.select(col(idCol).as("neighbor_id"), col(labelCol))
    val votes = topk
      .join(labels, "neighbor_id")
      .groupBy(col("query_id"), col(labelCol).as("predicted_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("predicted_label").asc)
    votes
      .withColumn("_vr", row_number().over(w))
      .filter(col("_vr") === 1)
      .drop("_vr")
  }

  /** Label-noise audit: run the k-NN vote for EVERY vector and keep
    * the ones whose neighbors out-vote their own label — the standard
    * embedding-space mislabel detector (suspects are candidates for
    * relabeling or exclusion, not proof of error).
    *
    * Scale shape: the all-pairs scoring pass dominates (same cost
    * class as [[cosineNearDupPairs]]); the vote and the label
    * comparison are partial-aggregated shuffles bounded by |vectors|.
    * Past broadcastable corpus size, generate candidates with LSH or
    * the IVF index first and vote only within buckets.
    */
  def knnLabelNoise(
      emb: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    labelNoiseFrom(
      bruteForceTopKFor(emb, None, k, idCol, vecCol), emb, idCol, labelCol)

  /** Size-routed [[knnLabelNoise]]: exact all-pairs scoring inside the
    * broadcast envelope, IVF-bucketed candidates ([[allPairsTopKIvf]])
    * past it — the audit's vote/compare tail is identical either way.
    * `numCentroids = 0` (the default) derives the list count from the
    * MEASURED corpus (~n/64 rows per list, [[derivedListCount]]), so the
    * per-query candidate set stays bounded as the corpus grows; with an
    * explicit `nProbe = numCentroids` the routed path equals the exact
    * one (agreement property-tested in OpsProps).
    */
  def knnLabelNoiseAuto(
      emb: DataFrame,
      k: Int,
      numCentroids: Int = 0,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      // recall TARGET for the routed path: when set, the probe width is
      // DERIVED from the boundary model ([[nProbeFor]]) instead of
      // taken from `nProbe`; the exact kernel is unaffected
      targetRecall: Option[Double] = None): DataFrame = {
    val (n, d) = corpusStats(emb, vecCol)
    val topk =
      // the router is the measurement — skip the kernel's re-assert
      if (fitsBudget(emb, n, d)) allPairsTopKUnchecked(emb, k, idCol, vecCol)
      else {
        val lists = if (numCentroids > 0) numCentroids else derivedListCount(n)
        val probes = targetRecall.map(r => nProbeFor(r, lists)).getOrElse(nProbe)
        allPairsTopKIvf(emb, k, lists, probes, idCol, vecCol)
      }
    labelNoiseFrom(topk, emb, idCol, labelCol)
  }

  /** Shared tail of the label-noise audit: majority-vote the given
    * top-k neighbor list, keep rows whose neighbors out-vote their own
    * label.
    */
  private def labelNoiseFrom(
      topk: DataFrame,
      emb: DataFrame,
      idCol: String,
      labelCol: String): DataFrame = {
    val voted = majorityVote(topk, emb, idCol, labelCol)
    emb
      .select(col(idCol).as("query_id"), col(labelCol).as("label"))
      .join(voted, "query_id")
      .filter(col("predicted_label") =!= col("label"))
      .select(col("query_id").as(idCol), col("label"),
        col("predicted_label"), col("n_votes"))
  }

  /** Per-label centroid sums in exact integer arithmetic: each float
    * element is widened to double, scaled by 1e6 and floor(x+0.5)
    * rounded to a BIGINT — so the per-(label, dim) sums are exact
    * integers whose value is independent of aggregation order, the one
    * property cross-engine double sums cannot give (a centroid is then
    * `sum_q / n / 1e6` on the consumer side, to quantization precision).
    *
    * Scale shape: posexplode fans each vector into (label, dim, x) rows
    * but the count/sum aggregate combines map-side, so the shuffle
    * carries at most |labels| x dims rows per input partition —
    * bounded by cardinality, not corpus size.
    */
  def labelCentroidSums(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("_x").cast("double") * 1e6 + 0.5).cast("long")).as("sum_q"))

  /** EMBEDDING-SPACE DRIFT between two populations of one vector
    * corpus (reference batch vs fresh batch, period A vs period B) —
    * the monitor a production embedding pipeline runs beside ingestion:
    * "did the representation move?". One row:
    *
    *   - `cos_shift`  — cosine between the two population MEAN vectors
    *     (1 = unchanged direction, toward 0/negative = drift);
    *   - `l2_shift`   — Euclidean distance between the mean vectors in
    *     original units.
    *
    * Exactness discipline (same as [[labelCentroidSums]] /
    * `feature_trend`): elements quantize to integer millionths with the
    * floor(x·1e6 + 0.5) form (identical rounding in every engine), all
    * cross-row accumulation is exact integers — per-dim long sums, then
    * decimal(38,0) folds of their products — and the only floating
    * point is the final identical expression tree (string→double casts,
    * two sqrts, one division). The quantization scale CANCELS in the
    * cosine: cos of the quantized-sum vectors IS cos of the mean
    * vectors. l2 reconstructs via the common denominator
    * (sa·n_b − sb·n_a), divided out as doubles at the end.
    *
    * Scale shape: one partial-aggregated shuffle of (dim, four longs) —
    * bounded by the dimensionality, never the corpus — then a
    * dims-row fold to one row. Populations with no rows or zero-norm
    * sums yield null metrics (never NaN/Inf, which are not
    * cross-engine comparable).
    */
  def embeddingDriftSummary(
      emb: DataFrame,
      isGroupA: Column,
      vecCol: String = "embedding"): DataFrame = {
    val dec = "decimal(38,0)"
    val xq = floor(col("_x").cast("double") * 1e6 + 0.5).cast("long")
    val perDim = emb
      .select(isGroupA.as("_a"), posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .groupBy(col("dim"))
      .agg(
        sum(when(col("_a"), 1L).otherwise(0L)).as("_na"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_nb"),
        sum(when(col("_a"), xq).otherwise(0L)).as("_sa"),
        sum(when(!col("_a"), xq).otherwise(0L)).as("_sb"))
    def d(c: Column): Column = c.cast(dec)
    val diff = d(col("_sa")) * d(col("_nb")) - d(col("_sb")) * d(col("_na"))
    val folded = perDim.agg(
      max(col("_na")).as("n_a"),
      max(col("_nb")).as("n_b"),
      sum(d(col("_sa")) * d(col("_sb"))).as("_dot"),
      sum(d(col("_sa")) * d(col("_sa"))).as("_naa"),
      sum(d(col("_sb")) * d(col("_sb"))).as("_nbb"),
      sum(diff * diff).as("_l2q"))
    def toD(c: Column): Column = c.cast("string").cast("double")
    folded.select(
      col("n_a"),
      col("n_b"),
      when(col("_naa") > 0 && col("_nbb") > 0,
        toD(col("_dot")) / (sqrt(toD(col("_naa"))) * sqrt(toD(col("_nbb")))))
        .as("cos_shift"),
      when(col("n_a") > 0 && col("n_b") > 0,
        sqrt(toD(col("_l2q"))) /
          (col("n_a").cast("double") * col("n_b").cast("double") * lit(1e6)))
        .as("l2_shift"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4x storage compression for vector corpora (scale = 127 / max|x|
    * per vector, element -> floor(x * scale + 0.5)). Pure per-row map,
    * zero shuffles.
    *
    * Output keeps the quantized vector as a comma-joined string plus its
    * exact integer squared norm: both are engine-portable (the floor
    * form rounds identically everywhere, unlike round()'s half-case
    * conventions), and the norm doubles as a checksum that a reader can
    * verify after parsing. All-zero vectors get scale 0 and an all-zero
    * code.
    */
  /** Johnson–Lindenstrauss SIGN projection (Achlioptas 2001,
    * "Database-friendly random projections": ±1 entries preserve
    * pairwise distances in expectation like Gaussian projections, at
    * integer cost): compress `inDims`-dim embeddings to `outDims`
    * coordinates, p_j = Σ_i sign(j,i)·q_i over the [[quantizeInt8]]
    * integer code of the vector. The sign matrix derives from the
    * portable md5 family (`rp:<j>:<i>` even/odd — the same convention
    * as every sketch in [[graft.ops.Sketches]]), so the whole transform
    * is EXACT integer arithmetic: bit-identical across engines,
    * partitionings and replays.
    *
    * Scale shape: one pass, zero shuffles, O(n·d·k) integer flops in
    * whole-stage codegen (the per-dim sums are unrolled add chains over
    * `element_at`, not HOF lambdas). At 100 TB this is the cheap
    * preconditioner in front of ANN: a 4× narrower vector cuts index
    * build shuffle bytes and candidate-rescore cost by the same factor,
    * while the JL bound keeps neighbor ranking approximately intact
    * (recall floor pinned in OpsSpec).
    *
    * Output per vector: the projection as a comma-joined string plus
    * its exact integer squared norm (checksum), mirroring
    * [[quantizeInt8]]'s portable shape.
    */
  def projectSigns(
      emb: DataFrame,
      outDims: Int = 16,
      inDims: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    withProjection(emb, outDims, inDims, vecCol)
      .select(
        col(idCol),
        concat_ws(",",
          (0 until outDims).map(j => col(s"_rp_p$j").cast("string")): _*)
          .as("p_vec"),
        (0 until outDims).map(j => col(s"_rp_p$j") * col(s"_rp_p$j"))
          .reduce(_ + _).as("p_norm2"))

  /** `emb` plus the exact-integer JL projection as columns
    * `_rp_p0.._rp_p{outDims-1}` — the shared kernel behind
    * [[projectSigns]] (portable string/checksum shape) and
    * [[annTopKProjected]] (prune-then-rescore).
    */
  private def withProjection(
      emb: DataFrame,
      outDims: Int,
      inDims: Int,
      vecCol: String): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    require(inDims >= 1, s"inDims must be >= 1, got $inDims")
    val signs = Array.tabulate(outDims, inDims)((j, i) =>
      if (Hashing.md5Long60Jvm(s"rp:$j:$i") % 2 == 0L) 1L else -1L)
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val scale = when(maxAbs === 0d, lit(0d)).otherwise(lit(127d) / maxAbs)
    val q = transform(col(vecCol),
      x => floor(x.cast("double") * col("_rp_scale") + lit(0.5d)).cast("long"))
    val pCols = (0 until outDims).map { j =>
      (0 until inDims)
        .map(i => element_at(col("_rp_q"), i + 1) * lit(signs(j)(i)))
        .reduce(_ + _)
        .as(s"_rp_p$j")
    }
    val keep = emb.columns.toSeq.map(col)
    emb
      .withColumn("_rp_scale", scale)
      .withColumn("_rp_q", q)
      .select(keep ++ pCols: _*)
  }

  /** Compressed-prune ANN: rank the corpus per query in the
    * [[projectSigns]] space (exact integer dots, double-sqrt norms —
    * IEEE-portable), keep the top-`candidates` prefix, and EXACT-rescore
    * only that sliver with the full-width cosine kernel. The projected
    * prefix is where the JL guarantee actually bites (see the measured
    * recall table in PLANS.md round-10): top-k RANKING at 16-32 dims is
    * noise-limited, top-C MEMBERSHIP is not.
    *
    * Scale shape: the prune pass reads outDims BIGINTs per row instead
    * of inDims floats and broadcasts only the (tiny) query projections;
    * the d-dim kernel then touches candidates·|queries| rows, not
    * n·|queries|. Composes with IVF for corpora where even the linear
    * projected scan is too much.
    */
  def annTopKProjected(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      candidates: Int = 64,
      outDims: Int = 32,
      inDims: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    // The projection is one fused codegen'd kernel
    // ([[graft.functions.FloatVectorSignProject]]): quantize + 2k
    // integer madds per row, computed INLINE on the scan — no explode,
    // no shuffle, no per-dim expression chains (the unrolled add-chain
    // form OOM'd Catalyst canonicalization at 32x64 terms x 2 join
    // sides; a reference-object matrix keeps the plan O(1) in
    // dimensionality). Projected values are <= 127·inDims, exactly
    // representable as FLOAT, so the codegen'd FloatVectorDot over the
    // packed array is still EXACT integer arithmetic in double form
    // (every product < 2^53).
    val signs = Array.tabulate(outDims, inDims)((j, i) =>
      if (Hashing.md5Long60Jvm(s"rp:$j:$i") % 2 == 0L) 1L else -1L)
    def projectedOf(df: DataFrame): DataFrame = df
      .select(
        col(idCol).cast("long").as("_id"),
        col(vecCol).as("_v"),
        graft.functions.FloatVectorSignProject(col(vecCol), signs).as("_p"))
      .withColumn("_pn", sqrt(dotFast(col("_p"), col("_p"))))
    // a zero projected norm (all-zero or empty embedding, or full
    // integer cancellation) has no cosine: without this filter _pscore
    // is NaN, which desc-orders LARGEST in Spark and floods the
    // candidate prefix with meaningless pairs
    // SKINNY corpus for the prune pass: outDims floats + a norm per
    // row — the raw inDims-wide vectors never ride the candidate-rank
    // exchange. The query side re-derives its (tiny) projections from
    // a second scan with the id filter pushed down. The projection
    // kernel + |corpus|·|queries| prune dots are the op's compute
    // body; fan a narrow scan out first (a small corpus arrives as one
    // parquet split and would otherwise prune on one core — measured
    // 0.55 s of the bench total in a single task; see
    // [[Dedup.fanOutNarrowScan]] for the scale-safety argument).
    val corpus = projectedOf(Dedup.fanOutNarrowScan(emb))
      .select(col("_id").as("neighbor_id"), col("_p"), col("_pn"))
      .filter(col("_pn") > 0d)
    val queries = projectedOf(emb.filter(col(idCol).isin(queryIds: _*)))
      .select(
        col("_id").as("query_id"),
        col("_v").as("_qv"), col("_p").as("_qp"), col("_pn").as("_qpn"))
      .filter(col("_qpn") > 0d)
    val pruned = corpus
      .join(broadcast(queries.select(col("query_id"), col("_qp"), col("_qpn"))),
        col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        (dotFast(col("_qp"), col("_p")) / (col("_qpn") * col("_pn")))
          .as("_pscore"))
    val wC = Window
      .partitionBy(col("query_id"))
      .orderBy(col("_pscore").desc, col("neighbor_id").asc)
    // candidates·|queries| skinny rows — broadcastable at any corpus
    // size, so the exact rescore re-reads the raw vectors with a
    // broadcast-hash join against the scan (no corpus-wide exchange,
    // unlike the former plan's emb ⋈ projected shuffle join)
    val sliver = pruned
      .withColumn("_crank", row_number().over(wC))
      .filter(col("_crank") <= candidates)
      .select(col("query_id"), col("neighbor_id"))
    val wK = Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    emb
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("_v"))
      .join(broadcast(sliver), "neighbor_id")
      .join(broadcast(queries.select(col("query_id"), col("_qv"))), "query_id")
      .select(
        col("query_id"),
        col("neighbor_id"),
        (dotFast(col("_qv"), col("_v")) /
          (sqrt(dotFast(col("_qv"), col("_qv"))) *
            sqrt(dotFast(col("_v"), col("_v"))))).as("score"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
  }

  def quantizeInt8(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val scale = when(maxAbs === 0d, lit(0d)).otherwise(lit(127d) / maxAbs)
    val q = transform(col(vecCol),
      x => floor(x.cast("double") * col("q_scale") + lit(0.5d)).cast("long"))
    emb
      .withColumn("q_scale", scale)
      .withColumn("_q", q)
      .select(
        col(idCol),
        col("q_scale"),
        array_join(transform(col("_q"), _.cast("string")), ",").as("q_vec"),
        aggregate(col("_q"), lit(0L), (acc, v) => acc + v * v).as("q_norm2"))
  }
}
