package graftbench

import java.security.MessageDigest
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** curate_corpus: batch. Each unit curates a fresh generated corpus —
  * exactDuplicates, verifiedNearDupPairs, ivfTopK and qualityScore —
  * with planted exact copies, near-duplicate clusters and nearest
  * neighbours as ground truth. It never touches the store.
  */
final class CurateCorpus(ctx: Ctx) extends Workload {
  import ctx._
  import CurateCorpus._

  private var fp = ""
  private val pending = mutable.ArrayBuffer.empty[Result]
  private var next = 0L
  private var truePairs, foundPairs = 0L
  // traced units only: LSH candidates and the true pairs found among them
  private var candidates, tracedFound = 0L
  private var annHits, annWanted = 0L

  def loop: String = "batch, 1 client"

  /** There is no store to load: set-up is the program's first-call cost,
    * pipeline passes over set-up corpora of `SetupDocs` documents — a
    * cold one (class loading, codegen, JIT) and then `reps` timed ones.
    */
  def setup(reps: Int): Double = {
    val (_, secs) = Harness.repeated(reps) { i =>
      val c = corpus(SetupBase + i, SetupDocs)
      val docs = frameOf(c.docs, DocSchema)
      Seq(Dedup.exactDuplicates(docs), Dedup.verifiedNearDupPairs(docs, Threshold),
        Similarity.ivfTopK(frameOf(c.vectors, VecSchema), c.queries, K),
        TextAnalysis.qualityScore(docs)).foreach(_.collect())
    }
    fp = Gen.combine(Seq(corpus(0L, Docs), corpus(SetupBase, SetupDocs)).map { c =>
      s"${RowHash.multiset(c.docs, DocSchema.fieldNames.toSeq)}${RowHash.multiset(c.vectors, VecSchema.fieldNames.toSeq)}"
    })
    secs
  }

  def fingerprint: String = fp

  private def frameOf(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def once(index: Long): Unit = {
    val c = corpus(index, Docs)
    val docs = frameOf(c.docs, DocSchema)
    val emb = frameOf(c.vectors, VecSchema)
    val traced = h.tracer.isDefined
    val done = h.unit("curate", Docs) { req =>
      Result(req.id, index, traced,
        h.frame(req, "ops.exactDuplicates")(Dedup.exactDuplicates(docs)),
        h.frame(req, "ops.verifiedNearDupPairs")(Dedup.verifiedNearDupPairs(docs, Threshold)),
        h.frame(req, "ops.ivfTopK")(Similarity.ivfTopK(emb, c.queries, K)),
        h.frame(req, "ops.qualityScore")(TextAnalysis.qualityScore(docs)))
    }
    if (h.recording) done.foreach(pending += _)
  }

  /** Every result against the planted truth and a driver recomputation;
    * returns how many true near-duplicate pairs were found.
    */
  private def check(u: Long, c: Corpus, exact: Array[Row], pairs: Array[Row], ann: Array[Row],
      quality: Array[Row]): Int = {
    def bad(why: String): Unit = h.fail(u, why)
    val texts = c.docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    // exact duplicates: one row per distinct text
    val wantExact = c.docs.groupBy(_.getString(1)).toSeq.map { case (t, rs) =>
      Row(md5(t), rs.map(_.getLong(0)).min, rs.size.toLong)
    }
    val exactCols = Seq("content_hash", "keep_id", "n_copies")
    if (RowHash.multiset(exact, exactCols) != RowHash.multiset(wantExact, exactCols)) bad("exactDuplicates differs")
    // near duplicates: every reported pair is exact, recall over the truth
    val shingles = mutable.HashMap.empty[Long, Set[String]]
    def sh(id: Long) = shingles.getOrElseUpdate(id, shingleSet(texts(id)))
    val got = pairs.map { r =>
      val (a, b, j) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))
      val want = jaccard(sh(a), sh(b))
      if (a >= b || math.abs(j - want) > 1e-12 || want < Threshold)
        bad(s"verifiedNearDupPairs pair ($a,$b) jaccard $j, want $want")
      (a, b)
    }.toSet
    val truth = c.groups.flatMap { g =>
      for (a <- g; b <- g if a < b && jaccard(sh(a), sh(b)) >= Threshold) yield (a, b)
    }.toSet
    val found = truth.count(got)
    truePairs += truth.size
    foundPairs += found
    // nearest neighbours: recall@K against brute-force cosine
    val vec = c.vectors.map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val byQuery = ann.groupBy(_.getAs[Long]("query_id"))
    c.queries.foreach { q =>
      val exactTop = vec.keys.filter(_ != q).toSeq
        .sortBy(id => (-cosine(vec(q), vec(id)), id)).take(K).toSet
      val rows = byQuery.getOrElse(q, Array.empty[Row])
      if (rows.length != K) bad(s"ivfTopK query $q returned ${rows.length} rows, want $K")
      rows.foreach { r =>
        val n = r.getAs[Long]("neighbor_id")
        val s = r.getAs[Double]("score")
        if (math.abs(s - cosine(vec(q), vec(n))) > 1e-5) bad(s"ivfTopK score of ($q,$n) is $s")
      }
      annHits += rows.count(r => exactTop(r.getAs[Long]("neighbor_id")))
      annWanted += K
    }
    // quality score: the documented formula, recomputed
    if (quality.length != Docs) bad(s"qualityScore returned ${quality.length} rows")
    quality.foreach { r =>
      val want = qualityOf(texts(r.getAs[Long]("doc_id")))
      if (math.abs(r.getAs[Double]("quality_score") - want) > 1e-12)
        bad(s"qualityScore of doc ${r.getAs[Long]("doc_id")} is ${r.getAs[Double]("quality_score")}, want $want")
    }
    found
  }

  /** Four units past the set-up passes: after two, measured units still
    * sped up over a run while the JIT caught up; after four they are about
    * flat.
    */
  def warmup(): Unit = (0 until 4).foreach(i => once(WarmBase + i))

  def measure(seconds: Double): Unit =
    h.closedLoop(seconds) { next += 1; once(next - 1) }

  /** Checks every recorded unit after the loop, so the checks never eat
    * into the measured seconds.
    */
  def verify(): Unit = {
    pending.foreach { r =>
      val c = corpus(r.index, Docs)
      val found = check(r.unit, c, r.exact, r.pairs, r.ann, r.quality)
      if (r.traced) {
        candidates += Dedup.lshCandidatePairs(frameOf(c.docs, DocSchema), 16, 4).count()
        tracedFound += found
      }
    }
    pending.clear()
  }

  def dedupRecall: Double = Stats.ratio(foundPairs, truePairs)
  def annRecall: Double = Stats.ratio(annHits, annWanted)
  /** Both recalls multiply: either one dropping shows in proportion. */
  def resultRecall: Double = dedupRecall * annRecall

  def named(busyS: Double): Seq[Metric] = {
    val ok = h.okUnits
    Seq(
      Metric("curate.docs_per_s", ok.map(_.items).sum / busyS, "docs/s", ok.size),
      Metric("curate.ann_recall_at_k", annRecall, "ratio", annWanted),
      Metric("curate.dedup_pair_recall", dedupRecall, "ratio", truePairs))
  }

  override def layerExtras(tracer: Tracer, listener: TraceListener): Map[String, Double] = Map(
    "ops.lsh_candidates_per_true_pair" -> Stats.ratio(candidates, tracedFound),
    "curate.ann_recall_at_k" -> annRecall,
    "curate.dedup_pair_recall" -> dedupRecall)

  /** A corpus: base documents, exact copies, near-duplicate variants
    * (1-3 token substitutions), and vectors with planted neighbours
    * around each query.
    */
  private def corpus(index: Long, n: Int): Corpus = {
    val rng = Rng.stream(seed, "corpus", index)
    val docs = mutable.ArrayBuffer.empty[Array[String]]
    val groups = mutable.ArrayBuffer.empty[Seq[Int]]
    while (docs.size < n) {
      val base = Array.fill(40 + rng.nextInt(41)) {
        if (rng.nextInt(10) < 3) TextAnalysis.Stopwords(rng.nextInt(TextAnalysis.Stopwords.size))
        else s"w${rng.zipf(Vocab)}"
      }
      val roll = rng.nextInt(100)
      val copies =
        if (roll < 5) Seq.fill(1 + rng.nextInt(2))(base.clone())
        else if (roll < 15) Seq.fill(1 + rng.nextInt(3)) {
          val v = base.clone()
          (0 until 1 + rng.nextInt(3)).foreach(_ => v(rng.nextInt(v.length)) = s"x${rng.nextInt(Vocab)}")
          v
        } else Nil
      val members = (base +: copies).take(n - docs.size)
      if (members.size > 1) groups += members.indices.map(_ + docs.size)
      docs ++= members
    }
    // shuffle ids so planted groups are not adjacent
    val ids = (0L until n).toArray
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docRows = docs.indices.map(i => Row(ids(i), docs(i).mkString(" ")))
    val vecs = Array.fill(n)(gaussian(rng))
    val queries = (0 until Queries).map(q => q * (K + 1))
    queries.foreach { q =>
      (1 to K).foreach(j => vecs(q + j) = vecs(q).map(x => x + 0.05f * normal(rng).toFloat))
    }
    val vecRows = vecs.indices.map(i => Row(ids(i), vecs(i).toSeq))
    Corpus(docRows, groups.map(_.map(ids(_))).toSeq, vecRows, queries.map(ids(_)))
  }

  private def gaussian(rng: Rng): Array[Float] = Array.fill(Dim)(normal(rng).toFloat)

  /** Box-Muller standard normal. */
  private def normal(rng: Rng): Double =
    math.sqrt(-2 * math.log(math.max(rng.nextDouble(), 1e-12))) * math.cos(2 * math.Pi * rng.nextDouble())
}

object CurateCorpus {
  /** One recorded unit's results, checked after the timed loop. */
  final case class Result(unit: Long, index: Long, traced: Boolean, exact: Array[Row], pairs: Array[Row],
      ann: Array[Row], quality: Array[Row])
  final case class Corpus(docs: Seq[Row], groups: Seq[Seq[Long]], vectors: Seq[Row], queries: Seq[Long])

  val Docs = 2500
  val SetupDocs = 1000
  val Vocab = 5000
  val Dim = 32
  val Queries = 20
  val K = 10
  val Threshold = 0.7
  val SetupBase = 1L << 41
  val WarmBase = 1L << 40
  val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType, nullable = false)))
  val VecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Distinct word 3-grams, as the program's near-duplicate path shingles. */
  def shingleSet(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** TextAnalysis.qualityScore's documented formula. */
  def qualityOf(text: String): Double = {
    val toks = text.split(" ", -1)
    val n = toks.length
    val stop = toks.count(TextAnalysis.Stopwords.contains).toDouble / n
    val distinct = toks.distinct.length.toDouble / n
    val avgLen = (text.length - n + 1).toDouble / n
    0.3 * stop + 0.5 * distinct + 0.2 * (if (avgLen >= 3.0 && avgLen <= 8.0) 1.0 else 0.0)
  }
}
