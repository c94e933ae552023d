package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Semantics of the north-star operators on hand-computed fixtures, plus
  * recall of the approximate (LSH) paths against exact baselines on the
  * real sf0.001 embeddings.
  */
class OpsSpec extends AnyFunSuite with SparkTestBase {

  private def docsDF(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("textStats counts chars, tokens, distinct tokens") {
    val out = TextAnalysis
      .textStats(docsDF(1L -> "a b c a"))
      .collect()
      .head
    assert(out.getAs[Int]("n_chars") == 7)
    assert(out.getAs[Int]("n_tokens") == 4)
    assert(out.getAs[Int]("n_distinct_tokens") == 3)
    assert(out.getAs[Double]("avg_token_len") == 1.0)
  }

  test("BPE-ish token estimate chunks alnum runs at 4 chars") {
    val out = TextAnalysis
      .textStats(docsDF(1L -> "hello world"))
      .collect()
      .head
    // hell|o + worl|d → 4 subword chunks
    assert(out.getAs[Int]("n_tokens_bpe") == 4)
  }

  test("bigramRepetition finds the dominant bigram with lexicographic tie-break") {
    // bigrams of "b a b a b": (b a)(a b)(b a)(a b) → 4 total, 2 distinct,
    // tie at n=2 broken to "a b"
    val out = TextAnalysis
      .bigramRepetition(docsDF(1L -> "b a b a b", 2L -> "x"))
      .collect()
    assert(out.length == 1) // single-token doc 2 emits nothing
    val r = out.head
    assert(r.getAs[Long]("n_bigrams") == 4L)
    assert(r.getAs[Long]("n_distinct_bigrams") == 2L)
    assert(r.getAs[String]("top_bigram") == "a b")
    assert(r.getAs[Long]("top_bigram_n") == 2L)
    assert(r.getAs[Double]("top_bigram_frac") == 0.5)
  }

  test("lmScore: add-one bigram model, micro-nat quantization, unseen backoff") {
    val ref = docsDF(10L -> "a b a b")
    val out = TextAnalysis
      .lmScore(docsDF(1L -> "a b", 2L -> "z z", 3L -> "a"), ref)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 2) // single-token doc 3 emits nothing
    // model: c12(a,b)=2, c1(a)=2, V=2 → P(b|a) = (2+1)/(2+2)
    assert(out(1L).getAs[Long]("n_bigrams") == 1L)
    assert(out(1L).getAs[Long]("sum_logp_micro") ==
      math.round(math.log(3.0 / 4.0) * 1e6))
    // unseen bigram AND unseen prefix back off to 1/V
    assert(out(2L).getAs[Long]("sum_logp_micro") ==
      math.round(math.log(1.0 / 2.0) * 1e6))
    // in-model text reads as less surprising than gibberish
    assert(out(1L).getAs[Double]("avg_logp_micro") >
      out(2L).getAs[Double]("avg_logp_micro"))
  }

  test("regexRedact counts and replaces all matches") {
    val out = TextAnalysis
      .regexRedact(docsDF(1L -> "the customer sent an order to the table"),
        TextAnalysis.PiiPattern)
      .collect()
      .head
    assert(out.getAs[Int]("n_matches") == 2)
    assert(out.getAs[String]("redacted") ==
      "the <REDACTED> sent an <REDACTED> to the table")
  }

  test("gopherStats word-shape signals match hand computation") {
    val out = TextAnalysis
      .gopherStats(docsDF(1L -> "abc x12 longword !"))
      .collect()
      .head
    assert(out.getAs[Int]("n_words") == 4)
    assert(out.getAs[Int]("min_word_len") == 1)
    assert(out.getAs[Int]("max_word_len") == 8)
    assert(out.getAs[Int]("n_digit_chars") == 2)
    assert(out.getAs[Int]("n_symbol_chars") == 1)
    assert(out.getAs[Double]("frac_alpha_words") == 0.5)
  }

  test("tfIdfTopTerm picks the rarest-weighted term per doc") {
    // N=2. doc 1: "a a b" → a: tf=2,df=2 → 2*3/3=2.0; b: tf=1,df=1 → 1*3/2=1.5
    // doc 2: "a c" → a: 1*3/3=1.0; c: 1*3/2=1.5 → c wins
    val out = TextAnalysis
      .tfIdfTopTerm(docsDF(1L -> "a a b", 2L -> "a c"))
      .orderBy("doc_id")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toList ==
      List((1L, "a", 2L, 2L, 2.0), (2L, "c", 1L, 1L, 1.5)))
  }

  test("quantizeInt8 maps extremes to +-127 and keeps the exact norm") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(2.0f, -1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df).orderBy("vec_id").collect()
    // vec 1: scale 63.5 → codes 127, floor(-63.5+0.5) = -63, 0
    assert(out(0).getAs[Double]("q_scale") == 63.5)
    assert(out(0).getAs[String]("q_vec") == "127,-63,0")
    assert(out(0).getAs[Long]("q_norm2") == 127L * 127 + 63L * 63)
    // all-zero vector: scale 0, zero code
    assert(out(1).getAs[Double]("q_scale") == 0.0)
    assert(out(1).getAs[String]("q_vec") == "0,0,0")
    assert(out(1).getAs[Long]("q_norm2") == 0L)
  }

  test("qualityScore formula matches hand computation") {
    // "the fast table scan" — 1 stopword of 4 tokens, all distinct,
    // avg token len (19-3)/4 = 4.0 → in [3,8] band
    val out = TextAnalysis
      .qualityScore(docsDF(1L -> "the fast table scan"))
      .collect()
      .head
    assert(out.getAs[Double]("stopword_ratio") == 0.25)
    assert(out.getAs[Double]("distinct_ratio") == 1.0)
    assert(out.getAs[Double]("quality_score") == 0.3 * 0.25 + 0.5 * 1.0 + 0.2 * 1.0)
  }

  test("langId picks marker-hit argmax with deterministic tie order") {
    val out = TextAnalysis
      .langId(docsDF(
        1L -> "der hund und die katze ist",
        2L -> "no markers here",
        3L -> "le chat et la mer est"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang"))
      .toMap
    assert(out(1L) == "de")
    assert(out(2L) == "en") // all-zero tie → first in priority order
    assert(out(3L) == "fr")
  }

  test("fingerprint is normalization-invariant and content-sensitive") {
    val out = TextAnalysis
      .fingerprint(docsDF(1L -> "  Hello World ", 2L -> "hello world", 3L -> "other"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fingerprint"))
      .toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("exactDuplicates groups identical texts, keeps min id") {
    val out = Dedup
      .exactDuplicates(docsDF(5L -> "same text here", 2L -> "same text here", 9L -> "unique"))
      .collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies"))
      .toMap
    assert(out(2L) == 2L)
    assert(out(9L) == 1L)
  }

  test("wordShingles emits distinct n-grams, none for short docs") {
    val sh = Dedup.wordShingles(docsDF(1L -> "a b c d", 2L -> "x y"), n = 3)
    val got = sh.collect().map(_.getAs[String]("shingle")).sorted.toSeq
    assert(got == Seq("a b c", "b c d"))
  }

  test("ngramJaccard: identical docs → 1.0; disjoint → no pair") {
    val out = Dedup
      .ngramJaccardPairs(
        docsDF(
          1L -> "the quick brown fox jumps over dogs",
          2L -> "the quick brown fox jumps over dogs",
          3L -> "completely different words in this one"),
        n = 3, threshold = 0.5)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id_a") == 1L)
    assert(out.head.getAs[Long]("id_b") == 2L)
    assert(out.head.getAs[Double]("jaccard") == 1.0)
  }

  test("minhash LSH surfaces identical docs as candidates") {
    val out = Dedup
      .lshCandidatePairs(
        docsDF(
          1L -> "the quick brown fox jumps over the lazy dogs",
          2L -> "the quick brown fox jumps over the lazy dogs",
          3L -> "completely different words in this one today"),
        numPerms = 16, rowsPerBand = 4)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("verifiedNearDupPairs = exact Jaccard restricted to LSH candidates") {
    val s = spark
    import s.implicits._
    // two identical docs (J=1), one unrelated
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "z y x w v u t s"))
      .toDF("doc_id", "text")
    val out = Dedup.verifiedNearDupPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(out == List((1L, 2L, 1.0)))
    // agreement with the all-pairs exact op on its own candidates: every
    // verified pair must appear in ngramJaccardPairs with the same score
    val allPairs = Dedup.ngramJaccardPairs(df, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out.toSet.subsetOf(allPairs))
  }

  test("decontaminateBloom is bit-identical to the exact decontaminate") {
    val s = spark
    import s.implicits._
    val eval = Seq(
      (100L, "held out question one two three"),
      (101L, "another secret benchmark passage here")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "totally clean document with fresh words"),
      (2L, "contains question one two three inside"), // overlaps eval 100
      (3L, "secret benchmark passage here verbatim"), // overlaps eval 101
      (4L, "short one"), // shorter than any n-gram
      (5L, "question one two three question one two three")) // repeated overlap
      .toDF("doc_id", "text")
    for (n <- Seq(2, 3, 4)) {
      val exact = TextAnalysis.decontaminate(corpus, eval, n)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      // a tiny filter forces a realistic bits/item ratio; FPs may enter
      // the candidate set but the verify join must remove every one
      val bloom = TextAnalysis.decontaminateBloom(
        corpus, eval, n, expectedGrams = 64L, numBits = 1024L)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(bloom == exact, s"bloom path diverged at n=$n")
    }
  }

  test("decontaminateBloom sizes for every distinct eval n-gram of a compressed parquet set") {
    val s = spark
    import s.implicits._
    // one-letter tokens from a 26-letter alphabet: the text compresses
    // well on disk, yet nearly every trigram position is a new trigram
    val rng = new scala.util.Random(17)
    val texts = (0 until 300).map(_ => Seq.fill(100)(('a' + rng.nextInt(26)).toChar).mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_size").toString + "/eval"
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir)
    val eval = spark.read.parquet(dir)
    val distinct = texts.flatMap(_.split(" ").sliding(3).map(_.mkString(" "))).distinct.size
    val items = TextAnalysis.bloomItems(eval, expectedGrams = 3500000L)
    assert(items >= distinct, s"filter sized for $items items, eval set has $distinct trigrams")
    val corpus = Seq(
      (1L, texts(3).take(41)), // a slice of an eval text: contaminated
      (2L, "x y z q x y z q"),
      (3L, texts(7) + " " + texts(9))).toDF("doc_id", "text")
    val exact = TextAnalysis.decontaminate(corpus, eval, 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val bloom = TextAnalysis.decontaminateBloom(corpus, eval, 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(bloom == exact)
  }

  test("duplicateSpans reports cross-document repeated windows only") {
    val s = spark
    import s.implicits._
    val shared = "one two three four" // a full width-4 window
    val df = Seq(
      (1L, s"$shared alpha beta gamma delta"),
      (2L, s"prefix word pad junk $shared"),
      (3L, "entirely different content here now")).toDF("doc_id", "text")
    val out = TextAnalysis.duplicateSpans(df, width = 4, stride = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // exactly the shared window survives: 2 docs, 2 occurrences
    assert(out.toSeq == Seq((2L, 2L)))
    // a window repeated WITHIN one doc does not qualify
    val within = Seq((1L, s"$shared $shared")).toDF("doc_id", "text")
    assert(TextAnalysis.duplicateSpans(within, width = 4, stride = 4).isEmpty)
  }

  test("duplicateSpans keeps one row per span under duplicate doc ids") {
    val s = spark
    import s.implicits._
    val shared = "one two three four"
    val clean = Seq(
      (1L, s"$shared alpha beta gamma delta"),
      (2L, s"prefix word pad junk $shared")).toDF("doc_id", "text")
    val expected = TextAnalysis.duplicateSpans(clean, width = 4, stride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(expected.nonEmpty)
    // dirty input: the representative's id occurs on EXTRA rows, one of
    // them with entirely different text — the recovery join must neither
    // fan out (one output row per span) nor re-slice the wrong row's
    // text into a wrong span_hash
    val dirty = Seq(
      (1L, s"$shared alpha beta gamma delta"),
      (1L, s"$shared alpha beta gamma delta"), // exact duplicate row
      (1L, "totally unrelated words live here today"), // same id, other text
      (2L, s"prefix word pad junk $shared")).toDF("doc_id", "text")
    val got = TextAnalysis.duplicateSpans(dirty, width = 4, stride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // counts shift with the extra copies (3 docs is still 2 DISTINCT ids
    // but occurrences rise); the contract under test is row multiplicity
    // and span identity: one row per surviving span, same span_hash as
    // the clean run
    assert(got.length == got.map(_._1).distinct.length,
      "exactly one output row per distinct span_hash")
    assert(got.map(_._1).toSet == expected.map(_._1).toSet,
      "dirty input must recover the same span content (same span_hash)")
  }

  test("incrementalNearDupPairs verifies batch docs against the corpus only") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z y x w v u t s"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a b c d e f g h"), // dup of corpus doc 1
      (11L, "totally novel content never seen anywhere")).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDupPairs(incoming, corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(out == List((10L, 1L, 1.0)))
    // corpus-internal duplicates must NOT appear (no corpus self-join)
    val corpusWithDup = corpus.unionByName(
      Seq((4L, "a b c d e f g h")).toDF("doc_id", "text"))
    val out2 = Dedup.incrementalNearDupPairs(incoming, corpusWithDup, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2 == Set((10L, 1L), (10L, 4L)))
  }

  test("connectedComponents labels each node with its min reachable id") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4-5 (diameter 4, needs multiple rounds), pair {10,11},
    // triangle-ish {20,21},{21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: non-Comparable (binary) ids route to the distributed path") {
    val s = spark
    import s.implicits._
    // Array[Byte] external ids are NOT java.lang.Comparable — the
    // driver-side union-find would CCE on them, so the size-adaptive
    // routing must pick the distributed min-label path even for a tiny
    // edge list, and still produce the min-reachable-id labeling.
    def b(x: Int): Array[Byte] = Array(x.toByte)
    val pairs = Seq((b(1), b(2)), (b(2), b(3)), (b(10), b(11)))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect()
      .map(r => (r.getAs[Array[Byte]](0).head, r.getAs[Array[Byte]](1).head))
      .toMap
    assert(got == Map(
      1.toByte -> 1.toByte, 2.toByte -> 1.toByte, 3.toByte -> 1.toByte,
      10.toByte -> 10.toByte, 11.toByte -> 10.toByte))
  }

  test("simhash: identical text → hamming 0, different text > 0") {
    val pairs = Dedup
      .simhashPairs(
        docsDF(
          1L -> "spark query engine runs fast",
          2L -> "spark query engine runs fast",
          3L -> "totally unrelated content words entirely elsewhere"),
        maxHamming = 0)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSeq
      == Seq((1L, 2L, 0)))
  }

  private def embDF(rows: (Long, Seq[Float])*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("cosine: self = 1, orthogonal = 0, ranking correct") {
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f),
      2L -> Seq(1f, 0f, 0f),
      3L -> Seq(0.8f, 0.6f, 0f))
    val top = Similarity
      .bruteForceTopK(e, Seq(0L), k = 3)
      .collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"), r.getAs[Int]("rank")))
    assert(top.head == ((2L, 1.0, 1)))          // identical vector first
    // float32 inputs: 0.8f/0.6f carry ~1e-8 representation error
    assert(top(1)._1 == 3L && math.abs(top(1)._2 - 0.8) < 1e-6)
    assert(top(2) == ((1L, 0.0, 3)))            // orthogonal last
  }

  test("cosineNearDupPairs finds the duplicated vector only") {
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f),
      2L -> Seq(1f, 0f, 0f))
    val pairs = Similarity.cosineNearDupPairs(e, threshold = 0.99).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 2L)))
  }

  test("LSH topk recall vs brute force on real embeddings (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ids = (0L to 9L)
    val exact = Similarity.bruteForceTopK(e, ids, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(e, ids, k = 3, numPlanes = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approx.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"LSH recall@3 = $recall%.2f (4 planes)")
    // deterministic given the hash-derived planes; measured 0.27 on
    // this corpus (PLANS.md round-9 recall table) — a regression in
    // bucketing/scoring trips the pinned floor
    assert(recall >= 0.25)
  }

  test("IVF topk recall vs brute force on real embeddings (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ids = (0L to 9L)
    val exact = Similarity.bruteForceTopK(e, ids, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.ivfTopK(e, ids, k = 3, numCentroids = 8, nProbe = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approx.size == exact.size) // every query still gets k results
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"IVF recall@3 = $recall%.2f (8 lists, probe 4)")
    // deterministic given the fixed centroid seed; measured 0.90
    // (PLANS.md round-9 recall table)
    assert(recall >= 0.85)
  }

  test("JL sign projection: checksum exact, prune-then-rescore recall floor (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val proj = Similarity.projectSigns(e, outDims = 32, inDims = 64).collect()
      .map { r =>
        val p = r.getAs[String]("p_vec").split(",").map(_.toLong)
        // the integer squared norm doubles as a parse checksum
        assert(p.map(x => x * x).sum == r.getAs[Long]("p_norm2"))
        r.getAs[Long]("vec_id") -> p
      }.toMap
    assert(proj.size == e.count())
    // the projection's documented contract is CANDIDATE PRUNING, not
    // final ranking: at 16-32 dims the JL noise (~1/sqrt(k)) is
    // comparable to this corpus's 0.3-0.4 neighbor similarities, so
    // strict top-3 agreement is weak BY MATH — but the exact top-3
    // must survive inside a 64-candidate projected prefix (a 13% scan
    // fraction), which is how a pruner is used: narrow top-C in
    // projected space, exact rescore on the sliver
    val ids = (0L to 9L)
    val exact = Similarity.bruteForceTopK(e, ids, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val na = math.sqrt(a.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
      if (na == 0 || nb == 0) -2d else dot / (na * nb)
    }
    val candidates = ids.flatMap { q =>
      proj.toSeq.filter(_._1 != q)
        .map { case (id, p) => (id, cos(proj(q), p)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(64)
        .map { case (id, _) => (q, id) }
    }.toSet
    val recall = exact.intersect(candidates).size.toDouble / exact.size
    info(f"JL 64->32 recall@3 within 64 candidates = $recall%.2f")
    // deterministic given the md5-derived sign matrix; measured 0.80 on
    // this corpus (PLANS.md round-10 JL table: k=16/32 x C=16/32/64)
    assert(recall >= 0.75)

    // the composed prune-then-rescore op must realize exactly that
    // recall: exact rescoring recovers true ranks within the sliver,
    // so its top-3 agreement with brute force EQUALS the membership
    // recall above
    val composed = Similarity
      .annTopKProjected(e, ids, k = 3, candidates = 64, outDims = 32)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val composedRecall = exact.intersect(composed).size.toDouble / exact.size
    info(f"annTopKProjected recall@3 = $composedRecall%.2f")
    assert(composedRecall == recall)
  }

  test("every ANN kernel excludes zero/null vectors (NaN ranks first under desc sort)") {
    val s = spark
    import s.implicits._
    // id 3 is all-zero, id 4 is null: both have no cosine; unguarded,
    // their NaN scores occupy rank 1 of every query's top-k
    val e = Seq(
      (0L, Some(Seq(1f, 0f, 0f))),
      (1L, Some(Seq(0.9f, 0.1f, 0f))),
      (2L, Some(Seq(0f, 0f, 1f))),
      (3L, Some(Seq(0f, 0f, 0f))),
      (4L, None: Option[Seq[Float]]))
      .toDF("vec_id", "embedding")
    def neighbors(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getAs[Long]("neighbor_id")).toSet
    val brute = Similarity.bruteForceTopK(e, Seq(0L), k = 2)
    assert(!neighbors(brute).contains(3L) && !neighbors(brute).contains(4L))
    assert(brute.collect().forall(r => !r.getAs[Double]("score").isNaN))
    val all = Similarity.bruteForceTopKFor(e, None, k = 2)
    assert(!neighbors(all).contains(3L) && !neighbors(all).contains(4L))
    // the zero vector also emits no rows as a QUERY
    assert(all.filter(col("query_id").isin(3L, 4L)).isEmpty)
    val ivf = Similarity.allPairsTopKIvf(e, k = 2, numCentroids = 2, nProbe = 2)
    assert(!neighbors(ivf).contains(3L) && !neighbors(ivf).contains(4L))
    val lsh = Similarity.lshTopK(e, Seq(0L), k = 2, numPlanes = 1)
    assert(!neighbors(lsh).contains(3L) && !neighbors(lsh).contains(4L))
    val pq = Similarity.pqTopK(e.filter(col("embedding").isNotNull),
      Seq(0L), k = 2, m = 3, codebookSize = 2)
    assert(!neighbors(pq).contains(3L))
    // near-dup thresholds: Spark SQL treats NaN as LARGEST even in >=,
    // so an unguarded zero vector would "match" everything
    val sem = Similarity.semanticDedup(
      e.filter(col("embedding").isNotNull), threshold = 0.9, numCentroids = 1)
    val dupRows = sem.filter(col("is_dup")).collect()
    assert(!dupRows.exists(_.getAs[Long]("vec_id") == 3L), dupRows.mkString(","))
  }

  test("annTopKProjected excludes zero vectors (no NaN flooding the candidate prefix)") {
    // a zero embedding has projected norm 0: its pscore would be NaN,
    // and NaN desc-orders LARGEST in Spark — unguarded it floods the
    // candidate sliver and can ride NaN scores into the final top-k
    val e = embDF(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0f, 0f, 1f, 0f),
      3L -> Seq(0f, 0f, 0f, 0f)) // zero vector
    val out = Similarity
      .annTopKProjected(e, Seq(0L), k = 2, candidates = 2,
        outDims = 4, inDims = 4)
      .collect()
    val neighbors = out.map(_.getAs[Long]("neighbor_id")).toSet
    assert(!neighbors.contains(3L), s"zero vector ranked: $neighbors")
    assert(out.forall(r => !r.getAs[Double]("score").isNaN))
    assert(neighbors.contains(1L)) // the genuine neighbor survives
  }

  test("broadcast envelope is a hard boundary: Auto routes, direct kernels refuse") {
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f),
      2L -> Seq(1f, 0f, 0f))
    val key = "spark.graft.similarity.broadcastBudgetBytes"
    spark.conf.set(key, "1") // every corpus is now past the envelope
    try {
      // the Auto router must still answer — via the bucketed path,
      // never reaching (and never tripping) the collect kernel
      val routed = Similarity
        .cosineNearDupPairsAuto(e, threshold = 0.99, targetRecall = Some(0.9))
        .collect()
      assert(routed.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 2L)))
      // routed knn audit: id 1 ('y' among 'x') is the lone noise row —
      // answered via IVF buckets, the collect kernel never entered
      val knn = Similarity.knnLabelNoiseAuto(
        e.withColumn("label",
          when(col("vec_id") === 1L, "y").otherwise("x")),
        k = 1, numCentroids = 2, nProbe = 2)
      assert(knn.collect().map(_.getAs[Long]("vec_id")).contains(1L))
      // a direct call into a collect kernel fails LOUDLY at the gate
      val e1 = intercept[graft.store.FeatureValidationError] {
        Similarity.cosineNearDupPairs(e, threshold = 0.99).collect()
      }
      assert(e1.getMessage.contains("broadcastBudgetBytes"))
      val e2 = intercept[graft.store.FeatureValidationError] {
        Similarity.bruteForceTopKFor(e, None, k = 2).collect()
      }
      assert(e2.getMessage.contains("broadcastBudgetBytes"))
    } finally spark.conf.unset(key)
  }

  test("the collect kernels' envelope guard re-measures a corpus rewritten in place") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_envelope").toString + "/emb"
    def write(n: Long): Unit =
      (0L until n).map(i => (i, Array(1.0f, i.toFloat)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    val key = "spark.graft.similarity.broadcastBudgetBytes"
    // a 2-dim vector costs 80 budget bytes: ten fit, a hundred do not
    spark.conf.set(key, "800")
    try {
      write(10L)
      Similarity.invalidateCorpusStats()
      assert(Similarity.fitsBroadcastEnvelope(spark.read.parquet(dir)))
      // grown at the same path, with no Tables.invalidate: the memo
      // still holds the ten-vector size
      write(100L)
      assert(Similarity.fitsBroadcastEnvelope(spark.read.parquet(dir)))
      val e = intercept[graft.store.FeatureValidationError] {
        Similarity.bruteForceTopKFor(spark.read.parquet(dir), None, k = 2).collect()
      }
      assert(e.getMessage.contains("100 vectors"))
    } finally {
      spark.conf.unset(key)
      Similarity.invalidateCorpusStats()
    }
  }

  test("pqTopK guards its driver-built lookup tables") {
    val e = embDF(0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f))
    // |Q|·m·ks·2 doubles past 256 MiB must refuse, not OOM the driver
    val hugeQ = (0L until 17000000L).toSeq
    val err = intercept[graft.store.FeatureValidationError] {
      Similarity.pqTopK(e, hugeQ, k = 1, m = 2, codebookSize = 16)
    }
    assert(err.getMessage.contains("lookup tables"))
  }

  test("ivfTopKIndexed guards its driver-side probe collect") {
    // |Q| query vectors are collected to compute probe lists — an
    // oversized batch must get a routing error BEFORE any job, not a
    // driver OOM mid-collect. The budget scales by the ACTUAL vector
    // width (shared with the centroids): 70k queries pass at 3 dims
    // but refuse at 4096 dims, where the payload is ~1.1 GiB
    val e = embDF(0L -> Seq(1f, 0f, 0f), 1L -> Seq(0f, 1f, 0f))
    val hugeQ = (0L until 70000L).toSeq
    val err = intercept[graft.store.FeatureValidationError] {
      Similarity.ivfTopKIndexed(
        e, Array(Array.fill(4096)(0.0)), hugeQ, k = 1)
    }
    assert(err.getMessage.contains("collect envelope"), err.getMessage)
    // the same cardinality with 3-dim vectors is ~6 MB — legal, the
    // guard must not fire (narrow-width answers are covered by the
    // ann_ivf_indexed contract query; here we only check the gate math)
    assert(70000L * (3 * 4 + 72) <= (256L << 20))
  }

  test("pinned ANN recall floors at sf0.01 (every path, one corpus)") {
    // the regression gate for ANN QUALITY: recall@10 of every
    // approximate path vs brute force on the 500-vector sf0.01
    // corpus, 50 queries. All paths are deterministic (hash-derived
    // planes, id-seeded centroids/codebooks, exact-integer k-means),
    // so the measured values — recorded in PLANS.md round-9 — are
    // constants of (method, params, corpus);
    // floors sit 0.02 under them. A quality regression in ANY
    // bucketing, probing, quantization, or rescoring path fails here.
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val ids = (0L until 50L).toSeq
    val k = 10
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, ids, k))
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      exact.intersect(pairs(df)).size.toDouble / exact.size

    val lsh = recallOf(Similarity.lshTopK(e, ids, k, numPlanes = 4))
    info(f"sf0.01 lsh(4 planes) recall@10 = $lsh%.4f (measured 0.1340)")
    assert(lsh >= 0.12)

    val ivfSeed = recallOf(Similarity.ivfTopK(e, ids, k, numCentroids = 16, nProbe = 4))
    info(f"sf0.01 ivf(seeded 16, probe 4) recall@10 = $ivfSeed%.4f (measured 0.6300)")
    assert(ivfSeed >= 0.61)

    val learned = Similarity.ivfCentroidsKMeans(e, numCentroids = 16, iters = 1)
    val ivfKm = recallOf(Similarity.ivfTopKWith(e, learned, ids, k, nProbe = 4))
    info(f"sf0.01 ivf(kmeans 16, probe 4) recall@10 = $ivfKm%.4f (measured 0.6640)")
    assert(ivfKm >= 0.64)
    assert(ivfKm > ivfSeed) // learning must keep paying for itself

    val pq = recallOf(Similarity.pqTopK(e, ids, k))
    info(f"sf0.01 pq(m=8, ks=16, cf=8) recall@10 = $pq%.4f (measured 0.7040)")
    assert(pq >= 0.68)
  }

  test("learned (k-means) centroids beat first-N seed recall, deterministically") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ids = (0L until 50L).toSeq
    val k = 5
    def topkSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = topkSet(Similarity.bruteForceTopK(e, ids, k))
    val learned = Similarity.ivfCentroidsKMeans(e, numCentroids = 16, iters = 1)
    for (nProbe <- Seq(2, 4)) {
      val seedR = topkSet(Similarity.ivfTopK(e, ids, k, numCentroids = 16, nProbe = nProbe))
        .intersect(exact).size.toDouble / exact.size
      val kmR = topkSet(Similarity.ivfTopKWith(e, learned, ids, k, nProbe = nProbe))
        .intersect(exact).size.toDouble / exact.size
      info(f"recall@$k nProbe=$nProbe: seed=$seedR%.3f kmeans=$kmR%.3f")
      assert(kmR > seedR) // measured 0.516 vs 0.484 (probe 2), 0.656 vs 0.620 (probe 4)
    }
    // exact-arithmetic update ⇒ training is reproducible bit-for-bit
    val again = Similarity.ivfCentroidsKMeans(e, numCentroids = 16, iters = 1)
    assert(learned.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("ivfCentroids and ivfCentroidsKMeans return copies of their memo") {
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f),
      2L -> Seq(0.9f, 0.1f, 0f),
      3L -> Seq(0.1f, 0.9f, 0f))
    def snapshot(cs: Array[Array[Double]]) = cs.map(_.toSeq).toSeq
    val seed = Similarity.ivfCentroids(e, numCentroids = 2)
    val seedWant = snapshot(seed)
    assert(seedWant == Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)))
    seed(0)(0) = 42.0
    seed(1) = Array(7.0, 7.0, 7.0)
    assert(snapshot(Similarity.ivfCentroids(e, numCentroids = 2)) == seedWant)

    val learned = Similarity.ivfCentroidsKMeans(e, numCentroids = 2, iters = 1)
    val learnedWant = snapshot(learned)
    learned(0)(1) = -1.0
    assert(snapshot(Similarity.ivfCentroidsKMeans(e, numCentroids = 2, iters = 1)) ==
      learnedWant)
  }

  test("semanticDedup: min-id survivor within clusters, keepers unflagged") {
    // two tight clusters along orthogonal axes: x-cluster {0, 2, 4},
    // y-cluster {1, 3}; with 2 seed centroids (vectors 0, 1) every
    // vector lands with its axis and the min-id survivor per similar
    // group is the keeper
    val e = embDF(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f),
      2L -> Seq(0.999f, 0.04f, 0f),
      3L -> Seq(0.04f, 0.999f, 0f),
      4L -> Seq(0.998f, 0.06f, 0f))
    val out = Similarity.semanticDedup(e, threshold = 0.95, numCentroids = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, false, -1L), (1L, false, -1L),
      (2L, true, 0L), (3L, true, 1L), (4L, true, 0L)))
  }

  test("semanticDedup agrees with the exact pair kernel inside each cluster (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val thr = 0.4
    val out = Similarity.semanticDedup(e, threshold = thr, numCentroids = 8).collect()
    val n = e.count()
    assert(out.length == n) // one verdict per vector, always
    val cluster = out.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exactPairs = Similarity.cosineNearDupPairs(e, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // soundness: every flagged dup names a lower-id vector it is
    // exactly-similar to (the candidate was re-scored, never guessed)
    val flagged = out.filter(_.getBoolean(2))
    assert(flagged.nonEmpty, "threshold 0.4 should flag dups on this corpus")
    flagged.foreach { r =>
      val (id, dupOf) = (r.getLong(0), r.getLong(3))
      assert(dupOf < id)
      assert(exactPairs.contains((dupOf, id)),
        s"dup_of=$dupOf for $id is not an exact near-dup pair")
      assert(cluster(dupOf) == cluster(id), "dup_of must share the cluster")
    }
    // completeness WITHIN the cluster granularity: every exact pair
    // that shares a cluster flags its higher id
    val flaggedIds = flagged.map(_.getLong(0)).toSet
    exactPairs.filter { case (a, b) => cluster(a) == cluster(b) }
      .foreach { case (_, b) =>
        assert(flaggedIds.contains(b), s"in-cluster near-dup $b not flagged")
      }
  }

  test("pqTopK: exact scores, full result shape, recall vs brute force (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ids = (0L to 9L)
    val exact = Similarity.bruteForceTopK(e, ids, k = 3).collect()
    val exactScores = exact
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("score")).toMap
    val approx = Similarity.pqTopK(e, ids, k = 3).collect()
    // every query answers with exactly k ranked rows
    assert(approx.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 3))
    assert(approx.map(_.getAs[Long]("query_id")).toSet == ids.toSet)
    // emitted scores are TRUE cosines: wherever PQ found a true top-k
    // neighbor, its score is bit-identical to brute force
    approx.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      exactScores.get(key).foreach(s => assert(s == r.getAs[Double]("score")))
    }
    val recall = exact.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet.intersect(
        approx.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet)
      .size.toDouble / exact.length
    info(f"PQ recall@3 = $recall%.2f (m=8, ks=16, 8x candidates)")
    // measured 0.80 (PLANS.md round-9 recall table)
    // deterministic given the seed codebooks; measured 0.80 at these widths
    assert(recall >= 0.75)
  }

  test("pqTopK is reproducible and candidateFactor widening only improves it") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ids = (0L to 4L)
    def runs(cf: Int) = Similarity.pqTopK(e, ids, k = 3, candidateFactor = cf)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet
    assert(runs(8) == runs(8)) // deterministic end to end
    val exact = Similarity.bruteForceTopK(e, ids, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recallOf(s: Set[(Long, Long, Double, Int)]) =
      s.map(t => (t._1, t._2)).intersect(exact).size.toDouble / exact.size
    // a candidate set as wide as the corpus IS brute force
    val n = e.count().toInt
    assert(recallOf(runs((n + 2) / 3)) == 1.0)
  }

  test("IVF indexed path equals one-shot IVF and prunes index partitions") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfCentroids(e)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_test").toString
    Similarity.buildIvfIndex(e)
      .write.mode("overwrite").partitionBy("ivf_list").parquet(dir)
    val idx = spark.read.parquet(dir)
    val ids = 0L to 9L
    val got = Similarity.ivfTopKIndexed(idx, cents, ids, k = 3)
    // the coarse probe filter must reach the index scan as partition
    // pruning — the whole point of persisting the inverted lists.
    // Inspect BEFORE executing: after a run AQE wraps leaf stages in
    // QueryStageExec nodes that plain collect does not descend into.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collectWithSubqueries {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      }.flatten
    assert(scans(got.queryExecution.executedPlan).exists(
      _.partitionFilters.exists(_.toString.contains("ivf_list"))))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet
    assert(key(got) == key(Similarity.ivfTopK(e, ids, k = 3)))
  }

  test("multimodal: meta + stub feature extraction plumbing") {
    val media = Multimodal.asMedia(docsDF(1L -> "abcd"))
    val meta = Multimodal.mediaMeta(media).collect().head
    assert(meta.getAs[Int]("n_bytes") == 4)
    val feats = Multimodal.extractFeatures(media).collect().head
    assert(feats.n_bytes == 4)
    assert(feats.features.length == 16)
    assert(math.abs(feats.features.sum - 1.0) < 1e-12) // normalized histogram
    assert(feats.features(6) == 1.0) // 'a'..'d' all in bucket 0x6
  }

  test("appendToIvfIndex equals the one-shot index build (same quantizer)") {
    val s = spark
    import s.implicits._
    val emb = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(8)(d => if (d / 2 == c) (d % 2 + 1f) * (1 + i / 4f) else 0f))
    }.toDF("vec_id", "embedding")
    val cents = graft.ops.Similarity.ivfCentroids(emb, numCentroids = 4)
    val oneShot = graft.ops.Similarity.buildIvfIndex(emb, numCentroids = 4)
    val appended = graft.ops.Similarity.appendToIvfIndex(
      graft.ops.Similarity.buildIvfIndex(emb.filter($"vec_id" < 20), numCentroids = 4),
      emb.filter($"vec_id" >= 20), cents)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "ivf_list", "ivf_norm").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(rows(appended) == rows(oneShot))
    // and queries over both indexes agree bit-for-bit
    def topk(idx: org.apache.spark.sql.DataFrame) = graft.ops.Similarity
      .ivfTopKIndexed(idx, cents, Seq(0L, 1L), k = 3, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(topk(appended) == topk(oneShot))
  }

  test("multimodal: a NULL payload is corrupt data, not a task-killing NPE") {
    val s = spark
    import s.implicits._
    val media = Seq(
      (1L, Some("abcd".getBytes("UTF-8"))),
      (2L, None: Option[Array[Byte]])) // failed upstream fetch
      .toDF("doc_id", "media")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(2L).n_bytes == 0) // null coalesced to empty = corrupt row
    val down = Multimodal.byteDownsample(media, factor = 2).collect()
      .map(r => r.doc_id -> r).toMap
    assert(down(2L).media.isEmpty)
    val meta = Multimodal.mediaMeta(media).collect()
    assert(meta.length == 2)
  }

  test("hashSplit: null ids fail loudly instead of silently landing in the last split") {
    val s = spark
    import s.implicits._
    val docs = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    val e = intercept[Exception] {
      graft.ops.Sampling
        .hashSplit(docs, Seq("train" -> 80, "valid" -> 10, "test" -> 10))
        .collect()
    }
    assert(e.getMessage.contains("null doc_id") ||
      Option(e.getCause).exists(_.getMessage.contains("null doc_id")),
      e.toString)
  }

  test("ivfCentroidsKMeans skips null embeddings instead of a driver NPE") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (0L, Some(Seq(1f, 0f))), (1L, Some(Seq(0.9f, 0.1f))),
      (2L, Some(Seq(0f, 1f))), (3L, None: Option[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroidsKMeans(e, numCentroids = 2, iters = 2)
    assert(cents.length == 2 && cents.forall(_.forall(v => !v.isNaN)))
  }

  test("multimodal: byteDownsample keeps every factor-th byte, factor 1 is identity") {
    val media = Multimodal.asMedia(docsDF(1L -> "abcdefghij", 2L -> ""))
    val byId = Multimodal.byteDownsample(media, factor = 4).collect().map(r => r.doc_id -> r).toMap
    assert(new String(byId(1L).media, "UTF-8") == "aei")
    assert(byId(1L).n_bytes_in == 10)
    assert(byId(2L).media.isEmpty) // empty payload → empty downsample
    val id = Multimodal.byteDownsample(media, factor = 1).collect().map(r => r.doc_id -> r).toMap
    assert(new String(id(1L).media, "UTF-8") == "abcdefghij")
    intercept[IllegalArgumentException](Multimodal.byteDownsample(media, factor = 0))
  }

  test("multimodal: byteFrames emits complete overlapping frames only") {
    val media = Multimodal.asMedia(docsDF(1L -> "abcdefgh", 2L -> "abc"))
    val frames = Multimodal.byteFrames(media, frameLen = 4, stride = 2)
      .collect()
      .sortBy(f => (f.doc_id, f.frame_idx))
    // doc 1 (8 bytes): starts 0,2,4 → "abcd","cdef","efgh"; start 6 would
    // overrun. doc 2 (3 bytes): shorter than a frame → nothing.
    assert(frames.map(f => (f.doc_id, f.frame_idx, new String(f.frame, "UTF-8"))).toSeq ==
      Seq((1L, 0, "abcd"), (1L, 1, "cdef"), (1L, 2, "efgh")))
  }

  test("multimodal: frameSample windows DECODED audio samples") {
    // tokens of lengths 1,2,3,4,5 → clamped samples -4000,-3000,...,0
    val media = Multimodal.encodeWavFromTokens(docsDF(1L -> "a bb ccc dddd eeeee"))
    val frames = Multimodal.frameSample(media, frameLen = 4, stride = 3)
      .collect()
      .sortBy(f => (f.doc_id, f.frame_idx))
    // 5 samples, windows start at 0 only (start 3 → 3+4 > 5): one frame
    // [-4000,-3000,-2000,-1000]: sum_abs 10000, max -1000
    assert(frames.map(f =>
      (f.doc_id, f.frame_idx, f.kind, f.n_units, f.sum_abs, f.max_unit)).toSeq ==
      Seq((1L, 0, "audio", 4L, 10000L, -1000L)))
  }

  test("multimodal: frameSample bands DECODED image pixel rows") {
    // 97 chars → 16px-wide BMP of h=2 rows (96 bytes kept); one band of
    // 2 rows at stride 2 sums the first 96 byte values
    val text = "x" * 96 + "Z"
    val media = Multimodal.encodeBmpFromText(docsDF(1L -> text), width = 16)
    val frames = Multimodal.frameSample(media, frameLen = 2, stride = 2).collect()
    assert(frames.map(f =>
      (f.doc_id, f.frame_idx, f.kind, f.n_units, f.sum_abs, f.max_unit)).toSeq ==
      Seq((1L, 0, "image", 96L, 96L * 'x'.toLong, 'x'.toLong)))
  }

  test("multimodal: encodeWavFromTokens clamps long-token samples instead of wrapping") {
    // 40-char token: raw 40*1000-5000 = 35000 would wrap to -30536 as a
    // Short; the encoder must clamp to 32767
    val media = Multimodal.encodeWavFromTokens(docsDF(1L -> ("y" * 40)))
    val feats = Multimodal.decodeAudioFeatures(media).collect().head
    assert(feats.n_samples == 1L)
    assert(feats.max_sample == 32767L)
    assert(feats.sum_abs == 32767L)
  }

  test("source-level jaccard pools shingles per source (contamination check)") {
    val s = spark
    import s.implicits._
    // source A: docs with shingles {a b c, b c d} ∪ {b c d, c d e} = 3 distinct
    // source B: {a b c} — intersection {a b c} = 1, union = 3 → J = 1/3
    val docs = Seq(
      ("A", "a b c d"),
      ("A", "b c d e"),
      ("B", "a b c")
    ).toDF("source", "text")
    val out = graft.ops.Dedup
      .ngramJaccardPairs(docs, n = 3, threshold = 0.0, idCol = "source")
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("id_a") == "A" && r.getAs[String]("id_b") == "B")
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-15)
    // the coarse (no-pair-join) strategy must agree bit-for-bit
    val coarse = graft.ops.Dedup
      .ngramJaccardPairs(docs, n = 3, threshold = 0.0, idCol = "source",
        carrySizes = false)
      .collect()
    assert(coarse.map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSeq ==
      out.map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSeq)
  }

  test("bpeTopPairs counts adjacent char pairs with multiplicity") {
    // "abab" → ab, ba, ab; "ab" → ab; "x" → nothing (too short)
    val out = TextAnalysis
      .bpeTopPairs(docsDF(1L -> "abab ab x"), k = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    assert(out.toSeq == Seq(("ab", 3L, 1), ("ba", 1L, 2)))
  }

  test("vocabTopK ranks by count desc then token asc") {
    val out = graft.ops.TextAnalysis
      .vocabTopK(docsDF(1L -> "b a b c a b", 2L -> "c a"), k = 2)
      .collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n"), r.getAs[Int]("rank")))
      .sortBy(_._3)
    // counts: a=3, b=3, c=2 → rank 1 goes to 'a' on the tie
    assert(out.toSeq == Seq(("a", 3L, 1), ("b", 3L, 2)))
  }

  test("temperatureSample keeps the smallest stratum whole and flattens larger ones") {
    val s = spark
    import s.implicits._
    // strata A: 10 docs, B: 1000 docs → at T=2, A keeps all,
    // B keeps ~1000/sqrt(100) = 100 per-mille
    val df = ((1L to 10L).map(i => (i, "A")) ++ (11L to 1010L).map(i => (i, "B")))
      .toDF("doc_id", "source")
    val out = graft.ops.Sampling.temperatureSample(df, invTempPermille = 500)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("A") == 10L) // n_min stratum is never down-sampled
    // expected ≈ 100 of 1000 at the exact 100-permille hash cut
    assert(out("B") > 60L && out("B") < 140L)
    // T=1 keeps everything
    val all = graft.ops.Sampling.temperatureSample(df, invTempPermille = 1000).count()
    assert(all == 1010L)
  }

  test("weightedSample: PPS rates, heavy-row certainty, and the overflow guard") {
    val s = spark
    import s.implicits._
    // 1000 unit-weight rows + one heavy row carrying half the mass:
    // with expectK=20 the heavy row's rate saturates at 1 (always kept)
    val df = ((1L to 1000L).map(i => (i, 1L)) :+ (2000L, 1000L))
      .toDF("doc_id", "w")
    val out = graft.ops.Sampling.weightedSample(df, expectK = 20L, weightCol = "w")
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(2000L), "a row with w >= tot/k must always be kept")
    // expected light-row keeps = 19 * (1/2000) * 1000 ≈ 10; the hash cut
    // is exact, so just bound it loosely
    val light = kept.count(_ <= 1000L)
    assert(light > 1 && light < 40, s"light keeps out of range: $light")
    // deterministic: same input, same subset
    val again = graft.ops.Sampling.weightedSample(df, expectK = 20L, weightCol = "w")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
    // non-positive weights never sample
    val withZero = df.union(Seq((3000L, 0L), (3001L, -5L)).toDF("doc_id", "w"))
    val kept2 = graft.ops.Sampling.weightedSample(withZero, 20L, "w")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept2.contains(3000L) && !kept2.contains(3001L))
    // the integer envelope is enforced in the plan, not silently wrapped
    val huge = Seq((1L, Long.MaxValue / 4), (2L, 3L)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      graft.ops.Sampling.weightedSample(huge, 1000L, "w").count()
    }
    assert(e.getMessage != null)
  }

  test("bm25TopK ranks by saturated tf, rewards rarity, and caps at k") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "apple apple apple banana"),
      (2L, "apple banana banana banana"),
      (3L, "apple cherry cherry cherry"),
      (4L, "durian durian durian durian"),
      (5L, "apple")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis
      .bm25TopK(docs, Seq(1 -> Seq("cherry"), 2 -> Seq("apple", "banana")), k = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    // query 1: only doc 3 contains 'cherry'
    val q1 = out.filter(_._1 == 1)
    assert(q1.map(_._2).toSeq == Seq(3L))
    // query 2: doc 2 (banana-heavy + apple) outranks the rest; k=2 caps
    val q2 = out.filter(_._1 == 2)
    assert(q2.length == 2 && q2.head._2 == 2L)
    assert(q2.forall(_._3 > 0L))
    // a query term absent from the corpus contributes nothing — same
    // result with and without it
    val withGhost = graft.ops.TextAnalysis
      .bm25TopK(docs, Seq(2 -> Seq("apple", "banana", "zzz_ghost")), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(withGhost == q2.map(t => (t._2, t._3)).toSeq.sorted)
    // validation
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.bm25TopK(docs, Seq(1 -> Seq("x")), k = 0)
    }
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.bm25TopK(docs, Seq(1 -> Seq.empty[String]))
    }
  }

  test("bm25TopK: membership is presence, not positive score; duplicate query ids merge") {
    val s = spark
    import s.implicits._
    // a term in ALL of 600 docs floors idf_m to 0 (1000·(2(N−df)+1) <
    // 2df+1 once N ≥ 500 at df = N): every matching doc scores a
    // legitimate ZERO and must still rank, tie-broken by doc id — the
    // presence semantics of a term-match join, not a score filter
    val ubiq = (0L until 600L).map(i => (i, s"common filler_$i"))
      .toDF("doc_id", "text")
    val zeroScored = graft.ops.TextAnalysis
      .bm25TopK(ubiq, Seq(1 -> Seq("common")), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(zeroScored.toSeq == Seq((0L, 0L, 1L), (1L, 0L, 2L), (2L, 0L, 3L)))
    // duplicate query ids merge into one ranking over the UNION of
    // their term lists (the former distinct-(q, term)-pairs semantics),
    // never two interleaved score streams
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana banana banana"),
      (3L, "apple cherry")).toDF("doc_id", "text")
    val dup = graft.ops.TextAnalysis
      .bm25TopK(docs, Seq(1 -> Seq("apple"), 1 -> Seq("banana")), k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val merged = graft.ops.TextAnalysis
      .bm25TopK(docs, Seq(1 -> Seq("apple", "banana")), k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(dup.sortBy(_._4).toSeq == merged.sortBy(_._4).toSeq)
    assert(dup.map(_._2).distinct.length == dup.length)
  }

  test("rrfFuse: both-list docs outrank single-list docs; exact reciprocal units") {
    val s = spark
    import s.implicits._
    // query 1: doc 10 is rank 2 in BOTH lists; doc 11 is rank 1 in A
    // only; doc 12 rank 1 in B only. RRF: 10 → 2·(1000000 div 62) =
    // 32256, 11/12 → 1000000 div 61 = 16393 each → 10 wins, then the
    // 11/12 tie breaks on doc_id
    val a = Seq((1, 11L, 1L), (1, 10L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1, 12L, 1L), (1, 10L, 2L)).toDF("query_id", "doc_id", "rank")
    val out = graft.ops.Retrieval.rrfFuse(a, b, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3)
    assert(out.toSeq == Seq(
      (10L, 2L * (1000000L / 62L), 1L),
      (11L, 1000000L / 61L, 2L),
      (12L, 1000000L / 61L, 3L)))
    // k caps the fused list
    assert(graft.ops.Retrieval.rrfFuse(a, b, k = 1).count() == 1L)
    intercept[IllegalArgumentException] {
      graft.ops.Retrieval.rrfFuse(a, b, k = 0)
    }
  }

  test("mmrRerank demotes near-duplicates; lambda=1000 reduces to pure relevance") {
    val s = spark
    import s.implicits._
    // query 0 = [1,0]; docs 1 and 2 are near-identical high-relevance
    // twins, doc 3 is moderately relevant but diverse, doc 4 weak
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.10f)),
      (2L, Array(0.992f, 0.10f)),
      (3L, Array(0.60f, 0.80f)),
      (4L, Array(0.10f, 0.99f))
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Retrieval
      .mmrRerank(emb, Seq(0L), k = 3, poolSize = 4, lambdaPermille = 300)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    // rank 1: the top-relevance twin (doc 2, marginally closer); at a
    // diversity-heavy lambda rank 2 is the most-orthogonal doc 4
    // (maxsim to doc 2 only ~0.20), NOT the twin doc 1 that raw
    // relevance would pick — the twin drops to last
    assert(out.map(_._1).toSeq == Seq(2L, 4L, 1L), s"got ${out.toSeq}")
    // lambda = 1 is pure relevance: order matches brute-force cosine
    val pure = graft.ops.Retrieval
      .mmrRerank(emb, Seq(0L), k = 3, poolSize = 4, lambdaPermille = 1000)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2).map(_._1)
    val brute = graft.ops.Similarity.bruteForceTopK(emb, Seq(0L), k = 3)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(pure.toSeq == brute.toSeq)
    // deterministic across runs
    val again = graft.ops.Retrieval
      .mmrRerank(emb, Seq(0L), k = 3, poolSize = 4, lambdaPermille = 300)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2).map(_._1)
    assert(again.toSeq == out.map(_._1).toSeq)
    intercept[IllegalArgumentException] {
      graft.ops.Retrieval.mmrRerank(emb, Seq(0L), k = 5, poolSize = 4,
        lambdaPermille = 700)
    }
    // the caller-supplied-pool form (the scale path: IVF/LSH pools)
    // walks the same trajectory when handed the same candidates
    val pool = graft.ops.Similarity.bruteForceTopK(emb, Seq(0L), k = 4)
    val viaPool = graft.ops.Retrieval
      .mmrRerankPool(emb, pool, k = 3, lambdaPermille = 300)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2).map(_._1)
    assert(viaPool.toSeq == out.map(_._1).toSeq)
    // a dirty caller pool carrying a zero-norm candidate: the garbage
    // vector must be dropped at the scan (a NaN similarity would hand
    // it an infinite marginal score), leaving the real picks intact
    val dirtyEmb = emb.union(Seq((9L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val dirtyPool = pool.select(col("query_id"), col("neighbor_id"), col("score"))
      .union(Seq((0L, 9L, Double.NaN)).toDF("query_id", "neighbor_id", "score"))
    val cleaned = graft.ops.Retrieval
      .mmrRerankPool(dirtyEmb, dirtyPool, k = 3, lambdaPermille = 300)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2).map(_._1)
    assert(cleaned.toSeq == out.map(_._1).toSeq)
    assert(!cleaned.contains(9L))
  }

  test("crossDupSpans merges diagonal alignments into maximal pair spans") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("dup", 10) // a 10-token run shared verbatim
    val docs = Seq(
      (1L, words("a", 3) + " " + shared + " " + words("z", 4)),
      (2L, words("b", 6) + " " + shared + " " + words("y", 2)),
      (3L, words("c", 12)) // no overlap
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis
      .crossDupSpans(docs, width = 4, minSpanTokens = 8, maxShingleOcc = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // one maximal span: doc 1 pos 4..13 aligns with doc 2 pos 7..16 —
    // 7 consecutive 4-token shingle starts = 10 tokens
    assert(out.toSeq == Seq((1L, 2L, 4L, 7L, 10L)), s"got ${out.toSeq}")
    // raising the floor above the span length empties the result
    assert(graft.ops.TextAnalysis
      .crossDupSpans(docs, width = 4, minSpanTokens = 11, maxShingleOcc = 8)
      .count() == 0L)
    // a boilerplate shingle past the occurrence cap never forms pairs
    val boiler = (1L to 10L).map(i => (i, shared)).toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis
      .crossDupSpans(boiler, width = 4, minSpanTokens = 8, maxShingleOcc = 5)
      .count() == 0L)
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.crossDupSpans(docs, width = 8, minSpanTokens = 4)
    }
  }

  test("systematicSample: exactly k picks with multiplicity; zero-weight rows never picked") {
    val s = spark
    import s.implicits._
    val df = ((1L to 500L).map(i => (i, 2L)) :+ (9999L, 500L))
      .toDF("doc_id", "w") // heavy row carries 1/3 of the mass
    val out = graft.ops.Sampling.systematicSample(df, k = 30L, weightCol = "w")
      .select("doc_id", "n_picks").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exact size: multiplicities sum to k, always
    assert(out.map(_._2).sum == 30L)
    // the heavy row holds ~1/3 of the line: ~10 multiples land in it
    val heavy = out.find(_._1 == 9999L)
    assert(heavy.isDefined && heavy.get._2 >= 9L && heavy.get._2 <= 11L,
      s"heavy picks: $heavy")
    // deterministic
    val again = graft.ops.Sampling.systematicSample(df, k = 30L, weightCol = "w")
      .select("doc_id", "n_picks").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSet == out.toSet)
    // zero/negative weights occupy no interval
    val withZero = df.union(Seq((8888L, 0L), (8887L, -1L)).toDF("doc_id", "w"))
    val kept = graft.ops.Sampling.systematicSample(withZero, 30L, "w")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(8888L) && !kept.contains(8887L))
    // in-plan overflow guard
    val huge = Seq((1L, Long.MaxValue / 8), (2L, 5L)).toDF("doc_id", "w")
    intercept[Exception] {
      graft.ops.Sampling.systematicSample(huge, 100L, "w").count()
    }
  }

  test("deterministicShuffle is a stable total permutation; seeds are independent") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def order(seed: String) = graft.ops.Sampling
      .deterministicShuffle(df, seed).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val a = order("ep0")
    assert(a == order("ep0"), "same seed must reproduce the same order")
    assert(a.sorted == (1L to 200L), "a permutation keeps every row exactly once")
    val b = order("ep1")
    assert(a != b, "different seeds must give different permutations")
    assert(a != (1L to 200L), "the order must actually be shuffled")
  }

  test("temperatureSample treats a NULL stratum as its own stratum, never drops it") {
    val s = spark
    import s.implicits._
    val df = (Seq((1L, Option.empty[String]), (2L, Option.empty[String])) ++
      (3L to 12L).map(i => (i, Some("A")))).toDF("doc_id", "source")
    // T=1 keeps ALL rows including the NULL stratum (an equi-join on
    // the stratum would silently drop them)
    val all = graft.ops.Sampling.temperatureSample(df, invTempPermille = 1000)
    assert(all.count() == 12L)
    assert(all.filter(col("source").isNull).count() == 2L)
    // and the NULL stratum is rated like any group: here it IS n_min,
    // so it is kept whole at any temperature
    val halved = graft.ops.Sampling.temperatureSample(df, invTempPermille = 500)
    assert(halved.filter(col("source").isNull).count() == 2L)
  }

  test("mixtureSample applies per-stratum rates, nested across rates") {
    val s = spark
    import s.implicits._
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "A" else "B"))
      .toDF("doc_id", "source")
    val kept = graft.ops.Sampling
      .mixtureSample(df, Map("A" -> 1000), defaultPermille = 0)
      .collect().map(_.getString(1)).toSet
    assert(kept == Set("A")) // rate 1000 keeps all A, rate 0 drops all B
    // nesting: a row kept at rate 300 is kept at any higher rate
    val at300 = graft.ops.Sampling
      .mixtureSample(df, Map.empty, defaultPermille = 300)
      .collect().map(_.getLong(0)).toSet
    val at700 = graft.ops.Sampling
      .mixtureSample(df, Map.empty, defaultPermille = 700)
      .collect().map(_.getLong(0)).toSet
    assert(at300.subsetOf(at700))
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.mixtureSample(df, Map("A" -> 1001), 0)
    }
  }

  test("epochRepeat emits fractional copies with copy ids") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, "A")).toDF("doc_id", "source")
    val out = graft.ops.Sampling
      .epochRepeat(df, Map("A" -> 2500))
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    val copies = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    // every doc appears 2 or 3 times, copy ids dense from 1
    assert(copies.values.forall(c => c == List(1, 2) || c == List(1, 2, 3)))
    // ~half get the third copy (hash-chosen); exact count is stable
    val third = copies.values.count(_.size == 3)
    assert(third > 60 && third < 140)
    // zero factor drops everything
    assert(graft.ops.Sampling.epochRepeat(df, Map("A" -> 0)).isEmpty)
  }

  test("stratifiedSample keeps a per-stratum ceil quota of hash-smallest ids") {
    val s = spark
    import s.implicits._
    // stratum A: 6 rows → ceil(6*20/100)=2; B: 1 row → ceil(0.2)=1
    val df = ((1L to 6L).map(i => (i, "A")) :+ (7L, "B"))
      .toDF("doc_id", "source")
    val kept = graft.ops.Sampling
      .stratifiedSample(df, percent = 20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept.count(_._2 == "A") == 2)
    assert(kept.count(_._2 == "B") == 1)
    // deterministic: same pick on a rerun
    val again = graft.ops.Sampling.stratifiedSample(df, percent = 20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == again)
  }

  test("packSequences assigns docs to the pack where they start") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "A", "a b c"), // 3 tokens, before=0 → pack 0
      (2L, "A", "d e f g"), // before=3 → pack 0
      (3L, "A", "h i"), // before=7 → pack 1
      (4L, "B", "x y z")) // own shard: before=0 → pack 0
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.packSequences(df, budgetTokens = 5L)
      .orderBy("source", "doc_id")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toList
    assert(out == List((1L, 3L, 0L, 0L), (2L, 4L, 3L, 0L),
      (3L, 2L, 7L, 1L), (4L, 3L, 0L, 0L)))
  }

  test("hashSplit is a deterministic total assignment with correct buckets") {
    val docs = docsDF((1L to 200L).map(i => i -> s"doc $i"): _*)
    val w = Seq("train" -> 80, "valid" -> 10, "test" -> 10)
    val a = graft.ops.Sampling.hashSplit(docs, w).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val b = graft.ops.Sampling.hashSplit(docs, w).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(a == b)                               // rerun reassigns nothing
    assert(a.values.toSet == Set("train", "valid", "test"))
    val trainFrac = a.values.count(_ == "train").toDouble / a.size
    assert(trainFrac > 0.6 && trainFrac < 0.95)  // hash spread sanity
    // the split column must agree with the hash bucket definition
    val h = graft.functions.Hashing.md5Long60Jvm("7") % 100
    val expected = if (h < 80) "train" else if (h < 90) "valid" else "test"
    assert(a(7L) == expected)
    intercept[IllegalArgumentException](
      graft.ops.Sampling.hashSplit(docs, Seq("a" -> 50, "b" -> 49)))
  }

  test("deterministicSample keeps a stable id-keyed subset") {
    val docs = docsDF((1L to 100L).map(i => i -> "x"): _*)
    val kept = graft.ops.Sampling.deterministicSample(docs, 20)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == (1L to 100L).filter(i =>
      graft.functions.Hashing.md5Long60Jvm(i.toString) % 100 < 20).toSet)
  }

  test("wordNgrams slides a window and guards short documents") {
    val s = spark
    import s.implicits._
    val out = Seq("a b c d", "a b").toDF("text")
      .select(TextAnalysis.wordNgrams(col("text"), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty) // 2 tokens < n=3: no counting-down sequence
  }

  test("decontaminate flags docs sharing an n-gram with the eval set") {
    val corpus = docsDF(
      1L -> "p q r s t",       // shares "q r s" with eval
      2L -> "u v w x y",       // clean
      3L -> "q r s")           // exactly the contaminated gram
    val eval = docsDF(100L -> "a q r s b")
    val out = TextAnalysis.decontaminate(corpus, eval, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hit_grams"), r.getAs[Boolean]("keep")))).toMap
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((0L, true)))
    assert(out(3L) == ((1L, false)))
  }

  test("knnClassify takes the majority label with deterministic ties") {
    val s = spark
    import s.implicits._
    // query 0 at origin+x; neighbors: two label-7 vectors nearer than
    // the two label-2 ones → k=3 picks labels (7, 7, 2) → majority 7
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(1.0f, 0.1f), 7),
      (2L, Array(1.0f, 0.2f), 7),
      (3L, Array(0.5f, 0.9f), 2),
      (4L, Array(0.1f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(emb, Seq(0L), k = 3).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Int]("predicted_label") == 7)
    assert(out.head.getAs[Long]("n_votes") == 2L)
  }

  test("labelCentroidSums aggregates exact scaled integers per (label, dim)") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(0.5f, -0.25f), 1),
      (1L, Array(0.5f, 0.75f), 1),
      (2L, Array(1.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidSums(emb)
      .collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("dim")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sum_q")))).toMap
    assert(out((1, 0)) == ((2L, 1000000L)))   // 0.5 + 0.5
    assert(out((1, 1)) == ((2L, 500000L)))    // -0.25 + 0.75
    assert(out((2, 0)) == ((1L, 1000000L)))
  }

  test("embeddingDriftSummary: identical populations read zero drift, opposite read cos=-1") {
    val s = spark
    import s.implicits._
    // populations A (even ids) and B (odd ids) with IDENTICAL mean
    // vectors: cos_shift = 1 exactly, l2_shift = 0 exactly
    val same = Seq(
      (0L, Array(0.5f, 0.25f)), (2L, Array(0.5f, 0.25f)),
      (1L, Array(0.5f, 0.25f)), (3L, Array(0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    val r1 = Similarity
      .embeddingDriftSummary(same, col("vec_id") % 2 === 0)
      .head()
    assert(r1.getAs[Long]("n_a") == 2L && r1.getAs[Long]("n_b") == 2L)
    // the engine's exact tree is dot/(sqrt(naa)*sqrt(nbb)); with
    // naa = nbb = dot that is one ulp off algebraic 1.0 — assert the
    // exact tree double (the oracle computes the identical tree)
    val dot = 1e6 * 1e6 + 5e5 * 5e5 // quantized sums: (1e6, 5e5)·(1e6, 5e5)
    assert(r1.getAs[Double]("cos_shift") == dot / (math.sqrt(dot) * math.sqrt(dot)))
    assert(r1.getAs[Double]("l2_shift") == 0.0)

    // opposite mean directions: cos exactly -1; l2 = |(1,0) - (-1,0)| = 2
    val flipped = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r2 = Similarity
      .embeddingDriftSummary(flipped, col("vec_id") % 2 === 0)
      .head()
    assert(r2.getAs[Double]("cos_shift") == -1.0)
    assert(r2.getAs[Double]("l2_shift") == 2.0)

    // an empty population yields nulls, never NaN/Inf
    val lone = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val r3 = Similarity
      .embeddingDriftSummary(lone, col("vec_id") % 2 === 0)
      .head()
    assert(r3.getAs[Long]("n_b") == 0L)
    assert(r3.isNullAt(r3.fieldIndex("cos_shift")))
    assert(r3.isNullAt(r3.fieldIndex("l2_shift")))
  }

  test("targetEncode shrinks category means toward the global mean") {
    val s = spark
    import s.implicits._
    // cat a: values 1.00, 3.00 (mean 2.00); cat b: 10.00; global mean 14/3
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("cat", "value")
    val out = graft.ops.FeatureEncoding.targetEncode(df, "cat", "value", priorWeight = 1.0)
      .collect().map(r => r.getAs[String]("cat") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sum_cents"), r.getAs[Double]("encoded")))).toMap
    assert(out("a")._1 == 2L && out("a")._2 == 400L)
    val gMean = 1400.0 / 3
    assert(math.abs(out("a")._3 - (400.0 + gMean) / 3.0 / 100.0) < 1e-12)
    assert(math.abs(out("b")._3 - (1000.0 + gMean) / 2.0 / 100.0) < 1e-12)
  }

  test("quantileBin assigns ntile buckets and rank stats over a total order") {
    val s = spark
    import s.implicits._
    val df = Seq(("g", 1L, 5.0), ("g", 2L, 1.0), ("g", 3L, 3.0), ("g", 4L, 7.0))
      .toDF("grp", "id", "value")
    val out = graft.ops.FeatureEncoding
      .quantileBin(df, "value", nBins = 2, groupCol = "grp", tieBreakCols = Seq("id"))
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("bin"), r.getAs[Double]("pct_rank")))).toMap
    assert(out(2L) == ((1, 0.0)))          // smallest value
    assert(out(3L) == ((1, 1.0 / 3)))
    assert(out(1L) == ((2, 2.0 / 3)))
    assert(out(4L) == ((2, 1.0)))          // largest
  }

  test("hashFeatures folds token counts into stable md5 buckets") {
    val out = graft.ops.FeatureEncoding
      .hashFeatures(docsDF(1L -> "x y x"), nBuckets = 32)
      .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n"))).toMap
    val bx = (graft.functions.Hashing.md5Long60Jvm("x") % 32).toInt
    val by = (graft.functions.Hashing.md5Long60Jvm("y") % 32).toInt
    if (bx == by) assert(out == Map(bx -> 3L))
    else assert(out == Map(bx -> 2L, by -> 1L))
  }

  test("knnLabelNoise flags vectors out-voted by their neighbors") {
    val s = spark
    import s.implicits._
    // vec 0 labeled 9 but its 3 nearest all agree on 7/2 → flagged
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 9),
      (1L, Array(1.0f, 0.1f), 7),
      (2L, Array(1.0f, 0.2f), 7),
      (3L, Array(0.9f, 0.3f), 7),
      (4L, Array(0.8f, 0.4f), 7)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelNoise(emb, k = 3)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Int]("predicted_label")).toMap
    assert(out(0L) == 7)        // mislabeled vector caught
    assert(!out.contains(1L))   // correctly-labeled ones are not flagged
  }

  test("chunkTokens slides fixed windows and drops short documents") {
    val s = spark
    import s.implicits._
    // 10 tokens a0..a9: chunk=4 stride=3 → starts 0,3,6 (start 7+ would
    // not fit a full window); a 3-token doc emits nothing
    val docs = Seq(
      (1L, (0 until 10).map(i => s"a$i").mkString(" ")),
      (2L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, chunk = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[String]("chunk_text")))
    assert(out.toSeq == Seq(
      (1L, 0, "a0 a1 a2 a3"),
      (1L, 1, "a3 a4 a5 a6"),
      (1L, 2, "a6 a7 a8 a9")))
    // every chunk is exactly `chunk` tokens — no ragged tail windows
    assert(out.forall(_._3.split(" ").length == 4))
  }

  test("takeUntilBudget fills each stratum in priority order, prefix cutoff") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // (id, stratum, cost, prio): picked in prio order within stratum
      (1L, "a", 3L, 1), (2L, "a", 3L, 2), (3L, "a", 3L, 3),
      (4L, "b", 10L, 1)).toDF("doc_id", "source", "cost", "prio")
    val kept = graft.ops.Sampling
      .takeUntilBudget(df, budget = 6L, costCol = "cost",
        priority = Seq(col("prio").asc))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cost_before")).toMap
    // stratum a: ids 1 (before=0) and 2 (before=3) fit; 3 would total 9
    // stratum b: one 10-cost row exceeds the budget outright
    assert(kept == Map(1L -> 0L, 2L -> 3L))
  }

  // ---- recall-targeted parameter derivation ----

  test("bandsFor/nProbeFor map recall targets to widths (model sanity + clamps)") {
    // nProbe = ceil(-log2(1-recall)), clamped to the list count
    assert(Similarity.nProbeFor(0.9, 64) == 4)
    assert(Similarity.nProbeFor(0.99, 64) == 7)
    assert(Similarity.nProbeFor(0.5, 64) == 1)
    assert(Similarity.nProbeFor(0.999, 4) == 4) // clamp: probing all is exact
    // bands grow with the recall target...
    val b90 = Similarity.bandsFor(0.90, 0.8, planesPerBand = 8)
    val b99 = Similarity.bandsFor(0.99, 0.8, planesPerBand = 8)
    assert(b90 >= 1 && b99 > b90)
    // ...and shrink as the design similarity rises (collisions easier)
    assert(Similarity.bandsFor(0.9, 0.99, 16) <=
      Similarity.bandsFor(0.9, 0.8, 16))
    intercept[IllegalArgumentException](Similarity.bandsFor(1.0, 0.8))
    intercept[IllegalArgumentException](Similarity.nProbeFor(0.0, 8))
    // planesFor holds the false-candidate volume to a linear budget:
    // bands·n/2^r ≤ candidatesPerVector
    assert(Similarity.planesFor(1000000L, 16, 4.0) == 22)
    assert(Similarity.planesFor(6000L, 16, 4.0) == 15) // ≈ today's 16 at bench scale
    assert(Similarity.planesFor(10L) == 8) // floor clamp
    val r = Similarity.planesFor(100000000L, 16, 4.0)
    assert(16.0 * 1e8 / math.pow(2.0, r.toDouble) <= 4.0)
  }

  /** Seeded unit vector (shared by the two recall tests below). */
  private def seededUnit(rnd: scala.util.Random, d: Int): Array[Float] = {
    val v = Array.fill(d)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  test("derived LSH band count meets the recall target on a seeded mixed-similarity corpus") {
    val s = spark
    import s.implicits._
    // 40 planted pairs spanning cosines 0.82..0.976 — deliberately NEAR
    // the 0.8 design threshold, where banding recall is genuinely
    // probabilistic (identical-vector pairs would trivially pass). The
    // corpus is seed-fixed and the hyperplanes are md5-derived, so the
    // measured recall is DETERMINISTIC: this test cannot flake, it can
    // only witness the model being wrong.
    val rnd = new scala.util.Random(42)
    val d = 16
    def pairAt(u: Array[Float], c: Double): Array[Float] = {
      val w0 = seededUnit(rnd, d).map(_.toDouble)
      val du = u.map(_.toDouble)
      val dot = du.zip(w0).map { case (a, b) => a * b }.sum
      val w = w0.zip(du).map { case (b, a) => b - dot * a }
      val wn = math.sqrt(w.map(x => x * x).sum)
      val sn = math.sqrt(1 - c * c)
      du.zip(w).map { case (a, b) => (c * a + sn * b / wn).toFloat }
    }
    val rows = (0 until 40).flatMap { i =>
      val u = seededUnit(rnd, d)
      val v = pairAt(u, 0.82 + 0.004 * i)
      Seq((2L * i, u), (2L * i + 1, v))
    }
    val df = rows.toDF("vec_id", "embedding")
    val threshold = 0.8
    val target = 0.9
    val bands = Similarity.bandsFor(target, threshold, planesPerBand = 8)
    val found = Similarity
      .cosineNearDupPairsLsh(df, threshold, bands, planesPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.cosineNearDupPairs(df, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 40, "construction must plant pairs above the threshold")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= target,
      s"measured recall $recall < target $target at bands=$bands")
  }

  test("derived IVF probe width meets the recall target on a seeded clustered corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val d = 16
    // 8 seeded cluster centers, 8 members each with small perturbations:
    // every query's true nearest neighbor is a cluster sibling
    val rows = (0 until 8).flatMap { c =>
      val center = seededUnit(rnd, d)
      (0 until 8).map { m =>
        val v = center.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
        ((c * 8 + m).toLong, v)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val target = 0.9
    val lists = 8
    val probes = Similarity.nProbeFor(target, lists)
    assert(probes < lists, "the test must not degenerate to total probing")
    def top1(res: DataFrame) = res.filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = top1(Similarity.bruteForceTopKFor(df, None, k = 1))
    val routed = top1(
      Similarity.allPairsTopKIvf(df, k = 1, numCentroids = lists, nProbe = probes))
    val hits = exact.count { case (q, n) => routed.get(q).contains(n) }
    val recall = hits.toDouble / exact.size
    assert(recall >= target,
      s"measured recall@1 $recall < target $target at nProbe=$probes")
  }
  test("contrastivePairs: positives above threshold, negatives exclude self and near-dups") {
    val s = spark
    import s.implicits._
    // 0 and 1 nearly parallel (positive); 2 orthogonal
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity
      .contrastivePairs(emb, threshold = 0.9, negPerAnchor = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val pos = out.filter(_._3 == 1)
    val neg = out.filter(_._3 == 0)
    assert(pos.toSeq == Seq((0L, 1L, 1)))
    assert(neg.nonEmpty)
    assert(neg.forall { case (a, o, _) => a != o }) // no self pairs
    // a negative never duplicates a positive in either order
    assert(neg.forall { case (a, o, _) =>
      !pos.exists(p => (p._1, p._2) == (a, o) || (p._2, p._1) == (a, o)) })
  }
  test("similarity corpus-stats memo: one measure per corpus plan, invalidate clears") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_statsmemo").toString + "/emb"
    (0L to 9L).map(i => (i, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Similarity.invalidateCorpusStats()
    assert(Similarity.corpusStatsMemoSize == 0)
    assert(Similarity.fitsBroadcastEnvelope(spark.read.parquet(dir)))
    assert(Similarity.corpusStatsMemoSize == 1)
    // a fresh read of the same path hashes equal: no second entry (and
    // no second measuring job — the memo IS the entry count here)
    assert(Similarity.fitsBroadcastEnvelope(spark.read.parquet(dir)))
    assert(Similarity.corpusStatsMemoSize == 1)
    // the in-place-rewrite escape hatch must clear the envelope memo
    Tables.invalidate(spark, dir)
    assert(Similarity.corpusStatsMemoSize == 0)
  }

  test("leakageSafeSplit keeps every near-dup cluster in one split") {
    val s = spark
    import s.implicits._
    // 0/1 near-identical (one token differs in a long doc), 2 distinct
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, base),
      (1L, base.replace("tok40", "tokX")),
      (2L, (100 to 140).map(i => s"zz$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.ops.Sampling
      .leakageSafeSplit(docs, Seq("train" -> 50, "valid" -> 25, "test" -> 25))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(out.size == 3)
    // the near-dup pair must share a split; plain hashSplit on doc ids
    // would separate them for SOME id pair, this one by construction not
    assert(out(0L) == out(1L), out)
  }
}
