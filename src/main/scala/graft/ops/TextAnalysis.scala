package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Text-analysis operators for training-data pipelines over a documents
  * table (`doc_id`, `text`, ...). Everything is built from codegen'd
  * built-in functions — no UDFs — so plans stay inside whole-stage
  * codegen and push down cleanly; all arithmetic is shaped to be
  * bit-identical to the DuckDB oracle SQL (integer counts, single
  * left-to-right double divisions).
  *
  * Scale: each operator is a narrow per-row map over the documents scan —
  * no shuffle at all except where noted.
  */
object TextAnalysis {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Stopword list used by quality scoring (fixed, engine-portable). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** BPE-ish subword-count estimate: alnum runs chunked greedily at 4
    * chars plus lone non-alnum marks — the usual ~4-chars-per-token
    * heuristic, as one portable regex (identical semantics in Java and
    * RE2 regex engines; the space literal avoids escape-dialect drift).
    */
  val BpeishPattern = "[a-z0-9]{1,4}|[^a-z0-9 ]"

  /** Per-document size/shape statistics. Pure map — zero shuffles. */
  def textStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      // single-space separation ⇒ total token chars = n_chars - (n_tokens-1)
      ((length(col(textCol)) - size(toks) + 1) / size(toks)).as("avg_token_len"),
      size(regexp_extract_all(lower(col(textCol)), lit(BpeishPattern), lit(0)))
        .as("n_tokens_bpe"))
  }

  /** Heuristic quality score: stopword ratio, vocabulary diversity and a
    * token-length band, combined with fixed weights. The formula's
    * operation order matches the oracle SQL exactly (double arithmetic is
    * deterministic when the expression tree is identical).
    */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val stopHits =
      size(filter(toks, t => t.isInCollection(Stopwords)))
    val nTok = size(toks)
    val stopRatio = (stopHits.cast("double") / nTok).as("stopword_ratio")
    val distinctRatio = (size(array_distinct(toks)).cast("double") / nTok).as("distinct_ratio")
    val avgLen = ((length(col(textCol)) - nTok + 1) / nTok)
    docs
      .select(col(idCol), stopRatio, distinctRatio, avgLen.as("avg_token_len"), nTok.as("n_tokens"))
      .withColumn(
        "quality_score",
        lit(0.3) * col("stopword_ratio") +
          lit(0.5) * col("distinct_ratio") +
          lit(0.2) * when(col("avg_token_len").between(3.0, 8.0), 1.0).otherwise(0.0))
  }

  /** Language-marker word lists for the n-gram/stopword language-ID
    * heuristic. Deterministic tie order: en > de > es > fr > zh.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
    "zh" -> Seq("de5", "shi4", "zai4", "le5", "he2"))

  /** Predict a language per document by marker-word hits. */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val hits = LangMarkers.map { case (lang, words) =>
      size(filter(toks, t => t.isInCollection(words))).as(s"hits_$lang")
    }
    val h = LangMarkers.map { case (lang, _) => col(s"hits_$lang") }.toIndexedSeq
    val predicted =
      when(h(0) >= h(1) && h(0) >= h(2) && h(0) >= h(3) && h(0) >= h(4), "en")
        .when(h(1) >= h(2) && h(1) >= h(3) && h(1) >= h(4), "de")
        .when(h(2) >= h(3) && h(2) >= h(4), "es")
        .when(h(3) >= h(4), "fr")
        .otherwise("zh")
    docs
      .select(col(idCol) +: col(textCol) +: hits: _*)
      .withColumn("predicted_lang", predicted)
      .drop(textCol)
  }

  /** 60-bit content fingerprint of the normalized text (md5-derived so
    * the oracle reproduces it; reference for rolling/structural
    * fingerprints at scale).
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      Hashing.md5Long60(lower(trim(col(textCol)))).as("fingerprint"))

  /** Default scrub pattern for [[regexRedact]]: emails, URLs, and (so
    * the synthetic all-words corpus exercises redaction at all) whole
    * words ending in "er". Stays in the Java∩RE2 common regex dialect
    * and contains no quote characters, so the identical string embeds
    * in both the Column API and a single-quoted SQL literal.
    */
  val PiiPattern: String =
    "[a-z0-9.]+@[a-z0-9.]+|https?://[^ ]+|\\b[a-z]+er\\b"

  /** Gopher-style bigram repetition: for each document, the total and
    * distinct bigram counts and the share of all bigrams taken by the
    * single most frequent one (ties broken lexicographically) — the
    * classic "repeated top n-gram fraction" quality filter.
    *
    * Scale shape: bigrams are built array-side per row (slice +
    * arrays_zip, codegen'd — no self-join, no pre-shuffle), then one
    * partial-aggregated shuffle counts (doc, gram) pairs and ONE more
    * partial-aggregated doc-keyed aggregation produces totals and the
    * argmax together (`min_by` over (-n, gram) is "highest count, then
    * lexicographically first gram") — no per-doc sort, no window pass.
    * Documents shorter than two tokens produce no row.
    */
  def bigramRepetition(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks)
    val grams = docs
      .select(
        col(idCol),
        explode(arrays_zip(
          slice(toks, lit(1), n - 1).as("w1"),
          slice(toks, lit(2), n - 1).as("w2"))).as("g"))
      .select(col(idCol), concat_ws(" ", col("g.w1"), col("g.w2")).as("gram"))
    val counts = grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("n"))
    counts
      .groupBy(col(idCol))
      .agg(
        sum(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        min_by(col("gram"), struct((-col("n")).as("negn"), col("gram"))).as("top_bigram"),
        max(col("n")).as("top_bigram_n"))
      .select(
        col(idCol),
        col("n_bigrams"),
        col("n_distinct_bigrams"),
        col("top_bigram"),
        col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"))
  }

  /** C4/PII-style scrubbing: count and redact every match of `pattern`.
    * Pure per-row map — zero shuffles; the pattern must stay in the
    * Java∩RE2 common dialect (char classes, `\b`, alternation, `+`/`*`)
    * so the same string drives both this engine and the SQL oracle.
    */
  def regexRedact(
      docs: DataFrame,
      pattern: String,
      replacement: String = "<REDACTED>",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0)))
        .as("n_matches"),
      regexp_replace(col(textCol), pattern, replacement).as("redacted"))

  /** Word-shape quality signals (Gopher §A.1.1 style): word count,
    * extreme word lengths, digit/symbol character counts, and the
    * fraction of purely alphabetic words. Pure per-row map — zero
    * shuffles; integer counts plus one final double division keep it
    * bit-identical across engines.
    */
  def gopherStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val lens = transform(toks, t => length(t))
    docs.select(
      col(idCol),
      size(toks).as("n_words"),
      array_min(lens).as("min_word_len"),
      array_max(lens).as("max_word_len"),
      length(regexp_replace(col(textCol), "[^0-9]", "")).as("n_digit_chars"),
      length(regexp_replace(col(textCol), "[a-z0-9 ]", "")).as("n_symbol_chars"),
      (size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("double") /
        size(toks)).as("frac_alpha_words"))
  }

  /** The most characteristic term per document by a TF-IDF-style score:
    * `tf * (N + 1) / (df + 1)` with ties broken lexicographically. The
    * score keeps the classic shape but replaces `log` with a rational
    * form — ranking is unchanged (log is monotone) and the arithmetic
    * stays a single division of exact integers, so it is bit-identical
    * across engines (a cross-engine `ln` would not be).
    *
    * Scale shape: token explode → (doc, token) partial-aggregated count
    * shuffle; document frequency is a second aggregation of that result
    * (no rescan of the corpus), broadcast back onto the (doc, token)
    * stream — the big side is never re-sorted or re-shuffled for the
    * join — and the per-doc argmax is one more partial-aggregated
    * `min_by` over (-tfidf, token), no window sort. For open
    * vocabularies past broadcast size, drop the hint and the join
    * becomes a token-keyed shuffle (same semantics).
    */
  def tfIdfTopTerm(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // corpus size stays IN the plan (broadcast 1-row cross join) — no
    // eager count() action, so the whole thing is one lazy plan
    val nDocs = docs.agg(count(lit(1)).as("_n_docs"))
    // keyed narrow-scan fan-out: the (id, token) tf aggregate below
    // clusters by a superset of the id, so the id-hash exchange is
    // reused (no extra shuffle) and the tokenize+explode body runs at
    // session parallelism instead of the scan's single task — the same
    // measured pattern as duplicateSpans/shingleHashSets (round 14)
    val tf = Dedup.fanOutNarrowScanBy(docs, Seq(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfCounts = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfCounts), "token")
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "tfidf",
        (col("tf") * (col("_n_docs") + 1L)).cast("double") /
          (col("df") + 1L).cast("double"))
    scored
      .groupBy(col(idCol))
      .agg(min_by(
        struct(col("token"), col("tf"), col("df"), col("tfidf")),
        struct((-col("tfidf")).as("negs"), col("token"))).as("_top"))
      .select(
        col(idCol),
        col("_top.token").as("top_term"),
        col("_top.tf").as("tf"),
        col("_top.df").as("df"),
        col("_top.tfidf").as("tfidf"))
  }

  /** BM25 ranked retrieval over the corpus for a fixed set of term
    * queries — the curation/inspection op ("the docs most about X") and
    * the lexical half of retrieval/contamination checks. BM25's tf
    * saturation (k1 = 1.2, b = 0.75) re-expressed in EXACT integer
    * micro-units so the score is bit-identical on any engine: logs and
    * raw double sums are not portable (ulp drift + summation order), so
    * the idf and tf-saturation terms are floor-divided rationals —
    *
    *   nd      = (1000 · dl · N) div Σdl                  (dl/avgdl, milli)
    *   tf_part = (2_200_000 · tf) div (1000·tf + 300 + (9·nd) div 10)
    *   idf_m   = (1000 · (2N − 2·df + 1)) div (2·df + 1)
    *   score_u = Σ_terms idf_m · tf_part                  (exact BIGINT)
    *
    * (idf_m ≤ 2·10³·N, tf_part < 2 200, terms per query small — the sum
    * stays far inside int64 even at 10⁹ documents.)
    *
    * DELIBERATE DEVIATION from Robertson's idf: `idf_m` is the raw
    * rational (N − df + ½)/(df + ½) in milli-units, NOT its log. A log
    * is not exactly computable in integer arithmetic, and the monotone
    * transform preserves every single-term ranking; for multi-term
    * queries the linear idf weights rare terms MORE steeply than
    * log-idf, so a multi-term ranking can diverge from textbook BM25
    * where a common term's high tf would otherwise outvote a rare
    * term's presence. Callers wanting textbook multi-term blending
    * should apply their own float idf downstream; this op's contract
    * is bit-stable cross-engine ordering, not Robertson fidelity.
    *
    * Scale shape: ONE pass and ONE exchange over the token stream — the
    * per-doc aggregation computes document length and a conditional
    * count per query term (terms are plan-time literals) in the same
    * groupBy, so corpus-wide term statistics are never materialized and
    * there is no second tf pass; document frequencies ride the SAME
    * one-row stats aggregate as N and Σdl (one `sum(tf_i > 0)` per
    * term), so the per-query scores are pure plan-time literal
    * expressions over the per-doc row × one broadcast stats row — no
    * term melt, no df join, no query-terms join. The top-k is a
    * per-query window over docs where some query term is PRESENT
    * (tf > 0 for at least one term) — presence, not score_u > 0,
    * because the floored idf_m legitimately hits 0 for near-ubiquitous
    * terms and such matching docs must still rank (tie-broken by id),
    * the exact semantics of a term-match join.
    */
  def bm25TopK(
      docs: DataFrame,
      queries: Seq[(Int, Seq[String])],
      k: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queries.nonEmpty, "bm25TopK needs at least one query")
    require(queries.forall(_._2.nonEmpty), "every query needs at least one term")
    val termSet = queries.flatMap(_._2).distinct
    require(termSet.size <= 256,
      s"bm25TopK holds one aggregate column per distinct term; " +
        s"${termSet.size} terms exceeds the 256 cap — batch the queries")
    val termIdx = termSet.zipWithIndex.toMap
    // keyed narrow-scan fan-out: the per-doc (dl, tf) aggregate below
    // groups by the id, so the id-hash exchange replaces the
    // aggregation's own and the tokenize+explode runs wide (round-14
    // pattern; a single-split corpus otherwise runs it in one task)
    val tok = Dedup.fanOutNarrowScanBy(docs, Seq(idCol)).select(
      col(idCol).as("_d"), explode(tokens(col(textCol))).as("_t"))
    // dl + per-term tf in ONE aggregation (terms are plan-time literals)
    val aggCols = count(lit(1)).as("_dl") +:
      termSet.zipWithIndex.map { case (t, i) =>
        sum(when(col("_t") === t, 1L).otherwise(0L)).as(s"_tfc_$i")
      }
    val perDoc = tok.groupBy(col("_d")).agg(aggCols.head, aggCols.tail: _*)
    // N, Σdl AND every term's document frequency in one 1-row aggregate
    val statAggs = Seq(
      count(lit(1)).as("_n_docs"), sum(col("_dl")).as("_sum_dl")) ++
      termSet.indices.map(i =>
        sum(when(col(s"_tfc_$i") > 0L, 1L).otherwise(0L)).as(s"_dfc_$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    // per-query scores as literal expressions: Σ over the query's
    // (distinct) terms of idf_m(df_t) · tf_part(tf_t) — exact BIGINT.
    // Duplicate query ids merge first (union of their term lists), the
    // semantics of the former distinct-(q, term)-pairs join.
    val nd = expr("(1000 * _dl * _n_docs) div _sum_dl")
    def tfp(i: Int) = expr(
      s"(2200000 * _tfc_$i) div (1000 * _tfc_$i + 300 + (9 * _nd) div 10)")
    def idfm(i: Int) = expr(
      s"(1000 * (2 * _n_docs - 2 * _dfc_$i + 1)) div (2 * _dfc_$i + 1)")
    val merged = queries.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).distinct).toSeq.sortBy(_._1)
    // ranked-set membership is PRESENCE (some query term occurs in the
    // doc — the semantics of the former tf > 0 melt filter), NOT
    // score_u > 0: the floored idf_m hits 0 for near-ubiquitous terms
    // (df within ~0.05% of N) and tf_part can floor to 0 for extreme
    // dl, so a matching doc can carry a legitimate ZERO score and must
    // still rank (ties broken by doc id), exactly like the oracle's
    // presence join
    val qScores = merged.map { case (q, ts) =>
      struct(
        lit(q).as("_q"),
        ts.map(t => idfm(termIdx(t)) * tfp(termIdx(t)))
          .reduce(_ + _).as("_s"),
        ts.map(t => col(s"_tfc_${termIdx(t)}") > 0L)
          .reduce(_ || _).as("_present"))
    }
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_q"))
      .orderBy(col("score_u").desc, col("_d").asc)
    perDoc
      .crossJoin(broadcast(stats))
      .withColumn("_nd", nd)
      .select(col("_d"), explode(array(qScores: _*)).as("_x"))
      .filter(col("_x._present"))
      .select(col("_d"), col("_x._q").as("_q"), col("_x._s").as("score_u"))
      .withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= k)
      .select(col("_q").as("query_id"), col("_d").as(idCol),
        col("score_u"), col("rank"))
  }

  /** Sequential sequence packing — the standard pretraining step that
    * concatenates documents into fixed-token-budget training rows. Docs
    * are taken in id order within each shard and a doc joins the pack
    * where it starts (`pack_id = tokens-before-it div budget`); packs
    * never reorder, so the assignment is deterministic and re-runs
    * reassign nothing.
    *
    * Scale shape: one shuffle by shard; the exclusive running total is a
    * ROWS-frame window per shard, so shards pack in parallel and a shard
    * is the natural unit real pipelines pack within anyway (a single
    * global order would serialize the scan).
    */
  def packSequences(
      docs: DataFrame,
      budgetTokens: Long,
      shardCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(shardCol), col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn(
        "tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"tokens_before div $budgetTokens"))
  }

  /** Corpus-frequency rarity score: each document's mean corpus
    * frequency over its token occurrences — the vocabulary-free quality
    * proxy (documents of rare tokens score low, boilerplate of common
    * tokens scores high); the model-free sibling of [[lmScore]]'s
    * reference-trained perplexity gate. Exact integers plus ONE
    * final division, so the score is bit-identical everywhere.
    *
    * Scale shape: one partial-aggregated shuffle builds the frequency
    * table (vocabulary-sized); it broadcasts back onto the token stream
    * and the per-doc sum partial-aggregates again — the corpus is
    * scanned twice, nothing pairwise. For open vocabularies past
    * broadcast size, drop the hint and the probe becomes a token-keyed
    * shuffle join.
    */
  def tokenRarity(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("_tok"))
    val freq = toks.groupBy(col("_tok")).agg(count(lit(1)).as("_f"))
    toks
      .join(broadcast(freq), "_tok")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("_f")).as("freq_sum"))
      .withColumn(
        "mean_token_freq",
        col("freq_sum").cast("double") / col("n_tokens"))
  }

  /** CCNet-style bigram language-model quality score: train add-one-
    * smoothed bigram probabilities on a REFERENCE corpus (the trusted
    * subset — CCNet trains its KenLM on Wikipedia), then score every
    * document by its mean bigram log-probability under that model. Low
    * scores mark text the reference LM finds surprising (gibberish,
    * wrong register, machine junk) — the standard perplexity quality
    * gate of LLM data pipelines.
    *
    * Engine portability (the reason [[tokenRarity]] existed as the
    * stand-in): raw log-prob SUMS are order-dependent doubles. Here
    * each bigram's log-prob is quantized to fixed-point micro-nats —
    * `round(ln((c12+1)/(c1+V)) * 1e6)` as BIGINT, where c12 (ref
    * bigram count), c1 (ref prefix count) and V (ref vocabulary) are
    * exact integers, so the quotient double is IEEE-identical in every
    * engine — and a document's score becomes an order-independent
    * INTEGER sum of those, divided exactly once at the end. The only
    * cross-engine freedom left is a 1-ulp `ln` difference landing on a
    * .5 micro-nat boundary (~1e-9 odds per distinct model entry).
    * Unseen bigrams back off inside the same formula (c12=0; unseen
    * prefix makes it 1/V).
    *
    * Scale shape: the model is vocabulary²-bounded, not corpus-bounded
    * — two partial-aggregated shuffles over the REFERENCE build the
    * bigram and prefix counts, which broadcast back onto the scored
    * corpus's array-side bigram stream (slice + arrays_zip per row, no
    * self-join, no shuffle of the corpus itself); one doc-keyed
    * partial aggregate produces the score. For open vocabularies past
    * broadcast size, drop the hints and the probe becomes a
    * gram-keyed shuffle join. Documents shorter than two tokens emit
    * no row (route those through [[qualityScore]]).
    */
  def lmScore(
      scored: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def bigrams(df: DataFrame) = {
      val toks = tokens(col(textCol))
      val n = size(toks)
      df.select(
          df.columns.map(col).toSeq :+ explode(arrays_zip(
            slice(toks, lit(1), n - 1).as("w1"),
            slice(toks, lit(2), n - 1).as("w2"))).as("_g"): _*)
        .withColumn("w1", col("_g.w1"))
        .withColumn("w2", col("_g.w2"))
        .drop("_g")
    }
    val refGrams = bigrams(ref.select(col(textCol)))
    val bigramCounts = refGrams.groupBy("w1", "w2").agg(count(lit(1)).as("_c12"))
    val prefixCounts = bigramCounts.groupBy("w1").agg(sum("_c12").as("_c1"))
    val vocab = ref
      .select(explode(tokens(col(textCol))).as("_t"))
      .agg(countDistinct(col("_t")).as("_v"))
    // keyed narrow-scan fan-out on the SCORED side: its bigram explode
    // feeds broadcast joins and then a per-doc aggregate, so the
    // id-hash exchange is reused by the final groupBy and the explode
    // runs wide (the ref side's aggregates are token-keyed — no
    // pre-explode key exists there, and it is a corpus fraction anyway)
    bigrams(Dedup.fanOutNarrowScanBy(
        scored.select(col(idCol), col(textCol)), Seq(idCol)))
      .join(broadcast(bigramCounts), Seq("w1", "w2"), "left")
      .join(broadcast(prefixCounts), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn(
        "_logp_micro",
        round(
          log(
            (coalesce(col("_c12"), lit(0L)) + 1L).cast("double") /
              (coalesce(col("_c1"), lit(0L)) + col("_v")).cast("double")) * 1e6,
          0).cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("_logp_micro")).as("sum_logp_micro"))
      .withColumn(
        "avg_logp_micro",
        col("sum_logp_micro").cast("double") / col("n_bigrams"))
  }

  /** Sliding token-window chunker — the standard context-length split
    * for training corpora: each document with at least `chunk` tokens
    * yields windows of `chunk` tokens starting every `stride` tokens
    * (overlap = chunk - stride). Documents shorter than one chunk emit
    * nothing; real pipelines route those through [[packSequences]]
    * instead (pack short docs, slide long ones).
    *
    * Pure per-row array arithmetic (sequence/transform/slice — all
    * codegen'd): chunking never shuffles, and at 100 TB the output
    * inherits the input's partitioning.
    */
  def chunkTokens(
      docs: DataFrame,
      chunk: Int,
      stride: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunk >= 1 && stride >= 1, s"bad chunk/stride $chunk/$stride")
    val toks = tokens(col(textCol))
    docs
      .filter(size(toks) >= chunk)
      .select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0), floor((size(toks) - chunk) / lit(stride)).cast("int")),
            i => array_join(slice(toks, i * stride + 1, lit(chunk)), " ")))
          .as(Seq("chunk_idx", "chunk_text")))
  }

  /** Word-level n-grams as space-joined strings, empty array for
    * documents shorter than n tokens (guarded — `sequence(1, 0)` would
    * otherwise count DOWN). Built array-side per row (codegen'd), so
    * n-gram generation itself never shuffles.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Benchmark decontamination — the standard pretraining hygiene step:
    * flag every corpus document sharing at least one word n-gram with a
    * held-out evaluation set, so contaminated documents can be dropped
    * before training. Returns one row per corpus document with the
    * count of its distinct n-grams that appear anywhere in the eval set
    * and a `keep` flag (no hits).
    *
    * Scale shape: the eval side reduces to a DISTINCT gram set — tiny
    * relative to the corpus (eval benchmarks are MBs, corpora are TBs) —
    * so the probe is a broadcast join against exploded corpus grams,
    * partially aggregated back to one row per document before the
    * doc-keyed merge. The corpus is scanned once; nothing shuffles at
    * corpus scale except the per-doc hit counts.
    */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val evalGrams = evalSet
      .select(explode(wordNgrams(col(textCol), n)).as("_gram"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(array_distinct(wordNgrams(col(textCol), n))).as("_gram"))
      .join(broadcast(evalGrams), "_gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_n_hit"))
    corpus
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hit_grams", coalesce(col("_n_hit"), lit(0L)))
      .withColumn("keep", col("n_hit_grams") === 0L)
      .drop("_n_hit")
  }

  /** [[decontaminate]] with a BLOOM-FILTER prefilter — the shape that
    * survives a large eval suite at 100 TB. The exact variant
    * broadcasts the full distinct eval-gram set as a join hashmap; at
    * tens of millions of grams that broadcast is gigabytes per
    * executor. Here the eval grams aggregate into ONE bloom filter
    * (~`numBits/8` bytes total, a single-row driver materialization
    * bounded by the filter size, never by gram count) whose
    * `might_contain` probe runs inside whole-stage codegen on the
    * corpus scan — no join, no shuffle — and only the surviving
    * CANDIDATE grams proceed to the exact verify join. Bloom filters
    * have false positives only, and the verify join removes exactly
    * those, so the result is bit-identical to [[decontaminate]]: the
    * approximation buys memory and shuffle volume, never correctness.
    * The verify join is left to the planner: its input is the
    * candidate set (true hits + FP rate of the corpus grams), so it
    * shuffles a sliver of the corpus instead of broadcasting the eval
    * suite.
    *
    * `expectedGrams`/`numBits` size the filter (default ≈19 bits/gram
    * ⇒ well under 1% FP at the default capacity); both are capped by
    * Spark's `bloomFilter.maxNumBits` conf on the aggregate side.
    * Built entirely from Catalyst's own bloom expressions
    * (`BloomFilterAggregate`/`BloomFilterMightContain` — the runtime
    * row-level-filtering machinery) over the public `xxhash64`; no
    * UDFs anywhere.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      expectedGrams: Long = 3500000L,
      numBits: Long = 67108864L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.bridge
    val evalGrams = evalSet
      .select(explode(wordNgrams(col(textCol), n)).as("_gram"))
      .distinct()
    val expAdaptive = bloomItems(evalSet, expectedGrams)
    val bitsAdaptive = math.min(
      numBits,
      math.max(
        64L * 1024,
        ((numBits.toDouble / expectedGrams) * expAdaptive).ceil.toLong))
    val bloomAgg = bridge.column(
      new BloomFilterAggregate(
        bridge.expression(xxhash64(col("_gram"))),
        Literal(expAdaptive),
        Literal(bitsAdaptive)).toAggregateExpression())
    val bloom = evalGrams.select(bloomAgg.as("_bf")).head().getAs[Array[Byte]](0)
    val mightContain = bridge.column(
      BloomFilterMightContain(
        Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
        bridge.expression(xxhash64(col("_gram")))))
    val hits = corpus
      .select(col(idCol), explode(array_distinct(wordNgrams(col(textCol), n))).as("_gram"))
      .filter(mightContain) // codegen'd probe: no join, no shuffle, FPs only
      .join(evalGrams, "_gram") // exact verify over the candidate sliver
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_n_hit"))
    corpus
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hit_grams", coalesce(col("_n_hit"), lit(0L)))
      .withColumn("keep", col("n_hit_grams") === 0L)
      .drop("_n_hit")
  }

  /** Item count [[decontaminateBloom]] sizes its filter for, from PLAN
    * STATS (driver-side, no job): the eval set cannot hold more distinct
    * n-grams than it has tokens, and a token costs at least a byte of
    * the stored size. For a file source that size is the compressed
    * bytes on disk, which can be several times smaller than the text,
    * so no tighter per-token divisor is safe. Sizing down keeps the
    * default ~19 bits/gram FP budget while shrinking every
    * partial-aggregate buffer, the merged filter, and the plan literal
    * the probe embeds (8 MB at the 100 TB default — measured dominating
    * this operator's build at bench scale, where the eval set is a few
    * hundred KB). Undersizing is correctness-neutral by construction:
    * false positives only, removed by the exact verify join; the
    * caller's cap is never EXCEEDED, only reduced.
    */
  private[graft] def bloomItems(evalSet: DataFrame, expectedGrams: Long): Long = {
    val statBytes =
      org.apache.spark.sql.graftbridge.bridge.optimizedPlan(evalSet).stats.sizeInBytes
    if (statBytes > 0 && statBytes < BigInt(Long.MaxValue) / 2)
      math.min(expectedGrams, math.max(4096L, statBytes.toLong))
    else expectedGrams
  }

  /** Exact-substring duplicate spans — the "deduplicating training data"
    * primitive at span granularity: every `width`-token window (taken
    * every `stride` tokens) is content-hashed, and windows whose hash
    * occurs in MORE THAN ONE distinct document are reported with their
    * document and occurrence counts. Downstream pipelines cut or mask
    * these spans rather than dropping whole documents — the standard
    * remedy for boilerplate shared across otherwise-distinct pages.
    *
    * Scale shape: per-row window generation (sequence/slice, codegen'd,
    * no self-join) runs ONCE, emitting only (hash, doc, position) — no
    * span text ever crosses a shuffle. Two narrow partial-aggregated
    * shuffles follow: (hash, doc) → occurrence count + min position,
    * then hash → doc count + occurrence total + the lexicographic-min
    * representative occurrence (a deterministic struct min, no
    * countDistinct Expand doubling the heavy stage). Output is bounded
    * by the number of DISTINCT repeated spans, never the corpus.
    * Smaller stride raises recall (stride 1 = every position) at
    * explode-factor cost — the standard knob.
    *
    * The portable md5 span id (the oracle-expressible `span_hash`) is
    * NOT paid per window: the heavy pass hashes each window's token
    * slice with native xxhash64 (whole-stage codegen, no string join,
    * no md5 hex round-trip). The few SURVIVING spans broadcast into one
    * plain docs scan — no second window explode — where each
    * representative's recorded position re-slices its text and md5 runs
    * once per distinct repeated span. Both hashes partition the
    * corpus's spans identically short of a 2^-64-per-pair collision,
    * the same accepted class as every hash-keyed operator here.
    */
  /** Cross-document duplicate spans: the maximal token runs (length ≥
    * `minSpanTokens`) shared verbatim between two DIFFERENT documents —
    * the exact-substring dedup signal pretraining pipelines cut on
    * (boilerplate, mirrored passages, licensing blocks), where document-
    * level near-dup metrics stay silent because the rest of the docs
    * differ.
    *
    * Mechanics: stride-1 `width`-token shingles keyed by content hash;
    * matching shingles across a doc pair are alignments (pa, pb), and
    * alignments on one DIAGONAL (pa − pb constant) with consecutive pa
    * merge into maximal runs (gaps-and-islands per diagonal): a run of m
    * consecutive shingle starts is a shared span of `width + m − 1`
    * tokens. Emits (doc_a, doc_b, start_a, start_b, span_tokens), one
    * row per maximal run.
    *
    * Scale shape: shingling is stride-1, so the explode carries ~one row
    * per corpus token — the honest cost of exact-substring dedup (what a
    * suffix array pays too), partitioned by the scan. The only
    * quadratic risk is the shingle self-join; `maxShingleOcc` drops
    * shingles whose total occurrence exceeds the cap (the standard
    * df-cap on boilerplate n-grams), bounding pair fan-out at cap² per
    * shingle. Spans built purely from window + groupBy — no driver state.
    */
  def crossDupSpans(
      docs: DataFrame,
      width: Int = 8,
      minSpanTokens: Int = 16,
      maxShingleOcc: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    require(minSpanTokens >= width,
      s"minSpanTokens ($minSpanTokens) must be >= width ($width)")
    require(maxShingleOcc >= 2, s"maxShingleOcc must be >= 2, got $maxShingleOcc")
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col(textCol))
    // content key: xxhash64 over the sliced token array directly — no
    // join-to-string, no cryptographic hash (duplicateSpans' choice);
    // the key never reaches the output, so the oracle is free to group
    // by the raw shingle text instead
    // the tokenize+explode+hash pipeline is the op's compute body; fan
    // a narrow scan out first (measured: 2 of 3.6 bench seconds in ONE
    // task at sf0.1 — the documents table is one parquet split). The
    // byte bound is raised to 8 splits' worth: stride-1 shingling is
    // heavy enough per row that the fan-out keeps winning on mid-size
    // corpora where the cheap-per-row ops (ANN prune) stop. See
    // [[Dedup.fanOutNarrowScan]] for the scale-safety argument.
    val sh = Dedup
      .fanOutNarrowScan(
        docs.filter(col(idCol).isNotNull && size(toks) >= width),
        maxSplitsOfBytes = 8)
      .select(
        col(idCol).as("_doc"), toks.as("_toks"),
        explode(sequence(lit(1), size(toks) - (width - 1))).as("_pos"))
      .select(
        col("_doc"), col("_pos"),
        xxhash64(slice(col("_toks"), col("_pos"), lit(width))).as("_h"))
    // TWO narrow scans, tiny-only shuffles — neither of the obvious
    // shapes survives scale: a count window shuffles the corpus-sized
    // shingle stream by _h and buffers each df-capped boilerplate key
    // inside ONE task; a kept⋈kept self-join re-evaluates the shingle
    // pipeline on both sides (3 scans). Instead: (1) groupBy count
    // partial-aggregates map-side, so its shuffle carries ~one row per
    // distinct hash per map partition, never the corpus; the surviving
    // duplicate-hash set is usually tiny and AQE broadcasts the
    // join-back, so the corpus-sized stream is NEVER exchanged; (2) the
    // filtered survivors group into per-hash occurrence lists (the cap
    // bounds every list at maxShingleOcc) and pairs explode from the
    // list — pair fan-out ≤ cap² per shingle by construction, and the
    // only exchange of real rows is the tiny survivor set.
    val counted = sh.groupBy(col("_h")).agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= 2 && col("_occ") <= maxShingleOcc)
      .select(col("_h"))
    // STRATEGY PICK, result-identical either way (size(collect_list) ==
    // the count the pre-filter tests — both count every occurrence):
    //
    //   - narrow corpus (single-split shape, the bench scale): ONE
    //     tokenize pass and ONE shuffle — groupBy(_h) collects every
    //     occurrence list and the size filter culls afterwards. The
    //     two-pass form tokenizes the corpus TWICE (measured: the two
    //     shingle stages are 0.25 s + 0.29 s of a ~1.0 s query at
    //     sf0.1), and its count pre-pass shuffles ~one (hash, count)
    //     row per distinct hash anyway — on a narrow corpus the
    //     one-pass (hash, doc, pos) shuffle costs the same bytes and
    //     saves the whole second tokenize.
    //
    //   - wide corpus (the 100 TB shape): keep the two-pass form. The
    //     count pre-filter is what BOUNDS collect_list — without it a
    //     boilerplate shingle past maxShingleOcc would accumulate its
    //     full occurrence list (unbounded) in the final aggregate
    //     before the size filter could drop it. The pre-filtered join
    //     shuffles survivors only, and the extra tokenize pass is a
    //     scan-parallel map, not a shuffle.
    val occs =
      if (Dedup.isNarrowScan(docs, maxSplitsOfBytes = 8))
        sh.groupBy(col("_h"))
          .agg(collect_list(struct(col("_doc"), col("_pos"))).as("_occs"))
          .filter(size(col("_occs")) >= 2 && size(col("_occs")) <= maxShingleOcc)
      else sh.join(counted, "_h")
        .groupBy(col("_h"))
        .agg(collect_list(struct(col("_doc"), col("_pos"))).as("_occs"))
    val pairs = occs
      .select(explode(col("_occs")).as("_a"), col("_occs"))
      .select(col("_a"), explode(col("_occs")).as("_b"))
      .filter(col("_a._doc") < col("_b._doc"))
      .select(
        col("_a._doc").as("doc_a"), col("_b._doc").as("doc_b"),
        col("_a._pos").as("pa"), col("_b._pos").as("pb"))
      .withColumn("_d", col("pa") - col("pb"))
    // per diagonal, (doc_a, pa) determines the shingle, so pa values are
    // distinct — row_number over pa is a total order and pa − rn is the
    // classic island key for consecutive runs
    val byDiag = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("_d"))
      .orderBy(col("pa").asc)
    pairs
      .withColumn("_grp", col("pa") - row_number().over(byDiag))
      .groupBy(col("doc_a"), col("doc_b"), col("_d"), col("_grp"))
      .agg(
        min(col("pa")).cast("long").as("start_a"),
        min(col("pb")).cast("long").as("start_b"),
        (max(col("pa")) - min(col("pa")) + width).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"),
        col("start_a"), col("start_b"), col("span_tokens"))
  }

  def duplicateSpans(
      docs: DataFrame,
      width: Int,
      stride: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(width >= 1 && stride >= 1, s"bad width/stride $width/$stride")
    val toks = tokens(col(textCol))
    // null ids are excluded up front: n_docs is a DISTINCT-document
    // count (SQL COUNT DISTINCT ignores nulls, and a null id could
    // neither join back for its representative text nor name a document
    // to cut spans from) — same guard as ngramJaccardPairs.
    // Keyed narrow-scan fan-out: the (hash, doc) aggregate below clusters
    // by a superset of the doc id, so the id-hash exchange is reused and
    // the window/hash pipeline runs at session parallelism (measured
    // 0.63 → 0.58 s same-JVM; see Dedup.fanOutNarrowScanBy)
    val windows = Dedup.fanOutNarrowScanBy(docs, Seq(idCol), maxSplitsOfBytes = 8)
      .filter(col(idCol).isNotNull && size(toks) >= width)
      .select(
        col(idCol),
        toks.as("_toks"),
        explode(
          sequence(lit(0), floor((size(toks) - width) / lit(stride)).cast("int")))
          .as("_i"))
      .select(
        col(idCol),
        (col("_i") * stride + 1).as("_pos"),
        xxhash64(slice(col("_toks"), col("_i") * stride + 1, lit(width)))
          .as("_ch"))
    val spans = windows
      .groupBy(col("_ch"), col(idCol))
      .agg(count(lit(1)).as("_occ"), min(col("_pos")).as("_pos"))
      .groupBy(col("_ch"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_occ")).as("n_occurrences"),
        min(struct(col(idCol).as("_rid"), col("_pos").as("_rpos"))).as("_rep"))
      .filter(col("n_docs") >= 2)
      .select(
        col("_ch"),
        col("_rep._rid").as(idCol),
        col("_rep._rpos").as("_pos"),
        col("n_docs"),
        col("n_occurrences"))
    // no broadcast HINT: the surviving-span set is usually tiny (AQE
    // broadcasts it) but is bounded only by the number of distinct
    // repeated spans — a boilerplate-heavy corpus can push it past the
    // broadcast limit, where this join must degrade to a shuffle join
    // instead of failing
    //
    // Duplicate-id safety: the docs side may hold several rows under the
    // representative's id (dirty input), and a row other than the one
    // that produced the window could re-slice to DIFFERENT content at
    // `_pos`. Recomputing the window hash on the joined row and
    // requiring it to equal `_ch` keeps exactly the rows whose slice IS
    // the span (the producing row always matches, so every span
    // survives); the final `_ch` dedupe restores the one-row-per-span
    // contract when several identical-text rows match. Both run on the
    // post-join set — bounded by surviving spans × id-duplication, never
    // the corpus.
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol), toks.as("_toks"))
      .join(spans, Seq(idCol))
      .filter(
        xxhash64(slice(col("_toks"), col("_pos"), lit(width))) === col("_ch"))
      .select(
        Hashing.md5Long60(
          array_join(slice(col("_toks"), col("_pos"), lit(width)), " "))
          .as("span_hash"),
        col("_ch"),
        col("n_docs"),
        col("n_occurrences"))
      // surviving duplicate-id matches are bit-identical rows (same span
      // content ⇒ same hash and counts), so the dedupe is value-stable;
      // it runs AFTER the token array is projected away, keeping the
      // no-array-through-a-shuffle plan shape
      .dropDuplicates("_ch")
      .drop("_ch")
  }

  /** The first BPE-training step: count every adjacent CHARACTER pair
    * inside every token occurrence (with multiplicity — BPE counts
    * occurrences, not types) and return the k most frequent merge
    * candidates with a deterministic (count desc, pair asc) tie-break.
    * Iterating this (merge the winner, re-count) is exactly tokenizer
    * training; one step is the corpus-statistics primitive pipelines
    * schedule, and its output ranking is what vocabulary-size planning
    * reads.
    *
    * Scale shape: per-row pair generation (sequence/substring,
    * codegen'd) → one partial-aggregated count shuffle (alphabet²-sized
    * output) → distributed TakeOrdered top-k; the single-partition
    * ranking window only ever sees k rows.
    */
  def bpeTopPairs(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    // per-CHARACTER explode: the heaviest per-input-row pipeline in the
    // text family, and the pair key space is tiny (distinct adjacent
    // char pairs), so 32 partial aggregates shuffle almost nothing more
    // than 1 — fan a narrow scan out first (measured 0.58 → 0.40 s at
    // bench sf0.1, where the docs table is one parquet split). Byte
    // bound 8 splits like crossDupSpans: the win holds wherever per-row
    // compute dominates a text-sized shuffle.
    Dedup.fanOutNarrowScan(docs, maxSplitsOfBytes = 8)
      .select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("n").desc, col("pair").asc)).cast("int"))
  }

  /** Corpus vocabulary: the k most frequent tokens (ties broken
    * lexicographically), with their counts and 1-based rank.
    *
    * Scale shape: the token count is one partial-aggregated shuffle over
    * the corpus; the top-k cut is a distributed TakeOrdered (every
    * partition keeps k candidates), and only the k survivors enter the
    * single-partition ranking window — the window never sees the full
    * vocabulary.
    */
  def vocabTopK(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("n").desc, col("token").asc)).cast("int"))
  }
}
