package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, FeatureEncoding, Multimodal, Profiling, Similarity, TextAnalysis}
import graft.store.{PointInTime, WindowFeatures}

/** North-star extension queries (SURVEY.md §7.4): dedup, similarity
  * search, text analysis, multimodal plumbing over the documents /
  * embeddings tables. Split from [[SparkEntry]] for readability; the
  * driver sees the concatenated maps.
  *
  * Oracle-matching rules are the same as the parity set: md5-derived
  * hashes (portable), integral arithmetic where possible, sequential
  * double folds for dot products, canonical ORDER BY everywhere.
  */
object NorthStar {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/documents.parquet")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/embeddings.parquet")

  private val AnnQueryIds: Seq[Long] = 0L to 9L

  /** Memoized on-disk IVF index per sf dir: written partitioned by
    * inverted list so probe queries prune at the scan. The directory is
    * FINGERPRINT-KEYED under the same `graft_*_<san>_<fp>` convention
    * as SparkEntry's demo stores: a rebuilt corpus maps to a fresh
    * name, stale fingerprints' dirs (including any prior JVM's) are
    * reclaimed by [[graft.store.FeatureStore.vacuumSiblingRoots]], and
    * a dir whose fingerprint still matches is REUSED across JVMs —
    * build-once index maintenance, not build-per-session.
    */
  private val ivfIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memoized LEARNED centroids per sf dir — a trained quantizer is a
    * build-once artifact exactly like the persisted index above; every
    * query against the same corpus probes the same centroids. (Training
    * is deterministic and bit-reproducible, so memoization is
    * value-invisible — asserted in OpsSpec.)
    */
  private val kmeansCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def learnedCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    kmeansCentroids.computeIfAbsent(dir, _ =>
      Similarity.ivfCentroidsKMeans(emb(s, dir), numCentroids = 16, iters = 1))

  private def ivfIndexDir(s: SparkSession, dir: String): String =
    ivfIndexDirs.computeIfAbsent(dir, _ => {
      val e = emb(s, dir)
      val fp = e.agg(count(lit(1)), sum(col("vec_id"))).head()
      val (rows, idSum) = (fp.getLong(0), fp.getLong(1))
      val san = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path =
        s"${sys.props("java.io.tmpdir")}/graft_ivf_idx_v1_${san}_${rows}_$idSum"
      graft.store.FeatureStore.vacuumSiblingRoots(path, s"graft_ivf_idx_v1_${san}_",
        minAgeMillis = 15L * 60 * 1000)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
        Similarity.buildIvfIndex(e)
          .write.mode("overwrite").partitionBy("ivf_list").parquet(path)
      path
    })

  private def utc(v: String) =
    lit(graft.store.FeatureStore.normalizeTimestamp(v))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis ----
    "text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(docs(s, dir)).orderBy("doc_id")),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir)).orderBy("doc_id")),
    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir)).orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir)).orderBy("doc_id")),
    "text_vocab_topk" -> ((s, dir) =>
      TextAnalysis.vocabTopK(docs(s, dir), k = 100).orderBy("rank")),
    // tokenizer-training primitive: the top adjacent-char merge pairs
    // (the first BPE iteration's candidate ranking)
    "text_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpeTopPairs(docs(s, dir), k = 50).orderBy("rank")),
    // Gopher-style repeated-top-bigram fraction per document
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.bigramRepetition(docs(s, dir)).orderBy("doc_id")),
    // C4/PII-style scrubbing (emails, URLs, and an "-er"-word demo
    // class that actually fires on the synthetic corpus)
    "text_redact" -> ((s, dir) =>
      TextAnalysis.regexRedact(docs(s, dir), TextAnalysis.PiiPattern)
        .orderBy("doc_id")),
    // word-shape quality signals (extreme word lengths, digit/symbol
    // char counts, alphabetic-word fraction)
    "text_gopher" -> ((s, dir) =>
      TextAnalysis.gopherStats(docs(s, dir)).orderBy("doc_id")),
    // most characteristic term per doc by rational TF-IDF
    "text_tfidf_top" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerm(docs(s, dir)).orderBy("doc_id")),
    // BM25 ranked retrieval (k1=1.2, b=0.75) in exact integer
    // micro-units — logs/double sums are not engine-portable, floor'd
    // rationals are. tf is computed only for the broadcast term set.
    "text_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(
        docs(s, dir),
        Bm25Queries,
        k = 10)
        .orderBy("query_id", "rank")),
    // reciprocal-rank fusion of the lexical (BM25) and dense (cosine)
    // retrievers for the same three queries — rank reciprocals in exact
    // integer micro-units, so fused order is bit-stable across engines
    "retrieval_rrf_fusion" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(docs(s, dir), Bm25Queries, k = 20)
      val dense = Similarity
        .bruteForceTopK(emb(s, dir), Bm25Queries.map(_._1.toLong), k = 20)
        .select(col("query_id").cast("int").as("query_id"),
          col("neighbor_id"), col("rank"))
      graft.ops.Retrieval
        .rrfFuse(lex, dense, k = 10, idColB = "neighbor_id")
        .orderBy("query_id", "rank")
    }),
    // MMR diversity reranking over each query's exact cosine pool —
    // greedy λ·rel − (1−λ)·max-sim-to-selected trajectory, bit-stable
    // across engines (same double folds + id tie-breaks); the oracle
    // walks the identical trajectory with a recursive CTE
    "retrieval_mmr_topk" -> ((s, dir) =>
      graft.ops.Retrieval
        .mmrRerank(emb(s, dir), Bm25Queries.map(_._1.toLong),
          k = 5, poolSize = 16, lambdaPermille = 700)
        .orderBy("query_id", "rank")),
    // symmetric int8 vector compression (4x), exact-integer checksum
    "embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir)).orderBy("vec_id")),
    // Johnson–Lindenstrauss sign projection: 64 -> 16 dims as exact
    // integer arithmetic over the int8 code (md5-derived ±1 matrix) —
    // the ANN preconditioner; one pass, zero shuffles, codegen'd
    // unrolled add chains
    "embedding_project" -> ((s, dir) =>
      Similarity.projectSigns(emb(s, dir), outDims = 16, inDims = 64)
        .orderBy("vec_id")),
    // compressed-prune ANN: rank in the 32-dim projected space (integer
    // dots), exact-rescore only the 64-candidate sliver — the JL
    // pruner composed end-to-end; candidate membership and rescored
    // ranks both hash-checked against the oracle
    "ann_rp_topk" -> ((s, dir) =>
      Similarity
        .annTopKProjected(emb(s, dir), AnnQueryIds, k = 3,
          candidates = 64, outDims = 32, inDims = 64)
        .orderBy("query_id", "rank")),
    // ANN over a PERSISTED inverted-file index: the coarse probe filter
    // is a literal IN on the partition column — pruned at the scan
    "ann_ivf_indexed" -> ((s, dir) =>
      Similarity
        .ivfTopKIndexed(
          Tables.parquet(s, ivfIndexDir(s, dir)),
          Similarity.ivfCentroids(emb(s, dir)),
          AnnQueryIds, k = 3)
        .orderBy("query_id", "rank")),
    // O(delta) index maintenance: build the index on the first 256
    // vectors, APPEND the rest under the same quantizer, query the
    // combined index — must equal the one-shot build (same oracle),
    // proving incremental ANN ingest is value-invisible
    "ann_ivf_append" -> ((s, dir) => {
      val all = emb(s, dir)
      val cents = Similarity.ivfCentroids(all) // ids 0-15: inside the base
      val base = all.filter(col("vec_id") < 256)
      val delta = all.filter(col("vec_id") >= 256)
      Similarity
        .ivfTopKIndexed(
          Similarity.appendToIvfIndex(Similarity.buildIvfIndex(base), delta, cents),
          cents, AnnQueryIds, k = 3)
        .orderBy("query_id", "rank")
    }),
    // deterministic hash-bucket dataset split: stable across runs,
    // engines and cluster sizes — rerunning a pipeline reassigns nothing
    "split_assign" -> ((s, dir) =>
      graft.ops.Sampling
        .hashSplit(docs(s, dir), Seq("train" -> 80, "valid" -> 10, "test" -> 10))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),
    // leakage-safe variant: the split key is the near-dup CLUSTER, so
    // training near-copies can never contaminate valid/test
    "split_leakage_safe" -> ((s, dir) =>
      graft.ops.Sampling
        .leakageSafeSplit(docs(s, dir),
          Seq("train" -> 80, "valid" -> 10, "test" -> 10))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),
    // reproducible training-order shuffle: the op's OUTPUT ORDER is the
    // contract (compared row-by-row against the oracle's ORDER BY) —
    // same permutation on any engine at any parallelism
    "shuffle_order" -> ((s, dir) =>
      graft.ops.Sampling
        .deterministicShuffle(docs(s, dir), seed = "ep0")
        .select(col("doc_id"), col("shuffle_key"))),
    // dataset mixing: src0 kept whole, src1 heavily down-weighted,
    // everything else at 50% — stable per-mille hash cut
    "sample_mixture" -> ((s, dir) =>
      graft.ops.Sampling
        .mixtureSample(docs(s, dir),
          Map("src0" -> 1000, "src1" -> 100), defaultPermille = 500)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),
    // the up-weighting half: src0 at 2.5 epochs, src1 halved, rest 1x
    "sample_epochs" -> ((s, dir) =>
      graft.ops.Sampling
        .epochRepeat(docs(s, dir), Map("src0" -> 2500, "src1" -> 500))
        .select(col("doc_id"), col("source"), col("copy_id"))
        .orderBy("doc_id", "copy_id")),
    // temperature rebalancing at T=2 (the IEEE-exact sqrt path): big
    // strata down-sample toward uniform, the smallest keeps everything;
    // rates derive from the per-stratum counts inside the plan. The
    // corpus's sources are deliberately uniform, so the demo stratifies
    // by floor(sqrt(doc_id)) — stratum k holds 2k+1 documents, a
    // genuinely skewed size distribution (and sqrt of an exact integer
    // is IEEE-exact in both engines)
    "sample_temperature" -> ((s, dir) =>
      graft.ops.Sampling
        .temperatureSample(
          docs(s, dir).withColumn(
            "bucket", floor(sqrt(col("doc_id").cast("double"))).cast("long")),
          invTempPermille = 500, stratumCol = "bucket")
        .select(col("doc_id"), col("bucket"))
        .orderBy("doc_id")),
    // per-stratum hash-quota sample: 20% of each source, id-stable
    "sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling
        .stratifiedSample(docs(s, dir), percent = 20)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),
    // probability-proportional-to-size Bernoulli sample, weight = token
    // count, expected size 100 — exact integer rates (2^20 units), no
    // floating point, so inclusion is bit-stable on any engine
    "sample_weighted" -> ((s, dir) =>
      graft.ops.Sampling
        .weightedSample(
          docs(s, dir).withColumn(
            "w_tokens", size(split(col("text"), " ")).cast("long")),
          expectK = 100L, weightCol = "w_tokens")
        .select(col("doc_id"), col("w_tokens"), col("rate_pm"))
        .orderBy("doc_id")),
    // topic-balanced curation as ONE composition of existing units:
    // codegen'd seed-centroid assignment (the IVF coarse quantizer)
    // stratifies the corpus by semantic cluster, then the per-stratum
    // hash quota keeps 25% of EACH topic — over-represented topics
    // cannot crowd out rare ones, the cluster-balancing step of
    // embedding-aware data curation
    "sample_cluster_balanced" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.ivfCentroids(e, numCentroids = 16)
      val assigned = e.select(
        col("vec_id"),
        graft.functions.FloatVectorArgmaxDot(
          col("embedding").cast("array<float>"), cents).as("cluster"))
      graft.ops.Sampling
        .stratifiedSample(assigned, percent = 25,
          stratumCol = "cluster", idCol = "vec_id")
        .orderBy("vec_id")
    }),
    // exact-size systematic PPS: k=100 picks on the hash line, heavy
    // rows carry multiplicity — distributed prefix sum over 256
    // contiguous hash buckets, never a global-order window
    "sample_systematic" -> ((s, dir) =>
      graft.ops.Sampling
        .systematicSample(
          docs(s, dir).withColumn(
            "w_tokens", size(split(col("text"), " ")).cast("long")),
          k = 100L, weightCol = "w_tokens")
        .select(col("doc_id"), col("w_tokens"), col("n_picks"))
        .orderBy("doc_id")),
    // fixed-token-budget sequence packing per source shard
    "pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), budgetTokens = 256L)
        .orderBy("source", "doc_id")),
    // pivot breadth: doc counts, langs as columns (explicit value list
    // keeps the output schema deterministic — never inferred by a scan)
    "pivot_lang_counts" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("source"))
        .pivot("lang", Seq("en", "de", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source")),
    // grouping-sets breadth: source × lang rollup with subtotal rows;
    // group keys coalesced to a sentinel so neither engine's NULL sort
    // order matters
    "doc_stats_rollup" -> ((s, dir) =>
      docs(s, dir)
        .rollup(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .select(
          coalesce(col("source"), lit("<all>")).as("source"),
          coalesce(col("lang"), lit("<all>")).as("lang"),
          col("n_docs"),
          col("total_chars"))
        .orderBy("source", "lang")),
    "doc_stats_by_source" -> ((s, dir) =>
      docs(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .orderBy("source")),

    // ---- relational breadth: broadcast dim join + windowed analytics ----
    // anti-join coverage, churn-shaped: customers with NO orders since
    // the cutoff (left_anti plans as an anti hash join — no null-padded
    // outer blowup; the date filter pushes to the orders scan first)
    "customers_without_orders" -> ((s, dir) => {
      val ord = Tables.parquet(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit(
          graft.store.FeatureStore.normalizeTimestamp("1998-01-01 00:00:00")))
        .select(col("o_custkey"))
      Tables.parquet(s, s"$dir/customer.parquet")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),
    // method agreement: near-dup pairs found by BOTH MinHash-LSH and
    // SimHash vs by exactly one — the intersect/except sets computed as
    // ONE plan (tag each method, OR tags per pair, count by class)
    // instead of three separate set-op jobs. RAW (pre-distinct) pair
    // streams: a pair found in several bands/chunks repeats its tag,
    // and bit_or is repeat-invariant — the same classes without either
    // method's distinct exchange (the per-pair groupBy dedups once)
    "dedup_method_overlap" -> ((s, dir) => {
      val mh = Dedup.lshCandidatePairsRaw(docs(s, dir), numPerms = 16, rowsPerBand = 4)
        .select(col("id_a"), col("id_b"), lit(1L).as("m"))
      val sh = Dedup.simhashPairsRaw(docs(s, dir), maxHamming = 2)
        .select(col("id_a"), col("id_b"), lit(2L).as("m"))
      mh.unionByName(sh)
        .groupBy(col("id_a"), col("id_b"))
        .agg(bit_or(col("m")).as("cls")) // 1 = minhash only, 2 = simhash only, 3 = both
        .agg(
          count(when(col("cls") === 3, 1)).as("n_both"),
          count(when(col("cls") === 1, 1)).as("n_minhash_only"),
          count(when(col("cls") === 2, 1)).as("n_simhash_only"))
    }),
    "join_customer_orders" -> ((s, dir) => {
      val cust = Tables.parquet(s, s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      Tables.parquet(s, s"$dir/orders.parquet")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy("c_mktsegment")
    }),
    "window_running_totals" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      SparkEntry
        .eventsForNorthStar(s, dir)
        .select(
          col("user_id").as("entity_id"),
          col("ts").as("timestamp"),
          col("event_id"),
          count(lit(1)).over(w).as("running_events"),
          sum(round(col("value") * 100).cast("long")).over(w)
            .as("running_value_cents"))
        .orderBy("entity_id", "timestamp", "event_id")
    }),
    // sliding-window aggregation features ("activity in the 7 days
    // before each training timestamp") — single-pass RANGE-frame plan,
    // no pairwise join blowup; integer-cents sum for oracle exactness
    "window_agg_features" -> ((s, dir) => {
      val ev = SparkEntry.eventsForNorthStar(s, dir)
      val feat = ev.select(
        col("user_id").as("entity_id"),
        col("ts").as("timestamp"),
        col("event_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
      val spine = ev
        .filter(col("event_id") % 13 === 0)
        .select(
          col("user_id").as("entity_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("timestamp"))
      WindowFeatures
        .windowAggJoin(spine, feat, windowSeconds = 7L * 86400, Seq(
          WindowFeatures.WindowAgg("n_events_7d", "rows"),
          WindowFeatures.WindowAgg("sum_value_cents_7d", "sum", "value_cents"),
          WindowFeatures.WindowAgg("max_value_cents_7d", "max", "value_cents"),
          WindowFeatures.WindowAgg("min_event_id_7d", "min", "event_id"),
          // second horizon of the same signal: shares the shuffle/sort,
          // adds only a frame scan (the 7d/30d/90d multi-horizon shape)
          WindowFeatures.WindowAgg("n_events_1d", "rows",
            windowSeconds = Some(86400L)),
          WindowFeatures.WindowAgg("sum_value_cents_1d", "sum", "value_cents",
            Some(86400L))))
        .orderBy("entity_id", "timestamp")
    }),
    // rolling DISTINCT cardinality per entity ("distinct event types in
    // the trailing week/day") — the window form of count(DISTINCT),
    // planned as collect_set buffers over the same single shuffle/sort
    // as every other horizon
    "window_distinct_counts" -> ((s, dir) => {
      val ev = SparkEntry.eventsForNorthStar(s, dir)
      val feat = ev.select(
        col("user_id").as("entity_id"),
        col("ts").as("timestamp"),
        col("event_type"))
      val spine = ev
        .filter(col("event_id") % 13 === 0)
        .select(
          col("user_id").as("entity_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("timestamp"))
      WindowFeatures
        .windowAggJoin(spine, feat, windowSeconds = 7L * 86400, Seq(
          WindowFeatures.WindowAgg("n_event_types_7d", "distinct", "event_type"),
          WindowFeatures.WindowAgg("n_event_types_1d", "distinct", "event_type",
            Some(86400L)),
          WindowFeatures.WindowAgg("n_events_7d", "rows")))
        .orderBy("entity_id", "timestamp")
    }),
    // batch sessionization: gap > 1h starts a new session; the
    // deterministic base for session-length / events-per-session features
    "sessionize_events" -> ((s, dir) =>
      WindowFeatures
        .sessionize(
          SparkEntry.eventsForNorthStar(s, dir).select(
            col("user_id").as("entity_id"),
            col("ts").as("timestamp"),
            col("event_id")),
          gapSeconds = 3600L,
          tieBreakCols = Seq("event_id"))
        .orderBy("entity_id", "session_seq")),
    // top-k recent rows per entity as of T — the "last 3 interactions"
    // feature; WindowGroupLimit prunes to k rows per entity map-side
    "pit_topk_recent" -> ((s, dir) =>
      PointInTime
        .latestKPerEntity(
          SparkEntry.eventsForNorthStar(s, dir)
            .filter(col("ts") <= utc("2024-01-20 00:00:00"))
            .select(
              col("user_id").as("entity_id"),
              col("ts").as("timestamp"),
              col("event_id"),
              col("event_type"),
              col("value")),
          k = 3,
          tieBreakCols = Seq("event_id"))
        .orderBy("entity_id", "recency_rank")),

    // ---- data-quality & drift monitoring ----
    // long-format column profile: counts + distincts + numeric min/max
    // in ONE aggregation pass (string columns exercised in ProfilingSpec;
    // their null min/max is kept out of the oracle, whose NaN compare
    // cannot express SQL NULL)
    "feature_profile" -> ((s, dir) =>
      Profiling
        .profile(SparkEntry.eventsForNorthStar(s, dir), Seq("event_id", "value"))
        .orderBy("col_name")),
    // join-key skew diagnostic: exact heavy hitters + per-mille share —
    // the pre-shuffle measurement of whether a key is hot
    "feature_skew" -> ((s, dir) =>
      Profiling
        .keySkew(SparkEntry.eventsForNorthStar(s, dir),
          Seq("user_id", "event_type"), k = 5)
        .orderBy("col_name", "rank")),
    // value distribution split at mid-month: the integer (bin, n_a, n_b)
    // base every drift score builds on
    "drift_histogram" -> ((s, dir) =>
      Profiling
        .driftHistogram(
          SparkEntry.eventsForNorthStar(s, dir), "value", "ts",
          utc("2024-01-16 00:00:00"), binWidth = 25.0, numBins = 20)
        .orderBy("bin")),
    // total-variation drift score — exact integer numerator, single
    // final division (cross-engine bit-identical)
    // multi-table feature view: latest purchase state AND latest click
    // state as-of each spine timestamp, spine rows null-extended — one
    // two-table left as-of join, one entity shuffle for both tables
    "feature_view_multi" -> ((s, dir) => {
      val ev = SparkEntry.eventsForNorthStar(s, dir)
      val spine = ev
        .filter(col("event_id") % 13 === 0)
        .select(
          col("user_id").as("entity_id"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("timestamp"))
      val purchases = ev.filter(col("event_type") === "purchase").select(
        col("user_id").as("entity_id"),
        col("ts").as("timestamp"),
        round(col("value") * 100).cast("long").as("value_cents"),
        col("event_id"))
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id").as("entity_id"),
        col("ts").as("timestamp"),
        col("event_id"))
      val epoch = lit(graft.store.FeatureStore
        .normalizeTimestamp("1970-01-01 00:00:00"))
      // the DRIVER's value compare cannot represent SQL NULL vs NaN
      // consistently across engines, so the oracle-facing projection
      // coalesces to sentinels; the null-extension semantics themselves
      // are pinned by PointInTimeSpec/FeatureStoreSpec
      PointInTime
        .asOfJoinLeftAll(spine, Seq(
          PointInTime.ViewTable(purchases, "purchase_", Seq("event_id")),
          PointInTime.ViewTable(clicks, "click_", Seq("event_id"))))
        .select(
          col("entity_id"),
          col("timestamp"),
          coalesce(col("purchase_timestamp"), epoch).as("purchase_timestamp"),
          coalesce(col("purchase_value_cents"), lit(-1L)).as("purchase_value_cents"),
          coalesce(col("purchase_event_id"), lit(-1L)).as("purchase_event_id"),
          coalesce(col("click_timestamp"), epoch).as("click_timestamp"),
          coalesce(col("click_event_id"), lit(-1L)).as("click_event_id"))
        .orderBy("entity_id", "timestamp")
    }),
    // cross-modal training-example assembly: text-side quality features
    // joined to embedding-side label + quantized norm on the shared id —
    // the fused row a multimodal trainer consumes (equi-join on the id;
    // at scale both sides co-partition by the key)
    "multimodal_fusion" -> ((s, dir) => {
      val text = TextAnalysis.qualityScore(docs(s, dir))
        .join(docs(s, dir).select("doc_id", "source", "lang"), "doc_id")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_tokens"), col("quality_score"))
      val vec = Similarity.quantizeInt8(emb(s, dir))
        .join(emb(s, dir).select("vec_id", "label"), "vec_id")
        .select(col("vec_id").as("doc_id"), col("label"),
          col("q_scale"), col("q_norm2"))
      text.join(vec, "doc_id").orderBy("doc_id")
    }),

    // fuzzy-match pairs over the corpus vocabulary: distinct tokens
    // within edit distance 2, keyed by up-to-2-deletion neighborhoods
    // (the SymSpell invariant: tokens within edit distance d share at
    // least one ≤d-deletion form) — candidates come from an equi-join
    // on the deletion forms and only candidates pay the levenshtein DP;
    // the all-pairs scan the oracle runs never forms in the engine
    "vocab_fuzzy_pairs" -> ((s, dir) => {
      val tok = col("tok")
      val n = length(tok)
      def cut(from: Column, len: Column) = tok.substr(from, greatest(len, lit(0)))
      val del1 = transform(
        sequence(lit(1), n),
        i => concat(cut(lit(1), i - 1), cut(i + 1, n)))
      val idxPairs = filter(
        flatten(transform(
          sequence(lit(1), n),
          i => transform(sequence(lit(1), n),
            j => struct(i.as("i"), j.as("j"))))),
        p => p("j") > p("i"))
      val del2 = transform(
        idxPairs,
        p => concat(
          cut(lit(1), p("i") - 1),
          cut(p("i") + 1, p("j") - p("i") - 1),
          cut(p("j") + 1, n)))
      val vocab = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val keyed = vocab
        .select(tok, explode(array_distinct(
          concat(array(tok), del1, del2))).as("del"))
      val a = keyed.select(tok.as("tok_a"), col("del"))
      val b = keyed.select(tok.as("tok_b"), col("del"))
      a.join(b, Seq("del"))
        .filter(col("tok_a") < col("tok_b"))
        .select(col("tok_a"), col("tok_b"))
        .distinct()
        .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
        .filter(col("dist") <= 2)
        .orderBy("tok_a", "tok_b")
    }),

    // semi-structured properties: parse the JSON props column, extract
    // the numeric field, aggregate per event type — the schema-on-read
    // path every event pipeline needs (get_json_object is codegen'd;
    // at scale prefer from_json with an explicit schema once the shape
    // stabilizes, which also enables pruning).
    // Oracle-pairing assumption: $.k is INTEGRAL in the generated data.
    // Spark's string→long cast truncates/nulls on non-integral text
    // while DuckDB's json_extract→BIGINT rounds through double, so the
    // engines would diverge if the generator ever emitted k=1.5 —
    // integral k keeps both casts exact.
    "json_props_stats" -> ((s, dir) =>
      SparkEntry.eventsForNorthStar(s, dir)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // fixed-grid resampling with forward fill: every (user, day) cell of
    // a 10-day grid carries the user's latest event state as of that day
    // — the time-series regularization every training pipeline needs
    // (grid built by sequence+explode, filled by ONE left as-of join;
    // null cells coalesced to sentinels for the oracle's NaN-free compare)
    "resample_daily_ffill" -> ((s, dir) => {
      val ev = SparkEntry.eventsForNorthStar(s, dir)
      val feat = ev.select(
        col("user_id").as("entity_id"),
        col("ts").as("timestamp"),
        col("event_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
      val spine = ev
        .select(col("user_id").as("entity_id")).distinct()
        .select(col("entity_id"), explode(expr(
          "sequence(timestamp '2024-01-10 00:00:00'," +
            " timestamp '2024-01-19 00:00:00', interval 1 day)"))
          .as("timestamp"))
      val epoch = lit(graft.store.FeatureStore
        .normalizeTimestamp("1970-01-01 00:00:00"))
      PointInTime
        .asOfJoinLeft(spine, feat, "last_", tieBreakCols = Seq("event_id"))
        .select(
          col("entity_id"),
          col("timestamp").as("day"),
          coalesce(col("last_timestamp"), epoch).as("last_event_ts"),
          coalesce(col("last_event_id"), lit(-1L)).as("last_event_id"),
          coalesce(col("last_value_cents"), lit(-1L)).as("last_value_cents"))
        .orderBy("entity_id", "day")
    }),

    // attribution-shaped interval join: clicks within the hour before
    // each purchase by the same user
    "interval_join_events" -> ((s, dir) => {
      val ev = SparkEntry.eventsForNorthStar(s, dir)
      def side(t: String) = ev
        .filter(col("event_type") === t)
        .select(
          col("user_id").as("entity_id"),
          col("ts").as("timestamp"),
          col("event_id"))
      WindowFeatures
        .intervalJoin(side("purchase"), side("click"), maxGapSeconds = 3600L)
        .select(
          col("entity_id"),
          col("l_timestamp"), col("l_event_id"),
          col("r_timestamp"), col("r_event_id"))
        .orderBy("entity_id", "l_event_id", "r_event_id")
    }),
    // Tukey-fence outliers per type over integer cents
    "value_outliers" -> ((s, dir) =>
      Profiling
        .valueOutliers(
          SparkEntry.eventsForNorthStar(s, dir)
            .select(col("event_type"),
              round(col("value") * 100).cast("long").as("cents")),
          "cents", "event_type")
        .orderBy("event_type")),
    // per-type value-vs-time Pearson r from exact 128-bit sums
    "feature_trend" -> ((s, dir) =>
      Profiling
        .trendCorrelation(
          SparkEntry.eventsForNorthStar(s, dir), "event_type", "ts", "value")
        .orderBy("event_type")),
    "drift_tvd" -> ((s, dir) =>
      Profiling.totalVariation(
        Profiling.driftHistogram(
          SparkEntry.eventsForNorthStar(s, dir), "value", "ts",
          utc("2024-01-16 00:00:00"), binWidth = 25.0, numBins = 20))),
    // exact per-type value percentiles over integer cents — bit-matching
    // DuckDB's quantile_cont (same interpolation on exact operands)
    "value_percentiles" -> ((s, dir) =>
      Profiling
        .percentiles(
          SparkEntry.eventsForNorthStar(s, dir)
            .select(col("event_type"),
              round(col("value") * 100).cast("long").as("cents")),
          "cents", Seq("event_type"),
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .orderBy("event_type")),
    // staleness histogram: whole-day age of each entity's latest row at
    // the cutoff — the "how stale is what serving would read" monitor
    "feature_freshness" -> ((s, dir) =>
      Profiling
        .freshness(
          SparkEntry.eventsForNorthStar(s, dir),
          utc("2024-01-25 00:00:00"), entityCol = "user_id", tsCol = "ts")
        .orderBy("days_stale")),

    // ---- dedup family ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicates(docs(s, dir)).orderBy("content_hash")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.lshCandidatePairs(docs(s, dir), numPerms = 16, rowsPerBand = 4)
        .orderBy("id_a", "id_b")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 2)
        .orderBy("id_a", "id_b")),
    // two-stage near-dup: exact Jaccard on LSH candidates ONLY
    "dedup_lsh_verified" -> ((s, dir) =>
      Dedup.verifiedNearDupPairs(docs(s, dir), threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // incremental (batch-vs-corpus) near-dup: a simulated daily batch
    // (doc_id % 7 = 0) verified against the rest of the corpus — LSH
    // band join across the two sides, never a corpus self-join
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup
        .incrementalNearDupPairs(
          d.filter(col("doc_id") % 7 === 0),
          d.filter(col("doc_id") % 7 =!= 0),
          threshold = 0.5)
        .orderBy("new_id", "corpus_id")
    }),
    // candidate pairs → dedup GROUPS: min-reachable-id components.
    // RAW (per-band) candidate pairs: connectedComponents' own symmetric
    // distinct dedups them, so lshCandidatePairs' final distinct would
    // be a redundant exchange — same components either way
    "dedup_clusters" -> ((s, dir) =>
      Dedup
        .connectedComponents(
          Dedup.lshCandidatePairsRaw(docs(s, dir), numPerms = 16, rowsPerBand = 4))
        .orderBy("doc_id")),
    // the dedup pipeline's last mile: candidate pairs → components →
    // canonical survivor per cluster (min doc id) → per-source keep/drop
    // accounting. The drop list is an anti-join — the corpus is never
    // rewritten, only filtered
    "dedup_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      // raw pairs: see dedup_clusters — the components dedup them anyway
      val comp = Dedup.connectedComponents(
        Dedup.lshCandidatePairsRaw(d, numPerms = 16, rowsPerBand = 4))
      val dropped = comp
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      val kept = d.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
      // left join: a source whose every document is a cluster non-root
      // has NO kept rows, but must still appear (n_kept = 0) — the
      // oracle aggregates per source unconditionally
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(
          col("source"),
          col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
        .orderBy("source")
    }),

    // cross-source contamination check: n-gram overlap between corpus
    // sources (the benchmark-leakage question "how much of source B is
    // in source A?"), which is exactly source-granularity Jaccard — the
    // per-doc kernel pools shingles per source via its id column (a
    // flat-distinct + broadcast-sizes variant was measured 40% slower
    // here: the extra distinct exchange costs more than the 20 per-source
    // collect_set buffers save at this group count)
    "source_overlap" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.0, idCol = "source",
          carrySizes = false)
        .select(
          col("id_a").as("source_a"),
          col("id_b").as("source_b"),
          col("jaccard"))
        .orderBy("source_a", "source_b")),

    // ---- embedding similarity ----
    // size-routed: the gate measures the corpus and picks the exact
    // broadcast kernel (bench scale fits) or banded-LSH candidates +
    // exact rescoring past the broadcast envelope
    "dedup_embedding" -> ((s, dir) =>
      Similarity.cosineNearDupPairsAuto(emb(s, dir), threshold = 0.4)
        .orderBy("id_a", "id_b")),
    // contrastive training pairs: positives = exact near-dups above
    // the threshold, negatives = deterministic md5-derived partners
    // with self/near-dup exclusion — the embedding-model training set,
    // fully reproducible in SQL
    "contrastive_pairs" -> ((s, dir) =>
      Similarity.contrastivePairs(emb(s, dir), threshold = 0.4, negPerAnchor = 2)
        .orderBy("anchor_id", "other_id", "label")),
    // SemDeDup (cluster-then-prune): candidate pairs only WITHIN a
    // deterministic coarse cluster — the shape that replaces the n²
    // pair join at corpus scale; min-id survivor policy. dup_of is
    // -1 for keepers in the oracle-facing shape (the library API
    // returns null; the driver compare hashes raw cell values, where
    // a null/NaN cell is not self-equal)
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(emb(s, dir), threshold = 0.4, numCentroids = 16)
        .select(col("vec_id"), col("cluster"), col("is_dup"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("vec_id")),
    "ann_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(emb(s, dir), AnnQueryIds, k = 3)
        .orderBy("query_id", "rank")),
    // approximate scale path — deterministic md5-derived hyperplanes,
    // so the whole bucket/score/rank pipeline is oracle-SQL-expressible
    // (recall vs brute force additionally measured in the test suite)
    "ann_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(emb(s, dir), AnnQueryIds, k = 3, numPlanes = 6)
        .orderBy("query_id", "rank")),

    // approximate IVF scale path — deterministic coarse quantizer
    // (lowest-id seed centroids), oracle-paired like the LSH path
    "ann_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), AnnQueryIds, k = 3, numCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rank")),

    // IVF with LEARNED centroids: one deterministic Lloyd iteration on
    // the seed, centroid update in exact quantized-integer arithmetic
    // (order-independent sums → bit-identical centroids in both
    // engines), so even the learned-quantizer pipeline hash-matches its
    // SQL oracle; recall vs brute force measured in OpsSpec
    "ann_ivf_kmeans" -> ((s, dir) =>
      Similarity
        .ivfTopKWith(
          emb(s, dir), learnedCentroids(s, dir),
          AnnQueryIds, k = 3, nProbe = 4)
        .orderBy("query_id", "rank")),

    // product-quantization ADC path — the MEMORY answer at corpus
    // scale (codes are ~32x smaller than raw vectors); deterministic
    // seed codebooks + exact re-scoring of the candidate sliver, so
    // the full encode→ADC→rescore pipeline is oracle-SQL-expressible
    "ann_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(emb(s, dir), AnnQueryIds, k = 3, m = 8,
        codebookSize = 16, candidateFactor = 8)
        .orderBy("query_id", "rank")),

    // ---- multimodal plumbing ----
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.mediaMeta(Multimodal.asMedia(docs(s, dir))).orderBy("doc_id")),
    // long format (one row per histogram bucket): the driver's compare
    // sorts every column in pandas, which cannot order array cells — so
    // the oracle-facing shape is array-free; the library API
    // (extractFeatures) still returns the fixed-width vector.
    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.asMedia(docs(s, dir)))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), posexplode(col("features")).as(Seq("bucket", "feature")))
        .orderBy("doc_id", "bucket")),

    // codec-FREE fallback plumbing (byte windows, real distributed
    // shape); payloads are ASCII text bytes, so the oracle can reproduce
    // the byte arithmetic with character functions exactly
    "multimodal_byte_downsample" -> ((s, dir) =>
      Multimodal.byteDownsample(Multimodal.asMedia(docs(s, dir)), factor = 4)
        .toDF()
        .select(
          col("doc_id"),
          col("n_bytes_in"),
          length(col("media")).as("n_bytes_out"),
          decode(col("media"), "UTF-8").as("resized_text"))
        .orderBy("doc_id")),
    "multimodal_byte_frames" -> ((s, dir) =>
      Multimodal.byteFrames(Multimodal.asMedia(docs(s, dir)), frameLen = 64, stride = 48)
        .toDF()
        .select(
          col("doc_id"),
          col("frame_idx"),
          decode(col("frame"), "UTF-8").as("frame_text"))
        .orderBy("doc_id", "frame_idx")),

    // REAL frame extraction through the codec registry: synthesize PCM
    // WAV payloads, decode them, window the DECODED samples (4 samples
    // every 3) and reduce each window to exact integral features — the
    // oracle recomputes every window from token lengths, certifying the
    // decode + window geometry end to end
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.encodeWavFromTokens(docs(s, dir)), frameLen = 4, stride = 3)
        .toDF()
        .orderBy("doc_id", "frame_idx")),

    // image twin of multimodal_frames: BMP payloads band their decoded
    // pixel rows (2 rows every 2); the oracle sums the same bytes by
    // text position
    "multimodal_image_bands" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.encodeBmpFromText(docs(s, dir), width = 16), frameLen = 2, stride = 2)
        .toDF()
        .orderBy("doc_id", "frame_idx")),

    // REAL codec round-trip, audio: synthesize a canonical PCM WAV per
    // document (samples from token lengths), then decode it with the
    // registry codec and aggregate the decoded samples. The oracle
    // computes the same features straight from the text, so a hash
    // match proves the encoder writes and the decoder parses the actual
    // RIFF/PCM16 byte format — not that two stubs agree.
    "multimodal_wav_roundtrip" -> ((s, dir) =>
      Multimodal
        .decodeAudioFeatures(Multimodal.encodeWavFromTokens(docs(s, dir)))
        .toDF()
        .orderBy("doc_id")),

    // REAL codec round-trip, image: text bytes → 16px-wide 24bpp BMP
    // (complete rows only) → registry decode → exact per-channel sums.
    // Bottom-up row storage and stride padding are exercised for real;
    // the oracle sums the same bytes by position from the text.
    "multimodal_bmp_roundtrip" -> ((s, dir) =>
      Multimodal
        .decodeImageFeatures(Multimodal.encodeBmpFromText(docs(s, dir), width = 16))
        .toDF()
        .orderBy("doc_id")),

    // the full decode → transform → encode triangle on real pixels:
    // encode 16px-wide BMP, nearest-neighbor downsample 2x through the
    // codec (decode, sample every 2nd pixel both axes, re-encode), then
    // decode AGAIN for features — the oracle recomputes the kept-pixel
    // channel sums from text positions, so the hash certifies both
    // codec directions and the geometry of the resample
    "multimodal_bmp_resize" -> ((s, dir) =>
      Multimodal
        .decodeImageFeatures(
          Multimodal.resizeImage(
            Multimodal.encodeBmpFromText(docs(s, dir), width = 16), factor = 2))
        .toDF()
        .orderBy("doc_id")),

    // benchmark decontamination: drop training docs sharing any word
    // 4-gram with the held-out eval slice (source src19); the eval gram
    // set broadcasts, the corpus is scanned once
    "decontaminate_eval" -> ((s, dir) =>
      TextAnalysis
        .decontaminate(
          docs(s, dir).filter(col("source") =!= "src19"),
          docs(s, dir).filter(col("source") === "src19"),
          n = 4)
        .select(col("doc_id"), col("source"), col("n_hit_grams"), col("keep"))
        .orderBy("doc_id")),

    // the 100 TB decontamination shape: bloom-filter prefilter (one
    // ~8MB broadcastable filter instead of a multi-GB eval-gram
    // hashmap) + exact verify join over the candidate sliver — bit-
    // identical to the exact variant, certified against the same kind
    // of full SQL oracle at n=3
    "decontaminate_bloom" -> ((s, dir) =>
      TextAnalysis
        .decontaminateBloom(
          docs(s, dir).filter(col("source") =!= "src19"),
          docs(s, dir).filter(col("source") === "src19"),
          n = 3)
        .select(col("doc_id"), col("source"), col("n_hit_grams"), col("keep"))
        .orderBy("doc_id")),

    // k-NN majority-label vote over exact cosine neighbors — the
    // embedding-space classifier / label-quality probe
    "knn_label_vote" -> ((s, dir) =>
      Similarity.knnClassify(emb(s, dir), AnnQueryIds, k = 5)
        .orderBy("query_id")),

    // per-label centroids as exact integer sums (order-independent —
    // cross-engine double sums are not); consumers divide by n/1e6
    "embedding_centroids" -> ((s, dir) =>
      Similarity.labelCentroidSums(emb(s, dir))
        .orderBy("label", "dim")),

    // embedding-space drift between two corpus populations (split by
    // vec_id parity here; in production, reference batch vs fresh
    // batch): cosine + L2 between mean vectors, exact-integer interior
    "embedding_drift" -> ((s, dir) =>
      Similarity.embeddingDriftSummary(
        emb(s, dir), isGroupA = col("vec_id") % 2 === 0)),

    // per-entity lag/delta features: previous value, change, and
    // inter-arrival seconds in one entity-keyed window pass. Only rows
    // WITH a predecessor face the oracle: each entity's first event
    // carries NULL doubles, and NULL→NaN float columns defeat exact
    // cross-engine equality (NaN != NaN)
    "feature_lag_delta" -> ((s, dir) =>
      WindowFeatures
        .lagDelta(
          SparkEntry.eventsForNorthStar(s, dir).select("user_id", "ts", "event_id", "value"),
          valueCol = "value", entityCol = "user_id", tsCol = "ts",
          tieBreakCols = Seq("event_id"))
        .filter(col("prev_value").isNotNull)
        .orderBy("user_id", "ts", "event_id")),

    // top-3 docs per source by quality score — per-group top-k with a
    // map-side WindowGroupLimit under the rank filter
    "top_docs_per_source" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(docs(s, dir))
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      q.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("doc_id"), col("quality_score"))
        .orderBy("source", "rank")
    }),

    // token-budget curation: per source, best-quality docs first until
    // 400 tokens are taken (prefix cutoff, deterministic order)
    "token_budget_subset" -> ((s, dir) =>
      graft.ops.Sampling
        .takeUntilBudget(
          TextAnalysis.qualityScore(docs(s, dir))
            .join(docs(s, dir).select("doc_id", "source"), "doc_id")
            .select(col("doc_id"), col("source"),
              col("quality_score"), col("n_tokens").cast("long").as("n_tokens")),
          budget = 400L,
          costCol = "n_tokens",
          priority = Seq(col("quality_score").desc, col("doc_id").asc))
        .orderBy("source", "doc_id")),

    // smoothed target encoding of event_type by mean value (exact-cent
    // sums; the smoothing is a fixed division tree over integers)
    "target_encoding" -> ((s, dir) =>
      FeatureEncoding
        .targetEncode(SparkEntry.eventsForNorthStar(s, dir), "event_type", "value")
        .orderBy("event_type")),

    // quantile binning + rank normalization per event type: ntile /
    // percent_rank / cume_dist share one window sort
    "feature_binning" -> ((s, dir) =>
      FeatureEncoding
        .quantileBin(
          SparkEntry.eventsForNorthStar(s, dir)
            .select("event_type", "event_id", "value"),
          valueCol = "value", nBins = 10, groupCol = "event_type",
          tieBreakCols = Seq("event_id"))
        .select("event_type", "event_id", "value", "bin", "pct_rank", "cume_dist")
        .orderBy("event_type", "event_id")),

    // hashing-trick featurizer: token counts folded into 32 portable
    // md5 buckets per document — capped dimensionality, no vocabulary
    "feature_hashing" -> ((s, dir) =>
      FeatureEncoding.hashFeatures(docs(s, dir), nBuckets = 32)
        .orderBy("doc_id", "bucket")),

    // embedding-space mislabel audit: vectors whose 5-NN out-vote
    // their own label (size-routed like dedup_embedding: exact all-pairs
    // inside the broadcast envelope, IVF-bucketed candidates past it)
    "knn_label_noise" -> ((s, dir) =>
      Similarity.knnLabelNoiseAuto(emb(s, dir), k = 5)
        .orderBy("vec_id")),

    // ---- sketches (cardinality / frequency at 100 TB) ----
    // deterministic HyperLogLog: per-source distinct-token estimate from
    // 64 md5-derived registers, alongside the exact answer; the register
    // sum is an exact integer so the oracle bit-matches the whole sketch
    "sketch_hll_distinct" -> ((s, dir) =>
      graft.ops.Sketches
        .hllDistinct(
          docs(s, dir).select(col("source"),
            explode(split(col("text"), " ")).as("tok")),
          valueCol = "tok", groupCols = Seq("source"))
        .orderBy("source")),
    // rolling 7-day distinct users from MERGED daily sketches: raw data
    // scanned once into per-day registers, each day's window rolled up
    // register-wise (sketch merge is lossless) — the trailing-N-days
    // distinct-count production pattern; exact side rides along for the
    // oracle only
    "sketch_hll_rolling" -> ((s, dir) =>
      graft.ops.Sketches
        .hllRollingDistinct(
          SparkEntry.eventsForNorthStar(s, dir),
          valueCol = "user_id", tsCol = "ts",
          startDay = "2024-01-10", endDay = "2024-01-19",
          windowDays = 7)
        .orderBy("day")),
    // same sketch through the typed Aggregator (register array as the
    // aggregation buffer — ONE exchange); shares the column path's oracle
    "sketch_hll_agg" -> ((s, dir) =>
      graft.ops.Sketches
        .hllDistinctAgg(
          docs(s, dir).select(col("source"),
            explode(split(col("text"), " ")).as("tok")),
          valueCol = "tok", groupCols = Seq("source"))
        .orderBy("source")),
    // Count-Min heavy hitters: true top-20 tokens with their sketch
    // estimate from a 4x64 md5-hashed counter grid (overcount-only)
    "sketch_cms_topk" -> ((s, dir) =>
      graft.ops.Sketches
        .cmsHeavyHitters(docs(s, dir), depth = 4, width = 64, k = 20)
        .orderBy(col("n_exact").desc, col("token").asc)),

    // sliding token-window chunker (context-length split): 32-token
    // windows every 24 tokens; short docs emit nothing (they pack via
    // pack_sequences instead)
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkTokens(docs(s, dir), chunk = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),

    // vocabulary-free quality proxy: mean corpus frequency of each
    // document's tokens (rare-token docs score low) — exact integers,
    // one final division
    "text_rarity" -> ((s, dir) =>
      TextAnalysis.tokenRarity(docs(s, dir)).orderBy("doc_id")),

    // CCNet-style LM perplexity gate: add-one bigram model trained on
    // the trusted source (src0), every doc scored by mean bigram
    // log-prob — quantized to micro-nat BIGINTs so the sum is
    // order-independent and engine-exact
    "text_lm_score" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.lmScore(d, d.filter(col("source") === "src0"))
        .orderBy("doc_id")
    }),

    // exact-substring duplicate spans: 8-token windows every 4 tokens,
    // hashed and counted; spans in >= 2 distinct docs are the cut/mask
    // list (the whole-document dedup family's span-granular sibling)
    "text_dup_spans" -> ((s, dir) =>
      TextAnalysis.duplicateSpans(docs(s, dir), width = 8, stride = 4)
        .orderBy("span_hash")),
    // maximal verbatim token runs shared between doc PAIRS — alignments
    // (pa, pb) per content-hashed stride-1 shingle, merged per diagonal
    // (pa − pb) by gaps-and-islands; the Lee-et-al-style cut list
    "dedup_cross_spans" -> ((s, dir) =>
      TextAnalysis.crossDupSpans(docs(s, dir),
        width = 8, minSpanTokens = 16, maxShingleOcc = 64)
        .orderBy("doc_a", "doc_b", "start_a", "start_b")),

    // the end-to-end curation DAG as ONE declarative plan: quality
    // scoring, repetition filtering and exact-dup canonicalization
    // compose into a per-document keep/drop verdict — each signal is an
    // independently-oracle-verified kernel, and Catalyst fuses the
    // composition (shared documents scan, three partial-aggregated
    // branches, doc-keyed joins)
    "curation_verdict" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = TextAnalysis.qualityScore(d)
        .select(col("doc_id"), col("quality_score"))
      val rep = TextAnalysis.bigramRepetition(d)
        .select(col("doc_id"), col("top_bigram_frac"))
      val canon = Dedup.exactDuplicates(d)
        .select(col("keep_id").as("doc_id"), lit(true).as("is_canonical"))
      d.select(col("doc_id"))
        .join(q, "doc_id")
        .join(rep, Seq("doc_id"), "left")
        .join(canon, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("quality_score"),
          coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
          coalesce(col("is_canonical"), lit(false)).as("is_canonical"),
          (coalesce(col("is_canonical"), lit(false)) &&
            col("quality_score") >= 0.42 &&
            coalesce(col("top_bigram_frac"), lit(0.0)) <= 0.08).as("keep"))
        .orderBy("doc_id")
    }),

    // incremental maintenance: stats of (ts < cutoff) and (ts >= cutoff)
    // computed separately, then MERGED without rescanning — the oracle
    // aggregates the union directly, so a hash match proves
    // merge(partial(A), partial(B)) == partial(A ∪ B) exactly
    "incremental_stats" -> ((s, dir) => {
      val ev = SparkEntry.eventsForNorthStar(s, dir)
        .select(col("event_type"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
      val cutoff = utc("2024-01-16 00:00:00")
      val before = Profiling.partialStats(
        ev.filter(col("ts") < cutoff), "event_type", "cents")
      val after = Profiling.partialStats(
        ev.filter(col("ts") >= cutoff), "event_type", "cents")
      Profiling.mergeStats(before, after, "event_type")
        .orderBy("event_type")
    }),

    // pairwise Pearson matrix over lineitem's numeric features from ONE
    // exact-integer aggregation pass (128-bit sums; see feature_trend)
    "feature_correlations" -> ((s, dir) =>
      Profiling
        .correlationMatrix(
          Tables.parquet(s, s"$dir/lineitem.parquet").select(
            round(col("l_quantity")).cast("long").as("qty"),
            round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
            round(col("l_discount") * 100).cast("long").as("disc_pct"),
            round(col("l_tax") * 100).cast("long").as("tax_pct")),
          Seq("qty", "price_cents", "disc_pct", "tax_pct"))
        .orderBy("col_a", "col_b")),

    // per-type z-score + min-max scaling of event values — exact
    // window statistics, fixed double tree (cross-engine bit-equal)
    "feature_standardize" -> ((s, dir) =>
      FeatureEncoding
        .standardize(
          SparkEntry.eventsForNorthStar(s, dir)
            .select(col("event_type"), col("event_id"),
              round(col("value") * 100).cast("long").as("cents")),
          valueCol = "cents", groupCol = "event_type")
        .orderBy("event_type", "event_id")),

    // set-operation coverage: per (source pair) token-vocabulary
    // INTERSECT / EXCEPT cardinalities for the two largest sources —
    // planned as distinct-aggregated joins, not row-wise set ops
    "vocab_set_ops" -> ((s, dir) => {
      val voc = docs(s, dir)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val a = voc.filter(col("source") === "src0").select(col("tok"))
      val b = voc.filter(col("source") === "src1").select(col("tok"))
      val inter = a.intersect(b).agg(count(lit(1)).as("n")).select(
        lit("intersect").as("op"), col("n"))
      val onlyA = a.except(b).agg(count(lit(1)).as("n")).select(
        lit("only_src0").as("op"), col("n"))
      val onlyB = b.except(a).agg(count(lit(1)).as("n")).select(
        lit("only_src1").as("op"), col("n"))
      inter.unionByName(onlyA).unionByName(onlyB).orderBy("op")
    })
  )

  // ------------------------------------------------------------ oracles

  private val Md5Long60 = "CAST(('0x' || substr(md5(%s), 1, 15)) AS BIGINT)"

  /** The bm25 demo's fixed term queries — shared verbatim by the Spark
    * plan and the oracle SQL ("skew" is absent from the corpus: a
    * zero-df term contributes nothing on either side).
    */
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join", "skew"),
    2 -> Seq("window", "agg", "stream"),
    3 -> Seq("vector", "scan", "filter"))

  /** CTE chain ending in `bm25_ranked(query_id, doc_id, score_u, rank)`
    * — the full integer-unit BM25 ranking, shared by the bm25 oracle and
    * the RRF-fusion oracle. Mirrors [[TextAnalysis.bm25TopK]] term by
    * term (k1 = 1.2, b = 0.75, floor-divided rationals).
    */
  private lazy val Bm25Ctes: String = {
    val qvals = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    val terms = Bm25Queries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents
       |),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |       FROM tok GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |q(query_id, term) AS (VALUES $qvals),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok WHERE term IN ($terms) GROUP BY 1, 2
       |),
       |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM tf GROUP BY 1),
       |bm25_scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |         CAST(SUM(
       |           ((1000 * (2 * st.n_docs - 2 * dfc.df + 1))
       |              // (2 * dfc.df + 1))
       |           * ((2200000 * tf.tf)
       |              // (1000 * tf.tf + 300
       |                 + (9 * ((1000 * dl.dl * st.n_docs) // st.sum_dl))
       |                   // 10))
       |         ) AS BIGINT) AS score_u
       |  FROM q
       |  JOIN tf USING (term)
       |  JOIN dfc USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN st
       |  GROUP BY 1, 2
       |),
       |bm25_ranked AS (
       |  SELECT query_id, doc_id, score_u,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score_u DESC, doc_id ASC)
       |              AS BIGINT) AS rank
       |  FROM bm25_scored
       |)""".stripMargin
  }

  /** CTE chain ending in `pairs(id_a, id_b)` — the MinHash+LSH candidate
    * pairs, shared by the pair listing and the cluster-closure oracles.
    */
  private lazy val MinhashPairCtes: String = {
    val h = Md5Long60.format("s")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1]
       |         || ' ' || tok[CAST(i AS INT)+2] AS s
       |  FROM (SELECT doc_id, tok, unnest(generate_series(1, len(tok) - 2)) AS i
       |        FROM toks)
       |),
       |h AS (SELECT doc_id, $h % 4294967311 AS hv FROM sh),
       |perms AS (
       |  SELECT CAST(i AS INT) AS perm, 1 + 37 * i AS a,
       |         (1000003 * i + 12345) % 4294967311 AS b
       |  FROM range(0, 16) t(i)
       |),
       |mh AS (
       |  SELECT doc_id, perm,
       |         CAST(min((a * hv + b) % 4294967311) AS BIGINT) AS minhash
       |  FROM h CROSS JOIN perms GROUP BY 1, 2
       |),
       |sig AS (
       |  SELECT doc_id, perm // 4 AS band,
       |         string_agg(minhash::VARCHAR, ',' ORDER BY perm) AS sig
       |  FROM mh GROUP BY 1, 2
       |),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a JOIN sig b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  /** CTE chain ending in `spairs(id_a, id_b, hamming)` — the SimHash
    * near-dup pairs; names are disjoint from [[MinhashPairCtes]] so the
    * two chains compose in one WITH clause.
    */
  private lazy val SimhashPairCtes: String = {
    val h32 = "CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)"
    s"""stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |sth AS (SELECT doc_id, $h32 AS h FROM stok),
       |sbits AS (
       |  SELECT CAST(i AS INT) AS bit, CAST(pow(2, i) AS BIGINT) AS shift
       |  FROM range(0, 32) t(i)
       |),
       |ssgn AS (
       |  SELECT doc_id, bit, shift,
       |         sum(((h // shift) % 2) * 2 - 1) AS sgn
       |  FROM sth CROSS JOIN sbits GROUP BY 1, 2, 3
       |),
       |ssig AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN sgn > 0 THEN shift ELSE 0 END) AS BIGINT) AS simhash
       |  FROM ssgn GROUP BY 1
       |),
       |spairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
       |)""".stripMargin
  }
  private val StopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  /** Shared quality-score CTE chain (same arithmetic as the
    * `text_quality` oracle) for the quality-ranked curation oracles.
    */
  private lazy val QualityCte: String =
    s"""t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
       |  FROM documents
       |), m AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(toks, x -> x IN ($StopList))) AS DOUBLE)
       |             / len(toks) AS stopword_ratio,
       |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
       |         (nc - len(toks) + 1) / len(toks) AS avg_token_len,
       |         len(toks) AS n_tokens
       |  FROM t
       |), q AS (
       |  SELECT doc_id, n_tokens,
       |         0.3 * stopword_ratio + 0.5 * distinct_ratio
       |           + 0.2 * (CASE WHEN avg_token_len BETWEEN 3.0 AND 8.0
       |                         THEN 1.0 ELSE 0.0 END) AS quality_score
       |  FROM m
       |)""".stripMargin

  def oracleSql: Map[String, String] = baseOracleSql +
    // the indexed IVF path must return exactly what the one-shot plan
    // returns — same oracle, proving the parquet round-trip is lossless
    ("ann_ivf_indexed" -> baseOracleSql("ann_ivf_topk")) +
    // base-build + O(delta) append must equal the one-shot index
    ("ann_ivf_append" -> baseOracleSql("ann_ivf_topk")) +
    // the Aggregator-based HLL must return exactly what the column
    // formulation returns — same registers, same estimate
    ("sketch_hll_agg" -> baseOracleSql("sketch_hll_distinct"))

  private def baseOracleSql: Map[String, String] = Map(
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |       (length(text) - len(string_split(text, ' ')) + 1)
        |           / len(string_split(text, ' ')) AS avg_token_len,
        |       len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}|[^a-z0-9 ]'))
        |           AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         string_split(text, ' ') AS toks,
         |         length(text) AS nc
         |  FROM documents
         |), m AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(toks, x -> x IN ($StopList))) AS DOUBLE)
         |             / len(toks) AS stopword_ratio,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
         |         (nc - len(toks) + 1) / len(toks) AS avg_token_len,
         |         len(toks) AS n_tokens
         |  FROM t
         |)
         |SELECT doc_id, stopword_ratio, distinct_ratio, avg_token_len, n_tokens,
         |       0.3 * stopword_ratio + 0.5 * distinct_ratio
         |         + 0.2 * (CASE WHEN avg_token_len BETWEEN 3.0 AND 8.0
         |                       THEN 1.0 ELSE 0.0 END) AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val hitExprs = TextAnalysis.LangMarkers
        .map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(string_split(text, ' '), x -> x IN ($list))) AS hits_$lang"
        }
        .mkString(",\n       ")
      s"""WITH h AS (
         |  SELECT doc_id,
         |       $hitExprs
         |  FROM documents
         |)
         |SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
         |       CASE
         |         WHEN hits_en >= hits_de AND hits_en >= hits_es
         |          AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
         |         WHEN hits_de >= hits_es AND hits_de >= hits_fr
         |          AND hits_de >= hits_zh THEN 'de'
         |         WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
         |         WHEN hits_fr >= hits_zh THEN 'fr'
         |         ELSE 'zh'
         |       END AS predicted_lang
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "text_fingerprint" ->
      s"""SELECT doc_id, ${Md5Long60.format("lower(trim(text))")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_vocab_topk" ->
      """WITH c AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token
        |),
        |r AS (
        |  SELECT token, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
        |  FROM c
        |)
        |SELECT token, n, rank FROM r WHERE rank <= 100
        |ORDER BY rank""".stripMargin,

    // adjacent-char pairs inside every token occurrence, counted with
    // multiplicity — substr over generate_series, per occurrence
    "text_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |p AS (
        |  SELECT substr(tok, CAST(i AS INT), 2) AS pair
        |  FROM (SELECT tok, unnest(generate_series(1, length(tok) - 1)) AS i
        |        FROM toks WHERE length(tok) >= 2)
        |),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair),
        |r AS (
        |  SELECT pair, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank
        |  FROM c
        |)
        |SELECT pair, n, rank FROM r WHERE rank <= 50
        |ORDER BY rank""".stripMargin,

    // lead() pairing over position-indexed tokens is the SQL mirror of
    // the engine's array-side slice+zip; docs under two tokens drop out
    // of both. sum(BIGINT) is HUGEINT in DuckDB — cast back.
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
        |  FROM documents
        |),
        |grams AS (
        |  SELECT doc_id,
        |         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS gram
        |  FROM toks
        |),
        |counts AS (
        |  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS n
        |  FROM grams WHERE gram IS NOT NULL GROUP BY 1, 2
        |),
        |ranked AS (
        |  SELECT doc_id, gram, n,
        |         CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
        |         count(*) OVER (PARTITION BY doc_id) AS n_distinct_bigrams,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY n DESC, gram ASC) AS rn
        |  FROM counts
        |)
        |SELECT doc_id, n_bigrams, n_distinct_bigrams, gram AS top_bigram,
        |       n AS top_bigram_n,
        |       CAST(n AS DOUBLE) / n_bigrams AS top_bigram_frac
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "text_redact" ->
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '${TextAnalysis.PiiPattern}'))
         |         AS n_matches,
         |       regexp_replace(text, '${TextAnalysis.PiiPattern}',
         |                      '<REDACTED>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin,

    // floor(x*scale + 0.5) rounds identically in every engine (round()'s
    // half-case convention does not); the integer norm is order-free
    "embedding_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN maxabs = 0 THEN 0.0
        |              ELSE 127.0 / maxabs END AS q_scale
        |  FROM v
        |), q AS (
        |  SELECT vec_id, q_scale,
        |         list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * q_scale + 0.5)
        |                       AS BIGINT)) AS qv
        |  FROM s
        |)
        |SELECT vec_id, q_scale,
        |       array_to_string(qv, ',') AS q_vec,
        |       CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
        |         AS q_norm2
        |FROM q ORDER BY vec_id""".stripMargin,

    // the quantization CTE mirrors embedding_quantize; signs re-derive
    // from the same md5 prefix convention the engine uses, so both
    // sides compute the identical integer projection
    "embedding_project" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN maxabs = 0 THEN 0.0
        |              ELSE 127.0 / maxabs END AS q_scale
        |  FROM v
        |), q AS (
        |  SELECT vec_id,
        |         list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * q_scale + 0.5)
        |                       AS BIGINT)) AS qv
        |  FROM s
        |), ins AS (SELECT unnest(generate_series(0, 63)) AS i),
        |dims AS (SELECT unnest(generate_series(0, 15)) AS j),
        |signs AS (
        |  SELECT j, i,
        |         CASE WHEN CAST(('0x' || substr(md5('rp:' || CAST(j AS VARCHAR)
        |                    || ':' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
        |                % 2 = 0
        |              THEN 1 ELSE -1 END AS sg
        |  FROM dims CROSS JOIN ins
        |), qe AS (
        |  SELECT vec_id, i, qv[CAST(i AS INTEGER) + 1] AS qi
        |  FROM q CROSS JOIN ins
        |), proj AS (
        |  SELECT qe.vec_id, sg.j, CAST(sum(sg.sg * qe.qi) AS BIGINT) AS pj
        |  FROM qe JOIN signs sg USING (i)
        |  GROUP BY 1, 2
        |)
        |SELECT vec_id,
        |       array_to_string(list(CAST(pj AS VARCHAR) ORDER BY j), ',')
        |         AS p_vec,
        |       CAST(sum(pj * pj) AS BIGINT) AS p_norm2
        |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // prune in the 32-dim integer projection, exact-rescore the
    // 64-candidate sliver; the projected norms go through the same
    // BIGINT -> DOUBLE -> sqrt chain as the engine (IEEE-portable)
    "ann_rp_topk" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
        |         sqrt(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, embedding, nrm,
        |         CASE WHEN maxabs = 0 THEN 0.0
        |              ELSE 127.0 / maxabs END AS q_scale
        |  FROM v
        |), q AS (
        |  SELECT vec_id, embedding, nrm,
        |         list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * q_scale + 0.5)
        |                       AS BIGINT)) AS qv
        |  FROM s
        |), ins AS (SELECT unnest(generate_series(0, 63)) AS i),
        |dims AS (SELECT unnest(generate_series(0, 31)) AS j),
        |signs AS (
        |  SELECT j, i,
        |         CASE WHEN CAST(('0x' || substr(md5('rp:' || CAST(j AS VARCHAR)
        |                    || ':' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
        |                % 2 = 0
        |              THEN 1 ELSE -1 END AS sg
        |  FROM dims CROSS JOIN ins
        |), qe AS (
        |  SELECT vec_id, i, qv[CAST(i AS INTEGER) + 1] AS qi
        |  FROM q CROSS JOIN ins
        |), proj AS (
        |  SELECT qe.vec_id, sg.j, CAST(sum(sg.sg * qe.qi) AS BIGINT) AS pj
        |  FROM qe JOIN signs sg USING (i)
        |  GROUP BY 1, 2
        |), pv AS (
        |  SELECT vec_id, list(pj ORDER BY j) AS p,
        |         sqrt(CAST(CAST(sum(pj * pj) AS BIGINT) AS DOUBLE)) AS pn
        |  FROM proj GROUP BY vec_id
        |), pruned AS (
        |  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
        |         CAST(CAST(list_sum(list_transform(list_zip(qq.p, cc.p),
        |              x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
        |           / (qq.pn * cc.pn) AS pscore
        |  FROM pv qq JOIN pv cc ON cc.vec_id != qq.vec_id
        |  WHERE qq.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |    AND qq.pn > 0 AND cc.pn > 0
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |             ORDER BY pscore DESC, neighbor_id ASC) <= 64
        |), rescored AS (
        |  SELECT p.query_id, p.neighbor_id,
        |         list_sum(list_transform(list_zip(qv.embedding, cv.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (qv.nrm * cv.nrm) AS score
        |  FROM pruned p
        |  JOIN q qv ON qv.vec_id = p.query_id
        |  JOIN q cv ON cv.vec_id = p.neighbor_id
        |)
        |SELECT query_id, neighbor_id, score,
        |       CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
        |FROM rescored
        |QUALIFY rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // rational TF-IDF: tf * (N+1) / (df+1) — exact-integer numerator and
    // denominator, one double division; same ranking as the log form
    "text_tfidf_top" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |),
        |tfc AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2
        |),
        |dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.token, t.tf, d.df,
        |         CAST(t.tf * (n.n_docs + 1) AS DOUBLE)
        |           / CAST(d.df + 1 AS DOUBLE) AS tfidf
        |  FROM tfc t JOIN dfc d USING (token) CROSS JOIN n
        |)
        |SELECT doc_id, token AS top_term, tf, df, tfidf
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, token ASC) = 1
        |ORDER BY doc_id""".stripMargin,

    // integer-unit BM25 (see TextAnalysis.bm25TopK): every division is
    // a BIGINT floor division, so scores are bit-identical across engines
    "text_bm25_topk" ->
      s"""WITH $Bm25Ctes
         |SELECT query_id, doc_id, score_u, rank
         |FROM bm25_ranked
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // RRF over the BM25 list and the dense cosine list (query vectors =
    // embeddings 1..3, mirroring the engine's Bm25Queries ids); rank
    // reciprocals are integral divisions — exact on both engines
    "retrieval_rrf_fusion" ->
      s"""WITH $Bm25Ctes,
         |lex AS (SELECT query_id, doc_id, rank FROM bm25_ranked
         |        WHERE rank <= 20),
         |v AS (
         |  SELECT vec_id, embedding,
         |         sqrt(list_sum(list_transform(embedding,
         |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |),
         |dscored AS (
         |  SELECT CAST(q.vec_id AS INT) AS query_id, c.vec_id AS doc_id,
         |         list_sum(list_transform(list_zip(q.embedding, c.embedding),
         |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |           / (q.nrm * c.nrm) AS score
         |  FROM v q JOIN v c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id IN (${Bm25Queries.map(_._1).mkString(", ")})
         |    AND q.nrm > 0 AND c.nrm > 0
         |),
         |dense AS (
         |  SELECT query_id, doc_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM dscored
         |  QUALIFY rank <= 20
         |),
         |fused AS (
         |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         |         coalesce(l.doc_id, d.doc_id) AS doc_id,
         |         coalesce(1000000 // (60 + l.rank), 0)
         |           + coalesce(1000000 // (60 + d.rank), 0) AS rrf_u
         |  FROM lex l
         |  FULL OUTER JOIN dense d
         |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
         |)
         |SELECT query_id, doc_id, CAST(rrf_u AS BIGINT) AS rrf_u,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |            ORDER BY rrf_u DESC, doc_id ASC) AS BIGINT) AS rank
         |FROM fused
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // greedy MMR trajectory as a recursive CTE: each step appends the
    // argmax of lam*rel - (1-lam)*max_sim_to_selected (tie: smaller doc
    // id, via max over a (score, -doc) struct); doubles match the
    // engine's folds bit for bit, so the trajectories are identical
    "retrieval_mmr_topk" ->
      s"""WITH RECURSIVE
         |v AS (
         |  SELECT vec_id, embedding,
         |         sqrt(list_sum(list_transform(embedding,
         |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |         list_sum(list_transform(list_zip(q.embedding, c.embedding),
         |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |           / (q.nrm * c.nrm) AS rel
         |  FROM v q JOIN v c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id IN (${Bm25Queries.map(_._1).mkString(", ")})
         |    AND q.nrm > 0 AND c.nrm > 0
         |),
         |cand AS (
         |  SELECT query_id, doc_id, rel FROM (
         |    SELECT query_id, doc_id, rel,
         |           row_number() OVER (PARTITION BY query_id
         |                ORDER BY rel DESC, doc_id ASC) AS rnk
         |    FROM scored) WHERE rnk <= 16
         |),
         |cv AS (
         |  SELECT c.query_id, c.doc_id, c.rel, v.embedding, v.nrm
         |  FROM cand c JOIN v ON v.vec_id = c.doc_id
         |),
         |sim AS (
         |  SELECT a.query_id, a.doc_id AS d1, b.doc_id AS d2,
         |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
         |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |           / (a.nrm * b.nrm) AS s
         |  FROM cv a JOIN cv b
         |    ON a.query_id = b.query_id AND a.doc_id != b.doc_id
         |),
         |pick AS (
         |  SELECT query_id, [doc_id] AS sel, 1 AS it
         |  FROM (SELECT query_id, doc_id,
         |               row_number() OVER (PARTITION BY query_id
         |                    ORDER BY rel DESC, doc_id ASC) AS rn
         |        FROM cand) WHERE rn = 1
         |  UNION ALL
         |  SELECT p.query_id,
         |         list_append(p.sel, -(max(struct_pack(
         |           m := (CAST(700 AS DOUBLE) / 1000.0) * c.rel
         |                - (1.0 - CAST(700 AS DOUBLE) / 1000.0)
         |                  * (SELECT max(s.s) FROM sim s
         |                     WHERE s.query_id = p.query_id
         |                       AND s.d1 = c.doc_id
         |                       AND list_contains(p.sel, s.d2)),
         |           nd := -c.doc_id)).nd)) AS sel,
         |         p.it + 1 AS it
         |  FROM pick p
         |  JOIN cand c
         |    ON c.query_id = p.query_id AND NOT list_contains(p.sel, c.doc_id)
         |  WHERE p.it < 5
         |  GROUP BY p.query_id, p.sel, p.it
         |),
         |last AS (
         |  SELECT query_id, sel FROM (
         |    SELECT query_id, sel,
         |           row_number() OVER (PARTITION BY query_id
         |                ORDER BY it DESC) AS rn
         |    FROM pick) WHERE rn = 1
         |)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |       CAST(unnest(sel) AS BIGINT) AS doc_id,
         |       CAST(unnest(range(1, len(sel) + 1)) AS BIGINT) AS rank
         |FROM last
         |ORDER BY query_id, rank""".stripMargin,

    "text_gopher" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |)
        |SELECT doc_id,
        |       len(toks) AS n_words,
        |       list_min(list_transform(toks, x -> length(x))) AS min_word_len,
        |       list_max(list_transform(toks, x -> length(x))) AS max_word_len,
        |       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit_chars,
        |       length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
        |         AS n_symbol_chars,
        |       CAST(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+')))
        |            AS DOUBLE) / len(toks) AS frac_alpha_words
        |FROM t ORDER BY doc_id""".stripMargin,

    // generate_series(1, 0) is empty in DuckDB, so zero-copy rows drop
    // without an explicit filter (the engine filters before its explode
    // because Spark's sequence() would DESCEND for start > stop)
    "sample_epochs" ->
      """SELECT doc_id, source,
        |       unnest(generate_series(1, CAST(copies AS BIGINT))) AS copy_id
        |FROM (
        |  SELECT doc_id, source,
        |         (rate // 1000)
        |           + CASE WHEN h < rate % 1000 THEN 1 ELSE 0 END AS copies
        |  FROM (
        |    SELECT doc_id, source,
        |           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                AS BIGINT) % 1000 AS h,
        |           CASE WHEN source = 'src0' THEN 2500
        |                WHEN source = 'src1' THEN 500
        |                ELSE 1000 END AS rate
        |    FROM documents
        |  )
        |)
        |ORDER BY doc_id, copy_id""".stripMargin,

    "sample_mixture" ->
      """SELECT doc_id, source
        |FROM (
        |  SELECT doc_id, source,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |              AS BIGINT) % 1000 AS h,
        |         CASE WHEN source = 'src0' THEN 1000
        |              WHEN source = 'src1' THEN 100
        |              ELSE 500 END AS rate
        |  FROM documents
        |)
        |WHERE h < rate
        |ORDER BY doc_id""".stripMargin,

    // the three verified signal pipelines re-derived and composed:
    // QualityCte's q(doc_id, quality_score) + the repetition chain's
    // per-doc top fraction + md5-group canonical ids
    "curation_verdict" ->
      (s"""WITH $QualityCte,
         |rtoks AS (
         |  SELECT doc_id,
         |         unnest(string_split(text, ' ')) AS tok,
         |         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
         |  FROM documents
         |),
         |rgrams AS (
         |  SELECT doc_id,
         |         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
         |           AS gram
         |  FROM rtoks
         |),
         |rcounts AS (
         |  SELECT doc_id, gram, count(*) AS n
         |  FROM rgrams WHERE gram IS NOT NULL GROUP BY 1, 2
         |),
         |rep AS (
         |  SELECT doc_id, CAST(max(n) AS DOUBLE) / sum(n) AS top_bigram_frac
         |  FROM rcounts GROUP BY 1
         |),
         |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT d.doc_id, q.quality_score,
         |       coalesce(rep.top_bigram_frac, 0.0) AS top_bigram_frac,
         |       (c.doc_id IS NOT NULL) AS is_canonical,
         |       ((c.doc_id IS NOT NULL) AND q.quality_score >= 0.42
         |        AND coalesce(rep.top_bigram_frac, 0.0) <= 0.08) AS keep
         |FROM documents d
         |JOIN q ON q.doc_id = d.doc_id
         |LEFT JOIN rep ON rep.doc_id = d.doc_id
         |LEFT JOIN canon c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""").stripMargin,

    // 8-token windows every 4 tokens (DuckDB list slice is 1-based with
    // inclusive end); spans hashed with the portable md5 family
    "text_dup_spans" ->
      (s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
         |w AS (
         |  SELECT doc_id,
         |         ${Md5Long60.format(
             "array_to_string(tok[CAST(4 * i + 1 AS INT) : CAST(4 * i + 8 AS INT)], ' ')")}
         |           AS span_hash
         |  FROM (SELECT doc_id, tok,
         |               unnest(generate_series(0, (len(tok) - 8) // 4)) AS i
         |        FROM toks WHERE len(tok) >= 8)
         |)
         |SELECT span_hash,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM w
         |GROUP BY span_hash
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY span_hash""").stripMargin,

    // pairwise maximal shared runs: stride-1 shingles, df-capped, one
    // diagonal (pa − pb) per alignment family, islands by pa − rn
    "dedup_cross_spans" ->
      (s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tok
         |  FROM documents WHERE doc_id IS NOT NULL
         |),
         |idx AS (
         |  SELECT doc_id, tok, unnest(generate_series(1, len(tok) - 7)) AS i
         |  FROM t WHERE len(tok) >= 8
         |),
         |sh AS (
         |  SELECT doc_id, CAST(i AS INT) AS pos,
         |         ${Md5Long60.format(
              "array_to_string(list_slice(tok, CAST(i AS INT), CAST(i AS INT) + 7), ' ')")}
         |           AS h
         |  FROM idx
         |),
         |c AS (SELECT h FROM sh GROUP BY h
         |      HAVING count(*) >= 2 AND count(*) <= 64),
         |k AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN c USING (h)),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.pos AS pa, b.pos AS pb, a.pos - b.pos AS d
         |  FROM k a JOIN k b ON a.h = b.h AND a.doc_id < b.doc_id
         |),
         |r AS (
         |  SELECT doc_a, doc_b, d, pa, pb,
         |         row_number() OVER (PARTITION BY doc_a, doc_b, d
         |                            ORDER BY pa ASC) AS rn
         |  FROM p
         |),
         |s AS (
         |  SELECT doc_a, doc_b,
         |         CAST(min(pa) AS BIGINT) AS start_a,
         |         CAST(min(pb) AS BIGINT) AS start_b,
         |         CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens
         |  FROM r GROUP BY doc_a, doc_b, d, pa - rn
         |)
         |SELECT doc_a, doc_b, start_a, start_b, span_tokens
         |FROM s WHERE span_tokens >= 16
         |ORDER BY doc_a, doc_b, start_a, start_b""").stripMargin,

    // T=2 temperature rebalancing: rate = floor(1000 / sqrt(n_s/n_min))
    // — sqrt and division are IEEE-correctly-rounded in both engines
    "sample_temperature" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(floor(sqrt(CAST(doc_id AS DOUBLE))) AS BIGINT) AS bucket
        |  FROM documents
        |),
        |c AS (SELECT bucket, count(*) AS n_s FROM d GROUP BY 1),
        |m AS (SELECT min(n_s) AS n_min FROM c)
        |SELECT doc_id, bucket
        |FROM d
        |JOIN c USING (bucket) CROSS JOIN m
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 1000
        |  < floor(1000.0 / sqrt(CAST(n_s AS DOUBLE) / CAST(n_min AS DOUBLE)))
        |ORDER BY doc_id""".stripMargin,

    // per-source quota = ceil(n*20/100) of the hash-smallest ids; hashes
    // are distinct per id so the rank order is total
    "sample_stratified" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |              AS BIGINT) AS hh
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY hh ASC, doc_id ASC) AS rk,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM h
        |)
        |SELECT doc_id, source FROM r
        |WHERE rk <= (n * 20 + 99) // 100
        |ORDER BY doc_id""".stripMargin,

    // PPS Bernoulli: rate_pm = min(2^20, (2^20·k·w) // Σw); keep iff
    // hash60 // 2^40 < rate_pm — pure integer arithmetic on both sides
    "sample_weighted" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w_tokens
         |  FROM documents
         |), t AS (SELECT CAST(sum(w_tokens) AS BIGINT) AS tot FROM w),
         |r AS (
         |  SELECT doc_id, w_tokens,
         |         least(CAST(1048576 AS BIGINT),
         |               (1048576 * 100 * w_tokens) // tot) AS rate_pm
         |  FROM w CROSS JOIN t
         |)
         |SELECT doc_id, w_tokens, rate_pm
         |FROM r
         |WHERE ${Md5Long60.format("CAST(doc_id AS VARCHAR)")}
         |        // 1099511627776 < rate_pm
         |ORDER BY doc_id""".stripMargin,

    // seed-centroid dot argmax (the dedup_semantic/IVF convention:
    // raw dot, ties to the lower cluster id) + per-cluster hash quota
    "sample_cluster_balanced" ->
      s"""WITH cents AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
         |         embedding AS cv
         |  FROM embeddings ORDER BY vec_id LIMIT 16
         |),
         |cscore AS (
         |  SELECT v.vec_id, ct.c,
         |         list_sum(list_transform(list_zip(v.embedding, ct.cv),
         |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS s
         |  FROM embeddings v CROSS JOIN cents ct
         |),
         |assign AS (
         |  SELECT vec_id, c AS cluster FROM (
         |    SELECT vec_id, c,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, c ASC) AS rn
         |    FROM cscore) WHERE rn = 1
         |),
         |h AS (
         |  SELECT vec_id, cluster,
         |         ${Md5Long60.format("CAST(vec_id AS VARCHAR)")} AS hh
         |  FROM assign
         |),
         |r AS (
         |  SELECT vec_id, cluster,
         |         row_number() OVER (PARTITION BY cluster
         |              ORDER BY hh ASC, vec_id ASC) AS rk,
         |         count(*) OVER (PARTITION BY cluster) AS n
         |  FROM h
         |)
         |SELECT vec_id, cluster FROM r
         |WHERE rk <= (n * 25 + 99) // 100
         |ORDER BY vec_id""".stripMargin,

    // systematic PPS: global running sum over the (hash, id) line;
    // n_picks counts the multiples of tot/k inside each row's interval
    // — all integral divisions, so the pick set is bit-identical
    "sample_systematic" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w_tokens,
         |         ${Md5Long60.format("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents
         |), t AS (SELECT CAST(sum(w_tokens) AS BIGINT) AS tot FROM w),
         |c AS (
         |  SELECT doc_id, w_tokens,
         |         CAST(sum(w_tokens) OVER (ORDER BY h ASC, doc_id ASC,
         |             w_tokens ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |  FROM w
         |)
         |SELECT doc_id, w_tokens,
         |       CAST((cum * 100) // tot
         |            - ((cum - w_tokens) * 100) // tot AS BIGINT) AS n_picks
         |FROM c CROSS JOIN t
         |WHERE (cum * 100) // tot - ((cum - w_tokens) * 100) // tot >= 1
         |ORDER BY doc_id""".stripMargin,

    // exclusive running token total per source shard; a doc joins the
    // pack where it starts
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT source, doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |              PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS tokens_before
        |  FROM t
        |)
        |SELECT source, doc_id, n_tokens, tokens_before,
        |       tokens_before // 256 AS pack_id
        |FROM c ORDER BY source, doc_id""".stripMargin,

    // clusters CTE identical to dedup_clusters; singleton docs key on
    // their own id; split hash = the split_assign arithmetic over the key
    "split_leakage_safe" ->
      (s"WITH RECURSIVE $MinhashPairCtes,\n" +
        """edges AS (
          |  SELECT id_a AS u, id_b AS v FROM pairs
          |  UNION
          |  SELECT id_b, id_a FROM pairs
          |),
          |reach(u, v) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
          |),
          |comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
          |keyed AS (
          |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS k
          |  FROM documents d LEFT JOIN comp c USING (doc_id)
          |)
          |SELECT doc_id,
          |       CASE WHEN h < 80 THEN 'train'
          |            WHEN h < 90 THEN 'valid'
          |            ELSE 'test' END AS split
          |FROM (
          |  SELECT doc_id,
          |         CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
          |           % 100 AS h
          |  FROM keyed
          |)
          |ORDER BY doc_id""".stripMargin),

    "split_assign" ->
      """SELECT doc_id,
        |       CASE WHEN h < 80 THEN 'train'
        |            WHEN h < 90 THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |           % 100 AS h
        |  FROM documents
        |)
        |ORDER BY doc_id""".stripMargin,

    // the shuffled ORDER is the contract; md5-prefix key + id tie-break
    "shuffle_order" ->
      """SELECT doc_id,
        |       CAST(('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id""".stripMargin,

    "pivot_lang_counts" ->
      """SELECT source,
        |       count(*) FILTER (WHERE lang = 'en') AS en,
        |       count(*) FILTER (WHERE lang = 'de') AS de,
        |       count(*) FILTER (WHERE lang = 'es') AS es,
        |       count(*) FILTER (WHERE lang = 'fr') AS fr,
        |       count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "doc_stats_rollup" ->
      """SELECT coalesce(source, '<all>') AS source,
        |       coalesce(lang, '<all>') AS lang,
        |       count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY source, lang""".stripMargin,

    "doc_stats_by_source" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "join_customer_orders" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "window_running_totals" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id,
        |       CAST(count(*) OVER w AS BIGINT) AS running_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |           AS running_value_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY entity_id, "timestamp", event_id""".stripMargin,

    "window_agg_features" ->
      """WITH spine AS (
        |  SELECT user_id AS entity_id, ts + INTERVAL 1 HOUR AS t
        |  FROM events WHERE event_id % 13 = 0
        |)
        |SELECT s.entity_id, s.t AS "timestamp",
        |       CAST(count(f.event_id) AS BIGINT) AS n_events_7d,
        |       CAST(sum(CAST(round(f.value * 100) AS BIGINT)) AS BIGINT)
        |           AS sum_value_cents_7d,
        |       CAST(max(CAST(round(f.value * 100) AS BIGINT)) AS BIGINT)
        |           AS max_value_cents_7d,
        |       min(f.event_id) AS min_event_id_7d,
        |       CAST(count(f.event_id)
        |              FILTER (WHERE f.ts > s.t - INTERVAL 1 DAY)
        |            AS BIGINT) AS n_events_1d,
        |       CAST(sum(CAST(round(f.value * 100) AS BIGINT))
        |              FILTER (WHERE f.ts > s.t - INTERVAL 1 DAY)
        |            AS BIGINT) AS sum_value_cents_1d
        |FROM spine s LEFT JOIN events f
        |  ON f.user_id = s.entity_id
        | AND f.ts <= s.t AND f.ts > s.t - INTERVAL 7 DAY
        |GROUP BY s.entity_id, s.t
        |ORDER BY s.entity_id, s.t""".stripMargin,

    "window_distinct_counts" ->
      """WITH spine AS (
        |  SELECT user_id AS entity_id, ts + INTERVAL 1 HOUR AS t
        |  FROM events WHERE event_id % 13 = 0
        |)
        |SELECT s.entity_id, s.t AS "timestamp",
        |       CAST(count(DISTINCT f.event_type) AS BIGINT) AS n_event_types_7d,
        |       CAST(count(DISTINCT f.event_type)
        |              FILTER (WHERE f.ts > s.t - INTERVAL 1 DAY)
        |            AS BIGINT) AS n_event_types_1d,
        |       CAST(count(f.event_type) AS BIGINT) AS n_events_7d
        |FROM spine s LEFT JOIN events f
        |  ON f.user_id = s.entity_id
        | AND f.ts <= s.t AND f.ts > s.t - INTERVAL 7 DAY
        |GROUP BY s.entity_id, s.t
        |ORDER BY s.entity_id, s.t""".stripMargin,

    "sessionize_events" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |         CAST(sum(is_new) OVER (
        |             PARTITION BY user_id ORDER BY ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_seq
        |  FROM marked
        |)
        |SELECT user_id AS entity_id, session_seq,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY entity_id, session_seq""".stripMargin,

    "pit_topk_recent" ->
      """SELECT user_id AS entity_id, ts AS "timestamp", event_id,
        |       event_type, value,
        |       CAST(row_number() OVER (
        |           PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |         AS INT) AS recency_rank
        |FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
        |QUALIFY recency_rank <= 3
        |ORDER BY entity_id, recency_rank""".stripMargin,

    "feature_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |       count(event_id) AS n_nonnull,
        |       count(DISTINCT event_id) AS n_distinct,
        |       CAST(min(event_id) AS DOUBLE) AS min_value,
        |       CAST(max(event_id) AS DOUBLE) AS max_value
        |FROM events
        |UNION ALL
        |SELECT 'value', count(*), count(value), count(DISTINCT value),
        |       CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE)
        |FROM events
        |ORDER BY col_name""".stripMargin,

    // heavy hitters per key column; ties (n desc, value asc) on the
    // STRING form on both sides, integer-division share
    "feature_skew" ->
      """WITH tot AS (SELECT count(*) AS _n_rows FROM events),
        |uk AS (
        |  SELECT CAST(user_id AS VARCHAR) AS value, count(*) AS n
        |  FROM events GROUP BY 1 ORDER BY n DESC, value ASC NULLS LAST LIMIT 5),
        |et AS (
        |  SELECT CAST(event_type AS VARCHAR) AS value, count(*) AS n
        |  FROM events GROUP BY 1 ORDER BY n DESC, value ASC NULLS LAST LIMIT 5)
        |SELECT col_name, CAST(rank AS INT) AS rank, value,
        |       CAST(n AS BIGINT) AS n,
        |       CAST(n * 1000 // _n_rows AS BIGINT) AS share_permille
        |FROM (
        |  SELECT 'user_id' AS col_name,
        |         row_number() OVER (ORDER BY n DESC, value ASC NULLS LAST) AS rank, value, n
        |  FROM uk
        |  UNION ALL
        |  SELECT 'event_type',
        |         row_number() OVER (ORDER BY n DESC, value ASC NULLS LAST), value, n
        |  FROM et
        |), tot
        |ORDER BY col_name, rank""".stripMargin,

    "drift_histogram" ->
      """SELECT CAST(least(greatest(floor(value / 25), 0), 19) AS BIGINT) AS bin,
        |       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
        |FROM events GROUP BY bin ORDER BY bin""".stripMargin,

    "value_outliers" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), q AS (
        |  SELECT event_type,
        |         quantile_cont(cents, 0.25) AS q1,
        |         quantile_cont(cents, 0.75) AS q3
        |  FROM c GROUP BY 1
        |), b AS (
        |  SELECT event_type,
        |         q1 - 1.5 * (q3 - q1) AS lo,
        |         q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q
        |)
        |SELECT c.event_type, count(*) AS n_rows,
        |       count(*) FILTER (WHERE cents < lo OR cents > hi) AS n_outliers,
        |       lo AS lo_bound, hi AS hi_bound
        |FROM c JOIN b USING (event_type)
        |GROUP BY c.event_type, lo, hi
        |ORDER BY event_type""".stripMargin,

    "feature_view_multi" ->
      """WITH spine AS (
        |  SELECT event_id AS sid, user_id AS e, ts + INTERVAL 1 HOUR AS t
        |  FROM events WHERE event_id % 13 = 0
        |),
        |p AS (
        |  SELECT s.sid, f.ts, CAST(round(f.value * 100) AS BIGINT) AS vc,
        |         f.event_id,
        |         row_number() OVER (PARTITION BY s.sid
        |             ORDER BY f.ts DESC, f.event_id DESC) AS rn
        |  FROM spine s JOIN events f
        |    ON f.user_id = s.e AND f.ts <= s.t AND f.event_type = 'purchase'
        |),
        |c AS (
        |  SELECT s.sid, f.ts, f.event_id,
        |         row_number() OVER (PARTITION BY s.sid
        |             ORDER BY f.ts DESC, f.event_id DESC) AS rn
        |  FROM spine s JOIN events f
        |    ON f.user_id = s.e AND f.ts <= s.t AND f.event_type = 'click'
        |)
        |SELECT s.e AS entity_id, s.t AS "timestamp",
        |       coalesce(p.ts, TIMESTAMP '1970-01-01 00:00:00')
        |         AS purchase_timestamp,
        |       coalesce(p.vc, -1) AS purchase_value_cents,
        |       coalesce(p.event_id, -1) AS purchase_event_id,
        |       coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00')
        |         AS click_timestamp,
        |       coalesce(c.event_id, -1) AS click_event_id
        |FROM spine s
        |LEFT JOIN (SELECT * FROM p WHERE rn = 1) p ON p.sid = s.sid
        |LEFT JOIN (SELECT * FROM c WHERE rn = 1) c ON c.sid = s.sid
        |ORDER BY entity_id, "timestamp"""".stripMargin,

    // text-side quality CTE + embedding-side quantize CTEs, fused on the
    // shared id — arithmetic identical to text_quality / embedding_quantize
    "multimodal_fusion" ->
      s"""WITH $QualityCte,
         |ev AS (
         |  SELECT vec_id, embedding,
         |         list_max(list_transform(embedding,
         |             x -> abs(CAST(x AS DOUBLE)))) AS maxabs
         |  FROM embeddings
         |), es AS (
         |  SELECT vec_id, embedding,
         |         CASE WHEN maxabs = 0 THEN 0.0
         |              ELSE 127.0 / maxabs END AS q_scale
         |  FROM ev
         |), eq AS (
         |  SELECT vec_id, q_scale,
         |         list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * q_scale + 0.5)
         |                       AS BIGINT)) AS qv
         |  FROM es
         |), vecf AS (
         |  SELECT vec_id, q_scale,
         |         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
         |           AS q_norm2
         |  FROM eq
         |)
         |SELECT q.doc_id, d.source, d.lang, q.n_tokens, q.quality_score,
         |       e.label, vecf.q_scale, vecf.q_norm2
         |FROM q
         |JOIN documents d USING (doc_id)
         |JOIN vecf ON vecf.vec_id = q.doc_id
         |JOIN embeddings e ON e.vec_id = q.doc_id
         |ORDER BY doc_id""".stripMargin,

    // the oracle is the naive all-pairs definition — matching it proves
    // the deletion-neighborhood candidate generation loses no pair
    "vocab_fuzzy_pairs" ->
      """WITH vocab AS (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS tok FROM documents
        |)
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |       CAST(levenshtein(a.tok, b.tok) AS INT) AS dist
        |FROM vocab a JOIN vocab b ON a.tok < b.tok
        |WHERE levenshtein(a.tok, b.tok) <= 2
        |ORDER BY tok_a, tok_b""".stripMargin,

    "json_props_stats" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(k) AS BIGINT) AS n_with_k,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       CAST(min(k) AS BIGINT) AS min_k,
        |       CAST(max(k) AS BIGINT) AS max_k
        |FROM (
        |  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "resample_daily_ffill" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |days AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-10 00:00:00',
        |         TIMESTAMP '2024-01-19 00:00:00', INTERVAL 1 DAY)) AS d
        |),
        |spine AS (SELECT user_id, d FROM users CROSS JOIN days),
        |j AS (
        |  SELECT s.user_id, s.d, f.ts, f.event_id,
        |         CAST(round(f.value * 100) AS BIGINT) AS value_cents,
        |         row_number() OVER (PARTITION BY s.user_id, s.d
        |             ORDER BY f.ts DESC, f.event_id DESC) AS rn
        |  FROM spine s JOIN events f
        |    ON f.user_id = s.user_id AND f.ts <= s.d
        |)
        |SELECT u.user_id AS entity_id, u.d AS day,
        |       coalesce(j.ts, TIMESTAMP '1970-01-01 00:00:00') AS last_event_ts,
        |       coalesce(j.event_id, -1) AS last_event_id,
        |       coalesce(j.value_cents, -1) AS last_value_cents
        |FROM spine u LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
        |  ON j.user_id = u.user_id AND j.d = u.d
        |ORDER BY entity_id, day""".stripMargin,

    "interval_join_events" ->
      """SELECT l.user_id AS entity_id,
        |       l.ts AS l_timestamp, l.event_id AS l_event_id,
        |       r.ts AS r_timestamp, r.event_id AS r_event_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'purchase' AND r.event_type = 'click'
        | AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 1 HOUR
        |ORDER BY entity_id, l_event_id, r_event_id""".stripMargin,

    // date_part('epoch') is a fractional DOUBLE in DuckDB — floor to
    // whole seconds to mirror Spark's unix_timestamp truncation; all
    // six sufficient statistics stay exact in HUGEINT
    "feature_trend" ->
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS x,
        |         CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events
        |), a AS (
        |  SELECT event_type,
        |         CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM b GROUP BY 1
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |         / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
        |            * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
        |         AS trend_r
        |FROM a
        |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |ORDER BY event_type""".stripMargin,

    "drift_tvd" ->
      """WITH hist AS (
        |  SELECT CAST(least(greatest(floor(value / 25), 0), 19) AS BIGINT) AS bin,
        |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |                       THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
        |  FROM events GROUP BY bin
        |), t AS (
        |  SELECT CAST(sum(cnt_a) AS BIGINT) AS ta,
        |         CAST(sum(cnt_b) AS BIGINT) AS tb
        |  FROM hist
        |)
        |SELECT CAST(sum(abs(cnt_a * tb - cnt_b * ta)) AS BIGINT) AS tvd_numerator,
        |       max(ta) AS total_a, max(tb) AS total_b,
        |       CAST(sum(abs(cnt_a * tb - cnt_b * ta)) AS BIGINT)
        |         / (2.0 * max(ta) * max(tb)) AS tvd
        |FROM hist, t""".stripMargin,

    "value_percentiles" ->
      """SELECT event_type,
        |       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS p50,
        |       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.9) AS p90,
        |       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.99) AS p99,
        |       count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "feature_freshness" ->
      """WITH latest AS (
        |  SELECT user_id, max(ts) AS latest_ts FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-25 00:00:00' GROUP BY user_id
        |)
        |SELECT (epoch_us(TIMESTAMP '2024-01-25 00:00:00') - epoch_us(latest_ts))
        |         // 86400000000 AS days_stale,
        |       count(*) AS n_entities
        |FROM latest GROUP BY days_stale ORDER BY days_stale""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1]
        |         || ' ' || tok[CAST(i AS INT)+2] AS s
        |  FROM (SELECT doc_id, tok, unnest(generate_series(1, len(tok) - 2)) AS i
        |        FROM toks)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "source_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS tok FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1]
        |         || ' ' || tok[CAST(i AS INT)+2] AS s
        |  FROM (SELECT source, tok, unnest(generate_series(1, len(tok) - 2)) AS i
        |        FROM toks)
        |),
        |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT source_a, source_b,
        |       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = source_a
        |JOIN sizes sb ON sb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // NOTE: MinhashPairCtes is already margin-stripped — assemble with
    // plain concatenation (a second stripMargin would eat the leading
    // pipe of any '||' concat starting a line)
    "dedup_minhash_lsh" ->
      (s"WITH $MinhashPairCtes\n" +
        "SELECT id_a, id_b FROM pairs\nORDER BY id_a, id_b"),

    // batch-vs-corpus candidates: same signature chain, pairs joined
    // ACROSS the doc_id%7 split (no a<b cut — the sides are disjoint),
    // then the same exact-Jaccard verification as dedup_lsh_verified
    "dedup_incremental" ->
      (s"WITH $MinhashPairCtes,\n" +
        s"""xp AS (
           |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
           |  FROM sig a JOIN sig b
           |    ON a.band = b.band AND a.sig = b.sig
           |   AND a.doc_id % 7 = 0 AND b.doc_id % 7 != 0
           |),
           |ihraw AS (SELECT doc_id, ${Md5Long60.format("s")} AS hw FROM sh),
           |isizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           |           FROM ihraw GROUP BY 1),
           |iinter AS (
           |  SELECT p.new_id, p.corpus_id, CAST(count(*) AS BIGINT) AS i
           |  FROM xp p
           |  JOIN ihraw a ON a.doc_id = p.new_id
           |  JOIN ihraw b ON b.doc_id = p.corpus_id AND b.hw = a.hw
           |  GROUP BY 1, 2
           |)
           |SELECT i.new_id, i.corpus_id,
           |       CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard
           |FROM iinter i
           |JOIN isizes sa ON sa.doc_id = i.new_id
           |JOIN isizes sb ON sb.doc_id = i.corpus_id
           |WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.5
           |ORDER BY new_id, corpus_id""".stripMargin),

    // exact Jaccard on the LSH candidates only, over the UNREDUCED
    // 60-bit shingle hashes (the mod-4294967311 hv exists only for the
    // MinHash permutation arithmetic — intersecting on it could merge
    // distinct shingles)
    "dedup_lsh_verified" ->
      (s"WITH $MinhashPairCtes,\n" +
        s"""hraw AS (SELECT doc_id, ${Md5Long60.format("s")} AS hw FROM sh),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           |          FROM hraw GROUP BY 1),
           |inter AS (
           |  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS i
           |  FROM pairs p
           |  JOIN hraw a ON a.doc_id = p.id_a
           |  JOIN hraw b ON b.doc_id = p.id_b AND b.hw = a.hw
           |  GROUP BY 1, 2
           |)
           |SELECT i.id_a, i.id_b,
           |       CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard
           |FROM inter i
           |JOIN sizes sa ON sa.doc_id = i.id_a
           |JOIN sizes sb ON sb.doc_id = i.id_b
           |WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.5
           |ORDER BY id_a, id_b""".stripMargin),

    // pairs → components: cluster id = min doc id reachable in the
    // undirected candidate graph (recursive reachability closure — the
    // SQL mirror of the engine's min-label propagation loop)
    "dedup_clusters" ->
      (s"WITH RECURSIVE $MinhashPairCtes,\n" +
        """edges AS (
          |  SELECT id_a AS u, id_b AS v FROM pairs
          |  UNION
          |  SELECT id_b, id_a FROM pairs
          |),
          |reach(u, v) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
          |)
          |SELECT u AS doc_id, min(v) AS cluster_id
          |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin),

    "dedup_simhash" ->
      (s"WITH $SimhashPairCtes\n" +
        "SELECT id_a, id_b, hamming FROM spairs\nORDER BY id_a, id_b"),

    "dedup_survivors" ->
      (s"WITH RECURSIVE $MinhashPairCtes,\n" +
        """edges AS (
          |  SELECT id_a AS u, id_b AS v FROM pairs
          |  UNION
          |  SELECT id_b, id_a FROM pairs
          |),
          |reach(u, v) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
          |),
          |dropped AS (
          |  SELECT u AS doc_id FROM reach GROUP BY u HAVING min(v) != u
          |)
          |SELECT source,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(count(*) FILTER (WHERE doc_id NOT IN
          |         (SELECT doc_id FROM dropped)) AS BIGINT) AS n_kept,
          |       CAST(count(*) FILTER (WHERE doc_id IN
          |         (SELECT doc_id FROM dropped)) AS BIGINT) AS n_dropped
          |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // count FILTER over the tag-sum classes — the one-plan mirror of
    // the engine's union/groupBy/sum formulation of intersect/except
    "dedup_method_overlap" ->
      (s"WITH $MinhashPairCtes,\n$SimhashPairCtes,\n" +
        """tagged AS (
          |  SELECT id_a, id_b, 1 AS m FROM pairs
          |  UNION ALL
          |  SELECT id_a, id_b, 2 AS m FROM spairs
          |),
          |cls AS (SELECT id_a, id_b, sum(m) AS c FROM tagged GROUP BY 1, 2)
          |SELECT count(*) FILTER (WHERE c = 3) AS n_both,
          |       count(*) FILTER (WHERE c = 1) AS n_minhash_only,
          |       count(*) FILTER (WHERE c = 2) AS n_simhash_only
          |FROM cls""".stripMargin),

    "customers_without_orders" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    // same cosine arithmetic as dedup_embedding for positives; the
    // negative partner of (anchor, k) is md5("neg:anchor:k") mod n
    // (portable hash family), minus self-pairs and true near-dups
    "contrastive_pairs" -> {
      val h = Md5Long60.format(
        "concat_ws(':', 'neg', CAST(e.vec_id AS VARCHAR), CAST(k.k AS VARCHAR))")
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |         sqrt(list_sum(list_transform(embedding,
         |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |),
         |pos AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS other_id
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
         |            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |         / (a.nrm * b.nrm) >= 0.4
         |),
         |pos_both AS (
         |  SELECT anchor_id, other_id FROM pos
         |  UNION ALL SELECT other_id, anchor_id FROM pos
         |),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         |negc AS (
         |  SELECT e.vec_id AS anchor_id, $h % n.n AS other_id
         |  FROM embeddings e CROSS JOIN n
         |  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) k
         |),
         |negs AS (
         |  SELECT DISTINCT anchor_id, other_id FROM negc c
         |  WHERE other_id <> anchor_id
         |    AND NOT EXISTS (SELECT 1 FROM pos_both p
         |                    WHERE p.anchor_id = c.anchor_id
         |                      AND p.other_id = c.other_id)
         |)
         |SELECT anchor_id, other_id, CAST(1 AS INT) AS label FROM pos
         |UNION ALL
         |SELECT anchor_id, other_id, CAST(0 AS INT) AS label FROM negs
         |ORDER BY anchor_id, other_id, label""".stripMargin
    },

    "dedup_embedding" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |         / (a.nrm * b.nrm) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |         / (a.nrm * b.nrm) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // cluster assignment mirrors Similarity.semanticDedup exactly: seed
    // centroids = first 16 vectors in id order (ivfCentroids), argmax
    // dot with FIRST-best ties (row_number s DESC, c ASC); candidate
    // pairs only within a cluster; min-id survivor
    "dedup_semantic" ->
      """WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
        |         embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 16
        |),
        |v AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |cscore AS (
        |  SELECT v.vec_id, ct.c,
        |         list_sum(list_transform(list_zip(v.embedding, ct.cv),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS s
        |  FROM v CROSS JOIN cents ct
        |),
        |assign AS (
        |  SELECT vec_id, c AS cluster FROM (
        |    SELECT vec_id, c,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
        |    FROM cscore) WHERE rn = 1
        |),
        |av AS (
        |  SELECT a.vec_id, a.cluster, v.embedding, v.nrm
        |  FROM assign a JOIN v USING (vec_id)
        |),
        |dups AS (
        |  SELECT b.vec_id, min(a.vec_id) AS dup_of
        |  FROM av a JOIN av b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |          / (a.nrm * b.nrm) >= 0.4
        |  GROUP BY b.vec_id
        |)
        |SELECT av.vec_id, av.cluster, d.dup_of IS NOT NULL AS is_dup,
        |       COALESCE(d.dup_of, -1) AS dup_of
        |FROM av LEFT JOIN dups d ON av.vec_id = d.vec_id
        |ORDER BY av.vec_id""".stripMargin,

    "ann_cosine_topk" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (q.nrm * c.nrm) AS score
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // Hyperplane weights mirror Similarity.lshBuckets exactly: plane p,
    // dim d ← md5Long60("p:d")/2^59 - 1, folded over the vector in dim
    // order (list_sum(list_transform) is the same sequential double
    // fold as the engine's tight loop — verified bit-identical). The
    // embedding dimensionality (64) is a testdata constant; the engine
    // derives it from the data at runtime.
    "ann_lsh_topk" ->
      """WITH w AS (
        |  SELECT CAST(p.i AS INT) AS p, CAST(d.i AS INT) AS d,
        |         CAST(('0x' || substr(md5(p.i || ':' || d.i), 1, 15)) AS BIGINT)
        |           / pow(2, 59) - 1.0 AS wt
        |  FROM range(0, 6) p(i), range(0, 64) d(i)
        |),
        |planes AS (SELECT p, list(wt ORDER BY d) AS wv FROM w GROUP BY p),
        |v AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |sig AS (
        |  SELECT v.vec_id,
        |         CAST(sum(CASE WHEN list_sum(list_transform(
        |                list_zip(v.embedding, pl.wv),
        |                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) > 0
        |              THEN CAST(pow(2, pl.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM v CROSS JOIN planes pl
        |  GROUP BY v.vec_id
        |),
        |vb AS (SELECT v.vec_id, v.embedding, v.nrm, s.bucket
        |       FROM v JOIN sig s USING (vec_id)),
        |q AS (
        |  SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, bucket
        |  FROM vb WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |         list_sum(list_transform(list_zip(q.qv, c.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (q.qn * c.nrm) AS score
        |  FROM q JOIN vb c ON c.bucket = q.bucket AND c.vec_id != q.query_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // Coarse quantizer mirrors Similarity.ivfTopK: centroids = the 16
    // lowest-id vectors; assignment = argmax inner product (ties →
    // lowest centroid id, same as the engine's strict > scan); probes =
    // top-4 centroids per query by the same order.
    "ann_ivf_topk" ->
      """WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
        |         embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 16
        |),
        |v AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |cscore AS (
        |  SELECT v.vec_id, ct.c,
        |         list_sum(list_transform(list_zip(v.embedding, ct.cv),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS s
        |  FROM v CROSS JOIN cents ct
        |),
        |rankedc AS (
        |  SELECT vec_id, c,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
        |  FROM cscore
        |),
        |assign AS (SELECT vec_id, c AS lst FROM rankedc WHERE rn = 1),
        |probes AS (SELECT vec_id, c FROM rankedc WHERE rn <= 4),
        |cand AS (SELECT v.vec_id, v.embedding, v.nrm, a.lst
        |         FROM v JOIN assign a USING (vec_id)),
        |q AS (
        |  SELECT v.vec_id AS query_id, v.embedding AS qv, v.nrm AS qn, p.c
        |  FROM v JOIN probes p USING (vec_id)
        |  WHERE v.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |         list_sum(list_transform(list_zip(q.qv, c.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (q.qn * c.nrm) AS score
        |  FROM q JOIN cand c ON c.lst = q.c AND c.vec_id != q.query_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // one Lloyd iteration on the seed centroids; the update is exact:
    // element -> floor(x*1e6 + 0.5) summed as BIGINT per (cluster, dim)
    // (order-independent), new coordinate = sum/n/1e6 — identical
    // arithmetic to Similarity.ivfCentroidsKMeans. 64 = embedding dim
    // (data contract, TESTDATA.md). Empty clusters keep their seed.
    "ann_ivf_kmeans" ->
      """WITH cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
        |         embedding AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 16
        |),
        |v AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |cscore0 AS (
        |  SELECT v.vec_id, ct.c,
        |         list_sum(list_transform(list_zip(v.embedding, ct.cv),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS s
        |  FROM v CROSS JOIN cents ct
        |),
        |assign0 AS (
        |  SELECT vec_id, c AS lst FROM (
        |    SELECT vec_id, c,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
        |    FROM cscore0) WHERE rn = 1
        |),
        |upd AS (
        |  SELECT a.lst AS c, CAST(r.d AS INT) AS d,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(floor(CAST(e.embedding[CAST(r.d AS INT) + 1] AS DOUBLE)
        |              * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
        |  FROM embeddings e JOIN assign0 a USING (vec_id)
        |  CROSS JOIN range(0, 64) r(d)
        |  GROUP BY 1, 2
        |),
        |cents1 AS (
        |  SELECT s.c,
        |         list(COALESCE(CAST(u.sq AS DOUBLE) / u.n / 1000000.0,
        |                       CAST(s.cv[CAST(r.d AS INT) + 1] AS DOUBLE))
        |              ORDER BY r.d) AS cv
        |  FROM cents s
        |  CROSS JOIN range(0, 64) r(d)
        |  LEFT JOIN upd u ON u.c = s.c AND u.d = CAST(r.d AS INT)
        |  GROUP BY s.c
        |),
        |cscore AS (
        |  SELECT v.vec_id, ct.c,
        |         list_sum(list_transform(list_zip(v.embedding, ct.cv),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS s
        |  FROM v CROSS JOIN cents1 ct
        |),
        |rankedc AS (
        |  SELECT vec_id, c,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
        |  FROM cscore
        |),
        |assign AS (SELECT vec_id, c AS lst FROM rankedc WHERE rn = 1),
        |probes AS (SELECT vec_id, c FROM rankedc WHERE rn <= 4),
        |cand AS (SELECT v.vec_id, v.embedding, v.nrm, a.lst
        |         FROM v JOIN assign a USING (vec_id)),
        |q AS (
        |  SELECT v.vec_id AS query_id, v.embedding AS qv, v.nrm AS qn, p.c
        |  FROM v JOIN probes p USING (vec_id)
        |  WHERE v.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |         list_sum(list_transform(list_zip(q.qv, c.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (q.qn * c.nrm) AS score
        |  FROM q JOIN cand c ON c.lst = q.c AND c.vec_id != q.query_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    // mirrors Similarity.pqTopK exactly: codebooks = subvectors of the
    // first 16 vectors in id order (8 subspaces x 8 dims over the
    // 64-dim contract); encode = argmin squared-L2 per subspace (ties
    // -> lowest code, matching the expression's strict <); ADC =
    // sum over s-ordered lookups / reconstruction norm; top 24 by
    // (adc DESC, id ASC) re-scored exactly, final top 3
    "ann_pq_topk" ->
      """WITH seed AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
        |         embedding AS sv
        |  FROM embeddings ORDER BY vec_id LIMIT 16
        |),
        |cb AS (
        |  SELECT CAST(s.i AS INT) AS s, c,
        |         list_slice(sv, CAST(s.i AS INT) * 8 + 1, CAST(s.i AS INT) * 8 + 8) AS w
        |  FROM seed CROSS JOIN range(0, 8) s(i)
        |),
        |cbn AS (
        |  SELECT s, c,
        |         list_sum(list_transform(w,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
        |  FROM cb
        |),
        |dist AS (
        |  SELECT e.vec_id, cb.s, cb.c,
        |         list_sum(list_transform(
        |              list_zip(list_slice(e.embedding, cb.s * 8 + 1, cb.s * 8 + 8), cb.w),
        |              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
        |  FROM embeddings e CROSS JOIN cb
        |),
        |enc AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c,
        |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, c ASC) AS rn
        |    FROM dist) WHERE rn = 1
        |),
        |q AS (
        |  SELECT vec_id AS query_id, embedding AS qv,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
        |  FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |),
        |lut AS (
        |  SELECT q.query_id, cb.s, cb.c,
        |         list_sum(list_transform(
        |              list_zip(list_slice(q.qv, cb.s * 8 + 1, cb.s * 8 + 8), cb.w),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS ld
        |  FROM q CROSS JOIN cb
        |),
        |adc AS (
        |  SELECT l.query_id, e.vec_id AS neighbor_id,
        |         list_sum(list(l.ld ORDER BY e.s))
        |           / sqrt(list_sum(list(n.nsq ORDER BY e.s))) AS adc
        |  FROM enc e
        |  JOIN lut l ON l.s = e.s AND l.c = e.code
        |  JOIN cbn n ON n.s = e.s AND n.c = e.code
        |  WHERE e.vec_id != l.query_id
        |  GROUP BY 1, 2
        |),
        |cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |                ORDER BY adc DESC, neighbor_id ASC) AS rn
        |    FROM adc) WHERE rn <= 24
        |),
        |v AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |exact AS (
        |  SELECT cd.query_id, cd.neighbor_id,
        |         list_sum(list_transform(list_zip(q.qv, v.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (q.qn * v.nrm) AS score
        |  FROM cand cd
        |  JOIN q ON q.query_id = cd.query_id
        |  JOIN v ON v.vec_id = cd.neighbor_id
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
        |  FROM exact
        |)
        |SELECT query_id, neighbor_id, score, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Engine keeps every 4th BYTE; payloads are ASCII so every 4th CHAR
    // is the same operation. Bounds derive from each document (indexed
    // list lambda / per-row generate_series), never a fixed cap that a
    // longer corpus would silently overflow.
    "multimodal_byte_downsample" ->
      """SELECT doc_id, length(text) AS n_bytes_in,
        |       length(r) AS n_bytes_out, r AS resized_text
        |FROM (
        |  SELECT doc_id, text,
        |         array_to_string(list_filter(string_split(text, ''),
        |             (x, i) -> (i - 1) % 4 = 0), '') AS r
        |  FROM documents
        |)
        |ORDER BY doc_id""".stripMargin,

    "multimodal_byte_frames" ->
      """SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |       substr(text, CAST(i AS INT) * 48 + 1, 64) AS frame_text
        |FROM (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, (length(text) - 64) // 48)) AS i
        |  FROM documents WHERE length(text) >= 64
        |)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // decoded-sample windows recomputed from token lengths: sample_i =
    // clamp(len(tok_i)*1000 - 5000) (the encoder clamps to the 16-bit
    // sample range instead of wrapping), window f covers samples
    // [3f, 3f+4) — complete windows only
    "multimodal_frames" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx, 'audio' AS kind,
        |       CAST(4 AS BIGINT) AS n_units,
        |       CAST(list_sum(list_transform(
        |           list_slice(samples, CAST(f AS INT) * 3 + 1, CAST(f AS INT) * 3 + 4),
        |           x -> abs(x))) AS BIGINT) AS sum_abs,
        |       CAST(list_max(
        |           list_slice(samples, CAST(f AS INT) * 3 + 1, CAST(f AS INT) * 3 + 4))
        |         AS BIGINT) AS max_unit
        |FROM (
        |  SELECT doc_id, samples,
        |         unnest(generate_series(0, (len(samples) - 4) // 3)) AS f
        |  FROM (
        |    SELECT doc_id,
        |           list_transform(string_split(text, ' '),
        |             t -> GREATEST(-32768, LEAST(32767, length(t) * 1000 - 5000))) AS samples
        |    FROM documents)
        |  WHERE len(samples) >= 4
        |)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // decoded pixel row-bands recomputed by text position: the BMP's
    // pixel data is the first 48·h bytes of the text (h = len // 48),
    // band f covers rows [2f, 2f+2) = bytes [96f, 96f+96)
    "multimodal_image_bands" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx, 'image' AS kind,
        |       CAST(96 AS BIGINT) AS n_units,
        |       CAST(list_sum(list_transform(range(0, 96),
        |           p -> ascii(substr(text, CAST(f AS INT) * 96 + CAST(p AS INT) + 1, 1))))
        |         AS BIGINT) AS sum_abs,
        |       CAST(list_max(list_transform(range(0, 96),
        |           p -> ascii(substr(text, CAST(f AS INT) * 96 + CAST(p AS INT) + 1, 1))))
        |         AS BIGINT) AS max_unit
        |FROM (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, (length(text) // 48 - 2) // 2)) AS f
        |  FROM documents WHERE length(text) // 48 >= 2
        |)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // features recomputed straight from the text the WAV was built
    // from: sample_i = clamp(len(token_i)*1000 - 5000) (mono, 16 kHz);
    // the clamp mirrors the encoder's — a raw 16-bit cast would WRAP
    // for tokens >= 38 chars while this full-width SQL would not
    "multimodal_wav_roundtrip" ->
      """SELECT doc_id,
        |       CAST(16000 AS BIGINT) AS sample_rate,
        |       CAST(1 AS BIGINT) AS n_channels,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(abs(GREATEST(-32768, LEAST(32767, length(tok) * 1000 - 5000)))) AS BIGINT) AS sum_abs,
        |       CAST(max(GREATEST(-32768, LEAST(32767, length(tok) * 1000 - 5000))) AS BIGINT) AS max_sample
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // kept-pixel geometry of the 2x nearest-neighbor downsample: output
    // pixel (ox, oy) of the 8px-wide result samples source pixel
    // (2ox, 2oy) of the 16px-wide grid → source byte 3*(2*oy*16 + 2*ox)
    "multimodal_bmp_resize" ->
      """SELECT doc_id,
        |       CAST(8 AS BIGINT) AS width,
        |       CAST((h + 1) // 2 AS BIGINT) AS height,
        |       CAST(list_sum(list_transform(range(0, ((h + 1) // 2) * 8),
        |           p -> ascii(substr(text,
        |               3 * (2 * (CAST(p AS INT) // 8) * 16 + 2 * (CAST(p AS INT) % 8)) + 1,
        |               1)))) AS BIGINT) AS sum_b,
        |       CAST(list_sum(list_transform(range(0, ((h + 1) // 2) * 8),
        |           p -> ascii(substr(text,
        |               3 * (2 * (CAST(p AS INT) // 8) * 16 + 2 * (CAST(p AS INT) % 8)) + 2,
        |               1)))) AS BIGINT) AS sum_g,
        |       CAST(list_sum(list_transform(range(0, ((h + 1) // 2) * 8),
        |           p -> ascii(substr(text,
        |               3 * (2 * (CAST(p AS INT) // 8) * 16 + 2 * (CAST(p AS INT) % 8)) + 3,
        |               1)))) AS BIGINT) AS sum_r
        |FROM (SELECT doc_id, text, length(text) // 48 AS h
        |      FROM documents WHERE length(text) >= 48)
        |ORDER BY doc_id""".stripMargin,

    // channel sums by byte position: pixel p of a 16px-wide row grid
    // takes bytes (3p, 3p+1, 3p+2) as (B, G, R); ASCII corpus, so
    // char position == byte position
    "multimodal_bmp_roundtrip" ->
      """SELECT doc_id,
        |       CAST(16 AS BIGINT) AS width,
        |       CAST(h AS BIGINT) AS height,
        |       CAST(list_sum(list_transform(range(0, h * 16),
        |           p -> ascii(substr(text, 3 * CAST(p AS INT) + 1, 1)))) AS BIGINT) AS sum_b,
        |       CAST(list_sum(list_transform(range(0, h * 16),
        |           p -> ascii(substr(text, 3 * CAST(p AS INT) + 2, 1)))) AS BIGINT) AS sum_g,
        |       CAST(list_sum(list_transform(range(0, h * 16),
        |           p -> ascii(substr(text, 3 * CAST(p AS INT) + 3, 1)))) AS BIGINT) AS sum_r
        |FROM (SELECT doc_id, text, length(text) // 48 AS h
        |      FROM documents WHERE length(text) >= 48)
        |ORDER BY doc_id""".stripMargin,

    "multimodal_features" ->
      """WITH ch AS (
        |  SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) // 16 AS bucket
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        |        FROM documents)
        |),
        |bk AS (SELECT doc_id, bucket, count(*) AS c FROM ch GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.doc_id, d.nb, CAST(g.i AS INT) AS b
        |  FROM (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents) d,
        |       range(0, 16) g(i)
        |),
        |hist AS (
        |  SELECT grid.doc_id, grid.nb, grid.b,
        |         CAST(coalesce(bk.c, 0) AS DOUBLE) AS c
        |  FROM grid LEFT JOIN bk
        |    ON bk.doc_id = grid.doc_id AND bk.bucket = grid.b
        |)
        |SELECT doc_id, CAST(nb AS INT) AS n_bytes, b AS bucket,
        |       c / greatest(nb, 1) AS feature
        |FROM hist
        |ORDER BY doc_id, bucket""".stripMargin,

    // word 4-grams built with the same slice arithmetic on both sides;
    // DuckDB generate_series(1, n) is empty when n < 1, mirroring the
    // engine's short-document guard
    "decontaminate_eval" ->
      """WITH ev AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(toks) - 3),
        |                   i -> array_to_string(toks[i:i+3], ' '))) AS gram
        |  FROM (SELECT string_split(text, ' ') AS toks
        |        FROM documents WHERE source = 'src19')
        |),
        |tg AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |                   i -> array_to_string(toks[i:i+3], ' ')))) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE source != 'src19')
        |),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |  FROM tg JOIN ev USING (gram) GROUP BY 1
        |)
        |SELECT d.doc_id, d.source,
        |       coalesce(h.n_hit, 0) AS n_hit_grams,
        |       coalesce(h.n_hit, 0) = 0 AS keep
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.source != 'src19'
        |ORDER BY doc_id""".stripMargin,

    // the bloom path must reproduce the EXACT n-gram semantics (the
    // filter only prefilters; the verify join restores exactness), so
    // its oracle is the same full set-intersection SQL at n=3
    "decontaminate_bloom" ->
      """WITH ev AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(toks) - 2),
        |                   i -> array_to_string(toks[i:i+2], ' '))) AS gram
        |  FROM (SELECT string_split(text, ' ') AS toks
        |        FROM documents WHERE source = 'src19')
        |),
        |tg AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                   i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE source != 'src19')
        |),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |  FROM tg JOIN ev USING (gram) GROUP BY 1
        |)
        |SELECT d.doc_id, d.source,
        |       coalesce(h.n_hit, 0) AS n_hit_grams,
        |       coalesce(h.n_hit, 0) = 0 AS keep
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.source != 'src19'
        |ORDER BY doc_id""".stripMargin,

    "knn_label_vote" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |         list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (q.nrm * c.nrm) AS score
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id IN (0,1,2,3,4,5,6,7,8,9)
        |),
        |topk AS (
        |  SELECT query_id, neighbor_label,
        |         row_number() OVER (PARTITION BY query_id
        |             ORDER BY score DESC, neighbor_id ASC) AS rnk
        |  FROM scored
        |),
        |votes AS (
        |  SELECT query_id, neighbor_label AS predicted_label,
        |         CAST(count(*) AS BIGINT) AS n_votes
        |  FROM topk WHERE rnk <= 5 GROUP BY 1, 2
        |)
        |SELECT query_id, predicted_label, n_votes
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY n_votes DESC, predicted_label ASC) AS vr FROM votes)
        |WHERE vr = 1
        |ORDER BY query_id""".stripMargin,

    // floor(x*1e6 + 0.5) rounds identically in both engines (round()'s
    // half-case conventions differ); sums of exact integers are
    // aggregation-order-independent, which double sums are not
    "embedding_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
        |         AS BIGINT) AS sum_q
        |FROM (SELECT label, unnest(embedding) AS x,
        |             unnest(generate_series(1, len(embedding))) AS i
        |      FROM embeddings)
        |GROUP BY 1, 2
        |ORDER BY label, dim""".stripMargin,

    // same exact-integer interior as the engine: per-dim BIGINT sums of
    // millionth-quantized elements, HUGEINT folds of their products,
    // and the identical float tail (VARCHAR->DOUBLE, sqrt, division).
    // The quantization scale cancels in the cosine; l2 divides out the
    // common denominator at the end
    "embedding_drift" ->
      """WITH q AS (
        |  SELECT vec_id % 2 = 0 AS is_a, i AS dim,
        |         CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
        |  FROM (SELECT vec_id, unnest(embedding) AS x,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)
        |), d AS (
        |  SELECT dim,
        |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |         CAST(sum(CASE WHEN is_a THEN xq ELSE 0 END) AS BIGINT) AS sa,
        |         CAST(sum(CASE WHEN NOT is_a THEN xq ELSE 0 END) AS BIGINT) AS sb
        |  FROM q GROUP BY dim
        |)
        |SELECT CAST(max(na) AS BIGINT) AS n_a,
        |       CAST(max(nb) AS BIGINT) AS n_b,
        |       CASE WHEN sum(CAST(sa AS HUGEINT) * sa) > 0
        |             AND sum(CAST(sb AS HUGEINT) * sb) > 0 THEN
        |         CAST(CAST(sum(CAST(sa AS HUGEINT) * sb) AS VARCHAR) AS DOUBLE)
        |           / (sqrt(CAST(CAST(sum(CAST(sa AS HUGEINT) * sa) AS VARCHAR) AS DOUBLE))
        |              * sqrt(CAST(CAST(sum(CAST(sb AS HUGEINT) * sb) AS VARCHAR) AS DOUBLE)))
        |       END AS cos_shift,
        |       CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |         sqrt(CAST(CAST(sum((CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
        |                            * (CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na))
        |                    AS VARCHAR) AS DOUBLE))
        |           / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE) * 1000000)
        |       END AS l2_shift
        |FROM d""".stripMargin,

    "feature_lag_delta" ->
      """SELECT * FROM (
        |  SELECT user_id, ts, event_id, value,
        |         lag(value) OVER w AS prev_value,
        |         value - lag(value) OVER w AS value_delta,
        |         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000 AS secs_since_prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |WHERE prev_value IS NOT NULL
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "top_docs_per_source" ->
      s"""WITH $QualityCte,
         |r AS (
         |  SELECT d.source, q.doc_id, q.quality_score,
         |         CAST(row_number() OVER (PARTITION BY d.source
         |             ORDER BY q.quality_score DESC, q.doc_id ASC) AS INT) AS rank
         |  FROM q JOIN documents d USING (doc_id)
         |)
         |SELECT source, rank, doc_id, quality_score
         |FROM r WHERE rank <= 3
         |ORDER BY source, rank""".stripMargin,

    "target_encoding" ->
      """WITH g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS gn,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS gsum
        |  FROM events
        |),
        |c AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1
        |)
        |SELECT event_type, n, sum_cents,
        |       (CAST(sum_cents AS DOUBLE) + 10.0 * (CAST(gsum AS DOUBLE) / gn))
        |         / (n + 10.0) / 100.0 AS encoded
        |FROM c, g
        |ORDER BY event_type""".stripMargin,

    "feature_binning" ->
      """SELECT event_type, event_id, value,
        |       CAST(ntile(10) OVER w AS INT) AS bin,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume_dist
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin,

    "feature_hashing" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |)
         |SELECT doc_id, CAST(${Md5Long60.format("t")} % 32 AS INT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM tok GROUP BY 1, 2
         |ORDER BY doc_id, bucket""".stripMargin,

    "knn_label_noise" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |         list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |           / (q.nrm * c.nrm) AS score
        |  FROM v q JOIN v c ON c.vec_id != q.vec_id
        |),
        |topk AS (
        |  SELECT query_id, neighbor_label,
        |         row_number() OVER (PARTITION BY query_id
        |             ORDER BY score DESC, neighbor_id ASC) AS rnk
        |  FROM scored
        |),
        |votes AS (
        |  SELECT query_id, neighbor_label AS predicted_label,
        |         CAST(count(*) AS BIGINT) AS n_votes
        |  FROM topk WHERE rnk <= 5 GROUP BY 1, 2
        |),
        |pred AS (
        |  SELECT query_id, predicted_label, n_votes
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |          ORDER BY n_votes DESC, predicted_label ASC) AS vr FROM votes)
        |  WHERE vr = 1
        |)
        |SELECT e.vec_id, e.label, p.predicted_label, p.n_votes
        |FROM embeddings e JOIN pred p ON p.query_id = e.vec_id
        |WHERE p.predicted_label != e.label
        |ORDER BY vec_id""".stripMargin,

    "token_budget_subset" ->
      s"""WITH $QualityCte,
         |s AS (
         |  SELECT q.doc_id, d.source, q.quality_score,
         |         CAST(q.n_tokens AS BIGINT) AS n_tokens
         |  FROM q JOIN documents d USING (doc_id)
         |),
         |c AS (
         |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |             ORDER BY quality_score DESC, doc_id ASC
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cost_before
         |  FROM s
         |)
         |SELECT doc_id, source, quality_score, n_tokens, cost_before
         |FROM c WHERE cost_before + n_tokens <= 400
         |ORDER BY source, doc_id""".stripMargin,

    // same register arithmetic as Sketches.hllDistinct: 60-bit md5 hash,
    // top 6 bits pick the bucket, rank = leading zeros of the low 54
    // bits + 1 (via bin() bitlength — identical semantics both engines),
    // estimate = alpha*m^2*2^55 / exact integer register sum
    "sketch_hll_distinct" -> {
      val h = Md5Long60.format("tok")
      val alphaNum = graft.ops.Sketches.alphaNumerator(6)
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
         |),
         |h AS (SELECT source, $h AS hv FROM toks WHERE tok IS NOT NULL),
         |br AS (
         |  SELECT source, hv // 18014398509481984 AS bucket,
         |         hv % 18014398509481984 AS rem
         |  FROM h
         |),
         |rk AS (
         |  SELECT source, bucket,
         |         CASE WHEN rem = 0 THEN 55
         |              ELSE 55 - length(bin(rem)) END AS rank
         |  FROM br
         |),
         |reg AS (SELECT source, bucket, max(rank) AS maxr FROM rk GROUP BY 1, 2),
         |agg AS (
         |  SELECT source,
         |         CAST(sum(1::BIGINT << (55 - maxr)) AS BIGINT) AS sum_present,
         |         count(*) AS n_buckets
         |  FROM reg GROUP BY 1
         |),
         |ex AS (
         |  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
         |  FROM toks GROUP BY 1
         |)
         |SELECT ex.source, ex.exact_distinct,
         |       CAST(agg.sum_present + (64 - agg.n_buckets) * (1::BIGINT << 55)
         |         AS BIGINT) AS hll_sum_scaled,
         |       CAST(64 - agg.n_buckets AS BIGINT) AS n_empty_buckets,
         |       $alphaNum / (agg.sum_present
         |           + (64 - agg.n_buckets) * (1::BIGINT << 55)) AS hll_estimate
         |FROM ex JOIN agg ON ex.source IS NOT DISTINCT FROM agg.source
         |ORDER BY ex.source""".stripMargin
    },

    // same bit-slicing as Sketches.cmsBucket: row i's bucket is bits
    // [15i, 15i+15) of one 60-bit md5, reduced mod width
    // same register arithmetic as the base HLL oracle, rolled up per
    // grid day with a register-wise max over the trailing window
    "sketch_hll_rolling" -> {
      val h = Md5Long60.format("CAST(user_id AS VARCHAR)")
      val alphaNum = graft.ops.Sketches.alphaNumerator(6)
      s"""WITH days AS (
         |  SELECT CAST(unnest(generate_series(DATE '2024-01-10',
         |         DATE '2024-01-19', INTERVAL 1 DAY)) AS DATE) AS day
         |),
         |h AS (
         |  SELECT CAST(ts AS DATE) AS d, CAST(user_id AS VARCHAR) AS v,
         |         $h AS hv
         |  FROM events
         |  WHERE user_id IS NOT NULL
         |),
         |br AS (
         |  SELECT d, v, hv // 18014398509481984 AS bucket,
         |         hv % 18014398509481984 AS rm
         |  FROM h
         |),
         |rk AS (
         |  SELECT d, bucket,
         |         CASE WHEN rm = 0 THEN 55
         |              ELSE 55 - length(bin(rm)) END AS rank
         |  FROM br
         |),
         |daily AS (SELECT d, bucket, max(rank) AS maxr FROM rk GROUP BY 1, 2),
         |rolled AS (
         |  SELECT day, bucket, max(maxr) AS maxr
         |  FROM days JOIN daily ON daily.d >= day - 6 AND daily.d <= day
         |  GROUP BY 1, 2
         |),
         |agg AS (
         |  SELECT day,
         |         CAST(sum(1::BIGINT << (55 - maxr)) AS BIGINT) AS sum_present,
         |         count(*) AS n_buckets
         |  FROM rolled GROUP BY 1
         |),
         |ex AS (
         |  SELECT day, CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
         |  FROM days JOIN br ON br.d >= day - 6 AND br.d <= day
         |  GROUP BY 1
         |)
         |SELECT ex.day, ex.exact_distinct,
         |       CAST(agg.sum_present + (64 - agg.n_buckets) * (1::BIGINT << 55)
         |         AS BIGINT) AS hll_sum_scaled,
         |       CAST(64 - agg.n_buckets AS BIGINT) AS n_empty_buckets,
         |       $alphaNum / (agg.sum_present
         |           + (64 - agg.n_buckets) * (1::BIGINT << 55)) AS hll_estimate
         |FROM ex JOIN agg USING (day)
         |ORDER BY day""".stripMargin
    },

    "sketch_cms_topk" -> {
      val h = Md5Long60.format("tok")
      val candH = Md5Long60.format("c.tok")
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM toks GROUP BY 1),
         |cand AS (SELECT tok, n_exact FROM exact
         |         ORDER BY n_exact DESC, tok ASC LIMIT 20),
         |rws AS (SELECT CAST(i AS INT) AS r FROM range(0, 4) t(i)),
         |cells AS (
         |  SELECT r, (($h // (1::BIGINT << (15 * r))) & 32767) % 64 AS bucket,
         |         CAST(count(*) AS BIGINT) AS cell_n
         |  FROM toks CROSS JOIN rws GROUP BY 1, 2
         |),
         |cb AS (
         |  SELECT c.tok, c.n_exact, r.r,
         |         (($candH // (1::BIGINT << (15 * r.r))) & 32767) % 64 AS bucket
         |  FROM cand c CROSS JOIN rws r
         |)
         |SELECT cb.tok AS token, cb.n_exact,
         |       CAST(min(cells.cell_n) AS BIGINT) AS n_cms
         |FROM cb JOIN cells ON cells.r = cb.r AND cells.bucket = cb.bucket
         |GROUP BY 1, 2
         |ORDER BY n_exact DESC, token ASC""".stripMargin
    },

    "text_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(f) AS BIGINT) AS freq_sum,
        |       CAST(CAST(sum(f) AS BIGINT) AS DOUBLE) / count(*) AS mean_token_freq
        |FROM toks JOIN freq USING (tok)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // bigram LM trained on src0 with add-one smoothing; per-bigram
    // log-probs quantized to micro-nats (round-half-away in both
    // engines) so the per-doc sum is an exact integer sum
    "text_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
        |),
        |refg AS (
        |  SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
        |  FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |        FROM tok WHERE source = 'src0' AND len(ts) >= 2)
        |),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM refg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |v AS (
        |  SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t
        |        FROM documents WHERE source = 'src0')
        |),
        |docg AS (
        |  SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |        FROM tok WHERE len(ts) >= 2)
        |),
        |scored AS (
        |  SELECT d.doc_id,
        |         CAST(round(ln(CAST(coalesce(b.c12, 0) + 1 AS DOUBLE)
        |                       / CAST(coalesce(p.c1, 0) + v.v AS DOUBLE)) * 1000000, 0)
        |              AS BIGINT) AS logp_micro
        |  FROM docg d
        |  LEFT JOIN c12 b USING (w1, w2)
        |  LEFT JOIN c1 p USING (w1)
        |  CROSS JOIN v
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(logp_micro) AS BIGINT) AS sum_logp_micro,
        |       CAST(CAST(sum(logp_micro) AS BIGINT) AS DOUBLE) / count(*)
        |         AS avg_logp_micro
        |FROM scored
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // the oracle aggregates the union DIRECTLY — matching it proves the
    // engine's two-slice merge is exact
    "incremental_stats" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v,
        |       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_v,
        |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_v
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // same one-pass sufficient statistics as the engine: HUGEINT sums,
    // 128-bit→double via the VARCHAR round-trip, one division per pair
    "feature_correlations" -> {
      val cols = Seq("qty", "price_cents", "disc_pct", "tax_pct")
      val idx = cols.indices
      val sumDefs = cols.zipWithIndex.map { case (c, i) =>
        s"CAST(sum(CAST($c AS HUGEINT)) AS HUGEINT) AS s$i"
      }
      val prodDefs = for { i <- idx; j <- idx if i <= j } yield
        s"CAST(sum(CAST(${cols(i)} AS HUGEINT) * ${cols(j)}) AS HUGEINT) AS p${i}_$j"
      val pairSelects = for { i <- idx; j <- idx if i < j } yield
        s"""SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b,
           |       CAST(n AS BIGINT) AS n,
           |       CAST(CAST(n * p${i}_$j - s$i * s$j AS VARCHAR) AS DOUBLE)
           |         / (sqrt(CAST(CAST(n * p${i}_$i - s$i * s$i AS VARCHAR) AS DOUBLE))
           |            * sqrt(CAST(CAST(n * p${j}_$j - s$j * s$j AS VARCHAR) AS DOUBLE)))
           |         AS corr_r
           |FROM a
           |WHERE n * p${i}_$i - s$i * s$i > 0
           |  AND n * p${j}_$j - s$j * s$j > 0""".stripMargin
      s"""WITH b AS (
         |  SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
         |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         |         CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
         |         CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
         |  FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL
         |), a AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |         ${sumDefs.mkString(",\n         ")},
         |         ${prodDefs.mkString(",\n         ")}
         |  FROM b
         |)
         |${pairSelects.mkString("\nUNION ALL\n")}
         |ORDER BY col_a, col_b""".stripMargin
    },

    "feature_standardize" ->
      """WITH b AS (
        |  SELECT event_type, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), s AS (
        |  SELECT event_type, event_id, cents,
        |         CAST(count(*) OVER w AS HUGEINT) AS n,
        |         CAST(sum(CAST(cents AS HUGEINT)) OVER w AS HUGEINT) AS sm,
        |         CAST(sum(CAST(cents AS HUGEINT) * cents) OVER w AS HUGEINT) AS ss,
        |         min(cents) OVER w AS mn,
        |         max(cents) OVER w AS mx
        |  FROM b WINDOW w AS (PARTITION BY event_type)
        |)
        |SELECT event_type, event_id, cents,
        |       CASE WHEN n > 1 AND n * ss - sm * sm > 0 THEN
        |         CAST(CAST(cents * n - sm AS VARCHAR) AS DOUBLE)
        |           / (CAST(CAST(n AS VARCHAR) AS DOUBLE)
        |              * sqrt(CAST(CAST(n * ss - sm * sm AS VARCHAR) AS DOUBLE)
        |                     / CAST(CAST(n * (n - 1) AS VARCHAR) AS DOUBLE)))
        |       END AS z_score,
        |       CASE WHEN mx > mn THEN
        |         CAST(cents - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
        |       END AS min_max
        |FROM s
        |ORDER BY event_type, event_id""".stripMargin,

    // list slice arithmetic mirrors the engine: window i covers tokens
    // [i*24+1, i*24+32] (1-based inclusive), i in 0..(n-32)//24
    "text_chunks" ->
      """SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |       array_to_string(
        |         toks[CAST(i AS INT) * 24 + 1 : CAST(i AS INT) * 24 + 32],
        |         ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, toks, unnest(generate_series(0, (len(toks) - 32) // 24)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 32
        |)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "vocab_set_ops" ->
      """WITH voc AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE source IN ('src0', 'src1')
        |),
        |a AS (SELECT tok FROM voc WHERE source = 'src0'),
        |b AS (SELECT tok FROM voc WHERE source = 'src1')
        |SELECT 'intersect' AS op,
        |       CAST((SELECT count(*) FROM (SELECT tok FROM a INTERSECT SELECT tok FROM b)) AS BIGINT) AS n
        |UNION ALL
        |SELECT 'only_src0',
        |       CAST((SELECT count(*) FROM (SELECT tok FROM a EXCEPT SELECT tok FROM b)) AS BIGINT)
        |UNION ALL
        |SELECT 'only_src1',
        |       CAST((SELECT count(*) FROM (SELECT tok FROM b EXCEPT SELECT tok FROM a)) AS BIGINT)
        |ORDER BY op""".stripMargin
  )
}
