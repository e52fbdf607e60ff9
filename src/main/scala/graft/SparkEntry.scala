package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every registered query has an `oracleSql` twin (identical column
  * aliases — the driver sorts columns by name before hashing); since round
  * 5 there are ZERO rows-only entries. Approximate ops are oracled either
  * by exact replay (q_ann_lsh / q_ann_ivf: deterministic planes/centroids
  * inline into the SQL) or by in-engine error-bound booleans the oracle
  * expects to hold (q_percentiles_approx).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TrendQueries.edwTrend(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- trend / decay (reference edw_stream.py) ---
    "q_edw_enriched"   -> ((s, d) => TrendQueries.edwEnriched(s, d)),
    "q_edw_trend"      -> ((s, d) => TrendQueries.edwTrend(s, d)),
    "q_decayed_types"  -> ((s, d) => TrendQueries.decayedTypeTrend(s, d)),
    "q_sentiment_counts" -> ((s, d) => TrendQueries.sentimentCounts(s, d)),
    "q_json_etl"       -> ((s, d) => TrendQueries.jsonEtl(s, d)),
    "q_daily_type_counts" -> ((s, d) => TrendQueries.dailyTypeCounts(s, d)),
    // --- text (reference cms_stream.py tokenize path + text analysis) ---
    "q_keyword_freq"   -> ((s, d) => TextQueries.keywordFreq(s, d)),
    "q_top_keywords"   -> ((s, d) => TextQueries.topKeywords(s, d)),
    "q_distinct_exact" -> ((s, d) => TextQueries.distinctExact(s, d)),
    "q_token_stats"    -> ((s, d) => TextQueries.tokenStats(s, d)),
    "q_quality_scores" -> ((s, d) => TextQueries.qualityScores(s, d)),
    "q_lang_profile"   -> ((s, d) => TextQueries.langProfile(s, d)),
    "q_entities"       -> ((s, d) => TextQueries.entityCounts(s, d)),
    "q_fingerprints"   -> ((s, d) => TextQueries.fingerprints(s, d)),
    "q_dedup_exact"    -> ((s, d) => TextQueries.dedupExact(s, d)),
    // --- sketches (reference cms_stream.py / flajolent_stream.py) ---
    "q_keyword_cms"    -> ((s, d) => SketchQueries.keywordCms(s, d)),
    "q_distinct_fm"    -> ((s, d) => SketchQueries.distinctFm(s, d)),
    "q_distinct_hll"   -> ((s, d) => SketchQueries.distinctHll(s, d)),
    "q_cms_grouped"    -> ((s, d) => SketchQueries.eventTypeUserCms(s, d)),
    "q_bloom_join"     -> ((s, d) => SketchQueries.bloomJoin(s, d)),
    "q_heavy_hitters"  -> ((s, d) => SketchQueries.heavyHitters(s, d)),
    "q_kmv_overlap"    -> ((s, d) => SketchQueries.kmvOverlap(s, d)),
    "q_percentiles_approx" -> ((s, d) => AnalyticQueries.valuePercentilesApprox(s, d)),
    "q_neardup_editdist"   -> ((s, d) => SimilarityQueries.nearDupEditDistance(s, d)),
    "q_dedup_components"   -> ((s, d) => SimilarityQueries.dedupComponents(s, d)),
    "q_dedup_canonical"    -> ((s, d) => SimilarityQueries.dedupCanonical(s, d)),
    "q_dedup_profile"      -> ((s, d) => SimilarityQueries.dedupProfile(s, d)),
    "q_dedup_split"        -> ((s, d) => SimilarityQueries.dedupSplit(s, d)),
    "q_dedup_corpus"       -> ((s, d) => SimilarityQueries.dedupCorpus(s, d)),
    "q_source_dup"         -> ((s, d) => SimilarityQueries.sourceDupMatrix(s, d)),
    // --- near-dup / similarity (north-star LLM-pipeline ops) ---
    "q_jaccard_pairs"  -> ((s, d) => SimilarityQueries.jaccardPairs(s, d)),
    "q_jaccard_prefix" -> ((s, d) => SimilarityQueries.jaccardPairsPrefix(s, d)),
    "q_minhash_dedup"  -> ((s, d) => SimilarityQueries.minhashDedup(s, d)),
    "q_simhash_pairs"  -> ((s, d) => SimilarityQueries.simhashPairs(s, d)),
    "q_knn_cosine"     -> ((s, d) => SimilarityQueries.knnCosine(s, d)),
    "q_ann_lsh"        -> ((s, d) => SimilarityQueries.annLsh(s, d)),
    // _smalltier: the uncapped exact metric join is scoped BY NAME to the
    // ≤sf1 tiers where its O(n²) isotropic floor is affordable — it is the
    // oracle ground-truth twin of q_embed_dup_capped (equal output when no
    // cell overflows the probe budget, proven in EmbedDupCappedSpec); the
    // capped join is the registered 100-TB path
    "q_embed_dup_smalltier" -> ((s, d) => SimilarityQueries.embedDupPairs(s, d)),
    "q_embed_dup_capped" -> ((s, d) => SimilarityQueries.embedDupCapped(s, d)),
    "q_ann_ivf"        -> ((s, d) => SimilarityQueries.annIvf(s, d)),
    "q_silhouette"     -> ((s, d) => SimilarityQueries.silhouette(s, d)),
    "q_db_index"       -> ((s, d) => SimilarityQueries.dbIndex(s, d)),
    "q_pq_codebooks"   -> ((s, d) => SimilarityQueries.pqCodebooks(s, d)),
    "q_pq_codes"       -> ((s, d) => SimilarityQueries.pqCodes(s, d)),
    "q_ann_pq"         -> ((s, d) => SimilarityQueries.annPq(s, d)),
    "q_ivfpq_codes"    -> ((s, d) => SimilarityQueries.ivfPqCodes(s, d)),
    "q_ann_ivfpq"      -> ((s, d) => SimilarityQueries.annIvfPq(s, d)),
    "q_opq_assign"     -> ((s, d) => SimilarityQueries.opqAssign(s, d)),
    "q_opq_codebooks"  -> ((s, d) => SimilarityQueries.opqCodebooks(s, d)),
    "q_opq_gain"       -> ((s, d) => SimilarityQueries.opqGain(s, d)),
    "q_label_centroids" -> ((s, d) => SimilarityQueries.labelCentroids(s, d)),
    "q_kmeans_centroids" -> ((s, d) => SimilarityQueries.kmeansProfile(s, d)),
    "q_subword_stats"  -> ((s, d) => TextQueries.subwordStats(s, d)),
    // --- training-data pipeline ops (split/scrub/quality/ngram/tfidf) ---
    "q_hash_split"     -> ((s, d) => PipelineQueries.hashSplit(s, d)),
    "q_pii_scrub"      -> ((s, d) => PipelineQueries.piiScrub(s, d)),
    "q_gopher_quality" -> ((s, d) => PipelineQueries.gopherQuality(s, d)),
    "q_stratified_sample" -> ((s, d) => PipelineQueries.stratifiedSample(s, d)),
    "q_bigram_counts"  -> ((s, d) => PipelineQueries.bigramCounts(s, d)),
    "q_tfidf_top"      -> ((s, d) => PipelineQueries.tfidfTop(s, d)),
    "q_domain_stats"   -> ((s, d) => PipelineQueries.domainStats(s, d)),
    "q_token_shards"   -> ((s, d) => PipelineQueries.tokenShards(s, d)),
    // --- multimodal binary-column plumbing (stub decode, real pipeline) ---
    "q_media_meta"     -> ((s, d) => MultimodalQueries.mediaMeta(s, d)),
    "q_media_features" -> ((s, d) => MultimodalQueries.mediaFeatures(s, d)),
    "q_media_pixels"   -> ((s, d) => MultimodalQueries.mediaPixels(s, d)),
    "q_media_resize"   -> ((s, d) => MultimodalQueries.mediaResize(s, d)),
    "q_media_reencode" -> ((s, d) => MultimodalQueries.mediaReencode(s, d)),
    "q_media_frames"   -> ((s, d) => MultimodalQueries.mediaFrames(s, d)),
    "q_media_audio"    -> ((s, d) => MultimodalQueries.mediaAudio(s, d)),
    "q_media_video"    -> ((s, d) => MultimodalQueries.mediaVideo(s, d)),
    "q_value_histogram" -> ((s, d) => AnalyticQueries.valueHistogram(s, d)),
    "q_daily_full_outer" -> ((s, d) => AnalyticQueries.dailyPurchaseVsError(s, d)),
    // --- relational breadth ---
    "q_pricing_summary" -> ((s, d) => RelationalQueries.pricingSummary(s, d)),
    "q_pricing_exact"   -> ((s, d) => RelationalQueries.pricingSummaryExact(s, d)),
    "q_top_orders"      -> ((s, d) => RelationalQueries.topRevenueOrders(s, d)),
    "q_revenue_by_nation" -> ((s, d) => RelationalQueries.revenueByNation(s, d)),
    "q_window_topk"     -> ((s, d) => RelationalQueries.topItemsPerFlag(s, d)),
    "q_setop_engaged"   -> ((s, d) => RelationalQueries.engagedUsers(s, d)),
    "q_semi_urgent"     -> ((s, d) => RelationalQueries.customersWithUrgentOrders(s, d)),
    "q_orders_rollup"   -> ((s, d) => RelationalQueries.ordersRollup(s, d)),
    "q_asof_join"       -> ((s, d) => RelationalQueries.asofJoin(s, d)),
    "q_range_join"      -> ((s, d) => RelationalQueries.rangeJoin(s, d)),
    "q_distinct_by_type" -> ((s, d) => RelationalQueries.distinctUsersByType(s, d)),
    // --- engine-added analytics (sessions, windows, stats) ---
    "q_burst_zscore"    -> ((s, d) => TrendQueries.burstZscore(s, d)),
    "q_burst_kleinberg" -> ((s, d) => TrendQueries.kleinbergBursts(s, d)),
    "q_cusum_change"    -> ((s, d) => TrendQueries.cusumChange(s, d)),
    "q_mad_outliers"    -> ((s, d) => AnalyticQueries.madOutliers(s, d)),
    "q_rolling_corr"    -> ((s, d) => AnalyticQueries.rollingCorr(s, d)),
    "q_rank_movers"     -> ((s, d) => TrendQueries.rankMovers(s, d)),
    "q_holt_trend"      -> ((s, d) => TrendQueries.holtTrend(s, d)),
    "q_hw_seasonal"     -> ((s, d) => TrendQueries.holtWinters(s, d)),
    "q_lr_calibration"  -> ((s, d) => PipelineQueries.lrCalibration(s, d)),
    "q_lr_auc"          -> ((s, d) => PipelineQueries.lrAuc(s, d)),
    "q_pr_curve"        -> ((s, d) => PipelineQueries.prCurve(s, d)),
    "q_quality_topk"    -> ((s, d) => PipelineQueries.qualityTopK(s, d)),
    "q_ewma_smooth"     -> ((s, d) => TrendQueries.ewmaSmooth(s, d)),
    "q_chunk_profile"   -> ((s, d) => CorpusQueries.chunkProfile(s, d)),
    "q_chunk_dedup"     -> ((s, d) => CorpusQueries.chunkDedup(s, d)),
    "q_session_windows" -> ((s, d) => AnalyticQueries.sessionWindows(s, d)),
    "q_sliding_trend"   -> ((s, d) => AnalyticQueries.slidingTrend(s, d)),
    "q_running_user"    -> ((s, d) => AnalyticQueries.runningUser(s, d)),
    "q_percentiles"     -> ((s, d) => AnalyticQueries.valuePercentiles(s, d)),
    "q_pivot_daily"     -> ((s, d) => AnalyticQueries.pivotDaily(s, d)),
    "q_anti_nourgent"   -> ((s, d) => AnalyticQueries.customersWithoutUrgent(s, d)),
    "q_orders_cube"     -> ((s, d) => AnalyticQueries.ordersCube(s, d)),
    "q_value_stats"     -> ((s, d) => AnalyticQueries.valueStats(s, d)),
    "q_window_suite"    -> ((s, d) => AnalyticQueries.windowSuite(s, d)),
    "q_grouping_sets"   -> ((s, d) => AnalyticQueries.ordersGroupingSets(s, d)),
    "q_weighted_sample" -> ((s, d) => PipelineQueries.weightedSample(s, d)),
    "q_mix_sample"      -> ((s, d) => PipelineQueries.mixSample(s, d)),
    "q_corpus_final"    -> ((s, d) => PipelineQueries.corpusFinal(s, d)),
    "q_rolling_fp"      -> ((s, d) => TextQueries.rollingFingerprints(s, d)),
    "q_unpivot_daily"   -> ((s, d) => AnalyticQueries.unpivotDaily(s, d)),
    "q_dow_profile"     -> ((s, d) => AnalyticQueries.dowProfile(s, d)),
    "q_token_positions" -> ((s, d) => TextQueries.tokenPositions(s, d)),
    "q_winnow_fp"       -> ((s, d) => TextQueries.winnowFingerprints(s, d)),
    // --- round-3 additions: RAG chunking, decontamination, collocations,
    // --- dataset card, SemDeDup, skew-salted join ---
    "q_chunk_windows"  -> ((s, d) => TextQueries.chunkWindows(s, d)),
    "q_contamination"  -> ((s, d) => PipelineQueries.contamination(s, d)),
    "q_pmi_bigrams"    -> ((s, d) => PipelineQueries.pmiBigrams(s, d)),
    "q_corpus_card"    -> ((s, d) => PipelineQueries.corpusCard(s, d)),
    "q_semantic_dedup" -> ((s, d) => SimilarityQueries.semanticDedup(s, d)),
    "q_salted_join"    -> ((s, d) => RelationalQueries.saltedJoin(s, d)),
    "q_zorder_stats"   -> ((s, d) => RelationalQueries.zorderStats(s, d)),
    // --- round-4 additions: substring-level dedup, repetition profile,
    // --- unigram-LM scoring, per-stratum quantile gate, skip-grams,
    // --- deterministic HLL, int8 embedding quant, bucketed join ---
    "q_dup_ngrams"      -> ((s, d) => CorpusQueries.dupNgrams(s, d)),
    "q_rep_profile"     -> ((s, d) => CorpusQueries.repProfile(s, d)),
    "q_unigram_lm"      -> ((s, d) => CorpusQueries.unigramSurprisal(s, d)),
    "q_quantile_filter" -> ((s, d) => CorpusQueries.quantileFilter(s, d)),
    "q_skipgrams"       -> ((s, d) => CorpusQueries.skipgramPairs(s, d)),
    "q_embed_quant"     -> ((s, d) => CorpusQueries.embedQuant(s, d)),
    "q_bucketed_join"   -> ((s, d) => RelationalQueries.bucketedJoin(s, d)),
    // --- round-5 additions: CCNet perplexity tertiles, DSIR importance,
    // --- BM25 + RRF retrieval, mixture weights, embedding z-score/Gram ---
    "q_ccnet_buckets"   -> ((s, d) => CorpusQueries.ccnetBuckets(s, d)),
    "q_dsir_weights"    -> ((s, d) => CorpusQueries.dsirWeights(s, d)),
    "q_bm25_top"        -> ((s, d) => RetrievalQueries.bm25Top(s, d)),
    "q_rrf_fusion"      -> ((s, d) => RetrievalQueries.rrfFusion(s, d)),
    "q_mix_weights"     -> ((s, d) => PipelineQueries.mixWeights(s, d)),
    "q_embed_norm"      -> ((s, d) => CorpusQueries.embedNorm(s, d)),
    "q_embed_gram"      -> ((s, d) => CorpusQueries.embedGram(s, d)),
    // --- incremental-ingest dedup, corpus diversity/overlap profiles,
    // --- model-based (LR) quality filter ---
    "q_dedup_incr"      -> ((s, d) => SimilarityQueries.incrementalDedup(s, d)),
    "q_ngram_diversity" -> ((s, d) => CorpusQueries.ngramDiversity(s, d)),
    "q_source_overlap"  -> ((s, d) => CorpusQueries.sourceOverlap(s, d)),
    "q_bpe_pairs"       -> ((s, d) => CorpusQueries.bpePairs(s, d)),
    "q_bpe_train"       -> ((s, d) => CorpusQueries.bpeTrain(s, d)),
    "q_bpe_vocab"       -> ((s, d) => CorpusQueries.bpeVocab(s, d)),
    "q_bpe_encode"      -> ((s, d) => CorpusQueries.bpeEncode(s, d)),
    "q_unigram_tok"     -> ((s, d) => CorpusQueries.unigramTok(s, d)),
    "q_nmf_topics"      -> ((s, d) => CorpusQueries.nmfTopics(s, d)),
    "q_textrank"        -> ((s, d) => TextQueries.textrank(s, d)),
    "q_quality_lr"      -> ((s, d) => PipelineQueries.qualityLr(s, d)),
    "q_source_entropy"  -> ((s, d) => CorpusQueries.sourceEntropy(s, d)),
    "q_source_kl"       -> ((s, d) => CorpusQueries.sourceKl(s, d)),
    "q_zipf_profile"    -> ((s, d) => CorpusQueries.zipfProfile(s, d)),
    "q_heaps_law"       -> ((s, d) => CorpusQueries.heapsLaw(s, d)),
    "q_ppmi_svd"        -> ((s, d) => CorpusQueries.ppmiSvd(s, d)),
    "q_glove_embed"     -> ((s, d) => CorpusQueries.gloveEmbed(s, d)),
    // --- round-6 additions: SCD2 interval compaction, KS drift monitor,
    // --- weighted PageRank, power-iteration PCA, interpolated bigram LM ---
    "q_scd2_intervals"  -> ((s, d) => AnalyticQueries.scd2Intervals(s, d)),
    "q_ks_drift"        -> ((s, d) => AnalyticQueries.ksDrift(s, d)),
    "q_pagerank"        -> ((s, d) => GraphQueries.pagerank(s, d)),
    "q_embed_pca"       -> ((s, d) => CorpusQueries.embedPca(s, d)),
    "q_bigram_lm"       -> ((s, d) => CorpusQueries.bigramLm(s, d)),
    "q_kn_bigram"       -> ((s, d) => CorpusQueries.knBigram(s, d)),
    "q_pack_sequences"  -> ((s, d) => PipelineQueries.packSequences(s, d)),
    "q_psi_drift"       -> ((s, d) => AnalyticQueries.psiDrift(s, d)),
    "q_gini_users"      -> ((s, d) => AnalyticQueries.giniUsers(s, d)),
    "q_funnel"          -> ((s, d) => AnalyticQueries.funnel(s, d)),
    "q_event_transitions" -> ((s, d) => AnalyticQueries.eventTransitions(s, d)),
    "q_cohort_retention" -> ((s, d) => AnalyticQueries.cohortRetention(s, d)),
    "q_hits"            -> ((s, d) => GraphQueries.hits(s, d)),
    "q_triangles"       -> ((s, d) => GraphQueries.triangles(s, d)),
    "q_assoc_rules"     -> ((s, d) => AnalyticQueries.assocRules(s, d)),
    // --- round-9 additions: maximal duplicate spans, k-core decomposition,
    // --- JL sign projection + distortion audit ---
    "q_dup_spans"       -> ((s, d) => CorpusQueries.dupSpans(s, d)),
    "q_span_scrub"      -> ((s, d) => CorpusQueries.spanScrub(s, d)),
    "q_kcore"           -> ((s, d) => GraphQueries.coreness(s, d)),
    "q_label_prop"      -> ((s, d) => GraphQueries.labelProp(s, d)),
    "q_rand_proj"       -> ((s, d) => CorpusQueries.randProj(s, d)),
    "q_jl_audit"        -> ((s, d) => CorpusQueries.jlAudit(s, d)),
    "q_snm_pairs"       -> ((s, d) => SimilarityQueries.snmPairs(s, d)),
    // --- round-10: variable-length exact-substring spans via suffix
    // --- adjacency (Lee et al. 2022 §4's actual construction) ---
    "q_suffix_spans"    -> ((s, d) => CorpusQueries.suffixSpans(s, d)),
    "q_suffix_scrub"    -> ((s, d) => CorpusQueries.suffixScrub(s, d)),
    // --- round-11: chain steady state, independence/AB tests, takedown
    // --- cascade, MMR diversified retrieval ---
    "q_markov_steady"   -> ((s, d) => AnalyticQueries.markovSteady(s, d)),
    "q_chi2_assoc"      -> ((s, d) => AnalyticQueries.chi2Assoc(s, d)),
    "q_welch_ttest"     -> ((s, d) => AnalyticQueries.welchTTest(s, d)),
    "q_takedown"        -> ((s, d) => TextQueries.takedownScrub(s, d)),
    "q_mmr_rerank"      -> ((s, d) => SimilarityQueries.mmrRerank(s, d)),
    "q_wordpiece_encode" -> ((s, d) => CorpusQueries.wordpieceEncode(s, d)),
    "q_rnn_pairs"       -> ((s, d) => SimilarityQueries.rnnPairs(s, d)),
  )

  /** Decay expression shared by the EDW oracles (DuckDB `epoch()` returns
    * fractional seconds — bit-identical to Spark's timestamp→double cast). */
  private val W = "exp(-0.1 * (epoch(as_of) - epoch(ts)) / 86400.0)"
  private val S = "(CASE WHEN event_type = 'purchase' THEN 1.0 WHEN event_type = 'error' THEN -1.0 ELSE 0.0 END)"

  /** Okapi BM25 scores for [[graft.queries.RetrievalQueries.QueryTerms]]
    * (CTE body `bm`: doc_id, 6-dp bm25) — shared by the q_bm25_top and
    * q_rrf_fusion oracles. Literal subexpressions are deliberately left
    * unfolded ((1.2 + 1.0), (1.0 - 0.75)) so both engines perform the same
    * IEEE ops the Scala side's lit(K1 + 1.0)/lit(1.0 - B) perform. */
  private val Bm25Cte =
    """WITH dl AS (SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS DOUBLE) AS dl
         FROM documents),
       st AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
       tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
           FROM documents)
         WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2),
       dfc AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       bm AS (SELECT doc_id, round(sum(
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))), 6) AS bm25
         FROM tf JOIN dfc USING (w) JOIN dl USING (doc_id) CROSS JOIN st
         GROUP BY 1)"""

  /** Exact 3-shingle Jaccard pairs at threshold 0.8 (CTE body `jp`) —
    * shared by the inverted-index, prefix-filtered, MinHash-LSH, and
    * edit-distance oracles. Multi-referenced CTEs over corpus-sized frames
    * carry MATERIALIZED (r9): DuckDB otherwise inlines each reference and
    * recomputes the shingle explosion per use — at the ScaleUp tiers that
    * recompute is the difference between seconds and an OOM-killed check. */
  private val JaccardCte =
    """WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       shing AS MATERIALIZED (SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
             i -> array_to_string(t[i:i+2], ' ')))) AS s
         FROM toks),
       cnt AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1),
       common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         FROM shing a JOIN shing b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       jp AS MATERIALIZED (SELECT doc_a, doc_b, round(c*1.0/(x.n + y.n - c), 6) AS jaccard
         FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
         WHERE c*1.0/(x.n + y.n - c) >= 0.8)"""

  private val JaccardOracle =
    JaccardCte + " SELECT doc_a, doc_b, jaccard FROM jp ORDER BY doc_a, doc_b"

  /** The distributed k-means quantizer's two Lloyd rounds unrolled as CTEs
    * (seeds = lowest vec_ids; argmax-cosine assignment, tie → lowest cid;
    * 6-dp mean grid; empty cells keep their previous centroid), generic in
    * the seed-count expression — `"16"` for the fixed-k consumers
    * (q_kmeans_centroids), a count-derived scalar subquery for
    * q_semantic_dedup's scaled k. */
  private def kmeansCteBody(kExpr: String) =
    // tier-budget note (r12): the assignment windows rank SLIM
    // (vec_id, cid, ccos) rows and re-join the 64-dim vectors by key
    // afterwards — carrying v through a per-vector row_number sort made
    // the window input ~600 B/row (a 37 GB DuckDB spill at the 5M-vector
    // tier, the "48 GB budget" of SURVEY 6.5); the ranked values and the
    // joined-back vectors are identical, so every downstream bit matches
    s"""emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS vn
           FROM embeddings),
         c0 AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < $kExpr),
         a1 AS (SELECT e.vec_id, c.cid,
             list_dot_product(e.v, c.cv) / (e.vn * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
           FROM emb e CROSS JOIN c0 c),
         s1 AS (SELECT w.vec_id, e.v, w.cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
             FROM a1) w JOIN emb e ON e.vec_id = w.vec_id WHERE w.rn = 1),
         m1 AS (SELECT cid, i, round(avg(v[i]), 6) AS m
           FROM s1, range(1, 65) t(i) GROUP BY 1, 2),
         c1 AS (SELECT c0.cid, coalesce(n1.cv, c0.cv) AS cv FROM c0
           LEFT JOIN (SELECT cid, list(m ORDER BY i) AS cv FROM m1 GROUP BY 1) n1
           USING (cid)),
         a2 AS (SELECT e.vec_id, c.cid,
             list_dot_product(e.v, c.cv) / (e.vn * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
           FROM emb e CROSS JOIN c1 c),
         s2 AS (SELECT w.vec_id, e.v, w.cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
             FROM a2) w JOIN emb e ON e.vec_id = w.vec_id WHERE w.rn = 1),
         m2 AS (SELECT cid, i, round(avg(v[i]), 6) AS m
           FROM s2, range(1, 65) t(i) GROUP BY 1, 2),
         c2 AS (SELECT c1.cid, coalesce(n2.cv, c1.cv) AS cv FROM c1
           LEFT JOIN (SELECT cid, list(m ORDER BY i) AS cv FROM m2 GROUP BY 1) n2
           USING (cid))"""

  private val KmeansCte = "WITH " + kmeansCteBody("16")

  /** [[KmeansCte]] plus `cd`, every (vector, centroid) chord distance
    * √(2−2·cos) whose cosine is not null — as in the engine, a zero-norm
    * side has no distance (greatest would make it 0). */
  private val ChordCte = KmeansCte + raw""",
         cd AS (SELECT vec_id, cid, sqrt(greatest(0.0, 2.0 - 2.0 * ccos)) AS cdist
           FROM (SELECT e.vec_id, c.cid, list_dot_product(e.v, c.cv)
               / (e.vn * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
             FROM emb e CROSS JOIN c2 c)
           WHERE ccos IS NOT NULL)"""

  /** q_semantic_dedup's scaled-k variant: k = max(16, ceil(n / target)),
    * the same pure function of count(*) [[SimilarityQueries.semDedupK]]
    * computes engine-side, so both fits replay identically. */
  private val SemKmeansCte =
    s"""WITH semk AS (SELECT greatest(16, CAST(ceil(count(*) /
           ${SimilarityQueries.SemDedupCellTarget}.0) AS BIGINT)) AS k
         FROM embeddings),
       """ + kmeansCteBody("(SELECT k FROM semk)")

  /** Shared WITH-prefix of the PQ oracle family — the DuckDB replay of
    * [[graft.queries.SimilarityQueries.pqFit]]: the embedding frame,
    * all four sub-codebook fits (two L2 Lloyd rounds each from
    * lowest-vec_id seeds; argmin-d² assignment with tie → lowest cid;
    * 6-dp mean grid; empty cells keep their previous centroid) and the
    * final full-catalog code assignment per subspace. d² =
    * (‖v‖² − 2·v·c) + ‖c‖² with every dot a sequential fold matching the
    * engine's codegen association, so centroids AND codes replay
    * bit-for-bit. */
  /** The four per-subspace L2 PQ fits + final code assignment as CTEs,
    * sourced from any (vec_id, v DOUBLE[64]) CTE — shared by the plain-PQ
    * and the IVFADC-residual oracles (each is a separate statement, so
    * the generated names do not collide). `pfx` prefixes every generated
    * CTE name so two fit families can coexist in ONE statement (the OPQ
    * gain oracle replays the contiguous AND the permuted fit side by
    * side); `subvecOverride(j)` replaces the default contiguous-slice
    * e-CTE body with an arbitrary (vec_id, sv, vn2) projection — the OPQ
    * oracle supplies the permuted slice. */
  private def pqSubFitCtes(src: String, pfx: String = "",
      subvecOverride: Int => Option[String] = _ => None): String = {
    // each subspace needs rounds 1..2 for the fit plus a round-3
    // assignment (x/s only) against the final codebook k*_2
    def sub(j: Int): String = {
      val lo = j * SimilarityQueries.PqSubDim + 1
      val hi = (j + 1) * SimilarityQueries.PqSubDim
      val eBody = subvecOverride(j).getOrElse(
        s"""SELECT vec_id, v[$lo:$hi] AS sv,
             list_dot_product(v[$lo:$hi], v[$lo:$hi]) AS vn2 FROM $src""")
      def lloyd(r: Int, prev: String): String =
        s"""${pfx}x${j}_$r AS (SELECT e.vec_id, e.sv, c.cid,
               (e.vn2 - 2*list_dot_product(e.sv, c.cv)) + list_dot_product(c.cv, c.cv) AS d2
             FROM ${pfx}e${j}n e CROSS JOIN $prev c),
           ${pfx}s${j}_$r AS (SELECT vec_id, sv, cid, d2 FROM (
               SELECT vec_id, sv, cid, d2,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
               FROM ${pfx}x${j}_$r) WHERE rn = 1),
           ${pfx}m${j}_$r AS (SELECT cid, i, round(avg(sv[i]), 6) AS m
             FROM ${pfx}s${j}_$r, range(1, ${SimilarityQueries.PqSubDim + 1}) t(i) GROUP BY 1, 2),
           ${pfx}k${j}_$r AS (SELECT k.cid, coalesce(n.cv, k.cv) AS cv FROM $prev k
             LEFT JOIN (SELECT cid, list(m ORDER BY i) AS cv FROM ${pfx}m${j}_$r GROUP BY 1) n
             USING (cid))"""
      s"""${pfx}e${j}n AS MATERIALIZED ($eBody),
         ${pfx}k${j}_0 AS (SELECT vec_id AS cid, sv AS cv FROM ${pfx}e${j}n
             WHERE vec_id < ${SimilarityQueries.PqK}),
         ${lloyd(1, s"${pfx}k${j}_0")},
         ${lloyd(2, s"${pfx}k${j}_1")},
         ${pfx}x${j}_3 AS (SELECT e.vec_id, c.cid,
             (e.vn2 - 2*list_dot_product(e.sv, c.cv)) + list_dot_product(c.cv, c.cv) AS d2
           FROM ${pfx}e${j}n e CROSS JOIN ${pfx}k${j}_2 c),
         ${pfx}f$j AS (SELECT vec_id, $j AS sub, cid AS code, d2 FROM (
             SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
             FROM ${pfx}x${j}_3) WHERE rn = 1)"""
    }
    (0 until SimilarityQueries.PqSub).map(sub).mkString(",\n       ") +
      s""",
       ${pfx}pqcb AS (${(0 until SimilarityQueries.PqSub)
        .map(j => s"SELECT $j AS sub, cid, cv FROM ${pfx}k${j}_2")
        .mkString(" UNION ALL ")}),
       ${pfx}pqcodes AS (${(0 until SimilarityQueries.PqSub)
        .map(j => s"SELECT * FROM ${pfx}f$j").mkString(" UNION ALL ")})"""
  }

  private val PqCte: String =
    """WITH pqemb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
       """ + pqSubFitCtes("pqemb")

  /** The OPQ allocation replay ([[graft.queries.SimilarityQueries
    * .opqAllocate]]): per-dimension 6-dp DECIMAL variance, the (variance
    * DESC, dim) order, and all 64 greedy steps — deal each dimension to
    * the unfilled subspace with the smallest running DECIMAL sum, tie →
    * lowest subspace — unrolled as ONE recursive CTE whose accumulator
    * carries the running sums, fill counts and pick list. Every
    * comparison is exact decimal/int arithmetic, so the replayed
    * permutation matches the engine's bit-for-bit. */
  private val OpqAllocCte: String = {
    val nSub = SimilarityQueries.PqSub
    val cap = SimilarityQueries.PqSubDim
    val zeros = Seq.fill(nSub)("CAST(0 AS DECIMAL(28,6))").mkString(", ")
    s"""WITH RECURSIVE pqemb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
       ovars AS (SELECT i AS dim,
           CAST(round(avg(v[i]*v[i]) - avg(v[i])*avg(v[i]), 6) AS DECIMAL(18,6)) AS vr
         FROM pqemb, range(1, 65) t(i) GROUP BY 1),
       osort AS (SELECT dim, vr,
           row_number() OVER (ORDER BY vr DESC, dim) AS rn FROM ovars),
       oalloc(rn, sums, counts, subs) AS (
         SELECT CAST(0 AS BIGINT), [$zeros], [${Seq.fill(nSub)("0").mkString(", ")}],
           CAST([] AS BIGINT[])
         UNION ALL
         SELECT t.rn,
           list_transform(range(1, ${nSub + 1}), j ->
             CAST(CASE WHEN j = t.pick THEN t.sums[j] + t.vr
                       ELSE t.sums[j] END AS DECIMAL(28,6))),
           list_transform(range(1, ${nSub + 1}), j ->
             CAST(CASE WHEN j = t.pick THEN t.counts[j] + 1
                       ELSE t.counts[j] END AS INT)),
           list_append(t.subs, t.pick)
         FROM (
           SELECT s.rn, s.vr, a.sums, a.counts, a.subs,
             list_min(list_filter(
               list_filter(range(1, ${nSub + 1}), j -> a.counts[j] < $cap),
               j -> a.sums[j] = list_min(list_transform(
                 list_filter(range(1, ${nSub + 1}), jj -> a.counts[jj] < $cap),
                 jj -> a.sums[jj])))) AS pick
           FROM oalloc a JOIN osort s ON s.rn = a.rn + 1
         ) t
       ),
       oassign AS (SELECT s.dim, s.vr, CAST(f.subs[s.rn] - 1 AS INT) AS sub
         FROM osort s CROSS JOIN (SELECT subs FROM oalloc WHERE rn = 64) f(subs)),
       operm AS (SELECT sub, list(dim ORDER BY dim) AS dims
         FROM oassign GROUP BY 1)"""
  }

  /** Allocation + the four PERMUTED-slice sub-fits (CTE names prefixed
    * `o`): each subspace's e-CTE projects its allocated dimensions in
    * ascending order via the operm lists — the oracle half of
    * [[graft.queries.SimilarityQueries.opqFit]]. */
  private val OpqCte: String = OpqAllocCte + ",\n       " +
    pqSubFitCtes("pqemb", pfx = "o", subvecOverride = j => Some(
      s"""SELECT vec_id, sv, list_dot_product(sv, sv) AS vn2 FROM (
            SELECT vec_id, list_transform(p.dims, k -> v[k]) AS sv
            FROM pqemb CROSS JOIN (SELECT dims FROM operm WHERE sub = $j) p(dims))"""))

  /** Both fit families in one statement for the head-to-head error face:
    * the contiguous split (unprefixed names) and the permuted one. */
  private val OpqGainCte: String = OpqCte + ",\n       " + pqSubFitCtes("pqemb")

  /** The IVFADC oracle's WITH-prefix: the 16-cell coarse L2 k-means over
    * the full 64-dim space (two unrolled Lloyd rounds + final
    * assignment), the per-vector residuals v − c(v), and the four
    * residual PQ sub-fits via [[pqSubFitCtes]] — the full replay of
    * [[graft.queries.SimilarityQueries.ivfPqFit]]. */
  private val IvfPqCte: String = {
    def lloyd(r: Int, prev: String): String =
      s"""gx_$r AS (SELECT e.vec_id, e.v, c.cid,
             (e.vn2 - 2*list_dot_product(e.v, c.cv)) + list_dot_product(c.cv, c.cv) AS d2
           FROM emb64 e CROSS JOIN $prev c),
         gs_$r AS (SELECT vec_id, v, cid, d2 FROM (
             SELECT vec_id, v, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
             FROM gx_$r) WHERE rn = 1),
         gm_$r AS (SELECT cid, i, round(avg(v[i]), 6) AS m
           FROM gs_$r, range(1, 65) t(i) GROUP BY 1, 2),
         g_$r AS (SELECT k.cid, coalesce(n.cv, k.cv) AS cv FROM $prev k
           LEFT JOIN (SELECT cid, list(m ORDER BY i) AS cv FROM gm_$r GROUP BY 1) n
           USING (cid))"""
    s"""WITH pqemb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
       emb64 AS (SELECT vec_id, v, list_dot_product(v, v) AS vn2 FROM pqemb),
       g_0 AS (SELECT vec_id AS cid, v AS cv FROM emb64
           WHERE vec_id < ${SimilarityQueries.PqK}),
       ${lloyd(1, "g_0")},
       ${lloyd(2, "g_1")},
       gx_3 AS (SELECT e.vec_id, e.v, c.cid,
           (e.vn2 - 2*list_dot_product(e.v, c.cv)) + list_dot_product(c.cv, c.cv) AS d2
         FROM emb64 e CROSS JOIN g_2 c),
       fa AS (SELECT vec_id, v, cid AS ccid FROM (
           SELECT vec_id, v, cid, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           FROM gx_3) WHERE rn = 1),
       resid AS MATERIALIZED (SELECT a.vec_id, a.ccid,
           list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS v
         FROM fa a JOIN g_2 c ON a.ccid = c.cid),
       ${pqSubFitCtes("resid")}"""
  }

  /** The iterative BPE trainer's [[graft.queries.CorpusQueries.BpeMerges]]
    * greedy rounds unrolled as CTEs — per round: overlapping adjacent-pair
    * counts over the current segmentation (weighted by word frequency),
    * argmax with (n DESC, pair) tiebreak, and the same left-to-right
    * non-overlapping `replace` re-segmentation the engine runs. Both
    * engines share the bracket-wrapped symbol representation, so every
    * merge, count and intermediate vocabulary matches exactly. */
  private val BpeCte: String = {
    val rounds = (1 to CorpusQueries.BpeMerges).map { k =>
      s"""p$k AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
             SELECT f, unnest(list_transform(range(1, len(sy)),
               i -> '<' || sy[i] || '><' || sy[i+1] || '>')) AS pair
             FROM (SELECT f, string_split(seg[2:length(seg)-1], '><') AS sy
                   FROM v${k - 1}))
           GROUP BY 1),
         b$k AS (SELECT pair, replace(pair, '><', '') AS merged, n
             FROM p$k ORDER BY n DESC, pair LIMIT 1),
         v$k AS (SELECT v.word, replace(v.seg, b.pair, b.merged) AS seg, v.f
             FROM v${k - 1} v CROSS JOIN b$k b)"""
    }.mkString(",\n       ")
    raw"""WITH words AS MATERIALIZED (SELECT w AS word, count(*) AS f
           FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                   q -> length(q) > 0)) AS w FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
         v0 AS MATERIALIZED (SELECT word, concat('<',
             array_to_string(list_transform(range(1, length(word) + 1),
               i -> word[i]), '><'), '>') AS seg, f
           FROM words),
       $rounds"""
  }

  private val BpeTrainOracle: String = {
    val union = (1 to CorpusQueries.BpeMerges)
      .map(k => s"SELECT $k AS it, pair, merged, n FROM b$k")
      .mkString(" UNION ALL ")
    s"""$BpeCte
       SELECT it, pair, merged, n FROM ($union) ORDER BY it"""
  }

  private val BpeVocabOracle: String =
    s"""$BpeCte
       SELECT word, f, seg,
         CAST(len(string_split(seg[2:length(seg)-1], '><')) AS INTEGER) AS n_symbols
       FROM v${CorpusQueries.BpeMerges}
       ORDER BY f DESC, word LIMIT 50"""

  /** Corpus encode with the trained merges: per-doc word/OOV/subword
    * counts off the final segmentation CTE, fertility half-up in integer
    * micro-units (the q_bigram_lm idiom — never a double divide). */
  private val BpeEncodeOracle: String =
    s"""$BpeCte,
       segn AS (SELECT word,
           CAST(len(string_split(seg[2:length(seg)-1], '><')) AS BIGINT) AS n_sub
         FROM v${CorpusQueries.BpeMerges}),
       dw AS (SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
             q -> length(q) > 0)) AS word
         FROM documents),
       enc AS (SELECT d.doc_id,
           regexp_matches(d.word, '^[a-z]+$$') AS alpha, s.n_sub
         FROM dw d LEFT JOIN segn s USING (word)),
       agg AS (SELECT doc_id,
           CAST(sum(CASE WHEN alpha THEN 1 ELSE 0 END) AS BIGINT) AS w,
           CAST(sum(CASE WHEN NOT alpha THEN 1 ELSE 0 END) AS BIGINT) AS o,
           CAST(coalesce(sum(CASE WHEN alpha THEN n_sub END), 0) AS BIGINT) AS s
         FROM enc GROUP BY 1)
       SELECT d.doc_id,
         CAST(coalesce(a.w, 0) AS BIGINT) AS n_words,
         CAST(coalesce(a.o, 0) AS BIGINT) AS n_oov,
         CAST(coalesce(a.s, 0) AS BIGINT) AS n_subwords,
         CASE WHEN coalesce(a.w, 0) > 0
           THEN CAST((2 * 1000000 * a.s + a.w) // (2 * a.w) AS DOUBLE) / 1000000.0
         END AS fertility
       FROM documents d LEFT JOIN agg a USING (doc_id)
       ORDER BY d.doc_id"""

  /** WordPiece oracle: symbol inventory = corpus character set ∪ the
    * [[BpeCte]] merge symbols; the greedy longest-match walk is a
    * recursive CTE (one row per un-consumed word per step, the longest
    * vocabulary prefix via a correlated argmax, whole-word `[UNK]` on a
    * matchless position); the doc face re-joins the per-word piece lists
    * in token order and mirrors the engine's md5 stream + micro-unit
    * fertility exactly. */
  private val WordPieceOracle: String = {
    val mergeUnion = (1 to CorpusQueries.BpeMerges)
      .map(k => s"SELECT merged[2:length(merged)-1] AS sym FROM b$k")
      .mkString(" UNION ")
    raw"""${BpeCte.replaceFirst("WITH", "WITH RECURSIVE")},
       vocab AS MATERIALIZED (
         SELECT DISTINCT unnest(list_transform(range(1, length(word) + 1),
             i -> word[i])) AS sym
         FROM words
         UNION $mergeUnion),
       bestm AS MATERIALIZED (
         SELECT word, pos, sym FROM (
           SELECT wp.word, wp.pos, v.sym, row_number() OVER (
               PARTITION BY wp.word, wp.pos
               ORDER BY length(v.sym) DESC) AS rn
           FROM (SELECT word,
               unnest(range(1, length(word) + 1)) AS pos FROM words) wp
           JOIN vocab v
             ON v.sym = wp.word[wp.pos:wp.pos + length(v.sym) - 1])
         WHERE rn = 1),
       walk(word, pos, ps) AS (
         SELECT word, 1, CAST([] AS VARCHAR[]) FROM words
         UNION ALL
         SELECT word,
           CASE WHEN best = '' THEN length(word) + 1
                ELSE pos + length(best) END,
           CASE WHEN best = '' THEN ['[UNK]']
                WHEN len(ps) = 0 THEN list_append(ps, best)
                ELSE list_append(ps, '##' || best) END
         FROM (
           SELECT w.word, w.pos, w.ps, coalesce(b.sym, '') AS best
           FROM walk w LEFT JOIN bestm b
             ON b.word = w.word AND b.pos = w.pos
           WHERE w.pos <= length(w.word))),
       wp AS MATERIALIZED (
         SELECT word, ps FROM walk WHERE pos > length(word)),
       -- tier-budget (r12): flatten the per-word piece LIST to a string +
       -- count + unk flag ONCE per distinct word (vocabulary-sized), so
       -- the corpus-sized doc face joins scalars, never 200M lists — the
       -- formulation that exceeded an 80 GB DuckDB budget at sf100 (r11)
       wps AS MATERIALIZED (SELECT word, array_to_string(ps, ' ') AS pstr,
           CAST(len(ps) AS BIGINT) AS pn, ps[1] = '[UNK]' AS unk FROM wp),
       dw AS (SELECT doc_id, unnest(range(len(t))) AS p, unnest(t) AS word
         FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'),
               q -> length(q) > 0) AS t
           FROM documents)),
       enc AS (SELECT d.doc_id, d.p,
           regexp_matches(d.word, '^[a-z]+$$') AS alpha,
           CASE WHEN regexp_matches(d.word, '^[a-z]+$$')
             THEN s.pstr ELSE d.word END AS pstr,
           s.pn, s.unk
         FROM dw d LEFT JOIN wps s USING (word)),
       agg AS (SELECT doc_id,
           CAST(sum(CASE WHEN alpha THEN 1 ELSE 0 END) AS BIGINT) AS w,
           CAST(sum(CASE WHEN NOT alpha THEN 1 ELSE 0 END) AS BIGINT) AS o,
           CAST(sum(CASE WHEN alpha AND unk THEN 1 ELSE 0 END)
             AS BIGINT) AS u,
           CAST(coalesce(sum(CASE WHEN alpha THEN pn ELSE 0 END), 0)
             AS BIGINT) AS s,
           md5(string_agg(pstr, ' ' ORDER BY p)) AS fp
         FROM enc GROUP BY 1)
       SELECT d.doc_id,
         coalesce(a.w, 0) AS n_words,
         coalesce(a.o, 0) AS n_oov,
         coalesce(a.u, 0) AS n_unk,
         coalesce(a.s, 0) AS n_pieces,
         CASE WHEN coalesce(a.w, 0) > 0
           THEN CAST((2 * 1000000 * a.s + a.w) // (2 * a.w) AS DOUBLE)
             / 1000000.0
         END AS fertility,
         coalesce(a.fp, md5('')) AS seg_fp
       FROM documents d LEFT JOIN agg a USING (doc_id)
       ORDER BY d.doc_id"""
  }

  /** Unigram-LM trainer oracle: the [[graft.queries.CorpusQueries.unigramTok]]
    * hard-EM rounds unrolled — per round a MATERIALIZED integer micro-log
    * score table, a position-by-position Viterbi DP
    * ([[graft.queries.CorpusQueries.UnigramMaxLen]] stages over a cumulative
    * MATERIALIZED best-prefix frame; argmax ties → longer piece, exactly the
    * engine's fold rule), then the usage re-count with single-char
    * protection. Integer micro-log scores make every DP comparison exact in
    * both engines — no float path-sum ambiguity. */
  private val UnigramOracle: String = {
    val L = CorpusQueries.UnigramMaxLen
    val R = CorpusQueries.UnigramIters
    val rounds = (1 to R).map { r =>
      val dp = (1 to L).map { j =>
        s"""b${r}_$j AS (SELECT word, pos, sc, seg FROM (
             SELECT w.word, $j AS pos, p.sc + v.lp AS sc,
               CASE WHEN p.seg = '' THEN v.piece
                    ELSE p.seg || ' ' || v.piece END AS seg,
               row_number() OVER (PARTITION BY w.word
                 ORDER BY p.sc + v.lp DESC, v.pl DESC) AS rn
             FROM words w
             JOIN v$r v ON v.pl <= $j
               AND substring(w.word, $j - v.pl + 1, v.pl) = v.piece
             JOIN bb${r}_${j - 1} p ON p.word = w.word AND p.pos = $j - v.pl
             WHERE length(w.word) >= $j) WHERE rn = 1),
         bb${r}_$j AS MATERIALIZED (
           SELECT * FROM bb${r}_${j - 1} UNION ALL SELECT * FROM b${r}_$j)"""
      }.mkString(",\n       ")
      s"""v$r AS MATERIALIZED (SELECT piece, length(piece) AS pl,
           CAST(round(log10(CAST(n AS DOUBLE) / CAST(t.tot AS DOUBLE))
             * 1000000, 0) AS BIGINT) AS lp
         FROM c${r - 1}, (SELECT sum(n) AS tot FROM c${r - 1} WHERE n > 0) t
         WHERE n > 0),
       bb${r}_0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS sc, '' AS seg
         FROM words),
       $dp,
       u$r AS (SELECT piece, CAST(sum(f) AS BIGINT) AS n FROM (
           SELECT w.f, unnest(string_split(b.seg, ' ')) AS piece
           FROM words w JOIN bb${r}_$L b
             ON b.word = w.word AND b.pos = length(w.word))
         GROUP BY 1),
       c$r AS MATERIALIZED (SELECT s.piece,
           CAST(CASE WHEN length(s.piece) = 1
                THEN greatest(coalesce(u.n, 0), 1)
                ELSE coalesce(u.n, 0) END AS BIGINT) AS n
         FROM c0 s LEFT JOIN u$r u USING (piece))"""
    }.mkString(",\n       ")
    raw"""WITH words AS MATERIALIZED (SELECT w AS word, count(*) AS f
         FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                 q -> length(q) > 0)) AS w FROM documents)
         WHERE regexp_matches(w, '^[a-z]+$$')
           AND length(w) <= $L GROUP BY 1),
       sub AS MATERIALIZED (SELECT piece, CAST(sum(f) AS BIGINT) AS n FROM (
           SELECT f, unnest(flatten(list_transform(
             range(1, length(word) + 1),
             i -> list_transform(
               range(1, least(${CorpusQueries.UnigramMaxPiece},
                 length(word) - i + 1) + 1),
               l -> substring(word, i, l))))) AS piece
         FROM words) GROUP BY 1),
       c0 AS MATERIALIZED (
         SELECT piece, n FROM sub WHERE length(piece) = 1
         UNION ALL
         SELECT piece, n FROM (
           SELECT piece, n, row_number() OVER (ORDER BY n DESC, piece) AS rk
           FROM sub WHERE length(piece) >= 2)
         WHERE rk <= ${CorpusQueries.UnigramSeedMulti}),
       $rounds
       SELECT piece, n,
         round(CAST(n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
       FROM c$R, (SELECT sum(n) AS tot FROM c$R WHERE n > 0) t
       WHERE n > 0 ORDER BY n DESC, piece"""
  }

  /** TextRank oracle: [[graft.queries.TextQueries.textrank]]'s weighted
    * PageRank over the token co-occurrence graph, all iterations unrolled
    * (the PagerankOracle doctrine: per-edge contributions 6-dp-quantized
    * and DECIMAL-folded, score updates re-quantized, teleport/damping
    * literals printed from the SAME Scala doubles the engine folds). */
  private val TextrankOracle: String = {
    val d = GraphQueries.Damping
    val iters = (1 to TextQueries.TrIters).map { k =>
      s"""c$k AS (SELECT f.dst,
             sum(CAST(round(r${k - 1}.s * f.frac, 6) AS DECIMAL(28,6))) AS insum
           FROM f JOIN r${k - 1} ON f.src = r${k - 1}.w GROUP BY 1),
       r$k AS (SELECT n.w,
             ${1.0 - d} + $d * coalesce(CAST(insum AS DOUBLE), 0.0) AS s
           FROM n LEFT JOIN c$k ON n.w = c$k.dst)"""
    }.mkString(",\n       ")
    val shifts = (1 to TextQueries.TrWindow).map { off =>
      s"""SELECT a.w AS src, b.w AS dst FROM tok a JOIN tok b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + $off AND a.w != b.w"""
    }.mkString("\n         UNION ALL\n         ")
    raw"""WITH tok AS (SELECT doc_id, pos, t[pos] AS w FROM (
           SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t FROM (
             SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
               q -> length(q) > 0) AS t
             FROM documents))),
       pair AS ($shifts),
       e AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS DOUBLE) AS ew
         FROM (SELECT src, dst FROM pair
               UNION ALL SELECT dst AS src, src AS dst FROM pair)
         GROUP BY 1, 2),
       o AS (SELECT src, sum(ew) AS outw FROM e GROUP BY 1),
       f AS MATERIALIZED (SELECT e.src, e.dst, e.ew / o.outw AS frac
         FROM e JOIN o USING (src)),
       n AS MATERIALIZED (SELECT DISTINCT src AS w FROM e),
       r0 AS (SELECT w, 1.0 AS s FROM n),
       $iters
       SELECT w AS word, s AS score FROM r${TextQueries.TrIters}
       ORDER BY score DESC, word LIMIT ${TextQueries.TrTop}"""
  }

  /** NMF oracle: [[graft.queries.CorpusQueries.nmfTopics]]'s Lee–Seung
    * multiplicative updates unrolled — per round the four matrix products
    * as join-aggregates (each term quantized to 6 dp, DECIMAL fold), the
    * k×k Gram frames cast to DOUBLE exactly where the engine casts, and
    * the W/H entry updates re-quantized to 6 dp behind the same den > 0
    * guard, so every round is a fixed IEEE dag both engines replay
    * bit-identically. Inits mirror the engine's pure key arithmetic and
    * md5-prefix seeds. */
  /** q_ppmi_svd oracle: the full deflated-power-iteration replay as
    * unrolled CTEs — co-occurrence via the q_skipgrams pair CTE (abs
    * distance 1..W, both directions), PPMI on the 6-dp grid, then
    * [[graft.queries.CorpusQueries.SvdComps]] components ×
    * [[graft.queries.CorpusQueries.SvdIters]] matvec/normalize rounds;
    * component 2 subtracts λ₁·v₁·(v₁ᵀx) with the identical left-assoc
    * multiply and DECIMAL folds the engine uses. */
  private val PpmiSvdOracle: String = {
    val iters = CorpusQueries.SvdIters
    val w = CorpusQueries.SkipgramWindow
    def round6(e: String) = s"round($e, 6)"
    def iterCtes(c: Int): String = (1 to iters).map { i =>
      val px = s"x${c}_${i - 1}"
      val defl = if (c == 1) s"""y${c}_$i AS (SELECT w, yv FROM y0${c}_$i)"""
      else s"""s${c}_$i AS (SELECT sum(CAST(${round6("v.vv * x.xv")} AS DECIMAL(28,6))) AS s
             FROM v1 v JOIN $px x ON v.w = x.w),
         y${c}_$i AS (SELECT y.w,
             y.yv - CAST(${round6(s"CAST(${round6("v.lam * v.vv")} AS DECIMAL(18,6)) * CAST(s.s AS DECIMAL(18,6))")} AS DECIMAL(28,6)) AS yv
           FROM y0${c}_$i y JOIN v1 v ON y.w = v.w CROSS JOIN s${c}_$i s)"""
      s"""mv${c}_$i AS (SELECT m.w,
             sum(CAST(${round6("m.g * x.xv")} AS DECIMAL(28,6))) AS yraw
           FROM m JOIN $px x ON m.c = x.w GROUP BY 1),
         y0${c}_$i AS (SELECT wd.w,
             coalesce(mv.yraw, CAST(0 AS DECIMAL(28,6))) AS yv
           FROM words wd LEFT JOIN mv${c}_$i mv ON wd.w = mv.w),
         $defl,
         n2${c}_$i AS (SELECT sum(CAST(${round6("CAST(yv AS DECIMAL(18,6)) * CAST(yv AS DECIMAL(18,6))")} AS DECIMAL(38,6))) AS n2
           FROM y${c}_$i),
         x${c}_$i AS MATERIALIZED (SELECT y.w,
             CAST(CASE WHEN CAST(n.n2 AS DOUBLE) > 0.0
               THEN ${round6("CAST(y.yv AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE))")}
               ELSE 0.0 END AS DECIMAL(18,6)) AS xv
           FROM y${c}_$i y CROSS JOIN n2${c}_$i n)"""
    }.mkString(",\n       ")
    def vDef(c: Int): String =
      s"""v$c AS MATERIALIZED (SELECT x.w, x.xv AS vv,
           (SELECT CAST(${round6("sqrt(CAST(n2 AS DOUBLE))")} AS DECIMAL(18,6))
             FROM n2${c}_$iters) AS lam
         FROM x${c}_$iters x)"""
    raw"""WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       pp AS (SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t FROM t),
       wt AS (SELECT doc_id, i, t[i] AS w FROM pp),
       cooc AS (SELECT a.w AS center, b.w AS context, count(*) AS n
         FROM wt a JOIN wt b
           ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND $w
         GROUP BY 1, 2),
       rowm AS (SELECT center, sum(n) AS nw FROM cooc GROUP BY 1),
       tot AS (SELECT sum(n) AS nn FROM cooc),
       m AS MATERIALIZED (SELECT center AS w, context AS c, g FROM (
           SELECT c.center, c.context,
             CAST(round(ln((CAST(c.n AS DOUBLE) * CAST(t.nn AS DOUBLE)) /
               (CAST(r1.nw AS DOUBLE) * CAST(r2.nw AS DOUBLE))), 6)
               AS DECIMAL(18,6)) AS g
           FROM cooc c
           JOIN rowm r1 ON c.center = r1.center
           JOIN rowm r2 ON c.context = r2.center
           CROSS JOIN tot t) WHERE g > 0.0),
       words AS (SELECT center AS w FROM rowm),
       x1_0 AS (SELECT w,
           CAST(((CAST(CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT) AS BIGINT)
             % 10 + 1) / 10.0) AS DECIMAL(18,6)) AS xv FROM words),
       ${iterCtes(1)},
       ${vDef(1)},
       x2_0 AS (SELECT * FROM x1_0),
       ${iterCtes(2)},
       ${vDef(2)}
       SELECT comp, word, loading, lambda FROM (
         SELECT 1 AS comp, w AS word, CAST(vv AS DOUBLE) AS loading,
           CAST(lam AS DOUBLE) AS lambda FROM v1
         UNION ALL
         SELECT 2, w, CAST(vv AS DOUBLE), CAST(lam AS DOUBLE) FROM v2)
       ORDER BY comp, word"""
  }

  /** q_glove_embed oracle: the full-batch AdaGrad replay as unrolled
    * CTEs — co-occurrence via the shared pair CTE, the top-
    * [[graft.queries.CorpusQueries.GloveVocab]] cut as ORDER BY/LIMIT,
    * f(x)/ln x on the 6-dp grid in the pair CTE, then
    * [[graft.queries.CorpusQueries.GloveIters]] rounds of dot → weighted
    * residual → four gradient aggregates → AdaGrad updates with the
    * identical two-step decimal products and the one double quotient
    * (lr·g/√G) the engine uses. */
  private val GloveOracle: String = {
    val d = CorpusQueries.GloveDim
    val iters = CorpusQueries.GloveIters
    val v = CorpusQueries.GloveVocab
    val xmax = CorpusQueries.GloveXmax
    val lr = CorpusQueries.GloveLr
    val w = CorpusQueries.SkipgramWindow
    // one AdaGrad state step: prev state s (cols key..., value, g2) LEFT
    // JOIN grad g (cols key..., g) — the nested select computes g2n once
    def adagrad(name: String, prev: String, grad: String, keyCols: String,
                value: String): String = {
      val joinOn = keyCols.split(", ").map(k => s"s.$k = g.$k").mkString(" AND ")
      s"""$name AS MATERIALIZED (SELECT $keyCols,
           CAST($value - round($lr * gd / sqrt(CAST(g2n AS DOUBLE)), 6)
             AS DECIMAL(18,6)) AS $value,
           g2n AS g2
         FROM (SELECT ${keyCols.split(", ").map("s." + _).mkString(", ")},
             s.$value,
             CAST(coalesce(g.g, CAST(0 AS DECIMAL(28,6))) AS DOUBLE) AS gd,
             CAST(s.g2 + round(
               CAST(coalesce(g.g, CAST(0 AS DECIMAL(28,6))) AS DECIMAL(18,6)) *
               CAST(coalesce(g.g, CAST(0 AS DECIMAL(28,6))) AS DECIMAL(18,6)),
               6) AS DECIMAL(18,6)) AS g2n
           FROM $prev s LEFT JOIN $grad g ON $joinOn))"""
    }
    def round6(e: String) = s"round($e, 6)"
    val rounds = (1 to iters).map { t =>
      val p = t - 1
      s"""dot_$t AS (SELECT p.i, p.j,
             sum(CAST(${round6("w.wv * c.cv")} AS DECIMAL(28,6))) AS dt
           FROM pairs p
           JOIN w_$p w ON p.i = w.w
           JOIN c_$p c ON p.j = c.w AND w.k = c.k
           GROUP BY 1, 2),
       fe_$t AS MATERIALIZED (SELECT p.i, p.j,
             CAST(${round6("p.fx * CAST(d.dt + b.bv + bb.bv - p.lx AS DECIMAL(18,6))")}
               AS DECIMAL(18,6)) AS fe
           FROM pairs p
           JOIN dot_$t d ON p.i = d.i AND p.j = d.j
           JOIN b_$p b ON p.i = b.w
           JOIN bb_$p bb ON p.j = bb.w),
       gw_$t AS (SELECT f.i AS w, c.k,
             sum(CAST(${round6("f.fe * c.cv")} AS DECIMAL(28,6))) AS g
           FROM fe_$t f JOIN c_$p c ON f.j = c.w GROUP BY 1, 2),
       gc_$t AS (SELECT f.j AS w, w2.k,
             sum(CAST(${round6("f.fe * w2.wv")} AS DECIMAL(28,6))) AS g
           FROM fe_$t f JOIN w_$p w2 ON f.i = w2.w GROUP BY 1, 2),
       gb_$t AS (SELECT i AS w, sum(CAST(fe AS DECIMAL(28,6))) AS g
           FROM fe_$t GROUP BY 1),
       gbb_$t AS (SELECT j AS w, sum(CAST(fe AS DECIMAL(28,6))) AS g
           FROM fe_$t GROUP BY 1),
       ${adagrad(s"w_$t", s"w_$p", s"gw_$t", "s.w, s.k".replace("s.", ""), "wv")},
       ${adagrad(s"c_$t", s"c_$p", s"gc_$t", "w, k", "cv")},
       ${adagrad(s"b_$t", s"b_$p", s"gb_$t", "w", "bv")},
       ${adagrad(s"bb_$t", s"bb_$p", s"gbb_$t", "w", "bv")}"""
    }.mkString(",\n       ")
    raw"""WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       pp AS (SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t FROM t),
       wt AS (SELECT doc_id, i, t[i] AS w FROM pp),
       cooc AS (SELECT a.w AS center, b.w AS context, count(*) AS n
         FROM wt a JOIN wt b
           ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND $w
         GROUP BY 1, 2),
       vocab AS MATERIALIZED (SELECT center AS w
         FROM (SELECT center, sum(n) AS nw FROM cooc GROUP BY 1)
         ORDER BY nw DESC, center LIMIT $v),
       pairs AS MATERIALIZED (SELECT c.center AS i, c.context AS j,
           CAST(${round6(s"CASE WHEN c.n >= $xmax THEN 1.0 ELSE pow(CAST(c.n AS DOUBLE) / $xmax, 0.75) END")}
             AS DECIMAL(18,6)) AS fx,
           CAST(${round6("ln(CAST(c.n AS DOUBLE))")} AS DECIMAL(18,6)) AS lx
         FROM cooc c
         JOIN vocab vi ON c.center = vi.w
         JOIN vocab vj ON c.context = vj.w),
       dims AS (SELECT unnest(range(1, $d + 1)) AS k),
       w_0 AS (SELECT v.w, d.k,
           CAST(((CAST(CAST('0x' || substr(md5(v.w || ':w' || CAST(d.k AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)
             % 10 + 1) / 20.0) AS DECIMAL(18,6)) AS wv,
           CAST(1 AS DECIMAL(18,6)) AS g2
         FROM vocab v CROSS JOIN dims d),
       c_0 AS (SELECT v.w, d.k,
           CAST(((CAST(CAST('0x' || substr(md5(v.w || ':c' || CAST(d.k AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)
             % 10 + 1) / 20.0) AS DECIMAL(18,6)) AS cv,
           CAST(1 AS DECIMAL(18,6)) AS g2
         FROM vocab v CROSS JOIN dims d),
       b_0 AS (SELECT w, CAST(0 AS DECIMAL(18,6)) AS bv,
           CAST(1 AS DECIMAL(18,6)) AS g2 FROM vocab),
       bb_0 AS (SELECT w, CAST(0 AS DECIMAL(18,6)) AS bv,
           CAST(1 AS DECIMAL(18,6)) AS g2 FROM vocab),
       $rounds
       SELECT w.w AS word, w.k AS dim, CAST(w.wv + c.cv AS DOUBLE) AS vec
       FROM w_$iters w JOIN c_$iters c ON w.w = c.w AND w.k = c.k
       ORDER BY word, dim"""
  }

  private val NmfOracle: String = {
    val k = CorpusQueries.NmfTopics
    val rounds = (1 to CorpusQueries.NmfIters).map { r =>
      val (pw, ph) = (s"w${r - 1}", s"h${r - 1}")
      s"""vh$r AS (SELECT v.doc_id, h.t,
             sum(CAST(round(v.x * h.hv, 6) AS DECIMAL(28,6))) AS num
           FROM v JOIN $ph h ON v.term = h.term GROUP BY 1, 2),
       hht$r AS (SELECT p.t AS t, q.t AS t2,
             CAST(sum(CAST(round(p.hv * q.hv, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g
           FROM $ph p JOIN $ph q ON p.term = q.term GROUP BY 1, 2),
       whh$r AS (SELECT w.doc_id, g.t2 AS t,
             sum(CAST(round(w.wv * g.g, 6) AS DECIMAL(28,6))) AS den
           FROM $pw w JOIN hht$r g ON w.t = g.t GROUP BY 1, 2),
       w$r AS MATERIALIZED (SELECT w.doc_id, w.t,
             CASE WHEN CAST(d.den AS DOUBLE) > 0.0
               THEN round(w.wv * (CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE)), 6)
               ELSE 0.0 END AS wv
           FROM $pw w
           JOIN vh$r n ON w.doc_id = n.doc_id AND w.t = n.t
           JOIN whh$r d ON w.doc_id = d.doc_id AND w.t = d.t),
       wtv$r AS (SELECT w.t, v.term,
             sum(CAST(round(v.x * w.wv, 6) AS DECIMAL(28,6))) AS num
           FROM v JOIN w$r w ON v.doc_id = w.doc_id GROUP BY 1, 2),
       wtw$r AS (SELECT p.t AS t, q.t AS t2,
             CAST(sum(CAST(round(p.wv * q.wv, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g
           FROM w$r p JOIN w$r q ON p.doc_id = q.doc_id GROUP BY 1, 2),
       wtwh$r AS (SELECT g.t, h.term,
             sum(CAST(round(g.g * h.hv, 6) AS DECIMAL(28,6))) AS den
           FROM wtw$r g JOIN $ph h ON g.t2 = h.t GROUP BY 1, 2),
       h$r AS MATERIALIZED (SELECT h.term, h.t,
             CASE WHEN CAST(d.den AS DOUBLE) > 0.0
               THEN round(h.hv * (CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE)), 6)
               ELSE 0.0 END AS hv
           FROM $ph h
           JOIN wtv$r n ON h.t = n.t AND h.term = n.term
           JOIN wtwh$r d ON h.t = d.t AND h.term = d.term)"""
    }.mkString(",\n       ")
    raw"""WITH v AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS x
         FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
             q -> length(q) > 0)) AS term FROM documents)
         GROUP BY 1, 2),
       w0 AS MATERIALIZED (SELECT doc_id, t,
           ((doc_id * 7 + t * 13) % 10 + 1) / 10.0 AS wv
         FROM (SELECT DISTINCT doc_id FROM v) CROSS JOIN range(0, $k) r(t)),
       h0 AS MATERIALIZED (SELECT term, t,
           ((CAST(CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT) AS BIGINT)
             + t * 13) % 10 + 1) / 10.0 AS hv
         FROM (SELECT DISTINCT term FROM v) CROSS JOIN range(0, $k) r(t)),
       $rounds
       SELECT t AS topic, rank, term, hv AS weight FROM (
         SELECT t, term, hv, row_number() OVER (
             PARTITION BY t ORDER BY hv DESC, term) AS rank
         FROM h${CorpusQueries.NmfIters})
       WHERE rank <= ${CorpusQueries.NmfTopTerms}
       ORDER BY topic, rank"""
  }

  /** The sign-LSH bucket id as SQL (VERDICT r4 #5): the 4 hyperplanes are
    * deterministic compile-time constants (Similarity.Planes, seeded RNG),
    * so they inline as DOUBLE[] literals — Scala's shortest-round-trip
    * Double.toString parses back to the bit-identical double in DuckDB,
    * and list_dot_product folds in the same sequential order as the
    * engine's codegen dot product, so every sign (and hence every bucket)
    * matches exactly. */
  private val LshBucketSql: String =
    graft.functions.Similarity.Planes.zipWithIndex.map { case (plane, j) =>
      val lit = plane.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** 16-element projected-coordinate list of the JL sign projection —
    * [[graft.functions.Similarity.ProjSigns]] rows inlined as DOUBLE[]
    * literals (exact ±1 values); list_dot_product folds sequentially like
    * the engine's codegen dot, and 1/√16 = 0.25 is exact, so every
    * coordinate is bit-identical before the shared 6-dp rounding. */
  private val ProjListSql: String =
    graft.functions.Similarity.ProjSigns.map { row =>
      val lit = row.map(_.toString).mkString("[", ", ", "]")
      s"round(list_dot_product(v, $lit) * 0.25, 6) + 0.0"
    }.mkString("[", ",\n           ", "]")

  /** The directed weighted trade graph + node CTEs shared by the
    * q_pagerank / q_hits / q_triangles oracles. */
  private val TradeGraphCte =
    """edges AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           count(*) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY 1, 2),
       nodes AS (SELECT n_nationkey AS node, n_name FROM nation)"""

  /** Weighted-PageRank oracle: [[graft.queries.GraphQueries.PrIters]]
    * synchronous iterations unrolled as CTEs, replaying the engine's fold
    * exactly — each edge contribution quantized to the 6-dp grid and
    * summed in DECIMAL (fold-order exact), rank update on two doubles. */
  private val PagerankOracle: String = {
    val iters = (1 to GraphQueries.PrIters).map { k =>
      s"""c$k AS (SELECT dst,
             sum(CAST(round(CAST(pr AS DOUBLE) * frac, 6) AS DECIMAL(28,6))) AS insum
           FROM ew JOIN r${k - 1} ON ew.src = r${k - 1}.node GROUP BY 1),
       r$k AS (SELECT node, CAST(round(${GraphQueries.Teleport}
             + ${GraphQueries.Damping} * coalesce(CAST(insum AS DOUBLE), 0.0), 6)
           AS DECIMAL(18,6)) AS pr
           FROM nodes LEFT JOIN c$k ON node = dst)"""
    }.mkString(",\n       ", ",\n       ", "")
    s"""WITH $TradeGraphCte,
       outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM edges GROUP BY 1),
       ew AS (SELECT e.src, e.dst,
           CAST(e.w AS DOUBLE) / CAST(o.outw AS DOUBLE) AS frac
         FROM edges e JOIN outw o USING (src)),
       r0 AS (SELECT node, CAST(0.04 AS DECIMAL(18,6)) AS pr FROM nodes)$iters
       SELECT r.node, n.n_name, CAST(r.pr AS DOUBLE) AS pr
       FROM r${GraphQueries.PrIters} r JOIN nodes n ON r.node = n.node
       ORDER BY r.node"""
  }

  /** Markov steady-state oracle: [[graft.queries.AnalyticQueries.MarkovIters]]
    * power-iteration rounds unrolled as CTEs over the 6-dp-rounded
    * transition matrix (absorbing states self-looped), every per-edge term
    * quantized to the 6-dp grid and summed in DECIMAL — the pagerank
    * doctrine on the event-type chain. */
  private val MarkovOracle: String = {
    val iters = (1 to AnalyticQueries.MarkovIters).map { k =>
      s"""n$k AS (SELECT tr.to_type AS st,
             sum(CAST(round(CAST(pi AS DOUBLE) * p, 6) AS DECIMAL(28,6))) AS m
           FROM tr JOIN p${k - 1} ON tr.from_type = p${k - 1}.st GROUP BY 1),
       p$k AS (SELECT s.st, CAST(coalesce(n$k.m, 0) AS DECIMAL(18,6)) AS pi
           FROM states s LEFT JOIN n$k USING (st))"""
    }.mkString(",\n       ", ",\n       ", "")
    s"""WITH pr AS (SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         FROM events),
       c AS MATERIALIZED (SELECT from_type, to_type, count(*) AS n FROM pr
         WHERE to_type IS NOT NULL GROUP BY 1, 2),
       states AS MATERIALIZED (SELECT DISTINCT event_type AS st FROM events),
       noout AS (SELECT st AS from_type, st AS to_type, CAST(1 AS BIGINT) AS n
         FROM states WHERE NOT EXISTS
           (SELECT 1 FROM c WHERE c.from_type = states.st)),
       cc AS (SELECT * FROM c UNION ALL SELECT * FROM noout),
       tr AS MATERIALIZED (SELECT from_type, to_type,
           round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
         FROM cc),
       p0 AS (SELECT st, CAST(round(1.0::DOUBLE
           / (SELECT count(*) FROM states), 6) AS DECIMAL(18,6)) AS pi
         FROM states)$iters
       SELECT st AS event_type, CAST(pi AS DOUBLE) AS pi
       FROM p${AnalyticQueries.MarkovIters} ORDER BY event_type"""
  }

  /** MMR oracle: the greedy diversified-selection rounds of
    * [[graft.queries.SimilarityQueries.mmrRerank]] unrolled as CTEs (the
    * Lloyd-round pattern) — per round, the un-selected candidate maximizing
    * λ·cos − (1−λ)·max-sim-to-selected, ties → lowest cid. λ is emitted as
    * `::DOUBLE` casts so both engines run the identical IEEE dag. */
  private val MmrOracle: String = {
    val lam = s"${SimilarityQueries.MmrLambda}::DOUBLE"
    val sc = s"$lam * c.cos - (1.0::DOUBLE - $lam) * m.msim"
    val rounds = (2 to SimilarityQueries.MmrK).map { r =>
      s"""ms$r AS (SELECT pc.query_id, pc.a, max(pc.pcos) AS msim
           FROM pc JOIN sel${r - 1} s
             ON pc.query_id = s.query_id AND pc.b = s.cid
           GROUP BY 1, 2),
       pk$r AS (SELECT query_id, cid, cos, sc, $r AS rank FROM (
           SELECT c.query_id, c.cid, c.cos, $sc AS sc,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY $sc DESC, c.cid) AS rn
           FROM cand c JOIN ms$r m ON c.query_id = m.query_id AND c.cid = m.a
           WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
             WHERE s.query_id = c.query_id AND s.cid = c.cid)
         ) WHERE rn = 1),
       sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pk$r)"""
    }.mkString(",\n       ", ",\n       ", "")
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
             CAST(embedding AS DOUBLE[]))) AS nrm
         FROM embeddings),
       j AS (SELECT q.vec_id AS query_id, c.vec_id AS cid, c.v, c.nrm,
           round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
         FROM n q JOIN n c ON c.vec_id != q.vec_id WHERE q.vec_id < 10),
       cand AS MATERIALIZED (SELECT query_id, cid, v, nrm, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cid) AS rn FROM j
         ) WHERE rn <= ${SimilarityQueries.MmrCandidates}),
       pc AS MATERIALIZED (SELECT x.query_id, x.cid AS a, y.cid AS b,
           round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS pcos
         FROM cand x JOIN cand y
           ON x.query_id = y.query_id AND x.cid != y.cid),
       sel1 AS (SELECT query_id, cid, cos, $lam * cos AS sc, 1 AS rank
         FROM (SELECT query_id, cid, cos, row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, cid) AS rn
           FROM cand) WHERE rn = 1)$rounds
       SELECT query_id, rank, cid AS neighbor_id, cos AS cosine,
         sc AS mmr_score
       FROM sel${SimilarityQueries.MmrK} ORDER BY query_id, rank"""
  }

  /** Label-propagation oracle: [[graft.queries.GraphQueries.LpaIters]]
    * synchronous rounds unrolled as CTEs — per round, each node takes its
    * neighbors' weight-heaviest label (ties → smallest label); exact
    * integers throughout. */
  private val LpaOracle: String = {
    val rounds = (1 to GraphQueries.LpaIters).map { k =>
      s"""v$k AS (SELECT e.u AS node, l.lab, sum(e.w) AS vw
           FROM und e JOIN l${k - 1} l ON e.v = l.node GROUP BY 1, 2),
       b$k AS (SELECT node, lab FROM (
           SELECT node, lab,
             row_number() OVER (PARTITION BY node ORDER BY vw DESC, lab) AS rn
           FROM v$k) WHERE rn = 1),
       l$k AS (SELECT n.node, coalesce(b.lab, n.node) AS lab
           FROM nodes n LEFT JOIN b$k b USING (node))"""
    }.mkString(",\n       ", ",\n       ", "")
    s"""WITH $TradeGraphCte,
       und AS (SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
           SELECT src AS u, dst AS v, w FROM edges
           UNION ALL SELECT dst, src, w FROM edges)
         GROUP BY 1, 2 HAVING u <> v),
       l0 AS (SELECT node, node AS lab FROM nodes)$rounds
       SELECT l.node, n.n_name, l.lab AS community
       FROM l${GraphQueries.LpaIters} l JOIN nodes n USING (node)
       ORDER BY l.node"""
  }

  /** k-core oracle: [[graft.queries.GraphQueries.CoreIters]] h-index
    * rounds unrolled as CTEs — per round, neighbor values sorted
    * descending per node and `max(least(rn, c))` taken; exact integers
    * throughout, tie order among equal values provably immaterial. */
  private val KcoreOracle: String = {
    val rounds = (1 to GraphQueries.CoreIters).map { k =>
      s"""h$k AS (SELECT a.node, v.c,
             row_number() OVER (PARTITION BY a.node ORDER BY v.c DESC) AS rn
           FROM adj a JOIN c${k - 1} v ON a.nbr = v.node),
       c$k AS (SELECT node, CAST(max(least(rn, c)) AS BIGINT) AS c
           FROM h$k GROUP BY 1)"""
    }.mkString(",\n       ", ",\n       ", "")
    s"""WITH $TradeGraphCte,
       und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           greatest(src, dst) AS b FROM edges WHERE src <> dst),
       adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und
         UNION ALL SELECT b, a FROM und),
       c0 AS (SELECT node, CAST(count(*) AS BIGINT) AS c
           FROM adj GROUP BY 1)$rounds
       SELECT n.node, n.n_name,
         coalesce(c${GraphQueries.CoreIters}.c, 0) AS coreness
       FROM nodes n LEFT JOIN c${GraphQueries.CoreIters}
         ON n.node = c${GraphQueries.CoreIters}.node
       ORDER BY n.node"""
  }

  /** Power-iteration PCA oracle: the q_embed_gram fixed-point Gram CTE
    * (bit-identical longs), mirrored to the full symmetric matrix, then
    * [[graft.queries.CorpusQueries.PcaIters]] matvec+normalize rounds
    * unrolled — every Σ quantizes terms to the 6-dp grid and sums in
    * DECIMAL, so the replay is exact under any fold order. A zero n² gives
    * zero loadings, as in the engine. */
  private val PcaOracle: String = {
    val iters = (1 to CorpusQueries.PcaIters).map { k =>
      s"""u$k AS (SELECT f.i,
             sum(CAST(round(f.g * CAST(v.vj AS DOUBLE), 6) AS DECIMAL(28,6))) AS ui
           FROM fullg f JOIN v${k - 1} v ON f.j = v.j GROUP BY 1),
       n$k AS (SELECT sum(CAST(round(CAST(ui AS DOUBLE) * CAST(ui AS DOUBLE), 6)
             AS DECIMAL(38,6))) AS n2 FROM u$k),
       v$k AS (SELECT i AS j, n2,
             CAST(CASE WHEN CAST(n2 AS DOUBLE) > 0.0
               THEN round(CAST(ui AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6)
               ELSE 0.0 END AS DECIMAL(18,6)) AS vj
           FROM u$k CROSS JOIN n$k)"""
    }.mkString(",\n       ", ",\n       ", "")
    s"""WITH e AS (SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x * 100000.0 + 0.5) AS BIGINT)) AS q
         FROM embeddings),
       x AS MATERIALIZED (SELECT vec_id, generate_subscripts(q, 1) - 1 AS i, unnest(q) AS xi FROM e),
       gm AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS g_fx
         FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
         GROUP BY 1, 2),
       fullg AS MATERIALIZED (SELECT i, j, CAST(g_fx AS DOUBLE) / (100000.0 * 100000.0) AS g
         FROM gm
         UNION ALL
         SELECT j AS i, i AS j, CAST(g_fx AS DOUBLE) / (100000.0 * 100000.0) AS g
         FROM gm WHERE i <> j),
       v0 AS (SELECT CAST(i AS BIGINT) AS j, CAST(0.125 AS DECIMAL(18,6)) AS vj
         FROM range(0, ${CorpusQueries.GramDims}) t(i))$iters
       SELECT j AS dim, CAST(vj AS DOUBLE) AS loading,
         round(sqrt(CAST(n2 AS DOUBLE)), 6) AS lambda
       FROM v${CorpusQueries.PcaIters} ORDER BY dim"""
  }

  /** Weighted-HITS oracle: [[graft.queries.GraphQueries.HitsIters]]
    * mutual-reinforcement rounds unrolled, each half-round the same 6-dp
    * quantize + DECIMAL sum + L2 normalize the engine performs. A zero n²
    * gives zero scores, as in the engine. */
  private val HitsOracle: String = {
    def half(round: Int, prefix: String, scoreFrom: String, joinKey: String,
        groupKey: String): String =
      s"""${prefix}r$round AS (SELECT n.node, coalesce(s.cs, CAST(0 AS DECIMAL(28,6))) AS s
           FROM nodes n LEFT JOIN (
             SELECT $groupKey, sum(CAST(round(CAST(w AS DOUBLE) * CAST(v AS DOUBLE), 6)
               AS DECIMAL(28,6))) AS cs
             FROM edges JOIN $scoreFrom ON edges.$joinKey = $scoreFrom.node
             GROUP BY 1) s ON n.node = s.$groupKey),
       ${prefix}n$round AS (SELECT sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 6)
           AS DECIMAL(38,6))) AS n2 FROM ${prefix}r$round),
       $prefix$round AS (SELECT node,
           CAST(CASE WHEN CAST(n2 AS DOUBLE) > 0.0
             THEN round(CAST(s AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6)
             ELSE 0.0 END AS DECIMAL(18,6)) AS v
           FROM ${prefix}r$round CROSS JOIN ${prefix}n$round)"""
    val rounds = (1 to GraphQueries.HitsIters).map { k =>
      half(k, "a", s"h${k - 1}", "src", "dst") + ",\n       " +
        half(k, "h", s"a$k", "dst", "src")
    }.mkString(",\n       ", ",\n       ", "")
    s"""WITH $TradeGraphCte,
       h0 AS (SELECT node, CAST(0.2 AS DECIMAL(18,6)) AS v FROM nodes)$rounds
       SELECT n.node, n.n_name, CAST(h.v AS DOUBLE) AS hub,
         CAST(a.v AS DOUBLE) AS auth
       FROM nodes n
       JOIN h${GraphQueries.HitsIters} h ON n.node = h.node
       JOIN a${GraphQueries.HitsIters} a ON n.node = a.node
       ORDER BY n.node"""
  }

  /** Strict-order funnel oracle: stage CTEs chained on the per-user
    * first qualifying timestamp, one generated per
    * [[graft.queries.AnalyticQueries.FunnelStages]] entry. */
  private val FunnelOracle: String = {
    val stages = AnalyticQueries.FunnelStages
    val first =
      s"""s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = '${stages.head}' GROUP BY 1)"""
    val rest = stages.tail.zipWithIndex.map { case (st, i) =>
      s"""s${i + 2} AS (SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s${i + 1} p ON e.user_id = p.user_id
           WHERE e.event_type = '$st' AND e.ts > p.t GROUP BY 1)"""
    }.mkString(",\n       ", ",\n       ", "")
    val counts = stages.zipWithIndex.map { case (st, i) =>
      s"SELECT ${i + 1} AS stage, '$st' AS event_type, count(*) AS n_users FROM s${i + 1}"
    }.mkString("\n         UNION ALL ")
    s"""WITH $first$rest,
       c AS ($counts)
       SELECT stage, event_type, n_users,
         round(CAST(n_users AS DOUBLE)
           / CAST(lag(n_users) OVER (ORDER BY stage) AS DOUBLE), 6) AS conv_prev,
         round(CAST(n_users AS DOUBLE)
           / CAST(first_value(n_users) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS conv_first
       FROM c ORDER BY stage"""
  }

  private val ChunkLenSql = graft.queries.CorpusQueries.ChunkLen
  private val ChunkStrideSql = graft.queries.CorpusQueries.ChunkStride

  /** Shared CTE prefix replaying the qualityLr score (same expressions as
    * the q_quality_lr oracle) plus the lang=en evaluation label — reused by
    * the classifier-evaluation oracles (q_lr_calibration, q_lr_auc). */
  private val LrLabeledCte =
    raw"""toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       feat AS (SELECT doc_id, len(t)*1.0 AS n,
           list_sum(list_transform(t, q -> length(q)))*1.0/len(t) AS mean_len,
           len(list_distinct(t))*1.0/len(t) AS ttr,
           len(list_filter(t, q -> list_contains(
             [${graft.functions.Text.Stopwords.map(w => s"'$w'").mkString(",")}],
             lower(q))))*1.0/len(t) AS stop_r
         FROM toks WHERE len(t) > 0),
       zt AS (SELECT doc_id,
           round((${graft.queries.PipelineQueries.LrBias}) + (${graft.queries.PipelineQueries.LrWLogLen})*ln(1.0+n)
             + (${graft.queries.PipelineQueries.LrWStop})*stop_r + (${graft.queries.PipelineQueries.LrWMeanLen})*mean_len
             + (${graft.queries.PipelineQueries.LrWTtr})*ttr, 6) AS z
         FROM feat),
       lab AS (SELECT zt.doc_id, round(1.0/(1.0+exp(-z)), 6) AS score,
           (d.lang = 'en') AS label
         FROM zt JOIN documents d ON d.doc_id = zt.doc_id)"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_edw_enriched" ->
      s"""SELECT event_id, ts, user_id, event_type, value,
          round($W, 6) AS weight,
          round($W * $S, 6) AS weighted_sentiment
          FROM events, (SELECT max(ts) AS as_of FROM events)
          ORDER BY event_id""",
    "q_edw_trend" ->
      s"""SELECT date_trunc('hour', ts) AS bucket,
          round(sum($W), 6) AS sum_weight,
          round(sum($W * $S), 6) AS sum_weighted,
          count(*) AS n_events
          FROM events, (SELECT max(ts) AS as_of FROM events)
          GROUP BY 1 ORDER BY 1""",
    "q_decayed_types" ->
      s"""SELECT event_type,
          CAST(sum(CAST(round($W, 6) AS DECIMAL(28,6))) AS DOUBLE) AS decayed_count,
          CAST(sum(CAST(round($W * value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS decayed_value,
          count(*) AS n_events
          FROM events, (SELECT max(ts) AS as_of FROM events)
          GROUP BY 1 ORDER BY 1""",
    "q_sentiment_counts" ->
      """SELECT event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_json_etl" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_daily_type_counts" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
         count(*) AS n, round(avg(value), 6) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_keyword_freq" ->
      """SELECT w AS word, count(*) AS n
         FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w FROM documents)
         GROUP BY 1 ORDER BY 1""",
    "q_top_keywords" ->
      """SELECT w AS word, count(*) AS n
         FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w FROM documents)
         GROUP BY 1 ORDER BY n DESC, word LIMIT 20""",
    "q_distinct_exact" ->
      """SELECT count(DISTINCT text) AS n_distinct, count(*) AS n_rows FROM documents""",
    "q_token_stats" ->
      """SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS n_tokens,
         len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0))) AS n_unique_tokens,
         round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) > 0
           THEN CAST(list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0),
                 t -> length(t))) AS DOUBLE)
             / len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0))
           ELSE 0.0 END, 6) AS mean_token_len
         FROM documents ORDER BY doc_id""",
    "q_quality_scores" ->
      """SELECT doc_id, length(text) AS n_chars_actual,
         round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) > 0
           THEN CAST(len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0),
             t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','be','this','that'))) AS DOUBLE)
             / len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) ELSE 0.0 END, 6) AS stopword_ratio,
         round(CASE WHEN length(regexp_replace(text, '\s', '', 'g')) > 0
           THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
             / length(regexp_replace(text, '\s', '', 'g')) ELSE 0.0 END, 6) AS punct_ratio,
         round((least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
           + (1.0 - least(CASE WHEN length(regexp_replace(text, '\s', '', 'g')) > 0
               THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
                 / length(regexp_replace(text, '\s', '', 'g')) ELSE 0.0 END * 4.0, 1.0))
           + least(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) > 0
               THEN CAST(len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0),
                 t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','be','this','that'))) AS DOUBLE)
                 / len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) ELSE 0.0 END * 5.0, 1.0)) / 3.0, 6) AS quality
         FROM documents ORDER BY doc_id""",
    "q_hash_split" ->
      """SELECT split, count(*) AS n, min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM (SELECT doc_id,
                 CASE WHEN substr(md5(text), 1, 1) IN ('d', 'e') THEN 'val'
                      WHEN substr(md5(text), 1, 1) = 'f' THEN 'test'
                      ELSE 'train' END AS split
               FROM documents)
         GROUP BY 1 ORDER BY 1""",
    "q_stratified_sample" ->
      """SELECT source, count(*) AS n_sampled,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents WHERE substr(md5(text), 1, 1) < '4'
         GROUP BY 1 ORDER BY 1""",
    "q_window_suite" ->
      """SELECT user_id, event_id, round(value, 6) AS value,
         round(coalesce(lead(value, 1) OVER w, 0.0), 6) AS next_value,
         round(coalesce(lag(value, 1) OVER w, 0.0), 6) AS prev_value,
         ntile(4) OVER w AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
         FROM events WHERE user_id < 5
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, event_id""",
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
         grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), ())
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    // Efraimidis-Spirakis keys from the same md5-derived uniform
    "q_weighted_sample" ->
      """SELECT doc_id, length(text) AS n_chars,
         round(pow((CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) + 1.0)
                     / 4294967297.0,
                   1.0 / length(text)), 6) AS sample_key
         FROM documents
         ORDER BY sample_key DESC, doc_id LIMIT 50""",
    "q_pii_scrub" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
         length(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           'https?://[^\s]+', '[URL]', 'g')) AS scrubbed_len
         FROM documents ORDER BY doc_id""",
    // token 3-gram repetition = 1 - distinct/total (Similarity.shinglesOf
    // dedups, Text.ngramsOf does not — same split/filter tokenizer)
    "q_gopher_quality" ->
      """WITH t AS (SELECT doc_id, text,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS toks
         FROM documents),
       m AS (SELECT doc_id, text, toks,
           len(toks) AS n_words,
           CASE WHEN len(toks) > 0 THEN
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
           ELSE 0.0 END AS mean_word_len,
           CASE WHEN length(regexp_replace(text, '\s', '', 'g')) > 0 THEN
             CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
               / length(regexp_replace(text, '\s', '', 'g'))
           ELSE 0.0 END AS sym_ratio,
           len(list_filter(toks, x -> lower(x) IN
             ('the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','be','this','that'))) AS n_stops,
           greatest(len(toks) - 2, 0) AS total3,
           len(list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1),
             i -> array_to_string(toks[i:i+2], ' ')))) AS distinct3
         FROM t)
       SELECT doc_id, n_words,
         round(mean_word_len, 6) AS mean_word_len,
         round(CASE WHEN total3 > 0 THEN 1.0 - CAST(distinct3 AS DOUBLE)/total3 ELSE 0.0 END, 6) AS rep_ratio,
         (n_words BETWEEN 10 AND 1000 AND mean_word_len BETWEEN 2.0 AND 12.0
          AND sym_ratio < 0.3 AND n_stops >= 2
          AND (CASE WHEN total3 > 0 THEN 1.0 - CAST(distinct3 AS DOUBLE)/total3 ELSE 0.0 END) < 0.3) AS keep
       FROM m ORDER BY doc_id""",
    // global token-stream offsets: the engine's distributed prefix sum
    // must equal this single plain running-sum window over doc_id order
    "q_token_shards" ->
      """WITH t AS (SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS n_tokens
         FROM documents),
       c AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum(CAST(n_tokens AS BIGINT))
             OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cume
         FROM t)
       SELECT doc_id, n_tokens, cume - n_tokens AS start_offset,
         (cume - n_tokens) // 2048 AS start_shard,
         CASE WHEN n_tokens = 0 THEN (cume - n_tokens) // 2048
              ELSE (cume - 1) // 2048 END AS end_shard,
         CASE WHEN n_tokens = 0 THEN FALSE
              ELSE (cume - n_tokens) // 2048 != (cume - 1) // 2048 END AS spans_boundary
       FROM c ORDER BY doc_id""",
    // regexp_extract returns '' on no match in BOTH engines → '(none)'
    "q_domain_stats" ->
      """SELECT CASE WHEN d = '' THEN '(none)' ELSE d END AS domain,
         count(*) AS n_docs, CAST(sum(nu) AS BIGINT) AS n_urls
         FROM (SELECT lower(regexp_extract(text, 'https?://([^/\s]+)', 1)) AS d,
                 len(regexp_extract_all(text, 'https?://[^\s]+')) AS nu
               FROM documents)
         GROUP BY 1 ORDER BY 1""",
    "q_bigram_counts" ->
      """SELECT bigram, count(*) AS n
         FROM (SELECT unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
                 i -> t[i] || ' ' || t[i+1])) AS bigram
               FROM (SELECT list_filter(regexp_split_to_array(text, '\s+'),
                       q -> length(q) > 0) AS t FROM documents))
         GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""",
    "q_tfidf_top" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
             q -> length(q) > 0)) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT doc_id, term,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
           FROM tf JOIN dfc USING (term) CROSS JOIN n)
       SELECT doc_id, rank, term, score
       FROM (SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
             FROM scored)
       WHERE rank <= 3 ORDER BY doc_id, rank""",
    // capitalization fixture (every 3rd token, 0-based) + anchored
    // capitalized-token extraction — DuckDB lists are 1-based, hence (i-1)
    "q_entities" ->
      """WITH toks AS (SELECT list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
           FROM documents),
         cap AS (SELECT list_transform(range(1, len(t)+1), i ->
             CASE WHEN (i-1) % 3 = 0 THEN upper(t[i][1]) || t[i][2:] ELSE t[i] END) AS ct
           FROM toks),
         e AS (SELECT unnest(list_filter(ct, w -> regexp_matches(w, '^[A-Z][a-zA-Z]+$'))) AS entity
           FROM cap)
         SELECT entity, count(*) AS n FROM e GROUP BY 1 ORDER BY 1""",
    // marker-word argmax; earliest language in (en,es,fr,de) wins ties
    // (strict > to replace in Text.langGuessOf); zero hits -> 'und'
    "q_lang_profile" ->
      """WITH toks AS (SELECT lang,
           list_transform(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0),
             t -> lower(t)) AS t FROM documents),
         c AS (SELECT lang,
           coalesce(len(list_filter(t, x -> x IN ('the','and','of','is','a'))), 0) AS c_en,
           coalesce(len(list_filter(t, x -> x IN ('el','la','de','que','y'))), 0) AS c_es,
           coalesce(len(list_filter(t, x -> x IN ('le','la','de','et','un'))), 0) AS c_fr,
           coalesce(len(list_filter(t, x -> x IN ('der','die','das','und','ist'))), 0) AS c_de
           FROM toks),
         g AS (SELECT lang,
           CASE WHEN greatest(c_en, c_es, c_fr, c_de) = 0 THEN 'und'
                WHEN c_en >= greatest(c_es, c_fr, c_de) THEN 'en'
                WHEN c_es >= greatest(c_fr, c_de) THEN 'es'
                WHEN c_fr >= c_de THEN 'fr'
                ELSE 'de' END AS lang_guess
           FROM c)
         SELECT lang, lang_guess, count(*) AS n FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_fingerprints" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         min(doc_id) AS keeper_doc_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keeper_doc_id""",
    // sliding-window chunker (C=32, S=24): per-doc chunk count is
    // 1 + (greatest(0, n-32) + 23) // 24 — exact integer arithmetic shared
    // with the Spark side; chunk i is tokens [i*24+1, i*24+32] (slice
    // clamps at the tail in both engines)
    "q_chunk_profile" ->
      s"""WITH base AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), q -> length(q) > 0) AS toks
           FROM documents),
         sized AS (
           SELECT doc_id, toks, len(toks) AS n_tokens FROM base WHERE len(toks) > 0),
         chunks AS (
           SELECT doc_id, n_tokens, u.i AS chunk_idx,
             md5(array_to_string(toks[(u.i*$ChunkStrideSql+1):(u.i*$ChunkStrideSql+$ChunkLenSql)], ' ')) AS chunk_hash,
             least($ChunkLenSql, n_tokens - u.i*$ChunkStrideSql) AS chunk_len
           FROM sized, unnest(generate_series(0,
             (greatest(0, n_tokens - $ChunkLenSql) + ${ChunkStrideSql - 1}) // $ChunkStrideSql)) AS u(i))
       SELECT doc_id, max(n_tokens) AS n_tokens, count(*) AS n_chunks,
         count(DISTINCT chunk_hash) AS n_distinct_chunks,
         min(chunk_len) AS last_chunk_len
       FROM chunks GROUP BY doc_id ORDER BY doc_id""",
    "q_chunk_dedup" ->
      s"""WITH base AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), q -> length(q) > 0) AS toks
           FROM documents),
         sized AS (
           SELECT doc_id, toks, len(toks) AS n_tokens FROM base WHERE len(toks) > 0),
         chunks AS (
           SELECT doc_id,
             md5(array_to_string(toks[(u.i*$ChunkStrideSql+1):(u.i*$ChunkStrideSql+$ChunkLenSql)], ' ')) AS chunk_hash
           FROM sized, unnest(generate_series(0,
             (greatest(0, n_tokens - $ChunkLenSql) + ${ChunkStrideSql - 1}) // $ChunkStrideSql)) AS u(i))
       SELECT chunk_hash, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
       FROM chunks GROUP BY 1 HAVING count(*) > 1
       ORDER BY n_occ DESC, n_docs DESC, chunk_hash LIMIT 20""",
    // CMS estimates are exact on this stream unless a tracked keyword collides
    // in ALL 10 sketch rows (p ≈ (31/1000)^10) — oracle = exact counts.
    // full CMS replay (not the true counts): DuckDB rebuilds the 10×1000
    // counter table with the engine's exact hash — BigInteger(1, md5(w||i))
    // mod 1000, folded 32 hex bits at a time — and answers the point query
    // as min over depth rows. Truth == estimate only while the vocabulary
    // is collision-free (sf ≤ 1); the replay stays exact at EVERY tier.
    "q_keyword_cms" ->
      """WITH tok AS (SELECT w, count(*) AS c FROM (
           SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
           FROM documents) GROUP BY 1),
       keys AS (SELECT unnest(['dup','hash','join','scan','stream']) AS w),
       univ AS (SELECT w, c FROM tok UNION ALL SELECT w, 0 FROM keys),
       hh AS (SELECT w, c, i,
           ((((((CAST('0x' || substr(md5(w || CAST(i AS VARCHAR)), 1, 8) AS UBIGINT) % 1000)
             * 4294967296 + CAST('0x' || substr(md5(w || CAST(i AS VARCHAR)), 9, 8) AS UBIGINT)) % 1000)
             * 4294967296 + CAST('0x' || substr(md5(w || CAST(i AS VARCHAR)), 17, 8) AS UBIGINT)) % 1000)
             * 4294967296 + CAST('0x' || substr(md5(w || CAST(i AS VARCHAR)), 25, 8) AS UBIGINT)) % 1000 AS h
         FROM univ, range(0, 10) r(i)),
       cell AS (SELECT i, h, sum(c) AS cnt FROM hh GROUP BY 1, 2),
       est AS (SELECT k.w AS keyword, min(cell.cnt) AS m
         FROM keys k JOIN hh ON hh.w = k.w
         JOIN cell ON cell.i = hh.i AND cell.h = hh.h
         GROUP BY 1)
       SELECT keyword, CAST(m AS BIGINT) AS est_count FROM est
       ORDER BY keyword""",
    // KMV/theta sketch replayed CONTENT-for-content: the 64 smallest
    // distinct 60-bit md5 prefixes per type, θ = least of the three
    // sketch thetas (2^60 when a sketch is not full), inclusion-rule
    // estimates on the 3-dp grid, exact twins by construction
    "q_kmv_overlap" ->
      s"""WITH d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u FROM events),
         h AS (SELECT event_type, ('0x' || substr(md5(u), 1, 15))::BIGINT AS hv FROM d),
         sk AS (SELECT event_type,
             (list_sort(list(DISTINCT hv)))[1:${graft.functions.Sketches.KmvK}] AS ks,
             count(*) AS exact_n
           FROM h GROUP BY 1),
         pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.ks AS ka, b.ks AS kb, a.exact_n AS na, b.exact_n AS nb,
             list_sort(list_distinct(list_concat(a.ks, b.ks))) AS combined
           FROM sk a JOIN sk b ON a.event_type < b.event_type),
         th AS (SELECT *, least(
             CASE WHEN len(ka) < ${graft.functions.Sketches.KmvK}
                  THEN ${1L << 60} ELSE ka[${graft.functions.Sketches.KmvK}] END,
             CASE WHEN len(kb) < ${graft.functions.Sketches.KmvK}
                  THEN ${1L << 60} ELSE kb[${graft.functions.Sketches.KmvK}] END,
             CASE WHEN len(combined) < ${graft.functions.Sketches.KmvK}
                  THEN ${1L << 60} ELSE combined[${graft.functions.Sketches.KmvK}] END) AS theta
           FROM pr),
         est AS (SELECT type_a, type_b, na, nb, theta,
             len(list_filter(combined, x -> x < theta)) AS nv,
             len(list_filter(list_intersect(ka, kb), x -> x < theta)) AS ni
           FROM th),
         ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS ei
           FROM d a JOIN d b ON a.u = b.u AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT e.type_a, e.type_b,
           CASE WHEN theta = ${1L << 60} THEN CAST(nv AS DOUBLE)
                ELSE round(CAST(nv AS DOUBLE) * CAST(${1L << 60} AS DOUBLE)
                           / CAST(theta AS DOUBLE), 3) END AS kmv_union,
           CASE WHEN theta = ${1L << 60} THEN CAST(ni AS DOUBLE)
                ELSE round(CAST(ni AS DOUBLE) * CAST(${1L << 60} AS DOUBLE)
                           / CAST(theta AS DOUBLE), 3) END AS kmv_inter,
           CAST(na + nb - coalesce(ei, 0) AS BIGINT) AS exact_union,
           CAST(coalesce(ei, 0) AS BIGINT) AS exact_inter
         FROM est e LEFT JOIN ex ON e.type_a = ex.type_a AND e.type_b = ex.type_b
         ORDER BY e.type_a, e.type_b""",
    // exact oracle valid because the corpus vocabulary fits the MG counter
    // budget (candidate set lossless); see SketchQueries.heavyHitters
    // heavy hitter = count above the MG support floor N/(k+1), k = 1024 —
    // exactly the set the sketch provably retains, so membership is
    // deterministic at every tier (a uniform vocabulary yields zero rows)
    "q_heavy_hitters" ->
      raw"""WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w FROM documents),
       nt AS (SELECT count(*) AS tot FROM tok)
       SELECT w AS word, count(*) AS n
       FROM tok CROSS JOIN nt
       GROUP BY w, tot HAVING count(*) * ${graft.functions.Sketches.MgCounters + 1} > tot
       ORDER BY n DESC, word LIMIT 10""",
    "q_cms_grouped" ->
      """SELECT e.event_type, d.decile, coalesce(c.n, 0) AS est_count
         FROM (SELECT DISTINCT event_type FROM events) e
         CROSS JOIN (SELECT range AS decile FROM range(10)) d
         LEFT JOIN (SELECT event_type, user_id % 10 AS decile, count(*) AS n
                    FROM events GROUP BY 1, 2) c
           ON e.event_type = c.event_type AND d.decile = c.decile
         ORDER BY e.event_type, d.decile""",
    "q_embed_dup_smalltier" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
         ORDER BY vec_a, vec_b""",
    // Budgeted metric join: the oracle replays the quantizer and its chord
    // distances (ChordCte), the min-chord-distance assignment (EXACTLY the engine's min_by
    // (cdist, cid) ordering — sqrt can collapse adjacent cosines, so the
    // replay ranks by the same cdist, not by ccos), the md5 probe sample,
    // and the probe×member verification. The triangle prune needs no
    // replay: it admits no false negatives, so pruned cell pairs hold no
    // qualifying pair by construction.
    "q_embed_dup_capped" ->
      (ChordCte + raw""",
         s4 AS (SELECT w.vec_id, e.v, e.vn, w.cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cdist, cid) AS rn
             FROM cd) w JOIN emb e ON e.vec_id = w.vec_id WHERE w.rn = 1),
         sz AS (SELECT cid, count(*) AS csz FROM s4 GROUP BY 1),
         pr AS (SELECT vec_id, v, vn, cid FROM (
             SELECT vec_id, v, vn, cid,
               row_number() OVER (PARTITION BY cid
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
             FROM s4) WHERE rn <= ${SimilarityQueries.EmbedDupProbes}),
         pairs AS (SELECT DISTINCT
             least(a.vec_id, b.vec_id) AS vec_a,
             greatest(a.vec_id, b.vec_id) AS vec_b,
             round(list_dot_product(a.v, b.v) / (a.vn * b.vn), 6) AS cosine,
             least(a.cid, b.cid) AS ca, greatest(a.cid, b.cid) AS cb
           FROM pr a JOIN s4 b ON a.vec_id != b.vec_id
           WHERE list_dot_product(a.v, b.v) / (a.vn * b.vn)
             >= ${SimilarityQueries.EmbedDupThreshold})
         SELECT vec_a, vec_b, cosine,
           (CASE WHEN sa.csz > ${SimilarityQueries.EmbedDupProbes} THEN 1 ELSE 0 END
            + CASE WHEN sb.csz > ${SimilarityQueries.EmbedDupProbes} THEN 1 ELSE 0 END)
             AS cells_truncated,
           ${SimilarityQueries.EmbedDupProbes} AS probe_budget
         FROM pairs JOIN sz sa ON ca = sa.cid JOIN sz sb ON cb = sb.cid
         ORDER BY vec_a, vec_b"""),
    "q_subword_stats" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_subwords,
         len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS n_tokens
         FROM documents ORDER BY doc_id""",
    // stub decode arithmetic mirrors Multimodal.decodeStub on byte length
    "q_media_meta" ->
      """SELECT 'img/' || source AS media_type, count(*) AS n,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         round(avg(64 + (strlen(text)*7) % 513), 6) AS avg_width,
         round(avg(64 + (strlen(text)*13) % 513), 6) AS avg_height,
         round(avg(1 + strlen(text) % 3), 6) AS avg_channels
         FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY 1""",
    // document payloads are UTF-8 text -> stub arithmetic; the 17 fixture
    // rows are REAL decoded pixels, pinned to the independent Python
    // statistics of tools/make_fixtures.py (PNG/BMP raw patterns) and
    // tools/make_jpeg_fixtures.py (integer-IDCT decoder twin over the
    // encoded bytes) — full-precision literals, rounded here
    "q_media_features" ->
      """SELECT doc_id, round(sqrt(list_dot_product(f, f)), 6) AS feature_norm
         FROM (SELECT doc_id, list_transform([7,11,13,17,19,23,29,31],
                 p -> ((strlen(text)*p) % 1000)/1000.0) AS f
               FROM documents WHERE text IS NOT NULL)
         UNION ALL
         SELECT CAST(fid AS BIGINT) AS doc_id, round(fnorm, 6) AS feature_norm
         FROM (VALUES
           (-1, 0.3542432515235823),
           (-2, 0.42847841252506524),
           (-3, 0.3542432515235823),
           (-4, 0.42847841252506524),
           (-5, 0.43204937989385733),
           (-6, 0.45069390943299864),
           (-7, 0.43204937989385733),
           (-8, 0.4419417382415922),
           (-9, 0.4346134936801766),
           (-10, 0.5014627042462879),
           (-11, 0.6778441238588707),
           (-12, 0.43985155195259007),
           (-13, 0.44158804331639234),
           (-14, 0.4026280852101602),
           (-15, 0.44180360986245915),
           (-16, 0.42192972324550054),
           (-17, 0.42999515501146446),
           (-18, 0.4115613150544919),
           (-19, 0.4367243330856382),
           (-20, 0.5014627042462879),
           (-21, 0.44170356667829447),
           (-22, 0.42130748865881795),
           (-23, 0.4346134936801766),
           (-24, 0.45069390943299864),
           (-25, 0.4026280852101602),
           (-26, 0.44180360986245915),
           (-27, 0.42192972324550054)) t(fid, fnorm)
         ORDER BY doc_id""",
    // every row is a committed binary fixture decoded to raw pixels by the
    // engine (PNG Inflater + defilter / BMP stride+BGR normalization); the
    // expected statistics come from tools/make_fixtures.py's independent
    // implementation over the raw patterns
    "q_media_pixels" ->
      """SELECT CAST(fid AS BIGINT) AS doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height, CAST(ch AS INTEGER) AS channels,
           round(luma, 6) AS luma_mean, round(fnorm, 6) AS feature_norm
         FROM (VALUES
           (-1, 8, 8, 1, 125.0,              0.3542432515235823),
           (-2, 8, 8, 3, 127.234375,         0.42847841252506524),
           (-3, 8, 8, 2, 125.0,              0.3542432515235823),
           (-4, 8, 8, 4, 127.234375,         0.42847841252506524),
           (-5, 5, 6, 3, 118.86666666666666, 0.43204937989385733),
           (-6, 4, 4, 4, 110.0,              0.45069390943299864),
           (-7, 5, 6, 3, 118.86666666666666, 0.43204937989385733),
           (-8, 8, 8, 3, 124.71875,          0.4419417382415922),
           (-9, 6, 5, 3, 120.46666666666667, 0.4346134936801766),
           (-10, 8, 8, 1, 58.0,              0.5014627042462879),
           (-11, 8, 8, 3, 34.96875,          0.6778441238588707),
           (-12, 7, 5, 3, 127.97142857142858, 0.43985155195259007),
           (-13, 10, 4, 3, 125.925,          0.44158804331639234),
           (-14, 8, 8, 1, 126.046875,        0.4026280852101602),
           (-15, 16, 8, 3, 126.4453125,      0.44180360986245915),
           (-16, 18, 10, 3, 126.91666666666667, 0.42192972324550054),
           (-17, 24, 8, 3, 126.953125,       0.42999515501146446),
           (-18, 10, 9, 3, 122.36666666666666, 0.4115613150544919),
           (-19, 9, 7, 3, 118.61904761904762, 0.4367243330856382),
           (-20, 8, 8, 1, 58.0,              0.5014627042462879),
           (-21, 7, 5, 3, 115.91428571428571, 0.44170356667829447),
           (-22, 10, 4, 3, 110.0,            0.42130748865881795),
           (-23, 6, 5, 3, 96.26666666666667, 0.4346134936801766),
           (-24, 4, 4, 4, 110.0,             0.45069390943299864),
           (-25, 8, 8, 1, 126.046875,        0.4026280852101602),
           (-26, 16, 8, 3, 126.4453125,      0.44180360986245915),
           (-27, 18, 10, 3, 126.91666666666667, 0.42192972324550054))
           t(fid, w, h, ch, luma, fnorm)
         ORDER BY doc_id""",
    // round-trip identity: the engine re-encodes with its own PNG writer
    // (stored deflate -> closed-form length) and decodes its own output;
    // luma must equal the independent original-decode stats
    "q_media_reencode" ->
      """SELECT CAST(fid AS BIGINT) AS doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height, CAST(ch AS INTEGER) AS channels,
           CAST(63 + h * (1 + w * ch)
                + 5 * CAST(ceil((h * (1 + w * ch)) / 65535.0) AS BIGINT)
             AS BIGINT) AS png_len,
           round(luma, 6) AS luma_mean
         FROM (VALUES
           (-1, 8, 8, 1, 125.0),
           (-2, 8, 8, 3, 127.234375),
           (-3, 8, 8, 2, 125.0),
           (-4, 8, 8, 4, 127.234375),
           (-5, 5, 6, 3, 118.86666666666666),
           (-6, 4, 4, 4, 110.0),
           (-7, 5, 6, 3, 118.86666666666666),
           (-8, 8, 8, 3, 124.71875),
           (-9, 6, 5, 3, 120.46666666666667),
           (-10, 8, 8, 1, 58.0),
           (-11, 8, 8, 3, 34.96875),
           (-12, 7, 5, 3, 127.97142857142858),
           (-13, 10, 4, 3, 125.925),
           (-14, 8, 8, 1, 126.046875),
           (-15, 16, 8, 3, 126.4453125),
           (-16, 18, 10, 3, 126.91666666666667),
           (-17, 24, 8, 3, 126.953125),
           (-18, 10, 9, 3, 122.36666666666666),
           (-19, 9, 7, 3, 118.61904761904762),
           (-20, 8, 8, 1, 58.0),
           (-21, 7, 5, 3, 115.91428571428571),
           (-22, 10, 4, 3, 110.0),
           (-23, 6, 5, 3, 96.26666666666667),
           (-24, 4, 4, 4, 110.0),
           (-25, 8, 8, 1, 126.046875),
           (-26, 16, 8, 3, 126.4453125),
           (-27, 18, 10, 3, 126.91666666666667))
           t(fid, w, h, ch, luma)
         ORDER BY doc_id""",
    // every row: committed fixture decoded then nearest-neighbor-resampled
    // to 3x2 by the engine; expected means replayed by make_fixtures.py's
    // independent resize_stats() over the raw patterns (same floor mapping)
    "q_media_resize" ->
      """SELECT CAST(fid AS BIGINT) AS doc_id, 3 AS width, 2 AS height,
           CAST(ch AS INTEGER) AS channels, round(luma, 6) AS luma_mean
         FROM (VALUES
           (-1, 1, 86.33333333333333),
           (-2, 3, 90.16666666666667),
           (-3, 2, 86.33333333333333),
           (-4, 4, 90.16666666666667),
           (-5, 3, 91.83333333333333),
           (-6, 4, 83.33333333333333),
           (-7, 3, 91.83333333333333),
           (-8, 3, 97.5),
           (-9, 3, 117.33333333333333),
           (-10, 1, 38.333333333333336),
           (-11, 3, 22.166666666666668),
           (-12, 3, 107.83333333333333),
           (-13, 3, 114.83333333333333),
           (-14, 1, 133.33333333333334),
           (-15, 3, 83.0),
           (-16, 3, 120.33333333333333),
           (-17, 3, 114.33333333333333),
           (-18, 3, 114.0),
           (-19, 3, 90.5),
           (-20, 1, 38.333333333333336),
           (-21, 3, 117.33333333333333),
           (-22, 3, 73.83333333333333),
           (-23, 3, 77.0),
           (-24, 4, 83.33333333333333),
           (-25, 1, 133.33333333333334),
           (-26, 3, 83.0),
           (-27, 3, 120.33333333333333)) t(fid, ch, luma)
         ORDER BY doc_id""",
    // frame profile mirrors frameSampleStub arithmetic on byte length
    "q_media_frames" ->
      """SELECT doc_id,
         CASE WHEN strlen(text) // 4 > 0 THEN 4 ELSE 0 END AS n_frames,
         strlen(text) // 4 AS frame_len
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",
    // every row is a committed WAV fixture decoded by the engine's RIFF/PCM
    // chunk walker; expected statistics from tools/make_av_fixtures.py's
    // independent Python implementation over the raw integer patterns
    "q_media_audio" ->
      """SELECT CAST(fid AS BIGINT) AS doc_id,
           CAST(sr AS INTEGER) AS sample_rate, CAST(ch AS INTEGER) AS channels,
           CAST(b AS INTEGER) AS bits, CAST(nf AS INTEGER) AS n_frames,
           round(dur, 6) AS duration_ms, round(r, 6) AS rms,
           round(pk, 6) AS peak, CAST(zc AS INTEGER) AS zero_cross
         FROM (VALUES
           (-101, 8000, 1, 16, 64, 8.0, 0.07297891665970874, 0.12261962890625, 38),
           (-102, 16000, 2, 16, 48, 3.0, 0.0313306047706921, 0.06103515625, 7),
           (-103, 11025, 1, 8, 80, 7.2562358276643995, 0.5780986058164083, 0.9921875, 21),
           (-104, 22050, 1, 16, 40, 1.8140589569160999, 0.018423275127541387, 0.03125, 34))
           t(fid, sr, ch, b, nf, dur, r, pk, zc)
         ORDER BY doc_id""",
    // every row: a frame sampled (3 evenly spaced) from a committed clip
    // fixture — animated GIF (incl. an interlace-flagged one, -205) via
    // the engine's real LZW + four-pass de-interlace, or MJPEG-in-AVI
    // (-206) via the RIFF container walk + the engine's own JPEG decoder;
    // expected values from make_av_fixtures.py / make_video_fixtures.py's
    // independent raw-pattern / decoder-twin implementations (GIF streams
    // round-trip-checked by an independent spec-derived LZW decoder at
    // generation time)
    "q_media_video" ->
      """SELECT CAST(fid AS BIGINT) AS doc_id, CAST(ix AS INTEGER) AS frame_ix,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           round(luma, 6) AS luma_mean
         FROM (VALUES
           (-201, 0, 10, 8, 105.875),
           (-201, 1, 10, 8, 103.1875),
           (-201, 2, 10, 8, 105.875),
           (-202, 0, 7, 5, 114.77142857142857),
           (-203, 0, 5, 4, 113.3),
           (-203, 1, 5, 4, 134.7),
           (-203, 2, 5, 4, 131.35),
           (-204, 0, 12, 3, 127.97222222222223),
           (-204, 1, 12, 3, 135.36111111111111),
           (-204, 2, 12, 3, 136.38888888888889),
           (-205, 0, 9, 13, 121.78632478632478),
           (-205, 1, 9, 13, 114.41880341880342),
           (-205, 2, 9, 13, 121.56410256410257),
           (-206, 0, 16, 8, 126.4453125),
           (-206, 1, 16, 8, 125.28125),
           (-206, 2, 16, 8, 129.9921875))
           t(fid, ix, w, h, luma)
         ORDER BY doc_id, frame_ix""",
    "q_daily_full_outer" ->
      """SELECT coalesce(p.day, e.day) AS day,
         coalesce(p.n_purchase, 0) AS n_purchase,
         coalesce(e.n_error, 0) AS n_error
         FROM (SELECT date_trunc('day', ts) AS day, count(*) AS n_purchase
               FROM events WHERE event_type = 'purchase' GROUP BY 1) p
         FULL OUTER JOIN (SELECT date_trunc('day', ts) AS day, count(*) AS n_error
               FROM events WHERE event_type = 'error' GROUP BY 1) e
           ON p.day = e.day
         ORDER BY day""",
    "q_value_histogram" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
         count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",
    // zero false positives at these cardinalities (m=2^20, ~10^2 members,
    // deterministic md5 positions) → probe count == exact semi-join count
    "q_bloom_join" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
         SELECT (SELECT count(*) FROM s) AS n_signup,
                (SELECT count(*) FROM s JOIN p USING (user_id)) AS n_bloom_maybe,
                (SELECT count(*) FROM s JOIN p USING (user_id)) AS n_exact_both""",
    "q_neardup_editdist" ->
      (JaccardCte +
        """ SELECT jp.doc_a, jp.doc_b, jp.jaccard,
            levenshtein(x.text, y.text) AS edit_dist
            FROM jp JOIN documents x ON jp.doc_a = x.doc_id
            JOIN documents y ON jp.doc_b = y.doc_id
            ORDER BY jp.doc_a, jp.doc_b"""),
    "q_jaccard_pairs" -> JaccardOracle,
    // connected components of the same pair graph via recursive reachability
    // (undirected edges both ways; component label = min reachable node)
    "q_dedup_components" ->
      (JaccardCte.replaceFirst("WITH", "WITH RECURSIVE") +
        """, edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
             UNION ALL SELECT doc_b, doc_a FROM jp),
          reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node)
          SELECT node AS doc_id, min(comp) AS component,
                 (node = min(comp)) AS is_keeper
          FROM reach GROUP BY node ORDER BY node"""),
    // end-to-end curation funnel: dedup survivors (recursive components
    // CTE) -> quality keep (q_quality_lr arithmetic) -> lang gate, per
    // source with shipping token count
    "q_corpus_final" ->
      (JaccardCte.replaceFirst("WITH", "WITH RECURSIVE") +
        raw""", edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
             UNION ALL SELECT doc_b, doc_a FROM jp),
          reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
          lab AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
          qft AS (SELECT doc_id, len(t)*1.0 AS n,
              list_sum(list_transform(t, q -> length(q)))*1.0/len(t) AS mean_len,
              len(list_distinct(t))*1.0/len(t) AS ttr,
              len(list_filter(t, q -> list_contains(
                [${graft.functions.Text.Stopwords.map(w => s"'$w'").mkString(",")}],
                lower(q))))*1.0/len(t) AS stop_r
            FROM toks WHERE len(t) > 0),
          qzt AS (SELECT doc_id,
              round((${PipelineQueries.LrBias}) + (${PipelineQueries.LrWLogLen})*ln(1.0+n)
                + (${PipelineQueries.LrWStop})*stop_r + (${PipelineQueries.LrWMeanLen})*mean_len
                + (${PipelineQueries.LrWTtr})*ttr, 6) AS z
            FROM qft),
          qk AS (SELECT doc_id,
              (round(1.0/(1.0+exp(-z)), 6) >= 0.5) AS keep FROM qzt),
          base AS (SELECT d.doc_id, d.source, d.lang,
              CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'),
                q -> length(q) > 0)) AS BIGINT) AS nt,
              (lab.node IS NULL OR lab.node = lab.component) AS g1,
              coalesce(qk.keep, false) AS keep
            FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
              LEFT JOIN qk ON d.doc_id = qk.doc_id)
          SELECT source, count(*) AS n_docs,
            CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
            CAST(sum(CASE WHEN g1 AND keep THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
            CAST(sum(CASE WHEN g1 AND keep AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
            CAST(sum(CASE WHEN g1 AND keep AND lang = 'en' THEN nt ELSE 0 END) AS BIGINT) AS final_tokens
          FROM base GROUP BY 1 ORDER BY 1"""),
    // quality-aware canonical per cluster: same recursive components CTE,
    // quality-LR score CTEs (the q_quality_lr arithmetic verbatim), then
    // best = max(score) and canonical = min doc_id among the best-scored
    "q_dedup_canonical" ->
      (JaccardCte.replaceFirst("WITH", "WITH RECURSIVE") +
        raw""", edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
             UNION ALL SELECT doc_b, doc_a FROM jp),
          reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
          lab AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
          qft AS (SELECT doc_id, len(t)*1.0 AS n,
              list_sum(list_transform(t, q -> length(q)))*1.0/len(t) AS mean_len,
              len(list_distinct(t))*1.0/len(t) AS ttr,
              len(list_filter(t, q -> list_contains(
                [${graft.functions.Text.Stopwords.map(w => s"'$w'").mkString(",")}],
                lower(q))))*1.0/len(t) AS stop_r
            FROM toks WHERE len(t) > 0),
          qzt AS (SELECT doc_id,
              round((${PipelineQueries.LrBias}) + (${PipelineQueries.LrWLogLen})*ln(1.0+n)
                + (${PipelineQueries.LrWStop})*stop_r + (${PipelineQueries.LrWMeanLen})*mean_len
                + (${PipelineQueries.LrWTtr})*ttr, 6) AS z
            FROM qft),
          qsc AS (SELECT doc_id, round(1.0/(1.0+exp(-z)), 6) AS score FROM qzt),
          jn AS (SELECT lab.component, lab.node AS doc_id, qsc.score
            FROM lab JOIN qsc ON qsc.doc_id = lab.node),
          ag AS (SELECT component, count(*) AS cluster_size, max(score) AS best
            FROM jn GROUP BY component)
          SELECT a.component, a.cluster_size,
            min(j.doc_id) AS canonical_doc, a.best AS canonical_score,
            (min(j.doc_id) <> a.component) AS moved
          FROM ag a JOIN jn j ON j.component = a.component AND j.score = a.best
          GROUP BY a.component, a.cluster_size, a.best
          ORDER BY a.component"""),
    // cluster-size histogram off the same recursive components CTE
    "q_dedup_profile" ->
      (JaccardCte.replaceFirst("WITH", "WITH RECURSIVE") +
        """, edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
             UNION ALL SELECT doc_b, doc_a FROM jp),
          reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
          lab AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
          cs AS (SELECT component, count(*) AS sz FROM lab GROUP BY 1)
          SELECT sz AS cluster_size, count(*) AS n_clusters,
            sz * count(*) AS n_docs,
            (sz - 1) * count(*) AS n_removed
          FROM cs GROUP BY sz ORDER BY sz"""),
    // dedup-aware split: unit = cluster label (singletons: own doc_id),
    // the hashSplit bucket rule on md5(unit); leaked_pairs proves cluster
    // co-location (0), naive_leaked_pairs is the per-doc counterfactual
    "q_dedup_split" ->
      (JaccardCte.replaceFirst("WITH", "WITH RECURSIVE") +
        """, edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
             UNION ALL SELECT doc_b, doc_a FROM jp),
          reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
          lab AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
          sp AS (SELECT d.doc_id,
              coalesce(lab.component, d.doc_id) AS unit,
              (lab.node IS NOT NULL) AS clustered,
              CASE WHEN substring(md5(CAST(coalesce(lab.component, d.doc_id) AS VARCHAR)), 1, 1) IN ('d', 'e') THEN 'val'
                   WHEN substring(md5(CAST(coalesce(lab.component, d.doc_id) AS VARCHAR)), 1, 1) = 'f' THEN 'test'
                   ELSE 'train' END AS split,
              CASE WHEN substring(md5(d.text), 1, 1) IN ('d', 'e') THEN 'val'
                   WHEN substring(md5(d.text), 1, 1) = 'f' THEN 'test'
                   ELSE 'train' END AS nsplit
            FROM documents d LEFT JOIN lab ON d.doc_id = lab.node),
          counts AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT unit) AS BIGINT) AS n_units,
              CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered_docs
            FROM sp GROUP BY 1),
          lk AS (SELECT a.split,
              CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS lp
            FROM jp JOIN sp a ON jp.doc_a = a.doc_id
              JOIN sp b ON jp.doc_b = b.doc_id GROUP BY 1),
          nk AS (SELECT a.nsplit AS split,
              CAST(sum(CASE WHEN a.nsplit <> b.nsplit THEN 1 ELSE 0 END) AS BIGINT) AS np
            FROM jp JOIN sp a ON jp.doc_a = a.doc_id
              JOIN sp b ON jp.doc_b = b.doc_id GROUP BY 1)
          SELECT c.split, c.n_docs, c.n_units, c.n_clustered_docs,
            CAST(coalesce(lk.lp, 0) AS BIGINT) AS leaked_pairs,
            CAST(coalesce(nk.np, 0) AS BIGINT) AS naive_leaked_pairs
          FROM counts c LEFT JOIN lk ON c.split = lk.split
            LEFT JOIN nk ON c.split = nk.split
          ORDER BY c.split"""),
    // survivors = all docs minus non-keeper cluster members
    "q_dedup_corpus" ->
      (JaccardCte.replaceFirst("WITH", "WITH RECURSIVE") +
        """, edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
             UNION ALL SELECT doc_b, doc_a FROM jp),
          reach(node, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
          lab AS (SELECT node, min(comp) AS component FROM reach GROUP BY node)
          SELECT d.doc_id,
                 CASE WHEN lab.node IS NOT NULL THEN 'keeper' ELSE 'unique' END AS kept_as
          FROM documents d
          LEFT JOIN lab ON d.doc_id = lab.node
          WHERE lab.node IS NULL OR lab.node = lab.component
          ORDER BY d.doc_id"""),
    // prefix filtering is exact by construction → same oracle
    "q_jaccard_prefix" -> JaccardOracle,
    // minhash-LSH misses a J>=0.8 pair with p~5e-8 → same exact oracle
    "q_minhash_dedup" -> JaccardOracle,
    // cross-source containment matrix off the same verified pair CTE:
    // directed edges → per-(src_a, src_b) distinct src_a docs with a
    // partner in src_b, on the full S×S grid (zeros measured, not absent)
    "q_source_dup" ->
      (JaccardCte +
        """, edges AS (SELECT doc_a, doc_b FROM jp
             UNION ALL SELECT doc_b, doc_a FROM jp),
          es AS (SELECT s1.source AS src_a, s2.source AS src_b, e.doc_a
            FROM edges e
            JOIN documents s1 ON s1.doc_id = e.doc_a
            JOIN documents s2 ON s2.doc_id = e.doc_b),
          dup AS (SELECT src_a, src_b,
              CAST(count(DISTINCT doc_a) AS BIGINT) AS dup_docs
            FROM es GROUP BY 1, 2),
          tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
          SELECT a.source AS src_a, b.source AS src_b, a.n_docs,
            COALESCE(dup.dup_docs, 0) AS dup_docs,
            round(COALESCE(dup.dup_docs, 0) * 1.0 / a.n_docs, 6) AS dup_rate
          FROM tot a CROSS JOIN tot b
          LEFT JOIN dup ON dup.src_a = a.source AND dup.src_b = b.source
          ORDER BY src_a, src_b"""),
    // 1-based element access over the first 8 dims; Spark's posexplode dim
    // is 0-based, hence i - 1
    "q_label_centroids" ->
      """SELECT label, i - 1 AS dim,
         round(avg(CAST(embedding AS DOUBLE[])[i]), 6) AS mean_val,
         count(*) AS n_vecs
         FROM embeddings, range(1, 9) t(i)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // the two Lloyd rounds unrolled as CTEs: same lowest-vec_id seeds,
    // same argmax-cosine assignment (tie -> lowest cid), same 6-dp mean
    // rounding, empty cells keep their previous centroid. Sequential-fold
    // dots (list_dot_product == the engine's codegen fold) + the rounding
    // grid make every intermediate identical across engines.
    "q_kmeans_centroids" ->
      (KmeansCte +
        """ SELECT cid, i - 1 AS dim, cv[i] AS mean_val
         FROM c2, range(1, 65) t(i) ORDER BY cid, dim"""),
    "q_knn_cosine" ->
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings),
         j AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
               FROM n q JOIN n c ON c.vec_id != q.vec_id WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM j QUALIFY rank <= 10 ORDER BY query_id, rank""",
    // full oracle for the sign-LSH ANN (VERDICT r4 #5): the hyperplanes
    // inline as DOUBLE[] literals (see LshBucketSql), so DuckDB rebuilds
    // the identical buckets and replays the bucket-local top-3 exactly
    "q_ann_lsh" ->
      (s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings),
         b AS (SELECT vec_id, v, nrm, $LshBucketSql AS bucket FROM n),
         j AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
               FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
               WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM j QUALIFY rank <= 3 ORDER BY query_id, rank"""),
    // full oracle for IVF-flat (VERDICT r4 #5): the fitted quantizer's two
    // Lloyd rounds replay as the shared KmeansCte (already bit-pinned by
    // q_kmeans_centroids), then the same argmax assignment, inverted-list
    // join (nprobe=1), and per-query top-3
    "q_ann_ivf" ->
      (KmeansCte +
        """, a3 AS (SELECT e.vec_id, c.cid,
             list_dot_product(e.v, c.cv) / (e.vn * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
           FROM emb e CROSS JOIN c2 c),
         s3 AS (SELECT w.vec_id, e.v, e.vn, w.cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
             FROM a3) w JOIN emb e ON e.vec_id = w.vec_id WHERE w.rn = 1),
         j AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_dot_product(q.v, c.v) / (q.vn * c.vn), 6) AS cosine
               FROM s3 q JOIN s3 c ON c.cid = q.cid AND c.vec_id != q.vec_id
               WHERE q.vec_id < 10)
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         FROM j QUALIFY rank <= 3 ORDER BY query_id, rank"""),
    // PQ family (Jégou et al. 2011): all four sub-codebook fits replay as
    // the PqCte unrolled Lloyd rounds — centroid components, codes and
    // ADC ranks must all match bit-for-bit
    "q_pq_codebooks" ->
      (PqCte +
        s""" SELECT sub, cid, i - 1 AS dim, cv[i] AS mean_val
         FROM pqcb, range(1, ${SimilarityQueries.PqSubDim + 1}) t(i)
         ORDER BY sub, cid, dim"""),
    "q_pq_codes" ->
      (PqCte +
        """ SELECT vec_id, sub, code, round(d2, 6) AS dist2
         FROM pqcodes WHERE vec_id < 100 ORDER BY vec_id, sub"""),
    "q_ann_pq" ->
      (PqCte +
        """, lut AS (SELECT e.query_id, e.sub, c.cid,
             CAST(round((e.qn2 - 2*list_dot_product(e.qv, c.cv))
                        + list_dot_product(c.cv, c.cv), 6) AS DECIMAL(18,6)) AS qd2
           FROM (""" +
        (0 until SimilarityQueries.PqSub).map { j =>
          s"""SELECT vec_id AS query_id, $j AS sub, sv AS qv, vn2 AS qn2
              FROM e${j}n WHERE vec_id < 10"""
        }.mkString(" UNION ALL ") +
        """) e JOIN pqcb c USING (sub)),
         adc AS (SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.qd2) AS adc
           FROM pqcodes c JOIN lut l ON l.sub = c.sub AND l.cid = c.code
           WHERE c.vec_id != l.query_id GROUP BY 1, 2)
         SELECT query_id, neighbor_id, round(CAST(adc AS DOUBLE), 6) AS adc_dist,
                row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
         FROM adc QUALIFY rank <= 3 ORDER BY query_id, rank"""),
    // IVFADC: coarse cell + residual codes; lut terms come from the
    // residual sub-frames (e{j}n over resid), candidates restricted to
    // the query's inverted list (nprobe=1)
    "q_ivfpq_codes" ->
      (IvfPqCte +
        """ SELECT c.vec_id, a.ccid, c.sub, c.code
         FROM pqcodes c JOIN resid a USING (vec_id)
         WHERE c.vec_id < 100 ORDER BY c.vec_id, c.sub"""),
    "q_ann_ivfpq" ->
      (IvfPqCte +
        """, lut AS (""" +
        (0 until SimilarityQueries.PqSub).map { j =>
          s"""SELECT e.vec_id AS query_id, r.ccid AS qccid, $j AS sub, c.cid,
              CAST(round((e.vn2 - 2*list_dot_product(e.sv, c.cv))
                         + list_dot_product(c.cv, c.cv), 6) AS DECIMAL(18,6)) AS qd2
            FROM e${j}n e JOIN resid r USING (vec_id) CROSS JOIN k${j}_2 c
            WHERE e.vec_id < 10"""
        }.mkString(" UNION ALL ") +
        """),
         adc AS (SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.qd2) AS adc
           FROM pqcodes c
           JOIN resid a USING (vec_id)
           JOIN lut l ON l.qccid = a.ccid AND l.sub = c.sub AND l.cid = c.code
           WHERE c.vec_id != l.query_id GROUP BY 1, 2)
         SELECT query_id, neighbor_id, round(CAST(adc AS DOUBLE), 6) AS adc_dist,
                row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
         FROM adc QUALIFY rank <= 3 ORDER BY query_id, rank"""),
    "q_opq_assign" ->
      (OpqAllocCte + """
         SELECT CAST(dim AS INT) AS dim, CAST(vr AS DOUBLE) AS variance, sub,
           CAST(row_number() OVER (PARTITION BY sub ORDER BY dim) AS INT) AS pos
         FROM oassign ORDER BY dim"""),
    "q_opq_codebooks" ->
      (OpqCte +
        s""" SELECT sub, cid, i - 1 AS dim, cv[i] AS mean_val
         FROM opqcb, range(1, ${SimilarityQueries.PqSubDim + 1}) t(i)
         ORDER BY sub, cid, dim"""),
    "q_opq_gain" ->
      (OpqGainCte + """
         SELECT sub, variant,
           CAST(sum(CAST(round(d2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS err
         FROM (SELECT sub, 'pq' AS variant, d2 FROM pqcodes
               UNION ALL SELECT sub, 'opq' AS variant, d2 FROM opqcodes)
         GROUP BY sub, variant ORDER BY variant, sub"""),
    // DECIMAL accumulation on both sides: order-independent exact sums, so
    // Spark's partial-merge order and DuckDB's parallel fold agree at ANY
    // SF (doubles diverge in the 6th decimal past ~10^5 rows). Product
    // sums (scale 4/6) re-round to CENTS while still decimal: past
    // 2^53/10^scale the decimal→double conversion itself differs between
    // engines by an ulp (hit by sum_charge at the 10× tier); a scale-2 sum
    // casts exactly until ~9e13.
    "q_pricing_summary" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
         sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
         sum(CAST(l_discount AS DECIMAL(12,2))) AS sd,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_disc_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2)) * CAST(1 + l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_charge,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus,
         CAST(sq AS DOUBLE) AS sum_qty,
         CAST(sp AS DOUBLE) AS sum_base_price,
         sum_disc_price, sum_charge,
         CAST((2 * CAST(sq * 1000000 AS HUGEINT) + count_order)
           // (2 * count_order) AS DOUBLE) / 1000000.0 AS avg_qty,
         CAST((2 * CAST(sp * 1000000 AS HUGEINT) + count_order)
           // (2 * count_order) AS DOUBLE) / 1000000.0 AS avg_price,
         CAST((2 * CAST(sd * 1000000 AS HUGEINT) + count_order)
           // (2 * count_order) AS DOUBLE) / 1000000.0 AS avg_disc,
         count_order
         FROM g ORDER BY 1, 2""",
    "q_pricing_exact" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_disc_price,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2)) * CAST(1 + l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_charge,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_revenue_by_nation" ->
      """SELECT r_name, n_name,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_window_topk" ->
      """SELECT l_returnflag, rn, l_orderkey, l_linenumber, l_extendedprice
         FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
           FROM lineitem)
         WHERE rn <= 3 ORDER BY l_returnflag, rn""",
    "q_setop_engaged" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
         ORDER BY user_id""",
    "q_semi_urgent" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_orders_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    // DuckDB's native ASOF JOIN oracles the union+LOCF composition; view
    // rows pre-deduped to (user, ts) -> max(value) for a deterministic pick
    "q_asof_join" ->
      """WITH v AS (SELECT user_id, ts, max(value) AS view_value
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         p AS (SELECT event_id, user_id, ts, value
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts, round(p.value, 6) AS value,
                round(v.view_value, 6) AS prev_view_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p.event_id""",
    "q_distinct_by_type" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    // plain inequality-join formulation — the engine's bin-bucketed equi
    // join must produce exactly this
    "q_range_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts AS view_ts, value AS view_value
               FROM events WHERE event_type = 'view'),
         j AS (SELECT p.event_id, count(*) AS n_prior_views,
                      sum(v.view_value) AS sv
               FROM p JOIN v ON p.user_id = v.user_id
                AND v.view_ts >= p.ts - INTERVAL 1 HOUR AND v.view_ts <= p.ts
               GROUP BY 1)
         SELECT p.event_id, p.user_id, p.ts,
                coalesce(j.n_prior_views, 0) AS n_prior_views,
                round(coalesce(j.sv, 0.0), 6) AS sum_view_value
         FROM p LEFT JOIN j USING (event_id) ORDER BY p.event_id""",
    // FM rank r = trailing zero bits of the 128-bit md5 integer (reference
    // flajolent_stream.py:19-28; bin(0) == "0b0" counts as 1), via the low
    // 64-bit hex half — falling back to 64 + tz(high half) when the low
    // half is all-zero; estimate = 2^min(max r, 62), the engine's shift
    // clamp. Exact deterministic match, not an approximation band.
    "q_distinct_fm" ->
      """WITH r AS (SELECT
           CASE WHEN CAST('0x' || substr(md5(text), 17, 16) AS UBIGINT) = 0 THEN
             CASE WHEN CAST('0x' || substr(md5(text), 1, 16) AS UBIGINT) = 0 THEN 1
                  ELSE 64 + length(bin(CAST('0x' || substr(md5(text), 1, 16) AS UBIGINT)))
                          - length(rtrim(bin(CAST('0x' || substr(md5(text), 1, 16) AS UBIGINT)), '0')) END
           ELSE length(bin(CAST('0x' || substr(md5(text), 17, 16) AS UBIGINT)))
              - length(rtrim(bin(CAST('0x' || substr(md5(text), 17, 16) AS UBIGINT)), '0')) END AS r
         FROM documents)
         SELECT CAST(pow(2, least(coalesce(max(r), 0), 62)) AS BIGINT) AS fm_estimate,
                (SELECT count(DISTINCT text) FROM documents) AS exact_distinct
         FROM r""",
    // per-bit majority vote over md5-top-64 token hashes → 64-bit
    // fingerprint; 4×16-bit band collisions → candidates; hamming ≤ 6.
    // Same bit patterns as the Spark side's signed-long fingerprints.
    // Tier-budgeted formulation (r12): the majority vote runs as 64 sum
    // aggregates in ONE per-doc GROUP BY (the old h × range(0,64) explosion
    // is a 13G-row / 320M-group agg at sf100), and the hamming filter sits
    // INSIDE the candidate DISTINCT so only qualifying pairs materialize.
    // Votes, fingerprints and the emitted pair set are unchanged.
    "q_simhash_pairs" ->
      raw"""WITH tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS tok
           FROM documents),
         h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h FROM tok),
         fp AS (SELECT doc_id, CAST(${(0 until 64).map(i =>
               s"(CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN (1::HUGEINT << $i) ELSE 0::HUGEINT END)")
               .mkString("\n             + ")} AS UBIGINT) AS fp
           FROM h GROUP BY 1),
         bands AS MATERIALIZED (SELECT doc_id, fp, b, (fp >> CAST(b*16 AS INT)) & 65535 AS bh
           FROM fp CROSS JOIN range(0, 4) t(b)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.fp, b.fp)) AS hamming
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.fp, b.fp)) <= 6)
         SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
         FROM cand ORDER BY doc_a, doc_b""",
    // Spark session_window: event at exactly last+gap starts a NEW session,
    // hence >= in the gaps-and-islands islanding below.
    "q_session_windows" ->
      """WITH x AS (SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       y AS (SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
         FROM x)
       SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""",
    // burst detection: every windowed statistic is an exact integer; mean /
    // variance / z derive from them by one arithmetic expression shared
    // verbatim with the Spark side, so the doubles agree bit-for-bit. The
    // RANGE frame over integer epoch-hours is gap-robust (a silent hour is
    // absent, not frame-shifting).
    "q_burst_zscore" ->
      """WITH hourly AS (
           SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr, count(*) AS n
           FROM events GROUP BY 1, 2),
         win AS (
           SELECT event_type, hr, n,
             count(*) OVER w AS m, sum(n) OVER w AS s, sum(n*n) OVER w AS ss
           FROM hourly
           WINDOW w AS (PARTITION BY event_type ORDER BY hr
                        RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         derived AS (
           SELECT event_type, hr, n, m,
             CAST(s AS DOUBLE) / CAST(m AS DOUBLE) AS mean,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(m AS DOUBLE)) / CAST(m AS DOUBLE) AS varp
           FROM win)
       SELECT event_type, make_timestamp(hr * 3600 * 1000000) AS bucket, n, m,
         CASE WHEN m >= 12 AND varp > 0.0
           THEN round((CAST(n AS DOUBLE) - mean) / sqrt(varp), 6) END AS z,
         coalesce(CASE WHEN m >= 12 AND varp > 0.0
           THEN ((CAST(n AS DOUBLE) - mean) / sqrt(varp) >= 3.0) END, false) AS is_burst
       FROM derived ORDER BY event_type, bucket""",
    // Holt double exponential smoothing: level/trend recurrences replayed
    // in a recursive CTE with identical double operation order; forecast
    // f_t = l_{t-1} + b_{t-1}, NULL at t=1
    "q_holt_trend" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
           FROM daily),
         rec AS (
           SELECT event_type, day, n, t,
             CAST(n AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
             CAST(NULL AS DOUBLE) AS f
           FROM idx WHERE t = 1
           UNION ALL
           SELECT i.event_type, i.day, i.n, i.t,
             CAST(0.3 AS DOUBLE) * CAST(i.n AS DOUBLE) + CAST(0.7 AS DOUBLE) * (r.l + r.b),
             CAST(0.1 AS DOUBLE) * ((CAST(0.3 AS DOUBLE) * CAST(i.n AS DOUBLE) + CAST(0.7 AS DOUBLE) * (r.l + r.b)) - r.l)
               + CAST(0.9 AS DOUBLE) * r.b,
             r.l + r.b
           FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1)
       SELECT event_type, day, n,
         round(l, 6) AS level, round(b, 6) AS trend, round(f, 6) AS forecast,
         round(abs(CAST(n AS DOUBLE) - f), 6) AS abs_err
       FROM rec ORDER BY event_type, day""",
    // Holt-Winters additive seasonal (period 7): the recursive CTE carries
    // the SAME 7-slot rotating seasonal list the Spark fold does; seeds
    // l0 = first-week mean (exact integer sum), s_t = x_t - l0; every
    // recurrence term is ordered identically to the engine expression.
    // Types with fewer than 8 days have no seeds row -> all-NULL smoothed
    // columns on both sides.
    "q_hw_seasonal" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
           FROM daily),
         len AS (SELECT event_type, count(*) AS tlen FROM idx GROUP BY 1),
         seeds AS (
           SELECT event_type, l0, list_transform(xs7, x -> x - l0) AS s
           FROM (SELECT i.event_type,
               CAST(sum(i.n) AS DOUBLE) / 7.0 AS l0,
               list(CAST(i.n AS DOUBLE) ORDER BY i.t) AS xs7
             FROM idx i JOIN len USING (event_type)
             WHERE i.t <= 7 AND len.tlen >= 8 GROUP BY 1)),
         rec AS (
           SELECT event_type, CAST(7 AS BIGINT) AS t, l0 AS l,
             CAST(0.0 AS DOUBLE) AS b, s,
             CAST(NULL AS DOUBLE) AS sv, CAST(NULL AS DOUBLE) AS f
           FROM seeds
           UNION ALL
           SELECT i.event_type, i.t,
             0.3*(CAST(i.n AS DOUBLE) - r.s[1]) + 0.7*(r.l + r.b),
             0.1*((0.3*(CAST(i.n AS DOUBLE) - r.s[1]) + 0.7*(r.l + r.b)) - r.l)
               + 0.9*r.b,
             r.s[2:7] || [0.2*(CAST(i.n AS DOUBLE) - (r.l + r.b)) + 0.8*r.s[1]],
             0.2*(CAST(i.n AS DOUBLE) - (r.l + r.b)) + 0.8*r.s[1],
             r.l + r.b + r.s[1]
           FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1)
       SELECT i.event_type, i.day, i.n,
         round(CASE WHEN i.t > 7 THEN rec.l END, 6) + 0.0 AS level,
         round(CASE WHEN i.t > 7 THEN rec.b END, 6) + 0.0 AS trend,
         round(CASE WHEN i.t <= 7 THEN sd.s[CAST(i.t AS INT)] ELSE rec.sv END, 6) + 0.0 AS season,
         round(CASE WHEN i.t > 7 THEN rec.f END, 6) + 0.0 AS forecast,
         round(CASE WHEN i.t > 7 THEN abs(CAST(i.n AS DOUBLE) - rec.f) END, 6) AS abs_err
       FROM idx i
       LEFT JOIN rec ON rec.event_type = i.event_type AND rec.t = i.t AND i.t > 7
       LEFT JOIN seeds sd ON sd.event_type = i.event_type
       ORDER BY i.event_type, i.day""",
    // rank movers: split anchored at the dataset's min day; ranks/delta as
    // INT on both sides (row_number is INT in Spark, cast from BIGINT here)
    "q_rank_movers" ->
      """WITH ev AS (
           SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, ts
           FROM events),
         m AS (SELECT min(date_trunc('day', ts)) AS d0 FROM ev),
         c AS (
           SELECT k,
             CAST(sum(CASE WHEN date_diff('day', m.d0, date_trunc('day', ts)) < 15 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN date_diff('day', m.d0, date_trunc('day', ts)) >= 15 THEN 1 ELSE 0 END) AS BIGINT) AS c2
           FROM ev CROSS JOIN m GROUP BY 1),
         r AS (
           SELECT k, c1, c2,
             CAST(row_number() OVER (ORDER BY c1 DESC, k) AS INT) AS rank1,
             CAST(row_number() OVER (ORDER BY c2 DESC, k) AS INT) AS rank2
           FROM c)
       SELECT k, c1, c2, rank1, rank2, rank1 - rank2 AS delta
       FROM r ORDER BY abs(rank1 - rank2) DESC, k LIMIT 20""",
    // classifier calibration: exact counts; mean predicted score via a
    // DECIMAL(28,6) sum of the already-6-dp scores (fold-order exact)
    "q_lr_calibration" ->
      s"""WITH $LrLabeledCte
       SELECT least(9, CAST(floor(score * 10) AS INT)) AS bin,
         count(*) AS n,
         CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         round(CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_score,
         round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS frac_pos
       FROM lab GROUP BY 1 ORDER BY 1""",
    // exact tie-corrected Mann-Whitney AUC from integer rank sums
    "q_lr_auc" ->
      s"""WITH $LrLabeledCte,
         rk AS (SELECT label,
             rank() OVER (ORDER BY score) AS mnr,
             count(*) OVER (PARTITION BY score) AS cnt
           FROM lab),
         a AS (SELECT
             CAST(sum(CASE WHEN label THEN 2*mnr + cnt - 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             count(*) AS n
           FROM rk)
       SELECT n1 AS n_pos, n - n1 AS n_neg,
         round(CAST(s2 - n1*(n1+1) AS DOUBLE) / CAST(2*n1*(n - n1) AS DOUBLE), 6) AS auc
       FROM a""",
    // decile-threshold PR/F1 sweep: suffix sums over the shared 10-bin
    // histogram; F1 directly from integer counts, NULL when undefined
    "q_pr_curve" ->
      s"""WITH $LrLabeledCte,
         binned AS (SELECT least(9, CAST(floor(score * 10) AS INT)) AS bin,
             count(*) AS n,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
           FROM lab GROUP BY 1),
         grid AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
         filled AS (SELECT g.bin, COALESCE(b.n, 0) AS n,
             COALESCE(b.n_pos, 0) AS n_pos
           FROM grid g LEFT JOIN binned b ON b.bin = g.bin),
         sfx AS (SELECT bin,
             CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS pred_pos,
             CAST(sum(n_pos) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
             CAST(sum(n_pos) OVER () AS BIGINT) AS pos
           FROM filled)
       SELECT bin AS decile, bin / 10.0 AS threshold, pred_pos, tp,
         pos - tp AS fn, pred_pos - tp AS fp,
         CASE WHEN pred_pos > 0
           THEN round(tp * 1.0 / pred_pos, 6) END AS "precision",
         CASE WHEN pos > 0 THEN round(tp * 1.0 / pos, 6) END AS "recall",
         CASE WHEN 2*tp + (pred_pos - tp) + (pos - tp) > 0
           THEN round(2.0 * tp / (2*tp + (pred_pos - tp) + (pos - tp)), 6)
           END AS f1
       FROM sfx ORDER BY decile""",
    // fixed-budget per-source selection: top-N by (score desc, doc_id)
    "q_quality_topk" ->
      s"""WITH $LrLabeledCte,
         rk AS (SELECT d.source, lab.doc_id, lab.score,
             CAST(row_number() OVER (PARTITION BY d.source
               ORDER BY lab.score DESC, lab.doc_id) AS INT) AS rnk
           FROM lab JOIN documents d ON d.doc_id = lab.doc_id)
       SELECT source, rnk, doc_id, score FROM rk
       WHERE rnk <= ${graft.queries.PipelineQueries.TopKPerSource}
       ORDER BY source, rnk""",
    // MAD robust outliers: medians via quantile_cont (parity with Spark
    // exact `percentile` pinned by q_percentiles); threshold/robust-z by
    // the identical expression; count exact, max fold-order-free
    "q_mad_outliers" ->
      """WITH med AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, quantile_cont(adev, 0.5) AS mad
           FROM dev GROUP BY 1)
       SELECT d.event_type, count(*) AS n,
         round(max(d.med), 6) AS med, round(max(a.mad), 6) AS mad,
         CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         CASE WHEN max(a.mad) > 0.0
           THEN round(max(d.adev / (1.4826 * a.mad)), 6) END AS max_robust_z
       FROM dev d JOIN mad a USING (event_type)
       GROUP BY d.event_type ORDER BY d.event_type""",
    // trailing 7-day Pearson r from exact integer window sums over a RANGE
    // frame on integer epoch-days — same gap-robust doctrine as the burst
    // z-score; NULL under constancy or m < 3
    "q_rolling_corr" ->
      """WITH daily AS (
           SELECT CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS dy,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS y
           FROM events WHERE event_type IN ('purchase', 'error') GROUP BY 1),
         win AS (
           SELECT dy, x, y,
             count(*) OVER w AS m,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy, sum(x*y) OVER w AS sxy,
             sum(x*x) OVER w AS sxx, sum(y*y) OVER w AS syy
           FROM daily
           WINDOW w AS (ORDER BY dy RANGE BETWEEN 6 PRECEDING AND 0 FOLLOWING)),
         derived AS (
           SELECT dy, x, y, m,
             CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
             CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
           FROM win)
       SELECT make_timestamp(dy * 86400 * 1000000) AS day,
         x AS n_purchase, y AS n_error, m,
         CASE WHEN m >= 3 AND vx > 0.0 AND vy > 0.0
           THEN round(covn / sqrt(vx * vy), 6) END AS r
       FROM derived ORDER BY day""",
    // CUSUM: baseline mu/sigma from the first 7 days' exact integer sums;
    // the S+/S- recursion replayed in a recursive CTE with the identical
    // double operation sequence; sigma = 0 -> NULL statistics
    "q_cusum_change" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
           FROM daily),
         params AS (
           SELECT event_type,
             CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
             sqrt((CAST(sum(n*n) AS DOUBLE)
                   - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                  / (CAST(count(*) AS DOUBLE) - CAST(1.0 AS DOUBLE))) AS sigma
           FROM idx WHERE t <= 7 GROUP BY 1),
         rec AS (
           SELECT i.event_type, i.t, i.day, i.n,
             greatest(CAST(0.0 AS DOUBLE), CAST(i.n AS DOUBLE) - p.mu - p.sigma / CAST(2.0 AS DOUBLE)) AS sp,
             greatest(CAST(0.0 AS DOUBLE), p.mu - p.sigma / CAST(2.0 AS DOUBLE) - CAST(i.n AS DOUBLE)) AS sn
           FROM idx i JOIN params p USING (event_type) WHERE i.t = 1
           UNION ALL
           SELECT i.event_type, i.t, i.day, i.n,
             greatest(CAST(0.0 AS DOUBLE), r.sp + (CAST(i.n AS DOUBLE) - p.mu - p.sigma / CAST(2.0 AS DOUBLE))),
             greatest(CAST(0.0 AS DOUBLE), r.sn + (p.mu - p.sigma / CAST(2.0 AS DOUBLE) - CAST(i.n AS DOUBLE)))
           FROM rec r
           JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1
           JOIN params p ON p.event_type = i.event_type)
       SELECT r.event_type, r.day, r.n,
         round(p.mu, 6) AS mu, round(p.sigma, 6) AS sigma,
         CASE WHEN p.sigma > 0.0 THEN round(r.sp, 6) END AS cusum_pos,
         CASE WHEN p.sigma > 0.0 THEN round(r.sn, 6) END AS cusum_neg,
         CASE WHEN p.sigma > 0.0
           THEN (r.sp > 5.0 * p.sigma OR r.sn > 5.0 * p.sigma) END AS alarm
       FROM rec r JOIN params p USING (event_type)
       ORDER BY r.event_type, r.day""",
    // Kleinberg burst automaton: both Viterbi passes replayed as recursive
    // CTEs. Every cost derives from exact integer counts through the same
    // double expression as the Spark side (ln, never log1p; -(x + y)
    // association; <= tie-prefers q0/staying), so states agree exactly.
    "q_burst_kleinberg" ->
      """WITH RECURSIVE daily AS (
           SELECT date_trunc('day', ts) AS day, event_type, count(*) AS r
           FROM events GROUP BY 1, 2),
         daytot AS (SELECT day, CAST(sum(r) AS BIGINT) AS d FROM daily GROUP BY 1),
         grid AS (
           SELECT t.event_type, dt.day, coalesce(da.r, 0) AS r, dt.d
           FROM (SELECT DISTINCT event_type FROM daily) t
           CROSS JOIN daytot dt
           LEFT JOIN daily da ON da.event_type = t.event_type AND da.day = dt.day),
         params AS (
           SELECT event_type,
             CAST(sum(r) AS DOUBLE) / CAST(sum(d) AS DOUBLE) AS p0,
             least(CAST(sum(r) AS DOUBLE) / CAST(sum(d) AS DOUBLE) * CAST(3.0 AS DOUBLE),
                   CAST(0.99 AS DOUBLE)) AS p1,
             ln(CAST(count(*) AS DOUBLE)) AS tau,
             count(*) AS tlen
           FROM grid GROUP BY 1),
         idx AS (
           SELECT g.event_type, g.day, g.r, g.d,
             row_number() OVER (PARTITION BY g.event_type ORDER BY g.day) AS t
           FROM grid g),
         fwd AS (
           SELECT i.event_type, i.t,
             -(CAST(i.r AS DOUBLE) * ln(p.p0) + CAST(i.d - i.r AS DOUBLE) * ln(CAST(1.0 AS DOUBLE) - p.p0)) AS c0,
             p.tau + -(CAST(i.r AS DOUBLE) * ln(p.p1) + CAST(i.d - i.r AS DOUBLE) * ln(CAST(1.0 AS DOUBLE) - p.p1)) AS c1,
             true AS s0, true AS s1
           FROM idx i JOIN params p USING (event_type) WHERE i.t = 1
           UNION ALL
           SELECT i.event_type, i.t,
             least(f.c0, f.c1)
               + -(CAST(i.r AS DOUBLE) * ln(p.p0) + CAST(i.d - i.r AS DOUBLE) * ln(CAST(1.0 AS DOUBLE) - p.p0)) AS c0,
             least(f.c0 + p.tau, f.c1)
               + -(CAST(i.r AS DOUBLE) * ln(p.p1) + CAST(i.d - i.r AS DOUBLE) * ln(CAST(1.0 AS DOUBLE) - p.p1)) AS c1,
             f.c0 <= f.c1 AS s0, f.c1 <= f.c0 + p.tau AS s1
           FROM fwd f
           JOIN idx i ON i.event_type = f.event_type AND i.t = f.t + 1
           JOIN params p ON p.event_type = i.event_type),
         bt AS (
           SELECT f.event_type, f.t,
             CASE WHEN f.c1 < f.c0 THEN 1 ELSE 0 END AS state
           FROM fwd f JOIN params p USING (event_type) WHERE f.t = p.tlen
           UNION ALL
           SELECT b.event_type, b.t - 1,
             CASE WHEN b.state = 0 THEN (CASE WHEN fb.s0 THEN 0 ELSE 1 END)
                  ELSE (CASE WHEN fb.s1 THEN 1 ELSE 0 END) END
           FROM bt b
           JOIN fwd fb ON fb.event_type = b.event_type AND fb.t = b.t
           WHERE b.t > 1)
       SELECT i.event_type, i.day, i.r AS n, i.d, b.state, round(p.p0, 6) AS p0
       FROM idx i
       JOIN bt b ON b.event_type = i.event_type AND b.t = i.t
       JOIN params p ON p.event_type = i.event_type
       ORDER BY i.event_type, i.day""",
    // EWMA: ewma_1 = n_1, ewma_t = 0.7*ewma_{t-1} + 0.3*n_t replayed as a
    // recursive CTE with the identical double operation sequence (explicit
    // DOUBLE casts — bare 0.7 is DECIMAL in DuckDB).
    "q_ewma_smooth" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
           FROM daily),
         rec AS (
           SELECT event_type, day, n, t, CAST(n AS DOUBLE) AS ewma
           FROM idx WHERE t = 1
           UNION ALL
           SELECT i.event_type, i.day, i.n, i.t,
             r.ewma * CAST(0.7 AS DOUBLE) + CAST(0.3 AS DOUBLE) * CAST(i.n AS DOUBLE)
           FROM idx i JOIN rec r ON i.event_type = r.event_type AND i.t = r.t + 1)
       SELECT event_type, day, n, round(ewma, 6) AS ewma
       FROM rec ORDER BY event_type, day""",
    "q_sliding_trend" ->
      """SELECT bucket, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM (SELECT unnest([date_trunc('hour', ts),
                              date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS bucket,
                      value FROM events)
         GROUP BY 1 ORDER BY 1""",
    "q_running_user" ->
      """SELECT user_id, event_id, ts, value,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING), 6) AS running_total,
         round(coalesce(lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0), 6) AS prev_value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events WHERE user_id < 10 ORDER BY user_id, rn""",
    "q_percentiles" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.9), 6) AS p90,
         round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY 1 ORDER BY 1""",
    // error-bound oracle (VERDICT r4 #5): the engine asserts in-engine that
    // each GK-sketch value's rank interval must intersect q·n ± slack
    // (slack = max(n·1e-3, 2): 10× the accuracy-10000 rank guarantee,
    // floored for few-hundred-row tiers); the oracle verifies the exact
    // percentiles and expects every bound to HOLD — a sketch excursion
    // flips a boolean and fails the hash
    "q_percentiles_approx" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.9), 6) AS p90,
         round(quantile_cont(value, 0.99), 6) AS p99,
         TRUE AS ok50, TRUE AS ok90, TRUE AS ok99
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_pivot_daily" ->
      """SELECT date_trunc('day', ts) AS day,
         count(*) FILTER (WHERE event_type = 'click') AS click,
         count(*) FILTER (WHERE event_type = 'error') AS error,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         count(*) FILTER (WHERE event_type = 'signup') AS signup,
         count(*) FILTER (WHERE event_type = 'view') AS "view"
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_anti_nourgent" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 6) AS c_acctbal
         FROM customer WHERE NOT EXISTS
           (SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_orders_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_value_stats" ->
      """SELECT event_type, count(*) AS n,
         round(avg(value), 6) AS avg_value,
         round(stddev_samp(value), 6) AS stddev_value,
         round(var_samp(value), 6) AS var_value,
         round(min(value), 6) AS min_value,
         round(max(value), 6) AS max_value
         FROM events GROUP BY 1 ORDER BY 1""",
    // CASE guard: list_prepend(0, NULL) is [0] in DuckDB, which would fold
    // NULL text to 0 — the engine null-propagates, so the oracle must too
    "q_rolling_fp" ->
      """SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a*31 + b) % 1000000007) END AS rfp
         FROM documents ORDER BY doc_id""",
    // winnowing (k=5, w=4): window-min value set is tie-rule independent
    "q_winnow_fp" ->
      """WITH h AS (SELECT doc_id, list_transform(range(1, length(text)-5+2), i ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(i, i+5), j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
             (a, b) -> (a*31 + b) % 1000000007)) AS hs
         FROM documents WHERE length(text) >= 8),
       w AS (SELECT doc_id,
           list_distinct(list_transform(range(1, len(hs)-4+2), i -> list_min(hs[i:i+3]))) AS fps
         FROM h)
       SELECT doc_id, len(fps) AS n_fps,
              list_min(fps) AS min_fp, list_max(fps) AS max_fp
       FROM w ORDER BY doc_id""",
    // zeros preserved: unpivot of the coalesced pivot emits absent combos as 0
    "q_unpivot_daily" ->
      """SELECT d.day, t.event_type, coalesce(c.n, 0) AS n
         FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM events) d
         CROSS JOIN (SELECT unnest(['click','error','purchase','signup','view']) AS event_type) t
         LEFT JOIN (SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2) c
           ON d.day = c.day AND t.event_type = c.event_type
         ORDER BY 1, 2""",
    "q_dow_profile" ->
      """SELECT dayofweek(ts) AS dow, event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_token_positions" ->
      """SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS token
         FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
               FROM documents WHERE doc_id < 5)
         ORDER BY doc_id, pos""",
    // sliding 32-token windows every 24 tokens; DuckDB list slices are
    // 1-based inclusive and clamp, matching Spark's slice(t, start+1, 32)
    "q_chunk_windows" ->
      """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       s AS (SELECT doc_id, t, unnest(range(0, len(t), 24)) AS start_tok
         FROM t WHERE len(t) > 0)
       SELECT doc_id, start_tok // 24 AS chunk_id, start_tok,
         len(t[start_tok+1:start_tok+32]) AS n_chunk_tokens,
         md5(array_to_string(t[start_tok+1:start_tok+32], ' ')) AS chunk_fp
       FROM s ORDER BY doc_id, chunk_id""",
    // benchmark set = every 50th doc; flagged uses the ROUNDED ratio on
    // both sides so the threshold compare can never straddle an ulp
    "q_contamination" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       shing AS (SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
             i -> array_to_string(t[i:i+2], ' ')))) AS s
         FROM toks),
       bench AS (SELECT DISTINCT s FROM shing WHERE doc_id % 50 = 0),
       cnt AS (SELECT doc_id, count(*) AS n FROM shing WHERE doc_id % 50 != 0 GROUP BY 1),
       hits AS (SELECT sh.doc_id, count(*) AS n_hit
         FROM shing sh JOIN bench USING (s) WHERE sh.doc_id % 50 != 0 GROUP BY 1),
       r AS (SELECT d.doc_id, coalesce(cnt.n, 0) AS n_shingles,
           coalesce(hits.n_hit, 0) AS n_hit
         FROM documents d
         LEFT JOIN cnt ON d.doc_id = cnt.doc_id
         LEFT JOIN hits ON d.doc_id = hits.doc_id
         WHERE d.doc_id % 50 != 0)
       SELECT doc_id, n_shingles, n_hit,
         round(CASE WHEN n_shingles > 0
           THEN CAST(n_hit AS DOUBLE) / n_shingles ELSE 0.0 END, 6) AS contamination,
         (round(CASE WHEN n_shingles > 0
           THEN CAST(n_hit AS DOUBLE) / n_shingles ELSE 0.0 END, 6) >= 0.2) AS flagged
       FROM r ORDER BY doc_id""",
    // identical parenthesization to the engine's pmi expression; rounded
    // to 6 dp BEFORE ranking; bigram text is unique per row so the
    // (pmi, bigram) order is total
    "q_pmi_bigrams" ->
      """WITH t AS (SELECT list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       uni AS (SELECT unnest(t) AS w FROM t),
       uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
       n1 AS (SELECT count(*) AS n1 FROM uni),
       bg AS (SELECT unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
           i -> t[i] || ' ' || t[i+1])) AS bigram FROM t),
       n2 AS (SELECT count(*) AS n2 FROM bg),
       bc AS (SELECT bigram, count(*) AS n_pair FROM bg GROUP BY 1 HAVING count(*) >= 5)
       SELECT bigram, n_pair,
         round(ln((CAST(n_pair AS DOUBLE) / n2) /
           ((CAST(u1.c AS DOUBLE) / n1) * (CAST(u2.c AS DOUBLE) / n1))), 6) AS pmi
       FROM bc
       JOIN uc u1 ON u1.w = string_split(bigram, ' ')[1]
       JOIN uc u2 ON u2.w = string_split(bigram, ' ')[2]
       CROSS JOIN n1 CROSS JOIN n2
       ORDER BY pmi DESC, bigram LIMIT 20""",
    // quantile_cont == Spark's exact interpolated percentile
    "q_corpus_card" ->
      """WITH d AS (SELECT source, lang, length(text) AS n_chars,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS BIGINT) AS n_tokens
         FROM documents)
       SELECT source, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         round(avg(n_tokens), 6) AS avg_doc_tokens,
         round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
         round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
         count(DISTINCT lang) AS n_langs
       FROM d GROUP BY 1 ORDER BY 1""",
    // final assignment against the fitted c2 centroids, then pairs only
    // WITHIN a cluster (SemDeDup semantics) at the 0.4 cosine threshold
    "q_semantic_dedup" ->
      (SemKmeansCte +
        """, a3 AS (SELECT e.vec_id, c.cid,
             list_dot_product(e.v, c.cv) / (e.vn * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
           FROM emb e CROSS JOIN c2 c),
         s3 AS (SELECT w.vec_id, e.v, e.vn, w.cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
             FROM a3) w JOIN emb e ON e.vec_id = w.vec_id WHERE w.rn = 1)
         SELECT a.cid AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.vn * b.vn), 6) AS cosine
         FROM s3 a JOIN s3 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (a.vn * b.vn) >= 0.4
         ORDER BY vec_a, vec_b"""),
    // 8-token gram whose corpus count > 1 marks each of its positions as
    // duplicated; per-doc duplicated-position fraction (flag on the ROUNDED
    // value so the threshold compare can never straddle an ulp)
    "q_dup_ngrams" ->
      """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       gr AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-7, 0)+1),
             i -> array_to_string(t[i:i+7], ' '))) AS g
         FROM t),
       c AS (SELECT g, count(*) AS c FROM gr GROUP BY 1),
       d AS (SELECT gr.doc_id, count(*) AS n_dup
         FROM gr JOIN c USING (g) WHERE c.c > 1 GROUP BY 1)
       SELECT t.doc_id, CAST(greatest(len(t.t)-7, 0) AS BIGINT) AS n_grams,
         coalesce(d.n_dup, 0) AS n_dup_grams,
         round(CASE WHEN greatest(len(t.t)-7, 0) > 0
           THEN CAST(coalesce(d.n_dup, 0) AS DOUBLE) / greatest(len(t.t)-7, 0)
           ELSE 0.0 END, 6) AS dup_frac,
         (round(CASE WHEN greatest(len(t.t)-7, 0) > 0
           THEN CAST(coalesce(d.n_dup, 0) AS DOUBLE) / greatest(len(t.t)-7, 0)
           ELSE 0.0 END, 6) >= 0.2) AS flagged
       FROM t LEFT JOIN d USING (doc_id) ORDER BY doc_id""",
    // within-doc repetition: dup-token / dup-bigram fraction and top-bigram
    // concentration; keep gate over the ROUNDED fractions
    "q_rep_profile" ->
      """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       s AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS ndt FROM t),
       bgr AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
             i -> t[i] || ' ' || t[i+1])) AS bg
         FROM t),
       per AS (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2),
       a AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot, count(*) AS dst
         FROM per GROUP BY 1)
       SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac, dup_bigram_frac,
         (dup_token_frac < 0.6 AND top_bigram_frac < 0.2 AND dup_bigram_frac < 0.4) AS keep
       FROM (SELECT s.doc_id, s.n_tokens,
         round(CASE WHEN s.n_tokens > 0
           THEN 1.0 - CAST(s.ndt AS DOUBLE) / s.n_tokens ELSE 0.0 END, 6) AS dup_token_frac,
         round(CASE WHEN a.tot > 0
           THEN CAST(a.mx AS DOUBLE) / a.tot ELSE 0.0 END, 6) AS top_bigram_frac,
         round(CASE WHEN a.tot > 0
           THEN 1.0 - CAST(a.dst AS DOUBLE) / a.tot ELSE 0.0 END, 6) AS dup_bigram_frac
         FROM s LEFT JOIN a USING (doc_id))
       ORDER BY doc_id""",
    // in-corpus unigram LM: p(w) = c(w)/N; mean surprisal ln(N/c) and its
    // exp (perplexity); empty docs surface NULL scores on both sides
    "q_unigram_lm" ->
      """WITH toks AS (SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
         FROM documents),
       uni AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
       n AS (SELECT count(*) AS n1 FROM toks),
       sc AS (SELECT doc_id, count(*) AS n_tokens,
           avg(ln(CAST(n1 AS DOUBLE) / CAST(c AS DOUBLE))) AS nll
         FROM toks JOIN uni USING (w) CROSS JOIN n GROUP BY 1)
       SELECT d.doc_id, sc.n_tokens, round(sc.nll, 6) AS mean_nll,
         round(exp(round(sc.nll, 6)), 2) AS ppl
       FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       ORDER BY d.doc_id""",
    // per-source p25 quality gate; threshold and quality both 6-dp-rounded
    // so every keep/cut decision is ulp-safe; quality expr == q_quality_scores
    "q_quantile_filter" ->
      """WITH q AS (SELECT doc_id, source,
         round((least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
           + (1.0 - least(CASE WHEN length(regexp_replace(text, '\s', '', 'g')) > 0
               THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
                 / length(regexp_replace(text, '\s', '', 'g')) ELSE 0.0 END * 4.0, 1.0))
           + least(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) > 0
               THEN CAST(len(list_filter(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0),
                 t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','be','this','that'))) AS DOUBLE)
                 / len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) ELSE 0.0 END * 5.0, 1.0)) / 3.0, 6) AS quality
         FROM documents),
       byval AS (SELECT source, quality, count(*) AS c FROM q GROUP BY 1, 2),
       cum AS (SELECT source, quality,
           sum(c) OVER (PARTITION BY source ORDER BY quality) AS cum
         FROM byval),
       rk AS (SELECT source, count(*) AS n_total,
           CAST(count(*) - 1 AS DOUBLE) * 0.25 AS pos
         FROM q GROUP BY 1),
       -- shared lerp formulation, identical to the engine's: bracketing
       -- order statistics as conditional mins over the cumulative counts,
       -- then qlo + (qhi - qlo) * frac (pos is exact: x * 2^-2)
       thr AS (SELECT c.source, r.n_total,
           round(min(CASE WHEN cum >= floor(pos) + 1 THEN quality END)
             + (min(CASE WHEN cum >= ceil(pos) + 1 THEN quality END)
                - min(CASE WHEN cum >= floor(pos) + 1 THEN quality END))
               * (pos - floor(pos)), 6) AS p25
         FROM cum c JOIN rk r USING (source) GROUP BY 1, 2, pos)
       SELECT q.source, t.p25, t.n_total, count(*) AS n_kept,
         round(CAST(count(*) AS DOUBLE) / t.n_total, 6) AS kept_frac
       FROM q JOIN thr t USING (source) WHERE q.quality >= t.p25
       GROUP BY 1, 2, 3 ORDER BY q.source""",
    // all ordered within-doc token pairs at distance 1..2 (word2vec
    // skip-gram window); top-20 by count, pair-text tiebreak
    "q_skipgrams" ->
      """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       p AS (SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t FROM t),
       w AS (SELECT doc_id, i, t[i] AS w FROM p),
       pr AS (SELECT a.w AS center, b.w AS context
         FROM w a JOIN w b
           ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND 2)
       SELECT center, context, count(*) AS n FROM pr GROUP BY 1, 2
       ORDER BY n DESC, center, context LIMIT 20""",
    // engine HLL (p=12): index = top 12 bits of the md5 low-64 half, rank =
    // trailing-zero count of the low-52 field + 1 (0 -> 53; the proven
    // q_distinct_fm bin()/rtrim formulation); register sum as the exact
    // HUGEINT sum of 2^(53-M); identical estimator expression both engines
    "q_distinct_hll" ->
      """WITH h AS (SELECT CAST('0x' || substr(md5(text), 17, 16) AS UBIGINT) AS h
         FROM documents),
       ir AS (SELECT CAST(h >> 52 AS INT) AS idx,
           CASE WHEN h % 4503599627370496 = 0 THEN 53
                ELSE CAST(length(bin(h % 4503599627370496))
                       - length(rtrim(bin(h % 4503599627370496), '0')) AS INT) + 1
           END AS r
         FROM h),
       reg AS (SELECT idx, max(r) AS m FROM ir GROUP BY 1),
       s AS (SELECT sum(1::HUGEINT << (53 - m))
               + (4096 - count(*)) * (1::HUGEINT << 53) AS s,
             4096 - count(*) AS zeros FROM reg)
       SELECT round(CASE WHEN 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
             * 9007199254740992.0 / CAST(s AS DOUBLE) <= 10240.0 AND zeros > 0
           THEN 4096.0 * ln(4096.0 / zeros)
           ELSE 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
             * 9007199254740992.0 / CAST(s AS DOUBLE) END, 6) AS hll_estimate,
         CAST(zeros AS BIGINT) AS n_zero_registers,
         (SELECT count(DISTINCT text) FROM documents) AS exact_distinct
       FROM s""",
    // symmetric int8 quant: scale = max|v|/127, q = floor(x/scale + 0.5)
    // (explicit half-up floor — round() tie rules differ across engines);
    // rmse in ppm so 6-dp rounding keeps discrimination
    "q_embed_quant" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       m AS (SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
       x AS (SELECT vec_id, scale, unnest(v) AS x FROM m),
       qq AS (SELECT vec_id, scale, x,
           CASE WHEN scale = 0 THEN 0.0 ELSE floor(x / scale + 0.5) END AS q
         FROM x)
       SELECT vec_id, round(scale, 6) AS scale,
         count(CASE WHEN abs(q) = 127.0 THEN 1 END) AS n_sat,
         round(sqrt(avg((x - q*scale)*(x - q*scale))) * 1000000.0, 6) AS rmse_ppm
       FROM qq GROUP BY vec_id, scale ORDER BY vec_id""",
    // the bucketed co-located join must reproduce the plain equi-join
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    // CCNet head/middle/tail (hardened r6, the sf100 lesson): ppl
    // exponentiates the 6-dp-ROUNDED mean surprisal (exp of a raw avg
    // amplifies fold-order noise by the ppl magnitude) onto a 0.01 grid
    // the input quantization dominates; tertile cuts replay the shared
    // exact-rank lerp (no builtin quantile on either side); avg_ppl sums
    // the grid values in DECIMAL — fold-order exact
    "q_ccnet_buckets" ->
      """WITH toks AS (SELECT doc_id, lang,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
         FROM documents),
       uni AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
       n AS (SELECT count(*) AS n1 FROM toks),
       sc AS (SELECT doc_id, lang, count(*) AS n_tokens,
           round(exp(round(avg(ln(CAST(n1 AS DOUBLE) / CAST(c AS DOUBLE))), 6)), 2) AS ppl
         FROM toks JOIN uni USING (w) CROSS JOIN n GROUP BY 1, 2),
       byval AS (SELECT lang, ppl, count(*) AS c FROM sc GROUP BY 1, 2),
       cum AS (SELECT lang, ppl,
           sum(c) OVER (PARTITION BY lang ORDER BY ppl) AS cum FROM byval),
       rk AS (SELECT lang, count(*) AS nd,
           CAST(count(*) - 1 AS DOUBLE) * (1.0/3.0) AS pos33,
           CAST(count(*) - 1 AS DOUBLE) * (2.0/3.0) AS pos67
         FROM sc GROUP BY 1),
       cuts AS (SELECT c.lang,
           round(min(CASE WHEN cum >= floor(pos33) + 1 THEN ppl END)
             + (min(CASE WHEN cum >= ceil(pos33) + 1 THEN ppl END)
                - min(CASE WHEN cum >= floor(pos33) + 1 THEN ppl END))
               * (pos33 - floor(pos33)), 6) AS p33,
           round(min(CASE WHEN cum >= floor(pos67) + 1 THEN ppl END)
             + (min(CASE WHEN cum >= ceil(pos67) + 1 THEN ppl END)
                - min(CASE WHEN cum >= floor(pos67) + 1 THEN ppl END))
               * (pos67 - floor(pos67)), 6) AS p67
         FROM cum c JOIN rk r USING (lang) GROUP BY 1, pos33, pos67),
       sel AS (SELECT sc.lang,
         CASE WHEN ppl <= p33 THEN 'head'
              WHEN ppl <= p67 THEN 'middle' ELSE 'tail' END AS bucket,
         count(*) AS n_docs,
         sum(CAST(ppl AS DECIMAL(18,2))) AS spp,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       FROM sc JOIN cuts USING (lang) GROUP BY 1, 2)
       SELECT lang, bucket, n_docs,
         CAST((2 * CAST(spp * 1000000 AS HUGEINT) + n_docs)
           // (2 * n_docs) AS DOUBLE) / 1000000.0 AS avg_ppl,
         n_tokens
       FROM sel ORDER BY 1, 2""",
    // DSIR log importance ratio over md5-bucketed word-unigram features
    // (1024 buckets, add-1 smoothing), target = the 'en' slice; identical
    // 32-bit md5-prefix bucketing on both sides
    "q_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
         FROM documents),
       f AS (SELECT doc_id, lang,
           CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 1024 AS f FROM toks),
       raw AS (SELECT f, count(*) AS cr FROM f GROUP BY 1),
       tgt AS (SELECT f, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY 1),
       nt AS (SELECT count(*) AS nt FROM f WHERE lang = 'en'),
       nr AS (SELECT count(*) AS nr FROM f),
       lr AS (SELECT raw.f,
           ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (nt + 1024))
             - ln(CAST(cr + 1 AS DOUBLE) / (nr + 1024)) AS logratio
         FROM raw LEFT JOIN tgt USING (f) CROSS JOIN nt CROSS JOIN nr),
       sc AS (SELECT doc_id, count(*) AS n_tokens, sum(logratio) AS s
         FROM f JOIN lr USING (f) GROUP BY 1)
       SELECT d.doc_id, sc.n_tokens, round(sc.s, 6) + 0.0 AS dsir_logw,
         round(sc.s / sc.n_tokens, 6) + 0.0 AS dsir_per_token
       FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""",
    // the salted join must reproduce the plain equi-join exactly
    "q_salted_join" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // Morton z-value replayed as explicit shift/and/or arithmetic — the
    // bit interleave must match Sinks.zValue term for term
    "q_zorder_stats" ->
      (s"""WITH e AS (SELECT user_id % 256 AS x,
             CAST(floor(value) AS BIGINT) % 256 AS y FROM events),
         z AS (SELECT x, y, ${(0 until 8).map(i =>
        s"(((x >> $i) & 1) << ${2 * i + 1}) | (((y >> $i) & 1) << ${2 * i})")
        .mkString(" | ")} AS z FROM e)
         SELECT z >> 8 AS bucket, count(*) AS n,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
         FROM z GROUP BY 1 ORDER BY 1"""),
    // Okapi BM25 for the fixed 3-term query; every arithmetic step mirrors
    // RetrievalQueries.bm25Scored operand-for-operand (literal subexpressions
    // like (1.2 + 1.0) are kept unfolded so both engines round identically);
    // scores 6-dp-rounded BEFORE ranking, ties break on doc_id
    "q_bm25_top" ->
      s"""$Bm25Cte
       SELECT rank, doc_id, bm25 FROM (
         SELECT doc_id, bm25,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm)
       WHERE rank <= 20 ORDER BY rank""",
    // reciprocal-rank fusion of the BM25 leg and the cosine-to-vec_id-0
    // dense leg (top-50 each); 1/(60+r) terms are the same two-term IEEE
    // expression in both engines, so round(.,6) sees identical bits
    "q_rrf_fusion" ->
      s"""$Bm25Cte,
       sp AS (SELECT doc_id, r_bm25 FROM (
           SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25
           FROM bm) WHERE r_bm25 <= 50),
       n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         FROM embeddings),
       qv AS (SELECT v AS q, nrm AS qn FROM n WHERE vec_id = 0),
       dn AS (SELECT doc_id, r_cos FROM (
           SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY round(list_dot_product(v, q) / (nrm * qn), 6) DESC, vec_id) AS r_cos
           FROM n CROSS JOIN qv WHERE vec_id != 0) WHERE r_cos <= 50),
       fu AS (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id, sp.r_bm25, dn.r_cos,
           round(CASE WHEN sp.r_bm25 IS NOT NULL THEN 1.0 / (60.0 + sp.r_bm25) ELSE 0.0 END
               + CASE WHEN dn.r_cos IS NOT NULL THEN 1.0 / (60.0 + dn.r_cos) ELSE 0.0 END, 6) AS rrf
         FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
       SELECT rank, doc_id, r_bm25, r_cos, rrf FROM (
         SELECT doc_id, r_bm25, r_cos, rrf,
           row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM fu)
       WHERE rank <= 20 ORDER BY rank""",
    // temperature-2 (α=0.5) mixture weights; sqrt is IEEE-correctly-rounded
    // so praw is bit-identical across engines; counts cast back to BIGINT
    // (DuckDB sum(BIGINT) is HUGEINT, which pandas would float-ify)
    // the sampler face: 6-dp acceptance rates (quantized BEFORE the u
    // comparison — see PipelineQueries.mixSample), content-hash uniforms
    "q_mix_sample" ->
      s"""WITH d AS (SELECT source, doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), q -> length(q) > 0)) AS BIGINT) AS nt,
           (CAST('0x' || substr(md5(text), 1, 8) AS UBIGINT) + 1.0) / 4294967297.0 AS u
         FROM documents),
       s AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
       t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM s),
       r AS (SELECT source, n_tokens, tot,
           sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) AS praw
         FROM s CROSS JOIN t),
       z AS (SELECT sum(praw) AS z FROM r),
       rt AS (SELECT source, n_tokens,
           round(least(1.0, praw / z * (${PipelineQueries.MixSampleShare}
               * CAST(tot AS DOUBLE)) / CAST(n_tokens AS DOUBLE)), 6) AS acc_rate
         FROM r CROSS JOIN z)
       SELECT d.source, count(*) AS n_docs,
         CAST(sum(CASE WHEN d.u < rt.acc_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         rt.n_tokens,
         CAST(sum(CASE WHEN d.u < rt.acc_rate THEN d.nt ELSE 0 END) AS BIGINT) AS sampled_tokens,
         rt.acc_rate
       FROM d JOIN rt USING (source)
       GROUP BY d.source, rt.n_tokens, rt.acc_rate
       ORDER BY d.source""",
    "q_mix_weights" ->
      """WITH s AS (SELECT source, count(*) AS n_docs,
           CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1),
       t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM s),
       r AS (SELECT source, n_docs, n_tokens, tot,
           CAST(n_tokens AS DOUBLE) / tot AS p,
           sqrt(CAST(n_tokens AS DOUBLE) / tot) AS praw
         FROM s CROSS JOIN t),
       z AS (SELECT sum(praw) AS z FROM r)
       SELECT source, n_docs, n_tokens, round(p, 6) AS nat_share,
         round(praw / z, 6) AS mix_weight,
         round((praw / z) * tot / n_tokens, 6) AS eff_epochs
       FROM r CROSS JOIN z ORDER BY source""",
    // per-dimension z-scoring: moments 6-dp-rounded FIRST (the kmeans
    // convention) so both engines standardize with bit-identical (m, s);
    // generate_subscripts is 1-based, posexplode 0-based, hence -1
    "q_embed_norm" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM e),
       st AS (SELECT dim, round(avg(x), 6) AS m, round(stddev_pop(x), 6) AS s
         FROM x GROUP BY 1)
       SELECT vec_id, dim,
         round(CASE WHEN s = 0.0 THEN 0.0 ELSE (x - m) / s END, 6) AS z
       FROM x JOIN st USING (dim) WHERE vec_id < 100 ORDER BY vec_id, dim""",
    // fixed-point Gram: both engines quantize with the same floor(x·1e5+0.5)
    // and sum exact integer products — g_fx is bit-identical by construction
    "q_embed_gram" ->
      """WITH e AS (SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x * 100000.0 + 0.5) AS BIGINT)) AS q
         FROM embeddings),
       x AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS i, unnest(q) AS xi FROM e),
       gm AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS g_fx
         FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
         GROUP BY 1, 2)
       SELECT i, j, g_fx, round(g_fx / (100000.0 * 100000.0), 6) AS g
       FROM gm ORDER BY i, j""",
    // incremental ingest dedup: exact cross-parity Jaccard (even doc_ids =
    // index, odd = batch), then per-batch-doc argmax (ties -> lowest index
    // id) — the same shing/cnt canon as JaccardCte with the pair condition
    // swapped from doc_a < doc_b to parity
    "q_dedup_incr" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       shing AS MATERIALIZED (SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
             i -> array_to_string(t[i:i+2], ' ')))) AS s
         FROM toks),
       cnt AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1),
       common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         FROM shing a JOIN shing b ON a.s = b.s
           AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
         GROUP BY 1, 2),
       jp AS MATERIALIZED (SELECT doc_a, doc_b, round(c*1.0/(x.n + y.n - c), 6) AS jaccard
         FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
         WHERE c*1.0/(x.n + y.n - c) >= 0.8),
       best AS (SELECT doc_b AS batch_id, doc_a AS matched_id, jaccard,
           row_number() OVER (PARTITION BY doc_b
             ORDER BY jaccard DESC, doc_a) AS rn
         FROM jp)
       SELECT batch_id, matched_id, jaccard FROM best WHERE rn = 1
       ORDER BY batch_id""",
    // per-source lexical diversity: two-level distinct aggregates over
    // tokens and within-document bigrams
    "q_ngram_diversity" ->
      """WITH toks AS (SELECT source,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       tok AS (SELECT source, unnest(t) AS w FROM toks),
       bi AS (SELECT source,
           unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
             i -> t[i] || ' ' || t[i+1])) AS g
         FROM toks),
       wprof AS (SELECT source, count(*) AS n_tokens,
           count(DISTINCT w) AS n_types FROM tok GROUP BY 1),
       bprof AS (SELECT source, count(*) AS n_bigrams,
           count(DISTINCT g) AS distinct_bigrams FROM bi GROUP BY 1)
       SELECT source, n_tokens, n_types,
         round(n_types*1.0/n_tokens, 6) AS ttr,
         n_bigrams, distinct_bigrams,
         round(distinct_bigrams*1.0/n_bigrams, 6) AS bigram_diversity
       FROM wprof JOIN bprof USING (source) ORDER BY source""",
    // cross-source vocabulary overlap: exact token-set Jaccard per
    // unordered source pair
    "q_source_overlap" ->
      """WITH tok AS (SELECT DISTINCT source, w FROM (
           SELECT source,
             unnest(list_filter(regexp_split_to_array(text, '\s+'),
               q -> length(q) > 0)) AS w
           FROM documents)),
       sizes AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
       com AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS common
         FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
         GROUP BY 1, 2)
       SELECT src_a, src_b, x.n AS tokens_a, y.n AS tokens_b, common,
         round(common*1.0/(x.n + y.n - common), 6) AS jaccard
       FROM com JOIN sizes x ON src_a = x.source
         JOIN sizes y ON src_b = y.source
       ORDER BY src_a, src_b""",
    // one BPE merge iteration: adjacent character pairs over the corpus
    // vocabulary weighted by word frequency (Sennrich et al. 2016)
    "q_bpe_pairs" ->
      raw"""WITH words AS (SELECT w AS word, count(*) AS f
           FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                   q -> length(q) > 0)) AS w FROM documents)
           GROUP BY 1),
         pairs AS (SELECT f,
             unnest(list_transform(range(1, length(word)),
               i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
           FROM words WHERE length(word) >= 2)
         SELECT pair, CAST(sum(f) AS BIGINT) AS n
         FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""",
    "q_bpe_train" -> BpeTrainOracle,
    "q_bpe_vocab" -> BpeVocabOracle,
    "q_unigram_tok" -> UnigramOracle,
    "q_nmf_topics" -> NmfOracle,
    "q_ppmi_svd" -> PpmiSvdOracle,
    "q_glove_embed" -> GloveOracle,
    "q_textrank" -> TextrankOracle,
    // simplified (centroid-based) silhouette over the SAME fitted k=16
    // quantizer the IVF/dedup family replays: per vector the chord
    // distances to nearest / second-nearest centroid rank by (cdist, cid)
    // — sqrt can collapse adjacent cosines, so the replay never ranks by
    // ccos — then s = (b−a)/max(a,b) quantizes to 6 dp and folds DECIMAL
    "q_silhouette" ->
      (ChordCte + raw""",
         r5 AS (SELECT vec_id, cid, cdist, row_number() OVER (
             PARTITION BY vec_id ORDER BY cdist, cid) AS rn FROM cd),
         ab AS (SELECT vec_id,
             max(CASE WHEN rn = 1 THEN cid END) AS cid,
             max(CASE WHEN rn = 1 THEN cdist END) AS a,
             max(CASE WHEN rn = 2 THEN cdist END) AS b
           FROM r5 WHERE rn <= 2 GROUP BY 1),
         sil AS (SELECT cid,
             CASE WHEN greatest(a, b) > 0.0
               THEN round((b - a) / greatest(a, b), 6) ELSE 0.0 END AS s
           FROM ab)
         SELECT cid, count(*) AS n_members,
           round(CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
             AS mean_silhouette
         FROM sil GROUP BY 1 ORDER BY cid"""),
    // Davies–Bouldin: same fitted quantizer + chord-distance replay as
    // q_silhouette; assignment ranks UNROUNDED (cdist, cid), the 6-dp
    // grid applies to what enters the scatter fold; coincident-centroid
    // pairs (d = 0) are excluded from the max on both sides
    "q_db_index" ->
      (ChordCte + raw""",
         asg AS (SELECT vec_id, cid, round(cdist, 6) AS cdist FROM (
             SELECT vec_id, cid, cdist, row_number() OVER (
               PARTITION BY vec_id ORDER BY cdist, cid) AS rn FROM cd)
           WHERE rn = 1),
         sc AS (SELECT cid, count(*) AS n_members,
             round(CAST(sum(CAST(cdist AS DECIMAL(28,6))) AS DOUBLE)
               / count(*), 6) AS scatter
           FROM asg GROUP BY 1),
         sep AS (SELECT p.cid AS ci, q.cid AS cj,
             round(sqrt(greatest(0.0, 2.0 - 2.0 *
               (list_dot_product(p.cv, q.cv)
                 / (sqrt(list_dot_product(p.cv, p.cv))
                    * sqrt(list_dot_product(q.cv, q.cv)))))), 6) AS d
           FROM c2 p CROSS JOIN c2 q WHERE p.cid <> q.cid),
         rmax AS (SELECT s.ci AS cid,
             max(round((a.scatter + b.scatter) / s.d, 6)) AS rmax
           FROM sep s JOIN sc a ON a.cid = s.ci JOIN sc b ON b.cid = s.cj
           WHERE s.d > 0.0 GROUP BY 1)
         SELECT sc.cid, sc.n_members, sc.scatter,
           coalesce(r.rmax, 0.0) AS r_max
         FROM sc LEFT JOIN rmax r ON r.cid = sc.cid ORDER BY sc.cid"""),
    "q_bpe_encode" -> BpeEncodeOracle,
    // LR quality filter: identical feature arithmetic (exact integer token
    // sums -> double division), z rounded to the 6-dp grid BEFORE exp so
    // both engines exponentiate the same value
    "q_quality_lr" ->
      raw"""WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       feat AS (SELECT doc_id, len(t)*1.0 AS n,
           list_sum(list_transform(t, q -> length(q)))*1.0/len(t) AS mean_len,
           len(list_distinct(t))*1.0/len(t) AS ttr,
           len(list_filter(t, q -> list_contains(
             [${graft.functions.Text.Stopwords.map(w => s"'$w'").mkString(",")}],
             lower(q))))*1.0/len(t) AS stop_r
         FROM toks WHERE len(t) > 0),
       zt AS (SELECT doc_id,
           round((${PipelineQueries.LrBias}) + (${PipelineQueries.LrWLogLen})*ln(1.0+n)
             + (${PipelineQueries.LrWStop})*stop_r + (${PipelineQueries.LrWMeanLen})*mean_len
             + (${PipelineQueries.LrWTtr})*ttr, 6) AS z
         FROM feat)
       SELECT doc_id, round(1.0/(1.0+exp(-z)), 6) AS score,
         (round(1.0/(1.0+exp(-z)), 6) >= 0.5) AS keep
       FROM zt ORDER BY doc_id""",
    // Shannon entropy per source: the c·ln(c) reduction quantizes each
    // term to 6 dp and sums in DECIMAL (fold-order exact); the closing
    // H = ln(n) - S/n combines two engine-identical scalars
    // pairwise source KL matrix: add-half smoothing over the global vocab,
    // per-term 6-dp quantize + DECIMAL sum; diagonal exactly 0
    "q_source_kl" ->
      """WITH tok AS (SELECT source,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
         FROM documents),
       cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
       tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY 1),
       voc AS (SELECT DISTINCT w FROM cnt),
       vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM voc),
       grid AS (SELECT t.source, voc.w,
           (CAST(coalesce(c.c, 0) AS DOUBLE) + 0.5)
             / (CAST(t.n AS DOUBLE) + 0.5 * CAST(vs.v AS DOUBLE)) AS p
         FROM voc CROSS JOIN tot t CROSS JOIN vs
         LEFT JOIN cnt c ON c.source = t.source AND c.w = voc.w)
       SELECT a.source AS src, b.source AS dst, count(*) AS n_terms,
         CAST(sum(CAST(round(a.p * ln(a.p / b.p), 6) AS DECIMAL(28,6)))
           AS DOUBLE) AS kl
       FROM grid a JOIN grid b ON a.w = b.w
       GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_source_entropy" ->
      """WITH tok AS (SELECT source,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
         FROM documents),
       cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
       agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS vocab,
           sum(CAST(round(c * ln(c), 6) AS DECIMAL(28,6))) AS clogc
         FROM cnt GROUP BY 1)
       SELECT source, n_tokens, vocab,
         round(ln(n_tokens) - CAST(clogc AS DOUBLE) / n_tokens, 6) AS entropy,
         CASE WHEN vocab >= 2 THEN
           round((ln(n_tokens) - CAST(clogc AS DOUBLE) / n_tokens)
             / ln(vocab), 6) END AS norm_entropy
       FROM agg ORDER BY source""",
    // Zipf regression over the per-source top-100 (count desc, word asc
    // tiebreak -> identical point set in both engines)
    "q_zipf_profile" ->
      raw"""WITH tok AS (SELECT source,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0)) AS w
         FROM documents),
       cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
       top AS (SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
           ln(CAST(c AS DOUBLE)) AS y FROM (
         SELECT source, c, w,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rank
         FROM cnt) WHERE rank <= ${CorpusQueries.ZipfTopK}),
       agg AS (SELECT source, count(*) AS k, sum(x) AS sx, sum(y) AS sy,
           sum(x*y) AS sxy, sum(x*x) AS sxx
         FROM top GROUP BY 1)
       SELECT source, k,
         CASE WHEN k >= 2 THEN
           round((k*sxy - sx*sy) / (k*sxx - sx*sx), 6) + 0.0 END AS zipf_slope,
         CASE WHEN k >= 2 THEN
           round((sy - ((k*sxy - sx*sy) / (k*sxx - sx*sx)) * sx) / k, 6) + 0.0
           END AS zipf_intercept
       FROM agg ORDER BY source""",
    // Heaps-law vocabulary growth: equal-width doc_id deciles (explicit
    // floor on both sides — Spark and DuckDB both float-divide longs);
    // first occurrence = min(doc_id) per word; sums cast back to BIGINT
    // (DuckDB sums escalate to HUGEINT)
    "q_heaps_law" ->
      raw"""WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       bounds AS (SELECT min(doc_id) AS lo,
           max(doc_id) - min(doc_id) + 1 AS span FROM documents),
       ds AS (SELECT least(9, CAST(floor((d.doc_id - b.lo) * 10 / b.span)
             AS BIGINT)) + 1 AS decile,
           count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS n_tokens
         FROM toks d CROSS JOIN bounds b GROUP BY 1),
       fw AS (SELECT w, min(doc_id) AS first_doc FROM (
           SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1),
       nw AS (SELECT least(9, CAST(floor((f.first_doc - b.lo) * 10 / b.span)
             AS BIGINT)) + 1 AS decile, count(*) AS new_words
         FROM fw f CROSS JOIN bounds b GROUP BY 1)
       SELECT ds.decile, ds.n_docs, ds.n_tokens,
         coalesce(nw.new_words, 0) AS new_words,
         CAST(sum(coalesce(nw.new_words, 0)) OVER (ORDER BY ds.decile
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
       FROM ds LEFT JOIN nw ON nw.decile = ds.decile ORDER BY ds.decile""",
    // SCD type-2 gaps-and-islands: change-flag running sum -> one version
    // row per run; all columns exact (timestamps/longs), no rounding needed
    "q_scd2_intervals" ->
      """WITH r AS (SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (SELECT user_id, event_type, ts,
           CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
         FROM r),
       g AS (SELECT user_id, seq, event_type, min(ts) AS valid_from,
           count(*) AS n_events FROM s GROUP BY 1, 2, 3)
       SELECT user_id, seq, event_type, valid_from, valid_to, n_events,
         (valid_to IS NULL) AS is_current
       FROM (SELECT user_id, seq, event_type, valid_from, n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
         FROM g)
       ORDER BY user_id, seq""",
    // two-sample KS: ECDF gap per distinct value on exact cumulative longs;
    // every |F_A - F_B| is deterministic per row, max/argmax order-free
    "q_ks_drift" ->
      s"""WITH f AS (SELECT value,
           CASE WHEN ts < t0 + INTERVAL ${AnalyticQueries.KsSplitDays} DAY
             THEN 1 ELSE 0 END AS ia
         FROM events CROSS JOIN (SELECT min(ts) AS t0 FROM events)),
       g AS (SELECT value, CAST(sum(ia) AS BIGINT) AS ca,
           CAST(sum(1 - ia) AS BIGINT) AS cb FROM f GROUP BY 1),
       c AS (SELECT value,
           CAST(sum(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS la,
           CAST(sum(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lb
         FROM g),
       tot AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
           CAST(sum(1 - ia) AS BIGINT) AS n_b FROM f),
       ks AS (SELECT value, n_a, n_b,
           abs(CAST(la AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(lb AS DOUBLE) / CAST(n_b AS DOUBLE)) AS ks
         FROM c CROSS JOIN tot),
       m AS (SELECT max(ks) AS mks FROM ks)
       SELECT n_a, n_b, round(max(ks), 6) AS ks_stat, min(value) AS ks_at
       FROM ks CROSS JOIN m WHERE ks = mks GROUP BY 1, 2""",
    // interpolated bigram LM: p = λ·c(w1w2)/c(w1) + (1-λ)·c(w2)/T on exact
    // counts; each -ln p 6-dp-quantized and DECIMAL-summed per doc; ppl
    // exponentiates the ROUNDED mean; <2-token docs surface NULLs
    "q_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), q -> length(q) > 0) AS t
         FROM documents),
       tok AS (SELECT unnest(t) AS w FROM toks),
       uni AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
       n AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM tok),
       bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
           SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
               i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
           FROM toks)),
       bcnt AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
       scored AS (SELECT w1, w2,
           CAST(round(-ln(${CorpusQueries.BigramLambda}
               * (CAST(cb AS DOUBLE) / CAST(c1 AS DOUBLE))
             + ${1.0 - CorpusQueries.BigramLambda}
               * (CAST(c2 AS DOUBLE) / CAST(tt AS DOUBLE))), 6)
             AS DECIMAL(28,6)) AS s
         FROM bcnt
         JOIN (SELECT w AS w1, cw AS c1 FROM uni) USING (w1)
         JOIN (SELECT w AS w2, cw AS c2 FROM uni) USING (w2)
         CROSS JOIN n),
       -- per-(doc, bigram) counts so the big join probes the distinct-
       -- bigram side once, instead of streaming every instance through
       -- three joins; k identical instances contribute k * the same
       -- 6-dp DECIMAL, so the fold is exactly the per-instance sum
       dgc AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
       sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams, sum(k * s) AS nll
         FROM dgc JOIN scored USING (w1, w2) GROUP BY 1),
       scm AS (SELECT doc_id, n_bigrams,
           (2 * CAST(nll * 1000000 AS BIGINT) + n_bigrams)
             // (2 * n_bigrams) AS xm
         FROM sc)
       SELECT d.doc_id, scm.n_bigrams,
         CAST(xm AS DOUBLE) / 1000000.0 AS xent,
         round(exp(CAST(xm AS DOUBLE) / 1000000.0), 2) AS ppl
       FROM documents d LEFT JOIN scm ON d.doc_id = scm.doc_id
       ORDER BY d.doc_id""",
    // interpolated Kneser-Ney: absolute discount D=0.75, continuation-count
    // backoff, history counts from the bigram stream; same 6-dp DECIMAL nll
    // fold + integer micro-unit half-up xent as q_bigram_lm
    "q_kn_bigram" ->
      s"""WITH toks AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), q -> length(q) > 0) AS t
         FROM documents),
       bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
           SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
               i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
           FROM toks)),
       bcnt AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
       hist AS (SELECT w1, sum(cb) AS h1, count(*) AS nh FROM bcnt GROUP BY 1),
       cont AS (SELECT w2, count(*) AS nc FROM bcnt GROUP BY 1),
       bt AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM bcnt),
       scored AS (SELECT w1, w2,
           CAST(round(-ln(
             (greatest(CAST(cb AS DOUBLE) - ${CorpusQueries.KnDiscount}, 0.0)
               + ${CorpusQueries.KnDiscount} * CAST(nh AS DOUBLE)
                 * CAST(nc AS DOUBLE) / CAST(bt AS DOUBLE))
             / CAST(h1 AS DOUBLE)), 6) AS DECIMAL(28,6)) AS s
         FROM bcnt
         JOIN hist USING (w1)
         JOIN cont USING (w2)
         CROSS JOIN bt),
       -- same aggregate-then-join shape as q_bigram_lm: score each
       -- distinct bigram once at bcnt scale, then one join against the
       -- per-(doc, bigram) counts; k * the shared 6-dp DECIMAL equals
       -- the per-instance fold exactly
       dgc AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
       sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams, sum(k * s) AS nll
         FROM dgc JOIN scored USING (w1, w2) GROUP BY 1),
       scm AS (SELECT doc_id, n_bigrams,
           (2 * CAST(nll * 1000000 AS BIGINT) + n_bigrams)
             // (2 * n_bigrams) AS xm
         FROM sc)
       SELECT d.doc_id, scm.n_bigrams,
         CAST(xm AS DOUBLE) / 1000000.0 AS xent,
         round(exp(CAST(xm AS DOUBLE) / 1000000.0), 2) AS ppl
       FROM documents d LEFT JOIN scm ON d.doc_id = scm.doc_id
       ORDER BY d.doc_id""",
    "q_pagerank" -> PagerankOracle,
    "q_embed_pca" -> PcaOracle,
    // concatenate-and-chunk packing profile: global token cumsum -> each
    // doc explodes into the windows it overlaps; all columns exact longs
    "q_pack_sequences" ->
      s"""WITH toks AS (SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
             q -> length(q) > 0)) AS BIGINT) AS nt
         FROM documents),
       cum AS (SELECT doc_id, nt,
           CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
         FROM toks),
       offs AS (SELECT doc_id, nt, e - nt AS s, e FROM cum WHERE nt > 0),
       ex AS (SELECT doc_id, s, e,
           (s // ${PipelineQueries.SeqTokens}) AS fs,
           ((e - 1) // ${PipelineQueries.SeqTokens}) AS ls
         FROM offs),
       ch AS (SELECT doc_id, s, e, (fs <> ls) AS spans,
           unnest(range(fs, ls + 1)) AS seq_id
         FROM ex)
       SELECT seq_id, count(*) AS n_docs,
         CAST(sum(least(e, (seq_id + 1) * ${PipelineQueries.SeqTokens})
           - greatest(s, seq_id * ${PipelineQueries.SeqTokens})) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN spans THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
       FROM ch GROUP BY 1 ORDER BY 1""",
    // PSI: identical bin-edge arithmetic from the 1-row (lo,hi) aggregate,
    // add-half smoothing, per-bin terms deterministic on exact counts;
    // total = DECIMAL sum of the 6-dp terms
    "q_psi_drift" ->
      s"""WITH f AS (SELECT value,
           CASE WHEN ts < t0 + INTERVAL ${AnalyticQueries.KsSplitDays} DAY
             THEN 1 ELSE 0 END AS ia
         FROM events CROSS JOIN (SELECT min(ts) AS t0 FROM events)),
       rng AS (SELECT min(value) AS lo, max(value) AS hi,
           CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(1 - ia) AS BIGINT) AS n_b
         FROM f),
       binned AS (SELECT
           CASE WHEN hi = lo THEN 0
             ELSE least(CAST(floor((value - lo) / ((hi - lo) / ${AnalyticQueries.PsiBins}.0)) AS BIGINT),
               ${AnalyticQueries.PsiBins - 1}) END AS bin,
           n_a, n_b,
           CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(1 - ia) AS BIGINT) AS cb
         FROM f CROSS JOIN rng GROUP BY 1, 2, 3),
       terms AS (SELECT bin, ca, cb,
           (CAST(ca AS DOUBLE) + 0.5) / (CAST(n_a AS DOUBLE) + 0.5 * ${AnalyticQueries.PsiBins}) AS pa,
           (CAST(cb AS DOUBLE) + 0.5) / (CAST(n_b AS DOUBLE) + 0.5 * ${AnalyticQueries.PsiBins}) AS pb
         FROM binned),
       rt AS (SELECT bin, ca, cb, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
           round((pa - pb) * ln(pa / pb), 6) AS psi_term
         FROM terms),
       tot AS (SELECT sum(CAST(psi_term AS DECIMAL(18,6))) AS pt FROM rt)
       SELECT bin, ca, cb, p_a, p_b, psi_term, CAST(pt AS DOUBLE) AS psi_total
       FROM rt CROSS JOIN tot ORDER BY bin""",
    // Gini of per-user event counts: ascending (count, user) rank, exact
    // DECIMAL rank-weighted sum, one closing double divide
    "q_gini_users" ->
      """WITH per AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
       rk AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM per),
       agg AS (SELECT count(*) AS n_users, CAST(sum(x) AS BIGINT) AS total_events,
           sum(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS s1
         FROM rk)
       SELECT n_users, total_events,
         round((2.0 * CAST(s1 AS DOUBLE)
           - CAST(n_users + 1 AS DOUBLE) * CAST(total_events AS DOUBLE))
           / (CAST(n_users AS DOUBLE) * CAST(total_events AS DOUBLE)), 6) AS gini
       FROM agg""",
    "q_funnel" -> FunnelOracle,
    "q_event_transitions" ->
      """WITH pr AS (SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n
           FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
           round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
         FROM c JOIN t USING (from_type)
         ORDER BY from_type, to_type""",
    // weekly cohorts: Monday-truncated first-event week; offsets are
    // exact integer epoch arithmetic; distinct actives per (cohort, week)
    "q_cohort_retention" ->
      """WITH fu AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
         FROM events GROUP BY 1),
       sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM fu GROUP BY 1),
       act AS (SELECT f.cohort_week,
           (CAST(epoch(date_trunc('week', e.ts)) AS BIGINT)
             - CAST(epoch(f.cohort_week) AS BIGINT)) // 604800 AS week_offset,
           count(DISTINCT e.user_id) AS n_active
         FROM events e JOIN fu f USING (user_id) GROUP BY 1, 2)
       SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
         round(CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6)
           AS retention
       FROM act a JOIN sizes s USING (cohort_week) ORDER BY 1, 2""",
    "q_hits" -> HitsOracle,
    // id-oriented wedge enumeration (a < b < c) over the deduplicated
    // undirected trade graph; each triangle credits its three corners
    "q_triangles" ->
      s"""WITH $TradeGraphCte,
       und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM edges WHERE src <> dst),
       tri AS (SELECT x.a, x.b, y.b AS c
         FROM und x JOIN und y ON x.b = y.a
         JOIN und z ON z.a = x.a AND z.b = y.b),
       pn AS (SELECT node, count(*) AS n FROM (
           SELECT a AS node FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
         GROUP BY 1)
       SELECT n.node, n.n_name, coalesce(pn.n, 0) AS n_triangles
       FROM nodes n LEFT JOIN pn ON n.node = pn.node ORDER BY n.node""",
    // market-basket rules: distinct (order, part) incidence, pair
    // co-occurrence via self-join (the set the array-side generator
    // enumerates), single-divide metrics on exact integer inputs
    "q_assoc_rules" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       n AS (SELECT count(DISTINCT o) AS nn FROM op),
       ic AS (SELECT p, count(*) AS c FROM op GROUP BY p),
       pr AS (SELECT x.p AS a, y.p AS b, count(*) AS pc
              FROM op x JOIN op y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2)
       SELECT pr.a AS part_a, pr.b AS part_b, pr.pc AS pair_cnt,
         round(pr.pc / CAST(n.nn AS DOUBLE), 6) AS support,
         round(pr.pc / CAST(ca.c AS DOUBLE), 6) AS conf_ab,
         round(pr.pc / CAST(cb.c AS DOUBLE), 6) AS conf_ba,
         round(pr.pc * CAST(n.nn AS DOUBLE) / (ca.c * CAST(cb.c AS DOUBLE)), 6) AS lift
       FROM pr CROSS JOIN n
       JOIN ic ca ON pr.a = ca.p JOIN ic cb ON pr.b = cb.p
       WHERE pr.pc >= ${AnalyticQueries.AssocMinPairCount}
       ORDER BY lift DESC, pair_cnt DESC, part_a, part_b
       LIMIT ${AnalyticQueries.AssocTopK}""",
    // maximal duplicated spans: 1-based duplicated-gram positions merged
    // by islands-and-gaps (gap > 8 starts a new span); top-50 by length
    "q_dup_spans" ->
      """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       gp AS (SELECT doc_id, t,
           unnest(range(1, greatest(len(t)-7, 0)+1)) AS pos
         FROM t),
       gr AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS g
         FROM gp),
       dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) > 1),
       h AS (SELECT gr.doc_id, gr.pos FROM gr JOIN dup USING (g)),
       m AS (SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS ns
         FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       s AS (SELECT doc_id, pos,
           sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
         FROM m),
       sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           count(*) AS n_dup_grams
         FROM s GROUP BY doc_id, sid)
       SELECT doc_id, span_start, span_end,
         span_end - span_start + 1 AS span_tokens, n_dup_grams
       FROM sp
       ORDER BY span_tokens DESC, doc_id, span_start
       LIMIT 50""",
    // the rewrite face of exact-substring dedup: cut every maximal
    // duplicated span, fingerprint the surviving text (same span CTEs as
    // q_dup_spans, then positional NOT EXISTS against the span intervals)
    "q_span_scrub" ->
      """WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), q -> length(q) > 0) AS t
         FROM documents),
       gp AS (SELECT doc_id, t,
           unnest(range(1, greatest(len(t)-7, 0)+1)) AS pos
         FROM t),
       gr AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS g
         FROM gp),
       dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) > 1),
       h AS (SELECT gr.doc_id, gr.pos FROM gr JOIN dup USING (g)),
       m AS (SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS ns
         FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       s AS (SELECT doc_id, pos,
           sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
         FROM m),
       sp AS (SELECT doc_id, min(pos) AS span_start,
           max(pos) + 7 AS span_end
         FROM s GROUP BY doc_id, sid),
       spd AS (SELECT doc_id, list(span_start ORDER BY span_start) AS ss,
           list(span_end ORDER BY span_start) AS ee,
           sum(span_end - span_start + 1) AS n_rm FROM sp GROUP BY doc_id),
       sel AS (SELECT t.doc_id, t.t AS toks, coalesce(spd.ss, []) AS ss,
           coalesce(spd.ee, []) AS ee, coalesce(spd.n_rm, 0) AS n_rm
         FROM t LEFT JOIN spd USING (doc_id)),
       kt AS (SELECT doc_id, toks, n_rm,
           list_filter(toks, (x, i) ->
             len(list_filter(ss, (q, j) -> i >= q AND i <= ee[j])) = 0) AS kept
         FROM sel)
       SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(n_rm AS BIGINT) AS n_removed,
         CAST(len(kept) AS BIGINT) AS n_kept,
         CASE WHEN len(toks) > 0 THEN
           round(CAST(len(kept) AS DOUBLE) / len(toks), 6)
         END AS kept_frac,
         md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_fp
       FROM kt ORDER BY doc_id""",
    "q_kcore" -> KcoreOracle,
    "q_label_prop" -> LpaOracle,
    // full projected matrix of the JL sign projection, 6-dp grid
    "q_rand_proj" ->
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
       pl AS (SELECT vec_id, $ProjListSql AS pv FROM n)
       SELECT vec_id, CAST(generate_subscripts(pv, 1) - 1 AS BIGINT) AS dim,
         unnest(pv) AS p
       FROM pl ORDER BY vec_id, dim""",
    // per-vector JL distortion audit: norms from the ROUNDED projected
    // coords (sequential list_dot_product = the engine's codegen fold);
    // in_band on the rounded ratio so the gate never straddles an ulp
    "q_jl_audit" ->
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
       pl AS (SELECT vec_id, v, $ProjListSql AS pv FROM n),
       a AS (SELECT vec_id,
           sqrt(list_dot_product(v, v)) AS onrm,
           sqrt(list_dot_product(pv, pv)) AS pnrm
         FROM pl),
       r AS (SELECT vec_id, onrm, pnrm,
           CASE WHEN onrm > 0.0 THEN round(pnrm / onrm, 6) END AS norm_ratio
         FROM a)
       SELECT vec_id, round(onrm, 6) AS orig_norm, round(pnrm, 6) AS proj_norm,
         norm_ratio,
         (norm_ratio >= ${1.0 - CorpusQueries.JlEpsilon}
           AND norm_ratio <= ${1.0 + CorpusQueries.JlEpsilon}) AS in_band
       FROM r ORDER BY vec_id""",
    // sorted-neighborhood blocking: in-window (gap < w) pairs over the
    // (block_key, doc_id) sorted order, distinct-token-set Jaccard.
    // Formulated as w-1 lead() columns over ONE window sort, unpivoted by
    // UNION ALL — not the rank self-join (b.rnk - a.rnk < w), which DuckDB
    // executes as an IEJoin that dominated the sf10 sweep's wall-clock
    // (~70 min; the lead form is ~26x faster at sf0.01 with an identical
    // canon hash — VERDICT r9 #3).
    "q_snm_pairs" -> {
      val w = SimilarityQueries.SnmWindow
      val leads = (1 until w).map(k =>
        s"lead(doc_id, $k) OVER wo AS d$k, lead(ts, $k) OVER wo AS t$k")
        .mkString(",\n           ")
      val arms = (1 until w).map(k =>
        s"SELECT doc_a, d$k AS doc_b, CAST($k AS BIGINT) AS gap, ta, t$k AS tb FROM l WHERE d$k IS NOT NULL")
        .mkString("\n         UNION ALL ")
      s"""WITH t AS (SELECT doc_id,
           lower(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 16)) AS bk,
           list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
             q -> length(q) > 0)) AS ts
         FROM documents),
       l AS (SELECT doc_id AS doc_a, ts AS ta,
           $leads
         FROM t WINDOW wo AS (ORDER BY bk, doc_id)),
       c AS ($arms),
       j AS (SELECT doc_a, doc_b, gap,
           CASE WHEN len(list_distinct(list_concat(ta, tb))) > 0 THEN
             round(CAST(len(list_intersect(ta, tb)) AS DOUBLE)
               / len(list_distinct(list_concat(ta, tb))), 6) END AS jaccard
         FROM c)
       SELECT doc_a, doc_b, gap, jaccard FROM j
       WHERE jaccard >= ${SimilarityQueries.SnmJaccardThreshold}
       ORDER BY doc_a, doc_b"""
    },
    // suffix-array adjacency exact-substring spans: sorted W-capped
    // suffixes, lead(1) neighbor LCP (nullif: DuckDB list_position
    // returns 0, not NULL, on a full-prefix match), LCP >= L cover on
    // both endpoints, variable-length gaps-and-islands per doc
    "q_suffix_spans" -> {
      val L = CorpusQueries.SuffixMinL
      val W = CorpusQueries.SuffixCapW
      s"""WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'),
             x -> length(x) > 0) AS toks
         FROM documents),
       sp0 AS (SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks) - $L + 1, 0) + 1)) AS pos
         FROM t),
       s AS (SELECT doc_id, pos, toks[pos : pos + $W - 1] AS suf FROM sp0),
       r AS (SELECT doc_id, pos, suf,
           lead(doc_id) OVER wo AS db, lead(pos) OVER wo AS pb,
           lead(suf) OVER wo AS sufb
         FROM s WINDOW wo AS (ORDER BY suf, doc_id, pos)),
       m AS (SELECT doc_id, pos, db, pb,
           coalesce(nullif(list_position(
               list_transform(suf, (x,i) -> i <= len(sufb) AND sufb[i] = x),
               false), 0) - 1,
             least(len(suf), len(sufb))) AS lcp
         FROM r WHERE sufb IS NOT NULL),
       cov AS (SELECT doc_id, pos, lcp FROM m WHERE lcp >= $L
         UNION ALL SELECT db, pb, lcp FROM m WHERE lcp >= $L),
       g2 AS (SELECT doc_id, pos, max(lcp) AS lcp FROM cov GROUP BY 1, 2),
       isl AS (SELECT doc_id, pos, lcp,
           max(pos + lcp - 1) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         FROM g2),
       f AS (SELECT doc_id, pos, lcp,
           CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                THEN 1 ELSE 0 END AS newspan
         FROM isl),
       spn AS (SELECT doc_id, pos, lcp,
           sum(newspan) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         FROM f)
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos + lcp - 1) AS BIGINT) AS span_end,
         CAST(max(pos + lcp - 1) - min(pos) + 1 AS BIGINT) AS span_tokens,
         count(*) AS n_positions
       FROM spn GROUP BY doc_id, span_id
       ORDER BY span_tokens DESC, doc_id, span_start LIMIT 50"""
    },
    // the rewrite face: same suffix-span CTE chain, then the q_span_scrub
    // cut-and-fingerprint tail over the variable-length span set
    "q_suffix_scrub" -> {
      val L = CorpusQueries.SuffixMinL
      val W = CorpusQueries.SuffixCapW
      s"""WITH t AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'),
             x -> length(x) > 0) AS toks
         FROM documents),
       sp0 AS (SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks) - $L + 1, 0) + 1)) AS pos
         FROM t),
       s AS (SELECT doc_id, pos, toks[pos : pos + $W - 1] AS suf FROM sp0),
       r AS (SELECT doc_id, pos, suf,
           lead(doc_id) OVER wo AS db, lead(pos) OVER wo AS pb,
           lead(suf) OVER wo AS sufb
         FROM s WINDOW wo AS (ORDER BY suf, doc_id, pos)),
       m AS (SELECT doc_id, pos, db, pb,
           coalesce(nullif(list_position(
               list_transform(suf, (x,i) -> i <= len(sufb) AND sufb[i] = x),
               false), 0) - 1,
             least(len(suf), len(sufb))) AS lcp
         FROM r WHERE sufb IS NOT NULL),
       cov AS (SELECT doc_id, pos, lcp FROM m WHERE lcp >= $L
         UNION ALL SELECT db, pb, lcp FROM m WHERE lcp >= $L),
       g2 AS (SELECT doc_id, pos, max(lcp) AS lcp FROM cov GROUP BY 1, 2),
       isl AS (SELECT doc_id, pos, lcp,
           max(pos + lcp - 1) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         FROM g2),
       f AS (SELECT doc_id, pos, lcp,
           CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                THEN 1 ELSE 0 END AS newspan
         FROM isl),
       spn AS (SELECT doc_id, pos, lcp,
           sum(newspan) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         FROM f),
       sp AS (SELECT doc_id, min(pos) AS span_start,
           max(pos + lcp - 1) AS span_end
         FROM spn GROUP BY doc_id, span_id),
       spd AS (SELECT doc_id, list(span_start ORDER BY span_start) AS ss,
           list(span_end ORDER BY span_start) AS ee,
           sum(span_end - span_start + 1) AS n_rm FROM sp GROUP BY doc_id),
       sel AS (SELECT t.doc_id, t.toks, coalesce(spd.ss, []) AS ss,
           coalesce(spd.ee, []) AS ee, coalesce(spd.n_rm, 0) AS n_rm
         FROM t LEFT JOIN spd USING (doc_id)),
       kt AS (SELECT doc_id, toks, n_rm,
           list_filter(toks, (x, i) ->
             len(list_filter(ss, (s, j) -> i >= s AND i <= ee[j])) = 0) AS kept
         FROM sel)
       SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(n_rm AS BIGINT) AS n_removed,
         CAST(len(kept) AS BIGINT) AS n_kept,
         CASE WHEN len(toks) > 0 THEN
           round(CAST(len(kept) AS DOUBLE) / len(toks), 6)
         END AS kept_frac,
         md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_fp
       FROM kt ORDER BY doc_id"""
    },
    // --- round-11 additions ---
    "q_markov_steady" -> MarkovOracle,
    // margins are windows over the |langs|×|sources| cell frame; expected
    // stays unrounded for the contrib term, rounds only for output
    "q_chi2_assoc" ->
      """WITH cells AS (SELECT lang, source, count(*) AS obs
           FROM documents GROUP BY 1, 2),
         m AS (SELECT lang, source, obs,
             CAST(sum(obs) OVER (PARTITION BY lang) AS DOUBLE)
               * CAST(sum(obs) OVER (PARTITION BY source) AS DOUBLE)
               / CAST(sum(obs) OVER () AS DOUBLE) AS ex
           FROM cells)
         SELECT lang, source, CAST(obs AS BIGINT) AS obs,
           round(ex, 6) AS expected,
           round((CAST(obs AS DOUBLE) - ex) * (CAST(obs AS DOUBLE) - ex)
             / ex, 6) AS contrib
         FROM m ORDER BY lang, source""",
    // DECIMAL(18,2)-quantized sums (exact under any fold order), then a
    // fixed dag of double ops — identical IEEE arithmetic to the engine
    "q_welch_ttest" ->
      """WITH g AS (SELECT event_type, count(*) AS n1,
             sum(CAST(value AS DECIMAL(18,2))) AS s1,
             sum(CAST(value AS DECIMAL(18,2))
               * CAST(value AS DECIMAL(18,2))) AS q1
           FROM events GROUP BY 1),
         t AS (SELECT event_type, n1, s1, q1,
             sum(n1) OVER () AS nt, sum(s1) OVER () AS st,
             sum(q1) OVER () AS qt
           FROM g),
         d AS (SELECT event_type, n1, nt - n1 AS n2,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             CAST(st - s1 AS DOUBLE) / CAST(nt - n1 AS DOUBLE) AS m2,
             (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
               / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
             (CAST(qt - q1 AS DOUBLE) - CAST(st - s1 AS DOUBLE)
               * CAST(st - s1 AS DOUBLE) / CAST(nt - n1 AS DOUBLE))
               / (CAST(nt - n1 AS DOUBLE) - 1.0) AS v2
           FROM t
           WHERE n1 > 1 AND nt - n1 > 1),
         e AS (SELECT event_type, n1, n2, m1, m2, v1, v2,
             v1 / CAST(n1 AS DOUBLE) AS se1,
             v2 / CAST(n2 AS DOUBLE) AS se2
           FROM d)
         SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(m1, 6) AS mean_a, round(m2, 6) AS mean_b,
           round(v1, 6) AS var_a, round(v2, 6) AS var_b,
           round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
           round((se1 + se2) * (se1 + se2)
             / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
               + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS dof
         FROM e ORDER BY event_type""",
    // ban-list = fingerprints spanning >= 2 sources; embeddings cascade on
    // the doc_id = vec_id alignment
    "q_takedown" ->
      """WITH fps AS (SELECT doc_id, source,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM documents),
         banned AS (SELECT fp FROM fps GROUP BY fp
           HAVING count(DISTINCT source) >= 2),
         removed AS (SELECT doc_id, source FROM fps
           WHERE fp IN (SELECT fp FROM banned)),
         rv AS (SELECT r.source, count(*) AS vr FROM removed r
           WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = r.doc_id)
           GROUP BY 1),
         rc AS (SELECT source, count(*) AS dr FROM removed GROUP BY 1),
         tot AS (SELECT source, count(*) AS docs_total
           FROM documents GROUP BY 1)
         SELECT t.source, t.docs_total,
           coalesce(rc.dr, 0) AS docs_removed,
           t.docs_total - coalesce(rc.dr, 0) AS docs_kept,
           coalesce(rv.vr, 0) AS vecs_removed
         FROM tot t LEFT JOIN rc USING (source) LEFT JOIN rv USING (source)
         ORDER BY source""",
    "q_mmr_rerank" -> MmrOracle,
    "q_wordpiece_encode" -> WordPieceOracle,
    // reciprocal top-5 within the scaled-k clusters: the semantic-dedup
    // assignment CTEs, one directed pair frame, ranks via row_number on
    // the shared 6-dp cosines, mutuality as a swapped-key self-join
    "q_rnn_pairs" -> RnnOracle,
  )

  /** RNN-pairs oracle: the scaled-k assignment replay, the r14
    * occupancy-aware cell split (CTE-for-CTE mirror of
    * [[graft.queries.SimilarityQueries.rnnPairs]]: cells whose occupancy
    * exceeds RnnSplitBudget draw ceil(occ/target) seed members in
    * md5(vec_id) order and re-assign every member to its max-cosine seed,
    * tie → lowest seed rank; cold cells keep sub = 0), then one
    * rank-filter window over a SLIM (va, vb, cos) pair projection keyed
    * on (cid, sub).
    *
    * DuckDB-1.0 shape notes (r12, all measured): s3 must stay a PLAIN
    * (non-materialized) CTE — a MATERIALIZED CTE self-joined on cid loses
    * its cardinality estimate and the optimizer picks a CROSS PRODUCT
    * over the full vector-carrying rows (69 GB of spill at sf1, disk
    * death at sf10); inlined, the references plan as proper cid hash
    * joins and the only heavy frame is the slim pair stream through the
    * window. The split CTEs add two more plain-s3 evaluations (occ3 and
    * the materialized hm3) — a constant factor on the assignment replay,
    * paid for a pair stream that stays NEAR-LINEAR even when the
    * corpus is skewed (without the split, the sf100 tier's pair CTE is
    * quadratic and the replay is unrunnable outright). hm3 IS
    * materialized — it is never self-joined, only joined to its own
    * tiny seed subset, so the r12 cross-product trap does not apply.
    * rs3 is materialized so the two s4 references in pr share one
    * re-assignment pass. */
  private val RnnOracle: String =
    SemKmeansCte +
      s""", a3 AS (SELECT e.vec_id, c.cid,
             list_dot_product(e.v, c.cv) / (e.vn * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
           FROM emb e CROSS JOIN c2 c),
         s3 AS (SELECT w.vec_id, e.v, e.vn, w.cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
             FROM a3) w JOIN emb e ON e.vec_id = w.vec_id WHERE w.rn = 1),
         occ3 AS (SELECT cid, count(*) AS occ FROM s3 GROUP BY 1),
         hot3 AS (SELECT cid, CAST(ceil(occ /
             ${SimilarityQueries.SemDedupCellTarget}.0) AS INT) AS nsub
           FROM occ3 WHERE occ > ${SimilarityQueries.RnnSplitBudget}),
         hm3 AS MATERIALIZED (SELECT s.vec_id, s.v, s.vn, s.cid, h.nsub
           FROM s3 s JOIN hot3 h ON s.cid = h.cid),
         se3 AS (SELECT cid, srk AS sub, v AS sv, vn AS sn FROM (
             SELECT cid, v, vn, nsub, row_number() OVER (PARTITION BY cid
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srk
             FROM hm3) WHERE srk <= nsub),
         rs3 AS MATERIALIZED (SELECT vec_id, sub FROM (
             SELECT m.vec_id, s.sub, row_number() OVER (PARTITION BY m.vec_id
               ORDER BY list_dot_product(m.v, s.sv) / (m.vn * s.sn) DESC, s.sub) AS rn
             FROM hm3 m JOIN se3 s ON m.cid = s.cid) WHERE rn = 1),
         s4 AS (SELECT s.vec_id, s.v, s.vn, s.cid, coalesce(r.sub, 0) AS sub
           FROM s3 s LEFT JOIN rs3 r ON s.vec_id = r.vec_id),
         pr AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             round(list_dot_product(a.v, b.v) / (a.vn * b.vn), 6) AS cos
           FROM s4 a JOIN s4 b ON a.cid = b.cid AND a.sub = b.sub
             AND a.vec_id != b.vec_id),
         tk AS (SELECT va, vb, cos, row_number() OVER (
             PARTITION BY va ORDER BY cos DESC, vb) AS rn
           FROM pr WHERE cos IS NOT NULL QUALIFY rn <= ${SimilarityQueries.RnnK})
         SELECT x.va AS vec_a, x.vb AS vec_b, x.cos AS cosine,
           x.rn AS rank_ab, y.rn AS rank_ba
         FROM tk x JOIN tk y ON x.va = y.vb AND x.vb = y.va AND x.va < x.vb
         ORDER BY vec_a, vec_b"""
}
