#!/bin/bash
# sf100 probe (decade 3): documents/embeddings/events only — a full sf100
# relational tier (~600M lineitem) exceeds sandbox wall-clock (VERDICT r6);
# the graph family's scale evidence stays at sf10.
# Runs the 16 doc/embedding queries (13 standing + the r6 directive's
# q_dedup_components / q_dedup_corpus / q_embed_dup_capped) plus the
# events/documents-based r6 analytics with bounded or linear outputs
# (q_ks_drift, q_funnel, q_cohort_retention, q_gini_users, q_psi_drift,
# q_media_frames, q_media_meta). Excluded with reasons: q_pagerank /
# q_hits / q_triangles read the unscaled nation/orders graph (absent
# from the docs-only tier); q_scd2_intervals emits one row per
# event-type run (~80M rows at this tier) — its 10x evidence is the
# full-registry sf10 sweep.
# r9 additions: the PQ family (q_pq_codebooks/q_pq_codes/q_ann_pq),
# the BPE trainer+vocab, the events-based z-order profile, transitions,
# the IVFADC pair, the chunker pair, and the burst/EWMA trend ops.
set -x
cd /root/repo
# r9d: when the sf100 probe is being driven manually in parallel with the
# sf10 check (marker below), the chained invocation must not double-run it
[ -f /tmp/sf100_manual_driven ] && { echo "sf100 driven manually"; exit 0; }
export SPARK_GRAFT_CPUS=24
# spark-class's standard Java-17 module opens: without them a raw
# `java -cp` run crashes in Kryo (FieldSerializer on HeapByteBuffer)
# the moment memory pressure evicts a broadcast/checkpoint block to
# disk — bit us on q_nmf_topics at sf100 (r13)
JOPTS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
CP="/opt/spark/jars/*:target/scala-2.13/classes"
# r12 probe scope: the r11 37 standing entries + the heavy dedup family
# (q_minhash_dedup q_simhash_pairs q_embed_dup_capped q_jaccard_prefix
# q_source_kl — VERDICT r11 #1, with the budgeted simhash oracle) + the
# r10/r11/r12 stragglers (q_suffix_spans q_suffix_scrub q_wordpiece_encode
# q_unigram_tok — VERDICT r11 #5).
# r13 exclusion, FIXED in r14: q_rnn_pairs' sf100 ENGINE straggler (the
# ScaleUp sign-flip piled copies 1..9 into few cells; the salted
# within-cell pair mass went quadratic — >95 min, killed) is closed by
# the occupancy-aware cell split (SimilarityQueries.rnnPairs: cells over
# RnnSplitBudget re-quantize onto md5-ordered seed members; oracle
# mirrors CTE-for-CTE; RnnSplitSpec pins the skew routing) PLUS the
# ObjectHashAggregate fallback-threshold fix (the default 128-key
# threshold was sorting the full pair stream). Engine
# run at tier: 11 min wall, 3.9M pairs, cosine partial oracle green.
# The FULL oracle replay still builds an ~8e9-row pair stream at this
# tier (~50 GB of DuckDB spill at sf10, linear growth), so its in-sweep
# check stays out of $QUERIES; evidence is the engine run at tier, the
# sf10 full-oracle hash match, and the partial_check cosine row.
# r13 partial exclusion: q_nmf_topics at sf100 — the ENGINE run needs
# >70G of transient local scratch (V-checkpoint + the nnz-linear matmul
# shuffles at 195M nnz) and died on No-space-left twice in the shared
# 252G sandbox while the DuckDB check was spilling alongside; the plan
# shape is the right distributed NMF (all joins linear in nnz, k x k
# Grams broadcast) and its 10x evidence is green in CORRECTNESS_sf10.
# r13 MEASURED oracle-disk exclusions (this sandbox's scratch ceiling is
# ~71 GB; each of these DuckDB replays exhausted it even run SERIALLY at
# a 100 GB memory_limit on a fresh connection — every ENGINE dump ran
# fine and their hash evidence is green in CORRECTNESS_sf10):
#   q_minhash_dedup   (128 minhash × 200M tokens + LSH band join replay)
#   q_jaccard_prefix  (inverted-index candidate join replay)
#   q_suffix_spans / q_suffix_scrub (global lead() over ~200M suffixes)
#   q_textrank        (~800M-row edge CTE alive across 5 unrolled rounds)
#   q_ppmi_svd        (the oracle's positional self-join builds ~800M pair
#                      rows; the engine generates pairs per-row via zip)
# r14: each of these five now carries a PARTIAL oracle at sf100 —
# tools/partial_check.py replays a deterministic md5-sampled linear
# intermediate (sample-pair exact Jaccard, probe-join LCP span/scrub
# recompute, edge weights, PPMI rows) against the engine dumps →
# CORRECTNESS_sf100_partial.json.
# r13 additions that ARE green at sf100: q_silhouette, q_db_index,
# q_heaps_law, plus the cheap corpus profiles q_token_stats,
# q_lang_profile, q_zipf_profile, q_source_entropy, q_quality_scores.
# r13: q_wordpiece_encode keeps its r11-documented oracle exclusion (the
# 200M per-token piece lists + per-doc ordered string_agg exceed an 80 GB
# DuckDB budget; this sandbox tops out at ~71 GB of scratch) — engine-side
# the query runs sf100 fine, and its hash evidence is the sf10 sweep.
# r13 additions (VERDICT r12 #6): the r12 operator family —
# q_silhouette (one 16-centroid broadcast crossJoin, O(n*k) both sides),
# q_nmf_topics (nnz-linear matmul joins; unrolled-CTE oracle) and
# q_textrank (n*W equi-join edges + 5 unrolled PageRank rounds).
QUERIES="q_ann_ivf q_ann_lsh q_bm25_top q_bpe_train q_bpe_vocab q_burst_zscore q_chi2_assoc q_chunk_dedup q_chunk_profile q_cohort_retention q_dedup_exact q_dedup_incr q_dup_ngrams q_event_transitions q_ewma_smooth q_funnel q_gini_users q_kmeans_centroids q_kmv_overlap q_knn_cosine q_ks_drift q_markov_steady q_media_frames q_media_meta q_mix_sample q_mmr_rerank q_pq_codebooks q_pq_codes q_pr_curve q_psi_drift q_quality_lr q_quality_topk q_span_scrub q_takedown q_unigram_lm q_welch_ttest q_zorder_stats q_minhash_dedup q_simhash_pairs q_embed_dup_capped q_jaccard_prefix q_source_kl q_suffix_spans q_suffix_scrub q_unigram_tok q_silhouette q_db_index q_heaps_law q_token_stats q_lang_profile q_zipf_profile q_source_entropy q_quality_scores"
# r9c probe scope: q_dedup_canonical / q_corpus_final re-materialize the
# same DuckDB jaccard CTE q_dedup_components already pays at this tier,
# and q_kn_bigram's oracle joins a ~500M-row bigram stream — their 10x/
# 100x evidence stays at the full-registry sf10 sweep (wall-clock budget).
# ScaleUp is deterministic; the r11-written tier is reused if present
# (a re-run would overwrite ~3.6G byte-identically for no signal)
if [ ! -d testdata_local/sf100/events.parquet ]; then
  java $JOPTS -cp "$CP" graft.ScaleUp testdata_local/sf10 testdata_local/sf100 10 documents,embeddings,events 2>&1 | grep -E "scaleup|Error" | tail -3
fi
echo "=== scaleup done $(date) ==="
java $JOPTS -cp "$CP" graft.Verify testdata_local/sf100 /tmp/out_sf100 $QUERIES 2>&1 | grep -E "^\[verify\]" | tail -8
echo "=== verify done $(date) ==="
python3 tools/check.py testdata_local/sf100 /tmp/out_sf100 CORRECTNESS_sf100.json 2>&1 | tail -5
echo "=== check done $(date) ==="
SPARK_GRAFT_SF_DIR=testdata_local/sf100 SPARK_GRAFT_BENCH_PASSES=2 \
  SPARK_GRAFT_BENCH_ONLY=$(echo $QUERIES | tr ' ' ',') \
  SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf100.json \
  java $JOPTS -cp "$CP" graft.Bench 2>&1 | grep -o '{"metric".*}' | head -1 > BENCH_sf100_tmp.json
echo "=== DONE sf100 $(date) ==="
