#!/bin/bash
# sf1 full-registry sweep (VERDICT r8 item 5): run every gate's
# engine+oracle pair at the /tmp/sf1 replica (gen_scale_replica.py),
# module-sized chunks so each chunk is a fresh JVM and a failure does
# not poison later chunks.  Instrument routing (all boundaries
# MEASURED, round 9 — see SCALE.md):
#
# - ALL-PAIRS VERIFIERS (dedup_tfidf_cosine/containment all-pairs
#   forms, dedup_embedding_cosine): excluded at sf1 on BOTH engines —
#   they are the precision verifiers, quadratic by design (45.1B
#   candidates / 2e10 vector pairs); candidate generation at scale is
#   LSH's job and LSH-composed gates ARE swept.
# - MINHASH PAIR FAMILY (the five pair-output gates + the three
#   cluster-closure gates): the Spark side completes at sf1, but the
#   DuckDB oracle's candidate materialization needs >100 GiB RAM+spill
#   on this box (measured: 105 GiB RSS uncapped; 24 GiB cap spilled
#   >78 GiB and filled the disk).  Evidence ladder instead:
#   row-hash/fingerprint cross-engine checks up to sf0.5 (/tmp/sf05,
#   ~37M candidates — fits), plus the sf1 ENGINE probe
#   (engine_scale_probe.py: fingerprint aggregates recorded for a
#   bigger box + internal-consistency invariants).
# - Everything else: row-hash compare at sf1.
set -u
SF=${SWEEP_SF:-/tmp/sf1}
LOGDIR=${1:-/tmp/sf1_sweep}
mkdir -p "$LOGDIR"
cd "$(dirname "$0")/.."

run_chunk() {
  local name=$1 only=$2
  echo "=== chunk $name start $(date +%T) ==="
  # SWEEP_HASH=1: vectorized DuckDB digest comparator (r10) — the
  # Python canonical sort cost 867 s of events_gap_fill's 1016 s r9
  # chunk; the digest chunk re-ran 17 gates in 316 s total.  Per-gate
  # fallback to the canonical sort for unsupported dtypes.
  SWEEP_SF=$SF SWEEP_MASTER=local[16] SWEEP_SHUF=32 SWEEP_DRIVER_MEM=24g \
    SWEEP_PINNED_SKIP=1 SWEEP_HASH=1 SWEEP_ONLY=$only \
    timeout 3600 python scripts/verify.py sweep >"$LOGDIR/$name.log" 2>"$LOGDIR/$name.err"
  echo "chunk $name rc=$? $(date +%T)"
  tail -3 "$LOGDIR/$name.log"
}

run_chunk graph_q graph_bfs_hops,graph_entropy_rate,graph_pagerank_transitions
run_chunk features_q doc_equidepth_bins,events_robust_scale,events_target_encode
run_chunk corpus_q dedup_chunk_level,dedup_span_inventory,dedup_span_coverage,dedup_span_removal,dedup_span_decontaminate,multimodal_cdc_dedup,sample_temperature,sample_weighted_pps,text_bigram_topk,text_collapse_runs,text_compression_ratio,text_gopher_quality
run_chunk functions_q fn_array_surface,fn_bitwise_surface,fn_conditional_surface,fn_date_surface,fn_generator_surface,fn_hash_surface,fn_higher_order_surface,fn_json_surface,fn_map_surface,fn_math_surface,fn_regex_surface,fn_string_surface,fn_url_surface,window_distribution
run_chunk streaming_q streaming_dedup,streaming_enriched_windows,streaming_ewma_smoothing,streaming_hourly_windows,streaming_interval_join,streaming_rollup_merge,streaming_running_totals,streaming_sessionize
run_chunk pipeline_q events_hourly_rollup,events_json_projection,events_keyed_upsert,events_reconciliation,events_validity_filter,expect_orders_contract,expect_referential_integrity,join_asof_attribution,pipeline_header_zip_rename,profile_orders,route_cidr_classifier,route_observe_tap,route_transform_rule,scd2_user_state
run_chunk tpch_more q10_returned_items,q11_important_parts,q12_priority_shipping,q13_customer_distribution,q14_promo_effect,q15_top_supplier,q16_supplier_part_counts,q17_small_quantity_revenue,q18_large_volume_customer,q19_disjunctive_predicates,q20_dominant_suppliers,q21_waiting_orders,q22_dormant_customers,q2_min_cost_supplier,q4_order_priority,q6_forecast_revenue,q7_volume_shipping,q8_market_share,q9_product_profit
run_chunk relational agg_approx_distinct,agg_approx_percentile,agg_cube,agg_distinct_count,agg_grouping_sets,agg_having,agg_mode_deterministic,agg_percentiles,agg_pivot_native,agg_rollup,agg_statistics,conditional_pivot,fuzzy_match_part_names,join_anti,join_broadcast_chain,join_full_outer_coalesce,join_lateral_top2,join_left_outer_agg,join_range_nonequi,join_salted_skew,join_semi,q1_pricing_summary,q3_shipping_priority,q5_local_supplier_volume,reshape_unpivot,scan_projection_filter,set_except,set_except_all,set_intersect,set_intersect_all,set_union_distinct,sort_multi_key_topk,subquery_scalar_above_avg,window_lag_gap,window_moving_avg,window_nth_value,window_range_frame_30d,window_rank_dense,window_running_total,window_share_of_total,window_topk_per_group
run_chunk timeseries_q agg_correlation,events_anomaly_zscore,events_counter_increase,events_dow_seasonality,events_funnel_conversion,events_gap_fill,events_hopping_windows,events_ohlc_hourly,events_outlier_iqr,events_path_trigrams,events_retention_cohorts,events_rfm_segments,events_sessionize,events_time_hierarchy_rollup,events_value_histogram,rollup_incremental_merge,zorder_events_cluster
run_chunk analytics_q agg_jackknife_mean,agg_ols_trend,dedup_minhash_admission,events_attribution_linear,events_cusum_alarms,events_dau_wau,events_interp_fill,events_latency_percentiles,events_locf_fill,events_prorate_hourly,nation_supplier_hhi,orders_psi_drift,parts_abc_classes,pipeline_json_quarantine,skew_key_report,text_nb_confusion,text_ngram_novelty,text_sentence_spans,text_unigram_kl_drift
# graph_triangle_census runs via the chunked census ladder below: its
# fused oracle's wedge spill exceeded this box's disk twice in r10
# (24G and 64G caps) — and the src-chunked form is also ~25x faster
# (oracle ~40 s vs 1029 s fused in r9).
run_chunk mining_q agg_chi_square_assoc,agg_heavy_hitters,agg_hll_partial_merge,compaction_plan_events,dedup_incremental_admission,dedup_source_overlap,events_funnel_timed,events_type_pmi,expect_k_anonymity,mining_association_rules,multimodal_phash_near_dup,sample_balanced_classes,scd_snapshot_diff,text_bigram_logprob,text_bm25_retrieval,text_char_entropy,text_naive_bayes_lang,text_perplexity_buckets,window_rolling_median

echo "=== sf1 census ladder (graph_triangle_census) $(date +%T) ==="
SWEEP_SF=$SF CENSUS_OUT=/tmp/census_sf1 CENSUS_K=16 DUCK_MEM=32GB \
  timeout 3600 python scripts/census_ladder_sf1.py \
  >"$LOGDIR/census_ladder.log" 2>"$LOGDIR/census_ladder.err"
echo "census ladder rc=$? $(date +%T)"
tail -3 "$LOGDIR/census_ladder.log"
run_chunk llm_a dedup_contamination_flag,dedup_exact,dedup_exact_casefold,dedup_semantic,multimodal_byte_histogram,multimodal_frame_sample,pack_token_sequences,pipeline_corpus_admission,pipeline_training_mix,sample_deterministic,sample_global_shuffle,sample_source_cap,sample_stratified,sample_train_test_split
run_chunk llm_b text_chunk_windows,text_document_frequency,text_fingerprint,text_lang_scores,text_pii_redact,text_quality_score,text_repetition_stats,text_token_stats,text_unigram_logprob
run_chunk llm_sim dedup_embedding_lsh,similarity_ivf_recall,similarity_kmeans_refine,similarity_label_centroids,similarity_quantize_int8,similarity_topk_bruteforce,similarity_topk_ivf,similarity_topk_lsh,similarity_topk_pq,similarity_topk_ivfpq,similarity_pq_recall

# Minhash pair family: cross-engine checks top out at sf0.5 (the
# DuckDB oracle's sf1 candidate materialization exceeds this box —
# header note); the sf1 half of the evidence is the engine probe.
SF05=${SWEEP_SF05:-/tmp/sf05}
[ -d "$SF05" ] || python scripts/gen_scale_replica.py "$SF05" 5

echo "=== sf0.5 closure ladder (cluster-closure family) $(date +%T) ==="
# closure_ladder_sf05.py (r10): the oracle's RECURSIVE reach CTE is
# recursion-bound above sf0.1 (r9: sf0.5 unfinished in 118 min capped),
# so the ladder materializes the oracle's own non-recursive
# banding+jaccard pairs prefix in DuckDB and replaces only the
# recursion with an exact Python union-find — full value-level compare
# (r10: 3/3 MATCH at sf0.5, pairs 6.86M in 875 s).
DUCK_MEM=24GB SWEEP_SF=$SF05 SWEEP_MASTER=local[16] SWEEP_SHUF=32 \
  SWEEP_DRIVER_MEM=16g \
  timeout 7200 python scripts/closure_ladder_sf05.py \
  >"$LOGDIR/sf05_clusters.log" 2>"$LOGDIR/sf05_clusters.err"
echo "sf0.5 closure ladder rc=$? $(date +%T)"
tail -4 "$LOGDIR/sf05_clusters.log"

echo "=== sf0.5 fingerprint chunk (pair-output dedup family) $(date +%T) ==="
# The composed gates (dedup_tfidf_on_candidates / dedup_tfidf_staged)
# are NOT in this list: their sf0.5 ORACLE is the >disk spill class
# (measured r11: >77 GiB DuckDB spill at a 24 GiB memory cap before
# dying) — same instrument boundary as the sf1 pair oracles.  Their
# scale ladder instead: sf0.01 oracle MATCH (clean+empty), sf0.1
# row-hash MATCH (r9), staged==fused ENGINE fingerprints identical at
# sf0.2 (probe below), sf1 staged engine run with fingerprints.
DUCK_MEM=24GB SWEEP_SF=$SF05 timeout 7200 \
  python scripts/aggregate_fingerprint_sweep.py \
  dedup_jaccard_prefix dedup_minhash_lsh dedup_simhash \
  dedup_containment_pairs \
  >"$LOGDIR/fp_pairs_sf05.log" 2>"$LOGDIR/fp_pairs_sf05.err"
echo "fp chunk rc=$? $(date +%T)"
tail -8 "$LOGDIR/fp_pairs_sf05.log"

echo "=== sf0.2 staged==fused composed-dedup engine cross-check $(date +%T) ==="
SF02=${SWEEP_SF02:-/tmp/sf02}
[ -d "$SF02" ] || python scripts/gen_scale_replica.py "$SF02" 2
SWEEP_SF=$SF02 SWEEP_MASTER=local[8] SWEEP_SHUF=16 SWEEP_DRIVER_MEM=12g \
  timeout 3600 python scripts/engine_scale_probe.py \
  dedup_tfidf_on_candidates dedup_tfidf_staged \
  >"$LOGDIR/sf02_staged_vs_fused.log" 2>"$LOGDIR/sf02_staged_vs_fused.err"
echo "sf0.2 cross-check rc=$? $(date +%T)"
grep -E "ENGINE-OK|sum" "$LOGDIR/sf02_staged_vs_fused.log" | tail -8

echo "=== sf1 engine probe (minhash pair family) $(date +%T) ==="
# dedup_tfidf_on_candidates is NOT probed fused: its sf1 shuffle
# scratch (~90 GiB, three r9 deaths) exceeds this box's free disk and
# a mid-probe JVM death takes the rest of the list with it (r10 ran
# the probe in four partial invocations for exactly that reason).
# Its sf1 engine evidence is the STAGED run below — the same operator
# pipeline in its production checkpointed shape.
SWEEP_SF=$SF SWEEP_MASTER=local[16] SWEEP_SHUF=32 SWEEP_DRIVER_MEM=24g \
  timeout 7200 python scripts/engine_scale_probe.py \
  dedup_jaccard_prefix dedup_minhash_lsh dedup_simhash \
  dedup_containment_pairs \
  dedup_clusters dedup_cluster_sizes sample_leakage_safe_split \
  >"$LOGDIR/sf1_engine_probe.log" 2>"$LOGDIR/sf1_engine_probe.err"
echo "engine probe rc=$? $(date +%T)"
tail -6 "$LOGDIR/sf1_engine_probe.log"
echo "=== sf1 pairs ladder (dedup_minhash_lsh chunked-oracle digest) $(date +%T) ==="
# pairs_ladder_sf1.py (r10): the one-pass pair oracle needs >100 GiB at
# sf1; the chunked form digests the oracle per hash(id_a) chunk and
# compares the combined digest with the engine frame_digest (r10:
# MATCH over 21,613,194 pairs, ~67 min oracle wall, bounded memory).
SWEEP_SF=$SF PAIRS_K=32 DUCK_MEM=32GB \
  timeout 7200 python scripts/pairs_ladder_sf1.py \
  >"$LOGDIR/pairs_ladder.log" 2>"$LOGDIR/pairs_ladder.err"
echo "pairs ladder rc=$? $(date +%T)"
tail -3 "$LOGDIR/pairs_ladder.log"

echo "=== sf1 staged composed-dedup engine run $(date +%T) ==="
# staged_tfidf_sf1.py (r10): the fused gate needs ~90 GiB shuffle
# scratch at sf1 (three r9 deaths); the checkpointed form completed in
# ~33 min peaking at 26% disk — candidates to parquet (148.85M pairs,
# 8 hash shards), one fresh JVM per verify shard, fingerprints at the
# end (r10: 9,258,395 verified pairs).
(
  export SWEEP_SF=$SF STAGE_OUT=/tmp/sf1_stage STAGE_SCRATCH=/tmp/stage_scratch
  export NCHUNKS=8 SWEEP_DRIVER_MEM=48g
  rm -rf /tmp/sf1_stage /tmp/stage_scratch
  timeout 1200 python scripts/staged_tfidf_sf1.py candidates || exit 1
  for k in 0 1 2 3 4 5 6 7; do
    timeout 1200 python scripts/staged_tfidf_sf1.py verify $k || exit 1
    rm -rf /tmp/stage_scratch
  done
  timeout 1200 python scripts/staged_tfidf_sf1.py fingerprint
) >"$LOGDIR/sf1_staged_tfidf.log" 2>"$LOGDIR/sf1_staged_tfidf.err"
echo "staged composed-dedup rc=$? $(date +%T)"
tail -4 "$LOGDIR/sf1_staged_tfidf.log"
echo "=== SWEEP COMPLETE $(date +%T) ==="
