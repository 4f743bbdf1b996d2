#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced through the noop datasource sink (full pipeline runs,
nothing is collected to the driver). Each query is the same callable the
correctness gate checks — no bench-special code paths.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # relational layer
    "q1_pricing",
    "q3_shipping",
    "q4_priority",
    "q6_forecast",
    "q13_custdist",
    "q16_supplier_variety",
    "q22_idle_customers",
    "nation_revenue",
    "top_parts",
    "orders_window_suite",
    "events_interval_join",
    "events_windowed",
    "events_sessionized",
    "events_sessions_native",
    "events_asof",
    "user_stats",
    "q18_large_volume",
    # round-6: the queries completing the 22-query TPC-H suite (q2's
    # decorrelated min-cost join and q21's semi+anti self-join pair are
    # the expensive shapes; q11/q12 ride along in the correctness sweep)
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    # points/assignment family
    "assign_nearest",
    "purity",
    "dev_inertia",
    "knn_top5",
    "conn_objective",
    # text / dedup / simsearch extensions
    "text_stats",
    "lang_pred",
    "tfidf_terms",
    "docs_sample",
    "corpus_curation",
    "dedup_jaccard",
    "dedup_jaccard_capped",
    # planted-hot-shingle pair: measures the skew cap's benefit (the
    # uncapped twin pays ~(n/3)^2 intersection rows per hot shingle)
    "dedup_jaccard_skewed_uncapped",
    "dedup_jaccard_skewed",
    "dedup_verified",
    "dedup_components",
    # round-7: block-level (line) dedup scrub + quality-aware keeper
    # election over the component clusters
    "docs_para_dedup",
    "dedup_keep_best",
    # round-8: Bloom fast path vs the plain anti-join (dedup_incremental
    # is not benched; the pair of interest is probe cost, map-only)
    "dedup_bloom_prefilter",
    "dedup_incremental_fuzzy",
    "dedup_prefix_filter",
    "cross_source_dups",
    "repetition_stats",
    "decontaminate",
    "semdedup",
    "emb_balanced_sample",
    "docs_quota_sample",
    "corpus_curation_v2",
    # MG sketch+verify vs the full-cardinality groupBy it replaces,
    # and its bounded-state streaming twin (stateful MG + batch verify)
    "heavy_hitters",
    "stream_heavy_hitters",
    "weighted_docs_sample",
    "source_token_kl",
    "dup_span_stats",
    "docs_despan",
    # round-6: learned quality stack — LM perplexity + trained classifier
    "docs_logppl",
    "docs_ppl_buckets",
    # round-7: word-order-aware LM filter (bigram interpolation)
    "docs_bigram_logppl",
    # round-8: REAL-token-budget chunking (BPE walk in one Arrow scan)
    "docs_chunked_bpe",
    # round-8: upstream HTML boilerplate-strip (pure-Catalyst, map-only)
    "docs_html_extract",
    # round-8: tokenizer-fertility gate on the zero-shuffle BPE kernel
    "docs_bpe_fertility",
    # round-8: blocklist gate, mojibake repair, and the full-ladder
    # curation composition they feed
    "docs_blocklist",
    "docs_gopher_full",
    "docs_fix_mojibake",
    "corpus_curation_v3",
    "training_epoch_mix",
    # round-8: time-grid forward-fill resampling (one key window)
    "events_resampled",
    "events_winsorized",
    "events_funnel",
    "events_transitions",
    # round-8: BM25 retrieval (broadcast query-term prune + one tf shuffle)
    "bm25_search",
    # round-8: iterative PageRank (one live exchange per iteration)
    "supplier_pagerank",
    # round-8: int8 quantization recall audit (map-only scan + 2 windows)
    "ann_int8_recall",
    # round-8: per-key OLS trend (one combinable key aggregate)
    "events_value_trend",
    # round-8: JL random projection (map-only integer matmul)
    "emb_rp_project",
    # round-8: market-basket affinity (basket-key self-join + TakeOrdered)
    "part_copurchase",
    # round-8: degree-ordered triangle counting (wedge join + semi close)
    "part_triangles",
    # round-8: snapshot regression diff (fp map-side, one full-outer join)
    "docs_snapshot_diff",
    # round-8: Matryoshka prefix recall audit (one scan, two windows)
    "ann_matryoshka_recall",
    # round-8: personalized PageRank (seed teleport, same loop)
    "supplier_ppr",
    # round-8: bit-shift decayed trending (one combinable key sum)
    "events_trending",
    # round-8: fixed-key entity resolution (segment banding + lev verify)
    "codes_neardup",
    # round-8: per-source curation funnel (gates as flags, one agg)
    "curation_funnel",
    # round-8: MAD daily-volume anomalies (tiny day-table rank windows)
    "events_anomaly_days",
    # round-8: k-core peeling (shrinking edge list, bounded rounds)
    "part_kcore",
    # round-8: LPA communities (edge-keyed rounds + argmax windows)
    "part_communities",
    # round-8: RRF hybrid retrieval (fusion over tiny top-k lists)
    "hybrid_search",
    # round-8: streaming windowed top-k (rank-at-read serving pattern)
    "stream_window_topk",
    # round-8: threshold calibration curve (bounded-quadratic audit)
    "emb_threshold_curve",
    # round-8: last-touch attribution (as-of window + day rollup)
    "events_attribution",
    # round-8: log2 length histogram (one combinable aggregate)
    "docs_length_hist",
    # round-8: centroid separation matrix (one (class,dim) shuffle)
    "emb_centroid_matrix",
    # round-8: streaming curation with the extraction-era gates
    "stream_curate_docs_v3",
    "stream_source_drift",
    # round-9: DSIR data selection (pinned log-ratio literals, one
    # (doc,bucket) shuffle), Count-Min Sketch audit, CUPED readout
    "docs_dsir_topk",
    "events_cms_topk",
    "events_cuped",
    "prox_search",
    "docs_quality_quantile",
    # round-9: weekly cohort retention triangle (one user exchange)
    "events_retention",
    # round-9: RFM segmentation on bucket-decomposed exact global ranks
    "customer_rfm",
    # round-9: SymSpell deletion-neighborhood edit<=1 join
    "names_edit1",
    # round-9: multi-source BFS levels (pagerank marginal-exchange shape)
    "supplier_bfs",
    # round-9: Heaps vocab-growth curve (one stratum window exchange)
    "vocab_growth",
    # round-9: isotonic PAVA calibration (one persisted bucket aggregate)
    "events_isotonic",
    # round-9: streaming session windows (watermark-evicted session state)
    "events_sessions_stream",
    # round-9: exact equi-depth deciles — bucketed_global_rank at 6M rows
    "price_deciles",
    # round-9: salted skew-breaking join (value-equal to the plain join)
    "events_salted_join",
    # round-9: K-fold leave-fold-out target encoding (one tiny aggregate)
    "orders_target_encode",
    # round-9: bounded-state streaming dedup + hopping windows
    "stream_dedup_events",
    "events_hopping",
    # round-9: CUSUM drift detection (windows over the tiny day table)
    "events_cusum",
    # round-9: SRM gate + session path mining
    "events_srm",
    "session_paths",
    # round-9: DAU/WAU stickiness, directed rules, order-gap histogram
    "events_dau_wau",
    "part_rules",
    "orders_gap_hist",
    # round-9 past-cutoff pair, benched since r10 so the whole declared
    # surface sits inside the >2× auto-retry adjudication net
    "orders_pareto_share",
    "vocab_zipf",
    # round-10: WoE/IV encoding (driver-pinned ln literals), Benford
    # digit audit (pinned constants, one 9-row agg), rendezvous-shard
    # manifest (zero-shuffle HRW argmax), cross-source quantile
    # normalization (the rank family's grouped variant)
    "orders_woe_iv",
    "lineitem_benford",
    "docs_shard_manifest",
    "docs_quality_qnorm",
    # round-10: per-type exact quantiles (grouped rank consumer #2),
    # asymmetric containment dedup, Fellegi-Sunter linkage scoring
    "events_type_quantiles",
    "docs_containment",
    "customer_fs_match",
    # round-10: robust median/MAD outlier screen (rank consumer #3),
    # mixed-language confusion matrix
    "events_robust_z",
    "docs_lang_mix",
    # round-10: Hare proportional sampling, conversion-latency
    # quantiles (rank consumer #4), hourly session concurrency
    "docs_proportional_sample",
    "events_conversion_latency",
    "events_concurrency",
    # round-11: zero-extra-scan observe counters (CollectMetrics riding
    # the gate's own action) and the small-files compaction roundtrip
    # (filesystem-byte-sized repartition write + integrity read-back)
    "docs_observed_quality",
    "lineitem_compact_roundtrip",
    # round-11: the pipeline-health audit trio — contract flags in one
    # aggregate, FK orphan counts via anti-joins, frontier-broadcast
    # freshness lags
    "docs_contract_audit",
    "tpch_ref_integrity",
    "events_freshness",
    # round-11 late batch: forward as-of (reversed-order same plan),
    # incremental rollup maintenance (partial-agg merge == full
    # recompute), native GROUPING SETS (one Expand pass)
    "events_asof_forward",
    "orders_incremental_rollup",
    "orders_grouping_sets",
    # round-11: cluster-robust jackknife SE (one bucket agg, exact
    # integer spread statistic, single sqrt)
    "events_ctr_jackknife",
    # round-11: quantile treatment effect (rank consumer #5)
    "events_qte",
    # round-12: bucketed co-located fact-fact join (pays BOTH bucketed
    # writes + the no-exchange merge-join read — the write-amortization
    # demo), continuous SCD2 maintenance (two AvailableNow merge
    # batches + read-back), and the nightly delta-publish composition
    # (incremental dedup -> rollup merge + freshness gate in ONE plan)
    "orders_bucketed_join",
    "events_scd2_stream",
    "nightly_delta_publish",
    # round-12: the layout family's scan-pruning member (partitioned
    # rewrite + directory-pruned read, PartitionFilters asserted)
    "orders_partitioned_scan",
    # round-12 second batch: retrieval-eval readout (BM25 top-10 +
    # coverage qrels + pinned-weight nDCG/MRR/recall), per-type Poisson
    # bootstrap CI (200 deterministic replicates over the unit-level
    # table), CDC latest-wins snapshot (one WindowGroupLimit-pushed key
    # exchange), schema-evolution mergeSchema read (two epoch rewrites
    # + footer-union read-back)
    "bm25_eval",
    "events_bootstrap_ci",
    "events_cdc_snapshot",
    "orders_schema_evolution",
    # round-12 third batch: streaming CDC maintainer (two AvailableNow
    # fold batches + tombstone-retaining versioned state + live
    # read-back), cross-engine order-proof table fingerprint (map-only
    # md5 + one Mersenne-reduced aggregate), ORC format roundtrip
    # (rewrite + ORC-reader-asserted read-back)
    "events_cdc_stream",
    "orders_table_fingerprint",
    "lineitem_orc_roundtrip",
    # round-12 fourth batch (documented r13 window leaders): DiD
    # (one 4-row aggregate), cumulative cohort LTV curve (two bounded
    # exchanges), uplift-by-decile (rank family's sixth consumer)
    "events_did",
    "events_ltv_curve",
    "events_uplift_deciles",
    # round-13: time-travel reads (the CDC ledger AS OF cut re-runs the
    # WindowGroupLimit compaction over the pruned prefix; the SCD2
    # AS OF is one pushed-down filter over the history build) and the
    # hybrid stack's exact rerank tier (shared pruned-tf candidate
    # generation + broadcast-pruned map-only rerank pass)
    "events_cdc_asof",
    "events_scd2_asof",
    "hybrid_rerank",
    # round-13 second batch: the two-cut CDC diff (two prefix-pruned
    # WindowGroupLimit snapshots + key-bounded full outer join) and the
    # rerank tier's eval readout (one pruned-tf pass, three consumers)
    "events_cdc_diff",
    "hybrid_rerank_eval",
    # round-13 third batch: ledger time travel by batch version (each
    # pays its full AvailableNow maintainer run + one direct version
    # read; CDC and SCD2 twins)
    "events_cdc_version_read",
    "events_scd2_version_read",
    # round-13 fourth batch (documented r14 window leader): linear
    # multi-touch attribution (user-key equi-join with a microsecond
    # range residual + per-conversion credit-split windows)
    "events_attribution_multi",
    # round-14: the ladder's position-based (U-shape) and time-decay
    # credit models — same bounded pair join, different in-row credit
    # expression (decay adds the bit-shift weight + a second window)
    "events_attribution_position",
    "events_attribution_decay",
    # round-15: the Markov-chain removal-effect model — one user-keyed
    # journey window, a states²-bounded transition aggregate feeding
    # the driver-side exact-Fraction absorbing-chain solve, broadcast
    # literal re-join
    "events_attribution_markov",
    # round-16: the ladder's Shapley top rung — the same one-user-keyed
    # journey window, a 2^channels-bounded set aggregate feeding the
    # driver-side exact-Fraction coalition-lattice solve, literal output
    "events_attribution_shapley",
    # round-16: sessionized A/B exposure analysis — one user-keyed
    # session window + the in-partition exposure/outcome fold + a
    # 2-row variant rollup
    "events_ab_sessions",
    # round-15: cross-modal retrieval — the IVF serving shape with the
    # corpus side decoded by the multimodal Arrow kernel and the text
    # queries encoded driver-side by the same joint-encoder stub
    "crossmodal_ann",
    # round-16: the cross-modal ship gate — the IVF top-5 graded against
    # the exact brute-force twin's qrels through retrieval_eval (pays
    # the decode scan for codebook + cells + the broadcast exact pass)
    "crossmodal_eval",
    # round-16: incremental IVF index maintenance — two file-paced
    # AvailableNow increments upsert the cell-assignment ledger, then
    # the indexed probe serves the same three queries (pays the
    # maintainer drain like the other streaming ledger entries)
    "crossmodal_index_stream",
    # round-14: the ledger family's VACUUM-style retention audit (pays
    # its full two-batch AvailableNow maintainer run like the version
    # reads, plus two bounded per-version metadata aggregates)
    "events_ledger_vacuum",
    # round-14: the streaming twin of last-touch attribution (stateless
    # merge_asof against the static click timeline + one AvailableNow
    # drain; the sibling events_asof_stream is unbenched, this one
    # anchors the attribution family's streaming path)
    "events_attribution_stream",
    # round-8: SCD2 serving-path lookup (interval join over the history)
    "events_scd2_lookup",
    # round-8: linear-interp resampling (second frame, same sort)
    "events_resampled_li",
    "docs_pii",
    "quality_model_scores",
    "lsh_candidates",
    "simhash_fp",
    "simhash_neardup",
    # approximate kNN backend (J2 scale path): full-table LSH join +
    # exact-sample recall gate (VERDICT r5 #7)
    "knn_lsh_recall",
    "ann_topk",
    "ann_ivf",
    # the composed billion-scale serving stack: IVF probe + ADC re-rank
    "ann_ivfpq",
    # round-7: embedding-space decontamination probe (bench matrix in
    # the Arrow closure, one map-only scan)
    "decontaminate_semantic",
    "emb_covariance",
    "lloyd_kmeans",
    # the full algorithm: tiny budget (fit-only — the r01-comparable
    # number — and fit+rescore, separated per VERDICT r2 #6), the
    # reference's 50x10xL10 budget, and the 600k-row partition-local
    # scale demo
    "mopso_fit_only",
    # the same tiny budget on the approximate-kNN Conn backend (the
    # big-N scale path composed end-to-end, VERDICT r6 #6)
    "mopso_fit_lsh",
    "mopso_fit",
    "mopso_fit_full",
    # scale demo, fit-only first (the r01-anchor-comparable number) then
    # fit+rescore (VERDICT r5 #5 split)
    "mopso_fit_lineitem_only",
    "mopso_fit_lineitem",
]

#: iterations of the reference-budget fit — for the s/iteration readout
FIT_FULL_ITERS = 10

#: round-1 per-query anchors (BASELINE.md table; `mopso_fit` anchor is
#: carried by `mopso_fit_only`, the fit-without-rescore entry, per
#: VERDICT r2 #6). Ratios against these are RAW wall-clock — divide by
#: the run's calib ratio vs a reference round before judging (r01/r02
#: recorded no calibration, so calibrated comparison starts at r05).
ANCHOR_R01 = {
    "q1_pricing": 1.518, "q3_shipping": 1.691, "q6_forecast": 0.366,
    "nation_revenue": 1.295, "top_parts": 1.115, "events_windowed": 0.480,
    "events_sessionized": 0.856, "user_stats": 0.250, "assign_nearest": 0.838,
    "purity": 1.039, "dev_inertia": 0.593, "knn_top5": 0.575,
    "lang_pred": 0.792, "dedup_jaccard": 3.816, "dedup_verified": 6.097,
    "lsh_candidates": 1.519, "simhash_fp": 0.953, "ann_topk": 0.600,
    # the r01 mopso_fit_lineitem never paid the post-hoc rescore the
    # current entry includes — its anchor belongs to the fit-only twin
    "ann_ivf": 1.044, "mopso_fit_only": 4.371, "mopso_fit_lineitem_only": 12.657,
    "conn_objective": 1.026, "text_stats": 0.400,
}

#: clean-host per-query references for queries WITHOUT an r01 anchor —
#: the r06 closing run (BENCH_local_r06_closing.json: cpu_calib
#: 0.053→0.042, spark_calib 0.80→0.88, i.e. a verified-quiet host).
#: Used only to decide when a timing is suspicious enough to re-measure
#: (the >2× auto-retry below); judged ratios still come from ANCHOR_R01.
ANCHOR_R06_CLEAN = {
    "q4_priority": 0.859, "q13_custdist": 0.653, "q16_supplier_variety": 1.268,
    "q22_idle_customers": 0.581, "orders_window_suite": 0.501,
    "events_interval_join": 0.787, "events_sessions_native": 0.886,
    "events_asof": 0.596, "q18_large_volume": 0.933, "q2_min_cost_supplier": 1.16,
    "q21_waiting_suppliers": 1.509, "tfidf_terms": 1.157, "docs_sample": 0.206,
    "corpus_curation": 0.613, "dedup_jaccard_capped": 2.338,
    "dedup_jaccard_skewed_uncapped": 7.426, "dedup_jaccard_skewed": 2.658,
    "dedup_components": 3.703, "repetition_stats": 1.851, "decontaminate": 1.314,
    "semdedup": 2.58, "docs_quota_sample": 0.252, "corpus_curation_v2": 2.948,
    "heavy_hitters": 0.807, "stream_heavy_hitters": 3.397,
    "weighted_docs_sample": 0.196, "source_token_kl": 0.631,
    "dup_span_stats": 1.802, "docs_despan": 1.697, "docs_logppl": 0.576,
    "docs_pii": 0.598, "quality_model_scores": 0.641, "simhash_neardup": 1.997,
    "knn_lsh_recall": 4.11, "ann_ivfpq": 4.376, "emb_covariance": 0.893,
    "lloyd_kmeans": 1.708, "mopso_fit": 4.199, "mopso_fit_full": 5.069,
    "mopso_fit_lineitem": 17.373,
}

#: r08 committed-artifact references for the round-7/8-born entries that
#: had no anchor (VERDICT r8 #3: the three most expensive non-fit
#: entries sat OUTSIDE the >2× auto-retry adjudication net). Source:
#: BENCH_local_r08.json final run (cpu_calib 0.110, spark_calib 0.780,
#: micro_ref 1.083 — a slightly busy host, so these skew ~1.1-1.2×
#: generous as retry thresholds, which is the safe direction). Like
#: ANCHOR_R06_CLEAN these only arm the auto-retry; judged ratios still
#: come from ANCHOR_R01.
ANCHOR_R08 = {
    "docs_para_dedup": 3.82, "dedup_keep_best": 3.664,
    # r15 re-anchor: the probe's broadcast-Arrow-kernel crossover
    # removed ~7.5s of plan-literal py4j per run (18.853 → bench-context
    # 2.26-3.95 across three r15 passes, quiet-protocol best-of 1.96 on
    # a ~1.8x-elevated window); floor + headroom so a kernel regression
    # is detectable
    "dedup_bloom_prefilter": 4.0, "dedup_incremental_fuzzy": 10.342,
    "dedup_prefix_filter": 7.476, "cross_source_dups": 0.722,
    "emb_balanced_sample": 0.885, "docs_ppl_buckets": 1.148,
    "docs_bigram_logppl": 2.472, "docs_chunked_bpe": 0.496,
    "docs_html_extract": 2.164, "docs_bpe_fertility": 0.386,
    "docs_blocklist": 0.266, "docs_gopher_full": 1.35,
    "docs_fix_mojibake": 0.769,
    # r08 measured the pre-fusion 4-scan composition at 47.2s; the r09
    # single-scan fusion measured 3.8s warm / 9.7s cold at sf0.1
    "corpus_curation_v3": 4.5,
    "training_epoch_mix": 1.323, "events_resampled": 1.144,
    "events_winsorized": 1.362, "events_funnel": 0.76,
    "events_transitions": 0.886, "bm25_search": 3.283,
    "supplier_pagerank": 16.255, "ann_int8_recall": 1.366,
    "events_value_trend": 0.855, "emb_rp_project": 0.478,
    "part_copurchase": 3.308, "part_triangles": 5.011,
    "docs_snapshot_diff": 0.937, "ann_matryoshka_recall": 0.981,
    "supplier_ppr": 15.544, "events_trending": 0.521,
    "codes_neardup": 0.947, "curation_funnel": 3.383,
    "events_anomaly_days": 0.736, "part_kcore": 3.594,
    "part_communities": 5.803, "hybrid_search": 2.115,
    "stream_window_topk": 4.122, "emb_threshold_curve": 0.832,
    "events_attribution": 0.605, "docs_length_hist": 0.318,
    "emb_centroid_matrix": 0.615, "stream_curate_docs_v3": 6.598,
    "stream_source_drift": 2.97,
    # r10 re-anchor (VERDICT r9 #4): sub-second 0.584 never reproduced
    # on the current host generation (driver best 1.31, clean-host
    # re-measures 1.04/1.66); 1.3 is the honest sub-2s floor
    "events_scd2_lookup": 1.3,
    "events_resampled_li": 4.367, "decontaminate_semantic": 0.664,
    # r10 re-anchor after the knn_pairs_lsh codegen rewrite (the ml
    # approxSimilarityJoin encoder path was 42s of the old 70.9s):
    # measured 27.4s cold / 14.4s warm at sf0.1 on a settled host
    "mopso_fit_lsh": 28.0,
    # r9-born operators, measured at build time (warm): dsir's cold
    # first attempt pays the explode codegen (~23s) and is EXPECTED to
    # trip the retry net down to its ~5s warm number
    "docs_dsir_topk": 6.0, "events_cms_topk": 1.5, "events_cuped": 1.0,
    "prox_search": 5.5, "docs_quality_quantile": 1.0,
    "events_retention": 1.0, "customer_rfm": 3.3, "names_edit1": 8.0,
    "supplier_bfs": 17.5, "vocab_growth": 2.9, "events_isotonic": 1.5,
    "events_sessions_stream": 3.3, "price_deciles": 1.9,
    "events_salted_join": 1.0, "orders_target_encode": 0.7,
    # r10 re-anchor (VERDICT r9 #4): the isolated warm drain is 5.9s
    # (2 AvailableNow batches: addBatch 2.5s + 1.1s, profiled 2026-08-15)
    # so the operator floor is real — 7.0 adds the downstream batch agg
    # and keeps the retry net armed without re-tripping on quiet-host
    # runs the way the 5.6 build-window reading did two driver rounds
    "stream_dedup_events": 7.0, "events_hopping": 0.5,
    "events_cusum": 1.3, "events_srm": 0.9, "session_paths": 1.3,
    "events_dau_wau": 1.6, "part_rules": 2.8, "orders_gap_hist": 0.8,
    # r10-born bench entries (the r9 past-cutoff pair), measured warm at
    # sf0.1 on a settled host (1.39s / 0.49s; cold first-run 6.3s/0.9s)
    "orders_pareto_share": 2.0, "vocab_zipf": 0.8,
    # r10-new operators, measured at sf0.1 (cold/warm: 4.1/1.0, 1.5/1.0,
    # 1.0/0.7, 2.3/1.4)
    "orders_woe_iv": 1.5, "lineitem_benford": 1.2,
    "docs_shard_manifest": 1.0, "docs_quality_qnorm": 1.8,
    # second r10 batch (cold/warm: 6.0/1.5, 5.7/2.0, 6.0/4.7)
    "events_type_quantiles": 2.5, "docs_containment": 3.0,
    "customer_fs_match": 5.0,
    # third r10 batch (cold/warm: 6.3/3.1, 1.5/1.4)
    "events_robust_z": 4.0, "docs_lang_mix": 1.6,
    # fourth r10 batch (cold/warm: 4.3/1.3, 5.2/2.1, 1.7/1.0)
    "docs_proportional_sample": 1.8, "events_conversion_latency": 2.5,
    "events_concurrency": 1.2,
    # r11-new (cold/warm: 4.4/1.4, 3.6/1.8 — the roundtrip rewrites the
    # 170MB lineitem parquet every run, so its floor is a real write)
    "docs_observed_quality": 2.0, "lineitem_compact_roundtrip": 2.5,
    # r11 audit trio (cold/warm: 2.8/0.6, 4.2/1.8, 1.0/0.5)
    "docs_contract_audit": 0.9, "tpch_ref_integrity": 2.2,
    "events_freshness": 0.7,
    # r11 late batch (cold/warm: 2.8/0.8, 1.1/0.5, 0.7/0.4, 3.5/0.9)
    "events_asof_forward": 1.2, "orders_incremental_rollup": 0.7,
    "orders_grouping_sets": 0.6, "events_ctr_jackknife": 1.2,
    # r11: QTE (cold/warm 6.2/1.4 — two grouped-rank passes)
    "events_qte": 2.2,
    # r12-new (cold/warm: 6.4/2.7, 4.8/2.6, 3.8/1.6 — the bucketed
    # join rewrites BOTH fact tables every run, the scd2 stream pays
    # two real AvailableNow merge batches + ledger IO)
    "orders_bucketed_join": 3.5, "events_scd2_stream": 3.2,
    "nightly_delta_publish": 2.2,
    # r12: partitioned rewrite + pruned read (cold/warm 3.0/1.0)
    "orders_partitioned_scan": 1.4,
    # r12 second batch (cold/warm: 14.1/3.9, 0.8/0.6, 0.8/0.5,
    # 1.4/0.8 — bm25_eval pays the full BM25 retriever AND the
    # coverage labeler, each a corpus explode+prune pass; the
    # schema-evolution entry rewrites both orders epochs every run).
    # events_bootstrap_ci RE-ANCHORED r13 2.0 -> 1.6 after the plan
    # restructure removed the true floor: the r12 "md5 CASE JIT"
    # hypothesis was wrong — AQE was coalescing the tiny per-unit
    # shuffle to ONE task and the 200x explode + md5 fold ran
    # single-threaded in that stage (plus two stages of point-branch
    # re-optimization latency). The r13 shape pins the explode stage's
    # parallelism with an explicit-N round-robin repartition and rides
    # the point estimate on the replicate fold (4 exchanges, no join):
    # birth protocol best-of-5 read 0.73-1.15s warm, calibs 0.32-0.36
    # vs the 0.5 session ref. Like bm25_eval, the anchor is the
    # BENCH-CONTEXT level, not the fresh-session floor: the three r13
    # full passes read 1.64/2.38/2.35 inside the 179-entry session
    # (accumulated-JIT/GC context, elevated host), and a 1.2 anchor
    # would arm the retry net every round on healthy code
    # (BASELINE.md r13)
    "bm25_eval": 4.8, "events_bootstrap_ci": 1.6,
    "events_cdc_snapshot": 0.7, "orders_schema_evolution": 1.1,
    # r12 third batch (cold/warm: 4.6/2.4, 5.2/0.5, 1.6/0.9 — the cdc
    # stream pays two real AvailableNow fold batches + ledger IO every
    # run; the orc entry rewrites the lineitem slice every run)
    "events_cdc_stream": 2.8, "orders_table_fingerprint": 0.9,
    "lineitem_orc_roundtrip": 1.2,
    # r12 fourth batch (cold/warm: 5.0/0.6, 2.1/1.0, 1.9/1.1)
    "events_did": 0.9, "events_ltv_curve": 1.3,
    "events_uplift_deciles": 1.4,
    # r13 births (cold/warm: 2.3/0.66, 0.9/0.42, 9.1/3.5 — the rerank
    # pays the shared pruned-tf candidate generation (both retrievers)
    # plus the broadcast-pruned rerank pass; birth-protocol best-of-5
    # with quiet calibs, BASELINE.md r13)
    "events_cdc_asof": 0.9, "events_scd2_asof": 0.6,
    "hybrid_rerank": 4.5,
    # r13 second batch (cold/warm: 3.4/0.96, 10.2/5.6 — the diff pays
    # two prefix snapshots + the key join; the rerank eval pays BOTH
    # candidate generators, the rerank pass AND the qrel labeler over
    # one shared pruned-tf; birth-protocol best-of-5, quiet calibs)
    "events_cdc_diff": 1.3, "hybrid_rerank_eval": 7.0,
    # r13 third batch (cold/warm: 5.5/2.2 and 5.0/2.2 — each pays its
    # full two-batch AvailableNow maintainer run, like the stream
    # twins, plus the direct v=0 read; birth-protocol best-of-5,
    # quiet calibs)
    "events_cdc_version_read": 3.0,
    "events_scd2_version_read": 3.0,
    # r13 fourth batch (cold/warm: 2.5/0.79; birth-protocol best-of-5,
    # quiet calibs)
    "events_attribution_multi": 1.1,
    # r14 births (birth-protocol best-of-5 on a ~1.7x-elevated host,
    # calibs 0.53-0.92 vs the 0.35 quiet level: position 0.73, decay
    # 0.73 — quiet-equivalent ~0.45-0.55; anchored at the linear
    # model's level, same bounded pair join + one extra window)
    "events_attribution_position": 1.0,
    "events_attribution_decay": 1.0,
    # r15 birth (warm 1.6-1.8 beside a running smoke; floor + headroom
    # — the trans collect + v_total scan cost more than the pair models)
    "events_attribution_markov": 2.5,
    # r16 birth (quiet_bestof_r16_births.json: warm 0.77-0.88, best
    # 0.769, cpu_calib 0.20 — ~1.7x the quiet floor, so 1.2 carries
    # honest headroom): the same journey window as markov plus the
    # tiny set aggregate + driver lattice solve
    "events_attribution_shapley": 1.2,
    # r16 birth (quiet_bestof_r16_births2.json: warm 0.92-1.07, best
    # 0.922 at cpu_calib 0.118 — an actually-quiet window): the session
    # window + in-partition fold + 2-row rollup
    "events_ab_sessions": 1.3,
    # r15 second birth (warm 1.7-2.3 beside a running smoke; the decode
    # kernel + codebook-sample collect dominate at sf0.1)
    "crossmodal_ann": 3.0,
    # r16 birth (warm 2.8-3.1, best 2.833 on the same protocol run):
    # crossmodal_ann's decode + codebook + probe plus the broadcast
    # exact-twin pass and the |queries|-bounded eval arithmetic
    "crossmodal_eval": 3.5,
    # r16 birth (warm 3.3-3.5, best 3.297): pays the two-increment
    # AvailableNow maintainer drain (kernel-per-increment + versioned
    # ledger writes) before the indexed serve
    "crossmodal_index_stream": 4.0,
    # r14 third birth: the vacuum audit pays the same maintainer run
    # as the version reads (their 3.0 anchors) + two tiny aggregates
    "events_ledger_vacuum": 3.0,
    # r14 fourth birth; re-anchored r15 (VERDICT r14 #7): birth 2.0 was
    # set on a never-quiet host, two contexts (bench pass-3 0.865,
    # quiet best-of-5 0.860) agree the level is ~0.86 — anchored at the
    # floor + headroom so a kernel regression is detectable
    "events_attribution_stream": 1.2,
}

#: auto-retry threshold: a timing above ``RETRY_FACTOR ×`` its
#: reference is re-measured (up to MAX_RETRIES more attempts) with a
#: micro spark-calibration reading taken ADJACENT to every attempt, so
#: the artifact itself shows whether a slow number was host noise
#: (calib inflated too) or real (calib quiet, query still slow).
RETRY_FACTOR = 2.0
MAX_RETRIES = 2
#: queries whose VALUE is a comparison against a twin (the skew-cap
#: pair): single-shot timings under the observed ±2× host noise can
#: invert the pair, so both twins are always measured best-of-3 with
#: every attempt recorded — the artifact then carries a defensible
#: paired comparison instead of one noise sample (VERDICT r7 #2)
FORCE_BEST_OF = {
    "dedup_jaccard_skewed": 3,
    "dedup_jaccard_skewed_uncapped": 3,
}
#: take an interleaved micro-calibration reading every N queries — the
#: r06 driver artifact proved endpoint pre/post brackets cannot see
#: noise windows that open and close MID-run (VERDICT r6 #1)
CALIB_EVERY = 5


def _cpu_calibration() -> float:
    """Seconds for a fixed single-core numpy workload (host-speed
    fingerprint; BLAS-bound like the Arrow kernels)."""
    import numpy as np

    a = np.random.RandomState(0).rand(1024, 1024)
    t0 = time.time()
    for _ in range(10):
        a @ a
    return round(time.time() - t0, 3)


def _spark_calibration(spark) -> float:
    """Seconds for a fixed JVM-side Spark workload (range → hash-agg →
    shuffle → noop sink): fingerprints scheduler + codegen + shuffle
    throughput IN-PROCESS, which is what the timed queries actually pay.
    Run before AND after the query loop — the pre/post pair bounds how
    much the host drifted DURING the run (r03's 2-4× load swings)."""
    from pyspark.sql import functions as SF

    t0 = time.time()
    (
        spark.range(20_000_000)
        .select((SF.col("id") % 997).alias("k"), "id")
        .groupBy("k")
        .agg(SF.sum("id").alias("s"), SF.count("*").alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    return round(time.time() - t0, 3)


def _micro_spark_calibration(spark) -> float:
    """A ~0.2s slice of the spark calibration (same range→hash-agg→
    shuffle→noop shape, 1/8 the rows): cheap enough to interleave
    through the query loop and to bracket every retry attempt, so the
    artifact carries an IN-RUN host-speed track, not just endpoints."""
    from pyspark.sql import functions as SF

    t0 = time.time()
    (
        spark.range(2_500_000)
        .select((SF.col("id") % 997).alias("k"), "id")
        .groupBy("k")
        .agg(SF.sum("id").alias("s"), SF.count("*").alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from mopso_engine.session import build_session

    spark = build_session(master=f"local[{cpus}]", app_name="mopso-engine-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    # warm the session (JVM classloading, scheduler, python workers,
    # parquet reader) so the first timed query isn't charged for it
    spark.range(1000).repartition(int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # ... and warm the two heaviest codegen/JIT families on bounded
    # inputs (a 300-doc shingle join, a 300-vector fitness pass): the
    # first dedup and first fit queries otherwise pay one-off janino
    # compilation + C2 warmup — measured 2-6s of run-to-run noise that
    # belongs to the JVM, not to the operator being timed. Uncharged,
    # applied before ALL timings, same policy as the scheduler warmup.
    from mopso_engine.ext.dedup import jaccard_pairs
    from mopso_engine.io import points_from_embeddings
    from mopso_engine.objectives import evaluate_solutions, with_neighbors

    import numpy as np

    docs_small = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(300)
    jaccard_pairs(docs_small, threshold=0.5).write.format("noop").mode("overwrite").save()
    pts_small = points_from_embeddings(spark, sf_dir).limit(300)
    nbr_small = with_neighbors(pts_small.repartition(4, "id"), 3, mode="partition_local")
    evaluate_solutions(nbr_small, np.zeros((2, 3, 64)))
    # NOT warmed: the rescore family. A bounded 300-row rescore warmup
    # was TRIED in r17 and did not move the first in-session exact
    # rescore's elevation (mopso_fit's rescore phase read 5.01s with the
    # warmup vs 4.86 without, while its identical-path twin
    # mopso_fit_full right after reads 1.2-1.6s) — the cost is
    # first-run-at-full-scale session state, not bounded-input janino,
    # and the per-entry `rescore` phase in fit_phases now adjudicates it
    # in-artifact.

    from mopso_engine.scope import PHASES, query_scope

    # warm the calibration workloads themselves (BLAS thread pool, the
    # calib job's codegen) so pre vs post measures HOST drift, not the
    # calib's own first-run JIT — without this the pre reading ran ~2x
    # the post on an idle host
    _cpu_calibration(), _spark_calibration(spark), _micro_spark_calibration(spark)
    cpu_pre, spark_pre = _cpu_calibration(), _spark_calibration(spark)
    micro_ref = _micro_spark_calibration(spark)

    anchors = dict(ANCHOR_R08)
    anchors.update(ANCHOR_R06_CLEAN)  # earlier-round anchors win
    anchors.update(ANCHOR_R01)  # r01 wins where both exist

    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    retries: dict[str, dict] = {}
    calib_track: list[dict] = []
    # setup/iter-loop decomposition of every fit attempt (VERDICT r10
    # #3): lets the artifact self-adjudicate a slow fit entry — setup
    # inflated while sec/iter stays flat = per-job fixed-cost (launch/
    # IO) noise; sec/iter inflated = a real kernel regression. The
    # engine-side walls exclude the query wrapper's own read/rescore
    # work, so phases sum to slightly less than the entry timing.
    fit_phase_attempts: dict[str, list] = {}
    graph_phase_attempts: dict[str, list] = {}
    #: graph entries whose engine loop reports a setup/blocks
    #: decomposition (VERDICT r11 #2: supplier_bfs swung 15→22s across
    #: rounds on unchanged code — the artifact now separates the cache
    #: build from the per-block expansion walls so a swing
    #: self-adjudicates without a worktree A/B)
    GRAPH_PHASE_QUERIES = {"supplier_bfs", "supplier_ppr", "supplier_pagerank"}

    def note_fit_phases(name: str, t: float) -> None:
        """Record the phases the query left in the scope's PHASES (read
        after its scope closed)."""
        if name.startswith("mopso_fit") and PHASES:
            fit_phase_attempts.setdefault(name, []).append((t, dict(PHASES)))
        if name in GRAPH_PHASE_QUERIES and PHASES:
            graph_phase_attempts.setdefault(name, []).append(
                (t, {k: (list(v) if isinstance(v, list) else v)
                     for k, v in PHASES.items()})
            )

    def run_once(name: str) -> float:
        t0 = time.time()
        # the scope releases what the query persisted or broadcast (after
        # the timing), so one query's storage doesn't leak into the next
        with query_scope():
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
        return t

    for qi, name in enumerate(BENCH_QUERIES):
        if qi % CALIB_EVERY == 0:
            calib_track.append(
                {"before": name, "spark_micro": _micro_spark_calibration(spark)}
            )
        # per-query isolation (VERDICT r4 #6): one broken query costs one
        # entry, never the whole artifact — r04 recorded ZERO timings
        # because the 11th query aborted the loop
        try:
            t = run_once(name)
            note_fit_phases(name, t)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)
            continue
        if name in FORCE_BEST_OF:
            attempts, calibs = [t], [_micro_spark_calibration(spark)]
            bo_failed = False
            try:
                for _ in range(FORCE_BEST_OF[name] - 1):
                    attempts.append(run_once(name))
                    calibs.append(_micro_spark_calibration(spark))
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"best-of retry: {type(exc).__name__}: {exc}"[:500]
                bo_failed = True
            retries[name] = {
                "attempts": attempts,
                "micro_calib": calibs,
                "micro_calib_ref": micro_ref,
                "reference_sec": anchors.get(name),
                "policy": "forced_best_of",
            }
            if bo_failed:
                # a partially-errored best-of records its attempts under
                # retries only — never a timing — so an entry is in
                # timings XOR errors and "zero errors" means zero errors
                print(f"# {name}: best-of ERRORED after {attempts}", file=sys.stderr)
                continue
            t = min(attempts)
            timings[name] = t
            print(f"# {name}: best-of {attempts} -> {t:.3f}s", file=sys.stderr)
            continue
        # self-adjudication (VERDICT r6 #1): a >2×-reference timing is
        # re-measured immediately, each attempt bracketed by a micro
        # calibration reading — if the host was in a noise window the
        # retry (and its calib) shows it, and min(attempts) is the
        # defensible number; if it's a real regression every attempt
        # stays slow while the calib stays quiet. New queries with no
        # reference yet record their first-round number unretried.
        ref = anchors.get(name)
        if ref is not None and t > RETRY_FACTOR * ref:
            attempts, calibs = [t], [_micro_spark_calibration(spark)]
            retry_error = None
            for _ in range(MAX_RETRIES):
                try:
                    attempts.append(run_once(name))
                    note_fit_phases(name, attempts[-1])
                except Exception as exc:  # noqa: BLE001
                    # the FIRST attempt succeeded, so the entry keeps its
                    # best timing; the flaky retry is recorded HERE, not
                    # in errors (timings XOR errors stays invariant)
                    retry_error = f"retry: {type(exc).__name__}: {exc}"[:500]
                    break
                calibs.append(_micro_spark_calibration(spark))
                if attempts[-1] <= RETRY_FACTOR * ref:
                    break
            t = min(attempts)
            retries[name] = {
                "attempts": attempts,
                "micro_calib": calibs,
                "micro_calib_ref": micro_ref,
                "reference_sec": ref,
            }
            if retry_error is not None:
                retries[name]["retry_error"] = retry_error
            print(
                f"# {name}: RETRIED {attempts} (ref {ref}s, calib {calibs})",
                file=sys.stderr,
            )
        timings[name] = t
        print(f"# {name}: {t:.3f}s", file=sys.stderr)

    cpu_post, spark_post = _cpu_calibration(), _spark_calibration(spark)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "bench_total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # host-speed fingerprints recorded WITH the run so a cross-round
        # regression can be attributed to code vs a noisy/throttled host
        # (2-4× run-to-run host variance observed in r03). cpu_* is a
        # single-core numpy matmul; spark_* a fixed in-process JVM
        # shuffle+agg job. pre/post bracket the query loop — a large
        # pre/post spread means the host drifted mid-run. Cross-round
        # rule (BASELINE.md): ratio_q(rA→rB) judged against
        # spark_calib(rA→rB) — per-query slowdowns within ~1.5× of the
        # calib ratio are environment, not code.
        "cpu_calib_sec": round((cpu_pre + cpu_post) / 2, 3),
        "cpu_calib_pre": cpu_pre,
        "cpu_calib_post": cpu_post,
        "spark_calib_sec": round((spark_pre + spark_post) / 2, 3),
        "spark_calib_pre": spark_pre,
        "spark_calib_post": spark_post,
        # RAW wall-clock ratios vs the r01 anchor table (no r01 calib
        # exists — normalize with the calib fields before judging)
        "vs_r01_anchor_raw": {
            q: round(timings[q] / a, 2) for q, a in ANCHOR_R01.items() if q in timings
        },
        # the in-run host-speed track + retry evidence that make the
        # artifact self-adjudicating (VERDICT r6 #1): every suspicious
        # entry carries its attempts and adjacent calib readings
        "micro_calib_ref": micro_ref,
        "calib_track": calib_track,
    }
    if retries:
        out["retries"] = retries
    if errors:
        out["errors"] = errors
    if "mopso_fit_full" in timings:
        # per-iteration driver-loop cost of the reference-budget fit
        # (includes its one-off kNN precompute + post-hoc rescore)
        out["fit_full_sec_per_iter"] = round(timings["mopso_fit_full"] / FIT_FULL_ITERS, 3)
    if fit_phase_attempts:
        # best (= fastest) attempt's engine-side phase walls per fit
        # entry, + the lineitem pair's headline decomposition (VERDICT
        # r10 #3: this pair tripped the retry net three rounds running
        # on setup-side host drift; now the artifact separates the
        # verdict itself)
        out["fit_phases"] = {
            n2: min(lst, key=lambda x: x[0])[1]
            for n2, lst in sorted(fit_phase_attempts.items())
        }
        ph = out["fit_phases"].get("mopso_fit_lineitem_only")
        if ph and ph.get("n_iters_run"):
            out["fit_lineitem_setup_sec"] = ph["setup"]
            out["fit_lineitem_sec_per_iter"] = round(
                ph["iter_loop"] / ph["n_iters_run"], 3
            )
    if graph_phase_attempts:
        # best attempt's setup/per-block walls per graph entry (VERDICT
        # r11 #2): a bfs/pagerank swing now adjudicates in-artifact —
        # setup inflated with flat blocks = host/IO noise, a block
        # inflated = kernel regression
        out["graph_phases"] = {
            n2: min(lst, key=lambda x: x[0])[1]
            for n2, lst in sorted(graph_phase_attempts.items())
        }
    # durable artifact (VERDICT r7 #1): two consecutive driver captures
    # kept only a 2000-char stdout tail (parsed: null), so the full JSON
    # is ALSO written to disk — atomic replace so a crashed run never
    # leaves a truncated file — and stdout gets the compact rendering as
    # the single final line so even a tail capture holds more entries.
    # ROUND-STAMPED default, now DERIVED, not hand-bumped (ADVICE r13:
    # the r12-stamped constant silently clobbered the committed
    # round-12 closing artifact when the r13 passes ran). The current
    # round is 1 + the newest driver CORRECTNESS_r{N}.json in the repo
    # dir — the driver writes that file at the END of round N, so its
    # max is always last round; no constant to forget. Env override
    # (SPARK_GRAFT_BENCH_OUT) still wins.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for m in (
            re.match(r"CORRECTNESS_r(\d+)\.json$", f)
            for f in os.listdir(repo_dir)
        )
        if m
    ]
    cur_round = (max(rounds) if rounds else 0) + 1
    artifact = os.environ.get("SPARK_GRAFT_BENCH_OUT", os.path.join(
        repo_dir, f"BENCH_local_r{cur_round:02d}.json"))
    tmp = artifact + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    os.replace(tmp, artifact)
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
