"""Plan lint: every declared query's physical plan is swept for scale
hazards.  This enforces SCALING.md mechanically — a query that would
melt down at 100 TB because of an accidental cartesian product,
nested-loop join, or single-partition window fails CI here, not in
production.

Hazards and their allowlists (each allowlisted query documents WHY the
shape is intentional in its docstring / SCALING.md §"Known
local-mode-only shapes"):

- CartesianProduct / BroadcastNestedLoopJoin: only legitimate for
  joining a 1-row aggregate (scalar subquery decorrelation) or a tiny
  generated frame onto another frame.
- Unpartitioned WindowExec ("Window ... ORDER BY" with no PARTITION BY
  shuffles ALL rows to one task): only legitimate for bounded frames
  (post-agg scalars, a one-day minute spine, small per-query rankings).
"""

from __future__ import annotations

import pytest

from ght2dm_spark.queries import QUERIES

# Queries whose plan legitimately contains a cross/nested-loop join:
# every entry joins a ≤1-row (or constant-size) frame, never two facts.
CROSS_OK = {
    "t1_event_funnel",  # three 1-row counts cross-joined into one row
    "q2_min_acctbal_supplier",  # scalar MIN subquery broadcast
    "q8_market_share",  # scalar year-total frame
    "q11_important_parts",  # scalar global-agg threshold
    "q14_promo_effect",  # ratio of two 1-row aggregates
    "q15_top_supplier",  # scalar MAX revenue frame
    "q17_small_quantity",  # decorrelated per-part avg (broadcast)
    "q22_dormant_customers",  # scalar AVG acctbal
    "t1_train_test_split",  # 2-row label frame
    "t1_lang_balance_sample",  # 1-row quota frame
    "t1_time_gapfill",  # bounds frame (1 row) feeding sequence()
    "t1_drift_tvd",  # global min/max bounds frame (1 row) feeding the binning
    "t1_profile_table",  # per-column scalar stats assembled crosswise
    "t1_salted_join",  # deliberate: dim × 8-row salt spine replication
    "t1_ann_bruteforce_topk",  # deliberate brute-force baseline (query×corpus)
    "t1_sq8_ann",  # deliberate compressed linear scan (query×int8 corpus)
    "t1_ann_euclidean_topk",  # deliberate brute-force baseline (query×corpus)
    "t1_ann_recall",  # composes the brute-force baseline as its ground truth
    "t1_hybrid_rrf",  # dense leg composes the brute-force baseline (query×corpus)
    "t1_mmr_rerank",  # candidates compose the brute-force baseline (query×corpus)
    "t1_knn_classify",  # neighbors compose the brute-force baseline (query×corpus)
    "t1_knn_confusion",  # same neighbor lists as t1_knn_classify
    "t1_ndcg_eval",  # grades the brute-force baseline run (query×corpus)
    # + a query×corpus label cross for the total-relevant denominator
    "t1_embedding_neardup",  # bucketed pairs; tiny bucket self-pairs
    "t1_ann_ivf_topk",  # vectors × K centroids (K bounded), queries × probes
    "t1_tfidf_top_terms",  # 1-row corpus-size frame for the IDF term
    "t1_token_pmi",  # 1-row corpus-size frame for the PMI numerator
    "t1_pagerank",  # 1-row node-count frame for the damping base term
    "t1_negative_sampling",  # 1-row corpus-size frame for the id modulus
    "t1_triangle_count",  # 1-row max-shared frame for the edge threshold
    "t1_kmeans_clusters",  # K-row centroid frame broadcast per round
    "t1_ann_ivf_learned",  # K-row centroid frame broadcast per round
    "t1_semdedup",  # K-row centroid frame broadcast per round (k-means blocking)
    "t1_bm25_topk",  # 1-row corpus-stats frame (N, avgdl) for the score
    "t1_dsir_sample",  # 1-row corpus-prior frame for the keep threshold
    "t1_keyset_pagination",  # 1-row page-anchor frame broadcast
    "t1_heavy_hitters",  # 1-row corpus-token-total frame for the threshold
    "t1_crosstab_chisq",  # marginal-sized grid cross (|types|×|tiers|) + 1-row total
    "t1_benford_audit",  # 1-row digit-total frame for the share math
    "t1_join_cardinality_audit",  # two 1-row audit frames joined into one row
    "t1_temperature_mix",  # 1-row kept/before-total frame for the share math
    "t1_pq_ann",  # K-row codebook frames broadcast (training + NQ×M×K LUT)
    "t1_ivfadc",  # K-row coarse + codebook frames broadcast per round
    "t1_ivfadc_rerank",  # same core + Q×C shortlist broadcast re-rank
    "t1_kmv_sketch",  # 1-row exact-total frame joined onto 1-row sketch rows
    "t1_hll_sketch",  # same shape: 1-row exact-total × 1-row register rollup
    "t1_perceptron_quality",  # 1-row weight/mean frames broadcast per epoch
    "t1_loghist_quantiles",  # 3-row quantile spec × ≤16-row histogram pick
    "t1_pca_power",  # 1-row mean/vector/max-abs frames broadcast per round
    "t1_vocab_growth",  # 1-row id-span frame for the prefix-bucket arithmetic
    "t1_mrr_eval",  # grades the brute-force baseline run (query×corpus)
    "t1_recall_at_k",  # same + query×corpus label cross for the denominator
    "t1_pr_curve",  # 10-row literal threshold frame broadcast over one scan
    "t1_quant_recall_drift",  # three deliberate compressed/exact linear scans
    "t1_heaps_exponent",  # composes t1_vocab_growth (1-row id-span cross)
    "t1_graph_reciprocity",  # two 1-row edge-count frames joined into one row
    "t1_degree_assortativity",  # 1-row threshold-total frame for edge filter
    "t1_query_expansion_prf",  # composes t1_bm25_topk (1-row stats frame)
    "t1_retention_curve",  # 7-row offset spine × first-seen frame + 1-row base
    "t1_items_per_order_dist",  # unbounded window over the ≤|basket-sizes| rollup
    # round 9
    "t1_basket_lift",  # 1-row order-count frame for the lift denominator
    "t1_rolling_corr",  # |days| × |types| dense grid (both tiny distincts)
    "t1_emb_hubness",  # composes the brute-force baseline (query×corpus)
    "t1_zipf_residuals",  # 1-row OLS-fit frame broadcast onto 50 rank rows
    "t1_js_divergence_sources",  # |sources| × vocab dense grid (4 × 31)
    "t1_kl_source_divergence",  # 1-row corpus-token-total frame
    "t1_shingle_burstiness",  # 1-row id-span frame + top-30 × 10-bucket spine
}

# Queries whose plan legitimately contains an unpartitioned ORDERED
# window (single-task sort): both are bounded-input demos documented in
# SCALING.md §"Known local-mode-only shapes".
GLOBAL_WINDOW_OK = {
    "t1_window_range_frame",  # frame-semantics demo over one table
    "t1_time_gapfill",  # 1440-row minute spine forward fill (one series)
    "t1_sliding_distinct_users",  # window over |days| rows (calendar-bounded)
    "t1_mom_growth",  # lag over |months| rows (calendar-bounded)
    "t1_top_n_other",  # row_number over the |categories|-row aggregate
    "t1_rfm_segments",  # quintile windows over the |users|-row aggregate;
    # 100 TB form broadcasts approx-quantile cut points (docstring)
    "t1_loghist_quantiles",  # cumsum over the ≤16-row log histogram
    "t1_vocab_growth",  # cumsum over the 10-row bucket aggregate
    "t1_percent_change",  # lag over |months| rows (calendar-bounded)
    "t1_running_distinct",  # cumsum over |days| rows (calendar-bounded)
    "t1_lift_deciles",  # global NTILE over (score, id); decile-bounded
    # output — 100 TB form buckets scores first (docstring), like
    # t1_rfm_segments' approx-quantile cut points
    "t1_order_value_pareto",  # same class: NTILE over the per-customer
    # aggregate, then 10-row window math
    "t1_heaps_exponent",  # composes t1_vocab_growth's 10-row cumsum
    "t1_query_expansion_prf",  # row_number over the candidate-term
    # frame — k-bounded (terms of the 10 feedback docs only)
    "t1_quant_recall_drift",  # composes the bounded per-query rank
    # windows of the quantized scans (|Q| partitions)
    "t1_emb_dim_variance",  # rank over the 64-row per-dimension aggregate
    "t1_items_per_order_dist",  # total window over the ≤|basket-sizes| rollup
    # round 9
    "t1_zipf_residuals",  # rank over the vocab-sized df aggregate; the
    # OLS fit runs over exactly 50 rows
    "t1_crosssource_ngram_df",  # rank over the multi-source subset of
    # the vocab-sized aggregate (top-50 output)
    "t1_containment_asym",  # rank over the rare-shingle-bounded
    # candidate-pair frame (df<=4 bounds pairs per shingle at C(4,2))
    "t1_shingle_burstiness",  # rank over the vocab-sized df aggregate
    # (top-30 pick); moments run on the 300-row dense grid
    "t1_heaps_exponent",  # cumsum over the 10-row shingle-growth buckets
}

# Streaming queries drive a memory sink; their final plan is the sink
# table scan, so linting the batch plan is meaningless.
SKIP = {name for name in QUERIES if name.startswith("t1_stream_")}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_has_no_scale_hazards(name, spark, sf_dir):
    if name in SKIP:
        pytest.skip("streaming sink plan")
    # The query's own plan, not the registry's checkpoint of it: outside
    # the registry's block a pinned frame is persisted, and the plan it
    # holds shows under its InMemoryRelation.
    df = QUERIES[name].__wrapped__(spark, sf_dir)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.catalog.clearCache()

    if name not in CROSS_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join (non-equi or missing join keys?)"
        )
    if name not in GLOBAL_WINDOW_OK:
        # An unpartitioned window shows as "Window [...], [col ASC ...]"
        # with no partition spec — detect via WindowExec lines lacking a
        # partitionBy clause marker.  Spark prints:
        #   Window [f() windowspecdefinition(part, ord ASC, ...)], [part], [ord]
        # vs unpartitioned:
        #   Window [f() windowspecdefinition(ord ASC, ...)], [ord]
        for line in plan.splitlines():
            s = line.strip().lstrip("+-*( ").rstrip()
            if s.startswith("Window ") or s.startswith("RunningWindowFunction"):
                # Spark prints: Window [funcs], [partition], [order]  (both)
                #               Window [funcs], [partition]           (part only)
                #               Window [funcs], [order ASC/DESC ...]  (GLOBAL: bad)
                # A partition-only window is parallel (no global sort); the
                # hazard is exactly one trailing list that is an ORDER spec.
                if s.count("], [") == 1 and (" ASC" in s.rsplit("], [", 1)[1]
                                             or " DESC" in s.rsplit("], [", 1)[1]):
                    raise AssertionError(
                        f"{name}: unpartitioned ordered window → "
                        f"single-task shuffle:\n{s}"
                    )
