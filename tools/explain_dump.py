"""Regenerate EXPLAIN.md: formatted physical plans for a representative
slice of the headline queries, with the scale property each plan is
supposed to exhibit stated above it — the artifact of the
".explain until it's the plan you'd want" loop.

Run from anywhere: ``python tools/explain_dump.py`` (writes
``EXPLAIN.md`` at the repo root, reads $SPARK_GRAFT_SF_DIR or sf0.01).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ght2dm_spark.queries import QUERIES  # noqa: E402
from ght2dm_spark.session import get_spark  # noqa: E402

#: (query, the property the plan must show — checked by eye here and by
#: tests/test_plan_lint.py + tests/test_scale_layout.py mechanically)
PICKS = [
    ("q1_pricing_summary", "Scan-agg: PushedFilters on l_shipdate, ReadSchema pruned to the 7 used columns, partial HashAggregate before the exchange, one shuffle total."),
    ("q3_shipping_priority", "3-way join: both dimension sides broadcast (BroadcastHashJoin), fact side never shuffles before the aggregate; date filters pushed to every scan."),
    ("t0_broadcast_lookup", "FK lookup: BroadcastHashJoin with the dimension as build side — zero fact shuffle."),
    ("t1_dedup_exact", "Exact dedup: single hash-shuffle on the md5 key with partial aggregation map-side."),
    ("t1_minhash_lsh_pairs", "MinHash/LSH: one explode→groupBy(doc) shuffle for signatures (k min-aggs, one pass), band-key equi join for candidates — no O(n²) comparison anywhere."),
    ("t1_asof_join", "As-of join: union-window form — one sort per (key) partition, no range cross product."),
    ("t1_salted_join", "Skew salting: fact key salted into 8 sub-keys, dim replicated via a generated 8-row spine (the deliberate nested-loop) — hot key spread over 8 reducers."),
    ("t1_line_dedup", "Corpus line dedup: boilerplate set broadcast (left_anti BroadcastHashJoin) — the corpus never shuffles for the filter, only for frequency count + positional reassembly."),
    ("t1_token_pmi", "PMI: pairs from a doc-keyed self-join of the cached token frame (InMemoryTableScan feeds both sides + the df table — corpus tokenizes once; shuffle = token rows, pairs explode join-side); unigram df tables broadcast; corpus-size scalar as 1-row BroadcastNestedLoopJoin."),
    ("t1_pagerank", "PageRank: per-round join + aggregate composed lazily into one DAG; edge list cached (InMemoryRelation), integer-only expressions."),
    ("t1_rolling_zscore", "Rolling moments: ONE Window operator computing count/Σv/Σv² together over the trailing frame — no self-join, one shuffle on user_id."),
    ("t1_kmeans_clusters", "Integer k-means: per round, K centroids broadcast over the vector scan (assignment never shuffles the corpus); update aggregates K×dim rows; all-integer expressions."),
    ("t1_corpus_build_pipeline", "Fused pipeline: filter→dedup→scrub→chunk→manifest in one job — scans fused, single dedup exchange, no intermediate materialization."),
    ("t1_pq_ann", "PQ/ADC search: 4 subspace codebooks trained over broadcast K-row centroid frames (corpus never shuffles during training); codes join a broadcast NQ×M×K LUT; partial-sum ADC aggregation map-side."),
    ("t1_kmv_sketch", "KMV sketch: per-type sketches via a PARTITIONED window over the distinct frame; global sketches are TakeOrdered over sketch rows only (k rows) — the rollup never rescans the base."),
    ("t1_bpe_merges", "BPE training: corpus appears in ONE tokenize+count aggregate (InMemoryRelation caches the vocab); each merge round is a vocab-sized pair count + 1-row TakeOrdered + broadcast merge apply."),
    ("t1_pca_power", "Power-iteration PCA: one corpus pass for mean+covariance (posexplode stream pipelined in codegen, dim² partials map-side combined); rounds touch only the dim×dim frame with 1-row broadcast scalars."),
    ("t1_temperature_mix", "Temperature rebalance: 5-row language-count aggregate broadcast back, map-side integer keep filter, 1-row totals cross-joined for the share math — two scans, no wide shuffle."),
    ("t1_bloom_membership", "Bloom probe: corpus-A set-bit positions distinct (≤m rows) broadcast; corpus B probed map-side; per-doc all-present aggregate is the only B shuffle."),
    ("t1_record_linkage", "Record linkage: ONE groupBy(segment, block key) shuffle collects capped block members; candidate pairs generate IN-ROW (upper triangle of the sorted member array — no self-join, so the scan pipeline runs once, not twice per aliased side); distinct collapses multi-pass pairs BEFORE the levenshtein filter."),
    ("t1_perceptron_quality", "In-engine training: each epoch is one HashAggregate over the cached integer feature projection with the 1-row weight frame broadcast (BroadcastNestedLoopJoin on a single row) — the corpus never reshuffles between epochs."),
    ("t1_simhash_hamming_pairs", "Manku multi-block Hamming search: fingerprints cached (InMemoryRelation feeds three consumers), 4 block keys exploded per doc, candidates from a block-key equi-join (SortMergeJoin/ShuffledHashJoin — never a cross product), exact xor+bit_count verify on the candidate-bound frame only."),
    ("t1_kn_surprisal", "Kneser-Ney scoring: Arrow-batched Counter map builds the bigram TYPE table (one vocabulary-bounded shuffle); the scoring pass is mapInPandas directly over the parquet scan — NO shuffle, no join: the per-type model ships as a task-closure dict (below the _lm_dict_max_types cutover; above it the plan switches to the distributed join form)."),
    ("t1_zipf_fit", "Two-phase per-language top-K: phase-1 window partitions on (lang, 64-way token hash group) so each task sorts vocab/64 types; phase-2 ranks the <= 64*K survivors — no single-reducer full-vocabulary sort."),
    ("t1_text_quality", "Single-tokenization quality scan: the token array is aliased once (exactly one split+filter in the plan — higher-order exprs don't CSE, so per-stat builders would tokenize 4x) and consumed by scalar array ops; punct_ratio is a translate deletion, not a regex; narrow map, no shuffle."),
    ("t1_compaction_plan", "Compaction planning: one partitioned window (running size sum) over manifest-scale rows + one partial-aggregated groupBy — no data-file IO in the plan at all."),
    ("t1_gopher_rules", "Quality-rule battery: shuffle-free narrow map — one tokenization aliased and consumed by five LINEAR scalar array ops (no per-doc mode, no struct fold, no explode); integer-arithmetic thresholds only."),
    ("t1_dup_ngram_coverage", "Cross-doc duplicate-gram coverage: explode to md5(5-gram) keys, partial-aggregated shuffle for distinct-doc counts, one shuffle-join back on the gram hash, final doc_id aggregation — every exchange keyed on high-cardinality hashes, no skew."),
    ("t1_int8_quantize", "Quantization audit: pure per-row array math inside the scan stage (no shuffle, no UDF) — transform/filter/aggregate over the embedding array with integer picounit residual sums."),
    ("t1_sq8_ann", "SQ8 compressed scan: int8 quantization as a narrow map, the 10-query batch broadcast over the corpus (deliberate linear scan — compression IS the bandwidth win), integer zip_with dot products, per-query rank window partitioned on q_id."),
    ("t1_ivm_retraction", "IVM arithmetic retraction: three partials (state, inserts, NEGATIVE deletes) union into a |groups|-keyed merge — every exchange carries partially-aggregated group rows (map-side combine absorbs the scan), never row data, and there is NO recompute branch or join anywhere in the plan; liveness filter + NULL-sum re-mask are scalar projections after the final HashAggregate."),
    ("t1_ivm_minmax_recompute", "IVM targeted recompute: the affected-group set (distinct over the removed slice) drives a broadcast anti-join on the merged state and a broadcast semi-join bounding the recompute scan — untouched groups never touch row data, and the recompute branch is pruned to affected keys."),
    ("t1_ivm_join_delta", "Join IVM (the bilinear delta identity): the seed join plus three delta terms — each term an equi-join bounded by a window delta on at least one side (broadcast where the delta is small), unioned and aggregated once; the bases are never re-joined, which is the whole point at CDC scale."),
    ("t1_ivm_distinct_count", "COUNT(DISTINCT) IVM: signed (group, value) partials union into ONE (g, v)-keyed merge — map-side combine collapses each slice to its pair multiplicities before the exchange — then a liveness filter and a second |groups|-keyed aggregate; no recompute branch, no join, state bounded by live value cardinality."),
    ("t1_ngram_containment", "Containment dedup: the same shingle inverted-index equi-join as the Jaccard pair query (one shuffle keyed on the shingle, only (doc_id, shingle) moves), two broadcast-joined size frames, containment as scalar projections — no all-pairs product anywhere."),
    ("t1_ks_drift", "Two-sample KS: one (type, value) groupBy collapses rows to the distinct support BEFORE the cumulative window, so the window state is support-sized; the per-type n0/n1 frame broadcasts; max is order-independent — no float accumulation in the plan."),
    ("t1_ndcg_eval", "Retrieval eval: the 10-query batch broadcast over one corpus scan (the brute-force baseline shape), rank window partitioned on q_id, then rank-bounded arithmetic — eval cost after the scoring join touches 10×10 rows, with discounts as literals (no log2 calls in the plan)."),
    ("t1_quantile_bucketing", "Equal-frequency binning: NTILE over a per-stratum rank window (partitioned — no global sort), then one map-side-combinable groupBy; only (lang, n_chars, doc_id) ever shuffles."),
    ("t1_lateral_topn_join", "LATERAL decorrelation: the correlated top-N subquery plans as a partitioned rank window + join — NOT a per-outer-row re-execution; the lateral is syntax, the plan is one shuffle."),
    ("t1_vocab_growth", "Heaps'-law growth: prefix buckets by pure arithmetic against a broadcast 1-row id-span frame (no global rank window over the corpus); first-occurrence min-bucket aggregate is vocab-sized and map-side combinable; the only ordered window runs over the 10-row bucket aggregate."),
    ("t1_ivm_topk_retraction", "Top-k retraction IVM: anti-join(re-ranked state ∪ inserts, affected) ∪ rank(recompute semi-join-bounded by delete-touched groups) — untouched groups carry O(k+delta) rows, the recompute branch is group-pruned."),
    ("t1_robust_scaler", "Robust-scaler quantiles (r8 restructure): the (type, value) groupBy collapses the stream to its distinct support MAP-SIDE before any window — the cumulative and unbounded windows then run over support-sized partitions, the |types|-row quantile frame broadcasts back, and the fence count is one map-side-combinable aggregate (A/B'd: 0.72x the per-row row_number form)."),
    ("t1_lang_confusion", "Language-ID confusion: the detector is a narrow scalar map (no UDF), the matrix one map-side-combinable groupBy to |langs|² rows — composition adds no new exchange over the pinned detector plan."),
    ("t1_length_lognormal", "Log-normal length fit: narrow map (log2 + two DECIMAL casts) over the pruned 2-column scan, ONE |langs|-row groupBy — nothing else in the plan; the >2x DuckDB ratio is the fixed scheduling constant (BASELINE.md floor entry), not a plan defect."),
    ("t1_tag_diff", "Tag-to-tag CDC diff: both tagged reads plan from PINNED file lists (no listing, no scan of vacuumed files); the diff is one full-outer hash join keyed on the row key with classification as scalar projections."),
    ("t1_ngram_novelty", "Novelty without prefix rescans: global first-occurrence doc per shingle (one map-side-combinable min aggregate), joined back on the shingle key both sides already shuffle on, then one doc-keyed aggregate."),
    ("t1_hot_shingle_audit", "Hot-shingle audit: ONE shingle-keyed groupBy with map-side combine, heavy-tail-sized output — the observability frame for the SHINGLE_MAX_DF cap costs one exchange."),
    ("t1_minhash_est_error", "Sketch-error audit: exact Jaccard computed ONLY for LSH candidates — the shingle join is DRIVEN from the candidate frame (join on id then shingle), never the all-co-shingle-pairs product; signatures cached once feed banding and both verify sides."),
    ("t1_lift_deciles", "Gain chart: global NTILE over the 2-column (score, id) projection — decile-bounded output; the 100 TB form buckets scores first (the AUC histogram trick), documented and allowlisted like t1_rfm_segments."),
    ("t1_ivm_variance", "Variance IVM: three decomposable moment sums ride the standard arithmetic-retraction merge (no recompute branch); the variance itself is a scalar projection over the maintained state at read time."),
    ("t1_cross_snapshot_contamination", "Cross-snapshot contamination: each version's vocabulary plans from its PINNED file list (v0 read touches zero increment files), distinct map-side; eval shingles join each vocab on the shingle key — two vocab-sized shuffles, no rescan of the union."),
    # round 9
    ("t1_rolling_corr", "Daily-count correlation: the only per-event work is the day-grain aggregate (map-side combined); the dense day×type grid is a broadcast nested-loop of two TINY distinct frames, and the pair join + five moment sums run entirely on grid-sized rows."),
    ("t1_monthly_mad", "Median + MAD: two rank windows PARTITIONED by month (no global sort), the 80-row median frame broadcast back for the deviation pass — all arithmetic integer cents."),
    ("t1_basket_lift", "Basket lift: brands are a bounded vocabulary, so the distinct (order, brand) frame shuffles once on the order key, the pair self-join explodes at most C(25,2) per order, and the single-brand supports broadcast; the order-count denominator is a 1-row broadcast scalar."),
    ("t1_emb_psi_quantized", "Quantized-code PSI: per-dim min/max broadcast back onto the posexploded components, ONE (dim, code) aggregate with map-side combine — every window downstream runs on the 1024-row histogram, never the vectors."),
    ("t1_prefix_contamination", "Edge-n-gram leak check: the probe side is one edge shingle per eval doc (narrow map, no explode); the training vocabulary is DISTINCT map-side before the left-semi join on the shingle key — no doc×doc shape anywhere."),
    ("t1_containment_asym", "Asymmetric containment: candidate pairs bounded by rare shingles (2≤df≤4 ⇒ ≤C(4,2) pairs per shingle); the intersection recount joins the bounded pair list back on doc/shingle keys both sides already shuffle on; sizes broadcast."),
    ("t1_js_divergence_sources", "Jensen-Shannon: per-token work is one (source, tok) aggregate; the dense grid, totals, and the a<b pair join all run on |vocab|·|sources| rows with totals broadcast; JS terms round to 9 and sum as DECIMAL (order-independent)."),
    ("t1_zipf_residuals", "Zipf residuals: one vocab-sized df aggregate, a 50-row rank pick, OLS moments over exactly 50 rows, and the 1-row fit broadcast back — the corpus is scanned once for shingles and never again."),
    ("t1_kl_source_divergence", "Per-source KL: the (source, tok) aggregate is the only per-token shuffle; source totals and the corpus distribution are vocab-sized broadcast joins; the corpus total is a 1-row broadcast scalar."),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="ght2dm_spark-explain")
    out = [
        "# EXPLAIN — physical plans of representative headline queries",
        "",
        f"Generated by `tools/explain_dump.py` at `{sf_dir}`.  Each plan is",
        "preceded by the scale property it is supposed to exhibit; the",
        "mechanical versions of these checks live in `tests/test_plan_lint.py`",
        "(cartesian/NLJ/global-window sweep over EVERY query) and",
        "`tests/test_scale_layout.py` (bucketed join, bloom pruning,",
        "partition pruning).",
        "",
    ]
    for name, why in PICKS:
        # the query's own plan: outside the registry's block its pinned
        # frames are persisted and show as InMemoryRelation, not as the
        # checkpointed result the registry would return
        df = QUERIES[name].__wrapped__(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}")
        out.append("")
        out.append(why)
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    (REPO / "EXPLAIN.md").write_text("\n".join(out))
    print(f"wrote {REPO / 'EXPLAIN.md'} ({len(PICKS)} plans)")


if __name__ == "__main__":
    main()
