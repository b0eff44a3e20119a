"""Semantic tests for the round-3 operators — these check the ALGORITHM
is right (invariants, ground truth, known-answer cases), complementing
the oracle suite which checks Spark ≡ DuckDB.  An implementation bug
mirrored into its oracle SQL passes the oracle gate; it does not pass
these.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ght2dm_spark.queries import QUERIES


def rows_by(df, *key_cols):
    return {tuple(r[k] for k in key_cols): r.asDict() for r in df.collect()}


# --------------------------------------------------------------------------
# BPE


def test_bpe_replace_is_greedy_left_to_right(spark):
    """The bracket-wrapped replace must implement BPE's greedy
    non-overlapping merge: 'aaa' + merge (a,a) → [aa, a], never [a, aa]
    or [aa, aa]; and a symbol ending in 'b' must not false-match a
    (b, c) merge across its boundary."""
    out = spark.sql(
        "SELECT replace('<a><a><a>', '<a><a>', '<aa>') AS runs, "
        "       replace('<ab><c>', '<b><c>', '<bc>') AS boundary"
    ).head()
    assert out.runs == "<aa><a>"
    assert out.boundary == "<ab><c>"  # untouched: 'b' is inside <ab>


def test_bpe_merges_are_adjacent_pairs_with_descending_counts(spark, sf_dir):
    rows = QUERIES["t1_bpe_merges"](spark, sf_dir).collect()
    assert [r.round for r in sorted(rows, key=lambda r: r.round)] == [1, 2, 3]
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym
        assert r.n_occurrences > 0


def test_bpe_encode_compresses(spark, sf_dir):
    r = QUERIES["t1_bpe_encode"](spark, sf_dir).head()
    assert 0 < r.tokens_after < r.tokens_before
    assert r.saved_ppm == (
        (r.tokens_before - r.tokens_after) * 1_000_000 // r.tokens_before
    )


# --------------------------------------------------------------------------
# KMV sketch


def test_kmv_merged_equals_direct(spark, sf_dir):
    """KMV merge theorem as an executable check: the k smallest hashes
    of the union equal the k smallest of the merged per-type sketches,
    so the two global estimates must be IDENTICAL, not merely close."""
    by_scope = rows_by(QUERIES["t1_kmv_sketch"](spark, sf_dir), "scope")
    assert (
        by_scope[("all_merged",)]["est_distinct"]
        == by_scope[("all_direct",)]["est_distinct"]
    )


def test_kmv_estimates_are_in_a_sane_band(spark, sf_dir):
    for key, r in rows_by(QUERIES["t1_kmv_sketch"](spark, sf_dir), "scope").items():
        # k=32 → ~18% 1σ; 60% is a >3σ bound that still catches
        # off-by-domain / off-by-k bugs outright.
        assert abs(r["est_distinct"] - r["exact_distinct"]) <= 0.6 * r[
            "exact_distinct"
        ], key


# --------------------------------------------------------------------------
# Bloom membership


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """Every planted duplicate must be flagged (Bloom guarantees no
    false negatives); flagged-but-not-planted rows are the measured
    false positives and must carry is_true_dup = False."""
    out = rows_by(QUERIES["t1_bloom_membership"](spark, sf_dir), "doc_id")
    from ght2dm_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    planted = {
        r.doc_id + 1_000_000
        for r in d.filter(
            (F.substring("source", 4, 10).cast("int") < 10)
            & (F.col("doc_id") % 7 == 0)
        ).collect()
    }
    flagged_true = {k[0] for k, r in out.items() if r["is_true_dup"]}
    assert flagged_true == planted


# --------------------------------------------------------------------------
# Temperature mixing


def test_temperature_mix_flattens_shares(spark, sf_dir):
    rows = QUERIES["t1_temperature_mix"](spark, sf_dir).collect()
    hi = max(rows, key=lambda r: r.n_before)
    lo = min(rows, key=lambda r: r.n_before)
    before_ratio = hi.share_before_ppm / max(lo.share_before_ppm, 1)
    after_ratio = hi.share_after_ppm / max(lo.share_after_ppm, 1)
    assert after_ratio < before_ratio  # α = 0.5 compresses the spread
    for r in rows:
        assert 0 < r.n_kept <= r.n_before


# --------------------------------------------------------------------------
# PCA power iteration


def test_pca_power_climbs_the_spectrum(spark, sf_dir):
    """Checked against numpy's dense eigendecomposition via the RAYLEIGH
    QUOTIENT, not the eigenvector direction: the synthetic embeddings
    are near-isotropic (λ₂/λ₁ ≈ 0.93–0.99 measured), so NO power
    iteration can pin the direction in bounded rounds — but the iterate
    must still climb the spectrum.  3 rounds from e₁ reach ≥ 0.82·λmax
    on both test SFs (init ≈ 0.55·λmax, spectrum mean ≈ 0.54·λmax); a
    wrong-matrix / wrong-normalization bug lands near the spectrum mean
    and fails the 0.75 bound outright."""
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    xc = x - x.mean(axis=0)
    cov = xc.T @ xc / len(x)
    lmax = np.linalg.eigvalsh(cov)[-1]

    rows = QUERIES["t1_pca_power"](spark, sf_dir).collect()
    got = np.zeros(cov.shape[0])
    for r in rows:
        got[r.dim_idx] = r.component
    rayleigh = (got @ cov @ got) / (got @ got)
    assert rayleigh / lmax > 0.75, rayleigh / lmax


# --------------------------------------------------------------------------
# PQ / ADC


def test_pq_adc_approximates_true_distance(spark, sf_dir):
    """ADC is an unbiased-ish surrogate: over all (query, neighbor)
    result pairs, the ADC distance must correlate strongly with the
    true integer L2 distance (guards against subspace misalignment —
    e.g. slicing bugs that would still satisfy the Spark≡DuckDB gate
    because both sides would share them)."""
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    vecs = {
        int(i): np.round(np.asarray(v, dtype=np.float64) * 1e6)
        for i, v in zip(emb["vec_id"], emb["embedding"])
    }
    rows = QUERIES["t1_pq_ann"](spark, sf_dir).collect()
    adc, true = [], []
    for r in rows:
        adc.append(float(r.adc_dist))
        d = vecs[r.q_id] - vecs[r.neighbor_id]
        true.append(float(d @ d))
    corr = np.corrcoef(adc, true)[0, 1]
    assert corr > 0.5, corr


# --------------------------------------------------------------------------
# Count-Min sketch


def test_cms_never_underestimates(spark, sf_dir):
    """The CMS guarantee: counters only ever add, so every point-query
    estimate is >= the exact count; with w=16 buckets over the corpus
    vocabulary at least the structure allows collisions, and any
    underestimate means the hash rows / min-reduction are wrong."""
    rows = QUERIES["t1_cms_sketch"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.cms_est >= r.exact_cnt, r
        assert r.overest_ppm >= 0


# --------------------------------------------------------------------------
# Streaming sketch rollup (mergeability across micro-batches)


def test_streaming_kmv_rollup_equals_batch_sketch(spark, sf_dir, tmp_path):
    """Sketch mergeability THROUGH the streaming engine: a foreachBatch
    sink maintains a KMV sketch table (append each micro-batch's k
    smallest user hashes, truncation deferred to read time); the final
    merged estimate must EQUAL the batch KMV estimate — the telemetry
    rollup pattern where per-batch sketch state, not history, persists.
    Deterministic because the sketch is a pure function of the data
    (md5), however the stream happens to batch it."""
    from ght2dm_spark.queries.sketch_queries import _KMV_DOMAIN, _KMV_K
    from ght2dm_spark.streaming import read_events_stream

    out = str(tmp_path / "sketch_out")

    def h(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("kmv:"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
        )

    def sink(batch_df, batch_id):
        (
            batch_df.select(h(F.col("user_id")).alias("hv"))
            .distinct()
            .orderBy("hv")
            .limit(_KMV_K)
            .write.mode("append")
            .parquet(out)
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def estimate(df):
        sk = df.select("hv").distinct().orderBy("hv").limit(_KMV_K)
        row = sk.agg(
            F.count(F.lit(1)).alias("n"), F.max("hv").alias("hk")
        ).head()
        if row.n < _KMV_K:
            return row.n
        return (_KMV_K - 1) * _KMV_DOMAIN // row.hk

    streamed = estimate(spark.read.parquet(out))
    from ght2dm_spark.io import load_table

    batch = estimate(
        load_table(spark, sf_dir, "events")
        .select(h(F.col("user_id")).alias("hv"))
        .distinct()
    )
    assert streamed == batch


def test_streaming_hll_rollup_equals_batch_sketch(spark, sf_dir, tmp_path):
    """HLL mergeability THROUGH the streaming engine: a foreachBatch sink
    appends each micro-batch's register table (bucket, M); max-merging
    the appended rows at read time must reproduce the batch-built
    registers and estimate exactly — registers max-combine, so per-batch
    state replaces history.  Deterministic because the registers are a
    pure function of the data (md5), however the stream batches it."""
    from ght2dm_spark.operators.sketches import (
        hll_build,
        hll_estimate,
        hll_merge,
    )
    from ght2dm_spark.streaming import read_events_stream

    out = str(tmp_path / "hll_out")

    def sink(batch_df, batch_id):
        hll_build(batch_df, [], F.col("user_id")).write.mode(
            "append"
        ).parquet(out)

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from ght2dm_spark.io import load_table

    streamed = hll_merge(spark.read.parquet(out), [])
    batch = hll_build(load_table(spark, sf_dir, "events"), [], F.col("user_id"))
    assert {(r.bucket, r.M) for r in streamed.collect()} == {
        (r.bucket, r.M) for r in batch.collect()
    }
    est_s = hll_estimate(streamed, []).head()
    est_b = hll_estimate(batch, []).head()
    assert est_s.asDict() == est_b.asDict()


def test_kcore_fixpoint_within_unroll(sf_dir):
    """The k-core unroll bound is an invariant, not a hope: one extra
    peel round changes nothing at either test SF."""
    import duckdb

    from ght2dm_spark.queries.graph_extra import _KCORE_ROUNDS, _kcore_sql

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{d}/lineitem.parquet'"
        )
        at_bound = sorted(con.execute(_kcore_sql(3, _KCORE_ROUNDS)).fetchall())
        one_more = sorted(con.execute(_kcore_sql(3, _KCORE_ROUNDS + 1)).fetchall())
        assert at_bound == one_more and at_bound


def test_kmeans_grouped_equals_per_group_training(spark, sf_dir):
    """kmeans_int_grouped must be BIT-IDENTICAL to training each group
    separately with kmeans_int — same init, same integer updates, same
    tie-breaks — because the PQ/IVFADC oracles were written against the
    per-group formulation and only the pass structure changed."""
    from ght2dm_spark.io import load_table
    from ght2dm_spark.operators.clustering import kmeans_int, kmeans_int_grouped

    # filter, not limit: every plan referencing `e` recomputes it, and
    # limit's row choice is not a contract — a filter is deterministic
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    m_slices = [(0, 4), (1, 4)]
    subs = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[F.slice("embedding", lo * 4 + 1, n) for lo, n in m_slices]
            )
        ).alias("m", "sub"),
    )
    gasg, gcents = kmeans_int_grouped(
        subs, "m", "vec_id", "sub", k=4, iters=2
    )
    got_asg = {
        (r["g"], r["id"]): (r["cid"], r["d"]) for r in gasg.collect()
    }
    got_cents = {(r["g"], r["cid"]): r["c"] for r in gcents.collect()}
    for g, (lo, n) in enumerate(m_slices):
        sub = e.select(
            "vec_id", F.slice("embedding", lo * 4 + 1, n).alias("sub")
        )
        asg, cents = kmeans_int(sub, "vec_id", "sub", k=4, iters=2)
        asg_rows, cents_rows = asg.collect(), cents.collect()
        for r in asg_rows:
            assert got_asg[(g, r["id"])] == (r["cid"], r["d"])
        for r in cents_rows:
            assert got_cents[(g, r["cid"])] == r["c"]
        # BOTH directions: the grouped output must not carry extra or
        # duplicate rows beyond the per-group runs (a broken tie-break
        # emitting two rank-1 rows would pass a subset-only check)
        assert len([1 for gg, _ in got_asg if gg == g]) == len(asg_rows)
        assert len([1 for gg, _ in got_cents if gg == g]) == len(cents_rows)


def test_label_propagation_converges_to_stable_labels(spark, sf_dir):
    """On the bipartite supplier↔part graph the synchronous-LPA output
    must be a pure function of the graph — run twice (fresh plans) and
    compare, catching any nondeterminism in the argmax tie-break."""
    a = {(r["node"], r["community"])
         for r in QUERIES["t1_label_propagation"](spark, sf_dir).collect()}
    b = {(r["node"], r["community"])
         for r in QUERIES["t1_label_propagation"](spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_sssp_distances_satisfy_triangle_inequality_on_edges(spark, sf_dir):
    """Bellman-Ford sanity: source dist 0; for every edge (x, y, w)
    with both ends settled, dist(y) ≤ dist(x) + w must hold at the
    fixpoint (6 rounds settle the sf0.001/0.01 graphs — the supplier
    co-part graph's weighted diameter is small because it is dense)."""
    rows = QUERIES["t1_sssp_weighted"](spark, sf_dir).collect()
    dist = {r["node"]: r["dist"] for r in rows}
    assert dist[1] == 0
    from ght2dm_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    m0 = (
        sp.alias("a")
        .join(
            sp.alias("b"),
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("x"), F.col("b.s").alias("y"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    mx = m0.agg(F.max("shared")).head()[0]
    edges = [
        (r["x"], r["y"], 1 + ((mx - r["shared"]) * 9) // mx)
        for r in m0.collect()
    ]
    for x, y, w in edges:
        if x in dist and y in dist:
            assert dist[y] <= dist[x] + w
            assert dist[x] <= dist[y] + w


def test_ssjoin_prefix_matches_inverted_index_join(spark, sf_dir):
    """Two independent exact algorithms over the same similarity
    relation must agree: the prefix-filtered set-similarity join and
    the all-pairs inverted-index join (t1_ngram_jaccard_pairs) find
    the SAME (id_a, id_b) pairs at the same threshold — the mutual
    cross-check that would catch a prefix-length off-by-one (too short
    = false negatives) on either side."""
    pf = {(r["id_a"], r["id_b"])
          for r in QUERIES["t1_ssjoin_prefix"](spark, sf_dir).collect()}
    ii = {(r["id_a"], r["id_b"])
          for r in QUERIES["t1_ngram_jaccard_pairs"](spark, sf_dir).collect()}
    assert pf == ii and len(pf) > 0


def test_hybrid_rrf_scores_decompose_into_leg_contributions(spark, sf_dir):
    """Every fused score must be expressible as c1 + c2 with each ci in
    {0} ∪ {1e9 div (60+r) : 1 ≤ r ≤ 10} and at least one leg present —
    the decomposition a wrong join type (inner instead of full-outer)
    or a wrong damping constant would break."""
    legal = {10**9 // (60 + r) for r in range(1, 11)}
    rows = QUERIES["t1_hybrid_rrf"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert any(
            (r.rrf - c1) in legal or (r.rrf - c1) == 0
            for c1 in legal | {0}
            if r.rrf - c1 >= 0
        ), r
        assert r.rrf > 0  # at least one leg contributed


def test_ewma_lies_within_the_daily_range(spark, sf_dir):
    """EWMA is a convex combination of observations, so each series'
    smoothed value must lie within [min, max] of its daily totals
    (up to the -1 truncation slack per fold step)."""
    from ght2dm_spark.functions import trunc_ntz
    from ght2dm_spark.io import load_table

    out = {r.event_type: r for r in QUERIES["t1_ewma"](spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", trunc_ntz("day", F.col("ts")).alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 1_000_000, 0).cast("long")).alias("v")
        )
        .groupBy("event_type")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
             F.count(F.lit(1)).alias("nd"))
        .collect()
    )
    for r in daily:
        o = out[r.event_type]
        assert o.n_days == r.nd
        assert r.lo - o.n_days <= o.ewma_micro <= r.hi, (r, o)


def test_multimodal_ops_tolerate_null_payloads(spark):
    """A NULL binary payload must flow through every multimodal
    DataFrame operator as a rejected ROW (NULL metadata / no frames),
    never a task failure — the E1 discipline at the Arrow batch level."""
    from ght2dm_spark.operators.multimodal import (
        decode_audio_meta,
        decode_meta,
        decode_video_meta,
        extract_features,
        frame_sample,
        image_ahash,
        audio_ahash,
        mp4_bytes,
        png_bytes,
        wav_bytes,
    )

    df = spark.createDataFrame(
        [
            (1, bytearray(png_bytes(16, 16))),
            (2, None),
            (3, bytearray(wav_bytes(1, 8000, 100))),
            (4, bytearray(mp4_bytes(1000, 5000))),
        ],
        "id long, payload binary",
    )
    m = {r.id: r for r in decode_meta(df).collect()}
    assert m[1].format == "png" and m[1].width == 16
    assert m[2].format == "unknown" and m[2].content_len is None
    assert m[2].digest is None

    a = {r.id: r for r in decode_audio_meta(df).collect()}
    assert a[3].format == "wav" and a[2].format == "unknown"

    v = {r.id: r for r in decode_video_meta(df).collect()}
    assert v[4].format == "mp4" and v[2].format == "unknown"

    f = {r.id: r for r in extract_features(df).collect()}
    assert f[1].n_bytes == len(png_bytes(16, 16)) and f[2].n_bytes is None

    frames = frame_sample(df).groupBy("id").count().collect()
    assert 2 not in {r.id for r in frames}  # NULL emits no frames

    ah = {r.id: r.ahash for r in image_ahash(df).collect()}
    assert ah[1] is not None and ah[2] is None

    af = {r.id: r.afp for r in audio_ahash(df).collect()}
    assert af[3] is not None and af[2] is None


def test_multimodal_keep_empty_list_means_no_kept_columns(spark):
    """keep=[] must mean 'metadata only', not 'all columns' — the falsy
    empty list previously fell through `keep or default`."""
    from ght2dm_spark.operators.multimodal import decode_meta, png_bytes

    df = spark.createDataFrame(
        [(1, "x", bytearray(png_bytes(8, 8)))], "id long, extra string, payload binary"
    )
    out = decode_meta(df, keep=[])
    assert out.columns == ["content_len", "format", "width", "height", "digest"]
    assert out.count() == 1


def test_cosine_zero_vector_degrades_to_nan_not_crash(spark):
    """A zero (or corrupt all-zero) embedding must yield NaN for its
    rows — matching DuckDB's IEEE division — instead of an ANSI
    DIVIDE_BY_ZERO aborting the whole query."""
    import math

    from pyspark.sql import functions as F

    from ght2dm_spark.operators.similarity import as_double, cosine

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [0.0, 0.0])],
        "id long, a array<double>, b array<double>",
    ).withColumn("cos", cosine(as_double(F.col("a")), as_double(F.col("b"))))
    got = {r.id: r.cos for r in df.collect()}
    assert got[1] == 1.0
    assert math.isnan(got[2])


def test_topk_neighbors_dedups_multi_probe_matches(spark):
    """A corpus row reachable through TWO probe rows of the same query
    must occupy ONE rank slot, not two (duplicate would evict a real
    neighbor)."""
    from ght2dm_spark.operators.similarity import topk_neighbors

    q = spark.createDataFrame(
        [(100, [1.0, 0.0], "b1"), (100, [1.0, 0.0], "b2")],
        "q_id long, q_vec array<double>, bucket string",
    )
    c = spark.createDataFrame(
        [(1, [1.0, 0.0], "b1"), (1, [1.0, 0.0], "b2"), (2, [0.9, 0.1], "b1")],
        "c_id long, c_vec array<double>, bucket string",
    )
    out = topk_neighbors(q, c, k=2, pre_join=["bucket"]).collect()
    pairs = [(r.q_id, r.c_id, r.rank) for r in out]
    assert len(pairs) == 2
    assert (100, 1, 1) in pairs and (100, 2, 2) in pairs


def test_short_doc_shingle_fallback_is_whitespace_normalized(spark):
    """Sub-n-token docs must collide on NORMALIZED text like long docs
    do — 'foo bar' vs 'foo  bar' (double space) share one shingle."""
    from pyspark.sql import functions as F

    from ght2dm_spark.operators.neardup import shingle_df

    d = spark.createDataFrame(
        [(1, "foo bar"), (2, "foo  bar"), (3, "foo\tbar")],
        "doc_id long, text string",
    )
    sh = shingle_df(d, "doc_id", "text", n=3)
    keys = {r.shingle for r in sh.collect()}
    assert keys == {"foo bar"}


def test_lsh_bands_rejects_overflowing_geometry(spark):
    import pytest

    from ght2dm_spark.operators.neardup import lsh_bands

    sig = spark.createDataFrame([(1, [1, 2, 3, 4])], "doc_id long, sig array<long>")
    with pytest.raises(ValueError, match="exceeds signature length"):
        lsh_bands(sig, "doc_id", bands=2, rows=3, sig_len=4)


def test_cms_point_query_zero_cells_and_null_values(spark):
    """A never-seen item hashing to unoccupied cells must estimate 0
    (not vanish, not min over occupied cells only), and NULL values
    must not become phantom counter rows."""
    from pyspark.sql import functions as F

    from ght2dm_spark.operators.sketches import cms_build, cms_point_query

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "v string"
    )
    sk = cms_build(df, F.col("v"), d=3, w=4096)
    assert sk.filter(F.col("pos").isNull()).count() == 0, "no phantom rows"
    items = spark.createDataFrame(
        [("a",), ("never-seen-xyz",)], "v string"
    )
    got = {r.v: r.cms_est for r in cms_point_query(sk, items, "v", 3, 4096).collect()}
    assert got["a"] >= 2
    assert got["never-seen-xyz"] == 0, "absent cells coalesce to zero"
