"""Round-9 optimization-round focused tests: the helpers and internals
the perf restructures introduced must stay bit-equivalent to the forms
they replaced (the optimization round's contract is identical results,
only cheaper plans).
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F


def test_bucket_pairs_matches_combinations(spark):
    """bucket_pairs(ids) on a sorted array == itertools.combinations."""
    from ght2dm_spark.operators.neardup import bucket_pairs

    cases = [
        [],
        [7],
        [1, 2],
        [1, 2, 3],
        [10, 20, 30, 40, 50],
        list(range(16)),  # the SHINGLE_MAX_DF-sized worst case
    ]
    df = spark.createDataFrame(
        [(i, ids) for i, ids in enumerate(cases)], "i int, ids array<bigint>"
    )
    got = {
        r["i"]: [(p["id_a"], p["id_b"]) for p in r["ps"]]
        for r in df.select("i", bucket_pairs(F.col("ids")).alias("ps")).collect()
    }
    for i, ids in enumerate(cases):
        assert got[i] == list(itertools.combinations(ids, 2)), f"case {i}"


def test_shingle_array_df_is_unexploded_shingle_df(spark):
    """Exploding shingle_array_df must reproduce shingle_df exactly —
    same tokenization, same grams, same distinct — including the
    short-doc fallback and whitespace normalization."""
    from ght2dm_spark.operators.neardup import shingle_array_df, shingle_df

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha  beta"),  # short doc, double space normalizes
            (3, "x"),
            (4, ""),  # empty text -> zero tokens -> one '' shingle
            (5, "alpha beta gamma alpha beta gamma"),  # repeated grams
        ],
        "doc_id bigint, text string",
    )
    exploded = {
        (r["doc_id"], r["shingle"])
        for r in shingle_df(docs, "doc_id", "text", 3).collect()
    }
    via_arrays = {
        (r["doc_id"], r["s"])
        for r in shingle_array_df(docs, "doc_id", "text", 3)
        .select("doc_id", F.explode("shs").alias("s"))
        .collect()
    }
    assert exploded == via_arrays
    # and the array is DISTINCT per doc (size == distinct size)
    bad = (
        shingle_array_df(docs, "doc_id", "text", 3)
        .filter(F.size("shs") != F.size(F.array_distinct("shs")))
        .count()
    )
    assert bad == 0


def test_grouped_kmeans_argmin_tiebreak(spark):
    """The min(struct(d, cid, v)) argmin must break exact-distance ties
    by the LOWEST cid — the contract the row_number window form had."""
    from ght2dm_spark.operators.clustering import kmeans_int_grouped

    # two identical seed vectors (cid 0 and 1) => every vector's two
    # best candidates tie on distance; winner must be cid 0.
    df = spark.createDataFrame(
        [
            (0, [1.0, 1.0]),
            (1, [1.0, 1.0]),
            (2, [5.0, 5.0]),
            (3, [1.0, 2.0]),
        ],
        "vec_id bigint, embedding array<double>",
    ).withColumn("g", F.lit(0))
    asg, _ = kmeans_int_grouped(
        df, "g", "vec_id", "embedding", k=2, iters=1
    )
    rows = {r["id"]: r["cid"] for r in asg.collect()}
    # iteration 1 ties every vector between the identical centroids 0
    # and 1; lowest-cid wins, so cluster 1 empties out and drops from
    # the trained table — every final assignment must be cid 0.  (A
    # broken tie-break would instead empty cluster 0.)
    assert set(rows.values()) == {0}, rows


def test_topk_neighbors_zero_vector_is_nan_not_crash(spark):
    """topk_neighbors now inlines cosine over per-row precomputed squared
    norms (the denominator is built from __q_n2 * __c_n2 instead of a
    per-pair cosine() call).  The zero-norm guard must survive the
    restructure: a zero corpus vector yields cos = NaN for its pair —
    not an ANSI DIVIDE_BY_ZERO — and NaN sorts FIRST under desc() just
    as it did in the per-pair form."""
    import math

    from ght2dm_spark.operators.similarity import topk_neighbors

    q = spark.createDataFrame(
        [(100, [1.0, 0.0])], "q_id long, q_vec array<double>"
    )
    c = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "c_id long, c_vec array<double>",
    )
    out = {r.c_id: (r.cos, r.rank) for r in topk_neighbors(q, c, k=2).collect()}
    assert math.isnan(out[2][0]) and out[2][1] == 1  # NaN ranks first (desc)
    assert out[1] == (1.0, 2)


def test_stream_shuffle_scope_sets_and_restores(spark, monkeypatch):
    """Streaming runs execute under the small SPARK_GRAFT_STREAM_SHUFFLE
    partition count (state store + foreachBatch shuffles are sized from
    spark.sql.shuffle.partitions at query start), and the session's
    batch value must come back even when the run raises."""
    import pytest

    from ght2dm_spark.streaming import stream_shuffle_scope

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "3")
    with stream_shuffle_scope(spark):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == old
    with pytest.raises(RuntimeError, match="boom"):
        with stream_shuffle_scope(spark):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == old


def test_delete_manifest_records_key_schema_and_stats(spark, tmp_path):
    """delete_rows records the key files' schema and footer stats in the
    manifest (delete_schema / delete_stats); both survive appends and
    small-file rewrites, read_delete_increment plans from the recorded
    schema (no inference), and delete_increment_stats reproduces the
    window's exact row count and bounds without a Spark job."""
    from ght2dm_spark.snapshots import (
        commit,
        delete_increment_stats,
        delete_rows,
        history,
        prepare_commit,
        read_delete_increment,
        read_snapshot,
    )

    table = str(tmp_path / "t")
    rows = [(i, i * 10) for i in range(1, 21)]
    commit(prepare_commit(spark.createDataFrame(rows, "k long, v long"), table))
    v0 = history(table)[-1]["seq"]
    keys = spark.createDataFrame([(3,), (7,), (19,)], "k long")
    commit(delete_rows(keys, table))

    inc = read_delete_increment(spark, table, since_version=v0)
    assert inc.schema.simpleString() == "struct<k:bigint>"
    assert sorted(r.k for r in inc.collect()) == [3, 7, 19]

    st = delete_increment_stats(table, since_version=v0)
    assert st is not None
    n, bounds = st
    assert n == 3 and tuple(bounds["k"]) == (3, 19)

    # appends and rewrites must carry the recorded key schema/stats
    commit(prepare_commit(
        spark.createDataFrame([(100, 0)], "k long, v long"), table,
        mode="append",
    ))
    st2 = delete_increment_stats(table, since_version=v0)
    assert st2 is not None and st2[0] == 3
    live = read_snapshot(spark, table)
    assert sorted(r.k for r in live.collect()) == sorted(
        set(range(1, 21)) - {3, 7, 19} | {100}
    )


def test_delete_rows_null_rejection_leaves_no_orphans(spark, tmp_path):
    """The fused NULL-key guard stages the key file during the write
    job; a rejected delete must unlink it again (no orphan data files
    for vacuum to misread)."""
    import pathlib

    import pytest

    from ght2dm_spark.snapshots import commit, delete_rows, prepare_commit

    table = tmp_path / "t"
    commit(prepare_commit(
        spark.createDataFrame([(1, 2)], "k long, v long"), str(table)))
    before = sorted(p.name for p in (table / "data").glob("*.parquet"))
    with pytest.raises(ValueError, match="NULL"):
        delete_rows(spark.createDataFrame([(None,)], "k long"), str(table))
    after = sorted(p.name for p in (table / "data").glob("*.parquet"))
    assert before == after


def test_key_prune_agg_first_matches_old_semantics(spark):
    """_key_prune must keep the exact skip rules through the agg-first
    restructure: all-NULL columns never prune; with null_keys_match a
    column containing any NULL is skipped; sub-cap frames still yield
    IN lists, super-cap frames bounds only."""
    from ght2dm_spark.incremental import _PUSHDOWN_CAP, _key_prune

    small = spark.createDataFrame(
        [(1, None, None), (5, 7, None)], "a long, b long, c long"
    )
    prune, in_lists = _key_prune(small, null_keys_match=False)
    assert prune == {"a": (1, 5), "b": (7, 7)}
    assert in_lists == {"a": [1, 5], "b": [7]}

    prune, in_lists = _key_prune(small, null_keys_match=True)
    assert prune == {"a": (1, 5)} and in_lists == {"a": [1, 5]}

    big = spark.range(_PUSHDOWN_CAP + 10).select(F.col("id").alias("a"))
    prune, in_lists = _key_prune(big, null_keys_match=False)
    assert prune == {"a": (0, _PUSHDOWN_CAP + 9)} and in_lists is None

    empty = spark.createDataFrame([], "a long")
    assert _key_prune(empty, null_keys_match=False) == (None, None)


def test_window_first_occurrence_matches_aggregate_join_form(spark):
    """min(doc_id) OVER (PARTITION BY shingle) must mark exactly the
    rows the old aggregate-then-self-join form marked (the
    t1_ngram_novelty / t1_rare_shingle_docs restructure: one explode
    pass instead of two), including duplicate (doc, shingle) rows and
    single-occurrence shingles."""
    from pyspark.sql import Window

    sh = spark.createDataFrame(
        [
            (1, "a"), (1, "b"), (2, "a"), (2, "c"),
            (3, "a"), (3, "a"),  # duplicate posting within one doc
            (3, "d"),
        ],
        "doc_id bigint, shingle string",
    )
    # old form: first-occurrence via aggregate + join back
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    old = sorted(
        (r["doc_id"], r["shingle"], r["first_doc"])
        for r in sh.join(first, "shingle").collect()
    )
    # new form: same value via a shingle-partitioned window
    new = sorted(
        (r["doc_id"], r["shingle"], r["first_doc"])
        for r in sh.withColumn(
            "first_doc",
            F.min("doc_id").over(Window.partitionBy("shingle")),
        ).collect()
    )
    assert old == new
    # df variant (t1_rare_shingle_docs): count over the same partition
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    old_df = sorted(
        (r["doc_id"], r["shingle"], r["df"])
        for r in sh.join(freq, "shingle").collect()
    )
    new_df = sorted(
        (r["doc_id"], r["shingle"], r["df"])
        for r in sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        ).collect()
    )
    assert old_df == new_df


def test_increment_vocab_union_matches_full_v1_read(spark, tmp_path):
    """v0 ∪ read_increment vocabulary == the full v1 read's vocabulary
    (the t1_cross_snapshot_contamination restructure: the v1 membership
    probe joins the v0 vocab and the increment vocab instead of
    re-tokenizing every v1 file).  Append commits only extend the
    parent's file list, so the union must be exact — including shingles
    shared by both sides."""
    from ght2dm_spark.snapshots import (
        commit,
        prepare_commit,
        read_increment,
        read_snapshot,
    )

    t = str(tmp_path / "T")
    d0 = spark.createDataFrame(
        [(1, "x y"), (2, "y z")], "doc_id bigint, text string"
    )
    d1 = spark.createDataFrame(
        [(3, "y z"), (4, "w")], "doc_id bigint, text string"
    )
    commit(prepare_commit(d0, t))
    commit(prepare_commit(d1, t, mode="append"))

    def vocab(df):
        return {
            r["w"]
            for r in df.select(
                F.explode(F.split("text", " ")).alias("w")
            ).distinct().collect()
        }

    v0 = vocab(read_snapshot(spark, t, version=0))
    vinc = vocab(read_increment(spark, t, since_version=0, upto_version=1))
    v1 = vocab(read_snapshot(spark, t, version=1))
    assert v0 | vinc == v1
    assert v0 == {"x", "y", "z"} and v1 == {"x", "y", "z", "w"}


def test_bfs_pagerank_symmetrized_matches_default(spark):
    """symmetrized=True with a caller-pre-symmetrized edge list must be
    bit-equivalent to the default _symmetrize path, for BOTH iterative
    operators that take the flag — and the t1_bfs_levels long relabel
    (2k / 2k+1) must reproduce the string-keyed levels under the
    decode bijection."""
    from ght2dm_spark.operators.graph import bfs_levels, pagerank

    # small bipartite graph: suppliers 0..4 (even ids), parts (odd ids)
    pairs = [(0, 101), (0, 102), (1, 102), (2, 103), (3, 104), (4, 105),
             (1, 101), (2, 102)]
    edges = spark.createDataFrame(
        [(2 * s, 2 * p + 1) for s, p in pairs], "src bigint, dst bigint"
    ).distinct()
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.createDataFrame([(0,), (2,)], "node bigint")

    bfs_default = {
        (r["node"], r["level"])
        for r in bfs_levels(edges, seeds, max_level=3).collect()
    }
    bfs_sym = {
        (r["node"], r["level"])
        for r in bfs_levels(both, seeds, max_level=3, symmetrized=True).collect()
    }
    assert bfs_sym == bfs_default and bfs_default  # non-vacuous

    pr_default = {
        (r["node"], r["r"]) for r in pagerank(edges, iterations=3).collect()
    }
    pr_sym = {
        (r["node"], r["r"])
        for r in pagerank(both, iterations=3, symmetrized=True).collect()
    }
    assert pr_sym == pr_default and pr_default


def test_symmetrized_edges_have_one_producer(spark, sf_dir):
    """``symmetrized=True`` tells bfs_levels/pagerank the edge list is
    already distinct and holds (b, a) for every (a, b) — pagerank
    double-counts degrees otherwise.  Pin the contract on its producer,
    cohort_queries._sp_bipartite_edges, and pin that producer as the
    only module passing the flag."""
    import ast
    from pathlib import Path

    from ght2dm_spark.io import load_table
    from ght2dm_spark.queries.cohort_queries import _sp_bipartite_edges

    li = load_table(spark, sf_dir, "lineitem")
    edges = [(r["src"], r["dst"]) for r in _sp_bipartite_edges(li).collect()]
    edge_set = set(edges)
    assert edges and len(edges) == len(edge_set)
    assert all((b, a) in edge_set for a, b in edges)

    pkg = Path(__file__).resolve().parent.parent / "ght2dm_spark"
    passing = set()
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and any(
                kw.arg == "symmetrized"
                and isinstance(kw.value, ast.Constant)
                and kw.value.value is True
                for kw in node.keywords
            ):
                passing.add(path.relative_to(pkg).as_posix())
    assert passing == {"queries/cohort_queries.py"}
