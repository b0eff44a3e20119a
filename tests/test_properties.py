"""Property-based tests (SURVEY §5 item 3) for the core T0 operators:
newest-wins dedup, surrogate keys, extremal-row selection — randomized
inputs via hypothesis, invariants checked against a Python-side model.

Examples are kept small and few: each runs a real Spark job.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ght2dm_spark.operators.dedup import dedup_newest, keep_extremal
from ght2dm_spark.operators.keys import add_surrogate_key

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),  # key
        st.integers(0, 3),  # day offset → file_date
        st.integers(0, 9),  # file_pos
        st.integers(-100, 100),  # payload
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@_slow
def test_dedup_newest_matches_model(spark, rows):
    base = dt.date(2014, 1, 1)
    data = [
        (k, base + dt.timedelta(days=d), p, v) for k, d, p, v in rows
    ]
    df = spark.createDataFrame(
        data, "key long, file_date date, file_pos long, payload long"
    )
    got = {
        (r["key"], r["file_date"], r["file_pos"])
        for r in dedup_newest(
            df, ["key"], [F.col("file_date").desc(), F.col("file_pos").asc()]
        ).collect()
    }
    # model: per key, max date then min pos (ties beyond that collapse to
    # one arbitrary-but-single row; we check the (date,pos) choice)
    expect = {}
    for k, d, p, v in data:
        cur = expect.get(k)
        if cur is None or (d, -p) > (cur[0], -cur[1]):
            expect[k] = (d, p)
    assert {(k, d, p) for k, (d, p) in expect.items()} == got
    assert len(got) == len(expect)


@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True),
    nparts=st.integers(1, 7),
)
@_slow
def test_surrogate_keys_partitioning_independent(spark, keys, nparts):
    """Keys == 1-based rank over the sorted keys, whatever the input
    partitioning (the hash-match prerequisite)."""
    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(nparts)
    ranged = {
        r["k"]: r["sk"]
        for r in add_surrogate_key(df, ["k"], "sk").collect()
    }
    expect = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert ranged == expect


@given(rows=rows_strategy)
@_slow
def test_keep_extremal_matches_model(spark, rows):
    df = spark.createDataFrame(
        [(k, d, p, v) for k, d, p, v in rows],
        "key long, a long, b long, v long",
    )
    got = {
        (r["key"], r["a"], r["b"], r["v"])
        for r in keep_extremal(df, ["key"], max_cols=["a"], min_cols=["b"]).collect()
    }
    by_key: dict = {}
    for k, a, b, v in rows:
        by_key.setdefault(k, []).append((a, b, v))
    expect = set()
    for k, vals in by_key.items():
        mx_a = max(a for a, _, _ in vals)
        mn_b = min(b for _, b, _ in vals)
        for a, b, v in vals:
            if a == mx_a and b == mn_b:
                expect.add((k, a, b, v))
    assert got == expect


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=30,
)


@given(edges=edges_strategy, seeds=st.sets(st.integers(0, 12), min_size=1, max_size=3))
@_slow
def test_bfs_levels_matches_model(spark, edges, seeds):
    from ght2dm_spark.operators.graph import bfs_levels

    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        (r["node"], r["level"])
        for r in bfs_levels(edf, sdf, max_level=4).collect()
    }
    # model: textbook frontier BFS over the undirected adjacency
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    level = {s: 0 for s in seeds}
    frontier = set(seeds)
    for lvl in range(1, 5):
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in level:
                    level[m] = lvl
                    nxt.add(m)
        frontier = nxt
    assert {(n, lv) for n, lv in level.items()} == got


@given(
    fact=st.lists(
        st.tuples(st.integers(0, 4), st.integers(-50, 50)), min_size=1, max_size=40
    ),
    dim=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 9)), min_size=1, max_size=8
    ),
)
@_slow
def test_salted_join_equals_plain_join(spark, fact, dim):
    from ght2dm_spark.operators.joins import salted_join

    # unique dim keys (the operator contract: dim is a dimension)
    dim = list({k: (k, t) for k, t in dim}.values())
    f = spark.createDataFrame(fact, "k long, v long")
    d = spark.createDataFrame(dim, "k long, tag long")
    got = sorted(
        map(tuple, salted_join(f, d, "k", n_salt=4).select("k", "v", "tag").collect())
    )
    expect = sorted(map(tuple, f.join(d, "k").select("k", "v", "tag").collect()))
    assert got == expect


def test_line_dedup_identity_when_no_boilerplate(spark, sf_dir, monkeypatch):
    """With an unreachable document-frequency threshold, no span is
    boilerplate and positional reassembly must reproduce every
    document's whitespace-normalized text byte-exactly (md5) with
    n_kept == n_segs — the invariant that the explode → anti-join →
    array_sort reassembly loses nothing and never reorders."""
    from pyspark.sql import functions as F

    from ght2dm_spark.queries import dedup_queries as dq

    monkeypatch.setattr(dq, "LINE_DEDUP_DF", 10**9)
    out = dq.t1_line_dedup(spark, sf_dir)

    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    expected = (
        dq.load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.md5(F.array_join(toks, " ")).alias("expect_md5")
        )
    )
    j = out.join(expected, "doc_id")
    assert j.filter(
        (F.col("scrub_md5") != F.col("expect_md5"))
        | (F.col("n_kept") != F.col("n_segs"))
    ).count() == 0
    assert out.count() == expected.count()


def test_kmeans_partitioning_independent(spark, sf_dir):
    """Integer k-means must produce identical assignments (and therefore
    centroids) regardless of input partitioning — the property the
    all-integer formulation buys: no float accumulation order anywhere,
    so repartitioning cannot perturb a single cluster id or distance."""
    from ght2dm_spark.io import load_table
    from ght2dm_spark.operators.clustering import kmeans_int

    e = load_table(spark, sf_dir, "embeddings")
    base, _ = kmeans_int(e, "vec_id", "embedding", k=4, iters=2)
    shuffled, _ = kmeans_int(
        e.repartition(13, "vec_id"), "vec_id", "embedding", k=4, iters=2
    )
    a = {(r["id"], r["cid"], r["d"]) for r in base.collect()}
    b = {(r["id"], r["cid"], r["d"]) for r in shuffled.collect()}
    assert a == b


asof_strategy = st.tuples(
    # left rows: (key, ts) — keys and timestamps may be NULL (a NULL on
    # the left must yield NULL payload, matching equality-join semantics)
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 4)),
            st.one_of(st.none(), st.integers(0, 50)),
        ),
        min_size=1,
        max_size=30,
    ),
    # right rows: (key, ts, payload) — NULL key/ts rows must never leak
    # payload into any left row (the NULLS-FIRST carry hazard)
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 4)),
            st.one_of(st.none(), st.integers(0, 50)),
            st.integers(0, 999),
        ),
        min_size=0,
        max_size=30,
    ),
)


@given(data=asof_strategy)
@_slow
def test_asof_join_matches_model(spark, data):
    """asof_join ≡ the brute-force model: for each left row, the payload
    of the right row with the max right_ts <= left_ts on the same key
    (ties on right_ts pre-collapsed to max payload via tie_break).  A
    second payload column is a deterministic function of pay that is
    often NULL: the matched row's NULL must come through as NULL — a
    per-column last(ignorenulls) carry would resurrect a stale non-NULL
    value from an older right row (the torn-payload bug this pins)."""
    from ght2dm_spark.operators.temporal import asof_join

    left_rows, right_rows = data

    def p2(p):
        return None if p % 3 == 0 else p + 1

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "lid long, key long, lts long",
    )
    right = spark.createDataFrame(
        [(k, t, p, p2(p)) for k, t, p in right_rows]
        or [(None, None, None, None)],
        "key long, rts long, pay long, pay2 long",
    )
    if not right_rows:
        right = right.filter(F.col("pay").isNotNull())  # drop the dummy
    out = asof_join(
        left,
        right,
        key="key",
        left_ts="lts",
        right_ts="rts",
        payload=["pay", "pay2"],
        tie_break="pay",
    )
    got = {r["lid"]: (r["pay"], r["pay2"]) for r in out.collect()}

    # brute-force model: NULL key/ts on either side never matches
    best: dict[tuple[int, int], int] = {}
    for k, t, p in right_rows:
        if k is None or t is None:
            continue
        cur = best.get((k, t))
        best[(k, t)] = p if cur is None else max(cur, p)
    expect = {}
    for i, (k, t) in enumerate(left_rows):
        cands = (
            []
            if k is None or t is None
            else [
                (rt, p)
                for (rk, rt), p in best.items()
                if rk == k and rt <= t
            ]
        )
        if cands:
            p = max(cands)[1]
            expect[i] = (p, p2(p))
        else:
            expect[i] = (None, None)
    assert got == expect


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for i in range(n_nodes):
        comp.setdefault(find(i), []).append(i)
    return {i: min(ms) for ms in comp.values() for i in ms}


@given(edges=edges_strategy)
@_slow
def test_connected_components_matches_union_find(spark, edges):
    from ght2dm_spark.operators.graph import connected_components

    n = 13
    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {
        r["id"]: r["comp"] for r in connected_components(ndf, edf).collect()
    }
    assert got == _union_find_components(n, edges)


def test_connected_components_logarithmic_rounds(spark):
    """The SOCC'14 star-contraction bound, measured: a path graph of
    diameter n−1 must converge in O(log n) alternation rounds — the case
    where the old hash-to-min formulation needed n−1 rounds (and silently
    returned a WRONG labeling once past max_iter)."""
    from ght2dm_spark.operators.graph import connected_components

    n = 128  # diameter 127; log2(n) = 7
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    ndf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    stats: dict = {}
    out = connected_components(ndf, edf, stats=stats).collect()
    assert all(r["comp"] == 0 for r in out) and len(out) == n
    assert stats["rounds"] <= 10, f"expected O(log n) rounds, got {stats['rounds']}"


# --------------------------------------------------------------------------
# BPE trainer vs pure-Python reference model

words_strategy = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=5),
    st.integers(1, 5),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=6,  # each example drives ~6 Spark jobs (2 rounds)
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=words_strategy)
def test_bpe_train_matches_reference(spark, words):
    """The DataFrame BPE trainer (bracket-wrapped greedy replace) must
    learn exactly the merges of a direct Python BPE implementation —
    same pair counts, same (count DESC, pair ASC) tie-break, same
    greedy non-overlapping application (runs like 'aaaa' are where a
    wrong replace encoding diverges)."""
    from ght2dm_spark.operators.bpe import reference_train, train

    wc = spark.createDataFrame(
        [(w, c) for w, c in words.items()], "word string, cnt long"
    )
    merges, _ = train(wc, rounds=2)
    got = [
        (r["round"], r["left_sym"], r["right_sym"], r["merged"],
         r["n_occurrences"])
        for r in merges.orderBy("round").collect()
    ]
    assert got == reference_train(words, rounds=2)


@given(edges=edges_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kcore_matches_peel_fixpoint_model(spark, edges):
    from ght2dm_spark.operators.graph import kcore_edges

    # canonical undirected edge rows (x < y), no self-loops — the
    # operator contract t1_kcore establishes upstream
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    k = 2
    edf = spark.createDataFrame(sorted(canon), "x long, y long")
    got = {(r["x"], r["y"]) for r in kcore_edges(edf, k, rounds=20).collect()}
    # model: peel to the fixpoint (the k-core is the unique maximal
    # subgraph of min degree >= k, however the peel is ordered)
    cur = set(canon)
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            break
        cur = nxt
    assert got == cur


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7), st.integers(1, 9)),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bellman_ford_matches_dijkstra(spark, edges):
    import heapq

    from ght2dm_spark.operators.graph import bellman_ford

    # directed weighted edges, positive integer weights; 8 nodes means
    # 7 relaxation rounds reach every shortest path exactly
    edf = spark.createDataFrame(edges, "x long, y long, w long")
    got = {
        (r["node"], r["dist"])
        for r in bellman_ford(edf, source=0, rounds=7).collect()
    }
    adj: dict[int, list[tuple[int, int]]] = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    dist = {0: 0}
    heap = [(0, 0)]
    while heap:
        d, n = heapq.heappop(heap)
        if d > dist.get(n, 1 << 60):
            continue
        for m, w in adj.get(n, ()):
            nd = d + w
            if nd < dist.get(m, 1 << 60):
                dist[m] = nd
                heapq.heappush(heap, (nd, m))
    assert got == set(dist.items())


docs_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=14), min_size=1, max_size=6
)


def _md5_halves(s: str) -> tuple[int, int]:
    import hashlib

    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


@given(texts=docs_strategy)
@_slow
def test_minhash_signature_matches_python_model(spark, texts):
    from ght2dm_spark.operators.neardup import MINHASH_PRIME, minhash_signature

    k, n = 4, 3
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signature(df, "doc_id", "text", k=k, shingle_n=n).collect()
    }
    expect = {}
    for i, text in rows:
        toks = [t for t in text.lower().split() if t]
        if len(toks) >= n:
            shingles = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        else:
            shingles = {" ".join(toks)}  # normalized fallback (round-4 fix)
        halves = [_md5_halves(s) for s in shingles]
        expect[i] = [
            min((h1 + j * h2) % MINHASH_PRIME for h1, h2 in halves)
            for j in range(k)
        ]
    assert got == expect


@given(texts=docs_strategy)
@_slow
def test_simhash_matches_python_model(spark, texts):
    from ght2dm_spark.operators.neardup import SIMHASH_BITS, simhash64

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash64(df, "doc_id", "text").collect()
    }
    expect = {}
    for i, text in rows:
        toks = [t for t in text.lower().split() if t]
        if not toks:
            continue  # no tokens -> no votes -> doc absent, like the operator
        votes = [0] * SIMHASH_BITS
        for t in toks:
            h1, h2 = _md5_halves(t)
            for b in range(SIMHASH_BITS):
                h, shift = (h1, 31 - b) if b < 32 else (h2, 63 - b)
                votes[b] += ((h >> shift) & 1) * 2 - 1
        expect[i] = "".join("1" if v >= 0 else "0" for v in votes)
    assert got == expect


_snap_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 9)), min_size=1, max_size=5
)
_snap_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), _snap_rows),
        st.tuples(st.just("overwrite"), _snap_rows),
        st.tuples(st.just("delete"), st.lists(st.integers(0, 5), min_size=1, max_size=3)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=6,
)


@given(first=_snap_rows, ops=_snap_ops)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_snapshot_table_random_op_sequences(spark, tmp_path_factory, first, ops):
    """Stateful check of the snapshot table format: any interleaving of
    append / overwrite / merge-on-read delete / vacuum must keep (a) the live read equal to the model after every op, (b) time
    travel to every RETAINED version equal to what that version showed
    when it committed (manifests are immutable), and (c) history()
    listing exactly the retained chain.

    Model semantics being pinned: deletes are SEQUENCE-SCOPED (the
    Iceberg rule, snapshots.py delete_rows) — a delete masks only rows
    live when it commits, so a key re-appended afterwards is visible;
    overwrite resets everything; vacuum truncates history but never
    changes it.
    """
    from collections import Counter

    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        history,
        prepare_commit,
        read_snapshot,
        vacuum,
    )

    table = str(tmp_path_factory.mktemp("snapprop") / "t")

    def live_rows():
        df = read_snapshot(spark, table, schema="k long, v long")
        return Counter() if df is None else Counter((r["k"], r["v"]) for r in df.collect())

    def mkdf(rows):
        return spark.createDataFrame(rows, "k long, v long")

    # model: the visible multiset itself, updated sequence-scoped — a
    # delete drops only rows visible at delete time; later appends of
    # the same key are unaffected (matches delete_rows' file_seq <
    # delete_seq rule); vacuum never changes the live view
    visible = Counter(first)
    commit(prepare_commit(mkdf(first), table))
    versions = {history(table)[-1]["seq"]: Counter(visible)}

    for op, arg in ops:
        if op == "append":
            commit(prepare_commit(mkdf(arg), table, mode="append"))
            visible = visible + Counter(arg)
        elif op == "overwrite":
            commit(prepare_commit(mkdf(arg), table, mode="overwrite"))
            visible = Counter(arg)
        elif op == "delete":
            commit(delete_rows(spark.createDataFrame([(k,) for k in arg], "k long"), table))
            visible = Counter(
                {r: c for r, c in visible.items() if r[0] not in set(arg)}
            )
        else:  # vacuum
            vacuum(table, keep_manifests=arg)
            keep = sorted(versions)[-max(arg, 1):]
            versions = {s: versions[s] for s in keep}
            assert live_rows() == visible
            continue
        versions[history(table)[-1]["seq"]] = Counter(visible)
        assert live_rows() == visible

    # final sweep: time travel to every retained version, exact history
    assert [h["seq"] for h in history(table)] == sorted(versions)
    for seq, expect in versions.items():
        df = read_snapshot(spark, table, schema="k long, v long", version=seq)
        got = Counter() if df is None else Counter((r["k"], r["v"]) for r in df.collect())
        assert got == expect, f"version {seq}"


@given(
    sigs=st.lists(
        st.lists(st.integers(0, 3), min_size=6, max_size=6),
        min_size=1,
        max_size=8,
    ),
    max_bucket=st.integers(1, 8),
)
@_slow
def test_lsh_banding_matches_model(spark, sigs, max_bucket):
    """lsh_bands + lsh_candidate_pairs vs the definition: ids are a
    candidate pair iff some band's signature slice is identical, and the
    bucket-size cap drops exactly the over-limit (band, key) buckets.
    The tiny value domain forces heavy band collisions on purpose."""
    from ght2dm_spark.operators.neardup import lsh_bands, lsh_candidate_pairs

    bands, rows = 3, 2
    df = spark.createDataFrame(
        list(enumerate(sigs)), "doc_id long, sig array<long>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            lsh_bands(df, "doc_id", bands, rows), "doc_id", max_bucket=max_bucket
        ).collect()
    }
    # model: band membership, bucket cap, then pairs within buckets
    buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
    for i, sig in enumerate(sigs):
        for b in range(bands):
            key = (b, tuple(sig[b * rows : (b + 1) * rows]))
            buckets.setdefault(key, []).append(i)
    expect = {
        (a, b)
        for members in buckets.values()
        if len(members) <= max_bucket
        for a in members
        for b in members
        if a < b
    }
    assert got == expect


@given(edges=edges_strategy)
@_slow
def test_triangle_counts_matches_bruteforce(spark, edges):
    from itertools import combinations

    from ght2dm_spark.operators.graph import triangle_counts

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    edf = spark.createDataFrame(sorted(canon), "x long, y long")
    got = {(r["node"], r["n_tri"]) for r in triangle_counts(edf).collect()}
    nodes = {n for e in canon for n in e}
    per_node: dict[int, int] = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (b, c), (a, c)} <= canon:
            for n in (a, b, c):
                per_node[n] = per_node.get(n, 0) + 1
    assert got == set(per_node.items())


@given(edges=edges_strategy, rounds=st.integers(1, 3))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_label_propagation_matches_synchronous_model(spark, edges, rounds):
    from ght2dm_spark.operators.graph import label_propagation

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    both = sorted(canon | {(b, a) for a, b in canon})
    edf = spark.createDataFrame(both, "a long, b long")
    got = {
        (r["node"], r["lbl"])
        for r in label_propagation(edf, rounds).collect()
    }
    adj: dict[int, list[int]] = {}
    for a, b in both:
        adj.setdefault(a, []).append(b)
    lbl = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
            nxt[n] = min(cnt, key=lambda c: (-cnt[c], c))
        lbl = nxt
    assert got == set(lbl.items())


@given(edges=edges_strategy, iters=st.integers(1, 3))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pagerank_matches_integer_model(spark, edges, iters):
    """The integer fixed-point PageRank recurrence replayed in Python
    must agree EXACTLY (bit-identical ranks) — this is the property the
    oracle unroll relies on, pinned here on random graphs."""
    from ght2dm_spark.operators.graph import PAGERANK_SCALE, pagerank

    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    edf = spark.createDataFrame(sorted(canon), "src long, dst long")
    got = {(r["node"], r["r"]) for r in pagerank(edf, iterations=iters).collect()}
    both = canon | {(b, a) for a, b in canon}
    deg: dict[int, int] = {}
    for a, _ in both:
        deg[a] = deg.get(a, 0) + 1
    nn = len(deg)
    base_term = (15 * PAGERANK_SCALE) // (100 * nn)
    r = {n: PAGERANK_SCALE // nn for n in deg}
    for _ in range(iters):
        s: dict[int, int] = {}
        for a, b in both:
            s[b] = s.get(b, 0) + r[a] // deg[a]
        r = {b: base_term + (sb * 85) // 100 for b, sb in s.items()}
    assert got == set(r.items())


@given(
    fact=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)), min_size=1, max_size=12
    ),
    dim=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4), st.integers(0, 20)),
        min_size=1,
        max_size=10,
    ),
)
@_slow
def test_or_lookup_matches_first_match_model(spark, fact, dim):
    """J4's OR-lookup decomposition: the payload comes from the FIRST
    key pair (in declaration order) with a dim match, min-payload per
    key — never a nested-loop OR join."""
    from ght2dm_spark.operators.joins import or_lookup

    f = spark.createDataFrame(fact, "ka long, kb long")
    d = spark.createDataFrame(dim, "da long, db long, payload long")
    got = sorted(
        (r["ka"], r["kb"], r["payload"])
        for r in or_lookup(f, d, [("ka", "da"), ("kb", "db")], "payload").collect()
    )
    by_da: dict[int, int] = {}
    by_db: dict[int, int] = {}
    for da, db, p in dim:
        by_da[da] = min(by_da.get(da, p), p)
        by_db[db] = min(by_db.get(db, p), p)
    expect = sorted(
        (ka, kb, by_da.get(ka, by_db.get(kb)))
        for ka, kb in fact
    )
    assert got == expect


@given(
    fact=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9)), min_size=1, max_size=12
    ),
    dim=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9)), min_size=1, max_size=8
    ),
)
@_slow
def test_resolve_fk_partitions_rows_exactly(spark, fact, dim):
    """F9: good ⊎ rejects must partition the fact rows — good carries
    the inner-join multiplicity, rejects exactly the unresolvable
    rows, nothing lost or duplicated."""
    from collections import Counter

    from ght2dm_spark.operators.joins import resolve_fk

    f = spark.createDataFrame(fact, "k long, v long")
    d = spark.createDataFrame(dim, "k long, t long")
    res = resolve_fk(f, d, "k")
    good = Counter((r["k"], r["v"], r["t"]) for r in res.good.collect())
    rejects = Counter((r["k"], r["v"]) for r in res.rejects.collect())
    dkeys: dict[int, list[int]] = {}
    for k, t in dim:
        dkeys.setdefault(k, []).append(t)
    exp_good = Counter(
        (k, v, t) for k, v in fact for t in dkeys.get(k, ())
    )
    exp_rej = Counter((k, v) for k, v in fact if k not in dkeys)
    assert good == exp_good and rejects == exp_rej


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 9), st.integers(0, 30)),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(1, 4),
)
@_slow
def test_top_k_per_group_matches_sorted_model(spark, rows, k):
    """Per-group top-k under a TOTAL order (score desc, uid asc as the
    tiebreak — the determinism discipline every registered query
    follows) equals the Python sorted()[:k] model."""
    from ght2dm_spark.operators.topk import top_k_per_group

    rows = list({r[2]: r for r in rows}.values())  # unique uid → total order
    df = spark.createDataFrame(rows, "g long, score long, uid long")
    got = sorted(
        (r["g"], r["score"], r["uid"])
        for r in top_k_per_group(
            df, ["g"], [F.col("score").desc(), F.col("uid").asc()], k
        ).collect()
    )
    groups: dict[int, list] = {}
    for g, s, u in rows:
        groups.setdefault(g, []).append((s, u))
    expect = sorted(
        (g, s, u)
        for g, members in groups.items()
        for s, u in sorted(members, key=lambda t: (-t[0], t[1]))[:k]
    )
    assert got == expect


@given(
    probe=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 120)), min_size=1, max_size=10
    ),
    build=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 120), st.integers(0, 9)),
        min_size=1,
        max_size=10,
    ),
)
@_slow
def test_range_join_binned_matches_interval_model(spark, probe, build):
    """The bucket-exploded range join must equal the naive interval
    definition — same-key pairs with build_ts in [probe_ts - 10 s,
    probe_ts + 10 s], left-join keeping zero-match probe rows.  The
    7-second grain deliberately misaligns with the ±10 s window so
    bucket-boundary candidates are exercised."""
    import datetime as dtm
    from collections import Counter

    from ght2dm_spark.operators.temporal import range_join_binned

    base = dtm.datetime(2021, 1, 1)
    p = spark.createDataFrame(
        [(k, base + dtm.timedelta(seconds=s)) for k, s in probe],
        "k long, pts timestamp",
    )
    b = spark.createDataFrame(
        [(k, base + dtm.timedelta(seconds=s), v) for k, s, v in build],
        "k long, bts timestamp, v long",
    )
    out = range_join_binned(
        p,
        b,
        "k",
        "pts",
        "bts",
        F.expr("INTERVAL -10 SECONDS"),
        F.expr("INTERVAL 10 SECONDS"),
        grain_seconds=7,
    )
    got = Counter(
        (r["k"], r["pts"].second + r["pts"].minute * 60, r["v"])
        for r in out.collect()
    )
    expect: Counter = Counter()
    for pk, ps in probe:
        matches = [
            v for bk, bs, v in build if bk == pk and ps - 10 <= bs <= ps + 10
        ]
        if matches:
            for v in matches:
                expect[(pk, ps, v)] += 1
        else:
            expect[(pk, ps, None)] += 1
    assert got == expect


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(1, 5),  # first component nonzero -> no zero vector
            st.integers(-5, 5),
            st.integers(-5, 5),
            st.integers(-5, 5),
        ),
        min_size=2,
        max_size=8,
    ),
    k=st.integers(1, 3),
)
@_slow
def test_topk_neighbors_matches_fold_model(spark, vecs, k):
    """Exact cosine top-k (the brute-force baseline every recall audit
    trusts) vs a Python replay of the SAME left-to-right fold — scores
    are bit-identical doubles, so ranks and the (cos desc, id asc) tie
    order must agree exactly.  Integer-valued vectors still produce
    plenty of cosine ties (parallel vectors), exercising the tie-break."""
    import math

    from ght2dm_spark.operators.similarity import topk_neighbors

    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "c_id long, c_vec array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "q_id long, q_vec array<double>",
    )
    got = {
        (r["q_id"], r["c_id"], r["rank"], r["cos"])
        for r in topk_neighbors(queries, corpus, k).collect()
    }

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return fold_dot(a, b) / math.sqrt(fold_dot(a, a) * fold_dot(b, b))

    expect = set()
    for qi, qv in enumerate(vecs):
        scored = sorted(
            ((-cos(qv, cv), ci) for ci, cv in enumerate(vecs) if ci != qi),
        )
        for rank, (negc, ci) in enumerate(scored[:k], start=1):
            expect.add((qi, ci, rank, -negc))
    assert got == expect


@given(
    vecs=st.lists(
        st.tuples(st.integers(-3, 3), st.integers(-3, 3), st.integers(-3, 3)),
        min_size=4,
        max_size=8,
    ),
    k=st.integers(2, 3),
    iters=st.integers(1, 2),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kmeans_int_matches_python_replay(spark, vecs, k, iters):
    """The integer fixed-point k-means recurrence replayed in Python:
    micro-unit conversion, exact int squared distances, (d, cid)
    argmin tie-break, and truncating-division centroid means (Spark's
    `div` truncates toward zero — NOT Python's flooring //) must yield
    bit-identical assignments and centroids.  Negative components are
    generated on purpose to pin the division semantics."""
    from ght2dm_spark.operators.clustering import KM_SCALE, kmeans_int

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, emb array<double>",
    )
    asg, cents = kmeans_int(df, "id", "emb", k=k, iters=iters)
    got_asg = {(r["id"], r["cid"], r["d"]) for r in asg.collect()}
    got_cents = {(r["cid"], tuple(r["c"])) for r in cents.collect()}

    def tdiv(s, c):  # truncate toward zero, like Spark's div
        q = abs(s) // c
        return q if s >= 0 else -q

    iv = {i: tuple(x * KM_SCALE for x in v) for i, v in enumerate(vecs)}
    cent = {i: iv[i] for i in range(k)}

    def assign():
        out = {}
        for i, v in iv.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, cent[c])), c)
                for c in cent
            )
            out[i] = best  # (d, cid)
        return out

    for _ in range(iters):
        a = assign()
        members: dict[int, list] = {}
        for i, (_, c) in a.items():
            members.setdefault(c, []).append(iv[i])
        cent = {
            c: tuple(
                tdiv(sum(v[j] for v in vs), len(vs)) for j in range(len(vecs[0]))
            )
            for c, vs in members.items()
        }
    final = assign()
    exp_asg = {(i, c, d) for i, (d, c) in final.items()}
    exp_cents = {(c, v) for c, v in cent.items()}
    assert got_asg == exp_asg and got_cents == exp_cents


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 99), st.integers(-50, 50)),
        min_size=1,
        max_size=30,
    ),
    n_salt=st.integers(1, 8),
)
@_slow
def test_salted_agg_equals_plain_groupby(spark, rows, n_salt):
    """The two-phase salted aggregation must be row-identical to the
    plain groupBy for any salt width — salting only reshapes the
    shuffle (integer sums, so no float reassociation concerns)."""
    from ght2dm_spark.operators.temporal import salted_agg

    df = spark.createDataFrame(rows, "g long, u long, v long")
    got = {
        (r["g"], r["n"], r["total"])
        for r in salted_agg(
            df, ["g"], F.col("u"), n_salt, sums={"total": F.sum("v")}
        ).collect()
    }
    model: dict[int, list[int]] = {}
    for g, _, v in rows:
        model.setdefault(g, []).append(v)
    expect = {(g, len(vs), sum(vs)) for g, vs in model.items()}
    assert got == expect


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.one_of(st.none(), st.integers(0, 100)),
            st.integers(0, 999),
        ),
        min_size=1,
        max_size=25,
    ),
    gap=st.integers(1, 30),
    inclusive=st.booleans(),
)
@_slow
def test_sessionize_gap_matches_islands_model(spark, events, gap, inclusive):
    """Gap sessionization vs the gaps-and-islands model: per key, order
    by (ts, uid), start a new session when the gap to the previous row
    exceeds (or, inclusive, reaches) the threshold; ids are 1-based
    running counts.  Duplicate timestamps exercise the tiebreak; NULL
    timestamps (sorted first by Spark's asc NULLS FIRST) each open their
    own single-row session and the first real row after them starts
    fresh — without the explicit isNull branches a NULL row would glue
    into the neighboring session (the bug this pins)."""
    import datetime as dtm

    from ght2dm_spark.operators.temporal import sessionize_gap

    events = list({e[2]: e for e in events}.values())  # unique uid
    base = dtm.datetime(2022, 1, 1)
    df = spark.createDataFrame(
        [
            (k, None if s is None else base + dtm.timedelta(seconds=s), u)
            for k, s, u in events
        ],
        "k long, ts timestamp, uid long",
    )
    got = {
        (r["k"], r["uid"], r["session_id"])
        for r in sessionize_gap(
            df, ["k"], "ts", ["ts", "uid"], gap_us=gap * 1_000_000,
            inclusive=inclusive,
        ).collect()
    }
    bykey: dict[int, list] = {}
    for k, s, u in events:
        bykey.setdefault(k, []).append((s, u))
    expect = set()
    for k, rows in bykey.items():
        rows.sort(key=lambda r: (r[0] is not None, r[0] or 0, r[1]))
        sid, prev = 0, None
        for i, (s, u) in enumerate(rows):
            d = (
                None
                if i == 0 or s is None or prev is None
                else s - prev
            )
            if d is None or (d >= gap if inclusive else d > gap):
                sid += 1
            expect.add((k, u, sid))
            prev = s
    assert got == expect


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=1, max_size=30
    ),
    k=st.integers(2, 6),
)
@_slow
def test_kmv_sketch_matches_model_and_merge_theorem(spark, pairs, k):
    """KMV build/merge/estimate vs a Python replay: per-group sketch =
    k smallest distinct md5-derived hashes, the merged global sketch
    equals the directly-built one (merge theorem), and the estimate is
    the exact small-set branch or (k-1)*DOMAIN div h_k."""
    import hashlib

    from ght2dm_spark.operators.sketches import (
        KMV_DOMAIN,
        kmv_estimate,
        kmv_hash,
        kmv_merge,
    )

    df = spark.createDataFrame(pairs, "g long, u long")
    hashed = df.select("g", kmv_hash(F.col("u")).alias("h"))
    sk = kmv_merge(hashed, ["g"], k)
    got_sk = {(r["g"], r["h"]) for r in sk.collect()}
    got_est = {
        (r["g"], r["est_distinct"])
        for r in kmv_estimate(sk, ["g"], k).collect()
    }
    got_merged = tuple(
        sorted(r["h"] for r in kmv_merge(sk, [], k).collect())
    )
    got_direct = tuple(
        sorted(r["h"] for r in kmv_merge(hashed, [], k).collect())
    )

    def h(u):
        return int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:8], 16)

    groups: dict[int, set] = {}
    for g, u in pairs:
        groups.setdefault(g, set()).add(h(u))
    exp_sk = {(g, hv) for g, hs in groups.items() for hv in sorted(hs)[:k]}
    exp_est = set()
    for g, hs in groups.items():
        smallest = sorted(hs)[:k]
        if len(smallest) < k:
            exp_est.add((g, len(smallest)))
        else:
            exp_est.add((g, (k - 1) * KMV_DOMAIN // smallest[-1]))
    exp_global = tuple(sorted({hv for hs in groups.values() for hv in hs})[:k])
    assert got_sk == exp_sk
    assert got_est == exp_est
    assert got_merged == exp_global == got_direct


@given(
    words=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=40),
    split=st.integers(0, 40),
)
@_slow
def test_cms_matches_model_and_merges_linearly(spark, words, split):
    """CMS build/point-query vs a Python counter replay (exact estimate
    values, est >= true count always), and merge linearity: sketches of
    two halves merged == sketch of the whole."""
    import hashlib

    from ght2dm_spark.operators.sketches import (
        cms_build,
        cms_merge,
        cms_point_query,
    )

    d_, w_ = 2, 4  # tiny so collisions are guaranteed
    df = spark.createDataFrame([(w,) for w in words], "tok string")
    counters = cms_build(df, F.col("tok"), d_, w_)
    items = spark.createDataFrame(
        [(t,) for t in sorted(set(words))], "token string"
    )
    got = {
        (r["token"], r["cms_est"])
        for r in cms_point_query(counters, items, "token", d_, w_).collect()
    }

    def pos(t, j):
        return int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:8], 16) % w_

    table = {(j, p): 0 for j in (1, 2) for p in range(w_)}
    for t in words:
        for j in (1, 2):
            table[(j, pos(t, j))] += 1
    true = {t: words.count(t) for t in set(words)}
    expect = {
        (t, min(table[(j, pos(t, j))] for j in (1, 2))) for t in true
    }
    assert got == expect
    assert all(est >= true[t] for t, est in got)

    split = min(split, len(words))
    if 0 < split < len(words):
        a = spark.createDataFrame([(w,) for w in words[:split]], "tok string")
        b = spark.createDataFrame([(w,) for w in words[split:]], "tok string")
        merged = cms_merge(
            cms_build(a, F.col("tok"), d_, w_), cms_build(b, F.col("tok"), d_, w_)
        )
        whole = {
            (r["j"], r["pos"], r["c"]) for r in counters.collect()
        }
        got_m = {(r["j"], r["pos"], r["c"]) for r in merged.collect()}
        assert got_m == whole


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=40
    )
)
@_slow
def test_hll_sketch_matches_model_and_max_merge(spark, pairs):
    """HLL build/merge/estimate vs a Python replay: registers are the
    per-bucket max of the leading-zero rank (bucket = first 8 md5 bits,
    rho over the next 52), the max-merged global register table equals
    the directly-built one, and every estimate equals the model's —
    including the IEEE division, because Python floats and both engines
    share exactly-specified double semantics."""
    import hashlib
    import math

    from ght2dm_spark.operators.sketches import (
        HLL_EST_NUM,
        HLL_M,
        HLL_SUFFIX_BITS,
        hll_build,
        hll_estimate,
        hll_merge,
    )

    w = HLL_SUFFIX_BITS + 1
    df = spark.createDataFrame(pairs, "g long, u long")
    sk = hll_build(df, ["g"], F.col("u"))
    got_regs = {(r["g"], r["bucket"], r["M"]) for r in sk.collect()}
    got_est = {
        (r["g"], r["n_buckets"], r["sum_scaled"], r["est_distinct"])
        for r in hll_estimate(sk, ["g"]).collect()
    }
    got_merged = {
        (r["bucket"], r["M"]) for r in hll_merge(sk, []).collect()
    }
    got_direct = {
        (r["bucket"], r["M"])
        for r in hll_build(df, [], F.col("u")).collect()
    }

    def reg(u):
        hx = hashlib.md5(f"hll:{u}".encode()).hexdigest()
        sfx = int(hx[2:15], 16)
        return int(hx[:2], 16), (w if sfx == 0 else w - sfx.bit_length())

    groups: dict[int, dict[int, int]] = {}
    for g, u in pairs:
        b, rho = reg(u)
        regs = groups.setdefault(g, {})
        regs[b] = max(regs.get(b, 0), rho)
    exp_regs = {
        (g, b, m) for g, regs in groups.items() for b, m in regs.items()
    }
    exp_est = set()
    for g, regs in groups.items():
        n = len(regs)
        ss = sum(1 << (w - m) for m in regs.values()) + (HLL_M - n) * (1 << w)
        exp_est.add((g, n, ss, int(math.floor(HLL_EST_NUM / float(ss)))))
    exp_global: dict[int, int] = {}
    for regs in groups.values():
        for b, m in regs.items():
            exp_global[b] = max(exp_global.get(b, 0), m)
    assert got_regs == exp_regs
    assert got_est == exp_est
    assert got_merged == set(exp_global.items()) == got_direct


def test_label_propagation_directed_sinks_keep_labels(spark):
    """Directed inputs are first-class: a dst-only sink gets an initial
    label, and a node with no outgoing labeled neighbor keeps its label
    instead of vanishing (both previously dropped — the operator
    returned an EMPTY frame for edges=[(1,2)])."""
    from ght2dm_spark.operators.graph import label_propagation

    edf = spark.createDataFrame([(1, 2)], "a long, b long")
    got = {(r["node"], r["lbl"]) for r in label_propagation(edf, 1).collect()}
    assert got == {(1, 2), (2, 2)}  # 1 adopts 2's label; sink 2 keeps its own


def test_bpe_train_stops_when_pairs_exhaust(spark):
    """rounds > available merges must stop with the vocab INTACT and
    the learned merges matching the Python reference — a crossJoin
    against an empty best frame previously annihilated the vocab."""
    from ght2dm_spark.operators.bpe import reference_train, train

    wc = spark.createDataFrame([("a", 3)], "word string, cnt long")
    merges, vocab = train(wc, rounds=3)
    got = [
        (r["round"], r["left_sym"], r["right_sym"], r["merged"],
         r["n_occurrences"])
        for r in merges.orderBy("round").collect()
    ]
    assert got == reference_train({"a": 3}, 3)
    assert [r["sym"] for r in vocab.collect()] == ["<a_>"]


def test_bpe_train_empty_vocab_returns_empty_merges(spark):
    """An empty (or fully filtered) word-frequency frame must yield an
    EMPTY merge table with the right schema — the per-round frame list
    used to make callers IndexError on merges[0] — and contract-
    violating words are dropped up front, not spliced into replace."""
    from ght2dm_spark.operators.bpe import train

    wc = spark.createDataFrame([], "word string, cnt long")
    merges, vocab = train(wc, rounds=3)
    assert merges.count() == 0
    assert merges.columns == [
        "round", "left_sym", "right_sym", "merged", "n_occurrences"
    ]
    bad = spark.createDataFrame([("o'hara", 5), ("", 2)], "word string, cnt long")
    merges2, vocab2 = train(bad, rounds=2)
    assert merges2.count() == 0 and vocab2.count() == 0


_ivm_rows = st.lists(
    st.tuples(st.integers(0, 4), st.one_of(st.none(), st.integers(-9, 9))),
    min_size=1,
    max_size=6,
)
_ivm_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), _ivm_rows),
        # delete by row-id INDEX (mapped onto live ids, so deletes
        # usually hit; out-of-range indexes become no-match keys)
        st.tuples(st.just("delete"), st.lists(st.integers(0, 30), min_size=1, max_size=5)),
    ),
    min_size=1,
    max_size=4,
)


@given(first=_ivm_rows, ops=_ivm_ops)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_refresh_aggregate_random_insert_delete_sequences(
    spark, tmp_path_factory, first, ops
):
    """Delete-aware incremental view maintenance equals a Python-model
    recompute after EVERY refresh, for both maintenance strategies at
    once: a count/sum view (arithmetic retraction with NULL-sum
    re-masking) and a min/max view (targeted affected-group recompute)
    maintained side by side off one randomly mutating source."""
    from ght2dm_spark.incremental import refresh_aggregate, verify_aggregate
    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        prepare_commit,
        read_snapshot,
    )

    root = tmp_path_factory.mktemp("ivmprop")
    src = str(root / "src")
    d_arith = str(root / "arith")
    d_mm = str(root / "mm")
    A_ARITH = {"n": ("count", None), "s": ("sum", "v")}
    A_MM = {"n": ("count", None), "s": ("sum", "v"), "mn": ("min", "v"), "mx": ("max", "v")}

    live: dict[int, tuple[int, int | None]] = {}
    next_id = 0

    def mkdf(pairs):
        nonlocal next_id
        rows = []
        for k, v in pairs:
            rows.append((next_id, k, v))
            live[next_id] = (k, v)
            next_id += 1
        return spark.createDataFrame(rows, "id long, k long, v long")

    def model():
        groups: dict[int, list] = {}
        for k, v in live.values():
            groups.setdefault(k, []).append(v)
        out = {}
        for k, vals in groups.items():
            nn = [v for v in vals if v is not None]
            out[k] = (
                len(vals),
                sum(nn) if nn else None,
                min(nn) if nn else None,
                max(nn) if nn else None,
            )
        return out

    def check():
        # every check() follows a fresh source commit, so both refreshes
        # must actually commit (return True — `is not None` would pass
        # for a silently no-op'd False)
        assert refresh_aggregate(spark, src, d_arith, ["k"], A_ARITH)
        assert refresh_aggregate(spark, src, d_mm, ["k"], A_MM)
        want = model()
        df = read_snapshot(spark, d_arith)
        got_a = {} if df is None else {
            r["k"]: (r["n"], r["s"]) for r in df.collect()
        }
        assert got_a == {k: (n, s) for k, (n, s, _m, _x) in want.items()}
        df = read_snapshot(spark, d_mm)
        got_m = {} if df is None else {
            r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in df.collect()
        }
        assert got_m == want
        assert verify_aggregate(spark, src, d_arith, ["k"], A_ARITH)
        assert verify_aggregate(spark, src, d_mm, ["k"], A_MM)

    commit(prepare_commit(mkdf(first), src))
    check()
    for op, arg in ops:
        if op == "append":
            commit(prepare_commit(mkdf(arg), src, mode="append"))
        else:
            ids = sorted(live)
            keys = sorted({ids[i % len(ids)] if ids else i for i in arg})
            commit(
                delete_rows(
                    spark.createDataFrame([(i,) for i in keys], "id long"), src
                )
            )
            for i in keys:
                live.pop(i, None)
        check()


_cf_batch = st.lists(
    st.tuples(
        st.sampled_from(["I", "D"]),
        st.integers(0, 3),
        st.one_of(st.none(), st.integers(-9, 9)),
    ),
    min_size=1,
    max_size=6,
)


@given(batches=st.lists(_cf_batch, min_size=1, max_size=4))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_changefeed_sink_random_batches_match_model(
    spark, tmp_path_factory, batches
):
    """The z-set sink over ARBITRARY signed batches (hypothesis may
    generate retractions with no matching insert — net-negative groups)
    equals a Python model of the same algebra after every batch: view
    shows groups with net count > 0, sums over the net non-NULL weight
    (re-NULLed when that weight is zero or negative)."""
    from collections import Counter

    from ght2dm_spark.incremental import (
        changefeed_aggregate_sink,
        read_aggregate_view,
    )

    dst = str(tmp_path_factory.mktemp("cfprop") / "t")
    sink = changefeed_aggregate_sink(
        dst, ["k"], {"n": ("count", None), "s": ("sum", "v")}
    )
    cnt: Counter = Counter()
    ssum: Counter = Counter()
    nn: Counter = Counter()
    for i, batch in enumerate(batches):
        sink(spark.createDataFrame(batch, "op string, k long, v long"), i)
        for op, k, v in batch:
            w = -1 if op == "D" else 1
            cnt[k] += w
            if v is not None:
                ssum[k] += w * v
                nn[k] += w
        df = read_aggregate_view(spark, dst)
        got = {r["k"]: (r["n"], r["s"]) for r in df.collect()}
        want = {
            k: (c, ssum[k] if nn[k] > 0 else None)
            for k, c in cnt.items()
            if c > 0
        }
        assert got == want, f"after batch {i}"


_jm_rows = st.lists(
    st.integers(0, 3),  # join-key per inserted row
    min_size=1,
    max_size=4,
)
_jm_ops = st.lists(
    st.tuples(
        st.sampled_from(["L", "R"]),
        st.one_of(
            st.tuples(st.just("append"), _jm_rows),
            st.tuples(
                st.just("delete"), st.lists(st.integers(0, 30), min_size=1, max_size=3)
            ),
        ),
    ),
    min_size=1,
    max_size=4,
)


@given(first_l=_jm_rows, first_r=_jm_rows, ops=_jm_ops)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_refresh_join_random_insert_delete_sequences(
    spark, tmp_path_factory, first_l, first_r, ops
):
    """Signed-weight join maintenance equals a Python-model full join
    after EVERY window, under random append/delete sequences on both
    sides — including duplicate join keys (output multiplicities), a
    row deleted the window it appeared, and both sides deleting in one
    window (the (−1)·(−1) cross term)."""
    from ght2dm_spark.incremental import (
        read_join_view,
        refresh_join,
        verify_join,
    )
    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        prepare_commit,
    )

    root = tmp_path_factory.mktemp("joinprop")
    lsrc, rsrc, dest = str(root / "L"), str(root / "R"), str(root / "J")
    live = {"L": {}, "R": {}}  # side -> id -> join key
    next_id = {"L": 0, "R": 0}

    def mkdf(side, keys):
        rows = []
        for k in keys:
            i = next_id[side]
            rows.append((i, k))
            live[side][i] = k
            next_id[side] += 1
        idc = "lid" if side == "L" else "rid"
        return spark.createDataFrame(rows, f"{idc} long, k long")

    def model():
        out = []
        for li, lk in live["L"].items():
            for ri, rk in live["R"].items():
                if lk == rk:
                    out.append((lk, li, ri))
        return sorted(out)

    def check():
        assert refresh_join(spark, lsrc, rsrc, dest, on=["k"])
        got = read_join_view(spark, dest)
        rows = sorted((r["k"], r["lid"], r["rid"]) for r in got.collect())
        assert rows == model()
        assert verify_join(spark, lsrc, rsrc, dest, on=["k"])

    commit(prepare_commit(mkdf("L", first_l), lsrc))
    commit(prepare_commit(mkdf("R", first_r), rsrc))
    check()
    for side, (op, arg) in ops:
        src = lsrc if side == "L" else rsrc
        idc = "lid" if side == "L" else "rid"
        if op == "append":
            commit(prepare_commit(mkdf(side, arg), src, mode="append"))
        else:
            ids = sorted(live[side])
            keys = sorted({ids[i % len(ids)] if ids else i for i in arg})
            commit(
                delete_rows(
                    spark.createDataFrame([(i,) for i in keys], f"{idc} long"),
                    src,
                )
            )
            for i in keys:
                live[side].pop(i, None)
        check()


_cj_batch = st.lists(
    st.tuples(
        st.sampled_from(["L", "R"]),
        st.sampled_from(["I", "D"]),
        st.integers(0, 2),          # join key
        st.integers(0, 3),          # payload tag
    ),
    min_size=1,
    max_size=5,
)


@given(batches=st.lists(_cj_batch, min_size=1, max_size=4))
# one side only: the sink holds side state and no join rows yet
@example(batches=[[("L", "I", 0, 0)]])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_changefeed_join_random_batches_match_model(
    spark, tmp_path_factory, batches
):
    """The combined-feed join sink over ARBITRARY signed batches equals
    a Python z-set model after every batch: net-positive (L-row, R-row)
    weight products at their multiplicity, regardless of arrival order
    and of retractions preceding their inserts."""
    from collections import Counter

    from ght2dm_spark.incremental import (
        changefeed_join_sink,
        read_changefeed_join,
    )

    dest = str(tmp_path_factory.mktemp("cjprop") / "t")
    sink = changefeed_join_sink(
        dest, on=["k"], left_cols=["k", "lv"], right_cols=["k", "rv"]
    )
    lw: Counter = Counter()
    rw: Counter = Counter()
    SCHEMA = "side string, op string, k long, lv long, rv long"
    for i, batch in enumerate(batches):
        rows = [
            ("L", op, k, v, None) if side == "L" else ("R", op, k, None, v)
            for side, op, k, v in batch
        ]
        sink(spark.createDataFrame(rows, SCHEMA), i)
        for side, op, k, v in batch:
            d = 1 if op == "I" else -1
            (lw if side == "L" else rw)[(k, v)] += d
        want = Counter()
        for (lk, lv), a in lw.items():
            for (rk, rv), b in rw.items():
                if lk == rk and a * b != 0:
                    want[(lk, lv, rv)] += a * b
        expect = sorted(
            key for key, n in want.items() for _ in range(n) if n > 0
        )
        got = sorted(
            (r["k"], r["lv"], r["rv"])
            for r in read_changefeed_join(spark, dest).collect()
        )
        assert got == expect
