"""Additional graph analytics: triangle counting, k-core peeling,
label-propagation communities, and weighted shortest paths — with BFS
(t1_bfs_levels), connected components (t1_neardup_components), and
PageRank (t1_pagerank) this rounds out the distributed-graph-algorithm
surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.graph import (
    bellman_ford,
    kcore_edges,
    label_propagation,
    triangle_counts,
)
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.queries.registry import register


@register(
    "t1_triangle_count",
    oracle="""
    WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
                FROM lineitem),
    e AS (SELECT a.s AS x, b.s AS y, count(*) AS shared
          FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
          GROUP BY a.s, b.s),
    m AS (SELECT max(shared) AS mx FROM e),
    ke AS (SELECT x, y FROM e, m WHERE shared * 4 >= mx * 3),
    tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM ke e1 JOIN ke e2 ON e1.y = e2.x
                       JOIN ke e3 ON e3.x = e1.x AND e3.y = e2.y),
    nodes AS (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
    SELECT node, CAST(count(*) AS BIGINT) AS n_tri
    FROM nodes GROUP BY node
    """,
)
def t1_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the supplier co-occurrence graph
    (edge = supplier pair sharing ≥ 75% of the maximum shared-part
    count — a relative threshold so the graph stays sparse at every
    scale factor).  Triangles enumerate via the canonical ordered-edge
    two-join: edges are kept only as (lo, hi), so each triangle
    (a<b<c) is found exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c).

    Scale: edge orientation (x < y) is the classic trick that caps the
    join fan-out by forward-degree — without it every triangle is found
    6× and high-degree hubs explode; with it the heaviest join key is
    bounded by max forward-degree.  Both joins hash on node ids; the
    threshold frame is a 1-row broadcast.

    Edge generation keeps the part-keyed SELF-JOIN rather than the
    in-row pair comprehension used by t1_token_pmi: measured at sf0.1
    the self-join wins (1.5s vs 2.6s) because per-part supplier fan-out
    is small, so the collect_set shuffle + array materialization costs
    more than the hash join.  A corpus with hot keys (one part shared
    by 1e5 suppliers) flips that trade — then the in-row form with a
    per-key cap is the survivable one."""
    sp = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    a = sp.alias("a")
    b = sp.alias("b")
    # pinned: e feeds FOUR consumers (the max aggregate + the three edge
    # role-projections) — unpinned, each one replays the part-keyed
    # self-join over lineitem (measured 3× slower at sf0.1)
    e = pinned(
        a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("x"), F.col("b.s").alias("y"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    m = e.agg(F.max("shared").alias("mx"))
    ke = (
        e.crossJoin(F.broadcast(m))
        .filter(F.col("shared") * 4 >= F.col("mx") * 3)
        .select("x", "y")
    )
    return triangle_counts(ke)


def _kcore_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peeling over the supplier co-occurrence graph,
    as the DuckDB oracle.  k-core is CONFLUENT - the fixpoint is unique
    regardless of removal order (Seidman 1983) - so bounded
    simultaneous-peel rounds are deterministic.  Every CTE is
    MATERIALIZED: inlined CTEs re-expand the base self-join once per
    reference, combinatorially across rounds (measured: both engines
    hang and DuckDB exhausts file descriptors re-opening the parquet).
    Spark has no CTE materialization, which is why the Spark side is a
    driver loop instead of this same text."""
    parts = [
        """m0 AS MATERIALIZED (
          SELECT a.s AS x, b.s AS y, count(*) AS shared
          FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
          GROUP BY a.s, b.s),
    e0 AS MATERIALIZED (
          SELECT x, y FROM m0
          WHERE shared * 2 >= (SELECT max(shared) FROM m0))"""
    ]
    for r in range(1, rounds + 1):
        q = r - 1
        parts.append(
            f"""n{r} AS MATERIALIZED (
          SELECT node FROM
            (SELECT x AS node FROM e{q} UNION ALL SELECT y FROM e{q}) u
          GROUP BY node HAVING count(*) >= {k}),
    e{r} AS MATERIALIZED (
          SELECT x, y FROM e{q}
          WHERE x IN (SELECT node FROM n{r})
            AND y IN (SELECT node FROM n{r}))"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH sp AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    {joined}
    SELECT node, CAST(count(*) AS BIGINT) AS core_deg
    FROM (SELECT x AS node FROM e{rounds} UNION ALL SELECT y FROM e{rounds}) u
    GROUP BY node
    """


_KCORE_K, _KCORE_ROUNDS = 3, 8


@register("t1_kcore", oracle=_kcore_sql(_KCORE_K, _KCORE_ROUNDS))
def t1_kcore(spark, sf_dir):
    """3-core of the supplier co-occurrence graph (edge = pair sharing
    >= 50% of the max shared-part count): repeatedly peel nodes of
    degree < 3 until the fixpoint - the standard dense-subgraph
    extractor (spam/bot subcommunity mining in link graphs; Seidman
    1983).  Returns each surviving node with its in-core degree.

    The driver loop runs the same simultaneous-peel rounds as the
    oracle's unrolled MATERIALIZED CTEs; confluence makes the result
    order-independent, so the comparison is exact.  Convergence within
    the unroll is asserted in tests (fixpoint with rounds to spare),
    not hoped for.

    Scale: each round is one degree aggregation + one semi-join pair,
    hash-partitioned on node ids, with the shrinking edge set
    localCheckpointed per round so lineage stays flat - the driver-loop
    pattern of ``operators/graph.py``.  (The alternative - unrolling
    the rounds into ONE plan - re-expands the base join per CTE
    reference under Spark's unconditional CTE inlining; measured
    blowup, see the oracle docstring.)"""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    m0 = pinned(
        sp.alias("a")
        .join(
            sp.alias("b"),
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("x"), F.col("b.s").alias("y"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    mx = m0.agg(F.max("shared").alias("mx"))
    e = kcore_edges(
        m0.crossJoin(F.broadcast(mx)).filter(F.col("shared") * 2 >= F.col("mx")),
        _KCORE_K,
        _KCORE_ROUNDS,
    )
    return (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
    )


_LPA_ROUNDS = 4


def _lpa_sql(rounds: int) -> str:
    """Unrolled synchronous label propagation over the supplier↔part
    bipartite graph, as the DuckDB oracle.  Same MATERIALIZED-CTE
    discipline as the k-core oracle (inlined CTEs re-expand the base
    scan once per reference, combinatorially across rounds)."""
    parts = [
        "e0 AS MATERIALIZED (SELECT DISTINCT 's' || l_suppkey AS a,"
        " 'p' || l_partkey AS b FROM lineitem)",
        "e AS MATERIALIZED (SELECT a, b FROM e0 UNION ALL SELECT b, a"
        " FROM e0)",
        "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM e)",
    ]
    for r in range(1, rounds + 1):
        q = r - 1
        parts.append(
            f"""c{r} AS MATERIALIZED (
          SELECT e.a AS node, l.lbl, count(*) AS cnt
          FROM e JOIN l{q} l ON e.b = l.node GROUP BY e.a, l.lbl),
    l{r} AS MATERIALIZED (
          SELECT node, lbl FROM (
            SELECT node, lbl, row_number() OVER (
              PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
            FROM c{r}) t WHERE rn = 1)"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT node, lbl AS community FROM l{rounds}
    """


@register("t1_label_propagation", oracle=_lpa_sql(_LPA_ROUNDS))
def t1_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the supplier↔part bipartite graph: every node
    starts labelled with its own id; each round every node adopts the
    most frequent label among its neighbours, ties broken by the
    lexicographically smallest label.  Fixed synchronous rounds are the
    deterministic (Pregel-style) variant — asynchronous LPA's result
    depends on visit order, which no two engines would replicate.

    The per-round argmax is ONE aggregation, not a window:
    min(struct(-cnt, lbl)) picks (max count, then min label) — so a
    round is exactly two hash shuffles (neighbour-label count, then
    per-node argmax), both partitioned on node id.  State is one label
    per node; the edge list never mutates, so it is cached once and
    every round reuses the same partitioning.  The oracle unrolls the
    same rounds as MATERIALIZED CTEs with a row_number argmax."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("a"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("b"),
    ).distinct()
    e = e0.unionAll(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = label_propagation(e, _LPA_ROUNDS)
    return labels.select("node", F.col("lbl").alias("community"))


_SSSP_ROUNDS = 6


def _sssp_sql(rounds: int) -> str:
    """Unrolled Bellman-Ford rounds over the weighted supplier
    co-occurrence graph, as the DuckDB oracle.  `//` is DuckDB integer
    division — identical to Spark's `div` on the all-positive weights."""
    parts = [
        "sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s,"
        " l_partkey AS p FROM lineitem)",
        """m0 AS MATERIALIZED (
          SELECT a.s AS x, b.s AS y, count(*) AS shared
          FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
          GROUP BY a.s, b.s)""",
        "mxv AS MATERIALIZED (SELECT max(shared) AS m FROM m0)",
        """w0 AS MATERIALIZED (
          SELECT x, y, 1 + ((m - shared) * 9) // m AS w FROM m0, mxv)""",
        "e AS MATERIALIZED (SELECT x, y, w FROM w0"
        " UNION ALL SELECT y, x, w FROM w0)",
        "d0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS node,"
        " CAST(0 AS BIGINT) AS dist)",
    ]
    for r in range(1, rounds + 1):
        q = r - 1
        parts.append(
            f"""d{r} AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{q}
            UNION ALL
            SELECT e.y AS node, d.dist + e.w AS dist
            FROM d{q} d JOIN e ON e.x = d.node) u
          GROUP BY node)"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT node, dist FROM d{rounds}
    """


@register("t1_sssp_weighted", oracle=_sssp_sql(_SSSP_ROUNDS))
def t1_sssp_weighted(spark, sf_dir):
    """Single-source weighted shortest paths (Bellman-Ford rounds) from
    supplier 1 over the supplier co-occurrence graph.  Edge weight is an
    exact-integer inverse similarity — 1 + ((mx − shared)·9) div mx, so
    strongly-connected pairs (many shared parts) are "close" (w=1) and
    weakly-connected pairs are "far" (w→10); all-integer arithmetic is
    what makes the iterative state bit-identical across engines.

    Each round relaxes every edge leaving the current distance frontier:
    candidates = dist ⋈ edges (one hash join on the node id) unioned
    with the carried distances, then min per node (one aggregation).
    Fixed rounds bound the result to min-cost paths of ≤6 hops —
    deterministic whether or not the fixpoint is reached, exactly like
    the unrolled oracle.  The shrinking-lineage driver loop
    localCheckpoints per round (operators/graph.py pattern); at scale
    each round shuffles O(|frontier| + |V|) rows, never the edge list,
    which is cached with its join-key partitioning reused every round."""
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
    mxv = m0.agg(F.max("shared").alias("m"))
    w0 = m0.crossJoin(F.broadcast(mxv)).select(
        "x", "y", F.expr("1 + ((m - shared) * 9) div m").alias("w")
    )
    e = w0.unionAll(
        w0.select(F.col("y").alias("x"), F.col("x").alias("y"), "w")
    )
    return bellman_ford(e, source=1, rounds=_SSSP_ROUNDS)
