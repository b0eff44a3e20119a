"""Iterative graph operators on DataFrames (SURVEY §2.9: "connected
components via iterative DataFrame joins" — the dedup-cluster step after
near-dup pair generation).

Connected components use alternating large-star/small-star contraction
(Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
Components in MapReduce and Beyond", SOCC'14): O(log n) rounds
regardless of graph diameter.  The previous hash-to-min formulation was
O(diameter) rounds — a 10 M-node chain (pathological but real in
near-dup graphs, where each doc overlaps only its neighbors) meant
10 M joins; the star operations collapse the same chain in ~log₂ n
rounds.  Each round is two join+groupBy passes shuffled on node id, the
edge frame only ever shrinks toward |V| star edges, and the driver loop
is control flow only (a convergence counter), never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ght2dm_spark.operators.keys import releasing_caches


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Deduplicated bidirectional (a, b) edge list — the shared
    expansion bfs_levels and pagerank both run (one definition, so a
    future fix like null-endpoint filtering cannot silently diverge)."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node u connects its strictly-larger neighbors to
    m(u) = min(N(u) ∪ {u}).  Keeps all inter-component links while
    shortcutting tall chains (SOCC'14 §3, Algorithm 2)."""
    bidir = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = (
        bidir.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select("a", F.least("mn", "a").alias("m"))
    )
    # no self-loop filter needed: rows kept have b > a >= m, so the
    # emitted (a'=b, b'=m) always has a' > b'
    return (
        bidir.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: every node u links its not-larger neighborhood
    (parents) to its minimum — with u itself — turning chains of parents
    into stars (SOCC'14 §3, Algorithm 3)."""
    directed = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    mins = directed.groupBy("a").agg(F.min("b").alias("m"))
    pairs = (
        directed.join(mins, "a")
        .select(F.col("b").alias("v"), "m")
        .unionByName(mins.select(F.col("a").alias("v"), "m"))
    )
    return (
        pairs.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label each node with the min node id of its connected component.

    ``nodes``: one column ``node_col`` (singletons allowed); ``edges``:
    undirected pairs (src, dst).  Returns (node_col, comp).
    Deterministic: the component id is the component's minimum node id.

    Alternating large-star/small-star rounds until the edge set reaches
    its fixed point (stars pointing at each component's minimum) —
    O(log n) rounds, so ``max_iter=25`` covers any graph that fits on
    disk; hitting it anyway raises rather than returning a wrong
    labeling.  ``stats``, if given, receives ``{"rounds": n}`` so tests
    can bound convergence.
    """
    # localCheckpoint, not cache: each star op references the edge
    # frame TWICE, so an uncheckpointed plan doubles per round and the
    # optimizer/plan-string work goes exponential long before the data
    # does.  Checkpointing truncates lineage to the materialized blocks.
    # LAZY (eager=False) + the count right after: the count's job IS the
    # materialization, so each round schedules one job, not two — the
    # logical plan is truncated to a LogicalRDD either way (guide §1.2:
    # fewer passes; measured on the CC iteration inside
    # t1_dup_cluster_sizes).
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    rounds = 0
    while n_edges > 0:
        if rounds >= max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_n = new_e.count()
        # fixed point: same edge set (both are distinct sets, so equal
        # counts + empty anti-join ⇒ equality)
        if new_n == n_edges and new_e.join(e, ["a", "b"], "left_anti").isEmpty():
            break
        e, n_edges = new_e, new_n
        rounds += 1
    if stats is not None:
        stats["rounds"] = rounds
    # At the fixed point every non-minimum node carries exactly one star
    # edge (node, component-min); singletons label themselves.
    labels = e.groupBy("a").agg(F.min("b").alias("comp"))
    out = (
        nodes.select(F.col(node_col).alias("a"))
        .join(labels, "a", "left")
        .select(
            F.col("a").alias(node_col),
            F.coalesce("comp", F.col("a")).alias("comp"),
        )
    )
    return out


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_level: int = 3,
    symmetrized: bool = False,
) -> DataFrame:
    """Breadth-first search: hop distance from a seed set, frontier style.

    ``edges`` (src, dst) are treated as undirected; ``seeds`` is one column
    ``node_col``.  Returns (node, level) where level is the MINIMUM hop
    count, because a node joins the visited set the first round it is
    reachable and the anti-join bars rediscovery at a larger level.
    Integer-only arithmetic — deterministic across engines and runs.

    ``symmetrized=True``: the caller guarantees ``edges`` is ALREADY a
    deduplicated bidirectional list, so the union+distinct expansion is
    skipped.  A bipartite caller whose two directions live in disjoint
    key namespaces (t1_bfs_levels: even supplier ids, odd part ids) can
    prove the swapped union of a distinct edge set is itself distinct —
    paying ``_symmetrize``'s second full-width Exchange there buys
    nothing (guide §2.1: remove the shuffle outright).  This is an
    UNCHECKED trust contract: BFS merely tolerates duplicate edges
    (the frontier distinct absorbs them), but ``pagerank`` under the
    same flag double-counts degrees and rank contributions — pass
    ``symmetrized=True`` only with a proof like the namespace argument
    above (the shared producer is ``cohort_queries._sp_bipartite_edges``).

    Scale: each round shuffles only the frontier join (edges hashed on
    src) and an anti-join against visited (|V| rows max, not |E|).  The
    driver loop holds no data — just a per-round empty-frontier check —
    and caches break lineage growth so round N's plan does not replay
    rounds 1..N-1.
    """
    # Materialize the deduped bidirectional edge list ONCE — every round
    # joins it, and without the cache each round would replay the
    # union+distinct over the raw edges.  Pre-partitioned on the join
    # key so rounds reuse the cached partitioning (the pagerank note).
    pre = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        if symmetrized
        else _symmetrize(edges, src, dst)
    )
    both = pre.repartition("a").cache()
    # Levels are localCheckpoint-ed LAZILY: the per-round count() right
    # after is the materializing action (one job per round, not a
    # checkpoint job plus a count job), and checkpointed frames stand
    # alone, so the edge cache can be released before return instead of
    # leaking per-level cache entries for the session lifetime (the
    # result frame still references the level frames).
    frontier = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    levels = [frontier.withColumn("level", F.lit(0))]

    for lvl in range(1, max_level + 1):
        seen = levels[0].select("node")
        for prior in levels[1:]:
            seen = seen.unionByName(prior.select("node"))
        nxt = (
            both.join(frontier, both.a == F.col("node"))
            .select(F.col("b").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        frontier = nxt.select("node")
    out = levels[0]
    for prior in levels[1:]:
        out = out.unionByName(prior)
    both.unpersist()
    return out


#: fixed-point scale for pagerank ranks: 1 rank unit = 1e-12
PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    materialize_every: int = 10,
    symmetrized: bool = False,
) -> DataFrame:
    """PageRank over an undirected graph (edges expanded to both
    directions) in INTEGER fixed-point: ranks are BIGINT multiples of
    1e-12 and every operation — the initial 1/N, the per-edge r/outdeg
    contribution, the damping blend — is integer division, so the
    iteration state is bit-identical across engines, runs, and
    partitionings with no float rounding anywhere.  (A float formulation
    was tried first: two engines' round(x, 12) disagree by 1 ulp near
    digit boundaries and the divergence compounds per iteration.)
    Floor-division truncation leaks ≤1e-12 of mass per edge per round —
    irrelevant for ranking, and exactly mirrored by any conforming
    implementation.

    Scale: each iteration is ONE join (edges ⋈ ranks, hashed on the
    node id) + ONE aggregation shuffled on the destination — the
    standard distributed PageRank shape.  The edge list and degree
    table are computed once and cached, and released before the call
    returns: the ranks come back eagerly checkpointed, so a caller leaves
    no cache entry behind.  Ranks are |V| rows, never |E|.
    A high-degree hub concentrates its in-edge sum in one reducer —
    partial map-side aggregation absorbs most of it, AQE skew-split the
    rest.  The driver loop holds no data.

    Rounds compose LAZILY into one Catalyst plan: one job instead of one
    per round, so the scheduler/cache-write latency of per-round actions
    disappears (cold run ~10% faster at sf0.1; steady-state is a wash
    locally because CacheManager serves the edge list either way — on a
    cluster, fewer barriers also means rounds pipeline into the same
    stage where possible).  Deep iteration needs the opposite trade:
    every ``materialize_every`` rounds the rank frame is
    localCheckpoint-ed (eager) to cut lineage before plan
    size/optimizer time blows up — same pattern as connected_components.
    """
    # Pre-partition the cached edge list BY THE JOIN KEY: ``.distinct()``
    # alone leaves it hash-partitioned on (a, b), so every iteration's
    # edges⋈ranks join would re-shuffle all |E| rows; partitioned on
    # ``a`` the cached scan's output partitioning satisfies the join and
    # only the |V|-row rank frame moves per round.
    # ``symmetrized=True``: caller-guaranteed deduplicated bidirectional
    # input — skip the union+distinct (same contract as bfs_levels, but
    # HERE a violated contract CORRUPTS results, not just performance:
    # a duplicated edge double-counts its degree and its per-round rank
    # contribution.  Pass True only with a distinctness proof — see
    # bfs_levels' docstring and cohort_queries._sp_bipartite_edges).
    pre = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        if symmetrized
        else _symmetrize(edges, src, dst)
    )
    with releasing_caches() as cached:
        both = pre.repartition("a").cache()
        # deg ⋈ ranks pre-join: both are |V|-row frames keyed on the node,
        # fusing them means ONE small frame joins the edges each round
        deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("od")).cache()
        cached += [both, deg]
        return _pagerank_rounds(
            both, deg, iterations, damp_num, damp_den, materialize_every
        ).localCheckpoint(eager=True)


def _pagerank_rounds(
    both: DataFrame,
    deg: DataFrame,
    iterations: int,
    damp_num: int,
    damp_den: int,
    materialize_every: int,
) -> DataFrame:
    # |V| is a scalar — resolve it once driver-side instead of grafting a
    # crossJoin(broadcast(count)) subtree into every iteration's plan
    # (which re-aggregated the cached edges 1 + iterations times).
    nn = deg.count()
    if nn == 0:
        # empty graph → empty rank frame with the right schema
        return deg.select(
            F.col("a").alias("node"), F.lit(0).cast("long").alias("r")
        )
    base_num = (damp_den - damp_num) * PAGERANK_SCALE
    init_r = PAGERANK_SCALE // nn
    base_term = base_num // (damp_den * nn)
    ranks = deg.select(
        F.col("a").alias("node"),
        F.lit(init_r).cast("long").alias("r"),
    )

    for i in range(1, iterations + 1):
        rd = ranks.join(deg, ranks.node == deg.a).select(
            F.col("node"), F.expr("r div od").alias("c")
        )
        contrib = both.join(rd, both.a == rd.node).select("b", "c")
        s = contrib.groupBy("b").agg(F.sum("c").alias("sc"))
        ranks = s.select(
            F.col("b").alias("node"),
            (F.lit(base_term).cast("long") + F.expr(f"(sc * {damp_num}) div {damp_den}")).alias("r"),
        )
        if materialize_every and i % materialize_every == 0 and i < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def kcore_edges(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "x",
    dst: str = "y",
) -> DataFrame:
    """k-core peel (Seidman 1983): drop every node of degree < ``k``,
    simultaneously, for up to ``rounds`` rounds; return the surviving
    edge list.  ``edges`` holds one row per undirected edge (src < dst);
    degree counts both endpoints.

    The peel is monotone — a round that removes no edge is the fixpoint
    and every later round is a no-op — so the loop exits early when the
    edge count stops shrinking (the count is free: the frame was just
    localCheckpointed).  Callers that mirror a fixed-round unrolled
    oracle stay exact: stopping early never changes the result, it only
    skips no-ops.

    Scale: each round is one degree aggregation (hash-partitioned on
    node id) and two semi-joins; the edge frame only shrinks, and the
    per-round localCheckpoint keeps round N's plan from replaying
    rounds 1..N-1 (the driver-loop pattern of this module).
    """
    # lazy checkpoints: the count right after each is the materializing
    # action — one job per round instead of two (same fusion as
    # connected_components)
    e = edges.select(src, dst).localCheckpoint(eager=False)
    prev = e.count()
    for _ in range(rounds):
        nodes = (
            e.select(F.col(src).alias("node"))
            .unionAll(e.select(F.col(dst).alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        e = (
            e.join(nodes.withColumnRenamed("node", src), src, "leftsemi")
            .join(nodes.withColumnRenamed("node", dst), dst, "leftsemi")
            .select(src, dst)
            .localCheckpoint(eager=False)
        )
        cnt = e.count()
        if cnt == prev:
            break
        prev = cnt
    return e


def bellman_ford(
    edges: DataFrame,
    source: int,
    rounds: int,
    src: str = "x",
    dst: str = "y",
    weight: str = "w",
) -> DataFrame:
    """Single-source shortest paths by ``rounds`` Bellman-Ford
    relaxations over a DIRECTED weighted edge list (pass both
    directions for an undirected graph).  Returns (node, dist) for
    every node reached within ``rounds`` hops — with
    ``rounds >= |V| - 1`` and non-negative weights that is the exact
    shortest-path distance.

    All-integer arithmetic: callers supply integer weights, so the
    iterated min/plus state is bit-identical across engines — the same
    discipline as :func:`pagerank`'s fixed-point ranks.

    Scale: each round shuffles O(|frontier| + |V|) rows (one hash join
    of the distance frame against the cached edge list, one min-agg),
    never the edge list itself; localCheckpoint per round keeps the
    lineage flat.
    """
    spark = edges.sparkSession
    # partitioned on the per-round join key, so the cached scan
    # satisfies the join and only the |V|-row distance frame moves
    # (without it every round re-shuffles all |E| cached rows — the
    # exact problem pagerank's edge cache documents)
    e = edges.select(src, dst, weight).repartition(src).cache()
    dist = spark.createDataFrame([(source, 0)], "node bigint, dist bigint")
    for _ in range(rounds):
        cand = dist.join(e, dist["node"] == e[src]).select(
            F.col(dst).alias("node"),
            (F.col("dist") + F.col(weight)).alias("dist"),
        )
        dist = (
            dist.select("node", "dist")
            .unionAll(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    # the final frame is checkpointed — it no longer needs the cache
    e.unpersist()
    return dist.select("node", "dist")


def triangle_counts(
    edges: DataFrame, src: str = "x", dst: str = "y"
) -> DataFrame:
    """Per-node triangle counts over a canonically ordered edge list
    (one row per undirected edge, ``src < dst``).  Each triangle
    (a<b<c) is enumerated exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c) —
    the ordered-edge two-join whose heaviest key is bounded by max
    FORWARD degree, not total degree (the orientation trick that keeps
    hub fan-out survivable; see t1_triangle_count's measured notes on
    when the self-join vs in-row-pairs trade flips).

    Returns (node, n_tri) for nodes in ≥1 triangle.
    """
    ke = edges.select(src, dst)
    e1 = ke.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e2 = ke.select(F.col(src).alias("b"), F.col(dst).alias("c"))
    e3 = ke.select(F.col(src).alias("a"), F.col(dst).alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tri")
    )


def label_propagation(
    edges: DataFrame, rounds: int, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over a
    deduplicated DIRECTED edge list — pass both directions for an
    undirected graph.  Every node starts labelled with its own id; each
    round every node adopts the most frequent neighbour label, ties
    broken by the smallest label.  Synchronous fixed rounds are the
    deterministic Pregel-style variant (asynchronous LPA depends on
    visit order, which no two engines replicate).

    The per-round argmax is ONE aggregation, not a window:
    min(struct(-cnt, lbl)) picks (max count, then min label), so a
    round costs two hash shuffles partitioned on node id.  The edge
    list is cached once; labels localCheckpoint per round (flat
    lineage).  Returns (node, lbl).

    Genuinely directed inputs are handled, not just tolerated: the
    node universe is src ∪ dst (a dst-only sink previously never got
    an initial label), and a node with no outgoing edge — or whose
    argmax therefore has no row — KEEPS its current label each round
    via the left join (it previously vanished from the output).  For
    the symmetrized input the callers pass, both changes are identity.
    """
    e = edges.select(src, dst).repartition(dst).cache()
    nodes = (
        e.select(F.col(src).alias("node"))
        .unionAll(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("lbl", F.col("node")).localCheckpoint(
        eager=True
    )
    for _ in range(rounds):
        cnt = (
            e.join(labels, e[dst] == labels["node"])
            .groupBy(F.col(src).alias("node2"), F.col("lbl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        upd = (
            cnt.groupBy(F.col("node2").alias("node"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("lbl").alias("l")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("__new"))
        )
        labels = (
            labels.join(upd, "node", "left")
            .select(
                "node", F.coalesce("__new", "lbl").alias("lbl")
            )
            .localCheckpoint(eager=True)
        )
    # labels is checkpointed — release the edge cache instead of
    # pinning |E| rows in executor storage for the session lifetime
    e.unpersist()
    return labels
