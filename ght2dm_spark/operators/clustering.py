"""Integer fixed-point k-means over embedding columns — the training
step behind IVF-style vector indexes (t1_ann_ivf_topk uses fixed
centroids; this learns them).

Determinism discipline (the pagerank lesson, operators/graph.pagerank):
iterative float state diverges across engines by 1 ulp per round, so the
ENTIRE iteration runs in integers — vectors are converted once to BIGINT
micro-units (×1e6, the only float rounding anywhere), squared distances
are exact int64 sums, argmin ties break lexicographically by centroid
id, and centroid updates are integer-division means (``div`` —
TRUNCATION TOWARD ZERO, which DuckDB's ``//`` matches; Python's
flooring ``//`` does NOT for negative non-divisible sums, and signed
dimensions are routine — see tests/test_properties.py's replay note).
State after every iteration is bit-identical on any conforming engine.

Scale: each iteration is one broadcast of K centroids over the vector
scan (assignment — a narrow map, no shuffle) plus one (cid, dim)
aggregation for the update (K×dim result rows).  The classic
distributed k-means shape: the data never shuffles, only tiny centroid
state moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ght2dm_spark.operators.keys import pinned, releasing_caches

#: 1 unit = 1e-6 of the raw embedding value
KM_SCALE = 10**6


def int_vec(col, scale: int = KM_SCALE):
    """Float array → BIGINT micro-unit array (round half away from zero —
    Spark's BigDecimal HALF_UP ≡ DuckDB's round for all signs)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def sqdist_int(a, b):
    """Exact integer squared euclidean distance (left-to-right fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kmeans_int(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    pre_scaled: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Train k centroids for ``iters`` rounds (init: the vectors whose
    id < k) and return (assignment, centroids): the final assignment
    (id, v, cid, d) with exact integer distances, and the trained
    centroid table (cid, c) for downstream probing (IVF search).  A
    cluster emptied mid-training VANISHES from the centroid table on
    every conforming engine identically (the SQL oracles mirror the
    dropout) — re-seed upstream if a fixed k matters.

    Delegates to :func:`kmeans_int_grouped` with one constant group —
    ONE iteration body to audit instead of two hand-synchronized copies
    (the equivalence the grouped trainer's test pins).

    ``pre_scaled=True`` skips the float→micro-unit conversion: the
    vector column is ALREADY exact BIGINT state (e.g. the residuals
    IVFADC trains its product codebooks on — converting twice would
    double-scale)."""
    asg, cents = kmeans_int_grouped(
        df.withColumn("__g", F.lit(0)),
        "__g",
        id_col,
        vec_col,
        k=k,
        iters=iters,
        pre_scaled=pre_scaled,
    )
    return asg.drop("g"), cents.drop("g")


def _assign_grouped(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-group nearest centroid: one equi-join on the group key
    against the broadcast (g, cid, c) centroid table — the grouped form
    of ``_assign``'s K-way broadcast cross join — with the same exact
    integer distances and (distance, cid) lexicographic tie-break.

    The argmin is ``min(struct(d, cid, v))`` per (g, id), NOT a
    row_number window: struct comparison is lexicographic and cid is
    unique per group, so the minimum is exactly the (d, cid)-tie-broken
    winner (``v`` rides along, never compared) — and a hash aggregate
    partially combines the K candidate rows map-side before the (g, id)
    shuffle, where the window shuffled all K rows per vector and then
    sorted them (guide §2.3 'aggregate before you shuffle'; the window
    form also paid a per-partition sort)."""
    d = sqdist_int(F.col("v"), F.col("c"))
    return (
        v.join(F.broadcast(cents), "g")
        .select("g", "id", "v", "cid", d.alias("d"))
        .groupBy("g", "id")
        .agg(F.min(F.struct("d", "cid", "v")).alias("__m"))
        .select(
            "g",
            "id",
            F.col("__m.v").alias("v"),
            F.col("__m.cid").alias("cid"),
            F.col("__m.d").alias("d"),
        )
    )


def kmeans_int_grouped(
    df: DataFrame,
    grp_col: str,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    pre_scaled: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Train an INDEPENDENT k-means per group in ONE shared pass —
    bit-identical to calling :func:`kmeans_int` once per group (same
    init: the group's vectors with id < k; same integer updates; same
    tie-breaks), but the corpus is scanned once per iteration instead
    of once per group per iteration.

    This is the product-quantization training shape (t1_pq_ann,
    t1_ivfadc): M subspace codebooks are M independent k-means over
    slices of the same corpus — trained separately, every iteration
    re-reads the corpus M times and serializes M stage chains; trained
    grouped, each iteration is ONE broadcast join on the group key (the
    centroid table is M×K rows — still tiny) plus ONE (g, cid, dim)
    aggregation.  Returns (assignment (g, id, v, cid, d), centroids
    (g, cid, c)).

    Two restructures were built and A/B-REVERTED in r10 (tight
    stash/unstash pairs at sf0.1, 5-rep p50s — see OPTIMIZATION_r10.md):
    (a) literal-centroid pure-map assignment (collect the K×M centroids
    per round, embed as an array literal, argmin via
    filter+transform+array_min — no join, no Exchange): 2-3× SLOWER
    (pq_ann 3.5→10.2 s, ivfadc 5.9→10.3 s) — interpreted
    higher-order-function evaluation over struct-array literals loses
    badly to the codegen'd broadcast join + partial-combining hash
    aggregate, and the per-round collects serialize the lazy training
    chain into per-round jobs; (b) posexplode-free centroid update
    (ONE (g, cid) aggregate with per-dim sums): +25-49 % at dim=64
    (65-buffer update codegen bloat) and NEUTRAL at dim=16 interleaved
    — the explode form's (g, cid, i) partial aggregate combines to
    K×M×dim cells map-side, so there was never a material shuffle to
    remove.  Do not reattempt either without new evidence."""
    vec = F.col(vec_col) if pre_scaled else int_vec(F.col(vec_col))
    with releasing_caches():
        v = pinned(df.select(
            F.col(grp_col).alias("g"), F.col(id_col).alias("id"), vec.alias("v")
        ))
        cents = v.filter(F.col("id") < k).select(
            "g", F.col("id").alias("cid"), F.col("v").alias("c")
        )
        # Init contract check: every group must contribute ≥1 seed (ids in
        # [0, k) per group).  A group whose ids all exceed k would otherwise
        # get NO centroids, and the assignment's inner join on g would
        # silently DROP all its vectors — a valid-looking but incomplete
        # index.  ONE aggregation job over the pinned frame computes both
        # counts (two separate .count() actions scheduled two jobs for the
        # same scan — guide §1.2: don't pay two passes for one decision).
        n_groups, n_seeded = v.agg(
            F.countDistinct("g"),
            F.countDistinct(F.when(F.col("id") < k, F.col("g"))),
        ).first()
        if n_seeded != n_groups:
            raise ValueError(
                f"kmeans_int_grouped: {n_groups - n_seeded} group(s) have no "
                f"vector with id < k={k} — their rows would be silently "
                "dropped; remap per-group ids to start at 0"
            )
        for _ in range(iters):
            asg = _assign_grouped(v, cents)
            dims = asg.select("g", "cid", F.posexplode("v").alias("i", "val"))
            per_dim = dims.groupBy("g", "cid", "i").agg(
                F.expr("sum(val) div count(1)").alias("m")
            )
            cents = per_dim.groupBy("g", "cid").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
        # Materialize the returned frames via eager localCheckpoint:
        # consumers read both (codes + LUTs), and a lazy reference would
        # re-execute the training chain — and read the pinned corpus after
        # the block has released it.  Checkpointed blocks free with the
        # frames themselves.
        cents = cents.localCheckpoint(eager=True)
        return _assign_grouped(v, cents).localCheckpoint(eager=True), cents
