"""Cardinality sketches as reusable operators (SURVEY §2.9 extension
surface).  KMV — K Minimum Values (Bar-Yossef et al., RANDOM'02): keep
the k smallest hash values of a set; estimate distinct count as
(k−1)·DOMAIN / h₍ₖ₎, exactly the set size while fewer than k hashes
have been seen.

KMV first because its state is plain rows of integer hashes — the
DuckDB oracle replays it bit-identically, it is MERGEABLE by
construction (k smallest of a union = k smallest of the pooled sketch
rows — the merge theorem `t1_kmv_sketch` checks as data), and every
estimate is exact integer arithmetic.  A portable HyperLogLog (Flajolet
et al., AofA'07) lives below it: integer registers (bucket = first 8
hash bits, rho = leading-zero run of the next 52 via the integer-exact
``length(bin())`` trick — no floating log), max-merge, and an estimate
whose only non-integer step is ONE IEEE division by a Python-prefolded
double constant, so even the approximate values verify bit-for-bit
across engines.  Spark's own HLL++ (`approx_count_distinct`) is
tighter per byte but its state is engine-specific — right for live
queries, wrong for cross-engine-verified pipelines; see t1_approx_aggs.

Scale: a sketch is ≤ k rows per group regardless of input size; builds
are one distinct + one per-group top-k, merges and estimates touch
sketch rows only, never the base data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: md5 first 8 hex chars → uniform in [0, 2^32)
KMV_DOMAIN = 2**32


def kmv_hash(value: Column, salt: str = "kmv:") -> Column:
    """Uniform 32-bit integer hash of a value (md5-based, engine-portable:
    the DuckDB mirror is hex2int_sql over the same digest)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), value.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def kmv_merge(sketch: DataFrame, keys: Sequence[str], k: int) -> DataFrame:
    """The k smallest distinct non-NULL ``h`` of each ``keys`` group of
    any frame with an ``h`` column (keys..., h).

    Over hashed values (``kmv_hash``) this builds the per-group
    sketches.  NULL hashes are dropped: count-distinct semantics ignore
    NULL, and a NULL hash row would also ORDER differently across
    engines (Spark sorts NULLs first ascending, DuckDB last).  Over
    sketch rows (pass a subset of the build keys, or [] for one global
    sketch) it merges them: by the KMV merge theorem this equals the
    sketch built directly on the combined set.  With ``keys=[]`` it is a
    TakeOrdered over the distinct hashes — no single overloaded
    partition; Spark plans a per-partition top-k + k-row merge."""
    pooled = sketch.select(*keys, "h").filter(F.col("h").isNotNull()).distinct()
    if not keys:
        return pooled.orderBy("h").limit(k)
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        pooled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate(
    sketch: DataFrame, keys: Sequence[str], k: int, est_col: str = "est_distinct"
) -> DataFrame:
    """Distinct-count estimate per group from sketch rows: the standard
    small-set branch (n < k hashes ⇒ the sketch saw the whole set ⇒
    exact n), else (k−1)·DOMAIN div h₍ₖ₎ — all integer arithmetic.
    Requires k ≥ 2: the (k−1) estimator at k=1 is identically 0 for
    every non-empty group (silent garbage), so it raises instead."""
    if k < 2:
        raise ValueError(f"kmv_estimate requires k >= 2, got {k}")
    est = F.expr(
        f"CASE WHEN n < {k} THEN n ELSE ({k} - 1) * {KMV_DOMAIN}L div hk END"
    ).alias(est_col)
    agg = [F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")]
    if not keys:
        return sketch.agg(*agg).select(est)
    return sketch.groupBy(*keys).agg(*agg).select(*keys, est)


#: HLL geometry: p=8 → m=256 registers; rho is measured over the 52
#: bits after the bucket byte (13 hex chars — fits a BIGINT exactly).
HLL_P = 8
HLL_M = 1 << HLL_P
HLL_SUFFIX_BITS = 52

#: alpha_m · m² · 2^SUFFIX_BITS+1 as ONE double, prefolded in Python so both
#: engines see the identical literal: alpha_256 = 0.7213/(1 + 1.079/256)
#: written as the exact rational 7213·m/(10000·m + 10790).  The estimate
#: is then a single IEEE division by sum_scaled — deterministic across
#: engines because IEEE arithmetic (unlike libm transcendentals) is
#: exactly specified.
HLL_EST_NUM = (
    float(7213 * HLL_M * HLL_M * HLL_M)
    * float(1 << (HLL_SUFFIX_BITS + 1))
    / float(10000 * HLL_M + 10790)
)


def hll_register_cols(value: Column, salt: str = "hll:") -> tuple[Column, Column]:
    """(bucket, rho) of a value: bucket = first 8 md5 bits, rho = run of
    leading zero bits in the next 52 plus one — computed with the
    integer-exact ``length(bin())`` bit-length trick (a value near a
    register boundary buckets identically on every engine; no floating
    log)."""
    h = F.md5(F.concat(F.lit(salt), value.cast("string")))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    sfx = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    rho = F.when(sfx == 0, F.lit(HLL_SUFFIX_BITS + 1)).otherwise(
        F.lit(HLL_SUFFIX_BITS + 1) - F.length(F.bin(sfx))
    )
    return bucket, rho.cast("int")


def hll_build(
    df: DataFrame, keys: Sequence[str], value: Column, salt: str = "hll:"
) -> DataFrame:
    """Per-``keys``-group HLL registers as rows (keys..., bucket, M):
    M = max rho per bucket.  NULL values are excluded (count-distinct
    semantics ignore NULL; a NULL would otherwise become a phantom
    (bucket=NULL, M=NULL) register that inflates n_buckets without
    contributing to the scaled sum).  One map-side-combined pass — ≤ m
    rows per group regardless of input size; absent buckets mean M=0
    and are handled arithmetically at estimate time (no dense 256-row
    join)."""
    bucket, rho = hll_register_cols(value, salt)
    return (
        df.select(*keys, bucket.alias("bucket"), rho.alias("rho"))
        .filter(F.col("bucket").isNotNull())
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("M"))
    )


def hll_merge(sketch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge register rows down to ``keys`` granularity (a subset of the
    build keys, or [] for one global sketch): registers max-combine, so
    the merged sketch equals one built directly on the combined set."""
    return sketch.groupBy(*keys, "bucket").agg(F.max("M").alias("M"))


def hll_estimate_cols() -> list[Column]:
    """Aggregates + projection pieces for an HLL estimate over register
    rows; returns [n_buckets, sum_scaled] aggregate columns (coalesced
    so an EMPTY scope aggregates to (0, 0), not NULL).  Use with
    :func:`hll_est_expr` on the aggregated frame."""
    return [
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(1L, {HLL_SUFFIX_BITS + 1} - M)")),
            F.lit(0).cast("long"),
        ).alias("__s_present"),
    ]


def hll_est_expr() -> tuple[Column, Column]:
    """(estimate, sum_scaled) columns over (n_buckets, __s_present):
    fold the m − n_buckets absent registers (M=0 ⇒ 2^(SUFFIX_BITS+1)
    each) into the scaled sum, then ONE IEEE division under floor for
    the estimate — built FROM the same sum_scaled Column so the two can
    never desynchronize.  An empty sketch (n_buckets=0) estimates 0
    (the raw estimator would report alpha·m ≈ 184 for the empty set;
    the kmv_estimate small-set precedent returns the exact 0 instead).
    Bit-identical across engines; see HLL_EST_NUM."""
    sum_scaled = F.expr(
        f"__s_present + ({HLL_M} - n_buckets) * "
        f"{1 << (HLL_SUFFIX_BITS + 1)}L"
    )
    est = F.when(F.col("n_buckets") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(F.lit(HLL_EST_NUM) / sum_scaled.cast("double")).cast("long")
    )
    return est, sum_scaled


def hll_estimate(
    sketch: DataFrame, keys: Sequence[str], est_col: str = "est_distinct"
) -> DataFrame:
    """Distinct-count estimate per group from register rows: raw HLL
    estimator alpha_m·m²/Σ2^(−M) computed as integer-scaled sums plus a
    single deterministic IEEE division (small-range/linear-counting
    correction is deliberately NOT applied — it needs ln(), which is not
    bit-portable across engines; n_buckets is emitted so a consumer can
    apply it)."""
    est, sum_scaled = hll_est_expr()
    proj = [
        F.col("n_buckets"),
        sum_scaled.alias("sum_scaled"),
        est.alias(est_col),
    ]
    if not keys:
        return sketch.agg(*hll_estimate_cols()).select(*proj)
    return (
        sketch.groupBy(*keys)
        .agg(*hll_estimate_cols())
        .select(*keys, *proj)
    )


def cms_pos(value: Column, j: int, w: int) -> Column:
    """Counter position of a value in CMS hash row ``j`` — the same
    md5→int pipeline as :func:`kmv_hash` (one hash definition per file;
    the explicit string cast is the portable-hash contract the DuckDB
    mirrors' CAST AS VARCHAR matches)."""
    return kmv_hash(value, salt=f"{j}:") % w


def cms_build(df: DataFrame, value: Column, d: int, w: int) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of a value
    column: ``d`` hash rows × ``w`` counters as rows (j, pos, c).
    GENUINELY one pass: each row explodes to its d (j, pos) cells and
    ONE map-side-combined groupBy counts them (the previous
    union-of-d-aggregations form rescanned the source d times unless
    the caller cached).  NULL values are excluded — count semantics
    ignore NULL, and a NULL position would otherwise become d phantom
    (j, NULL) counter rows that inflate totals and never match a point
    query (the kmv/hll NULL-register fix, applied here too).
    Sketches built with the same (d, w) merge by plain counter addition
    (linearity): ``union.groupBy(j, pos).sum(c)``."""
    cells = F.array(
        *[
            F.struct(F.lit(j).alias("j"), cms_pos(value, j, w).alias("pos"))
            for j in range(1, d + 1)
        ]
    )
    return (
        df.filter(value.isNotNull())
        .select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_point_query(
    counters: DataFrame,
    items: DataFrame,
    value_col: str,
    d: int,
    w: int,
    est_col: str = "cms_est",
) -> DataFrame:
    """Point-query frequency estimates for ``items`` rows: min over the
    d counters each value hashes to — through a LEFT join with absent
    cells coalesced to 0: a CMS counter array is conceptually
    zero-initialized, so an item hashing to an unoccupied cell has a
    true upper bound of 0 there (the inner-join form dropped
    never-seen items entirely, or min'd over the occupied cells only
    and overestimated).  CMS guarantees est ≥ exact count.  Both sides
    of the lookup are sketch/candidate-sized — broadcast joins, no
    rescan of the sketched corpus."""
    clash = {"j", "pos", "c"} & set(items.columns)
    if clash:
        raise ValueError(
            f"cms_point_query reserves column name(s) {sorted(clash)}; "
            "rename them on the items side"
        )
    cpos = None
    for j in range(1, d + 1):
        p_j = items.withColumn("j", F.lit(j)).withColumn(
            "pos", cms_pos(F.col(value_col), j, w)
        )
        cpos = p_j if cpos is None else cpos.unionByName(p_j)
    return (
        cpos.join(F.broadcast(counters), ["j", "pos"], "left")
        .groupBy(*items.columns)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias(est_col))
    )
