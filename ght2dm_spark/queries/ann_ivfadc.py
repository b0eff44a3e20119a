"""IVFADC — the full composed index from the product-quantization paper
(Jégou et al. 2011, §IV): an IVF coarse quantizer partitions the corpus
into Voronoi lists, vectors are PQ-encoded on their RESIDUAL from the
list centroid, and a query probes the nprobe nearest lists computing
ADC distances against a per-(query, list) lookup table built from the
query's residual in that list.

This is the architecture behind billion-vector search indexes: coarse
lists bound the candidates (t1_ann_ivf_topk's contribution), residual
PQ stores each candidate in a few bits (t1_pq_ann's contribution), and
the residual encoding is what makes tiny codebooks work — residuals
are centered near zero, so a codebook spends its centroids on the
local error distribution instead of the global point cloud.

Everything runs in the exact-integer regime (micro-unit vectors,
integer residual subtraction, integer k-means at both levels, integer
ADC), so the whole train→encode→probe→search composition is checked
bit-for-bit against the unrolled-CTE DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.clustering import (
    kmeans_int,
    kmeans_int_grouped,
    sqdist_int,
)
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.similarity import EMB_DIM
from ght2dm_spark.queries.registry import register

_IA_KC = 4  # coarse lists
_IA_CI = 2  # coarse k-means rounds
_IA_M = 4  # PQ subspaces
_IA_SUB = EMB_DIM // _IA_M
_IA_KP = 8  # centroids per residual codebook
_IA_PI = 2  # PQ k-means rounds
_IA_NQ = 10  # vec_id < 10 are the query vectors (house convention)
_IA_NPROBE = 2
_IA_TOPK = 3


def _sq(dim: int, v: str = "v", c: str = "c") -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> ({v}[i]-{c}[i])*({v}[i]-{c}[i])), (x, y) -> x + y)"
    )


def _ivfadc_ctes() -> list:
    """Shared CTE prefix through the ``adc`` frame (q_id, id, adc_dist
    over probed-list candidates, self excluded downstream)."""
    from ght2dm_spark.queries.clustering_queries import _kmeans_ctes

    d, sub, kp = EMB_DIM, _IA_SUB, _IA_KP
    ctes, sq64 = _kmeans_ctes(_IA_KC, _IA_CI, d)
    cN = f"c{_IA_CI}"
    sq16 = _sq(sub)
    ctes.append(
        f"af AS (SELECT id, v, "
        f"struct_extract(min(struct_pack(d := {sq64}, c := cid)), 'c') "
        f"AS cid FROM v CROSS JOIN {cN} GROUP BY id, v)"
    )
    ctes.append(
        f"res AS (SELECT af.id, af.cid, list_transform(range(1, {d + 1}), "
        f"i -> af.v[i] - {cN}.c[i]) AS rv "
        f"FROM af JOIN {cN} ON af.cid = {cN}.cid)"
    )
    for m in range(_IA_M):
        lo, hi = m * sub + 1, (m + 1) * sub
        ctes.append(f"rv{m} AS (SELECT id, rv[{lo}:{hi}] AS v FROM res)")
        ctes.append(
            f"pc{m}_0 AS (SELECT id AS cid, v AS c FROM rv{m} "
            f"WHERE id < {kp})"
        )
        for t in range(1, _IA_PI + 1):
            ctes.append(
                f"pa{m}_{t} AS (SELECT id, v, "
                f"min(struct_pack(d := {sq16}, c := cid)) AS mn "
                f"FROM rv{m} CROSS JOIN pc{m}_{t - 1} GROUP BY id, v)"
            )
            ctes.append(
                f"pc{m}_{t} AS (SELECT cid, list(cm ORDER BY i) AS c FROM "
                f"(SELECT struct_extract(mn, 'c') AS cid, i, "
                f"CAST(sum(v[i]) // count(*) AS BIGINT) AS cm "
                f"FROM pa{m}_{t}, unnest(range(1, {sub + 1})) AS u(i) "
                f"GROUP BY 1, 2) GROUP BY cid)"
            )
        ctes.append(
            f"code{m} AS (SELECT id, {m} AS m, "
            f"struct_extract(min(struct_pack(d := {sq16}, c := cid)), 'c') "
            f"AS code FROM rv{m} CROSS JOIN pc{m}_{_IA_PI} GROUP BY id, v)"
        )
        ctes.append(
            f"lut{m} AS (SELECT qp.q_id, qp.list_id, {m} AS m, "
            f"p.cid AS code, "
            f"list_reduce(list_transform(range(1, {sub + 1}), i -> "
            f"(qp.v[{lo} + i - 1] - qp.c[{lo} + i - 1] - p.c[i]) * "
            f"(qp.v[{lo} + i - 1] - qp.c[{lo} + i - 1] - p.c[i])), "
            f"(x, y) -> x + y) AS d "
            f"FROM qp CROSS JOIN pc{m}_{_IA_PI} p)"
        )
    # qp must precede the lut CTEs in the WITH list: insert before lut0
    qp = (
        f"qp AS (SELECT id AS q_id, cid AS list_id, v, c FROM ("
        f"SELECT v.id, {cN}.cid, v.v, {cN}.c, "
        f"row_number() OVER (PARTITION BY v.id "
        f"ORDER BY {sq64} ASC, cid ASC) AS rn "
        f"FROM v CROSS JOIN {cN} WHERE v.id < {_IA_NQ}) "
        f"WHERE rn <= {_IA_NPROBE})"
    )
    idx = next(i for i, c in enumerate(ctes) if c.startswith("lut0"))
    ctes.insert(idx, qp)
    codes = " UNION ALL ".join(f"SELECT * FROM code{m}" for m in range(_IA_M))
    luts = " UNION ALL ".join(f"SELECT * FROM lut{m}" for m in range(_IA_M))
    ctes.append(f"codes AS ({codes})")
    ctes.append(f"luts AS ({luts})")
    ctes.append(
        "xc AS (SELECT res.id, res.cid AS list_id, cm.m, cm.code "
        "FROM res JOIN codes cm ON cm.id = res.id)"
    )
    ctes.append(
        "adc AS (SELECT l.q_id, x.id, CAST(sum(l.d) AS BIGINT) AS adc_dist "
        "FROM xc x JOIN luts l "
        "ON x.list_id = l.list_id AND x.m = l.m AND x.code = l.code "
        "GROUP BY 1, 2)"
    )
    return ctes


def _ivfadc_sql() -> str:
    return (
        "WITH "
        + ",\n".join(_ivfadc_ctes())
        + f""",
    ranked AS (SELECT q_id, id AS neighbor_id, adc_dist,
                      row_number() OVER (PARTITION BY q_id
                                         ORDER BY adc_dist ASC, id ASC)
                        AS rank
               FROM adc WHERE id <> q_id)
    SELECT q_id, rank, neighbor_id, adc_dist FROM ranked
    WHERE rank <= {_IA_TOPK}"""
    )


@register("t1_ivfadc", oracle=_ivfadc_sql())
def t1_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search: coarse 4-list IVF (integer k-means) → residual
    encode → 4×8-centroid product codebooks trained ON the residuals →
    queries probe the 2 nearest lists and rank probed-list members by
    exact-integer ADC against a per-(query, list) residual LUT; top-3,
    (distance, id) tie-break, self excluded.

    Scale: the corpus appears in (a) coarse training — K-row broadcast
    per round, no shuffle, (b) one residual-subtraction map, (c) PQ
    training per subspace — same broadcast shape, (d) the final
    ADC join keyed on (list, subspace, code) against a broadcast
    NQ×nprobe×M×K LUT with map-side partial sums.  Nothing corpus-sized
    ever shuffles on anything wider than the code join key; the probed
    inverted lists bound candidates exactly as in t1_ann_ivf_topk.
    At production bit-widths (8-bit codes, 1024+ lists) this is the
    billion-vector memory layout: 1 coarse id + M code bytes per
    vector."""
    adc, _ = _ivfadc_adc(spark, sf_dir)
    w = Window.partitionBy("q_id").orderBy("adc_dist", "id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _IA_TOPK)
        .select("q_id", "rank", F.col("id").alias("neighbor_id"), "adc_dist")
    )


def _ivfadc_adc(spark: SparkSession, sf_dir: str) -> tuple:
    """Shared core: returns (adc frame (q_id, id, adc_dist; self already
    excluded), the integer-vector assignment frame (id, v, cid, d))."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, cents = kmeans_int(
        e, "vec_id", "embedding", k=_IA_KC, iters=_IA_CI
    )
    res = pinned(
        asg.select("id", "v", "cid")
        .join(F.broadcast(cents), "cid")
        .select(
            "id", "cid", F.zip_with("v", "c", lambda a, b: a - b).alias("rv")
        )
    )
    qv = asg.filter(F.col("id") < _IA_NQ).select(
        F.col("id").alias("q_id"), "v"
    )
    probe = qv.crossJoin(F.broadcast(cents)).select(
        "q_id", "v", "cid", "c", sqdist_int(F.col("v"), F.col("c")).alias("d")
    )
    wq = Window.partitionBy("q_id").orderBy("d", "cid")
    qp = (
        probe.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IA_NPROBE)
        .select("q_id", F.col("cid").alias("list_id"), "v", "c")
    )
    # All M residual codebooks train in ONE shared pass (group =
    # subspace id): one residual-corpus scan per iteration instead of
    # one per subspace per iteration — see kmeans_int_grouped.
    subs_res = res.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.slice("rv", m * _IA_SUB + 1, _IA_SUB)
                    for m in range(_IA_M)
                ]
            )
        ).alias("m", "srv"),
    )
    pasg, pcents = kmeans_int_grouped(
        subs_res, "m", "id", "srv", k=_IA_KP, iters=_IA_PI, pre_scaled=True
    )
    codes = pasg.select("id", F.col("g").alias("m"), F.col("cid").alias("code"))
    qr = qp.select(
        "q_id",
        "list_id",
        F.posexplode(
            F.array(
                *[
                    F.zip_with(
                        F.slice("v", m * _IA_SUB + 1, _IA_SUB),
                        F.slice("c", m * _IA_SUB + 1, _IA_SUB),
                        lambda a, b: a - b,
                    )
                    for m in range(_IA_M)
                ]
            )
        ).alias("m", "qr"),
    )
    luts = qr.join(
        F.broadcast(
            pcents.select(F.col("g").alias("m"), F.col("cid").alias("kc"), "c")
        ),
        "m",
    ).select(
        "q_id",
        "list_id",
        "m",
        F.col("kc").alias("code"),
        sqdist_int(F.col("qr"), F.col("c")).alias("d"),
    )
    xc = res.select("id", F.col("cid").alias("list_id")).join(codes, "id")
    adc = (
        xc.join(F.broadcast(luts), ["list_id", "m", "code"])
        .filter(F.col("id") != F.col("q_id"))
        .groupBy("q_id", "id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    return adc, asg


_IA_RERANK_C = 32  # ADC shortlist size fed to exact re-ranking


@register(
    "t1_ivfadc_rerank",
    oracle=(
        "WITH "
        + ",\n".join(_ivfadc_ctes())
        + f""",
    topc AS (SELECT q_id, id FROM (
               SELECT q_id, id,
                      row_number() OVER (PARTITION BY q_id
                                         ORDER BY adc_dist ASC, id ASC)
                        AS rn
               FROM adc WHERE id <> q_id) WHERE rn <= {_IA_RERANK_C}),
    rr AS (SELECT t.q_id, t.id AS neighbor_id,
                  {_sq(EMB_DIM, 'qv.v', 'xv.v')} AS true_dist
           FROM topc t
           JOIN v qv ON qv.id = t.q_id
           JOIN v xv ON xv.id = t.id),
    ranked AS (SELECT q_id, neighbor_id, true_dist,
                      row_number() OVER (PARTITION BY q_id
                                         ORDER BY true_dist ASC,
                                                  neighbor_id ASC) AS rank
               FROM rr)
    SELECT q_id, rank, neighbor_id, true_dist FROM ranked
    WHERE rank <= {_IA_TOPK}"""
    ),
)
def t1_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + exact re-ranking — the production remedy for ADC
    misranking (SCALING.md): take the ADC top-C (C=32) shortlist, compute
    EXACT integer L2 against the full vectors for just those C
    candidates, re-rank, keep top-3.  The recall audit shows the jump
    this buys over raw t1_ivfadc at ~C/N of brute-force cost.

    Scale: identical to t1_ivfadc until the shortlist; the re-rank then
    touches C full vectors per query — the expensive O(dim) math runs
    Q×C times total, not Q×N.  The shortlist join is broadcast (Q×C
    rows) against the vector table."""
    adc, asg = _ivfadc_adc(spark, sf_dir)
    wq = Window.partitionBy("q_id").orderBy("adc_dist", "id")
    topc = (
        adc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IA_RERANK_C)
        .select("q_id", "id")
    )
    vecs = asg.select("id", "v")
    rr = (
        topc.join(vecs.withColumnRenamed("v", "xv"), "id")
        .join(
            F.broadcast(
                vecs.select(
                    F.col("id").alias("q_id"), F.col("v").alias("qv")
                )
            ),
            "q_id",
        )
        .select(
            "q_id",
            F.col("id").alias("neighbor_id"),
            sqdist_int(F.col("qv"), F.col("xv")).alias("true_dist"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy("true_dist", "neighbor_id")
    return (
        rr.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _IA_TOPK)
        .select("q_id", "rank", "neighbor_id", "true_dist")
    )
