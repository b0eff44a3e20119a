"""Distributed linear algebra: dominant principal component of the
embedding covariance via power iteration — in the integer fixed-point
regime of operators/clustering and operators/graph.pagerank, so an
ITERATIVE numerical-linear-algebra algorithm runs under the exact-match
oracle gate (bit-identical state every round, no float drift).

PCA-whitening / top-component analysis is a standard step in embedding
pipelines (e.g. centering + dominant-direction removal for similarity
search, "all-but-the-top" post-processing).  The distributed shape is
what matters at 100 TB:

- mean + covariance are ONE pass over the corpus with map-side combine
  (the exploded (i, j) outer-product stream is pipelined inside the
  scan stage by whole-stage codegen — nothing materializes; the
  shuffle carries only dim² partial sums per map task).  Magnitude
  budget, all BIGINT: unit-norm micro-unit components ≤ ~1e6, so
  |cov| ≤ ~4e12 worst-case (~2e10 measured) and each C·v row sums 64
  terms ≤ ~4e18 < 2⁶³ — the sums lift to DECIMAL(38,0) only if the
  embeddings stop being unit-norm (t1_stat_moments discipline);
- each power-iteration round touches ONLY the dim×dim covariance and
  the dim-vector — corpus-free, broadcast-sized state, exactly like
  pagerank's rank vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.clustering import int_vec
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.similarity import EMB_DIM
from ght2dm_spark.queries.registry import register

_PI_SC = 10**6  # fixed-point scale of the iterated vector
_PI_ROUNDS = 3


def _pca_sql() -> str:
    d, sc, n = EMB_DIM, _PI_SC, _PI_ROUNDS
    ctes = [
        "x AS (SELECT vec_id AS id, list_transform(embedding, "
        "e -> CAST(round(CAST(e AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v "
        "FROM embeddings)",
        f"mean AS (SELECT i, CAST(sum(v[i]) // count(*) AS BIGINT) AS m "
        f"FROM x, unnest(range(1, {d + 1})) u(i) GROUP BY 1)",
        "marr AS (SELECT list(m ORDER BY i) AS ma FROM mean)",
        f"xc AS (SELECT id, list_transform(range(1, {d + 1}), "
        "i -> v[i] - ma[i]) AS v FROM x CROSS JOIN marr)",
        f"cov AS (SELECT i, j, CAST(CAST(sum(v[i] * v[j]) AS BIGINT) "
        f"// count(*) AS BIGINT) AS c "
        f"FROM xc, unnest(range(1, {d + 1})) u(i), "
        f"unnest(range(1, {d + 1})) w(j) GROUP BY 1, 2)",
        f"v0 AS (SELECT list_transform(range(1, {d + 1}), "
        f"i -> CASE WHEN i = 1 THEN {sc} ELSE 0 END) AS va)",
    ]
    for r in range(1, n + 1):
        ctes.append(
            f"w{r} AS (SELECT i, CAST(sum(c * va[j]) AS BIGINT) // {sc} "
            f"AS wi FROM cov CROSS JOIN v{r - 1} GROUP BY i)"
        )
        ctes.append(f"mx{r} AS (SELECT max(abs(wi)) AS mx FROM w{r})")
        ctes.append(
            f"v{r} AS (SELECT list(vi ORDER BY i) AS va FROM "
            f"(SELECT i, wi // (mx // {sc}) AS vi "
            f"FROM w{r} CROSS JOIN mx{r}))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT i - 1 AS dim_idx, wi // (mx // {sc}) AS component
    FROM w{n} CROSS JOIN mx{n}"""
    )


@register("t1_pca_power", oracle=_pca_sql())
def t1_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component by 3 rounds of power iteration over
    the centered covariance, entirely in integer fixed point: micro-unit
    vectors → floor-mean centering → covariance C_ij = Σ xc_i·xc_j / n
    (down-scaled by 1e6) → v ← C·v with L∞ renormalization to ±1e6 via
    two-step truncating division (``wi div (mx div SC)`` — both engines
    truncate toward zero, so state is bit-identical every round).

    Output: the 64 components of the (unnormalized-sign) dominant
    direction.  Scale: see module docstring — one corpus pass for
    mean+covariance (dim² partials, map-side combined), then
    corpus-free dim²-sized rounds; the vector and max-abs scalars are
    1-row broadcast frames (plan-lint allowlisted).  At 100 TB the
    only corpus-dependent cost is the single covariance pass; the sum
    would be lifted to DECIMAL(38,0) beyond ~1e5 × today's row count
    (docstring'd bound, same discipline as t1_stat_moments)."""
    d = load_table(spark, sf_dir, "embeddings")
    x = d.select("vec_id", int_vec(F.col("embedding")).alias("v"))
    ex = x.select("vec_id", F.posexplode("v").alias("i", "xi"))
    mean = ex.groupBy("i").agg(F.expr("sum(xi) div count(1)").alias("m"))
    marr = mean.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("ma")
    )
    xc = x.crossJoin(F.broadcast(marr)).select(
        "vec_id", F.zip_with("v", "ma", lambda a, b: a - b).alias("v")
    )
    # pinned: cov is dim² rows but its plan contains the ONLY corpus
    # pass; every round's lazy broadcast subplans (w, mx, vi, varr)
    # would otherwise re-execute that pass, and the round tree nests so
    # the replays compound per round
    cov = pinned(
        xc.select("v", F.posexplode("v").alias("i", "xi"))
        .select("i", "xi", F.posexplode("v").alias("j", "xj"))
        .groupBy("i", "j")
        .agg(F.expr("sum(xi * xj) div count(1)").alias("c"))
    )
    varr = spark.range(1).select(
        F.expr(
            f"transform(sequence(1, {EMB_DIM}), "
            f"i -> CASE WHEN i = 1 THEN {_PI_SC}L ELSE 0L END)"
        ).alias("va")
    )
    # per-round localCheckpoint (the kcore/LPA driver-loop pattern):
    # each round's plan references w twice (mx and vi) and the next
    # round nests the whole tree, so lazy composition doubles the
    # broadcast-subplan count per round — eager dim-row checkpoints
    # keep every round one flat tiny job (measured 2.7 s → 1.7 s at
    # sf0.1; the residue is the irreducible per-round scheduling floor
    # of a fixed-round iterative plan, cf. t1_ivfadc)
    w = None
    for _ in range(_PI_ROUNDS):
        w = (
            cov.crossJoin(F.broadcast(varr))
            .select("i", (F.col("c") * F.expr("element_at(va, j + 1)")).alias("p"))
            .groupBy("i")
            .agg(F.expr(f"sum(p) div {_PI_SC}").alias("wi"))
            .localCheckpoint(eager=True)
        )
        mx = w.agg(F.max(F.abs("wi")).alias("mx"))
        vi = w.crossJoin(F.broadcast(mx)).select(
            "i", F.expr(f"wi div (mx div {_PI_SC})").alias("vi")
        )
        varr = vi.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "vi"))),
                lambda s: s["vi"],
            ).alias("va")
        )
    mx = w.agg(F.max(F.abs("wi")).alias("mx"))
    return w.crossJoin(F.broadcast(mx)).select(
        F.col("i").cast("long").alias("dim_idx"),
        F.expr(f"wi div (mx div {_PI_SC})").alias("component"),
    )
