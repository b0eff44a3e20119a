"""In-engine supervised training: a batch perceptron quality classifier
trained entirely inside the engine (SURVEY §2.9 extension surface — the
"train a cheap quality filter" step of an LLM data pipeline, next to the
unsupervised trainers: k-means `clustering_queries.py`, PCA power
iteration `linalg_queries.py`, and the k-NN classifier
`similarity_queries.py`).

The task is rule distillation — a real curation pattern: the label is an
existing expensive rule (here: n_chars ≥ 320, standing in for "the
full-document quality oracle"), the features are cheap token statistics
(token count, stopword hits, longest token), and the engine trains a
linear model that mimics the rule so the cheap features can gate
documents without materializing the expensive signal.

Why a BATCH perceptron and not SGD/logistic regression: the batch update
(w ← w + s·Σ_misclassified y·x ÷ |misclassified|) is built from SUMS —
commutative and associative — so the trained weights are independent of
partitioning and row order, and with integer features the whole
trajectory is exact integer arithmetic.  SGD depends on visit order (not
reproducible under shuffles) and logistic loss needs exp() (libm, not
bit-portable across engines).  Same discipline as the integer
fixed-point k-means/pagerank: iterative state that verifies bit-for-bit
under the exact-match oracle gate.

Two tuning choices that make batch training actually converge (both
measured on the driver corpus; raw lr=1 batch updates oscillate between
the two constant classifiers forever):
- features are CENTERED by their integer means (computed in-engine as a
  broadcast 1-row pass) — un-centered, the bias must crawl to
  −mean(x)·w1 while w1 jumps mean(x)× faster per step, so the decision
  threshold never leaves zero;
- the step is the MEAN misclassified update scaled by 4 (integer
  division) — the raw sum over hundreds of misclassified rows overshoots
  any separator.  Accuracy on the sf0.01 corpus: 0% → 94.4% after one
  update → 96.8% after seven.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ght2dm_spark.functions.text import lang_marker_hits, ws_tokens
from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.queries.registry import register
from ght2dm_spark.queries.text_analysis import _SQL_WS_TOKENS, _marker_sql

#: 7 weight updates → 8 evaluated epochs (0 = the zero vector).
PERCEPTRON_UPDATES = 7
#: integer step scale: w += (STEP · Σ_mis y·x) div max(|mis|, 1)
PERCEPTRON_STEP = 4
#: the "expensive rule" being distilled
QUALITY_NCHARS = 320


def _margin_sql() -> str:
    return "y * (w0 + w1 * x1 + w2 * x2 + w3 * x3)"


def _perceptron_sql(updates: int) -> str:
    toks = _SQL_WS_TOKENS.format(c="lower(text)")
    raw = (
        f"SELECT CASE WHEN n_chars >= {QUALITY_NCHARS} THEN 1 ELSE -1 END"
        f" AS y, len({toks}) AS r1, {_marker_sql('en')} AS r2,"
        f" coalesce(list_max(list_transform({toks}, t -> length(t))), 0)"
        f" AS r3 FROM documents"
    )
    mis = f"CASE WHEN {_margin_sql()} <= 0 THEN 1 ELSE 0 END"
    upd = ", ".join(
        f"coalesce(sum(CASE WHEN {_margin_sql()} <= 0 THEN y * x{i} END), 0)"
        f" AS d{i}"
        for i in (1, 2, 3)
    )
    ctes = [
        f"f0 AS MATERIALIZED ({raw})",
        "m AS (SELECT sum(r1) // count(*) AS m1, sum(r2) // count(*) AS m2,"
        " sum(r3) // count(*) AS m3 FROM f0)",
        "f AS MATERIALIZED (SELECT y, r1 - m1 AS x1, r2 - m2 AS x2,"
        " r3 - m3 AS x3 FROM f0 CROSS JOIN m)",
        "e0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)",
    ]
    rows = []
    for t in range(updates + 1):
        ctes.append(
            f"s{t} AS (SELECT w0, w1, w2, w3,"
            f" CAST(count(*) AS BIGINT) AS n,"
            f" CAST(sum({mis}) AS BIGINT) AS n_mis,"
            f" coalesce(sum(CASE WHEN {_margin_sql()} <= 0 THEN y END), 0)"
            f" AS d0, {upd}"
            f" FROM f CROSS JOIN e{t} GROUP BY 1, 2, 3, 4)"
        )
        rows.append(
            f"SELECT {t} AS epoch, w0, w1, w2, w3, n_mis,"
            f" (n - n_mis) * 1000000 // n AS acc_ppm FROM s{t}"
        )
        if t < updates:
            ctes.append(
                f"e{t + 1} AS (SELECT "
                + ", ".join(
                    # CAST keeps the weights BIGINT: d{i} is a bare sum()
                    # (HUGEINT in DuckDB), and HUGEINT output columns are
                    # driver-canonicalization hazards (the r04 t1_ewma /
                    # t1_temperature_mix lesson)
                    f"CAST(w{i} + ({PERCEPTRON_STEP} * d{i})"
                    f" // greatest(n_mis, 1) AS BIGINT) AS w{i}"
                    for i in range(4)
                )
                + f" FROM s{t})"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(rows)


@register("t1_perceptron_quality", oracle=_perceptron_sql(PERCEPTRON_UPDATES))
def t1_perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a batch perceptron IN the engine to distill the n_chars ≥
    320 quality rule from cheap token statistics (token count, stopword
    hits, longest token — integer features centered by their in-engine
    integer means), 7 mean-step weight updates, one output row per epoch
    with the incoming weight vector, its misclassification count, and
    accuracy in integer ppm (0% → 94.4% → 96.8% on the sf0.01 corpus).
    The batch update s·Σ_misclassified y·x ÷ |mis| is order- and
    partition-independent and all-integer, so the entire training
    trajectory — not just the final model — verifies bit-for-bit against
    the DuckDB oracle (unrolled MATERIALIZED CTE rounds, the
    k-means/pagerank discipline; Spark `div` and DuckDB `//` share
    truncate-toward-zero semantics, pinned by the k-means replay test).

    Scale: each epoch is ONE aggregation over the cached centered
    feature frame (map-side partial sums; the weight state is a 1-row
    broadcast frame, never a shuffle of the corpus), so T epochs = T
    scans of a 4-column integer projection — the same shape MLlib's
    batch gradient descent uses, expressed in pure DataFrame ops.  The
    centering pass is one extra 1-row aggregate broadcast back over the
    corpus.  At 100 TB the feature frame becomes a written-out feature
    table (the t1_user_feature_pipeline pattern) and each epoch stays a
    single partial-aggregated pass."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.lower(F.col("text")))
    f0 = d.select(
        F.expr(
            f"CASE WHEN n_chars >= {QUALITY_NCHARS} THEN 1L ELSE -1L END"
        ).alias("y"),
        F.size(toks).cast("long").alias("r1"),
        lang_marker_hits("text", "en").cast("long").alias("r2"),
        F.coalesce(
            F.array_max(F.transform(toks, F.length)), F.lit(0)
        )
        .cast("long")
        .alias("r3"),
    )
    m = f0.agg(
        *[
            F.expr(f"sum(r{i}) div count(*)").alias(f"m{i}")
            for i in (1, 2, 3)
        ]
    )
    feats = pinned(
        f0.crossJoin(F.broadcast(m))
        .select(
            "y",
            *[(F.col(f"r{i}") - F.col(f"m{i}")).alias(f"x{i}") for i in (1, 2, 3)],
        )
    )

    w = spark.range(1).select(
        *[F.lit(0).cast("long").alias(f"w{i}") for i in range(4)]
    )
    mis = F.expr(_margin_sql()) <= 0
    rows: list[DataFrame] = []
    for t in range(PERCEPTRON_UPDATES + 1):
        stats = (
            feats.crossJoin(F.broadcast(w))
            .groupBy("w0", "w1", "w2", "w3")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(mis, 1).otherwise(0)).alias("n_mis"),
                F.coalesce(
                    F.sum(F.when(mis, F.col("y"))), F.lit(0)
                ).alias("d0"),
                *[
                    F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col(f"x{i}"))),
                        F.lit(0),
                    ).alias(f"d{i}")
                    for i in (1, 2, 3)
                ],
            )
            # materialize the 1-ROW epoch state: epoch t's lazy chain
            # otherwise nests every prior epoch (and the unioned output
            # re-runs each prefix), turning T epochs into ~T²/2 scans of
            # the cached feature frame — measured 5.1 s for 8 epochs,
            # 2.5 s with the per-epoch cut (the mmr_rerank/graph-loop
            # lineage discipline; values bit-identical, 1 row per epoch)
            .localCheckpoint(eager=True)
        )
        rows.append(
            stats.select(
                F.lit(t).alias("epoch"),
                "w0",
                "w1",
                "w2",
                "w3",
                "n_mis",
                F.expr("(n - n_mis) * 1000000L div n").alias("acc_ppm"),
            )
        )
        if t < PERCEPTRON_UPDATES:
            w = stats.select(
                *[
                    F.expr(
                        f"w{i} + ({PERCEPTRON_STEP} * d{i})"
                        f" div greatest(n_mis, 1L)"
                    ).alias(f"w{i}")
                    for i in range(4)
                ]
            )
    return reduce(DataFrame.unionByName, rows)
