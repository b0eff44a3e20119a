"""Training-corpus assembly shapes: overlapping document chunking and
token-budget packing.

Chunking (fixed window, fixed stride over the token sequence) is how
long documents become model-sized training samples; budget packing
assigns contiguous documents to batches by running token count — the
distributed, deterministic form of greedy batch packing.  Both are pure
built-in expressions (split/sequence/slice/windows): no Python in the
row path, so they hold at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.queries.registry import register

_CHUNK = 40
_STRIDE = 30
_BUDGET = 4000


@register(
    "t1_doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks,
                 unnest(generate_series(
                   0, CAST(floor((len(toks) - 1) / {_STRIDE}) AS BIGINT)
                        * {_STRIDE}, {_STRIDE})) AS start
          FROM t)
    SELECT doc_id,
           CAST(start / {_STRIDE} AS INTEGER) AS chunk_id,
           CAST(len(toks[start + 1 : start + {_CHUNK}]) AS INTEGER) AS n_tokens,
           md5(array_to_string(toks[start + 1 : start + {_CHUNK}], ' '))
             AS chunk_md5
    FROM s
    """,
)
def t1_doc_chunking(spark, sf_dir):
    """Overlapping chunking: 40-token windows at stride 30 (10-token
    overlap) over the whitespace token sequence —
    sequence() generates the start offsets, explode fans them out,
    slice() cuts each window.  Chunk text is md5-pinned so the oracle
    checks byte-exact window boundaries.

    Scale: rows expand by ~n_tokens/stride with zero shuffle — a
    narrow map over the scan; chunk windows never cross documents so
    the op parallelizes per-row.  This is the explode-side twin of
    t1_python_udtf's lateral (built-in, JVM-only — the hot path)."""
    d = load_table(spark, sf_dir, "documents")
    last_start = (
        F.floor((F.size(F.col("toks")) - 1) / _STRIDE) * _STRIDE
    ).cast("long")
    chunked = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0).cast("long"), last_start, F.lit(_STRIDE))
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / _STRIDE).cast("int").alias("chunk_id"),
            F.slice(F.col("toks"), F.col("start") + 1, F.lit(_CHUNK)).alias("chunk"),
        )
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size("chunk").alias("n_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
    )


@register(
    "t1_token_budget_pack",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents),
    c AS (SELECT doc_id, lang, n_tok,
                 sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum
          FROM t)
    SELECT lang,
           CAST(floor((cum - n_tok) / {_BUDGET}) AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM c GROUP BY lang, bin
    """,
)
def t1_token_budget_pack(spark, sf_dir):
    """Token-budget packing: contiguous documents (doc_id order, per
    language shard) are assigned to batches by running token count —
    bin = floor(tokens_before_this_doc / budget).  Deterministic
    distributed analogue of greedy batch packing; every batch holds ≥
    budget tokens except the shard's last.

    Scale: one shuffle on the shard key (lang); the window is a single
    running counter per shard.  Packing is embarrassingly parallel
    across shards — exactly how a 100 TB corpus packs per
    language/source partition."""
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.select(
            "lang",
            F.floor((F.col("cum") - F.col("n_tok")) / _BUDGET).alias("bin"),
            "n_tok",
        )
        .groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )
