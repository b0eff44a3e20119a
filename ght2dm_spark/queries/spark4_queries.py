"""Spark-4-era extension queries: a cross-engine-deterministic corpus
shuffle for reproducible training-data ordering.

These have no reference citation (SURVEY §2.9 extension surface) — they
are idioms a 100 TB training-data pipeline standardizes on.  (VARIANT is
covered by t1_variant_extract in udf_surface.py.  transformWithStateInPandas
— Spark 4's successor to applyInPandasWithState — was tried and works
API-wise, but its state server requires a functional google.protobuf,
absent in this environment; the applyInPandasWithState form of custom
keyed state is t1_stream_stateful_counts.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.queries.registry import register


@register(
    "t1_deterministic_shuffle",
    oracle="""
    WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS hk
               FROM documents)
    SELECT doc_id,
           row_number() OVER (ORDER BY hk, doc_id) AS shuffle_pos,
           (row_number() OVER (ORDER BY hk, doc_id) - 1) % 8 AS shard
    FROM h
    """,
)
def t1_deterministic_shuffle(spark, sf_dir):
    """Reproducible corpus shuffle: global training order = rank of
    md5(doc_id || seed) — the standard trick for a shuffle that is (a)
    stable across runs/engines/partitionings (md5 is bit-identical
    everywhere, unlike engine-native hash()), (b) re-derivable from the
    seed alone, and (c) uniformly mixing.  Shards are round-robin over
    the shuffled order so every shard sees an unbiased sample.

    Scale: the global rank uses the range-partitioned two-pass scheme
    (operators.keys.add_surrogate_key) — range-repartition on the digest,
    per-partition counts as offsets, position within the sorted
    partition — so no
    single-task window anywhere; at 100 TB you'd persist (hk, doc_id)
    range-clustered as the manifest and read shards by digest range."""
    from ght2dm_spark.operators.keys import add_surrogate_key

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    hk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    ranked = add_surrogate_key(
        d.select("doc_id", hk.alias("hk")),
        order_by=["hk", "doc_id"],
        name="shuffle_pos",
    )
    return ranked.select(
        "doc_id",
        F.col("shuffle_pos").cast("long").alias("shuffle_pos"),
        ((F.col("shuffle_pos") - 1) % 8).cast("long").alias("shard"),
    )


@register(
    "t1_sql_pipe",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2))
                       - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
             AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_quantity < 25
    GROUP BY l_returnflag, l_linestatus
    """,
)
def t1_sql_pipe(spark, sf_dir):
    """SQL pipe syntax (Spark 4 `|>` operators): the query reads as a
    top-to-bottom pipeline — FROM |> WHERE |> AGGREGATE ... GROUP BY —
    and compiles to the SAME Catalyst logical plan as the nested-SELECT
    form, so filters still push into the parquet scan and the aggregate
    is still one partial+final pair.  The money math keeps the house
    DECIMAL discipline (exact accumulation, one final cast to double).

    Scale: identical plan to t1_sql_api's classic form — pipe syntax is
    front-end sugar, not a different execution path."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_pipe_v"
    )
    return spark.sql(
        """
        FROM lineitem_pipe_v
        |> WHERE l_quantity < 25
        |> AGGREGATE
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(3,2))
                         - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
               AS revenue,
             count(*) AS n
           GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "t1_lateral_topn_join",
    oracle="""
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n JOIN LATERAL (
        SELECT c_name, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
    ) c ON true
    """,
)
def t1_lateral_topn_join(spark, sf_dir):
    """LATERAL correlated subquery join (SQL:1999 LATERAL, Spark 3.2+):
    per outer row, a dependent top-N probe — the declarative form of
    "top 2 customers per nation" that arrives as LATERAL in ports from
    Postgres/DuckDB SQL.  Catalyst DECORRELATES it: the planned shape
    is the same window/aggregate rewrite t1_topk_per_group builds by
    hand (no nation-by-nation re-execution), which is exactly why the
    surface is safe to accept at scale — the lateral is syntax, the
    plan is one shuffle.

    Scale: decorrelation turns O(|outer|) probes into one partitioned
    rank; the alternative (actually iterating the outer side) would be
    a driver loop, which is the anti-pattern this query proves Spark
    avoids."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "__lat_nation"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM __lat_nation n JOIN LATERAL (
            SELECT c_name, c_acctbal FROM __lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
        ) c ON true
        """
    )


@register(
    "t1_groupby_all",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(month(l_shipdate) AS BIGINT) AS ship_month,
           count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem GROUP BY ALL
    """,
)
def t1_groupby_all(spark, sf_dir):
    """GROUP BY ALL (Spark 3.4+ / DuckDB / Snowflake dialect): the
    grouping key list is inferred as every non-aggregate select item —
    including computed expressions — so wide exploratory rollups don't
    repeat their key expressions.  Pure front-end sugar: the plan is
    the ordinary partial-aggregate + single-shuffle HashAggregate, so
    accepting the syntax costs nothing at scale."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__gba_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, CAST(month(l_shipdate) AS BIGINT) AS ship_month,
               count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM __gba_lineitem GROUP BY ALL
        """
    )
