"""Z-order layout key as a checked query: the Morton interleave of
``operators.layout.zorder_sql`` (the multi-dim clustering key that
makes manifest min/max pruning work on either column — see
``snapshots.py``), run over ``orders`` and summarized per z-range
bucket.

The point the result demonstrates: bucketing by the TOP bits of the
interleaved key yields buckets whose (custkey, orderkey) min/max
rectangles are NARROW IN BOTH dimensions — exactly why z-ordered files
prune on either column, where a lexicographic (custkey, orderkey) sort
would give orderkey ranges spanning the whole table.  The same
expression text (shift/mask arithmetic, dialect-formatted) runs in
Spark and DuckDB, so the oracle checks the bit math itself.

Reference scope: the reference relies on PostgreSQL btree indexes for
selective access (``/root/reference/db/schema.sql``); z-order + footer
stats is the columnar-file equivalent of multi-column selectivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.layout import zorder_sql
from ght2dm_spark.queries.registry import register

_COLS = ["o_custkey", "o_orderkey"]


def _zorder_oracle() -> str:
    z = zorder_sql(_COLS, "({x} << {n})")
    # bucket by z >> 20 (not a fixed top nibble): which z bits vary
    # depends on the key magnitude at a given SF, and the demo needs
    # buckets that actually split the keyspace at every test SF
    return f"""
    SELECT ({z}) >> 20 AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(o_orderkey) AS min_order, max(o_orderkey) AS max_order
    FROM orders
    GROUP BY 1
    """


@register("t1_zorder_cluster", oracle=_zorder_oracle())
def t1_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (o_custkey, o_orderkey) low-16 bits, bucketed by
    ``z >> 20``; per-bucket row count and per-dimension min/max (narrow
    in BOTH dimensions — the property that makes z-ordered files prune
    on either column).  Pure built-in bitwise expressions — one shuffle
    (the groupBy), whole-stage codegen throughout."""
    orders = load_table(spark, sf_dir, "orders")
    z = F.expr(zorder_sql(_COLS, "shiftleft({x}, {n})"))
    return (
        orders.withColumn("z_bucket", F.shiftright(z, 20))
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("o_orderkey").alias("min_order"),
            F.max("o_orderkey").alias("max_order"),
        )
    )


#: Compaction planning thresholds: files under SMALL bytes are compaction
#: candidates, packed into bins of ~TARGET bytes.
COMPACT_SMALL = 400
COMPACT_TARGET = 1500


@register(
    "t1_compaction_plan",
    oracle=f"""
    WITH files AS (
        SELECT source, doc_id AS file_id, n_chars AS bytes
        FROM documents WHERE n_chars < {COMPACT_SMALL}
    ),
    ordered AS (
        SELECT source, file_id, bytes,
               coalesce(sum(bytes) OVER (
                   PARTITION BY source
                   ORDER BY bytes DESC, file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM files
    ),
    binned AS (
        SELECT source, file_id, bytes,
               CAST(cum_before // {COMPACT_TARGET} AS INTEGER) AS bin
        FROM ordered
    )
    SELECT source, bin,
           CAST(count(*) AS INTEGER) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           min(file_id) AS first_file, max(file_id) AS last_file
    FROM binned GROUP BY source, bin
    """,
)
def t1_compaction_plan(spark, sf_dir):
    """Small-file compaction planning — the table-maintenance operator
    every 100 TB lakehouse runs nightly (Iceberg rewrite_data_files /
    Delta OPTIMIZE): within each partition, files below a size
    threshold are packed into rewrite groups of ~target total size.
    The ``documents`` table stands in for a file manifest (source →
    partition, doc_id → file id, n_chars → bytes).  Only the planning
    is checked here: the snapshot layer does not rewrite files.

    The packing is size-descending cumulative-sum binning:
    bin = floor(running_bytes_before / target) over a (bytes DESC,
    file_id) order — a deterministic one-window approximation of
    first-fit-decreasing whose bins overshoot the target by at most one
    file, which is exactly the slack a rewrite job wants (never an
    undersized trailing task except the last).

    Scale: one window per partition over FILE-level rows (a manifest is
    ~1e6 rows for a 100 TB table — trivial), never touching data bytes;
    the output is the rewrite job list itself, one row per bin."""
    d = load_table(spark, sf_dir, "documents")
    files = d.filter(F.col("n_chars") < COMPACT_SMALL).select(
        "source", F.col("doc_id").alias("file_id"), F.col("n_chars").alias("bytes")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("bytes"), F.asc("file_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = files.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("bytes").over(w), F.lit(0)) / COMPACT_TARGET
        ).cast("int"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )
