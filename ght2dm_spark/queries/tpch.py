"""Headline relational queries (TPC-H-shaped) over the driver testdata.

These exercise the engine's aggregate/join/top-k surface at bench scale
(sf0.1) and anchor bench.py.  Float discipline: money math is done in
DECIMAL (exact, engine-order-independent) and cast to DOUBLE only in the
final projection, so the DuckDB oracle hash-matches bit-for-bit — a raw
double SUM is accumulation-order-dependent and would flake.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.topk import top_k
from ght2dm_spark.queries.registry import register


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def _cents(c: str) -> F.Column:
    """Money column as integer cents via floor(x*100 + 0.5) — NOT
    ``F.round``, whose double path allocates a BigDecimal per row; floor
    stays in double codegen.  Per-row products then run in LONG (the
    fast path q1 is scan-bound on: measured 1.19s → 0.52s at the 10×
    scale point) and only the SUM is decimal (exact, overflow-safe —
    per-term magnitudes fit long at any realistic SF, the accumulator
    doesn't have to)."""
    return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")


def _one_minus(c: str) -> F.Column:
    return F.lit(1).cast("decimal(3,2)") - F.col(c).cast("decimal(3,2)")


@register(
    "q1_pricing_summary",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_linestatus,
               CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ext_c,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_c,
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax_c
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    )
    SELECT l_returnflag,
           l_linestatus,
           CAST(sum(CAST(qty_c AS DECIMAL(28,0))) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(sum(CAST(ext_c AS DECIMAL(28,0))) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sum(CAST(ext_c * (100 - disc_c) AS DECIMAL(28,0))) AS DOUBLE) / 10000.0
               AS sum_disc_price,
           CAST(sum(CAST(ext_c * (100 - disc_c) * (100 + tax_c) AS DECIMAL(30,0))) AS DOUBLE)
               / 1000000.0 AS sum_charge,
           CAST(sum(CAST(qty_c AS DECIMAL(28,0))) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
           CAST(sum(CAST(ext_c AS DECIMAL(28,0))) AS DOUBLE) / 100.0 / count(*) AS avg_price,
           CAST(sum(CAST(disc_c AS DECIMAL(28,0))) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy 2-key groupBy with 8 aggregates.
    Partial aggregation (map-side combine) happens automatically; the
    shuffle carries 6 groups, not 600k rows.

    Money math runs as integer-cents LONG products per row (see
    ``_cents``) summed as plain LONGs — Spark's decimal aggregation
    leaves the long-backed fast path above precision 18 (BigDecimal per
    row: measured 1.13 s vs 0.38 s at the 10× scale point, 3×), so the
    two products that could outgrow int64 on a ~100 TB fact (charge ≤
    4.4e11/row × 6e9 rows ≈ 2.6e21; disc_price ≈ 1.2e19) accumulate in
    TWO long lanes each (quotient/remainder by 1e6) recombined into
    DECIMAL on the 6 output rows — exact at any row count whose
    per-lane sums fit int64 (≈ 1.5e12 rows, three orders past 100 TB),
    at long-sum speed.  qty/base/disc sums stay single-lane (≤ 6e16 at
    100 TB)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
    )
    qty_c, ext_c = _cents("l_quantity"), _cents("l_extendedprice")
    disc_c, tax_c = _cents("l_discount"), _cents("l_tax")
    lane = F.lit(1_000_000)
    disc_price_c = ext_c * (F.lit(100) - disc_c)
    charge_c = ext_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c)
    dec = "decimal(38,0)"
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("_sq"),
            F.sum(ext_c).alias("_sbp"),
            # hi lane via subtract-remainder, not `/` (long / long is a
            # DOUBLE divide in Spark; the numerator here is an exact
            # multiple of the lane, so the division is exact)
            F.sum(
                ((disc_price_c - disc_price_c % lane) / lane).cast("long")
            ).alias("_sdp_hi"),
            F.sum(disc_price_c % lane).alias("_sdp_lo"),
            F.sum(((charge_c - charge_c % lane) / lane).cast("long")).alias(
                "_sc_hi"
            ),
            F.sum(charge_c % lane).alias("_sc_lo"),
            F.sum(disc_c).alias("_sd"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "_sdp",
            F.col("_sdp_hi").cast(dec) * lane + F.col("_sdp_lo").cast(dec),
        )
        .withColumn(
            "_sc",
            F.col("_sc_hi").cast(dec) * lane + F.col("_sc_lo").cast(dec),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("_sq").cast("double") / 100.0).alias("sum_qty"),
            (F.col("_sbp").cast("double") / 100.0).alias("sum_base_price"),
            (F.col("_sdp").cast("double") / 10000.0).alias("sum_disc_price"),
            (F.col("_sc").cast("double") / 1000000.0).alias("sum_charge"),
            (F.col("_sq").cast("double") / 100.0 / F.col("count_order")).alias(
                "avg_qty"
            ),
            (F.col("_sbp").cast("double") / 100.0 / F.col("count_order")).alias(
                "avg_price"
            ),
            (F.col("_sd").cast("double") / 100.0 / F.col("count_order")).alias(
                "avg_disc"
            ),
            "count_order",
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
               AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → join → agg → top-10.
    customer is broadcast (bounded dim); top-k plans as
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    # lineitem is the fact side: keep it on the left so Catalyst never
    # builds a hash relation out of it; the filtered orders⋈customer side
    # is small and broadcasts (locally via AQE; at scale it would be SMJ).
    joined = li.join(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
        li.l_orderkey == orders.o_orderkey,
    )
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    agg = (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10)


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join with a region restriction.  All dims
    (region, nation, supplier, filtered customer) broadcast; only the
    orders⋈lineitem join shuffles, on the orderkey both sides."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    # Fact (lineitem) on the left; the date-filtered orders⋈customer side
    # shrinks to ~15% of orders and broadcasts locally. No hint on that
    # join: at 100 TB AQE would pick a sort-merge join on l_orderkey.
    joined = (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    return joined.groupBy("n_name").agg(F.sum(disc_price).cast("double").alias("revenue"))
