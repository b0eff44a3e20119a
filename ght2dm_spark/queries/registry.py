"""Query registry: name → (Spark callable, DuckDB oracle SQL).

Every operator the engine claims (SURVEY.md §2) is surfaced as a named
query so the oracle harness can enumerate them mechanically.  A query is a
callable ``(spark, sf_dir) -> DataFrame``; its oracle is an ANSI-SQL string
DuckDB runs over the same parquet tables (views ``region nation customer
supplier part orders lineitem events documents embeddings``).

Hash-match discipline (the driver compares row-count + schema +
order-insensitive value hash):

- alias every computed column identically on both sides;
- never hash a raw double aggregate — SUM over doubles is
  order-dependent across engines; cast to DECIMAL first (exact) or round;
- break top-k ties with a unique key so LIMIT is deterministic;
- timestamps: session TZ is UTC (see session.py), matching DuckDB's
  UTC-naive timestamps.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ght2dm_spark.operators.keys import releasing_caches

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query; ``oracle=None`` marks a query the driver
    checks rows-only (genuinely non-SQL-expressible ops).

    The registry owns the frames a query pins: ``QUERIES[name]`` runs
    ``fn`` in a :func:`~ght2dm_spark.operators.keys.releasing_caches`
    block, and when ``fn`` pinned a frame the result is computed (eagerly
    checkpointed) before the block releases it.  A query that pins
    nothing comes back lazy, as ``fn`` built it.  The decorator returns
    the bare ``fn``, so a query that composes another shares its
    caller's block."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def owned(spark: SparkSession, sf_dir: str) -> DataFrame:
            with releasing_caches() as pins:
                out = fn(spark, sf_dir)
                return out.localCheckpoint(eager=True) if pins else out

        QUERIES[name] = owned
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
