"""Join operators: broadcast lookups, anti-join dedup/existence, FK
resolution with rejects, and OR-predicate decomposition.

The reference drives all joins as per-row SQL lookups (index nested-loop
from the client, ``/root/reference/ght2dm.go:440-490,778-810,941-959``) or
LEFT JOIN + IS NULL anti-joins (``db/insert_from_tmp_tables.sql:52-54``).
Here each becomes one set-oriented join; dimension sides are broadcast
(they are bounded: users/orgs/repos dims ≪ fact streams), so the fact side
never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Resolved(NamedTuple):
    """Per-stage result + rejects routing (reference E1 semantics:
    fail-and-continue per record, ``ght2dm.go:281-313``)."""

    good: DataFrame
    rejects: DataFrame


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Equi join with an explicitly broadcast dimension (J1-J3,
    ``ght2dm.go:778-810,941-959``)."""
    return fact.join(F.broadcast(dim), on, how)


def anti_join(df: DataFrame, other: DataFrame, on: str | list[str] | Column) -> DataFrame:
    """Rows of ``df`` with no match in ``other`` — the skip-if-exists probes
    (F3, ``ght2dm.go:440-490``) and the repos IS NULL anti-predicates (F8,
    ``db/insert_from_tmp_tables.sql:52-54``)."""
    return df.join(other, on, "left_anti")


def resolve_fk(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    broadcast_dim: bool = True,
) -> Resolved:
    """Inner-join FK resolution with unmatched rows routed to rejects
    (F9: the reference logs-and-skips relation rows whose user/org/repo
    cannot be resolved, ``ght2dm.go:757-765,920-927``)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    good = fact.join(d, on, "inner")
    rejects = fact.join(d, on, "left_anti")
    return Resolved(good, rejects)


def or_lookup(
    fact: DataFrame,
    dim: DataFrame,
    key_pairs: Sequence[tuple[str, str]],
    payload: str,
) -> DataFrame:
    """Disjunctive (OR) lookup decomposed into per-key equi joins +
    first-match coalesce — J4's shape (``ght2dm.go:633-653``, dead code in
    the reference).  A raw OR join would force BroadcastNestedLoopJoin;
    this stays hash-join per key.  Adds column ``payload`` from ``dim``
    using the first key pair that MATCHES, in ``key_pairs`` order — a
    matched pair whose payload is NULL yields NULL (a value-coalesce
    would silently fall through to a later pair's payload, conflating
    "no match" with "matched NULL").
    """
    if not key_pairs:
        raise ValueError("or_lookup needs at least one key pair")
    reserved = {
        n for i in range(len(key_pairs)) for n in (f"__k{i}", f"__p{i}")
    }
    clash = reserved & set(fact.columns)
    if clash:
        raise ValueError(
            f"or_lookup reserves column name(s) {sorted(clash)}; rename "
            "them on the fact side"
        )
    out = fact
    for i, (fk, dk) in enumerate(key_pairs):
        # min() (not dropDuplicates) picks the surviving payload per key so
        # the result is deterministic and oracle-reproducible.
        side = (
            dim.groupBy(F.col(dk).alias(f"__k{i}"))
            .agg(F.min(payload).alias(f"__p{i}"))
        )
        out = out.join(F.broadcast(side), out[fk] == side[f"__k{i}"], "left")
    picked = F.when(F.col("__k0").isNotNull(), F.col("__p0"))
    for i in range(1, len(key_pairs)):
        picked = picked.when(F.col(f"__k{i}").isNotNull(), F.col(f"__p{i}"))
    out = out.withColumn(payload, picked)
    return out.drop(*sorted(reserved))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resilient equi join: salt the fact side's key into ``n_salt``
    sub-keys and replicate the (smaller) ``dim`` side once per salt, so a
    hot key's rows spread over ``n_salt`` reducers instead of one.

    Result is row-identical to ``fact.join(dim, key, how)`` — salting
    only reshapes the shuffle — for the FACT-preserving join types
    (inner / left / left_semi / left_anti).  Outer-on-dim types are
    rejected: dim is replicated ``n_salt``×, so right/full would emit
    each unmatched dim row once PER SALT.  Use when AQE's skew-join
    splitting can't help (e.g. the skew is in the build of a
    shuffle-hash join, or a stable partitioning must be preserved).
    The dim side is replicated ``n_salt``× — keep it the bounded side.

    The salt must have a PER-ROW component AND be DETERMINISTIC:
    ``xxhash64`` over every fact column.  Hashing the key with only
    ``spark_partition_id`` (the first form) collapses to ONE salt per
    (key, input partition) — zero mitigation when the fact is already
    partitioned by the key; ``monotonically_increasing_id()`` (the
    second form) is nondeterministic under partial stage RETRY
    (SPARK-23207 class: a recomputed map task re-ids rows in a new
    order, routing them to reducers that already consumed the old
    assignment — rows joined twice or never).  The full-row hash is
    stable under recomputation; byte-identical duplicate rows share a
    salt, which only weakens spreading for a hot key made of EXACT
    duplicate rows (documented, and irrelevant to correctness).
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports fact-preserving joins only, not {how!r}: "
            "dim is replicated per salt, so right/full outer would emit "
            "each unmatched dim row n_salt times"
        )
    if n_salt < 1:
        raise ValueError(
            f"n_salt must be >= 1, got {n_salt} — range({n_salt}) is an "
            "EMPTY dim replication (silently zero matches)"
        )
    if "__salt" in fact.columns or "__salt" in dim.columns:
        raise ValueError(
            "salted_join reserves the __salt column name; rename it"
        )
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salt)
    )
    f = fact.withColumn("__salt", salt.cast("int"))
    d = dim.crossJoin(
        F.broadcast(
            fact.sparkSession.range(n_salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    # Pin a shuffle-hash strategy: salting exists precisely because neither
    # side fits a broadcast, so letting AQE "helpfully" broadcast a side
    # (which it will at test scale — building a HashedRelation from the
    # whole salted fact on the driver) produces the one plan salting is
    # meant to avoid.  SHUFFLE_HASH keeps both sides partitioned on
    # (key, salt) and skips the sort a merge join would add.  The hint
    # goes on the DIM side: the hinted side becomes the hash BUILD side,
    # and building from the bounded replicated dim keeps per-task memory
    # flat while the salted fact streams — hinting the fact would build
    # a HashedRelation over the big side, the exact pressure profile
    # salting exists to avoid.
    out = f.join(d.hint("shuffle_hash"), [key, "__salt"], how)
    return out.drop("__salt")
