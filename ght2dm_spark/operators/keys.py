"""Deterministic surrogate keys.

Replaces the reference's PostgreSQL serials obtained via ``INSERT ...
RETURNING id`` (``/root/reference/ght2dm.go:262,425``;
``db/insert_from_tmp_tables.sql:61``).  Keys must be run-stable and
partitioning-independent so the DuckDB oracle hash-matches — which rules
out ``monotonically_increasing_id()``.

A plain ``row_number()`` over a global sort would run in a SINGLE task
(Spark evaluates an un-partitioned window on one partition), so keys use a
sort-free two-pass scheme instead: range-repartition by the order keys,
count rows per partition, broadcast cumulative offsets, then local
row_number per partition.  Same output as the global rank (given a total
order), but every stage is distributed.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The frames cached inside the innermost releasing_caches() block
# (None outside any block).
_caches: ContextVar[list[DataFrame] | None] = ContextVar("caches", default=None)


@contextmanager
def releasing_caches() -> Iterator[list[DataFrame]]:
    """Unpersist, on leaving the block, every frame
    :func:`add_surrogate_key` persisted inside it and every frame the
    caller appends to the yielded list — also when the block raises.

    Close the block only after every job reading those frames has run.
    A persisted frame left behind is not just memory: Spark's cache
    matches a later plan over the same dump directory by its root path,
    not by the files under it, so a second import in the same session
    would read the cached rows and miss dumps added since.
    """
    owned: list[DataFrame] = []
    token = _caches.set(owned)
    try:
        yield owned
    finally:
        _caches.reset(token)
        for df in owned:
            df.unpersist()


def add_surrogate_key(
    df: DataFrame,
    order_by: Sequence[str],
    name: str = "id",
    start: int = 1,
) -> DataFrame:
    """Add column ``name`` = 1-based rank of the row under ``order_by``.

    ``order_by`` must be a unique natural key (asserted by the test suite,
    mirroring O2's uniqueness reliance, ``ght2dm.go:442-479``) — otherwise
    the key assignment within ties is not deterministic.
    """
    npart = max(df.rdd.getNumPartitions(), 1)
    # persist() is load-bearing, not an optimization: the count pass and
    # the returned plan otherwise re-execute repartitionByRange as two
    # separate jobs, and RangePartitioner samples with a per-job seed —
    # different boundaries on the second run would apply pass-1 offsets
    # to differently-sized partitions, duplicating/skipping key values.
    # (Invisible at test scale, where the reservoir sample is the whole
    # input; real at the data sizes this scheme exists for.)  The
    # MEMORY_AND_DISK default spills rather than evicts, so the pinned
    # partitioning survives until the enclosing releasing_caches() block
    # ends (outside one, the frame stays cached for the session).
    ranged = (
        df.repartitionByRange(npart, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    owned = _caches.get()
    if owned is not None:
        owned.append(ranged)
    # Pass 1: rows per range-partition → cumulative offsets (tiny: one row
    # per partition, collected to the driver and rebroadcast via a join).
    counts = ranged.groupBy("__pid").count().collect()
    sizes = {r["__pid"]: r["count"] for r in counts}
    offsets = {}
    acc = start - 1
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # Zero-row input → no partitions counted; create_map() with no args is
    # typed VOID and breaks the lookup, so fall back to a constant offset.
    offset_col = (
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
            F.col("__pid")
        ]
        if offsets
        else F.lit(start - 1)
    )
    # Pass 2: local rank within each range partition + broadcast offset.
    w = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        ranged.withColumn(name, F.row_number().over(w) + offset_col)
        .drop("__pid")
    )
