"""Deterministic surrogate keys.

Replaces the reference's PostgreSQL serials obtained via ``INSERT ...
RETURNING id`` (``/root/reference/ght2dm.go:262,425``;
``db/insert_from_tmp_tables.sql:61``).  Keys must be run-stable and
partitioning-independent so the DuckDB oracle hash-matches — which rules
out a bare ``monotonically_increasing_id()``.

A plain ``row_number()`` over a global sort would run in a SINGLE task
(Spark evaluates an un-partitioned window on one partition), so keys use a
two-pass scheme instead: range-repartition by the order keys and sort
within each partition, count rows per partition, then add each row's
position within its partition to its partition's cumulative offset.  Same
output as the global rank (given a total order), but every stage is
distributed, and the counting pass is the job that fills the pinned
frame the keyed rows are read from.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# The frames kept inside the innermost releasing_caches() block
# (None outside any block).
_caches: ContextVar[list[DataFrame] | None] = ContextVar("caches", default=None)


@contextmanager
def releasing_caches() -> Iterator[list[DataFrame]]:
    """Release, on leaving the block, every frame :func:`pinned` inside
    it and every frame the caller appends to the yielded list (persisted
    or pinned) — also when the block raises.

    Close the block only after every job reading those frames has run:
    a pinned frame read after its release fails.  A persisted frame left
    behind is not just memory: Spark's cache matches a later plan over
    the same dump directory by its root path, not by the files under it,
    so a second import in the same session would read the cached rows
    and miss dumps added since.
    """
    owned: list[DataFrame] = []
    token = _caches.set(owned)
    try:
        yield owned
    finally:
        _caches.reset(token)
        for df in owned:
            plan = df._jdf.logicalPlan()
            if plan.nodeName() == "LogicalRDD":
                plan.rdd().unpersist(False)
            else:
                df.unpersist()


def pinned(df: DataFrame) -> DataFrame:
    """``df``'s rows, kept (in memory, spilling to disk) by the first job
    that computes them, for every later job until the enclosing
    :func:`releasing_caches` block ends.  Outside a block the frame is
    persisted instead, and stays cached for the session.

    Inside a block it is a local checkpoint rather than ``persist()``:
    under AQE a persisted frame is filled by a job of its own before the
    job that reads it, while a pinned frame is filled by that job.  The
    shuffle stages below ``df`` run now, not in the first job that reads
    it."""
    owned = _caches.get()
    if owned is None:
        return df.persist()
    out = df.localCheckpoint(eager=False)
    owned.append(out)
    return out


def add_surrogate_key(
    df: DataFrame,
    order_by: Sequence[str],
    name: str = "id",
    start: int | Mapping[object, int] = 1,
    by: str | None = None,
) -> DataFrame:
    """Add column ``name`` = ``start`` - 1 + the 1-based rank of the row
    under ``order_by``.

    With ``by``, every value of that column listed in ``start`` (a
    mapping value → first key) is a sequence of its own, ranked within
    the value; rows of other values get NULL.  One pass keys them all.

    ``order_by`` must be a unique natural key (within each ``by`` value;
    asserted by the test suite, mirroring O2's uniqueness reliance,
    ``ght2dm.go:442-479``) — otherwise the key assignment within ties is
    not deterministic.

    Runs one Spark job of its own (plus the range sample and the shuffle
    stages of ``df``): the pass that counts rows per partition also fills
    the :func:`pinned` frame the result reads, so reading the result
    shuffles nothing.  Read it inside the enclosing
    :func:`releasing_caches` block.
    """
    seqs = dict(start) if by is not None else {None: start}
    cols = [by, *order_by] if by is not None else list(order_by)
    # No partition count is asked for: df's would cost a job of its own
    # (its shuffle stages, run just to count), so the range shuffle gets
    # the session's width and AQE coalesces it to the data's size.
    # Partitions are then numbered below this bound.
    npart = df.sparkSession._jsparkSession.sessionState().conf().numShufflePartitions()
    # Pinning is load-bearing, not an optimization: the count pass and
    # the returned plan otherwise re-execute repartitionByRange as two
    # separate jobs, and RangePartitioner samples with a per-job seed —
    # different boundaries on the second run would apply pass-1 offsets
    # to differently-sized partitions, duplicating/skipping key values.
    # (Invisible at test scale, where the reservoir sample is the whole
    # input; real at the data sizes this scheme exists for.)
    #
    # __pos is (partition index << 33) + the row's position within its
    # partition (monotonically_increasing_id's documented layout), taken
    # right after the sort: a partition recomputed from the same shuffle
    # output sorts its rows by the same unique key, so positions do not
    # depend on the order rows arrived in.
    ranged = pinned(
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pos", F.monotonically_increasing_id())
    )
    pid = F.shiftright("__pos", 33).cast("int")

    def of(value):
        return F.lit(True) if by is None else F.col(by) == value

    # Pass 1: rows and first position per sequence and range partition,
    # observed in the job that fills the pinned frame — no aggregation
    # shuffle, no second scan.
    stats = Observation()
    ranged.observe(
        stats,
        *[
            agg
            for i, value in enumerate(seqs)
            for p in range(npart)
            for agg in (
                F.count_if((pid == p) & of(value)).alias(f"n{i}_{p}"),
                F.min(F.when((pid == p) & of(value), F.col("__pos"))).alias(f"f{i}_{p}"),
            )
        ],
    ).write.format("noop").mode("overwrite").save()
    got = stats.get
    # Pass 2: a sequence's rows are contiguous within each partition, so
    # key = __pos - (first __pos of the sequence in the partition)
    #     + (rows of the sequence in earlier partitions) + start.
    key = None
    last = 0
    for i, (value, first_key) in enumerate(seqs.items()):
        shift = []
        before = 0
        for p in range(npart):
            n = got[f"n{i}_{p}"]
            if n:
                shift += [F.lit(p), F.lit(first_key + before - got[f"f{i}_{p}"])]
                before += n
        last = max(last, first_key + before - 1)
        seq_key = F.col("__pos") + F.create_map(*shift)[pid] if shift else F.lit(None)
        key = (
            F.when(of(value), seq_key)
            if key is None
            else key.when(of(value), seq_key)
        )
    # an int key, as row_number() plus an int offset gave, while it fits
    key = key.cast("int" if last < 2**31 else "long")
    return ranged.withColumn(name, key).drop("__pos")
