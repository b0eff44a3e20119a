"""Z-order (Morton) data layout: multi-dimensional clustering so that
file-level min/max pruning works on EVERY layout column, not just the
first sort key.

A lexicographic sort by (x, y) clusters x perfectly and y not at all: a
query on y alone still touches every file.  Interleaving the bits of x
and y into one Morton key and range-partitioning by it gives each file
a small rectangle of (x, y) space, so the manifest min/max stats that
:mod:`ght2dm_spark.snapshots` records at commit time prune files for
predicates on either column — the public Z-ordering idea from
Morton (1966) as used by Delta/Iceberg ``OPTIMIZE ZORDER BY``.

At 100 TB this is a layout-time investment (one range-shuffle on the
z-key) paid back on every subsequent selective read: a point-range
query on a z-ordered table plans over ~sqrt-fraction of files per
pruned dimension instead of all of them.  The z-key is computed with
built-in bitwise expressions (whole-stage codegen, no Python), the
range partitioner gives equi-sized files regardless of key skew, and
the key is dropped before write — layout is invisible to readers.

Reference scope note: the reference loads into PostgreSQL and leans on
btree indexes (``/root/reference/db/schema.sql``) for selective reads;
parquet has no indexes, so clustering + footer stats is the Spark-first
equivalent of that capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (shift, mask) rounds that spread a 16-bit int so its bits occupy the
#: even positions of a 32-bit int — the classic "magic masks" bit trick
#: (public domain, e.g. Stanford Bit Twiddling Hacks / Morton codes).
_SPREAD16 = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def _spread16_sql(expr: str, shift_fmt: str) -> str:
    """SQL text spreading the low 16 bits of ``expr`` to even positions.

    ``shift_fmt`` is a dialect-level left-shift template, e.g.
    ``"shiftleft({x}, {n})"`` (Spark) or ``"({x} << {n})"`` (DuckDB) —
    the arithmetic is otherwise identical, which is what lets the DuckDB
    oracle replay the exact computation.
    """
    s = f"(({expr}) & 65535)"
    for n, mask in _SPREAD16:
        shifted = shift_fmt.format(x=s, n=n)
        s = f"(({s} | {shifted}) & {mask})"
    return s


def zorder_sql(cols: list[str], shift_fmt: str) -> str:
    """Morton key over two columns' low 16 bits as dialect SQL: column
    0's bits land at even positions, column 1's at odd."""
    if len(cols) != 2:
        raise ValueError("z-order interleave is pairwise; got %d cols" % len(cols))
    parts = []
    for i, c in enumerate(cols):
        spread = _spread16_sql(f"cast({c} as bigint)", shift_fmt)
        if i:
            spread = shift_fmt.format(x=spread, n=i)
        parts.append(spread)
    return "(" + " | ".join(parts) + ")"


def zorder_layout(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Return ``df`` re-clustered for writing: range-partitioned and
    sorted by the Morton key of ``cols``, key dropped.  Feed straight to
    ``snapshots.write_table_atomic`` — each output file then covers a
    small hyper-rectangle of the layout columns, and the commit-time
    footer stats make range predicates on ANY of them prune files.

    Both columns are min-max scaled onto the full 16-bit interleave
    width first (one tiny bounds aggregate broadcast back over the
    scan, integer arithmetic).  Raw low-16-bit interleaving would
    alias any domain wider than 65536 mod-65536 (every id column
    qualifies), making each file's min/max span nearly the whole range
    so the promised pruning keeps ALL files; negatives would
    additionally sort above positives.  Scaling costs one extra scan of
    two columns at layout time and is what makes the z-key monotone in
    each dimension's rank.  The key itself is :func:`zorder_sql` over
    the two scaled expressions — the same text ``t1_zorder_cluster``
    and its DuckDB oracle evaluate."""
    if len(cols) != 2:
        raise ValueError(
            "z-order interleave is pairwise; got %d cols" % len(cols)
        )
    a, b = cols
    hi = 65535
    bounds = df.agg(
        F.min(a).alias("__loa"),
        F.max(a).alias("__hia"),
        F.min(b).alias("__lob"),
        F.max(b).alias("__hib"),
    )
    scaled_a = f"CAST(({a} - __loa) * {hi} AS BIGINT) div greatest(__hia - __loa, 1)"
    scaled_b = f"CAST(({b} - __lob) * {hi} AS BIGINT) div greatest(__hib - __lob, 1)"
    z = F.expr(zorder_sql([scaled_a, scaled_b], "shiftleft({x}, {n})"))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__loa", "__hia", "__lob", "__hib")
    )
