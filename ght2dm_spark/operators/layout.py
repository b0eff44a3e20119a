"""Z-order (Morton) key: the multi-dimensional clustering key that
makes file-level min/max pruning work on EVERY layout column, not just
the first sort key.  :func:`zorder_sql` emits it as dialect SQL, so the
same text runs in Spark and in the DuckDB oracle (``t1_zorder_cluster``).

A lexicographic sort by (x, y) clusters x perfectly and y not at all: a
query on y alone still touches every file.  Interleaving the bits of x
and y into one Morton key and range-partitioning by it gives each file
a small rectangle of (x, y) space, so the manifest min/max stats that
:mod:`ght2dm_spark.snapshots` records at commit time prune files for
predicates on either column — the public Z-ordering idea from
Morton (1966) as used by Delta/Iceberg ``OPTIMIZE ZORDER BY``.

The z-key is built-in bitwise expressions (whole-stage codegen, no
Python).

Reference scope note: the reference loads into PostgreSQL and leans on
btree indexes (``/root/reference/db/schema.sql``) for selective reads;
parquet has no indexes, so clustering + footer stats is the Spark-first
equivalent of that capability.
"""

from __future__ import annotations

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
