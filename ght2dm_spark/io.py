"""IO layer: declared-schema loading of the parquet test tables, the
session confs every query relies on, and a plain bulk writer.

Dump files (the reference's date-named ``.bson`` files) are read by
:mod:`ght2dm_spark.sources.bson`; snapshot tables by
:mod:`ght2dm_spark.snapshots`.
"""

from __future__ import annotations

import logging
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _table_cache(spark) -> dict:
    """Per-session DataFrame cache — a DataFrame is a plan, not data, so
    caching the object just avoids re-running footer/schema jobs per
    query build.  Stored ON the session object: a module-level
    WeakKeyDictionary can never evict here, because the cached
    DataFrames hold their session strongly (value→key reference), so
    every stopped session and its plans would leak for the process
    lifetime; an attribute's lifetime is exactly the session's."""
    cache = getattr(spark, "_ght2dm_table_cache", None)
    if cache is None:
        cache = {}
        spark._ght2dm_table_cache = cache
    return cache

# Weak set, not id()-keyed: CPython recycles ids after GC, so an id memo
# could mistake a brand-new session for an already-configured dead one and
# skip the UTC pin that every NTZ identity-reinterpretation depends on.
_conf_ensured: weakref.WeakSet = weakref.WeakSet()


def ensure_session_conf(spark: SparkSession) -> None:
    """Pin runtime-settable SQL confs on an externally-created session.

    The driver's verify constructs its OWN SparkSession and hands it to each
    query, so nothing from :mod:`ght2dm_spark.session` applies there.  Query
    semantics must not depend on ambient config — in particular the session
    time zone (TIMESTAMP_NTZ vs timestamp-literal comparisons shift by the
    TZ offset otherwise) — and small-SF latency should not pay for a default
    200-partition shuffle.  Performance confs are best-effort; the time zone
    is load-bearing for correctness, so failure to pin it is an error, not a
    silent skip.
    """
    if spark in _conf_ensured:
        return
    for k, v in (
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "16")),
        # harmless when events.ts is plain micros; required to read NANOS
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            _log.warning("could not set %s=%s on external session", k, v)
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception as exc:
        raise RuntimeError(
            "cannot pin spark.sql.session.timeZone=UTC — timestamp results "
            "would depend on the hosting process's zone"
        ) from exc
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        raise RuntimeError("spark.sql.session.timeZone did not stick at UTC")
    _conf_ensured.add(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (``<sf_dir>/<name>.parquet``) with its
    declared schema (no inference job — SURVEY §1.3).

    ``events.ts`` is parquet TIMESTAMP(NANOS); under
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a long which we
    truncate to microseconds — matching DuckDB's nanos→micros cast, so both
    engines see identical values.
    """
    ensure_session_conf(spark)
    per_session = _table_cache(spark)
    key = (sf_dir, name)
    if key in per_session:
        return per_session[key]
    from ght2dm_spark.schemas import TESTDATA

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        schema, ns_ts = events_read_schema(path)
    elif name in TESTDATA:
        schema, ns_ts = TESTDATA[name], False
    else:
        # a typo must be an immediate error naming the table, not a
        # silent schema-INFERENCE job whose types can drift from the
        # declared ones (the module contract: no inference, SURVEY §1.3)
        raise ValueError(
            f"unknown testdata table {name!r} — declared tables: "
            f"{sorted(TESTDATA)}"
        )
    df = spark.read.schema(schema).parquet(path) if schema is not None else (
        spark.read.parquet(path)
    )
    if ns_ts:
        df = df.withColumn("ts", normalize_ns_ts("ts"))
    per_session[key] = df
    return df


def events_read_schema(path: str):
    """Schema to read the events parquet with, plus whether ``ts`` needs
    the nanos-long → timestamp conversion afterwards.  Shared by the batch
    and streaming readers so both see identical rows."""
    from pyspark.sql import types as T

    from ght2dm_spark.schemas import TESTDATA

    schema = TESTDATA["events"]
    if _events_ts_is_nanos(path):
        return schema, True
    # ts is plain parquet TIMESTAMP (micros) — read it natively as NTZ.
    return (
        T.StructType(
            [
                T.StructField("ts", T.TimestampNTZType(), f.nullable)
                if f.name == "ts"
                else f
                for f in schema.fields
            ]
        ),
        False,
    )


def normalize_ns_ts(col_name: str):
    """TIMESTAMP(NANOS)-as-long → TIMESTAMP_NTZ, truncating to micros
    exactly like DuckDB's nanos→micros cast on the PARQUET path.
    Probed (pyarrow timestamp('ns') parquet → `CAST(ts AS TIMESTAMP)`):
    DuckDB truncates toward zero for pre-epoch values (-877 ns →
    1970-01-01 00:00:00, -1999 ns → 23:59:59.999999), which is exactly
    Spark's integer ``div`` — so ``div`` IS the parity-correct form.
    (DuckDB's STRING-literal timestamp_ns cast floors instead; that
    path never feeds the oracle, which reads parquet views.)  Integer
    ``div``, never float division — ns epochs exceed double's 2^53
    exact range; NTZ (not LTZ) so collected values don't shift with the
    verifying process's time zone."""
    return F.expr(f"timestamp_micros({col_name} div 1000)").cast("timestamp_ntz")


import functools


def _events_ts_is_nanos(path: str) -> bool:
    """One footer read deciding how ``events.ts`` is physically encoded.

    The driver's generator has shipped it both as TIMESTAMP(NANOS) (which
    Spark can only read as a long, via ``nanosAsLong``) and as plain
    TIMESTAMP(MICROS); guessing wrong shifts every timestamp by 1000x, so
    ask the file instead of assuming.  Footer-only — no data IO, and
    memoized on (path, mtime, size) — NOT path alone, so a file
    regenerated in-place with the other ts encoding inside one process
    (test/bench fixture rebuilds do this) re-probes instead of silently
    mis-scaling every timestamp by 1000x through a stale memo.  A
    directory "dump" keys on the directory's own stat (cheap, catches
    part-file rewrites via the dir mtime on every POSIX rename into it).

    pyarrow missing is a real environment problem, not a "file is micros"
    signal — re-raise it so the operator sees the cause, not a downstream
    PARQUET_TYPE_ILLEGAL.  Only a failed footer read (corrupt file, path a
    stream source will materialize later, schema without ``ts``) falls back
    to the declared-micros schema, and loudly.
    """
    try:
        st = os.stat(path)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = (0, 0)  # not materialized yet — probe (and fail) uncached
    return _events_ts_probe(path, key)


@functools.lru_cache(maxsize=64)
def _events_ts_probe(path: str, stat_key: tuple[int, int]) -> bool:
    import pyarrow.dataset as ds
    import pyarrow.types as pt

    try:
        f = ds.dataset(path, format="parquet").schema.field("ts")
    except Exception as exc:
        _log.warning(
            "events footer probe failed for %s (%s); assuming micros ts", path, exc
        )
        return False
    return pt.is_timestamp(f.type) and f.type.unit == "ns"


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
    **options: str,
) -> None:
    """Bulk sink — replaces the reference's row-at-a-time INSERT (S5,
    ``ght2dm.go:962-979``) and COPY (S6, ``ght2dm.go:510``).  Parquet is
    the scale default (columnar, compressed, prunable); csv/json exist
    for interchange — never for the 100 TB hot path."""
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if options:
        writer = writer.options(**options)
    writer.save(path)
