"""SparkSession factory.

Defaults chosen for the driver environment (single-JVM local[N], 128 GiB)
but expressed so the same code runs unchanged on a multi-executor cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuning per scale factor.
- ``spark.sql.shuffle.partitions`` set from cores (local) — on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a target.
- UTC session timezone so timestamp values compare bit-identically with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the few pandas-UDF code paths (similarity, multimodal).
- A generated-code cache that holds a long-lived session's working set,
  so warm queries compile no classes.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "ght2dm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    # Python workers must be able to import this package (pandas-UDF
    # closures pickle by reference) even when the driver script runs from
    # elsewhere: export the repo root on PYTHONPATH before the JVM (which
    # spawns the workers) starts.  On a real cluster this is --py-files.
    repo_root = str(Path(__file__).resolve().parents[1])
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batch size so pandas-UDF stages over wide binary
        # payloads (multimodal decode) can't blow out worker memory —
        # batches stream at this granularity regardless of row width.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # Local test/bench data arrives as ONE parquet file per table, so
        # the default 128 MB split size caps scan parallelism at
        # ceil(file/128MB) tasks — a 184 MB fact table would scan 2-way
        # on 32 cores.  Asking for >= 2×cores input partitions makes
        # Spark shrink the split size (bounded below by openCostInBytes
        # and row-group alignment), approximating the many-file layout
        # a real warehouse scan has; on a cluster the file count itself
        # provides the parallelism and this hint is inert.
        .config("spark.sql.files.minPartitionNum", str(2 * cores))
        # Streaming state on RocksDB, not the default in-JVM-heap HashMap:
        # stateful operators (dedup-within-watermark, session windows,
        # flatMapGroupsWithState) then hold state off-heap with spill to
        # disk, so state size is bounded by the watermark horizon × key
        # width rather than by executor heap.  Changelog checkpointing
        # ships per-batch deltas to the checkpoint location instead of
        # full SST snapshots — the production configuration for
        # long-running streams.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos
        # timestamp — read as long, io.load_table converts to micros exactly
        # like DuckDB does (truncation), so the oracle compare holds.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Generated classes (whole-stage codegen, projections, orderings)
        # are cached by their source text, 100 entries by default.  One
        # pass over perfbench's query_mix generates 165-176 distinct
        # classes, so under the default each warm pass evicted what the
        # next one needed and recompiled (Janino, then the JIT) all of
        # them.  2000 holds that working set with headroom.  Cached
        # classes stay in metaspace, but fewer compiles load fewer
        # classes: after all 366 registered queries the driver held
        # 222 MB of metaspace at 2000 against 252 MB at 100 (SCALING.md,
        # "Generated-code cache").  Static: settable only before the
        # session starts.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # A whole-stage class is named after its stage id, and adaptive
        # execution numbers stages in the order they are planned, which
        # varies from run to run: the same pipeline then misses the cache
        # under a new name (t1_kmv_sketch recompiled 4-14 classes on every
        # warm run).  Unnumbered names key the cache on the code alone.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the shuffle width set above has one owner: io.ensure_session_conf
    # pins its own only on sessions made elsewhere
    spark._ght2dm_configured = True
    return spark
