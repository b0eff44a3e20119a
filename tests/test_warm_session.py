"""A long-lived session stays warm: repeated queries reuse the classes
Spark generated for them, and the session's settings have one owner."""

from __future__ import annotations

import os
import weakref

from ght2dm_spark import io
from ght2dm_spark.queries import QUERIES
from ght2dm_spark.session import get_spark

#: perfbench's query_mix (``perfbench/workloads.py``): one registered
#: query of each kind, 165-176 distinct generated classes per pass
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "t0_newest_wins_dedup",
    "t0_broadcast_lookup",
    "t1_minhash_signature",
    "t1_ann_bruteforce_topk",
    "t1_text_quality",
    "t1_session_window",
    "t1_graph_reciprocity",
    "t1_kmv_sketch",
    "t1_audio_fingerprint",
)


def _classes_compiled(spark) -> int:
    """Generated classes the JVM has compiled so far: Spark times every
    compile that misses its code cache, and nothing else."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_query_mix_compiles_no_class(spark, sf_dir):
    """Once a pass over the mix has run, running it again compiles
    nothing: the session's code cache holds the mix's working set.
    Adaptive execution can re-plan a query of the second pass into a
    shape the first did not produce, so it is the third pass that must
    compile none."""
    compiled = []
    for _ in range(3):
        before = _classes_compiled(spark)
        for name in QUERY_MIX:
            assert QUERIES[name](spark, sf_dir).collect(), name
        compiled.append(_classes_compiled(spark) - before)
        if compiled[-1] == 0:
            break
    assert compiled[-1] == 0, f"classes compiled per pass: {compiled}"


def test_load_table_keeps_the_shuffle_width_of_get_spark(spark, sf_dir, monkeypatch):
    """The shuffle width an import plans with (``add_surrogate_key``
    reads it) is the one ``get_spark`` set, whether or not a query
    loaded a table first: ``io.ensure_session_conf`` pins it only on
    sessions made elsewhere."""
    s = get_spark(app_name="ght2dm_spark-tests", shuffle_partitions=8)
    assert s is spark
    # as if no table had been loaded in this session yet
    monkeypatch.setattr(io, "_conf_ensured", weakref.WeakSet())
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.numShufflePartitions() == 8
    io.load_table(spark, sf_dir, "events")
    assert conf.numShufflePartitions() == 8
    # a session that get_spark did not configure still gets the pin
    other = spark.newSession()
    io.load_table(other, sf_dir, "events")
    pin = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "16"))
    assert other._jsparkSession.sessionState().conf().numShufflePartitions() == pin
