"""Streaming into the snapshot layer (exactly-once ``foreachBatch``
appends, CDC merges) and schema-evolution reads.

``commit_stream_batch`` records each micro-batch's ``batch_id`` in the
commit manifest and refuses ids at-or-below the last committed one —
the retry a failed ``foreachBatch`` invocation triggers (same batch_id
re-delivered) must append nothing.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.snapshots import (
    commit_stream_batch,
    last_streamed_batch,
    read_snapshot,
    write_table_atomic,
)
from ght2dm_spark.streaming import read_events_stream


def test_stream_foreachbatch_sink_appends_snapshot(spark, sf_dir, tmp_path):
    t = str(tmp_path / "events_tbl")
    stream = read_events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
    q = (
        stream.writeStream.foreachBatch(
            lambda df, batch_id: commit_stream_batch(df, t, batch_id)
        )
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ght2dm-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = load_table(spark, sf_dir, "events")
    got = read_snapshot(spark, t)
    assert got.count() == batch.count()
    assert last_streamed_batch(t) is not None
    # sums, not just counts — the snapshot holds the same rows
    assert (
        got.agg(F.sum("event_id")).first()[0]
        == batch.agg(F.sum("event_id")).first()[0]
    )


def test_stream_batch_retry_is_idempotent(spark, sf_dir, tmp_path):
    t = str(tmp_path / "retry_tbl")
    rows = load_table(spark, sf_dir, "events").select("event_id").limit(10)
    assert commit_stream_batch(rows, t, batch_id=0) is not None
    n1 = read_snapshot(spark, t).count()
    # redelivery of the same batch (the foreachBatch failure-retry path)
    assert commit_stream_batch(rows, t, batch_id=0) is None
    assert read_snapshot(spark, t).count() == n1
    # a LOWER id (restart from an old checkpoint) is also refused
    assert commit_stream_batch(rows, t, batch_id=-1) is None
    # the next batch appends
    assert commit_stream_batch(rows, t, batch_id=1) is not None
    assert read_snapshot(spark, t).count() == 2 * n1
    assert last_streamed_batch(t) == 1


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path):
    t = str(tmp_path / "evolve_tbl")
    nation = load_table(spark, sf_dir, "nation")
    write_table_atomic(nation, t)
    evolved = nation.withColumn("n_comment", F.lit("new"))
    write_table_atomic(evolved, t, mode="append")
    df = read_snapshot(spark, t, merge_schema=True)
    assert "n_comment" in df.columns
    n = nation.count()
    assert df.count() == 2 * n
    # old files surface NULL for the added column, new files the value
    assert df.where(F.col("n_comment").isNull()).count() == n
    assert df.where(F.col("n_comment") == "new").count() == n


def test_apply_changes_upsert_delete_lww(spark, sf_dir, tmp_path):
    """CDC merge: in-batch latest-per-key wins, deletes remove, an older
    replayed change loses to stored state, and a batch retry is a no-op."""
    from ght2dm_spark.snapshots import apply_changes

    t = str(tmp_path / "cdc_tbl")
    b1 = spark.createDataFrame(
        [(1, "a", 1, "U"), (2, "b", 1, "U"), (3, "c", 1, "U"),
         (3, "c2", 2, "U")],                      # in-batch newer update
        "k long, v string, ver long, op string",
    )
    apply_changes(spark, t, b1, ["k"], "ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in read_snapshot(spark, t).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1), 3: ("c2", 2)}
    b2 = spark.createDataFrame(
        [(2, None, 3, "D"),                       # delete
         (3, "stale", 1, "U"),                    # older than stored ver 2
         (4, "d", 3, "U")],                       # insert
        "k long, v string, ver long, op string",
    )
    apply_changes(spark, t, b2, ["k"], "ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in read_snapshot(spark, t).collect()}
    assert got == {1: ("a", 1), 3: ("c2", 2), 4: ("d", 3)}
    # retry of the same batch: no effect
    apply_changes(spark, t, b2, ["k"], "ver")
    again = {r["k"]: (r["v"], r["ver"]) for r in read_snapshot(spark, t).collect()}
    assert again == got


def test_cdc_sink_streaming_merge(spark, sf_dir, tmp_path):
    """The foreachBatch CDC sink merges a streaed change feed: final
    state is one row per event_id (all ops are upserts here), equal to
    the batch distinct."""
    from ght2dm_spark.snapshots import cdc_sink

    t = str(tmp_path / "cdc_stream_tbl")
    stream = (
        read_events_stream(spark, sf_dir)
        .select(
            F.col("event_id").alias("k"),
            F.col("event_type").alias("v"),
            F.col("event_id").alias("ver"),
            F.lit("U").alias("op"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(cdc_sink(t, ["k"], "ver"))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ght2dm-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batch = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert read_snapshot(spark, t).count() == n_batch
