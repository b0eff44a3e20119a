"""Regression pins for the snapshot layer's read-modify-write races
(round-5 review findings): maintenance operations that read the table
and then overwrite it must pin ONE base manifest and chain their
prepare onto it, so a commit landing inside the window raises
SnapshotConflictError instead of silently erasing rows.

The race is made deterministic by landing a concurrent append from
inside the victim's own staging step (monkeypatched _stage_data_files)
— after the victim has read its state, before its commit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import ght2dm_spark.snapshots as snap
from ght2dm_spark.snapshots import (
    SnapshotConflictError,
    apply_changes,
    commit,
    delete_rows,
    last_streamed_batch,
    prepare_commit,
    read_snapshot,
    snapshot_files,
    vacuum,
)


def _mk(spark, rows, schema="k long, v long"):
    return spark.createDataFrame(rows, schema)


def _race_once(monkeypatch, spark, table, racer_rows):
    """Monkeypatch staging so the FIRST staging call (the victim's) is
    followed by a full append commit from a concurrent writer; the
    racer's own staging passes through untouched."""
    orig = snap._stage_data_files
    state = {"armed": True}

    def stage_and_race(df, tbl, commit_id, *a, **k):
        out = orig(df, tbl, commit_id, *a, **k)
        if state["armed"]:
            state["armed"] = False
            racer = _mk(df.sparkSession, racer_rows)
            commit(prepare_commit(racer, table, mode="append"))
        return out

    monkeypatch.setattr(snap, "_stage_data_files", stage_and_race)


def test_apply_changes_raises_instead_of_erasing_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    table = str(tmp_path / "t")
    sch = "k long, v long, ts long"
    commit(prepare_commit(_mk(spark, [(1, 10, 1)], sch), table))
    orig = snap._stage_data_files
    state = {"armed": True}

    def stage_and_race(df, tbl, commit_id, *a, **k):
        out = orig(df, tbl, commit_id, *a, **k)
        if state["armed"]:
            state["armed"] = False
            racer = _mk(df.sparkSession, [(99, 990, 1)], sch)
            commit(prepare_commit(racer, table, mode="append"))
        return out

    monkeypatch.setattr(snap, "_stage_data_files", stage_and_race)
    changes = spark.createDataFrame(
        [(1, 11, 5, "U")], "k long, v long, ts long, op string"
    )
    with pytest.raises(SnapshotConflictError):
        apply_changes(spark, table, changes, ["k"], "ts")
    got = {(r.k, r.v) for r in read_snapshot(spark, table).collect()}
    assert (99, 990) in got


def test_stream_batch_racer_between_watermark_and_prepare(
    spark, tmp_path, monkeypatch
):
    """A racer commits the same batch_id right after commit_stream_batch
    reads CURRENT for its watermark, before it prepares: the call raises
    SnapshotConflictError or skips, and the batch lands once."""
    table = str(tmp_path / "t")
    snap.commit_stream_batch(_mk(spark, [(0, 0)]), table, 0)
    orig = snap._read_current
    state = {"armed": True}

    def read_then_race(tbl):
        name = orig(tbl)
        if state["armed"]:
            state["armed"] = False
            commit(
                prepare_commit(
                    _mk(spark, [(1, 1)]), table, mode="append",
                    meta={"batch_id": 1},
                )
            )
        return name

    monkeypatch.setattr(snap, "_read_current", read_then_race)
    try:
        snap.commit_stream_batch(_mk(spark, [(1, 1)]), table, 1)
    except SnapshotConflictError:
        pass
    monkeypatch.setattr(snap, "_read_current", orig)
    assert sorted(r.k for r in read_snapshot(spark, table).collect()) == [0, 1]
    assert last_streamed_batch(table) == 1


def test_snapshot_files_refuses_delete_bearing_snapshots(spark, tmp_path):
    table = str(tmp_path / "t")
    commit(prepare_commit(_mk(spark, [(1, 10), (2, 20)]), table))
    commit(delete_rows(_mk(spark, [(1,)], "k long"), table))
    with pytest.raises(ValueError, match="merge-on-read deletes"):
        snapshot_files(table)
    assert len(snapshot_files(table, allow_deletes=True)) > 0


def test_stream_batch_watermark_only_advances(spark, tmp_path):
    table = str(tmp_path / "t")
    commit(prepare_commit(_mk(spark, [(1, 10)]), table, meta={"batch_id": 10}))
    assert last_streamed_batch(table) == 10
    # a smaller batch_id (metadata backfill) must NOT regress the mark —
    # a regression would re-open already-committed batches for replay
    commit(
        prepare_commit(
            _mk(spark, [(2, 20)]), table, mode="append", meta={"batch_id": 5}
        )
    )
    assert last_streamed_batch(table) == 10


def test_vacuum_collects_atomic_write_orphans(spark, tmp_path):
    import os

    table = tmp_path / "t"
    commit(prepare_commit(_mk(spark, [(1, 10)]), str(table)))
    # crash leftovers from _atomic_write kills — old enough to be garbage
    dead_m = table / "_manifests" / "m-000099-dead.json.tmp-feedbeef"
    dead_m.write_text("{}")
    dead_c = table / "CURRENT.tmp-cafe"
    dead_c.write_text("garbage")
    os.utime(dead_m, (1, 1))
    os.utime(dead_c, (1, 1))
    # a FRESH tmp may belong to a concurrent writer between its tmp
    # write and os.replace — vacuum must leave it alone
    live_tmp = table / "CURRENT.tmp-beef"
    live_tmp.write_text("mid-flight commit")
    removed = vacuum(str(table), keep_manifests=2)
    assert removed >= 2
    assert not list((table / "_manifests").glob("*.tmp-*"))
    assert list(table.glob("CURRENT.tmp-*")) == [live_tmp], (
        "age gate: fresh tmps survive vacuum"
    )
    # the live snapshot is untouched
    assert read_snapshot(spark, str(table)).count() == 1


def test_vacuum_counts_manifest_removals(spark, tmp_path):
    table = str(tmp_path / "t")
    commit(prepare_commit(_mk(spark, [(1, 10)]), table))
    for i in range(3):
        commit(
            prepare_commit(_mk(spark, [(10 + i, 1)]), table, mode="append")
        )
    # 4 committed versions, keep 2 → ≥2 manifests must count as removed
    removed = vacuum(table, keep_manifests=2)
    assert removed >= 2


def test_refresh_aggregate_raises_instead_of_double_counting(
    spark, tmp_path, monkeypatch
):
    """Two overlapping refreshes must not merge the same delta twice —
    the second must hit SnapshotConflictError (it read dest's state
    before the first one committed)."""
    from ght2dm_spark.incremental import refresh_aggregate

    src_t = str(tmp_path / "src")
    dest = str(tmp_path / "agg")
    commit(prepare_commit(_mk(spark, [(1, 10), (1, 5), (2, 7)]), src_t))
    aggs = {"total": ("sum", "v"), "n": ("count", None)}
    assert refresh_aggregate(spark, src_t, dest, ["k"], aggs)
    # new source delta, then a racer refresh landing mid-merge
    commit(prepare_commit(_mk(spark, [(1, 100)]), src_t, mode="append"))
    orig = snap._stage_data_files
    state = {"armed": True}

    def stage_and_race(df, tbl, commit_id, *a, **k):
        out = orig(df, tbl, commit_id, *a, **k)
        if state["armed"] and str(tbl) == dest:
            state["armed"] = False
            refresh_aggregate(spark, src_t, dest, ["k"], aggs)  # racer wins
        return out

    monkeypatch.setattr(snap, "_stage_data_files", stage_and_race)
    with pytest.raises(SnapshotConflictError):
        refresh_aggregate(spark, src_t, dest, ["k"], aggs)
    # the racer's (single) merge is the surviving state — no double count
    got = {(r.k, r.total, r.n) for r in read_snapshot(spark, dest).collect()}
    assert got == {(1, 115, 3), (2, 7, 1)}


def test_refresh_watermark_survives_compaction(spark, tmp_path):
    """An overwrite of the derived table with its own rows (what a
    compaction commits) must not drop the pinned source_version —
    losing it silently degrades the next refresh to a full reseed and
    breaks verify_aggregate's audit."""
    from ght2dm_spark.incremental import refresh_aggregate, verify_aggregate

    src_t = str(tmp_path / "src")
    dest = str(tmp_path / "agg")
    commit(prepare_commit(_mk(spark, [(1, 10), (2, 7)]), src_t))
    aggs = {"total": ("sum", "v")}
    assert refresh_aggregate(spark, src_t, dest, ["k"], aggs)
    commit(prepare_commit(read_snapshot(spark, dest), dest, mode="overwrite"))
    # watermark intact: nothing new in the source → no commit, and the
    # audit still knows which version the state covers
    assert refresh_aggregate(spark, src_t, dest, ["k"], aggs) is False
    assert verify_aggregate(spark, src_t, dest, ["k"], aggs) is True
