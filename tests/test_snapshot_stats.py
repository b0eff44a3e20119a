"""Manifest column-stats data skipping + Z-order layout.

The snapshot layer records per-file min/max from parquet footers at
commit time; ``snapshot_files(prune=...)`` drops files the stats prove
irrelevant.  Z-ordering makes that pruning effective on every layout
column at once.  Correctness contract throughout: pruned-read + filter
≡ full-read + filter (pruning is a superset guarantee, never a filter).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.layout import zorder_layout, zorder_sql
from ght2dm_spark.snapshots import (
    prepare_commit,
    commit,
    read_snapshot,
    snapshot_files,
    write_table_atomic,
)


def _manifest(table: Path) -> dict:
    name = (table / "CURRENT").read_text().strip()
    with open(table / "_manifests" / name) as f:
        return json.load(f)


def test_manifest_records_footer_stats(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    t = tmp_path / "orders_snap"
    write_table_atomic(orders.coalesce(1), str(t))
    m = _manifest(t)
    assert m["files"] and set(m["stats"]) == set(m["files"])
    st = m["stats"][m["files"][0]]
    lo, hi = st["o_orderkey"]
    row = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert (lo, hi) == (row[0], row[1])
    # string column stats present too (possibly truncated, still bounds)
    slo, shi = st["o_orderstatus"]
    assert slo <= "F" and shi >= "P"


def test_prune_skips_disjoint_append_files(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    t = str(tmp_path / "orders_ranges")
    # three disjoint o_orderkey ranges, one file each, via append commits
    for lo, hi in [(0, 500), (500, 1000), (1000, 10**9)]:
        part = orders.where(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        ).coalesce(1)
        commit(prepare_commit(part, t, mode="append"))
    all_files = snapshot_files(t)
    assert len(all_files) == 3
    pruned = snapshot_files(t, prune={"o_orderkey": (600, 800)})
    assert len(pruned) == 1
    # open bounds work: (None, 400) keeps only the first range's file
    assert len(snapshot_files(t, prune={"o_orderkey": (None, 400)})) == 1
    # correctness: pruned read + filter ≡ full read + filter
    flt = (F.col("o_orderkey") >= 600) & (F.col("o_orderkey") <= 800)
    full = sorted(r[0] for r in read_snapshot(spark, t).where(flt).select("o_orderkey").collect())
    fast = sorted(
        r[0]
        for r in read_snapshot(spark, t, prune={"o_orderkey": (600, 800)})
        .where(flt)
        .select("o_orderkey")
        .collect()
    )
    assert full and fast == full


def test_prune_without_stats_keeps_all_files(spark, sf_dir, tmp_path):
    """Old manifests (or un-stat-able columns) must disable pruning, not
    break it: a stats-less manifest survives prune with every file."""
    orders = load_table(spark, sf_dir, "orders")
    t = tmp_path / "orders_nostats"
    write_table_atomic(orders.limit(100).coalesce(1), str(t))
    name = (t / "CURRENT").read_text().strip()
    mpath = t / "_manifests" / name
    m = json.loads(mpath.read_text())
    del m["stats"]
    mpath.write_text(json.dumps(m))
    files = snapshot_files(str(t), prune={"o_orderkey": (10**12, None)})
    assert len(files) == len(m["files"])
    assert read_snapshot(spark, str(t)).count() == 100


def _morton_py(x: int, y: int) -> int:
    z = 0
    for b in range(16):
        z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_matches_reference_bit_interleave(spark):
    cases = [(3, 5), (0, 0), (65535, 65535), (12345, 54321), (1, 0), (0, 1)]
    df = spark.createDataFrame(cases, "x long, y long")
    z = F.expr(zorder_sql(["x", "y"], "shiftleft({x}, {n})")).alias("z_key")
    got = {
        (r["x"], r["y"]): r["z_key"]
        for r in df.select("x", "y", z).collect()
    }
    assert got == {(x, y): _morton_py(x, y) for x, y in cases}
    assert got[(3, 5)] == 39  # 011 ⨯ 101 interleaved → 100111


def test_zorder_layout_prunes_on_either_dimension(spark, tmp_path):
    """A 64×64 grid z-ordered into 16 files: a narrow range on x ALONE
    (and on y alone) must prune most files — the property a
    lexicographic sort by (x, y) cannot give for y."""
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    t = str(tmp_path / "grid_z")
    write_table_atomic(zorder_layout(grid, ["x", "y"], 16), t)
    n_all = len(snapshot_files(t))
    assert n_all >= 8  # repartitionByRange(16) — allow range-sampler slack
    for col in ("x", "y"):
        kept = snapshot_files(t, prune={col: (10, 17)})
        assert len(kept) <= n_all // 2, f"{col}: kept {len(kept)}/{n_all}"
        flt = (F.col(col) >= 10) & (F.col(col) <= 17)
        full = sorted(
            r[0] for r in read_snapshot(spark, t).where(flt).select("payload").collect()
        )
        fast = sorted(
            r[0]
            for r in read_snapshot(spark, t, prune={col: (10, 17)})
            .where(flt)
            .select("payload")
            .collect()
        )
        assert len(full) == 8 * 64 and fast == full


def test_two_dim_prune_conjunction(spark, tmp_path):
    """Conjunctive prune on both dimensions intersects the survivor
    sets — a point-rectangle query touches a handful of files."""
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    t = str(tmp_path / "grid_z2")
    write_table_atomic(zorder_layout(grid, ["x", "y"], 16), t)
    n_all = len(snapshot_files(t))
    both = snapshot_files(t, prune={"x": (10, 17), "y": (10, 17)})
    only_x = snapshot_files(t, prune={"x": (10, 17)})
    assert len(both) <= len(only_x) <= n_all
    assert len(both) <= max(2, n_all // 4)
    df = read_snapshot(spark, t, prune={"x": (10, 17), "y": (10, 17)})
    got = df.where(
        (F.col("x").between(10, 17)) & (F.col("y").between(10, 17))
    ).count()
    assert got == 64


def test_merge_on_read_deletes(spark, sf_dir, tmp_path):
    """Row deletes without data rewrite: delete_rows stages only a key
    file; reads anti-join it, appends carry it forward, time travel
    still shows the rows, compaction materializes and clears it, and
    vacuum never reclaims a live delete file."""
    from pyspark.sql import functions as F

    from ght2dm_spark.io import load_table
    from ght2dm_spark.snapshots import (
        commit,
        compact_snapshot,
        delete_rows,
        history,
        prepare_commit,
        read_snapshot,
        snapshot_files,
        vacuum,
    )

    table = str(tmp_path / "t")
    base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    commit(prepare_commit(base, table))
    v0 = history(table)[0]["seq"]
    n0 = base.count()
    files_before = sorted(snapshot_files(table))

    # delete two keys — data files must be untouched
    keys = spark.createDataFrame([(0,), (5,)], "n_nationkey bigint")
    commit(delete_rows(keys, table))
    # names only: the delete commit must not rewrite data files
    assert sorted(snapshot_files(table, allow_deletes=True)) == files_before
    live = read_snapshot(spark, table)
    got = {r.n_nationkey for r in live.collect()}
    assert 0 not in got and 5 not in got and len(got) == n0 - 2

    # time travel: the pre-delete version still shows the rows
    old = read_snapshot(spark, table, version=v0)
    assert {r.n_nationkey for r in old.collect()} >= {0, 5}

    # appends carry the deletes forward (schema matches the base files)
    extra = spark.createDataFrame([(900, "NEWLAND")], base.schema)
    commit(prepare_commit(extra, table, mode="append"))
    got2 = {r.n_nationkey for r in read_snapshot(spark, table).collect()}
    assert 900 in got2 and 0 not in got2 and len(got2) == n0 - 2 + 1

    # compaction materializes: same rows, delete files cleared
    compact_snapshot(spark, table, target_file_bytes=1 << 20)
    from ght2dm_spark.snapshots import _load_manifest, _read_current
    from pathlib import Path

    m = _load_manifest(Path(table), _read_current(Path(table)))
    assert not m.get("delete_files")
    got3 = {r.n_nationkey for r in read_snapshot(spark, table).collect()}
    assert got3 == got2

    # vacuum after the delete-era manifests age out still reads clean
    vacuum(table, keep_manifests=1)
    got4 = {r.n_nationkey for r in read_snapshot(spark, table).collect()}
    assert got4 == got2


def test_delete_increment_feeds_incremental_consumers(spark, sf_dir, tmp_path):
    """A consumer that mirrored version v must receive BOTH the added
    rows (read_increment) and the retracted keys (read_delete_increment)
    to stay consistent once merge-on-read deletes land."""
    from ght2dm_spark.io import load_table
    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        history,
        prepare_commit,
        read_delete_increment,
        read_snapshot,
        read_increment,
    )

    table = str(tmp_path / "t")
    base = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    commit(prepare_commit(base, table))
    v0 = history(table)[0]["seq"]

    keys = spark.createDataFrame([(3,), (7,)], "n_nationkey int")
    commit(delete_rows(keys, table))
    extra = spark.createDataFrame([(901, "ADDLAND")], base.schema)
    commit(prepare_commit(extra, table, mode="append"))

    added = read_increment(spark, table, v0)
    dels = read_delete_increment(spark, table, v0)
    assert {r.n_nationkey for r in added.collect()} == {901}
    assert {r.n_nationkey for r in dels.collect()} == {3, 7}

    # mirror replay: base + added − deleted == live snapshot
    mirrored = (
        base.unionByName(added)
        .join(dels, "n_nationkey", "left_anti")
    )
    live = read_snapshot(spark, table)
    assert {tuple(r) for r in mirrored.collect()} == {
        tuple(r) for r in live.collect()
    }


def test_zorder_layout_prunes_wide_domains(spark, tmp_path):
    """Wide-domain layout columns (every id column is one): min-max
    scaling inside zorder_layout is what keeps pruning alive — raw
    low-16-bit interleaving aliases any domain wider than 65536
    (value 5 and value 65541 land adjacent), so each file's min/max
    would span nearly the whole range and keep ALL files.  Same 64×64
    grid as the narrow test, but both dimensions stretched far past
    the 16-bit width."""
    grid = spark.range(64 * 64).select(
        ((F.col("id") % 64) * 100_003).alias("x"),
        ((F.col("id") / 64).cast("long") * 250_007).alias("y"),
        F.col("id").alias("payload"),
    )
    t = str(tmp_path / "grid_wide")
    write_table_atomic(zorder_layout(grid, ["x", "y"], 16), t)
    n_all = len(snapshot_files(t))
    assert n_all >= 8
    for col, step in (("x", 100_003), ("y", 250_007)):
        lo, hi = 10 * step, 17 * step
        kept = snapshot_files(t, prune={col: (lo, hi)})
        assert len(kept) <= n_all // 2, f"{col}: kept {len(kept)}/{n_all}"
        flt = (F.col(col) >= lo) & (F.col(col) <= hi)
        full = sorted(
            r[0]
            for r in read_snapshot(spark, t).where(flt).select("payload").collect()
        )
        fast = sorted(
            r[0]
            for r in read_snapshot(spark, t, prune={col: (lo, hi)})
            .where(flt)
            .select("payload")
            .collect()
        )
        assert len(full) == 8 * 64 and fast == full


def test_delete_is_seq_scoped_reinsert_stays_visible(spark, tmp_path):
    """The Iceberg sequence-scoping rule: a merge-on-read delete applies
    only to rows that existed when it committed.  Re-inserting a deleted
    key in a LATER append must stay visible (pre-fix it was silently
    anti-joined away by the carried delete file), while the original row
    stays deleted — and time travel to the delete version still shows
    the key gone."""
    from ght2dm_spark.snapshots import delete_rows, history

    t = str(tmp_path / "t")
    write_table_atomic(
        spark.createDataFrame([(1, "old"), (2, "keep")], "k long, v string"), t
    )
    commit(delete_rows(spark.createDataFrame([(1,)], "k long"), t))
    del_seq = history(t)[-1]["seq"]
    assert {r.k for r in read_snapshot(spark, t).collect()} == {2}

    commit(
        prepare_commit(
            spark.createDataFrame([(1, "new")], "k long, v string"),
            t,
            mode="append",
        )
    )
    got = {(r.k, r.v) for r in read_snapshot(spark, t).collect()}
    assert got == {(2, "keep"), (1, "new")}  # re-insert visible, old gone
    # time travel: at the delete version the key is absent
    assert {
        r.k for r in read_snapshot(spark, t, version=del_seq).collect()
    } == {2}
    # a second delete of the same key removes the re-inserted row too
    commit(delete_rows(spark.createDataFrame([(1,)], "k long"), t))
    assert {r.k for r in read_snapshot(spark, t).collect()} == {2}


def test_read_prepared_applies_staged_deletes(spark, tmp_path):
    """Reading your own staged (unpublished) snapshot must apply its
    delete files exactly like read_snapshot will after the flip —
    otherwise a two-phase run bakes resurrected rows into downstream
    tables."""
    from ght2dm_spark.snapshots import delete_rows, read_prepared

    t = str(tmp_path / "t")
    write_table_atomic(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), t
    )
    staged = delete_rows(spark.createDataFrame([(1,)], "k long"), t)
    assert {r.k for r in read_prepared(spark, staged).collect()} == {2}
    # CURRENT is unflipped: live readers still see both rows
    assert {r.k for r in read_snapshot(spark, t).collect()} == {1, 2}


def test_vacuum_does_not_break_streaming_exactly_once(spark, tmp_path):
    """The carried stream_batch field keeps last_streamed_batch correct
    after maintenance commits age the batch-bearing manifest out of the
    vacuum horizon — a driver restart must NOT re-append the batch."""
    from ght2dm_spark.snapshots import (
        commit_stream_batch,
        compact_snapshot,
        last_streamed_batch,
        vacuum,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    assert commit_stream_batch(df, t, batch_id=7) is not None
    compact_snapshot(spark, t)
    compact_snapshot(spark, t)
    vacuum(t, keep_manifests=2)
    assert last_streamed_batch(t) == 7
    # the retry guard holds: re-delivering batch 7 is a no-op
    assert commit_stream_batch(df, t, batch_id=7) is None
    assert read_snapshot(spark, t).count() == 1


def test_prune_type_mismatch_keeps_file(spark, tmp_path):
    """Stats are an optimization, never a correctness dependency: a
    prune bound whose type cannot compare against the footer stats
    (numeric bounds on a string column) keeps the file instead of
    raising TypeError at plan time."""
    t = str(tmp_path / "t")
    write_table_atomic(
        spark.createDataFrame([("x", 1), ("y", 2)], "s string, k long"), t
    )
    kept = snapshot_files(t, prune={"s": (10, 20)})
    assert kept == snapshot_files(t)
    assert read_snapshot(spark, t, prune={"s": (10, 20)}).count() == 2


def test_rewrite_small_files_targeted_compaction(spark, tmp_path):
    """Targeted compaction: only sub-threshold files are rewritten; the
    big file keeps its name (and file_seq), the live view is unchanged,
    deletes stay materialized/masked correctly on both sides of the
    rewrite, pre-rewrite versions still time-travel, and the
    append-containment consumers raise across the commit."""
    import pytest

    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        history,
        prepare_commit,
        read_increment,
        read_snapshot,
        rewrite_small_files,
        snapshot_files,
    )

    table = str(tmp_path / "t")

    def mkdf(rows):
        return spark.createDataFrame(rows, "k long, v long").coalesce(1)

    # one BIG file (many rows), then several tiny appends
    commit(prepare_commit(mkdf([(i, i) for i in range(5000)]), table))
    big_file = {Path(p).name for p in snapshot_files(table)}
    for j in range(4):
        commit(
            prepare_commit(
                mkdf([(10_000 + j, j)]), table, mode="append"
            )
        )
    # merge-on-read delete of one big-file key and one small-file key,
    # then RE-APPEND the deleted small key (sequence scoping must keep
    # the re-appended row visible through the rewrite)
    commit(
        delete_rows(spark.createDataFrame([(0,), (10_000,)], "k long"), table)
    )
    commit(prepare_commit(mkdf([(10_000, 77)]), table, mode="append"))
    pre_seq = history(table)[-1]["seq"]
    before = {(r.k, r.v) for r in read_snapshot(spark, table).collect()}
    assert (0, 0) not in before and (10_000, 77) in before
    # names/sizes only (the table carries MOR deletes) — opt in
    n_files_before = len(snapshot_files(table, allow_deletes=True))

    sizes = {
        Path(p).name: Path(p).stat().st_size
        for p in snapshot_files(table, allow_deletes=True)
    }
    big_size = max(sizes.values())
    p = rewrite_small_files(
        spark, table, small_bytes=big_size, target_file_bytes=1 << 30
    )
    assert p is not None

    # names only: kept files carry their masking delete files forward
    after_files = {
        Path(x).name for x in snapshot_files(table, allow_deletes=True)
    }
    assert big_file <= after_files, "big file must be kept, not rewritten"
    assert len(after_files) < n_files_before, "small files must merge"
    after = {(r.k, r.v) for r in read_snapshot(spark, table).collect()}
    assert after == before, "live view must be unchanged by the rewrite"
    # the delete against the kept big file still masks it
    assert (0, 0) not in after
    # time travel to the pre-rewrite version still works
    old = {
        (r.k, r.v)
        for r in read_snapshot(spark, table, version=pre_seq).collect()
    }
    assert old == before
    # append-containment consumers refuse to stream across a rewrite
    with pytest.raises(ValueError):
        read_increment(spark, table, since_version=pre_seq)
    # a second run with nothing small left is a no-op
    assert (
        rewrite_small_files(
            spark, table, small_bytes=2, target_file_bytes=1 << 30
        )
        is None
    )


def test_delete_rows_rejects_null_and_unknown_keys(spark, tmp_path):
    """A NULL key matches nothing in the anti-join and a missing key
    column bricks every later read — both must fail AT DELETE TIME."""
    import pytest

    from ght2dm_spark.snapshots import commit, delete_rows, prepare_commit

    table = str(tmp_path / "t")
    commit(prepare_commit(spark.createDataFrame([(1, 2)], "k long, v long"), table))
    with pytest.raises(ValueError, match="NULL"):
        delete_rows(spark.createDataFrame([(None,)], "k long"), table)
    with pytest.raises(ValueError, match="absent"):
        delete_rows(spark.createDataFrame([(1,)], "kk long"), table)


def test_increment_mirror_sound_across_delete_then_reinsert(spark, tmp_path):
    """Retract-then-add over (read_delete_increment, read_increment)
    must reproduce the live snapshot even when a delete and a re-insert
    of the same key land inside one window (sequence scoping)."""
    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        history,
        prepare_commit,
        read_delete_increment,
        read_increment,
        read_snapshot,
    )

    table = str(tmp_path / "t")

    def mkdf(rows):
        return spark.createDataFrame(rows, "k long, v long")

    commit(prepare_commit(mkdf([(1, 10), (2, 20)]), table))
    v0 = history(table)[-1]["seq"]
    mirror = {(r.k, r.v) for r in read_snapshot(spark, table).collect()}

    # window: append k=3, delete k=1 and k=3, re-append k=3 with new value
    commit(prepare_commit(mkdf([(3, 30)]), table, mode="append"))
    commit(delete_rows(spark.createDataFrame([(1,), (3,)], "k long"), table))
    commit(prepare_commit(mkdf([(3, 31)]), table, mode="append"))

    live = {(r.k, r.v) for r in read_snapshot(spark, table).collect()}
    assert live == {(2, 20), (3, 31)}

    # retract FIRST, then add (the documented mirror order)
    dels = read_delete_increment(spark, table, v0)
    del_keys = {r.k for r in dels.collect()}
    mirror = {(k, v) for (k, v) in mirror if k not in del_keys}
    inc = read_increment(spark, table, v0)
    mirror |= {(r.k, r.v) for r in inc.collect()}
    assert mirror == live, "mirror must reproduce the live snapshot"


def test_compaction_preserves_evolved_schema(spark, tmp_path):
    """Schema-evolved columns must survive compaction and targeted
    rewrite — reading from one footer would silently destroy them."""
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import (
        commit,
        compact_snapshot,
        prepare_commit,
        read_snapshot,
        rewrite_small_files,
    )

    table = str(tmp_path / "t")
    commit(prepare_commit(spark.createDataFrame([(1, 10)], "k long, v long"), table))
    commit(
        prepare_commit(
            spark.createDataFrame([(2, 20, "x")], "k long, v long, c string"),
            table,
            mode="append",
        )
    )
    before = {
        (r.k, r.v, r.c)
        for r in read_snapshot(spark, table, merge_schema=True).collect()
    }
    assert before == {(1, 10, None), (2, 20, "x")}

    compact_snapshot(spark, table, target_file_bytes=1 << 30)
    after = {(r.k, r.v, r.c) for r in read_snapshot(spark, table).collect()}
    assert after == before, "compaction must keep the evolved column"

    # evolve again, then targeted rewrite must also keep it
    commit(
        prepare_commit(
            spark.createDataFrame([(3, 30, "y", 5)], "k long, v long, c string, d long"),
            table,
            mode="append",
        )
    )
    rewrite_small_files(spark, table, small_bytes=1 << 30, target_file_bytes=1 << 30)
    got = {
        (r.k, r.v, r.c, r.d)
        for r in read_snapshot(spark, table, merge_schema=True).collect()
    }
    assert got == {(1, 10, None, None), (2, 20, "x", None), (3, 30, "y", 5)}


def test_commit_tolerates_unstatable_column_types(spark, tmp_path):
    """pyarrow cannot materialize footer min/max for some physical
    types (DECIMAL raises ArrowNotImplementedError) — stats collection
    must SKIP such columns, not crash the commit, and pruning on the
    statable columns must still work."""
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import (
        commit,
        prepare_commit,
        read_snapshot,
        snapshot_files,
    )

    table = str(tmp_path / "dec")
    df = spark.createDataFrame(
        [(1, "1.50"), (2, "2.25")], "k long, v string"
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))
    commit(prepare_commit(df, table))  # used to raise in _footer_stats
    commit(
        prepare_commit(
            spark.createDataFrame([(100, None)], "k long, v string").select(
                "k", F.col("v").cast("decimal(18,2)").alias("v")
            ),
            table,
            mode="append",
        )
    )
    assert read_snapshot(spark, table).count() == 3
    # the long column still prunes (empty part files carry no stats and
    # are conservatively kept — only stat-bearing files drop)
    all_files = snapshot_files(table)
    kept = snapshot_files(table, prune={"k": (50, None)})
    assert len(kept) < len(all_files)
    got = {
        r.k for r in read_snapshot(spark, table, prune={"k": (50, None)}).collect()
    }
    assert got == {100}
    # the decimal column is simply absent from the stats: a prune on it
    # keeps every file
    assert snapshot_files(table, prune={"v": (0, 1)}) == all_files


def test_append_rejects_incompatible_type_change(spark, tmp_path):
    """A cross-family type change (string -> bigint here) would produce
    a table NO read path can plan (plain reads type-mismatch,
    mergeSchema refuses conflicting leaf types) — prepare_commit must
    reject it at commit time, naming the column.  Column ADDITIONS stay
    legal, and same-family WIDTH changes are accepted in either
    direction: the manifest records the widest type and merge-schema
    reads plan the scan at it, so int files upcast to the declared
    bigint."""
    import pytest
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import commit, prepare_commit, read_snapshot

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k int, s string")
    commit(prepare_commit(df, t))
    with pytest.raises(ValueError, match="s: string -> int"):
        prepare_commit(
            df.select("k", F.lit(7).alias("s")), t, mode="append"
        )
    # widening append (int -> bigint) + a new column, then a NARROWER
    # append back (int into the now-bigint table): all legal, and the
    # merge-schema read delivers every row at the declared wide types
    commit(
        prepare_commit(
            spark.createDataFrame(
                [(2**40, "b", 9)], "k long, s string, extra long"
            ),
            t,
            mode="append",
        )
    )
    commit(
        prepare_commit(
            spark.createDataFrame([(3, "c")], "k int, s string"),
            t,
            mode="append",
        )
    )
    got = read_snapshot(spark, t, merge_schema=True)
    assert dict(got.dtypes)["k"] == "bigint"
    assert {r.k for r in got.collect()} == {1, 2**40, 3}


def test_append_widens_decimal_precision_same_scale(spark, tmp_path):
    """Decimal appends widen by precision at the same scale (the reader
    upcasts narrower physicals to the declared precision); a SCALE
    change reinterprets values and stays rejected."""
    import pytest
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import commit, prepare_commit, read_snapshot

    t = str(tmp_path / "t")

    def dec(val, typ):
        return spark.createDataFrame([(val,)], "v string").select(
            F.col("v").cast(typ).alias("v")
        )

    commit(prepare_commit(dec("1.50", "decimal(18,2)"), t))
    commit(prepare_commit(dec("2.25", "decimal(38,2)"), t, mode="append"))
    got = read_snapshot(spark, t, merge_schema=True)
    assert dict(got.dtypes)["v"] == "decimal(38,2)"
    assert {str(r.v) for r in got.collect()} == {"1.50", "2.25"}
    with pytest.raises(ValueError, match="v: decimal"):
        prepare_commit(dec("3.125", "decimal(38,3)"), t, mode="append")


def _strip_schema(table: Path) -> None:
    """Simulate a pre-schema-recording (legacy) manifest."""
    name = (table / "CURRENT").read_text().strip()
    mpath = table / "_manifests" / name
    m = json.loads(mpath.read_text())
    m.pop("schema", None)
    mpath.write_text(json.dumps(m))


def test_legacy_manifest_append_reconstructs_full_schema(spark, tmp_path):
    """Appending onto a pre-upgrade manifest (no recorded schema) must
    reconstruct the PARENT's schema from its footers before recording —
    recording only the append's columns would make merge-schema reads
    (and compaction's rewrite) silently drop legacy-only columns."""
    from ght2dm_spark.snapshots import compact_snapshot

    t = str(tmp_path / "t")
    commit(
        prepare_commit(
            spark.createDataFrame([(1, "keepme")], "a int, b string"), t
        )
    )
    _strip_schema(Path(t))
    # legal column-subset append: only column a
    commit(
        prepare_commit(spark.createDataFrame([(2,)], "a int"), t, mode="append")
    )
    m = _manifest(Path(t))
    assert m["schema"] == {"a": "int", "b": "string"}
    got = read_snapshot(spark, t, merge_schema=True)
    assert set(got.columns) == {"a", "b"}
    assert {r.b for r in got.collect()} == {"keepme", None}
    # compaction reads merge-schema and overwrites: b must survive it
    compact_snapshot(spark, t)
    got = read_snapshot(spark, t, merge_schema=True)
    assert {r.b for r in got.collect()} == {"keepme", None}


def test_legacy_manifest_append_keeps_parent_width(spark, tmp_path):
    """A narrower append onto a legacy bigint table must record the
    parent's bigint (reconstructed from footers), not the append's int —
    else reads plan bigint files at a declared int type and fail."""
    t = str(tmp_path / "t")
    commit(prepare_commit(spark.createDataFrame([(2**40,)], "k long"), t))
    _strip_schema(Path(t))
    commit(
        prepare_commit(spark.createDataFrame([(3,)], "k int"), t, mode="append")
    )
    m = _manifest(Path(t))
    assert m["schema"] == {"k": "bigint"}
    got = read_snapshot(spark, t, merge_schema=True)
    assert dict(got.dtypes)["k"] == "bigint"
    assert {r.k for r in got.collect()} == {2**40, 3}
    # and the fail-fast check still runs against the reconstructed
    # schema: a cross-family change is rejected, not recorded
    import pytest

    _strip_schema(Path(t))
    with pytest.raises(ValueError, match="k: bigint -> string"):
        prepare_commit(
            spark.createDataFrame([("x",)], "k string"), t, mode="append"
        )


def test_legacy_schema_reconstruction_failure_records_nothing(
    spark, tmp_path, monkeypatch
):
    """When the parent's schema cannot be reconstructed (unreadable
    footer, irreconcilable legacy files), the append must record NO
    schema — falling back to footer-mergeSchema reads — rather than a
    wrong declared schema."""
    import ght2dm_spark.snapshots as snap

    t = str(tmp_path / "t")
    commit(
        prepare_commit(
            spark.createDataFrame([(1, "b1")], "a int, b string"), t
        )
    )
    _strip_schema(Path(t))
    monkeypatch.setattr(
        snap, "_parent_schema_from_footers", lambda table, files: None
    )
    commit(
        prepare_commit(spark.createDataFrame([(2,)], "a int"), t, mode="append")
    )
    m = _manifest(Path(t))
    assert "schema" not in m
    got = read_snapshot(spark, t, merge_schema=True)
    assert {r.b for r in got.collect()} == {"b1", None}


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """AS OF TIMESTAMP semantics: the newest snapshot committed
    at-or-before the instant; before the table existed raises; exclusive
    with seq travel; epoch/datetime/ISO forms all accepted; a legacy
    (pre-timestamp) manifest still resolves as the fallback."""
    import datetime as dt
    import time as _time

    import pytest

    t = str(tmp_path / "t")
    commit(prepare_commit(spark.createDataFrame([(1,)], "v int"), t))
    t0 = _time.time()
    _time.sleep(0.05)
    commit(
        prepare_commit(
            spark.createDataFrame([(2,)], "v int"), t, mode="append"
        )
    )
    t1 = _time.time()

    assert {r.v for r in read_snapshot(spark, t, as_of=t0).collect()} == {1}
    assert {r.v for r in read_snapshot(spark, t, as_of=t1).collect()} == {1, 2}
    iso = dt.datetime.fromtimestamp(t0, dt.timezone.utc).isoformat()
    assert {r.v for r in read_snapshot(spark, t, as_of=iso).collect()} == {1}
    # only the seed commit's files (one commit-id prefix)
    seed_files = snapshot_files(t, as_of=t0)
    assert seed_files and len(
        {Path(f).name.split("-")[0] for f in seed_files}
    ) == 1
    assert len(snapshot_files(t)) > len(seed_files)

    hist = __import__("ght2dm_spark.snapshots", fromlist=["history"]).history(t)
    assert all(h["ts"] is not None for h in hist)
    with pytest.raises(FileNotFoundError, match="did not exist"):
        read_snapshot(spark, t, as_of=t0 - 3600)
    with pytest.raises(ValueError, match="not several"):
        read_snapshot(spark, t, version=0, as_of=t0)

    # Legacy manifest without ts: its commit instant is ESTIMATED from
    # the manifest file's mtime (round-7 upper bound — an instant before
    # the estimate resolves to the stamped ancestor, the conservative
    # direction: older data, never future data).  Rewriting the file
    # here reset its mtime to "now", so t1 (captured before the rewrite)
    # now resolves the stamped seed, while an instant at/after the
    # mtime estimate resolves the legacy manifest.
    name = (Path(t) / "CURRENT").read_text().strip()
    mpath = Path(t) / "_manifests" / name
    m = json.loads(mpath.read_text())
    del m["ts"]
    mpath.write_text(json.dumps(m))
    assert {r.v for r in read_snapshot(spark, t, as_of=t1).collect()} == {1}
    assert {
        r.v
        for r in read_snapshot(
            spark, t, as_of=mpath.stat().st_mtime + 1
        ).collect()
    } == {1, 2}


def test_as_of_legacy_manifest_above_stamped_is_bounded_below(spark, tmp_path):
    """A ts-less manifest ABOVE stamped ones was committed after them
    (chain order = commit order), so an instant BEFORE those stamped
    commits must resolve past it — not short-circuit on the unknown."""
    import time as _time

    t = str(tmp_path / "t")
    commit(prepare_commit(spark.createDataFrame([(1,)], "v int"), t))
    t0 = _time.time()
    _time.sleep(0.05)
    commit(
        prepare_commit(spark.createDataFrame([(2,)], "v int"), t, mode="append")
    )
    commit(
        prepare_commit(spark.createDataFrame([(3,)], "v int"), t, mode="append")
    )
    # strip ts from the NEWEST manifest only (an old-writer commit)
    name = (Path(t) / "CURRENT").read_text().strip()
    mpath = Path(t) / "_manifests" / name
    m = json.loads(mpath.read_text())
    del m["ts"]
    mpath.write_text(json.dumps(m))
    # as_of before the second commit: must return the SEED, not the
    # ts-less tip (whose effective instant is bounded below by the
    # stamped second commit)
    assert {r.v for r in read_snapshot(spark, t, as_of=t0).collect()} == {1}
    # live read unaffected
    assert {r.v for r in read_snapshot(spark, t).collect()} == {1, 2, 3}
