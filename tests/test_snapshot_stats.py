"""Manifest column-stats data skipping, merge-on-read deletes, schema
evolution and time travel in the snapshot layer.

The snapshot layer records per-file min/max from parquet footers at
commit time; ``snapshot_files(prune=...)`` drops files the stats prove
irrelevant.  Correctness contract throughout: pruned-read + filter
≡ full-read + filter (pruning is a superset guarantee, never a filter).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.layout import zorder_sql
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


def test_two_dim_prune_conjunction(spark, tmp_path):
    """Conjunctive prune on both dimensions intersects the survivor
    sets — a point-rectangle query touches a handful of files.  The
    64×64 grid is written as 16 files of 16×16 blocks."""
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    t = str(tmp_path / "grid_z2")
    block = (F.col("x") / 16).cast("int") * 4 + (F.col("y") / 16).cast("int")
    write_table_atomic(grid.repartitionByRange(16, block), t)
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
    still shows the rows, an overwrite with the live rows materializes
    and clears it, and vacuum never reclaims a live delete file."""
    from pyspark.sql import functions as F

    from ght2dm_spark.io import load_table
    from ght2dm_spark.snapshots import (
        commit,
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

    # an overwrite with the live rows materializes: same rows, delete
    # files cleared
    commit(prepare_commit(read_snapshot(spark, table), table, mode="overwrite"))
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


def test_delete_rows_keeps_sticky_meta(spark, tmp_path):
    """A delete commit carries the snapshot-level state it does not
    change: the refresh watermarks and view definition in ``meta`` and
    the streaming watermark, like every other commit."""
    from ght2dm_spark.snapshots import delete_rows

    t = str(tmp_path / "t")
    meta = {"source_version": 3, "view_def": {"n": ["count", None]}}
    commit(
        prepare_commit(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            t,
            meta={**meta, "batch_id": 5},
        )
    )
    commit(delete_rows(spark.createDataFrame([(1,)], "k long"), t))
    m = _manifest(Path(t))
    assert m["mode"] == "delete"
    assert {k: m["meta"][k] for k in meta} == meta
    assert m["stream_batch"] == 5
    assert {r.k for r in read_snapshot(spark, t).collect()} == {2}


def test_vacuum_does_not_break_streaming_exactly_once(spark, tmp_path):
    """The carried stream_batch field keeps last_streamed_batch correct
    after overwrite commits age the batch-bearing manifest out of the
    vacuum horizon — a driver restart must NOT re-append the batch."""
    from ght2dm_spark.snapshots import (
        commit_stream_batch,
        last_streamed_batch,
        vacuum,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    assert commit_stream_batch(df, t, batch_id=7) is not None
    for _ in range(2):
        commit(prepare_commit(read_snapshot(spark, t), t, mode="overwrite"))
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


def test_as_of_timestamp_time_travel(spark, tmp_path):
    """AS OF TIMESTAMP semantics: the newest snapshot committed
    at-or-before the instant; before the table existed raises; exclusive
    with seq travel; epoch/datetime/ISO forms all accepted."""
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
