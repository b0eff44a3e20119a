"""Incremental aggregate maintenance: refreshes process only appended
files, the merged state equals a full recompute after every refresh,
and a crash between source-append and refresh loses nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.incremental import refresh_aggregate, verify_aggregate
from ght2dm_spark.io import load_table
from ght2dm_spark.snapshots import (
    commit,
    prepare_commit,
    read_snapshot,
)

AGGS = {
    "n_orders": ("count", None),
    "total_cents": ("sum", "price_c"),
    "min_order": ("min", "o_orderkey"),
    "max_order": ("max", "o_orderkey"),
}


def _slice(orders, lo, hi):
    return orders.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
    ).withColumn("price_c", F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))


def test_incremental_refresh_equals_full_recompute(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    commit(prepare_commit(_slice(orders, 0, 400), src, mode="append"))
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    assert verify_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    # two more appends, one refresh each — each refresh reads only the delta
    for lo, hi in [(400, 900), (900, 10**9)]:
        commit(prepare_commit(_slice(orders, lo, hi), src, mode="append"))
        assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
        assert verify_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    # totals line up with a direct aggregate over the raw table
    got = {
        r["o_orderstatus"]: r["n_orders"]
        for r in read_snapshot(spark, dst).collect()
    }
    want = {
        r["o_orderstatus"]: r["cnt"]
        for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == want


def test_refresh_is_noop_without_new_data(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    commit(prepare_commit(_slice(orders, 0, 500), src, mode="append"))
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    # nothing appended since → no new commit, state unchanged
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS) is False
    assert verify_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)


def test_crashed_refresh_reprocesses_same_delta(spark, sf_dir, tmp_path):
    """A refresh that dies before its commit leaves the recorded source
    version untouched; the rerun covers the same delta exactly once."""
    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    commit(prepare_commit(_slice(orders, 0, 500), src, mode="append"))
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    commit(prepare_commit(_slice(orders, 500, 10**9), src, mode="append"))
    # simulate the crash: the delta was computed but never committed —
    # i.e. nothing happened; the next refresh sees the same increment
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    assert verify_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)


def test_compaction_invalidates_increment_path(spark, sf_dir, tmp_path):
    """After a source overwrite (here with its own rows, as a compaction
    would) the append-ancestor containment breaks; the refresh must
    raise (rebuild signal), never double-count."""
    import pytest

    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    commit(prepare_commit(_slice(orders, 0, 500), src, mode="append"))
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    commit(prepare_commit(_slice(orders, 500, 10**9), src, mode="append"))
    commit(prepare_commit(read_snapshot(spark, src), src, mode="overwrite"))
    with pytest.raises(ValueError, match="append-ancestor"):
        refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)


def test_refresh_join_is_incremental_and_exact(spark, sf_dir, tmp_path):
    """dest = orders ⋈ customer maintained via the delta-join identity:
    appends on BOTH sides are folded in as one append commit of
    ΔL⋈R₀ ∪ L₀⋈ΔR ∪ ΔL⋈ΔR; the result must equal the full recompute
    row-for-row, and the refresh commit must be an APPEND (O(delta)),
    never an overwrite."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    from ght2dm_spark.incremental import read_join_view, refresh_join
    from ght2dm_spark.io import load_table
    from ght2dm_spark.snapshots import commit, history, prepare_commit, read_snapshot

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).withColumnRenamed("c_custkey", "o_custkey")
    lsrc, rsrc, dest = (
        str(tmp_path / "o"), str(tmp_path / "c"), str(tmp_path / "j"),
    )
    o1 = o.filter(F.col("o_orderkey") % 3 == 0)
    c1 = c.filter(F.col("o_custkey") % 2 == 0)
    commit(prepare_commit(o1, lsrc))
    commit(prepare_commit(c1, rsrc))

    assert refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])
    assert not refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])  # no-op

    # append to both sides, refresh, compare vs full recompute
    commit(prepare_commit(o.filter(F.col("o_orderkey") % 3 == 1), lsrc, mode="append"))
    commit(prepare_commit(c.filter(F.col("o_custkey") % 2 == 1), rsrc, mode="append"))
    assert refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])

    got = read_join_view(spark, dest)
    full = read_snapshot(spark, lsrc).join(read_snapshot(spark, rsrc), "o_custkey")
    assert got.count() == full.count() > 0
    cols = sorted(got.columns)
    assert (
        got.select(cols).exceptAll(full.select(cols)).isEmpty()
        and full.select(cols).exceptAll(got.select(cols)).isEmpty()
    )
    # the second refresh was an append commit (delta-sized), not a rewrite
    last = history(dest)[-1]
    m = json.loads((Path(dest) / "_manifests" / last["manifest"]).read_text())
    assert m["mode"] == "append"
    assert m["meta"]["left_version"] == history(lsrc)[-1]["seq"]


def test_refresh_retracts_deletes_arithmetically(spark, sf_dir, tmp_path):
    """A count/sum view folds merge-on-read deletes in as NEGATIVE
    partials — state after the refresh equals a full recompute, and a
    group whose every row was deleted disappears entirely."""
    from ght2dm_spark.snapshots import delete_rows

    aggs = {"n": ("count", None), "cents": ("sum", "price_c")}
    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    commit(prepare_commit(_slice(orders, 0, 600), src, mode="append"))
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], aggs)

    # delete every 'P' order (empties that group) plus some 'O'/'F' rows
    base = read_snapshot(spark, src)
    victims = base.filter(
        (F.col("o_orderstatus") == "P") | (F.col("o_orderkey") % 7 == 0)
    ).select("o_orderkey")
    assert victims.count() > 0
    commit(delete_rows(victims, src))

    # delete-only window (no appended files) must still refresh
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], aggs)
    assert verify_aggregate(spark, src, dst, ["o_orderstatus"], aggs)
    got = {r["o_orderstatus"] for r in read_snapshot(spark, dst).collect()}
    assert "P" not in got and got  # emptied group dropped, others remain

    # appends and deletes sharing one window also reconcile
    commit(prepare_commit(_slice(orders, 600, 10**9), src, mode="append"))
    commit(
        delete_rows(
            read_snapshot(spark, src)
            .filter(F.col("o_orderkey") % 11 == 0)
            .select("o_orderkey"),
            src,
        )
    )
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], aggs)
    assert verify_aggregate(spark, src, dst, ["o_orderstatus"], aggs)


def test_refresh_recomputes_affected_groups_for_minmax(
    spark, sf_dir, tmp_path
):
    """Deleting a group's current extreme row cannot be retracted from
    min/max state — the refresh recomputes exactly the touched groups
    and the result still equals a full recompute."""
    from ght2dm_spark.snapshots import delete_rows

    orders = load_table(spark, sf_dir, "orders")
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    commit(prepare_commit(_slice(orders, 0, 10**9), src, mode="append"))
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)

    # delete the max-key row of every group — the exact case negation
    # can't handle
    base = read_snapshot(spark, src)
    tops = base.groupBy("o_orderstatus").agg(
        F.max("o_orderkey").alias("o_orderkey")
    ).select("o_orderkey")
    commit(delete_rows(tops, src))
    assert refresh_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)
    assert verify_aggregate(spark, src, dst, ["o_orderstatus"], AGGS)


def test_retraction_renulls_all_null_sums(spark, tmp_path):
    """Retraction keeps SQL NULL semantics: when the deleted rows carried
    a group's only non-NULL sum inputs, the maintained sum goes back to
    NULL (not arithmetic 0) while the group itself survives."""
    from ght2dm_spark.snapshots import delete_rows

    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    aggs = {"n": ("count", None), "s": ("sum", "v")}
    rows = [(1, 10, 3), (2, 10, None), (3, 20, 5)]
    commit(
        prepare_commit(
            spark.createDataFrame(rows, "id long, k long, v long"), src
        )
    )
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    commit(delete_rows(spark.createDataFrame([(1,)], "id long"), src))
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    got = {r["k"]: (r["n"], r["s"]) for r in read_snapshot(spark, dst).collect()}
    assert got == {10: (1, None), 20: (1, 5)}


def test_legacy_state_without_maintenance_columns_rebuilds(spark, tmp_path):
    """An unpinned dest — state this module did not write: no
    view_def pin and no hidden columns — is rebuilt in place by the
    next refresh, which keeps working (including through later
    deletes)."""
    from ght2dm_spark.snapshots import delete_rows

    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    aggs = {"n": ("count", None)}
    commit(
        prepare_commit(
            spark.createDataFrame([(1, 1), (1, 2), (2, 3)], "k long, id long"),
            src,
        )
    )
    # hand-write an unpinned state: correct values, no __cnt, no
    # view_def, source version pinned
    legacy = spark.createDataFrame([(1, 2), (2, 1)], "k long, n long")
    from ght2dm_spark.snapshots import history

    ver = history(src)[-1]["seq"]
    commit(prepare_commit(legacy, dst, meta={"source_version": ver}))
    commit(
        prepare_commit(
            spark.createDataFrame([(2, 4)], "k long, id long"),
            src,
            mode="append",
        )
    )
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    commit(delete_rows(spark.createDataFrame([(3,)], "id long"), src))
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)


def test_refresh_join_retracts_deletes_with_signed_weights(
    spark, sf_dir, tmp_path
):
    """Merge-on-read deletes on either (or both) sides fold into the
    maintained join as −1-weighted output rows; the consolidated view
    equals the full recompute after every window, including the
    both-sides-deleted cross term whose (−1)·(−1) weight must cancel
    to the correct net."""
    from ght2dm_spark.incremental import (
        consolidate_join,
        read_join_view,
        refresh_join,
        verify_join,
    )
    from ght2dm_spark.snapshots import delete_rows

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    lsrc, rsrc, dest = (
        str(tmp_path / "o"), str(tmp_path / "c"), str(tmp_path / "j"),
    )
    commit(prepare_commit(o, lsrc))
    commit(prepare_commit(c, rsrc))
    assert refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])
    assert verify_join(spark, lsrc, rsrc, dest, on=["o_custkey"])

    def _check():
        got = read_join_view(spark, dest)
        full = read_snapshot(spark, lsrc).join(
            read_snapshot(spark, rsrc), "o_custkey"
        )
        cols = sorted(full.columns)
        a, b = full.select(cols), got.select(cols)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        assert verify_join(spark, lsrc, rsrc, dest, on=["o_custkey"])

    # left-side-only delete window
    commit(
        delete_rows(
            read_snapshot(spark, lsrc)
            .filter(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey"),
            lsrc,
        )
    )
    assert refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])
    _check()

    # both sides delete in ONE window — exercises the ΔL⋈ΔR (+1) term
    surviving = read_snapshot(spark, lsrc)
    victims_l = surviving.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey"
    )
    victims_r = (
        surviving.join(victims_l, "o_orderkey")
        .select("o_custkey")
        .distinct()
        .limit(20)
    )
    assert victims_l.count() > 0 and victims_r.count() > 0
    commit(delete_rows(victims_l, lsrc))
    commit(delete_rows(victims_r, rsrc))
    assert refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])
    _check()

    # appends and deletes sharing a window
    commit(
        prepare_commit(
            spark.createDataFrame(
                [(10**9, 1), (10**9 + 1, 2)], "o_orderkey long, o_custkey long"
            ),
            lsrc,
            mode="append",
        )
    )
    commit(
        delete_rows(spark.createDataFrame([(9,)], "o_orderkey long"), lsrc)
    )
    assert refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])
    _check()

    # consolidation folds the z-set without changing the view, and the
    # pinned versions survive (verify_join still passes)
    before = read_join_view(spark, dest).count()
    assert consolidate_join(spark, dest)
    assert read_join_view(spark, dest).count() == before
    _check()


def test_read_increment_upto_version_bounds_the_window(spark, tmp_path):
    """The (since, upto] window must be exact: rows committed after
    upto_version stay out — the property refresh jobs rely on to record
    precisely the version they folded in (no double-counting)."""
    from ght2dm_spark.snapshots import (
        commit,
        history,
        prepare_commit,
        read_increment,
    )

    table = str(tmp_path / "t")

    def add(rows, mode):
        commit(
            prepare_commit(
                spark.createDataFrame(rows, "k long, v long"), table, mode=mode
            )
        )
        return history(table)[-1]["seq"]

    v1 = add([(1, 1)], "overwrite")
    v2 = add([(2, 2)], "append")
    add([(3, 3)], "append")  # lands AFTER the window
    got = {
        (r.k, r.v)
        for r in read_increment(
            spark, table, since_version=v1, upto_version=v2
        ).collect()
    }
    assert got == {(2, 2)}


def test_verify_aggregate_ignores_post_refresh_appends(spark, tmp_path):
    """The audit recomputes at the PINNED source version: an append
    landing after the refresh must not fail a healthy derived table."""
    from ght2dm_spark.incremental import refresh_aggregate, verify_aggregate
    from ght2dm_spark.snapshots import commit, prepare_commit

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    aggs = {"n": ("count", None), "s": ("sum", "v")}
    commit(
        prepare_commit(
            spark.createDataFrame([(1, 5), (1, 7), (2, 1)], "k long, v long"),
            src,
        )
    )
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    # fresh source data the derived table has not folded in yet
    commit(
        prepare_commit(
            spark.createDataFrame([(1, 100)], "k long, v long"),
            src,
            mode="append",
        )
    )
    assert verify_aggregate(spark, src, dst, ["k"], aggs), (
        "audit must verify maintenance at the covered version, not freshness"
    )
    # after the next refresh the new rows are covered and it still holds
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)


def test_aggregate_sink_merges_batches_exactly_once(spark, tmp_path):
    """The continuous-aggregate sink: each batch's partial merges into
    state; a replayed or stale batch_id is a no-op (the foreachBatch
    retry contract); the final state equals a full recompute."""
    from ght2dm_spark.incremental import aggregate_sink
    from ght2dm_spark.snapshots import read_snapshot

    dst = str(tmp_path / "cagg")
    aggs = {"n": ("count", None), "s": ("sum", "v")}
    sink = aggregate_sink(dst, ["k"], aggs)

    b0 = spark.createDataFrame([(1, 5), (1, None), (2, 2)], "k long, v long")
    b1 = spark.createDataFrame([(1, 1), (3, 7)], "k long, v long")
    sink(b0, 0)
    sink(b1, 1)

    def state():
        return {
            r["k"]: (r["n"], r["s"])
            for r in read_snapshot(spark, dst).collect()
        }

    want = {1: (3, 6), 2: (1, 2), 3: (1, 7)}
    assert state() == want
    # replay of the last batch and a stale earlier id must both no-op
    sink(b1, 1)
    sink(b0, 0)
    assert state() == want


def test_aggregate_sink_under_real_stream(spark, tmp_path):
    """End-to-end: a file-source stream split into multiple micro-
    batches (maxFilesPerTrigger=1) maintained by aggregate_sink equals
    the batch groupBy over the same rows — the continuous-aggregate
    freshness tier of the same view refresh_aggregate maintains."""
    from ght2dm_spark.incremental import aggregate_sink
    from ght2dm_spark.snapshots import last_streamed_batch, read_snapshot

    src_dir = str(tmp_path / "in")
    rows = [(i % 7, i % 11, i) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long, id long")
    df.repartition(4).write.parquet(src_dir)

    dst = str(tmp_path / "cagg")
    aggs = {
        "n": ("count", None),
        "s": ("sum", "v"),
        "mx": ("max", "id"),
    }
    stream = spark.readStream.schema("k long, v long, id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(aggregate_sink(dst, ["k"], aggs))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert last_streamed_batch(dst) is not None and last_streamed_batch(dst) >= 1

    got = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in read_snapshot(spark, dst).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.max("id").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_changefeed_sink_is_order_independent_and_exact(spark, tmp_path):
    """The z-set sink: signed partials commute, so even a retraction
    processed BEFORE its matching insert (transiently negative state)
    converges to the exact view once the feed completes; updates are
    D(before)+I(after); replay is a no-op; the consumable view filters
    dead groups and re-NULLs emptied sums at read time."""
    from ght2dm_spark.incremental import (
        changefeed_aggregate_sink,
        read_aggregate_view,
    )

    dst = str(tmp_path / "zset")
    aggs = {"n": ("count", None), "s": ("sum", "v")}
    sink = changefeed_aggregate_sink(dst, ["k"], aggs)
    schema = "op string, k long, v long"

    # batch 0 arrives with a retraction whose insert is still in flight
    sink(spark.createDataFrame([("D", 1, 5), ("I", 2, 3)], schema), 0)
    mid = read_aggregate_view(spark, dst)
    assert {r["k"] for r in mid.collect()} == {2}  # negative group hidden
    # batch 1: the late insert, an update of k=2 (3 -> 10), an all-NULL
    # survivor for k=4, and a group that nets to zero (k=9)
    sink(
        spark.createDataFrame(
            [
                ("I", 1, 5),
                ("D", 2, 3),
                ("I", 2, 10),
                ("I", 4, None),
                ("I", 4, 6),
                ("D", 4, 6),
                ("I", 9, 1),
                ("D", 9, 1),
            ],
            schema,
        ),
        1,
    )
    got = {
        r["k"]: (r["n"], r["s"])
        for r in read_aggregate_view(spark, dst).collect()
    }
    # k=1: insert+retraction cancel to the inserted row?  No: D(1,5) in
    # batch 0 and I(1,5) in batch 1 cancel exactly -> group 1 nets to 0
    # rows and is hidden; k=2 updated to 10; k=4 keeps only the NULL row
    # (sum re-NULLs); k=9 netted out.
    assert got == {2: (1, 10), 4: (1, None)}
    # replayed batch ids are no-ops
    sink(spark.createDataFrame([("I", 99, 1)], schema), 1)
    sink(spark.createDataFrame([("I", 99, 1)], schema), 0)
    assert {
        r["k"] for r in read_aggregate_view(spark, dst).collect()
    } == {2, 4}


def test_changefeed_sink_rejects_minmax_views(spark, tmp_path):
    import pytest

    from ght2dm_spark.incremental import changefeed_aggregate_sink

    with pytest.raises(ValueError, match="runner-up"):
        changefeed_aggregate_sink(
            str(tmp_path / "t"), ["k"], {"m": ("min", "v")}
        )


def test_sink_refuses_state_without_maintenance_columns(spark, tmp_path):
    """A sink pointed at an unpinned dest (no view_def, no companion
    columns) must refuse (it cannot rebuild — the table is not its
    source), never silently overwrite the prior state."""
    import pytest

    from ght2dm_spark.incremental import aggregate_sink

    dst = str(tmp_path / "legacy")
    commit(
        prepare_commit(spark.createDataFrame([(1, 2)], "k long, n long"), dst)
    )
    sink = aggregate_sink(dst, ["k"], {"n": ("count", None)})
    with pytest.raises(ValueError, match="maintenance column"):
        sink(spark.createDataFrame([(1,)], "k long"), 0)


def test_sink_and_refresh_produce_identical_state(spark, sf_dir, tmp_path):
    """One aggregate definition, two freshness tiers: feeding the same
    rows through per-batch aggregate_sink merges and through
    refresh_aggregate over snapshot appends must produce EXACTLY the
    same state rows — maintenance columns included."""
    from ght2dm_spark.incremental import aggregate_sink, refresh_aggregate
    from ght2dm_spark.snapshots import read_snapshot

    orders = load_table(spark, sf_dir, "orders")
    batches = [
        _slice(orders, lo, hi).select(
            "o_orderstatus", "price_c", "o_orderkey"
        )
        for lo, hi in [(0, 400), (400, 900), (900, 10**9)]
    ]

    src = str(tmp_path / "src")
    via_refresh = str(tmp_path / "refresh")
    via_sink = str(tmp_path / "sink")
    sink = aggregate_sink(via_sink, ["o_orderstatus"], AGGS)
    for i, b in enumerate(batches):
        commit(prepare_commit(b, src, mode="append"))
        assert refresh_aggregate(
            spark, src, via_refresh, ["o_orderstatus"], AGGS
        )
        sink(b, i)
        a = read_snapshot(spark, via_refresh)
        s = read_snapshot(spark, via_sink)
        assert sorted(a.columns) == sorted(s.columns)
        cols = sorted(a.columns)
        assert (
            a.select(cols).exceptAll(s.select(cols)).isEmpty()
            and s.select(cols).exceptAll(a.select(cols)).isEmpty()
        ), f"state diverged after batch {i}"


def test_changefeed_sink_state_keeps_the_refresh_types(spark, tmp_path):
    """The changefeed sink folds its signed rows through the refresh's
    partial builder: every state column has the refresh's type (a
    decimal sum negates a retracted value, it is never multiplied by
    the sign, which would widen it), and the two views agree."""
    from decimal import Decimal

    from ght2dm_spark.incremental import (
        changefeed_aggregate_sink,
        read_aggregate_view,
        refresh_aggregate,
    )

    aggs = {"n": ("count", None), "s": ("sum", "v"), "a": ("avg", "v")}
    rows = [(1, Decimal("1.25")), (1, None), (2, Decimal("-3.50"))]
    schema = "k long, v decimal(12,2)"
    src, via_refresh, via_sink = (
        str(tmp_path / name) for name in ("src", "refresh", "sink")
    )
    commit(prepare_commit(spark.createDataFrame(rows, schema), src))
    assert refresh_aggregate(spark, src, via_refresh, ["k"], aggs)
    feed = [("I", k, v) for k, v in rows]
    feed += [("I", 3, Decimal("9.99")), ("D", 3, Decimal("9.99"))]
    sink = changefeed_aggregate_sink(via_sink, ["k"], aggs)
    sink(spark.createDataFrame(feed, "op string, " + schema), 0)
    got = dict(read_snapshot(spark, via_sink).dtypes)
    assert got == dict(read_snapshot(spark, via_refresh).dtypes)
    assert got["s"] == "decimal(22,2)"
    a = read_aggregate_view(spark, via_refresh)
    b = read_aggregate_view(spark, via_sink).select(a.columns)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_delete_window_refresh_on_schema_evolved_source(spark, tmp_path):
    """Every read inside a delete-window refresh — including the
    removed-rows scan — must plan the schema-evolved source at its
    recorded/merged schema, not from one arbitrary footer: here the
    seed file lacks the sum column and carries a narrower key type, so
    a one-footer plan either misses ``v`` or mis-types ``k``.  The
    audit (verify_aggregate) must plan the same way."""
    from ght2dm_spark.snapshots import delete_rows

    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    aggs = {"n": ("count", None), "s": ("sum", "v")}
    # seed: no column v, int k
    commit(
        prepare_commit(
            spark.createDataFrame([(1, 10), (2, 10), (3, 20)], "id int, k int"),
            src,
        )
    )
    # evolution: v appears, k widens to bigint
    commit(
        prepare_commit(
            spark.createDataFrame(
                [(4, 10, 7), (5, 20, 9)], "id bigint, k bigint, v bigint"
            ),
            src,
            mode="append",
        )
    )
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    # a delete commit whose window refresh must semi-join the PRE-window
    # snapshot (mixed files) with the delete keys: ids 1 (no-v file) and
    # 4 (v-bearing file)
    commit(delete_rows(spark.createDataFrame([(1,), (4,)], "id bigint"), src))
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    got = {r["k"]: (r["n"], r["s"]) for r in read_snapshot(spark, dst).collect()}
    assert got == {10: (1, None), 20: (2, 9)}


def test_minmax_recompute_prunes_scan_to_affected_groups(spark, tmp_path):
    """The min/max affected-group recompute passes footer-prune bounds
    for the touched groups' key range — a delete clustered in one file's
    range must not rescan the other files — and skips the prune on a key
    column whose affected groups include NULL (parquet stats ignore
    NULLs, so bounds could drop the NULL group's files)."""
    import ght2dm_spark.incremental as inc
    from ght2dm_spark.snapshots import delete_rows

    aggs = {"n": ("count", None), "mn": ("min", "v"), "mx": ("max", "v")}
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    # two files clustered by group range, plus a NULL-group row in the
    # second file
    commit(
        prepare_commit(
            spark.createDataFrame(
                [(1, 10, 5), (2, 10, 8), (3, 11, 2)], "id long, k long, v long"
            ).coalesce(1),
            src,
        )
    )
    commit(
        prepare_commit(
            spark.createDataFrame(
                [(4, 100, 50), (5, None, 7), (6, None, 3)],
                "id long, k long, v long",
            ).coalesce(1),
            src,
            mode="append",
        )
    )
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)

    calls = []
    real = inc.read_snapshot

    def spy(spark_, path, **kw):
        calls.append(kw.get("prune"))
        return real(spark_, path, **kw)

    inc.read_snapshot, orig = spy, inc.read_snapshot
    try:
        # delete a row of group 10 only: the recompute scan must carry
        # prune bounds covering just k=10
        commit(delete_rows(spark.createDataFrame([(1,)], "id long"), src))
        assert refresh_aggregate(spark, src, dst, ["k"], aggs)
        pruned = [p for p in calls if p and "k" in p]
        assert pruned and pruned[-1]["k"] == (10, 10)
        calls.clear()
        # delete a NULL-group row: prune on k must be skipped entirely
        commit(delete_rows(spark.createDataFrame([(5,)], "id long"), src))
        assert refresh_aggregate(spark, src, dst, ["k"], aggs)
        assert not [p for p in calls if p and "k" in p]
    finally:
        inc.read_snapshot = orig
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    got = {
        r["k"]: (r["n"], r["mn"], r["mx"])
        for r in read_snapshot(spark, dst).collect()
    }
    assert got == {10: (1, 8, 8), 11: (1, 2, 2), 100: (1, 50, 50), None: (1, 3, 3)}



def test_changefeed_join_sink_out_of_order_and_replay(spark, tmp_path):
    """The combined-feed join sink is exact under arbitrary batch
    arrival order (an R partner arriving before its L row, a delete
    racing its insert), idempotent under batch replay, and its view
    equals the net join after every batch."""
    from ght2dm_spark.incremental import (
        changefeed_join_sink,
        read_changefeed_join,
    )

    dest = str(tmp_path / "cj")
    sink = changefeed_join_sink(
        dest, on=["k"], left_cols=["k", "lid"], right_cols=["k", "tag"]
    )
    SCHEMA = "side string, op string, k long, lid long, tag string"

    def b(rows):
        return spark.createDataFrame(rows, SCHEMA)

    # batch 0: L rows for keys 1,2 (no partners yet) + R row for key 3
    sink(b([("L", "I", 1, 10, None), ("L", "I", 2, 20, None),
            ("R", "I", 3, None, "c")]), 0)
    assert read_changefeed_join(spark, dest).count() == 0
    # batch 1: partners arrive out of order; plus L row for key 3
    sink(b([("R", "I", 1, None, "a"), ("R", "I", 2, None, "b"),
            ("L", "I", 3, 30, None)]), 1)
    got = {
        (r["k"], r["lid"], r["tag"])
        for r in read_changefeed_join(spark, dest).collect()
    }
    assert got == {(1, 10, "a"), (2, 20, "b"), (3, 30, "c")}
    # batch 2: delete L(2) and R(1) in one batch; duplicate L insert on 3
    sink(b([("L", "D", 2, 20, None), ("R", "D", 1, None, "a"),
            ("L", "I", 3, 31, None)]), 2)
    got = sorted(
        (r["k"], r["lid"], r["tag"])
        for r in read_changefeed_join(spark, dest).collect()
    )
    assert got == [(3, 30, "c"), (3, 31, "c")]
    # replay batch 2 (same id): state unchanged
    sink(b([("L", "D", 2, 20, None), ("R", "D", 1, None, "a"),
            ("L", "I", 3, 31, None)]), 2)
    again = sorted(
        (r["k"], r["lid"], r["tag"])
        for r in read_changefeed_join(spark, dest).collect()
    )
    assert again == got


def test_changefeed_join_sink_rejects_colliding_columns(spark, tmp_path):
    import pytest

    from ght2dm_spark.incremental import changefeed_join_sink

    with pytest.raises(ValueError, match="shared by both sides"):
        changefeed_join_sink(
            str(tmp_path / "x"), on=["k"],
            left_cols=["k", "v"], right_cols=["k", "v"],
        )
    with pytest.raises(ValueError, match="must appear in both"):
        changefeed_join_sink(
            str(tmp_path / "x"), on=["k"],
            left_cols=["k", "a"], right_cols=["b"],
        )


def test_removed_rows_pushes_delete_keys_into_the_scan(spark, tmp_path):
    """The retraction scan carries the delete keys as a pushed IN
    predicate (row-group/dictionary skipping inside files) in addition
    to the manifest-level footer prune — the layer that still bounds a
    uniformly-spread key set, which defeats range pruning by
    construction."""
    from ght2dm_spark.incremental import _removed_rows
    from ght2dm_spark.snapshots import delete_increment_stats, delete_rows

    src = str(tmp_path / "src")
    rows = [(i, i % 5) for i in range(1000)]
    commit(prepare_commit(spark.createDataFrame(rows, "id long, g long"), src))
    # uniformly spread keys: min/max covers the whole range
    commit(
        delete_rows(
            spark.createDataFrame([(3,), (505,), (997,)], "id long"), src
        )
    )
    removed = _removed_rows(
        spark, src, last=0,  # the seed commit's seq (pre-delete)
        dkeys=spark.createDataFrame([(3,), (505,), (997,)], "id long"),
        schema=None, key_stats=delete_increment_stats(src, 0),
        merge_schema=True,
    )
    plan = removed._sc._jvm.PythonSQLUtils.explainString(
        removed._jdf.queryExecution(), "formatted"
    )
    assert "In(id" in plan  # pushed to the parquet scan
    assert {r["id"] for r in removed.collect()} == {3, 505, 997}


def test_refresh_join_and_consolidate_on_schema_evolved_source(
    spark, tmp_path
):
    """A window that both evolves a side's schema (new column) and
    deletes a pre-window row must refresh (the signed delta unions
    frames planned at different schemas — missing columns surface
    NULL), and consolidation must plan the evolved dest at its merged
    schema: an overwrite that planned from one old footer would
    permanently drop the evolved column."""
    from ght2dm_spark.incremental import (
        consolidate_join,
        read_join_view,
        refresh_join,
        verify_join,
    )
    from ght2dm_spark.snapshots import delete_rows

    lsrc, rsrc, dest = (
        str(tmp_path / "L"), str(tmp_path / "R"), str(tmp_path / "J"),
    )
    commit(
        prepare_commit(
            spark.createDataFrame([(1, 10), (2, 20)], "k long, lid long"),
            lsrc,
        )
    )
    commit(
        prepare_commit(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string"),
            rsrc,
        )
    )
    assert refresh_join(spark, lsrc, rsrc, dest, on=["k"])
    # one window: append with NEW column extra + delete a pre-window row
    commit(
        prepare_commit(
            spark.createDataFrame(
                [(1, 11, 7)], "k long, lid long, extra long"
            ),
            lsrc,
            mode="append",
        )
    )
    commit(delete_rows(spark.createDataFrame([(20,)], "lid long"), lsrc))
    assert refresh_join(spark, lsrc, rsrc, dest, on=["k"])
    assert verify_join(spark, lsrc, rsrc, dest, on=["k"])

    def _rows():
        return sorted(
            (r["k"], r["lid"], r["extra"], r["tag"])
            for r in read_join_view(spark, dest).collect()
        )

    want = [(1, 10, None, "a"), (1, 11, 7, "a")]
    assert _rows() == want
    # consolidation must not lose the evolved column (every run, not
    # just when the lexicographically-first file happens to carry it)
    assert consolidate_join(spark, dest)
    assert _rows() == want
    assert verify_join(spark, lsrc, rsrc, dest, on=["k"])


def test_join_maintenance_rejects_reserved_weight_columns(spark, tmp_path):
    """A payload column named like the hidden weight columns would be
    silently clobbered by withColumn — every surface refuses loudly."""
    import pytest

    from ght2dm_spark.incremental import changefeed_join_sink, refresh_join

    lsrc, rsrc, dest = (
        str(tmp_path / "L"), str(tmp_path / "R"), str(tmp_path / "J"),
    )
    commit(
        prepare_commit(
            spark.createDataFrame([(1, 5)], "k long, __w long"), lsrc
        )
    )
    commit(
        prepare_commit(spark.createDataFrame([(1, "a")], "k long, t string"), rsrc)
    )
    with pytest.raises(ValueError, match="reserved weight"):
        refresh_join(spark, lsrc, rsrc, dest, on=["k"])
    with pytest.raises(ValueError, match="reserved weight"):
        changefeed_join_sink(
            dest, on=["k"], left_cols=["k", "__wl"], right_cols=["k", "t"]
        )
    with pytest.raises(ValueError, match="feed tags"):
        changefeed_join_sink(
            dest, on=["k"], left_cols=["k", "op"], right_cols=["k", "t"]
        )


def test_refresh_avg_maintained_exactly(spark, tmp_path):
    """avg is first-class: the state carries its exact (sum, non-NULL
    count) companions, retraction is arithmetic, a group whose non-NULL
    inputs all vanish re-NULLs its avg while count survives, and the
    audit (which recomputes with F.avg) passes after every window."""
    from ght2dm_spark.snapshots import delete_rows

    aggs = {"n": ("count", None), "m": ("avg", "v")}
    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    rows = [(1, 10, 4), (2, 10, None), (3, 10, 8), (4, 20, 5)]
    commit(
        prepare_commit(
            spark.createDataFrame(rows, "id long, k long, v long"), src
        )
    )
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    got = {r["k"]: (r["n"], r["m"]) for r in read_snapshot(spark, dst).collect()}
    assert got == {10: (3, 6.0), 20: (1, 5.0)}
    # append + delete in one window: group 10 loses a non-NULL input
    commit(
        prepare_commit(
            spark.createDataFrame([(5, 20, 7)], "id long, k long, v long"),
            src, mode="append",
        )
    )
    commit(delete_rows(spark.createDataFrame([(3,)], "id long"), src))
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    got = {r["k"]: (r["n"], r["m"]) for r in read_snapshot(spark, dst).collect()}
    assert got == {10: (2, 4.0), 20: (2, 6.0)}
    # delete the last non-NULL input of group 10: avg re-NULLs, count stays
    commit(delete_rows(spark.createDataFrame([(1,)], "id long"), src))
    assert refresh_aggregate(spark, src, dst, ["k"], aggs)
    assert verify_aggregate(spark, src, dst, ["k"], aggs)
    got = {r["k"]: (r["n"], r["m"]) for r in read_snapshot(spark, dst).collect()}
    assert got == {10: (1, None), 20: (2, 6.0)}


def test_changefeed_sink_maintains_avg(spark, tmp_path):
    """The z-set sink maintains avg through out-of-order retractions:
    the committed state is the raw signed (sum, count) algebra and the
    view divides — so an update (D old + I new) lands exactly even when
    split across batches in either order."""
    from ght2dm_spark.incremental import (
        changefeed_aggregate_sink,
        read_aggregate_view,
    )

    dst = str(tmp_path / "t")
    sink = changefeed_aggregate_sink(
        dst, ["k"], {"n": ("count", None), "m": ("avg", "v")}
    )
    S = "op string, k long, v long"
    # batch 0: retraction of a not-yet-seen row (out-of-order update)
    sink(spark.createDataFrame([("D", 1, 4)], S), 0)
    assert read_aggregate_view(spark, dst).count() == 0
    # batch 1: the original insert + its replacement + another group
    sink(
        spark.createDataFrame(
            [("I", 1, 4), ("I", 1, 10), ("I", 2, None)], S
        ),
        1,
    )
    got = {
        r["k"]: (r["n"], r["m"])
        for r in read_aggregate_view(spark, dst).collect()
    }
    assert got == {1: (1, 10.0), 2: (1, None)}


def test_changed_view_definition_rebuilds_or_refuses(spark, tmp_path):
    """The view definition is pinned in the commit meta: redefining a
    maintained output from avg to sum (same state columns would even
    exist) triggers a full rebuild in refresh_aggregate — never a
    semantically-wrong merge of a divided value into a sum — and a
    streaming sink, which cannot rebuild, refuses loudly."""
    import pytest

    from ght2dm_spark.incremental import aggregate_sink

    src, dst = str(tmp_path / "src"), str(tmp_path / "agg")
    rows = [(1, 10, 4), (2, 10, 8)]
    commit(
        prepare_commit(
            spark.createDataFrame(rows, "id long, k long, v long"), src
        )
    )
    assert refresh_aggregate(spark, src, dst, ["k"], {"s": ("avg", "v")})
    got = {r["k"]: r["s"] for r in read_snapshot(spark, dst).collect()}
    assert got == {10: 6.0}
    # redefine s as SUM over the same column; append so the refresh runs
    commit(
        prepare_commit(
            spark.createDataFrame([(3, 10, 1)], "id long, k long, v long"),
            src, mode="append",
        )
    )
    aggs2 = {"s": ("sum", "v")}
    assert refresh_aggregate(spark, src, dst, ["k"], aggs2)
    assert verify_aggregate(spark, src, dst, ["k"], aggs2)
    got = {r["k"]: r["s"] for r in read_snapshot(spark, dst).collect()}
    assert got == {10: 13}  # a wrong merge would have shown 6.0 + 1
    # the sink sees the definition mismatch and refuses
    sink = aggregate_sink(dst, ["k"], {"s": ("avg", "v")})
    with pytest.raises(ValueError, match="different view definition"):
        sink(spark.createDataFrame(rows, "id long, k long, v long"), 99)
