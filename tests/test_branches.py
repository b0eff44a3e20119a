"""Snapshot BRANCH layer (snapshots.py): isolation, optimistic
concurrency on branch heads, fast-forward vs divergence, retention
roots, and the reserved namespaces — the engine guarantees the
branch_queries.py declared queries build on.
"""

from __future__ import annotations

import pytest

from ght2dm_spark.snapshots import (
    BranchDivergedError,
    SnapshotConflictError,
    branch_head,
    commit,
    commit_branch,
    create_branch,
    history,
    is_ancestor,
    list_branches,
    merge_base,
    merge_branch,
    prepare_commit,
    prepare_commit_branch,
    read_snapshot,
    tag_snapshot,
    vacuum,
    vacuum_plan,
)


def _t(spark, tmp_path, lo=0, hi=10):
    table = str(tmp_path / "T")
    df = spark.range(lo, hi).withColumnRenamed("id", "k")
    commit(prepare_commit(df, table, mode="overwrite"))
    return table


def _append(spark, table, lo, hi):
    df = spark.range(lo, hi).withColumnRenamed("id", "k")
    commit(prepare_commit(df, table, mode="append"))


def _append_branch(spark, table, branch, lo, hi):
    df = spark.range(lo, hi).withColumnRenamed("id", "k")
    commit_branch(prepare_commit_branch(df, table, branch), branch)


def test_branch_isolation(spark, tmp_path):
    t = _t(spark, tmp_path)
    create_branch(t, "exp")
    _append_branch(spark, t, "exp", 10, 20)
    _append(spark, t, 100, 105)
    assert read_snapshot(spark, t).count() == 15
    assert read_snapshot(spark, t, branch="exp").count() == 20
    # the branch read never sees main's increment and vice versa
    mains = {r.k for r in read_snapshot(spark, t).collect()}
    exps = {r.k for r in read_snapshot(spark, t, branch="exp").collect()}
    assert 100 in mains and 100 not in exps
    assert 15 in exps and 15 not in mains


def test_branch_occ_conflict(spark, tmp_path):
    t = _t(spark, tmp_path)
    create_branch(t, "exp")
    p1 = prepare_commit_branch(
        spark.range(10, 12).withColumnRenamed("id", "k"), t, "exp"
    )
    p2 = prepare_commit_branch(
        spark.range(20, 22).withColumnRenamed("id", "k"), t, "exp"
    )
    commit_branch(p1, "exp")
    with pytest.raises(SnapshotConflictError):
        commit_branch(p2, "exp")
    commit_branch(p2, "exp", force=True)  # explicit last-writer-wins


def test_merge_ff_and_divergence(spark, tmp_path):
    t = _t(spark, tmp_path)
    create_branch(t, "exp")
    _append_branch(spark, t, "exp", 10, 20)
    _append_branch(spark, t, "exp", 20, 25)
    head = branch_head(t, "exp")
    assert merge_branch(t, "exp") == head
    assert read_snapshot(spark, t).count() == 25
    assert len(history(t)) == 3  # the branch lineage IS main history now
    # re-merge of an already-merged branch is a no-op
    assert merge_branch(t, "exp") == head
    # now diverge and refuse
    create_branch(t, "exp2")
    _append_branch(spark, t, "exp2", 30, 35)
    _append(spark, t, 40, 45)
    with pytest.raises(BranchDivergedError):
        merge_branch(t, "exp2")
    base = merge_base(t, "exp2")
    assert base is not None and is_ancestor(t, base, branch_head(t, "exp2"))


def test_branch_reserved_names(spark, tmp_path):
    t = _t(spark, tmp_path)
    with pytest.raises(ValueError, match="reserved"):
        create_branch(t, "main")
    with pytest.raises(ValueError, match="reserved"):
        create_branch(t, "x.tmp-ab12cd34")
    assert list_branches(t) == {}


def test_branch_is_vacuum_root(spark, tmp_path):
    t = _t(spark, tmp_path, 0, 5)
    for i in range(1, 5):
        _append(spark, t, i * 5, (i + 1) * 5)
    tag_snapshot(t, "rel", version=1)
    create_branch(t, "exp", version=2)
    plan = vacuum_plan(t, keep_manifests=1)
    assert [len(plan[k]) for k in
            ("kept_chain", "kept_tag", "kept_branch", "removable")] == [
        1, 1, 1, 2,
    ]
    vacuum(t, keep_manifests=1)
    assert read_snapshot(spark, t, tag="rel").count() == 10
    assert read_snapshot(spark, t, branch="exp").count() == 15
    # the branch stays writable after vacuum (its head survived)
    _append_branch(spark, t, "exp", 100, 103)
    assert read_snapshot(spark, t, branch="exp").count() == 18
