"""Property tests for the round-9 snapshot-branch layer and the fused
changefeed-join commit.

* Random interleavings of main/branch commits: each lineage's read
  always equals exactly its own commit history (a Python model), the
  fast-forward legality decision matches the model's "did main move
  since the fork?", and after a legal merge main equals the branch.
* Crash injection on the fused sink: a batch whose commit is aborted
  AFTER staging (manifest durable, pointer never flipped) leaves the
  view at the pre-batch state, and the replay produces exactly the
  state an uncrashed run reaches — the single-commit exactly-once
  argument made mechanical.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ght2dm_spark.snapshots import (
    BranchDivergedError,
    commit,
    commit_branch,
    create_branch,
    merge_branch,
    prepare_commit,
    prepare_commit_branch,
    read_snapshot,
)

# each step: (target, lo) — append rows [lo*10, lo*10+10) to main or branch
_steps = st.lists(
    st.tuples(st.sampled_from(["main", "branch"]), st.integers(0, 8)),
    min_size=0,
    max_size=5,
)


@given(steps=_steps)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_branch_interleavings_match_model(spark, tmp_path_factory, steps):
    table = str(tmp_path_factory.mktemp("brprop") / "t")

    def rows(lo):
        return set(range(lo * 10, lo * 10 + 10))

    def df(lo):
        return spark.range(lo * 10, lo * 10 + 10).withColumnRenamed("id", "k")

    commit(prepare_commit(df(100), table, mode="overwrite"))
    create_branch(table, "exp")
    main_model = rows(100)
    branch_model = set(rows(100))
    main_moved = False
    for target, lo in steps:
        if target == "main":
            commit(prepare_commit(df(lo), table, mode="append"))
            main_model |= rows(lo)
            main_moved = True
        else:
            commit_branch(
                prepare_commit_branch(df(lo), table, "exp"), "exp"
            )
            branch_model |= rows(lo)
        got_main = {r.k for r in read_snapshot(spark, table).collect()}
        got_branch = {
            r.k for r in read_snapshot(spark, table, branch="exp").collect()
        }
        assert got_main == main_model
        assert got_branch == branch_model
    branch_committed = branch_model != rows(100)
    if main_moved and branch_committed:
        with pytest.raises(BranchDivergedError):
            merge_branch(table, "exp")
    else:
        merge_branch(table, "exp")
        got = {r.k for r in read_snapshot(spark, table).collect()}
        # ff adopts the branch lineage; if the branch never committed,
        # the merge is a pointer no-op (or flips to the identical head)
        # and main keeps its own history
        assert got == (branch_model if not main_moved else main_model)


def test_fused_sink_crash_before_flip_then_replay(spark, tmp_path, monkeypatch):
    from ght2dm_spark import incremental as inc
    from ght2dm_spark.incremental import (
        changefeed_join_sink,
        read_changefeed_join,
    )
    from ght2dm_spark.snapshots import prepare_commit

    dest = str(tmp_path / "cj")
    sink = changefeed_join_sink(
        dest, on=["k"], left_cols=["k", "lv"], right_cols=["k", "rv"]
    )
    SCHEMA = "side string, op string, k long, lv long, rv long"

    def b(rows):
        return spark.createDataFrame(rows, SCHEMA)

    sink(b([("L", "I", 1, 10, None), ("R", "I", 1, None, 7)]), 0)
    assert {(r.k, r.lv, r.rv) for r in read_changefeed_join(spark, dest).collect()} == {
        (1, 10, 7)
    }

    # crash batch 1 AFTER staging, BEFORE the pointer flip
    real = inc.commit_stream_batch

    def crashing(df, path, batch_id):
        # stage durably via the real prepare (an orphan manifest, like
        # a genuine crash), then die before any pointer flip
        prepare_commit(df, path, mode="append")
        raise RuntimeError("simulated crash between stage and flip")

    monkeypatch.setattr(inc, "commit_stream_batch", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(b([("L", "I", 2, 20, None), ("R", "I", 2, None, 9)]), 1)
    monkeypatch.setattr(inc, "commit_stream_batch", real)
    # nothing published: the view is still the batch-0 state
    assert {(r.k, r.lv, r.rv) for r in read_changefeed_join(spark, dest).collect()} == {
        (1, 10, 7)
    }
    # replay of batch 1 lands it exactly once
    sink(b([("L", "I", 2, 20, None), ("R", "I", 2, None, 9)]), 1)
    got = {(r.k, r.lv, r.rv) for r in read_changefeed_join(spark, dest).collect()}
    assert got == {(1, 10, 7), (2, 20, 9)}
    # a second replay of the same batch id is a no-op
    sink(b([("L", "I", 2, 20, None), ("R", "I", 2, None, 9)]), 1)
    assert {
        (r.k, r.lv, r.rv) for r in read_changefeed_join(spark, dest).collect()
    } == got
