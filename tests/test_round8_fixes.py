"""Round-8 regression tests: the ADVICE.md r7 findings made mechanical.

* a crash-orphaned ``_tags/<name>.tmp-<hex>`` temp is NOT a tag:
  list_tags skips it and vacuum's age-gated temp sweep removes it —
  previously it surfaced as a phantom tag AND acted as a permanent
  retention root;
* _stamp_ts is STRICTLY monotone (a wall-clock step-back can no longer
  stamp a child with ts equal to its parent, which made AS OF at that
  instant ambiguous);
* oracle splices use sentinel + str.replace, never str.format (a
  literal brace in the outer template — e.g. a regex character class —
  would throw at import);
* the driver's pandas canonicalizer cannot sort nested cells — the
  postings_head fix (array → comma-joined string) stays pinned by the
  oracle compare, and the mechanical ban lives in test_oracle_types.py.
"""

from __future__ import annotations

import time

import pytest

import ght2dm_spark.snapshots as snap
from ght2dm_spark.snapshots import (
    commit,
    history,
    list_tags,
    prepare_commit,
    tag_snapshot,
    vacuum,
)

from .conftest import assert_oracle_match


# -- phantom tag temps --------------------------------------------------------


def _committed_table(spark, tmp_path, n_commits=1):
    table = str(tmp_path / "T")
    for i in range(n_commits):
        df = spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "k")
        commit(prepare_commit(df, table, mode="append" if i else "overwrite"))
    return table


def test_orphaned_tag_tmp_is_not_a_tag(spark, tmp_path):
    table = _committed_table(spark, tmp_path)
    tag_snapshot(table, "release")
    # simulate a crash between _atomic_write's temp write and os.replace
    orphan = snap.Path(table) / "_tags" / "release2.tmp-deadbeef"
    orphan.write_text("m-00000000000000000001.json")
    tags = list_tags(table)
    assert "release" in tags
    assert not any(".tmp-" in name for name in tags), (
        f"crash-orphaned tag temp surfaced as a phantom tag: {tags}"
    )


def test_vacuum_sweeps_stale_tag_tmp(spark, tmp_path, monkeypatch):
    table = _committed_table(spark, tmp_path)
    tag_snapshot(table, "release")
    orphan = snap.Path(table) / "_tags" / "v9.tmp-deadbeef"
    orphan.write_text("m-00000000000000000009.json")
    # fresh temp: a concurrent writer may own it — vacuum must keep it
    vacuum(table)
    assert orphan.exists(), "vacuum removed a FRESH tag temp"
    # age it past the stale cutoff: now it's crash garbage
    monkeypatch.setattr(snap, "_STALE_TMP_SECONDS", 0.0)
    time.sleep(0.01)
    vacuum(table)
    assert not orphan.exists(), "vacuum left a stale tag temp behind"
    assert (snap.Path(table) / "_tags" / "release").exists()


# -- strict ts monotonicity ---------------------------------------------------


def test_stamp_ts_is_strictly_monotone(monkeypatch):
    parent = {"ts": 2_000_000_000.0}
    # wall clock stepped BACK past the parent: child must still be
    # STRICTLY greater (equal ts made the AS OF midpoint ambiguous)
    monkeypatch.setattr(snap.time, "time", lambda: 1_999_999_999.0)
    child = snap._stamp_ts(parent)
    assert child > parent["ts"]
    # and a clock exactly AT the parent's ts is also bumped
    monkeypatch.setattr(snap.time, "time", lambda: 2_000_000_000.0)
    assert snap._stamp_ts(parent) > parent["ts"]


def test_commit_chain_ts_strictly_increasing(spark, tmp_path):
    table = _committed_table(spark, tmp_path, n_commits=3)
    ts = [h["ts"] for h in history(table)]
    assert all(b > a for a, b in zip(ts, ts[1:])), ts


# -- sentinel splices survive literal braces ----------------------------------


def test_spliced_oracles_contain_no_leftover_sentinel():
    from ght2dm_spark.queries import ORACLE

    for name in ("t1_ccnet_buckets", "t1_lang_confusion"):
        sql = ORACLE[name]
        assert "__SURPRISAL_ORACLE__" not in sql
        assert "__LANG_ID_ORACLE__" not in sql
        assert "{" not in sql or "}" in sql  # sanity: still one SQL string


def test_sentinel_splice_tolerates_literal_braces():
    # the failure mode str.format had: a regex class in the template
    template = "SELECT regexp_matches(s, '[{}();=<>]') FROM (__INNER__)"
    spliced = template.replace("__INNER__", "SELECT 'x' AS s")
    assert "[{}();=<>]" in spliced and "__INNER__" not in spliced


# -- inverted index: string posting head, exact oracle ------------------------


def test_inverted_index_posting_head_is_string_and_matches(spark, duck, sf_dir):
    from ght2dm_spark.queries import ORACLE, QUERIES

    sdf = QUERIES["t1_inverted_index"](spark, sf_dir)
    types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    assert types["postings_head"] == "string"
    assert_oracle_match(sdf, duck, ORACLE["t1_inverted_index"])


# -- changefeed sink write fan-out -------------------------------------------


def test_changefeed_sink_writes_are_batch_sized(spark, tmp_path):
    """The join-delta write must NOT follow the probe side's (i.e. the
    accumulated state's) partitioning: before the r8 fix, each commit
    wrote O(state-files) near-empty parquet files and the state
    compounded per batch (measured 96 files on the third commit of a
    100-row feed).  Deltas now coalesce to the batch's own partition
    count, so per-commit file counts stay bounded by the batch."""
    import glob

    from pyspark.sql import functions as F

    from ght2dm_spark.incremental import changefeed_join_sink

    root = str(tmp_path)
    sink = changefeed_join_sink(
        f"{root}/state", on=["k"], left_cols=["k", "a"], right_cols=["k", "b"]
    )
    n_batches = 3
    for b in range(n_batches):
        rng = spark.range(b * 100, (b + 1) * 100).coalesce(2)
        batch = rng.select(
            F.lit("L").alias("side"), F.lit("I").alias("op"),
            (F.col("id") % 50).alias("k"), F.col("id").alias("a"),
            F.lit(None).cast("long").alias("b"),
        ).unionByName(
            rng.select(
                F.lit("R").alias("side"), F.lit("I").alias("op"),
                (F.col("id") % 50).alias("k"),
                F.lit(None).cast("long").alias("a"),
                F.col("id").alias("b"),
            )
        )
        sink(batch, b)
    batch_parts = 4  # 2 coalesced ranges unioned
    # fused layout (r9): one z-set table, each commit <= 3 relation-pure
    # coalesced groups of at most the batch's partition count
    files = glob.glob(f"{root}/state/zset/data/*.parquet")
    assert len(files) <= n_batches * 3 * batch_parts, (
        f"zset: {len(files)} files after {n_batches} commits — the "
        "delta write is fanning out to the accumulated state's "
        "partitioning again"
    )
