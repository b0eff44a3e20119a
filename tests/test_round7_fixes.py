"""Round-7 regression tests: the ADVICE.md r6 findings made mechanical.

* WET writer task-commit protocol (attempt-unique temp + atomic rename;
  aborted-attempt leftovers invisible to the reader's glob);
* whole-file gzip failures carry rec_pos NULL, not a fake record 0;
* manifest ts monotonicity is ENFORCED at stamping time (NTP step-back);
* IVM aggregate inputs must be string column names (a pyspark Column
  repr is not a stable serialization for the pinned view definition);
* a NULL embedding row flows through t1_sq8_ann identically on both
  engines (the r5-advice zero-dot symmetry, now pinned by a fixture).
"""

from __future__ import annotations

import gzip
import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

import ght2dm_spark.snapshots as snap
from ght2dm_spark.snapshots import (
    commit,
    history,
    prepare_commit,
    read_snapshot,
)
from ght2dm_spark.sources.warc import read_wet, write_wet

from .conftest import assert_oracle_match


# -- WET writer atomicity -----------------------------------------------------


def test_write_wet_leaves_no_temp_files(spark, sf_dir, tmp_path):
    out = str(tmp_path / "wet")
    df = spark.createDataFrame(
        [("http://a/1", "2024-01-01T00:00:00Z", "hello"),
         ("http://a/2", "2024-01-01T00:00:00Z", "world")],
        "uri string, date string, text string",
    )
    report = write_wet(df, out, n_files=2)
    assert report.count() == 2
    names = sorted(os.listdir(out))
    assert all(n.endswith(".wet.gz") for n in names), names
    assert not any(".tmp" in n for n in names), (
        f"attempt temp files survived the task commit: {names}"
    )


def test_read_wet_ignores_aborted_attempt_leftovers(spark, tmp_path):
    out = tmp_path / "wet"
    out.mkdir()
    df = spark.createDataFrame(
        [("http://a/1", "2024-01-01T00:00:00Z", "hello")],
        "uri string, date string, text string",
    )
    write_wet(df, str(out), n_files=1).count()
    # a torn temp from a crashed/speculative attempt: leading "." keeps
    # it out of binaryFile's listing (hidden-file convention) even
    # though the name contains ".wet"
    (out / ".part-00000.wet.gz.attempt-99.tmp").write_bytes(b"\x1f\x8b garbage")
    got = read_wet(spark, str(out))
    assert got.filter(F.col("_corrupt").isNotNull()).count() == 0
    assert got.filter(F.col("warc_type") == "conversion").count() == 1


def test_read_wet_whole_file_gzip_error_has_null_rec_pos(spark, tmp_path):
    d = tmp_path / "wet"
    d.mkdir()
    (d / "bad.wet.gz").write_bytes(b"\x1f\x8bnot really gzip")
    rows = read_wet(spark, str(d)).collect()
    assert len(rows) == 1
    assert rows[0]["_corrupt"].startswith("gzip:")
    # NULL, not 0: (file, rec_pos) provenance must never collide with a
    # real record 0 of another file
    assert rows[0]["rec_pos"] is None


# -- manifest ts monotonicity -------------------------------------------------


def test_commit_ts_clamped_against_clock_step_back(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    commit(prepare_commit(
        spark.createDataFrame([(1, 10)], "k long, v long"), table))
    parent_ts = history(table)[-1]["ts"]
    # NTP steps the wall clock back an hour between commits
    monkeypatch.setattr(snap.time, "time", lambda: parent_ts - 3600.0)
    commit(prepare_commit(
        spark.createDataFrame([(2, 20)], "k long, v long"), table,
        mode="append"))
    hist = history(table)
    assert hist[-1]["ts"] >= hist[-2]["ts"], (
        "child manifest stamped earlier than its parent — AS OF "
        "resolution would skip it anachronistically"
    )
    # AS OF "now per the stepped-back clock" still resolves SOME version
    # (the parent), and AS OF the clamped child ts sees both rows
    got = read_snapshot(spark, table, as_of=hist[-1]["ts"])
    assert got.count() == 2


# -- IVM view-definition serialization ----------------------------------------


def test_refresh_aggregate_rejects_column_object_inputs(spark, tmp_path):
    from ght2dm_spark.incremental import refresh_aggregate

    src = str(tmp_path / "src")
    commit(prepare_commit(
        spark.createDataFrame([(1, 10)], "k long, v long"), src))
    with pytest.raises(TypeError, match="column NAME"):
        refresh_aggregate(
            spark, src, str(tmp_path / "dst"), keys=["k"],
            aggs={"total": ("sum", F.col("v"))},
        )


# -- NULL embedding through the SQ8 search ------------------------------------


def test_sq8_ann_null_embedding_fixture_matches_oracle(spark, sf_dir, tmp_path):
    """A corpus row with a NULL vector (and one with an empty vector)
    must quantize to scale 0 / zero dot on BOTH engines — not NULL on
    one side (r5 advice).  Runs the registered query and its oracle on
    a patched embeddings table and compares with the driver's
    order-insensitive semantics."""
    from ght2dm_spark.queries import ORACLE, QUERIES

    fix = tmp_path / "sf_null_emb"
    fix.mkdir()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim_cols = [c for c in emb.columns if c != "vec_id" and c != "embedding"]
    assert "embedding" in emb.columns, emb.columns
    max_id = emb.agg(F.max("vec_id")).first()[0]
    extra = spark.createDataFrame(
        [(int(max_id) + 1, None), (int(max_id) + 2, [])],
        emb.select("vec_id", "embedding").schema,
    )
    keep = ["vec_id", "embedding"] + dim_cols
    patched = emb.select(*keep).unionByName(
        extra.select(*[c for c in keep if c in extra.columns]),
        allowMissingColumns=True,
    )
    patched.coalesce(1).write.parquet(str(fix / "embeddings.parquet"))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{fix}/embeddings.parquet/*.parquet'"
    )
    got = QUERIES["t1_sq8_ann"](spark, str(fix))
    assert_oracle_match(got, con, ORACLE["t1_sq8_ann"], name="t1_sq8_ann+null")
    con.close()


# -- snapshot tags (named version pins, vacuum retention roots) ---------------


def _mk(spark, rows, schema="k long, v long"):
    return spark.createDataFrame(rows, schema)


def test_tag_pins_version_and_survives_vacuum(spark, tmp_path):
    from ght2dm_spark.snapshots import (
        list_tags,
        tag_snapshot,
        vacuum,
    )

    t = str(tmp_path / "t")
    commit(prepare_commit(_mk(spark, [(1, 10)]), t))
    pinned = tag_snapshot(t, "baseline")
    commit(prepare_commit(_mk(spark, [(2, 20)]), t, mode="append"))
    commit(prepare_commit(_mk(spark, [(3, 30)]), t, mode="append"))
    assert list_tags(t) == {"baseline": pinned}
    vacuum(t, keep_manifests=1)  # would drop the seed without the tag root
    got = {(r.k, r.v) for r in read_snapshot(spark, t, tag="baseline").collect()}
    assert got == {(1, 10)}
    cur = {r.k for r in read_snapshot(spark, t).collect()}
    assert cur == {1, 2, 3}


def test_tag_retag_moves_the_pin(spark, tmp_path):
    import pytest

    from ght2dm_spark.snapshots import list_tags, tag_snapshot

    t = str(tmp_path / "t")
    commit(prepare_commit(_mk(spark, [(1, 10)]), t))
    tag_snapshot(t, "rel")
    commit(prepare_commit(_mk(spark, [(2, 20)]), t, mode="append"))
    m2 = tag_snapshot(t, "rel")  # re-tag moves the pin to CURRENT
    assert list_tags(t) == {"rel": m2}
    assert {r.k for r in read_snapshot(spark, t, tag="rel").collect()} == {1, 2}
    with pytest.raises(FileNotFoundError, match="no tag"):
        read_snapshot(spark, t, tag="nope")


def test_tag_name_validation_and_selector_exclusivity(spark, tmp_path):
    import pytest

    from ght2dm_spark.snapshots import tag_snapshot

    t = str(tmp_path / "t")
    commit(prepare_commit(_mk(spark, [(1, 10)]), t))
    for bad in ("", ".hidden", "a/b", "x" * 65, "sp ace"):
        with pytest.raises(ValueError, match="invalid tag name"):
            tag_snapshot(t, bad)
    tag_snapshot(t, "ok-1.0_rc")
    with pytest.raises(ValueError, match="not several"):
        read_snapshot(spark, t, version=0, tag="ok-1.0_rc")


def test_tag_to_vacuumed_manifest_raises_clearly(spark, tmp_path):
    import json as _json

    import pytest

    from ght2dm_spark.snapshots import tag_snapshot

    t = tmp_path / "t"
    commit(prepare_commit(_mk(spark, [(1, 10)]), str(t)))
    tag_snapshot(str(t), "base")
    commit(prepare_commit(_mk(spark, [(2, 20)]), str(t), mode="append"))
    # the tagged (no-longer-current) manifest vanishes under the tag
    name = (t / "_tags" / "base").read_text().strip()
    (t / "_manifests" / name).unlink()
    with pytest.raises(FileNotFoundError, match="no longer exists"):
        read_snapshot(spark, str(t), tag="base")
