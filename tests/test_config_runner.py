"""S4 + end-to-end runner: JSON config → BSON folders in order → all
seven output tables on disk (the reference's main() contract,
ght2dm.go:1129-1156)."""

from __future__ import annotations

import json

import pytest

from ght2dm_spark.config import read_config, run_from_config
from ght2dm_spark.snapshots import read_snapshot
from tests.test_bson_source import enc_doc


@pytest.fixture(scope="module")
def config_path(tmp_path_factory):
    root = tmp_path_factory.mktemp("ght")
    users = root / "users"
    repos = root / "repos"
    members = root / "org_members"
    collabs = root / "repo_collaborators"
    for d in (users, repos, members, collabs):
        d.mkdir()

    (users / "2014-01-01.bson").write_bytes(
        b"".join(
            enc_doc(x)
            for x in [
                {"id": 1, "login": "alice", "type": "User",
                 "created_at": "2013-01-01 00:00:00"},
                {"id": 2, "login": "acme", "type": "Organization",
                 "created_at": "2013-01-01 00:00:00"},
            ]
        )
    )
    (repos / "2014-01-01.bson").write_bytes(
        enc_doc(
            {"id": 10, "name": "tool", "full_name": "alice/tool",
             "language": "Go", "clone_url": "http://x/alice/tool.git",
             "owner": {"login": "alice"},
             "updated_at": "2014-01-01 00:00:00",
             "pushed_at": "2014-01-01 00:00:00"}
        )
    )
    (members / "2014-01-01.bson").write_bytes(
        enc_doc({"id": 1, "login": "alice", "org": "acme", "type": "User"})
    )
    (collabs / "2014-01-01.bson").write_bytes(
        enc_doc({"id": 1, "login": "alice", "repo": "tool", "owner": "alice"})
    )

    cfg = {
        "folders": [str(users), str(repos), str(members), str(collabs)],
        "output_dir": str(root / "out"),
    }
    p = root / "ght2dm.conf"
    p.write_text(json.dumps(cfg))
    return str(p)


def test_read_config(config_path):
    cfg = read_config(config_path)
    assert [f.rsplit("/", 1)[-1] for f in cfg.folders] == [
        "users", "repos", "org_members", "repo_collaborators"
    ]
    assert not cfg.nocheck


def test_run_from_config(spark, config_path):
    cfg = read_config(config_path)
    written = run_from_config(spark, cfg)
    assert set(written) >= {
        "users", "gh_users", "gh_organizations", "repositories",
        "gh_repositories", "gh_users_organizations", "users_repositories",
    }
    users = read_snapshot(spark, written["users"])
    assert {r["username"] for r in users.collect()} == {"alice"}
    orgs = read_snapshot(spark, written["gh_organizations"])
    assert orgs.count() == 1
    rel = read_snapshot(spark, written["gh_users_organizations"])
    assert rel.count() == 1
    ur = read_snapshot(spark, written["users_repositories"])
    assert ur.count() == 1


def test_incremental_rerun(spark, config_path, tmp_path):
    """Incremental mode: a second run with one new user appends exactly
    that user with a fresh surrogate id; existing rows and keys are
    untouched; a no-new-data rerun appends nothing."""
    import dataclasses

    cfg = read_config(config_path)
    out2 = str(tmp_path / "out_inc")
    first = dataclasses.replace(cfg, output_dir=out2)
    run_from_config(spark, first)
    users_v1 = {(r["id"], r["username"]) for r in
                read_snapshot(spark, f"{out2}/users").collect()}

    # add a later dump with one known + one new user
    users_dir = cfg.folders[0]
    import pathlib
    (pathlib.Path(users_dir) / "2014-02-01.bson").write_bytes(
        b"".join(enc_doc(x) for x in [
            {"id": 1, "login": "alice", "type": "User",
             "created_at": "2013-01-01 00:00:00"},  # already loaded → skipped
            {"id": 9, "login": "zoe", "type": "User",
             "created_at": "2014-01-15 00:00:00"},
        ])
    )
    try:
        inc = dataclasses.replace(cfg, output_dir=out2, incremental=True,
                                  folders=[users_dir])
        run_from_config(spark, inc)
        users_v2 = {(r["id"], r["username"]) for r in
                    read_snapshot(spark, f"{out2}/users").collect()}
        assert users_v1 < users_v2
        added = users_v2 - users_v1
        assert {u for _, u in added} == {"zoe"}
        ids = [i for i, _ in users_v2]
        assert len(ids) == len(set(ids))  # surrogate ids never collide
        assert max(i for i, _ in users_v1) < next(i for i, u in added if u == "zoe")

        # third run, nothing new → nothing appended
        run_from_config(spark, inc)
        users_v3 = {(r["id"], r["username"]) for r in
                    read_snapshot(spark, f"{out2}/users").collect()}
        assert users_v3 == users_v2
    finally:
        (pathlib.Path(users_dir) / "2014-02-01.bson").unlink()


def test_killed_write_preserves_old_snapshot(spark, tmp_path):
    """Crash safety: a write that dies mid-job (here: a task that raises
    halfway through — same observable state as a kill -9 before the
    pointer flip) leaves CURRENT at the previous snapshot, which still
    reads completely; staging leftovers are invisible and vacuum
    reclaims them."""
    import pytest
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import (
        read_snapshot,
        snapshot_files,
        vacuum,
        write_table_atomic,
    )

    table = str(tmp_path / "tbl")
    df1 = spark.range(100).withColumn("v", F.col("id") * 2)
    write_table_atomic(df1, table)
    v1_files = snapshot_files(table)
    assert read_snapshot(spark, table).count() == 100

    @F.udf("long")
    def boom(x):
        raise RuntimeError("simulated mid-write crash")

    with pytest.raises(Exception):
        write_table_atomic(spark.range(50).withColumn("v", boom("id")), table)

    # old snapshot intact and fully readable
    assert snapshot_files(table) == v1_files
    got = read_snapshot(spark, table)
    assert got.count() == 100
    assert got.agg(F.sum("v")).collect()[0][0] == 9900

    # recovery: the next write simply succeeds and becomes current
    write_table_atomic(df1.filter("id < 10"), table)
    assert read_snapshot(spark, table).count() == 10
    vacuum(table, keep_manifests=1)
    assert read_snapshot(spark, table).count() == 10


def test_append_snapshot_pins_parent_files(spark, tmp_path):
    """Append commits reference the parent's files — no rewrite — and a
    reader holding the old snapshot keeps seeing exactly the old rows."""
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import (
        read_snapshot,
        snapshot_files,
        write_table_atomic,
    )

    table = str(tmp_path / "tbl_app")
    write_table_atomic(spark.range(10), table)
    old_files = set(snapshot_files(table))
    old_reader = read_snapshot(spark, table)

    write_table_atomic(spark.range(10, 15), table, mode="append")
    new_files = set(snapshot_files(table))
    assert old_files < new_files  # parent files reused, not rewritten
    assert read_snapshot(spark, table).count() == 15
    assert old_reader.count() == 10  # pinned file list: stable reads


def test_verbose_logs_per_table_counts(spark, config_path, tmp_path, caplog):
    """E3: verbose mode logs one observed row count per written table,
    measured in the write pass itself (df.observe, no second scan), and
    the logged counts equal what actually landed in the snapshot."""
    import dataclasses
    import logging
    import re

    cfg = dataclasses.replace(
        read_config(config_path),
        output_dir=str(tmp_path / "out_verbose"),
        verbose=True,
    )
    with caplog.at_level(logging.INFO, logger="ght2dm_spark.config"):
        written = run_from_config(spark, cfg)
    logged = {}
    for rec in caplog.records:
        m = re.match(r"wrote (\S+): (\d+) rows", rec.getMessage())
        if m:
            logged[m.group(1)] = int(m.group(2))
    assert set(logged) == set(written)
    for name, path in written.items():
        assert logged[name] == read_snapshot(spark, path).count(), name


def test_debug_logs_physical_plans(spark, config_path, tmp_path, caplog):
    """E4: debug mode traces each table's formatted physical plan."""
    import dataclasses
    import logging

    cfg = dataclasses.replace(
        read_config(config_path),
        output_dir=str(tmp_path / "out_debug"),
        debug=True,
    )
    with caplog.at_level(logging.DEBUG, logger="ght2dm_spark.config"):
        run_from_config(spark, cfg)
    plans = [r.getMessage() for r in caplog.records if "plan for " in r.getMessage()]
    assert len(plans) >= 7  # one per output table
    assert any("Physical Plan" in p for p in plans)


def test_time_travel_and_compaction(spark, tmp_path):
    """Immutable data files + retained manifests = free time travel; and
    compaction is just another commit — old versions keep reading while
    the live snapshot collapses to few files."""
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import (
        compact_snapshot,
        history,
        read_snapshot,
        snapshot_files,
        vacuum,
        write_table_atomic,
    )

    table = str(tmp_path / "tt")
    write_table_atomic(spark.range(10).withColumn("v", F.lit("a")), table)
    for i in range(3):
        write_table_atomic(
            spark.range(10).withColumn("v", F.lit(f"b{i}")), table, mode="append"
        )
    h = history(table)
    assert [e["seq"] for e in h] == [0, 1, 2, 3]
    assert h[0]["mode"] == "overwrite" and h[-1]["mode"] == "append"
    # time travel: every retained version reads at its own row count
    assert read_snapshot(spark, table, version=0).count() == 10
    assert read_snapshot(spark, table, version=2).count() == 30
    assert read_snapshot(spark, table).count() == 40

    # compaction: new commit, fewer files, same rows; old version intact
    before = len(snapshot_files(table))
    p = compact_snapshot(spark, table)
    assert p.seq == 4
    assert len(snapshot_files(table)) < before
    assert read_snapshot(spark, table).count() == 40
    assert read_snapshot(spark, table, version=1).count() == 20

    # vacuum to the last manifest: history trimmed, live snapshot fine,
    # time travel to a vacuumed version now fails loudly
    vacuum(table, keep_manifests=1)
    assert read_snapshot(spark, table).count() == 40
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        snapshot_files(table, version=0)


def test_incremental_same_entity_folder_twice(spark, tmp_path):
    """The reference processes folders IN CONFIG ORDER, and a config may
    list the same entity twice (e.g. two dump batches). In incremental
    mode the second folder must see the first folder's STAGED rows —
    anti-join away its duplicates, continue its surrogate keys — even
    though nothing has been published yet (review finding: reading only
    CURRENT here lost the first folder's rows and reissued its keys)."""
    import dataclasses
    import json as _json

    from tests.test_bson_source import enc_doc

    u1 = tmp_path / "batch1" / "users"
    u2 = tmp_path / "batch2" / "users"
    u1.mkdir(parents=True)
    u2.mkdir(parents=True)
    (u1 / "2014-01-01.bson").write_bytes(
        enc_doc({"id": 1, "login": "alice", "type": "User",
                 "created_at": "2013-01-01 00:00:00"})
    )
    (u2 / "2014-01-02.bson").write_bytes(
        b"".join(enc_doc(x) for x in [
            {"id": 1, "login": "alice", "type": "User",
             "created_at": "2013-01-01 00:00:00"},  # dup of batch1 → skip
            {"id": 2, "login": "bob", "type": "User",
             "created_at": "2013-06-01 00:00:00"},
        ])
    )
    out = str(tmp_path / "out")
    from ght2dm_spark.config import RunConfig

    # seed run creates the tables, then the incremental run lists the
    # users entity TWICE
    run_from_config(spark, RunConfig(folders=[str(u1)], output_dir=out))
    cfg = RunConfig(
        folders=[str(u1), str(u2)], output_dir=out, incremental=True
    )
    run_from_config(spark, cfg)
    users = read_snapshot(spark, f"{out}/users")
    rows = {(r["id"], r["username"]) for r in users.collect()}
    names = sorted(u for _, u in rows)
    assert names == ["alice", "bob"], rows  # alice NOT duplicated
    ids = [i for i, _ in rows]
    assert len(ids) == len(set(ids))  # no reissued surrogate keys


def test_read_increment_consumes_only_new_rows(spark, tmp_path):
    """Downstream incremental consumption: each append's delta reads
    exactly once; compaction/overwrite breaks append-ancestry loudly
    instead of double-processing."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ght2dm_spark.snapshots import (
        compact_snapshot,
        read_increment,
        write_table_atomic,
    )

    table = str(tmp_path / "inc")
    write_table_atomic(spark.range(10), table)  # v0
    write_table_atomic(spark.range(10, 25), table, mode="append")  # v1
    write_table_atomic(spark.range(25, 30), table, mode="append")  # v2

    d01 = read_increment(spark, table, since_version=0)
    assert sorted(r["id"] for r in d01.collect()) == list(range(10, 30))
    d12 = read_increment(spark, table, since_version=1)
    assert sorted(r["id"] for r in d12.collect()) == list(range(25, 30))
    assert read_increment(spark, table, since_version=2) is None

    compact_snapshot(spark, table)  # v3 rewrites files
    with _pytest.raises(ValueError, match="append-ancestor"):
        read_increment(spark, table, since_version=1)


def test_fresh_run_same_entity_folder_twice_accumulates(spark, tmp_path):
    """A FRESH run listing the same entity twice must also accumulate —
    the reference inserts every folder's rows into the same tables;
    overwrite semantics apply to previous runs' outputs, not to folders
    within one run (review finding: batch1 was silently lost and both
    batches restarted surrogate keys at 1)."""
    from tests.test_bson_source import enc_doc

    from ght2dm_spark.config import RunConfig

    u1 = tmp_path / "b1" / "users"
    u2 = tmp_path / "b2" / "users"
    u1.mkdir(parents=True)
    u2.mkdir(parents=True)
    (u1 / "2014-01-01.bson").write_bytes(
        enc_doc({"id": 1, "login": "alice", "type": "User",
                 "created_at": "2013-01-01 00:00:00"})
    )
    (u2 / "2014-01-02.bson").write_bytes(
        b"".join(enc_doc(x) for x in [
            {"id": 1, "login": "alice", "type": "User",
             "created_at": "2013-01-01 00:00:00"},  # dup of b1 → skipped
            {"id": 2, "login": "bob", "type": "User",
             "created_at": "2013-06-01 00:00:00"},
        ])
    )
    out = str(tmp_path / "out")
    run_from_config(
        spark, RunConfig(folders=[str(u1), str(u2)], output_dir=out)
    )
    users = read_snapshot(spark, f"{out}/users")
    rows = {(r["id"], r["username"]) for r in users.collect()}
    assert sorted(u for _, u in rows) == ["alice", "bob"], rows
    ids = [i for i, _ in rows]
    assert len(ids) == len(set(ids))  # no colliding surrogate keys


def test_concurrent_commit_conflict_detected_and_retry_merges(
    spark, sf_dir, tmp_path
):
    """Optimistic concurrency: two writers prepare appends against the
    same base; the first flip wins, the second must get
    SnapshotConflictError instead of silently DROPPING the winner's
    rows, and the standard re-prepare-and-retry lands both deltas."""
    import pytest
    from pyspark.sql import functions as F

    from ght2dm_spark.io import load_table
    from ght2dm_spark.snapshots import (
        SnapshotConflictError,
        commit,
        prepare_commit,
        read_snapshot,
    )

    table = str(tmp_path / "t")
    base = load_table(spark, sf_dir, "region")
    commit(prepare_commit(base, table))

    a = base.limit(1).withColumn("r_name", F.lit("WRITER-A"))
    b = base.limit(1).withColumn("r_name", F.lit("WRITER-B"))
    pa = prepare_commit(a, table, mode="append")
    pb = prepare_commit(b, table, mode="append")  # same base as pa

    commit(pa)
    with pytest.raises(SnapshotConflictError):
        commit(pb)

    # loser retries: re-prepare the SAME logical change on the new base
    commit(prepare_commit(b, table, mode="append"))
    names = [
        r.r_name for r in read_snapshot(spark, table).collect()
    ]
    assert names.count("WRITER-A") == 1 and names.count("WRITER-B") == 1
    assert len(names) == base.count() + 2

    # force=True restores last-writer-wins for whole-table replacement
    commit(prepare_commit(base, table), force=False)


def test_incremental_rerun_does_not_duplicate_rejects(spark, tmp_path):
    """Rejects have no key, so a rescan re-emits them verbatim; the
    runner must not append the same reject rows again on every
    incremental rerun (audit counts would inflate per run)."""
    import dataclasses
    import json as _json

    root = tmp_path / "ght"
    users = root / "users"
    users.mkdir(parents=True)
    (users / "2014-01-01.bson").write_bytes(
        b"".join(
            enc_doc(x)
            for x in [
                {"id": 1, "login": "alice", "type": "User",
                 "created_at": "2013-01-01 00:00:00"},
                {"id": 7, "login": "hal", "type": "Robot",
                 "created_at": "2013-01-01 00:00:00"},  # type-split reject
            ]
        )
    )
    out = tmp_path / "out"
    cfgp = tmp_path / "cfg.json"
    cfgp.write_text(
        _json.dumps({"folders": [str(users)], "output_dir": str(out)})
    )
    cfg = read_config(str(cfgp))
    run_from_config(spark, cfg)
    r1 = read_snapshot(spark, f"{out}/rejects_users").count()
    assert r1 >= 1

    inc = dataclasses.replace(cfg, incremental=True)
    run_from_config(spark, inc)
    assert read_snapshot(spark, f"{out}/rejects_users").count() == r1

    # a NEW dump with a new reject still lands exactly once
    (users / "2014-02-01.bson").write_bytes(
        enc_doc({"id": 8, "login": "r2", "type": "Robot",
                 "created_at": "2014-01-01 00:00:00"})
    )
    run_from_config(spark, inc)
    assert read_snapshot(spark, f"{out}/rejects_users").count() == r1 + 1
    run_from_config(spark, inc)
    assert read_snapshot(spark, f"{out}/rejects_users").count() == r1 + 1


def test_bad_folder_fails_before_any_staging(spark, tmp_path):
    """A typo in the LAST folder must fail before the first folder's
    decode/stage work starts, not after it."""
    import json as _json

    import pytest

    root = tmp_path / "ght"
    users = root / "users"
    bogus = root / "userz"
    users.mkdir(parents=True)
    bogus.mkdir()
    out = tmp_path / "out"
    cfgp = tmp_path / "cfg.json"
    cfgp.write_text(
        _json.dumps({"folders": [str(users), str(bogus)], "output_dir": str(out)})
    )
    with pytest.raises(ValueError, match="unknown entity"):
        run_from_config(spark, read_config(str(cfgp)))
    assert not (out / "users").exists(), "no staging before validation"


def test_prevalidation_fails_fast_on_missing_folder(spark, tmp_path):
    from ght2dm_spark.config import RunConfig

    with pytest.raises(ValueError, match="does not exist"):
        run_from_config(
            spark,
            RunConfig(
                folders=[str(tmp_path / "users")],  # never created
                output_dir=str(tmp_path / "out"),
            ),
        )


def test_prevalidation_fails_fast_on_unsatisfied_dimension(spark, tmp_path):
    """A relation folder whose dimensions come from neither an earlier
    folder nor a committed snapshot must fail in milliseconds — before
    any decode/staging work runs (the staged output of earlier folders
    would otherwise become vacuum garbage hours later)."""
    from ght2dm_spark.config import RunConfig

    m = tmp_path / "org_members"
    m.mkdir()
    (m / "2014-01-01.bson").write_bytes(b"")
    with pytest.raises(ValueError, match="needs the gh_users dimension"):
        run_from_config(
            spark,
            RunConfig(folders=[str(m)], output_dir=str(tmp_path / "out")),
        )


def test_prevalidation_disk_snapshot_requires_incremental(spark, tmp_path):
    """A committed on-disk dimension snapshot satisfies validation ONLY
    under incremental=True — at runtime _existing() consults disk solely
    for incremental runs, so a non-incremental config relying on a disk
    snapshot must fail in validation (with a hint), not hours later in
    _dim."""
    from ght2dm_spark.config import RunConfig

    from ght2dm_spark.snapshots import write_table_atomic

    out = tmp_path / "out"
    for t in ("gh_users", "gh_organizations"):
        write_table_atomic(
            spark.createDataFrame([(1, "a")], "id long, login string"),
            str(out / t),
        )
    m = tmp_path / "org_members"
    m.mkdir()
    (m / "2014-01-01.bson").write_bytes(b"")
    with pytest.raises(ValueError, match="not incremental"):
        run_from_config(
            spark,
            RunConfig(folders=[str(m)], output_dir=str(out)),
        )
    # the same config WITH incremental=True passes validation (the empty
    # dump then simply imports zero relations)
    run_from_config(
        spark,
        RunConfig(
            folders=[str(m)], output_dir=str(out), incremental=True
        ),
    )


def test_relation_importers_honor_nocheck(spark):
    """The reference gates the org-member/collaborator exists-probes on
    -nocheck too (ght2dm.go:732, 891): under nocheck, duplicate relation
    rows insert freely and the existing table is not consulted; FK
    resolution still runs."""
    from ght2dm_spark.pipelines import import_org_members

    raw = spark.createDataFrame(
        [(1, "alice", "acme", "User"), (2, "alice", "acme", "User")],
        "id long, login string, org string, type string",
    )
    users = spark.createDataFrame([(7, "alice")], "id long, login string")
    orgs = spark.createDataFrame([(9, "acme")], "id long, login string")
    existing = spark.createDataFrame(
        [(7, 9)], "gh_user_id long, gh_organization_id long"
    )
    checked = import_org_members(raw, users, orgs, existing=existing)
    assert checked.gh_users_organizations.count() == 0  # deduped + known
    unchecked = import_org_members(
        raw, users, orgs, existing=existing, nocheck=True
    )
    rows = unchecked.gh_users_organizations.collect()
    assert len(rows) == 2  # duplicates kept, existing ignored
    assert all((r.gh_user_id, r.gh_organization_id) == (7, 9) for r in rows)


def _user_docs(ids):
    return b"".join(
        enc_doc({"id": i, "login": f"u{i}", "type": "User",
                 "created_at": "2013-01-01 00:00:00"})
        for i in ids
    )


def test_second_import_in_session_sees_new_dumps(spark, tmp_path, monkeypatch):
    """An import leaves no persisted frame behind, also when a staging
    write fails.  Spark's cache matches a later plan over the same dump
    directory by its root path, so a frame left cached by the first
    import would serve the second import the old rows and hide a dump
    added in between."""
    import ght2dm_spark.snapshots as snapshots
    from ght2dm_spark.config import RunConfig

    users = tmp_path / "users"
    users.mkdir()
    (users / "2015-01-01.bson").write_bytes(_user_docs(range(1, 201)))
    jsc = spark.sparkContext._jsc
    n_cached = jsc.getPersistentRDDs().size()

    first = RunConfig(folders=[str(users)], output_dir=str(tmp_path / "out1"))
    run_from_config(spark, first)
    assert jsc.getPersistentRDDs().size() == n_cached
    assert read_snapshot(spark, str(tmp_path / "out1" / "users")).count() == 200

    (users / "2016-01-01.bson").write_bytes(_user_docs(range(201, 204)))
    second = RunConfig(folders=[str(users)], output_dir=str(tmp_path / "out2"))
    run_from_config(spark, second)
    assert jsc.getPersistentRDDs().size() == n_cached
    got = read_snapshot(spark, str(tmp_path / "out2" / "users"))
    assert got.count() == 203
    assert sorted(r["id"] for r in got.collect()) == list(range(1, 204))

    real_prepare = snapshots.prepare_commit

    def fail_rejects(df, path, *args, **kwargs):
        if path.endswith("rejects_users"):
            raise RuntimeError("staging failed")
        return real_prepare(df, path, *args, **kwargs)

    monkeypatch.setattr(snapshots, "prepare_commit", fail_rejects)
    third = RunConfig(folders=[str(users)], output_dir=str(tmp_path / "out3"))
    with pytest.raises(RuntimeError, match="staging failed"):
        run_from_config(spark, third)
    assert jsc.getPersistentRDDs().size() == n_cached


def test_publish_conflict_flips_no_table(spark, tmp_path, monkeypatch):
    """A concurrent commit on one output table between staging and
    publish fails the run before ANY pointer flips: every other table
    stays at its pre-run snapshot, none at this run's staging."""
    import ght2dm_spark.snapshots as snapshots
    from ght2dm_spark.config import RunConfig

    users, repos = tmp_path / "users", tmp_path / "repos"
    users.mkdir()
    repos.mkdir()
    (users / "2014-01-01.bson").write_bytes(_user_docs(range(1, 6)))
    (repos / "2014-01-01.bson").write_bytes(
        enc_doc(
            {"id": 10, "name": "tool", "full_name": "u1/tool",
             "language": "Go", "clone_url": "http://x/u1/tool.git",
             "owner": {"login": "u1"},
             "updated_at": "2014-01-01 00:00:00",
             "pushed_at": "2014-01-01 00:00:00"}
        )
    )
    out = tmp_path / "out"
    cfg = RunConfig(folders=[str(users), str(repos)], output_dir=str(out))
    written = run_from_config(spark, cfg)
    tables = sorted(written)
    assert len(tables) == 7

    def current(name):
        return (out / name / "CURRENT").read_text().strip()

    before = {t: current(t) for t in tables}
    real_prepare = snapshots.prepare_commit
    real_commit_all = snapshots.commit_all
    staged = []
    concurrent = {}

    def prepare_recorded(df, path, *args, **kwargs):
        p = real_prepare(df, path, *args, **kwargs)
        staged.append(p.manifest_name)
        return p

    def race_then_commit_all(prepared):
        # every table has staged: another writer commits gh_users now
        gh = str(out / "gh_users")
        other = real_prepare(read_snapshot(spark, gh), gh)
        snapshots.commit(other)
        concurrent["gh_users"] = other.manifest_name
        return real_commit_all(prepared)

    monkeypatch.setattr(snapshots, "prepare_commit", prepare_recorded)
    monkeypatch.setattr(snapshots, "commit_all", race_then_commit_all)
    with pytest.raises(snapshots.SnapshotConflictError, match="gh_users"):
        run_from_config(spark, cfg)

    after = {t: current(t) for t in tables}
    assert after == {**before, **concurrent}
    assert not set(after.values()) & set(staged)


def test_import_jobs_keep_caller_group_and_carry_entity_phase(spark, config_path, tmp_path):
    """Every Spark job of an import runs in the caller's job group, also
    those started from the import's own threads, and is described as
    ``<entity>/<phase>``; the caller's own description is left as it
    was."""
    import dataclasses
    import re

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def all_jobs():
        jsc.listenerBus().waitUntilEmpty(30_000)
        seq = jsc.statusStore().jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    seen = {j.jobId() for j in all_jobs()}
    sc.setJobGroup("import-under-test", "caller description")
    try:
        cfg = dataclasses.replace(
            read_config(config_path), output_dir=str(tmp_path / "out")
        )
        run_from_config(spark, cfg)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setJobGroup("", "")
    jobs = [j for j in all_jobs() if j.jobId() not in seen]
    assert jobs
    label = re.compile(
        r"(users|repos|org_members|repo_collaborators)/(keys|dims|stage:[a-z_]+)"
    )
    for j in jobs:
        assert j.jobGroup().isDefined() and j.jobGroup().get() == "import-under-test"
        desc = j.description().get() if j.description().isDefined() else None
        assert desc is not None and label.fullmatch(desc), (j.jobId(), desc)


def _docs(*docs):
    return b"".join(enc_doc(d) for d in docs)


def _user(i, login, kind="User"):
    return {"id": i, "login": login, "type": kind,
            "created_at": "2013-01-01 00:00:00"}


def test_two_users_folders_with_relations_exact(spark, tmp_path):
    """Two users folders around the relation folders: each relation
    folder resolves against exactly the users staged by the folders
    before it in the config — org_members, listed before the second
    users folder, cannot resolve that folder's members; repo
    collaborators, listed after it, can — and every key table is
    numbered exactly 1..n."""
    from ght2dm_spark.config import RunConfig

    def folder(batch, entity, data):
        d = tmp_path / batch / entity
        d.mkdir(parents=True)
        (d / "2014-01-01.bson").write_bytes(data)
        return str(d)

    users1 = folder("b1", "users", _docs(
        _user(1, "alice"), _user(2, "acme", "Organization"), _user(3, "bob"),
    ))
    users2 = folder("b2", "users", _docs(
        _user(3, "bob"),  # already imported by the first folder: skipped
        _user(4, "carol"),
        _user(5, "globex", "Organization"),
        _user(6, "robot", "Bot"),  # invalid type: rejected
    ))
    repo = {"language": "Go", "updated_at": "2014-01-01 00:00:00",
            "pushed_at": "2014-01-01 00:00:00"}
    repos = folder("b1", "repos", _docs(
        {**repo, "id": 10, "name": "tool", "full_name": "alice/tool",
         "clone_url": "http://x/alice/tool.git", "owner": {"login": "alice"}},
        {**repo, "id": 11, "name": "lib", "full_name": "carol/lib",
         "clone_url": "http://x/carol/lib.git", "owner": {"login": "carol"}},
    ))
    members = folder("b1", "org_members", _docs(
        {"login": "alice", "org": "acme"},
        {"login": "bob", "org": "acme"},
        {"login": "carol", "org": "globex"},  # staged after this folder
        {"login": "zed", "org": "acme"},  # never imported
    ))
    collabs = folder("b1", "repo_collaborators", _docs(
        {"login": "bob", "owner": "alice", "repo": "tool"},
        {"login": "carol", "owner": "carol", "repo": "lib"},
        {"login": "alice", "owner": "carol", "repo": "lib"},
        {"login": "bob", "owner": "nobody", "repo": "gone"},
    ))
    out = tmp_path / "out"
    run_from_config(spark, RunConfig(
        folders=[users1, repos, members, users2, collabs], output_dir=str(out),
    ))

    def rows(table):
        return read_snapshot(spark, str(out / table)).collect()

    def keys(table):
        return sorted(r["id"] for r in rows(table))

    assert sorted(r["username"] for r in rows("users")) == ["alice", "bob", "carol"]
    assert keys("users") == keys("gh_users") == [1, 2, 3]
    assert sorted(r["login"] for r in rows("gh_organizations")) == ["acme", "globex"]
    assert keys("gh_organizations") == [1, 2]
    assert keys("repositories") == keys("gh_repositories") == [1, 2]
    assert len(rows("rejects_users")) == 1
    assert len(rows("gh_users_organizations")) == 2
    assert sorted(r["login"] for r in rows("rejects_org_members")) == ["carol", "zed"]
    assert len(rows("users_repositories")) == 3
    assert [r["login"] for r in rows("rejects_repo_collaborators")] == ["bob"]


def test_failed_folder_flips_nothing_and_releases_caches(spark, tmp_path, monkeypatch):
    """One folder failing while another is still staging fails the run:
    the running folder finishes, no later folder starts, no table's
    CURRENT moves and no persisted frame is left behind."""
    import threading

    import ght2dm_spark.pipelines as pipelines
    import ght2dm_spark.snapshots as snapshots
    from ght2dm_spark.config import RunConfig

    users, repos, members = (tmp_path / e for e in ("users", "repos", "org_members"))
    for d in (users, repos, members):
        d.mkdir()
    (users / "2014-01-01.bson").write_bytes(_user_docs(range(1, 6)))
    (repos / "2014-01-01.bson").write_bytes(_docs(
        {"id": 10, "name": "tool", "full_name": "u1/tool", "language": "Go",
         "clone_url": "http://x/u1/tool.git", "owner": {"login": "u1"},
         "updated_at": "2014-01-01 00:00:00", "pushed_at": "2014-01-01 00:00:00"},
    ))
    (members / "2014-01-01.bson").write_bytes(_docs({"login": "u1", "org": "u2"}))
    out = tmp_path / "out"
    cfg = RunConfig(folders=[str(users), str(repos), str(members)], output_dir=str(out))
    written = run_from_config(spark, cfg)

    def currents():
        return {t: (out / t / "CURRENT").read_text() for t in written}

    before = currents()
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet())
    # users starts staging, repos fails, then users goes on staging; run
    # one folder after another, the users folder just waits out the
    # timeout first
    users_staging, repos_failed = threading.Event(), threading.Event()
    staged = []
    real_prepare = snapshots.prepare_commit

    def prepare_recorded(df, path, *args, **kwargs):
        table = path.rsplit("/", 1)[-1]
        staged.append(table)
        if table == "users":
            users_staging.set()
            repos_failed.wait(10)
        return real_prepare(df, path, *args, **kwargs)

    def failing_import_repos(*args, **kwargs):
        users_staging.wait(60)
        repos_failed.set()
        raise RuntimeError("repos import failed")

    monkeypatch.setattr(snapshots, "prepare_commit", prepare_recorded)
    monkeypatch.setattr(pipelines, "import_repos", failing_import_repos)
    with pytest.raises(RuntimeError, match="repos import failed"):
        run_from_config(spark, cfg)
    assert {"users", "gh_users", "gh_organizations", "rejects_users"} <= set(staged)
    assert "gh_users_organizations" not in staged
    assert currents() == before
    assert set(jsc.getPersistentRDDs().keySet()) <= persisted
