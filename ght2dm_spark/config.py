"""Run configuration + entity dispatch (S4, the reference's JSON config
and folder-order-driven main loop).

The reference reads ``{"gh_torrent_folders": [...], "database": {...}}``
and processes folders IN CONFIG ORDER, dispatching on the directory
basename (``/root/reference/ght2dm.go:163-199,1036-1049,1153-1156``) —
order matters because relation imports resolve against the dimension
tables the earlier entities populate.  Here the DSN becomes an output
directory, and the config order becomes a dependency order: a folder
stages once every earlier folder whose tables it reads (or that reads
its tables) has staged, so ``users`` and ``repos`` run side by side and
so do ``org_members`` and ``repo_collaborators``.  Every folder sees
exactly what it would see in a run that followed the config order.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

#: entity basename → importer, mirroring the reference's switch
#: (``ght2dm.go:1036-1049``)
ENTITIES = ("users", "repos", "org_members", "repo_collaborators")

#: tables each entity folder stages, in staging (and publish) order
STAGES = {
    "users": ("users", "gh_users", "gh_organizations", "rejects_users"),
    "repos": ("repositories", "gh_repositories", "rejects_repos"),
    "org_members": ("gh_users_organizations", "rejects_org_members"),
    "repo_collaborators": ("users_repositories", "rejects_repo_collaborators"),
}

#: dimension tables a relation folder resolves its logins and names
#: against (``ght2dm.go:814-960``)
DIMENSIONS = {
    "org_members": ("gh_users", "gh_organizations"),
    "repo_collaborators": ("gh_users", "repositories", "gh_repositories"),
}


def folder_dependencies(entities: list[str]) -> list[set[int]]:
    """For each folder (by entity, in config order), the earlier folders
    it waits for: those that stage a table it reads or stages, and those
    that read a table it stages.  The first kind gives a relation folder
    its dimensions and a repeated entity the earlier folder's staging;
    the second keeps a later folder from changing a table under an
    earlier folder that still reads it."""

    def touches(entity: str) -> set[str]:
        return {*STAGES[entity], *DIMENSIONS.get(entity, ())}

    return [
        {
            j
            for j, earlier in enumerate(entities[:i])
            if set(STAGES[earlier]) & touches(entity)
            or set(STAGES[entity]) & touches(earlier)
        }
        for i, entity in enumerate(entities)
    ]


def run_concurrently(
    spark: SparkSession, tasks: list, after: list[set[int]] | None = None
) -> list:
    """Call every task of ``tasks`` in a thread of its own, task ``i``
    once every task in ``after[i]`` has returned; return their results
    in list order.

    The threads inherit the caller's Spark local properties, so every
    job they run stays in the caller's job group.  Once a task raises no
    further task starts; the ones already running finish, then the
    first failure in list order is raised."""
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    from pyspark.util import inheritable_thread_target

    after = after or [set() for _ in tasks]
    results: dict[int, object] = {}
    errors: dict[int, BaseException] = {}
    pending = list(range(len(tasks)))
    running: dict = {}
    with ThreadPoolExecutor(max_workers=max(len(tasks), 1)) as pool:
        while pending or running:
            if not errors:
                for i in [i for i in pending if after[i].issubset(results)]:
                    pending.remove(i)
                    target = inheritable_thread_target(spark)(tasks[i])
                    running[pool.submit(target)] = i
            if not running:
                break
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                i = running.pop(fut)
                if fut.exception() is not None:
                    errors[i] = fut.exception()
                else:
                    results[i] = fut.result()
    if errors:
        raise errors[min(errors)]
    return [results[i] for i in range(len(tasks))]


@dataclass
class RunConfig:
    folders: list[str]
    output_dir: str
    nocheck: bool = False  # the reference's -nocheck flag (ght2dm.go:1126)
    incremental: bool = False  # append-only rerun against existing outputs
    # E3/E4: the reference's -verbose (per-entity import counts) and
    # -debug (statement-level tracing) flags.  verbose logs a per-table
    # row count measured IN the write pass via df.observe — never a
    # second scan; debug additionally logs each table's formatted
    # physical plan.
    verbose: bool = False
    debug: bool = False


def read_config(path: str) -> RunConfig:
    """Load the JSON run config (S4).  Unknown keys are ignored."""
    with open(path) as f:
        raw = json.load(f)
    return RunConfig(
        folders=list(raw["folders"]),
        output_dir=raw["output_dir"],
        nocheck=bool(raw.get("nocheck", False)),
        incremental=bool(raw.get("incremental", False)),
        verbose=bool(raw.get("verbose", False)),
        debug=bool(raw.get("debug", False)),
    )


def _decode_schema(entity: str) -> StructType:
    """Decode schema for read_bson_dumps, derived from the ONE schema
    registry (schemas.py — previously hand-duplicated here, a drift
    hazard): the registry entries include the file_date/file_pos scan
    provenance that the reader APPENDS, so the decode schema is the
    registry minus those two."""
    from ght2dm_spark import schemas

    registered = {
        "users": schemas.GH_USERS_RAW,
        "repos": schemas.GH_REPOS_RAW,
        "org_members": schemas.GH_ORG_MEMBERS_RAW,
        "repo_collaborators": schemas.GH_REPO_COLLABORATORS_RAW,
    }[entity]
    return StructType(
        [f for f in registered.fields if f.name not in ("file_date", "file_pos")]
    )


def run_from_config(spark: SparkSession, cfg: RunConfig) -> dict[str, str]:
    """Process every configured folder; returns table → path.

    Folders run in dependency order (:func:`folder_dependencies`), not
    one after another: a folder starts as soon as every earlier folder
    whose tables it reads — or that reads its tables — has staged, so
    each folder reads exactly what a run in config order would give it.
    Relation entities require their dimensions to have been imported
    first — exactly the reference's folder-order contract.  Within a
    folder, the tables whose frames are already materialized (the keyed
    entities, after their key pass) stage side by side.  Every job of
    the run stays in the caller's job group and is described as
    ``<entity>/<phase>``: ``keys``, ``dims`` or ``stage:<table>``.

    ``cfg.incremental``: rerun against existing outputs — already-loaded
    keys are anti-joined away (F3/F8), surrogate keys continue from the
    existing max (append-only, ids never reused), and new rows APPEND to
    the output tables.  A fresh run overwrites previous OUTPUTS, but
    folders within one run always accumulate (a config may list the same
    entity twice — the reference inserts every folder's rows into the
    same tables): later folders of an entity dedup against and append to
    the run's own staging, in either mode.

    Crash safety (the reference's per-file transactions, S8): every
    table write goes through the snapshot layer (:mod:`ght2dm_spark.
    snapshots`) — data + manifest are STAGED per table as the run
    progresses, and the CURRENT pointers flip only after every table
    has staged successfully (``snapshots.commit_all``, in config order,
    so a table staged twice flips parent-first).  When a folder fails,
    the folders already running finish, none starts, the first failure
    in config order is raised and nothing flips.  Before the first flip
    every table's CURRENT is checked against the snapshot its staging
    started from, so a concurrent commit on any table raises
    ``SnapshotConflictError`` with every output still at its previous
    snapshot.  A kill anywhere before the flips does the same.  The
    flips are one pointer write per table, not one atomic step: a kill
    during that loop leaves each table at exactly the old or the new
    snapshot, never half-written, but earlier tables may be new while
    later ones are old.  Stale staging from a crashed run is invisible
    and reclaimed by ``snapshots.vacuum``.
    """
    import logging
    from functools import partial

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ght2dm_spark.operators.keys import pinned, releasing_caches
    from ght2dm_spark.pipelines import (
        import_org_members,
        import_repo_collaborators,
        import_repos,
        import_users,
    )
    from ght2dm_spark.snapshots import (
        _pin,
        commit_all,
        prepare_commit,
        read_prepared,
        read_snapshot,
        vacuum,
    )
    from ght2dm_spark.sources.bson import read_bson_dumps, split_rejects

    log = logging.getLogger(__name__)
    if cfg.verbose or cfg.debug:
        # the reference's -v/-d print unconditionally; under Python's
        # default logging config (root at WARNING, no handler) these
        # records would vanish while verbose's observe() cost still ran
        log.setLevel(logging.DEBUG if cfg.debug else logging.INFO)
        if not log.handlers:
            h = logging.StreamHandler()
            h.setFormatter(logging.Formatter("%(name)s: %(message)s"))
            log.addHandler(h)
    out = Path(cfg.output_dir)
    written: dict[str, str] = {}
    # latest STAGED manifest per table this run — a later folder of the
    # same entity must read and chain onto the run's own staging, not the
    # still-unflipped CURRENT (else its anti-join misses the earlier
    # folder's rows and reissues their surrogate keys).  This holds for
    # FRESH runs too: the reference accumulates every folder's inserts
    # within one import (tables are only reset between runs), so the
    # second users folder of a fresh run appends to the first's staging.
    # Folders that stage the same table never run at the same time.
    staged: dict[str, object] = {}

    def _write(name, df):
        p = str(out / name)
        if cfg.debug:
            log.debug("plan for %s:\n%s", name, df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        obs = None
        if cfg.verbose:
            # E3: per-entity import counts, measured inside the write
            # job itself (df.observe) — the 100 TB form of the
            # reference's verbose logging, never a second scan
            obs = Observation(f"write_{name}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        # no self-read hazard on append: the incremental plan reads a
        # PINNED file list (previous snapshot or this run's staging),
        # never the live directory
        if name in staged:
            mode, base = "append", staged[name].manifest_name
        else:
            mode, base = ("append" if cfg.incremental else "overwrite"), None
        pc = prepare_commit(df, p, mode=mode, parent=base)
        staged[name] = pc
        if obs is not None:
            log.info("wrote %s: %d rows (%s)", name, obs.get["n_rows"], mode)
        written[name] = p
        return pc

    def _write_rejects(name, df):
        """Rejects have no key, so an incremental rerun — which rescans
        every file and re-emits every reject — would append the same
        rows again on each run.  exceptAll against the existing snapshot
        (NULL-safe, multiplicity-exact) keeps one copy per actual
        occurrence, mirroring what the keyed tables' anti-joins do.

        Known collapse: the in-run accumulation (``_existing`` returns
        earlier folders' staged rows) means an IDENTICAL reject row
        re-emitted by a LATER folder in the same run also collapses to
        one copy unless provenance columns (file_date / file_pos)
        disambiguate — which they do for every BSON-decode reject; only
        provenance-free reject shapes (resolve_fk drops) can coalesce
        across folders, and for those "the row is already recorded" is
        the semantics we want."""
        ex = _existing(name, merge_schema=True)
        if ex is not None:
            if set(df.columns) <= set(ex.columns):
                df = df.exceptAll(ex.select(*df.columns))
            else:
                # a widened reject shape (new provenance column) makes
                # the multiset dedup unsound — append raw, but LOUDLY:
                # silent skipping re-accumulated duplicates per rerun
                log.warning(
                    "%s: reject schema gained columns %s — skipping the "
                    "cross-run dedup for this write (duplicates from "
                    "re-scanned files may append)",
                    name,
                    sorted(set(df.columns) - set(ex.columns)),
                )
        return _write(name, df)

    def _existing(name, merge_schema=False):
        if name in staged:
            # this run already staged the table — read the staged
            # manifest's pinned files so later folders see earlier ones
            # (applies to fresh runs too: in-run accumulation; schema
            # drift is impossible within one run, so no merge needed)
            return read_prepared(spark, staged[name])
        if not cfg.incremental:
            return None
        return read_snapshot(
            spark, str(out / name), merge_schema=merge_schema
        )

    def _dim(name):
        """Dimension table for a relation import: this run's STAGED
        parquet when an earlier folder produced it, else the COMMITTED
        snapshot (an incremental run whose config lists only
        org_members / repo_collaborators is legitimate — the reference
        resolves relation FKs against the persistent tables,
        ght2dm.go:814-960).  Reading the staged files — not the raw
        decode lineage the old in-memory state carried — means the
        relation join broadcasts a plain parquet scan of data already
        on disk."""
        ex = _existing(name)
        if ex is None:
            raise ValueError(
                f"relation folder needs the {name} dimension, but no "
                f"folder in this run imports it and no committed "
                f"snapshot exists at {out / name} — import the "
                "dimension first (or run incrementally against a "
                "populated output dir)"
            )
        return ex

    def _next_key(df):
        if df is None:
            return 1
        mx = df.agg(F.max("id")).collect()[0][0]
        return (mx or 0) + 1

    # validate EVERY folder before any staging work: a typo in the last
    # folder must fail in milliseconds, not after hours of decode/dedup
    # on the earlier ones (whose staged output would become vacuum
    # garbage).  Three static checks: known entity basename, the
    # directory exists, and every relation folder's dimension tables are
    # satisfiable (an earlier folder in THIS config, or a committed
    # snapshot on disk) — all readable from names and CURRENT pointers.
    entities = []
    run_products: set[str] = set()
    for folder in cfg.folders:
        entity = os.path.basename(os.path.normpath(folder))
        if entity not in ENTITIES:
            raise ValueError(f"unknown entity folder: {folder}")
        if not os.path.isdir(folder):
            raise ValueError(f"entity folder does not exist: {folder}")
        for t in DIMENSIONS.get(entity, ()):
            if t in run_products:
                continue
            # A committed on-disk snapshot only satisfies the dimension
            # when the run is INCREMENTAL — _dim/_existing consult disk
            # solely under cfg.incremental, so accepting a snapshot here
            # on a non-incremental run would pass validation and still
            # fail hours later in _dim (the exact late failure this
            # fail-fast sweep exists to prevent).
            committed = _pin(out / t)[0] is not None
            if cfg.incremental and committed:
                continue
            hint = (
                f"a committed snapshot exists at {out / t} but this run "
                "is not incremental (set incremental=true to read it)"
                if committed
                else f"no committed snapshot exists at {out / t}"
            )
            raise ValueError(
                f"{folder}: needs the {t} dimension, but no earlier "
                f"folder in this config imports it and {hint} — order "
                "the dimension folder first (or run incrementally "
                "against a populated output dir)"
            )
        run_products |= set(STAGES[entity])
        entities.append(entity)

    def _phase(entity, phase):
        spark.sparkContext.setJobDescription(f"{entity}/{phase}")

    def _stagings(entity, raw):
        """(table, frame) per table the folder stages, in STAGES order;
        the eager work of the import (the key passes) runs here."""
        good, rej = split_rejects(raw)
        if entity == "users":
            _phase(entity, "keys")
            ex_u, ex_o = _existing("gh_users"), _existing("gh_organizations")
            # the whole decode: its corrupt rows join the invalid types
            # in one scan for the rejects
            res = import_users(
                raw,
                existing_gh_users=ex_u,
                existing_gh_organizations=ex_o,
                nocheck=cfg.nocheck,
                user_key_start=_next_key(ex_u),
                org_key_start=_next_key(ex_o),
            )
            frames = [res.users, res.gh_users, res.gh_organizations, res.rejects]
        elif entity == "repos":
            _phase(entity, "keys")
            ex_r, ex_g = _existing("repositories"), _existing("gh_repositories")
            res = import_repos(
                good,
                existing_repositories=ex_r,
                existing_gh_repositories=ex_g,
                key_start=_next_key(ex_r),
            )
            frames = [res.repositories, res.gh_repositories, rej]
        elif entity == "org_members":
            _phase(entity, "dims")
            res = import_org_members(
                good, _dim("gh_users"), _dim("gh_organizations"),
                existing=_existing("gh_users_organizations"),
                nocheck=cfg.nocheck,
            )
            frames = [
                res.gh_users_organizations,
                res.rejects.unionByName(rej, allowMissingColumns=True),
            ]
        else:
            _phase(entity, "dims")
            res = import_repo_collaborators(
                good, _dim("gh_users"), _dim("repositories"),
                _dim("gh_repositories"),
                existing=_existing("users_repositories"),
                nocheck=cfg.nocheck,
            )
            frames = [
                res.users_repositories,
                res.rejects.unionByName(rej, allowMissingColumns=True),
            ]
        return list(zip(STAGES[entity], frames))

    def _stage(entity, name, df):
        _phase(entity, f"stage:{name}")
        write = _write_rejects if name.startswith("rejects_") else _write
        return write(name, df)

    def _stage_folder(entity, folder):
        """Decode, import and stage one folder; its PreparedCommits in
        STAGES order."""
        # Every frame pinned for this folder is released when its staging
        # writes have run, or when one fails.
        with releasing_caches():
            # one pinned decode per folder: the keyed branch, the
            # org/user split, and the rejects write otherwise each
            # re-run the full binaryFile + BSON decode
            raw = pinned(read_bson_dumps(
                spark, folder, _decode_schema(entity),
                flatten=(
                    {"owner_login": ("owner", "login")}
                    if entity == "repos" else None
                ),
            ))
            tasks = [
                partial(_stage, entity, name, df)
                for name, df in _stagings(entity, raw)
            ]
            # A relation folder has no eager pass: its first write fills
            # the pinned frames, and its rejects wait for that rather than
            # compete for the same rows.
            after = (
                [set(range(i)) for i in range(len(tasks))]
                if entity in DIMENSIONS
                else None
            )
            return run_concurrently(spark, tasks, after)

    per_folder = run_concurrently(
        spark,
        [partial(_stage_folder, e, f) for e, f in zip(entities, cfg.folders)],
        folder_dependencies(entities),
    )
    # config order: a table staged by two folders flips parent-first
    prepared = [pc for folder_prepared in per_folder for pc in folder_prepared]
    # every table staged — check every base, then flip in one tight loop
    commit_all(prepared)
    # retention: immutable snapshots otherwise accumulate a full dataset
    # per rerun.  Keep THIS run's manifests plus one pre-run version per
    # table — a run that staged a table N times must not let a keep-2
    # window evict the version downstream consumers diff against
    # (read_increment since the pre-run seq).
    stagings: dict[str, int] = {}
    for p in prepared:
        stagings[p.table] = stagings.get(p.table, 0) + 1
    for table_path, n in stagings.items():
        vacuum(table_path, keep_manifests=n + 1)
    return written
