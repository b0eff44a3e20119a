"""Crash-safe table commits: a minimal manifest/snapshot layout over
parquet (the public Iceberg/Delta commit idea, reduced to what the
import and the registered queries call).

The reference wrapped each dump file's inserts in a transaction
(``/root/reference/ght2dm.go:250-254``) so a crash never left a table
half-loaded.  Plain ``df.write.parquet(path, mode="overwrite")`` has no
such property: Spark deletes the old directory before the new files are
complete, so a killed job loses BOTH versions.  Here a table is::

    <table>/
      data/<commit>-<part>.parquet   -- immutable data files
      _manifests/m-<seq>-<id>.json   -- file list per snapshot (+ parent)
      _tags/<name>, _branches/<name> -- named refs (vacuum roots)
      CURRENT                        -- name of the live manifest

and a commit is (1) write data files into ``data/``, (2) write a
manifest listing them, (3) atomically replace ``CURRENT`` (write temp,
fsync, ``os.replace``, fsync dir).  A kill at any point before (3)
leaves ``CURRENT`` pointing at the previous snapshot, which still reads
perfectly; orphaned data/manifest files are invisible garbage collected
by :func:`vacuum`.  Append commits reference the parent's files plus
the new ones — incremental runs never rewrite history.

One function, :func:`_write_manifest`, writes every manifest (an
append or overwrite from :func:`prepare_commit`, a merge-on-read delete
from :func:`delete_rows`): it numbers and stamps the manifest, carries
the parent's snapshot-level state the commit does not change, and
writes it atomically.  Only :func:`commit` and :func:`merge_branch`
write ``CURRENT``; a tag or a branch is a file naming one manifest.

Two-phase use (``prepare_commit`` … :func:`commit_all`) lets a
multi-table run stage every table's snapshot first and flip the CURRENT
pointers in one tight loop at the end — any half-staged run is entirely
invisible to readers, a concurrent commit on any table fails the run
before the first flip, and the crash window for cross-table skew
shrinks from the whole job to the flip loop itself (one pointer write
per table; a kill inside it still leaves some tables flipped).

Scale: manifests hold file NAMES, not data — a 100 TB table with 100 k
files is a ~10 MB json read once per query plan by the driver; data
files never move or rewrite on commit.  (On an object store, ``rename``
becomes a copy-free pointer write the same way; the fsync discipline is
the POSIX equivalent of a conditional PUT.)

Manifests additionally carry per-file column MIN/MAX taken from the
parquet footers at commit time (a footer read, no data IO — the same
idea as Iceberg's manifest column stats).  :func:`snapshot_files` /
:func:`read_snapshot` accept a ``prune`` range predicate and drop files
whose [min, max] cannot intersect it BEFORE Spark ever plans the scan —
on a 100 TB table laid out by key, a point-range query plans over the
handful of files that can contain it instead of listing 100 k.  Files
without stats for a pruned column are conservatively kept, so stats
are an optimization, never a correctness dependency.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CURRENT = "CURRENT"
#: meta keys carried from parent to child across EVERY commit (the
#: incremental layer's refresh watermarks — snapshot-level state, like
#: stream_batch); an explicit new value in ``meta`` still overrides.
_STICKY_META = ("source_version", "left_version", "right_version", "view_def")
# vacuum() only unlinks _atomic_write temps older than this — a fresh
# tmp may belong to a concurrent writer between tmp-write and replace.
_STALE_TMP_SECONDS = 300

_MANIFESTS = "_manifests"
_DATA = "data"
#: the implicit branch name of the CURRENT pointer — reserved so a
#: named branch can never shadow the main line
MAIN_BRANCH = "main"


def _fsync_file(path: Path) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _atomic_write(path: Path, text: str) -> None:
    tmp = path.with_name(path.name + f".tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_file(path.parent)


def _footer_stats(path: Path) -> dict[str, list]:
    """Per-column [min, max] merged across a parquet file's row groups,
    read from the footer only.  Columns whose physical min/max aren't
    JSON-representable (or absent) are skipped — pruning treats a
    missing column entry as "could be anything" and keeps the file.

    Truncation caveat baked into the merge: parquet writers may store
    TRUNCATED string min/max; min stays a valid lower bound and max a
    valid upper bound either way, which is exactly what range pruning
    needs (never tighter than the data, possibly looser)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    seen_all: set[str] = set()  # columns with stats in EVERY row group
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        present: set[str] = set()
        for i in range(rg.num_columns):
            c = rg.column(i)
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't materialize min/max for some physical
                # types (e.g. DECIMAL raises ArrowNotImplementedError).
                # Stats are an optimization, never a correctness
                # dependency — skip the column, keep the file prunable
                # on the others.  Without this, the FIRST commit of any
                # decimal-bearing table crashed in stats collection.
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                continue
            name = c.path_in_schema
            present.add(name)
            lo[name] = mn if name not in lo else min(lo[name], mn)
            hi[name] = mx if name not in hi else max(hi[name], mx)
        seen_all = present if g == 0 else (seen_all & present)
    return {k: [lo[k], hi[k]] for k in seen_all}


#: same-family width chains: appends may move along a chain in either
#: direction; the manifest records the WIDEST type seen and reads plan
#: at it (Spark's parquet reader upcasts narrower physical files).
_WIDTH_CHAINS = (
    ["tinyint", "smallint", "int", "bigint"],
    ["float", "double"],
)

_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _widen_type(a: str, b: str) -> str | None:
    """The wider of two simpleString types when both sit on one width
    chain; None when the change is incompatible (different families).
    Decimals widen by PRECISION at the same scale (the reader upcasts
    narrower physicals to the declared precision); a scale change
    reinterprets values and stays rejected."""
    for chain in _WIDTH_CHAINS:
        if a in chain and b in chain:
            return chain[max(chain.index(a), chain.index(b))]
    da, db = _DECIMAL_RE.match(a), _DECIMAL_RE.match(b)
    if da and db and da.group(2) == db.group(2):
        return a if int(da.group(1)) >= int(db.group(1)) else b
    return None


def _file_survives(stats: dict[str, list] | None, prune: dict) -> bool:
    """Can a file with these footer stats contain a row matching the
    conjunctive range predicate ``prune`` ({col: (lo, hi)})?  Missing
    stats (un-stat-able column type, empty file) ⇒ keep.  Stats are an
    optimization, never a correctness dependency — so a bound/stat TYPE
    mismatch (string stats pruned with numeric bounds, mixed-type stats
    after schema evolution) also keeps the file instead of raising at
    plan time."""
    if not stats:
        return True
    for col, (plo, phi) in prune.items():
        s = stats.get(col)
        if s is None:
            continue
        mn, mx = s
        try:
            if plo is not None and mx < plo:
                return False
            if phi is not None and mn > phi:
                return False
        except TypeError:
            continue
    return True


def _read_current(table: Path) -> str | None:
    cur = table / _CURRENT
    if not cur.exists():
        return None
    name = cur.read_text().strip()
    return name or None


def _load_manifest(table: Path, name: str) -> dict:
    with open(table / _MANIFESTS / name) as f:
        return json.load(f)


def _pin(path) -> tuple[str | None, dict]:
    """(CURRENT manifest name, that manifest) from ONE pointer read;
    ``(None, {})`` for a never-committed table.  A read-modify-write
    takes its watermark, its state (:func:`_read_manifest`) and its
    conflict base (:func:`_commit_guarded`) from this one pin, so a
    commit landing in between raises SnapshotConflictError instead of
    being merged twice or erased."""
    table = Path(path)
    name = _read_current(table)
    return name, (_load_manifest(table, name) if name is not None else {})


def _stamp_ts(parent_manifest: dict | None) -> float:
    """Commit timestamp for a new manifest, clamped to be >= the
    parent's.  The AS OF resolver's newest-first "first eff <= epoch"
    scan relies on chain timestamps being monotone; a wall-clock step
    BACK (NTP correction) between two commits would otherwise stamp a
    child earlier than its parent and let an AS OF instant resolve to a
    snapshot newer than a skipped ancestor.  The invariant is enforced
    at stamping time, not assumed.

    STRICTLY monotone: equal parent/child timestamps would make an AS OF
    at that instant ambiguous (the newest-first scan would resolve the
    CHILD while a caller that captured the parent's ts expects the
    parent — a driver red for the time-travel queries), so a clamped
    child gets the parent's ts plus one microsecond."""
    ts = time.time()
    if parent_manifest:
        pts = parent_manifest.get("ts")
        if pts is not None and ts <= float(pts):
            ts = float(pts) + 1e-6
    return ts


class SnapshotConflictError(RuntimeError):
    """Raised by :func:`commit` when CURRENT moved after this snapshot
    was prepared — another writer published first.  The optimistic-
    concurrency retry is the caller's: re-prepare the SAME LOGICAL
    CHANGE against the new CURRENT and commit again (what Delta/Iceberg
    writers do); blindly re-flipping would silently drop the other
    writer's rows."""


@dataclass
class PreparedCommit:
    """A fully-staged snapshot: data + manifest durable on disk, but not
    yet referenced by CURRENT.  Invisible to readers until :func:`commit`;
    a crash now costs only orphan files."""

    table: str
    manifest_name: str
    seq: int
    n_files: int
    parent: str | None = None


def _max_staged_seq(table: Path) -> int:
    """Highest seq among ALL manifest files, committed or not — new
    commits number past crashed runs' leftovers so a stale staged
    manifest can never share a seq with (and be confused for) a real
    later commit."""
    mdir = table / _MANIFESTS
    if not mdir.exists():
        return -1
    seqs = [int(p.name.split("-")[1]) for p in mdir.glob("m-*.json")]
    return max(seqs, default=-1)


def _stage_data_files(
    df: DataFrame, table: Path, commit_id: str, tag: str = ""
) -> tuple[list[str], dict[str, dict]]:
    """Write ``df`` as parquet under commit-scoped names in data/,
    fsyncing EVERY data file and then the directory before returning —
    a manifest must never be published over non-durable bytes (CURRENT
    is fsynced; if the data blocks were not, a power loss after the
    pointer flip would leave a live snapshot referencing truncated
    files, violating the kill-at-any-point contract).  Returns
    (file names, footer stats per name)."""
    staging = table / f"_staging-{commit_id}"
    df.write.mode("overwrite").parquet(str(staging))
    names: list[str] = []
    stats: dict[str, dict] = {}
    for i, part in enumerate(sorted(staging.glob("*.parquet"))):
        dest = table / _DATA / f"{commit_id}{tag}-{i:05d}.parquet"
        fstats = _footer_stats(part)
        os.replace(part, dest)
        _fsync_file(dest)
        names.append(dest.name)
        if fstats:
            stats[dest.name] = fstats
    shutil.rmtree(staging)
    _fsync_file(table / _DATA)
    return names, stats


#: the delete set — merge-on-read key files plus their key contract,
#: recorded schema, footer stats and seqs.  Part of the snapshot's
#: logical state, not of any one commit: every mode but an overwrite
#: keeps it.
_DELETE_FIELDS = (
    "delete_files", "delete_keys", "delete_schema", "delete_stats",
    "delete_seqs",
)


def _write_manifest(
    table: Path,
    base: str | None,
    pm: dict,
    commit_id: str,
    mode: str,
    new_files: list[str],
    new_stats: dict[str, dict],
    meta: dict | None = None,
    new_deletes: list[str] = (),
    **fields,
) -> PreparedCommit:
    """Stage the manifest of a commit onto ``base`` (whose manifest is
    ``pm``; ``{}`` for a first commit) — the one writer of manifests.

    It takes the next seq past every staged manifest and a timestamp
    after the parent's, and is written atomically.  An overwrite starts
    from no files and no deletes; every other mode keeps the parent's
    files (their stats and seqs too) and its delete set.  ``new_files``
    and ``new_deletes`` join under this commit's seq — sequence scoping
    (the Iceberg idea): a delete applies only to files that existed
    when it committed, so a key re-inserted AFTER a delete stays
    visible.  Every mode carries the parent's ``schema``,
    ``stream_batch`` and :data:`_STICKY_META` keys.  ``fields`` replace
    snapshot-level fields (None drops one), ``meta`` is merged over the
    carried keys, and a ``batch_id`` in it advances ``stream_batch``."""
    seq = _max_staged_seq(table) + 1
    kept = {} if mode == "overwrite" else pm
    m = {
        "seq": seq,
        "ts": _stamp_ts(pm),
        "parent": base,
        "mode": mode,
        "files": [*kept.get("files", ()), *new_files],
        "stats": {**kept.get("stats", {}), **new_stats},
        "file_seqs": {
            **kept.get("file_seqs", {}), **dict.fromkeys(new_files, seq)
        },
    }
    if "schema" in pm:
        m["schema"] = pm["schema"]
    m.update((k, kept[k]) for k in _DELETE_FIELDS if k in kept)
    if new_deletes:
        m["delete_files"] = [*m.get("delete_files", ()), *new_deletes]
        m["delete_seqs"] = {
            **m.get("delete_seqs", {}), **dict.fromkeys(new_deletes, seq)
        }
    for k, v in fields.items():
        if v is None:
            m.pop(k, None)
        else:
            m[k] = v
    # refresh watermarks are snapshot-level STATE like stream_batch: a
    # commit that dropped them would silently degrade the next
    # incremental refresh to a full reseed and break verify_aggregate's
    # pinned-version audit
    parent_meta = pm.get("meta", {})
    merged_meta = {
        **{k: parent_meta[k] for k in _STICKY_META if k in parent_meta},
        **(meta or {}),
    }
    if merged_meta:
        m["meta"] = merged_meta
    # the exactly-once watermark (see last_streamed_batch) survives every
    # commit mode and vacuum, and only ADVANCES: a caller passing a
    # smaller batch_id (metadata backfill) must not reopen committed
    # batches
    stream_batch = pm.get("stream_batch")
    if meta and "batch_id" in meta:
        b = int(meta["batch_id"])
        stream_batch = b if stream_batch is None else max(stream_batch, b)
    if stream_batch is not None:
        m["stream_batch"] = stream_batch
    name = f"m-{seq:06d}-{commit_id}.json"
    _atomic_write(table / _MANIFESTS / name, json.dumps(m, indent=1))
    return PreparedCommit(
        table=str(table),
        manifest_name=name,
        seq=seq,
        n_files=len(m["files"]),
        parent=base,
    )


def prepare_commit(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    parent: str | None = None,
    meta: dict | None = None,
) -> PreparedCommit:
    """Stage a new snapshot of ``path`` from ``df`` without publishing it.

    ``mode="overwrite"``: the new snapshot is exactly ``df``.
    ``mode="append"``: the new snapshot is the parent snapshot's files
    plus ``df``'s — no data rewrite, and because the manifest pins the
    OLD file list by name, a plan that reads the table while appending to
    it (the incremental runner's anti-join-then-append shape) can never
    see its own output.

    ``parent`` names an explicit base manifest — normally omitted (the
    CURRENT pointer is the base), but a two-phase multi-table run that
    stages the same table twice must chain the second staging onto the
    first STAGED manifest, not onto the still-unflipped CURRENT.
    """
    table = Path(path)
    (table / _MANIFESTS).mkdir(parents=True, exist_ok=True)
    (table / _DATA).mkdir(parents=True, exist_ok=True)

    base_name = parent if parent is not None else _read_current(table)
    pm = _load_manifest(table, base_name) if base_name is not None else {}
    if base_name is None:
        mode = "overwrite"  # first commit: append == overwrite

    # Fail-fast schema contract: an INCOMPATIBLY type-changing append
    # (string -> double, bigint -> string, ...) produces a table NO
    # read path can plan — plain reads hit
    # PARQUET_COLUMN_DATA_TYPE_MISMATCH, and mergeSchema refuses to
    # merge conflicting leaf types — so reject it at commit time,
    # naming the columns, instead of bricking every subsequent read.
    # Same-family WIDTH changes (tinyint..bigint, float/double) stay
    # legal in either direction: the manifest records the WIDEST type
    # seen, and the merge-schema read path plans the scan at that
    # declared type (Spark's parquet reader upcasts narrower physical
    # files).  Column ADDITIONS (and absences) stay legal: ordinary
    # evolution.  Recording the commit's logical schema in the manifest
    # is what makes the check O(1) instead of a footer walk over the
    # parent's file list.
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if mode == "append":
        parent_schema = pm["schema"]
        merged_types: dict[str, str] = {}
        conflicts: dict[str, tuple[str, str]] = {}
        for c, t in schema.items():
            if c in parent_schema and parent_schema[c] != t:
                wide = _widen_type(parent_schema[c], t)
                if wide is None:
                    conflicts[c] = (parent_schema[c], t)
                else:
                    merged_types[c] = wide
        if conflicts:
            detail = ", ".join(
                f"{c}: {old} -> {new}" for c, (old, new) in sorted(conflicts.items())
            )
            raise ValueError(
                f"{path}: append changes existing column type(s) "
                f"({detail}) — no read path can plan the mixed files; "
                "cast the DataFrame to the table's types, or overwrite"
            )
        schema = {**parent_schema, **schema, **merged_types}

    commit_id = uuid.uuid4().hex[:12]
    new_files, new_stats = _stage_data_files(df, table, commit_id)
    return _write_manifest(
        table, base_name, pm, commit_id, mode, new_files, new_stats,
        meta=meta, schema=schema,
    )


def commit(prepared: PreparedCommit, force: bool = False) -> None:
    """Publish a prepared snapshot: one atomic CURRENT pointer flip,
    guarded by an optimistic-concurrency check — if CURRENT no longer
    names the base this snapshot was prepared against, another writer
    won the race and flipping would LOSE its committed rows, so
    :class:`SnapshotConflictError` is raised instead (``force=True``
    restores last-writer-wins for callers that genuinely replace the
    whole table).

    Single-process discipline: the check-then-flip pair is not itself
    atomic across hosts — a multi-driver deployment puts the flip
    behind a coordination service (the same reason Delta needs a
    commit service on S3); within one driver (this engine's runner,
    streams via foreachBatch) the check is sufficient."""
    if not force:
        _check_parent(prepared)
    _atomic_write(Path(prepared.table) / _CURRENT, prepared.manifest_name)


def _check_parent(prepared: PreparedCommit) -> None:
    cur = _read_current(Path(prepared.table))
    if cur != prepared.parent:
        raise SnapshotConflictError(
            f"{prepared.table}: prepared against "
            f"{prepared.parent!r} but CURRENT is {cur!r} — "
            "re-prepare against the new snapshot and retry"
        )


def commit_all(prepared: list[PreparedCommit]) -> None:
    """Publish a multi-table run's staged snapshots, in staging order.

    Every table's CURRENT is checked against the parent of its FIRST
    staged manifest before any pointer flips (a table staged twice
    chains its later manifests onto the first), so a concurrent commit
    on any table raises :class:`SnapshotConflictError` with nothing
    published.  The flips themselves are one pointer write per
    manifest: a kill between two of them still leaves the earlier
    tables new and the later ones old."""
    first: dict[str, PreparedCommit] = {}
    for p in prepared:
        first.setdefault(p.table, p)
    for p in first.values():
        _check_parent(p)
    for p in prepared:
        commit(p)


def delete_rows(
    df_keys: DataFrame, path: str, parent: str | None = None
) -> PreparedCommit:
    """Stage a MERGE-ON-READ delete: the rows whose key columns match
    ``df_keys`` disappear from subsequent reads WITHOUT rewriting any
    data file — the commit adds only a small key file (the
    deletion-vector idea at key granularity).  O(deleted keys) write
    cost instead of O(table); an overwrite of the table with its
    :func:`read_snapshot` materializes the deletes and drops the key
    files.

    The key columns are ``df_keys.columns`` and must match any deletes
    already carried by the parent snapshot (one key contract per
    table).  Time travel is preserved: older versions never reference
    the new key file, so they still show the rows."""
    table = Path(path)
    base_name = parent if parent is not None else _read_current(table)
    if base_name is None:
        raise ValueError(f"{path}: cannot delete from a never-committed table")
    pm = _load_manifest(table, base_name)
    key_cols = list(df_keys.columns)
    prev_keys = pm.get("delete_keys")
    if prev_keys is not None and list(prev_keys) != key_cols:
        raise ValueError(
            f"{path}: delete key columns {key_cols} != existing {prev_keys}"
        )
    # Fail FAST on a bad key frame — both faults otherwise surface only
    # at read time, after the delete has committed:
    # - a key column missing from any live data file bricks every
    #   subsequent read (the anti-join can't resolve the column at plan
    #   time), including the overwrite that would repair the table;
    # - a NULL key value matches nothing in the anti-join (SQL null
    #   semantics), so the delete silently removes zero rows.
    import pyarrow.parquet as _pq

    for f in pm["files"]:
        cols = set(_pq.read_schema(table / _DATA / f).names)
        missing = [k for k in key_cols if k not in cols]
        if missing:
            raise ValueError(
                f"{path}: delete key column(s) {missing} absent from data "
                f"file {f} — a committed delete on them would make the "
                f"table unreadable"
            )
    from functools import reduce as _reduce

    from pyspark.sql import Observation

    # NULL-key guard fused into the staging write: a separate
    # filter(null).limit(1).count() probe would re-run the whole key
    # frame's lineage (often a filtered base-table scan) once more just
    # to check for NULLs — observe() rides the write job for free, and
    # the staged files are unlinked before the raise so a rejected
    # delete leaves no orphans for vacuum to misread.
    null_pred = _reduce(
        lambda a, b: a | b, [F.col(c).isNull() for c in key_cols]
    )
    obs = Observation()
    commit_id = uuid.uuid4().hex[:12]
    new_dels, new_dstats = _stage_data_files(
        df_keys.observe(obs, F.sum(null_pred.cast("int")).alias("n_null")),
        table, commit_id, tag="-del",
    )
    if (obs.get["n_null"] or 0) > 0:
        for f in new_dels:
            (table / _DATA / f).unlink(missing_ok=True)
        raise ValueError(
            f"{path}: delete keys contain NULL — NULL never matches in the "
            f"anti-join, so such a delete silently removes nothing"
        )
    # Record the key files' schema so readers can plan the delete-key
    # scans without a footer-inference job (one per delete-applying
    # read otherwise).  Widen against the parent's recorded key schema
    # (older key files may be narrower — the reader upcasts); on an
    # unwidenable conflict fall back to recording nothing (inference).
    dschema: dict[str, str] | None = {
        f.name: f.dataType.simpleString() for f in df_keys.schema.fields
    }
    parent_ds = pm.get("delete_schema")
    if parent_ds is not None:
        merged_ds: dict[str, str] = {}
        for c in key_cols:
            a, b = parent_ds.get(c), dschema[c]
            wide = b if (a is None or a == b) else _widen_type(a, b)
            if wide is None:
                merged_ds = {}
                break
            merged_ds[c] = wide
        dschema = merged_ds or None
    # Per-key-file footer stats + row counts: lets the incremental
    # refresh derive its retraction-scan prune bounds (and the
    # IN-pushdown cap decision) from the MANIFEST instead of running
    # bounds-aggregation jobs over the key frame at every refresh.
    dstats = dict(pm.get("delete_stats", {}))
    for f in new_dels:
        dstats[f] = {
            "cols": new_dstats.get(f, {}),
            "rows": _pq.ParquetFile(table / _DATA / f).metadata.num_rows,
        }
    return _write_manifest(
        table, base_name, pm, commit_id, "delete", [], {},
        new_deletes=new_dels, delete_keys=key_cols, delete_schema=dschema,
        delete_stats=dstats,
    )


def _recorded_schema(m: dict) -> str:
    """DDL of the schema a manifest records (every manifest records one:
    prepare_commit sets it, every other commit carries it)."""
    return ", ".join(f"`{c}` {t}" for c, t in m["schema"].items())


def _delete_key_reader(spark: SparkSession, m: dict):
    """Reader for manifest ``m``'s delete-key files, planned at the key
    schema delete_rows recorded (widened over delete commits) instead of
    by a footer-inference job; it records none only when two deletes'
    key types could not be widened, and then the reader infers."""
    ds = m.get("delete_schema")
    if not ds:
        return spark.read
    return spark.read.schema(
        ", ".join(f"`{c}` {ds[c]}" for c in m["delete_keys"])
    )


def _read_files_with_deletes(
    spark: SparkSession,
    table: Path,
    m: dict,
    file_paths: list[str],
    schema=None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read ``file_paths`` applying the manifest's merge-on-read deletes
    with SEQUENCE SCOPING (the Iceberg rule): a delete key file applies
    only to data files that existed when the delete committed
    (file_seq < delete_seq) — so a key re-inserted after its delete
    stays visible.  Files group by which suffix of the seq-ordered
    delete list applies to them (≤ #deletes+1 groups); each group is one
    scan + one broadcast anti-join.

    A merge-schema read plans the scan at the manifest's recorded schema
    instead of footer unification: the recorded schema already
    accumulates evolved columns AND width promotions (int files upcast
    to a declared bigint — footer mergeSchema would refuse that merge),
    and skipping the footer walk is free speed."""
    if schema is None and merge_schema:
        schema = _recorded_schema(m)
        merge_schema = False
    reader = spark.read.schema(schema) if schema is not None else spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    dels = m.get("delete_files")
    if not dels:
        return reader.parquet(*file_paths)
    import bisect

    key_cols = list(m["delete_keys"])
    kreader = _delete_key_reader(spark, m)
    fseq = m["file_seqs"]
    dseq = m["delete_seqs"]
    dels_sorted = sorted(dels, key=dseq.__getitem__)
    dvals = [dseq[d] for d in dels_sorted]
    groups: dict[int, list[str]] = {}
    for p in file_paths:
        fs = fseq[os.path.basename(p)]
        # first delete with delete_seq > file_seq starts the suffix
        groups.setdefault(bisect.bisect_right(dvals, fs), []).append(p)
    out: DataFrame | None = None
    for i in sorted(groups):
        part = reader.parquet(*groups[i])
        if dels_sorted[i:]:
            keys = kreader.parquet(
                *[str(table / _DATA / d) for d in dels_sorted[i:]]
            )
            part = part.join(keys, on=key_cols, how="left_anti")
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=merge_schema
        )
    return out


def read_prepared(
    spark: SparkSession, prepared: PreparedCommit, schema=None
) -> DataFrame | None:
    """DataFrame over a staged-but-unpublished snapshot's pinned file
    list — how a multi-table run reads its OWN earlier staging before
    the pointers flip (readers elsewhere still see CURRENT).  Applies
    the staged manifest's merge-on-read deletes exactly like
    read_snapshot will after the flip — otherwise a run that stages a
    delete and then reads its own staging would resurrect the deleted
    rows and bake them into downstream tables.

    The scan is planned at the manifest's recorded schema, not by a
    footer-inference job."""
    m = _load_manifest(Path(prepared.table), prepared.manifest_name)
    return _read_manifest(spark, prepared.table, m, schema=schema)


def _read_manifest(
    spark: SparkSession, path, m: dict, schema=None
) -> DataFrame | None:
    """DataFrame over manifest ``m`` of the table at ``path`` — its
    files at its recorded schema (or ``schema``), its merge-on-read
    deletes applied — or None when it holds no files (``m`` = ``{}``
    for a never-committed table, as :func:`_pin` returns)."""
    table = Path(path)
    files = [str(table / _DATA / f) for f in m.get("files", ())]
    if not files:
        return None
    if schema is None:
        schema = _recorded_schema(m)
    return _read_files_with_deletes(spark, table, m, files, schema=schema)


def _commit_guarded(
    df: DataFrame,
    path: str,
    base: str | None,
    mode: str = "overwrite",
    meta: dict | None = None,
) -> PreparedCommit:
    """Stage ``df`` onto the pinned ``base`` (see :func:`_pin`) and
    publish it.  commit() catches a writer that moved CURRENT off a
    pinned base; this also closes the first-commit race: with no base
    pinned, prepare_commit resolves CURRENT itself, so a parent that
    appeared meanwhile raises instead of being overwritten or appended
    to twice."""
    p = prepare_commit(df, path, mode=mode, parent=base, meta=meta)
    if base is None and p.parent is not None:
        raise SnapshotConflictError(
            f"{path}: table committed concurrently since it was pinned — "
            "re-run against the new snapshot"
        )
    commit(p)
    return p


def write_table_atomic(df: DataFrame, path: str, mode: str = "overwrite") -> PreparedCommit:
    """One-table convenience: stage + publish."""
    p = prepare_commit(df, path, mode=mode)
    commit(p)
    return p


def _chain_from(table: Path, head: str | None) -> list[tuple[str, dict]]:
    """(name, manifest) pairs reachable from manifest ``head`` via parent
    links, newest-first.  From CURRENT this is the COMMITTED lineage —
    manifests staged by a crashed run are unreachable and never appear
    here, so time travel and vacuum can't be confused by them."""
    chain: list[tuple[str, dict]] = []
    name, seen = head, set()
    while name is not None and name not in seen:
        seen.add(name)
        try:
            m = _load_manifest(table, name)
        except FileNotFoundError:
            break  # chain truncated by vacuum
        chain.append((name, m))
        name = m.get("parent")
    return chain


def history(path: str) -> list[dict]:
    """Committed versions oldest-first (the CURRENT parent chain), each
    with seq/mode/file count/commit timestamp — data files are
    immutable, so every retained entry is a readable point-in-time
    version."""
    table = Path(path)
    return [
        {
            "manifest": name,
            "seq": m["seq"],
            "mode": m["mode"],
            "n_files": len(m["files"]),
            "ts": m["ts"],
        }
        for name, m in reversed(_chain_from(table, _read_current(table)))
    ]


# -- named refs -------------------------------------------------------------
#
# A tag or a branch is a file (``_tags/<name>``, ``_branches/<name>``)
# holding one manifest filename, written with the same fsync'd
# atomic-replace discipline as CURRENT.  A tag pins a version under a
# human-stable name ("the corpus we trained run X on"); a branch is a
# WRITABLE head (Iceberg-style) that commit_branch advances, so an
# experiment can commit against its own lineage while main (the CURRENT
# pointer) moves independently, and a fast-forward merge is one atomic
# pointer flip.  Both are vacuum retention roots.

_REF_DIRS = {"tag": "_tags", "branch": "_branches"}
_REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _refs(table: Path, kind: str) -> dict[str, str]:
    """Ref name → manifest filename (empty if none).  ``.tmp-`` names
    are crash-orphaned _atomic_write temps, not refs: they match the
    name pattern ("v1.tmp-ab12cd34"), and reading one as a ref would
    surface a phantom name AND make vacuum() hold its manifest as a
    permanent retention root."""
    rdir = table / _REF_DIRS[kind]
    if not rdir.is_dir():
        return {}
    return {
        f.name: f.read_text().strip()
        for f in sorted(rdir.iterdir())
        if f.is_file() and _REF_NAME_RE.match(f.name) and ".tmp-" not in f.name
    }


def _ref_head(table: Path, kind: str, name: str) -> str:
    """The manifest ref ``name`` pins; raises if the ref or the manifest
    is gone."""
    refs = _refs(table, kind)
    if name not in refs:
        raise FileNotFoundError(
            f"{table}: no {kind} {name!r} (have {sorted(refs)})"
        )
    mname = refs[name]
    if not (table / _MANIFESTS / mname).is_file():
        raise FileNotFoundError(
            f"{table}: {kind} {name!r} pins {mname}, which no longer exists"
        )
    return mname


def _write_ref(table: Path, kind: str, name: str, mname: str) -> None:
    rdir = table / _REF_DIRS[kind]
    rdir.mkdir(parents=True, exist_ok=True)
    _atomic_write(rdir / name, mname)


def _new_ref(
    path: str, kind: str, name: str, version: int | None = None,
    tag: str | None = None,
) -> str:
    """Point ref ``name`` at a committed version — the current one by
    default, an older retained ``version``, or a ``tag``'s pinned one —
    and return its manifest filename.  Re-pointing an existing name
    moves it atomically."""
    if not _REF_NAME_RE.match(name or ""):
        raise ValueError(
            f"invalid {kind} name {name!r} (alnum start, then "
            "[A-Za-z0-9._-], max 64 chars)"
        )
    if ".tmp-" in name:
        # reserved: the _atomic_write temp namespace — _refs() and
        # vacuum() treat such files as crash orphans, so a ref named
        # into it would silently disappear and lose its retention pin
        raise ValueError(f"invalid {kind} name {name!r} ('.tmp-' is reserved)")
    table = Path(path)
    mname = _manifest_for(table, version, tag=tag)
    if mname is None:
        raise FileNotFoundError(f"{path}: no committed snapshot to {kind}")
    _write_ref(table, kind, name, mname)
    return mname


def tag_snapshot(path: str, name: str, version: int | None = None) -> str:
    """Pin a committed version (the current one by default) under tag
    ``name`` and return the pinned manifest filename.  Tags are
    retention roots — :func:`vacuum` keeps a tagged manifest and its
    data files regardless of ``keep_manifests``."""
    return _new_ref(path, "tag", name, version=version)


def list_tags(path: str) -> dict[str, str]:
    """tag name → pinned manifest filename (empty if no tags)."""
    return _refs(Path(path), "tag")


class BranchDivergedError(RuntimeError):
    """Raised by :func:`merge_branch` when both main and the branch have
    committed since their common ancestor — a fast-forward would silently
    drop one side's rows.  Resolution is data-level and table-specific
    (re-apply one side's increment onto the other via read_increment /
    apply_changes), so the engine refuses rather than guesses."""


def create_branch(
    path: str, name: str, version: int | None = None, tag: str | None = None
) -> str:
    """Create (or atomically repoint) branch ``name`` at a committed
    version — the current one by default, an older retained ``version``,
    or a ``tag``'s pinned version.  Returns the head manifest filename.
    The name ``main`` is reserved for the CURRENT pointer itself."""
    if name == MAIN_BRANCH:
        raise ValueError(
            f"branch name {MAIN_BRANCH!r} is reserved (it IS the CURRENT "
            "pointer — commit() already writes it)"
        )
    return _new_ref(path, "branch", name, version=version, tag=tag)


def list_branches(path: str) -> dict[str, str]:
    """branch name → head manifest filename (empty if none)."""
    return _refs(Path(path), "branch")


def branch_head(path: str, name: str) -> str:
    """Head manifest filename of a branch; raises if absent/vacuumed."""
    return _ref_head(Path(path), "branch", name)


def prepare_commit_branch(
    df: DataFrame, path: str, branch: str, mode: str = "append", **kw
) -> PreparedCommit:
    """:func:`prepare_commit` against a BRANCH head instead of CURRENT —
    the staged manifest chains onto the branch's lineage, so main's
    concurrent commits neither appear in nor conflict with it."""
    return prepare_commit(
        df, path, mode=mode, parent=branch_head(path, branch), **kw
    )


def commit_branch(prepared: PreparedCommit, branch: str, force: bool = False) -> None:
    """Publish a prepared snapshot as the new head of ``branch`` — the
    branch-file analogue of :func:`commit`, same optimistic-concurrency
    rule: if the branch head moved after prepare, another writer won and
    flipping would lose its rows."""
    if not force:
        cur = branch_head(prepared.table, branch)
        if cur != prepared.parent:
            raise SnapshotConflictError(
                f"{prepared.table}: prepared against {prepared.parent!r} "
                f"but branch {branch!r} is at {cur!r} — re-prepare and retry"
            )
    _write_ref(Path(prepared.table), "branch", branch, prepared.manifest_name)


def is_ancestor(path: str, ancestor: str, head: str) -> bool:
    """True if manifest ``ancestor`` is on ``head``'s parent chain
    (inclusive).  Conservative under vacuum: a truncated chain answers
    False, which only blocks a fast-forward, never loses data."""
    table = Path(path)
    return any(name == ancestor for name, _ in _chain_from(table, head))


def merge_base(path: str, branch: str) -> str | None:
    """Newest manifest common to main's chain and ``branch``'s chain —
    the merge base for divergence checks; None if the chains no longer
    intersect (vacuum truncation)."""
    table = Path(path)
    main_chain = {name for name, _ in _chain_from(table, _read_current(table))}
    for name, _ in _chain_from(table, branch_head(path, branch)):
        if name in main_chain:
            return name
    return None


def merge_branch(path: str, branch: str) -> str:
    """Fast-forward main to ``branch``'s head and return the new CURRENT
    manifest name.  Legal only when main has NOT moved since the branch
    forked (CURRENT is an ancestor of the branch head) — then the flip
    is the same atomic publish a plain commit does, and every branch
    commit becomes main history.  If the branch is already merged (its
    head is an ancestor of CURRENT) this is a no-op returning CURRENT.
    Divergence raises :class:`BranchDivergedError` with the merge base
    named — the caller replays one side's increment, it is never
    silently dropped."""
    table = Path(path)
    head = branch_head(path, branch)
    cur = _read_current(table)
    if cur is None or cur == head or is_ancestor(path, cur, head):
        _atomic_write(table / _CURRENT, head)
        return head
    if is_ancestor(path, head, cur):
        return cur  # already merged
    base = merge_base(path, branch)
    raise BranchDivergedError(
        f"{path}: branch {branch!r} ({head}) and main ({cur}) have both "
        f"committed since their merge base ({base}) — fast-forward would "
        "drop one side; replay one side's increment onto the other"
    )


def vacuum_plan(path: str, keep_manifests: int = 2) -> dict[str, list[str]]:
    """Dry-run of :func:`vacuum`'s MANIFEST retention: which manifest
    files the chain window, tag roots, and branch roots each pin, and
    which are removable (older chain entries plus crash-staged
    orphans).  Categories are disjoint with chain > tag > branch
    precedence; nothing is deleted."""
    table = Path(path)
    mdir = table / _MANIFESTS
    if not mdir.exists():
        return {"kept_chain": [], "kept_tag": [], "kept_branch": [],
                "removable": []}
    chain = _chain_from(table, _read_current(table))
    plan = {"kept_chain": [name for name, _ in chain[: max(keep_manifests, 1)]]}
    seen = set(plan["kept_chain"])
    for kind in _REF_DIRS:
        plan[f"kept_{kind}"] = []
        for _r, mname in sorted(_refs(table, kind).items()):
            if mname not in seen and (mdir / mname).is_file():
                plan[f"kept_{kind}"].append(mname)
                seen.add(mname)
    plan["removable"] = sorted(
        p.name for p in mdir.glob("m-*.json") if p.name not in seen
    )
    return plan


def _as_epoch(as_of) -> float:
    """Normalize an AS OF instant: epoch seconds, datetime, or an ISO
    string (naive strings are taken as UTC — manifest timestamps are
    epoch seconds, timezone-free by construction)."""
    import datetime as dt

    if isinstance(as_of, (int, float)):
        return float(as_of)
    if isinstance(as_of, str):
        as_of = dt.datetime.fromisoformat(as_of.replace("Z", "+00:00"))
    if isinstance(as_of, dt.datetime):
        if as_of.tzinfo is None:
            as_of = as_of.replace(tzinfo=dt.timezone.utc)
        return as_of.timestamp()
    raise TypeError(f"as_of: expected epoch/datetime/ISO string, got {as_of!r}")


def _manifest_for(
    table: Path, version: int | None, as_of=None, tag: str | None = None,
    branch: str | None = None,
) -> str | None:
    if sum(x is not None for x in (version, as_of, tag, branch)) > 1:
        raise ValueError("pass version OR as_of OR tag OR branch, not several")
    if branch is not None:
        return _ref_head(table, "branch", branch)
    if tag is not None:
        return _ref_head(table, "tag", tag)
    if version is None and as_of is None:
        return _read_current(table)
    chain = _chain_from(table, _read_current(table))
    if as_of is not None:
        # newest committed manifest stamped at-or-before the instant;
        # chain timestamps are strictly monotone (_stamp_ts enforces it)
        epoch = _as_epoch(as_of)
        for name, m in chain:
            if m["ts"] <= epoch:
                return name
        raise FileNotFoundError(
            f"no committed snapshot of {table} at or before {as_of!r} "
            "(table did not exist yet, or the manifest was vacuumed)"
        )
    for name, m in chain:
        if int(m["seq"]) == version:
            return name
    raise FileNotFoundError(
        f"no committed manifest for version {version} in {table} (vacuumed?)"
    )


def snapshot_files(
    path: str,
    version: int | None = None,
    prune: dict | None = None,
    allow_deletes: bool = False,
    as_of=None,
    tag: str | None = None,
    branch: str | None = None,
) -> list[str]:
    """Absolute data-file paths of the live snapshot — or, with
    ``version``, of that historical seq (time travel; raises if the
    manifest was vacuumed).  [] if the table has never committed.

    ``prune`` is a conjunctive range predicate ``{col: (lo, hi)}``
    (either bound may be None): files whose manifest min/max prove no
    row can match are dropped from the list — manifest-level data
    skipping, decided driver-side from the json before Spark plans any
    scan.  It is a SUPERSET guarantee: surviving files may still hold
    no matching rows, so callers apply the real filter too.

    Raises on a snapshot carrying merge-on-read deletes unless
    ``allow_deletes=True``: the raw file list is UNSOUND then — a scan
    planned from these paths resurrects every deleted row.  Pass
    allow_deletes only when the caller needs file NAMES/sizes (set
    algebra, size planning), never row contents; row reads go through
    :func:`read_snapshot`, which applies the delete files.  ``as_of``
    as in :func:`read_snapshot` (time travel by instant)."""
    table = Path(path)
    name = _manifest_for(table, version, as_of=as_of, tag=tag, branch=branch)
    if name is None:
        return []
    m = _load_manifest(table, name)
    if m.get("delete_files") and not allow_deletes:
        raise ValueError(
            f"{path}: snapshot carries merge-on-read deletes — reading "
            "these file paths directly would resurrect deleted rows; "
            "use read_snapshot(), or pass allow_deletes=True if only "
            "the file names/sizes are needed"
        )
    files = m["files"]
    if prune:
        stats = m.get("stats", {})
        files = [f for f in files if _file_survives(stats.get(f), prune)]
    return [str(table / _DATA / f) for f in files]


def read_snapshot(
    spark: SparkSession,
    path: str,
    schema=None,
    version: int | None = None,
    prune: dict | None = None,
    merge_schema: bool = False,
    as_of=None,
    tag: str | None = None,
    branch: str | None = None,
) -> DataFrame | None:
    """DataFrame over the live snapshot's pinned file list (or a
    historical ``version``'s), or None if the table has never committed
    (or ``prune`` eliminated every file).  Reading by explicit file
    names means concurrent staging/appending never changes what this
    plan sees.  ``prune`` as in :func:`snapshot_files` — it narrows the
    file list, the caller still applies the row-level filter.

    ``merge_schema=True`` unions the file schemas (schema evolution:
    append commits may add columns; old files surface NULL for them).
    Without it Spark plans from one file's schema — cheaper, right for
    tables whose writers never evolve.

    ``as_of`` (epoch seconds / datetime / ISO string, exclusive with
    ``version``) time-travels by INSTANT instead of seq: the newest
    snapshot committed at-or-before it — AS OF TIMESTAMP semantics,
    bounded by the vacuum retention like seq travel.  ``tag``
    (exclusive with both) reads the version pinned by
    :func:`tag_snapshot` — tags are vacuum retention roots, so a
    tagged read outlives the retention window.  ``branch`` (exclusive
    with all three) reads a branch's HEAD — see :func:`create_branch`;
    branch heads are vacuum retention roots like tags."""
    table = Path(path)
    name = _manifest_for(table, version, as_of=as_of, tag=tag, branch=branch)
    if name is None:
        return None
    m = _load_manifest(table, name)  # ONE load; snapshot_files would re-walk
    files = m["files"]
    if prune:
        fstats = m.get("stats", {})
        files = [f for f in files if _file_survives(fstats.get(f), prune)]
    if not files:
        return None
    paths = [str(table / _DATA / f) for f in files]
    # merge-on-read deletes: seq-scoped anti-joins against the
    # manifest's key files — broadcast hash antis at scale (delete sets
    # are delta-sized), and only for snapshots that actually carry
    # deletes; see _read_files_with_deletes for the scoping rule
    return _read_files_with_deletes(
        spark, table, m, paths, schema=schema, merge_schema=merge_schema
    )


def read_increment(
    spark: SparkSession,
    path: str,
    since_version: int,
    schema=None,
    upto_version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """Rows ADDED after ``since_version``: the live snapshot's files
    minus that version's — how a downstream consumer (feature builder,
    training-data packer) processes only new data after each
    incremental run, without any change-tracking column.  Valid because
    data files are immutable and append commits only ever extend the
    parent's file list; an overwrite commit breaks the containment, and
    that case raises rather than silently double-processing.

    ``upto_version`` pins the window's upper end (default: the live
    snapshot).  A maintenance job that records the version it covered
    MUST pass the version it recorded — deriving the version and the
    file set from two separate CURRENT reads lets a commit land in
    between, get folded into the delta, and be re-read on the next
    refresh (double-counting).

    The new files are read THROUGH the window-end manifest's
    delete-applying path (sequence scoping), so a row appended and then
    deleted within the window never surfaces.  That makes the mirror contract sound
    even when a delete and a re-insert of the same key share a window:
    live = (prior mirror state − :func:`read_delete_increment` keys)
    ∪ these rows — retract FIRST, then add.  (Window deletes always
    apply to every pre-window file, and scoping exempts the new files
    from pre-window deletes, so the two pieces partition exactly.)
    """
    table = Path(path)
    # resolve the window-end manifest ONCE: a second CURRENT read here
    # (the old snapshot_files + _manifest_for pair) let a commit land in
    # between, mixing manifest X's file window with manifest Y's delete
    # set — the exact race the docstring tells CALLERS to avoid
    cur_name = _manifest_for(table, upto_version)
    if cur_name is None:
        return None
    m = _load_manifest(table, cur_name)
    cur_files = {str(table / _DATA / f) for f in m["files"]}
    old_files = set(snapshot_files(path, since_version, allow_deletes=True))
    if not old_files <= cur_files:
        raise ValueError(
            f"version {since_version} is not an append-ancestor of the "
            f"window-end snapshot (an overwrite intervened) "
            f"— consume the full snapshot instead"
        )
    new_files = sorted(cur_files - old_files)
    if not new_files:
        return None
    # merge_schema: schema-evolving appends inside the window would
    # otherwise be planned from one footer and silently drop the new
    # columns from the increment
    return _read_files_with_deletes(
        spark, table, m, new_files, schema=schema, merge_schema=merge_schema
    )


def read_delete_increment(
    spark: SparkSession,
    path: str,
    since_version: int,
    upto_version: int | None = None,
) -> DataFrame | None:
    """Keys DELETED after ``since_version`` — the other half of the
    incremental contract once merge-on-read deletes exist: a consumer
    mirroring the table applies :func:`read_increment`'s added rows AND
    retracts these keys (delete commits add no data files, so the
    row-increment alone would silently keep deleted rows alive
    downstream).  None if no deletes landed in the window.  Same
    append-ancestry requirement as read_increment: an overwrite
    materializes deletes into the data files and clears the key-file
    list, which breaks delta containment — full-snapshot consumption is
    the answer there too."""
    table = Path(path)
    cur_name = _manifest_for(table, upto_version)
    if cur_name is None:
        return None  # never committed — BEFORE the version walk raises
    old_name = _manifest_for(table, since_version)
    cur_m = _load_manifest(table, cur_name)
    old_m = _load_manifest(table, old_name)
    cur_d = list(cur_m.get("delete_files", []))
    old_d = set(old_m.get("delete_files", []))
    if not old_d <= set(cur_d):
        raise ValueError(
            f"version {since_version} is not a delete-ancestor of the "
            f"live snapshot (an overwrite materialized deletes) — "
            f"consume the full snapshot instead"
        )
    new_d = sorted(set(cur_d) - old_d)
    if not new_d:
        return None
    return _delete_key_reader(spark, cur_m).parquet(
        *[str(table / _DATA / f) for f in new_d]
    )


def delete_increment_stats(
    path: str, since_version: int, upto_version: int | None = None
) -> tuple[int, dict] | None:
    """(row count, per-column [lo, hi] bounds) over the key files a
    :func:`read_delete_increment` window would read, straight from the
    manifest's recorded footer stats — no Spark job.  The refresh paths
    use this to size and prune the retraction scan (the bounds are
    parquet footer min/max: possibly truncation-loosened for strings,
    never tighter than the data — exactly the prune contract).  None
    when the window is empty."""
    table = Path(path)
    cur_name = _manifest_for(table, upto_version)
    if cur_name is None:
        return None
    old_name = _manifest_for(table, since_version)
    cur_m = _load_manifest(table, cur_name)
    old_m = _load_manifest(table, old_name)
    new_d = sorted(
        set(cur_m.get("delete_files", [])) - set(old_m.get("delete_files", []))
    )
    if not new_d:
        return None
    dstats = cur_m["delete_stats"]
    n = 0
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    seen_all: set[str] | None = None
    for f in new_d:
        rows = int(dstats[f].get("rows", 0))
        n += rows
        if rows == 0:
            continue  # an empty key file constrains nothing
        cols = dstats[f].get("cols", {})
        present = set(cols)
        seen_all = present if seen_all is None else (seen_all & present)
        for c, (mn, mx) in cols.items():
            lo[c] = mn if c not in lo else min(lo[c], mn)
            hi[c] = mx if c not in hi else max(hi[c], mx)
    bounds = {c: (lo[c], hi[c]) for c in (seen_all or set())}
    return n, bounds


def last_streamed_batch(path: str) -> int | None:
    """Highest streaming ``batch_id`` recorded in the committed state,
    or None if no stream has committed here.  Reads the carried
    ``stream_batch`` field off CURRENT — O(1), and immune to vacuum
    aging the batch-bearing manifest out of the chain (every commit
    mode carries it forward).  Batches staged by a crashed micro-batch
    (prepared, never flipped) stay invisible — exactly the property
    idempotent retry needs."""
    return _pin(path)[1].get("stream_batch")


def commit_stream_batch(df: DataFrame, path: str, batch_id: int) -> PreparedCommit | None:
    """Append one micro-batch to a snapshot table exactly once.

    Structured Streaming's ``foreachBatch`` re-delivers a batch after a
    failure with the SAME ``batch_id``; plain appends would then
    duplicate rows.  Recording the batch id in the commit meta and
    skipping ids at-or-below the last committed one makes the sink
    idempotent — the streaming-into-an-ACID-table pattern (Delta's
    ``txnVersion`` idea) on this layer's manifests.  Returns None when
    the batch was already committed (the retry case).  The watermark is
    read from the manifest the batch is appended onto, so a writer that
    commits in between raises SnapshotConflictError: a racer committing
    the same batch can never get it appended twice."""
    base, m = _pin(path)
    last = m.get("stream_batch")
    if last is not None and int(batch_id) <= last:
        return None
    return _commit_guarded(
        df, path, base, mode="append", meta={"batch_id": int(batch_id)}
    )


def apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    order_col: str,
    op_col: str = "op",
) -> PreparedCommit:
    """Merge a CDC change batch into the snapshot table: upserts
    (``op_col`` ≠ 'D') and deletes ('D'), last-writer-wins by
    ``order_col`` — the MERGE INTO shape a change-data-capture feed
    needs, as one atomic snapshot commit.

    Semantics: within the batch, the newest change per key wins
    (``order_col`` desc, 'U'-over-'D' on exact ties); against existing
    state, a change applies only if STRICTLY newer than the stored
    row's ``order_col``.  That makes re-applying a batch a no-op
    (foreachBatch retry safety) without tombstones; batches must arrive
    in order (the streaming engine's guarantee) — replay from an older
    checkpoint must replay the full suffix.

    Scale: one hash shuffle on the key serves the in-batch dedup
    window, the newer-than-state join, and the survivor anti-join —
    state never resorts, and the commit is the usual pointer flip."""
    from pyspark.sql import Window

    payload = [c for c in changes.columns if c != op_col]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    # state and conflict base come from one pin: a commit landing
    # between them would otherwise be erased by the merged overwrite
    base, bm = _pin(path)
    state = _read_manifest(spark, path, bm)
    if state is None:
        merged = latest.where(F.col(op_col) != "D").select(*payload)
    else:
        newer = latest.join(
            state.select(*key_cols, F.col(order_col).alias("__sv")),
            key_cols,
            "left",
        ).where(F.col("__sv").isNull() | (F.col(order_col) > F.col("__sv")))
        untouched = state.join(
            newer.select(*key_cols), key_cols, "left_anti"
        )
        merged = untouched.unionByName(
            newer.where(F.col(op_col) != "D").select(*payload)
        )
    return _commit_guarded(merged, path, base)


def cdc_sink(path: str, key_cols: list[str], order_col: str, op_col: str = "op"):
    """``foreachBatch`` callable merging each micro-batch of changes
    into the snapshot table at ``path`` via :func:`apply_changes` —
    retry-safe because re-applying a batch is a no-op (strictly-newer
    rule), so exactly-once EFFECTS on at-least-once delivery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes(
            batch_df.sparkSession, path, batch_df, key_cols, order_col, op_col
        )

    return _sink


def vacuum(path: str, keep_manifests: int = 2) -> int:
    """Retain the ``keep_manifests`` newest COMMITTED versions (the
    CURRENT parent chain — always including CURRENT itself) plus every
    version a tag or a branch names (named refs are retention roots) and
    delete everything else: older chain manifests, manifests staged by crashed
    runs (unreachable from CURRENT), data files referenced by neither,
    and stale staging dirs.  Returns files/dirs removed.

    Keying retention on the chain rather than on manifest filenames is
    what makes this safe after a crash: a stale staged manifest can
    carry a newer seq than CURRENT, and a filename-sorted vacuum would
    keep the garbage and delete the live snapshot.

    Corollary: a snapshot that is PREPARED but not yet committed is
    indistinguishable from crash garbage — do not vacuum inside a
    two-phase prepare…commit window (the runner vacuums only after the
    final pointer flips)."""
    table = Path(path)
    mdir = table / _MANIFESTS
    if not mdir.exists():
        return 0
    chain = _chain_from(table, _read_current(table))
    keep = chain[: max(keep_manifests, 1)]
    keep_names = {name for name, _ in keep}
    # named refs are retention ROOTS: a tagged manifest or a branch
    # head (and its files) stays readable regardless of chain depth —
    # "the snapshot run X trained on" and an experiment's lineage must
    # survive main-line retention (older branch ancestors remain
    # ordinary history — further branch commits only need the head).  A
    # ref naming an already-vacuumed manifest (manual deletion) is
    # skipped rather than fatal: vacuum must still be able to run.
    for kind in _REF_DIRS:
        for mname in _refs(table, kind).values():
            if mname in keep_names:
                continue
            try:
                keep.append((mname, _load_manifest(table, mname)))
                keep_names.add(mname)
            except FileNotFoundError:
                pass
    live: set[str] = set()
    for _, m in keep:
        live.update(m["files"])
        live.update(m.get("delete_files", []))
    removed = 0
    for f in (table / _DATA).glob("*.parquet"):
        if f.name not in live:
            f.unlink()
            removed += 1
    for mf in mdir.glob("m-*.json"):
        if mf.name not in keep_names:
            mf.unlink()
            removed += 1
    # crash-orphaned _atomic_write temps: a kill between the tmp write
    # and os.replace leaves m-*.json.tmp-* / CURRENT.tmp-* behind, which
    # no other glob here matches — they would otherwise accumulate
    # forever on a long-lived table.  Age-gated: a CONCURRENT writer mid
    # _atomic_write (tmp written, os.replace pending) owns a fresh tmp,
    # and unlinking it would crash that commit — only temps old enough
    # that no live writer can still hold them are garbage.  unlink is
    # missing_ok to tolerate racing vacuums.
    cutoff = time.time() - _STALE_TMP_SECONDS
    tmps = [*mdir.glob("m-*.json.tmp-*"), *table.glob("CURRENT.tmp-*")]
    for d in _REF_DIRS.values():
        tmps += (table / d).glob("*.tmp-*")
    for tmp in tmps:
        try:
            if tmp.stat().st_mtime < cutoff:
                tmp.unlink(missing_ok=True)
                removed += 1
        except FileNotFoundError:
            pass
    for stale in table.glob("_staging-*"):
        shutil.rmtree(stale, ignore_errors=True)
        if not stale.exists():  # count only what actually went away
            removed += 1
    return removed
