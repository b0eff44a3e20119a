"""Crash-safe table commits: a minimal manifest/snapshot layout over
parquet (the public Iceberg/Delta commit idea, reduced to what the
runner needs).

The reference wrapped each dump file's inserts in a transaction
(``/root/reference/ght2dm.go:250-254``) so a crash never left a table
half-loaded.  Plain ``df.write.parquet(path, mode="overwrite")`` has no
such property: Spark deletes the old directory before the new files are
complete, so a killed job loses BOTH versions.  Here a table is::

    <table>/
      data/<commit>-<part>.parquet   -- immutable data files
      _manifests/m-<seq>-<id>.json   -- file list per snapshot (+ parent)
      _tags/<name>                   -- named version pins (vacuum roots)
      CURRENT                        -- name of the live manifest

and a commit is (1) write data files into ``data/``, (2) write a
manifest listing them, (3) atomically replace ``CURRENT`` (write temp,
fsync, ``os.replace``, fsync dir).  A kill at any point before (3)
leaves ``CURRENT`` pointing at the previous snapshot, which still reads
perfectly; orphaned data/manifest files are invisible garbage collected
by :func:`vacuum`.  Append commits reference the parent's files plus
the new ones — incremental runs never rewrite history.

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
on a 100 TB table laid out by key (or Z-ordered via
``operators.layout``), a point-range query plans over the handful of
files that can contain it instead of listing 100 k.  Files without
stats for a pruned column are conservatively kept, so stats are an
optimization, never a correctness dependency.
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
_TAGS = "_tags"
_BRANCHES = "_branches"
_TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")
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


def _parent_schema_from_footers(
    table: Path, files: list[str]
) -> dict[str, str] | None:
    """One-time upgrade for pre-schema-recording manifests: reconstruct
    the parent snapshot's logical schema from its data files' parquet
    footers (arrow schema -> Spark types; same-family width differences
    unified via :func:`_widen_type`).  Recording only the APPEND's
    columns against a schema-less parent would make the recorded schema
    the read plan for the whole table and silently drop legacy-only
    columns from every merge-schema read — and permanently from
    compaction's rewrite.  Returns None when any footer is unreadable
    or two files disagree incompatibly; the caller then records NO
    schema, keeping the legacy footer-mergeSchema read behavior instead
    of planning at a wrong declared schema.  Cost: one footer walk on
    the first post-upgrade append only — the resulting manifest records
    the full schema, so every later append is O(1) again."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    merged: dict[str, str] = {}
    for f in files:
        try:
            sch = from_arrow_schema(
                pq.ParquetFile(table / _DATA / f).schema_arrow,
                prefer_timestamp_ntz=True,
            )
        except Exception:
            return None
        for fld in sch.fields:
            t = fld.dataType.simpleString()
            prev = merged.get(fld.name)
            if prev is None or prev == t:
                merged[fld.name] = t
            else:
                wide = _widen_type(prev, t)
                if wide is None:
                    return None
                merged[fld.name] = wide
    return merged


def _file_survives(stats: dict[str, list] | None, prune: dict) -> bool:
    """Can a file with these footer stats contain a row matching the
    conjunctive range predicate ``prune`` ({col: (lo, hi)})?  Missing
    stats (old manifest, un-stat-able column type) ⇒ keep.  Stats are an
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
    df: DataFrame, table: Path, commit_id: str, tag: str = "",
    collect_stats: bool = True, bloom_cols: list[str] | None = None,
) -> tuple[list[str], dict[str, dict]]:
    """Write ``df`` as parquet under commit-scoped names in data/,
    fsyncing EVERY data file and then the directory before returning —
    a manifest must never be published over non-durable bytes (CURRENT
    is fsynced; if the data blocks were not, a power loss after the
    pointer flip would leave a live snapshot referencing truncated
    files, violating the kill-at-any-point contract).  Returns
    (file names, footer stats per name).

    ``bloom_cols`` turns on parquet BLOOM FILTERS for those columns
    (``parquet.bloom.filter.enabled#col``): executor-side, written into
    each file's footer, and consumed automatically by Spark's reader
    for pushed-down = / IN predicates — the point-lookup complement to
    the manifest's min/max stats when keys are NOT clustered (a
    uniformly-spread delete-key set defeats range pruning; blooms still
    skip the row groups that cannot hold the keys)."""
    staging = table / f"_staging-{commit_id}"
    writer = df.write.mode("overwrite")
    for c in bloom_cols or ():
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(str(staging))
    names: list[str] = []
    stats: dict[str, dict] = {}
    for i, part in enumerate(sorted(staging.glob("*.parquet"))):
        dest = table / _DATA / f"{commit_id}{tag}-{i:05d}.parquet"
        fstats = _footer_stats(part) if collect_stats else None
        os.replace(part, dest)
        _fsync_file(dest)
        names.append(dest.name)
        if fstats:
            stats[dest.name] = fstats
    shutil.rmtree(staging)
    _fsync_file(table / _DATA)
    return names, stats


def prepare_commit(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    parent: str | None = None,
    meta: dict | None = None,
    bloom_cols: list[str] | None = None,
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
    parent_files: list[str] = []
    parent_stats: dict[str, dict] = {}
    parent_deletes: list[str] = []
    parent_delete_keys: list[str] | None = None
    parent_delete_schema: dict | None = None
    parent_delete_stats: dict | None = None
    parent_fseqs: dict[str, int] = {}
    parent_dseqs: dict[str, int] = {}
    stream_batch: int | None = None
    parent_meta: dict = {}
    pm: dict = {}
    seq = _max_staged_seq(table) + 1
    if base_name is not None:
        pm = _load_manifest(table, base_name)
        parent_meta = pm.get("meta", {})
        # the last streamed batch id is snapshot-level state: carried
        # across EVERY commit mode (compaction is an overwrite!), so
        # exactly-once retry detection survives maintenance commits and
        # vacuum — see last_streamed_batch
        stream_batch = pm.get("stream_batch")
        if mode == "append":
            parent_files = list(pm["files"])
            pf_set = set(parent_files)
            # carry parent stats forward — files are immutable, so their
            # footers (and thus stats) never change; re-reading them here
            # would be wasted IO at every append
            parent_stats = {
                f: s for f, s in pm.get("stats", {}).items() if f in pf_set
            }
            # merge-on-read deletes survive appends: the delete files are
            # part of the snapshot's logical state, not of any one commit
            parent_deletes = list(pm.get("delete_files", []))
            parent_delete_keys = pm.get("delete_keys")
            parent_delete_schema = pm.get("delete_schema")
            parent_delete_stats = pm.get("delete_stats")
            # sequence scoping (the Iceberg idea): remember which commit
            # added each file, so deletes only apply to files that
            # existed when the delete committed — a key re-inserted
            # AFTER a delete must stay visible
            parent_fseqs = {
                f: s for f, s in pm.get("file_seqs", {}).items() if f in pf_set
            }
            parent_dseqs = dict(pm.get("delete_seqs", {}))
    elif mode == "append":
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
    # files), which is also what the snapshot STREAM source does.
    # Column ADDITIONS (and absences) stay legal: ordinary evolution.
    # Recording the commit's logical schema in the manifest is what
    # makes the check O(1) instead of a footer walk over the parent's
    # file list.
    new_schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    parent_schema: dict[str, str] = {}
    record_schema = True
    if base_name is not None and mode == "append":
        if "schema" in pm:
            parent_schema = pm["schema"]
        else:
            # pre-upgrade manifest: reconstruct the parent schema from
            # its footers (one-time cost), or record no schema at all —
            # recording just the append's columns would narrow every
            # subsequent merge-schema read to them
            reconstructed = _parent_schema_from_footers(table, parent_files)
            if reconstructed is None:
                record_schema = False
            else:
                parent_schema = reconstructed
        merged_types: dict[str, str] = {}
        conflicts: dict[str, tuple[str, str]] = {}
        for c, t in new_schema.items():
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
        new_schema = {**new_schema, **merged_types}

    commit_id = uuid.uuid4().hex[:12]
    new_files, new_stats = _stage_data_files(
        df, table, commit_id, bloom_cols=bloom_cols
    )
    stats = {**parent_stats, **new_stats}

    manifest = {
        "seq": seq,
        "ts": _stamp_ts(pm),
        "parent": base_name,
        "mode": mode,
        "files": parent_files + new_files,
        "stats": stats,
        # legacy manifests lack file_seqs; readers default absent files
        # to seq 0 (every delete applies — the old, conservative rule)
        "file_seqs": {
            **{f: parent_fseqs.get(f, 0) for f in parent_files},
            **{f: seq for f in new_files},
        },
    }
    if record_schema:
        manifest["schema"] = {**parent_schema, **new_schema}
    if parent_deletes:
        manifest["delete_files"] = parent_deletes
        manifest["delete_keys"] = parent_delete_keys
        if parent_delete_schema:
            manifest["delete_schema"] = parent_delete_schema
        if parent_delete_stats:
            manifest["delete_stats"] = parent_delete_stats
        manifest["delete_seqs"] = parent_dseqs
    # refresh watermarks are snapshot-level STATE like stream_batch:
    # a maintenance overwrite (compaction, clustering) that dropped them
    # would silently degrade the next incremental refresh to a full
    # reseed and break verify_aggregate's pinned-version audit
    carried_meta = {
        k: parent_meta[k] for k in _STICKY_META if k in parent_meta
    }
    merged_meta = {**carried_meta, **(meta or {})}
    if merged_meta:
        manifest["meta"] = merged_meta
    if meta:
        if "batch_id" in meta:
            # the exactly-once watermark only ADVANCES: a caller passing
            # a smaller batch_id (metadata backfill) must not regress
            # last_streamed_batch and reopen already-committed batches
            b = int(meta["batch_id"])
            stream_batch = b if stream_batch is None else max(stream_batch, b)
    if stream_batch is not None:
        manifest["stream_batch"] = stream_batch
    mname = f"m-{seq:06d}-{commit_id}.json"
    _atomic_write(table / _MANIFESTS / mname, json.dumps(manifest, indent=1))
    return PreparedCommit(
        table=str(table),
        manifest_name=mname,
        seq=seq,
        n_files=len(manifest["files"]),
        parent=base_name,
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
    cost instead of O(table); :func:`compact_snapshot` later
    materializes the deletes and drops the key files.

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
    #   time), including compact_snapshot, the documented repair path;
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
        table, commit_id, tag="-del", collect_stats=True,
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
    if parent_ds is not None and dschema is not None:
        merged_ds: dict[str, str] = {}
        for c in key_cols:
            a, b = parent_ds.get(c), dschema[c]
            wide = b if (a is None or a == b) else _widen_type(a, b)
            if wide is None:
                merged_ds = {}
                break
            merged_ds[c] = wide
        dschema = merged_ds or None
    seq = _max_staged_seq(table) + 1
    manifest = {
        "seq": seq,
        "ts": _stamp_ts(pm),
        "parent": base_name,
        "mode": "delete",
        "files": list(pm["files"]),
        "stats": pm.get("stats", {}),
        "file_seqs": dict(pm.get("file_seqs", {})),
        "delete_files": list(pm.get("delete_files", [])) + new_dels,
        "delete_keys": key_cols,
        # scope: this delete applies only to files with file_seq < seq
        # (rows that existed when it committed) — see read_snapshot
        "delete_seqs": {
            **pm.get("delete_seqs", {}),
            **{d: seq for d in new_dels},
        },
    }
    if dschema:
        manifest["delete_schema"] = dschema
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
    manifest["delete_stats"] = dstats
    if pm.get("schema"):
        manifest["schema"] = pm["schema"]
    if pm.get("stream_batch") is not None:
        manifest["stream_batch"] = pm["stream_batch"]
    mname = f"m-{seq:06d}-{commit_id}.json"
    _atomic_write(table / _MANIFESTS / mname, json.dumps(manifest, indent=1))
    return PreparedCommit(
        table=str(table),
        manifest_name=mname,
        seq=seq,
        n_files=len(manifest["files"]),
        parent=base_name,
    )


def _recorded_schema(m: dict) -> str | None:
    """DDL of the schema a manifest records, if it records one."""
    if not m.get("schema"):
        return None
    return ", ".join(f"`{c}` {t}" for c, t in m["schema"].items())


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
    scan + one broadcast anti-join.  Legacy manifests without the seq
    maps degrade to the old conservative rule (every delete applies).

    A merge-schema read on a manifest that RECORDS its schema plans the
    scan at that declared schema instead of footer unification: the
    recorded schema already accumulates evolved columns AND width
    promotions (int files upcast to a declared bigint — footer
    mergeSchema would refuse that merge), and skipping the footer walk
    is free speed."""
    if schema is None and merge_schema and m.get("schema"):
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
    # key files carry their recorded schema in the manifest (widened
    # over delete commits): plan the key scans from it instead of a
    # footer-inference job per read
    ds = m.get("delete_schema")
    kreader = (
        spark.read.schema(", ".join(f"`{c}` {ds[c]}" for c in key_cols))
        if ds and all(c in ds for c in key_cols)
        else spark.read
    )
    fseq = m.get("file_seqs", {})
    dseq = m.get("delete_seqs", {})
    inf = float("inf")
    dels_sorted = sorted(dels, key=lambda d: dseq.get(d, inf))
    dvals = [dseq.get(d, inf) for d in dels_sorted]
    groups: dict[int, list[str]] = {}
    for p in file_paths:
        fs = fseq.get(os.path.basename(p), 0)
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

    The scan is planned at the manifest's recorded schema when it has
    one, not by a footer-inference job."""
    table = Path(prepared.table)
    m = _load_manifest(table, prepared.manifest_name)
    files = [str(table / _DATA / f) for f in m["files"]]
    if not files:
        return None
    if schema is None:
        schema = _recorded_schema(m)
    return _read_files_with_deletes(spark, table, m, files, schema=schema)


def write_table_atomic(df: DataFrame, path: str, mode: str = "overwrite") -> PreparedCommit:
    """One-table convenience: stage + publish."""
    p = prepare_commit(df, path, mode=mode)
    commit(p)
    return p


def _committed_chain(table: Path) -> list[tuple[str, dict]]:
    """(name, manifest) pairs reachable from CURRENT via parent links,
    newest-first.  This is the COMMITTED lineage — manifests staged by a
    crashed run are unreachable and never appear here, so time travel
    and vacuum can't be confused by them."""
    chain = []
    name = _read_current(table)
    seen: set[str] = set()
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
    version (``ts`` is None for pre-timestamp legacy manifests)."""
    return [
        {
            "manifest": name,
            "seq": m["seq"],
            "mode": m["mode"],
            "n_files": len(m["files"]),
            "ts": m.get("ts"),
        }
        for name, m in reversed(_committed_chain(Path(path)))
    ]


def tag_snapshot(path: str, name: str, version: int | None = None) -> str:
    """Pin a committed version under a human-stable NAME (Iceberg-style
    tag): ``_tags/<name>`` holds the manifest filename, written with
    the same fsync'd atomic-replace discipline as CURRENT.  Defaults to
    the current version; pass ``version`` to tag an older retained one.
    Tags are retention roots — :func:`vacuum` keeps a tagged manifest
    and its data files regardless of ``keep_manifests`` — so "the
    corpus we trained run X on" stays readable as the table moves on.
    Re-tagging an existing name atomically moves it.  Returns the
    pinned manifest filename."""
    if not _TAG_NAME_RE.match(name or ""):
        raise ValueError(
            f"invalid tag name {name!r} (alnum start, then [A-Za-z0-9._-], "
            "max 64 chars)"
        )
    if ".tmp-" in name:
        # Reserved: _atomic_write temp suffix.  list_tags() hides such
        # names and vacuum() sweeps stale _tags/*.tmp-* files, so a tag
        # named into the temp namespace would silently disappear and
        # lose its retention-root pin.
        raise ValueError(f"invalid tag name {name!r} ('.tmp-' is reserved)")
    table = Path(path)
    mname = _manifest_for(table, version)
    if mname is None:
        raise FileNotFoundError(f"{path}: no committed snapshot to tag")
    tdir = table / _TAGS
    tdir.mkdir(parents=True, exist_ok=True)
    _atomic_write(tdir / name, mname)
    return mname


def list_tags(path: str) -> dict[str, str]:
    """tag name → pinned manifest filename (empty if no tags)."""
    tdir = Path(path) / _TAGS
    if not tdir.is_dir():
        return {}
    out: dict[str, str] = {}
    for f in sorted(tdir.iterdir()):
        # ".tmp-" names are crash-orphaned _atomic_write temps, not tags
        # — they happen to match _TAG_NAME_RE ("v1.tmp-ab12cd34"), and
        # treating one as a tag would surface a phantom name AND make
        # vacuum() hold its manifest as a permanent retention root.
        if f.is_file() and _TAG_NAME_RE.match(f.name) and ".tmp-" not in f.name:
            out[f.name] = f.read_text().strip()
    return out


def delete_tag(path: str, name: str) -> bool:
    """Drop a tag (the pinned version becomes ordinary retention-
    governed history).  True if the tag existed."""
    f = Path(path) / _TAGS / name
    if (
        not _TAG_NAME_RE.match(name or "")
        or ".tmp-" in name  # reserved temp namespace — never a tag
        or not f.is_file()
    ):
        return False
    f.unlink()
    return True


def _resolve_tag(table: Path, tag: str) -> str:
    tags = list_tags(str(table))
    if tag not in tags:
        raise FileNotFoundError(f"{table}: no tag {tag!r} (have {sorted(tags)})")
    mname = tags[tag]
    if not (table / _MANIFESTS / mname).is_file():
        raise FileNotFoundError(
            f"{table}: tag {tag!r} pins {mname}, which no longer exists — "
            "was it vacuumed by an older engine version without tag roots?"
        )
    return mname


# -- branches ---------------------------------------------------------------
#
# A branch is a WRITABLE named head (Iceberg-style): ``_branches/<name>``
# holds a manifest filename exactly like a tag, but commit_branch advances
# it — so an experiment can append/compact against its own lineage while
# main (the CURRENT pointer) moves independently, and a fast-forward merge
# is one atomic pointer flip.  Branch heads are vacuum retention roots.


class BranchDivergedError(RuntimeError):
    """Raised by :func:`merge_branch` when both main and the branch have
    committed since their common ancestor — a fast-forward would silently
    drop one side's rows.  Resolution is data-level and table-specific
    (re-apply one side's increment onto the other via read_increment /
    apply_changes), so the engine refuses rather than guesses."""


def _check_ref_name(name: str, kind: str) -> None:
    if not _TAG_NAME_RE.match(name or ""):
        raise ValueError(
            f"invalid {kind} name {name!r} (alnum start, then "
            "[A-Za-z0-9._-], max 64 chars)"
        )
    if ".tmp-" in name:
        # reserved: the _atomic_write temp namespace (list/vacuum treat
        # such files as crash orphans, never refs)
        raise ValueError(f"invalid {kind} name {name!r} ('.tmp-' is reserved)")


def create_branch(
    path: str, name: str, version: int | None = None, tag: str | None = None
) -> str:
    """Create (or atomically repoint) branch ``name`` at a committed
    version — the current one by default, an older retained ``version``,
    or a ``tag``'s pinned version.  Returns the head manifest filename.
    The name ``main`` is reserved for the CURRENT pointer itself."""
    _check_ref_name(name, "branch")
    if name == MAIN_BRANCH:
        raise ValueError(
            f"branch name {MAIN_BRANCH!r} is reserved (it IS the CURRENT "
            "pointer — commit() already writes it)"
        )
    table = Path(path)
    mname = _manifest_for(table, version, tag=tag)
    if mname is None:
        raise FileNotFoundError(f"{path}: no committed snapshot to branch")
    bdir = table / _BRANCHES
    bdir.mkdir(parents=True, exist_ok=True)
    _atomic_write(bdir / name, mname)
    return mname


def list_branches(path: str) -> dict[str, str]:
    """branch name → head manifest filename (empty if none)."""
    bdir = Path(path) / _BRANCHES
    if not bdir.is_dir():
        return {}
    return {
        f.name: f.read_text().strip()
        for f in sorted(bdir.iterdir())
        if f.is_file() and _TAG_NAME_RE.match(f.name) and ".tmp-" not in f.name
    }


def delete_branch(path: str, name: str) -> bool:
    """Drop a branch head (its manifests become ordinary retention-
    governed history).  True if the branch existed."""
    f = Path(path) / _BRANCHES / name
    if (
        not _TAG_NAME_RE.match(name or "")
        or ".tmp-" in name  # reserved temp namespace — never a branch
        or not f.is_file()
    ):
        return False
    f.unlink()
    return True


def branch_head(path: str, name: str) -> str:
    """Head manifest filename of a branch; raises if absent/vacuumed."""
    table = Path(path)
    heads = list_branches(path)
    if name not in heads:
        raise FileNotFoundError(
            f"{path}: no branch {name!r} (have {sorted(heads)})"
        )
    mname = heads[name]
    if not (table / _MANIFESTS / mname).is_file():
        raise FileNotFoundError(
            f"{path}: branch {name!r} heads {mname}, which no longer exists"
        )
    return mname


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
    table = Path(prepared.table)
    if not force:
        cur = branch_head(prepared.table, branch)
        if cur != prepared.parent:
            raise SnapshotConflictError(
                f"{prepared.table}: prepared against {prepared.parent!r} "
                f"but branch {branch!r} is at {cur!r} — re-prepare and retry"
            )
    _atomic_write(table / _BRANCHES / branch, prepared.manifest_name)


def _chain_from(table: Path, head: str | None) -> list[tuple[str, dict]]:
    """(name, manifest) pairs reachable from an explicit head manifest
    via parent links, newest-first (the :func:`_committed_chain` walk
    generalized to any ref)."""
    chain: list[tuple[str, dict]] = []
    name, seen = head, set()
    while name is not None and name not in seen:
        seen.add(name)
        try:
            m = _load_manifest(table, name)
        except FileNotFoundError:
            break  # truncated by vacuum
        chain.append((name, m))
        name = m.get("parent")
    return chain


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
    chain = _committed_chain(table)
    kept_chain = [name for name, _ in chain[: max(keep_manifests, 1)]]
    seen = set(kept_chain)
    kept_tag = []
    for _t, mname in sorted(list_tags(str(table)).items()):
        if mname not in seen and (mdir / mname).is_file():
            kept_tag.append(mname)
            seen.add(mname)
    kept_branch = []
    for _b, mname in sorted(list_branches(str(table)).items()):
        if mname not in seen and (mdir / mname).is_file():
            kept_branch.append(mname)
            seen.add(mname)
    removable = sorted(
        p.name for p in mdir.glob("m-*.json") if p.name not in seen
    )
    return {
        "kept_chain": kept_chain,
        "kept_tag": kept_tag,
        "kept_branch": kept_branch,
        "removable": removable,
    }


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
        return branch_head(str(table), branch)
    if tag is not None:
        return _resolve_tag(table, tag)
    if as_of is not None:
        # newest committed manifest staged at-or-before the instant;
        # chain timestamps are monotone (enforced at stamping time by
        # _stamp_ts).  A ts-less (legacy) manifest has an unknown
        # instant; it is bounded from BELOW by chain order (it was
        # committed after every manifest beneath it, so its effective
        # ts is at least the newest stamped ts at-or-below) and
        # estimated from ABOVE by its manifest file's mtime (manifests
        # are write-once, so mtime ~ commit time; a copied/touched file
        # inflates the estimate, which only makes resolution MORE
        # conservative — it skips to an older ancestor, never returns
        # future data for a historical instant).  eff = max(mtime, lb):
        # the mtime estimate clamped up to the chain-order bound.
        epoch = _as_epoch(as_of)
        chain = _committed_chain(table)
        below_max: list[float | None] = []
        cur: float | None = None
        for _name, m in reversed(chain):  # oldest-first accumulation
            ts = m.get("ts")
            if ts is not None:
                cur = float(ts) if cur is None else max(cur, float(ts))
            below_max.append(cur)
        below_max.reverse()
        for (name, m), lb in zip(chain, below_max):
            ts = m.get("ts")
            if ts is not None:
                eff = float(ts)
            else:
                try:
                    mtime = (table / _MANIFESTS / name).stat().st_mtime
                except OSError:
                    mtime = float("-inf")
                eff = max(mtime, lb if lb is not None else float("-inf"))
            if eff <= epoch:
                return name
        raise FileNotFoundError(
            f"no committed snapshot of {table} at or before {as_of!r} "
            "(table did not exist yet, or the manifest was vacuumed)"
        )
    if version is None:
        return _read_current(table)
    for name, m in _committed_chain(table):
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
            f"window-end snapshot (an overwrite or compaction intervened) "
            f"— consume the full snapshot instead"
        )
    new_files = sorted(cur_files - old_files)
    if not new_files:
        return None
    # merge_schema: schema-evolving appends inside the window would
    # otherwise be planned from one footer and silently drop the new
    # columns from the increment (the compact_snapshot guard, here too)
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
    append-ancestry requirement as read_increment: compaction
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
            f"live snapshot (compaction materialized deletes) — "
            f"consume the full snapshot instead"
        )
    new_d = sorted(set(cur_d) - old_d)
    if not new_d:
        return None
    ds = cur_m.get("delete_schema")
    kc = cur_m.get("delete_keys") or []
    reader = (
        spark.read.schema(", ".join(f"`{c}` {ds[c]}" for c in kc))
        if ds and kc and all(c in ds for c in kc)
        else spark.read
    )
    return reader.parquet(*[str(table / _DATA / f) for f in new_d])


def delete_increment_stats(
    path: str, since_version: int, upto_version: int | None = None
) -> tuple[int, dict] | None:
    """(row count, per-column [lo, hi] bounds) over the key files a
    :func:`read_delete_increment` window would read, straight from the
    manifest's recorded footer stats — no Spark job.  The refresh paths
    use this to size and prune the retraction scan (the bounds are
    parquet footer min/max: possibly truncation-loosened for strings,
    never tighter than the data — exactly the prune contract).  None
    when the window is empty or any window file predates stats
    recording (callers fall back to aggregating the key frame)."""
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
    dstats = cur_m.get("delete_stats", {})
    if not all(f in dstats for f in new_d):
        return None  # legacy key files without recorded stats
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


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
) -> PreparedCommit:
    """Rewrite the live snapshot into ~``target_file_bytes`` files as a
    NEW commit — the small-file answer for incrementally-appended
    tables.  Readers of the old snapshot are undisturbed (their file
    list is pinned and data files are immutable); the rewrite becomes
    visible only at the pointer flip, and :func:`vacuum` reclaims the
    superseded files once their manifests age out.

    ``cluster_by`` re-clusters while compacting (the OPTIMIZE shape):
    one column → range-partition + in-file sort; two columns → Z-order
    (``operators.layout``).  Appends arrive in ingestion order, so
    their manifest min/max spans the whole keyspace and prunes nothing;
    periodic clustered compaction is what keeps the stats selective on
    an append-heavy table."""
    table = Path(path)
    # pin the base manifest ONCE and chain the prepare onto it: reading
    # CURRENT here and letting prepare_commit re-read it later opens a
    # read-modify-write window — a stream batch committing in between
    # would pass the conflict check yet vanish under the overwrite
    base = _read_current(table)
    if base is None:
        raise FileNotFoundError(f"nothing to compact: {path} has no snapshot")
    m = _load_manifest(table, base)
    files = [str(table / _DATA / f) for f in m["files"]]
    if not files:
        raise FileNotFoundError(f"nothing to compact: {path} has no snapshot")
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, -(-total // target_file_bytes))  # ceil
    # read through the pinned manifest (NOT the raw files): merge-on-read
    # deletes must be applied here, or the overwrite would resurrect
    # deleted rows — compaction is exactly where deletes materialize
    # and their key files age out of the manifest
    # merge_schema: append commits may have EVOLVED the schema; reading
    # from one footer would silently drop the evolved columns from the
    # rewrite — permanent loss once vacuum ages the old manifests out
    df = _read_files_with_deletes(
        spark, table, m, files, merge_schema=True
    )
    if cluster_by is None:
        df = df.coalesce(n)
    elif len(cluster_by) == 1:
        df = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        from ght2dm_spark.operators.layout import zorder_layout

        df = zorder_layout(df, cluster_by, n)
    p = prepare_commit(df, path, mode="overwrite", parent=base)
    commit(p)
    return p


def rewrite_small_files(
    spark: SparkSession,
    path: str,
    small_bytes: int = 32 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
    schema=None,
) -> PreparedCommit | None:
    """TARGETED compaction (the Iceberg ``rewrite_data_files`` shape):
    rewrite only the data files under ``small_bytes`` into
    ~``target_file_bytes`` merged files, leaving every
    already-well-sized file untouched — one commit, no full-table
    rewrite.  On an append-heavy 100 TB table this is the difference
    between a nightly job proportional to the DELTA and one
    proportional to the table; ``t1_compaction_plan`` is the planning
    half of the same operation (size-binned rewrite groups), this is
    the executing half.  Returns None (no commit) when fewer than two
    small files exist — nothing to merge.

    Correctness under merge-on-read deletes: the rewritten rows are
    read THROUGH the delete-applying path, so deletes masking small
    files materialize into the new files; the delete files are carried
    forward untouched because they must keep masking the KEPT files
    (which also keep their original file_seqs — sequence scoping is
    preserved verbatim).  The new files take the rewrite commit's seq,
    which exceeds every existing delete_seq, so no carried delete
    re-applies to the already-materialized rows.  Readers of older
    versions are undisturbed (their manifests pin the superseded files
    until vacuum); ``read_increment`` detects the broken
    append-containment across this commit and raises, exactly as it
    does for full compaction."""
    table = Path(path)
    base = _read_current(table)
    if base is None:
        raise FileNotFoundError(f"nothing to rewrite: {path} has no snapshot")
    m = _load_manifest(table, base)
    sizes = {f: os.path.getsize(table / _DATA / f) for f in m["files"]}
    small = [f for f in m["files"] if sizes[f] < small_bytes]
    if len(small) < 2:
        return None
    small_set = set(small)
    kept = [f for f in m["files"] if f not in small_set]
    kept_set = set(kept)

    df = _read_files_with_deletes(
        spark, table, m, [str(table / _DATA / f) for f in small],
        schema=schema,
        # same reason as compact_snapshot: evolved columns must survive
        merge_schema=schema is None,
    )
    n = max(1, -(-sum(sizes[f] for f in small) // target_file_bytes))  # ceil
    df = df.coalesce(n)

    seq = _max_staged_seq(table) + 1
    commit_id = uuid.uuid4().hex[:12]
    new_files, new_stats = _stage_data_files(df, table, commit_id)
    stats = {
        **{f: s for f, s in m.get("stats", {}).items() if f in kept_set},
        **new_stats,
    }

    parent_fseqs = m.get("file_seqs", {})
    manifest = {
        "seq": seq,
        "ts": _stamp_ts(m),
        "parent": base,
        "mode": "rewrite",
        "files": kept + new_files,
        "stats": stats,
        "file_seqs": {
            **{f: parent_fseqs.get(f, 0) for f in kept},
            **{f: seq for f in new_files},
        },
    }
    for carried in (
        "delete_files", "delete_keys", "delete_seqs", "delete_schema",
        "delete_stats", "schema",
    ):
        if carried in m:
            manifest[carried] = m[carried]
    if m.get("stream_batch") is not None:
        manifest["stream_batch"] = m["stream_batch"]
    mname = f"m-{seq:06d}-{commit_id}.json"
    _atomic_write(table / _MANIFESTS / mname, json.dumps(manifest, indent=1))
    p = PreparedCommit(
        table=str(table),
        manifest_name=mname,
        seq=seq,
        n_files=len(manifest["files"]),
        parent=base,
    )
    commit(p)
    return p


def last_streamed_batch(path: str) -> int | None:
    """Highest streaming ``batch_id`` recorded in the committed state,
    or None if no stream has committed here.  Reads the carried
    ``stream_batch`` field off CURRENT — O(1), and immune to vacuum
    aging the batch-bearing manifest out of the chain (every commit
    mode carries it forward, compaction included; a chain walk would
    truncate at the first vacuumed parent and silently forget the
    batch, letting a driver restart re-append it).  Falls back to the
    chain walk for legacy tables without the field; batches staged by a
    crashed micro-batch (prepared, never flipped) stay invisible either
    way — exactly the property idempotent retry needs."""
    table = Path(path)
    name = _read_current(table)
    if name is None:
        return None
    m = _load_manifest(table, name)
    if "stream_batch" in m:
        return int(m["stream_batch"])
    best: int | None = None
    for _, mm in _committed_chain(table):
        b = mm.get("meta", {}).get("batch_id")
        if b is not None and (best is None or int(b) > best):
            best = int(b)
    return best


def commit_stream_batch(df: DataFrame, path: str, batch_id: int) -> PreparedCommit | None:
    """Append one micro-batch to a snapshot table exactly once.

    Structured Streaming's ``foreachBatch`` re-delivers a batch after a
    failure with the SAME ``batch_id``; plain appends would then
    duplicate rows.  Recording the batch id in the commit meta and
    skipping ids at-or-below the last committed one makes the sink
    idempotent — the streaming-into-an-ACID-table pattern (Delta's
    ``txnVersion`` idea) on this layer's manifests.  Returns None when
    the batch was already committed (the retry case)."""
    last = last_streamed_batch(path)
    if last is not None and int(batch_id) <= last:
        return None
    p = prepare_commit(df, path, mode="append", meta={"batch_id": int(batch_id)})
    commit(p)
    return p


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
    # pin the base manifest ONCE and chain the prepare onto it — the
    # compact_snapshot rationale: state read and conflict-check base
    # must be the same snapshot, or a commit landing between them is
    # silently erased by the merged overwrite
    table = Path(path)
    base = _read_current(table)
    state = None
    if base is not None:
        bm = _load_manifest(table, base)
        bfiles = [str(table / _DATA / f) for f in bm["files"]]
        if bfiles:
            state = _read_files_with_deletes(spark, table, bm, bfiles)
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
    p = prepare_commit(merged, path, mode="overwrite", parent=base)
    if base is None and p.parent is not None:
        # never-committed race: prepare re-resolved CURRENT (parent=None
        # means "use CURRENT") and another writer got there first
        raise SnapshotConflictError(
            f"{path}: table committed concurrently during first merge — "
            "re-run apply_changes against the new snapshot"
        )
    commit(p)
    return p


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
    TAGGED version (:func:`tag_snapshot` pins are retention roots) and
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
    chain = _committed_chain(table)
    keep = chain[: max(keep_manifests, 1)] if chain else []
    keep_names = {name for name, _ in keep}
    # tags are retention ROOTS: a tagged manifest (and its files) stays
    # readable regardless of chain depth — "the snapshot run X trained
    # on" must survive routine retention.  A tag pointing at an
    # already-vacuumed manifest (older engine, manual deletion) is
    # skipped rather than fatal: vacuum must still be able to run.
    for _ref, mname in (
        *list_tags(str(table)).items(),
        # branch HEADS are retention roots exactly like tags: an
        # experiment's lineage must survive main-line retention (older
        # branch ancestors remain ordinary history — further branch
        # commits only need the head)
        *list_branches(str(table)).items(),
    ):
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
    for tmp in (
        *mdir.glob("m-*.json.tmp-*"),
        *table.glob("CURRENT.tmp-*"),
        *(table / _TAGS).glob("*.tmp-*"),
        *(table / _BRANCHES).glob("*.tmp-*"),
    ):
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
