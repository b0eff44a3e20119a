"""Incrementally-maintained aggregates over snapshot tables (the
continuous-aggregate / materialized-view-maintenance pattern).

A derived table holds ``source.groupBy(keys).agg(...)`` and is refreshed
by processing ONLY the source files appended since the last refresh:
``snapshots.read_increment`` yields the delta (valid because snapshot
data files are immutable and appends extend the parent's file list), the
delta's partial aggregate merges with the previous derived state, and
the result commits atomically with the source version it covers pinned
in the commit meta.  A crash mid-refresh leaves the old derived state
(and its recorded version) intact — the next refresh simply re-reads the
same delta.

Only DECOMPOSABLE aggregates participate (count/sum/min/max, and avg —
maintained as its exact (sum, non-NULL count) companion pair, divided
only at commit/view time): their merge is another aggregate of the same
shape, which is
what makes the refresh O(delta) instead of O(history).  At 100 TB this
is the difference between a nightly full groupBy over the corpus and a
per-batch merge over |keys| rows — the same partial/final split Spark's
own map-side combine uses, lifted across refreshes.

Merge-on-read DELETE commits in the window are maintained too (the
retraction half of incremental view maintenance), split by aggregate
class exactly the way the IVM literature splits it:

- count/sum views retract ARITHMETICALLY: the removed rows (the
  pre-window snapshot semi-joined with the window's delete keys, the
  scan footer-stat-pruned to the keys' range) aggregate into NEGATIVE
  partials that merge through the same groupBy-sum as inserts —
  O(delta) work, no recompute.  Groups whose row count reaches zero
  drop, and a sum whose surviving inputs are all NULL re-NULLs, because
  the state carries two hidden maintenance columns per view: ``__cnt``
  (group liveness) and ``__nn_<out>`` (non-NULL input count per sum) —
  the count-companion trick every retraction engine uses; they are
  maintained from the seed commit on and excluded by
  :func:`verify_aggregate`.
- min/max views are NOT retractable (removing the current extreme needs
  the runner-up, which the state doesn't hold), so the groups touched
  by removed rows — and only those — are recomputed from the current
  snapshot (semi-join on the affected keys); every other group still
  merges arithmetically.  At 100 TB that is the difference between a
  full nightly regroup and a scan bounded by the deleted keys' groups.

Joins are maintained the same way (:func:`refresh_join`): the bilinear
delta identity over SIGNED deltas — appends weigh +1, delete-removed
rows weigh −1, weights multiply through the join — appending z-set rows
with a hidden ``__w`` that :func:`read_join_view` nets at read time and
:func:`consolidate_join` folds on the maintenance cadence.  The
streaming tier is :func:`changefeed_join_sink`: the same bilinear
algebra per micro-batch over a combined L/R CDC feed, exactly-once as
ONE fused z-set commit per batch (``__rel``-discriminated), read back
via :func:`read_changefeed_join`.

Every maintained table is read and written through the snapshot
layer's one pin, one reader and one guarded writer
(``snapshots._pin``, ``_read_manifest``, ``_commit_guarded``): a
refresh, sink or audit takes its watermark, its state and its conflict
base from ONE manifest, so a commit landing mid-refresh raises
SnapshotConflictError instead of being merged twice.  Every aggregate
commit pins its view definition (``view_def``) and every join commit
carries ``__w``; state without them is not this module's state.

Reference scope: the reference's incremental mode skips already-loaded
dump files (its date-window scan) but recomputes derived state from the
database; this layer keeps derived aggregates current without
rescanning loaded data at all.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ght2dm_spark.snapshots import (
    _commit_guarded,
    _pin,
    _read_manifest,
    commit_stream_batch,
    delete_increment_stats,
    last_streamed_batch,
    read_delete_increment,
    read_increment,
    read_snapshot,
)

#: aggregate -> (delta partial, state merge) builders; a merge is the
#: aggregate that combines two partial rows for the same key.  avg is
#: special-cased throughout: its STATE is the exact (sum, non-NULL
#: count) pair in hidden companions — storing the divided value would
#: make the next merge irrecoverable (sum ≠ avg·count in floats) — and
#: the visible column is (re)computed as sum/count at every
#: commit/view (the audit recomputes it the same exact way — see
#: verify_aggregate, which never uses F.avg).  Use integer/
#: decimal-cents input columns (the repo-wide exact-moment
#: discipline): a float sum accumulates in different orders across
#: merges and the exact audit would flag a healthy table.
_DECOMPOSABLE = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
    "avg": (lambda c: F.avg(c), None),
}

#: hidden maintenance columns (see module docstring): group liveness +
#: per-sum non-NULL input counts — what makes retraction exact.
_CNT = "__cnt"

#: hidden z-set weight column on join dests: each maintained output row
#: carries +1 (joined in) or −1 (retracted); the view nets them.
_W = "__w"
_REL = "__rel"  # fused changefeed-join z-set discriminator (J/L/R)

#: max distinct keys collected driver-side for IN-predicate pushdown
#: (_pruned_scan) — past this, only the (cheaper, coarser) min/max footer
#: prune applies.  Measured (tools/prof_ivm.py): 10 keys at 18M rows
#: cut the retraction scan 2.7s → 0.6s (row-group stats), 100 keys
#: stayed neutral at 1.5M rows, but ~1,500 literals cost MORE than the
#: scan they saved (1.5-3s of plan/filter overhead) — large uniform
#: key sets are better served by the plain scan.  256 keeps the
#: pushdown on the point-delete shape it exists for.
_PUSHDOWN_CAP = 256


def _nn(out: str) -> str:
    return f"__nn_{out}"


def _sumcol(out: str) -> str:
    """Hidden exact-sum companion for an avg output."""
    return f"__sum_{out}"


def _view_def(aggs: dict) -> dict:
    """JSON-shaped pin of the view definition, recorded in every commit
    meta (sticky across maintenance overwrites).  Column identity of a
    changed definition is undetectable from the state COLUMNS alone —
    swapping an avg's input column, or turning an avg into a sum whose
    companions happen to exist, keeps the schema while changing the
    semantics — so the definition itself is the compared contract.

    Inputs are restricted to STRING column names (_validate_aggs): a
    pyspark Column's repr is not a stable serialization contract, and a
    repr change across PySpark versions would invalidate every pinned
    definition — silently full-rebuilding refreshed views and hard-
    stopping streaming sinks on healthy tables.  A dest whose meta pins
    no definition (state written by anything but this module, which
    lacks the maintenance columns too) compares unequal like a changed
    one."""
    return {out: [fn, col] for out, (fn, col) in aggs.items()}


def _validate_aggs(keys: list[str], aggs: dict) -> None:
    for out, (fn, _c) in aggs.items():
        if fn not in _DECOMPOSABLE:
            raise ValueError(f"{out}: '{fn}' is not a decomposable aggregate")
        if _c is not None and not isinstance(_c, str):
            # the input column is PINNED in every commit's view_def and
            # compared across sessions/versions — a Column object's repr
            # is not a stable serialization contract (see _view_def)
            raise TypeError(
                f"{out}: aggregate input must be a column NAME (str), "
                f"got {type(_c).__name__} — expression inputs would pin "
                "an unstable serialization in the view definition"
            )
        if out.startswith("__"):
            raise ValueError(
                f"{out}: the '__' prefix is reserved for maintenance columns"
            )
    for k in keys:
        if k.startswith("__"):
            raise ValueError(
                f"{k}: the '__' prefix is reserved for maintenance columns"
            )
    overlap = sorted(set(aggs) & set(keys))
    if overlap:
        raise ValueError(
            f"aggregate output(s) {overlap} collide with group key names"
        )


def _state_cols(keys: list[str], aggs: dict) -> list[str]:
    """Canonical dest column order: keys, user outputs, maintenance."""
    cols = list(keys) + list(aggs)
    cols.append(_CNT)
    cols += [_nn(out) for out, (fn, _c) in aggs.items() if fn in ("sum", "avg")]
    cols += [_sumcol(out) for out, (fn, _c) in aggs.items() if fn == "avg"]
    return cols


def _partials(
    df: DataFrame, keys: list[str], aggs: dict, sign: Column | None = None
):
    """One groupBy producing user partials AND maintenance partials.
    ``sign`` weighs each row +1 or −1 (default +1): ``F.lit(-1)`` is the
    retraction partial, and a per-row sign read off a changefeed's op
    column folds its inserts and deletes in one pass — only valid for
    count/sum/avg views (the callers guard this).  A signed value is
    the value or its negation, never a product, so every partial keeps
    the type of the unsigned one (a decimal sum would widen through a
    multiply).  An avg's visible slot is a NULL placeholder here: the
    real state is its (sum, non-NULL count) companion pair, and the
    display value is computed from the MERGED companions at commit/view
    time."""

    def count(c=None):  # signed count of rows, or of c's non-NULLs
        if sign is None:
            return F.count(F.lit(1) if c is None else c)
        if c is None:
            return F.sum(sign)
        return F.sum(F.when(F.col(c).isNotNull(), sign).otherwise(0))

    def total(c):
        return F.sum(
            F.col(c) if sign is None
            else F.when(sign < 0, -F.col(c)).otherwise(F.col(c))
        )

    exprs = []
    for out, (fn, col) in aggs.items():
        if fn == "avg":
            e = F.max(F.lit(None).cast("double"))
        elif fn == "count":
            e = count()
        elif fn == "sum":
            e = total(col)
        else:  # min/max: never signed
            e = _DECOMPOSABLE[fn][0](col)
        exprs.append(e.alias(out))
    exprs.append(count().alias(_CNT))
    for out, (fn, col) in aggs.items():
        if fn in ("sum", "avg"):
            exprs.append(count(col).alias(_nn(out)))
    for out, (fn, col) in aggs.items():
        if fn == "avg":
            exprs.append(total(col).alias(_sumcol(out)))
    return df.groupBy(*keys).agg(*exprs)


def _merge_frames(frames: list[DataFrame], keys: list[str], aggs: dict):
    """Merge partial/state frames: sum for count/sum and every
    maintenance column, min/max for extremes; an avg merges ONLY its
    exact companions (the display slot is recomputed afterwards)."""
    df = frames[0]
    for x in frames[1:]:
        df = df.unionByName(x)
    exprs = [
        _DECOMPOSABLE[fn][1](out).alias(out)
        for out, (fn, _c) in aggs.items()
        if fn != "avg"
    ]
    exprs.append(F.sum(_CNT).alias(_CNT))
    for out, (fn, _c) in aggs.items():
        if fn in ("sum", "avg"):
            exprs.append(F.sum(_nn(out)).alias(_nn(out)))
    for out, (fn, _c) in aggs.items():
        if fn == "avg":
            exprs.append(F.sum(_sumcol(out)).alias(_sumcol(out)))
    merged = df.groupBy(*keys).agg(*exprs)
    for out, (fn, _c) in aggs.items():
        if fn == "avg":
            merged = merged.withColumn(out, F.lit(None).cast("double"))
    return merged


def _mask_sums(df: DataFrame, aggs: dict) -> DataFrame:
    """Finalize the visible columns from the exact state: re-NULL a sum
    whose surviving non-NULL input count is zero (the merged running
    sum of such a group is arithmetic 0, but SQL recompute semantics
    say sum over no non-NULL inputs is NULL), and compute each avg as
    exact-sum / non-NULL-count (NULL when that count is zero)."""
    for out, (fn, _c) in aggs.items():
        if fn == "sum":
            df = df.withColumn(
                out, F.when(F.col(_nn(out)) > 0, F.col(out))
            )
        elif fn == "avg":
            df = df.withColumn(
                out,
                F.when(
                    F.col(_nn(out)) > 0,
                    F.col(_sumcol(out)).cast("double") / F.col(_nn(out)),
                ),
            )
    return df


def _key_cond(a: DataFrame, b: DataFrame, keys: list[str]):
    """NULL-safe conjunctive equality on the GROUP keys: groupBy treats
    NULL as a real group, so the affected-group joins must match it
    (plain `=` would silently never recompute a NULL-keyed group)."""
    from functools import reduce
    from operator import and_

    return reduce(and_, [a[k].eqNullSafe(b[k]) for k in keys])


def _pruned_scan(
    spark: SparkSession,
    source: str,
    version: int,
    schema,
    merge_schema: bool,
    keys: DataFrame,
    n: int,
    prune: dict | None,
) -> DataFrame | None:
    """``source`` at ``version``, narrowed to the rows whose columns can
    match a delta-sized frame of ``n`` key rows — two prune layers, the
    caller still applies the exact join.  ``prune``'s footer bounds drop
    whole files via the manifest; and when the keys fit
    ``_PUSHDOWN_CAP``, ONE bounded collect turns them into per-column IN
    predicates pushed into the parquet scan, where ROW-GROUP stats and
    dictionaries skip at a granularity file-level stats cannot.  That
    second layer is what bounds a uniformly-spread key set, which
    defeats range pruning by construction (every file's range
    straddles the keys).  The IN lists are per-column supersets of the
    conjunctive key tuples; a column holding a NULL key gets none
    (isin never matches NULL)."""
    base = read_snapshot(
        spark, source, schema=schema, version=version, prune=prune,
        merge_schema=merge_schema,
    )
    if base is None or not 0 < n <= _PUSHDOWN_CAP:
        return base
    head = keys.collect()  # bounded: n caps the row count
    for c in keys.columns:
        vals = [r[c] for r in head]
        if None not in vals:
            base = base.filter(F.col(c).isin(vals))
    return base


def _removed_rows(
    spark: SparkSession,
    source: str,
    last: int,
    dkeys: DataFrame,
    schema,
    key_stats: tuple[int, dict],
    merge_schema: bool = False,
) -> DataFrame | None:
    """The rows the window's delete commits removed: every one was
    visible at ``last`` (window deletes apply to every pre-window file;
    rows inserted and deleted inside the window never surface from
    read_increment), so they are exactly the pre-window snapshot
    semi-joined with the new delete keys, scanned through
    :func:`_pruned_scan`.

    ``key_stats`` — (row count, per-column bounds) from
    :func:`snapshots.delete_increment_stats`, i.e. the key files'
    MANIFEST-recorded footer stats: the prune bounds then cost no Spark
    job at all, and only a sub-cap key set pays a (bounded) collect for
    the IN lists.  Delete keys are NULL-free by the delete_rows guard,
    so the bounds need no NULL handling."""
    dk = dkeys.distinct()
    n, bounds = key_stats
    prune = {c: t for c, t in bounds.items() if c in dk.columns} or None
    base = _pruned_scan(spark, source, last, schema, merge_schema, dk, n, prune)
    if base is None:
        return None
    return base.join(dk, on=list(dk.columns), how="leftsemi")


def _key_prune(keys_df: DataFrame) -> tuple[int, dict | None]:
    """(row count, footer-prune bounds) of a delta-sized frame of GROUP
    keys from ONE aggregation — :func:`_pruned_scan`'s inputs for the
    min/max recompute.  Group keys (eqNullSafe joins) treat NULL as a
    real key, so a column containing NULL cannot bounds-prune (parquet
    stats ignore NULLs) and is skipped."""
    cols = keys_df.columns
    row = keys_df.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cols)],
        *[
            F.max(F.col(c).isNull().cast("int")).alias(f"null_{i}")
            for i, c in enumerate(cols)
        ],
    ).first()
    prune = {
        c: (row[f"lo_{i}"], row[f"hi_{i}"])
        for i, c in enumerate(cols)
        if row[f"lo_{i}"] is not None and not row[f"null_{i}"]
    }
    return row["n"], prune or None


def refresh_aggregate(
    spark: SparkSession,
    source: str,
    dest: str,
    keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
    schema=None,
) -> bool:
    """Bring ``dest`` = ``source.groupBy(keys)`` up to date with the
    source snapshot, reading only files added since the last refresh.

    ``aggs`` maps output column -> (fn, source column), fn one of
    count/sum/min/max (column ignored for count).  Returns False when
    the source has nothing new (no commit made).  First call seeds from
    the full snapshot; later calls merge deltas.  Merge-on-read delete
    commits inside the window are retracted exactly (see the module
    docstring for the count/sum-vs-min/max strategy split).  Raises
    (via ``read_increment``) if the source was overwritten
    past the recorded version — rebuild by deleting ``dest``.

    The dest carries hidden maintenance columns (``__cnt``, and
    ``__nn_<out>`` per sum); consumers select the declared outputs.
    Aggregate columns should be integer/decimal (the verify discipline
    below) — float retraction additionally suffers cancellation drift.
    """
    _validate_aggs(keys, aggs)
    src_version = _pin(source)[1].get("seq")
    if src_version is None:
        return False

    # EVERY read below is pinned at src_version: version and file set
    # must come from one manifest, or a commit landing between the two
    # reads (a same-driver stream sink, a concurrent runner) is folded
    # into this refresh yet recorded as unprocessed — and double-counted
    # by the next one.
    # ONE dest pin: watermark, prior state, and conflict base
    dest_base, dm = _pin(dest)
    dmeta = dm.get("meta", {})
    last = dmeta.get("source_version")
    # merge_schema when no schema is declared: a schema-evolving append
    # inside the window must not be planned from one old footer
    ms = schema is None
    cols = _state_cols(keys, aggs)

    def _commit_state(merged: DataFrame) -> bool:
        _commit_guarded(
            _mask_sums(merged, aggs).select(cols), dest, dest_base,
            meta={"source_version": src_version, "view_def": _view_def(aggs)},
        )
        return True

    def _full_recompute() -> bool:
        full = read_snapshot(
            spark, source, schema=schema, version=src_version,
            merge_schema=ms,
        )
        if full is None:
            return False
        return _commit_state(_partials(full, keys, aggs))

    if last is None:
        return _full_recompute()
    if src_version == last:
        return False
    if dmeta.get("view_def") != _view_def(aggs):
        # an unpinned dest OR a changed view definition — including
        # same-schema semantic changes like avg→sum or a swapped input
        # column — cannot merge; ONE in-place rebuild, and every later
        # refresh is O(delta) again
        return _full_recompute()

    state = _read_manifest(spark, dest, dm)

    dkeys = read_delete_increment(
        spark, source, last, upto_version=src_version
    )
    delta = read_increment(
        spark, source, since_version=last, schema=schema,
        upto_version=src_version, merge_schema=ms,
    )
    if delta is None and dkeys is None:
        return False

    frames: list[DataFrame] = []
    if state is not None:
        frames.append(state.select(cols))
    if delta is not None:
        frames.append(_partials(delta, keys, aggs))

    if dkeys is None:
        # delta is not None here (the None/None case returned above)
        return _commit_state(_merge_frames(frames, keys, aggs))
    if not frames:
        # no prior state and no appended rows (delete-only window on an
        # empty view) — a merge has nothing to start from; recompute
        return _full_recompute()

    removed = _removed_rows(
        spark, source, last, dkeys, schema, merge_schema=ms,
        key_stats=delete_increment_stats(source, last, src_version),
    )
    fns = {fn for fn, _c in aggs.values()}
    if fns <= {"count", "sum", "avg"}:
        # arithmetic retraction: negative partials through the same
        # merge; a group whose row count reaches zero disappears,
        # exactly like a recompute
        if removed is not None:
            frames.append(_partials(removed, keys, aggs, sign=F.lit(-1)))
        merged = _merge_frames(frames, keys, aggs).filter(F.col(_CNT) > 0)
        return _commit_state(merged)

    # min/max present: recompute ONLY the groups the removal touched,
    # from the current snapshot; everything else merges arithmetically
    merged = _merge_frames(frames, keys, aggs)
    if removed is not None:
        # materialize once: affected embeds the pruned removed-rows
        # scan, and it is consumed three times (pushdown collect,
        # anti-join, recompute semi-join) — without the checkpoint each
        # use re-executes that scan; the frame itself is delta-bounded
        # (distinct group keys of the removed rows)
        affected = (
            removed.select(*keys).distinct().localCheckpoint(eager=True)
        )
        merged = merged.join(
            affected, _key_cond(merged, affected, keys), "left_anti"
        )
        # the recompute only needs the affected groups' rows — the same
        # pruned scan _removed_rows uses for delete keys (without it, a
        # ten-key delete on a min/max view re-scans the whole table)
        cur = _pruned_scan(
            spark, source, src_version, schema, ms, affected,
            *_key_prune(affected),
        )
        if cur is not None:
            hit = cur.join(
                affected, _key_cond(cur, affected, keys), "leftsemi"
            )
            merged = merged.unionByName(_partials(hit, keys, aggs))
    return _commit_state(merged)


def verify_aggregate(
    spark: SparkSession,
    source: str,
    dest: str,
    keys: list[str],
    aggs: dict[str, tuple[str, str | None]],
    schema=None,
) -> bool:
    """Cross-check: derived state ≡ a full recompute over the source
    snapshot (the audit a maintenance pipeline runs on a sample cadence;
    at scale, run it per key-range).  True when they match exactly.
    The compare is EXACT (exceptAll) — use integer/decimal aggregate
    columns, the repo-wide exact-moment discipline: a float sum is
    accumulated in different orders by the incremental merges vs the
    recompute, and last-bit drift would fail a perfectly maintained
    table.

    The recompute runs at the SOURCE VERSION pinned in dest's meta, not
    the live snapshot — verifying maintenance correctness independent of
    freshness (an append landing between refresh and audit must not page
    anyone on a healthy table)."""
    _validate_aggs(keys, aggs)
    # ONE dest pin: the pinned version and the audited rows must come
    # from the same manifest, or an audit racing a refresh recomputes
    # at the old version against the new state and pages someone on a
    # perfectly maintained table
    dm = _pin(dest)[1]
    ver = dm.get("meta", {}).get("source_version")
    # merge_schema mirrors refresh_aggregate's reads: the audit must
    # plan a schema-evolved source the same way the refresh did, not
    # from one arbitrary footer
    full = (
        read_snapshot(
            spark, source, schema=schema, version=ver,
            merge_schema=schema is None,
        )
        if ver is not None
        else None
    )
    if full is None:
        # never refreshed (or the source vanished): healthy iff dest
        # holds no files either
        return not dm.get("files")
    # avg recomputes as exact-sum / non-NULL-count — the SAME operands
    # and single double division the maintained state uses — never
    # F.avg, whose order-dependent double accumulation can differ in
    # the last bit once partial sums exceed 2^53 and would flag a
    # healthy table
    def _expect_expr(out, fn, col):
        if fn == "avg":
            return (F.sum(col).cast("double") / F.count(col)).alias(out)
        return _DECOMPOSABLE[fn][0](col).alias(out)

    expect = full.groupBy(*keys).agg(
        *[_expect_expr(out, fn, col) for out, (fn, col) in aggs.items()]
    )
    got = _read_manifest(spark, dest, dm)
    if got is None:
        return False
    cols = expect.columns
    a, b = expect.select(cols), got.select(cols)
    return (
        a.exceptAll(b).isEmpty()
        and b.exceptAll(a).isEmpty()
    )


def _fold_sink(dest: str, keys: list[str], aggs: dict, op_col=None):
    """The ``foreachBatch`` callable behind both aggregate sinks: fold
    each batch's partial into ``dest``'s state exactly once — with
    ``op_col``, each row signed by it ('D' retracts, see
    :func:`_partials`).  The replay watermark, the prior state and the
    conflict base all come from ONE pin, so a racer that commits
    meanwhile raises instead of having its batch merged twice.  A dest pinning a different view definition
    (or none) raises: a sink cannot rebuild state (the table is not its
    source), unlike refresh_aggregate, which rebuilds in place.
    Unsigned state is finalized (:func:`_mask_sums`); signed state
    commits as the raw algebra."""
    cols = _state_cols(keys, aggs)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        dest_base, dm = _pin(dest)
        last = dm.get("stream_batch")
        if last is not None and int(batch_id) <= int(last):
            return  # replayed batch — already merged
        if dm and dm.get("meta", {}).get("view_def") != _view_def(aggs):
            raise ValueError(
                f"{dest}: committed state belongs to a different view "
                "definition (or lacks maintenance columns) — a streaming "
                "sink cannot rebuild it (the table is not its source); "
                "delete the dest and replay, or upgrade it with one "
                "refresh_aggregate over the batch source"
            )
        sign = None
        if op_col is not None:
            sign = F.when(F.col(op_col) == "D", F.lit(-1)).otherwise(F.lit(1))
        merged = _partials(batch_df, keys, aggs, sign)
        state = _read_manifest(batch_df.sparkSession, dest, dm)
        if state is not None:
            merged = _merge_frames([state.select(cols), merged], keys, aggs)
        if sign is None:
            merged = _mask_sums(merged, aggs)
        _commit_guarded(
            merged.select(cols), dest, dest_base,
            meta={"batch_id": int(batch_id), "view_def": _view_def(aggs)},
        )

    return _sink


def aggregate_sink(dest: str, keys: list[str], aggs: dict):
    """``foreachBatch`` callable maintaining ``dest`` =
    ``stream.groupBy(keys).agg(...)`` — a CONTINUOUS AGGREGATE: each
    micro-batch's partial merges into the committed state exactly once,
    so the table always holds the full-history aggregate while only
    ever processing batch-sized input::

        stream.writeStream.foreachBatch(
            aggregate_sink(tbl, ["k"], {"n": ("count", None)})
        ).start()

    Exactly-once: Structured Streaming re-delivers a failed batch with
    the same ``batch_id``; the id is recorded in the commit manifest
    (``stream_batch``) and at-or-below ids are skipped — the
    :func:`snapshots.commit_stream_batch` idempotence contract, lifted
    from append-a-batch to merge-a-batch (a crash between state read
    and commit leaves the old state and id, so the replay re-merges the
    SAME batch once).  State uses the same hidden maintenance columns
    as :func:`refresh_aggregate`, so a maintained stream table can
    later absorb batch-side deletes through the same machinery.

    At 100 TB/day this is the streaming half of view maintenance: the
    nightly refresh_aggregate over a snapshot source and this per-batch
    merge produce byte-identical state for the same input — one
    aggregate definition, two freshness tiers."""
    _validate_aggs(keys, aggs)
    return _fold_sink(dest, keys, aggs)


def changefeed_aggregate_sink(
    dest: str, keys: list[str], aggs: dict, op_col: str = "op"
):
    """``foreachBatch`` callable maintaining a count/sum aggregate over
    a row-level CHANGEFEED — batches of rows tagged insert/delete in
    ``op_col`` ('D' retracts, anything else adds), an update being a
    delete of the before-image plus an insert of the after-image (the
    Debezium/z-set model).  Each batch folds in as ONE signed partial
    aggregate: weight +1/-1 per row, summed group-side — O(batch) work,
    no base-table scan ever, because the feed carries the values being
    retracted.

    The committed state is the RAW weighted algebra (group counts may
    be zero or transiently negative when a retraction is processed
    before its matching insert): sums are commutative, so the state is
    correct under ANY batch arrival order, and the consumable view is
    produced by :func:`read_aggregate_view`, which applies the liveness
    filter (``__cnt > 0``) and the NULL-sum re-mask at read time — the
    z-set discipline: algebra in the state, policy at the view.
    Exactly-once per batch id, same manifest watermark as
    :func:`aggregate_sink`.

    Only count/sum/avg views qualify (an avg is its exact
    (sum, non-NULL count) companion pair in the state, divided at the
    view): a min/max cannot be maintained from deltas (retracting the
    extreme needs the runner-up) — raise rather than silently corrupt;
    route min/max views through :func:`refresh_aggregate`'s
    affected-group recompute instead."""
    _validate_aggs(keys, aggs)
    bad = [
        out
        for out, (fn, _c) in aggs.items()
        if fn not in ("count", "sum", "avg")
    ]
    if bad:
        raise ValueError(
            f"{bad}: min/max cannot be maintained from a changefeed "
            "(retraction needs the runner-up) — use refresh_aggregate"
        )

    return _fold_sink(dest, keys, aggs, op_col=op_col)


def read_aggregate_view(spark: SparkSession, dest: str) -> DataFrame | None:
    """The consumable view over a maintained aggregate table: groups
    whose net row count is positive, each sum re-NULLed when its net
    non-NULL input count is zero, each avg computed as its exact-sum
    companion over its non-NULL count, maintenance columns dropped.
    Works over any dest this module's aggregate writers maintain (the
    companion columns are self-describing: ``__cnt`` + ``__nn_<out>`` +
    ``__sum_<out>``); None if the table has never committed."""
    df = read_snapshot(spark, dest)
    if df is None:
        return None
    cols = df.columns
    df = df.filter(F.col(_CNT) > 0)
    avg_outs = {
        c[len("__sum_"):] for c in cols if c.startswith("__sum_")
    }
    for c in cols:
        if c.startswith("__nn_"):
            out = c[len("__nn_"):]
            if out in avg_outs:
                df = df.withColumn(
                    out,
                    F.when(
                        F.col(c) > 0,
                        F.col(_sumcol(out)).cast("double") / F.col(c),
                    ),
                )
            else:
                df = df.withColumn(out, F.when(F.col(c) > 0, F.col(out)))
    return df.select([c for c in cols if not c.startswith("__")])


#: weight columns the join machinery owns — a payload column by one of
#: these names would be silently clobbered by withColumn, corrupting
#: multiplicities; every source/feed read fails loudly instead.
_RESERVED_W = ("__w", "__wl", "__wr")


def _check_no_reserved(df: DataFrame, what: str) -> None:
    bad = sorted(set(df.columns) & set(_RESERVED_W))
    if bad:
        raise ValueError(
            f"{what} carries reserved weight column(s) {bad} — rename "
            "them; the join maintenance machinery owns __w/__wl/__wr"
        )


def _weigh(term: DataFrame) -> DataFrame:
    """Collapse per-side signed weights into one ``__w`` (product) —
    shared by the batch refresh and the streaming sink so the weight
    semantics cannot drift between tiers."""
    w = F.lit(1)
    for c in ("__wl", "__wr"):
        if c in term.columns:
            w = w * F.col(c)
    return term.withColumn(_W, w).drop("__wl", "__wr")


def _net_join(df: DataFrame) -> tuple[DataFrame, list[str]]:
    """Consolidate a join z-set: net weight per distinct payload row.
    Returns (net frame, payload column list); callers apply their own
    weight policy filter."""
    payload = [c for c in df.columns if c != _W]
    return df.groupBy(*payload).agg(F.sum(_W).alias(_W)), payload


def _expand_view(net: DataFrame, payload: list[str]) -> DataFrame:
    """Net-positive rows at their multiplicity, weight dropped."""
    return (
        net.filter(F.col(_W) > 0)
        .withColumn(
            "__dup", F.explode(F.sequence(F.lit(1), F.col(_W).cast("int")))
        )
        .select(payload)
    )


def refresh_join(
    spark: SparkSession,
    left_source: str,
    right_source: str,
    dest: str,
    on: list[str],
    schema_left=None,
    schema_right=None,
) -> bool:
    """Maintain ``dest`` = ``left INNER JOIN right ON on`` reading only
    the rows appended to — or deleted from — either side since the last
    refresh: the bilinear delta identity Δ(L⋈R) = ΔL⋈R₀ ∪ L₀⋈ΔR ∪
    ΔL⋈ΔR, where L₀/R₀ are TIME-TRAVEL reads of each source at the
    version the last refresh covered (pinned in the commit meta) and
    each Δ is a SIGNED z-set: appended rows weigh +1, rows removed by
    merge-on-read delete commits weigh −1 (their values recovered by
    the same footer-pruned pre-window semi-join the aggregate path
    uses).  Weights multiply through the join — two deleted parents
    yield (−1)·(−1) = +1 in the cross term, which is exactly what makes
    the algebra cancel to the true net change — and the signed output
    rows land as ONE append commit carrying a hidden ``__w`` column.
    Consumers read :func:`read_join_view`, which consolidates weights
    and keeps net-positive rows at their multiplicity (algebra in the
    state, policy at the view — the same z-set discipline as the
    changefeed aggregate).  A crash mid-refresh leaves the old state
    and its versions intact; the next refresh re-derives the same
    delta.

    Sources may append and delete but not overwrite (read_increment's
    containment contract — an overwrite of either side raises there;
    and the retention window must keep the pinned versions' manifests,
    so vacuum no deeper than the refresh cadence).  Non-key column
    names must be disjoint across the two sources (the join output
    carries both sides' payloads).  At 100 TB this turns a nightly full
    O(|L|·|R|-shuffle) join into three joins each bounded by a delta on
    one side — the same reason CDC pipelines never re-join history.
    First call seeds with the full join.  Returns False when neither
    source moved."""
    lv, rv = _pin(left_source)[1].get("seq"), _pin(right_source)[1].get("seq")
    if lv is None or rv is None:
        return False
    # ONE dest pin: watermarks and conflict base (the refresh_aggregate
    # race note applies doubly to an APPEND — an unpinned prepare would
    # chain the duplicate delta onto the racer's commit and pass the
    # conflict check)
    dest_base, dm = _pin(dest)
    meta = dm.get("meta", {})
    last_lv, last_rv = meta.get("left_version"), meta.get("right_version")

    if last_lv is None:
        # pinned at (lv, rv) — the recorded versions must be exactly
        # what was read (see refresh_aggregate's TOCTOU note)
        left = read_snapshot(
            spark, left_source, schema=schema_left, version=lv,
            merge_schema=schema_left is None,
        )
        right = read_snapshot(
            spark, right_source, schema=schema_right, version=rv,
            merge_schema=schema_right is None,
        )
        if left is None or right is None:
            return False
        _check_no_reserved(left, left_source)
        _check_no_reserved(right, right_source)
        _commit_guarded(
            left.join(right, on).withColumn(_W, F.lit(1)), dest, dest_base,
            meta={"left_version": lv, "right_version": rv},
        )
        return True

    if lv == last_lv and rv == last_rv:
        return False

    def _signed_delta(source, last, upto, schema, wcol):
        """Appends (+1) ∪ removed rows (−1) for one side's window, or
        None when the side has neither.  allowMissingColumns: a
        schema-evolving append shares the window with a delete — the
        appended frame carries the new column, the pre-window removed
        rows cannot; they surface NULL for it, the merge-schema rule."""
        if upto == last:
            return None
        ms = schema is None
        parts = []
        added = read_increment(
            spark, source, since_version=last, schema=schema,
            upto_version=upto, merge_schema=ms,
        )
        if added is not None:
            _check_no_reserved(added, source)
            parts.append(added.withColumn(wcol, F.lit(1)))
        dkeys = read_delete_increment(spark, source, last, upto_version=upto)
        if dkeys is not None:
            removed = _removed_rows(
                spark, source, last, dkeys, schema, merge_schema=ms,
                key_stats=delete_increment_stats(source, last, upto),
            )
            if removed is not None:
                parts.append(removed.withColumn(wcol, F.lit(-1)))
        if not parts:
            return None
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x, allowMissingColumns=True)
        return out

    dl = _signed_delta(left_source, last_lv, lv, schema_left, "__wl")
    dr = _signed_delta(right_source, last_rv, rv, schema_right, "__wr")
    # A delta subtree can appear in TWO union terms (ΔL⋈R₀ and ΔL⋈ΔR
    # share ΔL); an explicit persist was measured NET NEGATIVE here —
    # Spark's ReuseExchange already dedups the shuffled subplan inside
    # the single staging-write job, and the cache pass only added a
    # materialization barrier (A/B at sf0.1: 1.67 s vs 1.50 s warm).
    # each time-travel base is needed only by its opposite delta term —
    # skip the manifest load and plan build when that term is absent
    # (the static-dimension common case)
    r0 = (
        read_snapshot(
            spark, right_source, schema=schema_right, version=last_rv,
            merge_schema=schema_right is None,
        )
        if dl is not None
        else None
    )
    l0 = (
        read_snapshot(
            spark, left_source, schema=schema_left, version=last_lv,
            merge_schema=schema_left is None,
        )
        if dr is not None
        else None
    )

    parts = []
    if dl is not None and r0 is not None:
        parts.append(_weigh(dl.join(r0, on)))
    if dr is not None and l0 is not None:
        parts.append(_weigh(l0.join(dr, on)))
    if dl is not None and dr is not None:
        parts.append(_weigh(dl.join(dr, on)))
    if not parts:
        return False
    delta = parts[0]
    for x in parts[1:]:
        # terms can disagree on columns when only one side evolved in
        # the window (dl carries the new column, l0 does not) — missing
        # columns surface NULL, the merge-schema rule
        delta = delta.unionByName(x, allowMissingColumns=True)
    _commit_guarded(
        delta, dest, dest_base, mode="append",
        meta={"left_version": lv, "right_version": rv},
    )
    return True


def read_join_view(spark: SparkSession, dest: str) -> DataFrame | None:
    """The consumable view over a :func:`refresh_join`-maintained table:
    signed rows consolidate (groupBy every payload column, net weight),
    net-positive rows surface at their multiplicity, retracted rows
    vanish.  None if the table has never committed.

    The consolidation is one shuffle over the dest — delta-sized per
    refresh window once :func:`consolidate_join` folds history, table-
    sized otherwise; run consolidation on the maintenance cadence that
    keeps the raw z-set short."""
    df = read_snapshot(spark, dest, merge_schema=True)
    if df is None:
        return None
    return _expand_view(*_net_join(df))


def read_changefeed_join(spark: SparkSession, dest: str) -> DataFrame | None:
    """The consumable join view over a :func:`changefeed_join_sink`
    state: the fused z-set's join outputs (``__rel`` = 'J'), netted and
    expanded exactly like :func:`read_join_view`.  The footer prune on
    ``__rel`` skips the side-state files before any scan.  None if the
    sink has never committed."""
    ztbl = str(Path(dest) / "zset")
    df = read_snapshot(
        spark, ztbl, prune={_REL: ("J", "J")}, merge_schema=True
    )
    if df is None:
        # the prune keeps no file while the sink holds only side state
        # (one side inserted, nothing joined yet): an empty view, not
        # a never-committed sink
        df = read_snapshot(spark, ztbl, merge_schema=True)
        if df is None:
            return None
    df = df.filter(F.col(_REL) == "J").drop(_REL)
    net, payload = _net_join(df)
    return _expand_view(net, payload)


def consolidate_join(spark: SparkSession, dest: str) -> bool:
    """Maintenance compaction for a join z-set: overwrite ``dest`` with
    its consolidated rows (net weight per distinct payload, zero-weight
    rows dropped), pinned against the base manifest so a refresh racing
    the consolidation conflicts loudly instead of losing its delta.
    The pinned left/right versions survive via sticky meta.  Returns
    False when the table has never committed."""
    dest_base, dm = _pin(dest)
    # read at the recorded schema: delta appends evolve the dest's
    # schema (a source column added mid-history); planning from one
    # arbitrary footer here would overwrite-commit the table WITHOUT the
    # evolved column — permanent loss through a maintenance op
    df = _read_manifest(spark, dest, dm)
    if df is None:
        return False
    net, _payload = _net_join(df)
    _commit_guarded(net.filter(F.col(_W) != 0), dest, dest_base)
    return True


def verify_join(
    spark: SparkSession,
    left_source: str,
    right_source: str,
    dest: str,
    on: list[str],
    schema_left=None,
    schema_right=None,
) -> bool:
    """Audit: the netted view over the maintained state ≡ the full join
    recomputed at the SOURCE VERSIONS pinned in dest's meta
    (multiset-exact both ways), independent of commits that landed
    after the refresh — the join-side twin of :func:`verify_aggregate`.
    The audited rows come from the SAME pinned manifest as the
    versions (one pin), not a second CURRENT read — a refresh landing
    mid-audit must not page anyone on a healthy table."""
    dm = _pin(dest)[1]
    meta = dm.get("meta", {})
    lv, rv = meta.get("left_version"), meta.get("right_version")
    if lv is None or rv is None:
        return not dm.get("files")
    left = read_snapshot(
        spark, left_source, schema=schema_left, version=lv,
        merge_schema=schema_left is None,
    )
    right = read_snapshot(
        spark, right_source, schema=schema_right, version=rv,
        merge_schema=schema_right is None,
    )
    state = _read_manifest(spark, dest, dm)
    got = None if state is None else _expand_view(*_net_join(state))
    if left is None or right is None:
        return got is None or got.isEmpty()
    expect = left.join(right, on)
    if got is None:
        return expect.isEmpty()
    cols = expect.columns
    a, b = expect.select(cols), got.select(cols)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def changefeed_join_sink(
    dest: str,
    on: list[str],
    left_cols: list[str],
    right_cols: list[str],
    side_col: str = "side",
    op_col: str = "op",
):
    """``foreachBatch`` callable maintaining ``dest/join`` =
    ``L INNER JOIN R ON on`` over ONE combined row-level changefeed:
    each batch row is tagged with its relation in ``side_col`` ('L' or
    'R') and insert/delete in ``op_col`` ('D' retracts, anything else
    adds), carrying that side's payload columns (the other side's
    NULL).  ``left_cols``/``right_cols`` name each side's payload
    INCLUDING the join keys; non-key names must be disjoint.

    State is ONE fused snapshot table at ``dest/zset`` holding all
    three signed z-sets, discriminated by ``__rel`` ('J' join outputs,
    'L'/'R' side states); join outputs are read via
    :func:`read_changefeed_join`.  Per batch the delta is the bilinear
    identity over the PRE-batch side states — ΔJ = ΔL⋈R⁻ ∪ L⁻⋈ΔR ∪
    ΔL⋈ΔR, weights multiplying — and the side states are joined RAW
    (signed, unconsolidated): bilinearity makes Σ(wΔ·wᵢ) over a row's
    occurrences equal wΔ·(net w), so no consolidation is needed for
    correctness; :func:`consolidate_join` over ``dest/zset`` folds the
    fused z-set on the maintenance cadence (``__rel`` is part of the
    payload, so each relation nets independently).

    Exactly-once is a SINGLE atomic commit per batch (r9 — previously
    three commits with a strict join-first ordering argument): the
    join delta and both side deltas union into one frame and land in
    one pointer flip guarded by one batch id.  A replayed batch either
    skips wholesale or redoes everything against side states the
    original attempt never advanced — no partial-commit window exists
    at all.  The union keeps each relation's rows in their OWN
    coalesced partitions, so data files are relation-pure and the
    pre-batch side-state reads prune 'J' files (the bulk of the
    table) by footer min/max on ``__rel`` before scanning.  Empty
    deltas still commit, so the watermark advances every batch.

    At 100 TB/day this is the streaming tier of join maintenance: the
    nightly :func:`refresh_join` over snapshot deltas and this
    per-batch merge maintain the same view — no base re-join ever, the
    feed carries retracted values, and each batch costs three joins
    bounded by the batch on at least one side."""
    dup = sorted(
        (set(left_cols) & set(right_cols)) - set(on)
    )
    if dup:
        raise ValueError(
            f"non-key columns shared by both sides: {dup} — the join "
            "output cannot carry two columns of one name"
        )
    missing = [k for k in on if k not in left_cols or k not in right_cols]
    if missing:
        raise ValueError(f"join key(s) {missing} must appear in both sides' columns")
    payload = set(left_cols) | set(right_cols)
    reserved = sorted(payload & (set(_RESERVED_W) | {_REL}))
    if reserved:
        raise ValueError(
            f"payload column(s) {reserved} collide with the reserved "
            "weight names __w/__wl/__wr — rename them"
        )
    tags = sorted({side_col, op_col} & payload)
    if tags:
        raise ValueError(
            f"side/op tag column(s) {tags} also appear in the payload "
            "columns — the feed tags are consumed, not joined"
        )

    ztbl = str(Path(dest) / "zset")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last = last_streamed_batch(ztbl)
        if last is not None and int(batch_id) <= int(last):
            return  # replayed batch: the fused commit already landed
        # every frame below is bounded by the batch on at least one
        # join side, but its PLAN partitioning follows the probe side —
        # the accumulated state files — so without a coalesce each
        # commit writes O(state files) near-empty parquet files and the
        # state compounds (measured r8: 96 files on the third commit of
        # a 100-row feed).  Coalescing each relation's delta to the
        # batch's own partition count keeps writes delta-sized at any
        # scale AND keeps files relation-pure for the __rel prune.
        nparts = max(1, batch_df.rdd.getNumPartitions())
        w = F.when(F.col(op_col) == "D", F.lit(-1)).otherwise(F.lit(1))
        # each side's delta feeds two join terms and its state rows; an
        # explicit persist was measured net negative (the re-evaluations
        # are bare scans of the trigger's files and the cache pass adds
        # a materialization barrier per commit)
        dl = (
            batch_df.filter(F.col(side_col) == "L")
            .select(*left_cols, w.alias("__wl"))
        )
        dr = (
            batch_df.filter(F.col(side_col) == "R")
            .select(*right_cols, w.alias("__wr"))
        )
        # PRE-batch side states from the fused table: the footer prune
        # on __rel drops join-output files (the bulk) before any scan,
        # so each read costs what a dedicated side table would
        def _side(rel, cols, wcol):
            st = read_snapshot(
                spark, ztbl, prune={_REL: (rel, rel)}, merge_schema=True
            )
            if st is None:
                return None
            return st.filter(F.col(_REL) == rel).select(
                *cols, F.col(_W).alias(wcol)
            )
        lc = _side("L", left_cols, "__wl")
        rc = _side("R", right_cols, "__wr")
        out_cols = (
            list(on)
            + [c for c in left_cols if c not in on]
            + [c for c in right_cols if c not in on]
            + [_W]
        )
        parts = []
        if rc is not None:
            parts.append(_weigh(dl.join(rc, on)))
        if lc is not None:
            parts.append(_weigh(lc.join(dr, on)))
        parts.append(_weigh(dl.join(dr, on)))
        dj = parts[0].select(out_cols)
        for x in parts[1:]:
            dj = dj.unionByName(x.select(out_cols))

        def _full(side_df, rel):
            out = side_df.withColumnRenamed(
                "__wl" if rel == "L" else "__wr", _W
            )
            for c in out_cols:
                if c not in out.columns:
                    out = out.withColumn(c, F.lit(None))
            return out.select(out_cols).withColumn(_REL, F.lit(rel)).coalesce(
                nparts
            )

        fused = (
            dj.withColumn(_REL, F.lit("J")).coalesce(nparts)
            .unionByName(_full(dl, "L"))
            .unionByName(_full(dr, "R"))
        )
        commit_stream_batch(fused, ztbl, batch_id)

    return _sink

