"""Incremental view maintenance, proven cross-engine: each query runs
the MERGE ALGORITHM the maintenance layer (``ght2dm_spark/incremental.py``)
executes — partial states, negative retraction partials, targeted
affected-group recompute — in one plan, and its oracle recomputes the
view directly over the post-mutation row set.  A hash match therefore
certifies the maintenance arithmetic itself, not just one engine's
implementation of it (t1_ivm_* ↔ incremental.refresh_aggregate, whose
snapshot plumbing is pinned in tests/test_incremental.py and the
random-sequence property test).

Mutation battery over ``orders`` (orderkeys are dense 0..N):
inserts are re-keyed copies of every 13th order; deletes hit every 10th
orderkey plus one whole group (retraction query) or every 977th
orderkey (min/max query, leaving most groups untouched so the
anti-join/union split actually matters).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.queries.registry import register
from ght2dm_spark.streaming import stream_shuffle_scope

_G = 97  # group modulus: prime, coprime to every mutation modulus below
_SHIFT = 6_000_000

#: (session id, sf_dir) → seeded snapshot-table root for the join-IVM
#: battery.  Building the seed (commit L, commit R, seeding
#: refresh_join) costs ~2.5 s at sf0.1 and is identical across
#: executions; each run CLONES the seeded directory (snapshot tables
#: are immutable files + manifests, so a copy is an independent table)
#: and applies its own mutation battery — the same per-(session,
#: sf_dir) memo discipline as curation_filters' gram frame.  The seed
#: root lives until the process exits (a few MB under /tmp).
_JOIN_SEED_CACHE: dict[tuple[int, str], str] = {}


def _seeded_join_tables(spark, sf_dir) -> str:
    """A fresh working copy of the seeded {L, R, J} snapshot tables
    (orders / customer keyed on o_custkey, J = seeded join view).
    Caller owns — and removes — the returned directory."""
    import shutil
    import tempfile

    from ght2dm_spark.incremental import refresh_join
    from ght2dm_spark.snapshots import commit, prepare_commit

    key = (id(spark), str(sf_dir))
    root = _JOIN_SEED_CACHE.get(key)
    if root is None or not os.path.isdir(root):
        root = tempfile.mkdtemp(prefix="ght2dm-joinivm-seed-")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        c = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        commit(prepare_commit(o, f"{root}/L"))
        commit(prepare_commit(c, f"{root}/R"))
        refresh_join(spark, f"{root}/L", f"{root}/R", f"{root}/J",
                     on=["o_custkey"])
        _JOIN_SEED_CACHE[key] = root
    work = tempfile.mkdtemp(prefix="ght2dm-joinivm-")
    shutil.rmtree(work)
    shutil.copytree(root, work)
    return work


#: (session id, sf_dir, tag) → parquet directory of a deterministic CDC
#: feed.  The feed CONTENT is a pure function of the base tables, so
#: writing it once per session and replaying the read-only directory
#: through each run's fresh stream (own checkpoint + state dirs) keeps
#: the streaming semantics intact while dropping the per-run write job.
_FEED_CACHE: dict[tuple[int, str, str], str] = {}


def _cached_feed(spark, sf_dir, tag: str, build) -> str:
    import tempfile

    key = (id(spark), str(sf_dir), tag)
    src = _FEED_CACHE.get(key)
    if src is None or not os.path.isdir(src):
        src = tempfile.mkdtemp(prefix=f"ght2dm-feed-{tag}-") + "/feed"
        build().repartition(4).write.parquet(src)
        _FEED_CACHE[key] = src
    return src


def _with_view_cols(df, key="o_orderkey"):
    """(g, v): group key and a deliberately NULLABLE measure — NULL
    unless the orderkey is a multiple of 5, so sums exercise SQL NULL
    semantics, the hard part of retraction."""
    k = F.col(key)
    return df.select(
        (k % _G).alias("g"),
        F.when(k % 5 == 0, F.col("o_custkey")).alias("v"),
        k.alias("k"),
    )


def _inserts(orders):
    """The window's appended rows: every 13th order re-keyed past the
    existing key range (a fresh batch whose keys never collide).  The
    two probe groups (42: dropped wholesale, 7: non-NULLs emptied)
    receive no inserts, so their invariants stay observable."""
    ins = _with_view_cols(
        orders.filter(F.col("o_orderkey") % 13 == 0).select(
            (F.col("o_orderkey") + _SHIFT).alias("o_orderkey"), "o_custkey"
        )
    )
    return ins.filter(~F.col("g").isin(42, 7))


@register(
    "t1_ivm_retraction",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey % {_G} AS g,
               CASE WHEN o_orderkey % 5 = 0 THEN o_custkey END AS v,
               o_orderkey AS k
        FROM orders
    ),
    ins AS (
        SELECT * FROM (
            SELECT (o_orderkey + {_SHIFT}) % {_G} AS g,
                   CASE WHEN (o_orderkey + {_SHIFT}) % 5 = 0
                        THEN o_custkey END AS v,
                   o_orderkey + {_SHIFT} AS k
            FROM orders WHERE o_orderkey % 13 = 0
        ) WHERE g NOT IN (42, 7)
    ),
    final AS (
        SELECT g, v FROM base
        WHERE NOT (k % 10 = 0 OR g = 42 OR (g = 7 AND k % 5 = 0))
        UNION ALL
        SELECT g, v FROM ins
    )
    SELECT g, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v
    FROM final GROUP BY g
    """,
)
def t1_ivm_retraction(spark, sf_dir):
    """Arithmetic retraction (count/sum IVM): the maintained view is
    computed as state ∪ insert-partials ∪ NEGATIVE delete-partials
    merged through one more groupBy-sum — never a recompute — with the
    two invariants a retraction engine must hold, each pinned to a
    probe group: a group whose row count reaches zero DROPS (group 42
    is deleted wholesale and receives no inserts), and a sum whose
    surviving non-NULL inputs reach zero re-NULLs instead of showing
    arithmetic 0 (group 7 loses exactly its non-NULL rows; the ``nn``
    companion count makes the merged 0 re-NULL — SQL sum over no
    non-NULL inputs is NULL).  The oracle recomputes the view directly
    over the post-mutation rows, so the hash match proves
    merge ≡ recompute.  Engine half: incremental.refresh_aggregate's
    count/sum strategy over real snapshot deltas.

    Scale: every partial is one map-side-combinable groupBy over its
    slice; the merge shuffles |groups| rows per frame, not row data —
    at 100 TB the delete branch touches only the retraction slice
    (footer-pruned in the engine), which is the entire point of IVM."""
    orders = load_table(spark, sf_dir, "orders")
    base = _with_view_cols(orders)

    def parts(df, sign):
        s = F.lit(sign)
        return df.groupBy("g").agg(
            (F.count(F.lit(1)) * s).alias("n_rows"),
            (F.sum("v") * s).alias("sum_v"),
            (F.count("v") * s).alias("nn"),
        )

    state = parts(base, 1)
    ins = parts(_inserts(orders), 1)
    retract = parts(
        base.filter(
            (F.col("k") % 10 == 0)
            | (F.col("g") == 42)
            | ((F.col("g") == 7) & (F.col("k") % 5 == 0))
        ),
        -1,
    )
    merged = (
        state.unionByName(ins)
        .unionByName(retract)
        .groupBy("g")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_v").alias("sum_v"),
            F.sum("nn").alias("nn"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return merged.select(
        "g",
        "n_rows",
        F.when(F.col("nn") > 0, F.col("sum_v")).alias("sum_v"),
    )


@register(
    "t1_ivm_minmax_recompute",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey % {_G} AS g, o_custkey AS c, o_orderkey AS k
        FROM orders
    ),
    ins AS (
        SELECT (o_orderkey + {_SHIFT}) % {_G} AS g, o_custkey AS c,
               o_orderkey + {_SHIFT} AS k
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    final AS (
        SELECT g, c FROM base WHERE k % 977 <> 0
        UNION ALL
        SELECT g, c FROM ins
    )
    SELECT g, count(*) AS n_rows, min(c) AS min_cust, max(c) AS max_cust
    FROM final GROUP BY g
    """,
)
def t1_ivm_minmax_recompute(spark, sf_dir):
    """Targeted-recompute IVM (min/max views): deletes cannot be
    retracted from an extreme (the runner-up is gone from the state),
    so ONLY the groups containing a removed row are recomputed from the
    post-mutation rows; every untouched group merges arithmetically
    from state + insert partials (min of mins / sum of counts).  The
    plan is literally anti-join(merged, affected) ∪ recompute(affected)
    — and the oracle's direct recompute certifies the split loses
    nothing.  The delete stride (977, prime) touches ~1/10 of the
    groups, so both branches carry real rows.  Engine half:
    incremental.refresh_aggregate's min/max strategy.

    Scale: the recompute branch scans only rows whose group is
    affected (a semi-join the engine bounds by the deleted keys'
    groups); the merge branch never touches row data — at 100 TB a
    ten-key delete recomputes ten groups, not the corpus."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        (F.col("o_orderkey") % _G).alias("g"),
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("k"),
    )
    ins = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        ((F.col("o_orderkey") + _SHIFT) % _G).alias("g"),
        F.col("o_custkey").alias("c"),
        (F.col("o_orderkey") + _SHIFT).alias("k"),
    )

    def parts(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("c").alias("min_cust"),
            F.max("c").alias("max_cust"),
        )

    removed = base.filter(F.col("k") % 977 == 0)
    affected = removed.select("g").distinct()
    merged = (
        parts(base)
        .unionByName(parts(ins))
        .groupBy("g")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("min_cust").alias("min_cust"),
            F.max("max_cust").alias("max_cust"),
        )
    )
    untouched = merged.join(affected, "g", "left_anti")
    final_rows = base.filter(F.col("k") % 977 != 0).unionByName(ins)
    recomputed = parts(final_rows.join(affected, "g", "leftsemi"))
    return untouched.unionByName(recomputed)


@register(
    "t1_ivm_join_delta",
    oracle=f"""
    WITH l0 AS (SELECT o_orderkey, o_custkey FROM orders
                WHERE o_orderkey % 3 <> 0),
    dl AS (SELECT o_orderkey, o_custkey FROM orders
           WHERE o_orderkey % 3 = 0),
    r0 AS (SELECT c_custkey, c_mktsegment FROM customer
           WHERE c_custkey % 4 <> 0),
    dr AS (SELECT c_custkey, c_mktsegment FROM customer
           WHERE c_custkey % 4 = 0),
    l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM dl),
    r1 AS (SELECT * FROM r0 UNION ALL SELECT * FROM dr),
    full_join AS (
        SELECT o_custkey AS ck, c_mktsegment AS seg
        FROM l1 JOIN r1 ON o_custkey = c_custkey
    )
    SELECT seg, ck % 7 AS bucket, count(*) AS n_pairs,
           CAST(sum(ck) AS BIGINT) AS key_sum
    FROM full_join GROUP BY seg, bucket
    """,
)
def t1_ivm_join_delta(spark, sf_dir):
    """Delta-join identity (join IVM): with both sides split into a
    seeded base and a window delta (L = L0 ∪ ΔL, R = R0 ∪ ΔR), the
    maintained join is the SEED plus exactly three delta terms —
    ΔL⋈R0 ∪ L0⋈ΔR ∪ ΔL⋈ΔR — never a re-join of the bases.  The Spark
    side builds the view from those four terms (the plan
    incremental.refresh_join commits as one append); the oracle joins
    the post-append sides wholesale, so the hash match proves the
    identity loses and duplicates nothing.  Verified per (segment,
    bucket) with counts plus an order-insensitive key checksum.

    Scale: each delta term is bounded by a delta on at least one side
    (broadcast when small); the seed never re-joins — at 100 TB this
    is why CDC pipelines append delta joins instead of re-shuffling
    history.  Engine half: incremental.refresh_join (pinned versions,
    append commits; its delete-retraction side is driven end-to-end by
    t1_ivm_join_retraction) in tests/test_incremental.py."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    l0 = o.filter(F.col("o_orderkey") % 3 != 0)
    dl = o.filter(F.col("o_orderkey") % 3 == 0)
    r0 = c.filter(F.col("c_custkey") % 4 != 0)
    dr = c.filter(F.col("c_custkey") % 4 == 0)
    cond = F.col("o_custkey") == F.col("c_custkey")
    seed = l0.join(r0, cond)
    terms = (
        seed.unionByName(dl.join(r0, cond))
        .unionByName(l0.join(dr, cond))
        .unionByName(dl.join(dr, cond))
    )
    return terms.select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("o_custkey") % 7).alias("bucket"),
        F.col("o_custkey").alias("ck"),
    ).groupBy("seg", "bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ck").alias("key_sum"),
    )


@register(
    "t1_stream_continuous_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def t1_stream_continuous_agg(spark, sf_dir):
    """Continuous aggregate as a REAL streaming job: the events table is
    re-laid-out as four files, streamed with maxFilesPerTrigger=1 (four
    genuine micro-batches), and maintained by incremental.aggregate_sink
    — each batch's partial merges into the committed snapshot state
    exactly once (batch ids recorded in the manifests), so the final
    table holds the full-history aggregate after processing only
    batch-sized input per trigger.  The oracle aggregates the same rows
    wholesale: a hash match proves four sequential merges ≡ one batch
    groupBy.  Sum runs in DECIMAL and casts to double at the very end
    (the cross-engine float discipline, same as t1_stream_tumbling).

    Scale: per trigger the work is one map-side-combinable partial over
    the batch plus a |groups|-row state merge — the streaming freshness
    tier of the view refresh_aggregate maintains nightly; at 100 TB/day
    neither tier ever re-aggregates history."""
    import shutil
    import tempfile

    from ght2dm_spark.incremental import aggregate_sink
    from ght2dm_spark.snapshots import read_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(18,2)").alias("v")
    )
    root = tempfile.mkdtemp(prefix="ght2dm-cagg-")
    try:
        src, tbl = f"{root}/in", f"{root}/state"
        ev.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema("event_type string, v decimal(18,2)")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with stream_shuffle_scope(spark):
            q = (
                stream.writeStream.foreachBatch(
                    aggregate_sink(
                        tbl,
                        ["event_type"],
                        {"n_events": ("count", None), "tv": ("sum", "v")},
                    )
                )
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = read_snapshot(spark, tbl).select(
            "event_type",
            "n_events",
            F.col("tv").cast("double").alias("total_value"),
        )
        # detach from the temp files before they vanish: the caller
        # consumes the frame after this function returns
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "t1_stream_cdc_agg",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderkey % {_G} AS g,
               CASE WHEN o_orderkey % 5 = 0 THEN o_custkey END AS v
        FROM orders
    ),
    final AS (
        SELECT g, v + 1000 AS v FROM base WHERE k % 13 = 0
        UNION ALL
        SELECT g, v FROM base WHERE k % 13 <> 0 AND k % 10 <> 0
    )
    SELECT g, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v
    FROM final GROUP BY g
    """,
)
def t1_stream_cdc_agg(spark, sf_dir):
    """Changefeed-maintained aggregate as a REAL streaming job: a CDC
    feed derived from orders — every row inserted, every 13th updated
    (delete of the before-image + insert of the after-image, value
    +1000), every remaining 10th deleted WITH its values — is shuffled
    across four parquet files and streamed with maxFilesPerTrigger=1,
    so inserts, their retractions, and updates arrive in ARBITRARY
    batch order.  incremental.changefeed_aggregate_sink folds each
    batch in as one signed partial (z-set algebra: the committed state
    tolerates transiently negative groups), and
    incremental.read_aggregate_view applies the liveness filter +
    NULL-sum re-mask at the end.  The oracle aggregates the net row
    set wholesale — a hash match proves the commuted signed merges
    equal the batch recompute regardless of arrival order.

    Scale: per trigger, one map-side-combinable signed partial over the
    batch plus a |groups|-row merge; the base table is NEVER rescanned
    because the feed carries retracted values — the property that makes
    changefeed aggregation viable at 100 TB/day feeds."""
    import shutil
    import tempfile

    from ght2dm_spark.incremental import (
        changefeed_aggregate_sink,
        read_aggregate_view,
    )

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.select(
        k.alias("k"),
        (k % _G).alias("g"),
        F.when(k % 5 == 0, F.col("o_custkey")).alias("v"),
    )
    ins = base.select(F.lit("I").alias("op"), "g", "v")
    upd_old = base.filter(F.col("k") % 13 == 0).select(
        F.lit("D").alias("op"), "g", "v"
    )
    upd_new = base.filter(F.col("k") % 13 == 0).select(
        F.lit("I").alias("op"), "g", (F.col("v") + 1000).alias("v")
    )
    dels = base.filter(
        (F.col("k") % 10 == 0) & (F.col("k") % 13 != 0)
    ).select(F.lit("D").alias("op"), "g", "v")
    feed = ins.unionByName(upd_old).unionByName(upd_new).unionByName(dels)

    root = tempfile.mkdtemp(prefix="ght2dm-cdcagg-")
    try:
        tbl = f"{root}/state"
        src = _cached_feed(spark, sf_dir, "cdcagg", lambda: feed)
        stream = (
            spark.readStream.schema("op string, g long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with stream_shuffle_scope(spark):
            q = (
                stream.writeStream.foreachBatch(
                    changefeed_aggregate_sink(
                        tbl,
                        ["g"],
                        {"n_rows": ("count", None), "sum_v": ("sum", "v")},
                    )
                )
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = read_aggregate_view(spark, tbl).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "t1_ivm_join_retraction",
    oracle=f"""
    WITH l1 AS (
        SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 10 <> 0
        UNION ALL
        SELECT o_orderkey + {_SHIFT} AS o_orderkey, o_custkey
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    r1 AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 11 <> 0
    ),
    net AS (
        SELECT l1.o_orderkey AS okey, l1.o_custkey AS ck,
               r1.c_mktsegment AS seg
        FROM l1 JOIN r1 ON l1.o_custkey = r1.c_custkey
    )
    SELECT seg, ck % 7 AS bucket, count(*) AS n_pairs,
           CAST(sum(ck) AS BIGINT) AS key_sum,
           CAST(sum(okey) AS BIGINT) AS okey_sum
    FROM net GROUP BY seg, bucket
    """,
)
def t1_ivm_join_retraction(spark, sf_dir):
    """Delete-aware join maintenance driven through the REAL engine:
    orders and customer are committed as snapshot tables, the join view
    is seeded by incremental.refresh_join, then one window delivers an
    append (every 13th order re-keyed) plus merge-on-read deletes on
    BOTH sides (every 10th orderkey; every 11th custkey) — so the
    refresh folds all three signed delta terms, including the
    both-sides-deleted ΔL⋈ΔR cross whose (−1)·(−1) weight must cancel
    to the correct net.  consolidate_join then folds the z-set and
    read_join_view nets it; the oracle joins the post-mutation sides
    wholesale.  A hash match proves signed-weight maintenance ≡ full
    recompute, end to end through commit/refresh/consolidate/view.

    Scale: each delta term is bounded by a window delta on at least one
    side; retraction never rescans the base (removed L rows come from
    the footer-pruned pre-window semi-join), and the consolidation is
    the maintenance-cadence fold that keeps the z-set delta-sized —
    the CDC-pipeline shape at 100 TB.  Engine half: refresh_join /
    read_join_view / consolidate_join / verify_join in
    tests/test_incremental.py and the random-sequence property test."""
    import shutil

    from ght2dm_spark.incremental import (
        consolidate_join,
        read_join_view,
        refresh_join,
    )
    from ght2dm_spark.snapshots import commit, delete_rows, prepare_commit

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    root = _seeded_join_tables(spark, sf_dir)
    try:
        lsrc, rsrc, dest = f"{root}/L", f"{root}/R", f"{root}/J"
        ins = o.filter(F.col("o_orderkey") % 13 == 0).select(
            (F.col("o_orderkey") + _SHIFT).alias("o_orderkey"), "o_custkey"
        )
        commit(prepare_commit(ins, lsrc, mode="append"))
        commit(
            delete_rows(
                o.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey"),
                lsrc,
            )
        )
        commit(
            delete_rows(
                c.filter(F.col("o_custkey") % 11 == 0).select("o_custkey"),
                rsrc,
            )
        )
        refresh_join(spark, lsrc, rsrc, dest, on=["o_custkey"])
        consolidate_join(spark, dest)
        view = read_join_view(spark, dest)
        out = (
            view.select(
                F.col("c_mktsegment").alias("seg"),
                (F.col("o_custkey") % 7).alias("bucket"),
                F.col("o_custkey").alias("ck"),
                F.col("o_orderkey").alias("okey"),
            )
            .groupBy("seg", "bucket")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("ck").alias("key_sum"),
                F.sum("okey").alias("okey_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "t1_stream_cdc_join",
    oracle=f"""
    WITH l1 AS (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderkey % 10 <> 0 AND o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey + 1 AS o_custkey
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    r1 AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 11 <> 0
    ),
    net AS (
        SELECT l1.o_orderkey AS okey, l1.o_custkey AS ck,
               r1.c_mktsegment AS seg
        FROM l1 JOIN r1 ON l1.o_custkey = r1.c_custkey
    )
    SELECT seg, ck % 7 AS bucket, count(*) AS n_pairs,
           CAST(sum(ck) AS BIGINT) AS key_sum,
           CAST(sum(okey) AS BIGINT) AS okey_sum
    FROM net GROUP BY seg, bucket
    """,
)
def t1_stream_cdc_join(spark, sf_dir):
    """Streaming join maintenance as a REAL streaming job: a combined
    CDC feed over orders (L) and customer (R) — every row inserted,
    every 13th order UPDATED to the next custkey (delete before-image +
    insert after-image), every remaining 10th order and every 11th
    customer deleted WITH values — is shuffled across four parquet
    files and streamed with maxFilesPerTrigger=1, so partners, their
    retractions, and updates arrive in ARBITRARY batch order.
    incremental.changefeed_join_sink folds each batch in via the
    bilinear identity against the pre-batch side states (ONE fused
    exactly-once z-set commit per batch since r9 — join delta and both
    side deltas land in a single pointer flip), and
    read_changefeed_join nets the signed outputs.  The oracle joins
    the net row sets wholesale — a hash match proves the per-batch
    signed delta joins compose to the batch recompute regardless of
    arrival order.

    Scale: per trigger, three joins bounded by the batch on at least
    one side; no base re-join ever (the feed carries retracted
    values) — the CDC-join shape at 100 TB/day."""
    import shutil
    import tempfile

    from ght2dm_spark.incremental import (
        changefeed_join_sink,
        read_changefeed_join,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    k = F.col("o_orderkey")
    l_ins = o.select(
        F.lit("L").alias("side"), F.lit("I").alias("op"),
        "o_orderkey", "o_custkey", F.lit(None).cast("string").alias("c_mktsegment"),
    )
    upd_old = o.filter(k % 13 == 0).select(
        F.lit("L").alias("side"), F.lit("D").alias("op"),
        "o_orderkey", "o_custkey", F.lit(None).cast("string").alias("c_mktsegment"),
    )
    upd_new = o.filter(k % 13 == 0).select(
        F.lit("L").alias("side"), F.lit("I").alias("op"),
        "o_orderkey", (F.col("o_custkey") + 1).alias("o_custkey"),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    l_del = o.filter((k % 10 == 0) & (k % 13 != 0)).select(
        F.lit("L").alias("side"), F.lit("D").alias("op"),
        "o_orderkey", "o_custkey", F.lit(None).cast("string").alias("c_mktsegment"),
    )
    r_ins = c.select(
        F.lit("R").alias("side"), F.lit("I").alias("op"),
        F.lit(None).cast("long").alias("o_orderkey"), "o_custkey", "c_mktsegment",
    )
    r_del = c.filter(F.col("o_custkey") % 11 == 0).select(
        F.lit("R").alias("side"), F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("o_orderkey"), "o_custkey", "c_mktsegment",
    )
    feed = (
        l_ins.unionByName(upd_old).unionByName(upd_new)
        .unionByName(l_del).unionByName(r_ins).unionByName(r_del)
    )

    root = tempfile.mkdtemp(prefix="ght2dm-cdcjoin-")
    try:
        dest = f"{root}/state"
        src = _cached_feed(spark, sf_dir, "cdcjoin", lambda: feed)
        stream = (
            spark.readStream.schema(
                "side string, op string, o_orderkey long, "
                "o_custkey long, c_mktsegment string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with stream_shuffle_scope(spark):
            q = (
                stream.writeStream.foreachBatch(
                    changefeed_join_sink(
                        dest, on=["o_custkey"],
                        left_cols=["o_custkey", "o_orderkey"],
                        right_cols=["o_custkey", "c_mktsegment"],
                    )
                )
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        view = read_changefeed_join(spark, dest)
        out = (
            view.select(
                F.col("c_mktsegment").alias("seg"),
                (F.col("o_custkey") % 7).alias("bucket"),
                F.col("o_custkey").alias("ck"),
                F.col("o_orderkey").alias("okey"),
            )
            .groupBy("seg", "bucket")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("ck").alias("key_sum"),
                F.sum("okey").alias("okey_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "t1_ivm_avg",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey % {_G} AS g,
               CASE WHEN o_orderkey % 5 = 0 THEN o_custkey END AS v,
               o_orderkey AS k
        FROM orders
    ),
    ins AS (
        SELECT * FROM (
            SELECT (o_orderkey + {_SHIFT}) % {_G} AS g,
                   CASE WHEN (o_orderkey + {_SHIFT}) % 5 = 0
                        THEN o_custkey END AS v,
                   o_orderkey + {_SHIFT} AS k
            FROM orders WHERE o_orderkey % 13 = 0
        ) WHERE g NOT IN (42, 7)
    ),
    final AS (
        SELECT g, v FROM base
        WHERE NOT (k % 10 = 0 OR g = 42 OR (g = 7 AND k % 5 = 0))
        UNION ALL
        SELECT g, v FROM ins
    )
    SELECT g, count(*) AS n_rows,
           CASE WHEN count(v) > 0
                THEN CAST(sum(v) AS DOUBLE) / count(v) END AS avg_v
    FROM final GROUP BY g
    """,
)
def t1_ivm_avg(spark, sf_dir):
    """avg under retraction, driven through the REAL engine: the same
    mutation battery as t1_ivm_retraction (every 13th order re-keyed in,
    every 10th deleted, probe group 42 dropped wholesale, probe group 7
    losing exactly its non-NULL inputs) runs against
    incremental.refresh_aggregate with a first-class avg view.  The
    state never stores a divided value — it carries the exact
    (sum, non-NULL count) companion pair, retracts arithmetically, and
    divides only at commit time — so group 7's avg re-NULLs exactly
    (sum over zero non-NULL inputs) instead of showing 0/0 noise, and
    group 42 drops.  The oracle recomputes avg from the net rows as
    CAST(sum AS DOUBLE)/count: a hash match proves the maintained
    division is bit-identical to the recompute (exact integer operands,
    one double division on each engine).

    Scale: identical to the count/sum retraction path — partials are
    map-side-combinable, the merge shuffles |groups| rows, the delete
    branch reads only the footer-pruned/IN-pushed retraction slice."""
    import shutil
    import tempfile

    from ght2dm_spark.incremental import refresh_aggregate
    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        prepare_commit,
        read_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = _with_view_cols(orders)
    root = tempfile.mkdtemp(prefix="ght2dm-ivmavg-")
    try:
        src, dst = f"{root}/src", f"{root}/agg"
        commit(prepare_commit(base.select("g", "v", "k"), src))
        aggs = {"n_rows": ("count", None), "avg_v": ("avg", "v")}
        refresh_aggregate(spark, src, dst, ["g"], aggs)
        commit(
            prepare_commit(
                _inserts(orders).select("g", "v", "k"), src, mode="append"
            )
        )
        victims = base.filter(
            (F.col("k") % 10 == 0)
            | (F.col("g") == 42)
            | ((F.col("g") == 7) & (F.col("k") % 5 == 0))
        ).select("k")
        commit(delete_rows(victims, src))
        refresh_aggregate(spark, src, dst, ["g"], aggs)
        out = (
            read_snapshot(spark, dst)
            .select("g", "n_rows", "avg_v")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "t1_ivm_distinct_count",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey % {_G} AS g,
               CASE WHEN o_orderkey % 5 = 0 THEN o_custkey END AS v,
               o_orderkey AS k
        FROM orders
    ),
    ins AS (
        SELECT * FROM (
            SELECT (o_orderkey + {_SHIFT}) % {_G} AS g,
                   CASE WHEN (o_orderkey + {_SHIFT}) % 5 = 0
                        THEN o_custkey END AS v,
                   o_orderkey + {_SHIFT} AS k
            FROM orders WHERE o_orderkey % 13 = 0
        ) WHERE g NOT IN (42, 7)
    ),
    final AS (
        SELECT g, v FROM base
        WHERE NOT (k % 10 = 0 OR g = 42 OR (g = 7 AND k % 5 = 0))
        UNION ALL
        SELECT g, v FROM ins
    )
    SELECT g, count(DISTINCT v) AS n_distinct, count(*) AS n_rows
    FROM final GROUP BY g
    """,
)
def t1_ivm_distinct_count(spark, sf_dir):
    """COUNT(DISTINCT) view maintenance — the aggregate that is NOT
    decomposable on its own output and therefore needs TWO-LEVEL state:
    an inner z-set of (group, value) multiplicities maintained with
    signed partials (the same ±1 arithmetic as t1_ivm_retraction), from
    which the outer distinct count is the number of values whose net
    multiplicity is positive.  A deletion only retires a value when its
    LAST occurrence retracts — the inner count is exactly the liveness
    companion that makes that decidable without rescanning the base.
    Same mutation battery and probe groups as the retraction query:
    group 42 drops wholesale (no live pairs → absent), group 7 loses
    every non-NULL value (distinct count 0 but the group stays, carried
    by its NULL-value pair — count(DISTINCT) ignores NULLs in both
    engines).  The oracle recomputes over the post-mutation rows, so a
    hash match proves two-level merge ≡ recompute.

    Scale: partials are map-side-combinable groupBys on (g, v); the
    merge shuffles |live pairs| rows — value-cardinality-bounded, never
    row-data-bounded.  Engine-side the same plan backs a
    refresh_aggregate-style distinct view over snapshot deltas; here
    the algebra itself is what the oracle certifies."""
    orders = load_table(spark, sf_dir, "orders")
    base = _with_view_cols(orders)

    def pair_parts(df, sign):
        return df.groupBy("g", "v").agg(
            (F.count(F.lit(1)) * F.lit(sign)).alias("w")
        )

    state = pair_parts(base, 1)
    ins = pair_parts(_inserts(orders), 1)
    retract = pair_parts(
        base.filter(
            (F.col("k") % 10 == 0)
            | (F.col("g") == 42)
            | ((F.col("g") == 7) & (F.col("k") % 5 == 0))
        ),
        -1,
    )
    live = (
        state.unionByName(ins)
        .unionByName(retract)
        .groupBy("g", "v")
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") > 0)
    )
    return live.groupBy("g").agg(
        F.count("v").alias("n_distinct"),
        F.sum("w").alias("n_rows"),
    )


@register(
    "t1_ivm_topk_retraction",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey % {_G} AS g, o_custkey AS c, o_orderkey AS k
        FROM orders
    ),
    ins AS (
        SELECT (o_orderkey + {_SHIFT}) % {_G} AS g, o_custkey AS c,
               o_orderkey + {_SHIFT} AS k
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    final AS (
        SELECT g, c, k FROM base WHERE k % 977 <> 0
        UNION ALL
        SELECT g, c, k FROM ins
    ),
    r AS (
        SELECT g, c, k,
               row_number() OVER (PARTITION BY g
                                  ORDER BY c DESC, k ASC) AS rank
        FROM final
    )
    SELECT g, CAST(rank AS BIGINT) AS rank, c, k FROM r WHERE rank <= 3
    """,
)
def t1_ivm_topk_retraction(spark, sf_dir):
    """Delete-aware TOP-K view maintenance — the generalization of the
    min/max split (k=1) to ranked state: inserts merge monotonically
    (top-k of state ∪ inserts IS the new top-k, because the state holds
    the old top-k and nothing else can enter), while a delete in a
    group may promote a row the k-bounded state no longer holds — so
    exactly the delete-touched groups recompute from post-mutation
    rows, everything else re-ranks k+|ins| state rows.  The plan is
    anti-join(merged, affected) ∪ recompute(affected), and the oracle's
    direct top-3 over the final row set certifies the split.  Same
    mutation battery as the min/max query (977-stride deletes touch
    ~1/10 of groups, so both branches carry real rows); the (c DESC,
    k ASC) order is total, so ranks are engine-identical.

    Scale: untouched groups carry O(k + window inserts) rows through
    one rank window — never row data; the recompute branch is
    semi-join-bounded by the affected groups exactly like
    incremental.refresh_aggregate's min/max strategy.  At 100 TB a
    ten-key delete re-ranks ten groups, not the corpus."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        (F.col("o_orderkey") % _G).alias("g"),
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("k"),
    )
    ins = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        ((F.col("o_orderkey") + _SHIFT) % _G).alias("g"),
        F.col("o_custkey").alias("c"),
        (F.col("o_orderkey") + _SHIFT).alias("k"),
    )
    w = Window.partitionBy("g").orderBy(F.col("c").desc(), F.col("k").asc())

    def top3(df):
        return (
            df.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= 3)
        )

    state = top3(base).select("g", "c", "k")  # the maintained k-bounded state
    removed = base.filter(F.col("k") % 977 == 0)
    affected = removed.select("g").distinct()
    # insert-only merge: re-rank state ∪ window inserts (k+|ins| rows/group)
    merged = top3(state.unionByName(ins))
    untouched = merged.join(affected, "g", "left_anti")
    final_rows = base.filter(F.col("k") % 977 != 0).unionByName(ins)
    recomputed = top3(final_rows.join(affected, "g", "leftsemi"))
    out = untouched.unionByName(recomputed)
    return out.select("g", "rank", "c", "k")
