"""Eval-set contamination detection: which training documents share
enough n-gram shingles with any held-out eval document to indicate
leakage.  The benchmark-decontamination step of corpus construction —
run before training, with the eval/benchmark sets as the small side.

Reuses the near-dup shingle machinery (operators/neardup.py); the
distinguishing semantics are (a) the asymmetric split (small eval side
vs huge training side) and (b) CONTAINMENT (shared / |train shingles|)
rather than Jaccard — containment catches a benchmark question quoted
inside a much larger training doc, which Jaccard dilutes away.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.neardup import TOKS_SQL, shingle_df, shingle_sql
from ght2dm_spark.queries.registry import register

_MIN_SHARED = 5

_TOKS = TOKS_SQL.format(text="text")


@register(
    "t1_contamination_check",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             'leaked benchmark copy follows ' || text AS text
      FROM documents WHERE doc_id % 97 = 0),
    t AS (SELECT doc_id, {_TOKS} AS toks, lower(text) AS ltext
          FROM corpus),
    sh AS (SELECT doc_id,
                  unnest(list_distinct({shingle_sql("toks", "ltext", 3)}))
                    AS shingle
           FROM t),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
           count(*) AS n_shared,
           round(CAST(count(*) AS DOUBLE) / any_value(sz.n), 6) AS containment
    FROM sh a
    JOIN sh b USING (shingle)
    JOIN sz ON sz.doc_id = a.doc_id
    WHERE a.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_MIN_SHARED}
    """,
)
def t1_contamination_check(spark, sf_dir):
    """Shingle-overlap contamination scan: training docs (99% of corpus)
    vs eval docs (doc_id % 97 = 0, ~1%).  The eval shingle index is the
    SMALL side — broadcast — so the training side streams through the
    join without shuffling; overlap pairs then aggregate on
    (train, eval) and report containment = shared / |train shingles|.

    Scale: at 100 TB the eval/benchmark index is still MBs (benchmarks
    are small) — the broadcast holds, making decontamination a single
    map-side pass over the corpus plus one pair aggregation."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 97 == 0)
    # Planted leakage: each eval doc quoted verbatim inside a new
    # training doc — the fixture that proves the scan fires (the
    # synthetic corpus has no organic overlap).
    planted = ev.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.lit("leaked benchmark copy follows "), F.col("text")).alias(
            "text"
        ),
    )
    train = d.filter(F.col("doc_id") % 97 != 0).unionByName(planted)
    # pinned: the training shingle stream (the dominant cost) feeds BOTH
    # the containment join and the per-doc sizes denominator — unpinned,
    # Spark re-tokenizes and re-shingles the whole corpus a second time
    sh_t = pinned(
        shingle_df(train, "doc_id", "text", 3)
        .withColumnRenamed("doc_id", "train_id")
    )
    sh_e = shingle_df(ev, "doc_id", "text", 3).withColumnRenamed(
        "doc_id", "eval_id"
    )
    sizes = sh_t.groupBy("train_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh_t.join(F.broadcast(sh_e), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _MIN_SHARED)
    )
    return pairs.join(sizes, "train_id").select(
        "train_id",
        "eval_id",
        "n_shared",
        F.round(F.col("n_shared").cast("double") / F.col("n_sh"), 6).alias(
            "containment"
        ),
    )


@register(
    "t1_stream_contamination",
    oracle=f"""
    WITH corpus AS (
      SELECT CASE WHEN doc_id % 97 = 0 THEN doc_id + 3000000
                  ELSE doc_id END AS doc_id,
             CASE WHEN doc_id % 97 = 0
                  THEN 'leaked benchmark copy follows ' || text
                  ELSE text END AS text
      FROM documents),
    t AS (SELECT doc_id, {_TOKS} AS toks, lower(text) AS ltext
          FROM corpus),
    sh AS (SELECT doc_id,
                  unnest(list_distinct({shingle_sql("toks", "ltext", 3)}))
                    AS shingle
           FROM t),
    e AS (SELECT doc_id AS eval_id,
                 unnest(list_distinct({shingle_sql("toks", "ltext", 3)}))
                   AS shingle
          FROM (SELECT doc_id, {_TOKS} AS toks, lower(text) AS ltext
                FROM documents WHERE doc_id % 97 = 0))
    SELECT sh.doc_id AS train_id, e.eval_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sh JOIN e USING (shingle)
    GROUP BY sh.doc_id, e.eval_id
    HAVING count(*) >= {_MIN_SHARED}
    """,
)
def t1_stream_contamination(spark, sf_dir):
    """Streaming decontamination monitor: training documents arrive as a
    STREAM, the eval/benchmark shingle index is static and broadcast, and
    flagged (train, eval) overlap pairs accumulate in a complete-mode
    aggregation — the continuous-ingest form of t1_contamination_check,
    the shape a crawl pipeline runs so leakage is caught at ingest time
    instead of in a pre-training batch sweep.

    The planted leakage arrives IN-STREAM: a stream∪static union is
    unsupported, so eval-id rows are projected into their planted
    training twins (id + 3e6, quoted text) inside the stream — exactly
    the batch fixture's train side, row for row.

    Scale: the dim side (benchmark shingles) stays MBs at any corpus
    size, so the join is stateless map-side per micro-batch; the only
    stream state is the pair aggregation, bounded by contamination
    incidence (|flagged pairs|), not corpus size.  A production deploy
    windows the aggregation by ingest time + watermark to bound state
    further; here AvailableNow drains the fixture and the final table
    must equal the batch oracle exactly.  The >= threshold filter is
    applied to the DRAINED sink, keeping the streaming plan
    filter-free after the agg (complete-mode re-emits full state each
    trigger, so an in-plan HAVING would re-filter every trigger)."""
    from ght2dm_spark.streaming import read_documents_stream, run_to_completion

    stream = read_documents_stream(spark, sf_dir).select("doc_id", "text")
    is_eval = F.col("doc_id") % 97 == 0
    train = stream.select(
        F.when(is_eval, F.col("doc_id") + 3_000_000)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.when(
            is_eval,
            F.concat(F.lit("leaked benchmark copy follows "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sh_t = shingle_df(train, "doc_id", "text", 3).withColumnRenamed(
        "doc_id", "train_id"
    )
    ev = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select("doc_id", "text")
    )
    sh_e = shingle_df(ev, "doc_id", "text", 3).withColumnRenamed(
        "doc_id", "eval_id"
    )
    pairs = (
        sh_t.join(F.broadcast(sh_e), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    drained = run_to_completion(pairs, output_mode="complete")
    return drained.filter(F.col("n_shared") >= _MIN_SHARED).select(
        "train_id", "eval_id", F.col("n_shared").cast("bigint").alias("n_shared")
    )
