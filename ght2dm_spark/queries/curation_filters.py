"""Published-recipe curation filters over the ``documents`` /
``embeddings`` tables (SURVEY §2.9 training-data pipeline surface;
extensions beyond the reference, which is a fixed ETL tool).

Five operators a production LLM-data pipeline runs corpus-wide:

- ``t1_gopher_rules`` — the Gopher quality-rule battery (Rae et al. 2021,
  "Scaling Language Models", Appendix A) as per-document booleans;
- ``t1_dup_ngram_coverage`` — cross-document duplicate n-gram coverage
  (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  Better" — the fuzzy-duplication *measurement* their suffix-array dedup
  acts on, here at 5-gram granularity);
- ``t1_source_dup_profile`` — the same signal rolled up per source (the
  corpus-health dashboard feeding mixture decisions);
- ``t1_cross_source_leakage`` — source-pair shared-shingle matrix (the
  train/eval and inter-dump leakage audit);
- ``t1_int8_quantize`` — symmetric per-vector int8 embedding
  quantization audit (absmax scaling as in Dettmers et al. 2022,
  "LLM.int8()"): saturation/zero counts, integer checksum, RMSE;
- ``t1_stream_quality_gate`` — the Gopher battery as a stateless
  streaming ingest gate (one expression tree serves batch and stream).

Hash-match discipline: every threshold comparison is INTEGER arithmetic
(``5*nalpha >= 4*nw`` instead of ``nalpha/nw >= 0.8``) and every float output
is derived from an exact integer state by one final division/sqrt — the
``t1_embedding_centroid`` lesson (scale_queries.py): never ``round()`` a
double that two engines computed, make the double itself deterministic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.functions.quantize import (
    Q_SQL,
    SCALE_SPARK,
    SCALE_SQL,
    spark_quant_exprs,
)
from ght2dm_spark.functions.text import STOPWORDS, ws_tokens
from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.queries.registry import register

# ---------------------------------------------------------------------------
# shared 5-gram shingle frame
#
# Both engines build, per document, the md5 of every 5-token window (one
# entry per POSITION — within-doc repeats preserved for coverage math).
# The CASE guard matters on the Spark side: sequence(1, 0) is the
# DESCENDING array [1, 0], not empty like DuckDB's end-exclusive range
# (the rolling_min_fingerprint hazard), so short docs need the explicit
# empty-array branch or they would emit phantom grams.
# ---------------------------------------------------------------------------

_SPARK_GRAMS = (
    "CASE WHEN size(tk) >= 5 THEN transform(sequence(1, size(tk) - 4),"
    " i -> md5(array_join(slice(tk, i, 5), ' '))) ELSE array() END"
)

from ght2dm_spark.operators.neardup import TOKS_SQL

_SQL_TOKS = TOKS_SQL.format(text="text")
_SQL_GRAMS = (
    "CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),"
    " i -> md5(array_to_string(tk[i:i+4], ' '))) ELSE [] END"
)
_SQL_GRAM_CTE = f"""
    toks AS (SELECT doc_id, source, {_SQL_TOKS} AS tk FROM documents),
    grams AS (SELECT doc_id, source, unnest({_SQL_GRAMS}) AS g FROM toks)
"""


def _gram_rows(spark, sf_dir):
    """(doc_id, source, g) — one row per 5-gram POSITION per document.

    Scale: a narrow map inside the scan stage (tokenize once, md5 per
    window); the explode multiplies rows ~n_tokens× but each row is
    ~50 bytes, and every consumer aggregates immediately after — partial
    aggregation absorbs the blowup map-side before any shuffle.

    Pinned: every caller consumes the frame on two plan branches (the
    per-gram count side and the join-back side), whose exchanges differ
    (partial-agg output vs raw rows) so ReusedExchange can never fire —
    without the pin the scan+tokenize+md5 pipeline runs twice per query
    (measured 2× "Scan parquet"/Generate in the formatted plan; the
    dedup_queries fingerprint-frame precedent)."""
    d = load_table(spark, sf_dir, "documents")
    return pinned(
        d.select(
            "doc_id",
            "source",
            ws_tokens(F.lower(F.col("text"))).alias("tk"),
        ).select("doc_id", "source", F.explode(F.expr(_SPARK_GRAMS)).alias("g"))
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def gopher_rule_frame(d):
    """(doc_id, r_*, passes) from any (doc_id, text) frame — batch OR
    stream (every op is a narrow per-row map, so the same expression
    tree serves t1_gopher_rules and the streaming ingest gate).  See
    t1_gopher_rules for the rule definitions and plan-shape notes."""
    inner = d.select(
        "doc_id", ws_tokens(F.lower("text")).alias("tk")
    )
    s = inner.select(
        "doc_id",
        F.size("tk").cast("long").alias("nw"),
        F.expr("aggregate(tk, 0L, (a, t) -> a + length(t))").alias("sumlen"),
        F.size(F.filter(F.col("tk"), lambda t: t.isin(*STOPWORDS)))
        .cast("long")
        .alias("nstop"),
        F.size(F.array_distinct("tk")).cast("long").alias("ndist"),
        F.size(F.filter(F.col("tk"), lambda t: t.rlike("[a-z]")))
        .cast("long")
        .alias("nalpha"),
    )
    nw, sumlen = F.col("nw"), F.col("sumlen")
    rules = {
        "r_word_count": (nw >= 20) & (nw <= 1000),
        "r_mean_word_len": (3 * nw <= sumlen) & (sumlen <= 10 * nw),
        "r_stopwords": F.col("nstop") >= 2,
        "r_alpha_words": 5 * F.col("nalpha") >= 4 * nw,
        "r_distinct": 10 * F.col("ndist") >= 3 * nw,
    }
    out = s
    passes = None
    for name, cond in rules.items():
        flag = F.coalesce((nw > 0) & cond, F.lit(False))
        out = out.withColumn(name, flag)
        passes = flag if passes is None else (passes & flag)
    return out.withColumn("passes", passes).select(
        "doc_id", *rules.keys(), "passes"
    )


@register(
    "t1_gopher_rules",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
    ),
    st AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS nw,
               CAST(len(list_distinct(tk)) AS BIGINT) AS ndist,
               CAST(len(list_filter(tk, t -> t IN ({_STOP_SQL})))
                    AS BIGINT) AS nstop,
               CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
                    AS BIGINT) AS nalpha,
               CAST(coalesce(list_sum(list_transform(tk, t -> length(t))),
                             0) AS BIGINT) AS sumlen
        FROM s
    )
    SELECT doc_id,
           coalesce(nw >= 20 AND nw <= 1000, FALSE) AS r_word_count,
           coalesce(nw > 0 AND 3 * nw <= sumlen AND sumlen <= 10 * nw,
                    FALSE) AS r_mean_word_len,
           coalesce(nstop >= 2, FALSE) AS r_stopwords,
           coalesce(nw > 0 AND 5 * nalpha >= 4 * nw, FALSE) AS r_alpha_words,
           coalesce(nw > 0 AND 10 * ndist >= 3 * nw, FALSE) AS r_distinct,
           coalesce(nw >= 20 AND nw <= 1000
                    AND 3 * nw <= sumlen AND sumlen <= 10 * nw
                    AND nstop >= 2 AND 5 * nalpha >= 4 * nw
                    AND 10 * ndist >= 3 * nw, FALSE) AS passes
    FROM st
    """,
)
def t1_gopher_rules(spark, sf_dir):
    """Gopher quality-rule battery (Rae et al. 2021 Appendix A), adapted
    to this corpus's scale: word count in [20, 1000], mean word length
    in [3, 10], >= 2 stopwords, >= 80% of words contain an alphabetic
    character (the paper's rule verbatim), distinct-token ratio >= 30%
    (type-token floor; corpus-level repetition is t1_repetition_ratio's
    signal).  Per-document booleans plus the AND — emitted per rule (not
    just the gate) so a rule that silently rejects everything is
    visible, the same observability argument as t1_dq_rules.

    Every threshold is integer arithmetic (``5*nalpha >= 4*nw``), never
    a float ratio — cross-engine ratios on a .5-boundary round apart.

    Scale: a SHUFFLE-FREE narrow map — every stat is a LINEAR pass
    over ONE tokenization, each as a separate SCALAR array op (plain
    fold for length sum, filter+size for the memberships).  Two
    plan-shape findings, both measured at the ~sf1 scale point:
    (a) an earlier mode-based top-word rule cost a sorted struct-fold
    (~1.5 s of interpreted HOF) or two corpus-wide shuffles — 2.5-3.2×
    DuckDB either way, for a rule the paper doesn't actually have;
    (b) packing the scalar stats into one multi-field struct fold
    (t1_text_quality's shape, right when it REPLACES re-tokenization)
    allocates a struct per TOKEN and measured 1.33 s where the three
    scalar ops cost ~0.4 s — struct folds pay off only against
    repeated tokenization, never against scalar folds.  The token
    array is aliased in an inner projection and referenced five
    times, so CollapseProject keeps one tokenization (non-cheap
    multi-reference rule); token-less docs yield nw = 0 and NULL text
    NULL stats — the coalesce'd guards map both to all-FALSE rules,
    matching the oracle's NULL-collapsing coalesce."""
    d = load_table(spark, sf_dir, "documents")
    return gopher_rule_frame(d)


@register(
    "t1_dup_ngram_coverage",
    oracle=f"""
    WITH {_SQL_GRAM_CTE},
    nd AS (SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
    per AS (SELECT doc_id, count(*) AS n_grams,
                   count(*) FILTER (nd >= 2) AS n_dup
            FROM grams JOIN nd USING (g) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def t1_dup_ngram_coverage(spark, sf_dir):
    """Cross-document duplicate 5-gram coverage (Lee et al. 2022's
    duplication signal; Gopher's dup-ngram family): per document, how
    many of its 5-gram positions carry a gram that also occurs in at
    least one OTHER document.  Within-doc repetition deliberately does
    NOT count (countDistinct doc_id >= 2) — that signal is
    t1_repetition_ratio's.

    Counts stay integers (n_grams, n_dup); the caller divides — a
    float fraction would be the one non-portable thing in the query.

    Scale: gram frame → one shuffle on g for the distinct-doc counts,
    one shuffle-join back on g, one aggregation on doc_id.  All three
    keys are high-cardinality md5s — no skew; partial aggregation
    absorbs the explode before every exchange."""
    grams = _gram_rows(spark, sf_dir)
    # the oracle's nd >= 2 needs only "does g occur in ≥2 DISTINCT
    # docs", which is exactly min(doc_id) ≠ max(doc_id) per gram — two
    # window aggregates in the ONE hashpartitioning(g) exchange replace
    # the aggregate-then-join-back shape (one cached-gram pass and one
    # exchange fewer; the r9 §12 window-first precedent, guide §2.4:
    # same-key window needs no second shuffle)
    wg = Window.partitionBy("g")
    dup = (F.min("doc_id").over(wg) != F.max("doc_id").over(wg)).alias(
        "dup"
    )
    per = (
        grams.select("doc_id", dup)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("dup")).alias("n_dup"),
        )
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
    )


@register(
    "t1_source_dup_profile",
    oracle=f"""
    WITH {_SQL_GRAM_CTE},
    nd AS (SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
    j AS (SELECT source, doc_id, nd FROM grams JOIN nd USING (g))
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (nd >= 2) AS BIGINT) AS n_dup
    FROM j GROUP BY source
    """,
)
def t1_source_dup_profile(spark, sf_dir):
    """Per-source duplication profile: the t1_dup_ngram_coverage signal
    rolled up to the mixture-decision grain (which dumps/crawls carry
    how much cross-corpus duplication — the dashboard RefinedWeb-style
    pipelines watch before setting source weights).

    Scale: identical plan shape to t1_dup_ngram_coverage with the final
    aggregation on the 20-value source key instead of doc_id — low
    cardinality is safe HERE because partial aggregation reduces each
    task to ≤|sources| rows before the exchange."""
    grams = _gram_rows(spark, sf_dir)
    # same min≠max-over-(g) replacement of the nd aggregate+join as
    # t1_dup_ngram_coverage (nd >= 2 ⟺ ≥2 distinct doc_ids share g)
    wg = Window.partitionBy("g")
    dup = (F.min("doc_id").over(wg) != F.max("doc_id").over(wg)).alias(
        "dup"
    )
    return (
        grams.select("source", "doc_id", dup)
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count_if(F.col("dup")).cast("bigint").alias("n_dup"),
        )
    )


@register(
    "t1_cross_source_leakage",
    oracle=f"""
    WITH {_SQL_GRAM_CTE},
    sg AS (SELECT DISTINCT source, g FROM grams)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def t1_cross_source_leakage(spark, sf_dir):
    """Source-pair leakage matrix: distinct 5-gram shingles shared by
    each pair of sources — the train/eval contamination audit
    (t1_contamination_check's shape) generalized to ALL pairs in one
    pass, the inter-dump overlap triangle CommonCrawl curators publish.

    Scale: dedup to (source, g) first — |sources| × |distinct grams|
    upper bound — then a self-equi-join on g.  The join key is the
    gram hash (high cardinality, no skew); a gram shared by k sources
    expands to k(k-1)/2 in-row pairs with k ≤ 20, bounded.  The
    source < source predicate halves the output and keeps pairs
    canonical; count(*) is exact-distinct because both join inputs are
    distinct on (source, g)."""
    grams = _gram_rows(spark, sf_dir)
    sg = grams.select("source", "g").distinct()
    a, b = sg.alias("a"), sg.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


@register(
    "t1_int8_quantize",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, embedding, {SCALE_SQL} AS scale
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(embedding, x -> {Q_SQL.replace("xd", "CAST(x AS DOUBLE)")}) AS qs,
               list_transform(embedding, x ->
                   CAST(floor((CAST(x AS DOUBLE) - {Q_SQL.replace("xd", "CAST(x AS DOUBLE)")} * scale)
                        * (CAST(x AS DOUBLE) - {Q_SQL.replace("xd", "CAST(x AS DOUBLE)")} * scale)
                        * 1000000000000.0 + 0.5) AS BIGINT)) AS r2
        FROM s
    )
    SELECT vec_id,
           CAST(len(list_filter(qs, v -> abs(v) = 127)) AS BIGINT)
             AS n_saturated,
           CAST(len(list_filter(qs, v -> v = 0)) AS BIGINT) AS n_zero,
           CAST(coalesce(list_sum(qs), 0) AS BIGINT) AS q_sum,
           CASE WHEN len(qs) > 0 THEN
               sqrt(CAST(CAST(coalesce(list_sum(r2), 0) AS BIGINT)
                         AS DOUBLE) / 1000000000000.0 / len(qs))
           END AS rmse
    FROM q
    """,
)
def t1_int8_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization audit (absmax scaling, the
    LLM.int8() / FAISS SQ8 scheme): per vector, quantize each dim to
    q = round(x·127/absmax), report saturation count (|q| = 127 — >1
    means an outlier dim is eating the dynamic range), zero count
    (underflow), the integer checksum of q, and reconstruction RMSE.

    Exactness: rounding is sign-aware half-away floor arithmetic in both
    engines (never round() on a double); the residual energy is summed
    as exact integer picounits (r² ≤ (scale/2)² ≈ 4e-6 → ≤ 4e6 pico per
    dim, 64 dims ≈ 3e8 — far inside BIGINT), and rmse is one sqrt of one
    deterministically-derived double.  DuckDB's HUGEINT list_sum is
    CAST to BIGINT before the division (the t1_temperature_mix lesson).

    Scale: pure per-row map over the embedding array — no shuffle, no
    UDF, pipelined inside the parquet scan; at 100 TB this is
    scan-bound, which is the point of doing it declaratively."""
    e = load_table(spark, sf_dir, "embeddings")
    exprs = spark_quant_exprs()
    s = e.select(
        "vec_id",
        "embedding",
        F.expr(SCALE_SPARK).alias("scale"),
    )
    q = s.select(
        "vec_id",
        "scale",
        F.expr(exprs["qs"]).alias("qs"),
        F.expr(exprs["r2m"]).alias("r2m"),
    )
    return q.select(
        "vec_id",
        F.expr("size(filter(qs, v -> abs(v) = 127))")
        .cast("bigint")
        .alias("n_saturated"),
        F.expr("size(filter(qs, v -> v = 0))").cast("bigint").alias("n_zero"),
        # coalesce-to-0 mirrors the oracle's coalesce(list_sum(qs), 0):
        # a NULL embedding must checksum to 0 on both engines, not NULL
        # on one side
        F.expr("coalesce(aggregate(qs, 0L, (a, v) -> a + v), 0L)").alias(
            "q_sum"
        ),
        F.expr(
            "CASE WHEN size(qs) > 0 THEN"
            " sqrt(CAST(r2m AS DOUBLE) / 1000000000000.0D / size(qs)) END"
        ).alias("rmse"),
    )


@register(
    "t1_stream_quality_gate",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
    ),
    st AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS nw,
               CAST(len(list_distinct(tk)) AS BIGINT) AS ndist,
               CAST(len(list_filter(tk, t -> t IN ({_STOP_SQL})))
                    AS BIGINT) AS nstop,
               CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
                    AS BIGINT) AS nalpha,
               CAST(coalesce(list_sum(list_transform(tk, t -> length(t))),
                             0) AS BIGINT) AS sumlen
        FROM s
    )
    SELECT doc_id
    FROM st
    WHERE coalesce(nw >= 20 AND nw <= 1000
                   AND 3 * nw <= sumlen AND sumlen <= 10 * nw
                   AND nstop >= 2 AND 5 * nalpha >= 4 * nw
                   AND 10 * ndist >= 3 * nw, FALSE)
    """,
)
def t1_stream_quality_gate(spark, sf_dir):
    """Streaming ingest quality gate: the Gopher rule battery applied to
    the documents STREAM, passing doc_ids emitted in append mode — the
    filter a crawl pipeline runs at ingest so rejected documents never
    reach storage.  Exactly gopher_rule_frame over the stream, so batch
    and streaming gates can never drift (one expression tree).

    Scale: completely STATELESS — a narrow per-row map with a filter,
    no watermark, no state store; each micro-batch is gated
    independently at scan throughput.  Drained AvailableNow output must
    equal the batch rule evaluation's passing set exactly."""
    from ght2dm_spark.streaming import (
        read_documents_stream,
        run_to_completion,
    )

    stream = read_documents_stream(spark, sf_dir).select("doc_id", "text")
    gated = gopher_rule_frame(stream).filter("passes").select("doc_id")
    return run_to_completion(gated, output_mode="append")
