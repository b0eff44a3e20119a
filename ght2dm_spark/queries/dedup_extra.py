"""Round-8 dedup/search declared queries: the hot-shingle audit frame
behind the SHINGLE_MAX_DF cap, LSH bucket-size statistics, duplicate-
cluster size histogram, pseudo-relevance-feedback query expansion,
MinHash estimate-vs-exact error, and deterministic hash-reservoir
sampling — the observability and composition layer around the round-2..7
dedup/retrieval operators.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.neardup import (
    SHINGLE_MAX_DF,
    hot_shingles,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
    shingle_array_df,
    shingle_df,
    shingle_sql,
    sig_jaccard,
)
from ght2dm_spark.queries.dedup_queries import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    _AUG_SQL,
    _TOKS,
    _aug_docs,
    _minhash_sql_cte,
)
from ght2dm_spark.queries.registry import ORACLE, register

_AUDIT_DF = 8  # audit threshold: low enough to surface rows at sf0.01

_SH_AUG_SQL = f"""
    t AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
    sh AS (SELECT doc_id, unnest(list_distinct({shingle_sql("toks", None, 3)})) AS shingle
           FROM t)
"""


# --------------------------------------------------------------------------
# t1_hot_shingle_audit


@register(
    "t1_hot_shingle_audit",
    oracle=f"""
    WITH {_AUG_SQL},
    {_SH_AUG_SQL},
    freq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
             FROM sh GROUP BY shingle)
    SELECT shingle, df,
           CAST(CASE WHEN df > {SHINGLE_MAX_DF} THEN 1 ELSE 0 END AS BIGINT)
             AS would_drop
    FROM freq WHERE df > {_AUDIT_DF}
    """,
)
def t1_hot_shingle_audit(spark, sf_dir):
    """The recall-loss audit for the shingle-join df cap: every shingle
    whose document frequency exceeds the audit threshold, flagged with
    whether the SHINGLE_MAX_DF production cap would drop it from
    t1_ngram_containment / t1_ngram_jaccard_pairs.  A production dedup
    run logs this frame next to its pair counts — capped recall is
    reported, never silently lost (the exact-join path's twin of
    t1_lsh_bucket_stats' bucket-cap audit).

    Scale: one map-side-combinable groupBy on the shingle; the audit
    output is heavy-tail-sized by construction."""
    aug = _aug_docs(spark, sf_dir)
    sh = shingle_df(aug, "doc_id", "text", 3)
    freq = hot_shingles(sh, max_df=_AUDIT_DF)
    return freq.select(
        "shingle",
        F.col("df").cast("bigint").alias("df"),
        F.when(F.col("df") > SHINGLE_MAX_DF, 1).otherwise(0)
        .cast("bigint").alias("would_drop"),
    )


# --------------------------------------------------------------------------
# t1_lsh_bucket_stats

_BANDS_SQL = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM m".format(
        b=b,
        key=" || '|' || ".join(
            f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)
        ),
    )
    for b in range(LSH_BANDS)
)


@register(
    "t1_lsh_bucket_stats",
    oracle=f"""
    WITH {_AUG_SQL},
    {_minhash_sql_cte("aug")},
    bands AS ({_BANDS_SQL}),
    bk AS (SELECT band, band_key, CAST(count(*) AS BIGINT) AS sz
           FROM bands GROUP BY band, band_key)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS cand_pairs
    FROM bk GROUP BY band
    """,
)
def t1_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket-size statistics per band: bucket count, max bucket,
    and the candidate-pair budget Σ sz·(sz−1)/2 — the SKEW AUDIT run
    before an LSH dedup job (a band whose cand_pairs explodes means the
    banding parameters are wrong for this corpus, caught here instead
    of as a straggler task).  The observability face of
    LSH_MAX_BUCKET's enforcement.

    Scale: one groupBy on (band, key) — the same shuffle the pair join
    itself needs — then a |bands|-row rollup; integer arithmetic only."""
    aug = _aug_docs(spark, sf_dir)
    sig = minhash_signature(aug, "doc_id", "text", k=MINHASH_K)
    bands = lsh_bands(
        sig, "doc_id", bands=LSH_BANDS, rows=LSH_ROWS, sig_len=MINHASH_K
    )
    bk = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return bk.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2).cast("bigint")
        .alias("cand_pairs"),
    ).select(
        F.col("band").cast("bigint").alias("band"),
        "n_buckets", "n_docs", "max_bucket", "cand_pairs",
    )


# --------------------------------------------------------------------------
# t1_dup_cluster_sizes


@register(
    "t1_dup_cluster_sizes",
    oracle="""
    WITH comp AS (__COMPONENTS_ORACLE__),
    cs AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
           FROM comp GROUP BY component)
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM cs GROUP BY cluster_size
    """,
)
def t1_dup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size histogram over the near-dup connected
    components — the one-page summary of a corpus's duplication
    structure (a long tail of size-2 clusters is organic duplication; a
    few giant clusters are template farms that need source-level fixes,
    not pair-level dedup).  Composes the registered components query on
    the Spark side and splices its recursive-CTE oracle (sentinel +
    replace).

    Scale: two tiny aggregations over the |docs|-row component
    labeling; the component computation itself is the audited
    large-star/small-star iteration."""
    from ght2dm_spark.queries.clustering_queries import t1_neardup_components

    comp = t1_neardup_components(spark, sf_dir)
    cs = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return cs.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )


ORACLE["t1_dup_cluster_sizes"] = ORACLE["t1_dup_cluster_sizes"].replace(
    "__COMPONENTS_ORACLE__", ORACLE["t1_neardup_components"]
)


# --------------------------------------------------------------------------
# t1_query_expansion_prf

_PRF_DOCS = 10  # feedback depth: the BM25 top-k
_PRF_TERMS = 5


@register(
    "t1_query_expansion_prf",
    oracle=f"""
    WITH fb AS (__BM25_ORACLE__),
    ftok AS (
        SELECT fb.doc_id, t.tok AS term
        FROM fb JOIN documents d ON fb.doc_id = d.doc_id,
             unnest(string_split_regex(lower(d.text), '\\s+')) AS t(tok)
        WHERE t.tok <> ''
    ),
    cand AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS fb_df
        FROM ftok
        WHERE term NOT IN ('spark', 'hash', 'filter')
        GROUP BY term
    )
    SELECT term, fb_df, CAST(rk AS BIGINT) AS rk FROM (
        SELECT term, fb_df,
               row_number() OVER (ORDER BY fb_df DESC, term ASC) AS rk
        FROM cand
    ) WHERE rk <= {_PRF_TERMS}
    """,
)
def t1_query_expansion_prf(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (Rocchio's idea in its
    counting form): take the BM25 top-10 for the fixed 3-term query,
    rank the OTHER terms of those documents by feedback document
    frequency, and emit the top-5 expansion candidates — the retrieval
    step a decontamination/recall audit uses to widen a probe query.
    Composes the registered BM25 query on the Spark side and splices
    its oracle as the feedback CTE.

    Scale: the feedback set is k documents — everything downstream of
    the (already rank-bounded) BM25 cut is k-bounded; the term ranking
    is one tiny window."""
    from ght2dm_spark.queries.search_queries import (
        _BM25_TERMS,
        t1_bm25_topk,
    )

    fb = t1_bm25_topk(spark, sf_dir).select("doc_id")
    d = load_table(spark, sf_dir, "documents")
    ftok = (
        d.join(F.broadcast(fb), "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower("text"), r"\s+"), lambda x: x != ""
                )
            ).alias("term"),
        )
        .filter(~F.col("term").isin(*_BM25_TERMS))
    )
    cand = ftok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("fb_df")
    )
    w = Window.orderBy(F.col("fb_df").desc(), F.col("term").asc())
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _PRF_TERMS)
        .select("term", "fb_df", "rk")
    )


# splice the registered BM25 oracle as the feedback CTE (sentinel +
# replace — str.format would choke on the regex braces in this module)
ORACLE["t1_query_expansion_prf"] = ORACLE["t1_query_expansion_prf"].replace(
    "__BM25_ORACLE__", ORACLE["t1_bm25_topk"]
)


# --------------------------------------------------------------------------
# t1_minhash_est_error


@register(
    "t1_minhash_est_error",
    oracle=f"""
    WITH {_AUG_SQL},
    {_minhash_sql_cte("aug")},
    sig AS (SELECT doc_id,
                   [{", ".join(f"h{i}" for i in range(MINHASH_K))}] AS sig
            FROM m),
    bands AS ({_BANDS_SQL}),
    capped AS (SELECT doc_id, band, band_key FROM (
                 SELECT *, count(*) OVER (PARTITION BY band, band_key) AS __n
                 FROM bands
               ) WHERE __n <= 10000),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM capped a
             JOIN capped b ON a.band = b.band AND a.band_key = b.band_key
             WHERE a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           round(CAST(len(list_filter(range(1, {MINHASH_K + 1}),
                                      k -> sa.sig[k] = sb.sig[k]))
                      AS DOUBLE) / {MINHASH_K}, 6) AS est,
           round(CAST(i.inter AS DOUBLE)
                 / (za.n + zb.n - i.inter), 6) AS exact,
           round(abs(CAST(len(list_filter(range(1, {MINHASH_K + 1}),
                                          k -> sa.sig[k] = sb.sig[k]))
                          AS DOUBLE) / {MINHASH_K}
                     - CAST(i.inter AS DOUBLE)
                       / (za.n + zb.n - i.inter)), 6) AS abs_err
    FROM inter i
    JOIN sig sa ON i.id_a = sa.doc_id
    JOIN sig sb ON i.id_b = sb.doc_id
    JOIN sz za ON i.id_a = za.doc_id
    JOIN sz zb ON i.id_b = zb.doc_id
    """,
)
def t1_minhash_est_error(spark, sf_dir):
    """MinHash estimate vs EXACT Jaccard on every LSH candidate pair —
    the sketch-quality audit that tells you whether k=16 signature
    slots are enough for this corpus before you trust the estimated
    threshold (the recall self-audit discipline of t1_ann_recall
    applied to the dedup sketch).

    Scale: exact Jaccard is computed ONLY for the candidate pairs (the
    per-doc distinct-shingle ARRAYS are attached to the candidate frame
    and intersected in-row — never an exploded shingle join, never all
    co-shingle pairs), so cost is candidate-bounded; est is array
    arithmetic on the already-built signatures.

    Round-9 shape: shingle_array_df replaces the exploded sh frame —
    inter = size(array_intersect), set sizes = size(shs) — removing
    three evaluations of the explode pipeline (sz + both inter join
    sides), the pair groupBy, and two of the four final joins.

    Exactness: est is i/16 (exact), exact is one division of integers,
    abs_err one IEEE subtract — all three round to 6."""
    aug = _aug_docs(spark, sf_dir)
    sig = pinned(minhash_signature(aug, "doc_id", "text", k=MINHASH_K))
    bands = lsh_bands(
        sig, "doc_id", bands=LSH_BANDS, rows=LSH_ROWS, sig_len=MINHASH_K
    )
    cand = lsh_candidate_pairs(bands, "doc_id")
    arrs = shingle_array_df(aug, "doc_id", "text", 3)
    inter = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a")
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("shs_a", "shs_b"))
            .cast("bigint")
            .alias("inter"),
            F.size("shs_a").cast("bigint").alias("na"),
            F.size("shs_b").cast("bigint").alias("nb"),
        )
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = sig_jaccard(F.col("sig_a"), F.col("sig_b"))
    exact = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(est, 6).alias("est"),
            F.round(exact, 6).alias("exact"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


# --------------------------------------------------------------------------
# t1_reservoir_sample

_RSV_K = 5


@register(
    "t1_reservoir_sample",
    oracle=f"""
    WITH h AS (SELECT lang, doc_id,
                      md5('rsv:' || CAST(doc_id AS VARCHAR)) AS hk
               FROM documents)
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY hk ASC, doc_id ASC) AS rk
        FROM h
    ) WHERE rk <= {_RSV_K}
    """,
)
def t1_reservoir_sample(spark, sf_dir):
    """Deterministic 'reservoir' sample: k documents per language by
    ascending salted-hash order — exactly the uniform-without-
    replacement sample a reservoir algorithm draws, but reproducible
    under any partitioning, any engine, any rerun (hash order IS the
    random order; no RNG stream to coordinate).  The per-stratum
    sampling primitive under t1_lang_balance_sample and the k-fold
    assignments.

    Scale: a rank window per stratum over (hash, id) — at 100 TB the
    production form keeps a per-partition k-heap (TakeOrderedAndProject
    per group), which this plan's window-over-partition already
    approximates; no global sort."""
    h = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id",
        F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
        .alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("hk").asc(), F.col("doc_id").asc()
    )
    return (
        h.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _RSV_K)
        .select("lang", "doc_id", "rk")
    )
