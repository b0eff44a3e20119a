"""LLM-corpus curation operators, batch 2: the named techniques from the
public data-pipeline literature that round 2 didn't yet cover.

- t1_semdedup       — SemDeDup (Abbas et al., 2023): k-means-cluster the
                      embedding space, near-dedup only WITHIN clusters.
- t1_dsir_sample    — DSIR-style importance weighting (Xie et al., 2023):
                      hashed unigram features, target/raw likelihood
                      ratio, in integer fixed point.
- t1_span_dedup     — duplicate-span statistics (Lee et al., 2022,
                      "Deduplicating Training Data Makes LMs Better"):
                      corpus-frequency of token 5-grams, per-doc covered
                      token count via merged-interval fold.
- t1_url_dedup      — URL canonicalization + dedup (lowercased host,
                      tracking params dropped, params sorted, trailing
                      slash stripped) — the CommonCrawl-style first pass.
- t1_quality_logit  — linear quality classifier (fastText-proxy): fixed
                      offline weights over exact integer text features.

Determinism discipline: every score that feeds a comparison is integer
fixed point (1e6 scale, floor division) or an md5-derived hash — the
pagerank/k-means lesson — so Spark and the DuckDB oracle agree exactly;
floats appear only in SemDeDup's cosine, the pattern already proven
exact-after-round-6 by t1_embedding_neardup.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.neardup import hex2int_sql
from ght2dm_spark.operators.similarity import (
    EMB_DIM,
    cosine_hoisted,
    cosine_sql,
    with_norm2,
)
from ght2dm_spark.queries.registry import register

# --------------------------------------------------------------------------
# t1_semdedup

_SD_K, _SD_ITERS = 4, 2


def _semdedup_sql() -> str:
    """Oracle: perturb-augmented corpus (t1_embedding_neardup's planting
    idiom), the unrolled integer k-means CTEs trained ON that corpus,
    then within-cluster pairs with float cosine ≥ 0.9."""
    from ght2dm_spark.queries.clustering_queries import _kmeans_ctes
    from ght2dm_spark.queries.similarity_queries import _PERTURB_SQL

    ctes, sq = _kmeans_ctes(_SD_K, _SD_ITERS, EMB_DIM, source="aug")
    return (
        "WITH "
        + _PERTURB_SQL
        + ",\n"
        + ",\n".join(ctes)
        + f""",
    af AS (SELECT id,
                  struct_extract(min(struct_pack(d := {sq}, c := cid)), 'c')
                    AS cid
           FROM v CROSS JOIN c{_SD_ITERS} GROUP BY id, v),
    p AS (SELECT a.id AS id_a, b.id AS id_b,
                 {cosine_sql("ea.embedding", "eb.embedding")} AS cos
          FROM af a JOIN af b ON a.cid = b.cid AND a.id < b.id
          JOIN aug ea ON ea.vec_id = a.id
          JOIN aug eb ON eb.vec_id = b.id)
    SELECT id_b AS dropped_id,
           CAST(count(*) AS BIGINT) AS n_dups,
           round(max(cos), 6) AS max_cos
    FROM p WHERE cos >= 0.9 GROUP BY 1"""
    )


@register("t1_semdedup", oracle=_semdedup_sql())
def t1_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al., 2023): train integer k-means over the
    embedding corpus, then search for near-duplicate pairs ONLY within
    each cluster — the cluster id replaces LSH as the blocking key
    (t1_embedding_neardup is the LSH form of the same pipeline).  Each
    above-threshold pair drops its higher id; output is the dropped set
    with its duplicate count and strongest duplicate cosine.

    Corpus = embeddings + deterministic ±10% perturbed copies of every
    10th vector (random 64-dim vectors have cos ≈ 0, so survivors are
    exactly the planted near-copies that landed in the same cluster —
    and cluster assignment is bit-identical across engines, so the
    oracle agrees whatever the clustering does).

    Scale: the point of SemDeDup — candidate pairs are |cluster|² not
    |corpus|², and clusters are data-balanced by the k-means step; the
    per-round training cost is a K-row broadcast (data never shuffles),
    the pairing is an equi-join on cid.  Cites the reference's dedup
    intent (skip-if-exists, ght2dm.go:482-489) lifted to semantic
    near-dup."""
    from ght2dm_spark.operators.clustering import kmeans_int

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: (
                F.element_at("embedding", i).cast("double")
                * (F.lit(1.0) + F.lit(0.05) * ((i % 5) - 2))
            ).cast("float"),
        ).alias("embedding"),
    )
    aug = e.unionByName(pert)
    asg, _ = kmeans_int(aug, "vec_id", "embedding", k=_SD_K, iters=_SD_ITERS)
    a = asg.select(F.col("id").alias("id_a"), "cid")
    b = asg.select(F.col("id").alias("id_b"), "cid")
    # Per-SIDE double conversion + squared norm, hoisted below the pair
    # join (the r9 topk_neighbors move, §7): the within-cluster pair
    # stream is |cluster|²-sized, so paying as_double twice and three
    # 64-element folds PER PAIR dominated the query (34.8 s at sf0.1).
    # cosine_hoisted is bit-identical to the per-pair form and to the
    # unchanged DuckDB oracle; per pair only dot(a, b) remains.
    sides = with_norm2(aug.select("vec_id", "embedding"), "embedding", "e")
    ea = sides.select(
        F.col("vec_id").alias("id_a"),
        F.col("e_nd").alias("nd_a"),
        F.col("e_n2").alias("n2_a"),
    )
    eb = sides.select(
        F.col("vec_id").alias("id_b"),
        F.col("e_nd").alias("nd_b"),
        F.col("e_n2").alias("n2_b"),
    )
    cos = cosine_hoisted(
        F.col("nd_a"), F.col("n2_a"), F.col("nd_b"), F.col("n2_b")
    )
    return (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.9)
        .groupBy(F.col("id_b").alias("dropped_id"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
    )


# --------------------------------------------------------------------------
# t1_dsir_sample

_DSIR_B = 256  # hashed-feature buckets
_DSIR_SCALE = 1_000_000


@register(
    "t1_dsir_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {hex2int_sql("md5(t.tok)", 1, 8)} % {_DSIR_B} AS bucket
      FROM documents,
           unnest(string_split_regex(lower(text), '\\s+')) AS t(tok)
      WHERE t.tok <> ''),
    raw AS (SELECT bucket, count(*) AS raw_n FROM toks GROUP BY 1),
    tgt AS (SELECT bucket, count(*) AS tgt_n FROM toks
            WHERE lang = 'en' GROUP BY 1),
    sc AS (SELECT r.bucket,
                  ((coalesce(t.tgt_n, 0) + 1) * {_DSIR_SCALE})
                    // (r.raw_n + 1) AS score
           FROM raw r LEFT JOIN tgt t USING (bucket)),
    dw AS (SELECT doc_id, lang,
                  CAST(count(*) AS BIGINT) AS n_toks,
                  CAST(sum(score) AS BIGINT) AS weight
           FROM toks JOIN sc USING (bucket) GROUP BY 1, 2),
    pv AS (SELECT (sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   * {_DSIR_SCALE}) // count(*) AS p
           FROM toks)
    SELECT doc_id, lang, n_toks, weight,
           weight > n_toks * (SELECT p FROM pv) AS keep
    FROM dw
    """,
)
def t1_dsir_sample(spark, sf_dir):
    """DSIR-style importance weighting (Xie et al., NeurIPS 2023): score
    every document by how much its hashed-unigram distribution leans
    toward a target domain (here lang='en') relative to the raw corpus.
    Token → md5 hash → one of 256 feature buckets; per-bucket score is
    the add-one-smoothed target/raw count ratio in 1e6 fixed point
    (floor division — exact integers replace DSIR's log-likelihood
    ratio with a monotone-equivalent rational, the k-means discipline);
    a document's weight is the sum of its tokens' bucket scores, and it
    is kept when its average token score beats the corpus-wide target
    token share (the natural prior).

    Scale: the two feature dictionaries are ≤256 rows — broadcast joins;
    the heavy path is one explode + one groupBy(doc_id), i.e. a single
    shuffle over the token stream.  Recomputing the dictionaries is one
    map-side-combined aggregate over the same stream."""
    from ght2dm_spark.functions.text import explode_ws_tokens

    d = load_table(spark, sf_dir, "documents")
    toks = explode_ws_tokens(
        d, "text", "tok", keep=("doc_id", "lang")
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % _DSIR_B,
    )
    # ONE conditional aggregate builds both dictionaries (raw + target
    # counts per bucket) — separate raw/tgt groupBys plus a third
    # full-stream pivot aggregate re-ran split+md5 over every token two
    # extra times; the pivot now derives from the 256-row result.
    combined = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.expr("count_if(lang = 'en')").alias("tgt_n"),
    )
    sc = combined.select(
        "bucket",
        F.expr(
            f"(tgt_n + 1) * {_DSIR_SCALE} div (raw_n + 1)"
        ).alias("score"),
    )
    dw = (
        toks.join(F.broadcast(sc), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("score").alias("weight"),
        )
    )
    pivot = combined.agg(
        F.expr(f"sum(tgt_n) * {_DSIR_SCALE} div sum(raw_n)").alias("p")
    )
    return dw.crossJoin(F.broadcast(pivot)).select(
        "doc_id",
        "lang",
        "n_toks",
        "weight",
        (F.col("weight") > F.col("n_toks") * F.col("p")).alias("keep"),
    )


# --------------------------------------------------------------------------
# t1_span_dedup

_SPAN_K = 5


@register(
    "t1_span_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS toks
      FROM documents),
    docs AS (SELECT doc_id, toks, len(toks) AS n_toks FROM base),
    grams AS (
      SELECT doc_id, s.i AS s,
             md5(array_to_string(toks[s.i + 1 : s.i + {_SPAN_K}], ' '))
               AS ghash
      FROM docs, unnest(range(0, greatest(n_toks - {_SPAN_K} + 1, 0)))
                   AS s(i)),
    dup AS (SELECT ghash FROM grams GROUP BY 1 HAVING count(*) >= 2),
    ds AS (SELECT g.doc_id, list_sort(list(g.s)) AS starts,
                  CAST(count(*) AS BIGINT) AS n_dup
           FROM grams g JOIN dup USING (ghash) GROUP BY 1)
    SELECT d.doc_id, d.n_toks,
           CAST(greatest(d.n_toks - {_SPAN_K} + 1, 0) AS BIGINT) AS n_grams,
           coalesce(ds.n_dup, 0) AS n_dup_grams,
           CAST(coalesce(
             len(list_filter(range(0, d.n_toks),
                 i -> len(list_filter(ds.starts,
                          s -> i >= s AND i <= s + {_SPAN_K - 1})) > 0)),
             0) AS BIGINT) AS covered_tokens,
           d.n_toks - CAST(coalesce(
             len(list_filter(range(0, d.n_toks),
                 i -> len(list_filter(ds.starts,
                          s -> i >= s AND i <= s + {_SPAN_K - 1})) > 0)),
             0) AS BIGINT) AS retained_tokens
    FROM docs d LEFT JOIN ds ON d.doc_id = ds.doc_id
    """,
)
def t1_span_dedup(spark, sf_dir):
    """Duplicate-span detection (Lee et al., 2022): any token 5-gram
    occurring ≥2 times ANYWHERE in the corpus (across or within
    documents — the suffix-array criterion) marks its span as
    duplicated; per document, report how many token positions fall
    under at least one duplicated span and how many tokens a
    span-trimming pass would retain.

    The Spark side computes covered-token counts with an O(n) sorted
    merged-interval fold (``F.aggregate`` over the sorted start list —
    each span is [s, s+4]; overlaps merge); the oracle counts covered
    indices directly (O(n·|starts|)) — same value, independently
    derived.

    Scale: one explode to the gram stream, one hash-keyed groupBy for
    global frequencies, one join back, one groupBy(doc_id) — the exact
    shape of the MinHash pipeline, and the gram table shrinks to
    (hash, count≥2) before the join.  No suffix array needed: fixed k
    turns suffix dedup into hash aggregation."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "").alias(
            "toks"
        ),
    ).withColumn("n_toks", F.size("toks"))
    docs = base.withColumn(
        "n_grams", F.greatest(F.col("n_toks") - _SPAN_K + 1, F.lit(0))
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("n_grams") > 0,
                F.sequence(F.lit(0), F.col("n_grams") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("s"),
        "toks",
    ).select(
        "doc_id",
        "s",
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("s") + 1, _SPAN_K))
        ).alias("ghash"),
    )
    # corpus-frequency filter as count(*) OVER (PARTITION BY ghash) in
    # the gram stream's own shuffle: the aggregate-then-join-back form
    # ran the tokenize+md5 gram pipeline TWICE (agg subtree + probe
    # subtree, different exchange shapes — no reuse) and shuffled both
    # join sides on the vocabulary-sized ghash key.  Same c >= 2 set,
    # one gram pass, one exchange (the t1_dup_ngram_coverage move).
    wg = Window.partitionBy("ghash")
    ds = (
        grams.withColumn("__c", F.count(F.lit(1)).over(wg))
        .filter(F.col("__c") >= 2)
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("s")).alias("starts"),
            F.count(F.lit(1)).alias("n_dup"),
        )
    )
    # O(n) merged-interval fold: acc = (end of last covered interval,
    # covered-token total); each start s covers [s, s+K-1].
    covered = F.aggregate(
        F.col("starts"),
        F.struct(
            F.lit(-1).cast("long").alias("last"),
            F.lit(0).cast("long").alias("tot"),
        ),
        lambda acc, s: F.struct(
            F.greatest(acc["last"], s.cast("long") + _SPAN_K - 1).alias(
                "last"
            ),
            (
                acc["tot"]
                + F.greatest(
                    F.lit(0).cast("long"),
                    s.cast("long")
                    + _SPAN_K
                    - F.greatest(s.cast("long"), acc["last"] + 1),
                )
            ).alias("tot"),
        ),
        lambda acc: acc["tot"],
    )
    return (
        docs.join(ds, "doc_id", "left")
        .withColumn(
            "covered_tokens",
            F.coalesce(covered, F.lit(0).cast("long")),
        )
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup"), F.lit(0).cast("long")).alias(
                "n_dup_grams"
            ),
            "covered_tokens",
            (F.col("n_toks").cast("long") - F.col("covered_tokens")).alias(
                "retained_tokens"
            ),
        )
    )


# --------------------------------------------------------------------------
# t1_url_dedup

# Deterministic URL-ish string per document: mixed-case host, trailing
# slash, tracking params, param order scrambled — everything the
# canonicalizer must fix.  The path/b param key on doc_id % 250, so each
# canonical URL collects exactly the {i, i+250} variant pair.
_URL_SQL = (
    "('https://WWW.Example.COM/d/'"
    " || CAST(doc_id % 250 AS STRING)"
    " || '/?utm_source=feed&b=' || CAST(doc_id % 250 AS STRING)"
    " || '&a=1&utm_campaign=c' || CAST(doc_id AS STRING)"
    " || '&ref=' || source)"
)


@register(
    "t1_url_dedup",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, 'https?://([^/]+)', 1)) AS host,
             rtrim(regexp_extract(url, 'https?://[^/]+([^?]*)', 1), '/')
               AS path,
             regexp_extract(url, '\\?(.*)$', 1) AS query
      FROM u),
    canon AS (
      SELECT doc_id,
             host || path || '?' ||
             array_to_string(
               list_sort(list_filter(string_split(query, '&'),
                 p -> NOT (starts_with(p, 'utm_') OR p LIKE 'ref=%'))), '&')
               AS canon_url
      FROM parts)
    SELECT canon_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id) AS kept_doc_id,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM canon GROUP BY 1
    """,
)
def t1_url_dedup(spark, sf_dir):
    """URL canonicalization + dedup — the CommonCrawl-style first
    dedup pass: lowercase the host, strip the trailing slash, drop
    tracking parameters (utm_*, ref), sort the surviving query params,
    then group by the canonical form keeping the lowest doc_id.  The
    synthetic URLs (deterministic per doc) scramble the param order and
    vary only in tracking noise within each {{i, i+250}} pair, so every
    canonical URL resolves exactly 2 variants.

    Scale: canonicalization is a pure narrow map (regex + array ops,
    all JVM built-ins); the dedup is one hash aggregate on the
    canonical key — the identical shape to exact text dedup
    (operators/dedup.py), applied to the URL column."""
    d = load_table(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_URL_SQL).alias("url"))
    host = F.lower(F.regexp_extract("url", r"https?://([^/]+)", 1))
    path = F.rtrim(F.regexp_extract("url", r"https?://[^/]+([^?]*)", 1), F.lit("/"))
    query = F.regexp_extract("url", r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: ~(p.startswith("utm_") | p.startswith("ref=")),
        )
    )
    canon = F.concat(host, path, F.lit("?"), F.array_join(kept, "&"))
    return (
        u.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("kept_doc_id"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# t1_quality_logit

_QL_STOP = ("a", "the", "of", "and", "in", "to")
_QL_SCALE = 1_000_000


@register(
    "t1_quality_logit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    f AS (
      SELECT doc_id,
             len(toks) AS n_toks,
             (len(list_distinct(toks)) * {_QL_SCALE}) // len(toks) AS ttr_fp,
             (len(list_filter(toks, x -> x IN
                ('a','the','of','and','in','to'))) * {_QL_SCALE})
               // len(toks) AS stop_fp,
             (list_reduce(list_transform(toks, x -> CAST(len(x) AS BIGINT)),
                          (a, b) -> a + b) * {_QL_SCALE})
               // len(toks) AS mwl_fp
      FROM t WHERE len(toks) > 0)
    SELECT doc_id, n_toks,
           CAST(2 * ttr_fp - 3 * stop_fp + mwl_fp // 4 AS BIGINT) AS score,
           (2 * ttr_fp - 3 * stop_fp + mwl_fp // 4) >= 1500000 AS keep
    FROM f
    """,
)
def t1_quality_logit(spark, sf_dir):
    """Linear quality classifier (the fastText-classifier proxy of
    CCNet/LLaMA-style filtering): a fixed "offline-trained" weight
    vector over exact integer text features — type-token ratio,
    stopword ratio, mean word length, each in 1e6 fixed point (floor
    division) — thresholded into a keep flag.  The sigmoid is omitted:
    it is monotone, so the decision boundary is the linear score
    (documented substitution; scores stay exactly comparable across
    engines, the k-means discipline).

    Scale: a pure narrow map — one pass over the token array per row
    with JVM built-ins only, no shuffle at all; the filter pushes to
    the scan consumers downstream."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias(
            "toks"
        ),
    ).filter(F.size("toks") > 0)
    n = F.size("toks").cast("long")
    stop_lit = F.array(*[F.lit(s) for s in _QL_STOP])
    f = t.select(
        "doc_id",
        n.alias("n_toks"),
        # BIGINT before the scale multiply: a doc with >2147 distinct
        # tokens overflows 32-bit here under ANSI mode (fixtures max out
        # near 100 tokens, so only real corpora hit it)
        F.expr(
            f"CAST(size(array_distinct(toks)) AS BIGINT) * {_QL_SCALE}"
            f" div size(toks)"
        ).alias("ttr_fp"),
        (
            F.size(F.filter("toks", lambda x: F.array_contains(stop_lit, x)))
            .cast("long")
            * _QL_SCALE
        ).alias("stop_raw"),
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("chars"),
    ).select(
        "doc_id",
        "n_toks",
        "ttr_fp",
        F.expr("stop_raw div n_toks").alias("stop_fp"),
        F.expr(f"chars * {_QL_SCALE} div n_toks").alias("mwl_fp"),
    )
    score = (
        2 * F.col("ttr_fp") - 3 * F.col("stop_fp") + F.expr("mwl_fp div 4")
    )
    return f.select(
        "doc_id",
        "n_toks",
        score.cast("long").alias("score"),
        (score >= 1_500_000).alias("keep"),
    )
