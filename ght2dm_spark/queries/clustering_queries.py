"""Dedup clustering + TF-IDF: the step after near-dup pair generation
(group candidate pairs into components, pick one representative), and
the classic corpus-statistics operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.graph import connected_components
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.neardup import (
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
)
from ght2dm_spark.queries.dedup_queries import (
    _AUG_SQL,
    _aug_docs,
    _minhash_sql_cte,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
)
from ght2dm_spark.queries.registry import register

_CAND_SQL = f"""
    {_minhash_sql_cte("aug")},
    bands AS ({" UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM m".format(
            b=b,
            key=" || '|' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    )}),
    capped AS (SELECT doc_id, band, band_key FROM (
                 SELECT *, count(*) OVER (PARTITION BY band, band_key) AS __n
                 FROM bands
               ) WHERE __n <= 10000),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM capped a
             JOIN capped b ON a.band = b.band AND a.band_key = b.band_key
             WHERE a.doc_id < b.doc_id)
"""


@register(
    "t1_neardup_components",
    oracle=f"""
    WITH RECURSIVE {_AUG_SQL},
    {_CAND_SQL},
    e2 AS (
        SELECT id_a AS a, id_b AS b FROM cand
        UNION
        SELECT id_b AS a, id_a AS b FROM cand
    ),
    reach(a, b) AS (
        SELECT doc_id AS a, doc_id AS b FROM aug
        UNION
        SELECT r.a, e.b FROM reach r JOIN e2 e ON r.b = e.a
    )
    SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
    """,
)
def t1_neardup_components(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash → LSH candidate pairs →
    connected components (hash-to-min iterative joins) → every doc
    labeled with its duplicate-cluster id (cluster = min doc_id;
    singletons label themselves).  The oracle computes the same clusters
    via a DuckDB recursive-CTE transitive closure — an independent
    algorithm, same fixpoint."""
    aug = _aug_docs(spark, sf_dir)
    sig = pinned(minhash_signature(aug, "doc_id", "text", k=MINHASH_K))
    bands = lsh_bands(sig, "doc_id", bands=LSH_BANDS, rows=LSH_ROWS, sig_len=MINHASH_K)
    cand = lsh_candidate_pairs(bands, "doc_id")
    nodes = aug.select("doc_id")
    return connected_components(
        nodes, cand, node_col="doc_id", src="id_a", dst="id_b"
    ).withColumnRenamed("comp", "component")


@register(
    "t1_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  t -> t <> '')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term ASC) AS rk
        FROM scored
    ) t WHERE rk <= 3
    """,
)
def t1_tfidf_top_terms(spark, sf_dir):
    """TF-IDF with smoothed idf (ln((N+1)/(df+1)) + 1), top-3 terms per
    doc.  Three aggregations over one tokenized frame; the per-term
    document frequency is a small dimension that broadcasts back; N
    arrives as a broadcast scalar.  Ties break lexicographically so
    top-k is deterministic."""
    from ght2dm_spark.functions.text import explode_ws_tokens

    d = load_table(spark, sf_dir, "documents")
    toks = pinned(explode_ws_tokens(d, "text", "term", keep=("doc_id",)))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = d.select(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


_KM_K, _KM_ITERS, _KM_DIM = 4, 2, 64


def _kmeans_ctes(
    k: int, iters: int, dim: int, source: str = "embeddings"
) -> tuple[list, str]:
    """Shared CTE prefix mirroring operators/clustering.kmeans_int (the
    same rounds unrolled in the same BIGINT micro-unit fixed point —
    exact integer distances, lexicographic (d, cid) argmin ties,
    truncating-division centroid means; bit-identical iterative state, the
    pagerank discipline).  Returns (ctes, integer-distance expression
    usable wherever columns ``v``/``c`` are in scope).  ``source`` names
    the (vec_id, embedding) relation to train on — a table or an
    earlier CTE (t1_semdedup trains on the augmented corpus)."""
    sq = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> (v[i]-c[i])*(v[i]-c[i])), (x, y) -> x + y)"
    )
    ctes = [
        "v AS (SELECT vec_id AS id, list_transform(embedding, "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v "
        f"FROM {source})",
        f"c0 AS (SELECT id AS cid, v AS c FROM v WHERE id < {k})",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"a{t} AS (SELECT id, v, "
            f"min(struct_pack(d := {sq}, c := cid)) AS mn "
            f"FROM v CROSS JOIN c{t - 1} GROUP BY id, v)"
        )
        ctes.append(
            f"c{t} AS (SELECT cid, list(cm ORDER BY i) AS c FROM "
            f"(SELECT struct_extract(mn, 'c') AS cid, i, "
            f"CAST(sum(v[i]) // count(*) AS BIGINT) AS cm "
            f"FROM a{t}, unnest(range(1, {dim + 1})) AS u(i) "
            f"GROUP BY 1, 2) GROUP BY cid)"
        )
    return ctes, sq


def _kmeans_sql(k: int, iters: int, dim: int) -> str:
    """Full k-means oracle: training CTEs + per-cluster report."""
    ctes, sq = _kmeans_ctes(k, iters, dim)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    af AS (SELECT id, min(struct_pack(d := {sq}, c := cid)) AS mn
           FROM v CROSS JOIN c{iters} GROUP BY id, v)
    SELECT struct_extract(mn, 'c') AS cluster,
           CAST(count(*) AS BIGINT) AS n,
           min(id) AS min_id, max(id) AS max_id,
           CAST(CAST(sum(struct_extract(mn, 'd')) AS DECIMAL(38,0))
                AS DOUBLE) AS inertia
    FROM af GROUP BY 1"""
    )


@register(
    "t1_kmeans_clusters", oracle=_kmeans_sql(_KM_K, _KM_ITERS, _KM_DIM)
)
def t1_kmeans_clusters(spark, sf_dir):
    """K-means over the embeddings (k=4, 2 training rounds, init = first
    k vectors) — the IVF-index training step (t1_ann_ivf_topk consumes
    centroids like these).  The whole iteration runs in BIGINT
    micro-units (exact distances, floor-mean centroids), so cluster
    assignments and inertia match the unrolled-CTE oracle exactly — an
    ITERATIVE ML algorithm under the exact-match gate, not a rows-only
    waiver.  See operators/clustering for the per-iteration shape
    (assignment = broadcast-K narrow map, update = K×dim aggregate;
    the corpus never shuffles)."""
    from ght2dm_spark.operators.clustering import kmeans_int

    e = load_table(spark, sf_dir, "embeddings")
    asg, _ = kmeans_int(e, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS)
    return asg.groupBy(F.col("cid").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.sum("d").cast("decimal(38,0)").cast("double").alias("inertia"),
    )


def _ivf_learned_sql(k: int, iters: int, dim: int, nq: int, nprobe: int) -> str:
    """Learned-IVF oracle: the k-means training CTEs, then corpus
    assignment to final centroids (inverted lists), query probing of the
    nprobe nearest lists (same integer distances), and exact cosine
    ranking within the probed lists."""
    from ght2dm_spark.operators.similarity import cosine_sql

    ctes, sq = _kmeans_ctes(k, iters, dim)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    af AS (SELECT id,
                  struct_extract(min(struct_pack(d := {sq}, c := cid)), 'c')
                    AS cid
           FROM v CROSS JOIN c{iters} GROUP BY id, v),
    qp AS (SELECT id AS q_id, cid FROM (
             SELECT v.id, c{iters}.cid,
                    row_number() OVER (PARTITION BY v.id
                                       ORDER BY {sq} ASC, cid ASC) AS rn
             FROM v CROSS JOIN c{iters} WHERE v.id < {nq}) t
           WHERE rn <= {nprobe}),
    scored AS (SELECT q.q_id, a.id AS c_id,
                      {cosine_sql("qe.embedding", "ce.embedding")} AS cos
               FROM qp q JOIN af a USING (cid)
               JOIN embeddings qe ON qe.vec_id = q.q_id
               JOIN embeddings ce ON ce.vec_id = a.id
               WHERE q.q_id <> a.id),
    dedup AS (SELECT q_id, c_id, min(cos) AS cos FROM scored GROUP BY 1, 2)
    SELECT q_id, c_id, round(cos, 6) AS cos, rank FROM (
        SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, c_id ASC) AS rank
        FROM dedup) r WHERE rank <= 3"""
    )


_IVF_NQ, _IVF_NPROBE = 10, 2


@register(
    "t1_ann_ivf_learned",
    oracle=_ivf_learned_sql(_KM_K, _KM_ITERS, _KM_DIM, _IVF_NQ, _IVF_NPROBE),
)
def t1_ann_ivf_learned(spark, sf_dir):
    """IVF search END-TO-END with TRAINED centroids: integer k-means
    (t1_kmeans_clusters) learns the coarse quantizer, the corpus is
    assigned to inverted lists at the final centroids, queries probe
    their nprobe=2 nearest lists (same exact integer distances as
    training), and candidates rank by exact cosine — the full
    train→index→search composition under one exact-match oracle, where
    t1_ann_ivf_topk uses fixed centroids to isolate the search plumbing.

    Scale: training never shuffles the corpus (broadcast-K rounds);
    list assignment rides the final training round; search = one equi
    join on list id, exactly the LSH-bucket shape.  Recall tunes via
    k/nprobe; everything downstream of training is identical plumbing
    for any quantizer."""
    from pyspark.sql import Window

    from ght2dm_spark.operators.clustering import (
        int_vec,
        kmeans_int,
        sqdist_int,
    )
    from ght2dm_spark.operators.similarity import cosine_hoisted, with_norm2

    e = load_table(spark, sf_dir, "embeddings")
    asg, cents = kmeans_int(
        e, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS
    )
    inv = asg.select("cid", F.col("id").alias("c_id"))

    vq = e.filter(F.col("vec_id") < _IVF_NQ).select(
        F.col("vec_id").alias("q_id"), int_vec(F.col("embedding")).alias("v")
    )
    wq = Window.partitionBy("q_id").orderBy("d", "cid")
    qp = (
        vq.crossJoin(F.broadcast(cents))
        .select(
            "q_id", "cid", sqdist_int(F.col("v"), F.col("c")).alias("d")
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("q_id", "cid")
    )
    # double-cast + squared norm hoisted per SIDE (once per row) so the
    # probed-list pair stream pays one fold per pair, not three + two
    # array casts — bit-identical cos doubles (operators/similarity
    # .cosine_hoisted; oracle unchanged)
    en = with_norm2(e, "embedding", "e")
    qe = en.select(
        F.col("vec_id").alias("q_id"),
        F.col("e_nd").alias("q_nd"), F.col("e_n2").alias("q_n2"),
    )
    ce = en.select(
        F.col("vec_id").alias("c_id"),
        F.col("e_nd").alias("c_nd"), F.col("e_n2").alias("c_n2"),
    )
    scored = (
        qp.join(inv, "cid")
        .filter(F.col("q_id") != F.col("c_id"))
        .join(F.broadcast(qe), "q_id")
        .join(ce, "c_id")
        .withColumn(
            "cos",
            cosine_hoisted(
                F.col("q_nd"), F.col("q_n2"), F.col("c_nd"), F.col("c_n2")
            ),
        )
        .groupBy("q_id", "c_id")
        .agg(F.min("cos").alias("cos"))
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", F.round("cos", 6).alias("cos"), "rank")
    )
