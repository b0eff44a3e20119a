"""Similarity-search declared queries (SURVEY §2.9 / north_star
"similarity search") over the ``embeddings`` table: exact brute-force
cosine top-k (the baseline), sign-projection-LSH bucketed top-k (the scale
path), and embedding-cosine near-dup pairs.

All oracle-checked: the LSH hyperplanes are Python-side literals spliced
into both plans, and cosine folds are sequential in both engines, so even
the "approximate" operators produce bit-identical results (see
operators.similarity module doc).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.similarity import (
    srp_bucket_from,
    srp_projections,
    EMB_DIM,
    as_double,
    cosine_hoisted,
    cosine_sql,
    with_norm2,
    l2_dist,
    l2_sql,
    srp_bucket,
    srp_bucket_sql,
    srp_margins,
    srp_margins_sql,
    topk_neighbors,
)
from ght2dm_spark.functions.quantize import (
    Q_SQL,
    SCALE_SPARK,
    SCALE_SQL,
    spark_quant_exprs,
)
from ght2dm_spark.queries.registry import register

N_QUERIES = 10  # vec_id < 10 are the query vectors


@register(
    "t1_ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
    s AS (SELECT q_id, c_id, {cosine_sql("q_vec", "c_vec")} AS cos
          FROM c CROSS JOIN q WHERE q_id <> c_id),
    r AS (SELECT q_id, c_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id ASC) AS rank
          FROM s)
    SELECT q_id, c_id, round(cos, 6) AS cos, rank FROM r WHERE rank <= 5
    """,
)
def t1_ann_bruteforce_topk(spark, sf_dir):
    """Exact cosine top-5 neighbors for the first 10 vectors.  The query
    side broadcasts; the corpus never shuffles for the scoring join — at
    100 TB this is one corpus scan per query batch, the right baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = topk_neighbors(q, c, k=5)
    return out.select("q_id", "c_id", F.round("cos", 6).alias("cos"), "rank")


@register(
    "t1_ann_lsh_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec,
                      {srp_bucket_sql("embedding")} AS bucket
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec,
                 {srp_bucket_sql("embedding")} AS bucket
          FROM embeddings),
    s AS (SELECT q_id, c_id, {cosine_sql("q_vec", "c_vec")} AS cos
          FROM c JOIN q USING (bucket) WHERE q_id <> c_id),
    r AS (SELECT q_id, c_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id ASC) AS rank
          FROM s)
    SELECT q_id, c_id, round(cos, 6) AS cos, rank FROM r WHERE rank <= 3
    """,
)
def t1_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed top-3: candidates restricted to the query's
    sign-projection bucket (8 hyperplanes → 256 buckets), then exact
    cosine rank within.  ~256× less scoring work than brute force at the
    cost of recall — the standard ANN trade; bucketing is a narrow map,
    the candidate join is an equi join on the bucket code."""
    e = load_table(spark, sf_dir, "embeddings")
    withb = e.withColumn("bucket", srp_bucket(F.col("embedding")))
    q = withb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), "bucket"
    )
    c = withb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), "bucket"
    )
    out = topk_neighbors(q, c, k=3, pre_join=["bucket"])
    return out.select("q_id", "c_id", F.round("cos", 6).alias("cos"), "rank")


@register(
    "t1_ann_lsh_multiprobe",
    oracle=f"""
    WITH q0 AS (SELECT vec_id AS q_id, embedding AS q_vec,
                       {srp_bucket_sql("embedding")} AS bucket,
                       {srp_margins_sql("embedding")} AS margins
                FROM embeddings WHERE vec_id < {N_QUERIES}),
    q1 AS (SELECT q_id, q_vec, bucket,
                  list_position(margins, list_min(margins)) AS fidx
           FROM q0),
    q2 AS (SELECT q_id, q_vec, bucket,
                  substr(bucket, 1, fidx - 1)
                  || (CASE WHEN substr(bucket, fidx, 1) = '1'
                           THEN '0' ELSE '1' END)
                  || substr(bucket, fidx + 1, 8) AS probe2
           FROM q1),
    probes AS (SELECT q_id, q_vec, unnest([bucket, probe2]) AS bucket FROM q2),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec,
                 {srp_bucket_sql("embedding")} AS bucket
          FROM embeddings),
    s AS (SELECT q_id, c_id, {cosine_sql("q_vec", "c_vec")} AS cos
          FROM c JOIN probes USING (bucket) WHERE q_id <> c_id),
    r AS (SELECT q_id, c_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id ASC) AS rank
          FROM s)
    SELECT q_id, c_id, round(cos, 6) AS cos, rank FROM r WHERE rank <= 3
    """,
)
def t1_ann_lsh_multiprobe(spark, sf_dir):
    """Query-directed multi-probe LSH (Lv et al., VLDB'07): each query
    probes its own sign-projection bucket PLUS the bucket with its
    lowest-|margin| bit flipped — the bit most likely to have landed on
    the wrong side of its hyperplane.  Recall is a strict superset of
    single-bucket LSH at 2× the candidate work instead of 256× (brute
    force).  Scale shape: the corpus is bucketed ONCE (narrow map, no
    re-hash per probe); only the tiny query side fans out (explode to 2
    probe rows), then one equi join on the bucket code with the query
    side broadcast — the corpus never shuffles.  Both engines compute
    margins with the same left-to-right double fold, so the flipped bit
    (first-minimum tie-break via array_position/list_position) is
    identical and the "approximate" operator stays exactly
    oracle-checkable."""
    e = load_table(spark, sf_dir, "embeddings")
    withb = e.withColumn("bucket", srp_bucket(F.col("embedding")))
    # ONE projections array per query row; bucket and margins both derive
    # from it — separate srp_bucket + srp_margins calls would each embed
    # their own 8×64-literal expression tree (plan doubled for nothing)
    q1 = (
        withb.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("__projs", srp_projections(F.col("embedding")))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            srp_bucket_from(F.col("__projs")).alias("bucket"),
            F.transform("__projs", lambda x: F.abs(x)).alias("margins"),
        )
        .withColumn("fidx", F.expr("array_position(margins, array_min(margins))"))
    )
    q2 = q1.withColumn(
        "probe2",
        F.expr(
            "concat(substring(bucket, 1, cast(fidx - 1 as int)), "
            "if(substring(bucket, cast(fidx as int), 1) = '1', '0', '1'), "
            "substring(bucket, cast(fidx + 1 as int), 8))"
        ),
    )
    probes = q2.select(
        "q_id", "q_vec", F.explode(F.array("bucket", "probe2")).alias("bucket")
    )
    c = withb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), "bucket"
    )
    out = topk_neighbors(probes, c, k=3, pre_join=["bucket"])
    return out.select("q_id", "c_id", F.round("cos", 6).alias("cos"), "rank")


N_CENTROIDS = 16
N_PROBE = 2

_DIST_SQL = (
    "list_reduce(list_transform(range(1, {d} + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "   * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


@register(
    "t1_ann_ivf_topk",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS c_vec
                   FROM embeddings WHERE vec_id < {N_CENTROIDS}),
    assign AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_DIST_SQL.format(a="e.embedding", b="c.c_vec", d=EMB_DIM)} ASC,
                                c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) t WHERE rn = 1
    ),
    qprobe AS (
        SELECT vec_id AS q_id, embedding AS q_vec, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_DIST_SQL.format(a="e.embedding", b="c.c_vec", d=EMB_DIM)} ASC,
                                c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < {N_QUERIES}
        ) t WHERE rn <= {N_PROBE}
    ),
    scored AS (
        SELECT q.q_id, a.vec_id AS c_id,
               {cosine_sql("q.q_vec", "a.embedding")} AS cos
        FROM qprobe q JOIN assign a USING (cid)
        WHERE q.q_id <> a.vec_id
    ),
    dedup AS (SELECT q_id, c_id, min(cos) AS cos FROM scored GROUP BY 1, 2)
    SELECT q_id, c_id, round(cos, 6) AS cos, rank FROM (
        SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, c_id ASC) AS rank
        FROM dedup
    ) r WHERE rank <= 3
    """,
)
def t1_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN: corpus partitioned into inverted lists by nearest
    centroid (here: the first 16 vectors as fixed centroids — the
    training step lives in t1_kmeans_clusters / operators.clustering,
    and the plumbing is identical either way), queries probe their
    nprobe=2 nearest lists, exact cosine rank within.  Same bucket-join shape as the LSH variant — IVF swaps
    the hash for learned centroids.  Candidates reached through both
    probed lists dedup via min(cos) (cos is identical either way)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_vec")
    )

    def sq_dist(a, b):
        diff = F.zip_with(
            as_double(a), as_double(b), lambda x, y: (x - y) * (x - y)
        )
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    from pyspark.sql import Window

    scored_cent = e.crossJoin(F.broadcast(cents)).withColumn(
        "__d", sq_dist(F.col("embedding"), F.col("c_vec"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("__d").asc(), F.col("cid").asc())
    ranked = scored_cent.withColumn("rn", F.row_number().over(w))
    # per-side double cast + squared norm hoisted ABOVE the probed-list
    # pair join: one fold per pair instead of three + two array casts,
    # bit-identical cos (operators/similarity.cosine_hoisted)
    assign = with_norm2(
        ranked.filter(F.col("rn") == 1).select("vec_id", "embedding", "cid"),
        "embedding",
        "c",
    ).select("vec_id", "cid", "c_nd", "c_n2")
    qprobe = with_norm2(
        ranked.filter((F.col("vec_id") < N_QUERIES) & (F.col("rn") <= N_PROBE))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            "cid",
        ),
        "q_vec",
        "q",
    ).select("q_id", "cid", "q_nd", "q_n2")
    scored = (
        assign.join(F.broadcast(qprobe), "cid")
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn(
            "cos",
            cosine_hoisted(
                F.col("q_nd"), F.col("q_n2"), F.col("c_nd"), F.col("c_n2")
            ),
        )
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.min("cos").alias("cos"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wq).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", F.round("cos", 6).alias("cos"), "rank")
    )


_PERTURB_SQL = f"""
    aug AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(range(1, {EMB_DIM + 1}),
                   i -> CAST(CAST(embedding[i] AS DOUBLE)
                             * (1.0 + 0.05 * ((i % 5) - 2)) AS FLOAT)) AS embedding
        FROM embeddings WHERE vec_id % 10 = 0
    )
"""


@register(
    "t1_embedding_neardup",
    oracle=f"""
    WITH {_PERTURB_SQL},
    b AS (SELECT vec_id, embedding, {srp_bucket_sql("embedding")} AS bucket FROM aug),
    p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                 {cosine_sql("a.embedding", "b2.embedding")} AS cos
          FROM b a JOIN b b2 USING (bucket)
          WHERE a.vec_id < b2.vec_id)
    SELECT id_a, id_b, round(cos, 6) AS cos FROM p WHERE cos >= 0.9
    """,
)
def t1_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: corpus augmented with deterministic ±10%
    per-dim perturbed copies of every 10th vector, then LSH-bucketed
    pairing + cosine ≥ 0.9.  Random 64-dim vectors have cosine ≈ 0, so
    survivors are exactly the planted near-copies that stayed in-bucket."""
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
    # bucket + per-side norms computed once per ROW; the within-bucket
    # pair stream pays one fold per pair (bit-identical cos — see
    # operators/similarity.cosine_hoisted)
    withb = with_norm2(
        aug.withColumn("bucket", srp_bucket(F.col("embedding"))),
        "embedding",
        "e",
    )
    a = withb.select(
        F.col("vec_id").alias("id_a"),
        F.col("e_nd").alias("nd_a"), F.col("e_n2").alias("n2_a"), "bucket",
    )
    b = withb.select(
        F.col("vec_id").alias("id_b"),
        F.col("e_nd").alias("nd_b"), F.col("e_n2").alias("n2_b"), "bucket",
    )
    cos = cosine_hoisted(
        F.col("nd_a"), F.col("n2_a"), F.col("nd_b"), F.col("n2_b")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.9)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


LSH_N_BANDS = 6
LSH_BAND_BITS = 4


def _band_seed(b: int) -> str:
    return f"srp-band-{b}"


def _banded_oracle() -> str:
    bands_c = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"{srp_bucket_sql('embedding', LSH_BAND_BITS, seed=_band_seed(b))} AS code "
        f"FROM embeddings"
        for b in range(LSH_N_BANDS)
    )
    bands_q = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"{srp_bucket_sql('embedding', LSH_BAND_BITS, seed=_band_seed(b))} AS code "
        f"FROM embeddings WHERE vec_id < {N_QUERIES}"
        for b in range(LSH_N_BANDS)
    )
    return f"""
    WITH cb AS ({bands_c}),
    qb AS ({bands_q}),
    cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
             FROM qb q JOIN cb c USING (band, code)
             WHERE q.vec_id <> c.vec_id),
    s AS (SELECT cand.q_id, cand.c_id,
                 {cosine_sql("qe.embedding", "ce.embedding")} AS cos
          FROM cand
          JOIN embeddings qe ON qe.vec_id = cand.q_id
          JOIN embeddings ce ON ce.vec_id = cand.c_id),
    r AS (SELECT q_id, c_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, c_id ASC) AS rank
          FROM s)
    SELECT q_id, c_id, round(cos, 6) AS cos, rank FROM r WHERE rank <= 3
    """


@register("t1_ann_lsh_banded", oracle=_banded_oracle())
def t1_ann_lsh_banded(spark, sf_dir):
    """OR-composed banded SRP-LSH: 6 independent 4-bit sign codes per
    vector; a corpus vector is a candidate if it matches the query in ANY
    band (the MinHash banding construction applied to sign projections).
    This is the engineered answer to the measured single-bucket recall
    collapse (`t1_ann_recall` / SCALING.md): one 8-bit AND code gives
    recall ≈ 0 on weakly-similar neighbors, while OR-ing short bands
    trades candidate volume back for recall — the band count and width
    are the recall/cost dials.

    Scale shape: band codes are a narrow map (6 codes per vector, one
    pass); candidate generation is an equi join on (band, code) with the
    query side broadcast; candidate pairs dedup BEFORE any vector math,
    and only then join back to the two embedding tables for exact
    cosine — the expensive O(dim) scoring runs once per unique pair."""
    e = load_table(spark, sf_dir, "embeddings")
    code_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                srp_bucket(
                    F.col("embedding"), LSH_BAND_BITS, seed=_band_seed(b)
                ).alias("code"),
            )
            for b in range(LSH_N_BANDS)
        ]
    )
    banded = e.select("vec_id", F.explode(code_structs).alias("bc")).select(
        "vec_id", "bc.band", "bc.code"
    )
    qb = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "band", "code"
    )
    cand = (
        banded.join(F.broadcast(qb), ["band", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("c_id"))
        .distinct()
    )
    # per-side norms hoisted below the candidate join — one fold per
    # candidate pair, bit-identical cos (cosine_hoisted)
    en = with_norm2(e, "embedding", "e")
    qe = en.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("e_nd").alias("q_nd"), F.col("e_n2").alias("q_n2"),
    )
    ce = en.select(
        F.col("vec_id").alias("c_id"),
        F.col("e_nd").alias("c_nd"), F.col("e_n2").alias("c_n2"),
    )
    scored = (
        cand.join(ce, "c_id")
        .join(F.broadcast(qe), "q_id")
        .withColumn(
            "cos",
            cosine_hoisted(
                F.col("q_nd"), F.col("q_n2"), F.col("c_nd"), F.col("c_n2")
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", F.round("cos", 6).alias("cos"), "rank")
    )


@register(
    "t1_sq8_ann",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {SCALE_SQL} AS scale, embedding
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id, scale,
               list_transform(embedding, x -> {Q_SQL.replace("xd", "CAST(x AS DOUBLE)")}) AS qs
        FROM v
    ),
    s AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               (q.scale * c.scale) AS sc,
               CAST(coalesce(list_sum(list_transform(range(1, len(q.qs) + 1),
                    i -> q.qs[i] * c.qs[i])), 0) AS BIGINT) AS dot_int
        FROM qz q JOIN qz c
          ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    r AS (
        SELECT q_id, c_id, dot_int,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY sc * CAST(dot_int AS DOUBLE) DESC, c_id ASC)
                 AS rank
        FROM s
    )
    SELECT q_id, c_id, dot_int, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def t1_sq8_ann(spark, sf_dir):
    """SQ8 quantized similarity search (the FAISS scalar-quantizer path,
    completing the quantized-index triad beside PQ and IVFADC): the
    corpus is stored as per-vector absmax int8 codes (4× less memory
    bandwidth than float32 — at 100 TB the scan IS the cost, so
    compression is throughput) and queries scan it with an exact
    INTEGER dot product, ranked by scale_q·scale_c·dot.

    Exactness: the int8 codes and the integer dot are exact in both
    engines; the ranking score is one product of three deterministically
    identical values, and ties break by neighbor id — so the emitted
    (q_id, c_id, dot_int, rank) rows are all-integer and hash-stable.

    Scale: quantization is a narrow map; the scoring pass broadcasts the
    query batch over the corpus scan exactly like the brute-force
    baseline (deliberate — SQ8 *is* a compressed linear scan); per-query
    top-k via the rank window on the |Q|-keyed partition.  Recall vs the
    float-exact baseline is audited by t1_ann_recall ('sq8' rows)."""
    e = load_table(spark, sf_dir, "embeddings")
    exprs = spark_quant_exprs()
    qz = e.select(
        "vec_id",
        F.expr(SCALE_SPARK).alias("scale"),
        F.expr(exprs["qs"]).alias("qs"),
    )
    q = qz.select(
        F.col("vec_id").alias("q_id"),
        F.col("scale").alias("q_scale"),
        F.col("qs").alias("q_qs"),
    ).filter(F.col("q_id") < N_QUERIES)
    c = qz.select(
        F.col("vec_id").alias("c_id"),
        F.col("scale").alias("c_scale"),
        F.col("qs").alias("c_qs"),
    )
    s = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (F.col("q_scale") * F.col("c_scale")).alias("sc"),
            # coalesce mirrors the oracle: a NULL embedding (or DuckDB's
            # NULL list_sum on an empty product list) must read as a zero
            # dot product on BOTH engines, not NULL on one side
            F.expr(
                "coalesce(aggregate(zip_with(q_qs, c_qs, (a, b) -> a * b),"
                " 0L, (acc, x) -> acc + x), 0L)"
            ).alias("dot_int"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        (F.col("sc") * F.col("dot_int").cast("double")).desc(),
        F.col("c_id").asc(),
    )
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "q_id", "c_id", "dot_int", F.col("rank").cast("bigint").alias("rank")
        )
    )


def _recall_oracle() -> str:
    """Recall@3 oracle built by splicing the ALREADY-REGISTERED ANN oracle
    SQL in as derived tables — the oracle measures recall over byte-for-byte
    the same candidate definitions the per-method queries are checked
    against, so the two stay in lockstep by construction."""
    from ght2dm_spark.queries.registry import ORACLE

    bf = ORACLE["t1_ann_bruteforce_topk"]
    lsh = ORACLE["t1_ann_lsh_topk"]
    mp = ORACLE["t1_ann_lsh_multiprobe"]
    ivf = ORACLE["t1_ann_ivf_topk"]
    banded = ORACLE["t1_ann_lsh_banded"]
    pq = ORACLE["t1_pq_ann"]
    ivfadc = ORACLE["t1_ivfadc"]
    ivfadc_rr = ORACLE["t1_ivfadc_rerank"]
    sq8 = ORACLE["t1_sq8_ann"]
    return f"""
    WITH exact AS (SELECT q_id, c_id FROM ({bf}) t WHERE rank <= 3),
    exact_n AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY q_id),
    cand AS (
        SELECT 'lsh' AS method, q_id, c_id FROM ({lsh}) t
        UNION ALL
        SELECT 'multiprobe' AS method, q_id, c_id FROM ({mp}) t
        UNION ALL
        SELECT 'ivf' AS method, q_id, c_id FROM ({ivf}) t
        UNION ALL
        SELECT 'lsh_banded' AS method, q_id, c_id FROM ({banded}) t
        UNION ALL
        SELECT 'pq' AS method, q_id, neighbor_id AS c_id FROM ({pq}) t
        UNION ALL
        SELECT 'ivfadc' AS method, q_id, neighbor_id AS c_id FROM ({ivfadc}) t
        UNION ALL
        SELECT 'ivfadc_rerank' AS method, q_id, neighbor_id AS c_id
        FROM ({ivfadc_rr}) t
        UNION ALL
        SELECT 'sq8' AS method, q_id, c_id FROM ({sq8}) t
    ),
    hits AS (SELECT method, c.q_id, count(*) AS n_hits
             FROM cand c JOIN exact e USING (q_id, c_id)
             GROUP BY 1, 2),
    base AS (SELECT m.method, e.q_id, e.n_exact
             FROM exact_n e
             CROSS JOIN (SELECT unnest(['lsh', 'multiprobe', 'ivf', 'lsh_banded', 'pq', 'ivfadc', 'ivfadc_rerank', 'sq8']) AS method) m)
    SELECT b.method, b.q_id, coalesce(h.n_hits, 0) AS n_hits, b.n_exact,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / b.n_exact, 4) AS recall
    FROM base b LEFT JOIN hits h ON b.method = h.method AND b.q_id = h.q_id
    """


@register("t1_ann_recall", oracle=_recall_oracle())
def t1_ann_recall(spark, sf_dir):
    """ANN recall@3 self-audit (VERDICT r2 #4): per query and method, how
    many of the exact cosine top-3 the approximate candidate set recovered.
    Reuses the registered query callables themselves, so the audit measures
    the production operators, not a re-derivation; the oracle splices the
    same methods' oracle SQL (see :func:`_recall_oracle`).

    Scale: each branch keeps its own scale shape (corpus never shuffles);
    the recall join itself is tiny (Q×k rows).  Queries a method misses
    entirely still appear, at recall 0, via the left join from the exact
    base — silent no-candidate buckets would otherwise inflate recall."""
    from ght2dm_spark.queries.registry import QUERIES

    exact = (
        QUERIES["t1_ann_bruteforce_topk"](spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id")
    )
    exact_n = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    parts = []
    for method in (
        "lsh", "multiprobe", "ivf", "lsh_banded", "pq", "ivfadc",
        "ivfadc_rerank", "sq8",
    ):
        qname = {
            "lsh": "t1_ann_lsh_topk",
            "multiprobe": "t1_ann_lsh_multiprobe",
            "ivf": "t1_ann_ivf_topk",
            "lsh_banded": "t1_ann_lsh_banded",
            "pq": "t1_pq_ann",
            "ivfadc": "t1_ivfadc",
            "ivfadc_rerank": "t1_ivfadc_rerank",
            "sq8": "t1_sq8_ann",
        }[method]
        cand = QUERIES[qname](spark, sf_dir)
        if method in ("pq", "ivfadc", "ivfadc_rerank"):
            cand = cand.select("q_id", F.col("neighbor_id").alias("c_id"))
        else:
            cand = cand.select("q_id", "c_id")
        hits = (
            cand.join(exact, ["q_id", "c_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        parts.append(
            exact_n.join(hits, "q_id", "left").select(
                F.lit(method).alias("method"),
                "q_id",
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                "n_exact",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "recall",
        F.round(F.col("n_hits").cast("double") / F.col("n_exact"), 4),
    )


@register(
    "t1_ann_euclidean_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
    s AS (SELECT q_id, c_id, {l2_sql("q_vec", "c_vec")} AS dist
          FROM c CROSS JOIN q WHERE q_id <> c_id),
    r AS (SELECT q_id, c_id, dist,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY dist ASC, c_id ASC) AS rank
          FROM s)
    SELECT q_id, c_id, round(dist, 6) AS dist, rank FROM r WHERE rank <= 5
    """,
)
def t1_ann_euclidean_topk(spark, sf_dir):
    """Exact EUCLIDEAN top-5 neighbors (the L2 companion to the cosine
    baseline — SURVEY §2.9 names both metrics): same broadcast-queries /
    corpus-never-shuffles plan, distance folded left-to-right so both
    engines produce bit-identical doubles, ties broken by neighbor id."""
    e = load_table(spark, sf_dir, "embeddings")
    # double casts hoisted per SIDE: the corpus row's cast runs once
    # instead of once per query pairing (and the broadcast query side's
    # once instead of once per corpus row); the l2 fold itself stays
    # per-pair on the SAME doubles — bit-identical dist
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("q_nd"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        as_double(F.col("embedding")).alias("c_nd"),
    )
    d = l2_dist(F.col("q_nd"), F.col("c_nd"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("c_id").asc())
    out = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", d.alias("dist"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )
    return out.select("q_id", "c_id", F.round("dist", 6).alias("dist"), "rank")


_KNN_NQ = 20  # vec_id < 20 are the "unlabeled" queries
_KNN_COS_SQL = cosine_sql("q_vec", "c_vec")
_KNN_K = 5


@register(
    "t1_knn_classify",
    oracle=f"""
    WITH lab AS (SELECT doc_id, lang FROM documents),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
          WHERE vec_id < {_KNN_NQ}),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
          WHERE vec_id >= {_KNN_NQ}),
    nn AS (SELECT q_id, c_id FROM (
             SELECT q_id, c_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY {{cos}} DESC, c_id ASC) AS rnk
             FROM c CROSS JOIN q) x
           WHERE rnk <= {_KNN_K}),
    votes AS (SELECT nn.q_id, l.lang, count(*) AS n
              FROM nn JOIN lab l ON l.doc_id = nn.c_id
              GROUP BY 1, 2),
    pred AS (SELECT q_id, lang AS predicted FROM (
               SELECT q_id, lang,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY n DESC, lang ASC) AS rn
               FROM votes) v WHERE rn = 1)
    SELECT p.q_id, p.predicted, t.lang AS actual,
           CAST(p.predicted = t.lang AS BOOLEAN) AS correct
    FROM pred p JOIN lab t ON t.doc_id = p.q_id
    """.format(cos=_KNN_COS_SQL),
)
def t1_knn_classify(spark, sf_dir):
    """k-NN label prediction in the embedding space (the classic
    no-training vector classifier): the first 20 docs play "unlabeled"
    queries; each is assigned the majority language among its 5 nearest
    labeled neighbors (cosine; vote ties break lexicographically) and
    compared to its true label — the evaluation every embedding-quality
    audit runs ("do my vectors cluster by the property I care about?").
    doc_id ≡ vec_id alignment joins the label table to the corpus.

    Scale: one broadcast-query corpus scan for the neighbor lists (the
    brute-force baseline's shape — swap in IVF/PQ at scale), then
    votes/argmax on |queries|·k rows.  The plan-lint note: the cross
    join is the allowlisted bounded-broadcast baseline."""
    from pyspark.sql import Window

    from ght2dm_spark.operators.similarity import topk_neighbors

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.filter(F.col("vec_id") >= _KNN_NQ).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    nn = topk_neighbors(q, c, k=_KNN_K).select("q_id", "c_id")
    votes = (
        nn.join(
            F.broadcast(d.withColumnRenamed("doc_id", "c_id")), "c_id"
        )
        .groupBy("q_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wv = Window.partitionBy("q_id").orderBy(F.col("n").desc(), F.col("lang"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("lang").alias("predicted"))
    )
    truth = d.select(
        F.col("doc_id").alias("q_id"), F.col("lang").alias("actual")
    )
    return pred.join(F.broadcast(truth), "q_id").select(
        "q_id",
        "predicted",
        "actual",
        (F.col("predicted") == F.col("actual")).alias("correct"),
    )


@register(
    "t1_knn_confusion",
    oracle=f"""
    WITH lab AS (SELECT doc_id, lang FROM documents),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
          WHERE vec_id < {_KNN_NQ}),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
          WHERE vec_id >= {_KNN_NQ}),
    nn AS (SELECT q_id, c_id FROM (
             SELECT q_id, c_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY {{cos}} DESC, c_id ASC) AS rnk
             FROM c CROSS JOIN q) x
           WHERE rnk <= {_KNN_K}),
    votes AS (SELECT nn.q_id, l.lang, count(*) AS n
              FROM nn JOIN lab l ON l.doc_id = nn.c_id
              GROUP BY 1, 2),
    pred AS (SELECT q_id, lang AS predicted FROM (
               SELECT q_id, lang,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY n DESC, lang ASC) AS rn
               FROM votes) v WHERE rn = 1),
    pairs AS (SELECT t.lang AS actual, p.predicted, count(*) AS n
              FROM pred p JOIN lab t ON t.doc_id = p.q_id
              GROUP BY 1, 2),
    tp AS (SELECT actual AS cls, n AS n_tp FROM pairs
           WHERE actual = predicted),
    act AS (SELECT actual AS cls, sum(n) AS n_actual FROM pairs GROUP BY 1),
    prd AS (SELECT predicted AS cls, sum(n) AS n_predicted FROM pairs
            GROUP BY 1)
    SELECT a.cls,
           CAST(a.n_actual AS BIGINT) AS n_actual,
           CAST(coalesce(p.n_predicted, 0) AS BIGINT) AS n_predicted,
           CAST(coalesce(t.n_tp, 0) AS BIGINT) AS n_tp,
           CAST(coalesce(t.n_tp, 0) * 1000000
                // greatest(coalesce(p.n_predicted, 0), 1) AS BIGINT)
             AS precision_ppm,
           CAST(coalesce(t.n_tp, 0) * 1000000 // a.n_actual AS BIGINT)
             AS recall_ppm
    FROM act a
    LEFT JOIN prd p ON p.cls = a.cls
    LEFT JOIN tp t ON t.cls = a.cls
    """.format(cos=_KNN_COS_SQL),
)
def t1_knn_confusion(spark, sf_dir):
    """Per-class evaluation of the k-NN classifier (t1_knn_classify's
    companion): actual/predicted counts, true positives, and integer-ppm
    precision/recall per language — the confusion-matrix rollup every
    classification audit reports.  All counts exact BIGINT; ratios are
    truncating integer ppm (div-by-zero guarded with greatest(·,1) —
    a class never predicted has precision 0, identically in both
    engines).

    Scale: everything past the neighbor lists is |classes|-sized."""
    from pyspark.sql import Window

    from ght2dm_spark.operators.similarity import topk_neighbors

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.filter(F.col("vec_id") >= _KNN_NQ).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    nn = topk_neighbors(q, c, k=_KNN_K).select("q_id", "c_id")
    votes = (
        nn.join(F.broadcast(d.withColumnRenamed("doc_id", "c_id")), "c_id")
        .groupBy("q_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wv = Window.partitionBy("q_id").orderBy(F.col("n").desc(), F.col("lang"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("lang").alias("predicted"))
    )
    pairs = pinned(
        pred.join(
            F.broadcast(
                d.select(
                    F.col("doc_id").alias("q_id"), F.col("lang").alias("actual")
                )
            ),
            "q_id",
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tp = pairs.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("cls"), F.col("n").alias("n_tp")
    )
    act = pairs.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("n").alias("n_actual")
    )
    prd = pairs.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("n").alias("n_predicted")
    )
    return (
        act.join(prd, "cls", "left")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.col("n_actual").cast("bigint").alias("n_actual"),
            F.coalesce("n_predicted", F.lit(0))
            .cast("bigint")
            .alias("n_predicted"),
            F.coalesce("n_tp", F.lit(0)).cast("bigint").alias("n_tp"),
            F.expr(
                "coalesce(n_tp, 0) * 1000000"
                " div greatest(coalesce(n_predicted, 0), 1)"
            )
            .cast("bigint")
            .alias("precision_ppm"),
            F.expr("coalesce(n_tp, 0) * 1000000 div n_actual")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


@register(
    "t1_embedding_drift",
    oracle=f"""
    WITH v AS (SELECT vec_id,
                      CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
                      list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0)
                                  AS BIGINT)) AS iv
               FROM embeddings),
    dims AS (SELECT half, i, sum(iv[i]) AS s, count(*) AS n
             FROM v, unnest(range(1, {EMB_DIM} + 1)) AS t(i)
             GROUP BY 1, 2),
    cent AS (SELECT half, i, s // n AS c FROM dims),
    wide AS (SELECT a.i, a.c AS ca, b.c AS cb
             FROM (SELECT i, c FROM cent WHERE half = 'a') a
             JOIN (SELECT i, c FROM cent WHERE half = 'b') b USING (i))
    SELECT CAST(sum((ca - cb) * (ca - cb)) AS BIGINT) AS sq_l2_micro2,
           CAST(sum(ca * cb) AS BIGINT) AS dot_micro2,
           CAST(sum(ca * ca) AS BIGINT) AS norm_a_micro2,
           CAST(sum(cb * cb) AS BIGINT) AS norm_b_micro2
    FROM wide
    """,
)
def t1_embedding_drift(spark, sf_dir):
    """Embedding-distribution drift monitor: split the corpus into two
    cohorts (doc parity stands in for before/after a re-embedding or a
    new crawl), compute each cohort's integer centroid, and report the
    exact squared L2 distance and the dot/norm components of the
    centroid cosine — the cheap first-line check that the embedding
    space did (or did not) move under a model/corpus change.  All
    micro-unit BIGINT; callers derive cosine = dot/√(na·nb) from the
    exact components (house discipline: ship exact integers, let the
    consumer pick float precision).

    Scale: one posexplode aggregation per cohort (dim-keyed, map-side
    combined — embedding_centroid's shape), then dim-sized frames."""
    from ght2dm_spark.operators.clustering import int_vec

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b").alias("half"),
        int_vec(F.col("embedding")).alias("iv"),
    )
    dims = (
        v.select("half", F.posexplode("iv").alias("i0", "x"))
        .groupBy("half", (F.col("i0") + 1).alias("i"))
        .agg(F.expr("sum(x) div count(1)").alias("c"))
    )
    a = dims.filter(F.col("half") == "a").select("i", F.col("c").alias("ca"))
    b = dims.filter(F.col("half") == "b").select("i", F.col("c").alias("cb"))
    wide = a.join(b, "i")
    return wide.agg(
        F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
        .cast("bigint")
        .alias("sq_l2_micro2"),
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot_micro2"),
        F.sum(F.col("ca") * F.col("ca")).cast("bigint").alias("norm_a_micro2"),
        F.sum(F.col("cb") * F.col("cb")).cast("bigint").alias("norm_b_micro2"),
    )
