"""Deterministic distinct-count sketching: KMV (k-minimum-values,
Bar-Yossef et al. 2002) — the mergeable cardinality sketch whose state
is just the k smallest hash values of the set.

Why this exists next to ``t1_approx_aggs`` (HLL++): Spark's HLL sketch
is engine-specific, so that query is a rows-only check.  KMV built on
md5 is ENGINE-NEUTRAL — the sketch, the merge, and the estimate are
pure integer functions of the data, so an approximate-counting
algorithm runs under the exact-match oracle gate: the estimates
themselves (and the merge invariant) are verified bit-for-bit.

At 100 TB this is the shape that matters: per-partition / per-source
sketches of bounded size (k rows) roll up through ordinary top-k
merges — count-distinct over any slice without re-scanning, the
mergeability HLL is used for in production, demonstrated here with its
invariant (merged per-source sketches ≡ sketch of the union) as part
of the checked result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.neardup import hex2int_sql
from ght2dm_spark.operators.sketches import (
    HLL_EST_NUM,
    HLL_M,
    HLL_SUFFIX_BITS,
    cms_build,
    cms_point_query,
    hll_build,
    hll_estimate,
    hll_merge,
    kmv_estimate,
    kmv_hash,
    kmv_merge,
)
from ght2dm_spark.queries.registry import register

_KMV_K = 32
_KMV_DOMAIN = 2**32  # md5 first 8 hex chars → uniform in [0, 2^32)


def _kmv_sql() -> str:
    k, dom = _KMV_K, _KMV_DOMAIN
    h = hex2int_sql("md5('kmv:' || CAST(user_id AS VARCHAR))", 1)
    # A sketch holding fewer than k hashes has seen the WHOLE set — the
    # estimate is its exact size (the standard KMV small-set branch).
    est = f"CASE WHEN n < {k} THEN n ELSE ({k} - 1) * {dom} // hk END"
    return f"""
    WITH uh AS (SELECT DISTINCT event_type, user_id, {h} AS h FROM events),
    sk AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h)
                    AS rn
           FROM uh),
    per_type AS (
      SELECT s.event_type AS scope, {est} AS est_distinct, x.exact_distinct
      FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n, max(h) AS hk
            FROM sk WHERE rn <= {k} GROUP BY 1) s
      JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
            FROM uh GROUP BY 1) x ON s.event_type = x.event_type),
    gh AS (SELECT DISTINCT user_id, {h} AS h FROM events),
    exact_all AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM gh),
    direct AS (
      SELECT 'all_direct' AS scope, {est} AS est_distinct
      FROM (SELECT CAST(count(*) AS BIGINT) AS n, max(h) AS hk
            FROM (SELECT h FROM gh ORDER BY h LIMIT {k}))),
    merged AS (
      SELECT 'all_merged' AS scope, {est} AS est_distinct
      FROM (SELECT CAST(count(*) AS BIGINT) AS n, max(h) AS hk
            FROM (SELECT h FROM (SELECT DISTINCT h FROM sk WHERE rn <= {k})
                  ORDER BY h LIMIT {k}))),
    allrows AS (
      SELECT scope, est_distinct, exact_distinct FROM per_type
      UNION ALL
      SELECT d.scope, d.est_distinct, e.exact_distinct
      FROM direct d CROSS JOIN exact_all e
      UNION ALL
      SELECT m.scope, m.est_distinct, e.exact_distinct
      FROM merged m CROSS JOIN exact_all e)
    SELECT scope, est_distinct, exact_distinct,
           abs(est_distinct - exact_distinct) * 1000000 // exact_distinct
             AS err_ppm
    FROM allrows
    """


@register("t1_kmv_sketch", oracle=_kmv_sql())
def t1_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketches per event type (k=32 smallest md5
    hashes; estimate = (k−1)·2³²/h₍ₖ₎), the global sketch built two
    ways — directly, and by MERGING the five per-type sketches — and
    every estimate next to its exact count with an integer-ppm error.
    The merged and direct global rows are equal by the KMV merge
    theorem (k smallest of a union = k smallest of the combined
    sketches), and the oracle checks that equality as data.

    Plan: ONE scan of events builds the hashed distinct frame
    (event_type, user_id, h), pinned; md5 runs once per distinct
    (type, user) pair.  Everything else reads that frame: the per-type
    sketches (a window over it, NULL hashes dropped), the exact
    per-type counts (a NULL user counts as one distinct value, as in
    the oracle), the exact global count (distinct users), the direct
    global sketch (TakeOrdered over its hashes) and the merged one
    (TakeOrdered over the per-type sketch rows only).  Scale: the
    sketch state is k rows per scope regardless of input size, and the
    rollup never rescans the base.  Estimates are exact integer
    arithmetic on md5 hashes: deterministic across engines,
    partitioning, and merge order.
    (Estimation error at k=32 is ~18% 1σ — k is the accuracy dial;
    HLL++ at the same state size is tighter but engine-specific, see
    t1_approx_aggs.)"""
    ev = load_table(spark, sf_dir, "events")
    uh = pinned(
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn("h", kmv_hash(F.col("user_id")))
    )
    sk = kmv_merge(uh, ["event_type"], _KMV_K)
    exact_t = uh.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    per_type = (
        kmv_estimate(sk, ["event_type"], _KMV_K)
        .join(exact_t, "event_type")
        .select(
            F.col("event_type").alias("scope"), "est_distinct", "exact_distinct"
        )
    )
    exact_all = (
        uh.select("user_id").distinct().agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    direct = (
        kmv_estimate(kmv_merge(uh, [], _KMV_K), [], _KMV_K)
        .select(F.lit("all_direct").alias("scope"), "est_distinct")
        .crossJoin(F.broadcast(exact_all))
    )
    merged = (
        kmv_estimate(kmv_merge(sk, [], _KMV_K), [], _KMV_K)
        .select(F.lit("all_merged").alias("scope"), "est_distinct")
        .crossJoin(F.broadcast(exact_all))
    )
    allrows = per_type.unionByName(direct).unionByName(merged)
    return allrows.withColumn(
        "err_ppm",
        F.expr("abs(est_distinct - exact_distinct) * 1000000L div exact_distinct"),
    )


# --------------------------------------------------------------------------
# t1_hll_sketch — engine-portable HyperLogLog (Flajolet et al. 2007)


def _hll_sql() -> str:
    sb = HLL_SUFFIX_BITS  # 52: rho measured over 13 hex chars
    w = sb + 1
    bucket = hex2int_sql("h", 1, 2)
    sfx = hex2int_sql("h", 3, 13)
    est = (
        f"CAST(floor({HLL_EST_NUM!r} / CAST(s_present + "
        f"({HLL_M} - n) * {1 << w} AS DOUBLE)) AS BIGINT)"
    )
    agg = (
        f"CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum(1::BIGINT << ({w} - M)) AS BIGINT) AS s_present"
    )
    return f"""
    WITH hv AS (SELECT event_type, user_id,
                       md5('hll:' || CAST(user_id AS VARCHAR)) AS h
                FROM events),
    rr AS (SELECT event_type, {bucket} AS bucket,
                  CASE WHEN {sfx} = 0 THEN {w}
                       ELSE {w} - length(bin({sfx})) END AS M
           FROM hv),
    regs AS (SELECT event_type, bucket, max(M) AS M FROM rr GROUP BY 1, 2),
    gregs AS (SELECT bucket, max(M) AS M FROM regs GROUP BY 1),
    per_type AS (
      SELECT s.event_type AS scope, s.n AS n_buckets,
             CAST(s.s_present + ({HLL_M} - s.n) * {1 << w} AS BIGINT)
               AS sum_scaled,
             {est} AS est_distinct, x.exact_distinct
      FROM (SELECT event_type, {agg} FROM regs GROUP BY 1) s
      JOIN (SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY 1) x ON s.event_type = x.event_type),
    exact_all AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                    AS exact_distinct FROM events),
    direct AS (
      SELECT 'all_direct' AS scope, n AS n_buckets,
             CAST(s_present + ({HLL_M} - n) * {1 << w} AS BIGINT)
               AS sum_scaled,
             {est} AS est_distinct
      FROM (SELECT {agg}
            FROM (SELECT bucket, max(M) AS M FROM rr GROUP BY 1))),
    merged AS (
      SELECT 'all_merged' AS scope, n AS n_buckets,
             CAST(s_present + ({HLL_M} - n) * {1 << w} AS BIGINT)
               AS sum_scaled,
             {est} AS est_distinct
      FROM (SELECT {agg} FROM gregs)),
    allrows AS (
      SELECT scope, n_buckets, sum_scaled, est_distinct, exact_distinct
      FROM per_type
      UNION ALL
      SELECT d.scope, d.n_buckets, d.sum_scaled, d.est_distinct,
             e.exact_distinct
      FROM direct d CROSS JOIN exact_all e
      UNION ALL
      SELECT m.scope, m.n_buckets, m.sum_scaled, m.est_distinct,
             e.exact_distinct
      FROM merged m CROSS JOIN exact_all e)
    SELECT scope, n_buckets, sum_scaled, est_distinct, exact_distinct,
           abs(est_distinct - exact_distinct) * 1000000 // exact_distinct
             AS err_ppm
    FROM allrows
    """


@register("t1_hll_sketch", oracle=_hll_sql())
def t1_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct-user sketches per event type
    (p=8 → 256 integer registers; bucket = first 8 md5 bits, rho =
    leading-zero run of the next 52 via the integer-exact
    ``length(bin())`` trick), the global sketch built two ways —
    directly, and by max-MERGING the per-type register tables — with
    every estimate beside its exact count and an integer-ppm error.
    The merged and direct global rows are equal because HLL registers
    max-combine; the oracle checks that equality as data.  Unlike
    Spark's HLL++ (t1_approx_aggs, engine-opaque state ⇒ rows-only
    check), every value here — registers, scaled sums, even the
    ESTIMATES — verifies bit-for-bit against DuckDB: the only
    non-integer step is one IEEE division by a Python-prefolded double
    constant (IEEE ops are exactly specified; libm transcendentals are
    not, which is why the small-range linear-counting branch is left to
    consumers — n_buckets is emitted so they can apply it).

    Scale: register state is ≤256 rows per scope regardless of input —
    every branch (register build, exact counts, global rollup) derives
    from one shared distinct-(type, user) frame so events is scanned
    ONCE (registers are max-aggregates: building them from the distinct
    pairs yields identical state to building from raw events); merges
    and estimates touch register rows only, never the base data.  This is the sketch HLL
    is used for in production rollups (per-partition/per-source build,
    max-merge upward); KMV (t1_kmv_sketch) trades 4× state for
    integer-only estimates, CMS (t1_cms_sketch) covers frequencies,
    loghist (t1_loghist_quantiles) quantiles — one mergeable-sketch
    family, all under the exact-match gate."""
    ev = load_table(spark, sf_dir, "events")
    user = F.col("user_id")
    # Every branch derives from ONE shared distinct-(type, user) frame:
    # registers are max-aggregates, so building them from the distinct
    # pairs yields identical state to building from raw events, and the
    # exact counts are plain counts over the same frame — the physical
    # plan scans events once and reuses the single corpus-wide exchange
    # (ReusedExchange) instead of four independent scan+shuffle chains.
    # countDistinct's NULL-exclusion is preserved by the explicit
    # isNotNull filters (hll_build drops NULL-hash rows itself).
    pairs = ev.select("event_type", "user_id").distinct()
    gu = pairs.select("user_id").distinct()
    sk = hll_build(pairs, ["event_type"], user)
    exact_t = (
        pairs.filter(user.isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    per_type = (
        hll_estimate(sk, ["event_type"])
        .join(exact_t, "event_type")
        .select(
            F.col("event_type").alias("scope"),
            "n_buckets",
            "sum_scaled",
            "est_distinct",
            "exact_distinct",
        )
    )
    exact_all = gu.filter(user.isNotNull()).agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    direct = (
        hll_estimate(hll_build(gu, [], user), [])
        .select(F.lit("all_direct").alias("scope"), "n_buckets",
                "sum_scaled", "est_distinct")
        .crossJoin(F.broadcast(exact_all))
    )
    merged = (
        hll_estimate(hll_merge(sk, []), [])
        .select(F.lit("all_merged").alias("scope"), "n_buckets",
                "sum_scaled", "est_distinct")
        .crossJoin(F.broadcast(exact_all))
    )
    allrows = per_type.unionByName(direct).unionByName(merged)
    return allrows.withColumn(
        "err_ppm",
        F.expr("abs(est_distinct - exact_distinct) * 1000000L div exact_distinct"),
    )


# --------------------------------------------------------------------------
# t1_cms_sketch — Count-Min (Cormode & Muthukrishnan 2005)

_CMS_D = 3  # hash rows
_CMS_W = 16  # counters per row (deliberately tiny so collisions happen)
_CMS_TOPN = 10  # audit the exact top-N tokens against their estimates


def _cms_pos_sql(tok_expr: str, j: int) -> str:
    md5 = "md5('" + str(j) + ":' || " + tok_expr + ")"
    return f"({hex2int_sql(md5, 1)} % {_CMS_W})"


def _cms_sql() -> str:
    d, n = _CMS_D, _CMS_TOPN
    counter_sel = " UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_pos_sql('toks.tok', j)} AS pos, "
        f"CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 2"
        for j in range(1, d + 1)
    )
    cand_pos = " UNION ALL ".join(
        f"SELECT token, exact_cnt, {j} AS j, "
        f"{_cms_pos_sql('cand.token', j)} AS pos FROM cand"
        for j in range(1, d + 1)
    )
    return f"""
    WITH toks AS (
      SELECT t.tok FROM documents,
           unnest(string_split_regex(lower(text), '\\s+')) AS t(tok)
      WHERE regexp_full_match(t.tok, '[a-z]+')),
    counters AS ({counter_sel}),
    cand AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS exact_cnt
             FROM toks GROUP BY 1
             ORDER BY exact_cnt DESC, token ASC LIMIT {n}),
    cpos AS ({cand_pos}),
    est AS (SELECT token, exact_cnt, min(counters.c) AS cms_est
            FROM cpos JOIN counters
              ON cpos.j = counters.j AND cpos.pos = counters.pos
            GROUP BY 1, 2)
    SELECT token, exact_cnt, cms_est,
           (cms_est - exact_cnt) * 1000000 // exact_cnt AS overest_ppm
    FROM est
    """


@register("t1_cms_sketch", oracle=_cms_sql())
def t1_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min token-frequency sketch: d=3 md5 hash rows × w=16
    counters (deliberately tiny so collisions are visible), point
    queries for the exact top-10 tokens, each estimate next to its
    exact count with the overestimate in integer ppm.  CMS guarantees
    est ≥ exact (counters only ever add) — the semantic test asserts
    it for every token; the oracle checks the exact estimate values.

    Scale: the sketch is d×w counters regardless of input — built in
    one pass with map-side combine (d rows per token, 48 groups), and
    MERGEABLE by plain counter addition (linearity), so per-partition /
    per-source sketches roll up with a groupBy sum exactly like the
    KMV top-k merge.  Point queries join a broadcast candidate list
    against the broadcast counter table — no corpus rescan."""
    d = load_table(spark, sf_dir, "documents")
    toks = pinned(
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
    )

    counters = cms_build(toks, F.col("tok"), _CMS_D, _CMS_W)
    cand = (
        toks.groupBy(F.col("tok").alias("token"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(_CMS_TOPN)
    )
    est = cms_point_query(counters, cand, "token", _CMS_D, _CMS_W)
    return est.withColumn(
        "overest_ppm",
        F.expr("(cms_est - exact_cnt) * 1000000L div exact_cnt"),
    )


# --------------------------------------------------------------------------
# t1_loghist_quantiles — log₂-histogram quantile sketch

_LH_QS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


def _lh_sql() -> str:
    qvals = ", ".join(f"('{p}', {pn}, {pd})" for p, pn, pd in _LH_QS)
    exacts = " UNION ALL ".join(
        f"SELECT '{p}' AS p, quantile_cont(v, {pn}/{pd}.0) AS e FROM v"
        for p, pn, pd in _LH_QS
    )
    return f"""
    WITH v AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v
               FROM events),
    hist AS (SELECT length(bin(v)) AS b, CAST(count(*) AS BIGINT) AS c
             FROM v GROUP BY 1),
    cum AS (SELECT b, CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cum
            FROM hist),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    q AS (SELECT * FROM (VALUES {qvals}) AS t(p, pn, pd)),
    pick AS (SELECT q.p, min(cum.b) AS b
             FROM q CROSS JOIN n
             JOIN cum ON cum.cum >= (n.n * q.pn + q.pd - 1) // q.pd
             GROUP BY 1),
    ex AS ({exacts})
    SELECT pick.p,
           CAST((1 << pick.b) - 1 AS BIGINT) AS est_hi,
           round(ex.e, 4) AS exact_v,
           CAST((1 << pick.b) - 1 AS BIGINT) * 1000000
             // CAST(round(ex.e, 0) AS BIGINT) AS ratio_ppm
    FROM pick JOIN ex ON pick.p = ex.p
    """


@register("t1_loghist_quantiles", oracle=_lh_sql())
def t1_loghist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-histogram quantile sketch over event values (scaled to
    integer cents): ~16 power-of-two buckets via the integer-exact
    ``length(bin(v))`` trick (no floating log — a value near a bucket
    boundary buckets identically on every engine), cumulative counts
    pick the ceil(p·n) bucket, the estimate is the bucket's upper bound,
    and each row carries the EXACT interpolated percentile beside it
    with the overestimate ratio in ppm.  The ±2× bucket-width error bound
    is the sketch's contract — visible in ratio_ppm, not hidden.

    This completes the mergeable-sketch trio (KMV cardinality, CMS
    frequency, log-histogram quantiles): all three keep O(1)-size
    integer state, merge by plain addition / top-k, and run under the
    exact-match oracle because the state is a deterministic function of
    the data.  Scale: one map-side-combined pass builds the ≤16-row
    histogram; everything downstream (cumsum window, quantile pick) is
    sketch-sized.  The exact companion column is the only full-data
    aggregate (sort-based percentile, the t1_percentile_exact
    precedent) — a production rollup would drop it and keep only the
    sketch."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("v")
    )
    hist = v.groupBy(F.expr("length(bin(v))").alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(wb)).select("b", "cum")
    n = v.agg(F.count(F.lit(1)).alias("n"))
    q = spark.createDataFrame(list(_LH_QS), "p string, pn long, pd long")
    pick = (
        q.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(cum),
            F.col("cum") >= F.expr("(n * pn + pd - 1) div pd"),
        )
        .groupBy("p")
        .agg(F.min("b").alias("b"))
    )
    exact = v.agg(
        *[
            F.expr(f"percentile(v, {pn}/{pd})").alias(p)
            for p, pn, pd in _LH_QS
        ]
    ).select(
        F.expr(
            "stack("
            + str(len(_LH_QS))
            + ", "
            + ", ".join(f"'{p}', {p}" for p, _, _ in _LH_QS)
            + ") AS (p, e)"
        )
    )
    return (
        pick.join(F.broadcast(exact), "p")
        .select(
            "p",
            F.expr("CAST(shiftleft(1L, CAST(b AS INT)) - 1 AS BIGINT)").alias(
                "est_hi"
            ),
            F.round("e", 4).alias("exact_v"),
            F.expr(
                "(shiftleft(1L, CAST(b AS INT)) - 1) * 1000000L "
                "div CAST(round(e, 0) AS BIGINT)"
            ).alias("ratio_ppm"),
        )
    )
