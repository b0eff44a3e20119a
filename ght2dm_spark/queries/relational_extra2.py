"""Round-9 relational / time-series declared queries: customer decile
transitions, daily-count correlation between event types, in-brand
price position, order-gap percentiles, monthly MAD, user activity
spans, brand basket lift, revenue-concentration HHI, and a
day-of-week × hour traffic heatmap — the analytics shapes that round
out the window / cohort / distribution family.

Exactness discipline (the registry docstring's rules, applied):
money is exact integer CENTS before any aggregation; percentiles are
POSITION-based over a fully deterministic order (value, then unique
key) so both engines pick the same row; every double output is a
fixed IEEE chain over exact integers, rounded, and normalized with
``+ 0`` so a zero can only hash as +0.0 (the r8 signed-zero class).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.queries.registry import register

_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


# --------------------------------------------------------------------------
# t1_customer_decile_shift


@register(
    "t1_customer_decile_shift",
    oracle=f"""
    WITH r AS (SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
                      CAST(sum({_CENTS}) AS BIGINT) AS rev_cents
               FROM orders
               WHERE year(o_orderdate) IN (1996, 1997)
               GROUP BY o_custkey, yr),
    d AS (SELECT o_custkey, yr,
                 CAST(ntile(10) OVER (PARTITION BY yr
                                      ORDER BY rev_cents DESC, o_custkey ASC)
                      AS BIGINT) AS decile
          FROM r)
    SELECT a.decile AS decile_1996, b.decile AS decile_1997,
           CAST(count(*) AS BIGINT) AS n_cust
    FROM d a JOIN d b ON a.o_custkey = b.o_custkey
    WHERE a.yr = 1996 AND b.yr = 1997
    GROUP BY decile_1996, decile_1997
    """,
)
def t1_customer_decile_shift(spark, sf_dir):
    """Customer revenue-decile transition matrix 1996 → 1997: how many
    customers moved from spend decile i to decile j — the
    churn-vs-upgrade view a flat retention rate hides (mass above the
    diagonal = upgrades, below = decay), and the standard label source
    for next-year-value models.  Deciles are ntile(10) over an exactly
    deterministic order (exact cents desc, then custkey).

    Scale: one year-filtered customer-grain aggregate, two 10-bucket
    window passes over |customers| rows, then a self-join on the
    customer key both sides already shuffle on; output ≤ 100 rows."""
    o = load_table(spark, sf_dir, "orders")
    r = (
        o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("bigint").alias("yr")
        )
        .agg(
            F.sum(F.expr(_CENTS)).cast("bigint").alias("rev_cents")
        )
    )
    w = Window.partitionBy("yr").orderBy(
        F.col("rev_cents").desc(), F.col("o_custkey").asc()
    )
    d = r.select(
        "o_custkey", "yr", F.ntile(10).over(w).cast("bigint").alias("decile")
    )
    a = d.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("decile").alias("decile_1996")
    )
    b = d.filter(F.col("yr") == 1997).select(
        "o_custkey", F.col("decile").alias("decile_1997")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy("decile_1996", "decile_1997")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    )


# --------------------------------------------------------------------------
# t1_rolling_corr


@register(
    "t1_rolling_corr",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT day, event_type FROM days CROSS JOIN types),
    c AS (SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY day, event_type),
    g AS (SELECT grid.day, grid.event_type,
                 CAST(coalesce(c.n, 0) AS BIGINT) AS n
          FROM grid LEFT JOIN c
            ON grid.day = c.day AND grid.event_type = c.event_type),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(count(*) AS BIGINT) AS nd,
                 CAST(sum(a.n) AS BIGINT) AS sa,
                 CAST(sum(b.n) AS BIGINT) AS sb,
                 CAST(sum(a.n * b.n) AS BIGINT) AS sab,
                 CAST(sum(a.n * a.n) AS BIGINT) AS sa2,
                 CAST(sum(b.n * b.n) AS BIGINT) AS sb2
          FROM g a JOIN g b
            ON a.day = b.day AND a.event_type < b.event_type
          GROUP BY type_a, type_b)
    SELECT type_a, type_b, nd,
           round((nd * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb)
                 / (sqrt(nd * CAST(sa2 AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
                    * sqrt(nd * CAST(sb2 AS DOUBLE)
                           - CAST(sb AS DOUBLE) * sb)), 6) + 0 AS corr
    FROM p
    """,
)
def t1_rolling_corr(spark, sf_dir):
    """Pearson correlation of DAILY arrival counts between every pair
    of event types over a dense day grid (absent days count as zero —
    an inner join would silently condition on co-activity and bias the
    estimate toward 1).  The co-movement matrix capacity planning and
    anomaly attribution read: error spiking WITH traffic is load,
    error spiking alone is a regression.

    Exactness: the grid is exact (distinct days × distinct types, both
    tiny), all five moment sums are BIGINT over integer daily counts,
    and corr is one fixed IEEE chain, rounded and +0-normalized (a
    zero correlation must hash +0.0 on both engines).  Scale: the only
    per-event work is the day-grain aggregate (map-side combined); the
    grid, the pair join, and the moments all run on |days|·|types|
    rows."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.col("ts").cast("date").alias("day")).distinct()
    types = e.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    c = e.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    g = grid.join(c, ["day", "event_type"], "left").select(
        "day", "event_type",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
    a = g.select("day", F.col("event_type").alias("type_a"),
                 F.col("n").alias("na"))
    b = g.select("day", F.col("event_type").alias("type_b"),
                 F.col("n").alias("nb"))
    p = (
        a.join(b, "day")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nd"),
            F.sum("na").cast("bigint").alias("sa"),
            F.sum("nb").cast("bigint").alias("sb"),
            F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("sab"),
            F.sum(F.col("na") * F.col("na")).cast("bigint").alias("sa2"),
            F.sum(F.col("nb") * F.col("nb")).cast("bigint").alias("sb2"),
        )
    )
    nd = F.col("nd")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    num = nd * F.col("sab").cast("double") - sa * F.col("sb")
    den = F.sqrt(nd * F.col("sa2").cast("double") - sa * F.col("sa")) * F.sqrt(
        nd * F.col("sb2").cast("double") - sb * F.col("sb")
    )
    return p.select(
        "type_a", "type_b", "nd",
        (F.round(num / den, 6) + F.lit(0.0)).alias("corr"),
    )


# --------------------------------------------------------------------------
# t1_cume_dist_price


@register(
    "t1_cume_dist_price",
    oracle="""
    WITH p AS (SELECT p_partkey, p_brand,
                      CAST(round(p_retailprice * 100, 0) AS BIGINT)
                        AS price_cents
               FROM part)
    SELECT p_partkey, p_brand, price_cents,
           round(cume_dist() OVER (PARTITION BY p_brand
                                   ORDER BY price_cents), 6) + 0 AS cd,
           round(percent_rank() OVER (PARTITION BY p_brand
                                      ORDER BY price_cents), 6) + 0 AS pr
    FROM p
    """,
)
def t1_cume_dist_price(spark, sf_dir):
    """Within-brand price position of every part: cume_dist and
    percent_rank over exact cents — the price-band feature pricing
    models use ("is this the brand's premium SKU?") and the
    distributional complement of t1_window_ranking's ordinal ranks.
    Ties share a position under both functions' standard tie-aware
    definitions, so ordering by the exact cents alone is
    deterministic.

    Scale: one window pass partitioned by brand (bounded partitions)
    over a 3-column projection of the part dimension."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand",
        F.expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)")
        .alias("price_cents"),
    )
    w = Window.partitionBy("p_brand").orderBy("price_cents")
    return p.select(
        "p_partkey", "p_brand", "price_cents",
        (F.round(F.cume_dist().over(w), 6) + F.lit(0.0)).alias("cd"),
        (F.round(F.percent_rank().over(w), 6) + F.lit(0.0)).alias("pr"),
    )


# --------------------------------------------------------------------------
# t1_order_gap_percentiles


@register(
    "t1_order_gap_percentiles",
    oracle="""
    WITH o AS (SELECT c.c_mktsegment AS segment, o.o_custkey, o.o_orderkey,
                      CAST(o.o_orderdate AS DATE) AS od
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT segment, o_custkey, o_orderkey,
                 date_diff('day',
                           lag(od) OVER (PARTITION BY o_custkey
                                         ORDER BY od, o_orderkey),
                           od) AS gap_days
          FROM o),
    gg AS (SELECT segment, o_custkey, o_orderkey,
                  CAST(gap_days AS BIGINT) AS gap_days
           FROM g WHERE gap_days IS NOT NULL),
    r AS (SELECT segment, gap_days,
                 row_number() OVER (PARTITION BY segment
                                    ORDER BY gap_days, o_custkey, o_orderkey)
                   AS i,
                 count(*) OVER (PARTITION BY segment) AS n
          FROM gg)
    SELECT segment, CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(CASE WHEN i = (n + 1) // 2 THEN gap_days END)
                AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN i = (9 * n + 9) // 10 THEN gap_days END)
                AS BIGINT) AS p90_days,
           CAST(max(gap_days) AS BIGINT) AS max_days
    FROM r GROUP BY segment
    """,
)
def t1_order_gap_percentiles(spark, sf_dir):
    """Inter-order gap percentiles per market segment: per-customer
    consecutive-order gaps in whole days, then position-based p50/p90
    — the reorder-cadence profile that sets replenishment-campaign
    timing and the churn-label horizon (a customer 3× past their
    segment's p90 gap is the standard at-risk definition).

    Exactness: gaps are integer day differences; the percentiles are
    the values at positions ⌊(n+1)/2⌋ and ⌈9n/10⌉ of a fully
    deterministic order (gap, custkey, orderkey), so both engines pick
    the same physical row — never an interpolating percentile over
    doubles.  Scale: one per-customer lag window, one per-segment rank
    window, one 5-row rollup (the window constant is the documented
    sub-second fixed-cost class)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
        )
    )
    wl = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    g = o.select(
        "segment", "o_custkey", "o_orderkey",
        F.datediff(F.col("od"), F.lag("od").over(wl)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull()).select(
        "segment", "o_custkey", "o_orderkey",
        F.col("gap_days").cast("bigint").alias("gap_days"),
    )
    wr = Window.partitionBy("segment").orderBy(
        "gap_days", "o_custkey", "o_orderkey"
    )
    wn = Window.partitionBy("segment")
    r = g.select(
        "segment", "gap_days",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.max(
            F.when(
                F.col("i") == F.floor((F.col("n") + 1) / 2),
                F.col("gap_days"),
            )
        ).cast("bigint").alias("p50_days"),
        F.max(
            F.when(
                F.col("i") == F.floor((9 * F.col("n") + 9) / 10),
                F.col("gap_days"),
            )
        ).cast("bigint").alias("p90_days"),
        F.max("gap_days").cast("bigint").alias("max_days"),
    )


# --------------------------------------------------------------------------
# t1_monthly_mad


@register(
    "t1_monthly_mad",
    oracle=f"""
    WITH o AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                           AS BIGINT) AS mon,
                      o_orderkey, {_CENTS} AS cents
               FROM orders),
    r AS (SELECT mon, o_orderkey, cents,
                 row_number() OVER (PARTITION BY mon
                                    ORDER BY cents, o_orderkey) AS i,
                 count(*) OVER (PARTITION BY mon) AS n
          FROM o),
    med AS (SELECT mon, CAST(max(n) AS BIGINT) AS n,
                   CAST(max(CASE WHEN i = (n + 1) // 2 THEN cents END)
                        AS BIGINT) AS med_cents
            FROM r GROUP BY mon),
    dev AS (SELECT o.mon, o.o_orderkey, med.n, med.med_cents,
                   abs(o.cents - med.med_cents) AS ad
            FROM o JOIN med ON o.mon = med.mon),
    rd AS (SELECT mon, n, med_cents, ad,
                  row_number() OVER (PARTITION BY mon
                                     ORDER BY ad, o_orderkey) AS i
           FROM dev)
    SELECT mon, CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(med_cents) AS BIGINT) AS med_cents,
           CAST(max(CASE WHEN i = (n + 1) // 2 THEN ad END) AS BIGINT)
             AS mad_cents
    FROM rd GROUP BY mon
    """,
)
def t1_monthly_mad(spark, sf_dir):
    """Monthly median and median-absolute-deviation of order value in
    exact cents — the robust center/spread pair that survives the
    heavy right tail where mean ± stdev drowns (the monthly companion
    to t1_mad_outliers' global cut).  Both medians are position-based
    over deterministic orders (value then orderkey), never
    interpolated.

    Scale: two window passes partitioned by month and NOTHING else —
    the per-month median is lifted back onto the rows by a max-of-case
    over the same unordered month window (no groupBy + broadcast-back
    join, no third scan; A/B at sf0.1: 0.75 s → 0.52 s); all
    arithmetic integer."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint").alias("mon"),
        "o_orderkey",
        F.expr(_CENTS).alias("cents"),
    )
    wr = Window.partitionBy("mon").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("mon")
    r = o.select(
        "mon", "o_orderkey", "cents",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn(
        "med",
        F.max(
            F.when(F.col("i") == F.floor((F.col("n") + 1) / 2),
                   F.col("cents"))
        ).over(wn),
    )
    dev = r.select(
        "mon", "o_orderkey", "n", "med",
        F.abs(F.col("cents") - F.col("med")).alias("ad"),
    )
    wd = Window.partitionBy("mon").orderBy("ad", "o_orderkey")
    rd = dev.select(
        "mon", "n", "med", "ad", F.row_number().over(wd).alias("i")
    )
    return rd.groupBy("mon").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max("med").cast("bigint").alias("med_cents"),
        F.max(
            F.when(F.col("i") == F.floor((F.col("n") + 1) / 2), F.col("ad"))
        ).cast("bigint").alias("mad_cents"),
    )


# --------------------------------------------------------------------------
# t1_user_span_stats


@register(
    "t1_user_span_stats",
    oracle="""
    WITH u AS (SELECT user_id,
                      CAST(count(*) AS BIGINT) AS n_events,
                      date_diff('day', CAST(min(ts) AS DATE),
                                CAST(max(ts) AS DATE)) AS span_days
               FROM events GROUP BY user_id)
    SELECT CAST(least(span_days // 7, 4) AS BIGINT) AS span_weeks,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS tot_events,
           CAST(max(span_days) AS BIGINT) AS max_span_days
    FROM u GROUP BY span_weeks
    """,
)
def t1_user_span_stats(spark, sf_dir):
    """User lifetime-span histogram: days between a user's first and
    last event, bucketed into weeks (capped at 4+) — the stickiness
    shape (all mass at week 0 = drive-by traffic) that complements
    t1_retention_curve's day-offset view with a per-user census.

    Exactness: spans are integer day differences of calendar-date
    casts; bucketing is integer division.  Scale: one user-grain
    min/max/count aggregate (map-side combined), one 5-row rollup."""
    u = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("span_days"),
    )
    bucket = F.least(F.floor(F.col("span_days") / 7), F.lit(4)).cast("bigint")
    return u.groupBy(bucket.alias("span_weeks")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("tot_events"),
        F.max("span_days").cast("bigint").alias("max_span_days"),
    )


# --------------------------------------------------------------------------
# t1_basket_lift


@register(
    "t1_basket_lift",
    oracle="""
    WITH ob AS (SELECT DISTINCT l.l_orderkey, p.p_brand
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n0 AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
           FROM ob),
    single AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n
               FROM ob GROUP BY p_brand),
    pair AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                    CAST(count(*) AS BIGINT) AS n_ab
             FROM ob a JOIN ob b
               ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
             GROUP BY brand_a, brand_b)
    SELECT pair.brand_a, pair.brand_b, pair.n_ab,
           sa.n AS n_a, sb.n AS n_b,
           round(CAST(pair.n_ab AS DOUBLE) * (SELECT n_orders FROM n0)
                 / (sa.n * sb.n), 6) + 0 AS lift
    FROM pair
    JOIN single sa ON pair.brand_a = sa.p_brand
    JOIN single sb ON pair.brand_b = sb.p_brand
    """,
)
def t1_basket_lift(spark, sf_dir):
    """Brand co-purchase lift: for every brand pair, how much more
    often they appear in the same order than independence predicts
    (lift = P(ab)/(P(a)·P(b))) — the market-basket signal behind
    cross-sell ranking and, in corpus terms, the co-occurrence shape
    behind t1_token_pmi at order granularity.

    Exactness: all supports are exact BIGINT counts over the DISTINCT
    (order, brand) frame; lift is one fixed chain over exact integers,
    rounded and +0-normalized.  Scale: brands are a bounded vocabulary
    (25), so the distinct frame is |orders|·avg-brands rows shuffled
    once on the order key; the self-join explodes at most C(25,2)
    pairs per order, and the single-brand frames broadcast.  The
    distinct frame is CACHED: four consumers (total, singles, both
    pair sides) prune different columns, which defeats exchange reuse
    — without the cache each consumer re-runs the fact join + distinct
    (A/B at sf0.1: ~1.6 s → ~0.9 s, the t1_bfs_levels edge-set
    pattern)."""
    ob = pinned(
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "part").select(
                    "p_partkey", "p_brand"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n0 = ob.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    single = ob.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = ob.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = ob.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    sa = single.select(
        F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a")
    )
    sb = single.select(
        F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b")
    )
    return (
        pair.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n0))
        .select(
            "brand_a", "brand_b", "n_ab", "n_a", "n_b",
            (
                F.round(
                    F.col("n_ab").cast("double") * F.col("n_orders")
                    / (F.col("n_a") * F.col("n_b")),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# t1_herfindahl_share


@register(
    "t1_herfindahl_share",
    oracle="""
    WITH r AS (SELECT p.p_type, p.p_brand,
                      CAST(sum(CAST(round(l.l_extendedprice * 100, 0)
                                    AS BIGINT)) // 100 AS BIGINT)
                        AS rev_dollars
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
               GROUP BY p.p_type, p.p_brand)
    SELECT p_type,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum(rev_dollars) AS BIGINT) AS rev_dollars,
           round(CAST(sum(CAST(rev_dollars AS DECIMAL(18,0))
                          * CAST(rev_dollars AS DECIMAL(18,0))) AS DOUBLE)
                 / (CAST(sum(rev_dollars) AS DOUBLE)
                    * CAST(sum(rev_dollars) AS DOUBLE)), 6) + 0 AS hhi
    FROM r GROUP BY p_type
    """,
)
def t1_herfindahl_share(spark, sf_dir):
    """Herfindahl–Hirschman concentration of brand revenue within each
    part type: HHI = Σ shareᵢ² — the one-number diversity audit (1/HHI
    is the effective brand count) that in corpus terms is exactly the
    source-concentration check a mixing plan runs before training.

    Exactness: revenue accumulates as exact cents, floors to whole
    dollars per (type, brand) so the squared sums stay far inside
    BIGINT at any SF, and HHI is one division of exact integers,
    rounded and +0-normalized.  Scale: one (type, brand)-grain
    aggregate over the fact join (part dimension broadcast), then a
    6-row rollup."""
    r = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "part").select(
                    "p_partkey", "p_type", "p_brand"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", "p_brand")
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))"
                " div 100 AS BIGINT)"
            ).alias("rev_dollars")
        )
    )
    return r.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        F.sum("rev_dollars").cast("bigint").alias("rev_dollars"),
        (
            F.round(
                F.sum(
                    F.col("rev_dollars").cast("decimal(18,0)")
                    * F.col("rev_dollars").cast("decimal(18,0)")
                ).cast("double")
                / (
                    F.sum("rev_dollars").cast("double")
                    * F.sum("rev_dollars").cast("double")
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("hhi"),
    )


# --------------------------------------------------------------------------
# t1_dow_hour_heatmap


@register(
    "t1_dow_hour_heatmap",
    oracle="""
    WITH c AS (SELECT CAST(isodow(ts) AS BIGINT) AS dow,
                      CAST(hour(ts) AS BIGINT) AS hr,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY dow, hr)
    SELECT dow, hr, n,
           CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm
    FROM c
    """,
)
def t1_dow_hour_heatmap(spark, sf_dir):
    """Traffic heatmap: event share by ISO day-of-week × hour in exact
    ppm — the load-shape fingerprint behind autoscaling schedules and
    the seasonality prior t1_dow_seasonality reads at day grain.
    ISO numbering (Mon=1..Sun=7) is computed explicitly on both
    engines — Spark's dayofweek() is Sunday=1 while DuckDB's
    dayofweek() is Sunday=0, the documented cross-engine trap.

    Scale: one map-side-combinable groupBy to ≤168 cells; the share
    window runs over the cell frame."""
    c = load_table(spark, sf_dir, "events").groupBy(
        (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return c.select(
        "dow", "hr", "n",
        F.expr(
            "CAST(n * 1000000L div sum(n) OVER "
            "(ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
            "AS BIGINT)"
        ).alias("share_ppm"),
    )
