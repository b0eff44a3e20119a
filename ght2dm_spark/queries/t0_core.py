"""T0 declared queries — every reference-derived operator (SURVEY §2.1-2.8)
exercised over the driver testdata tables with a DuckDB oracle.

Each query re-expresses one reference semantic on the TPC-H-ish tables
(the GHTorrent-shaped end-to-end pipelines are additionally tested against
fixtures in tests/test_pipelines_etl.py).  Citations in each docstring
point at the reference behavior being preserved.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.functions.cleaning import empty_to_null, strip_null_bytes, to_ts
from ght2dm_spark.functions.derive import clone_path
from ght2dm_spark.io import load_table
from ght2dm_spark.operators.dedup import dedup_exact, dedup_newest, keep_extremal
from ght2dm_spark.operators.joins import anti_join, broadcast_lookup, or_lookup, resolve_fk
from ght2dm_spark.operators.keys import add_surrogate_key
from ght2dm_spark.queries.registry import register


@register(
    "t0_newest_wins_dedup",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    ) t
    WHERE rn = 1
    """,
)
def t0_newest_wins_dedup(spark, sf_dir):
    """Newest-wins precedence (S3+F3): newest-first file order +
    skip-if-exists probes (ght2dm.go:985-1011,1019-1020; :341,376,415)
    as one row_number window — here 'newest order per customer'."""
    orders = load_table(spark, sf_dir, "orders")
    return dedup_newest(
        orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        keys=["o_custkey"],
        order=[F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
    )


@register(
    "t0_extremal_row",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM (
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity,
               max(l_shipdate) OVER (PARTITION BY l_orderkey) AS mx,
               min(l_linenumber) OVER (PARTITION BY l_orderkey) AS mn
        FROM lineitem
    ) t
    WHERE l_shipdate = mx AND l_linenumber = mn
    """,
)
def t0_extremal_row(spark, sf_dir):
    """Extremal-row selection (A1+J7): the repos finalize group-back join
    (db/insert_from_tmp_tables.sql:39-51) as window aggregates — keep rows
    matching the per-group max shipdate AND min linenumber."""
    li = load_table(spark, sf_dir, "lineitem")
    return keep_extremal(
        li.select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"),
        group=["l_orderkey"],
        max_cols=["l_shipdate"],
        min_cols=["l_linenumber"],
    )


@register(
    "t0_type_split",
    oracle="""
    SELECT event_id, event_type, branch FROM (
        SELECT event_id, event_type, 'interaction' AS branch
        FROM events WHERE event_type IN ('click', 'view')
        UNION ALL
        SELECT event_id, event_type, 'conversion' AS branch
        FROM events WHERE event_type IN ('purchase', 'signup')
        UNION ALL
        SELECT event_id, event_type, 'reject' AS branch
        FROM events
        WHERE event_type IS NULL
           OR event_type NOT IN ('click', 'view', 'purchase', 'signup')
    ) t
    """,
)
def t0_type_split(spark, sf_dir):
    """3-way type dispatch (F2): User/Organization/reject split
    (ght2dm.go:294-314) — three filters off one cached DF, residual routed
    to a rejects branch (E1)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    interaction = ev.filter(F.col("event_type").isin("click", "view")).withColumn(
        "branch", F.lit("interaction")
    )
    conversion = ev.filter(F.col("event_type").isin("purchase", "signup")).withColumn(
        "branch", F.lit("conversion")
    )
    # NULL type routes to rejects explicitly (three-valued logic would
    # otherwise drop the row from every branch — the E1 contract says
    # reject it, matching import_users)
    rejects = ev.filter(
        F.col("event_type").isNull()
        | ~F.col("event_type").isin("click", "view", "purchase", "signup")
    ).withColumn("branch", F.lit("reject"))
    return interaction.unionByName(conversion).unionByName(rejects)


@register(
    "t0_anti_join_new_only",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    """,
)
def t0_anti_join_new_only(spark, sf_dir):
    """Skip-if-exists dedup vs target (F3/F8): LEFT JOIN + IS NULL
    anti-joins (db/insert_from_tmp_tables.sql:52-54; probes
    ght2dm.go:440-490) — customers with no order since 2000 (the date
    restriction keeps the anti-join selective at every scale factor)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(cust, orders, "c_custkey")


@register(
    "t0_clone_path_derive",
    oracle="""
    SELECT doc_id,
           lower(concat_ws('/',
               coalesce(nullif(CASE WHEN doc_id % 7 = 0 THEN '' ELSE lang END, ''), 'unknown'),
               coalesce(nullif(CASE WHEN doc_id % 11 = 0 THEN '' ELSE source END, ''), 'john_doe'),
               coalesce(nullif(CASE WHEN doc_id % 13 = 0 THEN '' ELSE CAST(doc_id AS VARCHAR) END, ''), '42')
           )) AS clone_path
    FROM documents
    """,
)
def t0_clone_path_derive(spark, sf_dir):
    """Derived clone_path (P3/C2/C3/C9): lower(lang/owner/name) with
    defaults unknown/john_doe/42 on empties (ght2dm.go:551-567), empties
    synthesized via modulus so all three defaults are exercised."""
    docs = load_table(spark, sf_dir, "documents")
    lang = F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.col("lang"))
    owner = F.when(F.col("doc_id") % 11 == 0, F.lit("")).otherwise(F.col("source"))
    name = F.when(F.col("doc_id") % 13 == 0, F.lit("")).otherwise(
        F.col("doc_id").cast("string")
    )
    return docs.select(
        "doc_id", clone_path(lang, owner, name).alias("clone_path")
    )


@register(
    "t0_string_clean",
    oracle="""
    SELECT doc_id,
           replace(source || chr(0) || lang, chr(0), '') AS cleaned,
           nullif(CASE WHEN doc_id % 5 = 0 THEN '' ELSE lang END, '') AS lang_or_null,
           coalesce(nullif(CASE WHEN doc_id % 5 = 0 THEN '' ELSE lang END, ''), source) AS lang_coalesced
    FROM documents
    """,
)
def t0_string_clean(spark, sf_dir):
    """String hygiene (C1/F6/C8): null-byte strip (ght2dm.go:573-575),
    empty→NULL (ght2dm.go:581-594), empty-coalesce
    (ght2dm.go:352-354,387-389); the 0x00 byte is synthesized by concat."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(F.col("source"), F.lit("\x00"), F.col("lang"))
    maybe_empty = F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.col("lang"))
    return docs.select(
        "doc_id",
        strip_null_bytes(dirty).alias("cleaned"),
        empty_to_null(maybe_empty).alias("lang_or_null"),
        F.coalesce(empty_to_null(maybe_empty), F.col("source")).alias("lang_coalesced"),
    )


@register(
    "t0_ts_cast",
    oracle="""
    SELECT event_id,
           CAST(nullif(CASE WHEN event_id % 5 = 0 THEN '' ELSE CAST(ts AS VARCHAR) END, '')
                AS TIMESTAMP) AS ts_parsed
    FROM events
    """,
)
def t0_ts_cast(spark, sf_dir):
    """String→timestamp with empty→NULL first (C7+F6): the reference lets
    PostgreSQL cast ISO strings at insert (db/create_tmp_tables.sql:30-32;
    empties pre-nulled at ght2dm.go:581-594)."""
    ev = load_table(spark, sf_dir, "events")
    s = F.when(F.col("event_id") % 5 == 0, F.lit("")).otherwise(
        F.col("ts").cast("string")
    )
    return ev.select("event_id", to_ts(s).alias("ts_parsed"))


@register(
    "t0_surrogate_key",
    oracle="""
    SELECT c_custkey,
           row_number() OVER (ORDER BY c_custkey) AS sk
    FROM customer
    """,
)
def t0_surrogate_key(spark, sf_dir):
    """Deterministic surrogate keys (S7): replaces INSERT..RETURNING id
    serials (ght2dm.go:262,425) with a rank over the natural key —
    range-partitioned two-pass assignment, no single-task global window."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    out = add_surrogate_key(cust, order_by=["c_custkey"], name="sk")
    return out.select("c_custkey", F.col("sk").cast("long").alias("sk"))


@register(
    "t0_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, l_orderkey % 10 AS bucket FROM lineitem",
)
def t0_distinct(spark, sf_dir):
    """Full-row DISTINCT (A2, db/insert_from_tmp_tables.sql:15)."""
    li = load_table(spark, sf_dir, "lineitem")
    return dedup_exact(
        li.select(
            "l_returnflag", "l_linestatus", (F.col("l_orderkey") % 10).alias("bucket")
        )
    )


@register(
    "t0_broadcast_lookup",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_name, s.s_name
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def t0_broadcast_lookup(spark, sf_dir):
    """FK resolution lookups (J1-J3): per-row point lookups
    (ght2dm.go:778-810,941-959) as broadcast hash joins — the fact side
    never shuffles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = broadcast_lookup(li, part, li.l_partkey == part.p_partkey)
    out = broadcast_lookup(out, supp, out.l_suppkey == supp.s_suppkey)
    return out.select("l_orderkey", "l_linenumber", "p_name", "s_name")


@register(
    "t0_or_lookup",
    oracle="""
    SELECT o.o_orderkey,
           CASE WHEN d1.k IS NOT NULL THEN d1.p
                WHEN d2.k IS NOT NULL THEN d2.p END AS p_name
    FROM orders o
    LEFT JOIN (SELECT p_partkey AS k, min(p_name) AS p FROM part GROUP BY 1) d1
           ON o.o_orderkey % 400 = d1.k
    LEFT JOIN (SELECT p_size AS k, min(p_name) AS p FROM part GROUP BY 1) d2
           ON o.o_orderkey % 71 = d2.k
    """,
)
def t0_or_lookup(spark, sf_dir):
    """Disjunctive OR-lookup (J4, ght2dm.go:633-653 — dead code in the
    reference) decomposed into per-key equi joins + FIRST-MATCH pick
    (match flag, not value coalesce — a matched-but-NULL payload stays
    NULL); a raw OR join would force BroadcastNestedLoopJoin."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 400).alias("k1"),
        (F.col("o_orderkey") % 71).alias("k2"),
    )
    part = load_table(spark, sf_dir, "part")
    out = or_lookup(
        orders, part, key_pairs=[("k1", "p_partkey"), ("k2", "p_size")], payload="p_name"
    )
    return out.select("o_orderkey", F.col("p_name"))


@register(
    "t0_ri_rejects",
    oracle="""
    SELECT e.event_id, e.user_id
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = e.user_id)
    """,
)
def t0_ri_rejects(spark, sf_dir):
    """Referential-integrity drop with rejects routing (F9/E1,
    ght2dm.go:757-765,920-927): unresolved FK rows are not silently lost —
    they surface on the rejects side of resolve_fk."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("user_id")
    )
    return resolve_fk(ev, supp, "user_id").rejects.select("event_id", "user_id")
