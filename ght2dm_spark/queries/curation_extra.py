"""Curation and windowing follow-ups: quality-weighted sampling, rolling
time-range windows (per-entity, scale-correct), and explode_outer
null-preservation semantics.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ght2dm_spark.functions import epoch_us
from ght2dm_spark.io import load_table
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.operators.neardup import hex2int_sql
from ght2dm_spark.queries.registry import register


def _lm_dict_max_types() -> int:
    """Cutover threshold for the surprisal scorers' LM deployment.

    At or below this many model types the LM ships to workers as a task-
    closure dict (fastest: shuffle-free scoring inside the scan); above
    it the scorer switches to the join form over the exploded token /
    bigram stream — bigram type tables at 100 TB are routinely 1e9+
    rows, and a full-type-table ``collect()`` on the default path is a
    driver OOM.  The probe streams the type table through
    ``toLocalIterator`` and stops at threshold+1 rows, so the driver
    never holds more than threshold+1 rows even when the corpus is
    huge.  Env-tunable so tests exercise the join path at toy scale
    (``GHT2DM_LM_DICT_MAX_TYPES=0``)."""
    import os

    return int(os.environ.get("GHT2DM_LM_DICT_MAX_TYPES", "2000000"))


@register(
    "t1_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             {hex2int_sql("md5(CAST(doc_id AS VARCHAR))", 1, 8)} / 4294967296.0
               AS u,
             least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS w
      FROM documents) t
    WHERE u < w
    """,
)
def t1_weighted_sample(spark, sf_dir):
    """Quality-weighted sampling: keep each doc with probability equal
    to its (deterministic) quality weight — here length-based, capped at
    1 — by comparing the weight against an md5-derived uniform in
    [0, 1).  The curriculum/quality-mix step of corpus construction:
    higher-quality docs survive proportionally more often, yet the draw
    is reproducible and partitioning-independent (hash of the key, no
    RNG state).

    Scale: pure narrow filter — no shuffle, pushes after the scan; the
    same idiom extends to temperature mixing (w = score^t / max)."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    w = F.least(F.col("n_chars").cast("double") / 2000.0, F.lit(1.0))
    return d.filter(u < w).select("doc_id", "lang", "n_chars")


@register(
    "t1_window_time_range",
    oracle="""
    SELECT event_id, user_id, ts,
           count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS n_last_hour
    FROM events
    """,
)
def t1_window_time_range(spark, sf_dir):
    """Rolling one-hour event count per user: a RANGE frame over the
    epoch-microsecond ordering — the time-based sliding window as a
    window function (vs t1_sliding_window's bucketed form).  Integer
    microsecond bounds are exact on both engines.

    Scale: partitioned by user_id — one shuffle, state is the frame's
    row buffer per user (bounded by events-per-hour), unlike a global
    ordered window."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


@register(
    "t1_explode_outer",
    oracle="""
    WITH m AS (SELECT doc_id, regexp_extract_all(text, '[0-9]{{3,}}') AS nums
               FROM documents)
    SELECT m.doc_id, u.num
    FROM m LEFT JOIN
         (SELECT doc_id, unnest(nums) AS num FROM m) u ON m.doc_id = u.doc_id
    """.replace("{{", "{").replace("}}", "}"),
)
def t1_explode_outer(spark, sf_dir):
    """explode_outer: rows with EMPTY match arrays survive with NULL —
    the left-join-lateral semantics plain explode silently drops.  The
    pattern (3+ digit runs) matches almost nothing, so the null-
    preserving branch is the one doing the work.

    Scale: narrow map like explode; no shuffle."""
    m = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract_all("text", F.lit("[0-9]{3,}"), 0).alias("nums"),
    )
    return m.select("doc_id", F.explode_outer("nums").alias("num"))


@register(
    "t1_repetition_ratio",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])
                 ELSE [] END AS grams
          FROM t)
    SELECT doc_id,
           CAST(len(grams) AS INTEGER) AS n_bigrams,
           round(CASE WHEN len(grams) > 0 THEN
                   1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                 END, 6) AS rep_ratio
    FROM g
    """,
)
def t1_repetition_ratio(spark, sf_dir):
    """Repetition ratio (Gopher-style quality rule): fraction of
    duplicate word bigrams per document — high values flag boilerplate
    and spam.  Pure integer counts divided once at the end; rounds only
    guard the division's last bit.

    Scale: shuffle-free — an Arrow-batched per-document pass inside
    ``mapInPandas`` (tokenize, zip into bigram tuples, set-distinct), a
    narrow map over the scan with no exchange anywhere.  Like
    t1_char_entropy this is a measured exception to "built-ins first":
    the Catalyst form (transform over a token array + array_distinct)
    re-evaluates the higher-order bigram expression per consumer —
    lambda expressions sit outside whole-stage codegen and are not
    common-subexpression-eliminated — and measured 2.7 s at the ~sf1
    scale point vs 0.9 s for this path (DuckDB 1.8 s).  Parity
    discipline: tokens come from an ASCII-flagged ``\\s+`` split (exact
    Java regex semantics, same class the oracle's RE2 ``\\s`` matches on
    this corpus), and bigram distinctness uses token TUPLES — equivalent
    to the oracle's ``tok || ' ' || tok`` keys because whitespace-split
    tokens cannot themselves contain the separator."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def rep_batches(it):
        import re

        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        for pdf in it:
            n_out, r_out = [], []
            for t in pdf["text"]:
                if t is None:
                    # oracle parity: len([]) = 0 — NULL text has ZERO
                    # bigrams (not NULL), exactly like the short-doc
                    # branch below; only the ratio stays NULL
                    n_out.append(0)
                    r_out.append(None)
                    continue
                toks = [x for x in ws.split(t.lower()) if x]
                n = len(toks) - 1
                if n <= 0:
                    n_out.append(0)
                    r_out.append(None)
                    continue
                uniq = len(set(zip(toks, toks[1:])))
                n_out.append(n)
                r_out.append(round(1.0 - uniq / n, 6))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bigrams": n_out, "rep_ratio": r_out}
            )

    return d.mapInPandas(
        rep_batches, "doc_id long, n_bigrams int, rep_ratio double"
    )


@register(
    "t1_char_entropy",
    oracle="""
    WITH c AS (SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS ch
               FROM documents WHERE length(text) > 0),
    f AS (SELECT doc_id, ch, count(*) AS n FROM c WHERE ch <> ''
          GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS total FROM f
            GROUP BY doc_id),
    term AS (SELECT f.doc_id,
                    CAST(round(
                      -(CAST(f.n AS DOUBLE) / tot.total)
                        * log2(CAST(f.n AS DOUBLE) / tot.total), 9)
                      AS DECIMAL(18,9)) AS t
             FROM f JOIN tot ON f.doc_id = tot.doc_id)
    SELECT doc_id, CAST(round(sum(t), 6) AS DOUBLE) AS entropy
    FROM term GROUP BY doc_id
    """,
)
def t1_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the gibberish/
    natural-text discriminator in quality pipelines (random strings ≈ 4+
    bits, english ≈ 2.5-3).  Each -p·log2(p) term is computed in IEEE
    doubles (identical on both engines), rounded to 9 digits, then
    summed as DECIMAL so shuffle order can't perturb the total — the
    same exact-moment discipline as t1_stat_moments.

    Scale: shuffle-free — an Arrow-batched numpy histogram per document
    (``np.unique`` over codepoints inside ``mapInPandas``), a narrow map
    over the scan with zero extra rows and no exchange anywhere.  This
    is a measured exception to "built-ins first": under full-evaluation
    timing at the sf1 bench point the Catalyst formulations spend their
    time allocating per-char arrays — sorted-run-boundary arrays 8.5 s,
    explode + two-level aggregate 5.5 s, this numpy path 1.8 s (DuckDB
    2.7 s).  The decimal discipline survives the rewrite: each 9-dp term
    becomes an exact int64 count of 1e-9 units and the per-doc sum is
    integer arithmetic, so no accumulation-order or float-sum drift can
    separate the engines."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
    )

    def ent_batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ents = np.empty(len(pdf), dtype=np.float64)
            for j, t in enumerate(pdf["text"]):
                # codepoints, not bytes: matches the oracle's
                # per-character split for any unicode input
                cps = np.frombuffer(
                    t.lower().encode("utf-32-le"), dtype=np.uint32
                )
                _, counts = np.unique(cps, return_counts=True)
                p = counts / cps.size
                terms = np.round(-p * np.log2(p), 9)
                # exact decimal sum: each 9-dp term is an integer count
                # of 1e-9 units, so summing int64 nano-units reproduces
                # the oracle's DECIMAL accumulation bit-for-bit
                # half-AWAY-from-zero at both rounds (floor(x+.5) on the
                # nonneg terms; integer +500//1000 on the total) — the
                # oracle rounds its DECIMAL sum, which is also exact
                # half-away; numpy's rint/Python's round are half-EVEN
                # and diverge on exact .5 boundaries (hit at sf0.1)
                nano = np.floor(terms * 1e9 + 0.5).astype(np.int64)
                ents[j] = int(nano.sum() + 500) // 1000 / 1e6
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "entropy": ents})

    return d.mapInPandas(ent_batches, schema="doc_id long, entropy double")


def _unigram_surprisal_join_form(d, u):
    """Above-threshold deployment of t1_unigram_surprisal: the unigram
    LM stays distributed.  The token stream is re-exploded JVM-side
    (same ASCII ``\\s+`` split as the oracle) and joined to the type
    table on ``tok`` — a plain equi-join, NOT broadcast, because this
    path only runs when the vocabulary exceeds the closure threshold;
    AQE still downgrades it to broadcast if runtime stats allow.  Same
    fixed IEEE expression as the oracle (−log2(cnt/total) rounded to
    9 dp, summed as DECIMAL), so the result is bit-identical to the
    dict path's on any partitioning."""
    from ght2dm_spark.functions.text import explode_ws_tokens

    tok = explode_ws_tokens(d, "text", "tok", keep=("doc_id",))
    total = u.agg(F.sum("cnt").cast("long").alias("total"))
    term = (
        tok.join(u, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                -F.log2(
                    F.col("cnt").cast("double") / F.col("total").cast("double")
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("s"),
        )
    )
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_toks"),
        F.round(
            F.sum("s").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_surprisal"),
    )


@register(
    "t1_unigram_surprisal",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    u AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM u),
    term AS (SELECT tok.doc_id,
                    CAST(round(-log2(CAST(u.cnt AS DOUBLE)
                                       / (SELECT total FROM n)), 9)
                         AS DECIMAL(18,9)) AS s
             FROM tok JOIN u ON tok.tok = u.tok)
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_toks,
           round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS avg_surprisal
    FROM term GROUP BY doc_id
    """,
)
def t1_unigram_surprisal(spark, sf_dir):
    """Unigram LM surprisal per document — the perplexity-filter proxy
    quality pipelines use (documents whose tokens are improbable under
    the corpus unigram distribution are outliers: gibberish, wrong
    language, boilerplate).  avg_surprisal = mean over tokens of
    -log2 p(tok), p from corpus counts; per-token terms are rounded to
    9 digits and summed as DECIMAL so shuffle order can't perturb the
    mean (the char-entropy discipline).

    Scale: two Arrow-batched passes — partial token counts per batch
    (map-side Counter, one vocab-sized shuffle) build the LM, then a
    shuffle-FREE scoring map adds precomputed integer nano-surprisals
    per token.  Measured under full-evaluation timing at the sf1 bench
    point: 1.3 s vs 4.1 s for the explode + join form (DuckDB 1.55 s).
    The dict deployment is gated by a SIZE CUTOVER
    (``_lm_dict_max_types``, limit-guarded probe): past the threshold
    the query automatically switches to
    ``_unigram_surprisal_join_form`` — the distributed-LM shape — so
    the default path can never ship an unbounded type table through the
    driver.  The 9-dp decimal discipline is intact on both paths: each
    per-token term is an exact count of 1e-9 units."""
    import math

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # ASCII \s+, NOT str.split(): Java/RE2 \s is ASCII-only, so the
    # oracle would keep U+00A0-joined words as one token while Python's
    # unicode split broke them apart.  NULL text tokenizes to nothing,
    # matching the oracle's unnest over an empty array.
    import re

    _ws = re.compile(r"\s+", re.ASCII)

    def _toks(t):
        return [x for x in _ws.split(t.lower()) if x] if t is not None else []

    def count_batches(it):
        from collections import Counter

        import pandas as pd

        for pdf in it:
            c = Counter()
            for t in pdf["text"]:
                c.update(_toks(t))
            if c:
                yield pd.DataFrame(
                    {"tok": list(c.keys()), "cnt": list(c.values())}
                )

    u = (
        d.mapInPandas(count_batches, schema="tok string, cnt long")
        .groupBy("tok")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # LM deployment with a SIZE CUTOVER.  The probe streams the type
    # table through toLocalIterator and stops at threshold+1 rows —
    # bounded driver memory regardless of vocabulary size, and (unlike
    # limit().collect(), which builds a NEW plan and re-runs the count
    # pass, measured +1.2 s/rep at the ~sf1 point) it iterates the SAME
    # DataFrame, so the dict regime pays exactly one count pass, like
    # the plain collect it replaces.  If the whole table arrives it IS
    # the complete vocabulary and ships as a task-closure dict of
    # precomputed 1e-9-unit surprisals (shuffle-free scoring inside the
    # scan).  Past the threshold — 100 TB vocabularies — the scorer
    # switches to the join form over the exploded token stream (same
    # counts, same fixed IEEE −log2 expression), pinning the type
    # table only in THAT regime (the join plan reads it twice).
    import itertools

    max_types = _lm_dict_max_types()
    head = list(
        itertools.islice(
            u.toLocalIterator(prefetchPartitions=True), max_types + 1
        )
    )
    if len(head) > max_types:
        return _unigram_surprisal_join_form(d, pinned(u))
    vocab = {r["tok"]: r["cnt"] for r in head}
    total = sum(vocab.values())
    nano = {
        t: int(round(-math.log2(c / total) * 1e9)) for t, c in vocab.items()
    }

    def score_batches(it):
        import pandas as pd

        for pdf in it:
            ids, n_toks, avg = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                toks = _toks(t)
                if not toks:
                    continue  # oracle's token join drops token-less docs
                ids.append(doc_id)
                n_toks.append(len(toks))
                avg.append(round(sum(nano[tok] for tok in toks) / 1e9 / len(toks), 6))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "n_toks": pd.array(n_toks, dtype="int32"),
                    "avg_surprisal": pd.array(avg, dtype="float64"),
                }
            )

    return d.mapInPandas(
        score_batches, schema="doc_id long, n_toks int, avg_surprisal double"
    )


@register(
    "t1_bigram_surprisal",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 2
                           THEN list_transform(range(1, len(toks)),
                                               i -> toks[i] || ' ' || toks[i+1])
                           ELSE [] END) AS bigram
        FROM t
    ),
    c2 AS (SELECT bigram, count(*) AS n2 FROM bg GROUP BY 1),
    c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS n1
           FROM bg GROUP BY 1),
    term AS (
        SELECT bg.doc_id,
               CAST(round(-log2(CAST(c2.n2 AS DOUBLE)
                                / CAST(c1.n1 AS DOUBLE)), 9)
                    AS DECIMAL(28,9)) AS s
        FROM bg
        JOIN c2 USING (bigram)
        JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS avg_bigram_surprisal
    FROM term GROUP BY doc_id
    """,
)
def t1_bigram_surprisal(spark, sf_dir):
    """Bigram-LM surprisal per document — one Markov order above
    t1_unigram_surprisal: mean −log2 p(w_i | w_{i−1}) under the corpus
    MLE bigram model (p = c(w1w2)/c(w1·), both counts from the same
    bigram stream, so every probability is well-defined and ≤ 1).
    Catches locally-improbable token SEQUENCES (shuffled text, spam
    keyword stuffing) that unigram frequencies score as normal.
    Per-term surprisals are rounded to 9 digits and summed as DECIMAL
    (the char-entropy discipline); docs with <2 tokens have no bigrams
    and drop out on both engines.

    Scale: bigrams come from slice+array_join over a materialized token
    array (never n× element_at re-tokenization — see
    neardup._grams_from_toks); the model tables are vocabulary²-bounded
    → broadcast joins onto the exploded stream; one doc_id shuffle
    aggregates.  A trillion-token corpus swaps the broadcasts for
    shuffle joins on the bigram key — same plan shape."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    td = d.select("doc_id", toks.alias("toks"))
    grams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.array_join(F.slice("toks", i, 2), " "),
        ),
    ).otherwise(F.array())
    bg = td.select("doc_id", F.explode(grams).alias("bigram"))
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy(
        F.substring_index("bigram", " ", 1).alias("w1")
    ).agg(F.count(F.lit(1)).alias("n1"))
    term = (
        bg.join(F.broadcast(c2), "bigram")
        .join(
            F.broadcast(c1),
            F.substring_index(F.col("bigram"), " ", 1) == F.col("w1"),
        )
        .select(
            "doc_id",
            F.round(
                -F.log2(F.col("n2").cast("double") / F.col("n1").cast("double")),
                9,
            )
            .cast("decimal(28,9)")
            .alias("s"),
        )
    )
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_bigram_surprisal"),
    )


def _kn_surprisal_join_form(d, c2):
    """Above-threshold deployment of t1_kn_surprisal: the KN model stays
    distributed.  All five counts still derive from the ONE bigram type
    table ``c2`` — context totals / distinct-follower counts
    (vocabulary-sized aggregations of c2), continuation counts, and the
    scalar type total — joined back onto c2 to tag every type with its
    nano-surprisal, then equi-joined (shuffle, not broadcast: this path
    IS the too-big-for-closure regime) onto the JVM-exploded per-doc
    bigram stream.  The probability is the same fixed IEEE expression as
    the oracle and the dict path."""
    cv = c2.groupBy("v").agg(
        F.sum("n2").cast("long").alias("cv"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    cw = c2.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("nw"))
    nt = c2.agg(F.count(F.lit(1)).cast("long").alias("ntot"))
    p = (
        F.greatest(F.col("n2").cast("double") - F.lit(0.75), F.lit(0.0))
        + F.lit(0.75)
        * F.col("n1f").cast("double")
        * F.col("nw").cast("double")
        / F.col("ntot").cast("double")
    ) / F.col("cv").cast("double")
    model = (
        c2.join(cv, "v")
        .join(cw, "w")
        .crossJoin(F.broadcast(nt))
        .select("v", "w", F.round(-F.log2(p), 9).cast("decimal(28,9)").alias("s"))
    )
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    td = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    grams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> struct(element_at(toks, i) AS v,"
        " element_at(toks, i + 1) AS w))"
    )
    bg = td.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", "g.v", "g.w"
    )
    return bg.join(model, ["v", "w"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("s").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_kn_surprisal"),
    )


@register(
    "t1_kn_surprisal",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 2
                           THEN list_transform(range(1, len(toks)),
                                               i -> toks[i] || ' ' || toks[i+1])
                           ELSE [] END) AS bigram
        FROM t
    ),
    c2 AS (SELECT bigram, count(*) AS n2 FROM bg GROUP BY 1),
    cv AS (SELECT split_part(bigram, ' ', 1) AS w1,
                  CAST(sum(n2) AS BIGINT) AS cv, count(*) AS n1f
           FROM c2 GROUP BY 1),
    cw AS (SELECT split_part(bigram, ' ', 2) AS w2, count(*) AS nw
           FROM c2 GROUP BY 1),
    nt AS (SELECT count(*) AS ntot FROM c2),
    term AS (
        SELECT bg.doc_id,
               CAST(round(-log2(
                 (greatest(CAST(n2 AS DOUBLE) - CAST(0.75 AS DOUBLE),
                           CAST(0 AS DOUBLE))
                  + CAST(0.75 AS DOUBLE) * CAST(n1f AS DOUBLE)
                    * CAST(nw AS DOUBLE) / CAST(ntot AS DOUBLE))
                 / CAST(cv AS DOUBLE)), 9) AS DECIMAL(28,9)) AS s
        FROM bg
        JOIN c2 USING (bigram)
        JOIN cv ON split_part(bg.bigram, ' ', 1) = cv.w1
        JOIN cw ON split_part(bg.bigram, ' ', 2) = cw.w2
        CROSS JOIN nt
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS avg_kn_surprisal
    FROM term GROUP BY doc_id
    """,
)
def t1_kn_surprisal(spark, sf_dir):
    """Interpolated Kneser-Ney bigram surprisal per document — the
    smoothed upgrade of t1_bigram_surprisal, and the closest
    SQL-expressible analogue of the perplexity filters (CCNet-style)
    production corpora are cleaned with: MLE assigns unseen-context mass
    badly and probability 0 to unseen bigrams; KN discounts every seen
    bigram by D=0.75 and backs off to the CONTINUATION probability
    (how many distinct contexts a word follows — "francisco" is frequent
    but follows only "san", so its continuation mass is tiny).

        P(w|v) = max(c(vw)-D, 0)/c(v·) + D·N1+(v·)/c(v·) · N1+(·w)/N1+(··)

    All five counts are exact integers derived from ONE bigram-type
    table; each type's probability is a fixed IEEE expression (Python
    doubles and DuckDB doubles execute it identically), and the
    per-term −log2 snaps to integer nano units (the t1_unigram_surprisal
    discipline), so per-doc sums are exact integer arithmetic on every
    engine.

    Scale: the t1_unigram_surprisal deployment shape, one Markov order
    up — two Arrow-batched passes.  Pass 1 Counter-counts bigram TYPES
    map-side (one vocabulary²-bounded shuffle builds the type table);
    the KN model derives from the type table alone and ships to workers
    as a per-type nano-surprisal dict.  The dict deployment is gated by
    the same SIZE CUTOVER as t1_unigram_surprisal (limit-guarded probe,
    ``_lm_dict_max_types``): past the threshold the query switches to
    ``_kn_surprisal_join_form`` — the distributed join over the
    exploded bigram stream, same counts, same fixed IEEE expression —
    so the default path never collects an unbounded type table.  Pass 2
    (dict regime) scores docs shuffle-FREE: per-doc integer sums inside
    the scan.  Measured at the ~sf1 bench point: 3.4 s vs 6.4 s for the
    three-join exploded stream form (DuckDB 2.9 s — ratio 1.16x)."""
    import math
    import re

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # ASCII \s+, NOT str.split(): RE2/Java \s is ASCII-only, so a
    # unicode-aware split would break U+00A0-joined words the oracle
    # keeps whole (the t1_unigram_surprisal note).  Residual caveat,
    # repo-wide for every \s+ tokenizer pair: Python/Java \s includes
    # vertical tab U+000B, RE2's does not — the testdata generator
    # never emits \v, and a corpus that does needs a pre-normalization
    # step on both sides.
    _ws = re.compile(r"\s+", re.ASCII)

    def _toks(t):
        return [x for x in _ws.split(t.lower()) if x] if t is not None else []

    def count_batches(it):
        from collections import Counter

        import pandas as pd

        for pdf in it:
            c = Counter()
            for t in pdf["text"]:
                tk = _toks(t)
                c.update(zip(tk, tk[1:]))
            if c:
                ks = list(c.keys())
                yield pd.DataFrame(
                    {
                        "v": [k[0] for k in ks],
                        "w": [k[1] for k in ks],
                        "cnt": [c[k] for k in ks],
                    }
                )

    c2 = (
        d.mapInPandas(count_batches, schema="v string, w string, cnt long")
        .groupBy("v", "w")
        .agg(F.sum("cnt").alias("n2"))
    )
    # Size cutover (the t1_unigram_surprisal discipline, one Markov
    # order up): the probe streams at most threshold+1 bigram types to
    # the driver via toLocalIterator over the SAME frame (one count
    # pass, early abort); past the threshold — bigram type tables at
    # 100 TB are routinely 1e9+ rows — the scorer switches to the
    # distributed join form, pinning c2 only in that regime (all
    # four model aggregates derive from it).
    import itertools

    max_types = _lm_dict_max_types()
    types = list(
        itertools.islice(
            c2.toLocalIterator(prefetchPartitions=True), max_types + 1
        )
    )
    if len(types) > max_types:
        return _kn_surprisal_join_form(d, pinned(c2))
    cv: dict = {}
    n1f: dict = {}
    nw: dict = {}
    for r in types:
        cv[r.v] = cv.get(r.v, 0) + r.n2
        n1f[r.v] = n1f.get(r.v, 0) + 1
        nw[r.w] = nw.get(r.w, 0) + 1
    ntot = len(types)
    # the EXACT oracle expression shape, in Python IEEE doubles:
    # (greatest(n2 - 0.75, 0) + 0.75 * n1f * nw / ntot) / cv
    nano = {
        (r.v, r.w): int(
            round(
                -math.log2(
                    (
                        max(r.n2 - 0.75, 0.0)
                        + 0.75 * n1f[r.v] * nw[r.w] / ntot
                    )
                    / cv[r.v]
                )
                * 1e9
            )
        )
        for r in types
    }

    def score_batches(it):
        import pandas as pd

        for pdf in it:
            ids, nbg, avg = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                tk = _toks(t)
                if len(tk) < 2:
                    continue  # oracle's bigram join drops these docs
                bgs = list(zip(tk, tk[1:]))
                ids.append(doc_id)
                nbg.append(len(bgs))
                avg.append(
                    round(sum(nano[b] for b in bgs) / 1e9 / len(bgs), 6)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "n_bigrams": pd.array(nbg, dtype="int64"),
                    "avg_kn_surprisal": pd.array(avg, dtype="float64"),
                }
            )

    return d.mapInPandas(
        score_batches,
        schema="doc_id long, n_bigrams long, avg_kn_surprisal double",
    )


_WS_TOKS_SQL = "list_filter(regexp_split_to_array({c}, '\\s+'), t -> t <> '')"


@register(
    "t1_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
        SELECT lang,
               len({_WS_TOKS_SQL.format(c="text")}) AS n_toks,
               length(text) AS n_chars,
               strlen(text) AS n_bytes
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS tokens,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(n_bytes) AS BIGINT) AS bytes,
           round(CASE WHEN sum(n_toks) > 0 THEN
               CAST(sum(n_chars) AS DOUBLE) / sum(n_toks) END, 6)
             AS chars_per_token,
           round(CASE WHEN sum(n_toks) > 0 THEN
               CAST(sum(n_bytes) AS DOUBLE) / sum(n_toks) END, 6)
             AS bytes_per_token
    FROM t GROUP BY lang
    """,
)
def t1_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: characters and UTF-8 bytes per
    whitespace token — the metric that decides how a tokenizer's budget
    is spent across languages (high-fertility scripts consume more
    sequence length per word; the standard input to vocab-allocation
    and sampling-temperature decisions beside t1_temperature_mix and
    t1_lang_balance_sample).

    Exactness: token/char/byte counts are integers summed exactly; each
    ratio is ONE division of exact integer sums (the avg = sum/count
    discipline), so the doubles match bit-for-bit.  Scale: a narrow
    projection then one map-side-combinable groupBy on lang — the text
    never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(F.filter(
            F.split(F.col("text"), r"\s+"), lambda x: x != ""
        )).cast("long").alias("n_toks"),
        F.length("text").cast("long").alias("n_chars"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    g = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("tokens"),
        F.sum("n_chars").alias("chars"),
        F.sum("n_bytes").alias("bytes"),
    )
    ratio = lambda num: F.round(  # noqa: E731
        F.when(F.col("tokens") > 0, F.col(num).cast("double") / F.col("tokens")),
        6,
    )
    return g.select(
        "lang", "n_docs", "tokens", "chars", "bytes",
        ratio("chars").alias("chars_per_token"),
        ratio("bytes").alias("bytes_per_token"),
    )


#: deterministic code block planted into every 7th document — the test
#: corpus is symbol-free word soup, so WITHOUT planting, the filter
#: selects zero rows at every SF and the driver row is a trivially-
#: matching empty compare (caught in r8; the _aug_docs lesson applied).
_CODE_BLOCK = "\n    if (x == 1) { y[2] = z; }"


@register(
    "t1_code_ratio_filter",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, lang,
               text || repeat('{_CODE_BLOCK.replace(chr(10), "' || chr(10) || '")}',
                              CAST(doc_id % 3 + 2 AS BIGINT)) AS text
        FROM documents WHERE doc_id % 7 = 3
    ),
    m AS (
        SELECT doc_id, lang,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text,
                   '[{{}}();=<>\\[\\]#|&]', '', 'g')) AS n_sym,
               len(regexp_extract_all(text,
                   '(^|\\n)(    |\\t)')) AS n_indent
        FROM aug WHERE length(text) > 0
    )
    SELECT doc_id, lang, CAST(n_sym AS BIGINT) AS n_sym,
           CAST(n_indent AS BIGINT) AS n_indent,
           round(CAST(n_sym AS DOUBLE) / n_chars, 6) AS sym_ratio
    FROM m
    WHERE CAST(n_sym AS DOUBLE) / n_chars >= 0.03 OR n_indent >= 2
    """,
)
def t1_code_ratio_filter(spark, sf_dir):
    """Code-likeness routing: flag documents whose code-symbol density
    ({};()=<>[]#|&) or indentation-block count says "source code, not
    prose" — the corpus-splitting heuristic that routes documents to a
    code pipeline (different dedup granularity, different quality
    rules) instead of dropping them.  The standard cheap pre-filter in
    front of a learned classifier, same role as t1_gopher_rules for
    prose quality.

    The synthetic corpus is symbol-free word soup, so a deterministic
    code block is PLANTED into every 7th document (both engines, same
    arithmetic) — the filter then provably selects exactly the planted
    docs; without planting it matched on zero rows (a vacuous driver
    green, fixed r8).

    Exactness: symbol and indent counts are integers from the SAME
    regex class both engines compile identically (no shorthand classes
    whose Unicode semantics differ); the ratio is one division.
    Scale: narrow projection + filter — pushes to the scan, no shuffle
    (the planted branch exists only to give the test corpus something
    to route).  A translate()-based single-pass symbol count was A/B'd
    at the sf≈1 scale point and LOST to the regex (0.84 s vs 0.63 s
    median — Spark's UTF8String translate allocates per row), so the
    regex formulation stays."""
    base = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    planted = base.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        "lang",
        F.concat(
            "text",
            F.repeat(
                F.lit(_CODE_BLOCK), (F.col("doc_id") % 3 + 2).cast("int")
            ),
        ).alias("text"),
    )
    d = base.select("doc_id", "lang", "text").unionByName(planted)
    n_sym = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"[{}();=<>\[\]#|&]", ""))
    ).cast("long")
    n_indent = F.size(
        F.expr(r"regexp_extract_all(text, '(^|\n)(    |\t)', 0)")
    ).cast("long")
    m = d.select(
        "doc_id", "lang",
        F.length("text").cast("long").alias("n_chars"),
        n_sym.alias("n_sym"),
        n_indent.alias("n_indent"),
    )
    ratio = F.col("n_sym").cast("double") / F.col("n_chars")
    return m.filter((ratio >= 0.03) | (F.col("n_indent") >= 2)).select(
        "doc_id", "lang", "n_sym", "n_indent",
        F.round(ratio, 6).alias("sym_ratio"),
    )
