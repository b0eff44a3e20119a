"""Near-duplicate detection operators (SURVEY §2.9 / north_star "dedup"):
shingling, MinHash signatures, LSH banding, SimHash, and exact n-gram
Jaccard — the standard LLM-corpus dedup toolbox, expressed as DataFrame
compositions.

Engine-neutral hashing: every hash is md5-derived (MinHash: numeric
Kirsch-Mitzenmacher slots g_i = (h1 + i*h2) mod p over one md5 per
shingle; SimHash: hex-nibble bit votes), NOT Spark's
``hash()``/``xxhash64`` — so the DuckDB oracle reproduces results exactly.
md5 costs more per byte than murmur, but the cost is per-shingle map work
(scales linearly, no shuffle), and cross-engine verifiability is the
contract here.  Swapping in xxhash64 is a one-line change per hash site
once an oracle is no longer required.

Scale shape (100 TB):

- signature building is explode → groupBy(doc): one shuffle keyed by
  doc_id, perfectly parallel, no skew (doc_ids unique);
- LSH banding shuffles once on band_key; band buckets are the classic
  skew risk (a degenerate band key collecting millions of docs), so
  ``lsh_candidate_pairs`` caps bucket size via a window count —
  ``t1_lsh_bucket_stats`` audits the bucket sizes the cap acts on (AQE
  skew-split handles the moderate cases);
- candidate verification joins signatures back by doc_id (broadcast-able
  when the candidate set is small; sort-merge otherwise).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _grams_from_toks(toks: Column, n: int) -> Column:
    """Shingle array from a token-array column — the ONE definition
    :func:`shingle_df` and :func:`shingle_array_df` use (a fallback/gram
    change applied to one would otherwise silently diverge the other).
    Docs shorter than ``n`` tokens contribute their NORMALIZED token
    join as one shingle — not the raw text: 'foo bar' and 'foo  bar'
    tokenize identically and must collide, exactly like >=n-token docs
    whose whitespace runs are normalized by tokenization.

    Implementation note: ``slice + array_join`` per window, NOT n×
    ``element_at`` — Catalyst inlines the token-array expression into
    each lambda reference, so n element_at calls re-tokenized the text
    n times per shingle (measured ~9× slower at sf0.1)."""
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(sz >= n, grams).otherwise(
        F.array(F.array_join(toks, " "))
    )


def shingle_df(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows: distinct word n-grams per doc, with the token
    array materialized in its own projection so it is computed once per
    document before the per-window work."""
    t = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
        ).alias("__toks"),
    )
    return t.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_grams_from_toks(F.col("__toks"), n))
        ).alias("shingle"),
    )


def shingle_array_df(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shs) with ``shs`` = the DISTINCT word n-gram array per doc —
    the UN-exploded form of :func:`shingle_df` (same tokenization, same
    grams, same array_distinct), for consumers that need per-doc set
    sizes or pairwise intersections: ``F.size(shs)`` replaces an
    explode + groupBy(doc) pass, and ``size(array_intersect(a, b))``
    replaces the two-sided shingle join + pair groupBy — the guide §3.3
    'join first on the un-exploded key, explode after' move (here:
    never explode at all for the intersection)."""
    t = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
        ).alias("__toks"),
    )
    return t.select(
        F.col(id_col),
        F.array_distinct(_grams_from_toks(F.col("__toks"), n)).alias("shs"),
    )


TOKS_SQL = "list_filter(regexp_split_to_array(lower({text}), '\\s+'), t -> t <> '')"


def shingle_sql(toks: str, ltext: str | None = None, n: int = 3) -> str:
    """DuckDB expression mirroring :func:`shingle_df`'s shingles, over a token-list
    column ``toks`` bound in an enclosing CTE (see TOKS_SQL).  ``ltext``
    is accepted for caller compatibility but unused: the short-doc
    fallback is the NORMALIZED token join on both engines now (raw
    lowercased text compared short docs on exact whitespace while long
    docs were normalized — near-trivial duplicates never collided)."""
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), i -> {parts}) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


#: hot-shingle document-frequency cap for the exact shingle-join pair
#: queries (containment / jaccard): shingles appearing in more than
#: this many documents are dropped from the inverted index AND from the
#: per-doc set sizes (both engines — the measure becomes "overlap over
#: discriminative shingles", standard Broder practice).  The self-join
#: on a shingle generates O(df²) pairs, so at 100 TB boilerplate
#: n-grams with df in the millions would otherwise explode one task —
#: the same pathology LSH_MAX_BUCKET guards in the banded path.
#: Production callers log :func:`hot_shingles` next to their pair
#: counts, the dropped-recall audit.
SHINGLE_MAX_DF = 16


def capped_shingles(sh: DataFrame, max_df: int = SHINGLE_MAX_DF) -> DataFrame:
    """``(id, shingle)`` rows with df-over-cap shingles removed, via a
    count window over the shingle partitioning the downstream self-join
    shuffles to anyway (A/B at sf0.1: 1.82 s vs 3.26 s uncapped and
    3.75 s for a groupBy + broadcast-anti variant on
    t1_ngram_containment)."""
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )


def bucket_pairs(ids: Column) -> Column:
    """All ordered pairs struct(id_a, id_b) with id_a < id_b from a
    SORTED ascending id array — the in-row form of the capped shingle
    self-join.  For a df-capped bucket (``ids`` ≤ SHINGLE_MAX_DF
    elements) this emits ≤ C(16,2) = 120 structs per row, so one
    groupBy(shingle) + explode replaces the window-count + self-join
    pipeline that evaluated the shingle explode once per join side
    (guide §2.4: remove shuffles outright — the pair generation reuses
    the groupBy's own exchange).  NOT safe for LSH buckets capped at
    10k (C(10k,2) structs in one row); use the join form there."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def hot_shingles(sh: DataFrame, max_df: int = SHINGLE_MAX_DF) -> DataFrame:
    """The ``(shingle, df)`` rows :func:`capped_shingles` drops — the
    recall-loss audit frame."""
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
    )


def capped_shingles_sql(sh_cte: str, max_df: int = SHINGLE_MAX_DF) -> str:
    """DuckDB CTE body mirroring :func:`capped_shingles` over an
    existing ``(doc_id, shingle)`` CTE named ``sh_cte``."""
    return (
        f"SELECT doc_id, shingle FROM ("
        f"SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df "
        f"FROM {sh_cte}) WHERE df <= {max_df}"
    )


#: prime > 2^32 for the Kirsch-Mitzenmacher hash family g_i = h1 + i·h2
MINHASH_PRIME = 4_294_967_311


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, k: int = 16, shingle_n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature with the Kirsch-Mitzenmacher family:
    one md5 per shingle yields two 32-bit halves (h1, h2); slot i takes
    ``min over shingles of (h1 + i·h2) mod p``.  k hash functions for the
    price of ONE digest per shingle (vs k) — at 100 TB the digest is the
    dominant per-shingle cost.

    One explode + one groupBy(id); the k slots are k aggregate
    expressions over the same exploded rows, not k passes.  Returns
    (id_col, sig array<long> of length k).
    """
    # NULL-text docs are EXCLUDED (no shingles → no signature): the SQL
    # mirror's band keys for them are md5(NULL) = NULL, which an
    # equi-join never matches — without this filter Spark's concat_ws
    # would skip the NULL slots instead, hand every NULL doc the same
    # md5('') band key, and pay a quadratic candidate bucket the oracle
    # doesn't have.
    sh = shingle_df(
        df.filter(F.col(text_col).isNotNull()), id_col, text_col, shingle_n
    ).withColumnRenamed("shingle", "__shingle")
    h = F.md5("__shingle")
    halves = sh.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("__h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("__h2"),
    )
    mins = [
        F.min((F.col("__h1") + i * F.col("__h2")) % MINHASH_PRIME).alias(f"__h{i}")
        for i in range(k)
    ]
    return (
        halves.groupBy(id_col)
        .agg(*mins)
        .select(F.col(id_col), F.array(*[f"__h{i}" for i in range(k)]).alias("sig"))
    )


def hex2int_sql(h_expr: str, start: int, n: int = 8) -> str:
    """DuckDB expression: parse ``n`` hex chars of ``h_expr`` starting at
    1-based ``start`` into a BIGINT (DuckDB has no conv())."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h_expr}, {start + j}, 1)) - 1)"
        f" * {16 ** (n - 1 - j)}"
        for j in range(n)
    )
    return f"({terms})"


#: default degenerate-bucket cap — mirrored into every oracle that
#: enumerates candidate pairs, so engine and oracle drop the same buckets
LSH_MAX_BUCKET = 10_000


def lsh_bands(
    sig_df: DataFrame,
    id_col: str,
    bands: int,
    rows: int,
    sig_len: int | None = None,
) -> DataFrame:
    """Explode a signature into ``bands`` band keys (md5 of ``rows``
    consecutive signature components).  Docs sharing any band key are
    candidate pairs.  Pass ``sig_len`` (the signature k) to assert
    ``bands·rows <= k`` at build time: an out-of-range element_at slot is
    NULL, and concat_ws SKIPS NULLs — every doc would share the same
    degenerate md5('') key in the overflowing band (one global bucket:
    dropped by the cap, a whole band's recall silently gone)."""
    if sig_len is not None and bands * rows > sig_len:
        raise ValueError(
            f"bands*rows = {bands * rows} exceeds signature length "
            f"{sig_len} — the overflow band would read NULL slots"
        )
    band_cols = []
    for b in range(bands):
        parts = [F.element_at("sig", b * rows + r + 1) for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("key")
            )
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key"))


def lsh_candidate_pairs(
    bands_df: DataFrame, id_col: str, max_bucket: int = LSH_MAX_BUCKET
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 band bucket.

    Buckets larger than ``max_bucket`` are dropped (degenerate-key guard:
    at 100 TB a single pathological bucket would otherwise produce a
    quadratic pair explosion in one task); production callers inspect the
    dropped-bucket count separately.
    """
    w = Window.partitionBy("band", "band_key")
    b = bands_df.withColumn("__n", F.count(F.lit(1)).over(w)).filter(
        F.col("__n") <= max_bucket
    )
    left = b.select(F.col(id_col).alias("id_a"), "band", "band_key")
    right = b.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def sig_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash Jaccard estimate: fraction of equal signature components."""
    eq = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b), lambda x: x)
    )
    return eq.cast("double") / F.size(sig_a)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over lowercased whitespace tokens, returned as a
    64-char '0'/'1' string (MSB first) — string form keeps it exactly
    comparable across engines (no signed-64 overflow games).  Docs with
    NULL text or no tokens emit no row (the groupBy-over-explode
    semantics the oracle shares).

    Scale: shuffle-free — an Arrow-batched per-document pass inside
    ``mapInPandas`` (tokenize, md5 each token, column-sum the 64 vote
    bits with numpy), a narrow map over the scan with ZERO exchanges.
    This replaced the explode → groupBy(id) with 64 sum-aggregates
    Catalyst form as a measured exception to "built-ins first": the
    64-column hash aggregate over the exploded token stream ran 2.78 s
    at sf0.1 vs 0.64 s for this path, and it also deletes the doc_id
    shuffle.  Parity discipline: tokens from an ASCII-flagged ``\\s+``
    split (exact Java-regex semantics), vote bit b is bit b MSB-first
    of the md5 digest's first 8 bytes — identical to the oracle's
    per-nibble extraction in :func:`simhash_sql` — and the ≥0 vote
    threshold becomes the integer form 2·ones ≥ n.  A per-task memo
    caches token digests (corpus token frequency is zipfian, so the
    hit rate is high); it is cleared at 1M entries to bound executor
    memory on adversarial vocabularies.
    """
    d = df.select(F.col(id_col), F.col(text_col).alias("__text"))

    def sh_batches(it):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        memo: dict = {}
        tbl = np.array(["0", "1"])
        for pdf in it:
            ids, shs = [], []
            for i, t in zip(pdf[id_col], pdf["__text"]):
                if t is None:
                    continue
                toks = [x for x in ws.split(t.lower()) if x]
                if not toks:
                    continue
                c = np.zeros(SIMHASH_BITS, np.int64)
                for tok in toks:
                    b = memo.get(tok)
                    if b is None:
                        if len(memo) >= 1_000_000:
                            memo.clear()
                        b = np.unpackbits(
                            np.frombuffer(
                                hashlib.md5(tok.encode("utf-8")).digest()[:8],
                                np.uint8,
                            )
                        ).astype(np.int64)
                        memo[tok] = b
                    c += b
                bits = (2 * c >= len(toks)).astype(np.int8)
                ids.append(i)
                shs.append("".join(tbl[bits]))
            yield pd.DataFrame({id_col: ids, "simhash": shs})

    id_type = df.schema[id_col].dataType.simpleString()
    return d.mapInPandas(sh_batches, f"{id_col} {id_type}, simhash string")


def simhash_sql(id_expr: str, text_expr: str, table: str) -> str:
    """DuckDB oracle mirroring :func:`simhash64` (generated SQL)."""
    tok = (
        f"SELECT {id_expr} AS id, unnest(list_filter("
        f"regexp_split_to_array(lower({text_expr}), '\\s+'), t -> t <> '')) AS tok "
        f"FROM {table}"
    )
    votes = []
    for b in range(SIMHASH_BITS):
        j, shift = b // 4 + 1, 3 - (b % 4)
        nib = f"(strpos('0123456789abcdef', substr(h, {j}, 1)) - 1)"
        bit = f"CASE WHEN ({nib} & {1 << shift}) > 0 THEN 1 ELSE -1 END"
        votes.append(f"sum({bit}) AS b{b}")
    bits = " || ".join(
        f"CASE WHEN b{b} >= 0 THEN '1' ELSE '0' END" for b in range(SIMHASH_BITS)
    )
    return (
        f"WITH toks AS ({tok}), h AS (SELECT id, md5(tok) AS h FROM toks), "
        f"v AS (SELECT id, {', '.join(votes)} FROM h GROUP BY id) "
        f"SELECT id, {bits} AS simhash FROM v"
    )


def simhash_hamming_pairs(
    sim: DataFrame,
    id_col: str,
    radius: int = 3,
    blocks: int = 4,
    max_bucket: int = 10_000,
) -> DataFrame:
    """All pairs of fingerprints within Hamming distance ``radius``, via
    multi-block indexing (Manku, Jain & Sarma, "Detecting Near-Duplicates
    for Web Crawling", WWW'07): split the 64-bit simhash into ``blocks``
    contiguous blocks — any pair at distance ≤ radius must, by
    pigeonhole (radius < blocks), agree EXACTLY on at least one block —
    then equi-join on (block_index, block_bits) and verify candidates
    with an exact xor+bit_count distance.  Needs ``radius < blocks``
    (asserted); more blocks widen the recallable radius at the cost of
    more index rows per doc.

    Recall is pigeonhole-exact UP TO the degenerate-bucket cap: block
    values shared by more than ``max_bucket`` fingerprints are dropped
    on BOTH engines (the LSH cap pattern — a quadratic pair explosion
    in one task is the alternative), so a pair whose only agreeing
    block is an oversized one is skipped, knowingly.  Production
    callers audit the dropped-bucket count exactly as with
    :func:`lsh_candidate_pairs`.

    ``sim`` is :func:`simhash64` output (id, simhash as a 64-char
    '0'/'1' string).  Returns (id_a, id_b, hamming), id_a < id_b.

    Scale: the index is blocks× the fingerprint table (tiny rows);
    candidates come from an equi-join on 16-bit block values — never an
    all-pairs comparison — and reuse :func:`lsh_candidate_pairs`'s
    degenerate-bucket cap (a block value shared by millions of docs —
    e.g. all-zero blocks from empty docs — would otherwise explode
    quadratically in one task).  Verification joins fingerprints back by
    id and is candidate-bound.  This is the standard web-scale simhash
    dedup shape: Google's crawl dedup ran exactly this decomposition.
    """
    assert radius < blocks, "pigeonhole requires radius < blocks"
    width = SIMHASH_BITS // blocks
    blk = sim.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("simhash", b * width + 1, width).alias(
                            "band_key"
                        ),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    cand = lsh_candidate_pairs(blk, id_col, max_bucket=max_bucket)
    # Exact verify: pack each 64-char bitstring into two longs ONCE per
    # fingerprint (before the join fans it out per candidate), then the
    # per-candidate distance is two xor + bit_count instructions — vs
    # the split + zip_with form that allocated two 64-element arrays
    # per candidate (whole pairs phase 1.6 s → sub-second at sf0.1).
    h1 = F.conv(F.substring("simhash", 1, 32), 2, 10).cast("long")
    h2 = F.conv(F.substring("simhash", 33, 32), 2, 10).cast("long")
    sa = sim.select(F.col(id_col).alias("id_a"), h1.alias("__a1"), h2.alias("__a2"))
    sb = sim.select(F.col(id_col).alias("id_b"), h1.alias("__b1"), h2.alias("__b2"))
    dist = F.bit_count(F.col("__a1").bitwiseXOR(F.col("__b1"))) + F.bit_count(
        F.col("__a2").bitwiseXOR(F.col("__b2"))
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )


def simhash_hamming_pairs_sql(
    sim_sql: str, radius: int = 3, blocks: int = 4, max_bucket: int = 10_000
) -> str:
    """DuckDB oracle mirroring :func:`simhash_hamming_pairs` over the
    fingerprint relation produced by ``sim_sql`` (columns id, simhash) —
    including the degenerate-bucket cap, so the two engines drop the
    same oversized blocks."""
    width = SIMHASH_BITS // blocks
    return f"""
    WITH s AS ({sim_sql}),
    blk0 AS (
        SELECT id, b,
               substr(simhash, CAST(b * {width} + 1 AS INTEGER), {width}) AS key
        FROM s, unnest(range({blocks})) AS u(b)
    ),
    blk AS (
        SELECT id, b, key FROM (
            SELECT id, b, key, count(*) OVER (PARTITION BY b, key) AS n
            FROM blk0
        ) WHERE n <= {max_bucket}
    ),
    cand AS (
        SELECT DISTINCT l.id AS id_a, r.id AS id_b
        FROM blk l JOIN blk r ON l.b = r.b AND l.key = r.key AND l.id < r.id
    ),
    d AS (
        SELECT c.id_a, c.id_b,
               CAST(list_sum(list_transform(range({SIMHASH_BITS}),
                 i -> CASE WHEN substr(sa.simhash, CAST(i + 1 AS INTEGER), 1)
                            <> substr(sb.simhash, CAST(i + 1 AS INTEGER), 1)
                      THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
        FROM cand c
        JOIN s sa ON c.id_a = sa.id
        JOIN s sb ON c.id_b = sb.id
    )
    SELECT id_a, id_b, hamming FROM d WHERE hamming <= {radius}
    """
