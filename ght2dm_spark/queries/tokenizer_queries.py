"""Tokenizer-training surface: BPE merge learning (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units") —
the distributed core of training a subword tokenizer over a corpus.

BPE training never touches the corpus row-by-row: it runs on the WORD-
FREQUENCY table (|vocab| rows, each with a count), which is a one-pass
aggregate of the corpus.  Each merge round is then (a) a weighted
adjacent-pair count over the vocab table, (b) an argmax pick, (c) a
map-side merge application.  That structure is what this query
implements — the same shape at 31 distinct words or 31 million.

Greedy-merge encoding trick: a word's symbol sequence is rendered as
``<s1><s2>…<sn>`` (each symbol bracket-wrapped; symbols are [a-z_]+ so
the brackets can't collide), and applying merge (a,b)→ab is the plain
string replace of ``<a><b>`` with ``<ab>`` — SQL ``replace`` is
left-to-right non-overlapping, which is exactly BPE's greedy semantics
(``<a><a><a>`` + merge (a,a) → ``<aa><a>``), and the wrapping makes a
cross-symbol-boundary false match impossible.  Identical in Spark and
DuckDB, so the learned merge table matches the oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.bpe import EOW as _MARKER
from ght2dm_spark.operators.keys import pinned
from ght2dm_spark.queries.registry import register

#: merge rounds to learn (unrolled in both engines)
_BPE_ROUNDS = 3
#: end-of-word marker — single source of truth in operators.bpe (the
#: oracle CTEs below must encode with the same marker the trainer uses)
_EOW = _MARKER


def _bpe_ctes(rounds: int) -> list:
    """Unrolled CTE prefix mirroring the Spark rounds exactly."""
    ctes = [
        # corpus → word-frequency table (the only corpus-sized step)
        """wc AS (
          SELECT t.tok AS word, CAST(count(*) AS BIGINT) AS cnt
          FROM documents,
               unnest(string_split_regex(lower(text), '\\s+')) AS t(tok)
          WHERE regexp_full_match(t.tok, '[a-z]+')
          GROUP BY 1)""",
        # initial symbol sequence: chars + end-of-word marker, wrapped
        f"""s0 AS (
          SELECT word, cnt,
                 array_to_string(
                   list_transform(range(1, length(word) + 1),
                                  i -> '<' || substr(word, i, 1) || '>'),
                   '') || '<{_EOW}>' AS sym
          FROM wc)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""p{r} AS (
          SELECT u.pr AS pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
          FROM (SELECT cnt,
                       string_split(substr(sym, 2, length(sym) - 2), '><')
                         AS l
                FROM s{p}) t,
               unnest(list_transform(range(1, len(t.l)),
                                     i -> t.l[i] || ' ' || t.l[i + 1]))
                 AS u(pr)
          WHERE len(t.l) >= 2
          GROUP BY 1)"""
        )
        ctes.append(
            f"""b{r} AS (
          SELECT string_split(pair, ' ')[1] AS bl,
                 string_split(pair, ' ')[2] AS br,
                 n_occurrences
          FROM p{r} ORDER BY n_occurrences DESC, pair ASC LIMIT 1)"""
        )
        # scalar subqueries, NOT a CROSS JOIN: when round r finds no
        # pair (corpus exhausted), b{r} is EMPTY — a cross join would
        # annihilate the vocab (the trainer-side bug 1ee8f89 fixed,
        # mirrored here) while empty scalar subqueries are NULL and the
        # CASE keeps sym unchanged
        ctes.append(
            f"""s{r} AS (
          SELECT word, cnt,
                 CASE WHEN (SELECT count(*) FROM b{r}) = 0 THEN sym
                      ELSE replace(sym,
                             '<' || (SELECT bl FROM b{r}) || '><'
                                 || (SELECT br FROM b{r}) || '>',
                             '<' || (SELECT bl FROM b{r})
                                 || (SELECT br FROM b{r}) || '>')
                 END AS sym
          FROM s{p})"""
        )
    return ctes


def _bpe_sql(rounds: int) -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, bl AS left_sym, br AS right_sym, "
        f"bl || br AS merged, n_occurrences FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(rounds)) + "\n" + unions


def _bpe_train(spark: SparkSession, sf_dir: str) -> tuple:
    """Corpus → word-frequency aggregate → operators.bpe.train.
    Returns (merge table frame, final vocab frame)."""
    from ght2dm_spark.operators.bpe import train

    d = load_table(spark, sf_dir, "documents")
    # Every merge round re-derives from this frame; without a pin the
    # lazy lineage re-tokenizes the CORPUS once per round.  The vocab
    # table is the thing BPE training iterates on — pin it.
    wc = pinned(
        d.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return train(wc, _BPE_ROUNDS)


@register("t1_bpe_merges", oracle=_bpe_sql(_BPE_ROUNDS))
def t1_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 3 BPE merges over the corpus: word-frequency
    aggregate → per-round weighted adjacent-symbol-pair counts → argmax
    pick ((count DESC, pair ASC) tie-break) → greedy merge application
    via the bracket-wrapped string replace (module docstring).  Output:
    the learned merge table (round, left, right, merged, occurrences) —
    the artifact a tokenizer trainer persists.

    Scale: the corpus is touched ONCE (the word-count aggregate with
    map-side combine); every merge round runs over the |vocab|-row
    frequency table — pair counting is one small shuffle, the argmax is
    a 1-row TakeOrdered, and the merge itself is a map-side replace
    with the winner spliced back as a LITERAL (the materialized-argmax
    pattern — no join at all in the merge plan).  Rounds compose lazily; a production
    trainer running thousands of merges would localCheckpoint the vocab
    frame every ~50 rounds (the pagerank lesson, operators/graph)."""
    merges, _ = _bpe_train(spark, sf_dir)
    return merges


@register(
    "t1_bpe_encode",
    oracle=(
        "WITH "
        + ",\n".join(_bpe_ctes(_BPE_ROUNDS))
        + f""",
    enc AS (SELECT word, cnt,
                   length(word) + 1 AS toks_before,
                   len(string_split(substr(sym, 2, length(sym) - 2), '><'))
                     AS toks_after
            FROM s{_BPE_ROUNDS})
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(cnt * toks_before) AS BIGINT) AS tokens_before,
           CAST(sum(cnt * toks_after) AS BIGINT) AS tokens_after,
           CAST((sum(cnt * toks_before) - sum(cnt * toks_after)) * 1000000
                // sum(cnt * toks_before) AS BIGINT) AS saved_ppm
    FROM enc"""
    ),
)
def t1_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the learned BPE merges and report the
    compression: occurrence-weighted token totals before (chars + the
    end-of-word marker) and after the 3 merges, with the saving in
    exact integer ppm — the tokenizer-evaluation counterpart of
    t1_bpe_merges (fertility/compression is THE metric a tokenizer
    trainer tracks per candidate vocab).

    Scale: identical to the trainer — the corpus appears only in the
    word-frequency aggregate; encoding and the report run over the
    |vocab|-row frame.  Applying a learned tokenizer to the corpus
    itself (rather than its vocab rollup) is the same map-side replace
    chain on each document row."""
    _, sym = _bpe_train(spark, sf_dir)
    enc = sym.select(
        "cnt",
        (F.length("word") + 1).alias("toks_before"),
        F.size(
            F.split(F.expr("substring(sym, 2, length(sym) - 2)"), "><")
        ).alias("toks_after"),
    )
    return enc.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.col("cnt") * F.col("toks_before")).alias("tokens_before"),
        F.sum(F.col("cnt") * F.col("toks_after")).alias("tokens_after"),
        F.expr(
            "(sum(cnt * toks_before) - sum(cnt * toks_after)) * 1000000L"
            " div sum(cnt * toks_before)"
        ).alias("saved_ppm"),
    )
