"""Text-analysis column builders for the training-data pipeline surface
(SURVEY §2.9; BASELINE.json north_star: "text analysis").

All pure column expressions over ``pyspark.sql.functions`` built-ins —
JVM-side, whole-stage-codegen'd, no Python in the hot path.  Each has an
exact ANSI-SQL counterpart so the DuckDB oracle can hash-match (the reason
everything is built from md5 / regexp / array folds rather than
engine-specific hash functions).

Design notes for 100 TB:

- every function is a narrow map over one row — no shuffle, fully
  pipelined inside the scan stage;
- tokenization happens once per expression tree; callers that need many
  token-derived stats should materialize ``tokens`` once in a projection
  and reuse the column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small english/german/french marker sets for the n-gram/stopword
#: language-ID heuristic.  Deliberately tiny and hard-coded: the point is a
#: deterministic, oracle-reproducible heuristic, not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
}

#: Tiny stopword list for quality scoring (subset of LANG_MARKERS["en"]).
STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is")

#: "BPE-ish" token pattern: runs of letters, runs of digits, or a single
#: non-alphanumeric-non-space symbol — a coarse stand-in for byte-pair
#: pretokenization (word/number/punct classes).
BPE_TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


#: ENGINE-PARITY CONTRACT for every builder here (and the query sites
#: that inline the same expressions): Spark's Java regex \s includes
#: vertical tab U+000B, DuckDB's RE2 \s does not; and Spark's lower()
#: applies full Unicode case mapping (U+0130 'İ' → 'i'+U+0307) where
#: DuckDB's utf8proc applies simple per-codepoint mapping.  The driver
#: corpus is plain ASCII, so neither path is reachable in the oracle
#: gate; a corpus that can carry \v or special-cased Unicode needs a
#: pre-normalization pass applied identically on BOTH sides.


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens (empty-string artifacts of repeated separators
    removed so counts match intuition and the oracle).

    Use this when the token ARRAY is consumed as an array (size,
    array_distinct, transform, ...).  When the tokens are immediately
    exploded into rows, use :func:`explode_ws_tokens` instead: the
    higher-order ArrayFilter lambda here evaluates outside whole-stage
    codegen, and explode(filter(split(...))) measured 2x slower than
    explode(split(...)) + a plain post-explode predicate at the ~sf1
    scale point (1.50 s vs 0.77 s for a corpus-wide token count)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def explode_ws_tokens(df, text_col: str, out: str, keep: tuple[str, ...] = ()):
    """Exploded lowercased whitespace tokens as rows: one row per token,
    ``keep`` columns carried alongside.  Built as explode(split) + a
    plain ``!= ''`` predicate — NOT explode(filter(split)) — because the
    ArrayFilter lambda blocks whole-stage codegen (see ws_tokens).
    Token semantics are identical: split() emits '' only for separator
    artifacts, and the predicate drops exactly those rows; NULL text
    explodes to no rows on both forms."""
    cols = [F.col(c) for c in keep] + [
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(out)
    ]
    return df.select(*cols).filter(F.col(out) != "")


def bpe_tokens(col: Column | str) -> Column:
    """Lowercased BPE-ish regex tokens (letters / digits / single symbol).
    Pattern passed as a literal Column (not spliced into F.expr SQL text,
    whose string-literal escaping would eat the ``\\s``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_TOKEN_PATTERN), F.lit(0))


def token_count(col: Column | str) -> Column:
    """NULL text → NULL count.  The explicit guard makes the value
    independent of spark.sql.legacy.sizeOfNull / ANSI mode — without it
    a legacy-mode session returns -1 where the oracle has NULL (the
    lang_id docstring's hazard, closed here for counts too)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.size(ws_tokens(c)))


#: The exact character set of the regex class ``[a-z0-9\s]`` under
#: Java regex semantics (\s = space \t \n \x0B \f \r) — enumerable, so
#: ``translate`` can delete it ~40% cheaper than ``regexp_replace``
#: (1.00 s → 0.59 s corpus-wide at the ~sf1 scale point) with STRICTLY
#: identical semantics for every input, not just the ASCII corpus.
_KEEP_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789 \t\n\x0b\f\r"


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not [a-z0-9] or whitespace, of the
    total length (0.0 for empty strings → NULL guarded).  Implemented as
    ``translate`` deletion of the enumerated class — see _KEEP_CHARS."""
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(c)
    n_punct = F.length(F.translate(lc, _KEEP_CHARS, ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c))


def lang_marker_hits(col: Column | str, lang: str) -> Column:
    """Count of tokens that are marker words for ``lang``; NULL text →
    NULL (config-independent — the token_count note)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = ws_tokens(F.lower(c))
    markers = LANG_MARKERS[lang]
    return F.when(
        c.isNotNull(), F.size(F.filter(toks, lambda t: t.isin(*markers)))
    )


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of marker hits over {en,de,fr}, ties
    broken in that fixed order; no hits at all — NULL text included →
    'und' (undetermined).  The NULL branch is explicit: without it every
    WHEN condition evaluates to NULL and control falls through to the
    LAST branch ('fr' — or 'en' under spark.sql.legacy.sizeOfNull),
    silently classifying missing documents as French."""
    c = F.col(col) if isinstance(col, str) else col
    en = lang_marker_hits(col, "en")
    de = lang_marker_hits(col, "de")
    fr = lang_marker_hits(col, "fr")
    return (
        F.when(c.isNull(), F.lit("und"))
        .when((en == 0) & (de == 0) & (fr == 0), F.lit("und"))
        .when((en >= de) & (en >= fr), F.lit("en"))
        .when(de >= fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def content_fingerprint(col: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of the lowercased,
    whitespace-collapsed text — equal iff the docs are equal modulo case
    and whitespace runs (exact-dedup key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def rolling_min_fingerprint(col: str, gram: int = 8) -> Column:
    """Rolling-hash document fingerprint: min md5 over all ``gram``-char
    windows of the text (a 1-hash winnowing sketch).  Robust to local
    edits away from the minimizing window; NULL for docs shorter than
    ``gram``.  Same shape DuckDB expresses with
    ``list_min(list_transform(range(...), i -> md5(substr(...))))`` —
    but note Spark's ``sequence(1, 0)`` is the DESCENDING array [1, 0],
    not empty like DuckDB's end-exclusive range, so the short-doc case
    needs the explicit guard below or a sub-``gram`` document would
    fingerprint its whole text and diverge from the oracle."""
    if gram < 1:
        # gram=0 would pass the length guard for EVERY doc (including
        # '') and fingerprint them all to md5('') — universal duplicates
        raise ValueError(f"gram must be >= 1, got {gram}")
    name = _name(col)
    return F.expr(
        f"CASE WHEN char_length({name}) >= {gram} THEN "
        f"array_min(transform(sequence(1, char_length({name}) - {gram - 1}),"
        f" i -> md5(substring({name}, i, {gram})))) END"
    )


def _name(orig: Column | str) -> str:
    """SQL-fragment name for expr() builders — requires a plain column
    name (the F.expr-based builders only accept string column refs)."""
    if isinstance(orig, str):
        return orig
    raise TypeError(
        "this builder requires a column NAME (it splices into F.expr)"
    )
