"""Oracle output-type sweep — the r04/r05 failure classes made mechanical.

Two classes of driver hash mismatch have occurred with bit-exact VALUES:

* r04: DuckDB's bare ``sum()`` over integers is HUGEINT (int128); its
  client-side canonicalization of int128 is version-sensitive.  Every
  oracle must CAST integer aggregates to BIGINT.
* r05: Spark's ``grouping()`` is TINYINT where DuckDB's is BIGINT — the
  driver's value hash is type-tagged, so a too-NARROW Spark type fails
  the same way a too-WIDE oracle type does.

``test_no_oracle_emits_hugeint`` guards the first class (DESCRIBE only,
no execution).  ``test_cross_engine_output_types`` guards both
directions for EVERY oracle query: the Spark result schema (analysis
only, no job) must map to the same canonical type as DuckDB's DESCRIBE
output, column by column.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T

from ght2dm_spark.queries import ORACLE, QUERIES


@pytest.fixture(scope="module")
def spark_schemas(spark, sf_dir):
    """Output schema of every registered query that has an oracle, built
    once for the sweeps below (analysis only, no job)."""
    return {
        name: QUERIES[name](spark, sf_dir).schema
        for name in sorted(ORACLE)
    }


def test_no_oracle_emits_hugeint(duck):
    offenders = {}
    for name, sql in ORACLE.items():
        try:
            cols = duck.sql(f"DESCRIBE {sql}").fetchall()
        except Exception:
            # a DESCRIBE that cannot plan would fail the execution tests
            # loudly; this sweep only guards output TYPES
            continue
        bad = [
            (c[0], c[1])
            for c in cols
            if "INT128" in c[1].upper() or "HUGEINT" in c[1].upper()
            or _wide_decimal(c[1])
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "HUGEINT- or wide-DECIMAL-typed oracle outputs (CAST to BIGINT "
        "or DOUBLE — the r04/r06 driver-hash failure class; DuckDB backs "
        f"DECIMAL(>18,*) with int128 storage): {offenders}"
    )


def _wide_decimal(ducktype: str) -> bool:
    """DECIMAL with precision >18 is int128-backed in DuckDB (HUGEINT
    storage) — the same version-sensitive client canonicalization class
    as bare HUGEINT (r06: ``t1_grouping_sets`` hashed red on bit-exact
    DECIMAL(38,2) values two rounds running)."""
    m = re.search(r"DECIMAL\((\d+),(\d+)\)", ducktype.upper())
    return bool(m) and int(m.group(1)) > 18


def test_no_spark_query_emits_wide_decimal(spark_schemas):
    """Mirror guard on the Spark side: no declared query's OUTPUT schema
    may carry a decimal wider than precision 18 (analysis only, no job).
    Intermediate wide decimals are fine — only the driver-hashed output
    columns are constrained."""
    offenders = {}
    for name, schema in spark_schemas.items():
        bad = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if isinstance(f.dataType, T.DecimalType) and f.dataType.precision > 18
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "Spark outputs with DECIMAL precision >18 (int128-storage hash "
        f"class on the oracle side — emit BIGINT or DOUBLE): {offenders}"
    )


# -- canonical type families ------------------------------------------------
# Both engines' output types collapse onto one vocabulary; a per-column
# family mismatch is exactly the condition under which a type-tagged value
# hash can diverge on bit-exact values.

_DUCK_SCALARS = {
    "BIGINT": "int64", "INT8": "int64", "LONG": "int64",
    "INTEGER": "int32", "INT4": "int32", "INT": "int32",
    "SMALLINT": "int16", "INT2": "int16",
    "TINYINT": "int8", "INT1": "int8",
    "HUGEINT": "int128", "UHUGEINT": "uint128",
    "UBIGINT": "uint64", "UINTEGER": "uint32",
    "USMALLINT": "uint16", "UTINYINT": "uint8",
    "DOUBLE": "float64", "FLOAT8": "float64",
    "FLOAT": "float32", "FLOAT4": "float32", "REAL": "float32",
    "VARCHAR": "string", "TEXT": "string",
    "BOOLEAN": "bool", "BOOL": "bool",
    "DATE": "date",
    # sub-second units all canonicalize: the driver's pandas/arrow compare
    # normalizes timestamp resolution (events.ts is ns-parquet and its
    # queries have green driver rows), unlike integer WIDTH which it tags
    "TIMESTAMP": "timestamp", "TIMESTAMP_NS": "timestamp",
    "TIMESTAMP_MS": "timestamp", "TIMESTAMP_S": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp_ltz",
    "BLOB": "binary",
}


def _norm_duck(t: str) -> str:
    t = t.strip()
    if t.endswith("[]"):
        return f"array<{_norm_duck(t[:-2])}>"
    u = t.upper()
    m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", u)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    return _DUCK_SCALARS.get(u, u.lower())


_SPARK_SCALARS = [
    (T.LongType, "int64"), (T.IntegerType, "int32"),
    (T.ShortType, "int16"), (T.ByteType, "int8"),
    (T.DoubleType, "float64"), (T.FloatType, "float32"),
    (T.StringType, "string"), (T.BooleanType, "bool"),
    (T.DateType, "date"), (T.TimestampNTZType, "timestamp"),
    (T.TimestampType, "timestamp_ltz"), (T.BinaryType, "binary"),
]


def _norm_spark(dt) -> str:
    if isinstance(dt, T.ArrayType):
        return f"array<{_norm_spark(dt.elementType)}>"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    for cls, fam in _SPARK_SCALARS:
        if isinstance(dt, cls):
            return fam
    return dt.simpleString()


def test_cross_engine_output_types(spark_schemas, duck):
    """Both-ways sweep: Spark result schema vs DuckDB DESCRIBE, every
    oracle query, compared per column on the canonical family."""
    offenders = {}
    for name in sorted(ORACLE):
        sql = ORACLE[name]
        stypes = {
            f.name: _norm_spark(f.dataType) for f in spark_schemas[name].fields
        }
        dtypes = {
            c[0]: _norm_duck(c[1])
            for c in duck.sql(f"DESCRIBE {sql}").fetchall()
        }
        diffs = {
            c: (stypes.get(c), dtypes.get(c))
            for c in set(stypes) | set(dtypes)
            if stypes.get(c) != dtypes.get(c)
        }
        if diffs:
            offenders[name] = diffs
    assert not offenders, (
        "cross-engine output-type mismatches (type-tagged driver hash "
        "diverges on bit-exact values — cast the narrower/wider side): "
        f"{offenders}"
    )


def test_no_spark_query_emits_nested_output(spark_schemas):
    """r7 failure class made mechanical: the driver's pandas
    canonicalizer ``sort_values`` every output column before hashing and
    dies on unhashable cells (``TypeError: unhashable type:
    'numpy.ndarray'`` — ``t1_inverted_index``'s ArrayType
    ``postings_head``, the only driver err of round 7).  Top-level
    ARRAY/MAP/STRUCT output columns are therefore banned for every
    registered query that has an oracle: serialize to a string
    (``array_join`` ↔ ``array_to_string``) or explode to rows.
    Analysis only, no job."""
    offenders = {}
    for name, schema in spark_schemas.items():
        bad = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "nested (array/map/struct) output columns break the driver's "
        "pandas canonicalizer — serialize to string or explode to rows: "
        f"{offenders}"
    )


def test_no_oracle_emits_nested_output(duck):
    """Mirror guard on the oracle side (DESCRIBE only, no execution):
    no LIST/MAP/STRUCT-typed output columns."""
    offenders = {}
    for name, sql in ORACLE.items():
        try:
            cols = duck.sql(f"DESCRIBE {sql}").fetchall()
        except Exception:
            continue
        bad = [
            (c[0], c[1])
            for c in cols
            if c[1].endswith("[]")
            or c[1].upper().startswith(("MAP(", "STRUCT(", "LIST(", "UNION("))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "nested (list/map/struct) oracle outputs break the driver's "
        "pandas canonicalizer — array_to_string or unnest: "
        f"{offenders}"
    )
