"""Sink tests (S5/S6 → bulk parquet writes; SURVEY §2.1): round-trip
fidelity, partitioned layout, overwrite atomic-replace semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table, write_table


def test_partitioned_write_roundtrip(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    out = str(tmp_path / "lineitem_out")
    write_table(li, out, partition_by=["l_returnflag"])

    # partition directories exist (the layout partition pruning needs)
    flags = {r["l_returnflag"] for r in li.select("l_returnflag").distinct().collect()}
    assert {f"l_returnflag={f}" for f in flags} <= set(os.listdir(out))

    back = spark.read.parquet(out)
    assert back.count() == li.count()
    # values survive the round trip (partition col comes back as a column)
    a = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")).collect()
    b = back.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")).collect()
    assert {(r["l_returnflag"], r["q"]) for r in a} == {
        (r["l_returnflag"], r["q"]) for r in b
    }

    # partition pruning: a filter on the partition column scans one dir
    plan = (
        back.filter(F.col("l_returnflag") == "A")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan


def test_overwrite_replaces(spark, sf_dir, tmp_path):
    out = str(tmp_path / "tbl")
    one = spark.range(10).withColumnRenamed("id", "v")
    two = spark.range(3).withColumnRenamed("id", "v")
    write_table(one, out)
    write_table(two, out, mode="overwrite")
    assert spark.read.parquet(out).count() == 3


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    """Interchange formats: csv (with header) and json lines round-trip
    through declared schemas — no inference pass either direction."""
    from ght2dm_spark.schemas import TESTDATA

    nation = load_table(spark, sf_dir, "nation")
    rows = {tuple(r) for r in nation.collect()}

    csv_p = str(tmp_path / "nation_csv")
    write_table(nation, csv_p, fmt="csv", header="true")
    back_csv = (
        spark.read.schema(TESTDATA["nation"]).format("csv")
        .option("header", "true").load(csv_p)
    )
    assert {tuple(r) for r in back_csv.collect()} == rows

    json_p = str(tmp_path / "nation_json")
    write_table(nation, json_p, fmt="json")
    back_json = spark.read.schema(TESTDATA["nation"]).format("json").load(json_p)
    assert {tuple(r) for r in back_json.collect()} == rows


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC: the second columnar format Spark ships natively — same
    write_table surface, and filters still reach the scan (ORC has its
    own predicate pushdown path, worth pinning)."""
    from ght2dm_spark.schemas import TESTDATA

    orders = load_table(spark, sf_dir, "orders")
    rows = {tuple(r) for r in orders.collect()}
    orc_p = str(tmp_path / "orders_orc")
    write_table(orders, orc_p, fmt="orc")
    back = spark.read.schema(TESTDATA["orders"]).format("orc").load(orc_p)
    assert {tuple(r) for r in back.collect()} == rows
    plan = (
        back.where("o_orderkey = 7")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)]" in plan


def test_parquet_codec_option(spark, sf_dir, tmp_path):
    out = str(tmp_path / "zstd_out")
    write_table(
        load_table(spark, sf_dir, "region"), out, compression="zstd"
    )
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files and all("zstd" in f for f in files)
    assert spark.read.parquet(out).count() == 5


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC interchange (the other columnar format Spark ships a native
    vectorized reader for): schema-declared write+read round-trips values
    and, like parquet, pushes filters to the scan."""
    n = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    write_table(n, out, fmt="orc")
    back = spark.read.schema(n.schema).format("orc").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))
    plan = (
        back.filter(F.col("n_nationkey") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,3)]" in plan


def test_schema_evolution_merge_read(spark, sf_dir, tmp_path):
    """Schema evolution across appended batches: an old batch without a
    column and a new batch with it read back together via mergeSchema —
    old rows surface NULL for the added column (the additive-evolution
    policy a long-lived table needs; renames/type-changes stay forbidden,
    matching the declared-schema-only posture in io.py)."""
    out = str(tmp_path / "evolving")
    r = load_table(spark, sf_dir, "region")
    r.select("r_regionkey", "r_name").write.parquet(out)
    r.select(
        "r_regionkey", "r_name", F.length("r_name").alias("name_len")
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"r_regionkey", "r_name", "name_len"}
    assert merged.count() == 2 * r.count()
    # old-batch rows: NULL in the evolved column; new-batch rows: populated
    assert merged.filter(F.col("name_len").isNull()).count() == r.count()
    assert merged.filter(F.col("name_len") > 0).count() == r.count()
