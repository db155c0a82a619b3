"""CSV/JSON sources, partitioned parquet sink, and the salting helper."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark.scale import salted_agg
from flink_repartition_watermark_example_spark.sinks import write_parquet_partitioned
from flink_repartition_watermark_example_spark.sources.files import read_csv, read_jsonl
from flink_repartition_watermark_example_spark.sources.tables import (
    load_table,
    raw_table_schema,
)
from flink_repartition_watermark_example_spark.datamodel import TABLE_SCHEMAS, TABLES


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_csv")
    orders.coalesce(1).write.option("header", True).csv(p)
    back = read_csv(spark, p, TABLE_SCHEMAS["orders"])
    assert back.count() == orders.count()
    assert back.schema == TABLE_SCHEMAS["orders"]
    a = orders.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).first()[0]
    b = back.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).first()[0]
    assert a == b


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    p = str(tmp_path / "cust_json")
    cust.coalesce(1).write.json(p)
    back = read_jsonl(spark, p, TABLE_SCHEMAS["customer"])
    assert back.count() == cust.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, cust.collect()))


def test_partitioned_parquet_layout_enables_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    p = str(tmp_path / "events_by_day")
    write_parquet_partitioned(ev, p, partition_by=["day"])
    assert glob.glob(f"{p}/day=*"), "hive-style layout expected"
    back = spark.read.parquet(p)
    one_day = back.where(F.col("day") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the filter moves into the scan's partition
    # filters rather than a post-scan Filter on data rows
    assert "PartitionFilters" in plan
    assert one_day.count() == ev.where(F.col("day") == "2024-01-05").count()


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
            F.max("user_id").alias("mx"),
        )
        .collect()
    )
    salted = salted_agg(
        ev.withColumn("value", F.col("value").cast("decimal(18,2)")),
        ["event_type"],
        {"n": ("count", None), "sv": ("sum", "value"), "mx": ("max", "user_id")},
    ).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))

def test_foreachbatch_upsert_writer_is_idempotent(spark, sf_dir, tmp_path):
    """A replayed micro-batch (same batch_id) must REPLACE its prior —
    possibly partial — output, not append duplicates; other batches'
    partitions must survive the overwrite untouched."""
    from flink_repartition_watermark_example_spark.sinks import batch_upsert_writer

    p = str(tmp_path / "upsert_out")
    write = batch_upsert_writer(p)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    b1 = spark.createDataFrame([(3, "c")], ["k", "v"])
    write(b0.limit(1), 0)  # batch 0: crashed half-way (partial output)
    write(b1, 1)           # batch 1 lands
    write(b0, 0)           # batch 0 replayed in full
    got = sorted(
        map(tuple, spark.read.parquet(p).select("k", "v").collect())
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_to_parquet_idempotent_drains_stream(spark, sf_dir, tmp_path):
    from flink_repartition_watermark_example_spark.sinks import stream_to_parquet_idempotent

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src")
    ev.coalesce(2).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select("event_id", "event_type")
    )
    q = stream_to_parquet_idempotent(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(str(tmp_path / "out"))
    assert "__batch_id" in back.columns
    assert back.count() == ev.count()
    assert back.select("event_id").distinct().count() == ev.count()


# --- batch format matrix (sources/formats.py) -----------------------------


def test_format_round_trips_preserve_values(spark, sf_dir, tmp_path):
    """lineitem sample must round-trip bit-exactly through every
    natively-supported structured format (columnar AND interchange)."""
    from flink_repartition_watermark_example_spark.sources.formats import (
        read_table_fmt,
        write_table,
    )
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "lineitem").limit(500)
    want = sorted(map(tuple, src.collect()))
    schema = src.schema
    for fmt in ("parquet", "orc", "csv", "json"):
        path = str(tmp_path / fmt)
        write_table(src, path, fmt=fmt)
        got = sorted(
            map(tuple, read_table_fmt(spark, path, fmt=fmt, schema=schema).collect())
        )
        assert got == want, f"{fmt} round-trip diverged"


def test_orc_scan_gets_pushdown(spark, sf_dir, tmp_path):
    """ORC is a first-class columnar source: filters must reach the
    scan and the schema must prune, same as parquet."""
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.sources.formats import (
        read_table_fmt,
        write_table,
    )
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    path = str(tmp_path / "orc")
    write_table(load_table(spark, sf_dir, "lineitem"), path, fmt="orc")
    df = (
        read_table_fmt(spark, path, fmt="orc")
        .where(F.col("l_returnflag") == "N")
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_returnflag" in plan
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_avro_gate_follows_jvm_registry(spark, tmp_path):
    """The avro gate is a live probe of the JVM DataSource registry: if
    the module is absent the guard raises; if it is deployed, the
    format round-trips through the same writer/reader as the native
    formats (so flipping the environment flips behavior, no dead
    branch either way)."""
    from flink_repartition_watermark_example_spark.sources.formats import (
        avro_available,
        read_table_fmt,
        write_table,
    )

    df = spark.range(3).selectExpr("id", "cast(id as string) AS s")
    path = str(tmp_path / "a")
    if avro_available(spark):
        write_table(df, path, fmt="avro")
        got = read_table_fmt(spark, path, fmt="avro")
        assert sorted(r.id for r in got.collect()) == [0, 1, 2]
    else:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="spark-avro"):
            write_table(df, path, fmt="avro")


# --- parquet schema memo (sources/tables.py) ------------------------------


def _jobs_fired(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` fires, counted by job group."""
    sc = spark.sparkContext
    group = "schema-memo-" + uuid.uuid4().hex
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_a_file_fires_no_spark_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path)
    d = str(tmp_path)
    assert _jobs_fired(spark, lambda: load_table(spark, d, "orders")) >= 1
    # the schema is reused: no inference job, same schema and rows
    assert _jobs_fired(spark, lambda: load_table(spark, d, "orders")) == 0
    again = load_table(spark, d, "orders")
    fresh = spark.read.parquet(os.path.join(d, "orders.parquet"))
    assert again.schema == fresh.schema
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, fresh.collect())
    )


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    p = os.path.join(d, "region.parquet")
    names = ["A", "B", "C"]
    keys = pa.array([0, 1, 2], pa.int32())
    pq.write_table(pa.table({"r_regionkey": keys, "r_name": names}), p)
    first = load_table(spark, d, "region")
    assert first.schema["r_regionkey"].dataType == T.IntegerType()
    size = os.path.getsize(p)
    # same path, same inode (written in place), another column type
    keys = ["zero", "one", "two"]
    pq.write_table(pa.table({"r_regionkey": keys, "r_name": names}), p)
    assert os.path.getsize(p) != size  # the stamp must see the rewrite
    back = load_table(spark, d, "region")
    assert back.schema["r_regionkey"].dataType == T.StringType()
    assert sorted(r.r_regionkey for r in back.collect()) == ["one", "two", "zero"]


def test_memoized_schemas_equal_fresh_inference(spark, sf_dir):
    ntz = set()
    for name in TABLES:
        memo = raw_table_schema(spark, sf_dir, name)
        fresh = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert memo == fresh, name
        assert load_table(spark, sf_dir, name).schema == fresh, name
        ntz |= {(name, f.name) for f in fresh if f.dataType == T.TimestampNTZType()}
    assert ntz == {
        ("events", "ts"),
        ("lineitem", "l_shipdate"),
        ("orders", "o_orderdate"),
    }


def test_nanos_events_reuse_the_long_schema_and_rescale(spark, tmp_path):
    # the older events encoding: int64 TIMESTAMP(NANOS), read as long
    d = str(tmp_path)
    ts = pa.array(
        [1_704_067_200_123_456_789, 1_704_070_800_000_001_000], pa.timestamp("ns")
    )
    cols = {
        "event_id": [1, 2],
        "ts": ts,
        "user_id": [7, 8],
        "event_type": ["view", "buy"],
        "value": [1.0, 2.0],
        "props": ["", ""],
    }
    pq.write_table(pa.table(cols), os.path.join(d, "events.parquet"))
    assert raw_table_schema(spark, d, "events")["ts"].dataType == T.LongType()
    first = load_table(spark, d, "events").orderBy("event_id").collect()
    assert _jobs_fired(spark, lambda: load_table(spark, d, "events")) == 0
    second = load_table(spark, d, "events")
    assert second.schema["ts"].dataType == T.TimestampType()
    assert second.orderBy("event_id").collect() == first
    assert [r.ts.microsecond for r in first] == [123456, 1]
