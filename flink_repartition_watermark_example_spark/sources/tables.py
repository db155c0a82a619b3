"""Batch parquet sources.

The reference's only source is an in-memory parallel collection
(SplittableIteratorFromSeqs.scala:8-11, wired Main.scala:22); the engine
generalizes to parquet scans.  Scale notes:

- Loads are plain parquet scans so Catalyst keeps predicate
  pushdown / column pruning / partition pruning — callers filter and
  select on the returned DataFrame and the scan narrows automatically
  (verify with ``.explain``: PushedFilters / ReadSchema).
- No ``.cache()`` here: at 100 TB caching a scan is a regression, and
  AQE already reuses exchanges within a query.

Schema memo.  A bare ``spark.read.parquet(path)`` runs a Spark job to
infer the schema from the footers, on every call — a query builder
that loads three tables pays three jobs before it has planned
anything.  :func:`raw_table_schema` infers each file's schema once per
process and later loads pass it back with ``spark.read.schema(s)``, so
the reused schema is Spark's own inference for that file and results
and types are exactly those of an inferring read.  The memo key holds
everything that can change the inferred types:

- the session's ``applicationId`` and the absolute path;
- the file's ``(st_ino, st_size, st_mtime_ns)`` — for a directory
  (the sf1/sf10 output of ``scripts/gen_scale.py``) the sorted
  ``(relative path, size, mtime_ns)`` of every file under it;
- the values of ``spark.sql.legacy.parquet.nanosAsLong`` and
  ``spark.sql.parquet.inferTimestampNTZ.enabled``.

A rewrite that keeps the inode, the size and the mtime (same timestamp
tick) is not seen.  A path with a URI scheme (``s3a://``, ``file:``)
cannot be stat'ed locally and is inferred on every load, as before.

Pinning ``datamodel.TABLE_SCHEMAS`` instead was rejected because it
changes results: those structs declare ``TimestampType`` for
``events.ts``, ``lineitem.l_shipdate`` and ``orders.o_orderdate``, but
the test data files store them as ``timestamp[us]`` without a zone and
read back as ``timestamp_ntz``, and the ``events.ts`` encoding has
changed between data generations (int64 TIMESTAMP(NANOS) earlier).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_repartition_watermark_example_spark.datamodel import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

# (applicationId, abspath) -> (file stamp + type confs, inferred schema);
# one entry per path, replaced when the stamp changes.  Concurrent misses
# (foreachBatch callbacks) each infer and store a correct entry, so no lock.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, T.StructType]] = {}


def _file_stamp(path: str) -> tuple:
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            fst = os.stat(f)
            files.append((os.path.relpath(f, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(files))


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def raw_table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """A table's schema as its parquet files store it, before
    :func:`load_table`'s ``events.ts`` rescale — the schema file-stream
    replays of a table read with.  Memoized (module docstring); sets
    the session conf those reads need."""
    path = _table_path(sf_dir, name)
    # events.parquet carried TIMESTAMP(NANOS) in earlier data
    # generations, which Spark's vectorized reader rejects; read nanos
    # as long (load_table rescales to microseconds).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if _URI.match(path):
        return spark.read.parquet(path).schema
    path = os.path.abspath(path)
    try:
        stamp = _file_stamp(path)
    except OSError:  # the inferring read raises Spark's own error
        return spark.read.parquet(path).schema
    stamp += tuple(spark.conf.get(c) for c in _TYPE_CONFS)
    key = (spark.sparkContext.applicationId, path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    # Stamp taken before the inference: a rewrite racing it leaves a
    # stale stamp that the next load misses, never a stale schema.
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (stamp, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table, e.g. ``load_table(spark, sf_dir, "lineitem")``."""
    schema = raw_table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(_table_path(sf_dir, name))
    # Rescale long nanos to microseconds with integer division (double
    # division would lose precision — 2024-epoch nanos ≈ 1.7e18 exceeds
    # a double's 53-bit mantissa).
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on the
    same names the DuckDB oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
