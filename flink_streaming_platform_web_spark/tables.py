"""Catalog of the driver-provided parquet tables (TESTDATA.md).

The reference declares every dataset via ``CREATE TABLE … WITH
('connector'=…)`` DDL (SqlCommand.java:27-29); our batch-parity tests
use the driver's deterministic parquet corpus instead. ``register_views``
exposes them as temp views so the SQL surface (spark.sql) works exactly
like the reference's pass-through ``tEnv.executeSql``.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_BUILTINS_INSTALLED: set[int] = set()

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always broadcastable at ANY scale factor —
# region has 5 rows and nation 25 at every SF (TPC-H-style fixed dims).
BROADCAST_TABLES = frozenset({"region", "nation"})


#: the session confs that change the schema Spark infers from a
#: parquet footer
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: absolute path of a local parquet file → (st_size, st_mtime_ns,
#: _SCHEMA_CONFS values, inferred schema); one entry per distinct path
_SCHEMAS: dict[str, tuple[int, int, tuple, StructType]] = {}


def _local_file(spark: SparkSession, path: str) -> os.stat_result | None:
    """``os.stat(path)`` when Spark reads ``path`` as this local regular
    file: an absolute bare path under a ``file:`` default filesystem.
    Under any other default filesystem Spark resolves the same path
    remotely, so the driver's disk says nothing about it."""
    if not os.path.isabs(path):
        return None
    # a session SET of fs.defaultFS reaches the reader's Hadoop conf
    default_fs = spark.conf.get("fs.defaultFS", None) or (
        spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    )
    if urlsplit(default_fs or "").scheme not in ("", "file"):
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st if stat.S_ISREG(st.st_mode) else None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference Spark
    job (70-84 ms on 4 cores) when ``path`` is a local regular file
    read before.

    Only the schema is kept, never data: the reader still lists and
    scans the file on every call. A hit needs the file's size and
    mtime and the schema confs to match the inference; a rewritten
    file infers again. A directory, a relative path, a URI or any path
    under a non-local default filesystem infers every time."""
    st = _local_file(spark, path)
    if st is None:
        return spark.read.parquet(path)
    key = (st.st_size, st.st_mtime_ns,
           tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[:3] == key:
        return spark.read.schema(hit[3]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (*key, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; column pruning + predicate pushdown reach the
    parquet scan because no data is materialized or cached here (only
    the file's schema, by ``read_parquet``).

    The corpus `events` parquet stores `ts` as INT64
    TIMESTAMP(MICROS, not UTC-adjusted), which Spark reads as
    `timestamp_ntz` with no rewrite. An `events` file that stores it as
    TIMESTAMP(NANOS), which Spark's reader rejects, is read with nanos
    as long (runtime-settable legacy conf) and floor-truncated to
    microseconds — exactly what DuckDB's TIMESTAMP_NS→µs conversion
    does, so both engines see identical instants.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # the driver may call queries() on its own session — pin the confs
    # correctness depends on (UTC timestamps for oracle comparison,
    # Arrow for the pandas kernels) and the perf posture (AQE +
    # right-sized shuffle parallelism); all are runtime-settable
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > 64:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    # the driver (and any vanilla session) must see the Flink-compat
    # builtins — q37 etc. call split_index/truncate/sha256 in plain SQL.
    # Key by (id, applicationId): a bare id() can be RECYCLED by a new
    # session after the old one is GC'd, silently skipping the install
    # (same hazard operators/_cache._session_key documents)
    try:
        skey = (id(spark), spark.sparkContext.applicationId)
    except Exception:
        skey = (id(spark), None)
    if skey not in _BUILTINS_INSTALLED:
        from flink_streaming_platform_web_spark.functions import flink_builtins

        flink_builtins.install(spark)
        _BUILTINS_INSTALLED.add(skey)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            # FLOOR division (ts - pmod keeps it all-integer): bare
            # `div` truncates toward zero, which would round pre-epoch
            # nanos the wrong way vs DuckDB's floor conversion
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestamp_micros((ts - pmod(ts, 1000)) div 1000)"
                ),
            )
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> None:
    """Register tables as temp views for spark.sql access. Pass `only`
    to skip reading footers of tables a query never touches."""
    for name in only or TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
