"""tables.read_parquet: a local parquet file's schema is inferred once
per (size, mtime), and the data is read fresh on every call."""

from __future__ import annotations

import hashlib
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_streaming_platform_web_spark import tables


_GROUPS = itertools.count()


def _jobs(spark, group: str, fn):
    """(fn(), the number of Spark jobs it ran)."""
    group = f"{group}-{next(_GROUPS)}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fingerprint(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_second_read_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first, n1 = _jobs(
        spark, "tables-first", lambda: tables.read_parquet(spark, path)
    )
    second, n2 = _jobs(
        spark, "tables-second", lambda: tables.read_parquet(spark, path)
    )
    assert (n1, n2) == (1, 0)
    assert second.schema == first.schema
    assert sorted(r.a for r in second.collect()) == [1, 2, 3]


def test_directory_is_not_cached(spark, tmp_path):
    path = str(tmp_path / "dir")
    spark.range(3).write.parquet(path)
    tables.read_parquet(spark, path)
    _, n = _jobs(
        spark, "tables-dir", lambda: tables.read_parquet(spark, path)
    )
    assert n == 1
    assert path not in tables._SCHEMAS


def test_rewritten_file_reads_new_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = tables.read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


@pytest.mark.parametrize("unit", ["corpus", "ns"])
def test_events_ts_on_the_cached_path(
    spark, sf_dir, tmp_path, monkeypatch, unit
):
    """The cached schema reads ``events.ts`` as the inferred one does:
    the corpus's TIMESTAMP(MICROS) as ``timestamp_ntz``, and an INT64
    TIMESTAMP(NANOS) file through nanosAsLong as ``timestamp``."""
    if unit == "ns":
        sf_dir = str(tmp_path)
        ts = pa.array(
            [-1_500, 0, 1_700_000_000_123_456_789], pa.timestamp("ns")
        )
        pq.write_table(
            pa.table({"event_id": [1, 2, 3], "ts": ts}),
            f"{sf_dir}/events.parquet",
        )
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    cold, n1 = _jobs(
        spark, "events-cold", lambda: tables.load(spark, sf_dir, "events")
    )
    warm, n2 = _jobs(
        spark, "events-warm", lambda: tables.load(spark, sf_dir, "events")
    )
    assert (n1, n2) == (1, 0)
    want = "timestamp" if unit == "ns" else "timestamp_ntz"
    assert dict(warm.dtypes)["ts"] == dict(cold.dtypes)["ts"] == want
    assert _fingerprint(warm) == _fingerprint(cold)


def test_non_local_default_filesystem_is_not_cached(spark, tmp_path):
    """Under a default filesystem other than ``file:`` Spark resolves a
    bare path there, not on the driver's disk. The ``graftlocal:``
    scheme stands in for one: Hadoop serves it with the raw local
    filesystem, so the read still succeeds here."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    spark.conf.set(
        "fs.graftlocal.impl", "org.apache.hadoop.fs.RawLocalFileSystem"
    )
    spark.conf.set("fs.defaultFS", "graftlocal:///")
    try:
        df = tables.read_parquet(spark, path)
        assert sorted(r.a for r in df.collect()) == [1, 2, 3]
        _, n = _jobs(
            spark, "tables-remote",
            lambda: tables.read_parquet(spark, path),
        )
    finally:
        spark.conf.unset("fs.defaultFS")
        spark.conf.unset("fs.graftlocal.impl")
    assert n == 1
    assert path not in tables._SCHEMAS
