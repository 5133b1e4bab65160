"""Session defaults sized from the machine."""

from __future__ import annotations

import os

from flink_streaming_platform_web_spark.session import (
    default_cpus,
    default_driver_memory,
)


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_mem_total(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # a 15.7 GiB machine leaves half of it to Python workers
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == "8046m"


def test_driver_memory_is_capped_at_16g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_driver_memory(_meminfo(tmp_path, 128 * 2**20)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16384m"


def test_driver_memory_env_overrides(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == "3g"


def test_cpus_default_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"


def test_warm_plan_is_not_recompiled(spark):
    """A plan run again after ~150 other distinct plans reuses its
    compiled classes: the codegen cache outlasts a working set larger
    than Spark's default 100 entries."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    first = "id + 1000000"
    spark.range(3).selectExpr(first).collect()
    for i in range(150):
        spark.range(3).selectExpr(f"id + {i}").collect()
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    spark.range(3).selectExpr(first).collect()
    assert compiles.METRIC_COMPILATION_TIME().getCount() == before
