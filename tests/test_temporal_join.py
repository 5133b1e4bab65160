"""Event-time temporal join route (round 6 — Flink queries/joins
§Event Time Temporal Join). The full-data gate is
st17_stream_temporal_join vs DuckDB's native ASOF JOIN; these pin the
version-selection semantics and the loud rejections."""

from __future__ import annotations

import json
import os

import pytest

from flink_streaming_platform_web_spark.streaming.runner import JobRunner


def _write(path, name, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(runner, script):
    result = runner.execute_script(script)
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)


_SCRIPT = """
CREATE TABLE orders (
  order_id BIGINT, currency STRING, ts TIMESTAMP, amount DOUBLE,
  WATERMARK FOR ts AS ts - INTERVAL '60' SECOND
) WITH ('connector'='filesystem','path'='{orders}','format'='json',
        'source.max-files-per-trigger'='1');
CREATE TABLE rates (
  currency STRING, rts TIMESTAMP, rate DOUBLE,
  PRIMARY KEY (currency) NOT ENFORCED,
  WATERMARK FOR rts AS rts - INTERVAL '60' SECOND
) WITH ('connector'='filesystem','path'='{rates}','format'='json',
        'source.max-files-per-trigger'='1');
CREATE TABLE out_sink (
  order_id BIGINT, amount DOUBLE, rate DOUBLE
) WITH ('connector'='memory');
INSERT INTO out_sink
SELECT o.order_id, o.amount, r.rate
FROM orders o
JOIN rates FOR SYSTEM_TIME AS OF o.ts r
ON o.currency = r.currency;
"""


def test_version_at_probe_time(spark, tmp_path):
    """Each probe joins the version valid AT its event time:
    inclusive on equal timestamps, INNER-dropping probes that precede
    every version, and versions spanning micro-batches."""
    orders = str(tmp_path / "orders")
    rates = str(tmp_path / "rates")
    # batch 1 covers [00:00, 00:10); batch 2 the rest — same
    # boundaries both sides (the lockstep staging contract)
    _write(rates, "c0.json", [
        {"currency": "EUR", "rts": "2024-01-01 00:00:05", "rate": 1.1},
    ])
    _write(orders, "c0.json", [
        {"order_id": 1, "currency": "EUR",
         "ts": "2024-01-01 00:00:01", "amount": 10.0},  # before v1 → drop
        {"order_id": 2, "currency": "EUR",
         "ts": "2024-01-01 00:00:05", "amount": 20.0},  # == v1 → 1.1
        {"order_id": 3, "currency": "EUR",
         "ts": "2024-01-01 00:00:09", "amount": 30.0},  # → 1.1
    ])
    _write(rates, "c1.json", [
        {"currency": "EUR", "rts": "2024-01-01 00:00:12", "rate": 1.2},
    ])
    _write(orders, "c1.json", [
        {"order_id": 4, "currency": "EUR",
         "ts": "2024-01-01 00:00:11", "amount": 40.0},  # still v1
        {"order_id": 5, "currency": "EUR",
         "ts": "2024-01-01 00:00:15", "amount": 50.0},  # v2
        {"order_id": 6, "currency": "JPY",
         "ts": "2024-01-01 00:00:16", "amount": 60.0},  # no version → drop
    ])
    # mtime ordering: c0 then c1 per side
    for p in (rates, orders):
        t = os.path.getmtime(os.path.join(p, "c0.json"))
        os.utime(os.path.join(p, "c1.json"), (t + 1, t + 1))
    runner = JobRunner(spark, mode="streaming")
    _run(runner, _SCRIPT.format(orders=orders, rates=rates))
    got = {
        r["order_id"]: r["rate"]
        for r in spark.table("out_sink").collect()
    }
    assert got == {2: 1.1, 3: 1.1, 4: 1.1, 5: 1.2}


def test_non_equi_on_is_loud(spark, tmp_path):
    orders = str(tmp_path / "o2")
    rates = str(tmp_path / "r2")
    _write(orders, "c0.json", [
        {"order_id": 1, "currency": "EUR",
         "ts": "2024-01-01 00:00:01", "amount": 1.0},
    ])
    _write(rates, "c0.json", [
        {"currency": "EUR", "rts": "2024-01-01 00:00:01", "rate": 1.0},
    ])
    runner = JobRunner(spark, mode="streaming")
    with pytest.raises(ValueError, match="non-equi"):
        _run(
            runner,
            _SCRIPT.format(orders=orders, rates=rates).replace(
                "ON o.currency = r.currency",
                "ON o.currency > r.currency",
            ),
        )


def test_unwatermarked_probe_is_rejected_at_plan_time(spark, tmp_path):
    """Flink 1.13 rejects an event-time temporal join whose probe has
    no watermark on the AS OF column; so does the runner, before any
    query starts."""
    orders = str(tmp_path / "o3")
    rates = str(tmp_path / "r3")
    _write(orders, "c0.json", [
        {"order_id": 1, "currency": "EUR",
         "ts": "2024-01-01 00:00:01", "amount": 1.0},
    ])
    _write(rates, "c0.json", [
        {"currency": "EUR", "rts": "2024-01-01 00:00:01", "rate": 1.0},
    ])
    script = _SCRIPT.format(orders=orders, rates=rates).replace(
        "amount DOUBLE,\n  WATERMARK FOR ts AS ts - INTERVAL '60' SECOND",
        "amount DOUBLE",
    )
    assert "WATERMARK FOR ts " not in script
    runner = JobRunner(spark, mode="streaming")
    with pytest.raises(ValueError, match="WATERMARK.*'ts'"):
        runner.execute_script(script)


def test_differential_vs_batch_asof(spark, tmp_path):
    """Randomized differential check: the streaming temporal join
    must equal a batch as-of join (per probe, the version with the
    greatest build time <= the probe's event time) computed with
    Spark's own window functions — version/probe timestamp ties
    included, state spanning micro-batches."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from flink_streaming_platform_web_spark.streaming.ooo import (
        drain_pending,
    )
    from flink_streaming_platform_web_spark.streaming.temporal import (
        event_time_temporal_join,
    )

    rng = random.Random(77)
    versions = {}
    for _ in range(25):
        k = rng.randint(1, 3)
        sec = rng.randint(0, 29)
        versions[(k, sec)] = rng.randint(100, 999)  # dedupe per instant
    vrows = sorted(
        (
            {"k": k, "vts": f"2024-01-01 00:00:{s:02d}",
             "rate": float(r)}
            for (k, s), r in versions.items()
        ),
        key=lambda r: (r["vts"], r["k"]),
    )
    prows = []
    for i in range(50):
        k = rng.randint(1, 3)
        sec = rng.randint(0, 29)
        prows.append(
            {"pid": i, "k": k, "pts": f"2024-01-01 00:00:{sec:02d}",
             "amt": float(rng.randint(1, 9))}
        )
    prows.sort(key=lambda r: (r["pts"], r["pid"]))
    # shared cut boundary (strictly increasing second grid)
    bound = "2024-01-01 00:00:15"
    vdir, pdir = tmp_path / "v", tmp_path / "p"
    vdir.mkdir(), pdir.mkdir()
    for d, rows, col in ((vdir, vrows, "vts"), (pdir, prows, "pts")):
        (d / "b1.json").write_text(
            "\n".join(json.dumps(r) for r in rows if r[col] < bound)
        )
        (d / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in rows if r[col] >= bound)
        )
        t1 = os.path.getmtime(d / "b1.json")
        os.utime(d / "b2.json", (t1 + 1, t1 + 1))

    vschema = "k bigint, vts timestamp, rate double"
    pschema = "pid bigint, k bigint, pts timestamp, amt double"
    drains: list = []
    out = event_time_temporal_join(
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", 1)
        .json(str(pdir))
        .withWatermark("pts", "1 second"),
        spark.readStream.schema(vschema)
        .option("maxFilesPerTrigger", 1)
        .json(str(vdir))
        .withWatermark("vts", "1 second"),
        ["k"],
        ["k"],
        "pts",
        "vts",
        [("pid", "pid"), ("amt", "amt")],
        [("rate", "rate")],
        drain_out=drains,
    )
    qname = f"difftj_{abs(hash(str(tmp_path)))}"
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(120)
    # stop-with-drain: the rows the watermark never passed
    tail = drain_pending(spark, ckpt, drains[0])
    got = {
        r["pid"]: r["rate"]
        for r in spark.table(qname).collect()
        + (tail.collect() if tail is not None else [])
    }
    # batch as-of reference with Spark's own operators
    probes = spark.read.schema(pschema).json(str(pdir))
    vers = spark.read.schema(vschema).json(str(vdir))
    joined = probes.join(vers, "k").filter(F.col("vts") <= F.col("pts"))
    w = Window.partitionBy("pid").orderBy(F.col("vts").desc())
    ref = {
        r["pid"]: r["rate"]
        for r in joined.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == ref
    # probes with no version are absent from BOTH (inner semantics)
    assert set(got) == set(ref)
