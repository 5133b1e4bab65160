"""Streaming OVER aggregation (round 6 — Flink docs queries/over-agg):
runner route parsing + the rows/unbounded window modes end-to-end.
The time-range mode is oracle-gated by st16_stream_over_agg."""

from __future__ import annotations

import json
import os

import pytest

from flink_streaming_platform_web_spark.streaming.runner import (
    JobRunner,
    _parse_stream_over,
)


_DDL = """
CREATE TABLE ev (
  k BIGINT, ts TIMESTAMP, v DOUBLE, n BIGINT,
  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND
) WITH ('connector' = 'filesystem', 'path' = '{path}',
        'format' = 'json', 'source.max-files-per-trigger' = '1');
"""


def _write(path, name, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(runner, script):
    # stop() is stop-with-drain: it flushes the rows the watermark
    # never passed into the sink
    result = runner.execute_script(script)
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)


def test_parse_inline_and_named_window():
    sql = """
    SELECT user_id, COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
      RANGE BETWEEN INTERVAL '5' MINUTE PRECEDING AND CURRENT ROW)
      AS n FROM t
    """
    spec = _parse_stream_over(sql)
    assert spec is not None
    assert (spec.mode, spec.size) == ("range", 300)
    assert spec.aggs == [("count", None, None, "n")]
    assert spec.out_cols == ["user_id", "n"]

    named = """
    SELECT k,
      CAST(SUM(CAST(v AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s,
      MIN(v) OVER w AS lo
    FROM t
    WINDOW w AS (PARTITION BY k ORDER BY ts ROWS BETWEEN 3 PRECEDING
                 AND CURRENT ROW)
    """
    spec = _parse_stream_over(named)
    assert spec is not None
    assert (spec.mode, spec.size) == ("rows", 3)
    assert spec.aggs == [
        ("sum", "v", 2, "s"), ("min", "v", None, "lo")
    ]


def test_parse_rejections():
    # two different windows → loud (Flink's one-window constraint)
    with pytest.raises(ValueError, match="one window"):
        _parse_stream_over("""
        SELECT COUNT(*) OVER (PARTITION BY a ORDER BY ts
          RANGE BETWEEN INTERVAL '5' MINUTE PRECEDING AND CURRENT ROW)
          AS n,
        COUNT(*) OVER (PARTITION BY b ORDER BY ts
          RANGE BETWEEN INTERVAL '9' MINUTE PRECEDING AND CURRENT ROW)
          AS m FROM t
        """)
    # ROWS UNBOUNDED diverges from the RANGE peer contract → None
    # (the normal path then rejects loudly at stream start)
    assert _parse_stream_over("""
    SELECT COUNT(*) OVER (PARTITION BY a ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n FROM t
    """) is None
    # not the over shape at all
    assert _parse_stream_over("SELECT a, b FROM t") is None
    assert _parse_stream_over(
        "SELECT a, SUM(v) AS s FROM t GROUP BY a"
    ) is None


def test_rows_mode_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(src, "f1.json", [
        {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0, "n": 10},
        {"k": 1, "ts": "2024-01-01 00:00:02", "v": 2.0, "n": 20},
    ])
    _write(src, "f2.json", [
        {"k": 1, "ts": "2024-01-01 00:00:03", "v": 4.0, "n": 30},
        {"k": 2, "ts": "2024-01-01 00:00:04", "v": 8.0, "n": 40},
    ])
    runner = JobRunner(spark, mode="streaming")
    _run(runner, _DDL.format(path=src) + """
        CREATE TABLE over_sink (k BIGINT, n BIGINT, s BIGINT,
          hi DOUBLE) WITH ('connector' = 'memory');
        INSERT INTO over_sink
        SELECT k, n, SUM(n) OVER w AS s, MAX(v) OVER w AS hi
        FROM ev
        WINDOW w AS (PARTITION BY k ORDER BY ts
                     ROWS BETWEEN 1 PRECEDING AND CURRENT ROW);
        """)
    got = {
        (r["k"], r["n"]): (r["s"], r["hi"])
        for r in spark.table("over_sink").collect()
    }
    # rows window = current + 1 preceding, per key, across batches
    assert got == {
        (1, 10): (10, 1.0),
        (1, 20): (30, 2.0),
        (1, 30): (50, 4.0),  # spans the micro-batch boundary
        (2, 40): (40, 8.0),
    }


def test_rows_mode_null_in_integer_sum(spark, tmp_path):
    """ADVICE r13: a null in a nullable BIGINT SUM column arrives in
    the fold as float NaN (pandas promotion), slipped past the
    `is None` guards, and int(nan) crashed prep(). SQL skips nulls:
    the sum over (10, NULL, 30) with a 1-PRECEDING frame must be
    10 / 10 / 30 and the count must not count the null."""
    src = str(tmp_path / "src")
    _write(src, "f1.json", [
        {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0, "n": 10},
        {"k": 1, "ts": "2024-01-01 00:00:02", "v": 2.0, "n": None},
    ])
    _write(src, "f2.json", [
        {"k": 1, "ts": "2024-01-01 00:00:03", "v": 4.0, "n": 30},
    ])
    runner = JobRunner(spark, mode="streaming")
    _run(runner, _DDL.format(path=src) + """
        CREATE TABLE over_sink (k BIGINT, v DOUBLE, s BIGINT)
          WITH ('connector' = 'memory');
        INSERT INTO over_sink
        SELECT k, v, SUM(n) OVER w AS s
        FROM ev
        WINDOW w AS (PARTITION BY k ORDER BY ts
                     ROWS BETWEEN 1 PRECEDING AND CURRENT ROW);
        """)
    got = {
        r["v"]: r["s"] for r in spark.table("over_sink").collect()
    }
    assert got == {1.0: 10, 2.0: 10, 4.0: 30}


def test_unbounded_null_in_integer_sum(spark, tmp_path):
    """Same hazard on the unbounded accumulator's prep() call site."""
    src = str(tmp_path / "src")
    _write(src, "f1.json", [
        {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0, "n": None},
        {"k": 1, "ts": "2024-01-01 00:00:02", "v": 2.0, "n": 7},
    ])
    runner = JobRunner(spark, mode="streaming")
    _run(runner, _DDL.format(path=src) + """
        CREATE TABLE over_sink (k BIGINT, v DOUBLE, s BIGINT,
          cnt BIGINT) WITH ('connector' = 'memory');
        INSERT INTO over_sink
        SELECT k, v, SUM(n) OVER w AS s, COUNT(n) OVER w AS cnt
        FROM ev
        WINDOW w AS (PARTITION BY k ORDER BY ts
                     RANGE BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW);
        """)
    got = {
        r["v"]: (r["s"], r["cnt"])
        for r in spark.table("over_sink").collect()
    }
    assert got == {1.0: (None, 0), 2.0: (7, 1)}


def test_unbounded_mode_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(src, "f1.json", [
        {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.5, "n": 1},
        {"k": 1, "ts": "2024-01-01 00:00:02", "v": 2.25, "n": 2},
    ])
    _write(src, "f2.json", [
        {"k": 1, "ts": "2024-01-01 00:00:03", "v": 3.0, "n": 3},
    ])
    runner = JobRunner(spark, mode="streaming")
    _run(runner, _DDL.format(path=src) + """
        CREATE TABLE over_sink (k BIGINT, n BIGINT, s DOUBLE,
          cnt BIGINT) WITH ('connector' = 'memory');
        INSERT INTO over_sink
        SELECT k, n,
          CAST(SUM(CAST(v AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s,
          COUNT(*) OVER w AS cnt
        FROM ev
        WINDOW w AS (PARTITION BY k ORDER BY ts
                     RANGE BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW);
        """)
    got = {
        r["n"]: (r["s"], r["cnt"])
        for r in spark.table("over_sink").collect()
    }
    assert got == {1: (1.5, 1), 2: (3.75, 2), 3: (6.75, 3)}


def test_double_sum_without_decimal_cast_is_loud(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(src, "f1.json", [
        {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0, "n": 1},
    ])
    runner = JobRunner(spark, mode="streaming")
    with pytest.raises(Exception, match="DECIMAL"):
        _run(runner, _DDL.format(path=src) + """
            CREATE TABLE over_sink (k BIGINT, s DOUBLE)
              WITH ('connector' = 'memory');
            INSERT INTO over_sink
            SELECT k, SUM(v) OVER w AS s
            FROM ev
            WINDOW w AS (PARTITION BY k ORDER BY ts
                         RANGE BETWEEN INTERVAL '5' MINUTE PRECEDING
                         AND CURRENT ROW);
            """)


@pytest.mark.parametrize(
    "watermark",
    ["", ",\n  WATERMARK FOR ts2 AS ts2 - INTERVAL '1' SECOND"],
    ids=["unwatermarked", "watermark_on_other_column"],
)
def test_over_needs_watermark_on_order_column(spark, tmp_path, watermark):
    """Flink 1.13 rejects a streaming OVER that does not order by a
    watermarked time attribute: an unwatermarked source, or one whose
    watermark sits on another column. So does the runner, at plan
    time, before any query starts."""
    src = str(tmp_path / "src")
    _write(src, "f1.json", [
        {"k": 1, "ts": "2024-01-01 00:00:01", "v": 1.0, "n": 1,
         "ts2": "2024-01-01 00:00:01"},
    ])
    ddl = _DDL.format(path=src).replace(
        "n BIGINT,\n  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND",
        "n BIGINT, ts2 TIMESTAMP" + watermark,
    )
    assert "WATERMARK FOR ts " not in ddl
    runner = JobRunner(spark, mode="streaming")
    with pytest.raises(ValueError, match="WATERMARK.*'ts'"):
        runner.execute_script(ddl + """
            CREATE TABLE over_sink (k BIGINT, n BIGINT, c BIGINT)
              WITH ('connector' = 'memory');
            INSERT INTO over_sink
            SELECT k, n, COUNT(*) OVER w AS c
            FROM ev
            WINDOW w AS (PARTITION BY k ORDER BY ts
                         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW);
            """)


def test_differential_vs_batch_window(spark, tmp_path):
    """Randomized differential check: the stateful operator must
    equal Spark's own batch window functions on the same rows —
    range and rows frames, duplicate timestamps (peer groups), and
    state spanning micro-batches."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from flink_streaming_platform_web_spark.streaming.ooo import (
        drain_pending,
    )
    from flink_streaming_platform_web_spark.streaming.stateful import (
        streaming_over,
    )

    rng = random.Random(20240814)
    rows = []
    rid = 0
    for _ in range(60):
        k = rng.randint(1, 3)
        # coarse second grid → plenty of duplicate timestamps
        sec = rng.randint(0, 29)
        rows.append(
            {
                "rid": rid,
                "k": k,
                "ts": f"2024-01-01 00:00:{sec:02d}",
                "n": rng.randint(-5, 20),
            }
        )
        rid += 1
    rows.sort(key=lambda r: r["ts"])
    # micro-batch split on a distinct-ts boundary
    cut = len(rows) // 2
    while cut < len(rows) and rows[cut]["ts"] == rows[cut - 1]["ts"]:
        cut += 1
    src = tmp_path / "diff_src"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in rows[:cut])
    )
    (src / "b2.json").write_text(
        "\n".join(json.dumps(r) for r in rows[cut:])
    )
    t1 = os.path.getmtime(src / "b1.json")
    os.utime(src / "b2.json", (t1 + 1, t1 + 1))

    schema = "rid bigint, k bigint, ts timestamp, n bigint"

    for mode, size in [("range", 7), ("rows", 4)]:
        if mode == "rows":
            # positional frames need a total order for determinism —
            # dedupe timestamps per key by nudging microseconds
            seen = {}
            uniq = []
            for r in rows:
                key = (r["k"], r["ts"])
                off = seen.get(key, 0)
                seen[key] = off + 1
                uniq.append(
                    {**r, "ts": r["ts"] + f".{off:06d}"}
                )
            usrc = tmp_path / f"diff_{mode}"
            usrc.mkdir()
            (usrc / "b1.json").write_text(
                "\n".join(json.dumps(r) for r in uniq[:cut])
            )
            (usrc / "b2.json").write_text(
                "\n".join(json.dumps(r) for r in uniq[cut:])
            )
            tt = os.path.getmtime(usrc / "b1.json")
            os.utime(usrc / "b2.json", (tt + 1, tt + 1))
            read_path = str(usrc)
        else:
            read_path = str(src)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(read_path)
            .withWatermark("ts", "1 second")
        )
        drains: list = []
        out = streaming_over(
            stream,
            part_cols=["k"],
            ts_col="ts",
            mode=mode,
            size=size,
            aggs=[
                ("sum", "n", None, "s"),
                ("count", None, None, "c"),
                ("min", "n", None, "lo"),
            ],
            out_cols=["rid", "s", "c", "lo"],
            drain_out=drains,
        )
        qname = f"diff_{mode}_{abs(hash(str(tmp_path)))}"
        ckpt = str(tmp_path / f"ckpt_{mode}")
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
            r["rid"]: (r["s"], r["c"], r["lo"])
            for r in spark.table(qname).collect()
            + (tail.collect() if tail is not None else [])
        }
        ref_df = spark.read.schema(schema).json(read_path)
        w = Window.partitionBy("k").orderBy(
            F.col("ts").cast("long") if mode == "range" else F.col("ts")
        )
        if mode == "range":
            w = w.rangeBetween(-size, 0)
        else:
            w = w.rowsBetween(-size, 0)
        ref = {
            r["rid"]: (r["s"], r["c"], r["lo"])
            for r in ref_df.select(
                "rid",
                F.sum("n").over(w).alias("s"),
                F.count("*").over(w).alias("c"),
                F.min("n").over(w).alias("lo"),
            ).collect()
        }
        assert got == ref, mode
