"""Out-of-order ingest gates for the watermark-buffered front end
(streaming/ooo.py) + stop-with-drain (runner.DrainingQuery) — the
round-6/7 "done" criteria: deliberately disordered arrival must
converge to the batch answer, rows older than the watermark must be
dropped (Flink's late-element contract), and bounded input must keep
its tail rows (MAX_WATERMARK / stop-with-drain) with no advancer
sentinels anywhere."""

from __future__ import annotations

import json
import os
import random

import pandas as pd

from flink_streaming_platform_web_spark.streaming.runner import JobRunner

_DELAY_S = 60


def _write_files(path, files):
    """files: list[list[dict]] — one json-lines file per micro-batch,
    mtimes sequenced so maxFilesPerTrigger=1 replays them in order."""
    os.makedirs(path, exist_ok=True)
    base = None
    for i, rows in enumerate(files):
        f = os.path.join(path, f"c{i}.json")
        with open(f, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        if base is None:
            base = os.path.getmtime(f)
        os.utime(f, (base + i, base + i))


def _run_over(spark, path, tag):
    """Stream the staged files through the runner's OVER route
    (watermarked source → watermark_buffered → stop-with-drain) and
    return {(k, ts_s): (n, mx)}."""
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(f"""
        CREATE TABLE ev_{tag} (
          k BIGINT, ts TIMESTAMP, v DOUBLE,
          ts_s AS date_format(ts, 'yyyy-MM-dd HH:mm:ss'),
          WATERMARK FOR ts AS ts - INTERVAL '{_DELAY_S}' SECOND
        ) WITH ('connector'='filesystem','path'='{path}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE snk_{tag} (k BIGINT, ts_s STRING, n BIGINT,
          mx DOUBLE) WITH ('connector'='memory');
        INSERT INTO snk_{tag}
        SELECT k, ts_s,
               COUNT(*) OVER w AS n, MAX(v) OVER w AS mx
        FROM ev_{tag}
        WINDOW w AS (PARTITION BY k ORDER BY ts
                     RANGE BETWEEN INTERVAL '2' MINUTE PRECEDING
                     AND CURRENT ROW);
        """)
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)
    return {
        (r["k"], r["ts_s"]): (r["n"], r["mx"])
        for r in spark.table(f"snk_{tag}").collect()
    }


def _batch_over(spark, rows):
    """The same OVER query through Spark's native batch window
    functions — the differential oracle."""
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("ooo_batch_src")
    out = spark.sql("""
        SELECT k, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s,
               COUNT(*) OVER w AS n, MAX(v) OVER w AS mx
        FROM ooo_batch_src
        WINDOW w AS (PARTITION BY k ORDER BY ts
                     RANGE BETWEEN INTERVAL '2' MINUTE PRECEDING
                     AND CURRENT ROW)
        """)
    return {
        (r["k"], r["ts_s"]): (r["n"], r["mx"])
        for r in out.collect()
    }


def _mk_rows(n_per_key=24, keys=(1, 2), step_s=10):
    rows = []
    for k in keys:
        for i in range(n_per_key):
            t = pd.Timestamp("2024-01-01") + pd.Timedelta(
                seconds=step_s * i + (k - 1) * 3
            )
            rows.append(
                {
                    "k": k,
                    "ts": t.strftime("%Y-%m-%d %H:%M:%S"),
                    "v": float((i * 7 + k * 13) % 50),
                }
            )
    rows.sort(key=lambda r: r["ts"])
    return rows


def _random_disorder(rows, seed, files=4, slack_s=_DELAY_S - 20):
    """Random arrival permutation that stays inside the watermark
    delay: rows are cut into ts-ordered files, then each row within
    ``slack_s`` of its file's max is displaced into the next file
    with p=.5, and every file's internal order is shuffled. Any such
    permutation must produce the ordered run's exact output."""
    rng = random.Random(seed)
    n = len(rows)
    cuts = [i * n // files for i in range(files)] + [n]
    chunks = [rows[cuts[i]:cuts[i + 1]] for i in range(files)]
    for i in range(files - 1):
        cur = chunks[i]
        if not cur:
            continue
        m = max(r["ts"] for r in cur)
        lo = (
            pd.Timestamp(m) - pd.Timedelta(seconds=slack_s)
        ).strftime("%Y-%m-%d %H:%M:%S")
        keep, move = [], []
        for r in cur:
            if lo < r["ts"] < m and rng.random() < 0.5:
                move.append(r)
            else:
                keep.append(r)
        chunks[i] = keep
        chunks[i + 1] = chunks[i + 1] + move
    for c in chunks:
        rng.shuffle(c)
    return chunks


def test_disordered_permutations_equal_ordered(spark, tmp_path):
    """Property (round-6 criterion): random permutations within the
    watermark delay ≡ the ordered run ≡ the batch oracle."""
    rows = _mk_rows()
    expected = _batch_over(spark, rows)
    n = len(rows)
    ordered = [rows[: n // 2], rows[n // 2:]]
    p0 = str(tmp_path / "ordered")
    _write_files(p0, ordered)
    assert _run_over(spark, p0, "ord") == expected
    for seed in (1, 2):
        chunks = _random_disorder(rows, seed)
        # the staging really is disordered: some batch starts before
        # an earlier batch's max event time
        maxes = [max(r["ts"] for r in c) for c in chunks if c]
        mins = [min(r["ts"] for r in c) for c in chunks if c]
        assert any(
            mins[i + 1] < maxes[i] for i in range(len(maxes) - 1)
        ), "disorder fixture degenerated to ordered"
        p = str(tmp_path / f"dis{seed}")
        _write_files(p, chunks)
        assert _run_over(spark, p, f"dis{seed}") == expected


def test_late_row_dropped_and_counted_out(spark, tmp_path):
    """A row arriving after the watermark passed its timestamp is
    DROPPED (Flink's late-element contract): the converged output is
    the batch oracle computed WITHOUT that row, and the late row
    itself emits nothing."""
    on_time = [
        {"k": 1, "ts": "2024-01-01 00:00:10", "v": 1.0},
        {"k": 1, "ts": "2024-01-01 00:01:00", "v": 2.0},
        # far row: watermark after this batch = 00:19:00, far past
        # the earlier rows
        {"k": 1, "ts": "2024-01-01 00:20:00", "v": 3.0},
    ]
    late = {"k": 1, "ts": "2024-01-01 00:00:30", "v": 9.0}
    p = str(tmp_path / "late")
    _write_files(
        p, [[on_time[0], on_time[1]], [on_time[2]], [late]]
    )
    got = _run_over(spark, p, "late")
    assert got == _batch_over(spark, on_time)
    assert (1, "2024-01-01 00:00:30") not in got


def test_drain_flushes_tail_without_sentinel(spark, tmp_path):
    """Bounded input whose watermark never passes ANY row (all rows
    within one delay of the max): everything must come out through
    stop-with-drain — the regression demo_11 exposed in round 7."""
    rows = [
        {"k": 1, "ts": "2024-01-01 00:00:05", "v": 1.0},
        {"k": 1, "ts": "2024-01-01 00:00:25", "v": 2.0},
        {"k": 2, "ts": "2024-01-01 00:00:35", "v": 3.0},
    ]
    p = str(tmp_path / "tail")
    _write_files(p, [rows[:2], rows[2:]])
    assert _run_over(spark, p, "tail") == _batch_over(spark, rows)


def test_streaming_match_recognize_buffered_route(spark, tmp_path):
    """Streaming MATCH_RECOGNIZE through the runner's SQL route
    (round 8): watermarked source → watermark-buffered CEP. The
    rising streak 1→4→6 is split across micro-batches WITH disorder
    (the 4 arrives a batch late), and the final streak 2→9 is still
    pending at end of input — stop-with-drain must close it exactly
    as batch EOF would (no sentinel rows)."""
    import pytest

    rows = [
        {"k": "a", "ts": "2024-01-01 00:00:10", "v": 1.0},
        {"k": "a", "ts": "2024-01-01 00:00:20", "v": 4.0},
        {"k": "a", "ts": "2024-01-01 00:00:30", "v": 6.0},
        {"k": "a", "ts": "2024-01-01 00:00:40", "v": 2.0},
        {"k": "a", "ts": "2024-01-01 00:00:50", "v": 9.0},
    ]
    p = str(tmp_path / "mr")
    # disorder: the 00:00:20 row arrives AFTER the 00:00:30 row's
    # batch (within the 60 s delay); the tail streak stays pending
    _write_files(
        p, [[rows[0], rows[2]], [rows[1], rows[3]], [rows[4]]]
    )
    script = f"""
        CREATE TABLE mr_ev (k STRING, ts TIMESTAMP, v DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '60' SECOND
        ) WITH ('connector'='filesystem','path'='{p}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE mr_snk (k STRING, n_up BIGINT, peak DOUBLE)
          WITH ('connector'='memory');
        INSERT INTO mr_snk
        SELECT k, n_up, peak
        FROM mr_ev MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY ts
          MEASURES COUNT(UP.*) AS n_up, LAST(UP.v) AS peak
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (STRT UP+)
          DEFINE UP AS UP.v > PREV(UP.v)
        );
        """
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(script)
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)
    got = sorted(
        (r["n_up"], r["peak"])
        for r in spark.table("mr_snk").collect()
    )
    # 1→4→6 (two UP steps, peak 6) and the drained tail 2→9
    assert got == [(1, 9.0), (2, 6.0)]

    # unwatermarked streaming source: loud rejection, never a
    # silently-wrong unordered fold
    nowm = script.replace(
        "ts TIMESTAMP, v DOUBLE,\n"
        "          WATERMARK FOR ts AS ts - INTERVAL '60' SECOND",
        "ts TIMESTAMP, v DOUBLE",
    ).replace("mr_ev", "mr_ev2").replace("mr_snk", "mr_snk2")
    assert "WATERMARK" not in nowm
    runner2 = JobRunner(spark, mode="streaming")
    with pytest.raises(ValueError, match="WATERMARK"):
        runner2.execute_script(nowm)


def test_streaming_desc_secondary_order_buffered_route(
    spark, tmp_path
):
    """DESC on a secondary ORDER BY column through the FULL streaming
    path (round 8): four rows share one event time, so the seq-DESC
    tie order decides the LO→HI adjacencies; a later row advances the
    watermark (releasing the tied rows through watermark_buffered's
    sorted release) and itself stays pending until stop-with-drain
    (exercising the DrainSpec.sort_asc path). DESC pairs (3,2) then
    the cross-release (1,5); ASC would give (1,2),(3,4)."""
    rows = [
        {"k": "a", "ts": "2024-01-01 00:00:10", "seq": 1, "v": 2.0},
        {"k": "a", "ts": "2024-01-01 00:00:10", "seq": 2, "v": 9.0},
        {"k": "a", "ts": "2024-01-01 00:00:10", "seq": 3, "v": 1.0},
        {"k": "a", "ts": "2024-01-01 00:00:10", "seq": 4, "v": 7.0},
        {"k": "a", "ts": "2024-01-01 00:10:00", "seq": 5, "v": 8.0},
    ]
    p = str(tmp_path / "mrdesc")
    # the tied rows arrive shuffled across two files; the far row's
    # batch advances the watermark past them
    _write_files(
        p, [[rows[3], rows[0]], [rows[2], rows[1]], [rows[4]]]
    )
    script = f"""
        CREATE TABLE mrd_ev (k STRING, ts TIMESTAMP, seq BIGINT,
          v DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '60' SECOND
        ) WITH ('connector'='filesystem','path'='{p}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE mrd_snk (k STRING, lo_seq BIGINT, hi_seq BIGINT)
          WITH ('connector'='memory');
        INSERT INTO mrd_snk
        SELECT k, lo_seq, hi_seq
        FROM mrd_ev MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY ts, seq DESC
          MEASURES FIRST(LO.seq) AS lo_seq, FIRST(HI.seq) AS hi_seq
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (LO HI)
          DEFINE LO AS LO.v < 5.0, HI AS HI.v >= 5.0
        );
        """
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(script)
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)
    got = sorted(
        (r["lo_seq"], r["hi_seq"])
        for r in spark.table("mrd_snk").collect()
    )
    assert got == [(1, 5), (3, 2)]


def test_displace_helper_moves_inside_window():
    """The fixture generator itself: displaced rows stay within the
    window of their origin chunk's max, the max row anchors, and no
    rows are lost."""
    from flink_streaming_platform_web_spark.streaming.stream_queries import (
        _displace_across_cuts,
    )

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:09:00",
         "2024-01-01 00:10:00", "2024-01-01 00:20:00"]
    )
    chunks = [
        pd.DataFrame({"ts": ts[:3], "v": [1, 2, 3]}),
        pd.DataFrame({"ts": ts[3:], "v": [4]}),
    ]
    out = _displace_across_cuts(
        chunks, "ts", pd.Timedelta(minutes=5)
    )
    # the 00:09 row (within 5 min of the 00:10 max) moved; the max
    # row itself stayed
    assert sorted(out[0]["v"].tolist()) == [1, 3]
    assert sorted(out[1]["v"].tolist()) == [2, 4]
    assert sum(len(c) for c in out) == 4


def test_frontier_cut_keeps_pre_epoch_rows_for_frontierless_keys():
    """ADVICE r13: the per-key stale-frontier cut used sentinel
    -1 µs for keys WITHOUT a frontier, so negative-epoch (pre-1970)
    rows of those keys were silently dropped whenever any stale
    frontier existed (wm_ms == 0 or a watermark regression). The
    sentinel must sit below every representable timestamp."""
    from flink_streaming_platform_web_spark.streaming.ooo import (
        _frontier_cut,
    )

    new = pd.DataFrame(
        {
            "k": [1, 1, 2, 2],
            "ts": pd.to_datetime(
                [
                    "1969-12-31 23:59:59",  # negative epoch, no frontier
                    "1970-01-01 00:00:05",
                    "2024-01-01 00:00:01",  # at key-2 frontier → cut
                    "2024-01-01 00:00:02",  # above it → kept
                ]
            ),
        }
    )
    frontier_us = int(
        pd.Timestamp("2024-01-01 00:00:01").value // 1000
    )
    out = _frontier_cut(new, {(2,): frontier_us}, ["k"], "ts")
    # key 1 has no frontier: BOTH rows survive, including the
    # pre-1970 one the -1 sentinel used to drop
    assert out["ts"].tolist() == [
        pd.Timestamp("1969-12-31 23:59:59"),
        pd.Timestamp("1970-01-01 00:00:05"),
        pd.Timestamp("2024-01-01 00:00:02"),
    ]


def _over_script(tag, src, snk, set_stmt=""):
    """OVER-route script: watermarked json source → json file sink."""
    return f"""
        {set_stmt}
        CREATE TABLE ev_{tag} (
          k BIGINT, ts TIMESTAMP, v DOUBLE,
          ts_s AS date_format(ts, 'yyyy-MM-dd HH:mm:ss'),
          WATERMARK FOR ts AS ts - INTERVAL '{_DELAY_S}' SECOND
        ) WITH ('connector'='filesystem','path'='{src}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE snk_{tag} (k BIGINT, ts_s STRING, n BIGINT,
          mx DOUBLE) WITH ('connector'='filesystem','path'='{snk}',
                           'format'='json');
        INSERT INTO snk_{tag}
        SELECT k, ts_s,
               COUNT(*) OVER w AS n, MAX(v) OVER w AS mx
        FROM ev_{tag}
        WINDOW w AS (PARTITION BY k ORDER BY ts
                     RANGE BETWEEN INTERVAL '2' MINUTE PRECEDING
                     AND CURRENT ROW);
        """


def test_crash_before_drain_then_restart_drains_once(spark, tmp_path):
    """Crash-consistency of stop-with-drain: the process dies AFTER
    the wrapped query stopped but BEFORE the drain ran (simulated by
    stopping the inner query directly). The pending tail rows must
    survive in the checkpointed state store, and a restart from the
    SAME checkpoint + a clean stop() must emit exactly the missing
    tail — total output equals the batch oracle with no duplicates
    (the file sink's commit log makes the streamed rows exactly-once;
    the drain appends only what the watermark never released)."""
    from flink_streaming_platform_web_spark.streaming.checkpoints import (
        CheckPointParam,
    )

    rows = _mk_rows(n_per_key=12, keys=(1,))
    expected = _batch_over(spark, rows)
    src = str(tmp_path / "src")
    snk = str(tmp_path / "snk")
    ckpt = str(tmp_path / "ckpt")
    _write_files(src, [rows[:6], rows[6:]])
    script = _over_script("cr", src, snk)
    sink_schema = "k long, ts_s string, n long, mx double"

    r1 = JobRunner(
        spark,
        mode="streaming",
        checkpoint=CheckPointParam(checkpoint_dir=ckpt),
    )
    res1 = r1.execute_script(script)
    q = res1.streaming_queries[0]
    q.processAllAvailable()
    # simulated crash: the WRAPPED query stops; drain never runs
    q._q.stop()
    q._q.awaitTermination(120)
    partial = (
        spark.read.schema(sink_schema).json(snk).collect()
    )
    # the crash really cost the tail: released rows present, pending
    # rows (inside the watermark delay of max ts) absent
    assert 0 < len(partial) < len(expected)

    # restart from the SAME checkpoint, no new data, clean stop
    r2 = JobRunner(
        spark,
        mode="streaming",
        checkpoint=CheckPointParam(checkpoint_dir=ckpt),
    )
    res2 = r2.execute_script(script)
    q2 = res2.streaming_queries[0]
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(120)
    got_rows = (
        spark.read.schema(sink_schema).json(snk).collect()
    )
    got = {(r["k"], r["ts_s"]): (r["n"], r["mx"]) for r in got_rows}
    assert got == expected
    assert len(got_rows) == len(expected), "drain duplicated rows"


def test_streaming_nested_group_buffered_route(spark, tmp_path):
    """Round-8 nested pattern grammar on the STREAMING route: the
    AST-walked (STRT (UP DOWN)+) pattern behind the watermark-
    buffered front end, over disordered micro-batches. The greedy
    repetition runs into the buffer end mid-pair (a dangling UP), so
    the match must stay PENDING until stop-with-drain backtracks it
    closed at two whole pairs — exactly what batch EOF would do."""
    rows = [
        {"k": "a", "ts": "2024-01-01 00:00:10", "v": 1.0},
        {"k": "a", "ts": "2024-01-01 00:00:20", "v": 5.0},
        {"k": "a", "ts": "2024-01-01 00:00:30", "v": 2.0},
        {"k": "a", "ts": "2024-01-01 00:00:40", "v": 6.0},
        {"k": "a", "ts": "2024-01-01 00:00:50", "v": 3.0},
        {"k": "a", "ts": "2024-01-01 00:01:00", "v": 7.0},
    ]
    p = str(tmp_path / "nested")
    # disorder: the 00:00:20 row arrives one batch late, behind
    # 00:00:30 (inside the 60 s delay)
    _write_files(
        p,
        [[rows[0], rows[2]], [rows[1], rows[3]], [rows[4], rows[5]]],
    )
    script = f"""
        CREATE TABLE ng_ev (k STRING, ts TIMESTAMP, v DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '60' SECOND
        ) WITH ('connector'='filesystem','path'='{p}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE ng_snk (k STRING, n_pairs BIGINT, last_dn DOUBLE)
          WITH ('connector'='memory');
        INSERT INTO ng_snk
        SELECT k, n_pairs, last_dn
        FROM ng_ev MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY ts
          MEASURES COUNT(UP.*) AS n_pairs, LAST(DOWN.v) AS last_dn
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (STRT (UP DOWN)+)
          DEFINE UP AS UP.v > PREV(UP.v),
                 DOWN AS DOWN.v < PREV(DOWN.v)
        );
        """
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(script)
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)
    got = [
        (r["n_pairs"], r["last_dn"])
        for r in spark.table("ng_snk").collect()
    ]
    # 1→(5,2)→(6,3): two whole pairs; the dangling 7 closes nothing
    assert got == [(2, 3.0)]


def test_plain_stop_keeps_state_then_resumed_drain_completes(
    spark, tmp_path
):
    """``SET graft.stop.drain = false`` is Flink's PLAIN stop
    (savepoint-and-resume): stop() leaves the buffered tail in the
    checkpointed state instead of flushing it. A later run from the
    SAME checkpoint with the default drain-on-stop emits exactly the
    missing rows — the supported-API twin of the crash test above."""
    from flink_streaming_platform_web_spark.streaming.checkpoints import (
        CheckPointParam,
    )

    rows = _mk_rows(n_per_key=12, keys=(1,))
    expected = _batch_over(spark, rows)
    src = str(tmp_path / "src")
    snk = str(tmp_path / "snk")
    ckpt = str(tmp_path / "ckpt")
    _write_files(src, [rows[:6], rows[6:]])
    sink_schema = "k long, ts_s string, n long, mx double"

    def run(set_stmt):
        r = JobRunner(
            spark,
            mode="streaming",
            checkpoint=CheckPointParam(checkpoint_dir=ckpt),
        )
        res = r.execute_script(_over_script("ps", src, snk, set_stmt))
        for q in res.streaming_queries:
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(120)

    run("SET 'graft.stop.drain' = 'false';")
    partial = spark.read.schema(sink_schema).json(snk).collect()
    assert 0 < len(partial) < len(expected)  # tail NOT flushed

    run("")  # default: stop --drain
    got_rows = spark.read.schema(sink_schema).json(snk).collect()
    got = {(r["k"], r["ts_s"]): (r["n"], r["mx"]) for r in got_rows}
    assert got == expected
    assert len(got_rows) == len(expected)


def test_streaming_random_nested_patterns_equal_batch(spark, tmp_path):
    """Randomized differential for the streaming buffered CEP route
    with ROUND-8 grammar: random nested/PERMUTE patterns over random
    values and random disordered staging must produce exactly the
    batch matcher's matches once drained. Every pattern ends in an
    always-true Z atom so (COUNT(*), LAST(Z.v)) identifies matches."""
    import random

    from flink_streaming_platform_web_spark.operators import cep

    patterns = [
        "STRT (A B)+ Z",
        "(A B | C) Z",
        "PERMUTE(A, B) Z",
        "A (B (C)?)+ Z",
    ]
    define = (
        "DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7,"
        " C AS C.v >= 7"
    )
    for seed, pat in zip((11, 12, 13, 14), patterns):
        rng = random.Random(seed)
        rows = [
            {
                "k": "a",
                "ts": f"2024-01-01 00:{i:02d}:00",
                "v": float(rng.randint(0, 9)),
            }
            for i in range(26)
        ]
        # batch expected via the SAME matcher the batch entries use
        clause = f"""
          PARTITION BY k
          ORDER BY ts
          MEASURES COUNT(*) AS n, LAST(Z.v) AS zv
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ({pat})
          {define}
        """
        spec = cep.parse_match_recognize(clause)
        import pandas as _pd

        mrows = [
            {"k": r["k"], "ts": _pd.Timestamp(r["ts"]), "v": r["v"]}
            for r in rows
        ]
        matches, _ = cep._run_matcher(mrows, spec)
        expected = sorted(
            (out["n"], out["zv"])
            for _s, _e, outs, _ro in matches
            for out in outs
        )
        chunks = _random_disorder(rows, seed, files=3)
        p = str(tmp_path / f"rnd{seed}")
        _write_files(p, chunks)
        tag = f"rnd{seed}"
        script = f"""
            CREATE TABLE ev_{tag} (k STRING, ts TIMESTAMP, v DOUBLE,
              WATERMARK FOR ts AS ts - INTERVAL '{_DELAY_S}' SECOND
            ) WITH ('connector'='filesystem','path'='{p}',
                    'format'='json','source.max-files-per-trigger'='1');
            CREATE TABLE snk_{tag} (k STRING, n BIGINT, zv DOUBLE)
              WITH ('connector'='memory');
            INSERT INTO snk_{tag}
            SELECT k, n, zv
            FROM ev_{tag} MATCH_RECOGNIZE (
              PARTITION BY k
              ORDER BY ts
              MEASURES COUNT(*) AS n, LAST(Z.v) AS zv
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN ({pat})
              {define}
            );
            """
        runner = JobRunner(spark, mode="streaming")
        result = runner.execute_script(script)
        for q in result.streaming_queries:
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(120)
        got = sorted(
            (r["n"], r["zv"])
            for r in spark.table(f"snk_{tag}").collect()
        )
        assert got == expected, (pat, seed, got, expected)


def test_drain_resolves_buffered_operator_behind_second_stateful_op(
    spark, tmp_path
):
    """ADVICE r8 (medium): when a SECOND stateful operator shares the
    buffered query's checkpoint (here dropDuplicates downstream of the
    watermark buffer), the buffered applyInPandasWithState may not be
    operator 0 — drain_pending must resolve its id from the
    state-metadata reader and flush the pending tail, never unpickle
    the dedup operator's state."""
    import pandas as pd

    from flink_streaming_platform_web_spark.streaming import ooo

    rows = [
        {"k": 1, "ts": "2024-01-01 00:00:05", "v": 1.0},
        {"k": 1, "ts": "2024-01-01 00:00:25", "v": 2.0},
        {"k": 2, "ts": "2024-01-01 00:00:35", "v": 3.0},
    ]
    p = str(tmp_path / "src")
    _write_files(p, [rows[:2], rows[2:]])
    src = (
        spark.readStream.format("json")
        .schema("k BIGINT, ts TIMESTAMP, v DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .load(p)
        .withWatermark("ts", "60 seconds")
    )

    def fold(inner, new, final=False):
        # rows protocol: row dicts from the buffer, a sorted frame
        # from drain
        rows = new if isinstance(new, list) else ooo.rows_of_frame(new)
        n = inner or 0
        out = [
            {"k": r["k"], "ts": r["ts"], "n": n + i}
            for i, r in enumerate(rows, 1)
        ]
        if not isinstance(new, list):
            out = pd.DataFrame(out, columns=["k", "ts", "n"])
        return n + len(rows), out

    fold.rows_protocol = True
    fold.out_cols = lambda in_cols: ["k", "ts", "n"]
    drains: list = []
    buffered = ooo.watermark_buffered(
        src, ["k"], "ts", ["ts"], fold,
        "k BIGINT, ts TIMESTAMP, n BIGINT", drain_out=drains,
    )
    # the second stateful operator in the SAME query
    out = buffered.dropDuplicates(["k", "ts"])
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName("drain2op")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    # the watermark (delay 60s) never passed any row — everything is
    # pending; the drain must find the buffer among TWO operators
    ops = (
        spark.read.format("state-metadata")
        .load(ckpt)
        .select("operatorId", "operatorName")
        .distinct()
        .collect()
    )
    assert len(ops) >= 2, ops  # the scenario is real: two stateful ops
    by_name = {r["operatorName"]: r["operatorId"] for r in ops}
    # the plan puts the dedup at operator 0 and the buffer at 1 — the
    # pre-fix hardcoded id 0 would have read the WRONG operator
    assert by_name["applyInPandasWithState"] != 0 or len(by_name) == 1
    drained = ooo.drain_pending(spark, ckpt, drains[0])
    assert drained is not None
    got = {(r["k"], r["n"]) for r in drained.collect()}
    assert got == {(1, 1), (1, 2), (2, 1)}, got
    # and pointing drain at the dedup operator trips the schema guard
    # instead of unpickling foreign state
    import pytest

    wrong = by_name["dedupe"]
    with pytest.raises(Exception, match="refusing|groupState|schema"):
        out = ooo.drain_pending(
            spark, ckpt, drains[0], operator_id=wrong
        )
        if out is not None:  # the guard may also surface at collect
            out.collect()


def test_null_partition_key_groups_like_spark(spark, tmp_path):
    """A null partition key is a GROUP, not a dropped row (Spark's
    groupBy semantics — and the key-grouped bucket layout of round 13
    must normalize NaN to one stable state entry across micro-batches
    rather than minting a fresh NaN key per batch). Differential
    against Spark's own batch window over the same rows, null key
    included."""
    rows = [
        {"k": None, "ts": "2024-01-01 00:00:10", "v": 1.0},
        {"k": 1, "ts": "2024-01-01 00:00:20", "v": 5.0},
        {"k": None, "ts": "2024-01-01 00:01:00", "v": 2.0},
        {"k": 1, "ts": "2024-01-01 00:01:30", "v": 6.0},
        # second batch touches the SAME null key again: the state
        # entry must be the one batch 1 created
        {"k": None, "ts": "2024-01-01 00:01:40", "v": 3.0},
        {"k": None, "ts": "2024-01-01 00:30:00", "v": 4.0},
        {"k": 1, "ts": "2024-01-01 00:30:00", "v": 7.0},
    ]
    p = str(tmp_path / "nullkey")
    _write_files(p, [rows[:4], rows[4:]])
    got = _run_over(spark, p, "nullkey")
    expected = _batch_over(spark, rows)
    assert got == expected
    # the null-key group really is present in the converged output
    assert any(k is None for k, _ in got), got


def test_randomized_bucket_sharing_differential(spark, tmp_path, monkeypatch):
    """Randomized differential on the key-grouped buffer's NEW path:
    many logical keys sharing ONE state bucket. The production count
    spreads a handful of test keys over many buckets, so this test
    sizes fresh state at 2 key groups and runs 12 keys ×
    random within-delay disorder through the runner's OVER route —
    per-key release order, per-key frontiers, and per-key inner
    state must all survive bucket cohabitation, converging to
    Spark's own batch window answer. Tail rows stay pending at stop,
    so stop-with-drain's bucket iteration is in the differential
    too."""
    from flink_streaming_platform_web_spark.streaming import ooo

    monkeypatch.setattr(ooo, "sized_key_groups", lambda spark: 2)
    rows = _mk_rows(n_per_key=12, keys=tuple(range(1, 13)), step_s=15)
    expected = _batch_over(spark, rows)
    for seed in (7, 8):
        chunks = _random_disorder(rows, seed, files=3)
        p = str(tmp_path / f"share{seed}")
        _write_files(p, chunks)
        got = _run_over(spark, p, f"share{seed}")
        assert got == expected, (
            f"seed {seed}: {len(got)} rows vs {len(expected)}"
        )


def test_null_event_time_dropped_on_arrival(spark, tmp_path):
    """A row with a NULL event time is dropped on arrival, in every
    batch. Before any watermark existed it used to release at once
    and fold as its key's earliest row; later it vanished silently."""
    rows = _mk_rows(n_per_key=12, keys=(1, 2))
    nulls = [
        {"k": 1, "ts": None, "v": 99.0},
        {"k": 2, "ts": None, "v": 98.0},
    ]
    p = str(tmp_path / "nullts")
    _write_files(p, [rows[:8] + nulls[:1], rows[8:] + nulls[1:]])
    got = _run_over(spark, p, "nullts")
    assert got == _batch_over(spark, rows)


def _stop_restore_over(spark, tmp_path, tag, rows, before_restore):
    """Run the OVER route over the first half of ``rows`` with a
    checkpoint, stop without drain (state stays buffered), call
    ``before_restore(ckpt)``, stage the second half, restore from the
    same checkpoint and stop with drain. Returns the sink rows as
    {(k, ts_s): (n, mx)} plus the total row count."""
    from flink_streaming_platform_web_spark.streaming.checkpoints import (
        CheckPointParam,
    )

    src = str(tmp_path / f"src_{tag}")
    snk = str(tmp_path / f"snk_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    half = len(rows) // 2
    _write_files(src, [rows[:half // 2], rows[half // 2:half]])

    def run(set_stmt):
        r = JobRunner(
            spark,
            mode="streaming",
            checkpoint=CheckPointParam(checkpoint_dir=ckpt),
        )
        res = r.execute_script(_over_script(tag, src, snk, set_stmt))
        for q in res.streaming_queries:
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(120)

    run("SET 'graft.stop.drain' = 'false';")
    before_restore(ckpt)
    later = os.path.join(src, "c9.json")
    with open(later, "w") as fh:
        for r in rows[half:]:
            fh.write(json.dumps(r) + "\n")
    mt = max(
        os.path.getmtime(os.path.join(src, f)) for f in os.listdir(src)
    )
    os.utime(later, (mt + 5, mt + 5))
    run("")
    got_rows = spark.read.schema(
        "k long, ts_s string, n long, mx double"
    ).json(snk).collect()
    got = {(r["k"], r["ts_s"]): (r["n"], r["mx"]) for r in got_rows}
    return got, len(got_rows)


def test_restore_keeps_recorded_key_groups(spark, tmp_path):
    """The key-group count is recorded with the query's checkpoint on
    its first start and read back on restore: restored under a
    different ``spark.sql.shuffle.partitions`` (which would size
    fresh state differently), every key still hashes into the bucket
    holding its buffered rows and window state, and the output
    converges to the batch answer."""
    from flink_streaming_platform_web_spark.streaming import ooo

    rows = _mk_rows(n_per_key=16, keys=tuple(range(1, 13)), step_s=15)
    expected = _batch_over(spark, rows)
    sized = ooo.sized_key_groups(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def shrink(ckpt):
        with open(os.path.join(ckpt, "q0_snk_rs", ooo._KG_RECORD)) as fh:
            assert json.load(fh) == {"key_groups": sized}
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        assert ooo.sized_key_groups(spark) != sized

    try:
        got, n = _stop_restore_over(spark, tmp_path, "rs", rows, shrink)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got == expected
    assert n == len(expected)


def test_unrecorded_checkpoint_restores_with_legacy_key_groups(
    spark, tmp_path, monkeypatch
):
    """A checkpoint written before the count was recorded (1024 key
    groups, no record) restores with 1024: the output is identical to
    the batch answer, as it was before the restart."""
    from flink_streaming_platform_web_spark.streaming import ooo

    rows = _mk_rows(n_per_key=16, keys=tuple(range(1, 13)), step_s=15)
    expected = _batch_over(spark, rows)

    def drop_record(ckpt):
        # the earlier layout: state hashed into 1024 groups, no record
        os.remove(os.path.join(ckpt, "q0_snk_lg", ooo._KG_RECORD))
        monkeypatch.undo()

    monkeypatch.setattr(
        ooo, "sized_key_groups", lambda spark: ooo.LEGACY_KEY_GROUPS
    )
    got, n = _stop_restore_over(spark, tmp_path, "lg", rows, drop_record)
    assert got == expected
    assert n == len(expected)


def test_three_tuple_bucket_state_is_refused():
    """Bucket state in the 3-tuple (pending, frontiers, inners) layout
    raises an error naming that layout instead of being read."""
    import pickle

    import pytest

    from flink_streaming_platform_web_spark.streaming import ooo

    with pytest.raises(ValueError, match=r"3-tuple \(pending, frontiers"):
        ooo._load_bucket(pickle.dumps((None, {}, {})))
