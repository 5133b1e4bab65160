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
import pytest

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


def _run_over(spark, path, tag, sets=""):
    """Stream the staged files through the runner's OVER route
    (watermarked source → watermark_buffered → stop-with-drain) and
    return {(k, ts_s): (n, mx)}. ``sets`` prefixes SET statements."""
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(sets + f"""
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


def _random_disorder(
    rows, seed, files=4, slack_s=_DELAY_S - 20, random_cuts=False
):
    """Random arrival permutation that stays inside the watermark
    delay: rows are cut into ts-ordered files (evenly, or at random
    points with ``random_cuts``), then each row within ``slack_s`` of
    its file's max is displaced into the next file with p=.5, and
    every file's internal order is shuffled. Any such permutation
    must produce the ordered run's exact output."""
    rng = random.Random(seed)
    n = len(rows)
    if random_cuts:
        cuts = [0, *sorted(rng.sample(range(1, n), files - 1)), n]
    else:
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


@pytest.mark.parametrize("sink", ["memory", "filesystem"])
def test_streaming_match_recognize_buffered_route(spark, tmp_path, sink):
    """Streaming MATCH_RECOGNIZE through the runner's SQL route
    (round 8): watermarked source → watermark-buffered CEP. The
    rising streak 1→4→6 is split across micro-batches WITH disorder
    (the 4 arrives a batch late), and the final streak 2→9 is still
    pending at end of input — stop-with-drain must close it exactly
    as batch EOF would (no sentinel rows). Both streaming routes run
    the same rows: a memory sink takes the foreachBatch tier route
    (fb_cep), a filesystem sink the watermark-buffered NFA route."""
    rows = [
        {"k": "a", "ts": "2024-01-01 00:00:10", "v": 1.0},
        {"k": "a", "ts": "2024-01-01 00:00:20", "v": 4.0},
        {"k": "a", "ts": "2024-01-01 00:00:30", "v": 6.0},
        {"k": "a", "ts": "2024-01-01 00:00:40", "v": 2.0},
        {"k": "a", "ts": "2024-01-01 00:00:50", "v": 9.0},
    ]
    p = str(tmp_path / "mr")
    snk = str(tmp_path / "mr_snk")
    # disorder: the 00:00:20 row arrives AFTER the 00:00:30 row's
    # batch (within the 60 s delay); the tail streak stays pending
    _write_files(
        p, [[rows[0], rows[2]], [rows[1], rows[3]], [rows[4]]]
    )
    sink_opts = {
        "memory": "'connector'='memory'",
        "filesystem": f"'connector'='filesystem','path'='{snk}',"
        "'format'='json'",
    }
    script = f"""
        CREATE TABLE mr_ev (k STRING, ts TIMESTAMP, v DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '60' SECOND
        ) WITH ('connector'='filesystem','path'='{p}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE mr_snk (k STRING, n_up BIGINT, peak DOUBLE)
          WITH ({sink_opts[sink]});
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
    fb_queries = [
        q for q in result.streaming_queries
        if (q.name or "").startswith("fb_cep_")
    ]
    assert len(fb_queries) == (1 if sink == "memory" else 0)
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)
    out = (
        spark.table("mr_snk")
        if sink == "memory"
        else spark.read.schema("k string, n_up long, peak double").json(snk)
    )
    got = sorted((r["n_up"], r["peak"]) for r in out.collect())
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


def _frontier_cut(new, stale, key_list, ts_col):
    """Drop rows at or before their key's stale frontier: the
    front end's per-row mask (``ooo._frontier_mask``), applied."""
    from flink_streaming_platform_web_spark.streaming.ooo import (
        _frontier_mask,
        to_epoch_us,
    )

    return new[
        _frontier_mask(new, stale, key_list, to_epoch_us(new[ts_col]))
    ]


def test_frontier_cut_keeps_pre_epoch_rows_for_frontierless_keys():
    """ADVICE r13: the per-key stale-frontier cut used sentinel
    -1 µs for keys WITHOUT a frontier, so negative-epoch (pre-1970)
    rows of those keys were silently dropped whenever any stale
    frontier existed (wm_ms == 0 or a watermark regression). The
    sentinel must sit below every representable timestamp."""
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


def test_buffered_stream_raises_arrow_batch_in_its_own_session(
    spark, tmp_path
):
    """A watermark-buffered stream runs with 200k-row Arrow batches
    (the applyInPandasWithState channel re-buffers a group's state
    with every chunk), but only in the session StreamExecution clones
    before ``start()`` returns: the driver session keeps its own
    value for every batch query after it."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    src = str(tmp_path / "src")
    snk = str(tmp_path / "snk")
    _write_files(src, [_mk_rows(n_per_key=4, keys=(1,))])
    before = spark.conf.get(key, None)
    spark.conf.set(key, "5000")
    try:
        res = JobRunner(spark, mode="streaming").execute_script(
            _over_script("ab", src, snk)
        )
        (q,) = res.streaming_queries
        try:
            stream = q._jsq.streamingQuery()
            assert stream.sparkSessionForStream().conf().get(key) == "200000"
            assert spark.conf.get(key) == "5000"
        finally:
            q.stop()
            q.awaitTermination(120)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


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

    def fold(inner, rows, final=False):
        # row dicts from the buffer, live and at drain
        n = inner or 0
        out = [
            {"k": r["k"], "ts": r["ts"], "n": n + i}
            for i, r in enumerate(rows, 1)
        ]
        return n + len(rows), out

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


# -- release on the watermark of the batch that carries the rows ----------


def _ts(sec):
    return (
        pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=sec)
    ).strftime("%Y-%m-%d %H:%M:%S")


def _committed_batch_rows(spark, snk, schema, batch):
    """Rows of the files a file sink committed for micro-batch
    ``batch``, as its ``_spark_metadata`` log entry lists them."""
    with open(os.path.join(snk, "_spark_metadata", str(batch))) as fh:
        entries = fh.read().splitlines()[1:]  # line 0 is the version
    paths = [json.loads(e)["path"] for e in entries if e.strip()]
    return spark.read.schema(schema).json(paths).collect() if paths else []


_LOHI_MR = """
          PARTITION BY k
          ORDER BY ts
          MEASURES FIRST(LO.v) AS lo_v, FIRST(HI.v) AS hi_v
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (LO HI)
          DEFINE LO AS LO.v < 20.0, HI AS HI.v >= 80.0
"""


def _mr_file_script(tag, src, snk, sets=""):
    """NFA-route script: a file sink keeps MATCH_RECOGNIZE off the
    memory-sink foreachBatch route."""
    return f"""
        {sets}
        CREATE TABLE ev_{tag} (k STRING, ts TIMESTAMP, v DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '{_DELAY_S}' SECOND
        ) WITH ('connector'='filesystem','path'='{src}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE snk_{tag} (k STRING, lo_v DOUBLE, hi_v DOUBLE)
          WITH ('connector'='filesystem','path'='{snk}',
                'format'='json');
        INSERT INTO snk_{tag}
        SELECT k, lo_v, hi_v FROM ev_{tag} MATCH_RECOGNIZE ({_LOHI_MR});
        """


def _run_script(spark, script, before_stop=None, **kw):
    """Run ``script`` to the end of its staged input, call
    ``before_stop()`` (the stop-with-drain removes a file sink's
    ``_spark_metadata``), then stop."""
    result = JobRunner(spark, mode="streaming", **kw).execute_script(
        script
    )
    for q in result.streaming_queries:
        q.processAllAvailable()
    seen = before_stop() if before_stop is not None else None
    for q in result.streaming_queries:
        q.stop()
        q.awaitTermination(120)
    return result, seen


def test_nfa_route_releases_on_its_own_batch_watermark(spark, tmp_path):
    """Batch 0 carries a match (LO at 0 s, HI at 10 s), the row at
    20 s that closes it (the matcher holds a match ending at the
    buffer end, as a longer one could still follow), and an event at
    100 s: past the 60 s delay, batch 0's rows imply a 40 s
    watermark, which releases all three, so the file sink commits
    the match with batch 0. Releasing on Spark's watermark alone (0
    in batch 0) committed it only with batch 1. The converged output
    is the batch matcher's."""
    src, snk = str(tmp_path / "src"), str(tmp_path / "snk")
    _write_files(src, [
        [
            {"k": "a", "ts": _ts(0), "v": 5.0},
            {"k": "a", "ts": _ts(10), "v": 90.0},
            {"k": "a", "ts": _ts(20), "v": 50.0},
            {"k": "a", "ts": _ts(100), "v": 50.0},
        ],
        [{"k": "a", "ts": _ts(110), "v": 6.0},
         {"k": "a", "ts": _ts(120), "v": 95.0}],
    ])
    schema = "k string, lo_v double, hi_v double"
    result, first = _run_script(
        spark, _mr_file_script("sb", src, snk),
        lambda: _committed_batch_rows(spark, snk, schema, 0),
    )
    assert not any(
        (q.name or "").startswith("fb_cep_")
        for q in result.streaming_queries
    )
    assert [(r["lo_v"], r["hi_v"]) for r in first] == [(5.0, 90.0)]
    got = sorted(
        (r["lo_v"], r["hi_v"])
        for r in spark.read.schema(schema).json(snk).collect()
    )
    assert got == [(5.0, 90.0), (6.0, 95.0)]


def test_over_route_releases_on_its_own_batch_watermark(spark, tmp_path):
    """The OVER route's twin of the test above: the two rows batch 0's
    own watermark (100 s − 60 s) passes are committed with batch 0."""
    src, snk = str(tmp_path / "src"), str(tmp_path / "snk")
    rows = [
        {"k": 1, "ts": _ts(0), "v": 1.0},
        {"k": 1, "ts": _ts(10), "v": 2.0},
        {"k": 1, "ts": _ts(100), "v": 3.0},
    ]
    _write_files(src, [rows])
    schema = "k long, ts_s string, n long, mx double"
    _, first = _run_script(
        spark, _over_script("osb", src, snk),
        lambda: _committed_batch_rows(spark, snk, schema, 0),
    )
    assert sorted(r["ts_s"] for r in first) == [_ts(0), _ts(10)]
    got = {
        (r["k"], r["ts_s"]): (r["n"], r["mx"])
        for r in spark.read.schema(schema).json(snk).collect()
    }
    assert got == _batch_over(spark, rows)


@pytest.mark.parametrize("shape", ["union", "temporal"])
def test_multi_watermark_inputs_keep_current_watermark_cut(
    spark, tmp_path, shape
):
    """An input with two watermarks — a view UNION ALL of two
    watermarked sources, or the temporal join's two sides — gets
    Spark's minimum of them, which one side's rows cannot bound. So
    such an operator releases on the current watermark only: nothing
    in batch 0, whose rows lift one side 140 s past the other.
    Releasing up to the faster side's 140 s would have dropped batch
    1's rows at 30–60 s, which Spark's 40 s (or earlier) watermark
    admits; the converged output keeps them."""
    from flink_streaming_platform_web_spark.operators import cep
    from flink_streaming_platform_web_spark.streaming import ooo
    from flink_streaming_platform_web_spark.streaming.temporal import (
        event_time_temporal_join,
    )

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")

    def stream(path, schema, col):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(path)
            .withWatermark(col, f"{_DELAY_S} seconds")
        )

    if shape == "union":
        _write_files(pa, [[
            {"k": "a", "ts": _ts(0), "v": 5.0},
            {"k": "a", "ts": _ts(10), "v": 90.0},
            {"k": "a", "ts": _ts(200), "v": 50.0},
        ]])
        _write_files(pb, [
            [{"k": "a", "ts": _ts(100), "v": 50.0}],
            [{"k": "a", "ts": _ts(50), "v": 6.0},
             {"k": "a", "ts": _ts(60), "v": 95.0}],
        ])
        schema = "k STRING, ts TIMESTAMP, v DOUBLE"
        stream(pa, schema, "ts").createOrReplaceTempView("mw_a")
        stream(pb, schema, "ts").createOrReplaceTempView("mw_b")
        src = spark.sql("SELECT * FROM mw_a UNION ALL SELECT * FROM mw_b")
        sole = ooo._sole_watermark_delay_ms
        assert sole(spark.table("mw_a"), "ts") == _DELAY_S * 1000
        assert sole(spark.table("mw_a"), "TS") == _DELAY_S * 1000
        assert sole(spark.table("mw_a"), "v") is None
        assert sole(src, "ts") is None
        # one watermark, but a stream outside it: its rows never move
        # Spark's watermark, so they cannot lift the cut either
        bare = spark.readStream.schema(schema).json(pb)
        assert sole(spark.table("mw_a").unionByName(bare), "ts") is None
        spec = cep.parse_match_recognize(_LOHI_MR)
        out_schema = "k string, lo_v double, hi_v double"
        drains: list = []
        out = cep.stream_match_recognize(
            src, spec, cep.infer_output_schema(spec, src),
            drain_out=drains,
        )
        key = ("lo_v", "hi_v")
        want = [(5.0, 90.0), (6.0, 95.0)]
    else:
        _write_files(pa, [  # build side: versions
            [{"k": 1, "vts": _ts(0), "rate": 1.1}],
            [{"k": 1, "vts": _ts(30), "rate": 1.3}],
        ])
        _write_files(pb, [  # probe side
            [{"pid": 1, "k": 1, "pts": _ts(5), "amt": 1.0},
             {"pid": 3, "k": 1, "pts": _ts(200), "amt": 3.0}],
            [{"pid": 2, "k": 1, "pts": _ts(40), "amt": 2.0}],
        ])
        out_schema = "pid long, amt double, rate double"
        drains = []
        out = event_time_temporal_join(
            stream(pb, "pid bigint, k bigint, pts timestamp, amt double",
                   "pts"),
            stream(pa, "k bigint, vts timestamp, rate double", "vts"),
            ["k"], ["k"], "pts", "vts",
            [("pid", "pid"), ("amt", "amt")], [("rate", "rate")],
            drain_out=drains,
        )
        key = ("pid", "rate")
        want = [(1, 1.1), (2, 1.3), (3, 1.3)]
    snk, ckpt = str(tmp_path / "snk"), str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("json")
        .option("path", snk)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(120)
    assert _committed_batch_rows(spark, snk, out_schema, 0) == []
    tail = ooo.drain_pending(spark, ckpt, drains[0])
    rows = spark.read.schema(out_schema).json(snk).collect() + (
        tail.collect() if tail is not None else []
    )
    assert sorted(tuple(r[c] for c in key) for r in rows) == want


def test_frontiers_stay_at_or_below_the_next_watermark(spark, tmp_path):
    """Every frontier a batch sets is at or below the watermark Spark
    records for the next batch (``nextBatchWatermarkMs`` in the commit
    log), across a plain stop and a restore from the checkpoint — so
    the per-row frontier cut never has a stale frontier to apply."""
    from flink_streaming_platform_web_spark.streaming import ooo
    from flink_streaming_platform_web_spark.streaming.checkpoints import (
        CheckPointParam,
    )

    rng = random.Random(5)
    rows = [
        {"k": k, "ts": _ts(10 * i + j), "v": float(rng.randrange(100))}
        for i in range(30)
        for j, k in enumerate("abcd")
    ]
    src, snk = str(tmp_path / "src"), str(tmp_path / "snk")
    ckpt = str(tmp_path / "ckpt")
    _write_files(src, [rows[:40], rows[40:80]])
    plain = "SET 'graft.stop.drain' = 'false';"
    script = _mr_file_script("fi", src, snk, plain)
    _run_script(spark, script, checkpoint=CheckPointParam(checkpoint_dir=ckpt))
    later = os.path.join(src, "c9.json")
    with open(later, "w") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in rows[80:])
    os.utime(later, (os.path.getmtime(src + "/c1.json") + 5,) * 2)
    _run_script(spark, script, checkpoint=CheckPointParam(checkpoint_dir=ckpt))

    qckpt = os.path.join(ckpt, "q0_snk_fi")
    commits = os.path.join(qckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    with open(os.path.join(commits, str(last))) as fh:
        next_wm_ms = json.loads(fh.read().splitlines()[1])[
            "nextBatchWatermarkMs"
        ]
    op = ooo._buffered_operator_id(spark, qckpt)
    blobs = (
        spark.read.format("statestore")
        .option("operatorId", op)
        .load(qckpt)
        .select("value.groupState.s")
        .collect()
    )
    frontiers = [
        f
        for (b,) in blobs
        for f in ooo._load_bucket(bytes(b))[2].values()
    ]
    assert len(frontiers) == 4  # every key released rows
    assert max(frontiers) <= next_wm_ms * 1000
    assert next_wm_ms * 1000 == pd.Timestamp(_ts(293 - _DELAY_S)).value // 1000


def test_randomized_release_cut_differential(spark, tmp_path):
    """Random disorder inside the delay at random micro-batch cuts, on
    the NFA MATCH_RECOGNIZE route (a file sink) and the OVER route:
    releasing on each batch's own watermark, the converged sink still
    equals the batch answer."""
    from flink_streaming_platform_web_spark.operators import cep

    patterns = {
        "STRT UP+ Z": "DEFINE UP AS UP.v > PREV(UP.v)",
        "LO HI Z": "DEFINE LO AS LO.v < 3, HI AS HI.v >= 7",
        "A (B (C)?)+ Z": (
            "DEFINE A AS A.v < 3, B AS B.v >= 3 AND B.v < 7,"
            " C AS C.v >= 7"
        ),
    }
    for seed, (pat, define) in zip((21, 22, 23), patterns.items()):
        rng = random.Random(seed)
        rows = sorted(
            (
                {"k": k, "ts": _ts(10 * i + j),
                 "v": float(rng.randint(0, 9))}
                for i in range(30)
                for j, k in enumerate("ab")
            ),
            key=lambda r: r["ts"],
        )
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
        expected = []
        for k in "ab":
            matches, _ = cep._run_matcher(
                [
                    {"k": k, "ts": pd.Timestamp(r["ts"]), "v": r["v"]}
                    for r in rows
                    if r["k"] == k
                ],
                spec,
            )
            expected += [
                (k, o["n"], o["zv"]) for *_m, outs, _ro in matches
                for o in outs
            ]
        chunks = _random_disorder(
            rows, seed, files=rng.randint(3, 6), random_cuts=True
        )
        tag = f"rc{seed}"
        src, snk = str(tmp_path / tag), str(tmp_path / f"{tag}_snk")
        _write_files(src, chunks)
        _run_script(spark, f"""
            CREATE TABLE ev_{tag} (k STRING, ts TIMESTAMP, v DOUBLE,
              WATERMARK FOR ts AS ts - INTERVAL '{_DELAY_S}' SECOND
            ) WITH ('connector'='filesystem','path'='{src}',
                    'format'='json','source.max-files-per-trigger'='1');
            CREATE TABLE snk_{tag} (k STRING, n BIGINT, zv DOUBLE)
              WITH ('connector'='filesystem','path'='{snk}',
                    'format'='json');
            INSERT INTO snk_{tag}
            SELECT k, n, zv FROM ev_{tag} MATCH_RECOGNIZE ({clause});
            """)
        got = sorted(
            (r["k"], r["n"], r["zv"])
            for r in spark.read.schema("k string, n long, zv double")
            .json(snk)
            .collect()
        )
        assert got == sorted(expected), (pat, seed)

    rows = _mk_rows(n_per_key=20, keys=(1, 2, 3), step_s=10)
    expected = _batch_over(spark, rows)
    for seed in (24, 25):
        rng = random.Random(seed)
        chunks = _random_disorder(
            rows, seed, files=rng.randint(3, 6), random_cuts=True
        )
        p = str(tmp_path / f"ro{seed}")
        _write_files(p, chunks)
        assert _run_over(spark, p, f"ro{seed}") == expected, seed
