"""foreachBatch streaming CEP tier route (round 15).

The route's plumbing (runner hook, watermark replay, drain) is pinned
end-to-end by the st14/st23 parity gates; these tests pin the two
pieces with their own math:

- shape classification — which specs take the route at all;
- the emission-frontier SPLIT — a randomized resume differential:
  feeding a stream through repeated (split → match decided → carry
  tail) cycles must emit exactly the batch matcher's result on the
  full frame, for ANY cut of the stream into release chunks.
"""

from __future__ import annotations

import random

import pytest

from flink_streaming_platform_web_spark.operators import cep


ST14_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(STRT.event_id) AS start_id,
    LAST(UP.event_id) AS end_id,
    COUNT(UP.*) AS n_up,
    LAST(UP.value) AS peak
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP+)
  DEFINE UP AS UP.value > PREV(UP.value)
"""

ST23_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES
    FIRST(LO.event_id) AS lo_id,
    FIRST(HI.event_id) AS hi_id,
    FIRST(HI.value) AS hi_val
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (LO HI)
  DEFINE LO AS LO.value < 20.0,
         HI AS HI.value >= 80.0
"""

# consuming fixed-length — must NOT take the route (frontier math
# would need the scan's consumption chain)
ST19_CLAUSE = """
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(HI.event_id) AS hi_id, FIRST(LO.event_id) AS lo_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (PERMUTE(HI, LO))
  DEFINE HI AS HI.value >= 55.0, LO AS LO.value < 20.0
"""

SCHEMA = "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE"


def _probe(spark):
    return spark.createDataFrame([], SCHEMA)


def test_shape_classification(spark):
    p = _probe(spark)
    spec14 = cep.parse_match_recognize(ST14_CLAUSE)
    s14 = cep.fb_stream_shape(p, spec14)
    assert s14 == ("trailing_plus", None)
    spec23 = cep.parse_match_recognize(ST23_CLAUSE)
    s23 = cep.fb_stream_shape(p, spec23)
    assert s23 == ("fixed_next", 2)
    spec19 = cep.parse_match_recognize(ST19_CLAUSE)
    assert cep.fb_stream_shape(p, spec19) is None


def test_trailing_split_partitions_frame(spark):
    """decided + tail == frame, and tail is each key's LAST island
    (always contains the key's last row in ORDER BY order)."""
    import datetime

    rows = []
    rng = random.Random(7)
    t0 = datetime.datetime(2030, 1, 1)
    eid = 0
    for uid in range(4):
        for i in range(40):
            rows.append(
                (
                    uid,
                    eid,
                    t0 + datetime.timedelta(minutes=eid),
                    float(rng.randrange(100)),
                )
            )
            eid += 1
    df = spark.createDataFrame(rows, SCHEMA)
    spec = cep.parse_match_recognize(ST14_CLAUSE)
    decided, tail = cep.fb_trailing_plus_split(df, spec)
    d = decided.collect()
    t = tail.collect()
    assert len(d) + len(t) == len(rows)
    # every key's max-event row is in the tail
    last_by_key = {}
    for r in rows:
        if r[0] not in last_by_key or r[1] > last_by_key[r[0]]:
            last_by_key[r[0]] = r[1]
    tail_ids = {(r.user_id, r.event_id) for r in t}
    for uid, last_eid in last_by_key.items():
        assert (uid, last_eid) in tail_ids
    # tail rows of one key are a contiguous suffix in event order
    for uid in last_by_key:
        k_tail = sorted(r.event_id for r in t if r.user_id == uid)
        assert k_tail == list(
            range(k_tail[0], k_tail[0] + len(k_tail))
        )


@pytest.mark.parametrize("clause,shape", [
    (ST14_CLAUSE, "trailing_plus"),
    (ST23_CLAUSE, "fixed_next"),
])
def test_randomized_resume_differential(spark, clause, shape):
    """The frontier soundness argument, executed: cut a random stream
    into arbitrary release chunks, run the fb cycle (frame = carried
    tail + chunk → split → batch-match the decided part → carry the
    tail), drain the final tail, and compare the union of emissions
    against the batch matcher over the full stream. Any frontier
    off-by-one (emitting a still-extensible island, dropping a
    boundary window) shows up as a row diff."""
    import datetime

    spec = cep.parse_match_recognize(clause)
    p = _probe(spark)
    schema = cep.infer_output_schema(spec, p)
    k = len(spec.pattern) if shape == "fixed_next" else None
    for seed in range(4):
        rng = random.Random(seed)
        rows = []
        t0 = datetime.datetime(2030, 1, 1)
        eid = 0
        for uid in range(3):
            for _ in range(rng.randrange(20, 45)):
                rows.append(
                    (
                        uid,
                        eid,
                        t0 + datetime.timedelta(minutes=eid),
                        float(rng.randrange(100)),
                    )
                )
                eid += 1
        # release chunks cut on GLOBAL event order (the watermark is
        # a global event-time cut — every key releases up to it)
        rows.sort(key=lambda r: (r[2], r[1]))
        cuts = sorted(
            rng.sample(range(1, len(rows)), rng.randrange(2, 6))
        )
        chunks = [
            rows[a:b]
            for a, b in zip([0] + cuts, cuts + [len(rows)])
        ]
        tail_rows: list = []
        emitted: list = []

        def run_frame(frame_rows, final):
            frame = spark.createDataFrame(frame_rows, SCHEMA)
            if final:
                decided, tail = frame, None
            elif shape == "trailing_plus":
                decided, tail = cep.fb_trailing_plus_split(
                    frame, spec
                )
            else:
                # fixed_next: all matches are final; carry the last
                # k-1 rows per key
                decided = frame
                by_key: dict = {}
                for r in frame_rows:
                    by_key.setdefault(r[0], []).append(r)
                tail = [
                    r
                    for grp in by_key.values()
                    for r in sorted(grp, key=lambda x: (x[2], x[1]))[
                        -(k - 1):
                    ]
                ]
            out = cep.match_recognize(decided, spec, schema).collect()
            if tail is None:
                new_tail = []
            elif isinstance(tail, list):
                new_tail = tail
            else:
                new_tail = [
                    (r.user_id, r.event_id, r.ts, r.value)
                    for r in tail.collect()
                ]
            return out, new_tail

        for chunk in chunks:
            frame_rows = tail_rows + chunk
            out, tail_rows = run_frame(frame_rows, final=False)
            emitted.extend(out)
        if tail_rows:
            out, _ = run_frame(tail_rows, final=True)
            emitted.extend(out)
        batch = cep.match_recognize(
            spark.createDataFrame(rows, SCHEMA), spec, schema
        ).collect()
        assert sorted(map(tuple, emitted)) == sorted(
            map(tuple, batch)
        ), f"seed {seed}: resume emissions != batch matches"


# -- the route end to end, through the runner -----------------------------

_T0 = "2024-01-01 00:00:00"


def _row(eid, sec, value, ts_null=False):
    import pandas as pd

    ts = (pd.Timestamp(_T0) + pd.Timedelta(seconds=sec)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    return {
        "user_id": 1,
        "event_id": eid,
        "ts": None if ts_null else ts,
        "value": float(value),
    }


def _stream_mr(spark, tmp_path, tag, clause, files, sets=""):
    """Stream ``files`` (one micro-batch each) through the runner's
    streaming MATCH_RECOGNIZE into a memory sink with a 10 s
    watermark delay, stop (with drain unless ``sets`` turns it off),
    and return (sorted sink rows, the started query)."""
    from tests.test_ooo import _write_files

    from flink_streaming_platform_web_spark.streaming.runner import (
        JobRunner,
    )

    p = str(tmp_path / tag)
    _write_files(p, files)
    result = JobRunner(spark, mode="streaming").execute_script(sets + f"""
        CREATE TABLE ev_{tag} (user_id BIGINT, event_id BIGINT,
          ts TIMESTAMP, value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '10' SECOND
        ) WITH ('connector'='filesystem','path'='{p}',
                'format'='json','source.max-files-per-trigger'='1');
        CREATE TABLE snk_{tag} (lo_v DOUBLE, hi_v DOUBLE)
          WITH ('connector'='memory');
        INSERT INTO snk_{tag}
        SELECT lo_v, hi_v FROM ev_{tag} MATCH_RECOGNIZE ({clause});
        """)
    (q,) = result.streaming_queries
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(120)
    got = sorted(
        (r["lo_v"], r["hi_v"]) for r in spark.table(f"snk_{tag}").collect()
    )
    return got, q


def _batch_mr(spark, clause, files):
    """The batch matcher over every row with an event time."""
    import pandas as pd

    rows = [
        (
            r["user_id"], r["event_id"],
            pd.Timestamp(r["ts"]).to_pydatetime(), r["value"],
        )
        for f in files
        for r in f
        if r["ts"] is not None
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    spec = cep.parse_match_recognize(clause)
    out = cep.match_recognize(df, spec, cep.infer_output_schema(spec, df))
    return sorted((r["lo_v"], r["hi_v"]) for r in out.collect())


LOHI_CLAUSE = """
  PARTITION BY user_id
  ORDER BY {order}
  MEASURES FIRST(LO.value) AS lo_v, FIRST(HI.value) AS hi_v
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (LO HI)
  DEFINE LO AS {lo}, HI AS HI.value >= 80.0
"""


def test_gc_keeps_tails_the_latest_meta_references(spark, tmp_path):
    """One releasing batch, then two that release nothing, then a
    drain: the tails version the releasing batch wrote is still the
    latest one, so garbage collection must keep it (deleting every
    version older than the previous batch made the drain fail with
    PATH_NOT_FOUND)."""
    clause = LOHI_CLAUSE.format(order="ts", lo="LO.value < 20.0")
    files = [
        # batch 0: no watermark yet, nothing released; wm -> 10 s
        [_row(1, 0, 5), _row(2, 5, 90), _row(3, 10, 10), _row(4, 20, 85)],
        [_row(5, 25, 15)],  # batch 1 releases 0..10 s; wm -> 15 s
        [_row(6, 24, 95)],  # batch 2 releases nothing
        [_row(7, 23, 3)],  # batch 3 releases nothing
    ]
    got, q = _stream_mr(spark, tmp_path, "fbgc", clause, files)
    assert q.name.startswith("fb_cep_")
    want = _batch_mr(spark, clause, files)
    assert got == want and want


@pytest.mark.parametrize("order", ["ts, event_id DESC", "ts, event_id"])
def test_reverse_order_carries_null_keys(spark, tmp_path, order):
    """The carried tail is the last k-1 rows in ORDER BY order. The
    tier sorts a NULL event_id after its timestamp peers in either
    direction, so the tail must hold that NULL row — the reversed
    ordering has to put NULLs first."""
    clause = LOHI_CLAUSE.format(order=order, lo="LO.value < 20.0")
    files = [
        [
            _row(1, 0, 1),
            _row(5, 10, 50),
            _row(None, 10, 10),  # last row of the 10 s peers
            _row(7, 30, 90),
        ],
        [_row(8, 40, 95)],  # batch 1 releases 0..10 s; wm -> 30 s
        [_row(9, 60, 5)],  # batch 2 releases 30 s
    ]
    tag = "fbdesc" if "DESC" in order else "fbasc"
    got, q = _stream_mr(spark, tmp_path, tag, clause, files)
    assert q.name.startswith("fb_cep_")
    want = _batch_mr(spark, clause, files)
    assert want == [(10.0, 90.0)]
    assert got == want


def test_null_event_time_dropped_on_arrival(spark, tmp_path):
    """A row with a NULL event time is dropped on arrival. Drained
    before any watermark existed, it used to join the final frame
    (sorted last) and complete a match."""
    clause = LOHI_CLAUSE.format(order="ts", lo="LO.value < 20.0")
    files = [[_row(1, 0, 50), _row(2, 10, 5), _row(3, 0, 90, True)]]
    got, q = _stream_mr(spark, tmp_path, "fbnull", clause, files)
    assert q.name.startswith("fb_cep_")
    assert got == _batch_mr(spark, clause, files) == []


def test_prev_reaching_past_carried_rows_falls_back(spark, tmp_path):
    """A fixed-length spec whose first variable looks at PREV reaches
    before the carried rows (the carried frame shows it a NULL), so
    it must not take the route; on the NFA route it converges to the
    batch result, including the match that starts at a frame
    boundary."""
    clause = LOHI_CLAUSE.format(
        order="ts", lo="LO.value < PREV(LO.value)"
    )
    spec = cep.parse_match_recognize(clause)
    p = _probe(spark)
    assert cep.fb_stream_shape(p, spec) is None
    files = [
        [_row(1, 0, 50), _row(2, 10, 30), _row(3, 15, 5), _row(4, 26, 90)],
        [_row(5, 40, 60)],  # batch 1 releases 0..15 s; wm -> 30 s
        [_row(6, 50, 70)],  # batch 2 releases 26 s
    ]
    got, q = _stream_mr(spark, tmp_path, "fbprev", clause, files)
    assert not q.name.startswith("fb_cep_")
    want = _batch_mr(spark, clause, files)
    assert (5.0, 90.0) in want
    assert got == want


@pytest.mark.parametrize("drain", [True, False], ids=["drain", "plain"])
def test_run_scoped_checkpoints_removed_on_stop(spark, tmp_path, drain):
    """A buffered OVER job and an fb-route MATCH_RECOGNIZE job, both
    without a checkpoint dir, each checkpoint to a temp dir unique to
    that start, which no later run can resume from: stop removes
    both, with or without a drain. The memory sinks still serve every
    streamed row, plus the drained ones when the stop drains."""
    import glob
    import os
    import tempfile

    from tests.test_ooo import (
        _batch_over,
        _mk_rows,
        _run_over,
        _write_files,
    )

    def run_scoped():
        tmp = tempfile.gettempdir()
        return {
            p
            for pat in (
                "graft_drain_q*", "graft_fbcep_ckpt_q*", "graft_kafka_ckpt_*",
            )
            for p in glob.glob(os.path.join(tmp, pat))
        }

    sets = "" if drain else "SET graft.stop.drain = false;"
    before = run_scoped()
    rows = _mk_rows(n_per_key=8, keys=(1,))
    p = str(tmp_path / "over")
    _write_files(p, [rows[:4], rows[4:]])
    got = _run_over(spark, p, f"tmpckpt{int(drain)}", sets)
    want = _batch_over(spark, rows)
    if drain:
        assert got == want
    else:
        assert got.items() < want.items()
    clause = LOHI_CLAUSE.format(order="ts", lo="LO.value < 20.0")
    files = [
        [_row(1, 0, 5), _row(2, 5, 90), _row(3, 20, 10)],
        [_row(4, 40, 85)],  # the drain releases the 20 s/40 s match
    ]
    got, q = _stream_mr(
        spark, tmp_path, f"fbtmpckpt{int(drain)}", clause, files, sets
    )
    assert q.name.startswith("fb_cep_")
    want = _batch_mr(spark, clause, files)
    assert want == [(5.0, 90.0), (10.0, 85.0)]
    assert got == (want if drain else want[:1])
    assert run_scoped() == before
