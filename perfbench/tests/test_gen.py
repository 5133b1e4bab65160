import json

import numpy as np

from perfbench import gen


def test_same_seed_same_events_other_seed_differs():
    a = gen.make_events(7, 5000, 100)
    b = gen.make_events(7, 5000, 100)
    c = gen.make_events(8, 5000, 100)
    for f in ("user_id", "amount", "ts_offset"):
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert not np.array_equal(a.user_id, c.user_id)


def test_prefix_of_longer_draw_is_the_shorter_draw():
    short = gen.make_events(3, 1234, 50)
    long = gen.make_events(3, 9000, 50)
    for f in ("user_id", "amount", "ts_offset"):
        assert np.array_equal(getattr(short, f), getattr(long, f)[:1234])


def test_event_time_unique_and_disorder_bounded():
    d = 64
    ev = gen.make_events(11, 10 * d + 5, d)
    ts = ev.ts_offset
    assert np.unique(ts).size == ts.size
    # arrival order departs from event-time order by < d positions
    assert np.abs(ts - np.arange(ts.size)).max() < d
    # so a watermark d ms behind the highest event time drops nothing
    high = np.maximum.accumulate(ts)
    assert np.all(ts > high - d - 1)


def test_in_order_stream_when_no_disorder():
    ev = gen.make_events(5, 100)
    assert np.array_equal(ev.ts_offset, np.arange(100))


def test_keys_are_skewed():
    ev = gen.make_events(1, 50_000)
    _, counts = np.unique(ev.user_id, return_counts=True)
    top = np.sort(counts)[::-1]
    assert top[: max(1, top.size // 5)].sum() > 0.6 * counts.sum()


def test_broker_lines_match_filebroker_produce(tmp_path):
    from flink_streaming_platform_web_spark.sources.kafka_file import (
        FileBroker,
    )

    ev = gen.make_events(2, 300, 10)
    ref = FileBroker(tmp_path / "ref")
    ref.create_topic("t", 4)
    for i in range(300):
        key, value = gen.event_record(ev, i, 1_000 + i)
        ref.produce("t", value, key=key, timestamp_ms=1_000 + i)
    ours = tmp_path / "ours"
    FileBroker(ours).create_topic("t", 4)
    gen.append_events(ours, "t", 4, ev, 0, 150,
                      [1_000 + i for i in range(150)])
    gen.append_events(ours, "t", 4, ev, 150, 300,
                      [1_000 + i for i in range(150, 300)])
    for p in range(4):
        name = f"p{p:05d}.jsonl"
        assert (ours / "t" / name).read_bytes() == (
            tmp_path / "ref" / "t" / name
        ).read_bytes()


def test_open_loop_stamps_due_times_and_reports(tmp_path):
    from flink_streaming_platform_web_spark.sources.kafka_file import (
        FileBroker,
    )
    import time

    FileBroker(tmp_path / "b").create_topic("t", 2)
    stop = tmp_path / "stop"
    t0 = time.time()

    import threading

    threading.Timer(0.5, lambda: stop.write_text("")).start()
    rep = gen.run_open_loop(str(tmp_path / "b"), "t", 2, 9, 1, 10, 1000.0,
                            t0, str(stop), str(tmp_path / "r.json"),
                            max_seconds=5)
    assert rep == json.loads((tmp_path / "r.json").read_text())
    assert 300 <= rep["produced"] <= 700
    rows = []
    for p in range(2):
        for line in (tmp_path / "b" / "t" / f"p{p:05d}.jsonl").open():
            import base64

            rows.append(json.loads(base64.b64decode(json.loads(line)["v"])))
    rows.sort(key=lambda r: r["seq"])
    assert [r["seq"] for r in rows] == list(range(10, 10 + rep["produced"]))
    # created_ms is the schedule, not the write time
    for r in rows:
        due_ms = int((t0 + (r["seq"] - 10) / 1000.0) * 1000)
        assert r["created_ms"] == due_ms
