import math

import numpy as np

from perfbench import stats


def test_percentile_reports_its_sample_count():
    s = stats.percentile([5, 1, 3, 2, 4], 50)
    assert s == stats.Summary(3.0, 5)
    assert stats.percentile(range(1, 101), 95).value == 95.05
    empty = stats.percentile([], 50)
    assert empty.n == 0 and math.isnan(empty.value)


def test_stamp_times_first_stamp_covering_each_line():
    t = stats.stamp_times([(2, 10.0), (2, 11.0), (5, 12.5)], 6)
    assert list(t[:5]) == [10.0, 10.0, 12.5, 12.5, 12.5]
    assert math.isnan(t[5])


def test_upsert_latency_matches_events_to_first_covering_count():
    # key 1: events at 1000, 2000, 3000 ms; key 2: one event at 1500 ms
    ev_key = np.array([1, 2, 1, 1])
    ev_created = np.array([1000, 1500, 2000, 3000])
    # sink log: (key, running count, arrival s)
    sink_key = np.array([1, 2, 1, 1])
    sink_count = np.array([2, 1, 2, 3])
    sink_arrival = np.array([2.5, 2.6, 2.9, 4.0])
    lat = stats.upsert_latency(ev_key, ev_created, sink_key, sink_count,
                               sink_arrival)
    assert np.allclose(lat, [1.5, 1.1, 0.5, 1.0])


def test_upsert_latency_missing_result_is_nan():
    lat = stats.upsert_latency(np.array([1, 1]), np.array([0, 0]),
                               np.array([1]), np.array([1]),
                               np.array([0.2]))
    assert lat[0] == 0.2 and math.isnan(lat[1])


def test_rising_runs_greedy_skip_past_last_row():
    ts = np.array([1, 2, 3, 4, 5, 6, 7])
    amt = np.array([5, 6, 7, 3, 3, 4, 1])
    # 5<6<7 is one match; 3,3 is no rise; 3<4 is the next
    assert stats.rising_runs(ts, amt) == [(1, 3), (5, 6)]
    # rows are taken in event-time order, not arrival order
    assert stats.rising_runs(np.array([2, 1]), np.array([1, 9])) == []


def test_cep_oracle_per_key():
    key = np.array([1, 2, 1, 2, 1])
    ts = np.array([10, 11, 12, 13, 14])
    amt = np.array([1, 9, 2, 8, 3])
    assert stats.cep_oracle(key, ts, amt) == {(1, 10): 14}


def test_cep_release_origin_waits_for_watermark_past_closing_row():
    # key 7: rise 10→11, closed by ts 12; watermark delay 5 ms
    key = np.array([7, 7, 7, 8, 8, 8])
    ts = np.array([10, 11, 12, 15, 17, 18])
    created = np.array([100, 101, 102, 103, 104, 105])
    origin = stats.cep_release_origin(key, ts, created, [(7, 11)], 5)
    # first arrival lifting max event time to 12 + 5 = 17 is the 5th
    assert origin.tolist() == [104.0]
    # an open run (no closing row yet) has no origin
    assert math.isnan(
        stats.cep_release_origin(key, ts, created, [(7, 12)], 5)[0])


def test_backlog_counts_uncommitted_records():
    ends = {"t/0": 10, "t/1": 5, "t/2": 3}
    assert stats.backlog(ends, {"t/0": 4, "t/1": 5}) == 9
    assert stats.backlog(ends, {}) == 18
