"""Pure arithmetic of the benchmark: percentiles with sample counts,
per-event latency from sink records, the CEP oracle, and backlog.

Nothing here touches Spark, so ``perfbench/tests`` covers it directly.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Summary:
    """A percentile together with the sample count it rests on."""

    value: float
    n: int


def percentile(values, q: float) -> Summary:
    """``q``-th percentile (0-100, linear interpolation) of ``values``.
    An empty sample is NaN with n=0 — the caller decides whether that
    is an error."""
    arr = np.asarray(values, dtype=np.float64)
    if arr.size == 0:
        return Summary(float("nan"), 0)
    return Summary(float(np.percentile(arr, q)), int(arr.size))


def stamp_times(line_counts: list, n_lines: int) -> np.ndarray:
    """Arrival time of each of ``n_lines`` lines of one append-only
    segment, from observer stamps ``[(lines_visible, t), ...]`` in poll
    order: line ``j`` arrived at the first stamp whose count exceeds
    ``j``. Lines never stamped get NaN."""
    out = np.full(n_lines, np.nan)
    lo = 0
    for lines, t in line_counts:
        hi = min(int(lines), n_lines)
        if hi > lo:
            out[lo:hi] = t
            lo = hi
    return out


def upsert_latency(
    ev_key: np.ndarray,
    ev_created_ms: np.ndarray,
    sink_key: np.ndarray,
    sink_count: np.ndarray,
    sink_arrival: np.ndarray,
) -> np.ndarray:
    """Per-event latency (s) for a keyed running COUNT sink.

    Events are in log order per key (all events of one key share a
    partition), so the event with per-key ordinal ``n`` is reflected
    by the first sink record of its key whose count reaches ``n``.
    Events whose result never arrived get NaN."""
    lat = np.full(ev_key.size, np.nan)
    if ev_key.size == 0:
        return lat
    order = np.argsort(ev_key, kind="stable")
    k_sorted = ev_key[order]
    starts = np.flatnonzero(np.r_[True, k_sorted[1:] != k_sorted[:-1]])
    ordinal = np.empty(ev_key.size, dtype=np.int64)
    ordinal[order] = np.arange(ev_key.size) - np.repeat(
        starts, np.diff(np.r_[starts, ev_key.size])
    ) + 1
    s_order = np.argsort(sink_key, kind="stable")
    sk = sink_key[s_order]
    sc = sink_count[s_order]
    sa = sink_arrival[s_order]
    for key in np.unique(ev_key):
        lo, hi = np.searchsorted(sk, key), np.searchsorted(sk, key, "right")
        if hi == lo:
            continue
        counts = np.maximum.accumulate(sc[lo:hi])
        idx = np.flatnonzero(ev_key == key)
        pos = np.searchsorted(counts, ordinal[idx], side="left")
        ok = pos < counts.size
        arr = np.full(idx.size, np.nan)
        arr[ok] = sa[lo:hi][pos[ok]]
        lat[idx] = arr - ev_created_ms[idx] / 1000.0
    return lat


def rising_runs(ts: np.ndarray, amount: np.ndarray) -> list[tuple[int, int]]:
    """``PATTERN (STRT UP+) DEFINE UP AS UP.amount > PREV(UP.amount)``
    with ONE ROW PER MATCH and AFTER MATCH SKIP PAST LAST ROW over one
    partition: (first, last) event-time pairs of every match, with
    greedy UP+. ``ts`` must be unique; rows are taken in ts order."""
    order = np.argsort(ts, kind="stable")
    t, a = ts[order], amount[order]
    out = []
    i, n = 0, t.size
    while i < n - 1:
        j = i
        while j + 1 < n and a[j + 1] > a[j]:
            j += 1
        if j > i:
            out.append((int(t[i]), int(t[j])))
            i = j + 1
        else:
            i += 1
    return out


def cep_oracle(
    key: np.ndarray, ts: np.ndarray, amount: np.ndarray
) -> dict[tuple[int, int], int]:
    """Every match over all events, as ``(key, start_ts) -> end_ts``."""
    out = {}
    order = np.argsort(key, kind="stable")
    k_sorted = key[order]
    bounds = np.flatnonzero(np.r_[True, k_sorted[1:] != k_sorted[:-1], True])
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        idx = order[lo:hi]
        k = int(key[idx[0]])
        for first, last in rising_runs(ts[idx], amount[idx]):
            out[(k, first)] = last
    return out


def cep_release_origin(
    key: np.ndarray,
    ts: np.ndarray,
    created_ms: np.ndarray,
    matches: list[tuple[int, int]],
    delay_ms: int,
) -> np.ndarray:
    """Creation time (ms) of the event that made each match final.

    A match ending at ``end_ts`` is decided by the key's next event in
    event-time order (the first row that is not UP). An event-time
    operator may act on that row only once the watermark — the
    highest event time seen minus ``delay_ms`` — reaches it. The
    event that first lifts the watermark that far, in arrival order,
    is the last input the result depends on. ``key``/``ts``/
    ``created_ms`` are in arrival order; NaN where no such event was
    produced."""
    out = np.full(len(matches), np.nan)
    if not matches:
        return out
    prefix_max = np.maximum.accumulate(ts)
    by_key: dict[int, np.ndarray] = {}
    order = np.argsort(key, kind="stable")
    k_sorted = key[order]
    bounds = np.flatnonzero(np.r_[True, k_sorted[1:] != k_sorted[:-1], True])
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        by_key[int(k_sorted[lo])] = np.sort(ts[order[lo:hi]])
    for j, (k, end_ts) in enumerate(matches):
        kts = by_key.get(int(k))
        if kts is None:
            continue
        nxt = np.searchsorted(kts, end_ts, side="right")
        if nxt >= kts.size:
            continue
        need = kts[nxt] + delay_ms
        m = np.searchsorted(prefix_max, need, side="left")
        if m < prefix_max.size:
            out[j] = created_ms[m]
    return out


def backlog(end_offsets: dict, committed: dict) -> int:
    """Records produced but not yet committed by the query. Keys are
    ``"topic/partition"``; a partition the query has not committed yet
    counts in full."""
    return int(
        sum(max(0, int(e) - int(committed.get(k, 0)))
            for k, e in end_offsets.items())
    )
