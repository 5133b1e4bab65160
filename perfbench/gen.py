"""Seeded open-loop event generator for the streaming workloads.

The event *content* (user key, amount, event-time disorder) is a pure
function of the seed, so the same seed always yields the same stream.
Event *times* come from a fixed schedule: event ``i`` is due at
``t0 + i / rate`` and carries ``created_ms`` = its due time, so a
generator or system stall is billed to the events it delays instead
of silently lowering the offered load.

Records land in the file-kafka broker in exactly the line format
``FileBroker.produce`` writes (``{"k": b64, "v": b64, "ts": ms}``,
keyed records partitioned by md5 of the key), but appended per
partition in one ``write()`` per tick, like a kafka producer batching
with a linger. ``perfbench/tests/test_gen.py`` checks the byte-for-byte
match.

Run as a process of its own (``python3 perfbench/gen.py ...``) for the
steady phases; the backlog phases call :func:`append_events` directly.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import sys
import time
from dataclasses import dataclass
from hashlib import md5
from pathlib import Path

import numpy as np

#: distinct user ids; Pareto-skewed draws fold into this range
N_USERS = 5_000
#: Pareto shape: a few users own most events (~20% of keys → ~80%)
PARETO_A = 1.16
#: event time of event 0 (2023-11-14T22:13:20Z)
TS_BASE_MS = 1_700_000_000_000


@dataclass(frozen=True)
class Events:
    """Seeded event content, indexed by event number."""

    user_id: np.ndarray
    amount: np.ndarray
    #: event time in ms after ``TS_BASE_MS``; unique across the stream
    ts_offset: np.ndarray


def make_events(seed: int, n: int, disorder_block: int = 1) -> Events:
    """The first ``n`` events of the stream for ``seed``.

    Event time advances one millisecond per event, so it is unique
    (MATCH_RECOGNIZE ordering has no ties) and independent of the
    wall clock. With ``disorder_block`` > 1 the event times inside
    each block of that many consecutive events are a seeded
    permutation, so arrival order departs from event-time order by
    fewer than ``disorder_block`` positions: a watermark delay of
    ``disorder_block`` ms never drops an event.

    A prefix of a longer draw equals the shorter draw, so the
    generator and the checker can size their draws independently."""
    ss = np.random.SeedSequence(seed)
    g_user, g_amount = (np.random.default_rng(s) for s in ss.spawn(2))
    user = (g_user.pareto(PARETO_A, n) * 50).astype(np.int64) % N_USERS
    amount = g_amount.integers(1, 10_000, n, dtype=np.int64)
    d = max(1, disorder_block)
    if d == 1:
        return Events(user, amount, np.arange(n, dtype=np.int64))
    n_blocks = -(-n // d)
    ts = np.empty(n_blocks * d, dtype=np.int64)
    for b in range(n_blocks):
        perm = np.random.default_rng([seed, 1, b]).permutation(d)
        ts[b * d:(b + 1) * d] = b * d + perm
    return Events(user, amount, ts[:n])


def _b64(x: bytes) -> str:
    return base64.b64encode(x).decode("ascii")


def partition_for(key: bytes, n_partitions: int) -> int:
    """``FileBroker.produce``'s keyed partitioner."""
    return int.from_bytes(md5(key).digest()[:4], "big") % n_partitions


def broker_line(key: bytes, value: bytes, ts_ms: int) -> str:
    return json.dumps(
        {"k": _b64(key), "v": _b64(value), "ts": int(ts_ms)},
        separators=(",", ":"),
    ) + "\n"


def event_record(ev: Events, i: int, created_ms: int) -> tuple[bytes, bytes]:
    """(key, value) for event ``i`` created at ``created_ms``."""
    uid = int(ev.user_id[i])
    value = json.dumps(
        {
            "user_id": uid,
            "amount": int(ev.amount[i]),
            "created_ms": created_ms,
            "ts_ms": TS_BASE_MS + int(ev.ts_offset[i]),
            "seq": i,
        },
        separators=(",", ":"),
    ).encode()
    return str(uid).encode(), value


def append_records(broker: str | Path, topic: str, n_partitions: int,
                   records) -> None:
    """Append ``(key, value, ts_ms)`` records, one ``write()`` per
    partition segment."""
    per_part: dict[int, list[str]] = {}
    for key, value, ts in records:
        p = partition_for(key, n_partitions)
        per_part.setdefault(p, []).append(broker_line(key, value, ts))
    for p, lines in per_part.items():
        seg = Path(broker) / topic / f"p{p:05d}.jsonl"
        with open(seg, "a") as f:
            f.write("".join(lines))


def append_events(
    broker: str | Path,
    topic: str,
    n_partitions: int,
    ev: Events,
    lo: int,
    hi: int,
    created_ms,
) -> None:
    """Append events ``lo..hi-1`` (``created_ms``: one int for all, or
    a per-event sequence) to the topic's partition segments."""

    def records():
        for j, i in enumerate(range(lo, hi)):
            c = created_ms if isinstance(created_ms, int) else int(
                created_ms[j])
            yield (*event_record(ev, i, c), c)

    append_records(broker, topic, n_partitions, records())


def run_open_loop(
    broker: str,
    topic: str,
    n_partitions: int,
    seed: int,
    disorder_block: int,
    first: int,
    rate: float,
    t0: float,
    stop_file: str,
    report: str,
    tick_s: float = 0.01,
    max_seconds: float = 170.0,
) -> dict:
    """Produce events ``first, first+1, ...`` on schedule until the
    stop file appears. Lateness is the gap between an event's due
    time and the moment it was written."""
    cap = int(rate * max_seconds) + 1
    ev = make_events(seed, first + cap, disorder_block)
    nxt = first
    late: list[float] = []
    while not os.path.exists(stop_file) and nxt < first + cap:
        now = time.time()
        due_n = first + int((now - t0) * rate) + 1
        due_n = min(due_n, first + cap)
        if due_n > nxt:
            due = [t0 + (i - first) / rate for i in range(nxt, due_n)]
            append_events(
                broker, topic, n_partitions, ev, nxt, due_n,
                [int(d * 1000) for d in due],
            )
            written = time.time()
            late.append(written - due[0])
            nxt = due_n
        time.sleep(tick_s)
    out = {
        "first": first,
        "produced": nxt - first,
        "t0": t0,
        "rate": rate,
        "late_max_s": max(late, default=0.0),
    }
    tmp = report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, report)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--broker", required=True)
    ap.add_argument("--topic", required=True)
    ap.add_argument("--partitions", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--disorder-block", type=int, default=1)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--max-seconds", type=float, default=170.0)
    a = ap.parse_args(argv)
    run_open_loop(
        a.broker, a.topic, a.partitions, a.seed, a.disorder_block,
        a.first, a.rate, a.t0, a.stop_file, a.report,
        max_seconds=a.max_seconds,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
