"""Per-entry streaming scale ladder (VERDICT r11 item 1): times every
st* inventory entry END-TO-END — fixture staging through the real
runner route (DDL + INSERT INTO + micro-batch execution) to converged
state — at several scale-factor directories in one session, and
reports per-entry seconds, converged output rows, and the fitted
scaling exponent.

The batch inventory's asymptote is proven per-entry by
tools/scale_bench.py; st01–st24 previously rested on family-level
throughput benches (tools/stream_bench.py). This closes that gap: a
streaming entry whose converged-run time grows superlinearly in SF has
a state-shape defect (unbounded per-key state, a driver-side fold, a
quadratic overlap set) that family rates cannot see.

Timing contract: one timed call per (entry, SF) — the entry callable
itself stages the scaled multi-file fixture, runs the script through
JobRunner, and blocks on processAllAvailable(), so the measured time
is the full sustained-ingest-to-converged cost the driver's
correctness gate pays. A warmup pass at the smallest SF absorbs
codegen/state-store-init one-timers. Output rows are recorded so
result-cardinality shifts are visible rather than folded into
"slower".

Usage:
    python tools/stream_scale_bench.py DIR1 DIR2 ... \
        [--queries st01,st14,...] [--skip stXX,...]

Prints one JSON line:
    {"metric": "stream_scale_curves", "dirs": [...], "sfs": [...],
     "queries": {name: {"sec": [...], "rows": [...], "exponent": e}}}

Exponent = slope of log(sec) vs log(sf) between the first and last SF
(1.0 = linear; < 1 = floor-dominated; > 1 needs a reason or a fix).
"""

from __future__ import annotations

import argparse
import json
import math
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from flink_streaming_platform_web_spark import inventory
from flink_streaming_platform_web_spark.operators import _cache
from flink_streaming_platform_web_spark.session import get_spark


def _sf_of(d: str) -> float:
    """The positive scale factor an ``sf<N>`` directory name carries.
    Any other name raises ValueError: the exponent needs a real SF."""
    m = re.fullmatch(r"sf(\d*\.?\d+)", Path(d).name)
    if m is None or float(m.group(1)) <= 0:
        raise ValueError(f"{d}: not an sf<N> directory (N > 0)")
    return float(m.group(1))


def main() -> None:
    # stderr to a FILE is block-buffered; the per-entry progress lines
    # must land as they happen (a stalled entry is diagnosable only if
    # the last completed one is visible)
    sys.stderr.reconfigure(line_buffering=True)
    ap = argparse.ArgumentParser()
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--queries", default="st")
    ap.add_argument("--skip", default="")
    args = ap.parse_args()
    # before the session starts, not after the timed runs: a bad name
    # would otherwise lose the whole ladder's JSON line at the end
    for d in args.dirs:
        try:
            _sf_of(d)
        except ValueError as e:
            ap.error(str(e))

    prefixes = tuple(p for p in args.queries.split(",") if p)
    skip = tuple(p for p in args.skip.split(",") if p)
    qs = inventory.queries()
    names = [
        n
        for n in sorted(qs)
        if n.startswith("st")
        and n.startswith(prefixes)
        and not (skip and n.startswith(skip))
    ]

    spark = get_spark("stream-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = sorted(args.dirs, key=_sf_of)
    sfs = [_sf_of(d) for d in dirs]

    # warmup at the smallest SF: micro-batch codegen, state-store
    # provider init, and the Python-worker pool are per-session
    # one-timers that must not be billed to the first timed SF
    for n in names:
        try:
            qs[n](spark, dirs[0]).count()
        except Exception as e:  # pragma: no cover — surfaced below
            print(f"# warmup {n}: {e}", file=sys.stderr)
    _cache.clear()

    out: dict[str, dict] = {}
    for n in names:
        secs: list[float] = []
        rows: list[int] = []
        for d in dirs:
            _cache.clear()
            t0 = time.perf_counter()
            try:
                cnt = qs[n](spark, d).count()
            except Exception as e:
                print(f"# {n} @ {d}: FAILED {e}", file=sys.stderr)
                cnt = -1
            secs.append(round(time.perf_counter() - t0, 3))
            rows.append(cnt)
            print(
                f"# {n} @ sf{_sf_of(d)}: {secs[-1]:.2f}s rows={cnt}",
                file=sys.stderr,
            )
        exp = None
        if secs[0] > 0 and secs[-1] > 0 and sfs[-1] > sfs[0]:
            exp = round(
                math.log(secs[-1] / secs[0])
                / math.log(sfs[-1] / sfs[0]),
                3,
            )
        out[n] = {"sec": secs, "rows": rows, "exponent": exp}

    print(
        json.dumps(
            {
                "metric": "stream_scale_curves",
                "dirs": dirs,
                "sfs": sfs,
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
