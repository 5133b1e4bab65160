"""Scale-curve harness: times a subset of the inventory across several
scale-factor directories in one session and reports per-query seconds,
output rows, and the fitted scaling exponent.

This backs SCALE.md's claim that the operator plans survive scale-up:
a query whose runtime grows superlinearly in SF (exponent >> 1 after
subtracting the per-job floor) has a plan defect; output-row counts
are recorded alongside so result-cardinality shifts (e.g. pair-finding
queries over a chance-collision corpus) are visible rather than
silently folded into "slower".

Usage:
    python tools/scale_bench.py DIR1 DIR2 ... [--queries p1,p2,...]
        [--runs N]

Prints one JSON line:
    {"metric": "scale_curves", "dirs": [...], "sfs": [...],
     "queries": {name: {"sec": [...], "rows": [...], "exponent": e}}}

Exponent = slope of log(sec) vs log(sf) between the first and last SF
(1.0 = linear scaling; < 1 = floor-dominated; data generated by
tools/gen_scale_data.py for SFs the driver does not ship).
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

# The heavy families VERDICT r02 asked to curve: dedup, ANN, text,
# the composed pipeline, vectors, and the two heaviest relational
# shapes (q01 full-lineitem agg, q21 multi-join), plus the mm decode
# path and two events-table shapes (window agg, explode).
DEFAULT_PREFIXES = (
    "dd", "ann", "tx", "pp01", "vec", "q01", "q21", "q22", "q30", "mm02",
)


def _sf_of(d: str) -> float:
    """The positive scale factor an ``sf<N>`` directory name carries.
    Any other name raises ValueError: the exponent needs a real SF."""
    m = re.fullmatch(r"sf(\d*\.?\d+)", Path(d).name)
    if m is None or float(m.group(1)) <= 0:
        raise ValueError(f"{d}: not an sf<N> directory (N > 0)")
    return float(m.group(1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--queries", default=",".join(DEFAULT_PREFIXES))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--skip", default="",
                    help="comma-separated query-name prefixes to skip")
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
    names = [
        n
        for n in sorted(inventory.queries())
        if n.startswith(prefixes) and not (skip and n.startswith(skip))
        and not n.startswith("st")
    ]
    qs = inventory.queries()

    spark = get_spark("scale-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # one warmup pass at the smallest provided SF: codegen/JIT is
    # per-plan-shape and must not be billed to the first timed SF
    warm = min(args.dirs, key=_sf_of)
    for n in names:
        try:
            qs[n](spark, warm).count()
        except Exception as exc:  # surface later in the timed run
            print(f"# warmup {n}: {exc}", file=sys.stderr)
    _cache.clear()

    out: dict[str, dict] = {n: {"sec": [], "rows": []} for n in names}
    for d in args.dirs:
        for n in names:
            best, rows = float("inf"), -1
            try:
                for _ in range(max(args.runs, 1)):
                    t0 = time.perf_counter()
                    rows = qs[n](spark, d).count()
                    best = min(best, time.perf_counter() - t0)
            except Exception as exc:
                print(f"# {d} {n}: FAILED {exc}", file=sys.stderr)
                # None → JSON null: float('nan') serialized as bare
                # NaN, making the one-line artifact invalid JSON on
                # exactly the runs that had failures
                best, rows = None, -1
            out[n]["sec"].append(
                round(best, 4) if best is not None else None
            )
            out[n]["rows"].append(rows)
            shown = f"{best:.2f}s" if best is not None else "FAILED"
            print(f"# {d} {n}: {shown} rows={rows}", file=sys.stderr)
        _cache.clear()

    sfs = [_sf_of(d) for d in args.dirs]
    for n, rec in out.items():
        s = rec["sec"]
        if (
            len(s) >= 2
            and s[0] is not None
            and s[-1] is not None
            and all(map(math.isfinite, (s[0], s[-1])))
            and s[0] > 0
            and sfs[0] > 0
            and sfs[-1] > sfs[0]
        ):
            rec["exponent"] = round(
                math.log(s[-1] / s[0]) / math.log(sfs[-1] / sfs[0]), 3
            )
    print(
        json.dumps(
            {
                "metric": "scale_curves",
                "dirs": args.dirs,
                "sfs": sfs,
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
