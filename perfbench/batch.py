"""batch_inventory: a fixed slice of ``inventory.queries()``, closed loop.

One client runs the entries one at a time, each to a fully computed
result (``collect()``, so no column is pruned away), and checks every
result against the DuckDB oracle's fingerprint. The oracle answers are
computed once per data directory and cached, so DuckDB never runs in
the timed loop.

The slice: from each inventory module, ``ceil(len / STRIDE)`` entries
evenly spaced over its sorted names, so every operator module is timed
and the slice is fixed by rule, not picked by speed. The seed only
shuffles the order the entries run in.

Input: the synthetic parity corpus (TPC-H-like tables plus events,
documents and embeddings) at sf0.01, shipped in ``perfbench/data/sf0.01``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import math
import os
import random
import sys
import time
from pathlib import Path

import numpy as np

from perfbench import stats
from perfbench.trace import Tracer, job_group_counts

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
STRIDE = 12
PASS_S = 10.0


def select(module_queries: dict[str, list[str]]) -> dict[str, str]:
    """entry name → module name for the timed slice."""
    out = {}
    for mod, names in module_queries.items():
        names = sorted(names)
        k = math.ceil(len(names) / STRIDE)
        for j in range(k):
            out[names[(j * len(names)) // k]] = mod
    return out


def entries() -> dict[str, str]:
    from flink_streaming_platform_web_spark import inventory

    return select({
        m.__name__.rsplit(".", 1)[-1]: [
            n for n in m.QUERIES if not n.startswith("st")
        ]
        for m in inventory._MODULES
        if any(not n.startswith("st") for n in m.QUERIES)
    })


def data_key(data_dir: Path) -> str:
    """Content hash of a data directory's parquet files."""
    h = hashlib.sha256()
    for f in sorted(data_dir.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def oracle_key(dkey: str, sql: str) -> str:
    """Cache key of one oracle answer: the data and the SQL text."""
    return hashlib.sha256(f"{dkey}\x00{sql}".encode()).hexdigest()[:24]


@functools.cache
def _parity():
    """The repository's parity gate (``tools/parity.py``), whose
    ``frame_fingerprint`` defines result equality."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", HERE.parent / "tools" / "parity.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fingerprint(cols, rows) -> str:
    return _parity().frame_fingerprint(list(cols), rows)


def oracle_answers(names: list[str], cache_file: Path) -> dict:
    """name → {"cols", "rows", "fp"} from DuckDB, computed only for
    (data, SQL) pairs missing from the cache file."""
    from flink_streaming_platform_web_spark import inventory

    sqls = inventory.oracle_sql()
    dkey = data_key(DATA)
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    missing = [n for n in names if oracle_key(dkey, sqls[n]) not in cache]
    if missing:
        import duckdb

        from flink_streaming_platform_web_spark.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'"
            )
        for n in missing:
            arrow = con.execute(sqls[n]).fetch_arrow_table()
            cols = arrow.column_names
            rows = [tuple(r[c] for c in cols) for r in arrow.to_pylist()]
            cache[oracle_key(dkey, sqls[n])] = {
                "cols": sorted(cols), "rows": len(rows),
                "fp": _fingerprint(cols, rows),
            }
        con.close()
        tmp = cache_file.with_suffix(".tmp")
        tmp.write_text(json.dumps(cache))
        os.replace(tmp, cache_file)
    return {n: cache[oracle_key(dkey, sqls[n])] for n in names}


def run(seed: int, seconds: float, tracer: Tracer, work: Path,
        out_dir: Path, t_process: float) -> dict:
    from flink_streaming_platform_web_spark import inventory
    from flink_streaming_platform_web_spark.operators import _cache
    from flink_streaming_platform_web_spark.session import get_spark

    chosen = entries()
    names = sorted(chosen)
    t = time.time()
    oracle = oracle_answers(names, out_dir / "oracle-cache.json")
    oracle_s = time.time() - t  # once per data directory: not set-up
    fns = inventory.queries()
    data = str(DATA)

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: every entry's plan shape once (codegen, py4j, Python
    # workers), then forget the memoized upstream frames
    for n in names:
        fns[n](spark, data).collect()
    _cache.clear()
    setup_s = time.time() - t_process - oracle_s

    order = list(names)
    random.Random(seed).shuffle(order)
    samples: list[dict] = []
    pass_totals: list[float] = []
    failed = attempted = 0
    sc = spark.sparkContext
    # one pass of the slice takes 8-10 s on 4 cores: a fixed count per
    # run length, so every run of one length takes the same samples
    n_passes = max(1, round(seconds / PASS_S))
    while len(pass_totals) < n_passes:
        total = 0.0
        for n in order:
            group = f"perfbench-{n}-{len(pass_totals)}"
            if tracer.enabled:
                sc.setJobGroup(group, n)
            attempted += 1
            t0 = time.perf_counter()
            try:
                df = fns[n](spark, data)
                t1 = time.perf_counter()
                got = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # counted, reported, run goes on
                failed += 1
                print(f"# {n}: {type(e).__name__}: {e}", file=sys.stderr)
                continue
            total += t2 - t0
            exp = oracle[n]
            rows = [tuple(r) for r in got]
            if (sorted(df.columns) != exp["cols"] or len(rows) != exp["rows"]
                    or _fingerprint(df.columns, rows) != exp["fp"]):
                failed += 1
                print(f"# {n}: result differs from the oracle",
                      file=sys.stderr)
            samples.append({"name": n, "group": group,
                            "build": t1 - t0, "exec": t2 - t1})
        pass_totals.append(total)
        _cache.clear()

    walls = [s["build"] + s["exec"] for s in samples]
    p50 = stats.percentile(walls, 50)
    p95 = stats.percentile(walls, 95)
    p90 = stats.percentile(walls, 90)
    res = {
        "setup_s": (setup_s, 1),
        "latency_p50_s": (p50.value, p50.n),
        "latency_p95_s": (p95.value, p95.n),
        "work_s": (float(np.median(pass_totals)), len(pass_totals)),
        "query_p90_s": (p90.value, p90.n),
        "oracle_build_s": (oracle_s, 1),
        "entries": len(names),
        "passes": len(pass_totals),
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if tracer.enabled:
        res["layers"] = operator_layers(samples, chosen, sc)
    spark.stop()
    return res


def operator_layers(samples: list[dict], chosen: dict, sc) -> dict:
    """operators.<module>.{build_ms,exec_ms,spark_jobs,spark_tasks}:
    medians over the module's entry runs."""
    per: dict[str, dict[str, list]] = {}
    for s in samples:
        jobs, _stages, tasks = job_group_counts(sc, s["group"])
        d = per.setdefault(chosen[s["name"]],
                           {"build": [], "exec": [], "jobs": [], "tasks": []})
        d["build"].append(1000 * s["build"])
        d["exec"].append(1000 * s["exec"])
        d["jobs"].append(jobs)
        d["tasks"].append(tasks)
    out = {}
    for mod, d in per.items():
        out[f"operators.{mod}.build_ms"] = float(np.median(d["build"]))
        out[f"operators.{mod}.exec_ms"] = float(np.median(d["exec"]))
        out[f"operators.{mod}.spark_jobs"] = float(np.median(d["jobs"]))
        out[f"operators.{mod}.spark_tasks"] = float(np.median(d["tasks"]))
    return out
