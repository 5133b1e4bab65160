"""Benchmark of the SQL-job platform: one workload run per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Workloads:

- ``batch_inventory``: a fixed slice of ``inventory.queries()`` (see
  ``perfbench/batch.py``), each entry computed to a full result and
  checked against the DuckDB oracle's fingerprint.
- ``stream_upsert_agg`` / ``stream_cep``: a streaming SQL job submitted
  through ``JobManager`` on the file-kafka broker, fed by an open-loop
  generator process, stopped and restored from its savepoint, and
  checked against a recomputation (``perfbench/stream.py``).

With ``--trace 0`` the last stdout line is a JSON object whose
``metrics`` are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run (spans go to
``.perfbench_out/trace-<workload>-<seed>.json``). Everything the run
writes stays under ``.perfbench_tmp/`` and ``.perfbench_out/`` in the
directory the command runs from.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: ``--workload all`` runs these; BENCHMARK.json lists the first two
#: (three do not fit its run budget)
WORKLOADS = ("batch_inventory", "stream_cep", "stream_upsert_agg")

#: end-to-end metrics, reported by every ``--trace 0`` run
E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "work_s": "s",
}

STREAM_LAYERS = (
    "sql.parse_script_ms", "sql.validate_script_ms",
    "sources.parse_create_table_ms", "sources.latest_offset_ms",
    "sources.backlog_records_median", "sources.backlog_records_max",
    "sources.input_rows_per_batch",
    "streaming.execute_script_ms", "streaming.first_batch_ms",
    "streaming.trigger_p50_ms", "streaming.trigger_p95_ms",
    "streaming.trigger_self_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.spark_jobs_per_batch",
    "streaming.spark_stages_per_batch", "streaming.spark_tasks_per_batch",
    "streaming.state_rows_total", "streaming.state_memory_bytes",
    "streaming.state_commit_ms", "streaming.state_rows_dropped_by_watermark",
    "streaming.output_rows_per_batch", "streaming.batches",
    "platform.job_start_ms", "platform.job_start_self_ms",
    "platform.job_stop_ms",
)

#: inventory modules timed by batch_inventory (``operators.<m>.*``)
OPERATOR_MODULES = (
    "relational", "cep", "relational_ext", "functions_demo", "windows",
    "dedup", "decontam", "clusters", "similarity", "text", "multimodal",
    "vectors", "skew", "pipeline",
)
OPERATOR_FIELDS = ("build_ms", "exec_ms", "spark_jobs", "spark_tasks")


def per_layer_names() -> list[str]:
    ops = [f"operators.{m}.{f}" for m in OPERATOR_MODULES
           for f in OPERATOR_FIELDS]
    return list(STREAM_LAYERS) + ops


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if "backlog" in name or name.endswith(("rows_per_batch", "_records")):
        return "records"
    return "count"


def machine() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cores": len(os.sched_getaffinity(0)),
            "mem_gib": round(mem_kb / 2**20, 1), "loadavg": load}


def size_session(work: Path) -> None:
    """Size Spark for this machine and keep its files under ``work``.
    Must run before pyspark starts the JVM."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = machine()["mem_gib"] * 1024
    heap_mb = int(max(1024, min(3072, mem_mb / 4)))
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(work)
    java_opts = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CONF"] = (
        f"spark.driver.extraJavaOptions={java_opts};"
        f"spark.sql.warehouse.dir={work / 'warehouse'}"
    )
    # Python workers must import the package (the kafka reader runs
    # there) and the benchmark modules (the generator and observer)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def stop_jvm() -> None:
    """Shut down the JVM pyspark launched and wait until it has exited
    (by itself pyspark leaves it to die after the interpreter)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(60)
    SparkContext._gateway = SparkContext._jvm = None


def run_all(a) -> int:
    """Every workload, each in a fresh process: their metric summaries
    go to stderr and their result lines to stdout."""
    rc = 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", w,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)],
            capture_output=True, text=True,
        )
        for line in p.stderr.splitlines():
            if line.startswith("# "):
                print(f"# [{w}] {line[2:]}", file=sys.stderr)
        out = p.stdout.strip().splitlines()
        print(f"{w} {out[-1] if out else '(no result)'}")
        rc = rc or p.returncode
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(WORKLOADS)}, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        return run_all(a)

    cwd = Path.cwd()
    work = cwd / ".perfbench_tmp" / f"run-{os.getpid()}"
    out_dir = cwd / ".perfbench_out"
    work.mkdir(parents=True, exist_ok=True)
    out_dir.mkdir(exist_ok=True)
    sys.path.insert(0, str(ROOT))
    size_session(work)
    os.chdir(work)
    try:
        # fails here, before any result, where the program is absent
        import flink_streaming_platform_web_spark  # noqa: F401

        from perfbench.trace import Tracer

        tracer = Tracer(bool(a.trace), run_id=f"{a.workload}-{a.seed}")
        if a.workload == "batch_inventory":
            from perfbench import batch

            res = batch.run(a.seed, a.seconds, tracer, work, out_dir,
                            T_PROCESS)
        else:
            from perfbench import stream

            if a.workload not in stream.SPECS:
                raise SystemExit(f"unknown workload {a.workload!r}")
            res = stream.run(stream.SPECS[a.workload], a.seed, a.seconds,
                             tracer, work, T_PROCESS)
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    return report(a, res, tracer, out_dir)


def report(a, res: dict, tracer, out_dir: Path) -> int:
    info = {"workload": a.workload, "seed": a.seed, **machine()}
    res["failed_frac"] = (res["failed"] / res["attempted"], res["attempted"])
    for k, v in res.items():
        if isinstance(v, tuple):
            unit = ("1/s" if k.endswith("_per_s") else "s"
                    if k.endswith("_s") else "ratio")
            print(f"# {k} = {v[0]:.6g} {unit} (n={v[1]})", file=sys.stderr)
        elif isinstance(v, (int, float, bool)):
            print(f"# {k} = {v}", file=sys.stderr)
    print(f"# {json.dumps(info)}", file=sys.stderr)
    last = out_dir / f"e2e-{a.workload}.json"
    if a.trace:
        layers = res.get("layers", {})
        metrics = {n: {"value": float(layers.get(n, 0.0)),
                       "unit": unit_of(n)} for n in per_layer_names()}
        overhead = {}
        if last.exists():
            base = json.loads(last.read_text())
            overhead = {k: res[k][0] - base[k] for k in E2E
                        if k in base and isinstance(res.get(k), tuple)}
            print(f"# tracing overhead (traced - untraced): "
                  f"{json.dumps(overhead)}", file=sys.stderr)
        tracer.dump(str(out_dir / f"trace-{a.workload}-{a.seed}.json"),
                    {"info": info, "layers": layers,
                     "overhead": overhead})
    else:
        metrics = {n: {"value": float(res[n][0]), "unit": u}
                   for n, u in E2E.items()}
        last.write_text(json.dumps({n: res[n][0] for n in E2E}))
    correct = bool(res["correct"]) and not res.get("invalid", False)
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
