"""Streaming workloads: a SQL job driven through the platform.

One run, in one fresh process:

1. set-up: session, then one warm-up job of the same shape on its own
   topic (start, drain the topic, stop);
2. start: the events topic holds a preloaded backlog; ``JobManager.start``
   → first committed micro-batch is ``job_start_s``, and the time until
   the query has committed the whole backlog is ``work_s``;
3. steady: a generator process produces on an open-loop schedule; a
   sink observer process stamps result arrival;
4. stop and restore: ``JobManager.stop`` takes the savepoint, the job is
   started again from it while the generator keeps producing
   (``restore_s`` = stop call → first committed batch of the new run);
5. tail, then the generator stops, the job converges and its sink state
   is checked against a recomputation over every produced event.

Latency samples come from the steady phase only.
"""

from __future__ import annotations

import base64
import json
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from perfbench import gen, stats
from perfbench.trace import Tracer, iso_to_epoch, job_group_counts

HERE = Path(__file__).resolve().parent
PARTITIONS = 4
#: steady phase after the restore; its events are not latency samples
TAIL_S = 2.0
#: a run whose generator fell further behind its schedule is invalid
MAX_LATE_S = 1.0


@dataclass(frozen=True)
class StreamSpec:
    name: str
    rate: float  # events/s in the steady phases
    backlog: int  # events preloaded before the job starts
    disorder_block: int
    watermark_ms: int
    sink_kind: str  # "kafka" | "files"
    #: events created this close to the stop are not latency samples:
    #: their results could land after it and carry the outage
    guard_s: float


UPSERT = StreamSpec("stream_upsert_agg", rate=4000, backlog=100_000,
                    disorder_block=1, watermark_ms=2000, sink_kind="kafka",
                    guard_s=3.0)
CEP = StreamSpec("stream_cep", rate=1500, backlog=5_000,
                 disorder_block=500, watermark_ms=1000, sink_kind="files",
                 guard_s=9.0)
SPECS = {s.name: s for s in (UPSERT, CEP)}


def _source_ddl(broker: str, topic: str, watermark_ms: int) -> str:
    return f"""
CREATE TABLE ev (
  user_id BIGINT,
  amount BIGINT,
  created_ms BIGINT,
  ts_ms BIGINT,
  ts AS TO_TIMESTAMP_LTZ(ts_ms, 3),
  WATERMARK FOR ts AS ts - INTERVAL '{watermark_ms // 1000}' SECOND
) WITH (
  'connector' = 'kafka',
  'topic' = '{topic}',
  'properties.bootstrap.servers' = 'file://{broker}',
  'properties.group.id' = 'perfbench',
  'scan.startup.mode' = 'earliest-offset',
  'format' = 'json'
);
"""


def script(spec: StreamSpec, broker: str, topic: str, sink: str) -> str:
    """The job's SQL: demo_1's upsert aggregation, or a rising-run
    MATCH_RECOGNIZE into a file sink."""
    src = _source_ddl(broker, topic, spec.watermark_ms)
    if spec.sink_kind == "kafka":
        return src + f"""
CREATE TABLE totals (
  user_id BIGINT,
  total_amount BIGINT,
  n BIGINT,
  last_created_ms BIGINT,
  PRIMARY KEY (user_id) NOT ENFORCED
) WITH (
  'connector' = 'upsert-kafka',
  'topic' = '{sink}',
  'properties.bootstrap.servers' = 'file://{broker}',
  'format' = 'json'
);
INSERT INTO totals
SELECT user_id, SUM(amount), COUNT(*), MAX(created_ms)
FROM ev
GROUP BY user_id;
"""
    # plain stop keeps the buffered rows in the savepoint, so the run
    # restored from it continues the same matches
    return "SET 'graft.stop.drain' = 'false';\n" + src + f"""
CREATE TABLE rises (
  user_id BIGINT,
  start_ts BIGINT,
  end_ts BIGINT
) WITH (
  'connector' = 'filesystem',
  'path' = '{sink}',
  'format' = 'json'
);
INSERT INTO rises
SELECT user_id, start_ts, end_ts
FROM ev MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts
  MEASURES STRT.ts_ms AS start_ts, LAST(UP.ts_ms) AS end_ts
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT UP+)
  DEFINE UP AS UP.amount > PREV(UP.amount)
);
"""


# -- reading the broker and the sinks --------------------------------------


def _decode_lines(seg: Path) -> list[dict]:
    out = []
    with open(seg, "rb") as f:
        for line in f:
            rec = json.loads(line)
            out.append(json.loads(base64.b64decode(rec["v"])))
    return out


def read_events(broker: str, topic: str) -> dict[str, np.ndarray]:
    """Every event in the topic, sorted by its sequence number (the
    order the generator produced them in)."""
    rows = []
    for seg in sorted((Path(broker) / topic).glob("p*.jsonl")):
        rows.extend(_decode_lines(seg))
    rows.sort(key=lambda r: r["seq"])
    return {
        c: np.array([r[c] for r in rows], dtype=np.int64)
        for c in ("seq", "user_id", "amount", "created_ms", "ts_ms")
    }


def read_kafka_sink(broker: str, topic: str, stamps: list) -> dict:
    seg = Path(broker) / topic / "p00000.jsonl"
    rows = _decode_lines(seg) if seg.exists() else []
    arrival = stats.stamp_times(
        [(n, t) for p, n, t in stamps if p == 0], len(rows)
    )
    cols = {
        c: np.array([r[c] for r in rows], dtype=np.int64)
        for c in ("user_id", "total_amount", "n", "last_created_ms")
    }
    cols["arrival"] = arrival
    return cols


def read_file_sink(path: str, stamps: list) -> list[tuple]:
    """(user_id, start_ts, end_ts, arrival) for every committed row; a
    row's arrival is the stamp of the first log entry listing its
    file."""
    meta = Path(path) / "_spark_metadata"
    seen_at = {name: t for name, t in stamps}
    first_seen: dict[str, float] = {}
    if meta.is_dir():
        logs = sorted(
            (f for f in meta.iterdir() if not f.name.startswith(".")),
            key=lambda f: int(f.name.split(".")[0]),
        )
        for log in logs:
            t = seen_at.get(log.name, float("nan"))
            for line in log.read_text().splitlines()[1:]:
                entry = json.loads(line)
                if entry.get("action", "add") != "add":
                    continue
                p = entry["path"]
                if p not in first_seen or np.isnan(first_seen[p]):
                    first_seen[p] = t
    out = []
    for p, t in first_seen.items():
        local = p[len("file:"):] if p.startswith("file:") else p
        with open(local) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    out.append((r["user_id"], r["start_ts"], r["end_ts"], t))
    return out


# -- one run ------------------------------------------------------------------


def _spawn(module: str, args: list[str]) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, str(HERE / module), *args],
        stdout=subprocess.DEVNULL,
    )


def _first_commit(q, timeout: float = 120.0, poll: float = 0.01) -> float:
    """Wall time the query's first micro-batch committed (from its
    progress report: trigger start + trigger duration)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None:
            d = json.loads(p.json) if hasattr(p, "json") else p
            return iso_to_epoch(d["timestamp"]) + (
                d["durationMs"].get("triggerExecution", 0) / 1000.0
            )
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        time.sleep(poll)
    raise TimeoutError("no committed micro-batch")


def _committed_offsets(q) -> dict:
    p = q.lastProgress
    if p is None:
        return {}
    d = json.loads(p.json) if hasattr(p, "json") else p
    end = d["sources"][0].get("endOffset") or "{}"
    return json.loads(end) if isinstance(end, str) else end


def _make_topic(broker: str, topic: str, partitions: int) -> None:
    from flink_streaming_platform_web_spark.sources.kafka_file import (
        FileBroker,
    )

    FileBroker(broker).create_topic(topic, partitions)


def _warm_up(spark, mgr, spec: StreamSpec, seed: int, work: Path) -> None:
    broker = str(work / "broker")
    _make_topic(broker, "warm", PARTITIONS)
    ev = gen.make_events(seed + 1_000_003, 1_000, spec.disorder_block)
    gen.append_events(broker, "warm", PARTITIONS, ev, 0, ev.user_id.size,
                      int(time.time() * 1000))
    sink = "warm_out" if spec.sink_kind == "kafka" else str(work / "warm_out")
    jid = mgr.store.add_job("warm-up", script(spec, broker, "warm", sink),
                            checkpoint_dir=str(work / "ckpt_warm"))
    res = mgr.start(jid)
    for q in res.streaming_queries:
        q.processAllAvailable()
    mgr.stop(jid)


def run(spec: StreamSpec, seed: int, seconds: float, tracer: Tracer,
        work: Path, t_process: float) -> dict:
    from flink_streaming_platform_web_spark.platform.manager import (
        JobManager,
    )
    from flink_streaming_platform_web_spark.platform.store import JobStore
    from flink_streaming_platform_web_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"session": time.time() - t_process}
    mgr = JobManager(spark, JobStore(str(work / "jobs.sqlite")),
                     work_dir=str(work / "jobs"))
    _warm_up(spark, mgr, spec, seed, work)
    setup_s = time.time() - t_process
    phases["warm_up"] = setup_s - phases["session"]

    tracer.wrap_program()
    tracer.listen(spark)
    broker = str(work / "broker")
    topic = "events"
    _make_topic(broker, topic, PARTITIONS)
    if spec.sink_kind == "kafka":
        sink, watch = "totals", str(Path(broker) / "totals")
        _make_topic(broker, sink, 1)
    else:
        sink = watch = str(work / "rises")
    stop_obs = str(work / "observer.stop")
    obs_out = str(work / "observer.json")
    observer = _spawn("observe.py", [
        "--mode", "kafka" if spec.sink_kind == "kafka" else "files",
        "--path", watch, "--stop-file", stop_obs, "--out", obs_out,
    ])
    procs = [observer]
    gen_proc = None
    try:
        ev = gen.make_events(seed, spec.backlog, spec.disorder_block)
        gen.append_events(broker, topic, PARTITIONS, ev, 0, spec.backlog,
                          int(time.time() * 1000))
        jid = mgr.store.add_job(
            spec.name, script(spec, broker, topic, sink),
            checkpoint_dir=str(work / "ckpt"),
        )
        # -- start + catch-up
        t_start = time.time()
        res = mgr.start(jid)
        q = res.streaming_queries[-1]
        job_start_s = _first_commit(q) - t_start
        q.processAllAvailable()
        work_s = time.time() - t_start

        # -- steady, open loop
        steady_s = seconds
        tail_s = TAIL_S
        stop_gen = str(work / "gen.stop")
        gen_report = str(work / "gen.json")
        t0 = time.time() + 0.3  # the generator draws its events first
        gen_proc = _spawn("gen.py", [
            "--broker", broker, "--topic", topic,
            "--partitions", str(PARTITIONS), "--seed", str(seed),
            "--disorder-block", str(spec.disorder_block),
            "--first", str(spec.backlog), "--rate", str(spec.rate),
            "--t0", repr(t0), "--max-seconds", str(seconds + 60),
            "--stop-file", stop_gen,
            "--report", gen_report,
        ])
        procs.append(gen_proc)
        backlog_samples = _sample_backlog(
            tracer, broker, topic, lambda: q, t0 + steady_s
        )

        # -- stop + restore from the savepoint
        t_stop = time.time()
        mgr.stop(jid)
        sp_id = mgr.store.savepoints_with_ids(jid)[-1][0]
        res2 = mgr.start(jid, restore_savepoint=sp_id)
        q2 = res2.streaming_queries[-1]
        restore_s = _first_commit(q2) - t_stop
        backlog_samples += _sample_backlog(
            tracer, broker, topic, lambda: q2, time.time() + tail_s
        )
        open(stop_gen, "w").close()
        gen_proc.wait(60)
        with open(gen_report) as f:
            g = json.load(f)
        n_events = spec.backlog + g["produced"]

        # -- converge and check
        t_conv = time.time()
        truth = read_events(broker, topic)
        if spec.sink_kind == "files":
            _close_all_runs(broker, topic, truth, spec)
        ok = _converge(spec, q2, broker, sink, truth, timeout=45.0)
        runs = {str(q.runId), str(q2.runId)}
        phases["converge"] = time.time() - t_conv
        t_conv = time.time()
        mgr.stop(jid)
        phases["final_stop"] = time.time() - t_conv
    finally:
        for f in (stop_obs, str(work / "gen.stop")):
            open(f, "w").close()
        for p in procs:
            try:
                p.wait(30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
    with open(obs_out) as f:
        stamps = json.load(f)["stamps"]

    steady_lo = t0 + 1.0
    steady_hi = t_stop - spec.guard_s
    if spec.sink_kind == "kafka":
        out = read_kafka_sink(broker, sink, stamps)
        lat = stats.upsert_latency(
            truth["user_id"], truth["created_ms"], out["user_id"],
            out["n"], out["arrival"],
        )
        created_s = truth["created_ms"] / 1000.0
        sel = (created_s >= steady_lo) & (created_s < steady_hi)
        lat = lat[sel]
        n_results = int(out["user_id"].size)
    else:
        rows = read_file_sink(sink, stamps)
        origin = stats.cep_release_origin(
            truth["user_id"], truth["ts_ms"], truth["created_ms"],
            [(r[0], r[2]) for r in rows], spec.watermark_ms,
        ) / 1000.0
        arrival = np.array([r[3] for r in rows], dtype=np.float64)
        sel = (origin >= steady_lo) & (origin < steady_hi)
        lat = (arrival - origin)[sel]
        n_results = len(rows)
    missing = int(np.isnan(lat).sum())
    lat = lat[~np.isnan(lat)]
    p50 = stats.percentile(lat, 50)
    p95 = stats.percentile(lat, 95)
    late_bad = g["late_max_s"] > MAX_LATE_S
    result = {
        "setup_s": (setup_s, 1),
        "latency_p50_s": (p50.value, p50.n),
        "latency_p95_s": (p95.value, p95.n),
        "work_s": (work_s, 1),
        "job_start_s": (job_start_s, 1),
        "restore_s": (restore_s, 1),
        "catchup_events_per_s": (spec.backlog / work_s, 1),
        "generator_late_s": (g["late_max_s"], 1),
        "events": n_events,
        "results": n_results,
        "latency_missing": missing,
        "correct": bool(ok) and missing == 0 and p50.n > 0,
        # one operation: the job's whole life, start to checked sink
        "attempted": 1,
        "failed": 0 if ok else 1,
        "invalid": late_bad,
        "backlog_samples": backlog_samples,
        **{f"phase_{k}_s": round(v, 2) for k, v in phases.items()},
    }
    if tracer.enabled:
        result["layers"] = stream_layers(
            tracer, spark, runs, backlog_samples
        )
    tracer.close()
    spark.stop()
    return result


def _sample_backlog(tracer, broker, topic, get_q, until: float) -> list:
    """Sleep until ``until``; when tracing, sample the source backlog
    (broker end offsets minus the query's committed offsets) once a
    second."""
    from flink_streaming_platform_web_spark.sources.kafka_file import (
        FileBroker,
    )

    samples = []
    b = FileBroker(broker)
    while True:
        left = until - time.time()
        if left <= 0:
            return samples
        if tracer.enabled:
            ends = {f"{topic}/{p}": n for p, n in b.end_offsets(topic).items()}
            samples.append(stats.backlog(ends, _committed_offsets(get_q())))
        time.sleep(min(1.0, left))


def _close_all_runs(broker: str, topic: str, truth: dict,
                    spec: StreamSpec) -> None:
    """End of input for the event-time pattern: one zero-amount row per
    key (no rising run continues through it) and, past every one of
    them by more than the watermark delay, a last row that lifts the
    watermark so they are all released."""
    keys = np.unique(truth["user_id"])
    base = int(truth["ts_ms"].max()) + 10 * spec.watermark_ms
    seq0 = int(truth["seq"].max()) + 1
    now = int(time.time() * 1000)

    def record(i, uid, ts):
        value = json.dumps({"user_id": int(uid), "amount": 0,
                            "created_ms": now, "ts_ms": ts,
                            "seq": seq0 + i}).encode()
        return str(uid).encode(), value, now

    closing = [record(i, uid, base + i) for i, uid in enumerate(keys)]
    closing.append(record(len(keys), keys[0],
                          base + len(keys) + 10 * spec.watermark_ms))
    gen.append_records(broker, topic, PARTITIONS, closing)


def _expected(spec: StreamSpec, truth: dict):
    if spec.sink_kind == "kafka":
        exp = {}
        for uid, amt, c in zip(truth["user_id"], truth["amount"],
                               truth["created_ms"]):
            s, n, m = exp.get(int(uid), (0, 0, 0))
            exp[int(uid)] = (s + int(amt), n + 1, max(m, int(c)))
        return exp
    return stats.cep_oracle(truth["user_id"], truth["ts_ms"],
                            truth["amount"])


def _sink_state(spec: StreamSpec, broker: str, sink: str):
    if spec.sink_kind == "kafka":
        out = read_kafka_sink(broker, sink, [])
        state = {}
        for uid, s, n, m in zip(out["user_id"], out["total_amount"],
                                out["n"], out["last_created_ms"]):
            state[int(uid)] = (int(s), int(n), int(m))
        return state, int(out["user_id"].size)
    rows = read_file_sink(sink, [])
    state = {(int(u), int(s)): int(e) for u, s, e, _ in rows}
    return state, len(rows)


def _converge(spec, q, broker, sink, truth, timeout: float) -> bool:
    """Wait until the sink equals the recomputation (exactly once: the
    file sink must hold each match once, no more)."""
    exp = _expected(spec, truth)
    deadline = time.time() + timeout
    while True:
        q.processAllAvailable()
        state, n_rows = _sink_state(spec, broker, sink)
        if state == exp and (spec.sink_kind == "kafka" or n_rows == len(exp)):
            return True
        if time.time() > deadline:
            diff = len(set(exp.items()) ^ set(state.items()))
            print(f"# {spec.name}: sink disagrees with the recomputation"
                  f" on {diff} entries ({n_rows} sink rows,"
                  f" {len(exp)} expected)", file=sys.stderr)
            return False
        time.sleep(0.2)


def stream_layers(tracer: Tracer, spark, runs: set, backlog: list) -> dict:
    """Per-layer metrics of one traced streaming run."""
    prog = [p for p in tracer.progress if p.get("runId") in runs]
    data = [p for p in prog if p.get("numInputRows", 0) > 0]

    def dur(key, ps=prog):
        return [p["durationMs"].get(key, 0) for p in ps
                if key in p.get("durationMs", {})]

    def med(xs):
        return float(np.median(xs)) if len(xs) else 0.0

    def state(key):
        return [sum(op.get(key, 0) for op in p.get("stateOperators", []))
                for p in prog]

    def out_rows(p):
        n = (p.get("sink") or {}).get("numOutputRows", -1)
        if n is not None and n >= 0:
            return n
        return sum(op.get("numRowsUpdated", 0)
                   for op in p.get("stateOperators", []))

    jobs = stages = tasks = 0
    for r in runs:
        j, s, t = job_group_counts(spark.sparkContext, r)
        jobs, stages, tasks = jobs + j, stages + s, tasks + t
    n_batches = max(len(prog), 1)
    first_batch = []
    for r in runs:
        ps = [p for p in prog if p["runId"] == r]
        if ps:
            first_batch.append(ps[0]["durationMs"].get("triggerExecution", 0))
    def ms(xs):
        return [1000.0 * x for x in xs]

    starts = tracer.durations("platform.job_start")
    return {
        "sql.parse_script_ms": med(ms(tracer.durations("sql.parse_script"))),
        "sql.validate_script_ms": med(
            ms(tracer.durations("sql.validate_script"))),
        "sources.parse_create_table_ms": med(
            ms(tracer.durations("sources.parse_create_table"))),
        "sources.latest_offset_ms": med(dur("latestOffset")),
        "sources.backlog_records_median": med(backlog),
        "sources.backlog_records_max": float(max(backlog, default=0)),
        "sources.input_rows_per_batch": med(
            [p["numInputRows"] for p in data]),
        "sources.sink_produce_ms": med(
            ms(tracer.durations("sources.sink_produce"))),
        "sources.sink_records": float(
            tracer.counts.get("sources.sink_records", 0)),
        "streaming.execute_script_ms": med(
            ms(tracer.durations("streaming.execute_script"))),
        "streaming.first_batch_ms": med(first_batch),
        "streaming.trigger_p50_ms": stats.percentile(
            dur("triggerExecution", data), 50).value if data else 0.0,
        "streaming.trigger_p95_ms": stats.percentile(
            dur("triggerExecution", data), 95).value if data else 0.0,
        "streaming.trigger_self_ms": med(
            ms(tracer.self_times("streaming.trigger"))),
        "streaming.add_batch_ms": med(dur("addBatch", data)),
        "streaming.query_planning_ms": med(dur("queryPlanning", data)),
        "streaming.wal_commit_ms": med(dur("walCommit", data)),
        "streaming.commit_offsets_ms": med(dur("commitOffsets", data)),
        "streaming.spark_jobs_per_batch": jobs / n_batches,
        "streaming.spark_stages_per_batch": stages / n_batches,
        "streaming.spark_tasks_per_batch": tasks / n_batches,
        "streaming.state_rows_total": float(max(state("numRowsTotal"),
                                                default=0)),
        "streaming.state_memory_bytes": float(max(
            state("memoryUsedBytes"), default=0)),
        "streaming.state_commit_ms": med(state("commitTimeMs")),
        "streaming.state_rows_dropped_by_watermark": float(sum(
            state("numRowsDroppedByWatermark"))),
        "streaming.output_rows_per_batch": med([out_rows(p) for p in data]),
        "streaming.batches": float(len(prog)),
        "platform.job_start_ms": med(ms(starts)),
        "platform.job_start_self_ms": med(
            ms(tracer.self_times("platform.job_start"))),
        "platform.job_stop_ms": med(ms(tracer.durations("platform.job_stop"))),
    }
