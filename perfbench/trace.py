"""Tracing for the ``--trace 1`` runs, recorded from the benchmark side.

The program is not edited: :class:`Tracer` wraps public functions of
the ``sql``, ``sources``, ``streaming`` and ``platform`` modules in
place (module attributes and class methods, restored by
:meth:`Tracer.close`), registers a ``StreamingQueryListener`` for the
per-micro-batch ``durationMs`` phases, and reads Spark's
``statusTracker`` for job, stage and task counts.

Spans are kept in memory (name, start, end, parent, run id) and
written once at the end.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


#: order of the ``durationMs`` phases inside one trigger
PHASES = (
    "latestOffset",
    "queryPlanning",
    "getBatch",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it covered by its children
    (overlapping children are merged first)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


class Tracer:
    """Span recorder plus the wrappers that feed it. A disabled tracer
    records nothing and patches nothing."""

    def __init__(self, enabled: bool, run_id: str = "") -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.progress: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None
        self._spark = None

    # -- spans ------------------------------------------------------------

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None = None, run_id: str | None = None,
                 **attrs) -> int:
        with self._lock:
            self.spans.append(
                Span(name, start, end, parent, run_id or self.run_id, attrs)
            )
            return len(self.spans) - 1

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_times(self, name: str) -> list[float]:
        return [
            self_time(s, self.children(i))
            for i, s in enumerate(self.spans)
            if s.name == name
        ]

    # -- wrapping the program's public functions --------------------------

    def wrap(self, owner: object, attr: str, span_name: str,
             on_call=None) -> None:
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(args, kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_program(self) -> None:
        """Wrap the layer boundaries the streaming workloads cross."""
        if not self.enabled:
            return
        from flink_streaming_platform_web_spark.platform import manager
        from flink_streaming_platform_web_spark.sources import kafka_file
        from flink_streaming_platform_web_spark.sql import validation
        from flink_streaming_platform_web_spark.streaming import runner

        for mod in (runner, validation):
            self.wrap(mod, "parse_script", "sql.parse_script")
            self.wrap(mod, "parse_create_table",
                      "sources.parse_create_table")
        self.wrap(manager, "validate_script", "sql.validate_script")
        self.wrap(runner.JobRunner, "execute_script",
                  "streaming.execute_script")
        self.wrap(manager.JobManager, "start", "platform.job_start")
        self.wrap(manager.JobManager, "stop", "platform.job_stop")
        self.wrap(
            kafka_file.FileBroker, "produce", "sources.sink_produce",
            on_call=lambda a, k: self.count("sources.sink_records"),
        )

    def listen(self, spark) -> None:
        """Record every micro-batch's progress as a span tree."""
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.record_progress(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def record_progress(self, p: dict) -> None:
        with self._lock:
            self.progress.append(p)
        dur = p.get("durationMs") or {}
        start = iso_to_epoch(p["timestamp"])
        trig = dur.get("triggerExecution", 0) / 1000.0
        parent = self.add_span(
            "streaming.trigger", start, start + trig, run_id=p["runId"],
            batch=p["batchId"], rows=p.get("numInputRows", 0),
        )
        t = start
        for ph in PHASES:
            if ph in dur:
                d = dur[ph] / 1000.0
                self.add_span(f"streaming.{ph}", t, t + d, parent=parent,
                              run_id=p["runId"])
                t += d

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            try:
                self._spark.streams.removeListener(self._listener)
            except Exception:  # session already stopped
                pass
            self._listener = None

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            "spans": [asdict(s) for s in self.spans],
            "counts": self.counts,
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        if not self.t.enabled:
            return self
        stack = getattr(self.t._stack, "v", None)
        if stack is None:
            stack = self.t._stack.v = []
        self.parent = stack[-1] if stack else None
        self.start = time.time()
        self.idx = self.t.add_span(self.name, self.start, self.start,
                                   self.parent, **self.attrs)
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t._stack.v.pop()
            self.t.spans[self.idx].end = time.time()
        return False


def iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def job_group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under ``group``, read from the
    public status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks
