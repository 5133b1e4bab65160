"""Job lifecycle manager — the AO tier rebuilt
(JobStandaloneServerAOImpl / JobBaseServiceAOImpl / TaskServiceAOImpl).

Flow parity with the reference's start path (SURVEY §3.1):
check → validate → history/log rows → optimistic-lock STARTING →
execute → RUN + query ids recorded (the structured handshake replacing
stdout scraping). Stop takes a "savepoint" first — in Spark terms,
registers the checkpoint location in savepoint_backup, then stops the
queries gracefully (JobYarnServerAOImpl.stop:94-98). Restore = start
with a recorded checkpoint location (same script ⇒ state-compatible,
SURVEY §7.3 caveat applies exactly as in the reference).

Monitoring is push-based via ``StreamingQueryListener`` (replaces the
reference's 5-minute polling scheduler, SchedulerTask.java:66-78) with
``reconcile()`` kept for the poll-style sweep + alarm + auto-restart
(TaskServiceAOImpl.alermAndAutoJob:255-295).
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import threading
import traceback
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from flink_streaming_platform_web_spark.platform import alarms
from flink_streaming_platform_web_spark.platform.store import JobStore
from flink_streaming_platform_web_spark.session import with_package_root
from flink_streaming_platform_web_spark.sql.validation import validate_script
from flink_streaming_platform_web_spark.streaming.checkpoints import (
    CheckPointParam,
)
from flink_streaming_platform_web_spark.streaming.runner import (
    ExecutionResult,
    JobRunner,
)


@dataclass
class AlarmConfig:
    webhook_url: str | None = None
    callback_url: str | None = None
    auto_restart: bool = False
    max_restarts: int = 3


@dataclass
class RunningJob:
    runner: JobRunner | None
    result: ExecutionResult
    run_id: int
    restarts: int = 0
    proc: "subprocess.Popen | None" = None
    #: cooperative stop marker for a LOCAL_PROCESS sql child — the
    #: manager touches it and the child drain-stops its queries
    #: (Flink `stop`); SIGTERM remains only the grace-period fallback
    stop_file: str | None = None


@dataclass
class JobManager:
    spark: SparkSession
    store: JobStore = field(default_factory=JobStore)
    alarm_configs: dict[int, AlarmConfig] = field(default_factory=dict)
    running: dict[int, RunningJob] = field(default_factory=dict)
    # cluster-mode jobs: job_id → application id (YARN/Spark REST)
    remote_apps: dict[int, str] = field(default_factory=dict)
    # LOCAL_PROCESS working dir for job sql files + child logs
    # (reference: <web_home>/sql/job_sql_<id>.sql); tempdir if unset
    work_dir: str | None = None
    # one auto-created tempdir per manager when work_dir is unset —
    # per-start mkdtemp leaked a directory every (re)start
    _auto_work_dir: str | None = None
    # status RPC adapter (platform/rpc.py) for cluster-mode jobs:
    # lets stop() actually KILL a tracked remote application instead
    # of only flipping the store row
    rpc_adapter: object | None = None
    # LOCAL_PROCESS children launch with --await (drain available
    # input, exit 0) by default — the deterministic-test mode. Set
    # False (or pass drain=False to start()) for production-shaped
    # long-running children that block on awaitAnyTermination until
    # stop() terminates them (BACKLOG: no-await launch knob)
    drain_children: bool = True
    # serializes lifecycle transitions: the REST facade's request
    # threads and the scheduler daemon share this manager, and
    # check-then-act on `running` would otherwise race (ADVICE r01)
    _lock: threading.RLock = field(default_factory=threading.RLock)

    # -- lifecycle (JobConfigApiController verb parity) ---------------------

    def start(
        self,
        job_id: int,
        restore_savepoint: int | None = None,
        drain: bool | None = None,
    ) -> ExecutionResult:
        # quick checks under the lock; the BLOCKING submission (script
        # execution, child handshake) runs OUTSIDE it — holding the
        # manager lock for a job's whole submit froze every other verb
        # and the scheduler for minutes. The cross-thread claim is the
        # STARTING flip's optimistic version check inside each path: a
        # concurrent second start loses the version race and errors.
        with self._lock:
            job = self.store.get_job(job_id)
            if not job.is_open:
                raise RuntimeError(f"job {job_id} is closed")
            if job_id in self.running:
                raise RuntimeError(f"job {job_id} already running")
        if job.job_type == "app":
            return self._start_app(job)
        v = validate_script(job.sql_script, self.spark, job.job_type)
        if not v.ok:
            raise ValueError(f"validation failed: {v.errors}")
        if job.deploy_mode == "LOCAL_PROCESS":
            return self._start_process(job, restore_savepoint, drain)
        return self._start_inprocess(job, restore_savepoint)

    def _start_inprocess(
        self, job, restore_savepoint: int | None = None
    ) -> ExecutionResult:
        job_id = job.id
        if not self.store.set_status(job_id, "STARTING", job.version):
            # optimistic-lock conflict (reference: "任务状态已变更")
            raise RuntimeError(f"job {job_id} status changed concurrently")
        # everything after the STARTING flip must fail into FAIL — an
        # exception here would otherwise strand the job in STARTING
        # forever (it is not in `running`, so reconcile can't fix it)
        run_id = self.store.log_run(job_id, "STARTING", [])
        try:
            ckpt_dir = job.checkpoint_dir
            if restore_savepoint is not None:
                by_id = dict(self.store.savepoints_with_ids(job_id))
                if restore_savepoint not in by_id:
                    raise ValueError(
                        f"job {job_id} has no savepoint id"
                        f" {restore_savepoint}; known:"
                        f" {sorted(by_id)}"
                    )
                ckpt_dir = by_id[restore_savepoint]
            runner = JobRunner(
                self.spark,
                mode=job.job_type,
                checkpoint=CheckPointParam(checkpoint_dir=ckpt_dir),
            )
            result = runner.execute_script(job.sql_script)
        except Exception as e:
            self.store.set_status(job_id, "FAIL")
            self.store.finish_run(run_id, "FAIL", traceback.format_exc())
            self._alarm(job_id, f"job {job.job_name} failed to start: {e}")
            raise
        terminal = "SUCCESS" if job.job_type == "batch" else "RUN"
        # terminal transition is a status-CAS: only STARTING promotes.
        # A stop() acknowledged during the unlocked submission window
        # already wrote STOP — honor it by tearing down what we just
        # started instead of overwriting the store back to RUN
        if not self.store.set_status_if(job_id, terminal, "STARTING"):
            for q in result.streaming_queries:
                try:
                    q.stop()
                    q.awaitTermination(60)
                except Exception:
                    pass
            self.store.finish_run(run_id, "STOP")
            return result
        # ONE tracked run row: the terminal row carries the query ids
        # and is CLOSED when the run actually ends (stop/reconcile) —
        # previously it stayed open forever for every stopped job
        run2 = self.store.log_run(job_id, terminal, result.query_ids)
        self.store.finish_run(run_id, terminal)
        if result.streaming_queries:
            with self._lock:
                self.running[job_id] = RunningJob(runner, result, run2)
            # a stop() that raced the unlocked submission flipped the
            # store to STOP before we registered — honor it
            if self.store.get_job(job_id).status_name == "STOP":
                self.stop(job_id)
        else:
            self.store.finish_run(run2, terminal)
        return result

    def _start_app(self, job) -> ExecutionResult:
        """JAR-mode analog (JobTypeEnum.JAR(1); jar download + launch at
        JobBaseServiceAOImpl.java:258-269): the job's script column
        holds a user PySpark application command line (`app.py arg …`),
        launched as a supervised subprocess — the app owns its own
        SparkSession, exactly as a user jar owns its Flink job. Status
        tracking reuses the same state machine via pid liveness."""
        if not self.store.set_status(job.id, "STARTING", job.version):
            raise RuntimeError(f"job {job.id} status changed concurrently")
        run_id = self.store.log_run(job.id, "STARTING", [])
        try:
            proc = subprocess.Popen(
                [sys.executable, *shlex.split(job.sql_script)],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
        except OSError as e:
            self.store.set_status(job.id, "FAIL")
            self.store.finish_run(run_id, "FAIL", str(e))
            self._alarm(job.id, f"app job {job.job_name} failed: {e}")
            raise
        if not self.store.set_status_if(job.id, "RUN", "STARTING"):
            # stop() raced the submission and wrote STOP — kill the
            # child we just launched rather than resurrecting RUN
            self._terminate_child(proc)
            self.store.finish_run(run_id, "STOP")
            return ExecutionResult()
        run2 = self.store.log_run(job.id, "RUN", [f"pid:{proc.pid}"])
        self.store.finish_run(run_id, "RUN")
        result = ExecutionResult()
        with self._lock:
            self.running[job.id] = RunningJob(None, result, run2, proc=proc)
        if self.store.get_job(job.id).status_name == "STOP":
            self.stop(job.id)
        return result

    def _start_process(
        self,
        job,
        restore_savepoint: int | None = None,
        drain: bool | None = None,
    ):
        """LOCAL deploy that still execs a real ``spark-submit`` child
        — the reference's LOCAL mode also shells out (``flink run``
        via Runtime.exec, CommandUtil.java:29-68 builds the argv,
        CommandRpcClinetAdapterImpl.java:48-70 execs and scrapes the
        ``job-submitted-success:`` stdout marker). Parity flow:
        write the SQL to ``<work>/sql/job_sql_<id>.sql``
        (JobBaseServiceAOImpl.writeSqlToFile:169-181), build the
        submit argv (platform/submit.py), exec, then read the child's
        structured JSON handshake line instead of scraping free text;
        RUN lands in the store the moment the handshake arrives, and
        reconcile() turns the child's exit into SUCCESS (clean batch)
        / STOP (clean drain) / FAIL (+alarm)."""
        import os
        import tempfile
        from pathlib import Path

        from flink_streaming_platform_web_spark.platform.submit import (
            build_local_submit_command,
        )

        if not self.store.set_status(job.id, "STARTING", job.version):
            raise RuntimeError(f"job {job.id} status changed concurrently")
        run_id = self.store.log_run(job.id, "STARTING", [])
        try:
            ckpt_dir = job.checkpoint_dir
            if restore_savepoint is not None:
                by_id = dict(self.store.savepoints_with_ids(job.id))
                if restore_savepoint not in by_id:
                    raise ValueError(
                        f"job {job.id} has no savepoint id"
                        f" {restore_savepoint}; known: {sorted(by_id)}"
                    )
                ckpt_dir = by_id[restore_savepoint]
            if self.work_dir:
                work = Path(self.work_dir)
            else:
                if self._auto_work_dir is None:
                    self._auto_work_dir = tempfile.mkdtemp(prefix="sspw-")
                work = Path(self._auto_work_dir)
            (work / "sql").mkdir(parents=True, exist_ok=True)
            (work / "logs").mkdir(parents=True, exist_ok=True)
            sql_file = work / "sql" / f"job_sql_{job.id}.sql"
            sql_file.write_text(job.sql_script)
            stop_file = work / "sql" / f"job_stop_{job.id}"
            if stop_file.exists():  # stale marker from a prior run
                stop_file.unlink()
            cmd = build_local_submit_command(
                str(sql_file),
                job.job_type,
                checkpoint_dir=ckpt_dir,
                drain=self.drain_children if drain is None else drain,
                stop_file=str(stop_file),
            )
            env = dict(os.environ)
            env["PYTHONPATH"] = with_package_root(env.get("PYTHONPATH", ""))
            log_f = open(work / "logs" / f"job_{job.id}.log", "ab")
            try:
                proc = subprocess.Popen(
                    cmd,
                    stdout=subprocess.PIPE,
                    stderr=log_f,
                    env=env,
                    text=True,
                )
            finally:
                log_f.close()  # child holds its own fd
            handshake = self._read_handshake(proc)
        except Exception as e:
            self.store.set_status(job.id, "FAIL")
            self.store.finish_run(run_id, "FAIL", traceback.format_exc())
            self._alarm(job.id, f"job {job.job_name} failed to submit: {e}")
            raise
        qids = [str(q) for q in handshake.get("queries", [])]
        if not self.store.set_status_if(job.id, "RUN", "STARTING"):
            self._terminate_child(proc)
            self.store.finish_run(run_id, "STOP")
            return ExecutionResult(remote_query_ids=qids)
        run2 = self.store.log_run(job.id, "RUN", qids + [f"pid:{proc.pid}"])
        self.store.finish_run(run_id, "RUN")
        result = ExecutionResult(remote_query_ids=qids)
        with self._lock:
            self.running[job.id] = RunningJob(
                None, result, run2, proc=proc,
                stop_file=str(stop_file),
            )
        if self.store.get_job(job.id).status_name == "STOP":
            self.stop(job.id)
        return result

    @staticmethod
    def _read_handshake(proc, timeout: float = 300.0) -> dict:
        """Block until the child prints its submit handshake —
        a JSON line ``{"marker": "job-submitted-success", ...}``
        (the typed analog of the marker scrape at
        CommandRpcClinetAdapterImpl.java:150-161). Raises if the child
        dies or stays silent past the timeout; afterwards a daemon
        thread keeps draining stdout so the pipe can't fill up."""
        import json as _json
        import queue as _queue
        import time as _time

        q: _queue.Queue = _queue.Queue()

        def _pump():
            for line in proc.stdout:
                q.put(line)
            q.put(None)

        threading.Thread(target=_pump, daemon=True).start()
        deadline = _time.monotonic() + timeout
        while True:
            remaining = deadline - _time.monotonic()
            if remaining <= 0:
                proc.kill()
                try:  # reap — an unwaited kill leaves a zombie
                    proc.wait(10)
                except Exception:
                    pass
                raise RuntimeError(
                    f"no submit handshake within {timeout:.0f}s"
                )
            try:
                line = q.get(timeout=min(remaining, 5.0))
            except _queue.Empty:
                continue
            if line is None:
                raise RuntimeError(
                    f"child exited (rc={proc.wait()}) before the"
                    " submit handshake"
                )
            try:
                obj = _json.loads(line)
            except ValueError:
                continue  # non-handshake stdout noise
            if (
                isinstance(obj, dict)
                and obj.get("marker") == "job-submitted-success"
            ):
                return obj

    def stop(self, job_id: int) -> None:
        # claim under the lock; the BLOCKING teardown (savepoint,
        # query stops with 60s waits, child terminate) runs outside it
        # — holding the manager lock through multi-minute waits froze
        # every other lifecycle verb and the scheduler behind one stop
        with self._lock:
            rj = self.running.pop(job_id, None)
            remote_app = self.remote_apps.pop(job_id, None)
        if rj is not None:
            # savepoint-before-stop (reference :94-98)
            self.savepoint(job_id)
            for q in rj.result.streaming_queries:
                # a query that already DIED re-raises its failure
                # from awaitTermination — that must not abort the
                # stop (siblings would leak and the store would
                # stay RUN forever); the operator's stop wins
                try:
                    q.stop()
                    q.awaitTermination(60)
                except Exception:
                    pass
            if (
                rj.proc is not None
                and rj.stop_file
                and rj.proc.poll() is None
            ):
                # cooperative stop first — Flink `stop` semantics:
                # the child drain-stops its queries (buffered
                # event-time tails flush) and exits 0. SIGTERM is
                # only the fallback: it lands on the spark-submit
                # JVM, which kills the python driver without any
                # chance to drain (`cancel` semantics).
                try:
                    open(rj.stop_file, "w").close()
                    rj.proc.wait(90)
                except (OSError, subprocess.TimeoutExpired):
                    pass
            self._terminate_child(rj.proc)
            self.store.set_status(job_id, "STOP")
            self.store.finish_run(rj.run_id, "STOP")
            return
        if remote_app is not None:
            # a tracked cluster application must actually be KILLED —
            # flipping the store row while the app keeps running burns
            # the cluster and desynchronizes state forever
            if self.rpc_adapter is None:
                # re-track: refusing loudly beats lying in the store
                with self._lock:
                    self.remote_apps.setdefault(job_id, remote_app)
                raise RuntimeError(
                    f"job {job_id} is a cluster application"
                    f" ({remote_app}) and no rpc_adapter is configured"
                    " to kill it"
                )
            self.rpc_adapter.kill(remote_app)
            self.store.set_status(job_id, "STOP")
            return
        # not tracked as running: only stoppable states transition
        # to STOP — never erase a FAIL record with a late stop()
        # (reference stops only RUNNING/RESTARTING,
        # JobStandaloneServerAOImpl.java:108; ADVICE r01)
        if self.store.get_job(job_id).status_name in (
            "RUN",
            "STARTING",
        ):
            self._kill_orphan_child(job_id)
            self.store.set_status(job_id, "STOP")

    @staticmethod
    def _terminate_child(proc) -> None:
        if proc is not None and proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                # reap: without the follow-up wait the SIGKILLed child
                # stays a zombie until the manager process exits
                try:
                    proc.wait(10)
                except subprocess.TimeoutExpired:
                    pass

    def _kill_orphan_child(self, job_id: int) -> None:
        """Best-effort SIGTERM of a LOCAL_PROCESS/app child recorded in
        the run log by ANOTHER process sharing this store (cli stop vs
        REST-server-started child): without it, stop() flips the store
        row while the child keeps writing to the sink forever."""
        import json as _json
        import signal

        for _id, _status, query_ids, _msg in reversed(
            self.store.runs(job_id)
        ):
            for entry in _json.loads(query_ids or "[]"):
                if isinstance(entry, str) and entry.startswith("pid:"):
                    try:
                        os.kill(int(entry[4:]), signal.SIGTERM)
                    except (ProcessLookupError, ValueError, PermissionError):
                        pass
                    return  # newest recorded pid only

    # -- config verbs (open/close/delete/copy — JobConfigApiController) ----

    def open_job(self, job_id: int) -> None:
        self.store.set_open(job_id, True)

    def close_job(self, job_id: int) -> None:
        with self._lock:
            if job_id in self.running:
                raise RuntimeError(f"job {job_id} is running; stop it first")
            self.store.set_open(job_id, False)

    def delete_job(self, job_id: int) -> None:
        with self._lock:
            if job_id in self.running:
                raise RuntimeError(f"job {job_id} is running; stop it first")
            if job_id in self.remote_apps:
                raise RuntimeError(
                    f"job {job_id} has a tracked cluster application"
                    f" ({self.remote_apps[job_id]}); stop it first"
                )
            self.store.delete_job(job_id)

    def copy_job(self, job_id: int, new_name: str | None = None) -> int:
        return self.store.copy_job(job_id, new_name)

    def savepoint(self, job_id: int) -> str | None:
        """Register the job's checkpoint location — Spark's checkpoint
        dir IS the restorable artifact (SURVEY §1.3)."""
        job = self.store.get_job(job_id)
        if job.checkpoint_dir:
            self.store.add_savepoint(job_id, job.checkpoint_dir)
            return job.checkpoint_dir
        return None

    def status(self, job_id: int) -> str:
        return self.store.get_job(job_id).status_name

    def metrics(self, job_id: int) -> list[dict]:
        """Per-query runtime metrics for a running job — the job-detail
        numbers the reference reads from Flink's REST metrics endpoint
        (FlinkRestRpcAdapterImpl job overview). `lastProgress` is
        Spark's own progress JSON: input/processed rows per second,
        batch durations, state-store rows — returned verbatim so the
        caller sees the engine's full instrumentation. Empty list for
        jobs with no in-process queries (remote/app mode reports
        through the RPC adapters instead)."""
        import json as _json

        def _progress(qry):
            p = qry.lastProgress
            if p is None:
                return None
            if hasattr(p, "json"):  # StreamingQueryProgress object
                return _json.loads(p.json)
            # dict form may still carry UUID/timestamp objects
            return _json.loads(_json.dumps(p, default=str))

        # snapshot under the lock, but do the py4j round-trips OUTSIDE
        # it: a wedged JVM call must not stall every manager operation
        # (scheduler ticks, start/stop verbs) behind one metrics read
        with self._lock:
            rj = self.running.get(job_id)
            queries = (
                list(rj.result.streaming_queries)
                if rj is not None and rj.result is not None
                else []
            )
        return [
            {
                "id": str(qry.id),
                "name": qry.name,
                "is_active": qry.isActive,
                "last_progress": _progress(qry),
            }
            for qry in queries
        ]

    # -- monitoring (SchedulerTask / TaskServiceAO parity) -----------------

    def reconcile(self) -> list[int]:
        """Sweep RUN jobs whose queries died; mark STOP/FAIL, alarm,
        optionally auto-restart. Returns affected job ids. Per-job
        failures (including restart errors) never abort the sweep —
        the reference's scheduler catches per-job exceptions the same
        way (TaskServiceAOImpl.checkJobStatus).

        Lock discipline (same invariant as metrics()): py4j probes,
        sibling stops, webhook alarms, and script re-execution all run
        OUTSIDE the manager lock — one wedged JVM call or slow restart
        must not stall every start/stop/status verb. Only the
        bookkeeping (untrack + status flip) holds the lock, re-checking
        the RunningJob identity so a concurrent stop() can't be
        double-processed."""
        with self._lock:
            snapshot = list(self.running.items())
        candidates = []  # (job_id, rj, exc) — probed lock-free
        for job_id, rj in snapshot:
            exc = None
            if rj.proc is not None:
                rc = rj.proc.poll()
                if rc is None:
                    continue
                if rc != 0:
                    exc = RuntimeError(f"app exited with code {rc}")
            else:
                dead = [
                    q
                    for q in rj.result.streaming_queries
                    if not q.isActive
                ]
                if not dead:
                    continue
                for q in dead:
                    if q.exception() is not None:
                        exc = q.exception()
            candidates.append((job_id, rj, exc))
        affected, alarms_due, restarts_due = [], [], []
        claimed: list[RunningJob] = []
        with self._lock:
            for job_id, rj, exc in candidates:
                if self.running.get(job_id) is not rj:
                    continue  # raced with stop()/restart — theirs wins
                self.running.pop(job_id)
                claimed.append(rj)
                affected.append(job_id)
                job = self.store.get_job(job_id)
                # ANY child that exited 0 COMPLETED — SUCCESS, no
                # alarm, no restart. LOCAL_PROCESS streaming children
                # run in drain mode, so a clean exit is their DESIGNED
                # completion: alarming it produced false "job down"
                # pages and auto-restart loops (each restart drained
                # and "died" again).
                clean_exit = exc is None and rj.proc is not None
                final = (
                    "FAIL"
                    if exc
                    else ("SUCCESS" if clean_exit else "STOP")
                )
                self.store.set_status(job_id, final)
                # close the tracked run row with the actual outcome —
                # it previously stayed open (status RUN, no finish
                # time) forever for every died/stopped job
                self.store.finish_run(
                    rj.run_id, final, str(exc) if exc else ""
                )
                if clean_exit:
                    continue
                alarms_due.append(
                    (
                        job_id,
                        f"job {job.job_name} is no longer running"
                        + (f": {exc}" if exc else ""),
                    )
                )
                cfg = self._channels(job_id)
                if (
                    cfg
                    and cfg.auto_restart
                    and rj.restarts < cfg.max_restarts
                ):
                    restarts_due.append((job_id, rj))
        # a PARTIALLY-dead multi-query job: stop the surviving siblings
        # or they keep writing forever (and an auto-restart would run
        # duplicates). This runs AFTER the job is claimed under the
        # lock — the old pre-claim stop could race a concurrent
        # operator stop() and kill queries while that stop()'s
        # savepoint-before-stop was in flight (ADVICE r02). Stops stay
        # lock-free (py4j calls must not stall other verbs) and happen
        # before any auto-restart below, so no duplicate writers.
        for rj in claimed:
            for q in rj.result.streaming_queries:
                try:
                    if q.isActive:
                        q.stop()
                        q.awaitTermination(30)
                except Exception:
                    pass
        for job_id, message in alarms_due:
            self._alarm(job_id, message)
        for job_id, rj in restarts_due:
            # reference restarts as user 'task-auto'
            # (SystemConstants.java:22); a failed restart is alarmed
            # and the sweep continues (ADVICE r01)
            try:
                self.start(job_id)
            except Exception as e:
                self.store.log_alarm(job_id, "AUTO_RESTART_FAIL", str(e))
            else:
                with self._lock:
                    if job_id in self.running:
                        self.running[job_id].restarts = rj.restarts + 1
        # submit staging dirs (--py-files zips) are only needed until
        # the spark-submit child has launched; sweep them once any
        # child has exited so a long-lived manager doesn't grow /tmp
        # without bound (ADVICE r04)
        if any(rj.proc is not None for rj in claimed):
            from flink_streaming_platform_web_spark.platform.submit import (
                cleanup_staging,
            )

            # generous age guard: every registered staging dir is a
            # CLUSTER submission's --py-files payload, and a busy
            # queue can keep one in flight for many minutes — only
            # sweep dirs old enough that any consumer is done
            # (code-review r5); the atexit sweep still catches the
            # rest at shutdown
            cleanup_staging(min_age_seconds=3600)
        return affected

    # -- cluster-mode sweep (YARN/Spark REST; TaskServiceAO.checkYarn) --

    def track_remote(self, job_id: int, app_id: str) -> None:
        """Record a cluster-submitted job's application id so the
        remote sweep can poll it (the reference persists the YARN app
        id on the run log the same way)."""
        self.remote_apps[job_id] = app_id
        self.store.log_run(job_id, "RUN", [f"app:{app_id}"])
        self.store.set_status(job_id, "RUN")

    def reconcile_remote(self, adapter) -> list[int]:
        """Sweep cluster-mode jobs via a status RPC adapter
        (platform/rpc.py — YarnRestAdapter / SparkRestAdapter): any
        tracked app no longer RUNNING is marked with the adapter's
        mapped status, alarmed, and optionally auto-restarted —
        checkYarn/checkStandalone parity (TaskServiceAOImpl:208-245).
        """
        affected, restarts_due = [], []
        with self._lock:
            apps = list(self.remote_apps.items())
        for job_id, app_id in apps:
            try:
                status = adapter.app_status(app_id)
            except Exception:
                status = "UNKNOWN"
            if status in ("RUN", "STARTING", "UNKNOWN"):
                continue  # healthy or indeterminate: leave alone
            with self._lock:
                if self.remote_apps.get(job_id) != app_id:
                    continue
                self.remote_apps.pop(job_id)
            affected.append(job_id)
            # per-job isolation: a deleted job (store row gone) or a
            # failing alarm webhook must not abort the rest of the
            # sweep (the same discipline reconcile() documents)
            try:
                job = self.store.get_job(job_id)
                self.store.set_status(job_id, status)
                self._alarm(
                    job_id,
                    f"cluster job {job.job_name} ({app_id}) is {status}",
                )
                cfg = self._channels(job_id)
                if cfg and cfg.auto_restart and status != "SUCCESS":
                    restarts_due.append(job_id)
            except Exception as e:
                import contextlib

                with contextlib.suppress(Exception):
                    self.store.log_alarm(
                        job_id, "RECONCILE_REMOTE_FAIL", str(e)
                    )
        for job_id in restarts_due:
            # AUTO_START_JOB parity for cluster jobs (alermAndAutoJob):
            # restart through the same lifecycle (in LOCAL that is an
            # in-process run; a cluster deployment routes start()
            # through the submit builder)
            try:
                self.start(job_id)
            except Exception as e:
                self.store.log_alarm(job_id, "AUTO_RESTART_FAIL", str(e))
        return affected

    def _channels(self, job_id: int) -> AlarmConfig | None:
        """Per-job alarm channel selection: the in-memory override
        wins; otherwise the persisted job_alarm_config rows pick the
        channels (AlarmTypeEnum routing) with URLs from system_config
        (SysConfigEnum keys)."""
        cfg = self.alarm_configs.get(job_id)
        if cfg is not None:
            return cfg
        types = self.store.alarm_types(job_id)
        if not types:
            return None
        return AlarmConfig(
            webhook_url=(
                self.store.get_config("alarm.dingding.url")
                if "DINGDING" in types
                else None
            ),
            callback_url=(
                self.store.get_config("alarm.callback.url")
                if "CALLBACK_URL" in types
                else None
            ),
            auto_restart="AUTO_START_JOB" in types,
        )

    def _alarm(self, job_id: int, message: str) -> None:
        self.store.log_alarm(job_id, "JOB_DOWN", message)
        cfg = self._channels(job_id)
        if cfg is None:
            return
        job = self.store.get_job(job_id)
        if cfg.webhook_url:
            alarms.send_webhook(cfg.webhook_url, message)
        if cfg.callback_url:
            alarms.send_callback(
                cfg.callback_url, str(job_id), job.job_name, job.deploy_mode
            )
