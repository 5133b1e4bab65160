"""foreachBatch streaming CEP: the batch tier SQL over watermark-
released frames (round 15, VERDICT r14 item 1).

The watermark-buffered NFA route (``ooo.watermark_buffered`` +
``cep._stream_fold``) is the GENERAL streaming MATCH_RECOGNIZE path:
per-key Python NFA state inside ``applyInPandasWithState``. Its cost
profile at scale is the Python fold itself (46 % of the st14 sf5
update profile) plus the state channel's per-chunk re-serialization.
But for the shapes the batch engine already compiles to pure-JVM
window SQL (operators/cep.py tiers A and C), none of that Python is
necessary: the per-batch work is "run the tier SQL over the rows the
watermark just released", which Catalyst executes at scan speed with
one keyed exchange — guide §4 (move work across the UDF boundary into
the JVM) applied to the streaming runner.

Route shape (one ``foreachBatch`` sink, no stateful operator in the
streaming plan):

- the watermark is replayed exactly: ``wm_b`` = max event time over
  batches ``< b`` minus the declared delay, floored to ms — the same
  value ``GroupState.getCurrentWatermarkMs`` hands the NFA route;
- rows with ``ts <= wm`` at arrival are dropped late (Flink's
  late-element contract, identical to ooo.py's cut), and so are rows
  with a NULL event time, in every batch;
- pending rows (``ts > wm``) live in a parquet state dir, versioned
  by micro-batch id so a replayed batch overwrites its own version —
  idempotent under retry, and ONE bounded spill file set instead of
  the NFA route's single pickled state blob (this is what bounds the
  global pattern's buffer: VERDICT r14 item 3);
- released rows join the carried per-key tail (the undecided frame
  suffix), the frame splits at the shape's emission frontier
  (``cep.fb_stream_shape`` — the soundness argument lives there), the
  batch dispatcher runs the tier SQL over the decided part, the
  user's outer SELECT replays over the result, and the emitted rows
  land in a versioned parquet append dir the sink view reads;
- the query's stop wrapper (``runner.DrainingQuery``) drains it: the
  remaining tail + pending rows run through the same tier as one
  final frame — Flink's MAX_WATERMARK at end of bounded input — so
  the converged table equals the batch result.

Eligibility is decided spec-first (``fb_stream_shape``) and falls
back to the NFA route for everything else (consuming skip modes,
ALL ROWS, context-dependent defines, non-memory sinks, non-row-local
outer selects).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: analyzed-plan node names that make an outer SELECT non-row-local:
#: per-batch replay of such a plan would aggregate each micro-batch
#: separately instead of the whole stream — those shapes stay on the
#: NFA route (whose streaming plan lets Spark manage the state)
_NON_ROW_LOCAL = (
    "Aggregate", "Window", "Sort", "Join", "Distinct",
    "Deduplicate", "GlobalLimit", "Generate", "Expand",
)


def _delay_us(delay: str) -> int:
    import pandas as pd

    return int(pd.Timedelta(delay).value // 1000)


def try_start(
    runner, src, spec, sink, outer: str, view: str, wm, idx: int, result
):
    """Start the foreachBatch tier route for an eligible streaming
    MATCH_RECOGNIZE into ``result`` and return True, or return False
    to let the caller fall back to the watermark-buffered NFA route.
    ``runner`` is the JobRunner (session, query start, sink
    alignment); ``wm`` the source's WatermarkDef."""
    from flink_streaming_platform_web_spark.functions.flink_compat import (
        translate_expr,
    )
    from flink_streaming_platform_web_spark.operators import cep

    if sink.connector != "memory" or sink.primary_key:
        return False
    spark = runner.spark
    probe = spark.createDataFrame([], src.schema)
    keyed_spec, gk = spec, None
    if not spec.partition_by:
        probe, keyed_spec = cep._with_global_key(probe, spec)
        gk = cep._GK
    keyed_schema = cep.infer_output_schema(keyed_spec, probe)
    shape = cep.fb_stream_shape(probe, keyed_spec)
    if shape is None:
        return False
    # outer SELECT must be row-local: it replays per micro-batch over
    # the emitted matches, which is only distribution-safe for plain
    # project/filter plans. Probe it over an EMPTY relation bearing
    # the matched-view schema (probing over the real match plan would
    # see the tier's own Window/Aggregate nodes and always reject)
    outer_sql = translate_expr(outer)
    try:
        m_probe = spark.createDataFrame([], keyed_schema)
        if gk:
            m_probe = m_probe.drop(gk)
        m_probe.createOrReplaceTempView(view)
        out_probe = runner._align_to_sink(spark.sql(outer_sql), sink)
        plan = out_probe._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    finally:
        try:
            spark.catalog.dropTempView(view)
        except Exception:
            pass
    if any(n in plan for n in _NON_ROW_LOCAL):
        return False
    stream = _FBCepStream(
        runner=runner,
        spec=keyed_spec,
        shape=shape,
        gk=gk,
        src_cols=list(src.columns),
        keyed_schema=keyed_schema,
        out_schema=out_probe.schema,
        outer_sql=outer_sql,
        view=view,
        sink=sink,
        ts_col=spec.order_by[0],
        delay_us=_delay_us(wm.delay),
    )
    writer = (
        src.writeStream.foreachBatch(stream.foreach_batch)
        .outputMode("append")
        .queryName(f"fb_cep_{sink.name}_{idx}")
    )
    stream.register_view()  # the sink view exists even before data
    # the route's pending frame lives in its own state dir, not in the
    # run-scoped checkpoint, so its drain ignores the checkpoint
    runner._start(
        writer, result, run_scoped=f"graft_fbcep_ckpt_q{idx}_",
        drain=lambda _checkpoint: stream.drain(),
    )
    return True


class _FBCepStream:
    def __init__(
        self, runner, spec, shape, gk, src_cols, keyed_schema,
        out_schema, outer_sql, view, sink, ts_col, delay_us,
    ):
        self.runner = runner
        self.spark = runner.spark
        self.spec = spec
        self.shape = shape
        self.gk = gk
        self.src_cols = src_cols
        self.keyed_schema = keyed_schema
        self.out_schema = out_schema
        self.outer_sql = outer_sql
        self.view = view
        self.sink = sink
        self.ts_col = ts_col
        self.delay_us = delay_us
        self.state_dir = tempfile.mkdtemp(
            prefix=f"graft_fbcep_state_{sink.name}_"
        )
        # frame schema = source columns (+ constant key); resolved
        # from the first batch (the staged parquet's exact types)
        self._frame_fields = None

    # ---- state dir helpers -------------------------------------------

    def _dir(self, kind: str, version) -> str:
        return f"{self.state_dir}/{kind}/v{version}"

    def _meta_path(self, version) -> str:
        return f"{self.state_dir}/meta_v{version}.json"

    def _meta_before(self, epoch: int) -> dict:
        """Latest committed meta from a batch strictly before
        ``epoch`` (a retried batch must not read its own partial
        state)."""
        best = None
        for f in os.listdir(self.state_dir):
            if f.startswith("meta_v") and f.endswith(".json"):
                v = f[len("meta_v"):-len(".json")]
                if v == "drain":
                    continue
                v = int(v)
                if v < epoch and (best is None or v > best):
                    best = v
        if best is None:
            return {
                "wm_us": 0, "pending_v": None, "tails_v": None,
                "emit_vs": [],
            }
        with open(self._meta_path(best)) as fh:
            return json.load(fh)

    def _latest_meta(self) -> dict:
        return self._meta_before(2**62)

    def _read(self, version, kind: str, sess) -> "DataFrame | None":
        if version is None:
            return None
        return sess.read.schema(self._frame_fields).parquet(
            self._dir(kind, version)
        )

    def _write(self, df: DataFrame, version, kind: str) -> None:
        df.write.mode("overwrite").parquet(self._dir(kind, version))

    # ---- per-micro-batch ---------------------------------------------

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        sc = sess.sparkContext
        meta = self._meta_before(epoch_id)
        wm_us = int(meta["wm_us"])
        pending_v = meta["pending_v"]
        tails_v = meta["tails_v"]
        emit_vs = list(meta["emit_vs"])
        sc.setJobDescription(
            f"fb_cep {self.sink.name} batch {epoch_id} (wm={wm_us})"
        )
        try:
            new = batch_df.select(*self.src_cols)
            if self.gk:
                new = new.withColumn(self.gk, F.lit(0))
            if self._frame_fields is None:
                self._frame_fields = new.schema
            ts_us = F.expr(f"unix_micros(`{self.ts_col}`)")
            # watermark input: max event time over ALL batch rows
            # (late ones included — Spark's watermark tracker sees
            # every source row too)
            mx = batch_df.agg(
                F.max(F.expr(f"unix_micros(`{self.ts_col}`)"))
            ).collect()[0][0]
            if mx is not None:
                # late cut at arrival: ts <= wm dropped (ooo.py's
                # wm_ms > 0 contract — no cut before a watermark
                # exists); a NULL event time is cut in every batch,
                # as no watermark ever passes it
                new = new.where(
                    ts_us > F.lit(wm_us) if wm_us > 0
                    else ts_us.isNotNull()
                )
            pending_prev = self._read(pending_v, "pending", sess)
            if mx is None:
                allp = pending_prev
            elif pending_prev is None:
                allp = new
            else:
                allp = pending_prev.unionByName(new)
            if allp is not None:
                allp = allp.persist()
                try:
                    released = (
                        allp.where(ts_us <= F.lit(wm_us))
                        if wm_us > 0
                        else None
                    )
                    n_rel = released.count() if released is not None else 0
                    if n_rel:
                        tails_prev = self._read(tails_v, "tails", sess)
                        frame = (
                            tails_prev.unionByName(released)
                            if tails_prev is not None
                            else released
                        )
                        self._emit(frame, epoch_id, sess, final=False)
                        emit_vs.append(epoch_id)
                        tails_v = epoch_id
                    still = (
                        allp.where(ts_us > F.lit(wm_us))
                        if wm_us > 0
                        else allp
                    )
                    self._write(still, epoch_id, "pending")
                    pending_v = epoch_id
                finally:
                    allp.unpersist()
            if mx is not None:
                wm_new_ms = max(wm_us // 1000, (mx - self.delay_us) // 1000)
                wm_us = max(wm_us, max(wm_new_ms, 0) * 1000)
            committed = {
                "wm_us": wm_us,
                "pending_v": pending_v,
                "tails_v": tails_v,
                "emit_vs": emit_vs,
            }
            with open(self._meta_path(epoch_id), "w") as fh:
                json.dump(committed, fh)
            self._gc(committed, meta)
            self.register_view()
        finally:
            sc.setJobDescription(None)

    def _emit(self, frame: DataFrame, version, sess, final: bool) -> None:
        """Split ``frame`` at the emission frontier (unless draining),
        run the batch tier over the decided part, replay the outer
        SELECT, and write emits + the carried tail."""
        from flink_streaming_platform_web_spark.operators import cep

        frame = frame.persist()
        try:
            if final:
                decided, tail = frame, None
            elif self.shape[0] == "fixed_next":
                k = self.shape[1]
                if k <= 1:
                    decided, tail = frame, None
                else:
                    # tail = last k-1 rows per key in ORDER BY order:
                    # the tier orders NULLS LAST in both directions
                    # (cep._tier_window), so the reverse puts them first
                    asc = self.spec.order_asc or [True] * len(
                        self.spec.order_by
                    )
                    rev = ", ".join(
                        f"`{c}`"
                        + (" DESC" if a else " ASC")
                        + " NULLS FIRST"
                        for c, a in zip(self.spec.order_by, asc)
                    )
                    part = ", ".join(
                        f"`{c}`" for c in self.spec.partition_by
                    )
                    rd = frame.selectExpr(
                        "*",
                        f"ROW_NUMBER() OVER (PARTITION BY {part}"
                        f" ORDER BY {rev}) AS `__fb_rd__`",
                    )
                    base = list(frame.columns)
                    decided = frame  # every found match is final
                    tail = rd.where(f"`__fb_rd__` <= {k - 1}").select(
                        *base
                    )
            else:  # trailing_plus
                decided, tail = cep.fb_trailing_plus_split(
                    frame, self.spec
                )
            emit = cep.match_recognize(
                decided, self.spec, self.keyed_schema
            )
            if self.gk:
                emit = emit.drop(self.gk)
            emit.createOrReplaceTempView(self.view)
            out = self.runner._align_to_sink(
                sess.sql(self.outer_sql), self.sink
            )
            out.write.mode("overwrite").parquet(
                self._dir("emits", version)
            )
            if tail is not None:
                self._write(tail, version, "tails")
            elif not final:
                # k == 1: nothing carries, but the version pointer
                # advanced — write an empty tail set
                self._write(frame.limit(0), version, "tails")
        finally:
            frame.unpersist()

    def _gc(self, committed: dict, previous: dict) -> None:
        """Drop every state version that neither the meta just
        committed nor the one before it references: the next batch
        (and a drain) reads the former, a retry of this batch the
        latter. Versions advance only on the batches that write them
        — tails only on batches that release rows — so a live
        version can be many batches old."""
        for kind in ("pending", "tails"):
            d = f"{self.state_dir}/{kind}"
            if not os.path.isdir(d):
                continue
            live = {
                f"v{m[f'{kind}_v']}"
                for m in (committed, previous)
                if m[f"{kind}_v"] is not None
            }
            for f in os.listdir(d):
                if f.startswith("v") and f not in live:
                    shutil.rmtree(f"{d}/{f}", ignore_errors=True)

    # ---- drain + sink view -------------------------------------------

    def drain(self) -> None:
        """Flush pending + tail rows through the tier as one final
        frame (Flink's MAX_WATERMARK at end of bounded input)."""
        meta = self._latest_meta()
        if self._frame_fields is None:
            self.register_view()
            return
        sess = self.spark
        tails = self._read(meta["tails_v"], "tails", sess)
        pending = self._read(meta["pending_v"], "pending", sess)
        frame = None
        for part in (tails, pending):
            if part is None:
                continue
            frame = part if frame is None else frame.unionByName(part)
        if frame is not None:
            self._emit(frame, "drain", sess, final=True)
            meta["emit_vs"] = list(meta["emit_vs"]) + ["drain"]
            with open(self._meta_path("drain"), "w") as fh:
                json.dump(meta, fh)
        self.register_view(meta)
        # the buffer state is spent after a drain (a drained query
        # must not resume, as on every stop-with-drain route); the
        # emits stay, the sink view reads them
        for kind in ("pending", "tails"):
            shutil.rmtree(
                f"{self.state_dir}/{kind}", ignore_errors=True
            )

    def register_view(self, meta: "dict | None" = None) -> None:
        """(Re-)point the sink's temp view at the emitted parquet
        versions — the foreachBatch analog of format('memory')'s
        automatic registration, on the DRIVER session (the cloned
        batch session's views are invisible there)."""
        if meta is None:
            meta = self._latest_meta()
        paths = [
            self._dir("emits", v)
            for v in meta["emit_vs"]
            if os.path.isdir(self._dir("emits", v))
        ]
        if paths:
            df = self.spark.read.schema(self.out_schema).parquet(*paths)
        else:
            df = self.spark.createDataFrame([], self.out_schema)
        df.createOrReplaceTempView(self.sink.name)
