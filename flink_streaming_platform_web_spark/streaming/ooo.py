"""Watermark-buffered out-of-order ingest: the one ingest front end
of the custom event-time streaming operators (streaming CEP, OVER and
the event-time temporal join).

Flink's event-time operators (CepOperator, TemporalRowTimeJoinOperator,
the OverAggregate row-time operators — all reachable from the
reference's SQL surface via Flink 1.13, reference `pom.xml:41`) accept
out-of-order streams by BUFFERING each element in keyed state until the
watermark passes its timestamp, then processing elements in event-time
order; elements older than the watermark at arrival are late and are
dropped. Flink rejects these operators unless they order by a
watermarked time attribute, and so does the runner
(``JobRunner._event_time_watermark``): without a watermark nothing
would ever release.

``watermark_buffered`` wraps any operator expressed as a FOLD —
``fold(inner_state | None, released_rows) -> (inner_state, out_rows)``
where ``released_rows`` is one key's rows as a list of row dicts in
the operator's ORDER BY (``rows_of_frame``) — in an
``applyInPandasWithState`` stage:

- state is key-GROUPED (``hash(key) % key_groups`` state keys —
  Flink's key-group layout; see ``sized_key_groups``): each bucket
  holds ONE pending frame plus per-logical-key
  ``(release_frontier, inner)`` dicts, and folds run per logical key
  inside the bucket;
- each invocation appends the batch's rows to pending, drops LATE rows
  (event time ≤ the frontier already released — Flink's late-element
  drop; Spark's stateful operator pre-filters rows older than the
  watermark the same way), then releases every pending row whose event
  time ≤ the current global watermark (``GroupState.
  getCurrentWatermarkMs`` — the same watermark Spark computed from the
  sources' ``withWatermark``), sorted, into the fold;
- keys with rows still pending arm an ``EventTimeTimeout`` timer just
  below the earliest pending timestamp, so the key is re-invoked when
  the watermark passes it even if no further data arrives for the key
  — Flink's per-element event-time timer registration, and the reason
  every key flushes on the terminal no-data micro-batch.

Bounded-input flush: Flink emits a ``MAX_WATERMARK`` at the end of a
bounded source so buffered elements drain (and ``flink stop --drain``
does the same at shutdown). Spark's file source has no end-of-input
signal, so the analog here is **stop-with-drain**: ``drain_pending``
reads the query's last committed state through Spark's ``statestore``
batch reader after ``StreamingQuery.stop()``, runs the remaining fold
over each key's pending rows exactly as a MAX_WATERMARK release
would (sorted, after the frontier), and returns the tail output rows
for the runner to append to the sink (the runner hands this drain
to the query's stop wrapper, runner.DrainingQuery). Like Flink's ``--drain``, a drained query must
not be restarted from the same checkpoint (the drained rows would
replay).

Key-group count: four per partition of the stateful stage
(``4 × spark.sql.shuffle.partitions``, ``sized_key_groups``). The
framework pays one Python call plus one state load and save per state
key that receives rows (or times out) in a micro-batch. With far more
rows per batch than groups, nearly every group is visited in every
batch, so that cost is fixed per batch and grows with the count, not
with the data; it set the latency of small batches when the count was
1024. Four groups per partition keep every partition busy and leave
the hash some room to even out. Like Flink's max-parallelism, the count is fixed once state
exists: ``pinned_key_groups`` records it in the query's checkpoint
when the query first starts and reads it back on every restore, so a
restart under a different ``spark.sql.shuffle.partitions`` still
finds every key in the bucket that holds its state. A checkpoint
that has commits but no record predates the record and restores
with ``LEGACY_KEY_GROUPS``.

Scale shape: identical to the wrapped operator's — one shuffle on the
bucket column, state sharded per bucket across executors in the state
store (checkpointable), per-key pending bounded by the rows inside one
watermark delay (exactly Flink's buffer bound).
"""

from __future__ import annotations

import json
import os
import pickle

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

Fold = Callable[["bytes | None", "list[dict]"], "tuple[bytes, list | None]"]

#: key-group count of a checkpoint written before the count was
#: recorded: every buffered operator hashed into 1024 buckets then
LEGACY_KEY_GROUPS = 1024

#: file in the query's checkpoint directory that pins the count
_KG_RECORD = "watermark_buffer.json"

#: bucket column the front ends inject; collides loudly
_KG = "__wb_kg__"


def sized_key_groups(spark: SparkSession) -> int:
    """Key-group count for a buffered operator with no state yet:
    four per partition of the stateful stage (see the module
    docstring)."""
    return 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))


def pinned_key_groups(
    spark: SparkSession, checkpoint_loc: "str | None"
) -> int:
    """The key-group count a buffered query must hash into: the one
    recorded in its checkpoint directory, or ``LEGACY_KEY_GROUPS`` for
    a checkpoint that has commits but no record, or — for a query
    starting afresh — ``sized_key_groups``, recorded before the query
    starts. ``checkpoint_loc`` is a local path; None (no checkpoint,
    nothing to restore) just sizes."""
    if checkpoint_loc is None:
        return sized_key_groups(spark)
    if checkpoint_loc.startswith("file:"):
        checkpoint_loc = checkpoint_loc[len("file:"):]
    rec = os.path.join(checkpoint_loc, _KG_RECORD)
    if os.path.exists(rec):
        with open(rec) as fh:
            return int(json.load(fh)["key_groups"])
    commits = os.path.join(checkpoint_loc, "commits")
    if os.path.isdir(commits) and any(
        f.isdigit() for f in os.listdir(commits)
    ):
        return LEGACY_KEY_GROUPS
    n = sized_key_groups(spark)
    os.makedirs(checkpoint_loc, exist_ok=True)
    tmp = f"{rec}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"key_groups": n}, fh)
    os.replace(tmp, rec)
    return n


def _load_bucket(blob: bytes) -> tuple:
    """One bucket's state → ``(pending, pts, frontiers, inners)``."""
    t = pickle.loads(blob)
    if len(t) != 4:
        raise ValueError(
            "watermark buffer: bucket state has the 3-tuple"
            " (pending, frontiers, inners) layout, written before the"
            " pending event-time array joined the state; this code"
            " reads only the 4-tuple (pending, pts, frontiers,"
            " inners) layout — restart the query from a fresh"
            " checkpoint"
        )
    return t


def _norm_key(kt) -> tuple:
    """pandas groupby key → canonical tuple (numpy scalars unboxed,
    NaN/NaT → None) so the same logical key indexes the same state
    entry across micro-batches."""
    if not isinstance(kt, tuple):
        kt = (kt,)
    return tuple(
        None
        if pd.isna(v)
        else (v.item() if hasattr(v, "item") else v)
        for v in kt
    )


def rows_of_frame(frame: pd.DataFrame) -> list[dict]:
    """Row dicts via raw column arrays — how the front end hands a
    fold its rows, live and at drain. pandas ``to_dict("records")``
    pays ~1 ms of machinery per call regardless of size; this path is
    ~20× cheaper on the ~10-row frames the per-key folds see (round
    13). datetime64 boxes to pd.Timestamp via astype(object) (NaT
    stays NaT — to_dict's exact output for datetime nulls); every
    OTHER dtype boxes to Python natives via ndarray.tolist()
    (C-level) — raw np.int64 in row values lets downstream arithmetic
    wrap silently where to_dict's maybe_box_native produced exact
    Python ints (ADVICE r13)."""
    import numpy as _np

    cols_ = list(frame.columns)
    arrs_ = [
        frame[c].astype(object).to_numpy()
        if _np.issubdtype(frame[c].dtype, _np.datetime64)
        else frame[c].to_numpy().tolist()
        for c in cols_
    ]
    return [dict(zip(cols_, vals)) for vals in zip(*arrs_)]


def _frontier_mask(
    new: pd.DataFrame, stale: dict, key_list: list, ts_us
) -> "pd.Series":
    """Keep-mask for rows strictly after their key's stale frontier.
    The sentinel for keys WITHOUT a stale frontier must sit below
    every representable timestamp: the old -1 µs silently dropped
    pre-1970 rows for frontier-less keys whenever ANY stale frontier
    existed (ADVICE r13) — int64 min is strictly below any epoch
    value ``to_epoch_us`` can emit, so the ``>`` compare keeps those
    rows unconditionally."""
    no_frontier = -(2**63)
    cuts = pd.Series(
        [
            stale.get(t, no_frontier)
            for t in map(
                _norm_key,
                new[key_list].itertuples(index=False, name=None),
            )
        ],
        index=new.index,
    )
    return ts_us > cuts


def _frontier_cut(
    new: pd.DataFrame, stale: dict, key_list: list, ts_col: str
) -> pd.DataFrame:
    """Drop rows at or before their key's stale frontier (the
    mask form above, applied; kept as the sentinel-semantics test
    surface)."""
    return new[
        _frontier_mask(new, stale, key_list, to_epoch_us(new[ts_col]))
    ]


@dataclass
class DrainSpec:
    """Everything ``drain_pending`` needs to flush one
    ``watermark_buffered`` operator's keyed state after stop: the
    fold and the release ordering, plus the output schema. Captured
    at plan-build time (``watermark_buffered(..., drain_out=[...])``)
    and carried by the runner next to the started query.
    ``in_cols`` is the buffered input's column list, which names the
    fold's output columns (``fold.out_cols(in_cols)``)."""

    key_cols: list[str]
    ts_col: str
    sort_cols: list[str]
    fold: Fold
    out_schema: "StructType | str"
    in_cols: list[str]
    #: per-sort-column ascending flags; None = all ascending. The
    #: first (event-time) column is always ascending — secondary
    #: False entries give DESC tie ordering within a timestamp.
    sort_asc: "list[bool] | None" = None


def to_epoch_us(col: pd.Series):
    """Event-time column → int64 epoch-µs ndarray, regardless of the
    Arrow batch's datetime64 unit (ns locally, µs from parquet).
    Round 14: datetime64 columns (every row the buffered front end
    ever sees) convert straight off the ndarray — the pd.to_datetime
    round-trip cost ~0.5 ms of machinery per call, which at one call
    per bucket per micro-batch was a measurable slice of the st14
    profile; the fallback keeps the general path for object/string
    input (tests construct those)."""
    vals = col.values
    if vals.dtype.kind == "M":
        return vals.astype("datetime64[us]").astype("int64")
    return (
        pd.to_datetime(col)
        .values.astype("datetime64[us]")
        .astype("int64")
    )


def _release(
    released: pd.DataFrame,
    key_list: list,
    fold: Fold,
    inners: dict,
    out_cols: list,
    final: bool = False,
) -> "tuple[list, pd.DataFrame | None]":
    """Fold one bucket's released rows, already in release order, key
    by key: each logical key's rows go to ``fold`` as row dicts with
    the key's inner state, and ``inners`` keeps the state it returns.
    Row dicts are materialized once for the whole bucket and the
    output is ONE frame per bucket — per-key DataFrame slicing,
    converting and building was ~75% of the streaming CEP fold's cost
    at sf5 (round 14 profile). ``final`` is drain's end-of-input call
    to a fold that takes ``final``: every key in ``inners`` is folded,
    with ``[]`` when it has no released rows, so a fold holding
    emittable rows in its inner state flushes them. Returns the keys
    folded and the output frame in ``out_cols`` (None if empty)."""
    groups: dict[tuple, list] = {}
    for r in rows_of_frame(released):
        kt = tuple(
            None if pd.isna(v) else v for v in (r[c] for c in key_list)
        )
        groups.setdefault(kt, []).append(r)
    if final:
        for kt in inners:
            groups.setdefault(kt, [])
    out_rows: list = []
    for kt, rows in groups.items():
        if final:
            inner, orows = fold(inners.get(kt), rows, True)
        else:
            inner, orows = fold(inners.get(kt), rows)
        inners[kt] = inner
        if orows:
            out_rows.extend(orows)
    out = pd.DataFrame(out_rows, columns=out_cols) if out_rows else None
    return list(groups), out


def watermark_buffered(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    sort_cols: list[str],
    fold: Fold,
    out_schema: StructType | str,
    drain_out: "list[DrainSpec] | None" = None,
    sort_asc: "list[bool] | None" = None,
    key_groups: "int | None" = None,
) -> DataFrame:
    """Buffer ``df``'s rows per key until the watermark passes them,
    then feed them — event-time sorted — into ``fold``. ``df`` (or
    every source unioned into it) must carry ``withWatermark`` on the
    column feeding ``ts_col``; without one the watermark never
    advances and nothing is ever released (until stop-with-drain).
    Rows with a NULL event time are dropped on arrival: no watermark
    ever passes them. ``drain_out``, when given, receives the
    operator's ``DrainSpec`` so the runner can flush pending state at
    stop.

    ``fold`` takes this key's released rows as a list of row dicts
    and returns its output rows as a list (of dicts or column-ordered
    lists), or None; ``fold.out_cols(in_cols)`` names the output
    columns.

    State is key-GROUPED: the state key is
    ``hash(key_cols) % key_groups``, one pickled
    ``(pending_frame, pending_epoch_us, frontiers, inners)`` per
    bucket — pending rows for the whole bucket in ONE frame, their
    event times as an epoch-µs array beside it, per-logical-key
    release frontier and fold state in dicts. Folds still run strictly
    per logical key in released order, so every fold's semantics
    (CEP NFA, OVER buffer, temporal versions) are untouched.
    ``key_groups`` must be the count the query's state was written
    with (``pinned_key_groups``); None sizes it for fresh state."""
    in_cols = list(df.columns)
    if drain_out is not None:
        drain_out.append(
            DrainSpec(
                key_cols, ts_col, sort_cols, fold, out_schema,
                in_cols, sort_asc=sort_asc,
            )
        )
    if _KG in df.columns:
        raise ValueError(
            f"watermark_buffered: input column {_KG!r} collides with"
            " the key-group bucket column"
        )
    if key_groups is None:
        key_groups = sized_key_groups(df.sparkSession)
    key_list = list(key_cols)
    out_cols = fold.out_cols(in_cols)
    asc = sort_asc if sort_asc is not None else True
    # NaT's epoch-µs value: the `>` cut below drops NULL event times
    nat_us = -(2**63)

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            pending, pts, frontiers, inners = _load_bucket(state.get[0])
        else:
            pending, pts, frontiers, inners = None, None, {}, {}
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if not state.hasTimedOut:
            dfs = list(batches)
            # single-chunk fast path: pd.concat pays ~2 ms of
            # machinery per bucket call, and one Arrow chunk per
            # bucket is the common case (round 14 profile: concat was
            # 17% of update time at st14 sf1)
            new = dfs[0] if len(dfs) == 1 else pd.concat(dfs)
            if len(new):
                new = new.drop(columns=[_KG])
                nts = to_epoch_us(new[ts_col])
                # late: at or before the current watermark OR the
                # key's frontier already folded — dropped, Flink's
                # late-element contract (ts <= watermark). Spark's
                # stateful-operator pre-filter uses the PREVIOUS
                # batch's watermark, so the explicit wm_us cut here
                # closes the one-batch gap (ADVICE r7); wm_ms == 0
                # means no watermark established yet — no global cut,
                # but a NULL event time (NaT → int64 min) is cut in
                # every batch: it would otherwise release at once and
                # fold as the key's earliest row
                keep = nts > (wm_us if wm_ms > 0 else nat_us)
                if not keep.all():
                    new, nts = new[keep], nts[keep]
                # per-key frontier cut: the watermark is monotone
                # within a run, so a frontier above the current wm
                # only exists defensively (wm regression across a
                # restart) — apply it per row only when one does
                stale = {
                    k: f
                    for k, f in frontiers.items()
                    if f > wm_us or wm_ms == 0
                }
                if stale and len(new):
                    keep = _frontier_mask(
                        new, stale, key_list, nts
                    ).to_numpy()
                    if not keep.all():
                        new, nts = new[keep], nts[keep]
                if pending is None:
                    pending, pts = new, nts
                else:
                    import numpy as _np

                    pending = pd.concat(
                        [pending, new], ignore_index=True
                    )
                    pts = _np.concatenate([pts, nts])
        outs = []
        if pending is not None and len(pending):
            mask = pts <= wm_us
            if mask.any():
                released = pending[mask].sort_values(
                    sort_cols, ascending=asc, kind="mergesort"
                )
                pending = pending[~mask].reset_index(drop=True)
                pts = pts[~mask]
                folded, out = _release(
                    released, key_list, fold, inners, out_cols
                )
                for kt in folded:
                    f = frontiers.get(kt)
                    frontiers[kt] = (
                        wm_us if f is None else max(f, wm_us)
                    )
                if out is not None:
                    outs.append(out)
        state.update(
            (pickle.dumps((pending, pts, frontiers, inners)),)
        )
        if pending is not None and len(pending):
            # wake when the watermark passes the earliest pending row
            # (fires at wm > t, so arm one ms below); CEIL the µs→ms
            # truncation (ADVICE r7: floor could fire at a watermark
            # that hasn't covered the sub-ms remainder, re-arm at
            # wm+1 and strand the row if the watermark never advances
            # again); must stay above the current watermark per the
            # GroupState contract
            min_us = int(pts.min())
            min_ms = -(-min_us // 1000)
            state.setTimeoutTimestamp(max(wm_ms + 1, min_ms - 1))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    from pyspark.sql import functions as F

    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(key_groups)
    )
    return (
        df.withColumn(_KG, bucket)
        .groupBy(_KG)
        .applyInPandasWithState(
            update,
            out_schema,
            "s binary",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _buffered_operator_id(
    spark: SparkSession, checkpoint_loc: str
) -> "int | None":
    """Resolve the ``watermark_buffered`` operator's id from the
    checkpoint's state metadata instead of assuming 0: the runner
    replays the user's outer SELECT around the buffered view, and if
    that adds another stateful operator (GROUP BY, dedup, …) the
    buffered ``applyInPandasWithState`` may not be the first operator
    in the plan — reading operator 0's state would then unpickle
    garbage or fail on the groupState column. Returns None when the
    metadata reader has nothing (no committed batch); raises when the
    plan holds more than one applyInPandasWithState operator (ambiguous
    — drain cannot guess which one carries the buffer)."""
    try:
        ops = (
            spark.read.format("state-metadata")
            .load(checkpoint_loc)
            .select("operatorId", "operatorName")
            .distinct()
            .collect()
        )
    except Exception:
        return None  # no committed batch → no state metadata
    cands = [
        int(r.operatorId)
        for r in ops
        if r.operatorName == "applyInPandasWithState"
    ]
    if len(cands) == 1:
        return cands[0]
    if not cands:
        return None
    raise ValueError(
        "stop-with-drain: checkpoint holds"
        f" {len(cands)} applyInPandasWithState operators"
        f" (ids {sorted(cands)}) — cannot resolve which one is the"
        " watermark buffer; stop without drain"
        " (SET graft.stop.drain = false) and restart instead"
    )


def drain_pending(
    spark: SparkSession,
    checkpoint_loc: str,
    spec: DrainSpec,
    operator_id: "int | None" = None,
) -> "DataFrame | None":
    """Flink's MAX_WATERMARK / ``stop --drain`` analog for a stopped
    ``watermark_buffered`` query: read the operator's last committed
    keyed state through Spark's ``statestore`` batch source, release
    every key's pending rows (sorted by the operator's ORDER BY —
    exactly what a final infinite watermark would release) into the
    fold, and return the resulting tail rows as a batch DataFrame
    (``None`` when the query committed no state). The fold runs
    executor-side via ``mapInPandas`` — one state blob per input row,
    no driver collect — so drain scales with the key count like the
    operator itself."""
    import inspect

    from pyspark.sql import functions as F

    if operator_id is None:
        operator_id = _buffered_operator_id(spark, checkpoint_loc)
        if operator_id is None:
            return None  # no committed batch → nothing pending
    try:
        st = (
            spark.read.format("statestore")
            .option("operatorId", operator_id)
            .load(checkpoint_loc)
        )
    except Exception:
        return None  # no committed batch → no state → nothing pending
    # schema guard: the buffered operator's state is the single binary
    # field "s" — anything else means the resolved operator is NOT the
    # watermark buffer, and unpickling it would yield garbage
    gs = st.schema["value"].dataType["groupState"].dataType
    if [f.name for f in gs.fields] != ["s"] or (
        gs["s"].dataType.typeName() != "binary"
    ):
        raise ValueError(
            f"stop-with-drain: operator {operator_id} state schema is"
            f" {gs.simpleString()}, not the watermark buffer's"
            " (s binary) — refusing to unpickle foreign state"
        )
    # resolve the schema's field names once, driver-side (out_schema
    # may be a DDL string)
    struct = (
        spec.out_schema
        if isinstance(spec.out_schema, StructType)
        else spark.createDataFrame([], spec.out_schema).schema
    )
    names = [f.name for f in struct.fields]
    fold, sort_cols = spec.fold, spec.sort_cols
    out_cols = fold.out_cols(spec.in_cols)
    sort_asc = spec.sort_asc if spec.sort_asc is not None else True
    # a 3-parameter fold is END-OF-INPUT aware: drain calls it with
    # final=True so folds holding emittable rows in their INNER state
    # (streaming CEP's match-buffer tail) flush them like batch EOF
    # would; 2-parameter folds (OVER, temporal join) emit only from
    # released rows, so keys with nothing pending are skipped
    final = len(inspect.signature(fold).parameters) >= 3
    key_list = list(spec.key_cols)
    empty = pd.DataFrame(columns=spec.in_cols)

    def release(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        outs = []
        for pdf in batches:
            for blob in pdf["s"]:
                if blob is None:
                    continue
                pending, _pts, _frontiers, inners = _load_bucket(
                    bytes(blob)
                )
                # release every pending row of the bucket, as a final
                # infinite watermark would
                released = (
                    pending.sort_values(
                        sort_cols, ascending=sort_asc, kind="mergesort"
                    )
                    if pending is not None and len(pending)
                    else empty
                )
                _, out = _release(
                    released, key_list, fold, inners, out_cols, final
                )
                if out is not None:
                    outs.append(out.reindex(columns=names))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return st.select(
        F.col("value.groupState.s").alias("s")
    ).mapInPandas(release, struct)
