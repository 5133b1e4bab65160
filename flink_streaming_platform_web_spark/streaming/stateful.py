"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's users get custom stateful logic by writing Flink UDFs
/ process functions in jars; the Spark-native seam is
``applyInPandasWithState`` (SURVEY §0: "custom stateful operators").
``running_counts`` is the canonical shape: per-key state that
accumulates across micro-batches and emits on every update, with an
inactivity timeout that finalizes idle keys — the building block for
sessionization, rate tracking, and dedup-with-TTL.

State lives in the state store (checkpointable, RocksDB-capable), not
in Python: each micro-batch hands the operator only the touched keys'
state — the 100 TB posture is per-key state sharded across executors.
"""

from __future__ import annotations

import pickle

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = "key string, n bigint, total double, finalized boolean"
STATE_SCHEMA = "n bigint, total double"


def running_counts(
    df: DataFrame,
    key_col: str = "k",
    value_col: str = "v",
    inactivity_ms: int | None = None,
) -> DataFrame:
    """Per-key running (count, sum) emitted on every update; when an
    inactivity timeout is set, an idle key emits one final row with
    ``finalized=true`` and its state is dropped."""

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {"key": [key[0]], "n": [n], "total": [total],
                 "finalized": [True]}
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        if inactivity_ms is not None:
            state.setTimeoutDuration(inactivity_ms)
        yield pd.DataFrame(
            {"key": [key[0]], "n": [n], "total": [total],
             "finalized": [False]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if inactivity_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", timeout
    )


_RANK_STATE_SCHEMA = StructType([StructField("rows", BinaryType())])


def retained_topn(
    df: DataFrame,
    part_cols: list[str],
    ord_col: str,
    ord_desc: bool,
    tie_cols: list[str],
    topn: int,
    rn_alias: str | None,
    out_cols: list[str],
) -> DataFrame:
    """Executor-held streaming rank state for the raw-row patterns of
    Flink's streaming ROW_NUMBER (docs: queries/deduplication,
    queries/topn over raw rows): per partition key, retain only the
    best N rows under the comparator across micro-batches and emit the
    key's full current top-N whenever it is touched.

    This is Flink's dedup/rank state layout (RankOperator /
    DeduplicateKeepFirstRow — bounded at N rows per key) running in
    Spark's state store via ``applyInPandasWithState``: state is
    sharded across executors by the groupBy, checkpointable, and never
    transits the driver (round 6 — replaces the driver-dict router of
    VERDICT r5 finding 1). Downstream, a replace-by-group sink
    (GroupReplaceStore) converges: re-emitting the key's whole top-N
    set makes ranks that fell out disappear — Flink's retract +
    re-emit contract without a retract stream.

    Ties on the rank value break on ``tie_cols`` in the SAME direction
    as the rank order (Flink leaves ties unspecified; a gated result
    cannot) — identical to the batch oracle's ORDER BY.
    """
    src_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [
            StructField(rn_alias, LongType(), False)
            if rn_alias is not None and c == rn_alias
            else src_fields[c]
            for c in out_cols
        ]
    )
    data_cols = [c for c in out_cols if c != rn_alias]

    def sort_key(r: dict):
        return (r[ord_col], *[r[c] for c in tie_cols])

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # key-GROUPED state (round 12, same move as sessionize): one
        # state key per hash bucket, per-logical-key top-N lists in a
        # pickled dict — the framework's per-state-key cost amortizes
        # over the bucket's keys, pandas sub-groups rows at C speed
        buckets: dict[tuple, list] = (
            pickle.loads(state.get[0]) if state.exists else {}
        )
        touched: list[tuple] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # dropna=False: Spark's groupBy keeps null partition keys
            # as their own group, so the pandas sub-grouping must too
            # (ADVICE r12); NaN/NaT normalize to None so the same null
            # key hits the same bucket entry across micro-batches
            # (distinct NaN floats are != each other as dict keys)
            for kt, grp in pdf.groupby(
                part_cols, sort=False, dropna=False
            ):
                if not isinstance(kt, tuple):
                    kt = (kt,)
                kt = tuple(
                    None
                    if pd.isna(v)
                    else (v.item() if hasattr(v, "item") else v)
                    for v in kt
                )
                held = buckets.get(kt, [])
                held.extend(grp[data_cols].to_dict("records"))
                held.sort(key=sort_key, reverse=ord_desc)
                buckets[kt] = held[:topn]
                touched.append(kt)
        # dedupe while keeping first-seen order (a key can appear in
        # several Arrow chunks of the same micro-batch)
        touched = list(dict.fromkeys(touched))
        state.update((pickle.dumps(buckets),))
        frames = []
        for kt in touched:
            top = buckets[kt]
            out = pd.DataFrame(top, columns=data_cols)
            if rn_alias is not None:
                out[rn_alias] = range(1, len(top) + 1)
            frames.append(out[list(out_cols)])
        if frames:
            yield pd.concat(frames, ignore_index=True)

    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in part_cols]),
        F.lit(SESSION_KEY_GROUPS),
    )
    return (
        df.withColumn("__kg__", bucket)
        .groupBy("__kg__")
        .applyInPandasWithState(
            update,
            out_schema,
            _RANK_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def _dec_units(v, scale: int) -> int:
    """Spark/DuckDB-parity double → DECIMAL(_, scale) cast, as exact
    integer units: shortest round-trip repr + HALF_UP, the same
    algorithm both engines apply (see test_portable_crossengine for
    the documented midpoint caveat)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return int(
        Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP).scaleb(scale)
    )


def streaming_over(
    df: DataFrame,
    part_cols: list[str],
    ts_col: str,
    mode: str,  # 'range' | 'rows' | 'unbounded'
    size: float | int | None,
    aggs: list[tuple[str, str | None, int | None, str]],
    out_cols: list[str],
    buffered: bool = False,
    drain_out: "list | None" = None,
    key_groups: "int | None" = None,
) -> DataFrame:
    """Streaming OVER aggregation (Flink docs: queries/over-agg): for
    every input row, aggregates over the per-key window ending at that
    row — time-range (`RANGE INTERVAL 'n' unit PRECEDING`), row-count
    (`ROWS n PRECEDING`), or `UNBOUNDED PRECEDING`. Spark has no
    streaming window functions (non-time-based windows are rejected),
    so the operator runs Flink's OverAggregate shape directly:
    per-key state in the state store via ``applyInPandasWithState``,
    emitting one appended row per input row.

    State per key: the buffer suffix inside the window horizon (range:
    rows newer than max_ts - range; rows-mode: the last n rows;
    unbounded: O(1) accumulators — the incremental fold, never a
    buffer). RANGE frames include equal-timestamp peers on both sides
    (the SQL frame contract). ``buffered=True`` (the default route for
    watermarked sources) runs the fold behind the watermark-buffered
    out-of-order front end (ooo.watermark_buffered — Flink's
    OverAggregate row-time buffering); without a watermark the
    ordered-assert front end applies and out-of-order arrival across
    micro-batches raises loudly (the documented fallback contract).

    ``aggs``: (fn, col, dec_scale, alias). SUM over doubles must
    declare a decimal scale (the cross-engine carrier — raw
    double-sum drift is exactly what _portable.py exists to prevent);
    integer SUM/COUNT stay exact; MIN/MAX compare raw values.
    """
    import pickle

    agg_cols = sorted(
        {c for _, c, _, _ in aggs if c is not None}
    )
    src_fields = {f.name: f for f in df.schema.fields}
    int_types = {"bigint", "int", "smallint", "tinyint", "long", "integer"}

    def out_schema() -> StructType:
        alias_types = {}
        for fn, col, scale, alias in aggs:
            if fn == "count":
                alias_types[alias] = StructField(alias, LongType(), False)
            elif fn == "sum":
                if scale is not None:
                    from pyspark.sql.types import DoubleType

                    alias_types[alias] = StructField(alias, DoubleType())
                else:
                    alias_types[alias] = StructField(alias, LongType())
            else:  # min / max
                alias_types[alias] = StructField(
                    alias, src_fields[col].dataType
                )
        fields = []
        for c in out_cols:
            fields.append(
                alias_types[c] if c in alias_types else src_fields[c]
            )
        return StructType(fields)

    for fn, col, scale, alias in aggs:
        if fn == "sum" and scale is None:
            t = src_fields[col].dataType.simpleString()
            if t not in int_types:
                raise ValueError(
                    f"streaming OVER: SUM({col}) over {t} needs a"
                    " DECIMAL cast (SUM(CAST(col AS DECIMAL(p,s)))) —"
                    " raw double sums are not cross-engine stable"
                )

    def prep(fn, col, scale, v):
        if v is None:
            return None
        if fn == "sum":
            if scale is not None:
                return _dec_units(v, scale)
            # integer SUM stays a python int: the buffer rows carry
            # numpy scalars since round 13's arrays path, and an
            # np.int64 accumulator would wrap where python ints
            # stay exact
            return int(v)
        return v

    def fold(
        inner: bytes | None, new: "pd.DataFrame | list"
    ) -> "tuple[bytes, pd.DataFrame | list]":
        # `new` arrives sorted by ts_col (stable) from the front end.
        # rows protocol (round 14): the buffered front end passes this
        # key's slice as a plain row-dict list (values already Python
        # natives, timestamps as pd.Timestamp) and takes raw output
        # rows back — the per-key DataFrame machinery was the
        # dominant fold cost at sf5. The DataFrame path stays for the
        # ordered-assert route and drain.
        as_rows = isinstance(new, list)
        if as_rows:
            rows_in = new
            # NaT → int64 min, matching the datetime64[us]→int64
            # cast of the frame path
            ts_us = [
                (-(2**63)) if pd.isna(v) else v.value // 1000
                for v in (r[ts_col] for r in rows_in)
            ]
        else:
            rows_in = None
            ts_us = (
                pd.to_datetime(new[ts_col])
                .values.astype("datetime64[us]")
                .astype("int64")
            )
        # buffer rows carry only the agg inputs + timestamp; raw
        # column arrays instead of to_dict("records") — pandas pays
        # ~1 ms of per-call machinery regardless of frame size, and
        # the key-grouped front end calls this fold once per logical
        # key per batch on ~10-row frames (round 13)
        if agg_cols:
            # NaN → None (mirroring ooo._norm_key): a null in a
            # nullable integer agg column arrives as float NaN after
            # pandas' promotion, passes the `is None` guards, and
            # int(nan) in prep() would crash the fold — SQL semantics
            # skip nulls, so normalize them back to None here
            if as_rows:
                new_buf = [
                    {
                        "__ts": int(t),
                        **{
                            c: (
                                None if pd.isna(r[c]) else r[c]
                            )
                            for c in agg_cols
                        },
                    }
                    for t, r in zip(ts_us, rows_in)
                ]
            else:
                a_arrs = [new[c].to_numpy() for c in agg_cols]
                new_buf = [
                    {
                        "__ts": int(t),
                        **{
                            c: (None if pd.isna(v) else v)
                            for c, v in zip(agg_cols, vals)
                        },
                    }
                    for t, vals in zip(ts_us, zip(*a_arrs))
                ]
        else:
            new_buf = [{"__ts": int(t)} for t in ts_us]
        if mode in ("range", "rows"):
            buf: list[dict] = (
                pickle.loads(inner) if inner is not None else []
            )
            if buf and new_buf and new_buf[0]["__ts"] < buf[-1]["__ts"]:
                raise RuntimeError(
                    "streaming OVER: out-of-order ingest — batch"
                    f" starts at {new_buf[0]['__ts']} before buffered"
                    f" {buf[-1]['__ts']}; stage the stream"
                    " event-time-ordered"
                )
            full = buf + new_buf
            all_ts = [r["__ts"] for r in full]
            import bisect
            from collections import deque

            # two-pointer sliding windows: both frame boundaries are
            # monotone in the (sorted) row index, so each element is
            # added/removed exactly once — running count/sum plus a
            # monotonic deque for min/max gives O(rows) per batch
            # instead of O(rows × window) slice recomputes (the
            # Flink OverAggregate accumulator discipline)
            prep_vals = {
                alias: [
                    prep(fn, col, scale, r.get(col)) for r in full
                ]
                for fn, col, scale, alias in aggs
                if col is not None
            }
            slid = {
                alias: {"cnt": 0, "sum": 0, "dq": deque()}
                for _, _, _, alias in aggs
            }

            def _add(j: int) -> None:
                for fn, col, scale, alias in aggs:
                    if col is None:
                        continue
                    v = prep_vals[alias][j]
                    if v is None:
                        continue
                    s = slid[alias]
                    s["cnt"] += 1
                    if fn == "sum":
                        s["sum"] += v
                    elif fn in ("min", "max"):
                        dq = s["dq"]
                        worse = (
                            (lambda a, b: a >= b)
                            if fn == "min"
                            else (lambda a, b: a <= b)
                        )
                        while dq and worse(
                            prep_vals[alias][dq[-1]], v
                        ):
                            dq.pop()
                        dq.append(j)

            def _drop(j: int) -> None:
                for fn, col, scale, alias in aggs:
                    if col is None:
                        continue
                    if prep_vals[alias][j] is None:
                        continue
                    s = slid[alias]
                    s["cnt"] -= 1
                    if fn == "sum":
                        s["sum"] -= prep_vals[alias][j]
                    elif fn in ("min", "max"):
                        if s["dq"] and s["dq"][0] == j:
                            s["dq"].popleft()

            out_vals: dict[str, list] = {a: [] for _, _, _, a in aggs}
            base = len(buf)
            lo_prev = hi_prev = 0
            for i in range(len(new_buf)):
                t = new_buf[i]["__ts"]
                if mode == "range":
                    lo = bisect.bisect_left(
                        all_ts, t - int(size * 1_000_000)
                    )
                    hi = bisect.bisect_right(all_ts, t)
                else:  # rows: current + size preceding, by position
                    hi = base + i + 1
                    lo = max(0, hi - (size + 1))
                for j in range(hi_prev, hi):
                    _add(j)
                for j in range(lo_prev, lo):
                    _drop(j)
                lo_prev, hi_prev = lo, hi
                for fn, col, scale, alias in aggs:
                    s = slid[alias]
                    if fn == "count":
                        val = hi - lo if col is None else s["cnt"]
                    elif fn == "sum":
                        val = (
                            (
                                s["sum"] / (10 ** scale)
                                if scale is not None
                                else s["sum"]
                            )
                            if s["cnt"]
                            else None
                        )
                    else:
                        val = (
                            prep_vals[alias][s["dq"][0]]
                            if s["dq"]
                            else None
                        )
                    out_vals[alias].append(val)
            # evict: retain only the horizon suffix
            if mode == "range":
                horizon = all_ts[-1] - int(size * 1_000_000)
                keep = [r for r in full if r["__ts"] > horizon]
            else:
                keep = full[-size:] if size else []
            inner = pickle.dumps(keep)
        else:  # unbounded: O(1)-ish accumulators, peers share values
            if inner is not None:
                prev_max, accs = pickle.loads(inner)
            else:
                prev_max, accs = None, {
                    a: {"n": 0, "sum": 0, "min": None, "max": None}
                    for _, _, _, a in aggs
                }
            if (
                prev_max is not None
                and new_buf
                and new_buf[0]["__ts"] < prev_max
            ):
                # same ingest contract as the buffered modes — an
                # out-of-order row would silently fold into totals
                # the already-emitted rows never saw
                raise RuntimeError(
                    "streaming OVER: out-of-order ingest — batch"
                    f" starts at {new_buf[0]['__ts']} before"
                    f" processed {prev_max}; stage the stream"
                    " event-time-ordered"
                )
            out_vals = {a: [] for _, _, _, a in aggs}
            i = 0
            nrows = len(new_buf)
            while i < nrows:
                # peer group: rows sharing a timestamp fold together
                # and share the same aggregate (RANGE frame contract)
                j = i
                while (
                    j < nrows
                    and new_buf[j]["__ts"] == new_buf[i]["__ts"]
                ):
                    j += 1
                for fn, col, scale, alias in aggs:
                    a = accs[alias]
                    for r in new_buf[i:j]:
                        if col is None:
                            a["n"] += 1
                            continue
                        if r.get(col) is None:
                            continue
                        a["n"] += 1
                        if fn == "sum":
                            a["sum"] += prep(fn, col, scale, r[col])
                        elif fn in ("min", "max"):
                            v = r[col]
                            a["min"] = (
                                v
                                if a["min"] is None
                                else min(a["min"], v)
                            )
                            a["max"] = (
                                v
                                if a["max"] is None
                                else max(a["max"], v)
                            )
                    if fn == "count":
                        val = a["n"]
                    elif fn == "sum":
                        val = (
                            a["sum"] / (10 ** scale)
                            if scale is not None
                            else a["sum"]
                        ) if a["n"] else None
                    elif fn == "min":
                        val = a["min"]
                    else:
                        val = a["max"]
                    out_vals[alias].extend([val] * (j - i))
                i = j
            if new_buf:
                prev_max = (
                    new_buf[-1]["__ts"]
                    if prev_max is None
                    else max(prev_max, new_buf[-1]["__ts"])
                )
            inner = pickle.dumps((prev_max, accs))
        if as_rows:
            return inner, [
                [
                    out_vals[c][i] if c in out_vals else rows_in[i][c]
                    for c in out_cols
                ]
                for i in range(len(rows_in))
            ]
        out = pd.DataFrame(
            {
                c: (
                    out_vals[c]
                    if c in out_vals
                    else new[c].to_numpy()
                )
                for c in out_cols
            }
        )
        return inner, out

    fold.rows_protocol = True
    fold.out_cols = lambda in_cols: list(out_cols)

    from flink_streaming_platform_web_spark.streaming.ooo import (
        ordered_assert_apply,
        watermark_buffered,
    )

    if buffered:
        return watermark_buffered(
            df, part_cols, ts_col, [ts_col], fold, out_schema(),
            drain_out=drain_out, key_groups=key_groups,
        )
    return ordered_assert_apply(
        df, part_cols, [ts_col], fold, out_schema()
    )


SESSION_OUTPUT_SCHEMA = (
    "key bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint"
)
#: coarsened (key-GROUP) state: the bucket's users plus a CSR layout
#: over the flattened session arrays — user i's sessions live at
#: [offs[i], offs[i+1]) (round 12; see sessionize's key-group note)
SESSION_STATE_SCHEMA = (
    "users array<bigint>, offs array<int>, starts array<bigint>, "
    "ends array<bigint>, counts array<bigint>"
)

#: state keys per session operator — Flink's key-group count. The
#: framework pays a Python call + state round-trip PER STATE KEY per
#: batch (~5-7 ms); keying the state store by hash(user) % N instead
#: of user amortizes that over ~|users|/N logical keys per call while
#: pandas sub-groups the bucket's rows at C speed (the same move the
#: round-9 batch CEP runner made for its per-group overhead).
#: 1024 balances well above 32 partitions and keeps per-bucket state
#: small (150k users at sf1 -> ~146 users/bucket).
SESSION_KEY_GROUPS = 1024


def _merge_sessions(
    items: list[tuple[int, int, int]], gap_us: int
) -> list[tuple[int, int, int]]:
    """Gap-merge sweep over (start_us, end_us, count) intervals.

    Merging pre-merged session intervals with raw event points is
    equivalent to sessionizing the union of raw events: gap-merge is
    the transitive closure of within-gap proximity, so it is
    associative over micro-batches — the property that makes the
    cross-batch operator converge to the batch oracle.
    """
    items.sort()
    out: list[tuple[int, int, int]] = []
    for s, e, n in items:
        if out and s - out[-1][1] <= gap_us:
            ps, pe, pn = out[-1]
            out[-1] = (ps, max(pe, e), pn + n)
        else:
            out.append((s, e, n))
    return out


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Cross-micro-batch event-time session windows as a custom
    stateful operator (``applyInPandasWithState``).

    Spark's built-in ``session_window`` cannot merge sessions across
    micro-batches in complete mode (BACKLOG: st03 mis-merge) and
    forbids update mode; the reference's users would reach for a Flink
    process function here. This operator keeps the per-key session
    list (start, end, count) in the state store and gap-merges each
    batch's events into it, emitting the key's full current session
    set every update — downstream, a replace-by-key sink converges to
    exactly the batch sessionization.

    Scale posture: state is per-key and sharded across executors by
    the groupBy; per-key state is bounded by that key's session count
    (production adds EventTimeTimeout finalization to drop sessions
    sealed by the watermark — the emit contract is unchanged).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            s_users, s_offs, s_st, s_en, s_ct = state.get
        else:
            s_users, s_offs, s_st, s_en, s_ct = [], [0], [], [], []
        idx = {u: i for i, u in enumerate(s_users)}
        # bucket rows -> per-user epoch-µs arrays (pandas/numpy
        # sub-grouping at C speed; normalize regardless of the Arrow
        # batch's datetime64 unit — ns locally, µs from parquet)
        per_user: dict[int, list] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ts_us = (
                pd.to_datetime(pdf[ts_col])
                .values.astype("datetime64[us]")
                .astype("int64")
            )
            uids = pdf[key_col].to_numpy()
            # bigint-key contract (the CSR state arrays are
            # array<bigint>): a null key arrives as NaN after
            # to_numpy and int(NaN) would raise deep in the CSR
            # rebuild — fail loudly at the seam instead (ADVICE r12)
            if uids.dtype.kind == "f" and np.isnan(uids).any():
                raise ValueError(
                    f"sessionize: null {key_col} in the stream —"
                    " the session state's bigint-key contract"
                    " requires non-null keys; filter or COALESCE"
                    " the key upstream"
                )
            order = np.argsort(uids, kind="stable")
            u_s, t_s = uids[order], ts_us[order]
            bounds = np.flatnonzero(
                np.r_[True, u_s[1:] != u_s[:-1]]
            )
            ends_ = np.r_[bounds[1:], len(u_s)]
            for b0, b1 in zip(bounds, ends_):
                per_user.setdefault(int(u_s[b0]), []).append(
                    t_s[b0:b1]
                )
        merged: dict[int, list] = {}
        for u, arrs in per_user.items():
            items: list[tuple[int, int, int]] = []
            if u in idx:
                i = idx[u]
                a, b = s_offs[i], s_offs[i + 1]
                items.extend(zip(s_st[a:b], s_en[a:b], s_ct[a:b]))
            for arr in arrs:
                items.extend((int(t), int(t), 1) for t in arr)
            merged[u] = _merge_sessions(items, gap_us)
        # rebuild the bucket CSR: touched users get their new session
        # set, untouched users copy their slices wholesale
        all_users = list(s_users) + [
            u for u in merged if u not in idx
        ]
        n_offs, n_st, n_en, n_ct = [0], [], [], []
        for u in all_users:
            if u in merged:
                for s, e, c in merged[u]:
                    n_st.append(s)
                    n_en.append(e)
                    n_ct.append(c)
            else:
                i = idx[u]
                a, b = s_offs[i], s_offs[i + 1]
                n_st.extend(s_st[a:b])
                n_en.extend(s_en[a:b])
                n_ct.extend(s_ct[a:b])
            n_offs.append(len(n_st))
        state.update((all_users, n_offs, n_st, n_en, n_ct))
        ku, ks, ke, kc = [], [], [], []
        for u, sess in merged.items():
            for s, e, c in sess:
                ku.append(u)
                ks.append(s)
                ke.append(e)
                kc.append(c)
        yield pd.DataFrame(
            {
                "key": ku,
                "session_start": pd.to_datetime(ks, unit="us"),
                "session_end": pd.to_datetime(ke, unit="us"),
                "n_events": kc,
            }
        )

    # key-GROUP the state (Flink's key groups): the state key is
    # hash(user) % SESSION_KEY_GROUPS, not the user — the per-state-key
    # framework cost (Python call + state round trip) amortizes over
    # the bucket's users, and correctness is untouched because every
    # row of a user still lands in exactly one bucket
    bucket = F.pmod(
        F.xxhash64(F.col(key_col)), F.lit(SESSION_KEY_GROUPS)
    )
    return (
        df.withColumn("__kg__", bucket)
        .groupBy("__kg__")
        .applyInPandasWithState(
            update,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
        .withColumnRenamed("key", key_col)
    )
