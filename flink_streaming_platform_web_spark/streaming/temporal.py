"""Event-time temporal (versioned-table) join — Flink docs:
queries/joins §Event Time Temporal Join.

`probe JOIN dim FOR SYSTEM_TIME AS OF probe.ts ON probe.k = dim.k`
joins every probe row against the dim VERSION that was valid at the
probe row's event time: the latest version whose event time is ≤ the
probe's (inclusive — an update effective at T is visible to a probe
at T). Flink implements this in TemporalRowTimeJoinOperator with
per-key version history in keyed state, advanced by watermark; the
Spark-first rebuild is the same shape:

- tag + union the two streams (one source per side, same keys),
- ``groupBy(key).applyInPandasWithState``: per-key state holds the
  version history suffix still reachable by future probes,
- per micro-batch, rows process in (event_time, side) order — builds
  before probes on ties, the inclusive-version contract,
- probes emit (probe payload, matched version payload) append rows;
  probes with no version yet emit nothing (INNER semantics, the
  Flink default),
- versions superseded before the key's high-water mark are evicted
  (what Flink's watermark does) — state per key = active version +
  any future-dated versions, not the full history.

Ingest order: with ``buffered=True`` (the default route when both
sides carry watermarks) the unioned stream runs behind the
watermark-buffered out-of-order front end (ooo.watermark_buffered) —
rows are held in keyed state until the global watermark (the min of
both sides' watermarks, Spark's union rule — the same two-input
watermark rule as Flink's TemporalRowTimeJoinOperator) passes them,
then fold in (event_time, side) order; late rows are dropped.
Unwatermarked sources fall back to the ordered-assert front end
(per-key time-ordered arrival across micro-batches, raising loudly).

Scale shape: one shuffle keying both streams; state sharded per key
across executors (Flink's keyed-state layout); per-batch work is
O(batch rows · log versions) via bisect.
"""

from __future__ import annotations

import pickle

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def event_time_temporal_join(
    probe: DataFrame,
    build: DataFrame,
    probe_keys: list[str],
    build_keys: list[str],
    probe_ts: str,
    build_ts: str,
    probe_out: list[tuple[str, str]],  # (source col, output name)
    build_out: list[tuple[str, str]],
    buffered: bool = False,
    drain_out: "list | None" = None,
    key_groups: "int | None" = None,
) -> DataFrame:
    if len(probe_keys) != len(build_keys):
        raise ValueError("temporal join: key arity mismatch")
    clash = {n for _, n in probe_out} & {n for _, n in build_out}
    if clash:
        raise ValueError(
            f"temporal join: output names {sorted(clash)} appear on"
            " both sides — alias them apart in the select list"
        )
    p_fields = {f.name: f for f in probe.schema.fields}
    b_fields = {f.name: f for f in build.schema.fields}
    out_schema = StructType(
        [
            StructField(name, p_fields[src].dataType)
            for src, name in probe_out
        ]
        + [
            StructField(name, b_fields[src].dataType)
            for src, name in build_out
        ]
    )
    key_cols = [f"__k{i}" for i in range(len(probe_keys))]
    p_names = [n for _, n in probe_out]
    b_names = [n for _, n in build_out]

    tagged_probe = probe.select(
        *[
            F.col(k).alias(a)
            for k, a in zip(probe_keys, key_cols)
        ],
        F.col(probe_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(src).alias(f"__p_{n}") for src, n in probe_out],
        *[
            F.lit(None).cast(b_fields[src].dataType).alias(f"__b_{n}")
            for src, n in build_out
        ],
    )
    tagged_build = build.select(
        *[
            F.col(k).alias(a)
            for k, a in zip(build_keys, key_cols)
        ],
        F.col(build_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(p_fields[src].dataType).alias(f"__p_{n}")
            for src, n in probe_out
        ],
        *[F.col(src).alias(f"__b_{n}") for src, n in build_out],
    )
    unioned = tagged_build.unionByName(tagged_probe)

    def fold(
        inner: bytes | None, new: "pd.DataFrame | list"
    ) -> "tuple[bytes, pd.DataFrame | list | None]":
        import bisect

        versions: list[tuple[int, tuple]]
        if inner is not None:
            versions, max_ts = pickle.loads(inner)
        else:
            versions, max_ts = [], None
        # rows protocol (round 14): the buffered front end passes row
        # dicts directly; the per-key to_dict("records") +
        # to_datetime machinery dominated the fold at scale
        as_rows = isinstance(new, list)
        if as_rows:
            rows = new
            ts_us = [
                (-(2**63)) if pd.isna(v) else v.value // 1000
                for v in (r["__ts"] for r in rows)
            ]
        else:
            ts_us = (
                pd.to_datetime(new["__ts"])
                .values.astype("datetime64[us]")
                .astype("int64")
            )
            rows = new.to_dict("records")
        if max_ts is not None and len(rows) and int(ts_us[0]) < max_ts:
            raise RuntimeError(
                "temporal join: out-of-order ingest — batch starts at"
                f" {ts_us[0]} before processed {max_ts}; stage both"
                " sides event-time-ordered on shared boundaries"
            )
        vts = [t for t, _ in versions]
        out: list[list] = []  # probe outputs in p_names + b_names order
        for t, row in zip(ts_us, rows):
            t = int(t)
            if row["__side"] == 0:
                payload = tuple(row[f"__b_{n}"] for n in b_names)
                if vts and vts[-1] == t:
                    versions[-1] = (t, payload)  # same-instant replace
                else:
                    versions.append((t, payload))
                    vts.append(t)
            else:
                i = bisect.bisect_right(vts, t)
                if i:
                    _, payload = versions[i - 1]
                    out.append(
                        [row[f"__p_{n}"] for n in p_names]
                        + list(payload)
                    )
            max_ts = t if max_ts is None else max(max_ts, t)
        # evict versions superseded before the high-water mark: keep
        # the active version at max_ts plus any future-dated ones
        if max_ts is not None and len(vts) > 1:
            i = bisect.bisect_right(vts, max_ts)
            if i > 1:
                versions = versions[i - 1:]
        if as_rows:
            return pickle.dumps((versions, max_ts)), out or None
        return (
            pickle.dumps((versions, max_ts)),
            pd.DataFrame(out, columns=p_names + b_names)
            if out
            else None,
        )

    fold.rows_protocol = True
    fold.out_cols = lambda in_cols: p_names + b_names

    from flink_streaming_platform_web_spark.streaming.ooo import (
        ordered_assert_apply,
        watermark_buffered,
    )

    if buffered:
        return watermark_buffered(
            unioned,
            key_cols,
            "__ts",
            ["__ts", "__side"],
            fold,
            out_schema,
            drain_out=drain_out,
            key_groups=key_groups,
        )
    return ordered_assert_apply(
        unioned, key_cols, ["__ts", "__side"], fold, out_schema
    )
