"""Streaming throughput micro-bench: rate source → watermarked tumble
window agg → noop sink. Prints one JSON line with rows/sec processed.

    python tools/stream_bench.py [MODE] [seconds] [rows_per_second]

MODE is one of ``rank``, ``over_buffered``, ``temporal``, ``cep``,
``cep_coarse``, ``cep_permute``, ``cep_overlap`` or ``pairs``;
without one it runs the window agg. ``over_buffered``, ``temporal``
and the ``cep*`` modes run the event-time operators behind their
watermark buffer (streaming/ooo.py), so each side of their plan
carries a watermark. ``pairs`` alternates ``cep_coarse`` and
``cep_overlap`` twice in one session.

``rank`` mode drives the round-6 executor-side rank operator
(streaming/stateful.retained_topn — the raw-mode streaming ROW_NUMBER
state) instead of the built-in window agg: per-key top-N state in
Spark's state store, sharded across cores by the groupBy. The
driver-dict router it replaced serialized every row through the
driver, so its throughput could not scale with cores; this one does.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flink_streaming_platform_web_spark.session import get_spark


def _load_1min() -> float:
    """Host 1-minute load average — the gate for the paired runs
    (VERDICT r12 item 5: two rounds of quiet-box memo pairs came back
    inconclusive because host load swung mid-minute; gating + A-B-A-B
    interleave in one session is the third-attempt protocol)."""
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main() -> None:
    args = sys.argv[1:]
    mode = "agg"
    if args and args[0] in (
        "rank", "over_buffered", "temporal", "cep",
        "cep_coarse", "cep_permute", "cep_overlap", "pairs",
    ):
        mode = args[0]
        args = args[1:]
    duration = float(args[0]) if args else 20.0
    rps = int(args[1]) if len(args) > 1 else 500_000
    if mode == "pairs":
        return _pairs(duration, rps)
    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    agg = _plan(spark, mode, rps)
    rows = _drain(agg, mode, duration)
    spark.stop()
    print(
        json.dumps(
            {
                "metric": {
                    "rank": "rate_rank_topn_throughput",
                    "over_buffered": "rate_over_buffered_throughput",
                    "temporal": "rate_temporal_join_throughput",
                    "cep": "rate_cep_buffered_throughput",
                    "cep_coarse": "rate_cep_coarse_tie_throughput",
                    "cep_permute": "rate_cep_permute_throughput",
                    "cep_overlap": "rate_cep_overlap_throughput",
                    "agg": "rate_window_agg_throughput",
                }[mode],
                "rows_processed": rows,
                "wall_s": duration,
                "rows_per_sec": round(rows / duration, 1),
                "unit": "rows/sec",
            }
        )
    )


def _pairs(duration: float, rps: int) -> None:
    """Load-gated A-B-A-B cep_coarse/cep_overlap pairs in ONE session
    (VERDICT r12 item 5's protocol): probe host load first — above 8,
    skip and RECORD the skip; otherwise alternate the two modes twice
    with the load sampled before every leg, so a mid-run load swing is
    visible in the artifact instead of silently poisoning a ratio."""
    gate = _load_1min()
    if gate > 8.0:
        print(
            json.dumps(
                {
                    "metric": "cep_coarse_overlap_pairs",
                    "skipped": f"host load {gate} > 8 at gate",
                }
            )
        )
        return
    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    legs = []
    for leg_mode in ("cep_coarse", "cep_overlap") * 2:
        legs.append(
            {
                "mode": leg_mode,
                "load_before": _load_1min(),
                "rows_per_sec": round(
                    _drain(_plan(spark, leg_mode, rps), leg_mode,
                           duration) / duration,
                    1,
                ),
            }
        )
        print(f"# {legs[-1]}", file=sys.stderr)
    spark.stop()
    ratios = [
        round(legs[i + 1]["rows_per_sec"] / legs[i]["rows_per_sec"], 3)
        for i in (0, 2)
        if legs[i]["rows_per_sec"]
    ]
    print(
        json.dumps(
            {
                "metric": "cep_coarse_overlap_pairs",
                "gate_load": gate,
                "legs": legs,
                "overlap_over_coarse_ratios": ratios,
                "load_after": _load_1min(),
                "wall_s_per_leg": duration,
            }
        )
    )


def _plan(spark, mode: str, rps: int):
    """Build one mode's streaming plan over a fresh rate source."""
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rps))
        .load()
    )
    if mode == "rank":
        from flink_streaming_platform_web_spark.streaming.stateful import (
            retained_topn,
        )

        keyed = src.select(
            (F.col("value") % 1000).alias("k"),
            F.col("value").alias("v"),
            F.col("timestamp").cast("string").alias("ts_s"),
        )
        agg = retained_topn(
            keyed,
            part_cols=["k"],
            ord_col="v",
            ord_desc=True,
            tie_cols=["ts_s"],
            topn=3,
            rn_alias="rn",
            out_cols=["k", "v", "ts_s", "rn"],
        )
    elif mode == "over_buffered":
        from flink_streaming_platform_web_spark.streaming.stateful import (
            streaming_over,
        )

        # rows held in keyed state until the watermark passes them,
        # released sorted into the OVER fold
        keyed = src.select(
            (F.col("value") % 1000).alias("k"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("v"),
        ).withWatermark("ts", "2 seconds")
        agg = streaming_over(
            keyed,
            part_cols=["k"],
            ts_col="ts",
            mode="range",
            size=5,
            aggs=[
                ("count", None, None, "n"),
                ("max", "v", None, "hi"),
            ],
            out_cols=["k", "v", "n", "hi"],
        )
    elif mode == "cep":
        from flink_streaming_platform_web_spark.operators.cep import (
            parse_match_recognize,
            stream_match_recognize,
        )

        # the round-8 buffered streaming CEP route: watermark-held
        # rows fold through the keyed NFA in event-time order; the
        # (A B) pair pattern closes a match every two rows per key,
        # so emission (not just buffering) is part of the measured
        # path
        keyed = src.select(
            (F.col("value") % 1000).alias("k"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("v"),
        ).withWatermark("ts", "2 seconds")
        spec = parse_match_recognize(
            """
            PARTITION BY k
            ORDER BY ts
            MEASURES COUNT(*) AS n, SUM(B.v) AS bsum
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE B AS B.v >= FIRST(A.v)
            """
        )
        agg = stream_match_recognize(
            keyed, spec, "k bigint, n bigint, bsum bigint",
        )
    elif mode == "cep_coarse":
        from flink_streaming_platform_web_spark.operators.cep import (
            parse_match_recognize,
            stream_match_recognize,
        )

        # the st21 shape: COARSE event time (2-second buckets) with a
        # DESC secondary sort — whole multi-row tie-groups sit in the
        # pending buffer and release at one watermark tick, the
        # burstiest release pattern the buffered front end has
        # (~2·rps/1000 rows per key-bucket at the offered rate)
        bucket = (
            (F.col("timestamp").cast("long") - F.col("timestamp")
             .cast("long") % 2).cast("timestamp")
        )
        keyed = src.select(
            (F.col("value") % 1000).alias("k"),
            bucket.alias("ts"),
            F.col("value").alias("v"),
        ).withWatermark("ts", "5 seconds")
        spec = parse_match_recognize(
            """
            PARTITION BY k
            ORDER BY ts, v DESC
            MEASURES COUNT(*) AS n, SUM(B.v) AS bsum
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE B AS B.v <= FIRST(A.v)
            """
        )
        agg = stream_match_recognize(
            keyed, spec, "k bigint, n bigint, bsum bigint",
        )
    elif mode == "cep_permute":
        from flink_streaming_platform_web_spark.operators.cep import (
            parse_match_recognize,
            stream_match_recognize,
        )

        # buffered PERMUTE (VERDICT r8 item 7): the used-set DFS walks
        # all 3! orderings at every start position — the widest
        # per-row search the streaming NFA runs; defines are row-local
        # (class membership by value band) so the bitmap path engages
        # once buffers pass the size gate
        keyed = src.select(
            (F.col("value") % 1000).alias("k"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("v"),
            (F.col("value") % 10).alias("m"),
        ).withWatermark("ts", "2 seconds")
        spec = parse_match_recognize(
            """
            PARTITION BY k
            ORDER BY ts
            MEASURES COUNT(*) AS n, SUM(A.v) AS asum
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (PERMUTE(A, B, C))
            DEFINE A AS A.m < 3,
                   B AS B.m >= 3 AND B.m < 7,
                   C AS C.m >= 7
            """
        )
        agg = stream_match_recognize(
            keyed, spec, "k bigint, n bigint, asum bigint",
        )
    elif mode == "cep_overlap":
        from flink_streaming_platform_web_spark.operators.cep import (
            parse_match_recognize,
            stream_match_recognize,
        )

        # buffered SKIP TO LAST <var> (round 10: the overlap
        # frontier): consecutive matches share their endpoint row, so
        # state retention keeps the shared tail and the start-based
        # emission rule gates every batch — q61's chained-rising
        # shape over the rate stream
        keyed = src.select(
            (F.col("value") % 1000).alias("k"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 97).cast("double").alias("v"),
        ).withWatermark("ts", "2 seconds")
        spec = parse_match_recognize(
            """
            PARTITION BY k
            ORDER BY ts
            MEASURES FIRST(S.v) AS sv, LAST(T.v) AS tv
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO LAST T
            PATTERN (S U T)
            DEFINE U AS U.v > PREV(U.v),
                   T AS T.v > PREV(T.v)
            """
        )
        agg = stream_match_recognize(
            keyed, spec, "k bigint, sv double, tv double",
        )
    elif mode == "temporal":
        from flink_streaming_platform_web_spark.streaming.temporal import (
            event_time_temporal_join,
        )

        # 1% of the rate stream acts as version updates, the rest as
        # probes — both sides from one source, keyed 0..999
        base = src.select(
            (F.col("value") % 1000).alias("k"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("v"),
        )
        build = (
            base.filter(F.col("v") % 100 == 0)
            .select("k", "ts", (F.col("v") * 2).alias("rate"))
            .withWatermark("ts", "2 seconds")
        )
        probe = base.filter(F.col("v") % 100 != 0).withWatermark(
            "ts", "2 seconds"
        )
        agg = event_time_temporal_join(
            probe,
            build,
            ["k"],
            ["k"],
            "ts",
            "ts",
            [("v", "v"), ("ts", "pts")],
            [("rate", "rate")],
        )
    else:
        agg = (
            src.withWatermark("timestamp", "10 seconds")
            .groupBy(
                F.window("timestamp", "5 seconds"), F.col("value") % 100
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        )
    return agg


def _drain(agg, mode: str, duration: float) -> int:
    """Start the noop sink, drain progress for ``duration`` seconds,
    stop, and return rows processed. Progress is read DURING the run,
    deduped by batchId: q.recentProgress is capped
    (spark.sql.streaming.numRecentProgressUpdates = 100), so a single
    read at the end undercounts any run longer than ~100 triggers."""
    q = (
        agg.writeStream.format("noop")
        # over/temporal are append-mode stateful operators; rank and
        # the window agg emit updates
        .outputMode(
            "append"
            if mode in ("over_buffered", "temporal", "cep",
                        "cep_coarse", "cep_permute", "cep_overlap")
            else "update"
        )
        .trigger(processingTime="1 second")
        .start()
    )
    rows = 0
    seen: set[int] = set()
    deadline = time.time() + duration
    while time.time() < deadline:
        for p in q.recentProgress:
            if p["batchId"] not in seen:
                seen.add(p["batchId"])
                rows += p["numInputRows"]
        time.sleep(1.0)
    for p in q.recentProgress:
        if p["batchId"] not in seen:
            seen.add(p["batchId"])
            rows += p["numInputRows"]
    q.stop()
    return rows


if __name__ == "__main__":
    main()
