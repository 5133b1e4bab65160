"""applyInPandasWithState custom-operator tests: per-key running
aggregates accumulate across micro-batches through the state store."""

from __future__ import annotations

from flink_streaming_platform_web_spark.streaming.stateful import (
    running_counts,
)


def _write(spark, path, rows):
    spark.createDataFrame(rows, "k STRING, v DOUBLE").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_merge_sessions_sweep():
    from flink_streaming_platform_web_spark.streaming.stateful import (
        _merge_sessions,
    )

    gap = 10
    # chain-merge across a pre-merged interval and raw points
    items = [(0, 0, 1), (5, 5, 1), (30, 40, 3), (45, 45, 1), (70, 70, 1)]
    assert _merge_sessions(items, gap) == [
        (0, 5, 2),
        (30, 45, 4),
        (70, 70, 1),
    ]
    # order-independence (associativity over micro-batches)
    assert _merge_sessions(list(reversed(items)), gap) == _merge_sessions(
        items, gap
    )


def test_group_replace_store_drops_stale_rows(spark):
    from flink_streaming_platform_web_spark.streaming.upsert import (
        GroupReplaceStore,
    )

    store = GroupReplaceStore(["u"], ["s"])
    store.merge_batch(
        spark.createDataFrame([(1, 10), (1, 50), (2, 10)], "u INT, s INT")
    )
    # user 1's sessions merged: 2 rows shrink to 1 — stale row must go
    store.merge_batch(spark.createDataFrame([(1, 10)], "u INT, s INT"))
    rows = {(r["u"], r["s"]) for r in store.to_df(spark).collect()}
    assert rows == {(1, 10), (2, 10)}


def test_sessionize_across_batches(spark, tmp_path):
    import datetime as dt

    from flink_streaming_platform_web_spark.streaming.stateful import (
        sessionize,
    )

    src = f"{tmp_path}/sess_src"

    def w(rows):
        spark.createDataFrame(
            [(u, dt.datetime(2024, 1, 1, 0, m)) for u, m in rows],
            "user_id BIGINT, ts TIMESTAMP",
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1: two sessions for user 1 (0-5 and 60), one for user 2
    w([(1, 0), (1, 5), (2, 0)])
    sdf = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = sessionize(sdf, "user_id", "ts", gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/sess_ckpt")
        .start()
    )
    q.processAllAvailable()
    # batch 2: minute 20 bridges nothing new for user 2, but minute 35
    # would be a new session UNLESS minute 20 arrived too (gap-merge
    # across batches: 5→20→35 chains into one session with 0,5)
    w([(1, 20), (1, 35)])
    q.processAllAvailable()
    q.stop()
    rows = spark.table("sess_out").collect()
    # update mode re-emits a key's full session set each touched
    # batch; the converged state is the emission with the merged count
    u1 = {
        (r["session_start"].minute, r["n_events"])
        for r in rows
        if r["user_id"] == 1 and r["n_events"] == 4
    }
    assert u1 == {(0, 4)}  # 0,5,20,35 one merged session
    assert {
        r["n_events"] for r in rows if r["user_id"] == 2
    } == {1}


def test_running_counts_across_batches(spark, tmp_path):
    src = f"{tmp_path}/state_src"
    _write(spark, src, [("a", 1.0), ("a", 2.0), ("b", 5.0)])
    sdf = (
        spark.readStream.schema("k STRING, v DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = running_counts(sdf)
    q = (
        out.writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .option("checkpointLocation", f"{tmp_path}/state_ckpt")
        .start()
    )
    q.processAllAvailable()
    # second micro-batch: state must carry over
    _write(spark, src, [("a", 4.0)])
    q.processAllAvailable()
    q.stop()
    rows = spark.table("state_out").collect()
    # update-mode memory sink appends one row per touched key per
    # batch; the highest count per key is the converged state
    best = {}
    for r in rows:
        if r["key"] not in best or r["n"] > best[r["key"]][0]:
            best[r["key"]] = (r["n"], r["total"])
    assert best["a"] == (3, 7.0)
    assert best["b"] == (1, 5.0)


def test_merge_sessions_batch_split_invariance():
    """Property: gap-merging points batch-by-batch (any partition, any
    order) must equal sessionizing all points at once — the invariant
    that makes the st04 operator's cross-batch state correct."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flink_streaming_platform_web_spark.streaming.stateful import (
        _merge_sessions,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        points=st.lists(
            st.integers(min_value=0, max_value=500), min_size=1, max_size=40
        ),
        cut=st.integers(min_value=0, max_value=40),
        gap=st.integers(min_value=1, max_value=50),
    )
    def check(points, cut, gap):
        items = [(p, p, 1) for p in points]
        direct = _merge_sessions(list(items), gap)
        cut_at = min(cut, len(items))
        first = _merge_sessions(items[:cut_at], gap)
        incremental = _merge_sessions(
            first + [(p, p, 1) for p in points[cut_at:]], gap
        )
        assert incremental == direct

    check()
