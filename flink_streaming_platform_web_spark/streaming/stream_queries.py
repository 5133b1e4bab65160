"""Streaming inventory entries: real Structured Streaming runs whose
FINAL state is compared against a batch SQL oracle (BASELINE.md's
streaming check: stream(fixture) final state == batch SQL over the
same rows).

Each entry drives the full platform path — DDL text → JobRunner →
readStream → windowed/updating agg → sink — not a batch shortcut, so
the correctness gate covers O1 (streaming scan), O6 (unwindowed agg →
upsert), O8/O10 (watermark + tumble), O19 (INSERT routing) end to end.

Streams come from the driver's parquet via the filesystem connector
(maxFilesPerTrigger splits the input into several micro-batches, so
state actually accumulates across batches).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_platform_web_spark.operators._portable import (
    oracle_dsum,
)
from flink_streaming_platform_web_spark.streaming.runner import JobRunner

_EVENTS_DDL = """
CREATE TABLE stream_events (
  event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
  event_type STRING, value DOUBLE, props STRING,
  WATERMARK FOR ts AS ts - INTERVAL '60' SECOND
) WITH ('connector' = 'filesystem', 'path' = '{path}',
        'format' = 'parquet', 'source.max-files-per-trigger' = '1')
"""


#: staged stream-source row counts (dir path -> rows), written by the
#: staging helpers so the stateful partition count can be sized to the
#: INPUT (see _stateful_partitions)
_STAGED_ROWS: dict[str, int] = {}

#: below this staged row count the per-micro-batch state-store commit
#: overhead dominates and 4 partitions wins (the round-1 finding);
#: above it, per-key Python call time dominates and the stores must
#: shard across ALL cores (round 12: st04 at sf1 ran 150k keys on 4
#: of 32 cores — 899 s, exponent 1.72; the key space scales with SF,
#: so a fixed tiny store count turns linear work superlinear)
_STATEFUL_SMALL_ROWS = 200_000


def _stateful_partitions(spark: SparkSession, script_or_path: str) -> str:
    """Shuffle-partition (= state-store) count for a stateful
    streaming run: 4 for gate-sized inputs, every core for scaled
    ones — the sized-once-to-the-cluster choice Flink calls
    max-parallelism, derived from the staged source actually
    referenced by the script. Sources are matched by the EXACT paths
    in the script's ``'path' = '…'`` clauses (or the whole argument
    when it is itself a staged path) — substring matching could pick
    up a stale same-session staging whose path happens to nest inside
    another (ADVICE r12)."""
    import re as _re

    refs = _re.findall(r"'path'\s*=\s*'([^']+)'", script_or_path)
    if not refs:
        refs = [script_or_path]
    n = max(
        (_STAGED_ROWS[p] for p in refs if p in _STAGED_ROWS),
        default=0,
    )
    if n < _STATEFUL_SMALL_ROWS:
        return "4"
    return str(spark.sparkContext.defaultParallelism)


def _events_as_stream_source(
    spark: SparkSession, sf_dir: str, tag: str, files: int = 2
) -> str:
    """The driver's events table re-staged as a multi-file stream
    directory (`files` files → that many micro-batches), normalized to
    µs timestamps the stream reader can consume."""
    import tempfile

    from flink_streaming_platform_web_spark.tables import load

    path = f"{tempfile.gettempdir()}/spark_graft_stream_{tag}_{int(time.time()*1e6)}"
    load(spark, sf_dir, "events").repartition(files).write.parquet(path)
    # parquet-footer count (no data scan): sizes the state stores
    _STAGED_ROWS[path] = spark.read.parquet(path).count()
    return path


def _run_and_wait(runner: JobRunner, script: str) -> None:
    # stateful-operator state-store count == shuffle partitions at the
    # first checkpoint; sized to the staged input (4 for gate-sized
    # corpora, all cores for scaled ones — _stateful_partitions)
    spark = runner.spark
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _stateful_partitions(spark, script),
    )
    try:
        result = runner.execute_script(script)
        for q in result.streaming_queries:
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def st01_stream_tumble_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """demo_4 end-to-end: watermarked event-time tumble over a file
    stream, complete-mode memory sink; final table == batch window agg."""
    path = _events_as_stream_source(spark, sf_dir, "st01")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st01_out (window_start STRING, event_type STRING,
          n_events BIGINT, sum_value DOUBLE) WITH ('connector'='memory');
        INSERT INTO st01_out
        SELECT date_format(window(ts, '1 hour').start,
                           'yyyy-MM-dd HH:mm:ss') AS window_start,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM stream_events
        GROUP BY window(ts, '1 hour'), event_type;
        """,
    )
    return spark.table("st01_out")


ORACLE_ST01 = f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts, TIMESTAMP '1970-01-01'),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       {oracle_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
"""


def st02_stream_upsert_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """demo_1 end-to-end: unwindowed streaming GROUP BY in update mode
    feeding a PRIMARY-KEY upsert sink (foreachBatch keyed MERGE); the
    converged store == batch GROUP BY."""
    path = _events_as_stream_source(spark, sf_dir, "st02")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st02_sink (
          event_type STRING, n_events BIGINT, sum_value DOUBLE,
          PRIMARY KEY (event_type) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st02_sink
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM stream_events GROUP BY event_type;
        """,
    )
    return (
        runner.upsert_stores["st02_sink"]
        .to_df(spark)
        .select("event_type", "n_events", "sum_value")
    )


ORACLE_ST02 = f"""
SELECT event_type, COUNT(*) AS n_events,
       {oracle_dsum('value', 'sum_value')}
FROM events
GROUP BY 1
"""


def st03_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session windows (30 min gap per user) under
    Structured Streaming — the applyInPandasWithState-class operator
    expressed with the built-in session_window; final state == the
    gaps-and-islands batch oracle (same as q24)."""
    # one file → one micro-batch: cross-batch session-state merging in
    # complete output mode mis-merges (observed: fewer sessions than
    # the batch oracle); single-pass session assembly is correct and
    # still exercises the streaming session-window operator
    path = _events_as_stream_source(spark, sf_dir, "st03", files=1)
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st03_out (user_id BIGINT, session_start STRING,
          n_events BIGINT) WITH ('connector'='memory');
        INSERT INTO st03_out
        SELECT user_id,
               date_format(session_window(ts, '30 minutes').start,
                           'yyyy-MM-dd HH:mm:ss') AS session_start,
               COUNT(*) AS n_events
        FROM stream_events
        GROUP BY session_window(ts, '30 minutes'), user_id;
        """,
    )
    return spark.table("st03_out")


ORACLE_ST03 = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sess_id
"""


def st05_stream_hop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """demo_5 end-to-end: watermarked HOP (sliding) window over a file
    stream — 1-hour windows sliding every 30 minutes, so each event
    lands in two windows; final table == batch hop replay."""
    path = _events_as_stream_source(spark, sf_dir, "st05")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st05_out (window_start STRING, event_type STRING,
          n_events BIGINT, sum_value DOUBLE) WITH ('connector'='memory');
        INSERT INTO st05_out
        SELECT date_format(window(ts, '1 hour', '30 minutes').start,
                           'yyyy-MM-dd HH:mm:ss') AS window_start,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM stream_events
        GROUP BY window(ts, '1 hour', '30 minutes'), event_type;
        """,
    )
    return spark.table("st05_out")


# hop replay (same shape as ORACLE_Q23): with size = 2×slide every
# event belongs to exactly the two slide buckets at offsets 0 and -1
ORACLE_ST05 = f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts, TIMESTAMP '1970-01-01')
           - o.off * INTERVAL '30 minutes' AS wstart,
         event_type, value
  FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       {oracle_dsum('value', 'sum_value')}
FROM assigned
GROUP BY 1, 2
"""


def st04_stream_session_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-micro-batch sessionization — the custom stateful
    operator (streaming/stateful.sessionize, applyInPandasWithState)
    that the built-in session_window cannot express (st03's
    single-batch caveat): 4 micro-batches, per-user session state
    gap-merged across batches, replace-by-key sink; final state ==
    the gaps-and-islands batch oracle."""
    from flink_streaming_platform_web_spark.streaming.stateful import (
        sessionize,
    )
    from flink_streaming_platform_web_spark.streaming.upsert import (
        GroupReplaceStore,
        foreach_batch_upsert,
    )

    # 2 files → 2 micro-batches: the minimum that still proves
    # cross-batch state merging (4 batches doubled the per-batch
    # state-store commit + per-key Python call overhead for no extra
    # semantic coverage — this was the slowest gate entry in round 1)
    path = _events_as_stream_source(spark, sf_dir, "st04", files=2)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    sessions = sessionize(stream, "user_id", "ts", gap_minutes=30)
    store = GroupReplaceStore(["user_id"], ["session_start"])
    # stateful shuffle partitions == state-store count is fixed at the
    # first checkpoint; sized to the staged input (round 12 — the
    # sf0.1→sf1 ladder caught this entry running 150k keys on 4 of 32
    # cores: 899 s, exponent 1.72)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _stateful_partitions(spark, path),
    )
    try:
        query = (
            sessions.writeStream.outputMode("update")
            .foreachBatch(foreach_batch_upsert(store))
            .start()
        )
        query.processAllAvailable()
        query.stop()
        query.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        store.to_df(spark)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def st06_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication — the ingest-time dedup stage of
    a training-data pipeline (and Flink SQL's canonical
    `ROW_NUMBER() ... WHERE rn = 1` dedup query): duplicates injected
    in a LATER micro-batch must be suppressed by cross-batch keyed
    state, not per-batch distinct.

    The full event set is staged twice (two files → two micro-batches;
    batch 2 is a 100% duplicate replay) and `dropDuplicates(key)`
    keeps one state entry per distinct key. Scale note: state is
    O(distinct keys) — the honest cost of EXACT dedup, identical to
    Flink's dedup operator; when the duplication window is bounded,
    `dropDuplicatesWithinWatermark` caps state by event time
    instead."""
    import tempfile

    from flink_streaming_platform_web_spark.tables import load

    path = (
        f"{tempfile.gettempdir()}/spark_graft_stream_st06_"
        f"{int(time.time() * 1e6)}"
    )
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.coalesce(1).write.parquet(path)
    ev.coalesce(1).write.mode("append").parquet(path)  # dup replay
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        stream.dropDuplicates(["event_id"])
        .writeStream.format("memory")
        .queryName("st06_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(120)
    return spark.table("st06_out").select(
        "event_id", "event_type", "value"
    )


ORACLE_ST06 = """
SELECT event_id, event_type, value FROM events
"""


_ST07_DDL = """
CREATE TABLE {name} (
  event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
  event_type STRING, value DOUBLE, props STRING,
  WATERMARK FOR ts AS ts - INTERVAL '31' DAY
) WITH ('connector' = 'filesystem', 'path' = '{path}',
        'format' = 'parquet', 'source.max-files-per-trigger' = '1')
"""


def st07_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INTERVAL join (Flink's demo-grade
    click→purchase attribution): two event streams join on user with
    `b.ts BETWEEN a.ts AND a.ts + 30 min`, append-mode output, state
    cleaned by the watermark+bound pair. Runs the full platform path —
    DDL watermark → runner → Structured Streaming join state across
    micro-batches.

    The watermark delay is set beyond the fixture's whole time span so
    the replayed files (which arrive in non-time order) can never be
    late-dropped — final state must equal the batch join EXACTLY;
    late-drop semantics are covered separately
    (test_streaming_semantics). At scale the delay is set to the real
    out-of-orderness bound and join state stays O(delay × rate)."""
    path = _events_as_stream_source(spark, sf_dir, "st07")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _ST07_DDL.format(name="st07_clicks", path=path)
        + ";"
        + _ST07_DDL.format(name="st07_buys", path=path)
        + """;
        CREATE TABLE st07_out (user_id BIGINT, click_id BIGINT,
          buy_id BIGINT, click_ts STRING, buy_ts STRING)
        WITH ('connector' = 'memory');
        INSERT INTO st07_out
        SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
               date_format(c.ts, 'yyyy-MM-dd HH:mm:ss') AS click_ts,
               date_format(b.ts, 'yyyy-MM-dd HH:mm:ss') AS buy_ts
        FROM st07_clicks c JOIN st07_buys b
          ON c.user_id = b.user_id
         AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL '30' MINUTE
        WHERE c.event_type = 'click' AND b.event_type = 'purchase';
        """,
    )
    return spark.table("st07_out")


ORACLE_ST07 = """
SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS buy_ts
FROM events c JOIN events b
  ON c.user_id = b.user_id
 AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND b.event_type = 'purchase'
"""


def st08_stream_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC through the FULL script surface (demo_6's O14
    path): the events table is re-encoded as a debezium changelog —
    per user, each event is an upsert of that user's current row in
    (ts, event_id) order; users whose final event is an 'error' get a
    trailing delete — split at the time midpoint into two files (two
    micro-batches), declared via `'connector'='mysql-cdc'`, and run as
    an INSERT through the JobRunner. The runner applies each batch to
    keyed latest-state and replace-merges the recompute into the PK
    sink, so the final sink must equal the oracle's last-row-wins
    state minus the deleted users — update AND delete propagation
    across real micro-batches.

    Staging collects the fixture driver-side to author the changelog
    (test scaffolding, not the operator); the operator path itself is
    the runner's streaming changelog-apply."""
    import json
    import os
    import tempfile

    from flink_streaming_platform_web_spark.tables import load

    # 1-in-5 event sample: the changelog apply is a driver-side
    # sequential loop (correctness scaffolding, not the scale path),
    # so bound the staged feed; the oracle mirrors the sample
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    rows = sorted(
        ev.collect(), key=lambda r: (r["ts"], r["event_id"])
    )
    mid = rows[len(rows) // 2]["ts"]
    last_by_user: dict = {}
    for r in rows:
        last_by_user[r["user_id"]] = r
    envs: list[tuple[bool, str]] = []  # (second_half, json line)
    for seq, r in enumerate(rows):
        after = {
            "user_id": r["user_id"],
            "event_id": r["event_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        envs.append(
            (
                r["ts"] > mid,
                json.dumps(
                    {"op": "u", "before": None, "after": after,
                     "ts_ms": seq},
                ),
            )
        )
    n = len(rows)
    for i, r in enumerate(sorted(
        (r for r in last_by_user.values() if r["event_type"] == "error"),
        key=lambda r: r["user_id"],
    )):
        before = {
            "user_id": r["user_id"],
            "event_id": r["event_id"],
            "event_type": r["event_type"],
            "value": r["value"],
        }
        envs.append(
            (
                True,
                json.dumps(
                    {"op": "d", "before": before, "after": None,
                     "ts_ms": n + i},
                ),
            )
        )
    path = (
        f"{tempfile.gettempdir()}/spark_graft_stream_st08_"
        f"{int(time.time() * 1e6)}"
    )
    os.makedirs(path)
    with open(f"{path}/a_first.jsonl", "w") as f:
        f.write("\n".join(line for late, line in envs if not late))
    with open(f"{path}/b_second.jsonl", "w") as f:
        f.write("\n".join(line for late, line in envs if late))
    # second file strictly newer so FileStreamSource batches in order
    os.utime(f"{path}/b_second.jsonl", (time.time() + 2, time.time() + 2))
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE user_state (
          user_id BIGINT, event_id BIGINT, event_type STRING,
          value DOUBLE, PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('connector' = 'mysql-cdc',
                'graft.changelog-path' = '{path}',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st08_out (
          user_id BIGINT, event_id BIGINT, event_type STRING,
          value DOUBLE, PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st08_out
        SELECT user_id, event_id, event_type, value FROM user_state;
        """,
    )
    return runner.upsert_stores["st08_out"].to_df(spark)


ORACLE_ST08 = """
WITH latest AS (
  SELECT * FROM (
    SELECT user_id, event_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 5 = 0
  ) WHERE rn = 1
)
SELECT user_id, event_id, event_type, value
FROM latest WHERE event_type <> 'error'
"""


def st09_stream_window_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink 1.13 windowing-TVF form (FLIP-145) end-to-end through the
    runner in STREAMING mode: `TABLE(TUMBLE(TABLE ..., DESCRIPTOR(ts),
    ...))` grouped by the derived window_start/window_end runs as an
    update-mode keyed aggregation into a PK sink (the documented
    caveat: derived window columns get no watermark eviction — state
    is bounded by live windows × types here). Converged store == the
    batch aggregation, driver-gated like every other entry."""
    path = _events_as_stream_source(spark, sf_dir, "st09")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st09_sink (
          window_start STRING, event_type STRING, n_events BIGINT,
          sum_value DOUBLE,
          PRIMARY KEY (window_start, event_type) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st09_sink
        SELECT date_format(window_start, 'yyyy-MM-dd HH:mm:ss')
                 AS window_start,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_value
        FROM TABLE(TUMBLE(TABLE stream_events, DESCRIPTOR(ts),
                          INTERVAL '1' HOUR))
        GROUP BY window_start, event_type;
        """,
    )
    return (
        runner.upsert_stores["st09_sink"]
        .to_df(spark)
        .select("window_start", "event_type", "n_events", "sum_value")
    )


ORACLE_ST09 = f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts, TIMESTAMP '1970-01-01'),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       {oracle_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
"""


def st10_stream_ttl_incremental_agg(
    spark: SparkSession,
    sf_dir: str,
    files: int = 2,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """The incremental TTL-dim aggregation path end-to-end through the
    runner: an aggregating lookup-join (`FOR SYSTEM_TIME AS OF` dim
    with lookup.cache.ttl) whose algebraic aggregates fold per
    micro-batch into a CombiningStore, each batch re-joining against
    the dim's current snapshot. With a static dim the fold must equal
    the batch join+GROUP BY exactly — which is what the oracle gates;
    the dim-UPDATE freshness behavior is pinned separately by
    tests/test_stream_joins.py. Raises if the runner fell back to the
    in-plan join (the entry must prove the incremental path itself)."""
    import tempfile

    from flink_streaming_platform_web_spark.streaming.upsert import (
        CombiningStore,
    )
    from flink_streaming_platform_web_spark.tables import load

    path = _events_as_stream_source(spark, sf_dir, "st10", files=files)
    dim = (
        f"{tempfile.gettempdir()}/spark_graft_st10_dim_"
        f"{int(time.time() * 1e6)}"
    )
    load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    ).write.parquet(dim)
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE st10_events (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING,
          proctime AS PROCTIME()
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '{max_files_per_trigger}');
        CREATE TABLE st10_dim (n_nationkey BIGINT, n_name STRING)
          WITH ('connector' = 'filesystem', 'path' = '{dim}',
                'format' = 'parquet', 'lookup.cache.ttl' = '1h');
        CREATE TABLE st10_sink (
          n_name STRING, n_events BIGINT, sum_value DECIMAL(28,2),
          max_value DOUBLE,
          PRIMARY KEY (n_name) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st10_sink
        SELECT d.n_name, COUNT(*) AS n_events,
               SUM(CAST(value AS DECIMAL(18,2))) AS sum_value,
               MAX(value) AS max_value
        FROM st10_events
        JOIN st10_dim FOR SYSTEM_TIME AS OF st10_events.proctime AS d
          ON d.n_nationkey = st10_events.user_id % 25
        GROUP BY d.n_name;
        """,
    )
    store = runner.upsert_stores["st10_sink"]
    if not isinstance(store, CombiningStore):
        raise RuntimeError(
            "st10 must run the INCREMENTAL ttl-agg path; the runner"
            " fell back to the in-plan join"
        )
    for cache in runner.dim_caches.values():
        cache.release()
    out = store.to_df(spark).select(
        "n_name",
        "n_events",
        # the fold is decimal-exact internally; the RESULT crosses the
        # engine-compare boundary as DOUBLE like every other entry (the
        # dsum carrier) — a raw decimal column is the one output shape
        # nothing else in the inventory exercises, and decimal
        # canonicalization drift in the compare harness is
        # indistinguishable from a real value bug
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_value",
    )
    # loud coverage check: the fold's COUNT(*) total must equal the
    # source row count — a lost final micro-batch or a double-applied
    # replay becomes an ERROR here, never a silent value drift
    from flink_streaming_platform_web_spark.tables import load as _load

    folded = sum(r["n_events"] for r in store.rows.values())
    expected = _load(spark, sf_dir, "events").count()
    if folded != expected:
        raise RuntimeError(
            f"st10 fold covered {folded} events but the source has "
            f"{expected}; applied batches: {store.applied}"
        )
    return out


ORACLE_ST10 = f"""
SELECT n.n_name, COUNT(*) AS n_events,
       {oracle_dsum('value', 'sum_value')},
       MAX(value) AS max_value
FROM events ev JOIN nation n ON n.n_nationkey = ev.user_id % 25
GROUP BY n.n_name
"""


def st11_stream_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's streaming Window Top-N (docs: queries/window-topn — the
    documented three-level nesting: window TVF agg → ROW_NUMBER over
    the window partition → rank filter) end-to-end through the runner.
    The runner routes it to the state + re-rank re-plan
    (runner._write_stream_window_topn): per micro-batch the new window
    totals merge into rank state, touched windows re-rank, rank rows
    upsert by (window_start, rn) and dropped ranks DELETE — Flink's
    retract + re-emit. Converged store == the batch rank query."""
    path = _events_as_stream_source(spark, sf_dir, "st11", files=3)
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st11_sink (
          window_start STRING, event_type STRING, total DOUBLE,
          rn BIGINT,
          PRIMARY KEY (window_start, rn) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st11_sink
        SELECT window_start, event_type, total, rn FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY total DESC) AS rn
          FROM (
            SELECT date_format(window_start, 'yyyy-MM-dd HH:mm:ss')
                     AS window_start,
                   event_type,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total
            FROM TABLE(TUMBLE(TABLE stream_events, DESCRIPTOR(ts),
                              INTERVAL '6' HOUR))
            GROUP BY window_start, event_type
          )
        ) WHERE rn <= 3;
        """,
    )
    return (
        runner.upsert_stores["st11_sink"]
        .to_df(spark)
        .select("window_start", "event_type", "total", "rn")
    )


# tie-break mirrors the runner's deterministic rank sort: the full
# sort key is (total, group cols) reversed under DESC, i.e. ties on
# total break on event_type DESCENDING
ORACLE_ST11 = f"""
WITH agg AS (
  SELECT strftime(time_bucket(INTERVAL '6 hours', ts,
                              TIMESTAMP '1970-01-01'),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, {oracle_dsum('value', 'total')}
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, total, rn FROM (
  SELECT agg.*, CAST(ROW_NUMBER() OVER (
           PARTITION BY window_start
           ORDER BY total DESC, event_type DESC) AS BIGINT) AS rn
  FROM agg
) WHERE rn <= 3
"""


def st12_stream_dedup_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's documented SQL Deduplication pattern (docs:
    queries/deduplication — `ROW_NUMBER() OVER (PARTITION BY key
    ORDER BY time) ... WHERE rownum = 1`) end-to-end through the
    runner: keep-first per user_id in event-time order, maintained by
    the rank router's raw-row state (best-1 row retained per key,
    upserted when an earlier-timestamped row arrives in a later
    micro-batch). Timestamps cross the engine boundary as µs strings
    (the ts_str carrier), so the lexicographic order IS chronological
    and the oracle replays it exactly; ties break on the remaining
    columns ascending (documented determinism refinement)."""
    path = _events_as_stream_source(spark, sf_dir, "st12", files=3)
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st12_sink (
          user_id BIGINT, ts_s STRING, event_type STRING,
          value DOUBLE,
          PRIMARY KEY (user_id) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st12_sink
        SELECT user_id, ts_s, event_type, value FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts_s ASC) AS rownum
          FROM (
            SELECT user_id,
                   date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')
                     AS ts_s,
                   event_type, value
            FROM stream_events
          )
        ) WHERE rownum = 1;
        """,
    )
    return (
        runner.upsert_stores["st12_sink"]
        .to_df(spark)
        .select("user_id", "ts_s", "event_type", "value")
    )


ORACLE_ST12 = """
SELECT user_id, ts_s, event_type, value FROM (
  SELECT t.*, ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY ts_s ASC, event_type ASC, value ASC) AS rownum
  FROM (
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           event_type, value
    FROM events
  ) t
) WHERE rownum = 1
"""


def st13_stream_topn_continuous(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flink's documented continuous (non-window) Top-N (docs:
    queries/topn): top-5 users by running total value per event_type,
    maintained over an UPDATING aggregation. The rank router keeps
    per-partition rank state over the update stream's re-emitted
    totals; rank rows upsert by (event_type, rn) with retraction
    deletes. Converged store == the batch rank query."""
    path = _events_as_stream_source(spark, sf_dir, "st13", files=3)
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _EVENTS_DDL.format(path=path)
        + """;
        CREATE TABLE st13_sink (
          event_type STRING, user_id BIGINT, total DOUBLE,
          rn BIGINT,
          PRIMARY KEY (event_type, rn) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st13_sink
        SELECT event_type, user_id, total, rn FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY total DESC) AS rn
          FROM (
            SELECT event_type, user_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total
            FROM stream_events
            GROUP BY event_type, user_id
          )
        ) WHERE rn <= 5;
        """,
    )
    return (
        runner.upsert_stores["st13_sink"]
        .to_df(spark)
        .select("event_type", "user_id", "total", "rn")
    )


ORACLE_ST13 = f"""
WITH agg AS (
  SELECT event_type, user_id, {oracle_dsum('value', 'total')}
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, total, rn FROM (
  SELECT agg.*, CAST(ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY total DESC, user_id DESC) AS BIGINT) AS rn
  FROM agg
) WHERE rn <= 5
"""


def st14_stream_match_recognize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE end-to-end through the runner's SQL
    route (round 8): a WATERMARKED source staged deliberately
    OUT-OF-ORDER (_events_ordered_stream displaces rows across
    micro-batch cuts inside the 30-minute delay) routes to
    cep.stream_match_recognize behind the watermark-buffered front
    end (ooo.watermark_buffered — Flink CepOperator's element
    buffer), per-key NFA state spanning micro-batches. No sentinel
    rows: matches still pending at the end of the bounded input are
    closed by stop-with-drain (runner.DrainingQuery, the
    MAX_WATERMARK analog) exactly as batch EOF closes them — which
    is why the converged append output equals q45's batch oracle
    over the plain events table."""
    path = _events_ordered_stream(spark, sf_dir, "st14")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE st14_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP,
          value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st14_sink (
          user_id BIGINT, start_id BIGINT, end_id BIGINT,
          n_up BIGINT, peak DOUBLE
        ) WITH ('connector' = 'memory');
        INSERT INTO st14_sink
        SELECT user_id, start_id, end_id, n_up, peak
        FROM st14_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES
            FIRST(STRT.event_id) AS start_id,
            LAST(UP.event_id) AS end_id,
            COUNT(UP.*) AS n_up,
            LAST(UP.value) AS peak
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (STRT UP+)
          DEFINE UP AS UP.value > PREV(UP.value)
        );
        """,
    )
    return spark.table("st14_sink").select(
        "user_id", "start_id", "end_id", "n_up", "peak"
    )


def st15_stream_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's Window Join (docs: queries/window-join) as a REAL
    stream-stream join: two watermarked windowed aggregations (clicks
    and purchases per 1-hour window and user) joined on the window +
    key in append mode — Spark's chained-stateful-operators path (two
    window aggs feeding a join, multiple stateful ops in one query).
    A far-future sentinel pair advances the watermark so every real
    window flushes; the sentinel's own window never emits (nothing
    advances past it) and its user never appears in the oracle's
    events, so the converged output equals the batch inner window
    join exactly."""
    import datetime
    import tempfile

    from flink_streaming_platform_web_spark.tables import load

    path = (
        f"{tempfile.gettempdir()}/spark_graft_st15_"
        f"{int(time.time() * 1e6)}"
    )
    ev = load(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    )
    ev.repartition(2).write.parquet(path)
    _STAGED_ROWS[path] = spark.read.parquet(path).count()
    mx = ev.agg(F.max("ts")).collect()[0][0]
    spark.createDataFrame(
        [
            (mx + datetime.timedelta(hours=2), -1, "click"),
            (mx + datetime.timedelta(hours=2), -1, "purchase"),
        ],
        "ts TIMESTAMP, user_id BIGINT, event_type STRING",
    ).coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(
            "ts TIMESTAMP, user_id BIGINT, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )

    def side(event_type: str, alias: str) -> DataFrame:
        return (
            stream.filter(F.col("event_type") == event_type)
            .withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count("*").alias(alias))
        )

    joined = side("click", "n_clicks").join(
        side("purchase", "n_purchases"), ["window", "user_id"]
    )
    qname = f"st15_out_{int(time.time() * 1e6)}"
    # five stateful operators (two window aggs + both join sides +
    # the join) each commit state-store files per micro-batch, so the
    # per-batch fixed cost is 5 × shuffle-partitions × stores — size
    # the stores to the input like the runner-routed entries do
    # (st15 built its plan outside the runner and was paying the
    # 32-store count on a gate-sized corpus: ~40 s of pure state
    # commit overhead at sf0.1, exponent 0.03)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _stateful_partitions(spark, path)
        if path in _STAGED_ROWS
        else prev,
    )
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(qname).select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "user_id",
        "n_clicks",
        "n_purchases",
    )


ORACLE_ST15 = """
WITH clicks AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts,
                  TIMESTAMP '1970-01-01'),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         user_id, COUNT(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
buys AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts,
                  TIMESTAMP '1970-01-01'),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         user_id, COUNT(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT window_start, user_id, n_clicks, n_purchases
FROM clicks JOIN buys USING (window_start, user_id)
"""


def _displace_across_cuts(chunks, ts_col, window):
    """Deliberate OUT-OF-ORDER staging: for each consecutive pair of
    ts-sorted file chunks, rows of chunk i whose event time falls
    within ``window`` of chunk i's max (excluding the max row itself,
    which stays behind to anchor the watermark) are MOVED into chunk
    i+1 — so they arrive a full micro-batch late, behind rows with
    larger timestamps. The watermark-buffered front end must reorder
    them. ``window`` must
    stay safely inside the source's declared watermark delay or the
    displaced rows would be late-dropped and diverge from the batch
    oracle."""
    import pandas as _pd

    out = [c.copy() for c in chunks]
    for i in range(len(out) - 1):
        cur = out[i]
        if not len(cur):
            continue
        m = cur[ts_col].max()
        move = (cur[ts_col] > m - window) & (cur[ts_col] < m)
        if not move.any():
            continue
        out[i + 1] = _pd.concat(
            [out[i + 1], cur[move]], ignore_index=True
        )
        out[i] = cur[~move].reset_index(drop=True)
    return out


def _events_ordered_stream(
    spark: SparkSession, sf_dir: str, tag: str, files: int = 3
) -> str:
    """Events staged as sequential files cut on ts order, then
    deliberately DISORDERED: rows within 25 minutes of each cut's max
    timestamp are displaced into the next file (_displace_across_cuts)
    — inside the 30-minute watermark delay the st16/st18 DDL declares,
    so the watermark-buffered front end (ooo.watermark_buffered) must
    buffer and reorder them instead of relying on ordered arrival.
    No advancer sentinel: the tail rows the watermark never passes
    are flushed by stop-with-drain (runner.DrainingQuery — Flink's
    MAX_WATERMARK at end of bounded input)."""
    import os
    import tempfile

    import pandas as _pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_streaming_platform_web_spark.tables import load

    path = (
        f"{tempfile.gettempdir()}/spark_graft_{tag}_"
        f"{int(time.time() * 1e6)}"
    )
    os.makedirs(path)
    # sort SPARK-side: (ts, event_id) is a total key (event_id
    # unique), so orderBy + arrow-collect yields the identical frame
    # at ~1/3 the cost of toPandas + a pandas mergesort — the sf5
    # ladder was paying ~55 s of driver-side staging per entry
    # (round 13; order equality pinned against the pandas path)
    pdf = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    n = len(pdf)
    cuts = [0]
    for i in range(1, files):
        c = i * n // files
        # advance past equal-ts peers so they share a batch
        while c < n and pdf["ts"].iloc[c] == pdf["ts"].iloc[c - 1]:
            c += 1
        cuts.append(c)
    cuts.append(n)
    chunks = _displace_across_cuts(
        [pdf.iloc[cuts[i]:cuts[i + 1]] for i in range(files)],
        "ts",
        _pd.Timedelta(minutes=25),
    )
    now = time.time()

    def _write(chunk, i):
        tbl = pa.Table.from_pandas(chunk, preserve_index=False)
        i_ts = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(
            i_ts, "ts", tbl.column("ts").cast(pa.timestamp("us"))
        )
        f = f"{path}/c{i}.parquet"
        pq.write_table(tbl, f)
        os.utime(f, (now + i, now + i))

    for i, chunk in enumerate(chunks):
        _write(chunk, i)
    _STAGED_ROWS[path] = n
    return path


def st16_stream_over_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's streaming OVER aggregation (docs: queries/over-agg)
    end-to-end through the runner: time-range
    `RANGE INTERVAL '10' MINUTE PRECEDING AND CURRENT ROW` per user —
    every input row appends one output row aggregating its trailing
    10-minute window. The runner routes the shape to
    stateful.streaming_over (per-key window-buffer state via
    applyInPandasWithState; Spark rejects window functions on
    streams). SUM rides the decimal carrier; the batch oracle is the
    identical OVER query DuckDB runs natively."""
    path = _events_ordered_stream(spark, sf_dir, "st16")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE stream_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP,
          value DOUBLE,
          ts_s AS date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS'),
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st16_sink (
          user_id BIGINT, ts_s STRING, value DOUBLE,
          sum_10m DOUBLE, n_10m BIGINT, max_10m DOUBLE
        ) WITH ('connector' = 'memory');
        INSERT INTO st16_sink
        SELECT user_id, ts_s, value,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w
                    AS DOUBLE) AS sum_10m,
               COUNT(*) OVER w AS n_10m,
               MAX(value) OVER w AS max_10m
        FROM stream_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL '10' MINUTE PRECEDING
                     AND CURRENT ROW);
        """,
    )
    return spark.table("st16_sink").select(
        "user_id", "ts_s", "value", "sum_10m", "n_10m", "max_10m"
    )


ORACLE_ST16 = """
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS sum_10m,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_10m,
       MAX(value) OVER w AS max_10m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '10 minutes' PRECEDING
             AND CURRENT ROW)
"""


def st17_stream_temporal_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-time temporal join (Flink docs: queries/joins §Event
    Time Temporal Join) end-to-end through the runner: a probe stream
    joined `FOR SYSTEM_TIME AS OF p.ts` against a VERSIONED table
    (primary key + watermark — Flink's versioned-table definition,
    which is how the runner routes it) — every probe row joins the
    rate version valid at its own event time, with per-key version
    history held in executor state (streaming/temporal.py). Both
    sides stage as files cut at the SAME event-time boundaries, so
    lockstep triggers keep the keyed ingest time-ordered. The DuckDB
    oracle is the native ASOF JOIN — an independent implementation of
    the same semantics."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_streaming_platform_web_spark.tables import load

    base = (
        f"{tempfile.gettempdir()}/spark_graft_st17_"
        f"{int(time.time() * 1e6)}"
    )
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .toPandas()
    )
    rates = (
        ev[ev.user_id % 50 == 0]
        .groupby(["event_type", "ts"], as_index=False)
        .agg(rate=("value", "max"))
        .rename(columns={"ts": "rts"})
        .sort_values(["rts", "event_type"], kind="mergesort")
        .reset_index(drop=True)
    )
    probes = (
        ev[ev.user_id % 50 != 0]
        .sort_values(["ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    # shared event-time cut boundaries → lockstep micro-batches
    all_ts = sorted(
        set(probes["ts"].tolist()) | set(rates["rts"].tolist())
    )
    bounds = [
        all_ts[len(all_ts) // 3],
        all_ts[2 * len(all_ts) // 3],
    ]
    now = time.time()

    def _stage(pdf, ts_col, sub):
        """Cut at the SHARED boundaries, then deliberately displace
        rows near each cut into the following file
        (_displace_across_cuts) — out-of-order arrival inside the
        30-minute watermark delay, on BOTH sides of the join. No
        advancer sentinel: the tail the watermark never passes is
        flushed by stop-with-drain (runner.DrainingQuery)."""
        import pandas as _pd

        path = f"{base}/{sub}"
        os.makedirs(path)

        def _write(sel, i):
            tbl = pa.Table.from_pandas(sel, preserve_index=False)
            j = tbl.schema.get_field_index(ts_col)
            tbl = tbl.set_column(
                j, ts_col, tbl.column(ts_col).cast(pa.timestamp("us"))
            )
            f = f"{path}/c{i}.parquet"
            pq.write_table(tbl, f)
            os.utime(f, (now + i, now + i))

        chunks = []
        lo = None
        for hi in [*bounds, None]:
            sel = pdf
            if lo is not None:
                sel = sel[sel[ts_col] >= lo]
            if hi is not None:
                sel = sel[sel[ts_col] < hi]
            chunks.append(sel)
            lo = hi
        chunks = _displace_across_cuts(
            chunks, ts_col, _pd.Timedelta(minutes=25)
        )
        for i, chunk in enumerate(chunks):
            _write(chunk, i)
        _STAGED_ROWS[path] = len(pdf)
        return path

    p_path = _stage(probes, "ts", "probes")
    r_path = _stage(rates, "rts", "rates")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE probe_events (
          event_id BIGINT, user_id BIGINT, event_type STRING,
          ts TIMESTAMP, value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{p_path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE rates (
          event_type STRING, rts TIMESTAMP, rate DOUBLE,
          PRIMARY KEY (event_type) NOT ENFORCED,
          WATERMARK FOR rts AS rts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{r_path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st17_sink (
          event_id BIGINT, user_id BIGINT, value DOUBLE, rate DOUBLE
        ) WITH ('connector' = 'memory');
        INSERT INTO st17_sink
        SELECT p.event_id, p.user_id, p.value, r.rate
        FROM probe_events p
        JOIN rates FOR SYSTEM_TIME AS OF p.ts r
        ON p.event_type = r.event_type;
        """,
    )
    return spark.table("st17_sink").select(
        "event_id", "user_id", "value", "rate"
    )


ORACLE_ST17 = """
WITH rates AS (
  SELECT event_type, ts, MAX(value) AS rate
  FROM events WHERE user_id % 50 = 0 GROUP BY event_type, ts
),
probes AS (
  SELECT event_id, user_id, event_type, ts, value
  FROM events WHERE user_id % 50 <> 0
)
SELECT p.event_id, p.user_id, p.value, r.rate
FROM probes p ASOF JOIN rates r
  ON p.event_type = r.event_type AND p.ts >= r.ts
"""


def st18_stream_over_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OVER with a ROW-COUNT frame (Flink docs:
    queries/over-agg — `ROWS BETWEEN 3 PRECEDING AND CURRENT ROW`):
    per user, each event appends one row aggregating itself plus its
    three predecessors. Deterministic because event timestamps are
    unique per user at the gate SF (the rows-frame tie caveat is
    documented in stateful.streaming_over); the oracle is the
    identical ROWS-frame query run natively by DuckDB."""
    path = _events_ordered_stream(spark, sf_dir, "st18")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE stream_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP,
          value DOUBLE,
          ts_s AS date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS'),
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st18_sink (
          user_id BIGINT, ts_s STRING, value DOUBLE,
          sum_4 DOUBLE, n_4 BIGINT, min_4 DOUBLE
        ) WITH ('connector' = 'memory');
        INSERT INTO st18_sink
        SELECT user_id, ts_s, value,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w
                    AS DOUBLE) AS sum_4,
               COUNT(*) OVER w AS n_4,
               MIN(value) OVER w AS min_4
        FROM stream_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW);
        """,
    )
    return spark.table("st18_sink").select(
        "user_id", "ts_s", "value", "sum_4", "n_4", "min_4"
    )


ORACLE_ST18 = """
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS sum_4,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_4,
       MIN(value) OVER w AS min_4
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def st19_stream_match_permute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE with the round-8 PERMUTE grammar
    through the runner's SQL route: a watermarked, deliberately
    OUT-OF-ORDER source (same staging as st14) routes the AST-walked
    PERMUTE(HI, LO) pattern — a high/low value pair in EITHER order —
    behind the watermark-buffered front end, per-key NFA state
    spanning micro-batches, pending tail closed by stop-with-drain.
    Every match consumes exactly two adjacent rows (SKIP PAST LAST
    ROW), which is what keeps the DuckDB oracle a pure
    islands-plus-parity replay (the q47 trick: greedy non-overlapping
    pair selection = odd positions within each run of consecutive
    candidate rows)."""
    path = _events_ordered_stream(spark, sf_dir, "st19")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE st19_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP,
          value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st19_sink (
          user_id BIGINT, hi_id BIGINT, lo_id BIGINT
        ) WITH ('connector' = 'memory');
        INSERT INTO st19_sink
        SELECT user_id, hi_id, lo_id
        FROM st19_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES
            FIRST(HI.event_id) AS hi_id,
            FIRST(LO.event_id) AS lo_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (PERMUTE(HI, LO))
          DEFINE
            HI AS HI.value >= 55.0,
            LO AS LO.value < 20.0
        );
        """,
    )
    return spark.table("st19_sink").select(
        "user_id", "hi_id", "lo_id"
    )


ORACLE_ST19 = """
WITH ordered AS (
  SELECT user_id, event_id,
         CASE WHEN value >= 55.0 THEN 'H'
              WHEN value < 20.0 THEN 'L' ELSE 'M' END AS cls,
         ROW_NUMBER() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paired AS (
  SELECT user_id, event_id, cls, rn,
         LEAD(cls) OVER w2 AS nc, LEAD(event_id) OVER w2 AS nid
  FROM ordered
  WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
),
cand AS (
  SELECT * FROM paired
  WHERE (cls = 'H' AND nc = 'L') OR (cls = 'L' AND nc = 'H')
),
runs AS (
  SELECT *, rn - ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY rn) AS grp
  FROM cand
)
SELECT user_id,
       CASE WHEN cls = 'H' THEN event_id ELSE nid END AS hi_id,
       CASE WHEN cls = 'L' THEN event_id ELSE nid END AS lo_id
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, grp ORDER BY rn) AS pos
  FROM runs
) WHERE pos % 2 = 1
"""


def st20_stream_match_within(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE with the WITHIN time constraint
    (Flink docs: queries/match_recognize §Time constraint — the
    state-bounding clause streaming CEP needs at scale): a rising
    step counts only when it completes within 8 hours of the match's
    first row, over a watermarked deliberately-disordered source
    through the runner's buffered route. Same two-row consumption as
    q52, so the DuckDB oracle is the identical islands+parity replay
    with the bound folded into candidacy."""
    path = _events_ordered_stream(spark, sf_dir, "st20")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE st20_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP,
          value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st20_sink (
          user_id BIGINT, start_id BIGINT, up_id BIGINT,
          up_val DOUBLE
        ) WITH ('connector' = 'memory');
        INSERT INTO st20_sink
        SELECT user_id, start_id, up_id, up_val
        FROM st20_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES
            FIRST(STRT.event_id) AS start_id,
            FIRST(UP.event_id) AS up_id,
            FIRST(UP.value) AS up_val
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (STRT UP) WITHIN INTERVAL '8' HOUR
          DEFINE UP AS UP.value > PREV(UP.value)
        );
        """,
    )
    return spark.table("st20_sink").select(
        "user_id", "start_id", "up_id", "up_val"
    )


def _events_daybucket_stream(
    spark: SparkSession, sf_dir: str, tag: str, files: int = 3
) -> str:
    """Day-GRANULAR event-time staging for the DESC tie-order entry:
    the day bucket ``d`` itself is the watermarked column (Flink's
    time attribute can be any event-time column — here a coarse one,
    so each (user, day) group is a multi-row TIE the secondary
    ``event_id DESC`` ordering must break). Files cut on day
    boundaries, then every chunk's second-to-last day is displaced
    into the NEXT file (24 h late — inside the 2-day watermark delay
    the st21 DDL declares), so the buffered front end must reorder
    whole tie-groups, not just rows. Tail days never pass the
    watermark and flush via stop-with-drain."""
    import os
    import tempfile

    import pandas as _pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_streaming_platform_web_spark.tables import load

    path = (
        f"{tempfile.gettempdir()}/spark_graft_{tag}_"
        f"{int(time.time() * 1e6)}"
    )
    os.makedirs(path)
    # bucket + sort SPARK-side: date_trunc('DAY') ≡ pandas
    # dt.floor("D") (differential-pinned frame-identical), and
    # (d, event_id) is a total key, so orderBy + arrow-collect
    # replaces the 5M-row pandas mergesort (round 13 — see
    # _events_ordered_stream)
    pdf = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .withColumn("d", F.date_trunc("DAY", F.col("ts")))
        .drop("ts")
        .orderBy("d", "event_id")
        .toPandas()
    )
    n = len(pdf)
    cuts = [0]
    for i in range(1, files):
        c = i * n // files
        while c < n and pdf["d"].iloc[c] == pdf["d"].iloc[c - 1]:
            c += 1
        cuts.append(c)
    cuts.append(n)
    chunks = _displace_across_cuts(
        [pdf.iloc[cuts[i]:cuts[i + 1]] for i in range(files)],
        "d",
        _pd.Timedelta(hours=36),
    )
    now = time.time()
    for i, chunk in enumerate(chunks):
        tbl = pa.Table.from_pandas(chunk, preserve_index=False)
        i_d = tbl.schema.get_field_index("d")
        tbl = tbl.set_column(
            i_d, "d", tbl.column("d").cast(pa.timestamp("us"))
        )
        f = f"{path}/c{i}.parquet"
        pq.write_table(tbl, f)
        os.utime(f, (now + i, now + i))
    _STAGED_ROWS[path] = n
    return path


def st21_stream_match_desc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE with DESC secondary ordering
    (round 8, late): the q54 shape — scan day-ascending but
    event_id-DESCENDING within a day, matching a low value
    immediately followed by a high one — through the runner's SQL
    route over a day-granular watermarked source with whole
    tie-groups displaced across micro-batches. Matches can never
    overlap (the two value bands are disjoint, so candidate pairs
    never share a row), which makes SKIP PAST LAST ROW equal q54's
    SKIP TO NEXT ROW and the DuckDB oracle the identical pure LEAD
    window over the (day ASC, event_id DESC) ordering."""
    path = _events_daybucket_stream(spark, sf_dir, "st21")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE st21_events (
          user_id BIGINT, event_id BIGINT, d TIMESTAMP,
          value DOUBLE,
          WATERMARK FOR d AS d - INTERVAL '2' DAY
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st21_sink (
          user_id BIGINT, lo_id BIGINT, hi_id BIGINT
        ) WITH ('connector' = 'memory');
        INSERT INTO st21_sink
        SELECT user_id, lo_id, hi_id
        FROM st21_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY d, event_id DESC
          MEASURES
            FIRST(LO.event_id) AS lo_id,
            FIRST(HI.event_id) AS hi_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (LO HI)
          DEFINE LO AS LO.value < 30.0,
                 HI AS HI.value >= 60.0
        );
        """,
    )
    return spark.table("st21_sink").select(
        "user_id", "lo_id", "hi_id"
    )


def st22_stream_match_skip_to_var(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE with AFTER MATCH SKIP TO LAST <var>
    (round 10, late): q61's chained-rising shape — consecutive
    matches SHARE their endpoint row — over a WATERMARKED source
    staged deliberately out-of-order (same displaced staging as
    st14). Overlapping-match streaming rides the start-based emission
    frontier: a match emits once no earlier scan position can still
    change, and the shared resume row stays in keyed state so the
    next match assembles across micro-batches. Converges to exactly
    q61's batch result (ORACLE_Q61's islands + stride-2 walk)."""
    path = _events_ordered_stream(spark, sf_dir, "st22")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE st22_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP,
          value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st22_sink (
          user_id BIGINT, start_id BIGINT, top_id BIGINT,
          top_val DOUBLE, last_var STRING
        ) WITH ('connector' = 'memory');
        INSERT INTO st22_sink
        SELECT user_id, start_id, top_id, top_val, last_var
        FROM st22_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES
            FIRST(STRT.event_id) AS start_id,
            LAST(TOP.event_id) AS top_id,
            LAST(TOP.value) AS top_val,
            CLASSIFIER() AS last_var
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO LAST TOP
          PATTERN (STRT UP TOP)
          DEFINE UP AS UP.value > PREV(UP.value),
                 TOP AS TOP.value > PREV(TOP.value)
        );
        """,
    )
    return spark.table("st22_sink").select(
        "user_id", "start_id", "top_id", "top_val", "last_var"
    )


def st23_stream_match_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE with NO PARTITION BY (round 10,
    late): q60's global low→high adjacency over the total
    (ts, event_id) order of the whole stream — Flink's
    parallelism-1 global pattern, routed through the constant
    grouping key so ONE state group holds the NFA across
    micro-batches. Same displaced watermarked staging as st14;
    converges to exactly q60's batch result (the pure LEAD-window
    oracle)."""
    path = _events_ordered_stream(spark, sf_dir, "st23")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        f"""
        CREATE TABLE st23_events (
          user_id BIGINT, event_id BIGINT, ts TIMESTAMP,
          value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '30' MINUTE
        ) WITH ('connector' = 'filesystem', 'path' = '{path}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE st23_sink (
          lo_id BIGINT, hi_id BIGINT, hi_val DOUBLE
        ) WITH ('connector' = 'memory');
        INSERT INTO st23_sink
        SELECT lo_id, hi_id, hi_val
        FROM st23_events MATCH_RECOGNIZE (
          ORDER BY ts, event_id
          MEASURES
            FIRST(LO.event_id) AS lo_id,
            FIRST(HI.event_id) AS hi_id,
            FIRST(HI.value) AS hi_val
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (LO HI)
          DEFINE LO AS LO.value < 20.0,
                 HI AS HI.value >= 80.0
        );
        """,
    )
    return spark.table("st23_sink").select("lo_id", "hi_id", "hi_val")


_DOCS_DDL = """
CREATE TABLE stream_docs (
  doc_id BIGINT, text STRING, lang STRING, source STRING,
  n_chars BIGINT
) WITH ('connector' = 'filesystem', 'path' = '{path}',
        'format' = 'parquet', 'source.max-files-per-trigger' = '1')
"""


def _docs_as_stream_source(
    spark: SparkSession, sf_dir: str, tag: str, files: int = 2
) -> str:
    """The driver's documents table re-staged as a multi-file stream
    directory (`files` files -> that many micro-batches)."""
    import tempfile

    from flink_streaming_platform_web_spark.tables import load

    path = (
        f"{tempfile.gettempdir()}/spark_graft_stream_{tag}_"
        f"{int(time.time() * 1e6)}"
    )
    load(spark, sf_dir, "documents").repartition(files).write.parquet(
        path
    )
    _STAGED_ROWS[path] = spark.read.parquet(path).count()
    return path


def st24_stream_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING training-mix accounting — the streaming half of
    pp01's batch pipeline: the document corpus arrives as a
    multi-file stream, a whitespace-token/length quality gate filters
    each row at scan speed (pure projection — no state), and an
    unwindowed (lang, source) roll-up maintains the mix in a
    PRIMARY-KEY upsert store across micro-batches. Converged store ==
    the batch gate+roll-up. The token rule is the suite-wide
    whitespace tokenization (text.ws_token_count / ORACLE_WS_TOKENS);
    at 100 TB the gate is evaluated on the ingest scan and the only
    state is |lang|x|source| upsert rows."""
    path = _docs_as_stream_source(spark, sf_dir, "st24")
    runner = JobRunner(spark, mode="streaming")
    _run_and_wait(
        runner,
        _DOCS_DDL.format(path=path)
        + """;
        CREATE TABLE st24_sink (
          lang STRING, source STRING, n_docs BIGINT,
          total_tokens BIGINT,
          PRIMARY KEY (lang, source) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st24_sink
        SELECT lang, source, COUNT(*) AS n_docs,
               SUM(n_tok) AS total_tokens
        FROM (
          SELECT lang, source, n_chars,
                 CAST(size(filter(split(text, '\\\\s+'),
                                  t -> length(t) > 0)) AS BIGINT)
                   AS n_tok
          FROM stream_docs
        )
        WHERE n_tok >= 20 AND n_tok <= 90 AND n_chars >= 100
        GROUP BY lang, source;
        """,
    )
    return (
        runner.upsert_stores["st24_sink"]
        .to_df(spark)
        .select("lang", "source", "n_docs", "total_tokens")
    )


def _oracle_st24() -> str:
    from flink_streaming_platform_web_spark.operators.text import (
        ORACLE_WS_TOKENS,
    )

    return f"""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM (SELECT lang, source, n_chars, {ORACLE_WS_TOKENS} AS n_tok
      FROM documents)
WHERE n_tok >= 20 AND n_tok <= 90 AND n_chars >= 100
GROUP BY 1, 2
"""


#: the eval stand-in for the STREAMING gate is a FIXED-SIZE slice
#: (doc_id % 20 = 7 among the first 10k ids): real benchmarks are a
#: fixed corpus at any training-data scale, and the one-row array dim
#: must stay broadcast-sized by CONTRACT, not by luck — without the
#: bound the sf0.1→sf1 ladder measured the per-row array_intersect
#: probe growing with the eval union (round 12). At the driver's gate
#: SFs (doc ids < 10k) the bound is inactive and results are
#: identical to the unbounded rule.
ST25_EVAL_MAX_ID = 10_000


def st25_stream_contamination_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING decontamination gate — the streaming half of dc01:
    train documents arrive as a multi-file stream; each is shingled
    scan-side (the suite-wide 3-gram portable-hash expression, inline
    Spark SQL) and probed against the STATIC eval-shingle union via a
    stream-static join on a one-row array dim; the (source,
    contaminated) mix is maintained in a PRIMARY-KEY upsert store
    across micro-batches. Converged store == the batch gate.

    Scale shape (100 TB): the eval union is benchmark-sized by
    contract (dc01's argument, enforced by ST25_EVAL_MAX_ID), so the
    dim is ONE row carrying a sorted array — the join broadcasts it
    and the probe (array_intersect of two distinct arrays) runs at
    scan speed in codegen; the only state is |source|x2 upsert rows.
    The corpus stages as MANY files with a multi-file trigger so the
    shingle+probe projection runs on every core per micro-batch
    (round 12: one file per trigger put the whole scan-side kernel on
    a single partition — 2 batches is all cross-batch convergence
    needs). A doc is contaminated when >= half its distinct shingles
    appear in the eval union AND it has shingles at all (dc01's rule,
    made total: dc01 emits only hit docs, the gate classifies every
    train doc)."""
    par = spark.sparkContext.defaultParallelism
    path = _docs_as_stream_source(
        spark, sf_dir, "st25", files=2 * par
    )
    # the eval union as a ONE-ROW array dim, registered as a memory
    # (batch-view) table — the runner reads memory connectors as
    # static snapshots even in streaming jobs
    from flink_streaming_platform_web_spark.operators.dedup import (
        _shingle_arrs,
    )
    from flink_streaming_platform_web_spark.tables import load

    # filter BEFORE shingling (only the eval slice pays the shingle
    # transform) and explode_outer (plain explode's inferred
    # size(arr)>0 filter re-inlines the whole shingle expression
    # below the exchange — dedup._shingles' documented trap, re-hit
    # here in round 12: 77.6 s -> 3.1 s at sf1)
    eval_docs = load(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 20 == 7)
        & (F.col("doc_id") <= ST25_EVAL_MAX_ID)
    )
    (
        _shingle_arrs(eval_docs)
        .select(F.explode_outer("arr").alias("s"))
        .where(F.col("s").isNotNull())
        .distinct()
        .agg(
            F.lit(1).alias("k"),
            F.sort_array(F.collect_list("s")).alias("eval_arr"),
        )
        .createOrReplaceTempView("st25_eval_view")
    )
    shingle_sql = (
        "array_distinct(transform(filter(transform("
        "  CASE WHEN size(w) >= 3 THEN sequence(0, size(w) - 3)"
        "       ELSE array() END,"
        "  i -> concat_ws(' ', w[i], w[i+1], w[i+2])),"
        "  s -> length(s) > 0),"
        "  s -> CAST(conv(substring(md5(s), 1, 15), 16, 10)"
        "       AS BIGINT)))"
    )
    runner = JobRunner(spark, mode="streaming")
    docs_ddl = f"""
CREATE TABLE stream_docs (
  doc_id BIGINT, text STRING, lang STRING, source STRING,
  n_chars BIGINT
) WITH ('connector' = 'filesystem', 'path' = '{path}',
        'format' = 'parquet',
        'source.max-files-per-trigger' = '{par}')
"""
    _run_and_wait(
        runner,
        docs_ddl
        + f""";
        CREATE TABLE st25_eval (k INT, eval_arr ARRAY<BIGINT>)
          WITH ('connector' = 'memory', 'view' = 'st25_eval_view');
        CREATE TABLE st25_sink (
          source STRING, contaminated BOOLEAN, n_docs BIGINT,
          PRIMARY KEY (source, contaminated) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO st25_sink
        SELECT source, contaminated, COUNT(*) AS n_docs
        FROM (
          SELECT source,
                 (n_sh > 0 AND n_shared * 2 >= n_sh) AS contaminated
          FROM (
            SELECT d.source, size(d.arr) AS n_sh,
                   size(array_intersect(d.arr, e.eval_arr)) AS n_shared
            FROM (
              SELECT source, 1 AS kk, {shingle_sql} AS arr
              FROM (SELECT doc_id, source, split(text, '\\\\s+') AS w
                    FROM stream_docs)
              WHERE doc_id % 20 <> 7
            ) d JOIN st25_eval e ON d.kk = e.k
          )
        ) GROUP BY source, contaminated;
        """,
    )
    return (
        runner.upsert_stores["st25_sink"]
        .to_df(spark)
        .select("source", "contaminated", "n_docs")
    )


def _oracle_st25() -> str:
    from flink_streaming_platform_web_spark.operators.dedup import (
        _ORACLE_SHINGLES,
    )

    return f"""
WITH sh AS ({_ORACLE_SHINGLES}),
eval_sh AS (SELECT DISTINCT shingle FROM sh
            WHERE doc_id % 20 = 7 AND doc_id <= {ST25_EVAL_MAX_ID}),
train AS (SELECT doc_id, source FROM documents WHERE doc_id % 20 <> 7),
hits AS (
  SELECT s.doc_id, MAX(s.n_sh) AS n_sh, COUNT(e.shingle) AS n_shared
  FROM sh s LEFT JOIN eval_sh e USING (shingle)
  WHERE s.doc_id % 20 <> 7
  GROUP BY s.doc_id
)
SELECT t.source,
       COALESCE(h.n_sh > 0 AND h.n_shared * 2 >= h.n_sh, FALSE)
         AS contaminated,
       COUNT(*) AS n_docs
FROM train t LEFT JOIN hits h USING (doc_id)
GROUP BY 1, 2
"""


QUERIES = {
    "st21_stream_match_desc": st21_stream_match_desc,
    "st25_stream_contamination_gate": st25_stream_contamination_gate,
    "st22_stream_match_skip_to_var": st22_stream_match_skip_to_var,
    "st23_stream_match_global": st23_stream_match_global,
    "st01_stream_tumble_window": st01_stream_tumble_window,
    "st24_stream_quality_mix": st24_stream_quality_mix,
    "st19_stream_match_permute": st19_stream_match_permute,
    "st20_stream_match_within": st20_stream_match_within,
    "st11_stream_window_topn": st11_stream_window_topn,
    "st12_stream_dedup_sql": st12_stream_dedup_sql,
    "st13_stream_topn_continuous": st13_stream_topn_continuous,
    "st14_stream_match_recognize": st14_stream_match_recognize,
    "st15_stream_window_join": st15_stream_window_join,
    "st16_stream_over_agg": st16_stream_over_agg,
    "st17_stream_temporal_join": st17_stream_temporal_join,
    "st18_stream_over_rows": st18_stream_over_rows,
    "st10_stream_ttl_incremental_agg": st10_stream_ttl_incremental_agg,
    "st09_stream_window_tvf": st09_stream_window_tvf,
    "st08_stream_cdc_latest": st08_stream_cdc_latest,
    "st02_stream_upsert_agg": st02_stream_upsert_agg,
    "st03_stream_session_window": st03_stream_session_window,
    "st04_stream_session_custom": st04_stream_session_custom,
    "st05_stream_hop_window": st05_stream_hop_window,
    "st06_stream_dedup": st06_stream_dedup,
    "st07_stream_interval_join": st07_stream_interval_join,
}

ORACLES = {
    "st25_stream_contamination_gate": _oracle_st25(),
    "st10_stream_ttl_incremental_agg": ORACLE_ST10,
    "st11_stream_window_topn": ORACLE_ST11,
    "st12_stream_dedup_sql": ORACLE_ST12,
    "st13_stream_topn_continuous": ORACLE_ST13,
    "st15_stream_window_join": ORACLE_ST15,
    "st16_stream_over_agg": ORACLE_ST16,
    "st17_stream_temporal_join": ORACLE_ST17,
    "st18_stream_over_rows": ORACLE_ST18,
    # st14 converges to exactly the batch MATCH_RECOGNIZE result —
    # the q45 gaps-and-islands oracle verbatim (sentinels close
    # pending matches the way batch EOF does; they never appear in
    # any match)
    "st14_stream_match_recognize": __import__(
        "flink_streaming_platform_web_spark.operators.cep",
        fromlist=["ORACLE_Q45"],
    ).ORACLE_Q45,
    "st19_stream_match_permute": ORACLE_ST19,
    # st20 converges to exactly q52's batch result — the identical
    # islands+parity WITHIN oracle
    "st20_stream_match_within": __import__(
        "flink_streaming_platform_web_spark.operators.cep",
        fromlist=["ORACLE_Q52"],
    ).ORACLE_Q52,
    # st21 converges to exactly q54's batch result: disjoint value
    # bands make matches overlap-free, so SKIP PAST LAST ROW ==
    # SKIP TO NEXT ROW and the pure LEAD-window oracle carries over
    "st21_stream_match_desc": __import__(
        "flink_streaming_platform_web_spark.operators.cep",
        fromlist=["ORACLE_Q54"],
    ).ORACLE_Q54,
    # st22 converges to exactly q61's batch result — overlapping
    # matches (SKIP TO LAST <var>) close behind the start-based
    # frontier and drain-stop flushes the tail the way batch EOF does
    "st22_stream_match_skip_to_var": __import__(
        "flink_streaming_platform_web_spark.operators.cep",
        fromlist=["ORACLE_Q61"],
    ).ORACLE_Q61,
    # st23 converges to exactly q60's batch result — the global
    # (no PARTITION BY) pattern runs as one constant-key state group
    "st23_stream_match_global": __import__(
        "flink_streaming_platform_web_spark.operators.cep",
        fromlist=["ORACLE_Q60"],
    ).ORACLE_Q60,
    "st09_stream_window_tvf": ORACLE_ST09,
    "st08_stream_cdc_latest": ORACLE_ST08,
    "st07_stream_interval_join": ORACLE_ST07,
    "st06_stream_dedup": ORACLE_ST06,
    "st05_stream_hop_window": ORACLE_ST05,
    "st01_stream_tumble_window": ORACLE_ST01,
    "st02_stream_upsert_agg": ORACLE_ST02,
    "st24_stream_quality_mix": _oracle_st24(),
    "st03_stream_session_window": ORACLE_ST03,
    "st04_stream_session_custom": ORACLE_ST03,
}
