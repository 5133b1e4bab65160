"""End-to-end script-runner tests: the reference's demo flows
re-created on file/memory channels (SURVEY §5 adopted plan).

- hello-world (README.md:100-123): datagen → print, batch mode
- demo_1.md: stream → unwindowed GROUP BY agg → PRIMARY KEY upsert
  sink; final state must equal the batch SQL over the same rows
- demo_4.md: watermark + tumble window over an event-time stream
- multi-INSERT statement set (demo_6.md §2.2.1 shape)
"""

from __future__ import annotations

import os

import pytest

from flink_streaming_platform_web_spark.streaming.checkpoints import (
    CheckPointParam,
)
from flink_streaming_platform_web_spark.streaming.runner import JobRunner
from flink_streaming_platform_web_spark.tables import load


def _wait_all(result, timeout=60):
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(timeout)


def test_hello_world_batch(spark, capsys):
    """README hello-world: bounded datagen → print sink."""
    r = JobRunner(spark, mode="batch").execute_script(
        """
        CREATE TABLE source_table (f0 INT, f1 INT, f2 STRING) WITH
          ('connector' = 'datagen', 'number-of-rows' = '20',
           'fields.f0.kind' = 'sequence', 'fields.f0.start' = '1',
           'fields.f0.end' = '20');
        CREATE TABLE print_table (f0 INT, f1 INT, f2 STRING)
          WITH ('connector' = 'print');
        INSERT INTO print_table SELECT f0, f1, f2 FROM source_table;
        """
    )
    assert r.batch_results["print_table"] == 20
    assert "f0" in capsys.readouterr().out


def test_datagen_is_deterministic(spark):
    runner = JobRunner(spark, mode="batch")
    script = """
        CREATE TABLE g (a INT, b DOUBLE) WITH
          ('connector'='datagen', 'number-of-rows'='50',
           'fields.b.min'='10', 'fields.b.max'='20');
        CREATE TABLE m (a INT, b DOUBLE) WITH ('connector'='memory');
        INSERT INTO m SELECT a, b FROM g;
    """
    runner.execute_script(script)
    first = [tuple(r) for r in spark.table("m").collect()]
    JobRunner(spark, mode="batch").execute_script(script)
    second = [tuple(r) for r in spark.table("m").collect()]
    assert first == second
    assert all(10 <= b <= 20 for _, b in first)


def test_demo1_upsert_convergence(spark, sf_dir, tmp_path):
    """demo_1: unwindowed agg + PK upsert sink == batch GROUP BY."""
    src = f"{tmp_path}/orders_src"
    load(spark, sf_dir, "orders").limit(300).write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        CREATE TABLE source_table (
          o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP,
          o_orderpriority STRING
        ) WITH ('connector' = 'filesystem', 'path' = '{src}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE sink_table (
          day_time STRING, total_gmv DOUBLE,
          PRIMARY KEY (day_time) NOT ENFORCED
        ) WITH ('connector' = 'jdbc');
        INSERT INTO sink_table
        SELECT date_format(o_orderdate, 'yyyyMMdd') AS day_time,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_gmv
        FROM source_table GROUP BY date_format(o_orderdate, 'yyyyMMdd');
        """
    )
    _wait_all(result)
    got = {
        r["day_time"]: r["total_gmv"]
        for r in runner.upsert_stores["sink_table"].to_df(spark).collect()
    }
    expected = {
        r["day_time"]: r["total_gmv"]
        for r in spark.sql(
            "SELECT date_format(o_orderdate,'yyyyMMdd') AS day_time, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
            "AS total_gmv FROM parquet.`{}` GROUP BY 1".format(src)
        ).collect()
    }
    assert got == expected


def test_demo4_tumble_window_stream(spark, sf_dir, tmp_path):
    """demo_4: watermarked tumble window; stream result == batch."""
    src = f"{tmp_path}/events_src"
    load(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        CREATE TABLE clicks (
          event_type STRING, ts TIMESTAMP, value DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '20' SECOND
        ) WITH ('connector' = 'filesystem', 'path' = '{src}',
                'format' = 'parquet');
        CREATE TABLE out (window_start TIMESTAMP, event_type STRING,
                          n BIGINT) WITH ('connector' = 'memory');
        INSERT INTO out
        SELECT window(ts, '1 hour').start AS window_start,
               event_type, COUNT(*) AS n
        FROM clicks GROUP BY window(ts, '1 hour'), event_type;
        """
    )
    _wait_all(result)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.table("out").collect()
    }
    expected = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.sql(
            "SELECT window(ts, '1 hour').start AS ws, event_type, "
            "COUNT(*) AS n FROM parquet.`{}` GROUP BY 1, 2".format(src)
        ).collect()
    }
    assert got == expected


def test_statement_set_multi_insert(spark, tmp_path):
    """demo_6 §2.2.1: several INSERTs in one script start as a group."""
    runner = JobRunner(spark, mode="batch")
    r = runner.execute_script(
        """
        CREATE TABLE g (a INT) WITH ('connector'='datagen',
          'number-of-rows'='10', 'fields.a.kind'='sequence',
          'fields.a.start'='1', 'fields.a.end'='10');
        CREATE TABLE m1 (a INT) WITH ('connector'='memory');
        CREATE TABLE m2 (s BIGINT) WITH ('connector'='memory');
        BEGIN STATEMENT SET;
        INSERT INTO m1 SELECT a FROM g;
        INSERT INTO m2 SELECT CAST(SUM(a) AS BIGINT) AS s FROM g;
        END;
        """
    )
    assert r.batch_results["m1"] == 10
    assert spark.table("m2").collect()[0]["s"] == 55


def test_bare_select_rejected_in_streaming_mode(spark):
    with pytest.raises(ValueError, match="bare SELECT"):
        JobRunner(spark, mode="streaming").execute_script(
            "SELECT 1;"
        )


def test_batch_select_returned(spark):
    r = JobRunner(spark, mode="batch").execute_script("SELECT 42 AS v;")
    assert r.select_results[0].collect()[0]["v"] == 42


def test_set_statement_maps_trigger(spark):
    runner = JobRunner(spark, mode="streaming")
    runner.execute_script(
        "SET table.exec.mini-batch.allow-latency = '60 s';"
        "CREATE TABLE t (a INT) WITH ('connector'='print');"
        "INSERT INTO t SELECT 1 AS a WHERE 1 = 0;"
    )
    assert runner._trigger == {"processingTime": "60 seconds"}


def test_create_view_and_function(spark):
    runner = JobRunner(spark, mode="batch")
    r = runner.execute_script(
        """
        CREATE TABLE g (a INT) WITH ('connector'='datagen',
          'number-of-rows'='5', 'fields.a.kind'='sequence',
          'fields.a.start'='1', 'fields.a.end'='5');
        CREATE VIEW doubled AS SELECT a * 2 AS d FROM g;
        CREATE TABLE m (total BIGINT) WITH ('connector'='memory');
        INSERT INTO m SELECT CAST(SUM(d) AS BIGINT) AS total FROM doubled;
        """
    )
    assert spark.table("m").collect()[0]["total"] == 30


def test_read_once_statement_set_fanout(spark, sf_dir, tmp_path):
    """O20 read-once mode: two stateless INSERTs over one stream run as
    ONE streaming query fanning out per micro-batch (demo_6 §2.2.1
    shape: filter+project into two sinks)."""
    from flink_streaming_platform_web_spark.tables import load

    src = f"{tmp_path}/fo_src"
    out1 = f"{tmp_path}/fo_out1"
    out2 = f"{tmp_path}/fo_out2"
    load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        SET graft.statement-set.read-once = 'true';
        CREATE TABLE fsrc (event_id BIGINT, event_type STRING,
          value DOUBLE) WITH ('connector'='filesystem', 'path'='{src}',
          'format'='parquet');
        CREATE TABLE s1 (event_id BIGINT, value DOUBLE) WITH
          ('connector'='filesystem', 'path'='{out1}', 'format'='parquet');
        CREATE TABLE s2 (event_id BIGINT, tag STRING) WITH
          ('connector'='filesystem', 'path'='{out2}', 'format'='parquet');
        BEGIN STATEMENT SET;
        INSERT INTO s1 SELECT event_id, value FROM fsrc
          WHERE event_type = 'purchase';
        INSERT INTO s2 SELECT event_id, upper(event_type) AS tag
          FROM fsrc WHERE value > 50;
        END;
        """
    )
    # the whole statement set is ONE streaming query
    assert len(result.streaming_queries) == 1
    _wait_all(result)
    src_df = spark.read.parquet(src)
    assert (
        spark.read.parquet(out1).count()
        == src_df.filter("event_type = 'purchase'").count()
    )
    assert (
        spark.read.parquet(out2).count()
        == src_df.filter("value > 50").count()
    )


def test_read_once_mirror_fanout_for_aggregates(spark, sf_dir, tmp_path):
    """Aggregating statement set in read-once mode: the source is
    consumed by ONE mirror query (kafka→bronze shape); each INSERT
    streams from the mirror with real cross-batch agg state."""
    from flink_streaming_platform_web_spark.tables import load

    src = f"{tmp_path}/fb_src"
    load(spark, sf_dir, "events").select("event_type", "value").write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        SET graft.statement-set.read-once = 'true';
        CREATE TABLE bsrc (event_type STRING, value DOUBLE) WITH
          ('connector'='filesystem', 'path'='{src}', 'format'='parquet');
        CREATE TABLE k1 (event_type STRING, n BIGINT,
          PRIMARY KEY (event_type) NOT ENFORCED) WITH ('connector'='jdbc');
        CREATE TABLE k2 (event_type STRING) WITH ('connector'='blackhole');
        INSERT INTO k1 SELECT event_type, COUNT(*) AS n FROM bsrc
          GROUP BY event_type;
        INSERT INTO k2 SELECT event_type FROM bsrc;
        """
    )
    # 1 mirror (the only consumer of bsrc) + 1 query per INSERT
    assert len(result.streaming_queries) == 3
    _wait_all(result)
    got = {
        r["event_type"]: r["n"]
        for r in runner.upsert_stores["k1"].to_df(spark).collect()
    }
    expected = {
        r["event_type"]: r["n"]
        for r in spark.sql(
            f"SELECT event_type, COUNT(*) AS n FROM parquet.`{src}`"
            " GROUP BY 1"
        ).collect()
    }
    assert got == expected


def test_runner_connector_ddl_typo_raises_ddl_error(spark):
    """execute_script must surface the precise DDLParseError for
    connector-shaped DDL with a typo instead of passing the statement
    to spark.sql and failing with a confusing ParseException
    (ADVICE r02)."""
    import pytest

    from flink_streaming_platform_web_spark.sources.ddl import (
        DDLParseError,
    )

    runner = JobRunner(spark, mode="batch")
    with pytest.raises(DDLParseError, match="unsupported type"):
        runner.execute_script(
            "CREATE TABLE k (a FOOTYPE) WITH ('connector' = 'kafka');"
        )


def test_window_tvf_batch_script(spark, sf_dir, tmp_path):
    """FLIP-145 windowing TVF syntax runs through the script path:
    TABLE(TUMBLE(TABLE src, DESCRIPTOR(ts), ...)) with GROUP BY
    window_start/window_end lands the same rows as the group-window
    form of the identical aggregation."""
    src = f"{tmp_path}/ev_src"
    load(spark, sf_dir, "events").limit(500).write.parquet(src)
    runner = JobRunner(spark, mode="batch")
    runner.execute_script(
        f"""
        CREATE TABLE ev (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING
        ) WITH ('connector'='filesystem', 'path'='{src}',
                'format'='parquet');
        CREATE TABLE agg_tvf (
          window_start TIMESTAMP, window_end TIMESTAMP, n BIGINT
        ) WITH ('connector'='memory');
        CREATE TABLE agg_gw (
          window_start TIMESTAMP, window_end TIMESTAMP, n BIGINT
        ) WITH ('connector'='memory');
        INSERT INTO agg_tvf
          SELECT window_start, window_end, COUNT(*) AS n
          FROM TABLE(TUMBLE(TABLE ev, DESCRIPTOR(ts),
                            INTERVAL '1' HOUR))
          GROUP BY window_start, window_end;
        INSERT INTO agg_gw
          SELECT TUMBLE_START(ts, INTERVAL '1' HOUR),
                 TUMBLE_END(ts, INTERVAL '1' HOUR), COUNT(*)
          FROM ev GROUP BY TUMBLE(ts, INTERVAL '1' HOUR);
    """
    )
    tvf = sorted(tuple(r) for r in spark.table("agg_tvf").collect())
    gw = sorted(tuple(r) for r in spark.table("agg_gw").collect())
    assert tvf == gw and len(tvf) > 0


def test_algebraic_select_classifier():
    """The incremental-agg gate's parser: bare SUM/COUNT/MIN/MAX items
    classify with their fold op; nested/derived aggregates, DISTINCT,
    and AVG reject (fall back to the in-plan join)."""
    from flink_streaming_platform_web_spark.streaming.runner import (
        _classify_agg_item,
        _split_select_list,
    )

    items = _split_select_list(
        "SELECT a, SUM(x) AS s, COUNT(*) AS n, MIN(CASE WHEN x > 0 "
        "THEN x END) AS m FROM t GROUP BY a"
    )
    assert items == [
        "a",
        "SUM(x) AS s",
        "COUNT(*) AS n",
        "MIN(CASE WHEN x > 0 THEN x END) AS m",
    ]
    assert _classify_agg_item("a") == ("key", None)
    assert _classify_agg_item("SUM(x) AS s") == ("agg", "sum")
    assert _classify_agg_item("COUNT(*) AS n") == ("agg", "sum")
    assert _classify_agg_item("MIN(x)") == ("agg", "min")
    assert _classify_agg_item("MAX(x) AS biggest") == ("agg", "max")
    # not algebraic / not a pure fold:
    assert _classify_agg_item("AVG(x) AS m") is None
    assert _classify_agg_item("SUM(a) + SUM(b) AS s") is None
    assert _classify_agg_item("1 + SUM(x) AS s") is None
    assert _classify_agg_item("SUM(DISTINCT x) AS s") is None
    # literal containing FROM must not truncate the list
    items2 = _split_select_list("SELECT 'FROM x' AS lit, b FROM t")
    assert items2 == ["'FROM x' AS lit", "b"]
    # commas inside function calls don't split
    items3 = _split_select_list("SELECT coalesce(a, b), c FROM t")
    assert items3 == ["coalesce(a, b)", "c"]


def test_combining_store_fold_semantics():
    from flink_streaming_platform_web_spark.streaming.upsert import (
        CombiningStore,
    )

    c = CombiningStore._combine
    assert c("sum", 2, 3) == 5
    assert c("sum", None, 3) == 3  # first sight of a key's column
    assert c("sum", 2, None) == 2  # all-null batch partial
    assert c("min", 5, 7) == 5 and c("min", 7, 5) == 5
    assert c("max", 5, 7) == 7 and c("max", None, None) is None
    try:
        CombiningStore(["k"], {"x": "avg"})
        raise AssertionError("avg must be rejected")
    except ValueError:
        pass


def test_window_tvf_streaming_update_mode(spark, sf_dir, tmp_path):
    """The TVF form in a STREAMING insert: grouping by the derived
    window_start/window_end columns runs as an update-mode keyed agg
    into a PK sink (the documented caveat — no watermark eviction);
    the converged result must equal the batch aggregation."""
    src = f"{tmp_path}/events_tvf_stream"
    load(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).coalesce(4).write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        CREATE TABLE clicks (
          event_type STRING, ts TIMESTAMP, value DOUBLE
        ) WITH ('connector' = 'filesystem', 'path' = '{src}',
                'format' = 'parquet',
                'source.max-files-per-trigger' = '1');
        CREATE TABLE out_tvf (
          window_start TIMESTAMP, event_type STRING, n BIGINT,
          PRIMARY KEY (window_start, event_type) NOT ENFORCED
        ) WITH ('connector' = 'memory');
        INSERT INTO out_tvf
        SELECT window_start, event_type, COUNT(*) AS n
        FROM TABLE(TUMBLE(TABLE clicks, DESCRIPTOR(ts),
                          INTERVAL '1' HOUR))
        GROUP BY window_start, event_type;
        """
    )
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in runner.upsert_stores["out_tvf"].to_df(spark).collect()
    }
    expected = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.sql(
            "SELECT window(ts, '1 hour').start AS ws, event_type, "
            "COUNT(*) AS n FROM parquet.`{}` GROUP BY 1, 2".format(src)
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_create_view_if_not_exists(spark):
    """Valid Flink DDL: the first CREATE VIEW IF NOT EXISTS creates,
    the second silently keeps the existing view (Spark can't combine
    OR REPLACE/temp views with IF NOT EXISTS — previously crashed)."""
    runner = JobRunner(spark, mode="batch")
    r = runner.execute_script(
        """
        CREATE VIEW IF NOT EXISTS v_ine AS SELECT 1 AS a;
        CREATE VIEW IF NOT EXISTS v_ine AS SELECT 2 AS a;
        SELECT a FROM v_ine;
        """
    )
    assert r.select_results[0].collect()[0]["a"] == 1


def test_streaming_insert_overwrite_rejected(spark, sf_dir, tmp_path):
    """Flink rejects INSERT OVERWRITE for streaming queries; so do we
    (the alternatives were silent append or keep-last-batch-only)."""
    src = f"{tmp_path}/ow_src"
    load(spark, sf_dir, "events").limit(10).write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    with pytest.raises(ValueError, match="cannot overwrite"):
        runner.execute_script(
            f"""
            CREATE TABLE s (event_id BIGINT, ts TIMESTAMP,
              user_id BIGINT, event_type STRING, value DOUBLE,
              props STRING)
              WITH ('connector'='filesystem', 'path'='{src}',
                    'format'='parquet');
            CREATE TABLE out_ow (event_id BIGINT)
              WITH ('connector'='filesystem',
                    'path'='{tmp_path}/ow_out', 'format'='parquet');
            INSERT OVERWRITE out_ow SELECT event_id FROM s;
            """
        )


def test_read_once_memory_sink_accumulates_batches(spark, tmp_path):
    """Memory sinks in the read-once fan-out must keep EVERY
    micro-batch's rows (replacing the view per batch silently kept
    only the last one)."""
    src = f"{tmp_path}/acc_src"
    spark.createDataFrame([(1,), (2,)], "k BIGINT").repartition(
        2
    ).write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        SET graft.statement-set.read-once = 'true';
        CREATE TABLE s (k BIGINT) WITH ('connector'='filesystem',
          'path'='{src}', 'format'='parquet',
          'source.max-files-per-trigger'='1');
        CREATE TABLE m_acc (k BIGINT) WITH ('connector'='memory');
        BEGIN STATEMENT SET;
        INSERT INTO m_acc SELECT k FROM s;
        END;
        """
    )
    for q in result.streaming_queries:
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
    got = sorted(r["k"] for r in spark.table("m_acc").collect())
    assert got == [1, 2], got


def test_memory_sink_row_cap_overflows_loudly(spark, tmp_path):
    """VERDICT r8 item 5: memory is a driver-resident DEBUG sink — a
    stream bigger than `graft.memory-sink.max-rows` must raise a loud
    error instead of silently OOMing the driver."""
    import pytest

    src = f"{tmp_path}/cap_src"
    spark.createDataFrame(
        [(i,) for i in range(10)], "k BIGINT"
    ).write.parquet(src)
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        SET graft.statement-set.read-once = 'true';
        SET graft.memory-sink.max-rows = '5';
        CREATE TABLE s_cap (k BIGINT) WITH ('connector'='filesystem',
          'path'='{src}', 'format'='parquet');
        CREATE TABLE m_cap (k BIGINT) WITH ('connector'='memory');
        CREATE TABLE m_cap2 (k BIGINT) WITH ('connector'='memory');
        BEGIN STATEMENT SET;
        INSERT INTO m_cap SELECT k FROM s_cap;
        INSERT INTO m_cap2 SELECT k FROM s_cap WHERE k < 3;
        END;
        """
    )
    with pytest.raises(Exception, match="memory-sink.max-rows"):
        for q in result.streaming_queries:
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(60)
            if (e := q.exception()) is not None:
                raise e


_FRAME_SINKS = {
    "fs_partitioned": "PARTITIONED BY (user_id) WITH ("
    "'connector'='filesystem', 'path'='{path}', 'format'='parquet')",
    "memory": "WITH ('connector'='memory')",
    "blackhole": "WITH ('connector'='blackhole')",
    "pk_memory": "WITH ('connector'='memory')",
}


@pytest.mark.parametrize("kind", list(_FRAME_SINKS))
@pytest.mark.parametrize("route", ["fanout", "replan"])
def test_frame_sink_arms_converge(spark, tmp_path, route, kind):
    """The two per-micro-batch foreachBatch routes — the read-once
    statement-set fan-out and the TTL lookup re-plan — write each
    frame through the same per-connector arms. Every arm the routes
    admit converges to the batch SQL result over the same rows."""
    tag = f"{route}_{kind}"
    src = f"{tmp_path}/src"
    dim = f"{tmp_path}/dim"
    rows = [(i, i % 3) for i in range(12)]
    spark.createDataFrame(
        [(0, 100), (1, 101)], "id BIGINT, coupon BIGINT"
    ).write.parquet(dim)
    for part in (rows[:6], rows[6:]):
        spark.createDataFrame(
            part, "event_id BIGINT, user_id BIGINT"
        ).coalesce(1).write.mode("append").parquet(src)
    pk = ", PRIMARY KEY (event_id) NOT ENFORCED" if kind == "pk_memory" else ""
    names = [f"fa_{tag}", f"fb_{tag}"] if route == "fanout" else [f"r_{tag}"]
    ddl = "".join(
        f"CREATE TABLE {n} (event_id BIGINT, user_id BIGINT,"
        f" coupon BIGINT{pk}) "
        + _FRAME_SINKS[kind].format(path=f"{tmp_path}/{n}")
        + ";\n"
        for n in names
    )
    if route == "fanout":
        # two stateless INSERTs over one stream: the read-once fan-out
        wheres = ["user_id = 1", "user_id <> 1"]
        inserts = "".join(
            f"INSERT INTO {n} SELECT event_id, user_id,"
            f" event_id * 10 AS coupon FROM ev_{tag} WHERE {w};\n"
            for n, w in zip(names, wheres)
        )
        script = (
            "SET graft.statement-set.read-once = 'true';\n"
            + ddl
            + f"BEGIN STATEMENT SET;\n{inserts}END;"
        )
        batch_sql = [
            f"SELECT event_id, user_id, event_id * 10 AS coupon"
            f" FROM b_src WHERE {w}"
            for w in wheres
        ]
    else:
        # a stateless enrichment against a TTL-cached lookup dim: the
        # per-micro-batch re-plan
        script = ddl + (
            f"CREATE TABLE dim_{tag} (id BIGINT, coupon BIGINT) WITH"
            f" ('connector'='filesystem', 'path'='{dim}',"
            f" 'format'='parquet', 'lookup.cache.ttl'='1h');\n"
            f"INSERT INTO {names[0]} SELECT ev.event_id, ev.user_id,"
            f" d.coupon FROM ev_{tag} AS ev LEFT JOIN dim_{tag}"
            f" FOR SYSTEM_TIME AS OF ev.proctime AS d"
            f" ON d.id = ev.user_id;"
        )
        batch_sql = [
            "SELECT e.event_id, e.user_id, d.coupon FROM b_src e"
            " LEFT JOIN b_dim d ON d.id = e.user_id"
        ]
    runner = JobRunner(spark, mode="streaming")
    result = runner.execute_script(
        f"""
        CREATE TABLE ev_{tag} (event_id BIGINT, user_id BIGINT,
          proctime AS PROCTIME()) WITH ('connector'='filesystem',
          'path'='{src}', 'format'='parquet',
          'source.max-files-per-trigger'='1');
        """
        + script
    )
    (q,) = result.streaming_queries
    try:
        q.processAllAvailable()
        assert q.lastProgress["sink"]["description"] == "ForeachBatchSink"
        # every INSERT reads the same micro-batch: the source is
        # scanned once per batch, not once per INSERT
        assert sum(p["numInputRows"] for p in q.recentProgress) == len(rows)
    finally:
        for c in runner.dim_caches.values():
            c.release()
        q.stop()
        q.awaitTermination(60)
    assert q.exception() is None
    spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT"
    ).createOrReplaceTempView("b_src")
    spark.read.parquet(dim).createOrReplaceTempView("b_dim")
    if kind == "blackhole":
        return
    cols = ["event_id", "user_id", "coupon"]
    for n, sql in zip(names, batch_sql):
        want = sorted(tuple(r) for r in spark.sql(sql).collect())
        if kind == "fs_partitioned":
            got = spark.read.parquet(f"{tmp_path}/{n}")
            assert {f"user_id={r[1]}" for r in want} <= {
                p.name for p in (tmp_path / n).iterdir()
            }
        elif kind == "pk_memory":
            got = runner.upsert_stores[n].to_df(spark)
        else:
            got = spark.table(n)
        assert sorted(tuple(r) for r in got.select(*cols).collect()) == want


def _fanout_script(tag, src, sinks):
    """A read-once fan-out of two INSERTs over stream ``src``: ``k``
    below 3 into ``sinks[0]``, the rest into ``sinks[1]``, both
    parquet file sinks."""
    ddl = "".join(
        f"CREATE TABLE {n}_{tag} (k BIGINT) WITH ('connector'="
        f"'filesystem', 'path'='{p}', 'format'='parquet');\n"
        for n, p in zip(("lo", "hi"), sinks)
    )
    return (
        "SET graft.statement-set.read-once = 'true';\n"
        f"CREATE TABLE ev_{tag} (k BIGINT) WITH ('connector'="
        f"'filesystem', 'path'='{src}', 'format'='parquet',"
        " 'source.max-files-per-trigger'='1');\n"
        + ddl
        + "BEGIN STATEMENT SET;\n"
        f"INSERT INTO lo_{tag} SELECT k FROM ev_{tag} WHERE k < 3;\n"
        f"INSERT INTO hi_{tag} SELECT k FROM ev_{tag} WHERE k >= 3;\n"
        "END;"
    )


def _stage_parquet(spark, path, parts):
    for part in parts:
        spark.createDataFrame(
            [(k,) for k in part], "k BIGINT"
        ).coalesce(1).write.mode("append").parquet(path)


def test_fanout_retried_batch_writes_its_frames_once(spark, tmp_path):
    """A checkpointed fan-out that dies after writing a micro-batch's
    frames but before committing it replays that batch under the same
    epoch id on restart. The file sinks log each frame under that id,
    so the replay writes nothing and every row is held once."""
    src = f"{tmp_path}/src"
    sinks = [f"{tmp_path}/lo", f"{tmp_path}/hi"]
    _stage_parquet(spark, src, [range(0, 6), range(6, 12)])
    ckpt = CheckPointParam(checkpoint_dir=f"{tmp_path}/ckpt")
    script = _fanout_script("rt", src, sinks)
    _wait_all(JobRunner(spark, checkpoint=ckpt).execute_script(script))
    # the crash: the last batch's frames are written, its commit is not
    commits = f"{tmp_path}/ckpt/fanout_ev_rt/commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(f"{commits}/{last}")
    _wait_all(JobRunner(spark, checkpoint=ckpt).execute_script(script))
    assert os.path.exists(f"{commits}/{last}")
    got = [sorted(r.k for r in spark.read.parquet(p).collect()) for p in sinks]
    assert got == [[0, 1, 2], list(range(3, 12))]
    for p in sinks:
        logged = {f for f in os.listdir(f"{p}/_spark_metadata") if f.isdigit()}
        assert logged == {str(b) for b in range(last + 1)}


def test_uncheckpointed_fanout_rerun_appends(spark, tmp_path):
    """A fan-out with no checkpoint restarts at epoch 0. A rerun over
    sinks that already hold a run's rows numbers its batches after the
    ones their logs hold, so it appends its rows again (as a plain
    append did) instead of reading as a replay of the first run."""
    src = f"{tmp_path}/src"
    sinks = [f"{tmp_path}/lo", f"{tmp_path}/hi"]
    _stage_parquet(spark, src, [range(0, 6)])
    script = _fanout_script("rr", src, sinks)
    for _ in range(2):
        _wait_all(JobRunner(spark).execute_script(script))
    got = [sorted(r.k for r in spark.read.parquet(p).collect()) for p in sinks]
    assert got == [[0, 0, 1, 1, 2, 2], sorted(list(range(3, 6)) * 2)]


def test_batch_insert_joins_a_streamed_sink_log(spark, tmp_path):
    """A streaming INSERT leaves its file sink with a ``_spark_metadata``
    log, which every Spark reader trusts over the directory listing. A
    later batch INSERT INTO the same sink appends through that log, so
    a read returns the streamed rows and the batch rows."""
    src, snk = f"{tmp_path}/src", f"{tmp_path}/snk"
    _stage_parquet(spark, src, [range(0, 4)])
    ddl = (
        f"CREATE TABLE ev_bj (k BIGINT) WITH ('connector'='filesystem',"
        f" 'path'='{src}', 'format'='parquet');\n"
        f"CREATE TABLE snk_bj (k BIGINT) WITH ('connector'='filesystem',"
        f" 'path'='{snk}', 'format'='parquet');\n"
    )
    ckpt = CheckPointParam(checkpoint_dir=f"{tmp_path}/ckpt")
    _wait_all(
        JobRunner(spark, checkpoint=ckpt).execute_script(
            ddl + "INSERT INTO snk_bj SELECT k FROM ev_bj;"
        )
    )
    assert os.path.isdir(f"{snk}/_spark_metadata")
    JobRunner(spark, mode="batch").execute_script(
        ddl + "INSERT INTO snk_bj SELECT k + 10 AS k FROM ev_bj;"
    )
    got = sorted(r.k for r in spark.read.parquet(snk).collect())
    assert got == [0, 1, 2, 3, 10, 11, 12, 13]


def test_fanout_inserts_into_one_file_sink_keep_every_row(spark, tmp_path):
    """Two INSERTs of a fan-out into the same file sink share its log,
    so each micro-batch commits both frames under one batch id: the
    second frame is not taken for a retry of the first."""
    src, snk = f"{tmp_path}/src", f"{tmp_path}/snk"
    _stage_parquet(spark, src, [range(0, 6), range(6, 12)])
    script = _fanout_script("one", src, [snk, snk]).replace(
        "INSERT INTO hi_one", "INSERT INTO lo_one"
    )
    _wait_all(JobRunner(spark).execute_script(script))
    got = sorted(r.k for r in spark.read.parquet(snk).collect())
    assert got == list(range(12))
