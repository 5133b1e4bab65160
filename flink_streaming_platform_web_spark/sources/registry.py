"""Connector registry: ``TableDef`` → Spark readers/writers.

Implements the reference's connector surface (SURVEY §2.2):

| reference connector | here |
|---|---|
| datagen (demo_datagen.md)        | rate source / bounded range |
| print (README hello-world)       | console sink |
| blackhole                        | noop sink |
| filesystem (+parquet/csv/json)   | spark.read / readStream on path |
| kafka (demo_1.md)                | spark kafka source/sink + JSON codec |
| upsert-kafka                     | kafka + PK upsert semantics |
| jdbc (demo_1.md sink, demo_3.md lookup) | spark.read.jdbc / foreachBatch upsert |
| mysql-cdc (demo_6.md)            | debezium-JSON / canal-JSON over kafka/file → streaming.cdc |
| memory (ours, tests)             | memory sink / temp view |

Kafka needs a broker + the spark-sql-kafka jar that this container
lacks; its option-mapping is pure and unit-tested, and `.load()`
raises ``ConnectorUnavailable`` with a clear message when the
underlying package is absent. JDBC is LIVE: Spark ships the embedded
Derby driver, so reads, lookup dims, and the PK upsert sink
(stage-table bulk write + one server-side MERGE) run end-to-end in
tests (tests/test_jdbc_live.py); external databases only need their
driver jar on spark.jars.

Computed columns and watermarks from the DDL are applied uniformly in
``apply_schema_decorations`` — matching Flink's behavior where both
are properties of the source table, not of queries.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_platform_web_spark.functions.flink_compat import (
    translate_expr,
)
from flink_streaming_platform_web_spark.sources.ddl import TableDef


class ConnectorUnavailable(RuntimeError):
    pass


# --------------------------------------------------------------------------
# Connector plugins — the reference's custom-jar extension surface
# (`-C <http-url>` classpath append, CommandUtil.java:42-47 + the
# per-job ext_jar_path column, docs/sql/flink_web.sql:60) re-expressed
# for Spark: JVM connectors ride spark.jars (platform/submit.py), and
# Python connectors register here so any DDL with their connector name
# dispatches to them — same pluggability, no engine edits.
# --------------------------------------------------------------------------


@dataclass
class ConnectorPlugin:
    """A user-supplied connector. Any hook may be None (a pure sink
    defines neither source hook, etc.):

    - source_batch(spark, table)  -> DataFrame
    - source_stream(spark, table) -> streaming DataFrame
    - sink_batch(df, table, overwrite) -> None (executes the write)
    - sink_stream(df, table) -> DataStreamWriter (runner adds
      checkpoint/trigger and calls .start())
    """

    name: str
    source_batch: object | None = None
    source_stream: object | None = None
    sink_batch: object | None = None
    sink_stream: object | None = None


_PLUGINS: dict[str, ConnectorPlugin] = {}


def register_connector(plugin: ConnectorPlugin) -> None:
    _PLUGINS[plugin.name] = plugin


def unregister_connector(name: str) -> None:
    _PLUGINS.pop(name, None)


def get_plugin(name: str) -> ConnectorPlugin | None:
    return _PLUGINS.get(name)


def load_plugin_module(spec: str) -> None:
    """Import-time registration: ``pkg.module`` imports the module
    (whose top level calls register_connector), ``pkg.module:fn``
    additionally calls ``fn()``. This is the runner's analog of the
    reference downloading a jar named in the job config and appending
    it to the classpath before launch."""
    import importlib

    mod_name, _, fn_name = spec.partition(":")
    mod = importlib.import_module(mod_name)
    if fn_name:
        getattr(mod, fn_name)()


def apply_schema_decorations(df: DataFrame, table: TableDef) -> DataFrame:
    """Computed columns (`name AS expr`) + event-time watermark —
    applied at source-registration time, as in Flink DDL."""
    for col in table.columns:
        if col.computed_expr is not None:
            df = df.withColumn(col.name, F.expr(translate_expr(col.computed_expr)))
    if table.watermark is not None and df.isStreaming:
        if not table.watermark.delay:
            raise ValueError(
                f"unsupported watermark expr: {table.watermark.expr!r}"
            )
        df = df.withWatermark(table.watermark.column, table.watermark.delay)
    return df


# --------------------------------------------------------------------------
# datagen — demo_datagen.md §2.1: per-field kind=sequence|random with
# bounds, rows-per-second, number-of-rows.
# --------------------------------------------------------------------------


def _datagen_field(table: TableDef, name: str, spark_type: str) -> F.Column:
    o = table.options
    kind = o.get(f"fields.{name}.kind", "random")
    if kind == "sequence":
        start = int(o.get(f"fields.{name}.start", 1))
        end = int(o.get(f"fields.{name}.end", 1 << 30))
        span = max(end - start + 1, 1)
        return (F.lit(start) + F.col("__seq") % span).cast(spark_type)
    if spark_type.upper() == "STRING":
        length = int(o.get(f"fields.{name}.length", 10))
        return F.substring(
            F.md5(F.concat_ws("-", F.lit(name), F.col("__seq"))), 1, length
        )
    fmin = float(o.get(f"fields.{name}.min", 0))
    fmax = float(o.get(f"fields.{name}.max", 1000))
    # deterministic pseudo-random from the sequence (seeded, replayable)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.lit(name), F.col("__seq"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / float(0xFFFFFFFF)
    )
    return (F.lit(fmin) + u * (fmax - fmin)).cast(spark_type)


def _datagen_sequence_span(table: TableDef) -> int | None:
    """Rows until the tightest bounded sequence field is exhausted —
    demo_datagen.md: 'if any field is sequence-generated (bounded),
    the program exits when the sequence ends'."""
    spans = []
    for c in table.columns:
        if table.options.get(f"fields.{c.name}.kind") == "sequence":
            start = int(table.options.get(f"fields.{c.name}.start", 1))
            end = int(
                table.options.get(f"fields.{c.name}.end", 1 << 30)
            )
            spans.append(max(end - start + 1, 1))
    return min(spans) if spans else None


def datagen_stream(spark: SparkSession, table: TableDef) -> DataFrame:
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", table.options.get("rows-per-second", "5"))
        .load()
        .withColumnRenamed("value", "__seq")
    )
    span = _datagen_sequence_span(table)
    if span is not None:
        # bounded sequence: emit exactly the span, then idle (a rate
        # stream can't self-terminate; Flink exits — closest parity
        # without fabricating extra rows)
        rate = rate.where(F.col("__seq") < span)
    cols = [
        _datagen_field(table, c.name, c.spark_type).alias(c.name)
        for c in table.columns
        if c.spark_type is not None and c.computed_expr is None
    ]
    return apply_schema_decorations(rate.select(*cols), table)


def datagen_batch(spark: SparkSession, table: TableDef) -> DataFrame:
    n = int(table.options.get("number-of-rows", 1000))
    span = _datagen_sequence_span(table)
    if span is not None:
        # the bounded sequence ends the job (demo_datagen.md); an
        # explicit number-of-rows can only shorten it further
        n = span if "number-of-rows" not in table.options else min(n, span)
    base = spark.range(n).withColumnRenamed("id", "__seq")
    cols = [
        _datagen_field(table, c.name, c.spark_type).alias(c.name)
        for c in table.columns
        if c.spark_type is not None and c.computed_expr is None
    ]
    return apply_schema_decorations(base.select(*cols), table)


# --------------------------------------------------------------------------
# filesystem — path + format; batch and streaming both directions.
# --------------------------------------------------------------------------


_AVRO_PROVIDER = "org.apache.spark.sql.avro.AvroFileFormat"


def resolve_fs_format(spark: SparkSession, fmt: str) -> str:
    """Map a Flink format name to the Spark provider to use. Avro is
    the special case: the 'avro' SHORT name is only registered by the
    external spark-avro artifact's service file, but the pyspark
    assembly carries the implementation classes themselves — when the
    provider class loads, route through its full class name (LIVE
    avro read/write with no extra jar); when it genuinely is not on
    the classpath, fail LOUDLY at plan-build time instead of Spark's
    generic first-action 'failed to find data source' (the kafka
    broker jar's ConnectorUnavailable contract)."""
    if fmt != "avro":
        return fmt
    try:
        spark._jvm.java.lang.Class.forName(_AVRO_PROVIDER)
        return _AVRO_PROVIDER
    except Exception:
        raise ConnectorUnavailable(
            "format 'avro' needs the spark-avro module"
            " (external since Spark 2.4) on the classpath —"
            " submit with --packages org.apache.spark:"
            "spark-avro_2.13:<spark-version>"
        ) from None


def filesystem_batch(spark: SparkSession, table: TableDef) -> DataFrame:
    fmt = resolve_fs_format(
        spark, table.options.get("format", "parquet")
    )
    reader = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        reader = reader.schema(table.schema_ddl())
        if table.options.get("csv.include-header", "false") == "true":
            reader = reader.option("header", "true")
    df = reader.load(table.options["path"])
    return apply_schema_decorations(df, table)


def filesystem_stream(spark: SparkSession, table: TableDef) -> DataFrame:
    fmt = resolve_fs_format(
        spark, table.options.get("format", "parquet")
    )
    reader = (
        spark.readStream.format(fmt)
        .schema(table.schema_ddl())
        .option(
            "maxFilesPerTrigger",
            table.options.get("source.max-files-per-trigger", "10"),
        )
    )
    # same header handling as the batch reader — without it a
    # streaming CSV source ingests the header row as a (null-filled)
    # data row into every downstream aggregate
    if (
        fmt == "csv"
        and table.options.get("csv.include-header", "false") == "true"
    ):
        reader = reader.option("header", "true")
    df = reader.load(table.options["path"])
    return apply_schema_decorations(df, table)


# --------------------------------------------------------------------------
# kafka — option mapping is pure (unit-testable without a broker).
# --------------------------------------------------------------------------


def kafka_reader_options(table: TableDef) -> dict[str, str]:
    o = table.options
    opts = {
        "kafka.bootstrap.servers": o.get("properties.bootstrap.servers", ""),
        "subscribe": o.get("topic", ""),
    }
    startup = o.get("scan.startup.mode", "group-offsets")
    if startup == "timestamp":
        # Spark supports timestamp-based starting positions directly;
        # mapping this to 'latest' would silently skip every record
        # between the requested timestamp and job start
        millis = o.get("scan.startup.timestamp-millis")
        if not millis:
            raise ValueError(
                "scan.startup.mode='timestamp' requires "
                "'scan.startup.timestamp-millis'"
            )
        opts["startingTimestamp"] = millis
    else:
        opts["startingOffsets"] = {
            "earliest-offset": "earliest",
            "latest-offset": "latest",
            "group-offsets": "latest",
        }.get(startup, "latest")
    if o.get("properties.group.id"):
        opts["kafka.group.id"] = o["properties.group.id"]
    return opts


def _file_kafka_options(table: TableDef, path: str) -> dict[str, str]:
    """kafka_reader_options re-targeted at the file transport: same
    startup-mode mapping, the broker address becomes the path."""
    opts = kafka_reader_options(table)
    out = {"path": path, "subscribe": opts["subscribe"]}
    if "startingTimestamp" in opts:
        out["startingTimestamp"] = opts["startingTimestamp"]
    else:
        out["startingOffsets"] = opts["startingOffsets"]
    return out


def kafka_jar_available(spark: SparkSession) -> bool:
    """True when spark-sql-kafka is on the JVM classpath — the moment
    a deployment ships the jar (``spark.jars.packages=
    org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>`` or a
    vendored jar in $SPARK_HOME/jars), every ``host:port`` bootstrap
    routes through the real ``format("kafka")`` with the SAME option
    mapping the file transport exercises (kafka_reader_options).
    tests/test_kafka_file.py carries the skip-unless-jar e2e that
    lights up automatically."""
    try:
        spark._sc._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_stream(spark: SparkSession, table: TableDef) -> DataFrame:
    from flink_streaming_platform_web_spark.sources import kafka_file

    path = kafka_file.broker_path(table.options)
    if path:
        # file:// bootstrap servers → the Python-Data-Source transport
        # (kafka_file.py): the REAL readStream path — offsets,
        # partitions, codecs — without a JVM broker in the container
        kafka_file.ensure_registered(spark)
        reader = spark.readStream.format("graft-kafka")
        for k, v in _file_kafka_options(table, path).items():
            reader = reader.option(k, v)
        raw = reader.load()
        return apply_schema_decorations(_kafka_decode(raw, table), table)
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(table).items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:  # kafka package not on classpath here
        raise ConnectorUnavailable(
            "kafka connector requires spark-sql-kafka on the classpath "
            "(spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
        ) from e
    return apply_schema_decorations(_kafka_decode(raw, table), table)


def _kafka_decode(raw: DataFrame, table: TableDef) -> DataFrame:
    """Shared value-decode for kafka stream AND batch reads — the
    declared 'format' governs both (a debezium-json table read in a
    batch job must not be silently parsed as plain JSON)."""
    fmt = table.options.get("format", "json")
    if fmt == "json":
        # lenient JSON decode — the reference sets
        # 'json.ignore-parse-errors'='true' in every demo DDL
        # (demo_1.md): PERMISSIVE from_json yields nulls on bad rows
        return raw.select(
            F.from_json(
                F.col("value").cast("string"), table.schema_ddl()
            ).alias("v")
        ).select("v.*")
    if fmt in ("debezium-json", "canal-json", "maxwell-json"):
        from flink_streaming_platform_web_spark.streaming import cdc

        decode = {
            "debezium-json": cdc.decode_debezium,
            "canal-json": cdc.decode_canal,
            "maxwell-json": cdc.decode_maxwell,
        }[fmt]
        return decode(
            raw.select(F.col("value").cast("string").alias("value")),
            table.schema_ddl(),
        )
    if fmt == "raw":
        # Flink's raw format (docs: formats/raw): the record value
        # passes through as-is into the table's SINGLE physical
        # column — BYTES keeps the bytes, STRING/numeric casts
        phys = [c for c in table.columns if c.spark_type]
        if len(phys) != 1:
            raise ValueError(
                "format 'raw' requires exactly one physical column,"
                f" got {[c.name for c in phys]}"
            )
        col = phys[0]
        return raw.select(
            F.col("value").cast(col.spark_type).alias(col.name)
        )
    raise ValueError(f"unsupported kafka format: {fmt!r}")


def cdc_changelog_stream(spark: SparkSession, table: TableDef) -> DataFrame:
    """mysql-cdc source (demo_6.md §2.1.2) as a decoded debezium
    changelog stream. The reference embeds a binlog client; this
    container has no MySQL, so the binlog feed arrives as
    debezium-JSON lines from a file/directory supplied via
    `'graft.changelog-path'` (the same envelope a debezium→kafka
    deployment would carry — swap this source for kafka_stream with
    'format'='debezium-json' there). Declaring mysql-cdc without a
    changelog path raises instead of silently producing nothing."""
    from flink_streaming_platform_web_spark.streaming import cdc

    decode_debezium = {
        "canal-json": cdc.decode_canal,
        "maxwell-json": cdc.decode_maxwell,
    }.get(table.options.get("format"), cdc.decode_debezium)
    path = table.options.get("graft.changelog-path")
    if not path:
        raise ConnectorUnavailable(
            "mysql-cdc needs a binlog client (none in this container);"
            " supply 'graft.changelog-path' with debezium-JSON (or"
            " canal-JSON, 'format'='canal-json') lines, or route the"
            " feed through kafka with the matching 'format'"
        )
    raw = (
        spark.readStream.format("text")
        .option(
            "maxFilesPerTrigger",
            table.options.get("source.max-files-per-trigger", "10"),
        )
        .load(path)
    )
    return decode_debezium(raw.select("value"), table.schema_ddl())


def cdc_changelog_batch(spark: SparkSession, table: TableDef) -> DataFrame:
    """Bounded mysql-cdc read: the decoded changelog of everything in
    the feed so far (a batch job then materializes its final state)."""
    from flink_streaming_platform_web_spark.streaming import cdc

    decode_debezium = {
        "canal-json": cdc.decode_canal,
        "maxwell-json": cdc.decode_maxwell,
    }.get(table.options.get("format"), cdc.decode_debezium)

    path = table.options.get("graft.changelog-path")
    if not path:
        raise ConnectorUnavailable(
            "mysql-cdc needs a binlog client (none in this container);"
            " supply 'graft.changelog-path' with debezium-JSON lines"
        )
    raw = spark.read.format("text").load(path)
    return decode_debezium(raw.select("value"), table.schema_ddl())


def kafka_batch(spark: SparkSession, table: TableDef) -> DataFrame:
    """Bounded kafka read for batch jobs (spark.read.format('kafka'),
    earliest→latest) — a kafka table in a `-type 2` script is a
    bounded scan, NOT a stream quietly recorded as one (ADVICE r01:
    the silent stream-as-batch path broke the batch write downstream)."""
    from flink_streaming_platform_web_spark.sources import kafka_file

    path = kafka_file.broker_path(table.options)
    if path:
        kafka_file.ensure_registered(spark)
        reader = spark.read.format("graft-kafka")
        fopts = _file_kafka_options(table, path)
        fopts.pop("startingOffsets", None)  # batch = earliest→latest
        for k, v in fopts.items():
            reader = reader.option(k, v)
        raw = reader.load()
        return apply_schema_decorations(_kafka_decode(raw, table), table)
    reader = spark.read.format("kafka")
    opts = kafka_reader_options(table)
    opts["startingOffsets"] = "earliest"
    opts["endingOffsets"] = "latest"
    for k, v in opts.items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:
        raise ConnectorUnavailable(
            "kafka connector requires spark-sql-kafka on the classpath "
            "(spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
        ) from e
    return apply_schema_decorations(_kafka_decode(raw, table), table)


def kafka_payload(df: DataFrame, table: TableDef) -> DataFrame:
    """Record layout for the kafka sink (pure — unit-testable on a
    batch frame). For upsert-kafka (always PK-declared in Flink) the
    PRIMARY KEY columns serialize into the record key — Kafka log
    compaction on that key is what gives the connector its upsert
    semantics, so dropping the key (or diverting to an in-process
    store — ADVICE r01) would break the contract.

    `'format' = 'debezium-json'` (demo_6.md §2.2.1 kafka_gmv) emits
    the changelog ENVELOPE instead of the bare row — each update-mode
    row becomes {"before": null, "after": row, "op": "u", "ts_ms": 0}
    so a downstream debezium-json reader (including this repo's own
    kafka_stream decode) can re-apply the changelog. Spark's
    update-mode writer surfaces upserts only (retractions route
    through PK sinks), so op is always "u" — the reader's apply treats
    c/u/r identically, making this lossless for the upsert stream.
    ts_ms is fixed at 0: kafka's own log order is the apply order, and
    a wall-clock stamp would break replay determinism."""
    if table.options.get("format") == "debezium-json":
        null_row = F.lit(None).cast(
            df.select(F.struct(*df.columns).alias("s")).schema["s"].dataType
        )
        value = F.to_json(
            F.struct(
                null_row.alias("before"),
                F.struct(*df.columns).alias("after"),
                F.lit("u").alias("op"),
                F.lit(0).cast("bigint").alias("ts_ms"),
            ),
            {"ignoreNullFields": "false"},  # "before": null must appear
        ).alias("value")
    else:
        value = F.to_json(F.struct(*df.columns)).alias("value")
    cols = [value]
    if table.primary_key:
        cols.insert(
            0,
            F.to_json(F.struct(*table.primary_key)).alias("key"),
        )
    return df.select(*cols)


def kafka_writer(df: DataFrame, table: TableDef):
    """Kafka / upsert-kafka stream sink (see kafka_payload). A
    PK-declared (upsert-kafka) sink runs in UPDATE output mode — the
    whole point is emitting changed keys per micro-batch for log
    compaction; the default append mode would reject streaming
    aggregations outright (es_writer/jdbc_upsert_writer set the same
    mode)."""
    from flink_streaming_platform_web_spark.sources import kafka_file

    mode = "update" if table.primary_key else "append"
    path = kafka_file.broker_path(table.options)
    if path:
        import uuid

        kafka_file.ensure_registered(df.sparkSession)
        topic = table.options.get("topic", "")
        payload = kafka_payload(df, table)
        if mode == "update":
            # Python v2 sinks reject Update mode (the JVM kafka sink
            # accepts it via SupportsStreamingUpdateAsAppend);
            # publish per-batch changed keys through the same staged
            # writer — commit keeps the per-writer epoch ledger, so
            # replays stay idempotent
            w = kafka_file._StreamWriter(
                {"path": path, "topic": topic}, uuid.uuid4().hex[:12]
            )

            def publish(batch: DataFrame, epoch_id: int) -> None:
                rows = batch.toLocalIterator()
                w.commit([w.write(rows)], epoch_id)

            return payload.writeStream.outputMode("update").foreachBatch(
                publish
            )
        return (
            payload.writeStream.outputMode("append")
            .format("graft-kafka")
            .option("path", path)
            .option("topic", topic)
        )
    return (
        kafka_payload(df, table).writeStream.outputMode(mode).format("kafka")
        .option(
            "kafka.bootstrap.servers",
            table.options.get("properties.bootstrap.servers", ""),
        )
        .option("topic", table.options.get("topic", ""))
    )


def kafka_sink_needs_checkpoint(table: TableDef) -> bool:
    """Whether kafka_writer's sink for ``table`` is the file broker's
    append sink: a python v2 sink, which Spark starts only with a
    checkpoint location."""
    from flink_streaming_platform_web_spark.sources import kafka_file

    return not table.primary_key and bool(
        kafka_file.broker_path(table.options)
    )


# --------------------------------------------------------------------------
# jdbc — reader config + upsert-SQL generation are pure; execution
# needs a driver jar (absent here).
# --------------------------------------------------------------------------


def jdbc_reader_options(table: TableDef) -> dict[str, str]:
    o = table.options
    opts = {
        "url": o.get("url", ""),
        "dbtable": o.get("table-name", table.name),
    }
    for src, dst in (("username", "user"), ("password", "password"),
                     ("driver", "driver")):
        if o.get(src):
            opts[dst] = o[src]
    return opts


def jdbc_batch(spark: SparkSession, table: TableDef) -> DataFrame:
    reader = spark.read.format("jdbc")
    for k, v in jdbc_reader_options(table).items():
        reader = reader.option(k, v)
    try:
        df = reader.load()
    except Exception as e:
        raise ConnectorUnavailable(
            "jdbc connector requires the database driver jar on the "
            "classpath (spark.jars)"
        ) from e
    return apply_schema_decorations(df, table)


def jdbc_connect(spark: SparkSession, options: dict[str, str]):
    """Driver-side JDBC connection via the JVM's DriverManager (used
    only for per-batch MERGE statements and availability probes — the
    bulk row traffic goes through executor-parallel ``df.write.jdbc``,
    never through this connection)."""
    jvm = spark._jvm
    if options.get("driver"):
        jvm.java.lang.Class.forName(options["driver"])
    return jvm.java.sql.DriverManager.getConnection(
        options["url"], options.get("user", ""), options.get("password", "")
    )


def jdbc_execute(
    spark: SparkSession, options: dict[str, str], *statements: str
) -> None:
    conn = jdbc_connect(spark, options)
    try:
        st = conn.createStatement()
        try:
            for sql in statements:
                st.execute(sql)
        finally:
            st.close()
    finally:
        conn.close()


def jdbc_probe(spark: SparkSession, options: dict[str, str]) -> None:
    """Raise ConnectorUnavailable unless the url is reachable with a
    driver on the classpath — fail at sink REGISTRATION, not first
    micro-batch (ADVICE r01: never silently divert a declared external
    sink)."""
    try:
        jdbc_connect(spark, options).close()
    except Exception as e:
        raise ConnectorUnavailable(
            f"jdbc target {options.get('url')!r} unreachable (driver jar "
            "on spark.jars? database up?)"
        ) from e


def build_merge_sql(
    target: str,
    stage: str,
    columns: list[str],
    primary_key: list[str],
    quote: str = '"',
) -> str:
    """ANSI MERGE from a staged delta table — the scale-safe upsert
    shape: executors bulk-write the micro-batch into ``stage`` in
    parallel, then the database applies ONE set-oriented MERGE.
    Identifiers are quoted to match Spark's JdbcDialect-quoted column
    names in CREATE TABLE."""

    def q(c: str) -> str:
        return f"{quote}{c}{quote}"

    on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in primary_key)
    sets = ", ".join(
        f"{q(c)} = s.{q(c)}" for c in columns if c not in primary_key
    )
    cols = ", ".join(q(c) for c in columns)
    vals = ", ".join(f"s.{q(c)}" for c in columns)
    merge = f"MERGE INTO {target} t USING {stage} s ON {on} "
    if sets:
        merge += f"WHEN MATCHED THEN UPDATE SET {sets} "
    return merge + (
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def _jdbc_writer_opts(opts: dict[str, str], dbtable: str):
    def configure(writer, df: DataFrame | None = None):
        writer = writer.format("jdbc").option("url", opts["url"]).option(
            "dbtable", dbtable
        )
        for k in ("user", "password", "driver"):
            if opts.get(k):
                writer = writer.option(k, opts[k])
        if df is not None:
            # dialects default StringType to LOB types (Derby: CLOB)
            # that can't be compared in a MERGE ON clause — create
            # string columns as VARCHAR instead
            from pyspark.sql.types import StringType

            strings = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, StringType)
            ]
            if strings:
                writer = writer.option(
                    "createTableColumnTypes",
                    ", ".join(f"{c} VARCHAR(1024)" for c in strings),
                )
        return writer

    return configure


def jdbc_upsert_foreach_batch(table: TableDef, replace_all: bool = False):
    """PRIMARY-KEY jdbc sink (demo_1.md `PRIMARY KEY (day_time) NOT
    ENFORCED`): per micro-batch, (1) executor-parallel bulk write of
    the changed keys into ``<target>_stage`` (overwrite), (2) one
    driver-issued `MERGE INTO target USING stage` applied atomically by
    the database. Row traffic scales with executors; the driver only
    ships one SQL string per batch."""
    import uuid

    opts = jdbc_reader_options(table)
    target = opts["dbtable"]
    # unique stage per writer: two concurrent INSERTs into the same
    # jdbc sink must not overwrite each other's staged micro-batch
    # between the bulk write and the MERGE
    stage = f"{target}_stage_{uuid.uuid4().hex[:8]}"

    bootstrapped = [False]

    def apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        # an ANSI MERGE aborts when several source rows match one
        # target row, so duplicate keys within the batch must collapse
        # first. Flink's jdbc upsert buffer keeps the LAST row per key
        # (arrival order), so the collapse picks the row with the
        # highest pre-shuffle position id — deterministic, and equal
        # to Flink's winner whenever the source's partition order is
        # the arrival order (dropDuplicates kept an ARBITRARY row —
        # ADVICE r03). Update-mode aggregates never emit duplicates;
        # this only triggers for non-aggregated inserts.
        from pyspark.sql import Window

        w = Window.partitionBy(*table.primary_key).orderBy(
            F.col("__arrival").desc()
        )
        batch = (
            batch.withColumn("__arrival", F.monotonically_increasing_id())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__arrival", "__rn")
        )
        spark = batch.sparkSession
        _jdbc_writer_opts(opts, stage)(batch.write, batch).mode(
            "overwrite"
        ).save()
        if not bootstrapped[0]:
            # once per writer: create the (empty) target with the same
            # dialect-quoted schema if it doesn't exist yet
            _jdbc_writer_opts(opts, target)(
                batch.limit(0).write, batch
            ).mode("append").save()
            bootstrapped[0] = True
        # MERGE then DROP the stage in one connection: the stage name
        # is per-writer-unique (uuid), so without the drop every job
        # start/restart/batch-write left a permanent <target>_stage_*
        # table in the target database (ADVICE r02). Spark's overwrite
        # save recreates it next micro-batch. replace_all (INSERT
        # OVERWRITE) empties the target in the same transaction-ish
        # statement batch first — a bare MERGE would keep stale rows.
        stmts = [
            build_merge_sql(
                target, stage, batch.columns, table.primary_key
            ),
            f"DROP TABLE {stage}",
        ]
        if replace_all:
            stmts.insert(0, f"DELETE FROM {target}")
        jdbc_execute(spark, opts, *stmts)

    return apply


def jdbc_upsert_writer(df: DataFrame, table: TableDef):
    jdbc_probe(df.sparkSession, jdbc_reader_options(table))
    return df.writeStream.outputMode("update").foreachBatch(
        jdbc_upsert_foreach_batch(table)
    )


def jdbc_batch_write(
    df: DataFrame, table: TableDef, overwrite: bool = False
) -> None:
    """Batch INSERT INTO a jdbc sink: append/overwrite without a PK,
    stage+MERGE upsert with one."""
    opts = jdbc_reader_options(table)
    jdbc_probe(df.sparkSession, opts)
    if not table.primary_key:
        _jdbc_writer_opts(opts, opts["dbtable"])(df.write, df).mode(
            "overwrite" if overwrite else "append"
        ).save()
        return
    # INSERT OVERWRITE on a PK sink must REPLACE the table contents —
    # a bare merge would keep target rows absent from the new result
    jdbc_upsert_foreach_batch(table, replace_all=overwrite)(df, -1)


# --------------------------------------------------------------------------
# elasticsearch-7 — upsert sink (demo_6.md enriched_orders DDL:
# 'connector'='elasticsearch-7', 'hosts', 'index'). Option mapping and
# the bulk-API payload builder are pure (unit-tested without a
# cluster); the stream writer POSTs _bulk per micro-batch.
# --------------------------------------------------------------------------


# rows per bulk POST: well under ES's default 100 MB
# http.max_content_length at typical document sizes
ES_BULK_CHUNK_ROWS = 5000


def es_sink_options(table: TableDef) -> dict[str, str]:
    o = table.options
    opts = {
        "hosts": o.get("hosts", ""),
        "index": o.get("index", table.name),
    }
    for k in ("username", "password"):
        if o.get(k):
            opts[k] = o[k]
    return opts


def es_bulk_payload(
    rows: list[dict], index: str, primary_key: list[str] | None
) -> str:
    """Bulk-API NDJSON: `index` actions keyed by the PK (upsert — the
    document id is the PK, so re-sending a key overwrites: exactly the
    reference connector's PRIMARY KEY NOT ENFORCED behavior)."""
    import json

    lines = []
    for row in rows:
        action: dict = {"index": {"_index": index}}
        if primary_key:
            action["index"]["_id"] = "_".join(
                str(row[k]) for k in primary_key
            )
        lines.append(json.dumps(action, default=str))
        lines.append(json.dumps(row, default=str))
    return "\n".join(lines) + "\n" if lines else ""


def es_bulk_delete_payload(
    rows: list[dict], index: str, primary_key: list[str]
) -> str:
    """Bulk-API NDJSON `delete` actions for removed keys — the CDC
    replace-merge's delete half (an enriched row whose order was
    deleted must disappear from the index)."""
    import json

    lines = []
    for row in rows:
        lines.append(
            json.dumps(
                {
                    "delete": {
                        "_index": index,
                        "_id": "_".join(
                            str(row[k]) for k in primary_key
                        ),
                    }
                },
                default=str,
            )
        )
    return "\n".join(lines) + "\n" if lines else ""


def es_bulk_post(url: str, payload: str) -> None:
    import urllib.request

    if not payload:
        return
    req = urllib.request.Request(
        url,
        data=payload.encode(),
        headers={"Content-Type": "application/x-ndjson"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        # urlopen raises on non-2xx; the REAL failure channel is the
        # body's errors flag — ES returns HTTP 200 with per-item
        # failures (mapping/version conflicts), which must not be
        # silently dropped (the never-silently-divert contract)
        import json as _json

        body = _json.loads(resp.read() or b"{}")
        if body.get("errors"):
            failed = [
                item
                for item in body.get("items", [])
                for op in item.values()
                if op.get("error")
            ][:3]
            raise RuntimeError(f"ES bulk had item failures: {failed}")


def es_writer(df: DataFrame, table: TableDef):
    """foreachBatch writer: micro-batch → bulk POST. Fails loudly if
    no hosts are configured (never silently diverts — ADVICE r01)."""
    opts = es_sink_options(table)
    if not opts["hosts"]:
        raise ConnectorUnavailable(
            f"elasticsearch-7 sink {table.name!r} has no 'hosts' option"
        )
    url = opts["hosts"].rstrip("/") + "/_bulk"
    index = opts["index"]
    pk = table.primary_key

    def apply(batch: DataFrame, epoch_id: int) -> None:
        # recursive=True: a shallow asDict leaves nested Row objects
        # that json.dumps(default=str) would emit as repr strings —
        # silently wrong documents for ROW<...> columns. Chunked
        # posts: a single unbounded _bulk body both holds the whole
        # micro-batch on the driver and trips ES's
        # http.max_content_length on large batches.
        chunk: list[dict] = []
        for r in batch.toLocalIterator():
            chunk.append(r.asDict(recursive=True))
            if len(chunk) >= ES_BULK_CHUNK_ROWS:
                es_bulk_post(url, es_bulk_payload(chunk, index, pk))
                chunk = []
        if chunk:
            es_bulk_post(url, es_bulk_payload(chunk, index, pk))

    return df.writeStream.outputMode("update").foreachBatch(apply)


def jdbc_delete_rows(
    spark: SparkSession,
    table: TableDef,
    rows: list[dict],
) -> None:
    """Server-side DELETE of the given key rows — the CDC
    replace-merge's delete half for a live jdbc sink. One statement
    per batch (a disjunction of per-key conjunctions; removed-key
    counts per micro-batch are update-rate-bounded, not table-sized)."""
    if not rows:
        return
    opts = jdbc_reader_options(table)
    target = opts["dbtable"]

    def lit(v) -> str:
        # key values become SQL literals; each supported type renders
        # in the form the column type actually compares against
        # (ADVICE r02: str() emitted invalid SQL for inf/nan and
        # relied on accidental format matches for temporals)
        import datetime as _dt
        import decimal as _decimal
        import math as _math

        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            if not _math.isfinite(v):
                raise ValueError(
                    f"non-finite float {v!r} in CDC delete key — no "
                    "portable SQL literal exists; refuse rather than "
                    "emit invalid SQL or silently match nothing"
                )
            return repr(v)
        if isinstance(v, int):
            return str(v)
        if isinstance(v, _decimal.Decimal):
            return str(v)
        # CAST('…' AS type) is the portable temporal literal — Derby
        # rejects the ANSI `DATE '…'` keyword-literal form
        if isinstance(v, _dt.datetime):
            frac = f".{v.microsecond:06d}" if v.microsecond else ""
            ts = v.strftime("%Y-%m-%d %H:%M:%S") + frac
            return f"CAST('{ts}' AS TIMESTAMP)"
        if isinstance(v, _dt.date):
            return f"CAST('{v.isoformat()}' AS DATE)"
        if isinstance(v, _dt.time):
            return f"CAST('{v.strftime('%H:%M:%S')}' AS TIME)"
        return "'" + str(v).replace("'", "''") + "'"

    def key_pred(row: dict) -> str:
        # identifiers quoted exactly as the writer created them
        # (build_merge_sql parity — Derby-quoted names are case-exact)
        return (
            "("
            + " AND ".join(
                f'"{k}" IS NULL'
                if row[k] is None
                else f'"{k}" = {lit(row[k])}'
                for k in table.primary_key
            )
            + ")"
        )

    preds = " OR ".join(key_pred(r) for r in rows)
    jdbc_execute(spark, opts, f"DELETE FROM {target} WHERE {preds}")


# (the placeholder-based build_upsert_sql helper was removed: the live
# upsert path is build_merge_sql via jdbc_upsert_foreach_batch, and a
# maintained-but-unreachable second dialect generator is exactly the
# partial-application drift hazard this module avoids elsewhere)
