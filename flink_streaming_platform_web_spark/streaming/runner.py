"""SQL-script job runner — the ``JobApplication`` analog.

Reference flow (flink-streaming-core/src/main/java/com/flink/streaming/core/JobApplication.java:40-115):
read SQL file → split/classify (SqlFileParser) → pick batch/streaming
env (:55-76) → dispatch statements into a StatementSet
(ExecuteSql.exeSql, ExecuteSql.java:26-59) → ``statementSet.execute()``
launches ONE job for all INSERTs (:78-82).

Spark rebuild:

- CREATE TABLE  → DDL-interpret into the connector registry; source
  tables materialize lazily as temp views on first reference (a kafka
  sink table must not force a broker connection at DDL time).
- CREATE VIEW/FUNCTION, USE/SHOW/DROP/ALTER → spark.sql / registry.
- SET → the exec-option mapping layer (Configurations.java:25-33 →
  trigger intervals, shuffle partitions, passthrough spark.* confs).
- INSERT INTO/OVERWRITE → collected like a StatementSet; ``execute()``
  starts them as a group: batch inserts run immediately, streaming
  inserts become concurrently-running StreamingQuery handles
  (divergence from Flink's shared-source single job is documented in
  SURVEY §7.3 — sources are re-read per query).
- bare SELECT → rejected in streaming scripts, exactly like the
  reference (LogPrint.java:54-55, ValidationConstants.java:13);
  allowed and returned in batch sessions (SURVEY §2.3 O26).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import threading
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_platform_web_spark.functions.flink_compat import (
    register_function,
    translate_expr,
)
from flink_streaming_platform_web_spark.sources import registry
from flink_streaming_platform_web_spark.sources.ddl import (
    TableDef,
    WatermarkDef,
    parse_create_table,
)
from flink_streaming_platform_web_spark.sql.script import (
    SqlCommand,
    parse_script,
    parse_set,
)
from flink_streaming_platform_web_spark.streaming.checkpoints import (
    CheckPointParam,
)
from flink_streaming_platform_web_spark.streaming.upsert import (
    CombiningStore,
    KeyedStore,
    foreach_batch_upsert,
)

_SOURCE_CONNECTORS = {"datagen", "filesystem", "kafka", "jdbc", "memory"}
_INSERT_RE = re.compile(
    r"insert\s+(?P<mode>into|overwrite)\s+(?:table\s+)?"
    r"(?P<target>[\w.`\"]+)\s+(?P<query>.*)",
    re.IGNORECASE | re.DOTALL,
)

# SET-option mapping (SURVEY §2.3 O25): Flink exec options → engine
# behavior. Unknown spark.* keys pass straight to spark.conf.
_MINI_BATCH_LATENCY = "table.exec.mini-batch.allow-latency"
# O20 divergence control: Flink compiles a multi-INSERT statement set
# into ONE job reading each source once; Spark runs N independent
# queries (source read N×). `SET graft.statement-set.read-once=true`
# restores read-once for inserts sharing one stream source: stateless
# sets fan out per micro-batch via one foreachBatch; sets containing
# aggregations route through a parquet mirror (bronze) stream so each
# INSERT keeps real cross-batch streaming state while the external
# source still has exactly one consumer.
_READ_ONCE_KEY = "graft.statement-set.read-once"
# Arrow batch size for a watermark-buffered stream (round 14). The
# applyInPandasWithState channel re-buffers a group's STATE alongside
# every maxRecordsPerBatch-row data chunk, so a large-state group
# chunked at the 10k default goes quadratic in state size: st23's
# global-pattern singleton key (1.67M-row first-batch buffer at sf5)
# never finished (>45 min, jstack pinned in
# ApplyInPandasWithStateWriter/DirectByteBufferOutputStream); at 200k
# rows per chunk it runs in 102 s. Buffered-route rows are narrow
# (event keys + measures), so 200k rows stays a few MB per chunk.
_ARROW_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
_WB_ARROW_BATCH = 200_000


@dataclass
class InsertJob:
    target: str
    query_sql: str
    overwrite: bool = False


@dataclass
class ExecutionResult:
    """What a script run produced — the structured-stdout handshake
    replacing the reference's job-id scraping
    (CommandRpcClinetAdapterImpl.java:150-161)."""

    streaming_queries: list = field(default_factory=list)
    batch_results: dict[str, int] = field(default_factory=dict)
    select_results: list[DataFrame] = field(default_factory=list)
    show_results: list[list[str]] = field(default_factory=list)
    # ids reported by an out-of-process child's handshake (the queries
    # live in the child's SparkSession, not ours) — manager
    # LOCAL_PROCESS deploy mode
    remote_query_ids: list = field(default_factory=list)

    @property
    def query_ids(self) -> list[str]:
        return [
            str(q.id) for q in self.streaming_queries
        ] or list(self.remote_query_ids)


class JobRunner:
    def __init__(
        self,
        spark: SparkSession,
        mode: str = "streaming",  # JobTypeEnum: SQL_STREAMING | SQL_BATCH
        checkpoint: CheckPointParam | None = None,
    ) -> None:
        if mode not in ("streaming", "batch"):
            raise ValueError(f"mode must be streaming|batch, got {mode!r}")
        self.spark = spark
        self.mode = mode
        self.checkpoint = checkpoint or CheckPointParam()
        self.tables: dict[str, TableDef] = {}
        self._materialized: dict[str, str] = {}  # name → "stream"|"batch"|"cdc"
        self.upsert_stores: dict[str, KeyedStore] = {}
        # mysql-cdc: decoded changelog streams + per-table latest-state
        # stores (demo_6 §2.1.2 multiway CDC join, O14)
        self._cdc_streams: dict[str, DataFrame] = {}
        # per-(table, insert) executor-side latest-state tables
        # (StateTable — round 6 moved this state off the driver)
        self.cdc_states: dict[tuple, "StateTable"] = {}
        self._cdc_lock = threading.Lock()
        self._state_root: str | None = None
        # durable parquet PK sinks by name (filesystem MERGE emulation)
        self.parquet_upserts: dict = {}
        self._trigger: dict[str, str] | None = None
        self._read_once = False
        # ``SET graft.stop.drain = false`` maps Flink's plain ``stop``
        # (savepoint-and-resume: buffered state stays in the
        # checkpoint); the default true is ``stop --drain`` /
        # MAX_WATERMARK (bounded runs flush their tail)
        self._stop_drain = True
        # rank-state TTL in batches (SET graft.topn.state-ttl-batches;
        # None = keep forever, Flink's continuous-Top-N contract)
        self._topn_state_ttl: int | None = None
        # lookup dims with TTL caches (lookup_cache.DimCache by name)
        self.dim_caches: dict = {}
        # accumulated rows for memory sinks fed per micro-batch by the
        # fan-out/replan foreachBatch paths (append semantics parity
        # with the default path's format("memory") sink)
        self._memory_rows: dict[str, list] = {}
        # memory/console sinks are DEBUG channels (the reference's
        # print connector) that collect to the driver — cap them so a
        # big stream pointed at one fails loudly instead of OOMing the
        # driver (SET graft.memory-sink.max-rows; 0 = uncapped)
        self._memory_max_rows = 100_000
        # Flink catalog name → Spark catalog name (CREATE CATALOG maps
        # 'hive' catalogs onto the session's hive-enabled spark_catalog;
        # Spark catalogs are session-static plugins, not DDL-creatable)
        self._catalogs: dict[str, str] = {}

    def _create_catalog(self, stmt: str) -> None:
        """`CREATE CATALOG name WITH ('type'='hive', …)` (catalog.md
        demo3). Spark has no catalog DDL — a hive catalog IS the
        hive-metastore-backed `spark_catalog` (enableHiveSupport at
        session build, SURVEY §2.1), so the name becomes an alias for
        it; non-hive types need a configured catalog plugin of the
        same name."""
        m = re.match(
            r"create\s+catalog\s+(?:if\s+not\s+exists\s+)?(?P<name>[\w`]+)"
            r"(?:\s+with\s*\((?P<opts>.*)\))?\s*;?\s*$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE CATALOG: {stmt[:80]!r}")
        name = m.group("name").strip("`")
        opts = dict(
            re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group("opts") or "")
        )
        if opts.get("type", "hive") == "hive":
            if self.spark.conf.get(
                "spark.sql.catalogImplementation", "in-memory"
            ) != "hive":
                raise ValueError(
                    "hive catalog requires a hive-enabled session "
                    "(SPARK_GRAFT_HIVE=1 / enableHiveSupport)"
                )
            self._catalogs[name] = "spark_catalog"
        else:
            # a same-named catalog plugin must be configured
            self._catalogs[name] = name

    # -- source materialization (lazy) ------------------------------------

    def _materialize_source(self, name: str, force_batch: bool = False) -> None:
        if name not in self.tables:
            return
        state = self._materialized.get(name)
        want = "batch" if (force_batch or self.mode == "batch") else "stream"
        if state == want or (state == "cdc" and want == "stream"):
            # a registered CDC changelog satisfies any later streaming
            # reference (re-registering would build a duplicate
            # readStream; _run_insert routes cdc-state semantics)
            return
        t = self.tables[name]
        c = t.connector
        streaming = want == "stream"
        if c == "datagen":
            df = (
                registry.datagen_stream(self.spark, t)
                if streaming
                else registry.datagen_batch(self.spark, t)
            )
        elif c == "filesystem":
            df = (
                registry.filesystem_stream(self.spark, t)
                if streaming
                else registry.filesystem_batch(self.spark, t)
            )
        elif c == "kafka":
            if t.options.get("format") in (
                "debezium-json", "canal-json", "maxwell-json",
            ):
                # a changelog-formatted kafka table (debezium-json or
                # canal-json — Flink docs formats/canal) IS a
                # changelog source (upsert/retract rows): route it
                # through the same keyed changelog apply as
                # mysql-cdc, never expose the raw envelope columns as
                # a row view
                if streaming:
                    self._cdc_streams[name] = registry.kafka_stream(
                        self.spark, t
                    )
                    self._materialized[name] = "cdc"
                    return
                from flink_streaming_platform_web_spark.streaming.cdc import (
                    materialize_latest,
                )

                if not t.primary_key:
                    raise ValueError(
                        f"changelog-format table {name!r} needs"
                        " PRIMARY KEY"
                    )
                df = materialize_latest(
                    registry.kafka_batch(self.spark, t), t.primary_key
                )
            else:
                # batch jobs get a BOUNDED kafka scan (earliest→
                # latest); recording a streaming DF as 'batch' would
                # silently break the batch write path downstream
                # (ADVICE r01)
                df = (
                    registry.kafka_stream(self.spark, t)
                    if streaming
                    else registry.kafka_batch(self.spark, t)
                )
        elif c == "mysql-cdc":
            if streaming:
                # the decoded changelog is NOT a plain row view — the
                # INSERT path applies it to keyed state and recomputes
                # (demo_6 update/delete propagation); record the stream
                # and mark the table so _run_insert routes accordingly
                self._cdc_streams[name] = registry.cdc_changelog_stream(
                    self.spark, t
                )
                self._materialized[name] = "cdc"
                return
            from flink_streaming_platform_web_spark.streaming.cdc import (
                materialize_latest,
            )

            if not t.primary_key:
                raise ValueError(
                    f"mysql-cdc table {name!r} needs PRIMARY KEY"
                )
            df = materialize_latest(
                registry.cdc_changelog_batch(self.spark, t), t.primary_key
            )
        elif c == "jdbc":
            # lookup/dim tables are batch reads even in streaming jobs
            # (demo_3.md FOR SYSTEM_TIME AS OF → per-micro-batch snapshot)
            df = registry.jdbc_batch(self.spark, t)
        elif c == "memory":
            # a memory table is ALWAYS a batch view — recording it as
            # "stream" would let the read-once fan-out mistake it for
            # the streaming source
            df = self.spark.table(t.options.get("view", name))
            want = "batch"
        elif (plugin := registry.get_plugin(c)) is not None and (
            plugin.source_stream if streaming else plugin.source_batch
        ) is not None:
            hook = plugin.source_stream if streaming else plugin.source_batch
            df = registry.apply_schema_decorations(hook(self.spark, t), t)
        else:
            raise ValueError(f"table {name!r} ({c!r}) is not a source")
        df.createOrReplaceTempView(name)
        self._materialized[name] = want

    def _referenced_tables(self, sql: str) -> list[str]:
        words = set(re.findall(r"[\w.]+", sql.lower()))
        return [n for n in self.tables if n.lower() in words]

    def _maybe_cache_dim(self, name: str) -> None:
        """Create the TTL cache handle for a lookup dim that declares
        `lookup.cache.ttl` (no-op otherwise: the dim subtree then
        re-executes — stays fresh — every micro-batch)."""
        from flink_streaming_platform_web_spark.streaming.lookup_cache import (
            DimCache,
            parse_ttl_seconds,
        )

        t = self.tables[name]
        ttl = t.options.get("lookup.cache.ttl")
        if ttl is None or name in self.dim_caches:
            return
        self.dim_caches[name] = DimCache(t, parse_ttl_seconds(ttl))

    # -- statement dispatch -------------------------------------------------

    def execute_script(
        self, script: str, variables: dict[str, str] | None = None
    ) -> ExecutionResult:
        from flink_streaming_platform_web_spark.sql.script import (
            substitute_variables,
        )

        if variables or "${" in script:
            script = substitute_variables(script, variables)
        calls = parse_script(script)
        inserts: list[InsertJob] = []
        result = ExecutionResult()
        for call in calls:
            cmd, stmt = call.command, call.statement
            if cmd == SqlCommand.CREATE_TABLE:
                from flink_streaming_platform_web_spark.sources.ddl import (
                    DDLParseError,
                    looks_like_connector_ddl,
                )

                try:
                    t = parse_create_table(stmt)
                except DDLParseError:
                    # connector-shaped DDL that fails OUR parser is a
                    # user error (typo in the WITH clause) — surface
                    # the precise DDL message, don't let spark.sql
                    # turn it into a confusing ParseException
                    if looks_like_connector_ddl(stmt):
                        raise
                    # not connector DDL (Spark `USING parquet`,
                    # catalog-specific clauses): the catalog-table
                    # passthrough must still reach spark.sql
                    self.spark.sql(stmt)
                    continue
                if t.connector:
                    if t.if_not_exists and t.name in self.tables:
                        continue
                    self.tables[t.name] = t
                else:  # plain (catalog) table — pass through
                    self.spark.sql(stmt)
            elif cmd == SqlCommand.CREATE_VIEW:
                for ref in self._referenced_tables(stmt):
                    self._materialize_source(ref)
                # IF NOT EXISTS is valid Flink DDL but cannot combine
                # with OR REPLACE / temp views in Spark: honor it by
                # skipping when the view already exists, then strip it
                ine = re.match(
                    r"create\s+(?:temporary\s+)?view\s+if\s+not\s+exists"
                    r"\s+(`?[\w.]+`?)",
                    stmt,
                    re.IGNORECASE,
                )
                if ine:
                    vname = ine.group(1).strip("`")
                    if self.spark.catalog.tableExists(vname):
                        continue
                self.spark.sql(
                    translate_expr(
                        re.sub(
                            r"^create\s+(temporary\s+)?view"
                            r"(\s+if\s+not\s+exists)?",
                            "CREATE OR REPLACE TEMPORARY VIEW",
                            stmt,
                            flags=re.IGNORECASE,
                        )
                    )
                )
            elif cmd == SqlCommand.CREATE_FUNCTION:
                register_function(self.spark, stmt)
            elif cmd == SqlCommand.SET:
                self._apply_set(stmt)
            elif cmd in (
                SqlCommand.BEGIN_STATEMENT_SET,
                SqlCommand.END_STATEMENT_SET,
            ):
                continue  # no-op markers (ExecuteSql.java:49-52)
            elif cmd in (SqlCommand.INSERT_INTO, SqlCommand.INSERT_OVERWRITE):
                m = _INSERT_RE.match(stmt)
                if not m:
                    raise ValueError(f"cannot parse INSERT: {stmt[:80]!r}")
                inserts.append(
                    InsertJob(
                        target=m.group("target").strip("`\""),
                        query_sql=m.group("query"),
                        overwrite=m.group("mode").lower() == "overwrite",
                    )
                )
            elif cmd == SqlCommand.SELECT:
                if self.mode == "streaming":
                    # parity: "目前不支持select" (LogPrint.java:54-55)
                    raise ValueError(
                        "bare SELECT is not supported in streaming scripts"
                    )
                for ref in self._referenced_tables(stmt):
                    self._materialize_source(ref)
                result.select_results.append(
                    self.spark.sql(translate_expr(stmt))
                )
            elif cmd.name.startswith("SHOW"):
                df = self.spark.sql(stmt)
                # SHOW TABLES emits (namespace, tableName, isTemporary)
                # — the interesting column is tableName, not r[0]
                col = (
                    "tableName" if "tableName" in df.columns else df.columns[0]
                )
                result.show_results.append(
                    [r[col] for r in df.collect()]
                )
            elif cmd == SqlCommand.CREATE_CATALOG:
                self._create_catalog(stmt)
            elif cmd == SqlCommand.USE_CATALOG:
                name = stmt.split()[-1].strip("`;")
                self.spark.sql(
                    f"SET CATALOG {self._catalogs.get(name, name)}"
                )
            else:  # USE/DROP/ALTER/CREATE_DATABASE passthrough
                self.spark.sql(stmt)

        # statement-set group start (JobApplication.java:78-82)
        if (
            self._read_once
            and self.mode == "streaming"
            and len(inserts) > 1
            and self._try_read_once_fanout(inserts, result)
        ):
            return result
        for i, job in enumerate(inserts):
            self._run_insert(job, i, result)
        return result

    # -- read-once statement-set fan-out (O20) ----------------------------

    def _try_read_once_fanout(
        self, inserts: list[InsertJob], result: ExecutionResult
    ) -> bool:
        """One readStream, N sinks per micro-batch. Applies only when
        every INSERT is stateless (no aggregation — per-batch SQL has
        no cross-batch state) and all reference the same single
        streaming source. Returns False to fall back to per-query
        reads (the documented default divergence)."""
        if any(j.overwrite for j in inserts):
            # streaming INSERT OVERWRITE is rejected (Flink parity) —
            # fall through to the per-query path, which raises clearly
            return False
        sources: set[str] = set()
        for job in inserts:
            refs = self._referenced_tables(job.query_sql)
            for ref in refs:
                self._materialize_source(ref)
            stream_refs = [
                r for r in refs if self._materialized.get(r) == "stream"
            ]
            if len(stream_refs) != 1:
                return False
            sources.add(stream_refs[0])
            if job.target not in self.tables:
                return False
        if len(sources) != 1:
            return False
        src = sources.pop()
        plans = [
            self.spark.sql(translate_expr(j.query_sql)) for j in inserts
        ]
        if any(_is_aggregated(df) for df in plans):
            # aggregating inserts need real cross-batch streaming state,
            # which one foreachBatch can't give N ways → mirror pattern
            return self._read_once_mirror_fanout(src, inserts, result)
        sinks = [self.tables[j.target] for j in inserts]
        # connector-first honesty (ADVICE r01): a PK EXTERNAL sink
        # (upsert-kafka/ES/jdbc-with-url/filesystem) must go through
        # _write_stream's real writers, not an in-process dict — fall
        # back to per-query reads, which route correctly. Same for
        # non-PK sinks the frame writer can't serve.
        if not all(map(_frame_sink, sinks)):
            return False
        self._start_frame_fanout(
            src,
            [(translate_expr(j.query_sql), s) for j, s in zip(inserts, sinks)],
            f"fanout_{src}",
            result,
        )
        return True

    def _read_once_mirror_fanout(
        self, src: str, inserts: list[InsertJob], result: ExecutionResult
    ) -> bool:
        """Read-once fan-out for AGGREGATING statement sets: the
        external source is consumed by exactly ONE query that mirrors
        it append-only into parquet staging (the medallion bronze
        layer), and every INSERT runs as its own streaming query over
        the mirror — full streaming-agg state, watermarks, and upsert
        sinks all work, and the broker/binlog still sees one consumer
        (the property Flink's single-job statement set buys,
        JobApplication.java:78-82). Latency contract: downstream sees
        a record one mirror micro-batch after ingest. At scale the
        mirror is the standard kafka→bronze pattern: sized by the
        source, partitioned by arrival, pruned by downstream filters."""
        t = self.tables[src]
        stream_df = self.spark.table(src)
        base = self.checkpoint.checkpoint_dir or tempfile.mkdtemp(
            prefix="graft_mirror_"
        )
        mirror = f"{base}/mirror_{src}/data"
        ckpt = f"{base}/mirror_{src}/ckpt"
        writer = (
            stream_df.writeStream.format("parquet")
            .option("path", mirror)
            .outputMode("append")
        )
        # mirror FIRST in streaming_queries: drain order matters for
        # processAllAvailable-style tests and graceful shutdown
        self._start(writer, result, ckpt)
        mirrored = (
            self.spark.readStream.schema(stream_df.schema)
            .format("parquet")
            .load(mirror)
        )
        if t.watermark is not None and t.watermark.delay:
            mirrored = mirrored.withWatermark(
                t.watermark.column, t.watermark.delay
            )
        mirrored.createOrReplaceTempView(src)
        for i, job in enumerate(inserts):
            self._run_insert(job, i, result)
        return True

    # -- lookup-join per-batch re-plan (O13 + lookup.cache.ttl) -----------

    def _write_stream_lookup_replan(
        self,
        job: InsertJob,
        refs: list[str],
        ttl_dims: list[str],
        plan_df: DataFrame,
        idx: int,
        result: ExecutionResult,
    ) -> bool:
        """Lookup joins against TTL-cached dims re-plan per micro-batch
        inside foreachBatch: a stream-static join planned inside the
        streaming query pins the dim's file listing at start and would
        never observe dim updates. Applies to stateless enrichment
        queries over exactly one stream (the demo_3 shape); aggregating
        queries fall back to the in-plan join (cross-batch state needs
        the streaming planner) with its pinned-snapshot caveat."""
        stream_refs = [
            r for r in refs if self._materialized.get(r) == "stream"
        ]
        if len(stream_refs) != 1 or job.overwrite:
            # (overwrite: streaming INSERT OVERWRITE is rejected —
            # fall through to the per-query path's clear error)
            return False
        if _is_aggregated(plan_df):
            # aggregating TTL-dim queries: incremental per-batch delta
            # fold when the aggregates are algebraic, else the in-plan
            # join (pinned dim snapshot) remains the documented fallback
            return self._write_stream_ttl_incremental_agg(
                job, stream_refs[0], ttl_dims, idx, result
            )
        sink = self.tables[job.target]
        # connector-first honesty (ADVICE r01): only sinks the frame
        # writer serves are admitted; PK EXTERNAL sinks (jdbc-with-
        # url, upsert-kafka, ES, filesystem MERGE) and non-PK jdbc fall
        # back to the in-plan join + _write_stream's real writers —
        # never a silent drop or in-memory diversion
        if not _frame_sink(sink):
            return False
        self._start_frame_fanout(
            stream_refs[0],
            [(translate_expr(job.query_sql), sink)],
            f"q{idx}_{sink.name}",
            result,
            caches=[self.dim_caches[d] for d in ttl_dims],
        )
        return True

    def _start_frame_fanout(
        self,
        src: str,
        pairs: "list[tuple[str, TableDef]]",
        ckpt_name: str,
        result: ExecutionResult,
        caches=(),
    ) -> None:
        """One foreachBatch query over stream ``src``: each micro-batch
        shadows the ``src`` view, refreshes the TTL dim ``caches``,
        runs every (sql, sink) pair over it and writes the frame."""
        for _, sink in pairs:
            if sink.primary_key:
                self._replace_store(sink.name, sink.primary_key)
        # checkpoint ONLY when every sink is durable-external
        # (filesystem append): with an in-process store or memory view
        # in the set, a checkpointed restart would resume the source
        # past batches whose state died with the process (the same
        # invariant the default PK path enforces)
        durable = all(
            s.connector == "filesystem" and not s.primary_key
            for _, s in pairs
        )
        ckpt = self._job_checkpoint(ckpt_name) if durable else None
        # file sinks log each frame under its epoch id. A query with no
        # checkpoint restarts at epoch 0, so its ids follow the ones
        # each log holds when it starts: a rerun appends
        files = {
            sink.options["path"]: (
                self._file_sink(sink),
                0 if ckpt else self._sink_log_next_id(sink) or 0,
            )
            for _, sink in pairs
            if sink.connector == "filesystem"
        }

        # more than one INSERT: read the micro-batch once, not per INSERT
        shared = len(pairs) > 1

        def fanout(batch: DataFrame, epoch_id: int) -> None:
            # each micro-batch runs in a cloned session: register the
            # shadow view and resolve SQL THERE, not on the outer one
            sess = batch.sparkSession
            if shared:
                batch = batch.persist()
            try:
                batch.createOrReplaceTempView(src)
                for cache in caches:
                    cache.ensure(sess)
                frames = {}
                for sql, sink in pairs:
                    out = self._align_to_sink(sess.sql(sql), sink)
                    if sink.connector != "filesystem":
                        self._write_frame(out, sink)
                        continue
                    # the INSERTs into one directory share its log and
                    # so the batch id: their frames commit as one batch
                    path = sink.options["path"]
                    frames[path] = (
                        frames[path].union(out) if path in frames else out
                    )
                for path, out in frames.items():
                    add, first = files[path]
                    add(first + epoch_id, out)
            finally:
                if shared:
                    batch.unpersist()

        writer = (
            self.spark.table(src)
            .writeStream.foreachBatch(fanout)
            .outputMode("append")
        )
        self._start(writer, result, ckpt)

    def _file_sink(self, sink: TableDef):
        """Spark's own streaming file sink over the filesystem sink
        ``sink``, as ``(batch_id, df) -> None``. Each call writes
        ``df``'s files in the sink's format and partition layout and
        lists them in the directory's ``_spark_metadata`` log under
        ``batch_id``, in one commit; an id the log already holds
        writes nothing, so a retried batch is held once. Every Spark
        reader of the directory lists only the logged files."""
        jvm, js = self.spark._jvm, self.spark._jsparkSession
        execution = jvm.org.apache.spark.sql.execution
        fmt = execution.datasources.DataSource.lookupDataSource(
            registry.resolve_fs_format(
                self.spark, sink.options.get("format", "parquet")
            ),
            js.sessionState().conf(),
        ).newInstance()
        if jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2"
        ).isInstance(fmt):
            # this Spark resolves the built-in formats to their V2
            # sources; the streaming sink takes the V1 FileFormat
            fmt = fmt.fallbackFileFormat().newInstance()
        files = execution.streaming.sinks.FileStreamSink(
            js,
            sink.options["path"],
            fmt,
            jvm.PythonUtils.toSeq(list(sink.partitioned_by)).toList(),
            getattr(
                getattr(jvm.scala.collection.immutable, "Map$"), "MODULE$"
            ).empty(),
        )
        return lambda batch_id, df: files.addBatch(batch_id, df._jdf)

    def _sink_log_next_id(self, sink: TableDef) -> "int | None":
        """The batch id after the last one the filesystem sink's
        ``_spark_metadata`` log holds (0 for an empty log), or None
        when its directory has no log. Reading creates no log."""
        jvm, js = self.spark._jvm, self.spark._jsparkSession
        log = jvm.org.apache.hadoop.fs.Path(
            sink.options["path"], "_spark_metadata"
        )
        fs = log.getFileSystem(js.sessionState().newHadoopConf())
        if not fs.exists(log):
            return None
        sinks = jvm.org.apache.spark.sql.execution.streaming.sinks
        latest = sinks.FileStreamSinkLog(
            1, js, log.toString(), getattr(getattr(jvm.scala, "None$"), "MODULE$")
        ).getLatestBatchId()
        return latest.get() + 1 if latest.isDefined() else 0

    def _write_frame(self, out: DataFrame, sink: TableDef) -> None:
        """Write one micro-batch frame to a sink the frame channel
        serves (``_frame_sink``) other than a filesystem sink, whose
        frames go through ``_file_sink`` under a batch id."""
        c = sink.connector
        if c == "blackhole":
            out.write.format("noop").mode("overwrite").save()
        elif sink.primary_key:
            self.upsert_stores[sink.name].merge_batch(out)
        elif c == "print":
            out.show(truncate=False)
        elif c == "memory":
            # accumulate: replacing the view per batch kept only the
            # LAST micro-batch, diverging from the default path's
            # append-mode memory sink
            self._register_memory_result(out, sink, accumulate=True)

    def _fs_writer(self, writer, sink: TableDef):
        """A batch or stream ``writer`` in the filesystem sink's format
        and partition layout."""
        writer = writer.format(
            registry.resolve_fs_format(
                self.spark, sink.options.get("format", "parquet")
            )
        )
        if sink.partitioned_by:
            writer = writer.partitionBy(*sink.partitioned_by)
        return writer

    def _write_stream_ttl_incremental_agg(
        self,
        job: InsertJob,
        src: str,
        ttl_dims: list[str],
        idx: int,
        result: ExecutionResult,
    ) -> bool:
        """Aggregating query over TTL-refreshed lookup dims, run
        INCREMENTALLY: each micro-batch joins only its own rows against
        the dim's CURRENT snapshot and emits per-key partial aggregates
        (SUM/COUNT deltas, MIN/MAX candidates); the PK sink folds the
        partials (CombiningStore — at scale the identical fold is the
        jdbc MERGE's `x + EXCLUDED.x` / `LEAST(x, EXCLUDED.x)`). This
        is Flink's StreamExecGroupAggregate shape with per-batch dim
        re-resolution — the enrichment always sees the freshest dim,
        which the in-plan stream-static join cannot (it pins the dim's
        file listing at query start).

        Sound iff the source is append-only and every aggregate is
        algebraic: bare SUM/COUNT/MIN/MAX select items (no DISTINCT,
        no arithmetic over aggregates, no HAVING/OVER — HAVING filters
        on a fold that later batches may still change). Anything else
        returns False and the in-plan join with its pinned-snapshot
        caveat remains the documented fallback."""
        sink = self.tables[job.target]
        if not _in_process_upsert(sink):
            return False
        sql = translate_expr(job.query_sql)
        # the fold is only sound when each micro-batch's partial is the
        # query applied to that batch alone: ORDER BY/LIMIT truncate
        # per batch (an early batch's cut keys are lost forever), and
        # any nested SELECT (derived table, scalar subquery) can hide
        # an inner aggregation whose partials do not compose — e.g.
        # MIN over per-group COUNTs. One top-level SELECT only.
        if re.search(
            r"\b(HAVING|OVER|UNION|EXCEPT|INTERSECT|LIMIT|OFFSET)\b"
            r"|\bORDER\s+BY\b",
            sql,
            re.IGNORECASE,
        ):
            return False
        if len(re.findall(r"\bSELECT\b", sql, re.IGNORECASE)) != 1:
            return False
        items = _split_select_list(sql)
        if not items:
            return False
        kinds = [_classify_agg_item(it) for it in items]
        if any(k is None for k in kinds):
            return False
        sink_cols = [
            c.name
            for c in sink.columns
            if c.spark_type is not None and c.computed_expr is None
        ]
        if len(sink_cols) != len(kinds):
            return False
        keys = [
            c for c, (kind, _) in zip(sink_cols, kinds) if kind == "key"
        ]
        combiners = {
            c: op
            for c, (kind, op) in zip(sink_cols, kinds)
            if kind == "agg"
        }
        if not combiners or set(keys) != set(sink.primary_key):
            return False
        caches = [self.dim_caches[d] for d in ttl_dims]
        store = self.upsert_stores.get(sink.name)
        if store is None:
            store = CombiningStore(list(sink.primary_key), combiners)
            self.upsert_stores[sink.name] = store
        elif (
            not isinstance(store, CombiningStore)
            or store.combiners != combiners
        ):
            # another query already feeds this sink with replace-by-key
            # semantics (or an incompatible fold) — don't clobber or
            # mis-fold its rows; fall back to the in-plan join
            return False

        # per-WRITER epoch high-water mark: combining is not idempotent
        # so a same-run foreachBatch retry must be skipped — but each
        # query numbers its epochs independently, so the guard cannot
        # live on the (possibly shared) store
        last_epoch = [-1]

        def apply(batch: DataFrame, epoch_id: int) -> None:
            if epoch_id <= last_epoch[0]:
                return
            sess = batch.sparkSession
            batch.createOrReplaceTempView(src)
            for cache in caches:
                cache.ensure(sess)
            out = self._align_to_sink(sess.sql(sql), sink)
            store.merge_batch(out)
            last_epoch[0] = epoch_id
            if sink.connector == "print":
                store.to_df(sess).show(truncate=False)

        writer = (
            self.spark.table(src)
            .writeStream.foreachBatch(apply)
            .outputMode("append")
        )
        # deliberately NO checkpointLocation: a checkpoint would make
        # the source resume past pre-restart batches while the
        # in-process store restarts empty, permanently losing their
        # contributions (a replace-by-key sink re-converges; a delta
        # fold cannot). Restart therefore replays from scratch, which
        # IS the in-process store contract; a durable deployment puts
        # the fold server-side (jdbc MERGE x + EXCLUDED.x) with an
        # epoch ledger, and only then pins a checkpoint.
        self._start(writer, result)
        return True

    # -- SET mapping ----------------------------------------------------------

    def _apply_set(self, stmt: str) -> None:
        kv = parse_set(stmt)
        if kv is None:  # bare SET: property listing — no-op here
            return
        key, val = kv
        if key == _READ_ONCE_KEY:
            self._read_once = val.strip().lower() == "true"
        elif key == "graft.stop.drain":
            # Flink exposes BOTH stop modes: plain stop keeps the
            # event-time buffers in the savepoint for a later resume;
            # stop --drain emits MAX_WATERMARK so they flush. true
            # (default) = drain; false = plain stop (the query's
            # checkpoint stays resumable — pending rows emit on the
            # resumed run's eventual drained stop)
            self._stop_drain = val.strip().lower() != "false"
        elif key == "graft.memory-sink.max-rows":
            # debug-sink driver-collect cap (0 disables the guard)
            self._memory_max_rows = int(val)
        elif key == "graft.topn.state-ttl-batches":
            # rank-state eviction: drop a rank PARTITION's state after
            # N batches without updates (the watermark-eviction proxy
            # for Window Top-N — BACKLOG r5 note); unset keeps state
            # forever (Flink continuous Top-N)
            self._topn_state_ttl = int(val)
        elif key == _MINI_BATCH_LATENCY:
            m = re.match(r"([\d.]+)\s*(ms|s|sec|min)?", val)
            if not m:
                raise ValueError(
                    f"cannot parse {_MINI_BATCH_LATENCY}: {val!r}"
                )
            unit = {"ms": "milliseconds", "min": "minutes"}.get(
                m.group(2) or "s", "seconds"
            )
            self._trigger = {"processingTime": f"{m.group(1)} {unit}"}
        elif key in ("parallelism.default", "table.exec.resource.default-parallelism"):
            self.spark.conf.set("spark.sql.shuffle.partitions", val)
        elif key == "graft.plugins":
            # custom-connector loading (the reference's per-job ext jar
            # list, flink_web.sql:60): comma-separated python module
            # specs, each registering connectors on import
            for spec in val.split(","):
                if spec.strip():
                    registry.load_plugin_module(spec.strip())
        elif key.startswith("spark."):
            self.spark.conf.set(key, val)
        # other table.exec.* options are accepted & recorded as no-ops
        # (documented divergence; e.g. cdc-events-duplicate is handled
        # structurally by cdc.changelog_dedup)

    # -- INSERT execution -----------------------------------------------------

    def _run_insert(
        self, job: InsertJob, idx: int, result: ExecutionResult
    ) -> None:
        refs = self._referenced_tables(job.query_sql)
        # lookup dims (`JOIN d FOR SYSTEM_TIME AS OF …`, demo_3.md)
        # are batch snapshots even when their connector could stream;
        # with lookup.cache.ttl they become persisted TTL caches
        dims = {
            d.strip("`").lower()
            for d in re.findall(
                # alias forms: bare (`dim d`) or AS (`dim AS d`) —
                # both are valid Flink before FOR SYSTEM_TIME
                r"join\s+([\w.`]+)(?:\s+(?:as\s+)?\w+)?"
                r"\s+for\s+system_time\s+as\s+of",
                job.query_sql,
                re.IGNORECASE,
            )
        }
        # versioned tables (Flink queries/joins §Event Time Temporal
        # Join): a FOR SYSTEM_TIME dim declaring BOTH a primary key
        # and a watermark IS a versioned table by Flink's definition —
        # it joins by event-time version, not as a proctime lookup
        # snapshot
        versioned = {
            ref
            for ref in refs
            if ref.lower() in dims
            and self.mode == "streaming"
            and (vt := self.tables.get(ref)) is not None
            and vt.primary_key
            and vt.watermark is not None
        }
        for ref in refs:
            if ref.lower() in dims and ref not in versioned:
                self._materialize_source(ref, force_batch=True)
                self._maybe_cache_dim(ref)
            else:
                self._materialize_source(ref)
        if versioned:
            self._write_stream_temporal(job, versioned, idx, result)
            return
        ttl_dims = [
            r for r in refs
            if r.lower() in dims and r in self.dim_caches
        ]
        cdc_refs = [
            r for r in refs if self._materialized.get(r) == "cdc"
        ]
        if cdc_refs:
            self._write_stream_cdc(job, refs, cdc_refs, idx, result)
            return
        if re.search(
            r"\bFROM\s+[\w.`]+\s+MATCH_RECOGNIZE\s*\(",
            job.query_sql,
            re.IGNORECASE,
        ):
            # structural trigger, not the bare word: the literal
            # string 'MATCH_RECOGNIZE' inside a WHERE clause must
            # keep taking the normal Spark path (code-review r5)
            self._run_match_recognize(job, result, idx)
            return
        sql = translate_expr(job.query_sql)
        df = self.spark.sql(sql)
        sink = self.tables.get(job.target)
        if sink is not None:
            df = self._align_to_sink(df, sink)
        if (
            ttl_dims
            and sink is not None
            and self.mode == "streaming"
            and df.isStreaming
            and self._write_stream_lookup_replan(
                job, refs, ttl_dims, df, idx, result
            )
        ):
            return
        if sink is None:
            # catalog table (hive-style) — spark.sql insert path
            mode = "OVERWRITE" if job.overwrite else "INTO"
            self.spark.sql(
                f"INSERT {mode} {job.target} {translate_expr(job.query_sql)}"
            )
            result.batch_results[job.target] = -1
            return
        if self.mode == "batch" or not df.isStreaming:
            self._write_batch(df, sink, job, result)
            return
        if job.overwrite:
            # Flink rejects INSERT OVERWRITE for streaming queries
            # (batch-only sink mode); the previous behaviors here were
            # worse than an error — the default path silently appended
            # and the fan-out path re-overwrote per micro-batch,
            # keeping only the last batch
            raise ValueError(
                f"INSERT OVERWRITE {job.target}: streaming queries"
                " cannot overwrite (batch-only, as in Flink)"
            )
        if sink.primary_key and (
            topn := _parse_window_topn(job.query_sql)
        ):
            # Flink's streaming Window Top-N — Spark has no streaming
            # rank operator; route to the state + re-rank re-plan
            self._write_stream_window_topn(topn, sink, idx, result)
            return
        if (over := _parse_stream_over(job.query_sql)) is not None:
            # Flink's streaming OVER aggregation (docs:
            # queries/over-agg) — Spark rejects window functions on
            # streams; route to the keyed stateful operator
            self._write_stream_over(over, sink, idx, result)
            return
        try:
            self._write_stream(df, sink, idx, result)
        except Exception as e:
            # Spark rejects stream-stream joins under update/complete
            # output (UnsupportedOperationChecker at query start).
            # Parity re-plan (SURVEY §7.3): keep the FIRST stream in
            # query order streaming, demote the rest to batch
            # snapshots. Caveat (deliberate): the static side's FILE
            # LISTING pins at query start — listed files are re-read
            # per trigger, but files landing in the co-stream
            # directory AFTER start are not discovered (the same
            # pinned-listing behavior the lookup-replan path exists to
            # fix for dims; co-streams wanting live pickup should
            # bound the join with time predicates so the native
            # watermarked stream-stream join applies instead).
            if "streaming" not in str(e).lower():
                raise
            lowered = job.query_sql.lower()
            streams = sorted(
                (
                    n
                    for n in refs
                    if self._materialized.get(n) == "stream"
                ),
                key=lambda n: lowered.find(n.lower()),
            )
            if len(streams) < 2:
                raise
            for demote in streams[1:]:
                self._materialize_source(demote, force_batch=True)
            self._write_stream(
                self._align_to_sink(self.spark.sql(sql), sink),
                sink,
                idx,
                result,
            )

    def _write_stream_window_topn(
        self,
        spec: "_WindowTopN",
        sink: TableDef,
        idx: int,
        result: ExecutionResult,
    ) -> None:
        """Flink's three documented streaming ROW_NUMBER patterns
        (docs: queries/window-topn, queries/topn,
        queries/deduplication) — Spark has no streaming rank operator,
        so the re-plan runs the documented semantics directly.

        Agg inners (Window Top-N / continuous Top-N): the inner
        aggregation streams in update mode; per micro-batch the new
        per-group totals merge into rank state and every partition
        TOUCHED in the batch is re-ranked — rank rows upsert by
        (partition, rn) and ranks that fell out of the top N are
        deleted (Flink's retract + re-emit, RankOperator parity).

        Plain inners (deduplication rn=1 / raw-row top-n): the raw
        stream appends; per-partition state retains only the best N
        rows under the comparator — Flink's dedup state layout,
        bounded at N rows per key.

        State lives in EXECUTORS (round 6 — VERDICT r5 finding 1):
        raw mode keys Spark's state store by the rank partition via
        ``applyInPandasWithState`` (streaming/stateful.retained_topn,
        bounded at N rows/key); agg mode keeps the per-group latest
        totals in an executor-side StateTable and re-ranks touched
        partitions with a window function — per-batch work is
        O(touched-bucket state + batch), and only the final
        touched × N rank rows reach the driver (the sink channel).
        Ties on the rank value break on the remaining columns for
        determinism (Flink leaves ties unspecified; a gated result
        cannot)."""
        inner_df = self.spark.sql(translate_expr(spec.inner_sql))
        out_cols = [c.name for c in sink.columns if c.spark_type]
        # deterministic tie-break on the remaining columns (Flink
        # leaves rank ties unspecified; a gated result cannot)
        tie_cols = [
            c for c in spec.group_cols if c not in spec.part_cols
        ] if spec.inner_is_agg else [
            c
            for c in [cd.name for cd in sink.columns if cd.spark_type]
            if c not in spec.part_cols
            and c != spec.ord_col
            and c != spec.rn_alias
        ]
        if spec.inner_is_agg:
            self._rank_agg_stream(
                spec, inner_df, sink, out_cols, tie_cols, idx, result
            )
        else:
            self._rank_raw_stream(
                spec, inner_df, sink, out_cols, tie_cols, idx, result
            )

    def _rank_raw_stream(
        self,
        spec: "_WindowTopN",
        inner_df: DataFrame,
        sink: TableDef,
        out_cols: list[str],
        tie_cols: list[str],
        idx: int,
        result: ExecutionResult,
    ) -> None:
        """Deduplication / raw-row Top-N: per-key best-N state in
        Spark's state store (checkpointable, executor-sharded); the
        operator re-emits a touched key's full top-N set, so the
        replace-by-group sink drops fallen-out ranks implicitly."""
        from flink_streaming_platform_web_spark.streaming.stateful import (
            retained_topn,
        )
        from flink_streaming_platform_web_spark.streaming.upsert import (
            GroupReplaceStore,
        )

        emit_cols = list(out_cols)
        if spec.rn_alias not in emit_cols:
            # dedup sinks (PK = partition, rn filtered to 1) don't
            # carry the rank column — emit without it
            ranked = retained_topn(
                inner_df, spec.part_cols, spec.ord_col, spec.ord_desc,
                tie_cols, spec.topn, None, emit_cols,
            )
        else:
            ranked = retained_topn(
                inner_df, spec.part_cols, spec.ord_col, spec.ord_desc,
                tie_cols, spec.topn, spec.rn_alias, emit_cols,
            )
        store = self.upsert_stores.get(sink.name)
        if store is None:
            store = GroupReplaceStore(
                list(spec.part_cols),
                [c for c in out_cols if c not in spec.part_cols],
            )
            self.upsert_stores[sink.name] = store
        elif not (
            isinstance(store, GroupReplaceStore)
            and store.group_cols == list(spec.part_cols)
        ):
            # same discipline as _replace_store: another query already
            # feeds this sink with different merge semantics — mixing
            # them would silently corrupt rows
            raise ValueError(
                f"sink {sink.name!r} is already fed with different"
                " merge semantics; a rank query needs its own sink"
            )
        writer = ranked.writeStream.outputMode("update").foreachBatch(
            foreach_batch_upsert(store)
        )
        # the OPERATOR state (per-key retained rows) checkpoints and
        # restores; the in-process store is the test channel and
        # re-converges for keys touched after restart (a durable
        # deployment pairs the restored state with an idempotent
        # upsert sink — test_rank_router restore test)
        self._start(
            writer, result, self._job_checkpoint(f"q{idx}_{sink.name}")
        )

    def _rank_agg_stream(
        self,
        spec: "_WindowTopN",
        inner_df: DataFrame,
        sink: TableDef,
        out_cols: list[str],
        tie_cols: list[str],
        idx: int,
        result: ExecutionResult,
    ) -> None:
        """Window Top-N / continuous Top-N over an updating inner
        aggregation. Spark forbids a stateful operator downstream of a
        streaming aggregation, so the rank state (latest total per
        group — Flink RankOperator's input state) lives in an
        executor-side StateTable merged per micro-batch; touched
        partitions re-rank with a window function over the held state.
        Only the touched × N rank rows are collected — the bounded
        sink channel, not the state.

        Eviction (BACKLOG r5 note): ``SET
        graft.topn.state-ttl-batches = N`` drops the state of rank
        PARTITIONS untouched for N batches (partition-level — a live
        partition's quiet groups are still rank members and stay) —
        the proxy for Flink's watermark-driven window-state eviction
        (the inner watermarked agg stops emitting closed windows, so
        their rank state is dead weight). Unset = keep forever,
        Flink's continuous-Top-N contract."""
        from pyspark.sql.types import (
            LongType,
            StructField,
            StructType,
        )
        from pyspark.sql.window import Window

        from flink_streaming_platform_web_spark.streaming.state_table import (
            StateTable,
        )

        state_schema = StructType(
            list(inner_df.schema.fields)
            + [StructField("__epoch", LongType(), False)]
        )
        state = StateTable(
            self.spark,
            self._state_dir(f"rank_{sink.name}_{idx}"),
            list(spec.group_cols),
            state_schema,
        )
        # partition last-touch ledger for TTL eviction: per PART key
        # (not group — a live partition's quiet groups are still rank
        # members and must survive), a single (part, epoch) row
        part_fields = {f.name: f for f in inner_df.schema.fields}
        part_state = StateTable(
            self.spark,
            self._state_dir(f"rank_{sink.name}_{idx}_parts"),
            list(spec.part_cols),
            StructType(
                [part_fields[c] for c in spec.part_cols]
                + [StructField("__epoch", LongType(), False)]
            ),
        )
        sink_store = self._replace_store(sink.name, sink.primary_key)
        rn_in_pk = spec.rn_alias in sink.primary_key
        order = [
            F.col(spec.ord_col).desc() if spec.ord_desc
            else F.col(spec.ord_col).asc()
        ] + [
            F.col(c).desc() if spec.ord_desc else F.col(c).asc()
            for c in tie_cols
        ]
        rank_w = Window.partitionBy(*spec.part_cols).orderBy(*order)
        ttl = self._topn_state_ttl

        def apply(batch: DataFrame, epoch_id: int) -> None:
            if sink_store.schema is None:
                by_name = {f.name: f for f in batch.schema.fields}
                sink_store.schema = StructType(
                    [
                        by_name[c]
                        if c in by_name
                        else StructField(c, LongType(), False)
                        for c in out_cols
                    ]
                )
            batch = batch.persist()
            try:
                state.merge(
                    batch.withColumn(
                        "__epoch", F.lit(epoch_id).cast("bigint")
                    )
                )
                touched = batch.select(*spec.part_cols).distinct()
                ranked = (
                    state.view()
                    .join(touched, on=list(spec.part_cols), how="left_semi")
                    .withColumn(
                        spec.rn_alias,
                        F.row_number().over(rank_w).cast("bigint"),
                    )
                    .filter(F.col(spec.rn_alias) <= spec.topn)
                )
                # bounded by touched partitions × N — the sink
                # channel, never the state
                per_part: dict[tuple, int] = {}
                for row in ranked.collect():
                    wkey = tuple(row[c] for c in spec.part_cols)
                    per_part[wkey] = per_part.get(wkey, 0) + 1
                    sink_store.upsert(
                        {c: row[c] for c in out_cols}
                    )
                if rn_in_pk:
                    for wkey, n_top in per_part.items():
                        for rn in range(n_top + 1, spec.topn + 1):
                            stale = dict(zip(spec.part_cols, wkey))
                            stale[spec.rn_alias] = rn
                            sink_store.delete(
                                {
                                    k: stale.get(k)
                                    for k in sink.primary_key
                                }
                            )
                if ttl is not None:
                    part_state.merge(
                        touched.withColumn(
                            "__epoch", F.lit(epoch_id).cast("bigint")
                        )
                    )
                    # expired PARTITIONS (untouched for > ttl batches)
                    # — bounded metadata (one row per open partition)
                    expired = (
                        part_state.view()
                        .filter(F.col("__epoch") < F.lit(epoch_id - ttl))
                        .select(*spec.part_cols)
                        .collect()
                    )
                    if expired:
                        pred = None
                        for row in expired:
                            clause = None
                            for c in spec.part_cols:
                                eq = F.col(c).eqNullSafe(F.lit(row[c]))
                                clause = eq if clause is None else (
                                    clause & eq
                                )
                            pred = clause if pred is None else (
                                pred | clause
                            )
                        state.delete_where(pred)
                        part_state.delete_where(pred)
            finally:
                batch.unpersist()

        writer = inner_df.writeStream.outputMode("update").foreachBatch(
            apply
        )
        # restartable: the StateTable lives under the checkpoint dir
        # (_state_dir) and its keyed MERGE is idempotent, so a resumed
        # source + persisted rank state recompute correctly;
        # foreachBatch epoch ids also resume, keeping the TTL ledger
        # monotone. The in-process sink store remains the test channel
        # (re-converges for partitions touched after restart —
        # test_rank_router pins this).
        self._start(
            writer, result, self._job_checkpoint(f"q{idx}_{sink.name}")
        )

    def _write_stream_over(
        self,
        over: "_StreamOver",
        sink: TableDef,
        idx: int,
        result: ExecutionResult,
    ) -> None:
        """Streaming OVER aggregation re-plan: the source stream keys
        by the OVER partition and runs
        ``stateful.streaming_over`` (per-key window state in the
        state store, one appended row per input row) — Flink's
        OverAggregate operator shape. The append output then takes
        the normal streaming sink path."""
        from flink_streaming_platform_web_spark.streaming.stateful import (
            streaming_over,
        )

        self._event_time_watermark(over.src, over.ts_col, "OVER")
        drains: list = []
        out = streaming_over(
            self.spark.table(over.src),
            over.part_cols,
            over.ts_col,
            over.mode,
            over.size,
            over.aggs,
            over.out_cols,
            drain_out=drains,
            key_groups=self._key_groups(sink, idx),
        )
        self._write_stream(
            self._align_to_sink(out, sink), sink, idx, result,
            # stop-with-drain: fold output is already in out_cols
            # order — no post-projection needed
            drain=(drains[0], lambda d: d),
        )

    _TEMPORAL_RE = re.compile(
        r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+`?(?P<probe>\w+)`?"
        r"\s+(?:AS\s+)?(?P<palias>\w+)\s+"
        r"JOIN\s+`?(?P<dim>\w+)`?\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+"
        r"(?P<asalias>\w+)\.`?(?P<ascol>\w+)`?\s+"
        r"(?:AS\s+)?(?P<dalias>\w+)\s+ON\s+(?P<cond>.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _write_stream_temporal(
        self,
        job: InsertJob,
        versioned: set,
        idx: int,
        result: ExecutionResult,
    ) -> None:
        """Event-time temporal join route (Flink queries/joins §Event
        Time Temporal Join): probe stream against a versioned table —
        per-key version history in executor state, each probe row
        joined to the version valid AT its event time
        (streaming/temporal.py). The supported shape is the
        documented one (single versioned dim, equi-join keys, plain
        qualified select items); anything else raises loudly."""
        from flink_streaming_platform_web_spark.streaming.temporal import (
            event_time_temporal_join,
        )

        m = self._TEMPORAL_RE.match(job.query_sql.strip())
        if not m or len(versioned) != 1:
            raise ValueError(
                "event-time temporal join: supported shape is"
                " SELECT <alias.col [AS name], ...> FROM probe p JOIN"
                " dim FOR SYSTEM_TIME AS OF p.<event_time_col> d ON"
                " p.k = d.k [AND ...] (one versioned dim)"
            )
        dim = versioned.pop()
        if self._materialized.get(dim) != "stream":
            raise ValueError(
                f"event-time temporal join: versioned table {dim!r}"
                " must be an APPEND stream source (filesystem/kafka"
                " version rows); changelog-backed versioned dims are"
                " not supported — feed the version stream as append"
                " rows instead"
            )
        probe, palias = m.group("probe"), m.group("palias")
        dalias = m.group("dalias")
        if m.group("dim") != dim:
            raise ValueError(
                f"event-time temporal join: dim {m.group('dim')!r}"
                f" does not match versioned table {dim!r}"
            )
        if m.group("asalias").lower() != palias.lower():
            raise ValueError(
                "event-time temporal join: FOR SYSTEM_TIME AS OF must"
                " reference the probe side's event-time column"
            )
        probe_keys, build_keys = [], []
        for term in re.split(r"\bAND\b", m.group("cond"), flags=re.IGNORECASE):
            tm = re.fullmatch(
                r"\s*`?(\w+)`?\.`?(\w+)`?\s*=\s*`?(\w+)`?\.`?(\w+)`?\s*",
                term,
            )
            if not tm:
                raise ValueError(
                    f"event-time temporal join: non-equi ON term"
                    f" {term!r}"
                )
            sides = {tm.group(1).lower(): tm.group(2),
                     tm.group(3).lower(): tm.group(4)}
            if set(sides) != {palias.lower(), dalias.lower()}:
                raise ValueError(
                    f"event-time temporal join: ON term {term!r} must"
                    " compare probe and dim columns"
                )
            probe_keys.append(sides[palias.lower()])
            build_keys.append(sides[dalias.lower()])
        probe_out: list[tuple[str, str]] = []
        build_out: list[tuple[str, str]] = []
        items = _split_select_list(job.query_sql.strip())
        if items is None:
            raise ValueError(
                "event-time temporal join: cannot parse select list"
            )
        for item in items:
            im = re.fullmatch(
                r"\s*`?(\w+)`?\.`?(\w+)`?(?:\s+AS\s+`?(\w+)`?)?\s*",
                item,
                re.IGNORECASE,
            )
            if not im:
                raise ValueError(
                    f"event-time temporal join: select items must be"
                    f" alias.col [AS name]; got {item!r}"
                )
            alias, col, name = im.group(1), im.group(2), im.group(3)
            tgt = (
                probe_out
                if alias.lower() == palias.lower()
                else build_out
                if alias.lower() == dalias.lower()
                else None
            )
            if tgt is None:
                raise ValueError(
                    f"event-time temporal join: unknown alias in"
                    f" {item!r}"
                )
            tgt.append((col, name or col))
        build_ts = self.tables[dim].watermark.column
        self._event_time_watermark(
            probe, m.group("ascol"), "event-time temporal join"
        )
        sink = self.tables.get(job.target)
        if sink is None:
            raise ValueError(
                f"temporal join sink {job.target!r} must be declared"
            )
        drains: list = []
        out = event_time_temporal_join(
            self.spark.table(probe),
            self.spark.table(dim),
            probe_keys,
            build_keys,
            m.group("ascol"),
            build_ts,
            probe_out,
            build_out,
            drain_out=drains,
            key_groups=self._key_groups(sink, idx),
        )
        # restore select-list column order (probe/build interleave)
        order = []
        for item in items:
            im = re.fullmatch(
                r"\s*`?(\w+)`?\.`?(\w+)`?(?:\s+AS\s+`?(\w+)`?)?\s*",
                item,
                re.IGNORECASE,
            )
            order.append(im.group(3) or im.group(2))
        out = out.select(*order)
        self._write_stream(
            self._align_to_sink(out, sink), sink, idx, result,
            # stop-with-drain: replay the select-list reorder on the
            # drained fold output before the sink align
            drain=(drains[0], lambda d, _o=tuple(order): d.select(*_o)),
        )

    def _run_match_recognize(
        self, job: InsertJob, result: ExecutionResult, idx: int = 0
    ) -> None:
        """Flink SQL MATCH_RECOGNIZE (docs: queries/match_recognize)
        routed to the CEP operator (operators/cep.py): the clause is
        parsed, matched per partition via applyInPandas, and the
        OUTER select runs over the match result as a temp view — so
        projections/filters around the clause work unchanged.
        A STREAMING source needs a WATERMARK on the first ORDER BY
        column (Flink's CepOperator sorts by event time behind the
        watermark — pom.xml:41's Flink 1.13 surface); it then routes
        to cep.stream_match_recognize behind the watermark-buffered
        front end with stop-with-drain, per-key NFA state spanning
        micro-batches. Unwatermarked streaming sources raise loudly
        (the matcher cannot buffer without a watermark)."""
        from flink_streaming_platform_web_spark.operators import cep

        sql = job.query_sql
        m = re.search(
            r"\bFROM\s+([\w.`]+)\s+MATCH_RECOGNIZE\s*\(",
            sql,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(
                "MATCH_RECOGNIZE: expected FROM <table>"
                " MATCH_RECOGNIZE (<clause>)"
            )
        tbl = m.group(1).strip("`")
        from flink_streaming_platform_web_spark.sql.script import (
            find_balanced,
        )

        j = sql.index("(", m.end() - 1)
        k = find_balanced(sql, j)
        spec = cep.parse_match_recognize(sql[j + 1:k])
        src = self.spark.table(tbl)
        # unique per-call view name: a fixed name raced concurrent
        # MATCH_RECOGNIZE jobs on the shared session — one job could
        # read the other's matches (code-review r5)
        import uuid as _uuid

        view = f"__match_recognize_{_uuid.uuid4().hex[:12]}__"
        outer = sql[: m.start()] + f" FROM {view} " + sql[k + 1:]
        sink = self.tables.get(job.target)
        if sink is None:
            raise ValueError(
                f"MATCH_RECOGNIZE sink {job.target!r} must be a"
                " declared table"
            )
        if src.isStreaming:
            wm = self._event_time_watermark(
                tbl, spec.order_by[0], "MATCH_RECOGNIZE"
            )
            # the streaming operators index pandas frames by column
            # name: take the key and order columns in the input's
            # spelling, as the session's resolver matches them
            resolves = (
                self.spark._jsparkSession.sessionState().conf().resolver()
            )

            def spelled(names):
                return [
                    next((c for c in src.columns if resolves.apply(c, n)), n)
                    for n in names
                ]

            spec = replace(
                spec,
                partition_by=spelled(spec.partition_by),
                order_by=spelled(spec.order_by),
            )
            # foreachBatch tier route (round 15): tier-eligible shapes
            # run the BATCH tier SQL over the watermark-released
            # frames per micro-batch — zero Python in the per-batch
            # plan, parquet-bounded pending state. Ineligible shapes
            # (consuming skips, ALL ROWS, context-dependent defines,
            # non-memory sinks, non-row-local outer selects) fall
            # through to the watermark-buffered NFA route below.
            from flink_streaming_platform_web_spark.streaming import (
                fb_cep,
            )

            if fb_cep.try_start(
                self, src, spec, sink, outer, view, wm, idx, result
            ):
                return
            drains: list = []
            matched = cep.stream_match_recognize(
                src,
                spec,
                cep.infer_output_schema(spec, src),
                drain_out=drains,
                key_groups=self._key_groups(sink, idx),
            )
            matched.createOrReplaceTempView(view)
            df = self.spark.sql(translate_expr(outer))

            def post(d, _v=view, _o=outer):
                # the streaming query is stopped by the time the drain
                # runs — re-point the view at the drained batch and
                # replay the same outer select
                d.createOrReplaceTempView(_v)
                return self.spark.sql(translate_expr(_o))

            self._write_stream(
                self._align_to_sink(df, sink), sink, idx, result,
                drain=(drains[0], post),
            )
            return
        matched = cep.match_recognize(
            src, spec, cep.infer_output_schema(spec, src)
        )
        matched.createOrReplaceTempView(view)
        df = self.spark.sql(translate_expr(outer))
        try:
            self._write_batch(
                self._align_to_sink(df, sink), sink, job, result
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def _register_memory_result(
        self, out: DataFrame, sink: TableDef, accumulate: bool = False
    ) -> None:
        """foreachBatch runs in a CLONED session whose temp views the
        driver session can't see — copy the batch result onto the
        driver session so `spark.table(sink)` works after the run.
        accumulate=True (the per-micro-batch fan-out/replan callers)
        APPENDS across batches like the default path's
        format("memory") sink — replacing per batch kept only the
        last micro-batch's rows. Guarded by the debug-sink row cap
        (``SET graft.memory-sink.max-rows``): memory is a
        driver-resident debug channel, and an unbounded stream pointed
        at one must fail loudly, not OOM the driver silently."""
        cap = self._memory_max_rows
        held = len(self._memory_rows.get(sink.name, ())) if accumulate else 0
        if cap:
            # held can exceed a cap LOWERED mid-run by SET — clamp so
            # limit() never sees a negative
            rows = out.limit(max(cap - held, 0) + 1).collect()
            if held + len(rows) > cap:
                raise ValueError(
                    f"memory sink {sink.name!r} exceeded"
                    f" {cap} rows — memory/print are driver-resident"
                    " DEBUG sinks; raise `SET"
                    " graft.memory-sink.max-rows` (0 = uncapped) or"
                    " write to a filesystem/jdbc/kafka sink"
                )
        else:
            rows = out.collect()
        if accumulate:
            acc = self._memory_rows.setdefault(sink.name, [])
            acc.extend(rows)
            rows = acc
        self.spark.createDataFrame(
            rows, out.schema
        ).createOrReplaceTempView(sink.name)

    def _state_dir(self, name: str) -> str:
        """Per-runner root for executor-side StateTables (rank state,
        CDC latest state). Under the checkpoint dir when one is
        configured — state then survives restarts alongside the source
        offsets — else a per-runner temp dir (test channel, replayed
        from scratch like the in-process stores)."""
        if self._state_root is None:
            base = self.checkpoint.checkpoint_dir
            if base:
                self._state_root = os.path.join(base, "state_tables")
            else:
                self._state_root = tempfile.mkdtemp(
                    prefix="graft_state_"
                )
        d = os.path.join(self._state_root, name)
        os.makedirs(d, exist_ok=True)
        return d

    def _replace_store(self, name: str, key_cols) -> KeyedStore:
        """Acquire the replace-by-key store for a PK sink, refusing to
        reuse a CombiningStore (delta-fold semantics) that another
        query registered for the same sink — replace-merging a key's
        full row into a fold store would ADD it to the running totals
        instead of replacing, silently double-counting."""
        store = self.upsert_stores.get(name)
        if store is None:
            store = KeyedStore(list(key_cols))
            self.upsert_stores[name] = store
        elif isinstance(store, CombiningStore):
            raise ValueError(
                f"sink {name!r} is already fed by an incremental"
                " aggregation (delta-fold semantics); it cannot also"
                " be fed with replace-by-key semantics in one script"
            )
        return store

    def _append_drained(self, df: DataFrame, sink: TableDef) -> None:
        """Batch-append stop-with-drain tail rows to a streaming sink.
        A filesystem sink takes them as the batch after the last one
        its ``_spark_metadata`` log holds, so the directory keeps its
        log and every reader sees the streamed and the drained rows.
        The frame writer serves the PK store and print; connectors
        without a batch append channel raise loudly (never a silent
        loss of the drained rows)."""
        df = self._align_to_sink(df, sink)
        c = sink.connector
        if sink.primary_key and sink.name not in self.upsert_stores:
            psink = self.parquet_upserts.get(sink.name)
            if psink is None:
                raise ValueError(
                    f"stop-with-drain: PRIMARY-KEY sink {sink.name!r}"
                    f" ({c!r}) has no batch upsert channel"
                )
            # epoch beyond any micro-batch: the pointer guard must not
            # mistake the drain for a replayed batch
            psink.foreach_batch()(df, 2**31)
        elif c == "memory" and not sink.primary_key:
            # the memory sink's temp view keeps serving the streamed
            # rows; re-register it as (streamed ∪ drained). The drained
            # rows are materialized first: they are read from the
            # checkpoint's state store, which a later run may advance
            # and a run-scoped one is removed on stop
            self.spark.table(sink.name).unionByName(
                df.localCheckpoint()
            ).createOrReplaceTempView(sink.name)
        elif c == "filesystem" and not sink.primary_key:
            self._file_sink(sink)(self._sink_log_next_id(sink) or 0, df)
        elif sink.primary_key or c == "print":
            self._write_frame(df, sink)
        elif c != "blackhole":
            raise ValueError(
                f"stop-with-drain: sink connector {c!r} has no batch"
                " append channel — drained rows would be lost"
            )

    def _align_to_sink(self, df: DataFrame, sink: TableDef) -> DataFrame:
        """Flink maps INSERT SELECT output to the sink schema strictly
        BY POSITION (demo_6's `SELECT o.*, p.name, …` lands in
        product_name etc.) — a migrated script must reproduce that,
        including when the query's aliases happen to collide with sink
        names in a different order. Arity mismatch is a user error,
        reported as such (Flink validates the same way)."""
        sink_cols = [
            c.name
            for c in sink.columns
            if c.spark_type is not None and c.computed_expr is None
        ]
        if not sink_cols:
            return df
        if len(df.columns) != len(sink_cols):
            raise ValueError(
                f"INSERT into {sink.name!r}: query emits"
                f" {len(df.columns)} columns, sink declares"
                f" {len(sink_cols)}"
            )
        if [c.lower() for c in df.columns] == [
            c.lower() for c in sink_cols
        ]:
            return df  # already aligned — keep the plan untouched
        return df.toDF(*sink_cols)

    def _cdc_sink_delta(self, sink: TableDef):
        """External-sink propagation for the CDC replace-merge: a
        callable(changed_rows, removed_rows) per recompute, or None
        when the in-process store IS the sink (url-less jdbc / memory
        / print — embedded mode). Honesty contract (ADVICE r01): a
        declared external sink either really receives the data or the
        job refuses to start — never a silent in-memory diversion.
        Deltas are update-rate-bounded; at scale each arm is the
        MERGE/DELETE pair the target database applies atomically."""
        if _in_process_upsert(sink):
            return None
        c = sink.connector
        if c == "jdbc":
            registry.jdbc_probe(
                self.spark, registry.jdbc_reader_options(sink)
            )

            # ONE upsert callback (and one stage table) for the whole
            # stream — minting it per recompute would leave a new
            # stage table in the database every micro-batch
            upsert_cb = registry.jdbc_upsert_foreach_batch(sink)

            def jdbc_delta(changed: list[dict], removed: list[dict]) -> None:
                store = self.upsert_stores[sink.name]
                if changed:
                    upsert_cb(
                        self.spark.createDataFrame(changed, store.schema),
                        -1,
                    )
                registry.jdbc_delete_rows(self.spark, sink, removed)

            return jdbc_delta
        if c == "elasticsearch-7":
            opts = registry.es_sink_options(sink)
            if not opts["hosts"]:
                raise registry.ConnectorUnavailable(
                    f"elasticsearch-7 sink {sink.name!r} has no"
                    " 'hosts' option"
                )
            url = opts["hosts"].rstrip("/") + "/_bulk"
            index = opts["index"]
            pk = sink.primary_key

            def es_delta(changed: list[dict], removed: list[dict]) -> None:
                registry.es_bulk_post(
                    url,
                    registry.es_bulk_payload(changed, index, pk)
                    + registry.es_bulk_delete_payload(removed, index, pk),
                )

            return es_delta
        if c == "filesystem":
            from flink_streaming_platform_web_spark.streaming.parquet_upsert import (
                ParquetUpsertSink,
            )

            psink = ParquetUpsertSink(
                sink.options["path"], sink.primary_key
            )
            self.parquet_upserts[sink.name] = psink

            def fs_delta(changed: list[dict], removed: list[dict]) -> None:
                if not (changed or removed):
                    return
                store = self.upsert_stores[sink.name]
                psink.publish_state(store.to_df(self.spark))

            return fs_delta
        raise registry.ConnectorUnavailable(
            f"CDC pipeline sink connector {c!r} has no replace-merge"
            " implementation in this container (kafka tombstone"
            " propagation needs a broker)"
        )

    def _write_stream_cdc(
        self,
        job: InsertJob,
        refs: list[str],
        cdc_refs: list[str],
        idx: int,
        result: ExecutionResult,
    ) -> None:
        """demo_6 §2.1.2 (O14): INSERTs over mysql-cdc tables run as
        changelog-apply + re-join. Each CDC source's micro-batch folds
        into that table's EXECUTOR-SIDE latest-state table (round 6:
        cdc.foreach_batch_merge_changelog → StateTable keyed MERGE —
        inserts/updates upsert the after-image, deletes remove the
        key; the driver never iterates rows), then the full query
        recomputes over every table's CURRENT state and REPLACES the
        sink's content — so updates rewrite the enriched row and
        deletes make it disappear, Flink's retract-stream propagation
        expressed as per-batch view maintenance. State size = table
        cardinality (what Flink's changelog join also holds), hash-
        bucketed on the PK across executors; per-batch work = the
        bucket-pruned merge + the re-join, which at scale becomes
        incremental MERGE maintenance keyed on the touched rows.
        Convergence: recompute runs after every applied batch, so the
        final sink state equals the join of final table states
        regardless of how the source streams interleave. (The sink's
        KeyedStore remains the in-process test channel — VERDICT r5's
        accepted scope; external sinks get the bounded delta.)"""
        sink = self.tables[job.target]
        if not sink.primary_key:
            raise ValueError(
                f"CDC pipeline sink {job.target!r} needs PRIMARY KEY"
                " (upsert semantics are what propagates updates)"
            )
        out_store = self._replace_store(sink.name, sink.primary_key)
        sink_delta = self._cdc_sink_delta(sink)
        spark = self.spark
        # non-CDC refs that materialized as streams demote to batch
        # snapshots — the recompute executes batch-side per micro-batch
        # (the same processing-time-join parity as the demo_2 co-stream
        # demotion; a streaming view inside the recompute would throw)
        for r in refs:
            if r not in cdc_refs and self._materialized.get(r) == "stream":
                self._materialize_source(r, force_batch=True)
        from flink_streaming_platform_web_spark.streaming.state_table import (
            StateTable,
        )

        state_stores: dict[str, StateTable] = {}
        for r in cdc_refs:
            t = self.tables[r]
            if not t.primary_key:
                raise ValueError(
                    f"mysql-cdc table {r!r} needs PRIMARY KEY"
                )
            # per-INSERT state (keyed by (table, insert idx)): two
            # INSERTs over one CDC table each run their own consumer
            # and must not double-apply into one store. Executor-side
            # StateTable (round 6): the changelog folds via keyed
            # DataFrame MERGE, never a driver row loop; schema from
            # the DDL so an empty table is a valid (empty) view
            # before its first change arrives.
            store = self.cdc_states.setdefault(
                (r, idx),
                StateTable(
                    spark,
                    self._state_dir(f"cdc_{r}_{idx}"),
                    list(t.primary_key),
                    spark.createDataFrame([], t.schema_ddl()).schema,
                ),
            )
            state_stores[r] = store
        sql = translate_expr(job.query_sql)

        def recompute() -> None:
            # runner-global lock: temp-view names are session-wide, so
            # view registration + SQL execution must be atomic across
            # concurrent inserts' micro-batches
            with self._cdc_lock:
                for r, store in state_stores.items():
                    store.view().createOrReplaceTempView(r)
                new_df = self._align_to_sink(spark.sql(sql), sink)
                old_rows = dict(out_store.rows)
                out_store.replace_batch(new_df)
                if sink_delta is not None:
                    new_rows = dict(out_store.rows)
                    changed = [
                        v
                        for k, v in new_rows.items()
                        if old_rows.get(k) != v
                    ]
                    removed = [
                        old_rows[k]
                        for k in old_rows.keys() - new_rows.keys()
                    ]
                    sink_delta(changed, removed)

        from flink_streaming_platform_web_spark.streaming.cdc import (
            foreach_batch_merge_changelog,
        )

        for r in cdc_refs:
            apply_fn = foreach_batch_merge_changelog(
                state_stores[r], list(self.tables[r].primary_key)
            )

            def fb(batch, epoch_id, _apply=apply_fn):
                # the merge holds the same lock recompute does: another
                # table's concurrent recompute must never read this
                # state mid-bucket-swap
                with self._cdc_lock:
                    _apply(batch, epoch_id)
                recompute()

            writer = (
                self._cdc_streams[r]
                .writeStream.foreachBatch(fb)
                .outputMode("append")
                .queryName(f"cdc_{r}_{idx}")
            )
            # deliberately NO checkpointLocation. The STATE would now
            # survive a checkpointed restart (round 6: StateTable is
            # durable and idempotent) — but the external-sink DELTA
            # would not: sink_delta diffs against the previous
            # recompute's in-process snapshot, which restarts empty,
            # so a delete arriving after the restart would never
            # propagate as a DELETE to jdbc/ES (the row just vanishes
            # from the new snapshot nobody compares against).
            # Replay-from-scratch keeps recovery correct end-to-end
            # (apply is deterministic and idempotent, so full replay
            # converges); a deployment that wants resume puts the
            # MERGE server-side where the sink itself holds the
            # previous state, and THEN checkpoints the source.
            self._start(writer, result)

    def _write_batch(
        self,
        df: DataFrame,
        sink: TableDef,
        job: InsertJob,
        result: ExecutionResult,
    ) -> None:
        c = sink.connector
        if c == "print":
            df.show(truncate=False)
            result.batch_results[sink.name] = df.count()
        elif c == "blackhole":
            self._write_frame(df, sink)
            result.batch_results[sink.name] = -1
        elif c == "filesystem":
            # a directory a streaming sink wrote is read through its
            # _spark_metadata log alone: an append joins the log
            nxt = None if job.overwrite else self._sink_log_next_id(sink)
            if nxt is not None:
                self._file_sink(sink)(nxt, df)
            else:
                self._fs_writer(df.write, sink).mode(
                    "overwrite" if job.overwrite else "append"
                ).save(sink.options["path"])
            result.batch_results[sink.name] = -1
        elif c == "memory":
            df.createOrReplaceTempView(sink.name)
            result.batch_results[sink.name] = df.count()
        elif c == "jdbc":
            if sink.options.get("url"):
                registry.jdbc_batch_write(df, sink, overwrite=job.overwrite)
                result.batch_results[sink.name] = -1
            else:
                raise registry.ConnectorUnavailable(
                    f"jdbc batch sink {sink.name!r} has no 'url' option"
                )
        elif (
            plugin := registry.get_plugin(c)
        ) is not None and plugin.sink_batch is not None:
            plugin.sink_batch(df, sink, job.overwrite)
            result.batch_results[sink.name] = -1
        else:
            raise ValueError(f"unsupported batch sink connector: {c!r}")

    def _query_checkpoint(self, sink: TableDef, idx: int) -> "str | None":
        """Checkpoint location of the streaming query _write_stream
        starts for INSERT ``idx``: under the job's checkpoint dir, or
        None when the job configured none or the sink keeps its state
        in process (replayed from scratch on restart)."""
        if _in_process_upsert(sink):
            return None
        return self._job_checkpoint(f"q{idx}_{sink.name}")

    def _job_checkpoint(self, name: str) -> "str | None":
        """``name`` under the job's checkpoint dir, or None when the
        job configured none."""
        base = self.checkpoint.checkpoint_dir
        return f"{base}/{name}" if base else None

    def _start(
        self,
        writer,
        result: ExecutionResult,
        checkpoint: "str | None" = None,
        run_scoped: "str | None" = None,
        drain=None,
    ):
        """Start ``writer`` as one of the job's streaming queries with
        the job's trigger, and append it to ``result``. Each route
        passes its own ``checkpoint`` policy. A query that cannot
        start or drain without a checkpoint names a ``run_scoped``
        prefix instead: it then checkpoints to a temp dir unique to
        this start, which no later run can resume from and its stop
        removes. ``drain(checkpoint)`` is the query's stop-with-drain,
        dropped under ``SET graft.stop.drain = false``."""
        temp = None
        if checkpoint is None and run_scoped is not None:
            checkpoint = temp = tempfile.mkdtemp(prefix=run_scoped)
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        if self._trigger:
            writer = writer.trigger(**self._trigger)
        try:
            q = writer.start()
        except BaseException:
            if temp is not None:
                shutil.rmtree(temp, ignore_errors=True)
            raise
        if drain is not None and self._stop_drain:
            q = DrainingQuery(q, lambda: drain(checkpoint), temp)
        elif temp is not None:
            q = DrainingQuery(q, None, temp)
        result.streaming_queries.append(q)

    def _event_time_watermark(
        self, table: str, col: str, op: str
    ) -> WatermarkDef:
        """Plan-time check for the event-time streaming operators
        (OVER, the event-time temporal join, MATCH_RECOGNIZE): the
        source ``table`` must declare a WATERMARK on ``col``, the
        operator's ordering column. Flink 1.13 rejects these
        operators unless they order by a watermarked time attribute,
        and their watermark buffer (ooo.watermark_buffered) releases
        nothing without one. Returns the watermark."""
        tdef = self.tables.get(table)
        wm = tdef.watermark if tdef is not None else None
        if wm is None or wm.column != col:
            raise ValueError(
                f"streaming {op} over {table!r} needs a WATERMARK on"
                f" its ordering column {col!r}: the operator buffers"
                " out-of-order rows until the watermark passes them"
                " (as Flink's does); declare one or run the job in"
                " batch mode"
            )
        return wm

    def _key_groups(self, sink: TableDef, idx: int) -> int:
        """Key-group count for the buffered operator of INSERT
        ``idx``: pinned by its query checkpoint (ooo.pinned_key_groups)
        so a restore hashes keys into the buckets holding their
        state."""
        from flink_streaming_platform_web_spark.streaming.ooo import (
            pinned_key_groups,
        )

        return pinned_key_groups(
            self.spark, self._query_checkpoint(sink, idx)
        )

    def _write_stream(
        self,
        df: DataFrame,
        sink: TableDef,
        idx: int,
        result: ExecutionResult,
        drain: "tuple | None" = None,
    ) -> None:
        """Start the streaming INSERT ``idx`` on the sink connector's
        writer. ``drain`` is (DrainSpec, post-projection) of a
        buffered-operator route: its stop flushes the rows the
        watermark never passed into the sink (stop-with-drain)."""
        c = sink.connector
        upsert = bool(sink.primary_key)
        run_scoped = None
        # connector routes FIRST: a PK on upsert-kafka/ES selects the
        # connector's own upsert mechanism (key serialization / doc id),
        # never the in-process store (ADVICE r01: the generic upsert
        # fallback made the kafka branch unreachable and silently
        # diverted declared external sinks to an in-memory dict)
        if c in ("kafka", "upsert-kafka"):
            writer = registry.kafka_writer(df, sink)
            if registry.kafka_sink_needs_checkpoint(sink):
                run_scoped = f"graft_kafka_ckpt_q{idx}_"
        elif c == "elasticsearch-7":
            writer = registry.es_writer(df, sink)
        elif upsert and c == "filesystem":
            # durable PK sink: MERGE-emulating parquet upsert
            from flink_streaming_platform_web_spark.streaming.parquet_upsert import (
                ParquetUpsertSink,
            )

            psink = ParquetUpsertSink(
                sink.options["path"], sink.primary_key
            )
            self.parquet_upserts[sink.name] = psink
            writer = df.writeStream.outputMode("update").foreachBatch(
                psink.foreach_batch()
            )
        elif upsert and c == "jdbc" and sink.options.get("url"):
            # live database upsert: executor-parallel stage write + one
            # server-side MERGE per micro-batch. Unreachable url /
            # missing driver jar raises ConnectorUnavailable at
            # registration (never silently diverts — ADVICE r01).
            writer = registry.jdbc_upsert_writer(df, sink)
        elif _in_process_upsert(sink):
            # url-less jdbc / memory / print PK sink → in-process keyed
            # MERGE store (demo_1.md upsert path in embedded/test mode;
            # SURVEY §7.3). NO checkpoint for this writer
            # (_query_checkpoint): the store is process-local, so a
            # checkpointed restart would skip replay against empty
            # state (same contract as the CDC path) —
            # replay-from-scratch converges.
            store = self._replace_store(sink.name, sink.primary_key)
            writer = df.writeStream.outputMode("update").foreachBatch(
                foreach_batch_upsert(store)
            )
        elif (
            plugin := registry.get_plugin(c)
        ) is not None and plugin.sink_stream is not None:
            # plugin sinks own their upsert semantics (like
            # upsert-kafka/ES above: the PK rides the connector)
            writer = plugin.sink_stream(df, sink)
        elif upsert:
            raise registry.ConnectorUnavailable(
                f"PRIMARY-KEY sink connector {c!r} has no in-process"
                " upsert implementation"
            )
        elif c == "print":
            writer = df.writeStream.format("console").outputMode("append")
        elif c == "blackhole":
            writer = df.writeStream.format("noop").outputMode("append")
        elif c == "memory":
            writer = (
                df.writeStream.format("memory")
                .queryName(sink.name)
                .outputMode("complete" if _is_aggregated(df) else "append")
            )
        elif c == "filesystem":
            writer = self._fs_writer(df.writeStream, sink).option(
                "path", sink.options["path"]
            ).outputMode("append")
        else:
            raise ValueError(f"unsupported stream sink connector: {c!r}")
        ckpt_loc = self._query_checkpoint(sink, idx)
        if drain is None:
            self._start(writer, result, ckpt_loc, run_scoped)
            return
        spec, post = drain

        def drain_to_sink(checkpoint: str) -> None:
            from flink_streaming_platform_web_spark.streaming.ooo import (
                drain_pending,
            )

            out = drain_pending(self.spark, checkpoint, spec)
            if out is not None:
                out = post(out)
                if not out.isEmpty():
                    self._append_drained(out, sink)

        # raise the Arrow batch size for the buffered-operator stream's
        # lifetime: StreamExecution's constructor clones the session
        # before start() returns, so restoring right after start()
        # leaves batch queries untouched
        arrow_prev = self.spark.conf.get(_ARROW_BATCH_KEY, None)
        # track the set with its own flag (ADVICE r14): conf.get
        # returns the SQL built-in default today, but if it ever
        # returned None for an unset key, keying the restore on
        # `arrow_prev is not None` would leak the raise into the
        # session for every subsequent batch query
        arrow_did_set = int(arrow_prev or 10000) < _WB_ARROW_BATCH
        if arrow_did_set:
            self.spark.conf.set(_ARROW_BATCH_KEY, str(_WB_ARROW_BATCH))
        try:
            # stop-with-drain reads the state store back after stop
            # (ooo.drain_pending), so the checkpoint must live where
            # the runner can find it — a run-scoped dir when the job
            # configured none, so a process-local-state restart still
            # replays from scratch (the in-process store contract
            # above holds)
            self._start(
                writer, result, ckpt_loc, f"graft_drain_q{idx}_",
                drain_to_sink,
            )
        finally:
            if arrow_did_set:
                if arrow_prev is not None:
                    self.spark.conf.set(_ARROW_BATCH_KEY, arrow_prev)
                else:
                    self.spark.conf.unset(_ARROW_BATCH_KEY)


def _in_process_upsert(sink: TableDef) -> bool:
    """A PK sink that _write_stream serves from an in-process keyed
    store: url-less jdbc, memory or print."""
    c = sink.connector
    return bool(sink.primary_key) and (
        c in ("memory", "print")
        or (c == "jdbc" and not sink.options.get("url"))
    )


def _frame_sink(sink: TableDef) -> bool:
    """A sink the frame fan-out serves (``_write_frame``, or
    ``_file_sink`` for a filesystem sink): an in-process PK store, or
    a non-PK print, blackhole, filesystem or memory sink."""
    if sink.primary_key:
        return _in_process_upsert(sink)
    return sink.connector in ("print", "blackhole", "filesystem", "memory")


def _is_aggregated(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


class DrainingQuery:
    """Proxy over a started ``StreamingQuery`` whose ``stop()`` is
    Flink's ``stop --drain``: Flink emits ``MAX_WATERMARK`` so
    event-time operators flush buffered elements before shutdown (and
    bounded sources emit it at end-of-input). After the wrapped query
    stops, and only if it did not fail, ``drain`` flushes the rows the
    watermark never passed — the tail of every bounded run — into the
    sink, once, so bounded input loses no rows. The runner's drain
    runs the buffered operator's pending state through its fold
    (ooo.drain_pending); the foreachBatch CEP route runs its pending
    frame through its tier (fb_cep). Like Flink's ``--drain``, a
    drained query must not be restarted from the same checkpoint (the
    drained rows would replay). ``temp_dir`` is a run-scoped
    checkpoint no later run can resume from: ``stop()`` removes it
    once the drain has read it, also after a plain stop or a failed
    query. Every other attribute delegates to the wrapped query."""

    def __init__(self, query, drain, temp_dir: "str | None" = None):
        self._q = query
        self._drain = drain
        self._temp_dir = temp_dir

    def __getattr__(self, name):
        return getattr(self._q, name)

    def stop(self) -> None:
        try:
            self._q.stop()
            # surface a query failure instead of draining on top of it
            self._q.awaitTermination()
            # drain once: a second stop() must not append the tail again
            drain, self._drain = self._drain, None
            if drain is not None:
                drain()
        finally:
            if self._temp_dir is not None:
                shutil.rmtree(self._temp_dir, ignore_errors=True)


@dataclass
class _WindowTopN:
    """Parsed Flink streaming rank shape — one of the three documented
    ROW_NUMBER patterns (Flink docs: queries/window-topn, queries/topn,
    queries/deduplication; all use the same nesting: inner query,
    middle ROW_NUMBER over a partition, outer rank filter):

    - Window Top-N: inner is a window-TVF aggregation (GROUP BY with
      window_start) — per-window rank state, closed by event time.
    - Top-N: inner is an updating aggregation over arbitrary keys —
      continuously maintained per-partition rank state.
    - Deduplication: inner is a PLAIN select (no GROUP BY) and the
      filter is rn = 1 (or rn <= N for raw-row top-n) — per-key
      best-row(s) state over the raw stream.

    ``inner_is_agg`` selects the state layout; ``group_cols`` is the
    state key (inner GROUP BY, or the partition itself for raw rows)."""

    inner_sql: str
    group_cols: list[str]  # state key (plain names required)
    part_cols: list[str]  # rank partition
    ord_col: str
    ord_desc: bool
    rn_alias: str
    topn: int
    inner_is_agg: bool


def _parse_window_topn(sql: str) -> "_WindowTopN | None":
    """Recognize Flink's documented streaming rank nestings. Returns
    None for anything else — the caller then takes the normal path
    (and Spark's UnsupportedOperationChecker fails loudly for
    unsupported streaming rank shapes, never a silent wrong answer)."""
    m = re.search(
        r"ROW_NUMBER\(\)\s+OVER\s*\(\s*PARTITION\s+BY\s+(.+?)"
        r"\s+ORDER\s+BY\s+(.+?)\)\s+AS\s+`?(\w+)`?",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        return None
    # the rank select must be exactly `SELECT *, ROW_NUMBER() ...` and
    # the OUTER select a plain column list — any expression computed
    # in either would be silently dropped by the state re-plan, which
    # builds sink rows from the INNER query's columns (code-review r5)
    sel = sql.upper().rfind("SELECT", 0, m.start())
    if sel < 0 or not re.fullmatch(
        r"\s*\*\s*,\s*", sql[sel + 6:m.start()]
    ):
        return None
    outer_items = _split_select_list(sql)
    if outer_items is None or not all(
        re.fullmatch(r"\*|[A-Za-z_]\w*", i.strip().strip("`"))
        for i in outer_items
    ):
        return None
    part_cols = [c.strip().strip("`") for c in m.group(1).split(",")]
    # bare identifiers only: the state code looks rows up by name, so
    # a qualified t.col would KeyError mid-stream instead of failing
    # loudly up front (code-review r5)
    if not all(re.fullmatch(r"[A-Za-z_]\w*", c) for c in part_cols):
        return None  # expression/qualified partitions: the loud path
    om = re.match(
        r"`?([A-Za-z_]\w*)`?\s*(ASC|DESC)?\s*$", m.group(2).strip(),
        re.IGNORECASE,
    )
    if not om:
        return None
    rn_alias = m.group(3)
    # rank filter: `rn <= N` (top-n) or `rn = 1` (deduplication)
    fm = re.search(
        rf"WHERE\s+`?{rn_alias}`?\s*(?:<=\s*(\d+)|=\s*(1))\s*$",
        sql.rstrip().rstrip(";"),
        re.IGNORECASE,
    )
    if not fm:
        return None
    topn = int(fm.group(1) or fm.group(2))
    # innermost subquery: the parenthesized FROM of the rank select
    i = sql.upper().find("FROM", m.end())
    if i < 0:
        return None
    j = sql.find("(", i)
    if j < 0 or sql[i + 4:j].strip():
        return None  # rank select reads a named table, not a subquery
    from flink_streaming_platform_web_spark.sql.script import (
        SqlParseError,
        find_balanced,
    )

    try:
        k = find_balanced(sql, j)
    except SqlParseError:
        return None
    inner = sql[j + 1:k].strip()
    gm = re.search(
        r"GROUP\s+BY\s+(.+?)\s*$", inner, re.IGNORECASE | re.DOTALL
    )
    if gm:
        group_cols = [
            c.strip().strip("`") for c in gm.group(1).split(",")
        ]
        if not all(
            re.fullmatch(r"[A-Za-z_]\w*", c) for c in group_cols
        ):
            return None  # expression keys: the loud path
        inner_is_agg = True
    else:
        # deduplication / raw-row top-n: state keys by the partition
        group_cols = list(part_cols)
        inner_is_agg = False
    return _WindowTopN(
        inner_sql=inner,
        group_cols=group_cols,
        part_cols=part_cols,
        ord_col=om.group(1),
        ord_desc=(om.group(2) or "ASC").upper() == "DESC",
        rn_alias=rn_alias,
        topn=topn,
        inner_is_agg=inner_is_agg,
    )


@dataclass
class _StreamOver:
    """Parsed streaming OVER aggregation (Flink docs:
    queries/over-agg): every aggregate in the SELECT shares one
    window (Flink's documented constraint) — time-range, row-count,
    or unbounded-preceding, always ending at CURRENT ROW."""

    src: str
    part_cols: list[str]
    ts_col: str
    mode: str  # 'range' | 'rows' | 'unbounded'
    size: float | int | None
    aggs: list[tuple[str, str | None, int | None, str]]
    out_cols: list[str]


_OVER_SPEC_RE = re.compile(
    r"PARTITION\s+BY\s+(.+?)\s+ORDER\s+BY\s+`?(\w+)`?\s+"
    r"(RANGE|ROWS)\s+BETWEEN\s+"
    r"(?:(UNBOUNDED)\s+PRECEDING|INTERVAL\s+'(\d+)'\s+(\w+)\s+PRECEDING"
    r"|(\d+)\s+PRECEDING)"
    r"\s+AND\s+CURRENT\s+ROW\s*$",
    re.IGNORECASE | re.DOTALL,
)

_OVER_ITEM_RE = re.compile(
    r"^(?:CAST\s*\(\s*)?(SUM|COUNT|MIN|MAX)\s*\(\s*(.+?)\s*\)\s*"
    r"OVER\s+(?:`?(\w+)`?|\(\s*(.+?)\s*\))\s*"
    r"(?:AS\s+DOUBLE\s*\))?\s*AS\s+`?(\w+)`?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_OVER_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _parse_stream_over(sql: str) -> "_StreamOver | None":
    """Recognize the streaming OVER shape: `SELECT plain-cols and
    agg(x) OVER w/(spec) ... FROM <table> [WINDOW w AS (spec)]`.
    Returns None for anything else (the normal path then lets Spark's
    UnsupportedOperationChecker reject streaming window functions
    loudly — never a silent wrong answer)."""
    text = sql.strip().rstrip(";")
    named = None
    wm = re.search(
        r"\bWINDOW\s+`?(\w+)`?\s+AS\s*\(\s*(.+?)\s*\)\s*$",
        text,
        re.IGNORECASE | re.DOTALL,
    )
    if wm:
        named = (wm.group(1), wm.group(2))
        text = text[: wm.start()].rstrip()
    fm = re.search(
        r"\bFROM\s+([\w.`]+)\s*$", text, re.IGNORECASE
    )
    if not fm:
        return None
    items = _split_select_list(text)
    if items is None:
        return None
    aggs: list[tuple[str, str | None, int | None, str]] = []
    out_cols: list[str] = []
    specs: set[str] = set()
    for item in items:
        item = item.strip()
        pm = re.fullmatch(r"`?([A-Za-z_]\w*)`?", item)
        if pm:
            out_cols.append(pm.group(1))
            continue
        am = _OVER_ITEM_RE.match(item)
        if not am:
            return None
        fn = am.group(1).lower()
        arg = am.group(2).strip()
        wref, inline, alias = am.group(3), am.group(4), am.group(5)
        if wref is not None:
            if named is None or wref.lower() != named[0].lower():
                return None
            specs.add(re.sub(r"\s+", " ", named[1]).lower())
        else:
            specs.add(re.sub(r"\s+", " ", inline).lower())
        col: str | None
        scale: int | None = None
        if arg == "*":
            if fn != "count":
                return None
            col = None
        else:
            cm = re.fullmatch(
                r"CAST\s*\(\s*`?(\w+)`?\s+AS\s+DECIMAL\s*\(\s*\d+\s*,"
                r"\s*(\d+)\s*\)\s*\)",
                arg,
                re.IGNORECASE,
            )
            if cm:
                if fn != "sum":
                    return None
                col, scale = cm.group(1), int(cm.group(2))
            elif re.fullmatch(r"`?\w+`?", arg):
                col = arg.strip("`")
            else:
                return None
        aggs.append((fn, col, scale, alias))
        out_cols.append(alias)
    if not aggs:
        return None
    if len(specs) != 1:
        raise ValueError(
            "streaming OVER: every aggregate must share one window"
            " specification (Flink queries/over-agg constraint)"
        )
    sm = _OVER_SPEC_RE.match(specs.pop())
    if not sm:
        return None
    part_cols = [c.strip().strip("`") for c in sm.group(1).split(",")]
    if not all(re.fullmatch(r"[A-Za-z_]\w*", c) for c in part_cols):
        return None
    kind = sm.group(3).upper()
    if sm.group(4):  # UNBOUNDED
        mode, size = "unbounded", None
        if kind == "ROWS":
            # ROWS UNBOUNDED excludes following peers; the operator
            # implements the RANGE peer contract — reject rather than
            # silently diverge on ties
            return None
    elif sm.group(5):  # INTERVAL range
        if kind != "RANGE":
            return None
        unit = _OVER_UNITS.get(sm.group(6).lower())
        if unit is None:
            return None
        mode, size = "range", int(sm.group(5)) * unit
    else:  # n PRECEDING
        if kind != "ROWS":
            return None
        mode, size = "rows", int(sm.group(7))
    return _StreamOver(
        src=fm.group(1).strip("`"),
        part_cols=part_cols,
        ts_col=sm.group(2),
        mode=mode,
        size=size,
        aggs=aggs,
        out_cols=out_cols,
    )


# -- algebraic select-list analysis (incremental TTL-dim aggregation) ------

_AGG_FN_RE = re.compile(r"^(SUM|COUNT|MIN|MAX)\s*\(", re.IGNORECASE)
_AGG_TAIL_RE = re.compile(r"^(?:\s+AS\s+[\w`]+)?\s*$", re.IGNORECASE)


def _split_select_list(sql: str) -> list[str] | None:
    """Top-level SELECT-list items of `sql` (None if the text is not a
    single plain SELECT). Paren depth and ''-escaped string literals
    are respected, so commas inside CASE/functions/subqueries and a
    literal "FROM" never split."""
    m = re.match(r"\s*SELECT\s+", sql, re.IGNORECASE)
    if not m:
        return None
    i, n = m.end(), len(sql)
    start, depth, in_str = i, 0, False
    items: list[str] = []
    while i < n:
        ch = sql[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and sql[i + 1] == "'":
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            if ch == ",":
                items.append(sql[start:i])
                start = i + 1
            elif (
                sql[i : i + 4].upper() == "FROM"
                and sql[i - 1].isspace()
                and (i + 4 >= n or not sql[i + 4].isalnum())
            ):
                items.append(sql[start:i])
                return [s.strip() for s in items if s.strip()]
        i += 1
    return None


def _classify_agg_item(item: str) -> tuple[str, str | None] | None:
    """('agg', combiner-op) for a bare SUM/COUNT/MIN/MAX(...) item
    (optionally aliased), ('key', None) for a non-aggregate item, None
    for anything the incremental fold cannot combine (DISTINCT inside
    the call, arithmetic ON aggregates like SUM(a)+SUM(b), AVG, ...)."""
    m = _AGG_FN_RE.match(item)
    if not m:
        # a non-agg item that still MENTIONS an agg fn deeper in (e.g.
        # 1 + SUM(x)) is not a pure key — reject the whole statement
        if re.search(r"\b(SUM|COUNT|MIN|MAX|AVG)\s*\(", item, re.IGNORECASE):
            return None
        return ("key", None)
    # the fn's opening paren must close at the item's end (modulo an
    # optional alias) — otherwise the agg is nested in arithmetic
    depth, i = 0, m.end() - 1
    while i < len(item):
        if item[i] == "(":
            depth += 1
        elif item[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    if depth != 0 or not _AGG_TAIL_RE.match(item[i + 1 :]):
        return None
    inner = item[m.end() : i].strip()
    if re.match(r"DISTINCT\b", inner, re.IGNORECASE):
        return None
    fn = m.group(1).lower()
    return ("agg", "sum" if fn in ("sum", "count") else fn)
