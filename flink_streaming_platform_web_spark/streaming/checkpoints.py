"""Checkpoint configuration mapping.

Rebuilds ``CheckPointParams.buildCheckPointParam`` /
``FsCheckPoint.setCheckpoint``
(flink-streaming-core/src/main/java/com/flink/streaming/core/checkpoint/,
defaults at CheckPointParam.java:20-52) onto Spark Structured
Streaming's model:

| Flink knob (reference default) | Spark mapping |
|---|---|
| checkpointInterval (60 s)      | trigger(processingTime=…) — Spark checkpoints every micro-batch |
| checkpointingMode EXACTLY_ONCE | exactly-once state + idempotent/upsert sinks (SURVEY §7.3) |
| checkpointDir                  | checkpointLocation per query |
| stateBackendType ROCKSDB       | RocksDB state store provider |
| externalized retention         | checkpoints always survive the query (registry = savepoint list) |
| tolerableCheckpointFailureNumber | n/a — Spark fails the batch and retries from the last checkpoint |
| checkpoint file manager (FsCheckPoint's filesystem) | FileSystem-based on a `file:` (or scheme-less) default FS, whose FileContext renames spawn a `readlink` process per file without libhadoop; Spark's default for every other scheme |
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import urlsplit

#: the Spark SQL conf naming the class that writes checkpoint files
CHECKPOINT_FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark 4.1's package for it; the pre-4.1 name (without
#: ``.checkpointing``) fails with CANNOT_LOAD_CHECKPOINT_FILE_MANAGER
FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@dataclass
class CheckPointParam:
    """Mirrors CheckPointParam.java fields + defaults (:20-52)."""

    checkpoint_dir: str | None = None
    checkpoint_interval_ms: int = 60_000
    checkpointing_mode: str = "EXACTLY_ONCE"
    checkpoint_timeout_ms: int = 600_000
    tolerable_failures: int = 1
    state_backend: str = "FILE"  # MEMORY | FILE | ROCKSDB


def spark_confs(p: CheckPointParam) -> dict[str, str]:
    """Session-level confs implied by the checkpoint param."""
    confs: dict[str, str] = {}
    if p.state_backend.upper() == "ROCKSDB":
        confs["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
        # incremental-checkpoint analog (Flink rocksdb incremental)
        confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    return confs


def checkpoint_file_manager_conf(fs_uri: str) -> dict[str, str]:
    """The session conf choosing the checkpoint file manager for a
    session whose Hadoop default filesystem is ``fs_uri``.

    On ``file:`` (or a bare path) this is the FileSystem-based manager.
    Spark's default FileContext-based manager renames each checkpoint
    file through ``FileContext``, and without libhadoop Hadoop's local
    filesystem resolves that rename by running ``readlink`` as a child
    process of the JVM: ~100 ms per state partition per micro-batch.
    On ``file:`` the FileSystem-based manager keeps the contracts
    checkpoints rely on:

    - the offset, commit and ``_spark_metadata`` logs stay
      create-if-absent: ``createAtomic(p, overwriteIfPossible=false)``
      on an existing file raises ``FileAlreadyExistsException``;
    - a state-store delta or snapshot file appears whole or not at all
      (written to a temp file, then renamed). Writing an existing one
      again (a retried batch) is a best-effort overwrite, which is
      Spark's contract for ``overwriteIfPossible=true``: the
      ``ProxyLocalFileSystem`` that Spark's Hive jars register for
      ``file:`` refuses to rename onto an existing file, so the
      earlier, complete file is kept;
    - ``.crc`` files stay on (``LocalFileSystem`` is a
      ``ChecksumFileSystem``);
    - one checkpoint never has two writers, because ``JobManager``
      refuses to start a job that is already running.

    Every other scheme (HDFS, object stores) gets ``{}`` and keeps
    Spark's default.

    This is a session default, decided once from the default
    filesystem, not set and restored around each ``writer.start()``:
    Spark clones the query's session after ``start()`` returns and the
    state store reads the manager class from that clone, so a
    per-query toggle would race with the query it is meant for.
    """
    if urlsplit(fs_uri).scheme in ("", "file"):
        return {CHECKPOINT_FILE_MANAGER_KEY: FS_CHECKPOINT_FILE_MANAGER}
    return {}


def trigger_kwargs(p: CheckPointParam) -> dict[str, str]:
    """writeStream.trigger(**kwargs) — checkpoint cadence maps to the
    micro-batch trigger interval. Milliseconds pass through directly:
    integer-dividing to seconds silently turned sub-second intervals
    into '0 seconds' (= as-fast-as-possible)."""
    return {"processingTime": f"{p.checkpoint_interval_ms} milliseconds"}
