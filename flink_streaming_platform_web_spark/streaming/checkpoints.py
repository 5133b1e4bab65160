"""Checkpoint configuration mapping.

Rebuilds ``CheckPointParams.buildCheckPointParam`` /
``FsCheckPoint.setCheckpoint``
(flink-streaming-core/src/main/java/com/flink/streaming/core/checkpoint/,
defaults at CheckPointParam.java:20-52) onto Spark Structured
Streaming's model:

| Flink knob (reference default) | Where it lives in this rebuild |
|---|---|
| checkpointInterval (60 s)      | `SET table.exec.mini-batch.allow-latency` sets the micro-batch trigger; Spark checkpoints every micro-batch |
| checkpointingMode EXACTLY_ONCE | always: exactly-once state + idempotent/upsert sinks (SURVEY §7.3) |
| checkpointTimeout (10 min)     | n/a: a micro-batch commits or fails as a whole |
| checkpointDir                  | `CheckPointParam.checkpoint_dir` → checkpointLocation per query |
| stateBackendType ROCKSDB       | `SET spark.sql.streaming.stateStore.providerClass` (passed through to the session conf) |
| externalized retention         | checkpoints always survive the query (registry = savepoint list) |
| tolerableCheckpointFailureNumber | n/a: Spark fails the batch and retries from the last checkpoint |
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
    """The one per-job checkpoint setting the platform passes: where
    the job's query checkpoints live (``None``: run-scoped temp dirs).
    The reference's other CheckPointParam.java fields map as in the
    module table above."""

    checkpoint_dir: str | None = None


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

    This is a session default, not set and restored around each
    ``writer.start()``: the choice depends only on the default
    filesystem, which every query of the session shares, so it is one
    decision per session.
    """
    if urlsplit(fs_uri).scheme in ("", "file"):
        return {CHECKPOINT_FILE_MANAGER_KEY: FS_CHECKPOINT_FILE_MANAGER}
    return {}

