"""The checkpoint file manager a session writes streaming checkpoints
with, and the contracts checkpoints rely on under it."""

from __future__ import annotations

import json
import os

import pytest
from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError

from flink_streaming_platform_web_spark.session import get_spark
from flink_streaming_platform_web_spark.streaming.checkpoints import (
    CHECKPOINT_FILE_MANAGER_KEY,
    FS_CHECKPOINT_FILE_MANAGER,
    checkpoint_file_manager_conf,
)

#: Spark's own default manager, as a session chooses it explicitly
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _file_manager(spark, path):
    """The manager Spark's streaming code creates for ``path``."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.\
        CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )


@pytest.fixture()
def manager_conf(spark):
    """Restores the session's manager conf after the test."""
    before = spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None)
    yield
    if before is None:
        spark.conf.unset(CHECKPOINT_FILE_MANAGER_KEY)
    else:
        spark.conf.set(CHECKPOINT_FILE_MANAGER_KEY, before)


@pytest.mark.parametrize("uri", ["file:///", "/tmp/ckpt", "file:/x"])
def test_local_filesystem_gets_fs_manager(uri):
    assert checkpoint_file_manager_conf(uri) == {
        CHECKPOINT_FILE_MANAGER_KEY: FS_CHECKPOINT_FILE_MANAGER
    }


@pytest.mark.parametrize("uri", ["hdfs://nn:8020/", "s3a://b/"])
def test_other_schemes_keep_spark_default(uri):
    assert checkpoint_file_manager_conf(uri) == {}


def test_session_resolves_fs_manager(spark, tmp_path):
    fm = _file_manager(spark, tmp_path)
    assert fm.getClass().getName() == FS_CHECKPOINT_FILE_MANAGER


def test_explicit_manager_choice_is_kept(spark, tmp_path, manager_conf):
    """``extra_conf`` (like SPARK_GRAFT_CONF) can still pick Spark's
    default manager; ``get_spark`` only fills the conf when unset."""
    get_spark(
        "tests", master="local[4]", shuffle_partitions=4,
        extra_conf={CHECKPOINT_FILE_MANAGER_KEY: FILE_CONTEXT_MANAGER},
    )
    fm = _file_manager(spark, tmp_path)
    assert fm.getClass().getName() == FILE_CONTEXT_MANAGER


def test_create_atomic_keeps_log_and_state_contracts(spark, tmp_path):
    """Log entries are create-if-absent; a state file written again is
    overwritten on a best-effort basis, which is Spark's contract for
    ``overwriteIfPossible``: no error, and a complete file remains."""
    fm = _file_manager(spark, tmp_path)
    p = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))

    def write(data: bytes, overwrite: bool):
        out = fm.createAtomic(p, overwrite)
        out.write(data)
        out.close()

    write(b"first", False)
    with pytest.raises(Py4JJavaError) as err:
        write(b"second", False)
    # the metadata logs catch this type to detect a concurrent writer
    assert is_instance_of(
        spark._sc._gateway, err.value.java_exception,
        "org.apache.hadoop.fs.FileAlreadyExistsException",
    )
    assert (tmp_path / "0").read_bytes() == b"first"
    write(b"third", True)
    # Hadoop's LocalFileSystem renames over the old file; the local
    # filesystem Spark's Hive jars register for file: refuses, and the
    # manager then keeps the old file
    assert (tmp_path / "0").read_bytes() in (b"first", b"third")
    assert ".0.crc" in os.listdir(tmp_path)


def _add_input(src, n, keys):
    src.mkdir(exist_ok=True)
    with open(src / f"part-{n}.json", "w") as f:
        f.writelines(json.dumps({"k": k}) + "\n" for k in keys)


def _run_dedup(spark, src, ckpt, out):
    """A stateful query (keyed dedup into a file sink) run until the
    input is drained, one file per micro-batch."""
    q = (
        spark.readStream.schema("k STRING")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .dropDuplicates(["k"])
        .writeStream.format("parquet")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start(str(out))
    )
    q.awaitTermination()


def _entries(d):
    return sorted(f for f in os.listdir(d) if not f.startswith("."))


def test_checkpoint_files_keep_checksums(spark, tmp_path):
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    _add_input(src, 0, ["a", "b"])
    _run_dedup(spark, src, ckpt, tmp_path / "out")
    for log in ("offsets", "commits"):
        assert ".0.crc" in os.listdir(ckpt / log)
    state = ckpt / "state" / "0"
    for part in os.listdir(state):
        if part.isdigit():
            assert ".1.delta.crc" in os.listdir(state / part)
    assert ".0.crc" in os.listdir(tmp_path / "out" / "_spark_metadata")


def test_checkpoint_from_default_manager_restores(
    spark, tmp_path, manager_conf
):
    """A checkpoint written by Spark's default manager resumes under
    the FS manager at its committed offset, with its state and no
    duplicate output."""
    src, ckpt, out = tmp_path / "src", tmp_path / "ckpt", tmp_path / "out"
    _add_input(src, 0, ["a", "b"])
    _add_input(src, 1, ["b", "c"])
    spark.conf.set(CHECKPOINT_FILE_MANAGER_KEY, FILE_CONTEXT_MANAGER)
    assert _file_manager(spark, ckpt).getClass().getName() == (
        FILE_CONTEXT_MANAGER
    )
    _run_dedup(spark, src, ckpt, out)
    assert _entries(ckpt / "commits") == ["0", "1"]

    spark.conf.set(CHECKPOINT_FILE_MANAGER_KEY, FS_CHECKPOINT_FILE_MANAGER)
    _add_input(src, 2, ["a", "d"])
    _run_dedup(spark, src, ckpt, out)
    # exactly one new batch: batches 0 and 1 were not replayed
    assert _entries(ckpt / "commits") == ["0", "1", "2"]
    assert _entries(ckpt / "offsets") == ["0", "1", "2"]
    # "a" is not emitted again, so the dedup state was restored
    rows = [r.k for r in spark.read.parquet(str(out)).collect()]
    assert sorted(rows) == ["a", "b", "c", "d"]
    # the restart rewrote no existing checkpoint file
    assert not list(ckpt.rglob("*.tmp"))
