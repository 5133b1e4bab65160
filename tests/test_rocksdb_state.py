"""RocksDB state store: the reference's ROCKSDB backend analog
(StateBackendEnum.java:14). A job chooses it with
``SET 'spark.sql.streaming.stateStore.providerClass' = …``, which the
runner passes through to the session conf; the provider class is a
runtime SQL conf, bound per streaming query at start."""

from __future__ import annotations

import pyspark.sql.functions as F

PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def test_rocksdb_state_store_streaming_agg(spark, tmp_path):
    before = spark.conf.get(PROVIDER_KEY, None)
    spark.conf.set(PROVIDER_KEY, ROCKSDB_PROVIDER)
    try:
        spark.createDataFrame(
            [("a", 1.0), ("b", 2.0), ("a", 3.0)], "k STRING, v DOUBLE"
        ).write.parquet(f"{tmp_path}/src")
        sdf = (
            spark.readStream.schema("k STRING, v DOUBLE")
            .parquet(f"{tmp_path}/src")
            .groupBy("k")
            .agg(F.count("*").alias("n"))
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName("rocks_out")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp_path}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {r["k"]: r["n"] for r in spark.table("rocks_out").collect()}
        assert got == {"a": 2, "b": 1}
        # the checkpoint's state dir carries RocksDB artifacts
        import pathlib

        state_files = [
            p.name
            for p in pathlib.Path(f"{tmp_path}/ckpt/state").rglob("*")
            if p.is_file()
        ]
        assert any(".zip" in f or "rocksdb" in f.lower() for f in state_files)
    finally:
        if before is None:
            spark.conf.unset(PROVIDER_KEY)
        else:
            spark.conf.set(PROVIDER_KEY, before)
