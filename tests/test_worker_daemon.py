"""The Python worker daemon: zip importers skip re-reading unchanged
archives, and workers can import the daemon from any directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from flink_streaming_platform_web_spark import worker_daemon

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_daemon.invalidate_if_changed,
    )
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zd_one": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zd_one", "zd_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zd_one").X == 1
    imp = sys.path_importer_cache[str(archive)]
    assert isinstance(imp, zipimport.zipimporter)

    importlib.invalidate_caches()  # first read by this importer
    files = imp._files
    importlib.invalidate_caches()
    assert imp._files is files

    _write_zip(archive, {"zd_one": "X = 1\n", "zd_two": "Y = 2\n"})
    importlib.invalidate_caches()
    assert imp._files is not files
    assert importlib.import_module("zd_two").Y == 2

    archive.unlink()
    importlib.invalidate_caches()
    assert imp._files == {}
    del sys.path_importer_cache[str(archive)]


def test_workers_skip_rereading_pyspark_zip(spark):
    """From inside a worker: the daemon's wrapper is installed, and the
    invalidation every task starts with leaves pyspark.zip's importers
    as they were."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        imps = [
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
            and v.archive.endswith("pyspark.zip")
        ]
        before = [id(v._files) for v in imps]
        importlib.invalidate_caches()
        kept = before == [id(v._files) for v in imps]
        for _ in batches:
            yield pd.DataFrame({
                "wrapper": [zipimport.zipimporter.invalidate_caches.__name__],
                "importers": [len(imps)],
                "kept": [kept],
            })

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "wrapper string, importers int, kept boolean")
        .collect()
    )
    assert rows
    for r in rows:
        assert r["wrapper"] == "invalidate_if_changed"
        assert r["importers"] > 0
        assert r["kept"]


def test_pandas_udf_runs_from_another_working_directory(tmp_path):
    """Workers import the daemon module even when the session starts
    outside the repo with no PYTHONPATH set."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from flink_streaming_platform_web_spark.session import get_spark

        spark = get_spark("cwd", master="local[1]", shuffle_partitions=1)

        @pandas_udf("long")
        def plus_one(v: pd.Series) -> pd.Series:
            return v + 1

        rows = spark.range(10).select(plus_one("id")).collect()
        print("SUM", sum(r[0] for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUM 55" in proc.stdout.splitlines()
