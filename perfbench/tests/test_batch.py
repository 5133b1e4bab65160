import json
from pathlib import Path

from perfbench import batch, run

ROOT = Path(__file__).resolve().parents[2]


def test_slice_takes_evenly_spaced_entries_from_every_module(monkeypatch):
    monkeypatch.setattr(batch, "STRIDE", 6)
    mods = {"a": [f"a{i:02d}" for i in range(13)], "b": ["b1"]}
    got = batch.select(mods)
    assert [n for n, m in got.items() if m == "a"] == ["a00", "a04", "a08"]
    assert got["b1"] == "b"


def test_oracle_key_tracks_data_and_sql():
    k = batch.oracle_key("d1", "SELECT 1")
    assert k == batch.oracle_key("d1", "SELECT 1")
    assert k != batch.oracle_key("d2", "SELECT 1")
    assert k != batch.oracle_key("d1", "SELECT 2")


def test_data_key_is_content_hash(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"abc")
    k1 = batch.data_key(tmp_path)
    (tmp_path / "t.parquet").write_bytes(b"abd")
    assert batch.data_key(tmp_path) != k1
    (tmp_path / "t.parquet").write_bytes(b"abc")
    assert batch.data_key(tmp_path) == k1


def test_benchmark_json_lists_what_the_runs_report():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.E2E
    assert [m["name"] for m in doc["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"])
               for m in doc["per_layer"])
