"""The scale-ladder tools: the generator keeps the shipped corpus's
events-per-user density, and the ladders refuse a directory whose name
carries no scale factor before any run is timed."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_generated_corpus_keeps_events_per_user(tmp_path):
    gen = _tool("gen_scale_data")
    if not gen.BASE.is_dir():
        pytest.skip(f"{gen.BASE} (the generator's source corpus) is absent")
    gen.gen(0.01, tmp_path)
    users = pq.read_table(tmp_path / "events.parquet")["user_id"]
    n_users = len(pc.unique(users))
    # the shipped corpus: 1M*sf events over 15k*sf users at every SF
    assert n_users == 150
    assert len(users) / n_users == pytest.approx(66.7, rel=0.01)


@pytest.mark.parametrize("tool", ["scale_bench", "stream_scale_bench"])
def test_ladder_rejects_dir_without_scale_factor(tool, monkeypatch, capsys):
    mod = _tool(tool)
    assert mod._sf_of("/data/sf0.01/") == 0.01
    assert mod._sf_of("sf5") == 5.0
    for bad in ("/data/sf1fix", "/data/corpus", "/data/sf0"):
        with pytest.raises(ValueError, match="sf<N>"):
            mod._sf_of(bad)

    def no_session(*a, **k):
        raise AssertionError("a bad directory must stop before the session")

    monkeypatch.setattr(mod, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", [tool, "/data/sf0.01", "/data/sf1fix"])
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code == 2
    assert "sf1fix" in capsys.readouterr().err
