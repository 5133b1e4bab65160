"""Sink observer: stamps the moment results become visible in a sink.

Runs as a process of its own so its polling never competes with the
Spark driver's Python thread for the interpreter lock.

- ``kafka`` mode watches a file-kafka topic directory and records,
  each time a partition segment grows, ``[partition, lines, t]``: every
  line below ``lines`` was visible at wall time ``t``.
- ``files`` mode watches a streaming file sink's ``_spark_metadata``
  log and records ``[log_name, t]`` when a batch's commit appears; a
  file sink's rows are visible to readers only once that log lists
  them.

The stamps are written as one JSON document when the stop file
appears.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path


def _complete_lines(seg: Path, state: dict) -> int:
    """Complete lines in ``seg``, reading only bytes appended since the
    previous call (``state`` holds the byte position and count)."""
    try:
        size = seg.stat().st_size
    except OSError:
        return state.get("lines", 0)
    pos = state.get("pos", 0)
    if size == pos:
        return state.get("lines", 0)
    with open(seg, "rb") as f:
        f.seek(pos)
        data = f.read(size - pos)
    end = data.rfind(b"\n") + 1  # a torn tail line counts next poll
    state["pos"] = pos + end
    state["lines"] = state.get("lines", 0) + data.count(b"\n", 0, end)
    return state["lines"]


def observe(mode: str, path: str, stop_file: str, out: str,
            poll_s: float = 0.005) -> dict:
    root = Path(path)
    stamps: list = []
    seg_state: dict[str, dict] = {}
    seen_logs: set[str] = set()
    while True:
        stopping = os.path.exists(stop_file)
        now = time.time()
        if mode == "kafka":
            for seg in sorted(root.glob("p*.jsonl")):
                st = seg_state.setdefault(seg.name, {})
                before = st.get("lines", 0)
                n = _complete_lines(seg, st)
                if n > before:
                    stamps.append([int(seg.stem[1:]), n, now])
        else:
            meta = root / "_spark_metadata"
            if meta.is_dir():
                for f in meta.iterdir():
                    name = f.name
                    if name.startswith(".") or name in seen_logs:
                        continue
                    seen_logs.add(name)
                    stamps.append([name, now])
        if stopping:
            break
        time.sleep(poll_s)
    doc = {"mode": mode, "stamps": stamps}
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, out)
    return doc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("kafka", "files"), required=True)
    ap.add_argument("--path", required=True)
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    observe(a.mode, a.path, a.stop_file, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
