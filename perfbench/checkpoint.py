"""Read a file-stream query's progress from outside, off its checkpoint.

* ``sources/0/<batch>`` (and the periodic ``<batch>.compact`` roll-ups)
  list every file the source handed to a batch, one JSON entry per line
  after the ``v1`` header, each tagged with its ``batchId``.
* ``commits/<batch>`` is written when a batch commits; its mtime is the
  commit time.

Neither needs the engine's cooperation, so chunk-to-batch mapping and
commit times come from the same place for every workload.
"""

from __future__ import annotations

import json
import os
import posixpath
from urllib.parse import unquote, urlparse


def _log_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return [
        os.path.join(d, n)
        for n in os.listdir(d)
        if not n.startswith(".") and n.split(".")[0].isdigit()
    ]


def consumed_files(checkpoint_dir: str) -> dict[str, set[int]]:
    """basename -> the set of batch ids that consumed it (exactly-once
    consumption means a set of one)."""
    out: dict[str, set[int]] = {}
    for path in _log_files(os.path.join(checkpoint_dir, "sources", "0")):
        try:
            with open(path) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:  # replaced by compaction while listing
            continue
        for line in lines[1:]:
            if not line.strip():
                continue
            try:
                entry = json.loads(line)
            except json.JSONDecodeError:  # a log file still being written
                break
            name = posixpath.basename(unquote(urlparse(entry["path"]).path))
            out.setdefault(name, set()).add(int(entry["batchId"]))
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """batch id -> commit time (epoch seconds)."""
    return {
        int(os.path.basename(p)): os.stat(p).st_mtime_ns / 1e9
        for p in _log_files(os.path.join(checkpoint_dir, "commits"))
        if os.path.basename(p).isdigit()
    }
