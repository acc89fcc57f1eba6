"""Chunk publisher: the benchmark's load generator, run as its own process.

It moves pre-written chunk files from a holding directory into the
directory the stream watches, chunk ``i`` at ``start + i * interval``
(epoch seconds), whatever the engine is doing: an open loop. Each file's
mtime is stamped before the atomic rename, strictly increasing, because
the file-stream source orders its backlog by mtime. With ``--interval 0``
the whole backlog is published at once (the closed-loop backfill).

Writes a JSON list of ``{"name", "due", "published"}`` to ``--log``.

    python3 perfbench/publisher.py --src DIR --dst DIR --start EPOCH \
        --interval 1 --log publish.json
"""

from __future__ import annotations

import argparse
import json
import os
import time


def publish(src_dir: str, dst_dir: str, start: float, interval: float) -> list[dict]:
    names = sorted(n for n in os.listdir(src_dir) if n.endswith(".csv") and n[0] not in "._")
    log, last_mtime = [], 0.0
    for i, name in enumerate(names):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        mtime = max(due, last_mtime + 0.001)
        src = os.path.join(src_dir, name)
        os.utime(src, (mtime, mtime))
        os.replace(src, os.path.join(dst_dir, name))
        log.append({"name": name, "due": due, "published": time.time()})
        last_mtime = mtime
    return log


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    log = publish(a.src, a.dst, a.start, a.interval)
    with open(a.log, "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main()
