import os
import time

from perfbench.publisher import publish


def test_publishes_on_schedule_with_increasing_mtimes(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    for i in range(4):
        (src / f"chunk_{i:05d}.csv").write_text("x\n")
    (src / ".staging").mkdir()
    start = time.time() + 0.05
    log = publish(str(src), str(dst), start, 0.05)
    assert [e["name"] for e in log] == [f"chunk_{i:05d}.csv" for i in range(4)]
    assert [e["due"] for e in log] == [start + i * 0.05 for i in range(4)]
    assert all(e["published"] >= e["due"] for e in log)
    mtimes = [os.stat(dst / e["name"]).st_mtime for e in log]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    assert sorted(os.listdir(src)) == [".staging"]


def test_zero_interval_publishes_a_backlog_with_distinct_mtimes(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    for i in range(3):
        (src / f"chunk_{i:05d}.csv").write_text("x\n")
    log = publish(str(src), str(dst), time.time(), 0.0)
    mtimes = [os.stat(dst / e["name"]).st_mtime for e in log]
    assert len(set(e["due"] for e in log)) == 1
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
