import json
import os

from perfbench.checkpoint import commit_times, consumed_files


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name, batch):
    return {"path": f"file:///data/watch/{name}", "timestamp": 1, "batchId": batch}


def make_checkpoint(root):
    """Batches 0-2 as the file-stream source logs them: one delta file per
    batch, a compaction roll-up repeating earlier entries, crc side files."""
    src = os.path.join(root, "sources", "0")
    commits = os.path.join(root, "commits")
    os.makedirs(src)
    os.makedirs(commits)
    _log(os.path.join(src, "0"), [_entry("a.csv", 0), _entry("b.csv", 0)])
    _log(os.path.join(src, "1"), [_entry("c.csv", 1)])
    _log(os.path.join(src, "2.compact"), [_entry("a.csv", 0), _entry("b.csv", 0),
                                          _entry("c.csv", 1), _entry("d%20e.csv", 2)])
    open(os.path.join(src, ".0.crc"), "w").close()
    for b, t in ((0, 100.0), (1, 105.5)):
        p = os.path.join(commits, str(b))
        with open(p, "w") as f:
            f.write('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(p, (t, t))
    open(os.path.join(commits, ".1.crc"), "w").close()
    return root


def test_chunks_map_to_the_batch_that_read_them(tmp_path):
    ck = make_checkpoint(str(tmp_path))
    assert consumed_files(ck) == {"a.csv": {0}, "b.csv": {0}, "c.csv": {1}, "d e.csv": {2}}


def test_commit_times_are_commit_file_mtimes(tmp_path):
    ck = make_checkpoint(str(tmp_path))
    assert commit_times(ck) == {0: 100.0, 1: 105.5}  # batch 2 not committed


def test_a_file_read_by_two_batches_shows_both(tmp_path):
    ck = make_checkpoint(str(tmp_path))
    _log(os.path.join(ck, "sources", "0", "3"), [_entry("a.csv", 3)])
    assert consumed_files(ck)["a.csv"] == {0, 3}


def test_missing_checkpoint_reads_as_empty(tmp_path):
    assert consumed_files(str(tmp_path)) == {}
    assert commit_times(str(tmp_path)) == {}
