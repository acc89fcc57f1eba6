import filecmp
import os

from perfbench.inputs import CHUNK_ROWS, KeySpace, write_inputs

KEYS = KeySpace(customers=50, merchants=10, importance_rows=100)


def _files(inputs):
    out = {"importance.csv": inputs.importance_csv}
    for d in (inputs.warm_dir, inputs.pending_dir):
        for n in sorted(os.listdir(d)):
            if n.endswith(".csv"):
                out[os.path.basename(d) + "/" + n] = os.path.join(d, n)
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _files(write_inputs(str(tmp_path / "a"), "w", 7, KEYS, 2))
    b = _files(write_inputs(str(tmp_path / "b"), "w", 7, KEYS, 2))
    assert a.keys() == b.keys()
    assert len(a) == 1 + 1 + 2
    for k in a:
        assert filecmp.cmp(a[k], b[k], shallow=False), k


def test_another_seed_or_workload_gives_other_inputs(tmp_path):
    a = _files(write_inputs(str(tmp_path / "a"), "w", 7, KEYS, 2))
    b = _files(write_inputs(str(tmp_path / "b"), "w", 8, KEYS, 2))
    c = _files(write_inputs(str(tmp_path / "c"), "v", 7, KEYS, 2))
    for other in (b, c):
        assert all(not filecmp.cmp(a[k], other[k], shallow=False) for k in a)


def test_chunks_hold_the_reference_chunk_size(tmp_path):
    inputs = write_inputs(str(tmp_path), "w", 1, KEYS, 2)
    assert inputs.chunk_names == ("chunk_00000.csv", "chunk_00001.csv")
    for n in inputs.chunk_names:
        with open(os.path.join(inputs.pending_dir, n)) as f:
            assert sum(1 for _ in f) == CHUNK_ROWS + 1  # header per chunk
