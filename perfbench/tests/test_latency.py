import math

from perfbench.workloads import chunk_due, chunk_latencies

NAMES = [f"c{i}" for i in range(6)]
LOG = [{"name": n, "due": 100.0 + i, "published": 100.0 + i} for i, n in enumerate(NAMES)]
BATCH_OF = {"c0": 0, "c1": 1, "c2": 1, "c3": 2, "c4": 2, "c5": 2}


def _latencies(open_loop, commits, query_start=99.0):
    due = chunk_due(open_loop, LOG, BATCH_OF, commits, query_start)
    return dict(zip(NAMES, chunk_latencies(NAMES, due, BATCH_OF, commits)))


def test_open_loop_latency_runs_from_the_due_time():
    lat = _latencies(True, {0: 103.0, 1: 106.0, 2: 110.0})
    assert lat == {"c0": 3.0, "c1": 5.0, "c2": 4.0, "c3": 7.0, "c4": 6.0, "c5": 5.0}


def test_a_stalled_batch_raises_the_latency_of_later_chunks():
    normal = _latencies(True, {0: 103.0, 1: 106.0, 2: 110.0})
    stalled = _latencies(True, {0: 103.0, 1: 116.0, 2: 120.0})  # batch 1 stalls 10 s
    for n in ("c1", "c2", "c3", "c4", "c5"):
        assert stalled[n] == normal[n] + 10.0
    assert stalled["c0"] == normal["c0"]


def test_closed_loop_chunks_are_due_when_the_previous_batch_commits():
    lat = _latencies(False, {0: 103.0, 1: 116.0, 2: 120.0})
    assert lat["c0"] == 4.0  # from query start
    assert lat["c1"] == lat["c2"] == 13.0
    assert lat["c3"] == lat["c4"] == lat["c5"] == 4.0


def test_closed_loop_batch_after_an_earlier_query_is_due_at_query_start():
    # batch 0 committed before the query started (a warm-up by another query)
    lat = _latencies(False, {0: 103.0, 1: 116.0, 2: 120.0}, query_start=110.0)
    assert lat["c1"] == lat["c2"] == 6.0


def test_unconsumed_chunk_is_infinitely_late():
    batch_of = {n: b for n, b in BATCH_OF.items() if n != "c5"}
    commits = {0: 103.0, 1: 106.0, 2: 110.0}
    due = chunk_due(True, LOG, batch_of, commits, 99.0)
    assert math.isinf(chunk_latencies(NAMES, due, batch_of, commits)[-1])
