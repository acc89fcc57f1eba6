import csv
import os

import pytest

from perfbench import oracle, workloads

HEADER = ["step", "customer", "age", "gender", "zipcodeOri", "merchant",
          "zipMerchant", "category", "amount", "fraud"]
DET_HEADER = ["YStartTime", "DetectionTime", "PatternId", "ActionType",
              "CustomerName", "MerchantId"]


def _row(customer, gender, amount=10.0, merchant="M1"):
    return [0, customer, "2", gender, "28007", merchant, "28007", "es_food", amount, 0]


# Batch 0 fires nothing. Batch 1 takes M1 past 5 transactions, (C1, M1)
# past 2 with a 1.5-weight row (PatId1), (C1, M1) to 3 rows averaging 10
# (PatId2; C3's three rows average 50), and M1 to 4 F < 5 M (PatId3).
CHUNKS = {
    "chunk_00000.csv": [_row("C1", "F"), _row("C1", "F"), _row("C2", "M"), _row("C2", "M")],
    "chunk_00001.csv": [_row("C1", "F"), _row("C4", "F"), _row("C3", "M", 50.0),
                        _row("C3", "M", 50.0), _row("C3", "M", 50.0), _row("C9", "F", merchant="M2")],
}
BATCH_OF = {"chunk_00000.csv": 0, "chunk_00001.csv": 1}
EXPECTED_1 = {("PatId1", "UPGRADE", "C1", "M1"), ("PatId2", "CHILD", "C1", "M1"),
              ("PatId3", "DEI-NEEDED", "", "M1")}


def _write(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture
def stream(tmp_path):
    watch = tmp_path / "watch"
    for name, rows in CHUNKS.items():
        _write(str(watch / name), HEADER, rows)
    imp = str(tmp_path / "importance.csv")
    _write(imp, ["Source", "Target", "Weight", "typeTrans", "fraud"],
           [["C1", "M1", 1.5, "es_food", 0], ["C2", "M1", 7.5, "es_food", 0]])
    ora = oracle.StreamOracle({str(watch / n): b for n, b in BATCH_OF.items()}, imp)
    return tmp_path, ora


def _sink(det_dir, batch, keys):
    rows = [["2024-01-01 00:00:00", "2024-01-01 00:00:01", *k] for k in sorted(keys)]
    for bucket in range(0, len(rows), 50):
        _write(os.path.join(det_dir, f"batch_id={batch}", f"bucket={bucket // 50}", "part-0.csv"),
               DET_HEADER, rows[bucket:bucket + 50])


def test_oracle_replays_each_batch(stream):
    _, ora = stream
    want = ora.expected_detections(refire=True)
    assert dict(want[0]) == {}
    assert set(want[1]) == EXPECTED_1
    assert ora.rows() == 10


def test_correct_sink_output_passes(stream):
    tmp, ora = stream
    det = str(tmp / "det")
    _sink(det, 1, EXPECTED_1)
    failed, by_pattern, files = workloads.detection_failures(ora, det, BATCH_OF, True)
    assert failed == set()
    assert by_pattern == {0: {}, 1: {"PatId1": 1, "PatId2": 1, "PatId3": 1}}
    assert files == {0: 0, 1: 1}


def test_planted_wrong_detection_fails_its_batch(stream):
    tmp, ora = stream
    det = str(tmp / "det")
    planted = (EXPECTED_1 - {("PatId2", "CHILD", "C1", "M1")}) | {("PatId2", "CHILD", "C2", "M1")}
    _sink(det, 1, planted)
    failed, _, _ = workloads.detection_failures(ora, det, BATCH_OF, True)
    assert failed == {"chunk_00001.csv"}


def test_spurious_detection_in_a_quiet_batch_fails_it(stream):
    tmp, ora = stream
    det = str(tmp / "det")
    _sink(det, 0, {("PatId3", "DEI-NEEDED", "", "M1")})
    _sink(det, 1, EXPECTED_1)
    failed, _, _ = workloads.detection_failures(ora, det, BATCH_OF, True)
    assert failed == {"chunk_00000.csv"}


def test_without_refire_an_emitted_key_is_not_expected_again(tmp_path):
    watch = tmp_path / "watch"
    rows = [_row("C1", "F"), _row("C1", "F"), _row("C1", "F")]
    for i in range(2):
        _write(str(watch / f"chunk_0000{i}.csv"), HEADER, rows)
    imp = str(tmp_path / "importance.csv")
    _write(imp, ["Source", "Target", "Weight", "typeTrans", "fraud"], [])
    ora = oracle.StreamOracle({str(watch / f"chunk_0000{i}.csv"): i for i in range(2)}, imp)
    assert set(ora.expected_detections(refire=True)[1]) == {("PatId2", "CHILD", "C1", "M1")}
    assert dict(ora.expected_detections(refire=False)[1]) == {}


def test_dropped_chunk_is_caught():
    names = list(CHUNKS) + ["chunk_00002.csv"]
    files = {"chunk_00000.csv": {0}, "chunk_00001.csv": {1}}  # chunk 2 never read
    assert workloads.consumption(names, files, {0: 1.0, 1: 2.0}) == BATCH_OF


def test_chunk_read_twice_or_uncommitted_is_caught():
    files = {"chunk_00000.csv": {0, 1}, "chunk_00001.csv": {2}}
    assert workloads.consumption(list(CHUNKS), files, {0: 1.0, 1: 2.0}) == {}


def test_state_mismatch_is_counted(stream):
    import pyarrow as pa
    from decimal import Decimal

    _, ora = stream
    good = pa.table({"merchant_id": ["M1", "M2"], "total_transactions": [9, 1]})
    assert ora.state_mismatches("merchant_transaction_summary", good) == 0
    bad = pa.table({"merchant_id": ["M1", "M2"], "total_transactions": [8, 1]})
    assert ora.state_mismatches("merchant_transaction_summary", bad) == 2
    cm = ora.con.execute(oracle.state_sql("customer_merchant_summary", "tx")).fetchall()
    assert ("C1", "M1", 3, Decimal("30.00")) in cm


def test_base_state_adds_to_the_replay(stream):
    """A base state is added key by key, and its seen keys are not
    expected again with re-firing off."""
    import pyarrow as pa
    from decimal import Decimal

    tmp, _ = stream
    watch = tmp / "watch"
    base = {
        "customer_merchant_summary": pa.table({
            "customer_id": ["C2", "C7"], "merchant_id": ["M1", "M1"],
            "transaction_count": [1, 4],
            "total_amount_sum": pa.array([Decimal("5.00"), Decimal("400.00")], pa.decimal128(18, 2)),
        }),
        "merchant_transaction_summary": pa.table({"merchant_id": ["M1"], "total_transactions": [5]}),
        "seen_detections": pa.table({"PatternId": ["PatId3"], "ActionType": ["DEI-NEEDED"],
                                     "CustomerName": [""], "MerchantId": ["M1"]}),
    }
    ora = oracle.StreamOracle({str(watch / n): b for n, b in BATCH_OF.items()},
                              str(tmp / "importance.csv"), base=base)
    cm = ora.con.execute(oracle.state_sql("customer_merchant_summary", "tx")).fetchall()
    assert ("C2", "M1", 3, Decimal("25.00")) in cm and ("C7", "M1", 4, Decimal("400.00")) in cm
    ms = ora.con.execute(oracle.state_sql("merchant_transaction_summary", "tx")).fetchall()
    assert ("M1", 14) in ms
    # C2 reaches three M1 rows averaging 8.33 in batch 0 only with the base
    assert set(ora.expected_detections(refire=True)[0]) == {("PatId2", "CHILD", "C2", "M1")}
    no_refire = ora.expected_detections(refire=False)
    assert ("PatId3", "DEI-NEEDED", "", "M1") not in no_refire[1]
    assert ("PatId1", "UPGRADE", "C1", "M1") in no_refire[1]


def test_sink_file_sizes():
    assert oracle.sink_files_ok([])
    assert oracle.sink_files_ok([50, 50, 7])
    assert oracle.sink_files_ok([50])
    assert not oracle.sink_files_ok([50, 49, 7])
    assert not oracle.sink_files_ok([51])
