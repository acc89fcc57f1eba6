"""State-store concurrency pins (round-11).

The state stores document these concurrency contracts:

* merges to DIFFERENT tables may be submitted from concurrent driver
  threads, as ``DetectionPipeline.process_batch`` does with its three
  merges (``StateStore`` docstring): ParquetStateStore runs them
  concurrently, JdbcStateStore serializes them on its one connection,
  and either way the result equals sequential merges
* vacuum's returned reclaim count is exact - "a dir already deleted by
  a concurrent vacuum is not counted" (vacuum docstring); round 11
  hardened this from best-effort getmtime probing to an atomic
  rename-to-tombstone CLAIM, so racing vacuums cannot double-count or
  double-delete
* the pointer swap is atomic, so a reader polling ``read_state``
  during a stream of merges sees only COMMITTED snapshots - every
  observed total equals some committed batch prefix, never a torn
  in-between state (the lakehouse snapshot-isolation analog)

Each test here drives real threads against one store; these are the
single-node stand-ins for multi-writer/multi-reader cluster behavior.
"""

from __future__ import annotations

import glob
import os
import sys
import threading

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark_data_engineering_assignment_spark.state.jdbc_store import JdbcStateStore
from pyspark_data_engineering_assignment_spark.state.store import (
    CUSTOMER_MERCHANT_SUMMARY,
    MERCHANT_GENDER_SUMMARY,
    MERCHANT_SUMMARY,
    ParquetStateStore,
)

import pytest  # noqa: E402

pytestmark = pytest.mark.slow

NOW = "2024-01-01 00:00:00"
KEYS = ["M0", "M1", "M2", "M3"]

MERCHANT_AGG_SCHEMA = StructType(
    [
        StructField("merchant_id", StringType(), False),
        StructField("total_transactions", LongType(), True),
    ]
)


def _merchant_totals(store) -> dict[str, int]:
    return {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    }


def test_concurrent_vacuums_count_each_dir_exactly_once(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path), n_buckets=4)
    # 6 merges all touching merchant M1's bucket -> 5 superseded
    # snapshots of that bucket (plus whatever else lands with it)
    for i in range(6):
        b = spark.createDataFrame([("M1", 1), ("M2", 1)], MERCHANT_AGG_SCHEMA)
        store.merge_batch(MERCHANT_SUMMARY, b, batch_id=i, now=NOW)

    root = os.path.join(str(tmp_path), MERCHANT_SUMMARY.name)
    all_dirs = set(glob.glob(os.path.join(root, "v=*", "_bucket=*")))
    live = set(
        store._bucket_paths(
            MERCHANT_SUMMARY.name,
            store.bucket_versions(MERCHANT_SUMMARY),
        )
    )
    expected = len(all_dirs - live)
    assert expected >= 5, "fixture failed to supersede snapshots"

    counts = []
    barrier = threading.Barrier(4)

    def vac():
        barrier.wait()  # maximize the race window
        counts.append(store.vacuum(MERCHANT_SUMMARY))

    threads = [threading.Thread(target=vac) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert sum(counts) == expected, (counts, expected)
    # referenced snapshots survive, state reads back intact
    remaining = set(glob.glob(os.path.join(root, "v=*", "_bucket=*")))
    assert remaining == live
    assert _merchant_totals(store) == {"M1": 6, "M2": 6}


def test_concurrent_merges_to_different_tables(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path), n_buckets=4)

    cm_schema = StructType(
        [
            StructField("customer_id", StringType(), False),
            StructField("merchant_id", StringType(), False),
            StructField("transaction_count", LongType(), True),
            StructField("total_amount_sum", StringType(), True),
        ]
    )
    errors = []

    def merge_merchant():
        try:
            for i in range(4):
                b = spark.createDataFrame(
                    [("M1", 2), (f"M{i}", 1)], MERCHANT_AGG_SCHEMA
                )
                store.merge_batch(MERCHANT_SUMMARY, b, batch_id=i, now=NOW)
        except Exception as ex:  # noqa: BLE001 - surfaced via assert below
            errors.append(ex)

    def merge_cm():
        try:
            for i in range(4):
                b = spark.createDataFrame(
                    [("C1", "M1", 1, "10.00")], cm_schema
                ).withColumn(
                    "total_amount_sum",
                    F.col("total_amount_sum").cast("decimal(18,2)"),
                )
                store.merge_batch(
                    CUSTOMER_MERCHANT_SUMMARY, b, batch_id=i, now=NOW
                )
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    t1 = threading.Thread(target=merge_merchant)
    t2 = threading.Thread(target=merge_cm)
    t1.start()
    t2.start()
    t1.join()
    t2.join()

    assert not errors, errors
    totals = _merchant_totals(store)
    assert totals["M1"] == 2 * 4 + 1  # M1 twice per batch 1, plus i=1 row
    cm = {
        (r["customer_id"], r["merchant_id"]): (
            r["transaction_count"],
            str(r["total_amount_sum"]),
        )
        for r in store.read_state(CUSTOMER_MERCHANT_SUMMARY).collect()
    }
    assert cm == {("C1", "M1"): (4, "40.00")}


def test_jdbc_concurrent_merges_equal_sequential(spark, tmp_path):
    """Three threads merge into three tables of ONE JdbcStateStore at
    once, as the pipeline submits them; the store's lock serializes use
    of its single DuckDB connection, so every table ends with the same
    rows and ``last_batch_id`` as a store merged sequentially, and no
    thread sees a database error."""
    from decimal import Decimal

    batches = {
        MERCHANT_SUMMARY: "merchant_id string, total_transactions long",
        CUSTOMER_MERCHANT_SUMMARY: (
            "customer_id string, merchant_id string, "
            "transaction_count long, total_amount_sum decimal(18,2)"
        ),
        MERCHANT_GENDER_SUMMARY: (
            "merchant_id string, male_transaction_count long, "
            "female_transaction_count long"
        ),
    }

    def rows(spec, i):
        if spec is MERCHANT_SUMMARY:
            return [("M1", 2), (f"M{i}", 1)]
        if spec is CUSTOMER_MERCHANT_SUMMARY:
            return [("C1", "M1", 1, Decimal("10.05")), (f"C{i}", "M2", 2, None)]
        return [("M1", i, 1)]

    def merge_all(store, spec):
        for i in range(4):
            b = spark.createDataFrame(rows(spec, i), batches[spec])
            store.merge_batch(spec, b, batch_id=i, now=NOW)

    sequential = JdbcStateStore.duckdb(spark, str(tmp_path / "seq.duckdb"))
    for spec in batches:
        merge_all(sequential, spec)

    concurrent = JdbcStateStore.duckdb(spark, str(tmp_path / "conc.duckdb"))
    errors = []
    barrier = threading.Barrier(len(batches))

    def worker(spec):
        try:
            barrier.wait()  # start all three merges together
            merge_all(concurrent, spec)
        except Exception as ex:  # noqa: BLE001 - surfaced via assert below
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(s,)) for s in batches]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads' statements
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(old_interval)

    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for spec in batches:
        assert sorted(concurrent.read_state(spec).collect()) == sorted(
            sequential.read_state(spec).collect()
        ), spec.name
        assert concurrent.last_batch_id(spec) == 3


def test_polling_reader_sees_only_committed_prefixes(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path), n_buckets=4)
    n_batches = 5
    # batch i adds i+1 to M1: committed totals are the prefix sums
    committed = {0}
    s = 0
    for i in range(n_batches):
        s += i + 1
        committed.add(s)

    done = threading.Event()
    observed, errors = set(), []

    def reader():
        try:
            while not done.is_set():
                totals = _merchant_totals(store)
                observed.add(totals.get("M1", 0))
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(n_batches):
            b = spark.createDataFrame([("M1", i + 1)], MERCHANT_AGG_SCHEMA)
            store.merge_batch(MERCHANT_SUMMARY, b, batch_id=i, now=NOW)
            # retention window keeps superseded snapshots readable for
            # in-flight reads (the documented out-of-band-reader guarantee)
            store.vacuum(MERCHANT_SUMMARY, retention_seconds=3600.0)
    finally:
        done.set()
        t.join()

    assert not errors, errors
    assert observed <= committed, observed - committed
    assert s in observed or _merchant_totals(store)["M1"] == s


def test_two_threads_same_table_exactly_once(spark, tmp_path):
    """Same-process face of the round-13 two-writer pin: two driver
    threads race identical batch-id sequences into one table. flock
    contends across FDs within one process (each acquire opens its own
    fd), so the threads serialize and every batch id applies exactly
    once - never double-counted by the TOCTOU replay check, never lost
    to a clobbered pointer swap."""
    import threading as _threading

    store = ParquetStateStore(spark, str(tmp_path), n_buckets=4)
    n = 6
    errs = []

    def worker():
        try:
            for b in range(n):
                batch = spark.createDataFrame(
                    [(k, 1) for k in KEYS], MERCHANT_AGG_SCHEMA
                )
                store.merge_batch(
                    MERCHANT_SUMMARY, batch, batch_id=b, now=NOW
                )
        except Exception as exc:  # surface in the main thread
            errs.append(exc)

    ts = [_threading.Thread(target=worker) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs
    totals = {
        r["merchant_id"]: r["total_transactions"]
        for r in store.read_state(MERCHANT_SUMMARY).collect()
    }
    assert totals == {k: n for k in KEYS}
    assert store.last_batch_id(MERCHANT_SUMMARY) == n - 1
