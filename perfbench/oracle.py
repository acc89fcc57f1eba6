"""DuckDB oracle for the streaming workloads.

It replays, from the published chunk files alone, what each micro-batch
should have produced: the cumulative state after the batch and the
PatId1/2/3 detections (reference ``Mechanism Y.py:221-244``) over that
batch's files and that state. The state may start from a base (the wide
state the backfill workload builds before its measured batch) instead of
empty. With re-firing off, a detection key already emitted by an earlier
batch, or recorded as seen in the base, is dropped, as the engine's
seen-detections anti-join does. The engine's output is read back from the sink's CSV
files and compared as multisets of (PatternId, ActionType, CustomerName,
MerchantId); the clock-stamped time columns are not compared.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import duckdb

from pyspark_data_engineering_assignment_spark.config import PatternThresholds

TX_COLUMNS = {
    "step": "INTEGER", "customer": "VARCHAR", "age": "VARCHAR",
    "gender": "VARCHAR", "zipcodeOri": "VARCHAR", "merchant": "VARCHAR",
    "zipMerchant": "VARCHAR", "category": "VARCHAR", "amount": "DOUBLE",
    "fraud": "INTEGER",
}
IMPORTANCE_COLUMNS = {
    "Source": "VARCHAR", "Target": "VARCHAR", "Weight": "FLOAT",
    "typeTrans": "VARCHAR", "fraud": "INTEGER",
}

# State table -> (key column -> raw column, counter column -> (aggregate
# over raw rows, type)), in the column order of the engine's table.
STATE = {
    "merchant_transaction_summary": (
        {"merchant_id": "merchant"},
        {"total_transactions": ("count(*)", "BIGINT")},
    ),
    "customer_merchant_summary": (
        {"customer_id": "customer", "merchant_id": "merchant"},
        {
            "transaction_count": ("count(*)", "BIGINT"),
            "total_amount_sum": ("sum(CAST(amount AS DECIMAL(18,2)))", "DECIMAL(18,2)"),
        },
    ),
    "merchant_gender_summary": (
        {"merchant_id": "merchant"},
        {
            "male_transaction_count": ("count(*) FILTER (gender = 'M')", "BIGINT"),
            "female_transaction_count": ("count(*) FILTER (gender = 'F')", "BIGINT"),
        },
    ),
}
SEEN_COLUMNS = ("PatternId", "ActionType", "CustomerName", "MerchantId")


def state_columns(table: str) -> tuple[str, ...]:
    keys, counters = STATE[table]
    return (*keys, *counters)


def _fresh_sql(table: str, rows: str) -> str:
    """``table``'s counters aggregated over the raw rows of ``rows``."""
    keys, counters = STATE[table]
    cols = [f"{raw} AS {k}" for k, raw in keys.items()]
    cols += [f"{agg} AS {c}" for c, (agg, _) in counters.items()]
    return f"SELECT {', '.join(cols)} FROM {rows} GROUP BY ALL"


def state_sql(table: str, rows: str) -> str:
    """Expected cumulative ``table``: its base state plus the counters of
    the raw rows of ``rows``, added key by key as the engine's merge does."""
    keys, counters = STATE[table]
    sums = [f"CAST(sum({c}) AS {t}) AS {c}" for c, (_, t) in counters.items()]
    return (
        f"SELECT {', '.join(keys)}, {', '.join(sums)} FROM "
        f"(SELECT * FROM base_{table} UNION ALL {_fresh_sql(table, rows)}) GROUP BY ALL"
    )


def _struct(cols: dict) -> str:
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"


def _detection_sql(t: PatternThresholds) -> str:
    return f"""
    WITH cum AS (SELECT * FROM tx WHERE batch <= $b),
    cur AS (SELECT * FROM tx WHERE batch = $b),
    ms AS ({state_sql("merchant_transaction_summary", "cum")}),
    cm AS ({state_sql("customer_merchant_summary", "cum")}),
    gs AS ({state_sql("merchant_gender_summary", "cum")}),
    low AS (SELECT DISTINCT cur.customer, cur.merchant FROM cur
            JOIN imp ON cur.customer = imp.Source AND cur.merchant = imp.Target
                    AND cur.category = imp.typeTrans
            WHERE imp.Weight < {t.fallback_weight}::DOUBLE)
    SELECT 'PatId1', 'UPGRADE', low.customer, low.merchant FROM low
    JOIN ms ON ms.merchant_id = low.merchant AND ms.total_transactions > {t.merchant_total_txns}
    JOIN cm ON cm.customer_id = low.customer AND cm.merchant_id = low.merchant
           AND cm.transaction_count > {t.customer_merchant_txns}
    UNION ALL
    SELECT 'PatId2', 'CHILD', customer_id, merchant_id FROM cm
    WHERE transaction_count >= {t.child_min_txns}
      AND CAST(coalesce(total_amount_sum, 0) AS DOUBLE)
          < {t.child_max_avg_amount}::DOUBLE * transaction_count
    UNION ALL
    SELECT 'PatId3', 'DEI-NEEDED', '', merchant_id FROM gs
    WHERE female_transaction_count < male_transaction_count
      AND female_transaction_count > {t.dei_min_female}
    """


class StreamOracle:
    def __init__(
        self,
        batch_of_file: dict[str, int],
        importance_csv: str,
        thresholds: PatternThresholds | None = None,
        base: dict | None = None,
    ) -> None:
        """``batch_of_file``: absolute chunk path -> the batch that consumed
        it. ``base``: the state the first of these batches merged into, as
        Arrow tables by state table name (columns of ``state_columns``) and
        ``"seen_detections"`` (``SEEN_COLUMNS``); empty when omitted."""
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE fb (file VARCHAR, batch BIGINT)")
        self.con.executemany("INSERT INTO fb VALUES (?, ?)", list(batch_of_file.items()))
        self.con.execute(
            "CREATE TABLE tx AS SELECT t.* EXCLUDE (filename), fb.batch FROM "
            f"read_csv({sorted(batch_of_file)!r}, header = true, "
            f"columns = {_struct(TX_COLUMNS)}, filename = true) t "
            "JOIN fb ON t.filename = fb.file"
        )
        self.con.execute(
            f"CREATE TABLE imp AS SELECT * FROM read_csv('{importance_csv}', "
            f"header = true, columns = {_struct(IMPORTANCE_COLUMNS)})"
        )
        base = base or {}
        for table in STATE:
            self.con.execute(f"CREATE TABLE base_{table} AS {_fresh_sql(table, 'tx')} LIMIT 0")
            if table in base:
                self._insert(f"base_{table}", base[table], state_columns(table))
        self.con.execute(
            "CREATE TABLE base_seen (" + ", ".join(f"{c} VARCHAR" for c in SEEN_COLUMNS) + ")"
        )
        if "seen_detections" in base:
            self._insert("base_seen", base["seen_detections"], SEEN_COLUMNS)
        self.batches = sorted(set(batch_of_file.values()))
        self._sql = _detection_sql(thresholds or PatternThresholds())

    def _insert(self, table: str, arrow, cols) -> None:
        self.con.register("src", arrow)
        try:
            self.con.execute(f"INSERT INTO {table} SELECT {', '.join(cols)} FROM src")
        finally:
            self.con.unregister("src")

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM tx").fetchone()[0]

    def expected_detections(self, refire: bool) -> dict[int, Counter]:
        """batch id -> multiset of detection keys the batch must emit."""
        out = {}
        seen = set(map(tuple, self.con.execute("SELECT * FROM base_seen").fetchall()))
        for b in self.batches:
            keys = Counter(map(tuple, self.con.execute(self._sql, {"b": b}).fetchall()))
            if not refire:
                keys = Counter({k: 1 for k in keys if k not in seen})
                seen.update(keys)
            out[b] = keys
        return out

    def state_mismatches(self, table: str, got) -> int:
        """Rows of the engine's final ``table`` (an Arrow table with the
        columns of ``state_columns(table)``) missing from the expected
        state, plus expected rows missing from it, as multisets."""
        self.con.register("got", got)
        try:
            want = state_sql(table, "tx")
            return self.con.execute(
                f"SELECT (SELECT count(*) FROM (({want}) EXCEPT ALL SELECT * FROM got))"
                f" + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL ({want})))"
            ).fetchone()[0]
        finally:
            self.con.unregister("got")


def read_detections(detections_dir: str, batch_id: int) -> tuple[Counter, list[int]]:
    """The sink's output for one batch: its detection keys and the row
    count of each file, in bucket order."""
    files = sorted(
        glob.glob(os.path.join(detections_dir, f"batch_id={batch_id}", "bucket=*", "*.csv")),
        key=lambda p: int(os.path.basename(os.path.dirname(p)).split("=")[1]),
    )
    keys, sizes = Counter(), []
    if not files:
        return keys, sizes
    con = duckdb.connect()
    rows = con.execute(
        "SELECT filename, PatternId, ActionType, coalesce(CustomerName, ''), MerchantId "
        f"FROM read_csv({files!r}, header = true, all_varchar = true, "
        "filename = true, hive_partitioning = false)"
    ).fetchall()
    per_file = Counter(r[0] for r in rows)
    sizes = [per_file[f] for f in files]
    keys.update(tuple(r[1:]) for r in rows)
    return keys, sizes


def sink_files_ok(sizes: list[int], rows_per_file: int = 50) -> bool:
    """Every file holds exactly ``rows_per_file`` rows except the last,
    which holds between one and that many."""
    return all(s == rows_per_file for s in sizes[:-1]) and (
        not sizes or 0 < sizes[-1] <= rows_per_file
    )
