"""Seeded, BankSim-shaped inputs: transaction chunks and the importance
dimension.

Everything is drawn from one ``numpy`` generator seeded with
``(seed, workload tag)``, so the same seed gives byte-identical files and
each workload draws its own stream. Chunk files are produced by the
engine's own load tool, ``tools.feeder.feed_chunks`` (10k-row,
header-bearing CSVs, as the reference's Mechanism X writes them), into a
holding directory the stream does not watch; the publisher process moves
them into the watched directory later.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark_data_engineering_assignment_spark.tools.feeder import feed_chunks

CHUNK_ROWS = 10_000  # reference mechanism_x.py:17

# BankSim's fifteen merchant categories; a merchant has one category.
CATEGORIES = np.array(
    [
        "es_transportation", "es_food", "es_health", "es_wellnessandbeauty",
        "es_fashion", "es_barsandrestaurants", "es_hyper", "es_sportsandtoys",
        "es_tech", "es_home", "es_hotelservices", "es_otherservices",
        "es_contents", "es_travel", "es_leisure",
    ]
)
AGES = np.array(["0", "1", "2", "3", "4", "5", "6", "U"])
# BankSim gender codes; the engine's pivot counts only M and F.
GENDERS = np.array(["F", "M", "E", "U"])
GENDER_P = [0.54, 0.45, 0.005, 0.005]


@dataclass(frozen=True)
class KeySpace:
    customers: int
    merchants: int
    importance_rows: int


@dataclass(frozen=True)
class Inputs:
    importance_csv: str
    warm_dir: str  # the set-up's warm-up chunk, not yet published
    warm_names: tuple[str, ...]
    pending_dir: str  # the measured chunks, not yet published
    chunk_names: tuple[str, ...]


def chunk_name(part: int) -> str:
    return f"chunk_{part:05d}.csv"


def warm_name(part: int) -> str:
    return f"warmup_{part:05d}.csv"


def _ids(prefix: str, ids: np.ndarray) -> pd.Series:
    return prefix + pd.Series(ids).astype(str)


def transactions(rng: np.random.Generator, keys: KeySpace, n: int) -> pd.DataFrame:
    merchant = rng.integers(0, keys.merchants, n)
    return pd.DataFrame(
        {
            "step": np.arange(n) // CHUNK_ROWS,
            "customer": _ids("C", rng.integers(0, keys.customers, n)),
            "age": rng.choice(AGES, n),
            "gender": rng.choice(GENDERS, n, p=GENDER_P),
            "zipcodeOri": "28007",
            "merchant": _ids("M", merchant),
            "zipMerchant": "28007",
            "category": CATEGORIES[merchant % len(CATEGORIES)],
            "amount": np.round(rng.exponential(35.0, n), 2),
            "fraud": (rng.random(n) < 0.012).astype(int),
        }
    )


def importance(rng: np.random.Generator, keys: KeySpace) -> pd.DataFrame:
    """One row per distinct (customer, merchant) pair drawn, with the
    merchant's category, so batch rows of a drawn pair find their weight."""
    pair = np.unique(
        rng.integers(0, keys.customers * keys.merchants, keys.importance_rows)
    )
    merchant = pair % keys.merchants
    return pd.DataFrame(
        {
            "Source": _ids("C", pair // keys.merchants),
            "Target": _ids("M", merchant),
            "Weight": np.round(rng.uniform(0.1, 9.9, len(pair)), 2),
            "typeTrans": CATEGORIES[merchant % len(CATEGORIES)],
            "fraud": 0,
        }
    )


def wide_state(seed: int, tag: str, keys: KeySpace, pairs: int, thresholds) -> dict[str, pa.Table]:
    """A cumulative state as a long history of transactions over ``keys``
    would leave it: ``pairs`` distinct (customer, merchant) keys with their
    counts and amount sums, the merchant and gender totals those imply,
    and the PatId2/PatId3 keys that history would have emitted (the seen
    detections of a stream without re-firing). Arrow tables by state
    table name, with the columns of the engine's tables minus
    ``last_updated``."""
    rng = np.random.default_rng([seed, zlib.crc32(tag.encode()), 1])
    pair = np.unique(rng.integers(0, keys.customers * keys.merchants, pairs))
    merchant = pair % keys.merchants
    count = rng.geometric(0.45, len(pair)).astype(np.int64)
    cents = np.round(rng.gamma(count, 3500.0)).astype(np.int64)  # exponential(35.00) per row
    customer_ids, merchant_ids = _ids("C", pair // keys.merchants), _ids("M", merchant)
    per_merchant = np.bincount(merchant, weights=count, minlength=keys.merchants).astype(np.int64)
    active = np.flatnonzero(per_merchant)
    male = rng.binomial(per_merchant[active], GENDER_P[1])
    female = rng.binomial(per_merchant[active] - male, GENDER_P[0] / (1 - GENDER_P[1]))
    child = (count >= thresholds.child_min_txns) & (cents < thresholds.child_max_avg_amount * 100 * count)
    dei = (female < male) & (female > thresholds.dei_min_female)
    merchant_names = _ids("M", active)
    n_child, n_dei = int(child.sum()), int(dei.sum())
    return {
        "customer_merchant_summary": pa.table({
            "customer_id": customer_ids,
            "merchant_id": merchant_ids,
            "transaction_count": count,
            "total_amount_sum": pa.array(
                [Decimal(int(c)).scaleb(-2) for c in cents], pa.decimal128(18, 2)
            ),
        }),
        "merchant_transaction_summary": pa.table({
            "merchant_id": merchant_names, "total_transactions": per_merchant[active],
        }),
        "merchant_gender_summary": pa.table({
            "merchant_id": merchant_names,
            "male_transaction_count": male.astype(np.int64),
            "female_transaction_count": female.astype(np.int64),
        }),
        "seen_detections": pa.table({
            "PatternId": ["PatId2"] * n_child + ["PatId3"] * n_dei,
            "ActionType": ["CHILD"] * n_child + ["DEI-NEEDED"] * n_dei,
            "CustomerName": pd.concat([customer_ids[child], pd.Series([""] * n_dei)], ignore_index=True),
            "MerchantId": pd.concat([merchant_ids[child], merchant_names[dei]], ignore_index=True),
            "n_emits": np.ones(n_child + n_dei, np.int64),
        }),
    }


def write_inputs(root: str, tag: str, seed: int, keys: KeySpace, n_chunks: int) -> Inputs:
    """Write the importance CSV, one warm-up chunk and ``n_chunks``
    measured chunks under ``root``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, zlib.crc32(tag.encode())])
    tx = transactions(rng, keys, (1 + n_chunks) * CHUNK_ROWS)
    imp_csv = os.path.join(root, "importance.csv")
    importance(rng, keys).to_csv(imp_csv, index=False)
    dirs = {}
    for part, frame, name_fn in (
        ("warm", tx.iloc[:CHUNK_ROWS], warm_name),
        ("pending", tx.iloc[CHUNK_ROWS:], chunk_name),
    ):
        src = os.path.join(root, f"{part}.csv")
        frame.to_csv(src, index=False)
        dirs[part] = os.path.join(root, part)
        feed_chunks(src, dirs[part], CHUNK_ROWS, name_fn=name_fn)
        os.remove(src)
    return Inputs(
        imp_csv,
        dirs["warm"],
        (warm_name(0),),
        dirs["pending"],
        tuple(chunk_name(i) for i in range(n_chunks)),
    )
