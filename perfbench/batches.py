"""Seeded update batches for the ``store_upsert`` workload, and the
independent keep-last merge its read-back is checked against.

The store holds a projection of ``lineitem`` keyed by
``(l_orderkey, l_linenumber)`` and partitioned by a range bucket of
``l_orderkey``. A batch holds about 1% of the live rows. Nine in ten
of its rows update existing keys drawn from the most recent tenth of
order keys, so a batch touches few buckets; the rest are new keys
past the current maximum.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

KEYS = ["l_orderkey", "l_linenumber"]
VALUES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
COLUMNS = KEYS + VALUES + ["bucket"]
N_BUCKETS = 16
BATCH_SHARE = 0.01
RECENT_SHARE = 0.10
NEW_SHARE = 0.10


def bucket_width(max_orderkey: int) -> int:
    """Key range per bucket so the initial keys fill N_BUCKETS buckets."""
    return max_orderkey // N_BUCKETS + 1


def project(lineitem: pd.DataFrame, width: int) -> pd.DataFrame:
    out = lineitem[KEYS + VALUES].copy()
    out["l_orderkey"] = out["l_orderkey"].astype("int64")
    out["l_linenumber"] = out["l_linenumber"].astype("int32")
    out["bucket"] = (out["l_orderkey"] // width).astype("int64")
    return out.reset_index(drop=True)


def make_batch(rng: np.random.Generator, live: pd.DataFrame, next_key: int, width: int):
    """One batch over the ``live`` table; returns (batch, next_key)."""
    n = max(1, round(BATCH_SHARE * len(live)))
    n_new = max(1, round(NEW_SHARE * n))
    recent = live[live["l_orderkey"] >= live["l_orderkey"].quantile(1.0 - RECENT_SHARE)]
    upd = recent.iloc[rng.choice(len(recent), size=min(n - n_new, len(recent)), replace=False)]
    new_keys = pd.DataFrame(
        {
            "l_orderkey": np.arange(next_key, next_key + n_new, dtype="int64"),
            "l_linenumber": np.ones(n_new, dtype="int32"),
        }
    )
    batch = pd.concat([upd[KEYS], new_keys], ignore_index=True)
    m = len(batch)
    batch["l_quantity"] = rng.integers(1, 51, size=m).astype("float64")
    batch["l_extendedprice"] = np.round(rng.uniform(900.0, 105000.0, size=m), 2)
    batch["l_discount"] = rng.integers(0, 11, size=m) / 100.0
    batch["l_tax"] = rng.integers(0, 9, size=m) / 100.0
    batch["bucket"] = (batch["l_orderkey"] // width).astype("int64")
    return batch[COLUMNS], next_key + n_new


def batch_rng(seed: int, pass_no: int, k: int) -> np.random.Generator:
    return np.random.default_rng([seed, pass_no, k])


def keep_last(live: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """Rows of ``live`` with ``batch`` merged in, batch rows winning."""
    merged = pd.concat([live, batch], ignore_index=True)
    return merged.drop_duplicates(KEYS, keep="last").reset_index(drop=True)
