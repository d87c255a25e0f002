"""Expected answers for the benchmark's queries, and the order-insensitive
digest both sides are compared by.

A query's result is canonicalized with ``tests.conftest.canonicalize``
(the order-insensitive form ``tools/driver_sim.py`` compares), then
reduced to a digest of its normalized values. Two frames get the same
digest exactly when they hold the same columns and rows with equal
values, which is the exact comparison the parity suite makes
(``check_dtype=False``, zero tolerance): an integer column and a float
column holding the same numbers agree, as do ``Decimal`` and float.

The DuckDB oracles of the connected-components queries are slow, so
expected digests are computed once and cached. ``expected.json``
(committed) holds them for the benchmark's own input directory; a
digest whose key no longer matches (the oracle SQL changed, or the
inputs did) is recomputed with DuckDB and cached under
``perfbench/.cache/``. The key is a hash of the oracle SQL text plus
the fingerprint of the input files.

Refresh ``expected.json`` after an oracle changes, from the
repository root::

    python3 -m perfbench.oracle
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
EXPECTED_PATH = os.path.join(HERE, "expected.json")
CACHE_DIR = os.path.join(HERE, ".cache", "expected")


def input_fingerprint(data_dir: str) -> str:
    """Hash of every parquet file's name and bytes under ``data_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_key(sql: str, fingerprint: str) -> str:
    return hashlib.sha256((sql + "\0" + fingerprint).encode()).hexdigest()


def _norm(v):
    """One cell as a JSON-stable value; equal cells map to equal values
    whatever numeric type each engine returned them as."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    elif hasattr(v, "item") and not isinstance(v, str):
        v = v.item()  # numpy scalar
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return repr(v)
        if v.is_integer() and abs(v) < 2**63:
            return int(v)
        return repr(v + 0.0)
    if isinstance(v, int):
        return v
    return str(v)


def frame_digest(pdf) -> dict:
    """Canonical digest of a pandas frame: columns, row count, and a
    hash of every normalized cell in canonical row order."""
    from tests.conftest import canonicalize

    pdf = canonicalize(pdf)
    h = hashlib.sha256()
    h.update(json.dumps(list(pdf.columns)).encode())
    for c in pdf.columns:
        col = pdf[c]
        if str(col.dtype).startswith("datetime64"):
            col = col.astype("int64")
            h.update(json.dumps([None if x == -(2**63) else int(x) for x in col]).encode())
        else:
            h.update(json.dumps([_norm(x) for x in col.tolist()]).encode())
    return {"columns": list(pdf.columns), "rows": int(len(pdf)), "digest": h.hexdigest()}


def _duckdb_digest(sql: str, data_dir: str) -> dict:
    import duckdb

    from tests.conftest import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
        return frame_digest(con.execute(sql).fetchdf())
    finally:
        con.close()


class ExpectedAnswers:
    """Expected digests of the queries over one input dir."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.fingerprint = input_fingerprint(data_dir)
        try:
            with open(EXPECTED_PATH) as fh:
                self._committed = json.load(fh)
        except (OSError, ValueError):
            self._committed = {}

    def get(self, name: str, sql: str) -> dict:
        key = oracle_key(sql, self.fingerprint)
        hit = self._committed.get(name)
        if hit and hit.get("key") == key:
            return hit
        path = os.path.join(CACHE_DIR, f"{key}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            pass
        out = {"key": key, **_duckdb_digest(sql, self.data_dir)}
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, path)
        return out


def main() -> None:
    """Recompute ``expected.json`` for every query the workloads run."""
    from dvmax_spark.registry import all_queries

    from perfbench.workloads import DATA_DIR, DEDUP_GRAPH

    specs = all_queries()
    fp = input_fingerprint(DATA_DIR)
    out = {}
    for name in DEDUP_GRAPH:
        sql = specs[name].sql
        out[name] = {"key": oracle_key(sql, fp), **_duckdb_digest(sql, DATA_DIR)}
        print(name, out[name]["rows"], flush=True)
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
