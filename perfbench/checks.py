"""Result checks for the benchmark, run outside every timed region.

* A query's first result is compared with its DuckDB oracle by the repo's
  own correctness comparator (``tools/check_correctness.compare``).
* Every later result must have the same order-insensitive digest as the
  first one.
* ``feature_feed`` results are checked against a NumPy reference of the
  same pipeline computed from the input parquet.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _comparator():
    # check_correctness pins its own repo path on import; keep sys.path as it
    # was so every later import still resolves inside this checkout.
    saved = list(sys.path)
    sys.path.insert(0, ROOT)
    try:
        from tools import check_correctness
    finally:
        sys.path[:] = saved
    return check_correctness


def to_pandas(table: pa.Table) -> pd.DataFrame:
    """Arrow result -> the pandas shape ``DataFrame.toPandas`` gives: list
    columns as Python lists, timestamps naive in the (UTC) session zone."""
    pdf = table.to_pandas()
    for name, typ in zip(table.column_names, table.schema.types):
        if pa.types.is_list(typ) or pa.types.is_large_list(typ):
            pdf[name] = table.column(name).to_pylist()
        elif pa.types.is_timestamp(typ) and typ.tz is not None:
            pdf[name] = pdf[name].dt.tz_convert("UTC").dt.tz_localize(None)
    return pdf


def digest(table: pa.Table) -> str:
    """Order-insensitive digest: equal for the same rows in any order."""
    canon = _comparator()._canon(to_pandas(table))
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()[:16]


class Oracle:
    """DuckDB views over the benchmark's input tables."""

    def __init__(self, data_dir: str):
        import duckdb

        from bears_spark.queries.tables import TABLE_NAMES

        import __spark_entry__ as entry

        self._sql = entry.oracle_sql()
        self._con = duckdb.connect()
        for t in TABLE_NAMES:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self._compare = _comparator().compare

    def check(self, query: str, table: pa.Table) -> tuple[bool, str]:
        expected = self._con.sql(self._sql[query]).df()
        return self._compare(to_pandas(table), expected)


# -- feature_feed ---------------------------------------------------------------
NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber"]
LABELS = ["l_returnflag", "l_linestatus"]
KEYS = ["l_orderkey", "l_linenumber"]


def expected_features(lineitem_path: str) -> tuple[np.ndarray, np.ndarray]:
    """(row keys, feature matrix) that mean imputation, population-std
    scaling, one-to-n label encoding and a name-sorted vector assembly give
    on ``lineitem_path``; rows sorted by key."""
    t = pq.read_table(lineitem_path, columns=sorted(set(NUMERIC + LABELS + KEYS)))
    cols: dict[str, np.ndarray] = {}
    for c in NUMERIC:
        x = t.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
        x = np.where(np.isnan(x), np.nanmean(x), x)
        std = x.std()
        cols[f"{c}_f_z"] = (x - x.mean()) / (std if std > 0 else 1.0)
    for c in LABELS:
        v = np.asarray(t.column(c).to_pylist(), dtype=object)
        labels = sorted(set(v))
        code = {lab: i + 1 for i, lab in enumerate(labels)}
        cols[f"{c}_id"] = np.array([code[x] for x in v], dtype=np.float64)
    feats = np.column_stack([cols[k] for k in sorted(cols)])
    keys = row_keys(t.column("l_orderkey").to_numpy(), t.column("l_linenumber").to_numpy())
    order = np.argsort(keys, kind="stable")
    return keys[order], feats[order]


def row_keys(orderkey: np.ndarray, linenumber: np.ndarray) -> np.ndarray:
    return orderkey.astype(np.int64) * 64 + linenumber.astype(np.int64)


def check_written(path: str, keys: np.ndarray, feats: np.ndarray) -> tuple[bool, str]:
    t = pq.read_table(path)
    got_keys = row_keys(t.column("l_orderkey").to_numpy(), t.column("l_linenumber").to_numpy())
    if len(got_keys) != len(keys):
        return False, f"wrote {len(got_keys)} rows, expected {len(keys)}"
    order = np.argsort(got_keys, kind="stable")
    if not np.array_equal(got_keys[order], keys):
        return False, "written row keys differ from the input"
    got = np.asarray(t.column("features").to_pylist(), dtype=np.float64)[order]
    if got.shape != feats.shape or not np.allclose(got, feats, rtol=1e-9, atol=1e-9):
        return False, "written features differ from the NumPy reference"
    return True, "ok"
