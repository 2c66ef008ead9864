"""Correctness gate: order-insensitive result hashes and the DuckDB
oracle they are compared against.

A result hash canonicalises every value the way the repository's
oracle comparison does (rows in any order, numeric columns tagged
integer or float, ``-0.0 == 0.0``, NaN and None equal, timestamps at
microsecond precision) and digests the sorted rows. The oracle side
runs each query's registered DuckDB SQL over the same parquet files;
its hashes are cached on disk keyed by the input files' sizes and
mtimes, so they are computed once per data set, never in a timed
section.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, (float, np.floating)):
        return "~" if math.isnan(v) else repr(float(v) + 0.0)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, str):
        return v
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (pd.Timestamp, _dt.datetime, np.datetime64)):
        if pd.isna(v):
            return "~"
        return pd.Timestamp(v).as_unit("us").isoformat()
    if isinstance(v, decimal.Decimal):
        return repr(float(v) + 0.0)
    if v is pd.NaT or v is pd.NA:
        return "~"
    return str(v)


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "b"
    if pd.api.types.is_float_dtype(s):
        return "f"
    if pd.api.types.is_integer_dtype(s):
        return "i"
    return "o"


def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result frame (columns by name)."""
    cols = sorted(pdf.columns)
    h = hashlib.sha256()
    h.update("|".join(f"{c}:{_kind(pdf[c])}" for c in cols).encode())
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h.update(f"#{len(rows)}".encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


def data_fingerprint(data_dir: str) -> str:
    """Key of a data set: every table file's name, size and mtime."""
    parts = []
    for t in TABLES:
        st = os.stat(os.path.join(data_dir, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256(";".join(parts).encode()).hexdigest()[:16]


def oracle_hashes(data_dir: str, names: list[str], cache_dir: str) -> dict[str, str]:
    """DuckDB oracle hash for each of ``names``, from the on-disk cache
    when the data set is unchanged; missing entries are computed and
    added to the cache."""
    from cdk_serverless_data_lake_sandbox_spark.registry import all_oracles

    path = os.path.join(cache_dir, f"oracle-{data_fingerprint(data_dir)}.json")
    cached: dict[str, str] = {}
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb

        sqls = all_oracles()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
                )
            for n in missing:
                cached[n] = result_hash(con.execute(sqls[n]).fetchdf())
        finally:
            con.close()
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(cached, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cached[n] for n in names}
