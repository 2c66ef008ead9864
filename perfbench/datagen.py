"""Seeded synthetic inputs for the benchmark.

Two generators:

- :func:`make_lake` writes the ten base tables the query library reads
  (the TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), one single-row-group parquet file per table, in the
  same schema and value ranges as the package's test data.
- :func:`make_ingest_drop` writes one raw drop for the ``lake_ingest``
  workload: a tab-separated orders extract with a header and a seeded
  number of malformed rows, a change batch for the upsert, and a
  directory of event parquet files for the streaming append.

Both are pure functions of their arguments (numpy ``default_rng``), so
the same seed always gives byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJECTIVES = ("small", "large", "red", "blue", "hot", "cold", "new", "old")
NOUNS = ("ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: np.datetime64, span_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the package's test data
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _orders(rng, first_key: int, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days(rng, EPOCH_1995, 2404, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def _events(rng, first_id: int, n: int, n_users: int, start, span_us: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    offs = np.cumsum(gaps) / gaps.sum() * span_us
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": start + offs.astype(np.int64).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def make_lake(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write the ten base tables for scale factor ``sf`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(
        pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": list(REGIONS),
            }
        ),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    _write(
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    adj = rng.integers(0, len(ADJECTIVES), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    _write(
        pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    _write(_orders(rng, 0, n_ord, n_cust), f"{out_dir}/orders.parquet")
    # Line numbers are unique within an order (as in TPC-H), so the
    # ORDER BY l_orderkey, l_linenumber of the preview query is total.
    okeys = np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64))
    starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    linenos = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line])) + 1
    perm = rng.permutation(n_line)
    _write(
        pa.table(
            {
                "l_orderkey": okeys[perm],
                "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
                "l_linenumber": linenos[perm].astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_line),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    _write(
        _events(rng, 0, n_ev, max(10, int(15_000 * sf)), EPOCH_2024, 30 * DAY_US),
        f"{out_dir}/events.parquet",
    )
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))
        for _ in range(n_doc)
    ]
    # ~5% near-duplicates: another document's text plus a marker word
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        src = int(rng.integers(0, n_doc))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    _write(
        pa.table(
            {
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(LANGS, n_doc, p=LANG_P),
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_emb).astype(np.int32),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )


SAMPLE_HORIZON = 12_000  # beyond the crawler's 10,000-line inference sample
ORDERS_TSV_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def make_ingest_drop(
    out_dir: str, lake_dir: str, seed: int, round_no: int, n_rows: int
) -> dict:
    """Write one raw drop for ingest round ``round_no`` and return its
    manifest: paths, the rows written, the malformed-row count and the
    upsert keys with their new prices (what the read-back must see).

    The TSV holds fresh orders whose keys follow the base table's (so
    every round lands new rows), with customers drawn from the base
    customer table so the post-ingest join matches."""
    rng = np.random.default_rng([seed, round_no])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = pq.read_metadata(f"{lake_dir}/customer.parquet").num_rows
    first_key = pq.read_metadata(f"{lake_dir}/orders.parquet").num_rows + round_no * n_rows
    orders = _orders(rng, first_key, n_rows, n_cust).to_pydict()
    n_bad = int(rng.integers(3, 12))
    # past the crawler's sampled-inference horizon, so the sample infers
    # a double price and these rows land in the corrupt-record column
    horizon = min(n_rows - n_bad, SAMPLE_HORIZON)
    bad_at = set((horizon + rng.choice(n_rows - horizon, n_bad, replace=False)).tolist())
    lines = ["\t".join(ORDERS_TSV_COLUMNS)]
    for i in range(n_rows):
        row = [str(orders[c][i]) for c in ORDERS_TSV_COLUMNS]
        row[4] = row[4][:10]  # orderdate as yyyy-mm-dd
        if i in bad_at:
            row[3] = "n/a"  # an unparseable price lands in the corrupt column
        lines.append("\t".join(row))
    tsv = os.path.join(out_dir, "orders.tsv")
    with open(tsv, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    # change batch: new prices for a seeded subset of the drop's valid keys
    good = np.array([k for i, k in enumerate(orders["o_orderkey"]) if i not in bad_at])
    upd_keys = np.sort(rng.choice(good, max(1, n_rows // 50), replace=False))
    upd_prices = _money(rng, 1000.0, 500_000.0, len(upd_keys))
    updates = os.path.join(out_dir, "updates.parquet")
    _write(
        pa.table(
            {
                "o_orderkey": upd_keys.astype(np.int64),
                "o_totalprice": upd_prices,
                "version": np.full(len(upd_keys), round_no + 1, dtype=np.int64),
            }
        ),
        updates,
    )

    # event drop: a few parquet files of new events for the stream append
    ev_dir = os.path.join(out_dir, "events")
    os.makedirs(ev_dir, exist_ok=True)
    n_ev = n_rows
    n_files = 4
    start = EPOCH_2024 + np.timedelta64(30 + round_no, "D")
    ev = _events(rng, 10_000_000 * (round_no + 1), n_ev, 100, start, DAY_US)
    for f in range(n_files):
        lo, hi = f * n_ev // n_files, (f + 1) * n_ev // n_files
        _write(ev.slice(lo, hi - lo), os.path.join(ev_dir, f"part-{f:03d}.parquet"))
    return {
        "tsv": tsv,
        "updates": updates,
        "events": ev_dir,
        "rows": n_rows,
        "corrupt_rows": n_bad,
        "event_rows": n_ev,
        "upserts": dict(zip(upd_keys.tolist(), upd_prices.tolist())),
        "input_bytes": sum(
            os.path.getsize(os.path.join(d, f))
            for d in (out_dir, ev_dir)
            for f in os.listdir(d)
            if os.path.isfile(os.path.join(d, f))
        ),
    }
