"""Tests for the round-2 continuation operators: events-timestamp
loader robustness (nanos vs micros parquet), interval-concurrency
sweep line, weighted sampling, and segment-level dedup removal."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

from tests.conftest import SF_SMALL

_Q = all_queries()


# ------------------------------------------------------------ loader
@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_loader_handles_both_ts_encodings(spark, tmp_path, unit):
    """The driver's events.parquet has shipped ``ts`` both as
    TIMESTAMP(NANOS) (rejected outright by Spark's microsecond
    TimestampType) and as TIMESTAMP(MICROS) (which reads back as
    TIMESTAMP_NTZ and breaks ``unix_micros`` / interval arithmetic
    downstream). ``load_tables`` must normalize BOTH to the
    session-zoned TimestampType with identical values, and leave the
    session's conf as it found it: the values are collected after the
    nanos read's conf is restored."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.000001", "2024-06-15 12:34:56.789012"]
    )
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    d = tmp_path / unit
    os.makedirs(d)
    pq.write_table(table, str(d / "events.parquet"))
    conf = spark.conf.getAll
    ev = load_tables(spark, str(d), ("events",))["events"]
    assert spark.conf.getAll == conf
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    got = ev.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
    want = [int(t.value // 1000) for t in ts]
    assert [r.us for r in got] == want


# ------------------------------------------------------- concurrency
def test_open_order_concurrency_vs_python(spark):
    """Sweep-line peak must equal a brute-force per-day open-interval
    count on the small SF."""
    t = load_tables(spark, SF_SMALL, ("orders", "lineitem"))
    orders = {
        r.o_orderkey: r.o_orderdate.date()
        for r in t["orders"].select("o_orderkey", "o_orderdate").collect()
    }
    closes = {}
    for r in t["lineitem"].select("l_orderkey", "l_shipdate").collect():
        d = r.l_shipdate.date() if hasattr(r.l_shipdate, "date") else r.l_shipdate
        closes[r.l_orderkey] = max(closes.get(r.l_orderkey, d), d)
    import collections
    import datetime

    delta = collections.Counter()
    for k, od in orders.items():
        if k not in closes:
            continue
        delta[od] += 1
        delta[closes[k] + datetime.timedelta(days=1)] -= 1
    run, peak = 0, collections.Counter()
    for day in sorted(delta):
        run += delta[day]
        m = day.replace(day=1)
        peak[m] = max(peak[m], run)
    got = {
        r.month.date().replace(day=1): r.peak_open
        for r in _Q["open_order_concurrency"](spark, SF_SMALL).collect()
    }
    assert got == dict(peak)


# ---------------------------------------------------------- sampling
def test_weighted_sample_deterministic_and_length_biased(spark):
    """Same sample under different partitionings (pure hash ranking,
    no RNG), and the sample over-represents long documents relative
    to a uniform pick (that's the point of A-ES weighting)."""
    a = _Q["weighted_sample"](spark, SF_SMALL)
    ids_a = [r.doc_id for r in a.orderBy("doc_id").collect()]
    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    from cdk_serverless_data_lake_sandbox_spark.operators.stats import (
        _WS_K,
    )

    assert len(ids_a) == _WS_K
    b = _Q["weighted_sample"](spark, SF_SMALL)
    ids_b = [r.doc_id for r in b.repartition(17).orderBy("doc_id").collect()]
    assert ids_a == ids_b
    stats = docs.selectExpr(
        "avg(n_chars) as mean_all",
        f"avg(CASE WHEN doc_id IN ({','.join(map(str, ids_a))}) THEN n_chars END) as mean_sample",
    ).first()
    assert stats.mean_sample > stats.mean_all


# ------------------------------------------------------ segment dedup
def test_segment_dedup_first_occurrence_semantics(spark):
    """Every distinct segment survives exactly once corpus-wide, the
    survivor is the (doc_id, position)-first occurrence, and each
    reassembled text is the in-order join of its kept segments."""
    out = {r.doc_id: r for r in _Q["segment_dedup"](spark, SF_SMALL).collect()}
    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    from cdk_serverless_data_lake_sandbox_spark.operators.shaping import (
        _SEG_SIZE,
    )

    seen: dict[str, tuple[int, int]] = {}
    segs_per_doc: dict[int, list[tuple[int, str]]] = {}
    for r in docs.select("doc_id", "text").collect():
        ws = r.text.strip().split()
        segs = [
            " ".join(ws[i : i + _SEG_SIZE]) for i in range(0, len(ws), _SEG_SIZE)
        ]
        segs_per_doc[r.doc_id] = list(enumerate(segs))
        for idx, s in enumerate(segs):
            if s not in seen or (r.doc_id, idx) < seen[s]:
                seen[s] = (r.doc_id, idx)
    total_kept = sum(r.n_kept for r in out.values())
    assert total_kept == len(seen)
    for doc_id, pairs in segs_per_doc.items():
        kept = [s for idx, s in pairs if seen[s] == (doc_id, idx)]
        assert out[doc_id].dedup_text == " ".join(kept)
        assert out[doc_id].n_segments == len(pairs)
        assert out[doc_id].n_kept == len(kept)


def test_segment_dedup_single_tokenize_pass(spark):
    """The segment frame feeds two branches (winner agg + mark join);
    it must be a materialized intermediate — the final plan may
    contain no tokenize expressions, only scratch scans."""
    from cdk_serverless_data_lake_sandbox_spark.plans import formatted_plan

    plan = formatted_plan(_Q["segment_dedup"](spark, SF_SMALL))
    assert "split(" not in plan, "tokenize leaked into the dedup plan"
    assert plan.count(".scratch") >= 2, plan


def test_weighted_sample_take_ordered(spark):
    """Global top-k must fuse to TakeOrderedAndProject — k rows per
    partition cross the wire, never a global sort."""
    from cdk_serverless_data_lake_sandbox_spark.plans import formatted_plan

    plan = formatted_plan(_Q["weighted_sample"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan


def test_new_corpus_ops_survive_empty_corpus(spark, tmp_path):
    """Empty documents table -> empty results, never a crash, for the
    r2-continuation corpus ops (guards explode_outer null paths,
    empty materialize round-trips, and the empty top-k)."""
    import glob
    import shutil

    df = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "d.dir"))
    part = glob.glob(str(tmp_path / "d.dir") + "/part-*.parquet")[0]
    shutil.copy(part, str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    for name in (
        "segment_dedup",
        "weighted_sample",
        "bm25_retrieval",
        "vocab_oov_profile",
        "normalize_corpus",
        "bpe_merge_candidates",
        "containment_dedup",
    ):
        rows = _Q[name](spark, sf).collect()
        assert rows == [], f"{name}: expected empty, got {rows}"
