"""Focused tests for the round-12 optimizations.

Each test pins the CORRECTNESS side of a perf change (the perf side is
adjudicated by one-boot probes recorded in OPTIMIZATION_r12.md):

- the fan-out policy (``catalog.spread``, behind ``load_tables``
  fan_out and scratch reads) must provably SELF-DISABLE on an input
  the split config can already parallelize, so the bench-layout
  repartition demonstrably never reaches a production plan.
- ``_bm25_scored``'s document-length table is keyed scratch now: the
  scratch-hit path (second invocation in one application) must be
  value-identical, for the BM25 entry and the hybrid fusion that
  shares it.
- ``materialize(..., fan_out=False)`` must skip the small-file
  re-parallelize but never change values.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import (
    lake_splits,
    load_tables,
    spread,
    under_split,
)
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    materialize,
    uuid_hex,
)
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

from .conftest import SF_SMALL


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fan_out_exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        p for p in ("RoundRobinPartitioning", "hashpartitioning") if p in plan
    ]


def test_serial_scan_gates_self_disable_on_splittable_file(spark, tmp_path):
    """With maxPartitionBytes shrunk so the file is worth >= 16 splits,
    the fan-out policy (``catalog.spread``) must leave the scan alone:
    the gate reports the file as split, and neither the lake-table
    entry (``load_tables(fan_out=...)``, plain or keyed ``spread``) nor
    a scratch read of a multi-split directory adds a
    RoundRobinPartitioning/hashpartitioning exchange."""
    sf_dir = str(tmp_path)
    staging = os.path.join(sf_dir, "_staging")
    spark.range(200_000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    ).coalesce(1).write.parquet(staging)
    part = [
        os.path.join(staging, f)
        for f in os.listdir(staging)
        if f.endswith(".parquet")
    ][0]
    # the driver's tables are SINGLE FILES (<table>.parquet), which is
    # the layout the byte gate reasons about — mirror it
    os.replace(part, os.path.join(sf_dir, "documents.parquet"))
    size = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # small enough that est_splits >= parallelism (>= par // 2 gate)
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(max(size // (2 * par), 1))
        )
        splits = lake_splits(spark, sf_dir, "documents")
        assert not under_split(splits, par)
        df = load_tables(spark, sf_dir, ("documents",), fan_out=("documents",))[
            "documents"
        ]
        assert _fan_out_exchanges(df) == [], (
            "fan_out gate fired on a splittable file — the bench-layout "
            "repartition must not reach a production plan"
        )
        keyed = spread(
            load_tables(spark, sf_dir, ("documents",))["documents"], splits, "doc_id"
        )
        assert _fan_out_exchanges(keyed) == []
        # and on the real single-row-group bench table the gate engages
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        assert under_split(lake_splits(spark, SF_SMALL, "documents"), par)
        fanned = load_tables(
            spark, SF_SMALL, ("documents",), fan_out=("documents",)
        )["documents"]
        assert _fan_out_exchanges(fanned) == ["RoundRobinPartitioning"]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # a scratch directory of 2 * par files scans in enough splits: the
    # cached probe sees them and the read stays a plain scan
    multi = materialize(
        spark.range(0, 800, numPartitions=2 * par), key=f"multi-split:{uuid_hex()}"
    )
    assert _fan_out_exchanges(multi) == []


def test_jaccard_containment_share_keyed_postings(spark):
    """The r12 keyed posting table: repeat invocations (scratch-hit
    path) must be value-identical for both consumers, and the two
    generators must resolve to the SAME keyed artifact (one inverted
    index per (application, sf_dir, hot bound))."""
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
        _MATERIALIZED,
    )

    qs = all_queries()
    j1 = _rows(qs["dedup_ngram_jaccard"](spark, SF_SMALL))
    c1 = _rows(qs["containment_dedup"](spark, SF_SMALL))
    app = spark.sparkContext.applicationId
    # exact-prefix match: other tests build gated variants
    # (ngram-hashed-gated:...) whose posting scratch is legitimately
    # separate
    posting_keys = [
        k
        for (a, k) in _MATERIALIZED
        if a == app and k.startswith(f"ngram-hashed:{SF_SMALL}:postings:")
    ]
    assert len(posting_keys) == 1, posting_keys  # shared, not per-consumer
    assert _rows(qs["dedup_ngram_jaccard"](spark, SF_SMALL)) == j1
    assert _rows(qs["containment_dedup"](spark, SF_SMALL)) == c1
    assert len(j1) > 0 and len(c1) > 0


def test_bm25_scratch_hit_path_identical(spark):
    q = all_queries()["bm25_retrieval"]
    first = _rows(q(spark, SF_SMALL))
    second = _rows(q(spark, SF_SMALL))  # tf + dl scratch hits
    assert first == second
    assert len(first) > 0


def test_hybrid_rrf_scratch_hit_path_identical(spark):
    q = all_queries()["hybrid_retrieval_rrf"]
    first = _rows(q(spark, SF_SMALL))
    second = _rows(q(spark, SF_SMALL))
    assert first == second
    assert len(first) > 0


def test_bm25_query_table_is_local_relation(spark):
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _BM25_QUERIES,
        _bm25_query_table,
    )

    qt = _bm25_query_table(spark)
    assert [f.name for f in qt.schema.fields] == ["query_id", "token"]
    assert qt.schema["query_id"].dataType.simpleString() == "int"
    rows = {(r.query_id, r.token) for r in qt.collect()}
    assert rows == {
        (qid, t) for qid, ts in _BM25_QUERIES.items() for t in ts
    }
    # LocalRelation, not a Python-RDD scan
    assert "ExistingRDD" not in qt._jdf.queryExecution().executedPlan().toString()


def test_materialize_fan_out_off_skips_repartition_keeps_values(spark):
    src = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    key = f"test-fanout-{uuid_hex()}"
    on = materialize(src, key=f"{key}-on", fan_out=True)
    off = materialize(src, key=f"{key}-off", fan_out=False)
    assert _rows(on) == _rows(off)
    off_plan = off._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in off_plan
