"""Focused tests for the round-12 optimizations.

Each test pins the CORRECTNESS side of a perf change (the perf side is
adjudicated by one-boot probes recorded in OPTIMIZATION_r12.md):

- the fan-out policy (``catalog.spread``, behind ``load_tables``
  fan_out and scratch reads) must provably SELF-DISABLE on an input
  the split config can already parallelize, so the bench-layout
  repartition demonstrably never reaches a production plan.
- the BM25 query table is an inline VALUES relation.

The keyed-scratch hit-path tests live in ``test_scratch.py``.
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
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import materialize

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
    # write-time probe sees them and the read stays a plain scan
    multi = materialize(spark.range(0, 800, numPartitions=2 * par))
    assert _fan_out_exchanges(multi) == []


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
