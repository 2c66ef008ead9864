"""The one fan-out entry point (``catalog.spread``): its gate, the
partition count it lands on, and the rule that scratch never fans
out."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import _under_split, load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators import _helpers as H
from cdk_serverless_data_lake_sandbox_spark.operators.dedup import _docs
from cdk_serverless_data_lake_sandbox_spark.plans import plan_profile

from .conftest import SF_SMALL


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fan_out_exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        p for p in ("RoundRobinPartitioning", "hashpartitioning") if p in plan
    ]


def _documents(spark, sf_dir):
    return load_tables(spark, sf_dir, ("documents",))["documents"]


@pytest.mark.parametrize(
    "par, fires_below",
    # max(par // 2, 2): on 2- and 3-core hosts par // 2 alone would
    # never exceed one split, so a one-split input would never fan out
    [(2, 2), (3, 2), (4, 2), (32, 16)],
)
def test_under_split_gate(par, fires_below):
    assert _under_split(1, par)
    assert _under_split(fires_below - 1, par)
    assert not _under_split(fires_below, par)
    assert not _under_split(par, par)


def test_fan_out_targets_core_count_not_shuffle_partitions(spark):
    """With ``spark.sql.shuffle.partitions`` above the core count, an
    under-split lake table still fans out to ``defaultParallelism``:
    more partitions than cores only adds waves of near-empty tasks."""
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        assert _docs(spark, SF_SMALL).rdd.getNumPartitions() == par
        lake = spread(_documents(spark, SF_SMALL), SF_SMALL, "documents")
        assert lake.rdd.getNumPartitions() == par
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_serial_scan_gates_self_disable_on_splittable_file(spark, tmp_path):
    """With maxPartitionBytes shrunk so the file is worth >= 16 splits,
    ``catalog.spread`` must leave the scan alone, plain or keyed: no
    RoundRobinPartitioning/hashpartitioning exchange. On the real
    single-row-group bench table it fans out."""
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
        docs = _documents(spark, sf_dir)
        assert _fan_out_exchanges(spread(docs, sf_dir, "documents")) == [], (
            "fan-out gate fired on a splittable file — the bench-layout "
            "repartition must not reach a production plan"
        )
        keyed = spread(docs, sf_dir, "documents", "doc_id")
        assert _fan_out_exchanges(keyed) == []
        # and on the real single-row-group bench table the gate engages
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        fanned = spread(_documents(spark, SF_SMALL), SF_SMALL, "documents")
        assert _fan_out_exchanges(fanned) == ["RoundRobinPartitioning"]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_leaves_a_directory_table_alone(spark, tmp_path):
    """A table stored as a directory of part files has no one file to
    estimate its splits from, so ``spread`` returns it unchanged."""
    sf_dir = str(tmp_path)
    spark.range(10).coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert spread(docs, sf_dir, "documents") is docs


def test_scratch_reads_back_as_written(spark):
    """Scratch never fans out: a ``materialize`` of a one-file frame
    and a keyed ``scratch`` hit scan their files as written, with no
    user-pinned exchange, and keep their rows."""
    src = spark.range(100).select("id", (F.col("id") % 7).alias("k")).coalesce(1)
    m = H.materialize(src)
    assert plan_profile(m)["pinned"] == []
    assert _rows(m) == _rows(src)

    reads = _documents(spark, SF_SMALL)

    def build():
        return reads.select("doc_id", F.length("text").alias("n"))

    first = H.scratch("read-as-written", reads, build)
    hit = H.scratch("read-as-written", reads, build)
    assert plan_profile(hit)["pinned"] == []
    assert _rows(hit) == _rows(first) == _rows(build())
    app = spark.sparkContext.applicationId
    key = next(k for k in H._MATERIALIZED if k[:2] == (app, "read-as-written"))
    H._drop(H._MATERIALIZED, key)
