"""The one fan-out policy (``catalog.spread``): its gate, and the
partition count every fan-out site lands on."""

from __future__ import annotations

import pytest

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, under_split
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import materialize
from cdk_serverless_data_lake_sandbox_spark.operators.dedup import _docs

from .conftest import SF_SMALL


@pytest.mark.parametrize(
    "par, fires_below",
    # max(par // 2, 2): on 2- and 3-core hosts par // 2 alone would
    # never exceed one split, so a one-split input would never fan out
    [(2, 2), (3, 2), (4, 2), (32, 16)],
)
def test_under_split_gate(par, fires_below):
    assert under_split(1, par)
    assert under_split(fires_below - 1, par)
    assert not under_split(fires_below, par)
    assert not under_split(par, par)
    assert not under_split(None, par)  # unknown split count: splittable


def test_fan_out_targets_core_count_not_shuffle_partitions(spark):
    """With ``spark.sql.shuffle.partitions`` above the core count, an
    under-split input still fans out to ``defaultParallelism``: more
    partitions than cores only adds waves of near-empty tasks."""
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        tiny = materialize(spark.range(10).coalesce(1))
        assert tiny.rdd.getNumPartitions() == par
        assert _docs(spark, SF_SMALL).rdd.getNumPartitions() == par
        lake = load_tables(spark, SF_SMALL, ("documents",), fan_out=("documents",))
        assert lake["documents"].rdd.getNumPartitions() == par
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
