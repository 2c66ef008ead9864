"""``_helpers.pin`` and ``_helpers.RoundPins``: the master alone picks
where pinned state lives (executor blocks on ``local[...]``, scratch
parquet on any other master), and each pinning loop reclaims its own
old rounds.

The scratch placement is selected by monkeypatching the master
predicate, which is what a cluster master resolves to. Both placements
replay the same physical rows, so results must be bit-identical.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.operators import _helpers as H
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

from tests.conftest import SF_SMALL


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _take_scratch_placement(patch, spark) -> None:
    """Pins take the cluster placement, and a planned
    ``localCheckpoint`` fails the test. ``patch`` is a monkeypatch."""
    patch.setattr(H, "_pins_to_executors", lambda master: False)

    def banned(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("localCheckpoint planned under the scratch placement")

    # the CONCRETE class: pyspark 4's classic DataFrame shadows the
    # base-class method, so patching pyspark.sql.DataFrame is vacuous
    patch.setattr(type(spark.range(1)), "localCheckpoint", banned)


@pytest.fixture
def scratch_pins(spark, monkeypatch):
    _take_scratch_placement(monkeypatch, spark)


def test_master_picks_placement():
    assert H._pins_to_executors("local[32]")
    assert H._pins_to_executors("local[*]")
    # a cluster master never keeps state in executor blocks
    for master in ("spark://host:7077", "yarn", "k8s://https://host"):
        assert not H._pins_to_executors(master)


def test_local_cluster_master_writes_scratch():
    """local-cluster executors are separate JVMs that can die."""
    assert not H._pins_to_executors("local-cluster[2,2,1024]")


def test_pin_uses_localcheckpoint_in_local_mode(spark):
    cls = type(spark.range(1))
    calls = []
    orig = cls.localCheckpoint

    def spy(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    cls.localCheckpoint = spy
    try:
        assert H.pin(spark.range(3)).count() == 3
    finally:
        cls.localCheckpoint = orig
    assert calls, "pin() did not route through localCheckpoint on local[*]"


# graph (pagerank, kcore) plus one op per other pinning module:
# similarity (mmr greedy loop), analytics (count-min word_counts
# reuse), pipeline (dedup_components label rounds), text (bpe_train
# vocab rounds)
SCRATCH_OPS = [
    "copurchase_pagerank",
    "copurchase_kcore",
    "mmr_diversify",
    "count_min_words",
    "dedup_components",
    "bpe_merge_candidates",
]


@pytest.mark.parametrize("name", SCRATCH_OPS)
def test_scratch_placement_bit_identical(spark, monkeypatch, name):
    q = all_queries()[name]
    base = _collect_sorted(q(spark, SF_SMALL))
    with monkeypatch.context() as m:
        _take_scratch_placement(m, spark)
        got = _collect_sorted(q(spark, SF_SMALL))
    assert got == base


def test_scratch_placement_dv_delete_side_effects_identical(spark, tmp_path, monkeypatch):
    """etl's pins are side-effect paths (deletion vectors): run
    dv_delete on two copies of a table, one per placement, and require
    identical survivor sets AND identical delete accounting."""
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import dv_delete, dv_read

    src = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("bucket"))
    t_local = str(tmp_path / "t_local")
    t_scratch = str(tmp_path / "t_scratch")
    src.repartition(4).write.parquet(t_local)
    src.repartition(4).write.parquet(t_scratch)

    stats_local = dv_delete(spark, t_local, "bucket = 3")
    again_local = dv_delete(spark, t_local, "bucket = 3")  # idempotent
    rows_local = _collect_sorted(dv_read(spark, t_local))

    with monkeypatch.context() as m:
        _take_scratch_placement(m, spark)
        stats_scratch = dv_delete(spark, t_scratch, "bucket = 3")
        again_scratch = dv_delete(spark, t_scratch, "bucket = 3")
        rows_scratch = _collect_sorted(dv_read(spark, t_scratch))

    assert stats_scratch == stats_local
    assert again_scratch == again_local == {"rows_deleted": 0, "files_touched": 0}
    assert rows_scratch == rows_local
    assert len(rows_scratch) == 100 - stats_local["rows_deleted"]


def test_two_lazy_results_of_one_loop_both_collect(spark, scratch_pins):
    """Two calls of one pinning loop, both results held unevaluated:
    the second call must not delete rounds the first still scans."""
    from cdk_serverless_data_lake_sandbox_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 2), (2, 3, 2), (3, 2, 1)],
        "src long, dst long, src_deg long",
    )
    first = pagerank(edges, 0.85, 4)
    second = pagerank(edges, 0.85, 4)
    got = _collect_sorted(first)
    assert len(got) == 3
    assert got == _collect_sorted(second)


def test_six_round_loop_keeps_two_rounds_on_disk(spark, scratch_pins):
    app_dir = os.path.join(H._SCRATCH_ROOT, spark.sparkContext.applicationId)

    def on_disk() -> set:
        return set(os.listdir(app_dir)) if os.path.isdir(app_dir) else set()

    before = on_disk()
    pins = H.RoundPins()
    frames = [spark.range(10)]
    for _ in range(6):
        frames.append(pins.pin(frames[-1].withColumn("id", F.col("id") + 1)))
    assert len(on_disk() - before) == 2
    # the newest round and the one before it stay readable
    assert sorted(r.id for r in frames[-1].collect()) == list(range(6, 16))
    assert frames[-2].count() == 10
