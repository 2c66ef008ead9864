"""Costs that only show up as speed: the generated-code cache must hold
a query mix's working set, so a warm round compiles nothing, and a
warm curation or ingest round launches no more Spark jobs than its
plans need."""

from __future__ import annotations

import os

from perfbench.workloads import CURATION_MIX
from pyspark.sql import functions as F
from tests.conftest import SF_SMALL, count_jobs, parquet_calls

from cdk_serverless_data_lake_sandbox_spark.operators.etl import merge_upsert, tsv_to_parquet_job
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries
from cdk_serverless_data_lake_sandbox_spark.sources.crawler import crawl_delimited

# With the session's cache a warm curation round compiled 0-8 classes
# at sf0.001 and sf0.01 (12 rounds); with Spark's default of 100
# entries it recompiled 114-131, because the mix needs ~215 classes.
# What still compiles is the jaccard family's last join, whose build
# side AQE picks at run time: a flip is a new plan, 2-4 classes for
# each of the two queries. The bound adds one more flip of margin.
WARM_ROUND_MAX_COMPILES = 12

# A warm curation round at sf0.001 and sf0.01 launched 25-27 jobs (every
# AQE query stage and broadcast is a job); it launched 42 when BM25
# re-derived df and the corpus stats per call and CDC counted sources
# in a second aggregate branch. Each of the two jaccard-family queries
# adds one broadcast job when AQE flips its build side at run time, so
# the worst case is 27; the bound adds one job of margin.
WARM_ROUND_MAX_JOBS = 28

# A warm ingest round (crawl a drop and count it, ETL it to both
# layouts, upsert a change batch into the flat table) launched 8 jobs:
# crawl 4, ETL 2, upsert 2. It launched 11 when the ETL job inferred the
# drop's schema again after the crawl (two jobs) and the upsert read its
# target's footers (one). The bound adds one job of margin.
INGEST_ROUND_MAX_JOBS = 9
_INGEST_MAPPING = [
    ("id", "int", "id", "bigint"),
    ("name", "string", "name", "string"),
    ("price", "double", "price", "double"),
    ("priority", "string", "priority", "string"),
]


def _curation_round(spark, tag: str) -> tuple[int, dict[str, int]]:
    """Run the curation mix once at sf0.001: the classes Spark compiled,
    and the jobs of each query, counted by its job group."""
    sc = spark.sparkContext
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = all_queries()
    before = compiled.getCount()
    jobs = {}
    try:
        for name in CURATION_MIX:
            group = f"{tag}-{name}"
            sc.setJobGroup(group, name)
            qs[name](spark, SF_SMALL).write.format("noop").mode("overwrite").save()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    return compiled.getCount() - before, jobs


def test_warm_curation_round_hits_codegen_cache(spark):
    first, _ = _curation_round(spark, "compiles-0")  # builds keyed scratch, compiles the mix
    second, _ = _curation_round(spark, "compiles-1")
    assert second <= WARM_ROUND_MAX_COMPILES, (
        f"warm curation round compiled {second} classes (first round "
        f"{first}): the codegen cache is evicting the mix's classes"
    )


def test_warm_curation_round_job_budget(spark):
    _curation_round(spark, "jobs-0")  # builds keyed scratch
    _, jobs = _curation_round(spark, "jobs-1")
    assert sum(jobs.values()) <= WARM_ROUND_MAX_JOBS, jobs


def test_warm_curation_round_resolves_no_parquet_path(spark, monkeypatch):
    """A warm round reuses the scans the catalog's relation store and
    keyed scratch already resolved: no ``DataFrameReader.parquet`` call
    (16 per round when every lake table and scratch hit was read
    again)."""
    _curation_round(spark, "reads-0")
    calls = parquet_calls(monkeypatch)
    _curation_round(spark, "reads-1")
    assert calls == []


def _ingest_round(spark, root: str, r: int) -> dict[str, int]:
    """Land drop ``r`` the way the ingest benchmark does: the jobs of
    each step, counted by its job group."""
    drop = os.path.join(root, f"drop-{r}.tsv")
    with open(drop, "w") as fh:
        fh.write("id\tname\tprice\tpriority\n")
        fh.writelines(f"{i}\tn{i}\t{i * 1.5 + r}\tP{i % 3}\n" for i in range(200))
    updates = spark.createDataFrame(
        [(i, f"n{i}", 1000.0 + i, "P0") for i in range(5)],
        "id bigint, name string, price double, priority string",
    )
    jobs = {}
    _, jobs["crawl"] = count_jobs(
        spark, "crawl", lambda: crawl_delimited(spark, drop).select(F.count("*"), F.count("price")).collect()
    )
    out, jobs["etl"] = count_jobs(
        spark,
        "etl",
        lambda: tsv_to_parquet_job(
            spark, drop, os.path.join(root, "lake"), f"orders_r{r}", _INGEST_MAPPING, ["priority"]
        ),
    )
    _, jobs["upsert"] = count_jobs(
        spark, "upsert", lambda: merge_upsert(spark, out["unpartitioned"], updates, "id", "price")
    )
    return jobs


def test_warm_ingest_round_job_budget(spark, tmp_path):
    _ingest_round(spark, str(tmp_path), 0)
    jobs = _ingest_round(spark, str(tmp_path), 1)
    assert sum(jobs.values()) <= INGEST_ROUND_MAX_JOBS, jobs


def test_errors_keep_their_class_and_name_the_failing_input(spark):
    """The session turns PySpark's call-site capture off, which drops
    the Python file and line from a run-time error's DataFrame context.
    A failing query must still raise with its error class and name the
    column, path or value it failed on."""
    from pyspark.errors import PySparkException

    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables

    nation = load_tables(spark, SF_SMALL, ("nation",))["nation"]
    missing = os.path.join(SF_SMALL, "no_such_dir")
    failures = {
        "UNRESOLVED_COLUMN.WITH_SUGGESTION": ("`n_nam`", lambda: nation.select(F.col("n_nam"))),
        "PATH_NOT_FOUND": (missing, lambda: load_tables(spark, missing, ("nation",))),
        "CAST_INVALID_INPUT": (
            "'NATION_0'",
            lambda: nation.where("n_nationkey = 0").select(F.col("n_name").cast("int")).collect(),
        ),
    }
    for condition, (named, fail) in failures.items():
        try:
            fail()
        except PySparkException as e:
            assert e.getCondition() == condition, str(e)[:500]
            assert named in str(e), str(e)[:500]
        else:
            raise AssertionError(f"{condition}: nothing raised")
