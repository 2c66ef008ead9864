"""Session defaults that only show up as speed: the generated-code cache
must hold a query mix's working set, so a warm round compiles nothing."""

from __future__ import annotations

from perfbench.workloads import CURATION_MIX
from tests.conftest import SF_SMALL

from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

# With the session's cache a warm curation round at sf0.001 compiled
# 0-12 classes (a few plans change shape at run time); with Spark's
# default of 100 entries it recompiled 114-131, because the mix needs
# ~215 classes.
WARM_ROUND_MAX_COMPILES = 30


def test_warm_curation_round_hits_codegen_cache(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    qs = all_queries()

    def round_compiles() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in CURATION_MIX:
            qs[name](spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    first = round_compiles()  # builds keyed scratch, compiles the mix
    second = round_compiles()
    assert second <= WARM_ROUND_MAX_COMPILES, (
        f"warm curation round compiled {second} classes (first round "
        f"{first}): the codegen cache is evicting the mix's classes"
    )
