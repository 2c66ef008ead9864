"""SparkSession factory with scale-aware defaults.

Single place where engine tuning lives so tests, bench, and the driver
entry all run the same config. Defaults are sized for local[N] but the
knobs are the ones that matter on a 1000-executor cluster: AQE (runtime
coalesce + skew-join), shuffle partition count, broadcast threshold,
Arrow for any pandas-UDF edge.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from cdk_serverless_data_lake_sandbox_spark.compat import ensure_protobuf

# Generated classes Spark keeps compiled (spark.sql.codegen.cache.maxEntries,
# default 100). A query mix whose classes do not fit evicts each one
# before its next use, so every warm round recompiles. Working sets
# measured with CodegenMetrics (Spark 4.1, 4 cores, perfbench sf0.01
# data): the six-query curation mix compiles ~215-230 classes on its
# first round and the 19-query analyst mix ~225-230. At 100 entries each
# later curation round recompiled 117-128 classes and each analyst pass
# 223-224; at 1,000 they compiled 0-20 and 0-6. One pass over all 279
# registered queries at sf0.001 compiles 3,746 distinct classes; holding
# them all (an unbounded cache) cost +178 MB of live heap and +28 MB of
# metaspace over the default, ~57 KB a class, so 1,000 entries bound
# the cache near 50 MB. Spark reads the value once, when the code
# generator first initializes, so it must be set on the builder.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "cdk-serverless-data-lake-sandbox-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Must run before the gateway launches: Python workers inherit the
    # JVM's environment, so the vendored protobuf path (needed by the
    # transformWithStateInPandas worker) has to be in PYTHONPATH now.
    ensure_protobuf()
    # Reclaim scratch trees left by SIGKILLed sessions (atexit never
    # ran there); age-bounded so concurrent live sessions are safe.
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import vacuum_scratch

    vacuum_scratch()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Deterministic timestamps regardless of host TZ (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. At 100 TB this is what keeps
        # a skewed groupBy/join from stalling on one straggler task.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))),
        )
        # Dims under this size are broadcast — no shuffle for the
        # region/nation/supplier/part side of star joins.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # SHJ policy: the RUNTIME half only. AQE rewrites SMJ->SHJ when
        # every post-shuffle partition is under the local-map threshold
        # (guide §3.1) — a runtime SIZE-BOUNDED decision, so the hash
        # build can never exceed 64 MB/partition. The STATIC half
        # (preferSortMergeJoin=false) trusts plan-time size ESTIMATES;
        # a misestimated or skewed build side at 100 TB OOMs where
        # sort-merge would spill. An isolated interleaved A/B
        # (OPTIMIZATION_r12.md) found the static half adds only ~6%
        # geomean over the runtime rewrite on the join-heavy headline
        # queries, and is 1.21x WORSE on copurchase_triangles, so the
        # planner stays spill-graceful.
        .config("spark.sql.join.preferSortMergeJoin", "true")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # Arrow batches for the pandas-UDF edges (MinHash, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark's call-site capture, off. When on (the default), every
        # Column and DataFrame method records the Python caller for error
        # messages: a class lookup, a conf read, a set and a clear on the
        # JVM plus a failed IPython import, ~0.7 ms per F.col on 4 vCPUs
        # (0.24-0.32 ms off), and about half the py4j round trips of a
        # warm curation round (4,400-4,900 on, 2,200-2,300 off, sf0.01).
        # Errors keep their class, message and the column, path or value
        # they name; only the Python "was called from <file>:<line>" of
        # a run-time error goes. PySpark reads the setting once per
        # process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python data sources may push filters down (off by default in
        # Spark 4.1): the ``kvscan`` reader prunes segments with them,
        # and a reader that implements pushFilters refuses to start
        # without this.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
