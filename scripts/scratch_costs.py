"""First-invocation (build) vs repeat-invocation (serve) cost for
every query backed by keyed scratch (``_helpers.scratch``): the
bench's warm-up + best-of-2 reports steady-state serving cost, so the
build cost of each per-application entry must stay auditable
somewhere.

One fresh session, sf0.1 by default. Every registered query runs once,
in registry order; the queries whose first call added keyed scratch
entries are the scratch-backed ones, and that call is their build
time. Those queries are then timed best-of-2 warm (serve). An entry
shared by several queries is attributed to the first query that
builds it; its later consumers are hits on their first call and do not
appear.

Usage: python scripts/scratch_costs.py [--sf DIR]
Prints a markdown table for SURVEY §7 plus one JSON line.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")
from cdk_serverless_data_lake_sandbox_spark.operators import _helpers  # noqa: E402
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries  # noqa: E402
from cdk_serverless_data_lake_sandbox_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]
    spark = get_spark(app_name="scratch-costs")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    built = []  # (query, names of the entries its first call added, build s)
    for name in qs:
        before = set(_helpers._MATERIALIZED)
        try:
            dt = run(name)
        except Exception as exc:  # report and keep surveying
            print(f"{name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            continue
        added = sorted(k[1] for k in set(_helpers._MATERIALIZED) - before)
        if added:
            built.append((name, added, dt))
    rows = [(n, added, b, min(run(n) for _ in range(2))) for n, added, b in built]
    print("| query | keyed entries built | first-invocation s | warm best-of-2 s |")
    print("| --- | --- | --- | --- |")
    for name, added, build, serve in rows:
        print(f"| {name} | {', '.join(added)} | {build:.2f} | {serve:.2f} |")
    print(json.dumps({
        "metric": "scratch_build_vs_serve",
        "sf_dir": sf_dir,
        "queries": {n: {"entries": a, "build_s": round(b, 3), "serve_s": round(s, 3)}
                    for n, a, b, s in rows},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
