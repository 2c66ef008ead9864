"""One-boot A/B perf probe (round-2 verdict item 9): measure a set of
queries at two git revisions back-to-back on the SAME machine session,
so cross-boot variance (the suspected cause of the r1->r2 driver
deltas on dedup_exact/dedup_minhash_lsh) cancels.

Usage: python scripts/one_boot_probe.py <rev> [query ...]
Creates a worktree for <rev>, runs the queries there and at HEAD
(separate processes, interleaved A/B/A/B), prints one JSON line.

Each process runs one untimed pass over the queries, then three timed
round-robin passes, and keeps each query's best of three. The queries
are interleaved, not repeated back to back, so the timed calls see
whatever the other queries evict from shared caches (keyed scratch,
the generated-code cache). Each timed call is split in two:
``build_s``, building the query's frame on the driver (Python, py4j
round trips, eager analysis, keyed-scratch lookups), and ``exec_s``,
running it (``noop`` write); ``s`` is their sum, and all three come
from the call whose sum is the best. ``codegen_compiles`` counts the
classes Spark compiled during a query's timed calls (CodegenMetrics); a warm
query should compile none. ``jobs`` counts the Spark jobs of each
timed call, tagged with its own job group; every AQE query stage and
broadcast is one job, so this is the fixed driver cost of a warm call.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

PROBE = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
import os
os.chdir(sys.argv[1])
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries
from cdk_serverless_data_lake_sandbox_spark.session import get_spark
names = sys.argv[2].split(",")
spark = get_spark(app_name="one-boot-probe")
spark.sparkContext.setLogLevel("ERROR")
compilation = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
tracker = spark.sparkContext.statusTracker()
qs = all_queries()


def run(name):  # (build seconds, execution seconds) of one call
    t0 = time.perf_counter()
    df = qs[name](spark, "/root/testdata/sf0.1")
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


for name in names:
    run(name)
times = {name: [] for name in names}
compiles = dict.fromkeys(names, 0)
jobs = {name: [] for name in names}
for k in range(3):
    for name in names:
        group = f"{name}#{k}"
        spark.sparkContext.setJobGroup(group, name)
        c0 = compilation.getCount()
        times[name].append(run(name))
        compiles[name] += compilation.getCount() - c0
        jobs[name].append(len(tracker.getJobIdsForGroup(group)))
out = {}
for n in names:
    build_s, exec_s = min(times[n], key=sum)
    out[n] = {
        "s": round(build_s + exec_s, 3),
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "codegen_compiles": compiles[n],
        "jobs": jobs[n],
    }
print("PROBE_RESULT " + json.dumps(out))
spark.stop()
"""


def run_probe(tree: str, names: list[str]) -> dict[str, dict]:
    env = dict(os.environ)
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, tree, ",".join(names)],
        capture_output=True, text=True, env=env, timeout=900,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("PROBE_RESULT "):
            return json.loads(line[len("PROBE_RESULT "):])
    raise RuntimeError(f"probe failed in {tree}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def main() -> None:
    rev = sys.argv[1]
    names = sys.argv[2:] or ["dedup_exact", "dedup_minhash_lsh"]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tree = f"/tmp/one_boot_{rev}"
    if not os.path.isdir(tree):
        subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", tree, rev],
            check=True, capture_output=True,
        )
    rounds = {"old": [], "new": []}
    for _ in range(2):  # interleave A/B/A/B so drift cancels
        rounds["old"].append(run_probe(tree, names))
        rounds["new"].append(run_probe(repo, names))
    result = {
        "rev_old": rev,
        "queries": {
            n: {
                "old": min(r[n]["s"] for r in rounds["old"]),
                "new": min(r[n]["s"] for r in rounds["new"]),
                "build_s": {
                    side: [r[n]["build_s"] for r in rs] for side, rs in rounds.items()
                },
                "exec_s": {
                    side: [r[n]["exec_s"] for r in rs] for side, rs in rounds.items()
                },
                "codegen_compiles": {
                    side: [r[n]["codegen_compiles"] for r in rs]
                    for side, rs in rounds.items()
                },
                "jobs": {
                    side: [r[n]["jobs"] for r in rs] for side, rs in rounds.items()
                },
            }
            for n in names
        },
    }
    for n, v in result["queries"].items():
        v["ratio_new_over_old"] = round(v["new"] / v["old"], 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
