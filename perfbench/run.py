"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates (once, cached under
``.perfbench/``) the seeded input tables, pins the environment, runs
one workload from ``perfbench/workloads.py`` and prints two lines: a
JSON object with the settings, per-operation times and every
workload-specific figure, then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0`` and its per-layer metrics with ``--trace 1`` (event log
on). See ``perfbench/README.md`` for the metric glossary.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cdk_serverless_data_lake_sandbox_spark"
SF = 0.01  # see README.md "Scale" for why not sf0.1
DATA_SEED = 42
DATA_VERSION = 1  # bump when datagen.make_lake changes its output
DRIVER_MEMORY = "2g"  # maximum heap; the session default is above host RAM

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("first_call_s", "s"),
    ("repeat_call_s", "s"),
    ("cpu_s", "s"),
)
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("registry.all_queries_s", "s"),
    ("catalog.load_tables_cold_s", "s"),
    ("catalog.load_tables_warm_s", "s"),
    ("catalog.schema_cache_entries", "count"),
    ("operators.build_s", "s"),
    ("operators.exec_s", "s"),
    ("scratch.keys_built", "count"),
    ("scratch.bytes", "bytes"),
    ("exec.task_cpu_s", "s"),
    ("exec.task_run_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.driver_gap_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("plans.exchanges", "count"),
    ("plans.scans", "count"),
    ("plans.bhj", "count"),
    ("plans.smj", "count"),
    ("etl.bytes_written", "bytes"),
    ("streaming.batches", "count"),
    ("memory.peak_rss_mb", "MB"),
    ("memory.heap_live_mb", "MB"),
)
# per-layer figures that only some workloads produce read 0 elsewhere
ZERO_UNLESS_PRODUCED = (
    "scratch.keys_built",
    "etl.bytes_written",
    "streaming.batches",
)


def ensure_lake(work: str, sf: float) -> str:
    """The seeded base tables, generated once per checkout."""
    from perfbench import datagen

    data_dir = os.path.join(work, f"data-v{DATA_VERSION}-sf{sf}-seed{DATA_SEED}")
    if not os.path.isdir(data_dir):
        os.makedirs(work, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="data-", dir=work)
        datagen.make_lake(tmp, sf, DATA_SEED)
        try:
            os.rename(tmp, data_dir)
        except OSError:  # a concurrent run generated it first
            shutil.rmtree(tmp, ignore_errors=True)
    return data_dir


def pin_env(run_dir: str) -> dict[str, str]:
    """Environment the package reads at import and session start."""
    cpus = str(len(os.sched_getaffinity(0)))
    settings = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[k], exist_ok=True)
    os.environ.update(settings)
    return settings


def tail(values: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it (never
    below the median), as (value, percentile)."""
    v = sorted(values)
    i = max(len(v) - 11, len(v) // 2)
    return v[i], round(100 * (i + 1) / len(v))


def reduce_trace(b, log_dir: str) -> None:
    from perfbench import eventlog

    # the raw interval, stolen time included, so that stage spans are not cut short
    windows = {
        o.group: (o.start_ms, o.start_ms + (o.wall_s + o.stolen_s) * 1e3)
        for o in b.timed_ops()
    }
    (log,) = os.listdir(log_dir)  # a run is one Spark application
    totals = eventlog.reduce_log(os.path.join(log_dir, log), windows)
    for k in eventlog.COUNTERS + ("driver_gap_s",):
        b.layers[f"exec.{k}"] = sum(r[k] for r in totals.values())


def load_state(work: str) -> dict:
    try:
        with open(os.path.join(work, "untraced.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def save_state(work: str, state: dict) -> None:
    tmp = os.path.join(work, f"untraced.json.{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, os.path.join(work, "untraced.json"))


def main(argv: list[str] | None = None) -> int:
    t_main = time.perf_counter()
    sys.path.insert(0, ROOT)
    from perfbench import procstat

    process_t0 = t_main - procstat.process_age_s()
    process_ticks = procstat.host_ticks()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale of the generated tables")
    args = ap.parse_args(argv)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    t = time.perf_counter()
    data_dir = ensure_lake(work, args.sf)
    gen_s = time.perf_counter() - t
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    try:
        settings = pin_env(run_dir)
        b = workloads.Bench(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            data_dir=data_dir,
            oracle_dir=work,
            run_dir=run_dir,
            process_t0=process_t0,
            process_ticks=process_ticks,
            excluded_s=gen_s,
        )
        try:
            calls = workloads.WORKLOADS[args.workload](b)
            if b.trace:
                workloads.catalog_probe(b)
        finally:
            b.stop_spark()
        if b.trace:
            reduce_trace(b, os.path.join(run_dir, "eventlog"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = b.timed_ops()
    walls = [o.wall_s for o in b.repeat_ops()]
    failed = sum(b.failed(o) for o in timed)
    tail_s, tail_pct = tail(walls)
    e2e = {
        "setup_s": b.setup_s,
        "ops_per_s": len(walls) / sum(walls),
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail_s,
        "first_call_s": calls["first_call_s"],
        "repeat_call_s": calls["repeat_call_s"],
        "cpu_s": calls["cpu_s"],
    }
    from cdk_serverless_data_lake_sandbox_spark import catalog

    layers = dict.fromkeys(ZERO_UNLESS_PRODUCED, 0)
    layers.update(b.layers)
    layers["catalog.schema_cache_entries"] = len(catalog._SCHEMA_CACHE)
    layers["operators.build_s"] = sum(o.build_s for o in timed)
    layers["operators.exec_s"] = sum(o.exec_s for o in timed)
    layers["memory.peak_rss_mb"] = b.peak_rss_mb
    layers["memory.heap_live_mb"] = b.heap_live_mb

    per_op: dict[str, dict] = {}
    for o in timed:
        per_op.setdefault(o.name, {"n": 0, "build_s": [], "exec_s": [], "stolen_s": 0.0})
        per_op[o.name]["n"] += 1
        per_op[o.name]["stolen_s"] += o.stolen_s
        per_op[o.name]["build_s"].append(o.build_s)
        per_op[o.name]["exec_s"].append(o.exec_s)
    state = load_state(work)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "settings": {**settings, "sf": args.sf, "data_seed": DATA_SEED, "load": "closed loop, 1 client"},
        "op_tail_percentile": tail_pct,
        "op_samples": len(walls),
        "timed_s": b.timed_s,
        "ops_failed_ratio": failed / len(timed),
        "failed_checks": b.bad_checks,
        "errors": sorted({f"{o.name}: {o.error}" for o in timed if o.error}),
        "wrong_answers": sorted(b.wrong_ops),
        "ops": {
            n: {
                "n": v["n"],
                "first_build_s": v["build_s"][0],
                "build_s": statistics.median(v["build_s"]),
                "exec_s": statistics.median(v["exec_s"]),
                "stolen_s": v["stolen_s"],
            }
            for n, v in per_op.items()
        },
        **b.detail,
    }
    if b.trace and args.sf == SF and args.workload in state:
        detail["trace_overhead_s"] = b.timed_s - state[args.workload]["timed_s"]
    if not b.trace and args.sf == SF:
        state[args.workload] = {"seed": args.seed, "timed_s": b.timed_s}
        save_state(work, state)
    print(json.dumps({"detail": detail, "end_to_end": e2e, "per_layer": layers}, default=float))

    chosen = PER_LAYER if b.trace else END_TO_END
    source = layers if b.trace else e2e
    result = {
        "correct": not b.bad_checks and not b.wrong_ops,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {n: {"value": float(source[n]), "unit": u} for n, u in chosen},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
