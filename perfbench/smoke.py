"""Tiny-scale smoke of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced
on sf0.001 tables with a one-second budget, and checks that each run
exits 0, prints every metric ``BENCHMARK.json`` names for its mode with
the declared unit, answers correctly with no failed operation, and
reports its workload-specific figures in the detail line. Exits 1 on
the first problem found in any run (all runs are still made). Takes a
few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DETAIL_KEYS = {
    "analyst_warm": ("steady_rounds",),
    "curation_cold": ("steady_rounds", "scratch.build_s"),
    "lake_ingest": (
        "steady_rounds",
        "rounds",
        "ingest_rows_per_s",
        "bytes_written_per_input_byte",
        "post_ingest_query_s",
        "crawler.crawl_delimited_s",
        "etl.tsv_to_parquet_job_s",
        "etl.upsert_s",
        "streaming.batch_s",
        "catalog.lake_write_s",
        "catalog.lake_read_s",
    ),
}


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001",
    ]  # fmt: skip
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    problems = []
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"{tag}: metrics {sorted(got.items())} != {sorted(want.items())}")
    if not result["correct"] or result["failed"] or detail["ops_failed_ratio"] != 0:
        problems.append(
            f"{tag}: correct={result['correct']} failed={result['failed']} "
            f"checks={detail['failed_checks']} errors={detail['errors']} "
            f"wrong={detail['wrong_answers']}"
        )
    if result["attempted"] < 1:
        problems.append(f"{tag}: no operation attempted")
    missing = [k for k in DETAIL_KEYS[workload] if k not in detail]
    if missing:
        problems.append(f"{tag}: detail line lacks {missing}")
    if trace and workload != "curation_cold" and result["metrics"]["scratch.keys_built"]["value"]:
        problems.append(f"{tag}: keyed scratch entries built on a bypass workload")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in DETAIL_KEYS:  # analyst_warm too, which BENCHMARK.json leaves out
        for trace in (0, 1):
            found = check_run(spec, w, trace)
            print(f"{w} trace={trace}: {'ok' if not found else 'FAIL'}", flush=True)
            problems += found
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
