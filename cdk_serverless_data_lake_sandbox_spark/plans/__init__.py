"""Plan-inspection utilities: the engine's explain tooling.

Used by tests to assert the physical plan is the one we designed —
filters pushed to the scan, columns pruned, dims broadcast, partition
pruning active — and handy interactively while tuning.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", formatted_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def partition_filters(df: DataFrame) -> list[str]:
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[(.*?)\]", formatted_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def shuffle_count(df: DataFrame) -> int:
    return formatted_plan(df).count("Exchange")


def single_reducer_window_nodes(df_or_plan: DataFrame | str) -> list[int]:
    """Node ids of Window operators fed (directly in their input
    chain, before any fan-out) by an Exchange whose distribution is
    SinglePartition — the every-row-through-one-task shape that is a
    scale-killer on raw tables. Formatted explain prints the tree as
    ``NodeName (id)`` with partitioning only in the per-node detail
    section, so the literal string "Exchange SinglePartition" NEVER
    appears; this parses the ids out of each Window's subtree and
    checks their detail arguments instead."""
    plan = df_or_plan if isinstance(df_or_plan, str) else formatted_plan(df_or_plan)
    lines = plan.splitlines()
    node_re = re.compile(r"([A-Za-z][A-Za-z0-9]*) \((\d+)\)\s*$")
    tree: list[tuple[int, str, int]] = []  # (depth, name, id)
    for line in lines:
        m = node_re.search(line)
        if not m:
            if tree and not line.strip():
                break  # tree section ended
            continue
        depth = len(line) - len(line.lstrip(" :+-"))
        tree.append((depth, m.group(1), int(m.group(2))))
    single_ids: set[int] = set()
    for m in re.finditer(r"^\((\d+)\) Exchange\n(?:.*\n)*?Arguments: ([^\n]*)", plan, re.M):
        if m.group(2).startswith("SinglePartition"):
            single_ids.add(int(m.group(1)))
    offenders: list[int] = []
    for i, (depth, name, nid) in enumerate(tree):
        if name != "Window":
            continue
        for d2, n2, id2 in tree[i + 1 :]:
            if d2 <= depth:
                break
            if id2 in single_ids:
                offenders.append(nid)
                break
            if n2 in ("HashAggregate", "Join", "BroadcastHashJoin", "SortMergeJoin"):
                # aggregation/join below the window re-partitions; the
                # window's own input distribution is decided above it
                break
    return offenders


def plan_profile(df_or_plan: DataFrame | str) -> dict:
    """One-call physical-plan profile: the counters that decide 100 TB
    behavior (shuffle exchanges, single-partition exchanges, join
    strategies, cartesian products, single-reducer windows, scans and
    pushdown coverage) plus the partition counts of user-pinned
    exchanges (``REPARTITION_BY_NUM``: fan-outs and explicit keyed
    repartitions, which AQE never coalesces). Used by the
    registry-wide audit script and available to user pipelines as a
    pre-flight check before submitting a plan to a large cluster."""
    plan = df_or_plan if isinstance(df_or_plan, str) else formatted_plan(df_or_plan)
    args = re.findall(r"^Arguments: (.*)$", plan, re.M)
    hash_ex = sum(
        1
        for a in args
        if a.startswith("hashpartitioning") or a.startswith("rangepartitioning")
    )
    single_ex = sum(1 for a in args if a.startswith("SinglePartition"))
    return {
        "exchanges": hash_ex,
        "single_part": single_ex,
        "bhj": plan.count(") BroadcastHashJoin"),
        "smj": plan.count(") SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "single_windows": len(single_reducer_window_nodes(plan)),
        "scans": plan.count(") Scan parquet"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "pinned": [
            int(n) for n in re.findall(r"(\d+)\), REPARTITION_BY_NUM", plan)
        ],
    }


def scan_lineage(df: DataFrame) -> dict[str, list[str]]:
    """Column-level SOURCE lineage from the physical plan: for every
    parquet scan, the table name (from the file location) and the
    columns the scan actually reads (the pruned ReadSchema — which is
    lineage ground truth: Catalyst already did the column-dependency
    analysis, so parsing the optimized scan beats re-deriving
    dependencies from the logical tree). Multiple scans of one table
    union their columns."""
    plan = formatted_plan(df)
    out: dict[str, set] = {}
    # formatted explain prints each scan's detail as a block with
    # Location: ... [file:/.../<table>.parquet...] and ReadSchema
    for block in re.split(r"\n\n", plan):
        if "Scan parquet" not in block and "Scan orc" not in block:
            continue
        loc = re.search(r"Location: \S+ \[([^\]]*)\]", block)
        rs = re.search(r"ReadSchema: struct<([^>]*)>", block)
        if not loc:
            continue
        m = re.search(r"([A-Za-z0-9_.=-]+)\.(?:parquet|orc)", loc.group(1))
        table = m.group(1).split("/")[-1] if m else loc.group(1)
        cols = (
            [c.split(":")[0].strip() for c in rs.group(1).split(",") if c.strip()]
            if rs
            else []
        )
        out.setdefault(table, set()).update(cols)
    return {t: sorted(cs) for t, cs in sorted(out.items())}
