"""Plan-hygiene audit: sweep EVERY registered query's physical plan
and tabulate the properties that decide 100 TB behavior — shuffle
count, broadcast vs sort-merge joins, cartesian products,
single-partition exchanges feeding windows, scan/pushdown counts, and
the partition counts of user-pinned exchanges.

Counting parses the formatted-explain DETAIL sections ("(id) Exchange
/ Arguments: hashpartitioning(...)") — the tree section prints bare
node names, so naive substring counts miss everything.

Single-partition windows over CONSTANT-SIZED aggregated frames are
legitimate (a 20-bucket cumsum, a months-of-history running total);
those queries are listed in _BOUNDED_WINDOW_OK with the reason, and
only unlisted offenders flag. The pytest plan-invariant suite pins
the hard rules; this gives the full-registry picture.

Writes PLAN_AUDIT.md at the repo root.
Usage: python scripts/plan_audit.py [name ...]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from cdk_serverless_data_lake_sandbox_spark.plans import (  # noqa: E402
    formatted_plan,
    single_reducer_window_nodes,
)
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries  # noqa: E402
from cdk_serverless_data_lake_sandbox_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# Queries whose single-partition window runs over a frame bounded by a
# CONSTANT (not by data size) — reviewed by hand, safe at any scale.
_BOUNDED_WINDOW_OK = {
    "heaps_law_fit": "cumsum over exactly 20 doc_id buckets",
    "cumulative_revenue": "running total over months of history",
    "mom_growth": "growth over months of history",
    "daily_active_users": "7-day trailing avg over days of history",
    "zipf_fit": "rank over top-1000 vocabulary counts",
    "funnel_conversion": "3-row stage funnel",
    "order_size_distribution": "lines-per-order histogram buckets",
    "quartiles_scalable": "4 sketch boundaries",
    "value_histogram": "10 histogram buckets",
    "open_order_concurrency": "cumsum over calendar days of history",
    "repurchase_survival": "KM running product over calendar days of history",
    "part_skyline": "prefix max over price-range/100 prune buckets",
    "unimax_mix": "water-filling prefix over language-cardinality rows",
    "ks_drift_doclen": "global-CDF cumsum over DISTINCT doc-length values (value-domain-bounded, not corpus-bounded)",
    "source_drift_tvd": "corpus-total attach over the per-SOURCE aggregate (sources-bounded rows)",
    "mann_whitney_latency": "doubled-rank table over DISTINCT latency day values (value-domain-bounded, ~130 rows)",
}

# Queries with a deliberate NON-window single-partition exchange over a
# frame bounded by something other than corpus size — reviewed by hand
# (r9 verdict item 6: the reviewed list is the contract that every
# single-partition exchange is deliberate, windows or not).
_BOUNDED_SINGLE_PART_OK = {
    "unigram_tokenize_corpus": (
        "map-stitch collapse of the WORD table (Heaps-law vocab, "
        "double-gated on entry count AND estimated map-row bytes) to "
        "one broadcast map row; past either gate the explode+regroup "
        "path takes over with no single-partition stage"
    ),
    "unigram_lm_tokenizer": (
        "same vocab-bounded map collapse via the shared _ulm_assemble"
    ),
}


from cdk_serverless_data_lake_sandbox_spark.plans import plan_profile as audit  # noqa: E402

def main() -> None:
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = sys.argv[1:] or list(qs)
    rows, flags, bounded = [], [], []
    for name in names:
        try:
            a = audit(formatted_plan(qs[name](spark, SF)))
        except Exception as e:  # noqa: BLE001
            flags.append(f"- `{name}`: audit failed: {e}")
            continue
        rows.append((name, a))
        if a["cartesian"]:
            flags.append(f"- `{name}`: CartesianProduct in plan")
        if a["single_windows"]:
            if name in _BOUNDED_WINDOW_OK:
                bounded.append(f"- `{name}`: {_BOUNDED_WINDOW_OK[name]}")
            else:
                flags.append(
                    f"- `{name}`: Window fed by Exchange SinglePartition "
                    "over a data-sized frame"
                )
    with open("PLAN_AUDIT.md", "w") as f:
        f.write(
            "# Plan audit (auto-generated by scripts/plan_audit.py)\n\n"
            f"{len(rows)} registered queries at sf0.01. Columns: shuffle\n"
            "exchanges (hash/range partitioning), single-partition\n"
            "exchanges, broadcast hash joins, sort-merge joins, parquet\n"
            "scans, scans with pushed filters, and the partition counts of\n"
            "user-pinned exchanges (REPARTITION_BY_NUM: fan-outs and keyed\n"
            "repartitions; AQE never coalesces them).\n\n"
        )
        f.write("## Flags\n\n" + ("\n".join(flags) + "\n" if flags else "none\n"))
        f.write(
            "\n## Single-partition windows over constant-bounded frames"
            " (reviewed, safe)\n\n"
            + ("\n".join(bounded) + "\n" if bounded else "none\n")
        )
        sp_ok = [
            f"- `{n}`: {why}"
            for n, why in _BOUNDED_SINGLE_PART_OK.items()
            if any(name == n and a["single_part"] for name, a in rows)
        ]
        f.write(
            "\n## Non-window single-partition exchanges over bounded"
            " frames (reviewed, safe)\n\n"
            + ("\n".join(sp_ok) + "\n" if sp_ok else "none\n")
        )
        f.write(
            "\n## Per-query plan shape\n\n"
            "| query | shuffles | single-part | BHJ | SMJ | scans | pushed | pinned |\n"
            "| --- | --- | --- | --- | --- | --- | --- | --- |\n"
        )
        for name, a in rows:
            pinned = ", ".join(map(str, a["pinned"])) or "-"
            f.write(
                f"| {name} | {a['exchanges']} | {a['single_part']} | {a['bhj']} "
                f"| {a['smj']} | {a['scans']} | {a['pushed']} | {pinned} |\n"
            )
    print(f"{len(rows)} audited, {len(flags)} flags, {len(bounded)} bounded-ok")
    spark.stop()


if __name__ == "__main__":
    main()
