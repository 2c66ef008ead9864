"""Rounding-portability audit: the standing gate for the r11 bug
class (PLAN_AUDIT's sibling, for arithmetic instead of plans).

Mechanism being policed: ``F.round(double_expr, dp)`` is NOT
engine-portable when ``double_expr`` is an exact rational — Spark
rounds the shortest decimal repr HALF_UP while DuckDB rounds the
binary double to nearest, so a quotient landing exactly on a
.<dp digits>5 boundary flips the last digit between engines. Integer
ratios (group counts, corpus sizes — denominators full of 2s and 5s)
hit those boundaries routinely; three live hits in the r11 cross-SF
rotation forced the ``_helpers.round_rat`` conversion of every
integer-rational rounding. This audit keeps the class closed: any
NEW ``F.round`` whose argument divides must either be provably
continuous (transcendental/statistical operand — 17-digit shortest
reprs don't straddle boundaries) or appear in the reviewed allowlist
below with a reason.

Classification of each F.round(x, dp) site where x contains ``/``:
  continuous — the operand subtree contains a transcendental or
      statistical function (pow/log/sqrt/stddev/var/corr/avg-of-
      double...). Auto-OK.
  allowlisted — reviewed by hand; reason recorded here.
  UNREVIEWED — everything else. The audit exits 1 and the finding
      must be converted to round_rat or reviewed into the allowlist.

Writes ROUNDING_AUDIT.md. Usage: python scripts/rounding_audit.py
"""

from __future__ import annotations

import ast
import glob
import os
import sys

sys.path.insert(0, ".")

SRC_GLOBS = [
    "cdk_serverless_data_lake_sandbox_spark/operators/*.py",
    "cdk_serverless_data_lake_sandbox_spark/streaming/*.py",
    "cdk_serverless_data_lake_sandbox_spark/sources/*.py",
]

# Function names whose presence in the rounded operand marks it
# continuous: their outputs are not exact small-denominator rationals,
# so the .<dp>5 boundary has measure ~zero and both engines see the
# identical IEEE double.
_CONTINUOUS_FUNCS = {
    "pow", "log", "log2", "log10", "ln", "exp", "sqrt", "cbrt",
    "sin", "cos", "tan", "atan", "atan2",
    "stddev", "stddev_samp", "stddev_pop", "var_samp", "var_pop",
    "variance", "covar_pop", "covar_samp", "corr", "skewness",
    "kurtosis", "rand", "randn", "percentile", "percentile_approx",
    "median", "avg", "mean", "unix_timestamp", "greatest", "least",
}

# Reviewed sites: (basename, enclosing function) -> reason. Each is a
# rounded quotient that is NOT an integer rational, with the why.
ALLOWLIST: dict[tuple[str, str], str] = {
    ("analytics.py", "cuped_lift"): (
        "var_reduction/means divide double sums of event values and "
        "theta-adjusted terms — continuous operands (values are "
        "arbitrary doubles, not counts); sums are small-cardinality "
        "per-arm and have matched bit-exactly since r9"
    ),
    ("dedup.py", "near_dup_source_matrix"): (
        "mean_jaccard averages per-pair jaccard doubles; operands are "
        "rationals with heterogeneous denominators (|union| varies "
        "per pair), so the summed quotient is effectively continuous"
    ),
    ("multimodal.py", "modality_dedup_report"): (
        "dup_doc_rate divides by a Python-int literal; family is "
        "rows-only (no oracle hash), media decode path"
    ),
    ("curation.py", "domain_mix_weights"): (
        "weight = share^alpha / Z — transcendental pow operand"
    ),
    ("curation.py", "token_epoch_allocation"): (
        "epochs/budget_share divide the alpha-powered allocation "
        "(transcendental) by token counts — continuous numerator"
    ),
    ("stats.py", "price_elasticity"): (
        "log-log regression slope ratio — transcendental operands"
    ),
    ("analytics.py", "_edge"): (
        "histogram bin edge lo + (b+1)*width/BINS — width is a "
        "continuous double range (max-min of doubles)"
    ),
    ("analytics.py", "percentiles_from_bins"): (
        "bin width/BINS — continuous double range"
    ),
    ("curation.py", "unimax_mix"): (
        "epochs/budget_share divide the alpha-powered allocation "
        "(transcendental pow) — continuous numerator"
    ),
    ("events.py", "score_cells"): (
        "z-score (n-mean)/std — std is a stddev (continuous); the "
        "detector cannot see it because std_n is a plain column"
    ),
    ("events.py", "markov_anomaly_users"): (
        "mean_lp sums n*log-prob terms — transcendental numerator "
        "carried through a column"
    ),
    ("multimodal.py", "scene_cut_report"): (
        "media family, rows-only (no oracle hash gate)"
    ),
    ("multimodal.py", "activity_segments_frame"): (
        "media family, rows-only (no oracle hash gate)"
    ),
    ("shaping.py", "token_budget_allocation"): (
        "epochs divide the alpha-powered allocation (transcendental "
        "pow) — continuous numerator"
    ),
    ("stats.py", "time_weighted_avg"): (
        "sum(value*dt)/sum(dt) — value is a continuous double "
        "measurement, numerator not an integer rational"
    ),
    ("stats.py", "mann_whitney_latency"): (
        "u_minus_mu = int/2 rounded at 1dp: value*10 = 5*int is "
        "always an integer, boundary impossible; z divides by a "
        "sqrt (continuous). rank_biserial (the one true integer "
        "rational) IS round_rat-converted"
    ),
}


class Finding:
    def __init__(self, path: str, line: int, func: str, seg: str, cls: str):
        self.path = path
        self.line = line
        self.func = func
        self.seg = seg
        self.cls = cls


def _contains_div(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.BinOp) and isinstance(n.op, ast.Div)
        for n in ast.walk(node)
    )


def _continuous(node: ast.AST) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            name = (
                f.attr if isinstance(f, ast.Attribute)
                else f.id if isinstance(f, ast.Name) else ""
            )
            if name in _CONTINUOUS_FUNCS:
                return True
        # string SQL fragments inside F.expr(...) that call
        # transcendental SQL functions
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            low = n.value.lower()
            if any(k + "(" in low for k in _CONTINUOUS_FUNCS):
                return True
    return False


def audit_source(path: str, text: str) -> list[Finding]:
    """Pure sweep of one source file; returns every F.round(x, ...)
    site whose x divides, classified continuous/review-needed (the
    allowlist is applied by the caller)."""
    tree = ast.parse(text)
    # map nodes to enclosing function names
    findings: list[Finding] = []

    class V(ast.NodeVisitor):
        def __init__(self) -> None:
            self.stack: list[str] = []

        def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef  # type: ignore[assignment]

        def visit_Call(self, node: ast.Call) -> None:
            f = node.func
            is_round = (
                isinstance(f, ast.Attribute)
                and f.attr == "round"
                and isinstance(f.value, ast.Name)
                and f.value.id == "F"
            )
            if is_round and node.args and _contains_div(node.args[0]):
                cls = (
                    "continuous" if _continuous(node.args[0]) else "REVIEW"
                )
                seg = ast.get_source_segment(text, node) or "<?>"
                findings.append(
                    Finding(
                        path,
                        node.lineno,
                        self.stack[-1] if self.stack else "<module>",
                        " ".join(seg.split())[:120],
                        cls,
                    )
                )
            self.generic_visit(node)

    V().visit(tree)
    return findings


def main() -> int:
    all_findings: list[Finding] = []
    for g in SRC_GLOBS:
        for path in sorted(glob.glob(g)):
            with open(path) as fh:
                all_findings.extend(audit_source(path, fh.read()))
    unreviewed: list[Finding] = []
    lines = [
        "# ROUNDING_AUDIT",
        "",
        "`F.round` sites whose operand divides, swept by "
        "`scripts/rounding_audit.py` (the r11 rational-rounding "
        "class gate). `round_rat` conversions no longer appear here "
        "— they contain no `F.round`.",
        "",
        "| file:line | function | class | site |",
        "|---|---|---|---|",
    ]
    for f in sorted(all_findings, key=lambda f: (f.path, f.line)):
        base = os.path.basename(f.path)
        cls = f.cls
        if cls == "REVIEW":
            reason = ALLOWLIST.get((base, f.func))
            if reason is not None:
                cls = "allowlisted"
            else:
                unreviewed.append(f)
                cls = "UNREVIEWED"
        lines.append(
            f"| {f.path}:{f.line} | {f.func} | {cls} | `{f.seg}` |"
        )
    lines.append("")
    if unreviewed:
        lines.append(f"**{len(unreviewed)} UNREVIEWED site(s) — fix or review.**")
    else:
        lines.append(
            f"All {len(all_findings)} divided-round sites are continuous "
            "or reviewed; the integer-rational class stays closed."
        )
    with open("ROUNDING_AUDIT.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(
        f"{len(all_findings)} sites, "
        f"{sum(1 for f in all_findings if f.cls == 'continuous')} continuous, "
        f"{len(unreviewed)} unreviewed -> ROUNDING_AUDIT.md"
    )
    for f in unreviewed:
        print(f"  UNREVIEWED {f.path}:{f.line} ({f.func}): {f.seg}")
    return 1 if unreviewed else 0


if __name__ == "__main__":
    sys.exit(main())
