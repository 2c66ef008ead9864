"""Shared expression helpers.

Money/quantity aggregates are computed in DECIMAL, then rounded and
cast to DOUBLE. Float sums are order-dependent (Spark's partial
aggregation order differs from DuckDB's sequential scan), so summing
doubles directly would make the driver's value-hash flaky; decimal
sums are exact and engine-independent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 4) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def money(expr: Column, ndigits: int = 2) -> Column:
    """Round a decimal aggregate and surface it as a double."""
    return F.round(expr, ndigits).cast("double")


def money_sum(col: Column | str, scale: int = 2, ndigits: int = 2) -> Column:
    """Deterministic sum of ONE money column, rounded to ``ndigits``
    and surfaced as a double.

    Default path: exact DECIMAL sum (order-independent, oracle-safe).
    With ``SPARK_GRAFT_LONG_CENTS=1``: the column is scaled to 64-bit
    integer "cents" (exact, since it is first cast to
    decimal(18,scale)) and summed as a LONG — Tungsten's cheapest
    aggregation path, measured ~2x the decimal sum (SURVEY §7 item 1).
    The two paths are bit-identical when they both complete: the long
    sum divided by 10^scale is the exact rational the decimal sum
    holds, and IEEE division / decimal->double cast both round that
    exact value to nearest-even once (parity-tested).

    The fast path is only safe for SIMPLE sums where the long cannot
    overflow: |sum| < 2^63 / 10^scale money units (9.2e14 at scale 2).
    Chained arithmetic like q1's price*(1-disc)*(1+tax) needs more
    fractional digits than a long can carry — those stay decimal
    unconditionally (which is why this helper takes a column, not an
    expression)."""
    c = F.col(col) if isinstance(col, str) else col
    if _os.environ.get("SPARK_GRAFT_LONG_CENTS") == "1":
        unit = 10 ** scale
        cents = (c.cast(f"decimal(18,{scale})") * unit).cast("long")
        return F.round(F.sum(cents) / float(unit), ndigits).cast("double")
    return money(F.sum(dec(c, scale)), ndigits)


def dmean(sum_col: Column, count_col: Column, name: str) -> Column:
    """Deterministic mean: exact decimal sum -> double, IEEE divide."""
    return (sum_col.cast("double") / count_col).alias(name)


# SQL-side equivalents for oracle strings (DuckDB dialect == ANSI here).
def sql_dec(expr: str, scale: int = 4) -> str:
    return f"CAST({expr} AS DECIMAL(18,{scale}))"


def round_rat(num_sql: str, den_sql: str, dp: int, wide: bool = False) -> Column:
    """Exact half-away-from-zero rounding of the rational num/den to
    ``dp`` decimals, in 64-bit integer arithmetic.

    This exists because ``round(double, dp)`` is NOT engine-portable
    on exact rationals: Spark rounds the shortest decimal repr of the
    double HALF_UP while DuckDB rounds the binary double to nearest,
    so a quotient landing exactly on a .<dp digits>5 boundary flips
    the last digit between them (three live hits in the r11 cross-SF
    rotation: rfm avg cents, cume_dist k/64000, sketch quantiles).
    Integer ratios hit such boundaries routinely (denominators full
    of 2s and 5s — group counts, corpus sizes); continuous doubles
    effectively never do (17-digit shortest reprs).

    Both args are SQL fragments over in-scope columns and must be
    integer-valued; ``den`` must be positive. Overflow bound:
    2*|num|*10^dp < 2^63 (|num| < 4.6e14 at dp 4, 4.6e12 at dp 6) —
    pass ``wide=True`` to run the magnitude arithmetic in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) when the scaled
    numerator can exceed that (e.g. 10^9-scaled decimal sums).
    Mirror the oracle side with :func:`sql_round_rat`."""
    s = 10 ** dp
    ity = "DECIMAL(38,0)" if wide else "BIGINT"
    den = f"CAST(({den_sql}) AS {ity})"
    mag = (
        f"CAST((2 * ABS(CAST(({num_sql}) AS {ity})) * {s} + {den})"
        f" DIV (2 * {den}) AS DOUBLE)"
    )
    return F.expr(f"SIGN({num_sql}) * {mag}") / s


def sql_round_rat(num_sql: str, den_sql: str, dp: int, wide: bool = False) -> str:
    """DuckDB mirror of :func:`round_rat` (``//`` floors like DIV
    truncates — identical on the non-negative magnitude)."""
    s = 10 ** dp
    ity = "HUGEINT" if wide else "BIGINT"
    den = f"CAST(({den_sql}) AS {ity})"
    return (
        f"(SIGN({num_sql}) * CAST((2 * ABS(CAST(({num_sql}) AS {ity})) * {s}"
        f" + {den}) // (2 * {den}) AS DOUBLE) / {s})"
    )


# ---------------------------------------------------------------- scratch
# Materialized intermediates. Spark has no common-subplan reuse: a frame
# referenced in k branches of one plan is recomputed k times. For cheap
# upstreams that is fine; for an expensive derivation (tokenize + hash a
# 100 TB corpus) the scale-safe form is a written intermediate that every
# branch scans. On a cluster this would be a parquet table in a scratch
# zone; locally it is a per-application directory under the repo.
import atexit as _atexit
import os as _os
import shutil as _shutil
import uuid as _uuid

from cdk_serverless_data_lake_sandbox_spark.catalog import spread

_SCRATCH_ROOT = _os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))), ".scratch"),
)
_MATERIALIZED: dict[tuple[str, str], str] = {}
_CLEANUP_REGISTERED: set[str] = set()

# Stale-tree age bound for vacuum_scratch (seconds). Scratch trees are
# removed by atexit, so anything left behind belongs to a SIGKILLed
# session; 6 h is far beyond any single session here (driver sim ~25
# min, soaks <1 h) while still never racing a concurrent live session.
_SCRATCH_STALE_SECS = 6 * 3600


def vacuum_scratch(root: str | None = None, stale_secs: int | None = None) -> list[str]:
    """Remove scratch session trees whose last modification is older
    than the stale bound (r10 verdict hygiene: killed sessions skip
    their atexit cleanup and the trees otherwise accumulate without
    bound). Called once per session from ``session.get_spark``; returns
    the removed paths. Age is taken from the TREE ROOT's mtime, which
    parquet writes keep bumping — a live long session is never
    touched."""
    root = root or _SCRATCH_ROOT
    stale = _SCRATCH_STALE_SECS if stale_secs is None else stale_secs
    removed: list[str] = []
    if not _os.path.isdir(root):
        return removed
    import time as _time

    now = _time.time()
    for name in _os.listdir(root):
        path = _os.path.join(root, name)
        try:
            if _os.path.isdir(path) and now - _os.path.getmtime(path) > stale:
                _shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
        except OSError:
            continue  # concurrently removed by its owning session
    return removed


def materialize(df, key: str | None = None, fan_out: bool = True):
    """Write ``df`` to a scratch parquet path once and return a frame
    that scans it, truncating lineage so downstream multi-branch plans
    pay for the derivation exactly once.

    ``key`` enables reuse across queries in one application (e.g. the
    hashed-shingle frame for a given sf_dir, shared by the jaccard /
    removal / components queries); keyless calls always write fresh.
    The read applies the writer's schema explicitly so an empty frame
    round-trips, and goes through the one fan-out policy
    (``catalog.spread``: an under-split scan is repartitioned to
    ``defaultParallelism``). ``fan_out=False`` skips it: for a tiny
    dimension-sized intermediate whose consumers are broadcast builds
    or one-row aggregates, the exchange is pure overhead — the fan-out
    exists for CPU-heavy per-row consumers, not for these."""
    return _materialize_with_path(df, key, fan_out)[0]


def _materialize_with_path(df, key: str | None = None, fan_out: bool = True):
    """Body of :func:`materialize`, additionally returning the
    written scratch path (pin() uses it to reclaim superseded
    iteration state)."""
    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    if key is not None and (app, key) in _MATERIALIZED:
        path = _MATERIALIZED[(app, key)]
        return _scratch_read(spark, df.schema, path, fan_out), path
    app_dir = _os.path.join(_SCRATCH_ROOT, app)
    if app not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(app)
        _atexit.register(_shutil.rmtree, app_dir, ignore_errors=True)
    safe = (key or uuid_hex()).replace("/", "_").replace(":", "_")
    path = _os.path.join(app_dir, safe)
    # Snappy, not the session's zstd: scratch intermediates are
    # write-once read-few and deleted at exit — cheap encode beats
    # compression ratio here.
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    if key is not None:
        _MATERIALIZED[(app, key)] = path
        _SCRATCH_SCHEMA[(app, key)] = df.schema
    return _scratch_read(spark, df.schema, path, fan_out), path


_SCRATCH_SCHEMA: dict[tuple[str, str], object] = {}


def materialize_lazy(spark, key: str, builder, fan_out: bool = True):
    """Keyed materialization whose DERIVATION is also skipped on a
    cache hit. ``materialize(df, key)`` can only short-circuit the
    write — the caller has already paid for constructing ``df``, which
    for eager-plan builders (kmeans_assign collects centroids per
    Lloyd round) is the expensive part. Here the builder runs only on
    a miss; hits re-scan the scratch parquet directly."""
    app = spark.sparkContext.applicationId
    if (app, key) in _MATERIALIZED:
        return _scratch_read(
            spark, _SCRATCH_SCHEMA[(app, key)], _MATERIALIZED[(app, key)], fan_out
        )
    return materialize(builder(), key=key, fan_out=fan_out)


_SCRATCH_NPART: dict[str, int] = {}


def _scratch_splits(df, path) -> int:
    """Split count of a scratch scan, probed once per path and cached:
    scratch files are immutable after the write, and the probe plans a
    physical scan on the Spark driver."""
    if path not in _SCRATCH_NPART:
        _SCRATCH_NPART[path] = df.rdd.getNumPartitions()
    return _SCRATCH_NPART[path]


def _scratch_read(spark, schema, path, fan_out: bool = True):
    """Scan a scratch intermediate through the one fan-out policy,
    ``catalog.spread``, with the :func:`_scratch_splits` probe: Spark
    bin-packs small files into few splits, which would serialize every
    stage consuming the materialized frame, so an under-split scan is
    repartitioned to ``defaultParallelism``. At real scale the files
    split properly and the gate never fires."""
    out = spark.read.schema(schema).parquet(path)
    return spread(out, _scratch_splits(out, path)) if fan_out else out


def uuid_hex() -> str:
    return _uuid.uuid4().hex


def pin(df):
    """Materialize per-iteration / reused state through a pluggable
    materializer (round-6 verdict item 1: ``localCheckpoint()`` pins
    RDD blocks to executors, so one lost executor kills an iterative
    job mid-flight with no recompute path — fine on local[N], not a
    100 TB design).

    Mode comes from the session conf ``spark.graft.materializer``
    (fallback: env ``SPARK_GRAFT_MATERIALIZER``, default ``auto``):

    - ``local``    — ``df.localCheckpoint()``: fastest, blocks live on
      executors, NOT executor-loss-safe.
    - ``reliable`` — scratch-parquet :func:`materialize`: state lands
      on storage every branch rescans, surviving executor loss; on a
      cluster point ``SPARK_GRAFT_SCRATCH`` at shared storage (HDFS /
      object store) and this is exactly the
      persist-to-staging-table contract the graph docstrings promise.
    - ``auto``     — ``local`` for ``local[...]`` masters, ``reliable``
      for anything else, so a cluster deployment is loss-safe by
      DEFAULT and no code change is needed.

    Results are bit-identical across modes (parity-tested): both paths
    replay the same physical rows; only where the bytes live differs.
    Use as ``df.transform(pin)`` or ``pin(df)``.

    **Reliable-mode scratch lifetime contract:** scratch is reclaimed
    per (application, call-site), keeping the newest ``_PIN_KEEP``
    generations — which assumes ONE live pinned lineage per site. Two
    lazily-held results whose loops pin from the same source line
    (e.g. ``pagerank()`` invoked twice, both results kept unevaluated
    and unioned later) would let the second invocation reclaim scratch
    the first result still references (r8 advice). Callers composing
    multiple live pinned frames set ``spark.graft.pin_reclaim=off``
    (or env ``SPARK_GRAFT_PIN_RECLAIM=off``) around the second build —
    scratch then accumulates one frame per iteration and is swept with
    the application's scratch dir instead."""
    spark = df.sparkSession
    try:
        conf_value = spark.conf.get("spark.graft.materializer", None)
    except Exception:
        conf_value = None
    mode = _materializer_mode(
        spark.sparkContext.master,
        conf_value,
        _os.environ.get("SPARK_GRAFT_MATERIALIZER"),
    )
    if mode == "local":
        return df.localCheckpoint()
    out, path = _materialize_with_path(df)
    _reclaim_pin_scratch(spark, path)
    return out


# Per (application, call-site) history of reliable-pin scratch paths.
# An iterative loop pins from the same source line every round; once a
# NEWER pin from that line has been fully written, state from two pins
# ago is dead — no live plan can reference it (the round that read it
# has already materialized its successor). Keeping one superseded
# generation as a safety margin, everything older is deleted, which
# bounds reliable-mode disk at ~2 frames per call site instead of
# growing by one frame per iteration (round-7 review finding).
_PIN_HISTORY: dict[tuple[str, str], list[str]] = {}
_PIN_KEEP = 2


def _reclaim_pin_scratch(spark, path: str) -> None:
    try:
        conf_value = spark.conf.get("spark.graft.pin_reclaim", None)
    except Exception:
        conf_value = None
    if (conf_value or _os.environ.get("SPARK_GRAFT_PIN_RECLAIM", "on")) == "off":
        return
    app = spark.sparkContext.applicationId
    site = _caller_site()
    hist = _PIN_HISTORY.setdefault((app, site), [])
    hist.append(path)
    while len(hist) > _PIN_KEEP:
        dead = hist.pop(0)
        _SCRATCH_NPART.pop(dead, None)
        _shutil.rmtree(dead, ignore_errors=True)


def _caller_site() -> str:
    """file:line of the nearest stack frame OUTSIDE this module and
    pyspark (i.e. the operator code that called pin(), possibly via
    DataFrame.transform)."""
    import sys as _sys

    f = _sys._getframe(1)
    here = _os.path.abspath(__file__)
    while f is not None:
        fn = f.f_code.co_filename
        if _os.path.abspath(fn) != here and (_os.sep + "pyspark" + _os.sep) not in fn:
            return f"{fn}:{f.f_lineno}"
        f = f.f_back
    return "<unknown>"


def _materializer_mode(master: str, conf_value, env_value) -> str:
    """Resolve the effective materializer mode (pure, so the
    non-local-master-defaults-to-reliable contract is unit-testable
    without spinning a cluster)."""
    mode = conf_value or env_value or "auto"
    if mode == "auto":
        # local-cluster[...] is NOT local: its executors are separate
        # JVMs that can die independently, so auto must treat it like
        # any other cluster master (r8: the executor-loss drill runs
        # on local-cluster and relies on this)
        is_local = master.startswith("local") and not master.startswith(
            "local-cluster"
        )
        mode = "local" if is_local else "reliable"
    if mode not in ("local", "reliable"):
        raise ValueError(f"unknown materializer mode {mode!r}")
    return mode


def swap_dir(target: str, staged: str) -> None:
    """Atomically replace directory ``target`` with ``staged``.

    The naive ``rmtree(target); move(staged, target)`` has a crash
    window in which the state is GONE (deleted but not yet replaced) —
    a reader that treats missing-as-empty then silently restarts from
    scratch. Sequence here: move the live dir ASIDE, move the staged
    dir into place, only then delete the old copy. Every crash point
    leaves either the old state (at ``target`` or ``target + '_old'``)
    or the new state at ``target`` — :func:`recover_dir` on the read
    side restores the aside copy if the swap died mid-flight."""
    import os as _os
    import shutil as _shutil

    old = target + "_old"
    _shutil.rmtree(old, ignore_errors=True)
    if _os.path.exists(target):
        _shutil.move(target, old)
    _shutil.move(staged, target)
    _shutil.rmtree(old, ignore_errors=True)


def recover_dir(target: str) -> bool:
    """Read-side companion to :func:`swap_dir`: if ``target`` is
    missing but the aside copy from an interrupted swap exists,
    restore it. Returns True iff ``target`` exists afterwards — the
    caller distinguishes genuinely-absent state (bootstrap) from a
    real read failure (corrupt files raise, they are NOT 'no state')."""
    import os as _os
    import shutil as _shutil

    old = target + "_old"
    if not _os.path.exists(target) and _os.path.exists(old):
        _shutil.move(old, target)
    return _os.path.exists(target)


def check_format_stamp(index_dir: str, expected: dict, label: str) -> dict:
    """Shared ``_format.json`` validator for persisted index artifacts
    (kNN graph, tokenizer, ... — the D19 stamp discipline): refuse a
    missing stamp or any key differing from ``expected`` LOUDLY, and
    return the parsed stamp so callers can read extra keys (e.g. the
    graph index's entry node). One implementation instead of a copy
    per index family (r8 session review)."""
    import json as _json
    import os as _os

    fmt_path = _os.path.join(index_dir, "_format.json")
    if not _os.path.exists(fmt_path):
        raise ValueError(
            f"{label} at {index_dir} has no _format.json stamp; "
            "rebuild it with its index builder"
        )
    with open(fmt_path) as fh:
        stamp = _json.load(fh)
    mismatched = {
        k: (stamp.get(k), v) for k, v in expected.items() if stamp.get(k) != v
    }
    if mismatched:
        raise ValueError(
            f"{label} format mismatch at {index_dir}: {mismatched}"
        )
    return stamp
