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
    """Deterministic sum of ONE money column: an exact DECIMAL sum
    (order-independent, oracle-safe), rounded to ``ndigits`` and
    surfaced as a double."""
    return money(F.sum(dec(col, scale)), ndigits)


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
#
# Keyed scratch (:func:`scratch`) is shared across queries in one
# application. Its key is (application, name, identity of ``reads``):
# the identity is Spark's canonicalized analyzed plan of the frame the
# build reads (bucketed on ``semanticHash()``, confirmed with
# ``sameSemantics()`` — the rule Spark's CacheManager applies), so two
# sf_dirs, a filtered corpus and an in-memory corpus each get their own
# entry without a hand-made key. Each entry also records the version of
# ``reads``: each input file's path with its ``catalog.table_version``,
# the version the schema and relation stores key on. A lookup whose
# version differs rebuilds, and the rebuilt entry replaces every entry
# of the same name that recorded another state of the directories it
# read (their scratch directories are deleted). An input whose version
# cannot be read is a miss, never a hit, and its build is returned
# unwritten. Driver-side values derived from the same inputs
# (:func:`remember`) go through the same key into one sibling memo.
import atexit as _atexit
import os as _os
import shutil as _shutil
import uuid as _uuid
from typing import NamedTuple as _NamedTuple

from cdk_serverless_data_lake_sandbox_spark.catalog import (
    Resolved,
    resolved,
    reuse,
    table_version,
)

_SCRATCH_ROOT = _os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))), ".scratch"),
)
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


class _Entry(_NamedTuple):
    reads: object  # the frame the build read; confirms a bucket hit
    version: tuple  # (path, table_version(path)) of every input file of reads
    value: object  # scratch: a _Written; memo: the value


class _Written(_NamedTuple):
    path: str
    schema: object
    read: Resolved  # the scan of path the write resolved


# (application, name, semanticHash of reads) -> _Entry
_MATERIALIZED: dict[tuple, _Entry] = {}
_MEMO: dict[tuple, _Entry] = {}


def _lookup(store: dict, name: str, reads) -> tuple:
    """The one keyed lookup behind :func:`scratch` and
    :func:`remember`: (key, version, hit entry or None). ``key`` is
    None when a miss must not be recorded: the version of an input
    file cannot be read, or the hash bucket holds another plan."""
    key = (reads.sparkSession.sparkContext.applicationId, name, reads.semanticHash())
    version = tuple((f, table_version(f)) for f in sorted(reads.inputFiles()))
    old = store.get(key)
    unreadable = any(v is None for _, v in version)
    if unreadable or (old is not None and not reads.sameSemantics(old.reads)):
        return None, version, None
    return key, version, old if old is not None and old.version == version else None


def _record(store: dict, key: tuple, reads, version: tuple, value) -> None:
    """Record a build and drop the entries of this application and
    ``name`` it makes stale: any that recorded a different state of a
    directory ``version`` lists — the table was rewritten or grown
    since, whichever plan read it (a filter, or a fan-out the new size
    turned on or off). Entries over the same files at the same version
    (two filters of one table) stay."""
    now = _by_dir(version)
    for k in [k for k in store if k[:2] == key[:2]]:
        old = _by_dir(store[k].version)
        if k == key or any(now[d] != fs for d, fs in old.items() if d in now):
            _drop(store, k)
    store[key] = _Entry(reads, version, value)


def _by_dir(version: tuple) -> dict:
    out: dict[str, set] = {}
    for v in version:
        out.setdefault(_os.path.dirname(v[0]), set()).add(v)
    return out


def _drop(store: dict, key: tuple) -> None:
    e = store.pop(key)
    if store is _MATERIALIZED:
        _shutil.rmtree(e.value[0], ignore_errors=True)


def scratch(name: str, reads, build):
    """Keyed scratch: the frame ``build()`` returns, written once per
    (application, ``name``, identity and version of ``reads``) and
    re-scanned on every later call. ``reads`` is the frame the build
    derives from; ``name`` tells apart the builds over one input and
    carries their parameters. On a hit ``build`` never runs (eager
    builders such as k-means collect while constructing their frame)
    and no Spark job runs. A miss that cannot be recorded returns
    ``build()`` unwritten. The entry is read back as written, with no
    fan-out (:func:`_scratch_read`)."""
    spark = reads.sparkSession
    key, version, hit = _lookup(_MATERIALIZED, name, reads)
    if hit is not None:
        return _scratch_read(spark, hit.value)
    if key is None:
        return build()
    written = _write(build(), name)
    _record(_MATERIALIZED, key, reads, version, written)
    return _scratch_read(spark, written)


def remember(name: str, reads, compute):
    """Driver-side value derived from ``reads`` (a count, a plan
    decision), computed once per :func:`scratch` key."""
    key, version, hit = _lookup(_MEMO, name, reads)
    if hit is not None:
        return hit.value
    value = compute()
    if key is not None:
        _record(_MEMO, key, reads, version, value)
    return value


def materialize(df):
    """Write ``df`` to a fresh scratch parquet path and return a frame
    that scans it, truncating lineage so downstream multi-branch plans
    pay for the derivation exactly once. Use :func:`scratch` to share
    the write across calls. The frame scans the files as written, with
    no fan-out (:func:`_scratch_read`)."""
    return _scratch_read(df.sparkSession, _write(df))


def _write(df, name: str = "tmp") -> _Written:
    """Write ``df`` under this application's scratch directory and
    resolve the scan of what was written, once: scratch files are
    immutable after the write, so every later read reuses that scan
    and lists no files."""
    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    app_dir = _os.path.join(_SCRATCH_ROOT, app)
    if app not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(app)
        _atexit.register(_shutil.rmtree, app_dir, ignore_errors=True)
    safe = name.replace("/", "_").replace(":", "_")
    path = _os.path.join(app_dir, f"{safe}-{_uuid.uuid4().hex}")
    # Snappy, not the session's zstd: scratch intermediates are
    # write-once read-few and deleted at exit — cheap encode beats
    # compression ratio here.
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    read = spark.read.schema(df.schema).parquet(path)
    return _Written(path, df.schema, resolved(read))


def _scratch_read(spark, written: _Written):
    """Scan a scratch intermediate as written, applying the writer's
    schema so an empty frame round-trips. Scratch never fans out: lake
    tables fan out where ``catalog.spread`` is called, and an
    intermediate is split as its files allow. The scan is the one the
    write resolved, unless ``spark`` is another session of the
    application."""
    out = reuse(spark, written.read)
    if out is None:
        out = spark.read.schema(written.schema).parquet(written.path)
    return out


def _pins_to_executors(master: str) -> bool:
    """Where :func:`pin` puts state under ``master``: True for
    ``local[...]`` (executor blocks), False for every other master.
    ``local-cluster[...]`` executors are separate JVMs that can die on
    their own, so it is treated like any cluster."""
    return master.startswith("local") and not master.startswith("local-cluster")


def pin(df):
    """Materialize ``df`` and truncate its lineage: per-iteration or
    reused state (``df.transform(pin)`` or ``pin(df)``).

    Placement is the master's: on ``local[...]`` a
    ``df.localCheckpoint()`` (blocks on the executors, one JVM, so
    nothing is lost that the driver survives); on any other master a
    scratch parquet write (:func:`materialize`) that every consumer
    rescans, so the state survives a lost executor. On a cluster,
    point ``SPARK_GRAFT_SCRATCH`` at shared storage. Both placements
    replay the same physical rows, so results are identical.

    Lifetime: scratch written here lives until application exit, like
    every :func:`materialize`. A loop that pins its state every round
    pins through a :class:`RoundPins` made before the loop, which
    deletes that loop's old rounds as it goes."""
    if _pins_to_executors(df.sparkSession.sparkContext.master):
        return df.localCheckpoint()
    return materialize(df)


class RoundPins:
    """The pins of one loop's per-round state. Pinning round t to
    scratch deletes this loop's round t-2: round t was computed from
    round t-1, which stays for consumers of the previous state (a
    convergence check, a delta frontier). Each loop call makes its own,
    so two results held lazily never lose each other's rounds."""

    def __init__(self):
        self._written: list[str] = []

    def pin(self, df):
        """:func:`pin`, reclaiming this loop's old rounds."""
        if _pins_to_executors(df.sparkSession.sparkContext.master):
            return df.localCheckpoint()
        return self.materialize(df)

    def materialize(self, df):
        """:func:`materialize` under every master (state too large for
        executor blocks), reclaiming this loop's old rounds."""
        written = _write(df, "round")
        self._written.append(written.path)
        if len(self._written) > 2:
            _shutil.rmtree(self._written.pop(0), ignore_errors=True)
        return _scratch_read(df.sparkSession, written)


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
