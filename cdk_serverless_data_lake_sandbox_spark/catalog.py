"""Lake catalog: the Glue-Database / table-registry analog.

The reference (``stacks/demo_stack.py:52-100``) creates raw/processed
S3 zones plus two Glue databases whose tables are registered by
crawlers. Here a :class:`Lake` maps zones to directories and registers
tables as Spark temp views (``<zone>_<table>``) so the whole surface is
queryable through ``spark.sql`` exactly like Athena over Glue.
"""

from __future__ import annotations

import functools
import os
import threading
from typing import NamedTuple
from urllib.parse import unquote, urlsplit

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

MASK_PLACEHOLDER = "***"


class AccessDenied(Exception):
    """A governed read without a covering grant (catalog ACL)."""


def table_version(path: str) -> tuple | None:
    """The version of the table at ``path`` (a file or a directory
    tree): the one answer the schema store, the relation store and
    keyed scratch give to "has this table changed?", as a Glue table
    gets a new version on every ``UpdateTable``. It is the sorted
    (relative name, size, mtime, ...) of ``path`` and of every file
    under it, so a file rewritten in place, whose directory's own mtime
    does not move, still gives a new version.

    A plain path or a ``file:`` URI is stat'ed through ``os``
    (mtime_ns and inode; no JVM call). Any other scheme (``s3a:``,
    ``hdfs:``) is listed through its Hadoop FileSystem
    (:func:`_hadoop_version`). None when the tree cannot be stat'ed."""
    url = urlsplit(path)
    if url.scheme not in ("", "file"):
        return _hadoop_version(path)
    root = unquote(url.path) if url.scheme else path
    try:
        st = os.stat(root)
        out = [("", st.st_size, st.st_mtime_ns, st.st_ino)]
        for d, _, files in os.walk(root):  # nothing for a file
            for f in files:
                fp = os.path.join(d, f)
                st = os.stat(fp)
                out.append((os.path.relpath(fp, root), st.st_size, st.st_mtime_ns, st.st_ino))
    except OSError:
        return None
    return tuple(sorted(out))


def _hadoop_version(path: str) -> tuple | None:
    """:func:`table_version` through the Hadoop FileSystem of
    ``path``'s scheme: the sorted (name relative to ``path``, size,
    mtime in ms) of every file of the tree, or None when no Spark
    application runs or the tree cannot be listed. A recursive listing
    costs about six JVM round trips per file."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    try:
        p = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
        root = fs.makeQualified(p).toString()
        files = fs.listFiles(p, True)  # a file lists itself
        out = []
        while files.hasNext():
            f = files.next()
            out.append((f.getPath().toString()[len(root):], f.getLen(), f.getModificationTime()))
    except Py4JJavaError:
        return None
    return tuple(sorted(out))


# The lake's schema store — the Glue-catalog analog of a table's
# registered schema, so that no read re-derives what the lake already
# knows. Without it every ``spark.read.parquet`` fires a one-task
# footer-inference JOB, and a query joining six tables pays six driver
# round-trips before any real work (measured ~1.5 s of a 2.9 s q5 wall
# at sf0.1; at production scale the same jobs list object-store
# prefixes, which is why Glue keeps schemas in the catalog instead of
# re-crawling per query — optimization guide §6 "file listing" / §7.3
# driver-side work). Keys are (identity, :func:`table_version` of the
# input):
#
# - a parquet table's path: recorded by the first footer read
#   (:func:`_read_parquet_cached`) or by the writer that just wrote the
#   table (:func:`record_written`);
# - (path, delimiter, quote, use_header, sample_rows): a delimited
#   crawl's sampled inference (``sources.crawler.crawl_delimited``), so
#   the ETL job reuses the schema the crawler just inferred for the
#   same drop.
#
# A rewritten input has a new version and misses; storing it drops the
# identity's older versions, so the store holds one entry per table or
# crawl input.
_SCHEMA_CACHE: dict[tuple, StructType] = {}
_SCHEMA_LOCK = threading.Lock()


def schema_for(identity, version, infer) -> StructType:
    """The schema stored under (``identity``, ``version``), else
    ``infer()``'s, stored there. A ``version`` of None (the input could
    not be stat'ed) always infers and stores nothing. Returns a copy:
    the caller may extend it (``StructType.add`` works in place)."""
    schema = _SCHEMA_CACHE.get((identity, version)) if version is not None else None
    if schema is None:
        schema = infer()
        if version is not None:
            _store(identity, version, schema)
    return StructType(list(schema.fields))


def _store(identity, version, schema: StructType) -> None:
    with _SCHEMA_LOCK:  # a streaming batch records from its own thread
        for k in [k for k in _SCHEMA_CACHE if k[0] == identity and k[1] != version]:
            del _SCHEMA_CACHE[k]
        _SCHEMA_CACHE[(identity, version)] = StructType(list(schema.fields))


def _as_nullable(t):
    """``t`` with every field, element and map value nullable: what a
    file source returns for a schema, read or user-specified."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def record_written(path: str, schema: StructType) -> None:
    """Record that the parquet table ``path`` was just written from a
    frame of ``schema``, so the next read of it runs no footer job.
    The entry is keyed on the table's version after the write, and
    holds what a footer read returns: the same fields, all nullable."""
    version = table_version(path)
    if version is not None:
        _store(path, version, _as_nullable(schema))


def recorded_schema(path: str) -> StructType | None:
    """The stored schema of the parquet table ``path`` as it is now,
    or None."""
    version = table_version(path)
    return None if version is None else _SCHEMA_CACHE.get((path, version))


class Resolved(NamedTuple):
    """A parquet scan a session has resolved: the analyzed relation,
    which holds the file listing and the schema. :func:`reuse` hands
    out new frames over it without resolving the path again."""

    session: SparkSession
    plan: object  # the analyzed LogicalRelation, on the JVM


def resolved(df: DataFrame) -> Resolved:
    """The resolved scan of ``df``, a frame from ``spark.read...parquet``."""
    return Resolved(df.sparkSession, df._jdf.queryExecution().analyzed())


def reuse(spark: SparkSession, r: Resolved) -> DataFrame | None:
    """A new frame over the scan ``r``, or None when ``r`` belongs to
    another session or ``spark`` is stopped. The frame's columns get
    new attribute ids (``newInstance``), as a second ``spark.read``
    of the path would: two frames handed out for one table join on
    Column references without an ambiguous self-join."""
    if r.session is not spark or spark.sparkContext._jsc is None:
        return None
    plan = r.plan.newInstance()
    return DataFrame(_dataset_class(spark._jvm).ofRows(spark._jsparkSession, plan), spark)


@functools.cache
def _dataset_class(jvm):
    """Spark's Dataset class: resolving it through the gateway costs a
    reflection round trip per package name."""
    return jvm.org.apache.spark.sql.classic.Dataset


# The lake's relation store, next to the schema store: the scan a
# session resolved for a parquet path, so that a repeated read lists no
# files and builds no relation (the catalog keeps a table's metadata;
# a query does not work it out again). Keyed on (session, path); an
# entry holds the :func:`table_version` it was resolved at, and a read
# at another version resolves again and replaces it. Entries of a
# stopped session are dropped when the next entry is stored.
_RELATIONS: dict[tuple, tuple] = {}  # (id(session), path) -> (version, schema, Resolved)


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """The parquet table at ``path`` and its schema, through the
    relation store, else the schema store (no footer job for a schema
    the lake knows). Both are keyed on one :func:`table_version`."""
    key = (id(spark), path)
    version = table_version(path)
    if version is None:
        with _SCHEMA_LOCK:
            _RELATIONS.pop(key, None)
        df = spark.read.parquet(path)  # missing path: surface Spark's error
        return df, df.schema
    hit = _RELATIONS.get(key)
    if hit is not None and hit[0] == version:
        df = reuse(spark, hit[2])
        if df is not None:
            return df, hit[1]
    schema = _SCHEMA_CACHE.get((path, version))
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        _store(path, version, schema)
    else:
        df = spark.read.schema(schema).parquet(path)
    entry = (version, schema, resolved(df))
    with _SCHEMA_LOCK:
        for k in [k for k, e in _RELATIONS.items() if e[2].session.sparkContext._jsc is None]:
            del _RELATIONS[k]
        _RELATIONS[key] = entry
    return df, schema


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    return _read_parquet(spark, path)[0]


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet has stored ``ts`` as either TIMESTAMP(NANOS)
    (which Spark's microsecond TimestampType rejects outright) or plain
    TIMESTAMP(MICROS), depending on the generator version. Handle both:
    with ``nanosAsLong`` set, a nanos column reads back as ``bigint``
    and is truncated to micros — the same ns->us truncation DuckDB
    applies, so oracle parity holds. A micros column reads back as
    TIMESTAMP_NTZ (parquet isAdjustedToUTC=false), which breaks
    ``unix_micros``/interval arithmetic downstream — cast it to the
    session-zoned TimestampType, which in a UTC session preserves the
    stored wall-clock exactly like the nanos path did."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Spark takes nanosAsLong from the session conf only (no reader
    # option), and only while it resolves the schema: the resolved scan
    # keeps reading ``ts`` as bigint once the caller's value is back.
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(nanos, None)
    spark.conf.set(nanos, "true")
    try:
        df, schema = _read_parquet(spark, path)
    finally:
        if prior is None:
            spark.conf.unset(nanos)
        else:
            spark.conf.set(nanos, prior)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SIZE_SUFFIX = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ("128m", "1g", "134217728")."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIX:
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    return int(s)


def _under_split(splits: int, par: int) -> bool:
    """The fan-out gate: True when an input scans in fewer than
    ``max(par // 2, 2)`` splits on a cluster of ``par`` cores. The
    floor of 2 keeps the gate live on 2- and 3-core hosts, where
    ``par // 2`` would never exceed one split."""
    return splits < max(par // 2, 2)


def _table_path(sf_dir: str, table: str) -> str:
    """Where lake table ``table`` lives under ``sf_dir``."""
    return os.path.join(sf_dir, f"{table}.parquet")


def spread(df: DataFrame, sf_dir: str, table: str, *keys: str) -> DataFrame:
    """The one fan-out entry point: ``df``, a frame over lake table
    ``table`` under ``sf_dir``, repartitioned to ``defaultParallelism``
    when the table's file is under-split (:func:`_under_split`),
    hashing on ``keys`` when given so a downstream join or aggregate on
    them reuses the partitioning; otherwise ``df`` unchanged.

    Lake tables fan out where ``spread`` is called, and nowhere else:
    scratch intermediates are read back as written. Parquet
    parallelism is capped by row-group count, and the sandbox tables
    are one row group per file, so their scans run as one task whatever
    the split config says. The split count is estimated from the file's
    size and ``maxPartitionBytes``: asking ``df`` for its partition
    count would plan a physical scan on the Spark driver. Only a table
    stored as one local file is estimated; any other table (a directory
    of part files, a remote URI, a missing path) is left alone. At real
    scale tables split properly and the plan is unchanged."""
    spark = df.sparkSession
    max_split = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    path = _table_path(sf_dir, table)
    if not os.path.isfile(path):
        return df
    size = os.path.getsize(path)
    splits = max(1, size // max_split)
    par = spark.sparkContext.defaultParallelism
    return df.repartition(par, *keys) if _under_split(splits, par) else df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = ALL_TABLES,
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables as DataFrames keyed by name,
    each a plain scan. A caller whose downstream work is CPU-heavy per
    row fans a table out with :func:`spread`; for a scan feeding a
    shuffle join or a cheap map-side aggregate the extra exchange is
    pure loss."""
    out: dict[str, DataFrame] = {}
    for t in names:
        path = _table_path(sf_dir, t)
        out[t] = (
            _read_events(spark, path)
            if t == "events"
            else _read_parquet_cached(spark, path)
        )
    return out


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view (Athena-over-Glue analog)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(f"{prefix}{name}")


class Lake:
    """Zoned lake catalog: raw / processed / scripts zones as in the
    reference's three buckets (``stacks/demo_stack.py:52-92``), with a
    per-zone table registry (the two Glue databases,
    ``stacks/demo_stack.py:94-100``).

    The registry is DURABLE: every mutation rewrites a
    ``catalog.json`` manifest under ``root`` (the Glue Catalog
    survives the process in the reference — ``demo_stack.py:94-100`` —
    so the analog must too), and :meth:`Lake.open` restores
    zones/tables/views into a fresh SparkSession from the manifest
    alone. Table paths are stored relative to ``root`` when they live
    inside it, so a lake directory can be moved or mounted elsewhere
    and reopened."""

    MANIFEST = "catalog.json"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.zones: dict[str, str] = {}
        self.tables: dict[str, dict[str, str]] = {}
        # principal -> zone -> table|"*" -> grant entry. Two encodings
        # (see _grant_for): legacy list[str]|None = granted columns
        # (None=all), or {"columns": ..., "row_filter": ...} when the
        # grant carries a row-level filter.
        self.grants: dict[
            str, dict[str, dict[str, list[str] | dict | None]]
        ] = {}

    # -------------------------------------------------- durability
    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "Lake":
        """Reopen an existing lake: rebuild the zone/table registry
        from ``<root>/catalog.json`` and re-register every table's
        temp view in THIS session. Tables whose data directory has
        vanished (e.g. vacuumed externally) are dropped from the
        restored registry rather than registered as dangling views."""
        import json

        lake = cls(spark, root)
        mf = os.path.join(root, cls.MANIFEST)
        if not os.path.exists(mf):
            return lake
        with open(mf) as fh:
            manifest = json.load(fh)
        # Restore with manifest saves SUSPENDED, then save exactly once
        # at the end: add_zone()/register() inside this loop each
        # rewrite the manifest, and any rewrite made while self.grants
        # / self.tables are still partially restored puts a truncated
        # manifest on disk — a crash mid-open then silently erased
        # durable grants (r8 advice) or the whole table registry (r8
        # review). Until the final save, the on-disk manifest stays the
        # complete pre-open one.
        lake._restoring = True
        try:
            lake.grants = manifest.get("grants", {})
            for zone in manifest.get("zones", []):
                lake.add_zone(zone)
            for zone, tables in manifest.get("tables", {}).items():
                lake.tables.setdefault(zone, {})
                for table, rel in tables.items():
                    path = rel if os.path.isabs(rel) else os.path.join(root, rel)
                    # single-file parquet is a file, a written table a dir
                    if not os.path.exists(path):
                        continue
                    lake.register(zone, table, path, _read_parquet_cached(spark, path))
        finally:
            lake._restoring = False
        lake._save_manifest()
        return lake

    def _save_manifest(self) -> None:
        import json

        # suspended during open() — see the restore comment there
        if getattr(self, "_restoring", False):
            return

        rel_tables = {
            zone: {
                table: (
                    os.path.relpath(path, self.root)
                    if os.path.commonpath([os.path.abspath(path), os.path.abspath(self.root)])
                    == os.path.abspath(self.root)
                    else path
                )
                for table, path in tables.items()
            }
            for zone, tables in self.tables.items()
        }
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, self.MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "zones": sorted(self.zones),
                    "tables": rel_tables,
                    "grants": self.grants,
                },
                fh,
                indent=1,
            )
        os.replace(tmp, os.path.join(self.root, self.MANIFEST))

    def add_zone(self, zone: str) -> str:
        path = os.path.join(self.root, zone)
        os.makedirs(path, exist_ok=True)
        self.zones[zone] = path
        self.tables.setdefault(zone, {})
        self._save_manifest()
        return path

    def register(self, zone: str, table: str, path: str, df: DataFrame) -> None:
        """Lake-OWNER registration (the CDK stack itself creating
        tables — carries no principal, is not governed). Principal-
        scoped jobs must go through :meth:`write`, which enforces the
        write grant + audit before calling this."""
        df.createOrReplaceTempView(self._view_name(zone, table))
        self.tables[zone][table] = path
        self._save_manifest()

    def table(self, zone: str, table: str) -> DataFrame:
        return self.spark.table(self._view_name(zone, table))

    def list_tables(self, zone: str) -> list[str]:
        return sorted(self.tables.get(zone, {}))

    def drop(self, zone: str, table: str) -> None:
        self.spark.catalog.dropTempView(self._view_name(zone, table))
        self.tables[zone].pop(table, None)
        self._save_manifest()

    def _view_name(self, zone: str, table: str) -> str:
        return f"{zone}_{table}"

    # -------------------------------------------------- access control
    # The reference scopes data access with an IAM role + bucket
    # policy (demo_stack.py:102-128: the Glue role may read/write the
    # raw and processed buckets; everyone else is denied by default).
    # The analog with a DATA behavior: per-principal grants at
    # zone/table granularity with optional column scoping, enforced on
    # every governed read, with an audit row per read attempt — the
    # CloudTrail-on-S3 story the bucket policy implies. Grants are
    # part of the durable manifest (IAM policies outlive processes).

    def grant(
        self,
        principal: str,
        zone: str,
        table: str = "*",
        columns: list[str] | None = None,
        row_filter: str | None = None,
        actions: tuple[str, ...] | list[str] = ("read",),
    ) -> None:
        """Grant ``principal`` ``actions`` on ``zone.table`` (``"*"`` =
        every table in the zone, like the reference's bucket-wide
        policy). ``actions`` mirrors the reference bucket policy, which
        grants GetObject AND PutObject/DeleteObject explicitly
        (``demo_stack.py:112-119``): ``"read"`` gates :meth:`read`,
        ``"write"`` gates :meth:`write` / :meth:`delete_table` —
        both default-deny. ``columns`` scopes a read grant: ungranted
        columns are MASKED on read, not dropped — the shape downstream
        jobs expect stays stable while the values are withheld.
        ``row_filter`` is a SQL predicate evaluated against the TRUE
        (pre-mask) rows — the row-level-security half of the
        governed-lake model: a filter may gate on a column the
        principal cannot see. Stored in the manifest; legacy
        (filter-less, read-only) grants keep their compact form so
        pre-existing manifests load unchanged. An unparseable
        predicate surfaces as Spark's AnalysisException on read."""
        acts = sorted(set(actions))
        bad = [a for a in acts if a not in ("read", "write")]
        if bad:
            raise ValueError(f"unknown grant actions {bad}")
        if not acts:
            # an empty-action grant is a footgun, not a deny rule (the
            # legacy-decode default would silently resurrect it as
            # read) — denying is revoke()'s job
            raise ValueError("actions must not be empty — use revoke()")
        cols = sorted(columns) if columns is not None else None
        entry: object
        if acts == ["read"] and row_filter is None:
            entry = cols  # compact legacy encoding, manifest-stable
        elif acts == ["read"]:
            entry = {"columns": cols, "row_filter": row_filter}
        else:
            entry = {
                "columns": cols,
                "row_filter": row_filter,
                "actions": acts,
            }
        self.grants.setdefault(principal, {}).setdefault(zone, {})[table] = entry
        self._save_manifest()

    def revoke(self, principal: str, zone: str, table: str = "*") -> None:
        self.grants.get(principal, {}).get(zone, {}).pop(table, None)
        self._save_manifest()

    def _grant_for(
        self, principal: str, zone: str, table: str, action: str = "read"
    ):
        """(granted, columns, row_filter) — a table-specific grant wins
        over the zone wildcard; columns None = all, row_filter None =
        every row. Accepts every grant encoding: legacy list/None
        (read-only), and the dict form carrying a row filter and/or an
        ``actions`` list (absent = read-only, so pre-r8 manifests keep
        their meaning — write stays default-deny)."""
        zgrants = self.grants.get(principal, {}).get(zone)
        if zgrants is None:
            return False, None, None
        if table in zgrants:
            entry = zgrants[table]
        elif "*" in zgrants:
            entry = zgrants["*"]
        else:
            return False, None, None
        if isinstance(entry, dict):
            # .get with default, NOT `or`: a manifest hand-edited to
            # {"actions": []} must stay deny-all, not decode as read
            acts = entry.get("actions", ["read"])
            if action not in acts:
                return False, None, None
            return True, entry.get("columns"), entry.get("row_filter")
        if action != "read":
            return False, None, None
        return True, entry, None

    def read(self, principal: str, zone: str, table: str) -> DataFrame:
        """Governed read: returns the table row-filtered and masked to
        the principal's grant, registers the principal-scoped view
        ``<principal>__<zone>_<table>``, and lands one audit row.
        Raises :class:`AccessDenied` (after auditing the attempt) when
        no grant covers the table."""
        granted, cols, row_filter = self._grant_for(principal, zone, table)
        exists = table in self.tables.get(zone, {})
        self._audit_row(
            principal, zone, table, granted and exists, cols, row_filter
        )
        if not granted or not exists:
            raise AccessDenied(
                f"principal {principal!r} may not read {zone}.{table}"
            )
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = self.table(zone, table)
        if row_filter is not None:
            # BEFORE masking: the predicate sees true values, so a
            # grant can scope rows by a column it simultaneously masks
            df = df.where(F.expr(row_filter))
        if cols is not None:
            allowed = set(cols)
            projected = []
            for f in df.schema.fields:
                if f.name in allowed:
                    projected.append(F.col(f.name))
                elif isinstance(f.dataType, T.StringType):
                    # placeholder for strings, typed NULL otherwise:
                    # the masked frame unions/joins cleanly with the
                    # unmasked schema either way
                    projected.append(F.lit(MASK_PLACEHOLDER).alias(f.name))
                else:
                    projected.append(
                        F.lit(None).cast(f.dataType).alias(f.name)
                    )
            df = df.select(*projected)
        df.createOrReplaceTempView(f"{principal}__{self._view_name(zone, table)}")
        return df

    def write(
        self,
        principal: str,
        zone: str,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
    ) -> str:
        """Governed write — the PutObject half of the reference bucket
        policy (``demo_stack.py:116-119``: writes are explicitly
        granted, so they must be explicitly gated). Default-deny like
        :meth:`read`: no ``write`` grant covering ``zone.table`` →
        :class:`AccessDenied` after the audit row lands. A granted
        write lands the data under the zone, registers the table, and
        audits the attempt. Returns the table path."""
        granted, _, _ = self._grant_for(principal, zone, table, "write")
        # zone containment BEFORE any write: a wildcard write grant
        # covers ANY table string, so a traversal name ('../raw/evil')
        # would land data in a zone the grant never mentioned — deny
        # (and audit the denial) like any other violation (r8 review)
        zone_root = os.path.abspath(self.zones[zone])
        path = os.path.abspath(os.path.join(zone_root, table))
        contained = (
            os.path.dirname(path) == zone_root and os.sep not in table
        )
        allowed = granted and contained
        self._audit_row(principal, zone, table, allowed, None, action="write")
        if not allowed:
            raise AccessDenied(
                f"principal {principal!r} may not write {zone}.{table}"
            )
        df.write.mode(mode).parquet(path)
        if mode in ("overwrite", "error", "errorifexists"):  # the files are df's alone
            record_written(path, df.schema)
        self.register(zone, table, path, _read_parquet_cached(self.spark, path))
        return path

    def delete_table(self, principal: str, zone: str, table: str) -> None:
        """Governed drop — the DeleteObject half of the reference
        bucket policy. Default-deny + audit, then drops the registry
        entry and the data directory (only when it lives inside the
        zone — external paths are deregistered, never deleted)."""
        import shutil

        granted, _, _ = self._grant_for(principal, zone, table, "write")
        exists = table in self.tables.get(zone, {})
        self._audit_row(
            principal, zone, table, granted and exists, None, action="delete"
        )
        if not granted or not exists:
            raise AccessDenied(
                f"principal {principal!r} may not delete {zone}.{table}"
            )
        path = self.tables[zone][table]
        self.drop(zone, table)
        zone_root = os.path.abspath(self.zones[zone])
        if os.path.commonpath([os.path.abspath(path), zone_root]) == zone_root:
            shutil.rmtree(path, ignore_errors=True)

    def _audit_row(
        self,
        principal: str,
        zone: str,
        table: str,
        allowed: bool,
        columns: list[str] | None,
        row_filter: str | None = None,
        action: str = "read",
    ) -> None:
        """ONE FILE per governed access attempt under
        ``<root>/_audit/`` (r8: the old single-file ``reads.jsonl``
        append was not multi-writer-safe — two concurrent governed
        readers, or a lake root on an object store, interleave or
        fail; one immutable file per attempt is the marker-file recipe
        the idempotent sinks already trust, and it needs no locks on
        any filesystem). Written to a dot-prefixed temp name and
        renamed, so a reader never sees a half-written row. Driver-side
        writes at catalog-metadata rate (attempts-per-job, not rows);
        ``audit_log()`` reads the directory back as a DataFrame —
        including pre-r8 ``reads.jsonl`` files."""
        import json
        import time
        import uuid

        d = os.path.join(self.root, "_audit")
        os.makedirs(d, exist_ok=True)
        row = {
            "ts": time.time(),
            "principal": principal,
            "zone": zone,
            "table": table,
            "action": action,
            "allowed": allowed,
            "columns": columns,
            "row_filter": row_filter,
        }
        name = f"{action}-{uuid.uuid4().hex}.json"
        tmp = os.path.join(d, "." + name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(json.dumps(row) + "\n")
        os.replace(tmp, os.path.join(d, name))

    def audit_log(self) -> DataFrame:
        # pathGlobFilter keeps half-written temp names out; Spark
        # skips dot-prefixed files anyway, this makes it explicit
        return self.spark.read.option(
            "pathGlobFilter", "*.json*"
        ).json(os.path.join(self.root, "_audit"))

    # -------------------------------------------------- versioned tables
    def write_version(self, zone: str, table: str, df: DataFrame) -> int:
        """Append-only snapshot versioning: each write lands in
        ``<zone>/<table>/v=N`` and the registered view always points at
        the newest snapshot. Old versions stay readable
        (:meth:`read_version`) — poor-man's time travel on plain
        parquet."""
        base = os.path.join(self.zones[zone], table)
        version = self._latest_version(base) + 1
        path = os.path.join(base, f"v={version}")
        df.write.mode("errorifexists").parquet(path)
        record_written(path, df.schema)
        self.register(zone, table, path, _read_parquet_cached(self.spark, path))
        return version

    def read_version(self, zone: str, table: str, version: int) -> DataFrame:
        path = os.path.join(self.zones[zone], table, f"v={version}")
        return self.spark.read.parquet(path)

    def vacuum(self, zone: str, table: str, keep_last: int = 2) -> list[int]:
        """Retention for versioned tables: drop all but the newest
        ``keep_last`` snapshots (time-travel window vs storage cost —
        the OPTIMIZE/VACUUM knob every lake needs). Returns the
        versions removed."""
        import shutil

        base = os.path.join(self.zones[zone], table)
        latest = self._latest_version(base)
        removed = []
        for d in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            if not d.startswith("v="):
                continue
            v = int(d.split("=", 1)[1])
            if v <= latest - keep_last:
                shutil.rmtree(os.path.join(base, d))
                removed.append(v)
        return sorted(removed)

    def _latest_version(self, base: str) -> int:
        if not os.path.isdir(base):
            return -1
        versions = [
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("v=") and d.split("=", 1)[1].isdigit()
        ]
        return max(versions, default=-1)

    # ------------------------------------- atomic multi-table publish
    def publish_tables(self, zone: str, dfs: dict) -> int:
        """Cross-table ATOMIC publish (D32): write every table's new
        snapshot into per-transaction staging directories, then commit
        them all with ONE manifest-file rename — so readers through
        :meth:`read_published` either see the complete new set or the
        complete previous one, never a mix (the property a corpus +
        its derived indexes need when republished together; per-table
        ``write_version`` cannot give it).

        The atomicity primitive is a single exclusive ``os.link`` of
        ``_commits/commit_<N>.json`` (POSIX-atomic, loud on id
        collision; on an object store, one conditional object PUT). A crash after any number of
        staging writes but before the rename leaves no commit record:
        readers are untouched and :meth:`vacuum_staging` reclaims the
        orphans. Commit numbers are monotone; the newest commit wins.
        Returns the commit id."""
        import json
        import uuid

        zroot = self.zones[zone]
        cdir = os.path.join(zroot, "_commits")
        os.makedirs(cdir, exist_ok=True)
        txid = uuid.uuid4().hex[:12]
        staged = {}
        for table, df in sorted(dfs.items()):
            rel = os.path.join(table, f"txn={txid}")
            df.write.mode("errorifexists").parquet(
                os.path.join(zroot, rel)
            )
            record_written(os.path.join(zroot, rel), df.schema)
            staged[table] = rel
        tmp = os.path.join(cdir, f"_tmp_{txid}.json")
        try:
            while True:
                commit_id = self._latest_commit(cdir) + 1
                with open(tmp, "w") as fh:
                    json.dump({"commit": commit_id, "tables": staged}, fh)
                final = os.path.join(cdir, f"commit_{commit_id:09d}.json")
                # THE atomic step. os.link (not replace): creating the
                # destination FAILS LOUDLY if a concurrent publisher
                # claimed the same id — an os.replace would clobber its
                # committed manifest and silently lose that publish —
                # and the loop then retries with the next id.
                try:
                    os.link(tmp, final)
                    break
                except FileExistsError:
                    continue
                except FileNotFoundError:
                    # a concurrent vacuum_staging aged out OUR temp
                    # manifest between the dump and the link (possible
                    # when min_age_sec is small relative to the
                    # staging-to-link window — r9 advice). The loop
                    # top rewrites it, so just go around again; the
                    # committed-manifest namespace is untouched.
                    continue
        finally:
            # the temp manifest must not outlive the call: a crash
            # BEFORE the link leaves debris vacuum_staging ages out
            if os.path.exists(tmp):
                os.unlink(tmp)
        for table, rel in staged.items():
            path = os.path.join(zroot, rel)
            self.register(zone, table, path, _read_parquet_cached(self.spark, path))
        return commit_id

    def read_published(self, zone: str, table: str) -> DataFrame:
        """Read ``table`` at the newest COMMITTED multi-table
        publish. Staged-but-uncommitted transactions are invisible."""
        import json

        zroot = self.zones[zone]
        cdir = os.path.join(zroot, "_commits")
        cid = self._latest_commit(cdir)
        if cid < 0:
            raise FileNotFoundError(f"no commits in zone {zone!r}")
        with open(os.path.join(cdir, f"commit_{cid:09d}.json")) as fh:
            manifest = json.load(fh)
        rel = manifest["tables"].get(table)
        if rel is None:
            raise KeyError(
                f"table {table!r} not in commit {cid} of zone {zone!r}"
            )
        return self.spark.read.parquet(os.path.join(zroot, rel))

    def vacuum_staging(
        self,
        zone: str,
        min_age_sec: float = 3600.0,
        keep_commits: int | None = None,
    ) -> list[str]:
        """Reclaim staging directories no committed manifest
        references — crash debris from publishes that never reached
        their atomic link — plus orphaned temp manifests, and (with
        ``keep_commits``) superseded commits and their snapshots.

        ``min_age_sec`` is the IN-FLIGHT guard: a publish that has
        staged its tables but not yet linked its manifest looks
        exactly like crash debris, so only staging older than the
        grace period is eligible (tests pass 0 to reclaim
        immediately; a scheduled vacuum keeps the default, far longer
        than any publish's staging-to-link window).

        ``keep_commits=K`` drops all but the newest K commit
        manifests first; their now-unreferenced snapshots then
        reclaim like any orphan — the retention cut that bounds a
        zone's footprint at K full snapshots plus the live one."""
        import json
        import shutil
        import time

        zroot = self.zones[zone]
        cdir = os.path.join(zroot, "_commits")
        removed = []
        now = time.time()
        if keep_commits is not None and os.path.isdir(cdir):
            ids = sorted(
                int(f[len("commit_"):-len(".json")])
                for f in os.listdir(cdir)
                if f.startswith("commit_") and f.endswith(".json")
                and f[len("commit_"):-len(".json")].isdigit()
            )
            for cid in ids[:-keep_commits] if keep_commits > 0 else ids:
                os.unlink(os.path.join(cdir, f"commit_{cid:09d}.json"))
        live = set()
        if os.path.isdir(cdir):
            for f in os.listdir(cdir):
                fp = os.path.join(cdir, f)
                if f.startswith("commit_") and f.endswith(".json"):
                    with open(fp) as fh:
                        live.update(json.load(fh)["tables"].values())
                elif f.startswith("_tmp_") and f.endswith(".json"):
                    if now - os.path.getmtime(fp) >= min_age_sec:
                        os.unlink(fp)
        for table in os.listdir(zroot) if os.path.isdir(zroot) else []:
            tdir = os.path.join(zroot, table)
            if table == "_commits" or not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                if not d.startswith("txn="):
                    continue
                rel = os.path.join(table, d)
                full = os.path.join(zroot, rel)
                if rel in live:
                    continue
                if now - os.path.getmtime(full) < min_age_sec:
                    continue  # possibly an in-flight publish
                shutil.rmtree(full)
                removed.append(rel)
        return sorted(removed)

    def _latest_commit(self, cdir: str) -> int:
        if not os.path.isdir(cdir):
            return -1
        ids = [
            int(f[len("commit_"):-len(".json")])
            for f in os.listdir(cdir)
            if f.startswith("commit_") and f.endswith(".json")
            and f[len("commit_"):-len(".json")].isdigit()
        ]
        return max(ids, default=-1)


class ResultsZone:
    """Query-results location — the Athena workgroup analog.

    The reference pins every named query's output to a dedicated
    results bucket/prefix via the workgroup result configuration
    (``stacks/demo_stack.py:250-266``). Same contract here: every run
    of a named query persists its result set as parquet under
    ``<root>/<name>/run=N`` and stays re-readable afterwards — results
    are data, not a driver-side display artifact."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def run(self, name: str, df: DataFrame) -> int:
        """Execute ``df`` and persist the result set; returns the run
        number. Runs are append-only (Athena keeps every query's
        output object)."""
        base = os.path.join(self.root, name)
        run = self._latest_run(base) + 1
        df.write.mode("errorifexists").parquet(os.path.join(base, f"run={run}"))
        return run

    def read(self, name: str, run: int | None = None) -> DataFrame:
        run = self._latest_run(os.path.join(self.root, name)) if run is None else run
        return self.spark.read.parquet(os.path.join(self.root, name, f"run={run}"))

    def run_cached(
        self, name: str, df: DataFrame, max_age_s: float = 3600.0
    ) -> tuple[int, bool]:
        """Athena query-result REUSE (the workgroup's
        result-reuse-by-age configuration): if the SAME query (by
        Spark's ``semanticHash`` — plan-level identity, stable across
        textual reformulations) ran within ``max_age_s``, return that
        run instead of executing again. Returns (run_number, reused).

        The fingerprint rides a sidecar file next to the run dir, so
        reuse survives process restarts exactly like Athena's: result
        objects plus metadata in the results location, no external
        state. A hash match with a stale timestamp (or any hash
        mismatch — the query changed) executes and persists a fresh
        run; runs remain append-only either way."""
        import json as _json
        import time as _time

        base = os.path.join(self.root, name)
        fp = df.semanticHash()
        meta_path = os.path.join(base, "_last_run.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = _json.load(fh)
            if (
                meta.get("semantic_hash") == fp
                and _time.time() - meta.get("ts", 0) <= max_age_s
                # The sidecar is advisory; the run dir is the result.
                # A manually-cleaned (or crash-orphaned) run dir must
                # fall through to a fresh execution, not hand back a
                # run number whose read() fails until the sidecar ages
                # out.
                and os.path.isdir(os.path.join(base, f"run={meta.get('run')}"))
            ):
                return meta["run"], True
        run = self.run(name, df)
        with open(meta_path, "w") as fh:
            _json.dump({"semantic_hash": fp, "ts": _time.time(), "run": run}, fh)
        return run, False

    def list_runs(self, name: str) -> list[int]:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("run=") and d.split("=", 1)[1].isdigit()
        )

    def _latest_run(self, base: str) -> int:
        if not os.path.isdir(base):
            return -1
        runs = [
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("run=") and d.split("=", 1)[1].isdigit()
        ]
        return max(runs, default=-1)
