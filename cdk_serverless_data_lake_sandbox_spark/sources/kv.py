"""Federated key-value source — the Athena->DynamoDB connector analog.

The reference wires a Lambda-based DynamoDB connector into Athena
(``stacks/demo_stack.py:295-341``) over a table with a single string
partition key ``id`` (``stacks/demo_stack.py:396-409``). Here the
same surface is a :class:`KVStore` (put/get/scan on a string key)
whose contents federate into SQL as a broadcast DataFrame — a lookup
join that never shuffles the big side, which is exactly how a remote
KV dimension should join at 100 TB.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
from cdk_serverless_data_lake_sandbox_spark.registry import register


class KVStore:
    """DynamoDB-table analog: string partition key ``id`` plus a bag
    of string attributes."""

    def __init__(self) -> None:
        self._items: dict[str, dict[str, Any]] = {}

    def put_item(self, item: dict[str, Any]) -> None:
        if "id" not in item:
            raise ValueError("item requires an 'id' partition key")
        self._items[str(item["id"])] = {k: str(v) for k, v in item.items()}

    def get_item(self, key: str) -> dict[str, Any] | None:
        return self._items.get(str(key))

    def scan(self) -> list[dict[str, Any]]:
        return [self._items[k] for k in sorted(self._items)]

    def columns(self) -> list[str]:
        """Sorted union of attribute names — THE schema rule, shared
        by the broadcast path (to_df) and the kvscan export so the two
        federation surfaces can never silently disagree."""
        return sorted({c for it in self._items.values() for c in it})

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Federate the store into SQL: scan -> DataFrame. The scan is
        a metadata-sized read (dimension data); downstream joins
        broadcast it."""
        items = self.scan()
        cols = self.columns()
        schema = StructType([StructField(c, StringType()) for c in cols])
        rows = [tuple(it.get(c) for c in cols) for it in items]
        return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- A6
_KV_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name
FROM customer c JOIN nation n ON CAST(n.n_nationkey AS VARCHAR) = CAST(c.c_nationkey AS VARCHAR)
"""


@register("federated_kv_lookup", oracle=_KV_ORACLE)
def federated_kv_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated-query demo: a KVStore is populated from the nation
    dim (the 'remote system of record'), then joined to customers as
    a broadcast lookup — the Spark-native shape of the reference's
    Athena-to-DynamoDB federated join."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    store = KVStore()
    for row in t["nation"].collect():  # dim-sized scan, not data-sized
        store.put_item({"id": row.n_nationkey, "n_name": row.n_name})
    kv = store.to_df(spark)
    return (
        t["customer"]
        .join(F.broadcast(kv), F.col("c_nationkey").cast("string") == F.col("id"))
        .select("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
    )


# ---------------------------------------------------------------- A16
# The SCAN half of the federated connector, as a CUSTOM PYTHON DATA
# SOURCE (Spark 4's DataSource API — the official extension point a
# real remote-store connector would use): DynamoDB's parallel Scan
# reads a table as TotalSegments independent segment cursors; here a
# KVStore exports to hash-segmented JSONL and the ``kvscan`` source
# plans ONE input partition per segment, so executors scan segments
# in parallel exactly like the connector's worker fan-out. Point
# lookups prune to the single segment the key hashes to (pushFilters
# — the filters are returned unconsumed, so Spark still applies them
# exactly; pruning is purely an I/O optimization, the
# partial-pushdown contract).
_KVSCAN_MANIFEST = "_kvscan.json"


def _kv_segment(key: str, n_segments: int) -> int:
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % n_segments


def export_kv_segments(store: KVStore, path: str, n_segments: int = 8) -> dict:
    """Write the store as hash-segmented JSONL + a manifest — the
    durable 'remote table' the ``kvscan`` source plans against."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    items = store.scan()
    cols = store.columns()
    segs: list[list[dict]] = [[] for _ in range(n_segments)]
    for it in items:
        segs[_kv_segment(it["id"], n_segments)].append(it)
    for i, seg in enumerate(segs):
        with open(os.path.join(path, f"segment_{i}.jsonl"), "w") as fh:
            for it in seg:
                fh.write(json.dumps(it) + "\n")
    manifest = {"n_segments": n_segments, "columns": cols}
    with open(os.path.join(path, _KVSCAN_MANIFEST), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def make_kvscan_source():
    """Build the ``kvscan`` DataSource class (deferred import so the
    module stays importable on Spark versions without the Python
    DataSource API)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        In,
        InputPartition,
    )

    class KVScanReader(DataSourceReader):
        def __init__(self, options, schema):
            import json
            import os

            self.path = options["path"]
            with open(os.path.join(self.path, _KVSCAN_MANIFEST)) as fh:
                self.manifest = json.load(fh)
            # honor the EFFECTIVE schema (a user-supplied .schema()
            # may reorder or subset columns): rows are emitted in ITS
            # field order, mapped by NAME — positional emission against
            # the manifest order would silently misalign (r10 review)
            unknown = [
                f.name for f in schema.fields
                if f.name not in self.manifest["columns"]
            ]
            if unknown:
                raise ValueError(
                    f"kvscan: schema columns {unknown} not in export "
                    f"manifest {self.manifest['columns']}"
                )
            self.cols = [f.name for f in schema.fields]
            self.target_keys: list[str] | None = None

        def pushFilters(self, filters):
            # segment pruning from id equality/membership; every
            # filter is RETURNED (unconsumed), so Spark re-applies
            # them exactly — pruning can only skip whole segments
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("id",):
                    self.target_keys = [str(f.value)]
                elif isinstance(f, In) and f.attribute == ("id",):
                    self.target_keys = [str(v) for v in f.value]
            return filters

        def partitions(self):
            n = self.manifest["n_segments"]
            if self.target_keys is not None:
                segs = sorted({_kv_segment(k, n) for k in self.target_keys})
            else:
                segs = list(range(n))
            return [InputPartition(i) for i in segs]

        def read(self, partition):
            import json
            import os

            cols = self.cols
            seg_path = os.path.join(
                self.path, f"segment_{partition.value}.jsonl"
            )
            with open(seg_path) as fh:
                for line in fh:
                    it = json.loads(line)
                    yield tuple(it.get(c) for c in cols)

    class KVScanSource(DataSource):
        @classmethod
        def name(cls):
            return "kvscan"

        def schema(self):
            import json
            import os

            with open(
                os.path.join(self.options["path"], _KVSCAN_MANIFEST)
            ) as fh:
                cols = json.load(fh)["columns"]
            if not cols:
                raise ValueError(
                    "kvscan: export manifest has no columns (empty "
                    "store) — nothing to plan a scan over"
                )
            # backtick-quote: attribute names are arbitrary strings
            # (a KV store accepts 'my col'), not SQL identifiers
            return ", ".join(f"`{c}` string" for c in cols)

        def reader(self, schema):
            return KVScanReader(self.options, schema)

    return KVScanSource


def register_kvscan(spark: SparkSession) -> None:
    """Register the ``kvscan`` format on this session:
    ``spark.read.format('kvscan').option('path', dir).load()``.

    The reader pushes filters down, so the session needs
    ``spark.sql.python.filterPushdown.enabled`` on, as
    ``session.get_spark`` sets it. Registration leaves the session's
    conf as found and refuses a session with the setting off: there the
    reader would fail only once a query first scans it."""
    conf = "spark.sql.python.filterPushdown.enabled"
    if spark.conf.get(conf, "false").strip().lower() != "true":
        raise ValueError(
            f"kvscan pushes filters down: set {conf}=true on the session "
            "(session.get_spark does) before registering it"
        )
    spark.dataSource.register(make_kvscan_source())
