"""ETL operators: the Glue-job surface of the reference plus the
storage-management operations a lake needs at scale.

Reference parity (``glue_scripts/scripts/csv_to_parquet.py``):
- ``apply_mapping`` == the ApplyMapping node (lines 38-49): ordered
  (src, src_type, dst, dst_type) projection with Glue 'choice'
  resolution (an ambiguous column resolves by try-casting through the
  candidate types).
- ``tsv_to_parquet_job`` == the whole job (lines 20-70): delimited
  read -> mapping -> BOTH a partitioned and an unpartitioned parquet
  write, as the reference does.

Scale extensions: compaction to a target file size, high-watermark
incremental ingest (the job-bookmark analog), schema-evolution reads.
"""

from __future__ import annotations

import json
import os

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import (
    _read_parquet_cached,
    load_tables,
    record_written,
)
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    pin,
    recover_dir,
    round_rat,
    swap_dir,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register
from cdk_serverless_data_lake_sandbox_spark.sources.crawler import CsvClassifier, crawl_delimited

Mapping = tuple[str, str, str, str]  # (src, src_type, dst, dst_type)

_CHOICE_CANDIDATES = ("bigint", "double", "boolean", "timestamp")


def apply_mapping(df: DataFrame, mappings: list[Mapping]) -> DataFrame:
    """Glue ApplyMapping analog: project + rename + cast, in mapping
    order. A ``choice`` source type is resolved by the first candidate
    type that try-casts losslessly for the requested target; a
    ``choice`` target keeps the best inferred type."""
    cols = []
    for src, src_type, dst, dst_type in mappings:
        c = F.col(src)
        if src_type == "choice" or dst_type == "choice":
            target = dst_type if dst_type != "choice" else None
            if target:
                c = c.try_cast(target)
            else:
                # keep as string when both sides are ambiguous, the
                # lossless default Glue falls back to
                c = c.cast("string")
        elif src_type != dst_type:
            c = c.cast(dst_type)
        cols.append(c.alias(dst))
    return df.select(*cols)


def tsv_to_parquet_job(
    spark: SparkSession,
    raw_dataset_uri: str,
    target_dataset_uri: str,
    dataset_path: str,
    mappings: list[Mapping],
    partition_keys: list[str] | None = None,
) -> dict[str, str]:
    """The reference Glue job end-to-end: TSV read (header, quoted),
    ApplyMapping, then partitioned AND unpartitioned parquet writes
    (csv_to_parquet.py:52-70 writes both).

    The crawl reuses the schema a crawl of the same unchanged drop
    already inferred (the crawler's, which the reference's job reads
    from the Glue Catalog). The two writes run at once, the partitioned
    one on an :class:`~pyspark.InheritableThread`, so both jobs carry
    the caller's job group. When either fails, the first failure is
    raised as a ``RuntimeError`` naming its output path, after both
    writes have ended. The unpartitioned output's schema is recorded in
    the catalog (:func:`record_written`), so reading it back runs no
    footer job."""
    df = crawl_delimited(
        spark, raw_dataset_uri, classifier=CsvClassifier(delimiter="\t", quote_symbol='"')
    )
    mapped = apply_mapping(df, mappings)
    part_path = os.path.join(target_dataset_uri, "partitioned", dataset_path)
    flat_path = os.path.join(target_dataset_uri, "unpartitioned", dataset_path)
    part_writer = mapped.write.mode("overwrite")
    if partition_keys:
        part_writer = part_writer.partitionBy(*partition_keys)
    errors: list[tuple[str, Exception]] = []

    def write(writer, path: str) -> None:
        try:
            writer.parquet(path)
        except Exception as e:  # raised below, once both writes have ended
            errors.append((path, e))

    part = InheritableThread(target=write, args=(part_writer, part_path))
    part.start()
    write(mapped.write.mode("overwrite"), flat_path)
    part.join()
    if errors:
        path, err = errors[0]
        first = (str(err).splitlines() or [type(err).__name__])[0]
        raise RuntimeError(f"tsv_to_parquet_job: writing {path!r} failed: {first}") from err
    record_written(flat_path, mapped.schema)
    return {"partitioned": part_path, "unpartitioned": flat_path}


# ------------------------------------------------------------ scale ops
def compact(
    spark: SparkSession, path: str, target_file_mb: int = 128, out_path: str | None = None
) -> str:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~target size. File count derives from the dataset's on-disk bytes,
    so the same call works at any scale."""
    df = spark.read.parquet(path)
    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    out = out_path or path + "_compacted"
    df.repartition(n_files).write.mode("overwrite").parquet(out)
    return out


class IncrementalIngest:
    """Job-bookmark analog (the reference disables Glue bookmarks,
    ``demo_stack.py:210``; this is the Spark-native replacement):
    a persisted high watermark on an event-time column; each run
    appends only rows past the watermark.

    ONE scan per batch: the fresh-row count and the new watermark ride
    the append itself as ``observe`` metrics (round 2 flagged the old
    count() / write / max().collect() triple scan — at 100 TB a daily
    batch is not small enough to read three times). A batch with no
    fresh rows still runs the (empty) append — that writes only
    metadata — and leaves the persisted watermark untouched."""

    def __init__(self, state_path: str, watermark_col: str):
        self.state_path = state_path
        self.watermark_col = watermark_col

    def _read_state(self) -> str | None:
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                return json.load(f)["watermark"]
        return None

    def ingest(self, batch: DataFrame, target_path: str) -> int:
        from pyspark.sql import Observation

        wm = self._read_state()
        fresh = batch if wm is None else batch.where(F.col(self.watermark_col) > F.lit(wm))
        obs = Observation()
        fresh = fresh.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.max(self.watermark_col).cast("string").alias("new_wm"),
        )
        fresh.write.mode("append").parquet(target_path)
        n = obs.get["n_rows"]
        if n:
            with open(self.state_path, "w") as f:
                json.dump({"watermark": obs.get["new_wm"]}, f)
        return n


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles once at write time so
    repeated joins/aggregations on the bucket column skip their
    exchange entirely (Spark reads bucket files as pre-partitioned).
    This is the 100-TB answer for a fact table that gets joined on
    the same key every day."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


# ---------------------------------------------------------------- A4
_MAPPING_ORACLE = """
SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
  o_totalprice AS total,
  DATE_TRUNC('month', o_orderdate) AS order_month,
  o_orderpriority AS priority
FROM orders
"""


@register("apply_mapping", oracle=_MAPPING_ORACLE)
def apply_mapping_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ApplyMapping over orders: rename + retype, the reference ETL
    projection (csv_to_parquet.py:38-49) expressed on the driver's
    data."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    mapped = apply_mapping(
        o.withColumn("order_month", F.date_trunc("month", F.col("o_orderdate"))),
        [
            ("o_orderkey", "bigint", "order_id", "string"),
            ("o_totalprice", "double", "total", "double"),
            ("order_month", "timestamp", "order_month", "timestamp"),
            ("o_orderpriority", "string", "priority", "string"),
        ],
    )
    return mapped


# ---------------------------------------------------------------- D7
# Shared bucketing for the clustered writers (D7 Morton, D28 Hilbert):
# one approxQuantile sketch pass for both keys, ranks rescaled to fill
# all ``bits`` bits — a low-cardinality key must still drive the HIGH
# curve bits or it never clusters.
def _quantile_rank_cols(df: DataFrame, key_a: str, key_b: str, bits: int):
    n_buckets = 1 << bits
    scale = n_buckets - 1
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_a, cuts_b = df.approxQuantile([key_a, key_b], qs, 0.001)

    def bucket(col: str, cuts: list[float]):
        uniq = sorted(set(cuts))
        arr = "array(" + ",".join(f"{c!r}D" for c in uniq) + ")"
        raw = F.expr(f"size(filter({arr}, c -> cast({col} as double) > c))")
        return (raw * scale / max(len(uniq), 1)).cast("long")

    return bucket(key_a, cuts_a), bucket(key_b, cuts_b)


def zorder_write(
    df: DataFrame,
    target_path: str,
    key_a: str,
    key_b: str,
    bits: int = 8,
    files: int = 8,
) -> None:
    """Multi-dimensional clustering write (z-order analog): bucket each
    key to a bounded integer rank, interleave the bit patterns into one
    Morton code, and range-repartition + sort the write by it. Rows
    close in BOTH key dimensions land in the same parquet row groups,
    so min/max stats prune scans filtered on either key — the layout
    trick behind Delta/Iceberg OPTIMIZE ZORDER, done with plain
    DataFrame ops.

    Ranks come from approxQuantile cut points (one sketch pass for both
    keys) applied as a per-row bucket expression — NO global sort and
    no single-reducer percent_rank window; the only ordering work is
    the range partitioning the write needs anyway. ``bits`` buckets
    per dimension (2^bits cells per axis) is plenty to separate row
    groups: layout quality needs cells smaller than a row group, not
    a total order."""
    ra, rb = _quantile_rank_cols(df, key_a, key_b, bits)
    interleave = " + ".join(
        f"(shiftleft(shiftright(_ra, {i}) & 1, {2 * i + 1}) + "
        f"shiftleft(shiftright(_rb, {i}) & 1, {2 * i}))"
        for i in range(bits)
    )
    (
        df.withColumn("_ra", ra)
        .withColumn("_rb", rb)
        .withColumn("_z", F.expr(interleave))
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_ra", "_rb", "_z")
        .write.mode("overwrite")
        .parquet(target_path)
    )


# ---------------------------------------------------------------- D8
def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_col: str,
    order_col: str,
) -> None:
    """Batch MERGE INTO analog on plain parquet: union the current
    table with the update set, keep the newest row per key
    (row_number over ``order_col`` desc), and atomically swap the
    rewritten table in via a staging directory. On a transactional
    table format this is a single MERGE statement; the
    keep-newest-per-key shuffle shape is identical. The streaming
    twin is ``streaming.jobs.upsert_sink``. A target that exists but
    cannot be read raises: only a missing target is a first load.

    The target is read through the catalog's schema store, so a table
    this engine wrote (the ETL job's output, an earlier upsert) is
    read without a footer job; the swapped-in table's schema is
    recorded for the next reader."""
    from pyspark.sql.window import Window

    if recover_dir(target_path):
        merged = _read_parquet_cached(spark, target_path).unionByName(updates)
    else:  # first load: target doesn't exist yet
        merged = updates
    w = Window.partitionBy(key_col).orderBy(F.desc(order_col))
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    latest.write.mode("overwrite").parquet(target_path + "_staged")
    swap_dir(target_path, target_path + "_staged")
    record_written(target_path, latest.schema)


# ---------------------------------------------------------------- D10
def delete_keys(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key_col: str,
) -> int:
    """Hard-delete rows by key (the GDPR/right-to-erasure primitive):
    anti-join the key set against the table and atomically swap the
    rewritten result in. Returns rows deleted. At lakehouse scale the
    same anti-join shape backs DELETE WHERE on a table format; on
    plain parquet the rewrite is the price of immutable files —
    partition your tables so the rewrite touches few partitions."""
    recover_dir(target_path)
    current = spark.read.parquet(target_path)
    before = current.count()
    kept = current.join(
        keys.select(F.col(keys.columns[0]).alias(key_col)).distinct(),
        key_col,
        "left_anti",
    )
    kept.write.mode("overwrite").parquet(target_path + "_staged")
    swap_dir(target_path, target_path + "_staged")
    return before - spark.read.parquet(target_path).count()


# ---------------------------------------------------------------- D11
def partition_stats(spark: SparkSession, table_path: str) -> DataFrame:
    """Table-maintenance observability: one row per Hive-style
    partition directory with file count, total bytes, and parquet
    row counts read from footers (no data scan). This is what a
    compaction scheduler consumes to find small-file partitions and
    what an ops dashboard plots; returned as a DataFrame so it
    composes with the rest of the engine."""
    import pyarrow.parquet as pq

    rows = []
    for root, _dirs, files in os.walk(table_path):
        parqs = [f for f in files if f.endswith(".parquet")]
        if not parqs:
            continue
        rel = os.path.relpath(root, table_path)
        partition = "" if rel == "." else rel
        n_rows = 0
        n_bytes = 0
        for f in parqs:
            fp = os.path.join(root, f)
            n_rows += pq.ParquetFile(fp).metadata.num_rows
            n_bytes += os.path.getsize(fp)
        rows.append((partition, len(parqs), n_rows, n_bytes))
    return spark.createDataFrame(
        rows, "partition string, n_files int, n_rows long, n_bytes long"
    )


# ---------------------------------------------------------------- D12
def snapshot_diff(
    lake,
    zone: str,
    table: str,
    v_old: int,
    v_new: int,
    key_col: str,
) -> DataFrame:
    """Change-data-feed between two Lake snapshots: full outer join
    on the key, rows classified inserted / deleted / updated /
    unchanged by comparing an md5 fingerprint of the non-key columns
    (one expression, no per-column plumbing). This is what an
    incremental consumer reads instead of re-scanning the new
    snapshot, and what a reconciliation job audits after a backfill.
    One shuffle on the key; fingerprints are computed scan-side so
    the join carries 32 bytes per row, not the row."""
    old = lake.read_version(zone, table, v_old)
    new = lake.read_version(zone, table, v_new)
    cols = sorted(c for c in old.columns if c != key_col)

    def keyed(df: DataFrame, side: str) -> DataFrame:
        fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
        return df.select(
            F.col(key_col).alias("key"), fp.alias(f"fp_{side}")
        )

    j = keyed(old, "old").join(keyed(new, "new"), "key", "full_outer")
    change = (
        F.when(F.col("fp_old").isNull(), F.lit("inserted"))
        .when(F.col("fp_new").isNull(), F.lit("deleted"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("key", change.alias("change_type"))


# ---------------------------------------------------------------- D13
def incremental_agg_refresh(
    spark: SparkSession, target_path: str, batch: DataFrame
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the daily
    (n_orders, revenue) rollup is refreshed by aggregating ONLY the
    new batch and merging it with the stored aggregate — sum/count
    are mergeable partials, so refresh cost is O(batch) + O(aggregate
    table), never O(full history). Revenue partials stay DECIMAL in
    storage so merge order can't change results; the swap is the
    staged-atomic pattern shared with merge_upsert (an unreadable
    stored aggregate raises). Returns the new aggregate state."""
    part = batch.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )
    if recover_dir(target_path):
        merged = (
            spark.read.parquet(target_path)
            .unionByName(part)
            .groupBy("day")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                F.sum("revenue").cast("decimal(18,2)").alias("revenue"),
            )
        )
    else:  # first refresh: no aggregate yet
        merged = part
    merged.write.mode("overwrite").parquet(target_path + "_staged")
    swap_dir(target_path, target_path + "_staged")
    return spark.read.parquet(target_path)


# ---------------------------------------------------------------- D14
def file_skipping_report(
    spark: SparkSession, table_path: str, column: str, lo, hi
) -> DataFrame:
    """Data-skipping estimator from parquet footers: for a range
    predicate ``lo <= column <= hi``, how many row groups (and bytes)
    could be pruned purely from min/max statistics — WITHOUT scanning
    any data. This quantifies whether a table's clustering serves its
    query pattern (the z-order write exists precisely to push this
    number up) and is the planner's-eye view an ops dashboard wants
    next to partition_stats: low skip rates on hot predicates mean
    re-cluster or re-partition.

    A row group is skippable when its [min, max] envelope misses
    [lo, hi] entirely; missing stats conservatively count as
    must-read. Footer-only like partition_stats: cost is O(files),
    driver-side, independent of table size — on a cluster this runs
    where a manifest/metadata service would."""
    import pyarrow.parquet as pq

    rows = []
    for root, _dirs, files in os.walk(table_path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            meta = pq.ParquetFile(fp).metadata
            names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            ci = names.get(column)
            rel = os.path.relpath(fp, table_path)
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                skippable = False
                if ci is not None:
                    st = group.column(ci).statistics
                    if st is not None and st.has_min_max:
                        skippable = st.min > hi or st.max < lo
                rows.append(
                    (
                        rel,
                        rg,
                        group.num_rows,
                        group.total_byte_size,
                        skippable,
                    )
                )
    report = spark.createDataFrame(
        rows,
        "file string, row_group int, n_rows long, n_bytes long, skippable boolean",
    )
    return report.agg(
        F.count("*").alias("n_row_groups"),
        F.sum(F.when(F.col("skippable"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_skippable"),
        F.sum("n_rows").alias("total_rows"),
        F.sum(F.when(F.col("skippable"), F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("skippable_rows"),
        # integer-exact byte fraction (round_rat)
        round_rat(
            "sum(IF(skippable, n_bytes, 0))", "sum(n_bytes)", 4
        ).alias("skippable_byte_fraction"),
    )


# ---------------------------------------------------------------- D15
def schema_drift_report(lake, zone: str, table: str, v_old: int, v_new: int) -> DataFrame:
    """Schema + distribution drift between two Lake snapshot versions:
    one row per column union, classifying added / removed /
    type_changed / unchanged, plus null-rate drift for columns
    present on both sides — the pre-flight check an ingest pipeline
    runs before promoting a new snapshot (catches upstream schema
    breaks AND silent quality regressions like a column going 40%
    null).

    Driver cost is schema-sized; the only data touched is ONE
    conditional-agg pass per side for null rates (column-count
    aggregates, no shuffle of rows — the dq_expectations shape)."""
    old = lake.read_version(zone, table, v_old)
    new = lake.read_version(zone, table, v_new)
    spark = old.sparkSession
    old_types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_types = {f.name: f.dataType.simpleString() for f in new.schema.fields}

    def null_rates(df: DataFrame, cols: list[str]) -> dict[str, float]:
        if not cols:
            return {}
        row = df.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.count_if(F.col(c).isNull()).alias(f"_null_{c}")
                for c in cols
            ],
        ).first()
        n = row["_n"] or 1
        return {c: row[f"_null_{c}"] / n for c in cols}

    shared = sorted(set(old_types) & set(new_types))
    nr_old = null_rates(old, shared)
    nr_new = null_rates(new, shared)
    rows = []
    for c in sorted(set(old_types) | set(new_types)):
        if c not in old_types:
            status = "added"
        elif c not in new_types:
            status = "removed"
        elif old_types[c] != new_types[c]:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append(
            (
                c,
                status,
                old_types.get(c),
                new_types.get(c),
                round(nr_old[c], 6) if c in nr_old else None,
                round(nr_new[c], 6) if c in nr_new else None,
                round(nr_new[c] - nr_old[c], 6) if c in nr_old else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "column string, status string, old_type string, new_type string, "
        "null_rate_old double, null_rate_new double, null_rate_delta double",
    )


# ---------------------------------------------------------------- D16
def ledger_ingest(
    spark: SparkSession, src_dir: str, target_path: str, ledger_path: str
) -> dict:
    """Content-addressed incremental ingest: every source file is
    checksummed and files whose checksum is already in the ledger are
    skipped — which catches the two failure modes the high-watermark
    bookmark (D4) cannot: the SAME file re-delivered under a new name
    (content dup -> skipped) and a RESTATED file delivered under its
    old name with new bytes (new checksum -> re-ingested). The ledger
    is the lake's dedup memory across upstream redeliveries.

    Checksums hash file BYTES (streamed, driver/metadata-tier work —
    at real scale the object store's etag replaces the read); only
    genuinely new files are handed to Spark, as one multi-path read.

    Crash-safe WITHOUT a duplicate window: each row lands under a
    ``_ingest_digest=<md5>`` partition of its source file, written
    with DYNAMIC partition overwrite — a retry after a crash between
    the write and the ledger markers re-OVERWRITES exactly those
    digest partitions with identical content instead of appending a
    second copy (the round-2 advisory's duplicate window closed by
    layout, not by shrinking it). Markers stay per-digest and are
    written only after the write commits. The row count rides the
    write via ``observe`` — one scan total per batch."""
    import hashlib

    from pyspark.sql import Observation

    os.makedirs(ledger_path, exist_ok=True)
    seen = set(os.listdir(ledger_path))
    new_files, new_sums = [], []
    for f in sorted(os.listdir(src_dir)):
        if not f.endswith(".parquet"):
            continue
        fp = os.path.join(src_dir, f)
        h = hashlib.md5()
        with open(fp, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        digest = h.hexdigest()
        if digest in seen:
            continue
        new_files.append(fp)
        new_sums.append(digest)
    n_rows = 0
    if new_files:
        # basename -> digest lookup evaluated in-row on input_file_name
        pairs = []
        for fp, digest in zip(new_files, new_sums):
            pairs.extend([F.lit(os.path.basename(fp)), F.lit(digest)])
        obs = Observation()
        df = (
            spark.read.parquet(*new_files)
            .withColumn(
                "_ingest_digest",
                F.element_at(
                    F.create_map(*pairs),
                    F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1),
                ),
            )
            .observe(obs, F.count(F.lit(1)).alias("n_rows"))
        )
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_ingest_digest")
            .parquet(target_path)
        )
        n_rows = obs.get["n_rows"]
        for digest in new_sums:
            with open(os.path.join(ledger_path, digest), "w") as fh:
                fh.write("ingested")
    return {"ingested_files": len(new_files), "ingested_rows": n_rows}


# ---------------------------------------------------------------- D17
def collect_column_stats(df: DataFrame) -> DataFrame:
    """ANALYZE-table analog: per-column null count, approximate NDV
    (HLL sketch), and min/max for orderable types, computed in ONE
    conditional-aggregation pass over the table (adding a column adds
    aggregate expressions, never a scan). This is the stats table a
    cost-based optimizer, a join planner (broadcast or not?), or a
    crawler-style catalog publishes next to the schema; at 100 TB
    one linear pass with map-side partials is exactly what ANALYZE
    costs on any engine."""
    n = F.count(F.lit(1))
    aggs = [n.alias("_n_rows")]
    orderable = []
    for f in df.schema.fields:
        c = f.name
        aggs.append(F.count_if(F.col(c).isNull()).alias(f"_null_{c}"))
        # rsd=0.02: catalog stats feed broadcast/join decisions, where
        # the default 5% sketch error is enough to misclassify a
        # borderline dimension table
        aggs.append(F.approx_count_distinct(c, 0.02).alias(f"_ndv_{c}"))
        if f.dataType.simpleString() in (
            "int", "bigint", "smallint", "tinyint", "double", "float",
            "date", "string",
        ) or f.dataType.simpleString().startswith("decimal") or (
            f.dataType.simpleString().startswith("timestamp")
        ):
            orderable.append(c)
            aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
    row = df.agg(*aggs).first()
    out = []
    for f in df.schema.fields:
        c = f.name
        out.append(
            (
                c,
                f.dataType.simpleString(),
                row["_n_rows"],
                row[f"_null_{c}"],
                row[f"_ndv_{c}"],
                row[f"_min_{c}"] if c in orderable else None,
                row[f"_max_{c}"] if c in orderable else None,
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "column string, dtype string, n_rows long, n_nulls long, "
        "approx_ndv long, min_value string, max_value string",
    )


# ---------------------------------------------------------------- D18
_BLOOM_BITS = 1 << 16  # bits per file bitmap (8 KiB)
_BLOOM_K = 4  # probe hashes per value


def _bloom_positions(col: str | F.Column, k: int, m: int) -> list:
    """k bit positions for a value: xxhash64(value, seed_i) mod m.
    Seeding by an extra literal argument gives k independent 64-bit
    hashes from the same JVM-side function."""
    c = F.col(col) if isinstance(col, str) else col
    return [F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m)) for i in range(k)]


def bloom_index_build(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_path: str,
    m_bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Build a per-FILE Bloom-filter index over ``column`` — the
    Delta/Iceberg bloom-index analog for point lookups on columns the
    table is NOT partitioned or clustered by (min/max skipping is
    useless for high-cardinality scattered keys; a membership sketch
    is exactly what prunes them).

    The index is itself a small parquet table of (file, slot, bitmap)
    rows: each file's m-bit filter is stored as m/64 longs, built
    entirely JVM-side — hash to k bit positions, explode, and
    ``bit_or`` the single-bit masks per (file, slot). No driver
    loops, no UDFs; index size is files x m/64 longs regardless of
    row count. Rebuild = overwrite (the index is derived data).

    Scale: one linear scan of the table; the shuffle key is
    (file, slot) with at most files x m/64 groups. On a cluster the
    same plan indexes any table size; m_bits rises with rows/file to
    hold the false-positive rate (k ln2 bits/key for optimal k)."""
    df = (
        spark.read.parquet(table_path)
        .select(F.input_file_name().alias("file"), F.col(column).alias("v"))
        .where(F.col("v").isNotNull())
    )
    pos = F.array(*_bloom_positions("v", k, m_bits))
    bits = (
        df.select("file", F.explode(pos).alias("p"))
        .select(
            "file",
            (F.col("p") / 64).cast("long").alias("slot"),
            F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("mask"),
        )
        .groupBy("file", "slot")
        .agg(F.bit_or("mask").alias("bitmap"))
    )
    bits.write.mode("overwrite").parquet(index_path)
    return spark.read.parquet(index_path)


def bloom_candidate_files(
    spark: SparkSession,
    index_path: str,
    values: list,
    m_bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> list[str]:
    """Files that MAY contain any of ``values`` per the index: a file
    qualifies for a value when ALL k probe bits are set in its bitmap
    (Bloom semantics — no false negatives, bounded false positives).
    The probe set is tiny (|values| x k rows), so it broadcasts into
    a join against the index; the decision is a per-(file, value)
    count of matched probes. Returns the candidate file list — at
    most O(files) strings, the same driver-side footprint every
    manifest-based planner carries."""
    probes = spark.createDataFrame(
        [(v,) for v in values], schema=f"v {'long' if values and isinstance(values[0], int) else 'string'}"
    )
    pos = F.array(*_bloom_positions("v", k, m_bits))
    want = probes.select(
        "v", F.explode(pos).alias("p")
    ).select(
        "v",
        (F.col("p") / 64).cast("long").alias("slot"),
        F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("mask"),
    )
    idx = spark.read.parquet(index_path)
    hit = (
        idx.join(F.broadcast(want), "slot")
        .where(F.col("bitmap").bitwiseAND(F.col("mask")) == F.col("mask"))
        .groupBy("file", "v")
        .agg(F.count("*").alias("n_hit"))
        .where(F.col("n_hit") >= k)
        .select("file")
        .distinct()
    )
    return [r["file"] for r in hit.collect()]


def bloom_filtered_read(
    spark: SparkSession,
    table_path: str,
    column: str,
    values: list,
    index_path: str,
    m_bits: int = _BLOOM_BITS,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Point-lookup read through the bloom index: scan ONLY the
    candidate files, then re-apply the exact predicate (false
    positives cost a scan, never a wrong row). Returns an empty,
    correctly-schema'd frame when no file can match."""
    files = bloom_candidate_files(spark, index_path, values, m_bits, k)
    if not files:
        return (
            spark.read.parquet(table_path)
            .where(F.lit(False))
            .where(F.col(column).isin(values))
        )
    return spark.read.parquet(*files).where(F.col(column).isin(values))


# ---------------------------------------------------------------- D21
def sorted_export(
    df: DataFrame,
    target_path: str,
    sort_cols: list[str],
    files: int = 8,
) -> None:
    """Globally-sorted export: range-repartition on the sort key then
    sort within partitions, so file i's rows all precede file i+1's —
    a total order across files WITHOUT a single-reducer global sort
    (the sampling pass that picks range bounds is the only extra
    cost; it's how ORDER BY writes scale to any size). Alongside the
    data, ``_manifest.json`` records each file's row count and min/max
    sort key, which is what lets a downstream merge-reader (or a
    binary-searching point lookup) open only the file that can
    contain a key."""
    (
        df.repartitionByRange(files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(target_path)
    )
    spark = df.sparkSession
    out = spark.read.parquet(target_path)
    key0 = sort_cols[0]
    stats = (
        out.withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(key0).alias("min_key"),
            F.max(key0).alias("max_key"),
        )
        .collect()
    )
    entries = [
        {
            "file": os.path.basename(r._file),
            "n_rows": r.n_rows,
            "min_key": r.min_key,
            "max_key": r.max_key,
        }
        for r in stats
    ]
    # Null sort keys range-partition into the first file(s), giving them a
    # null min_key that Python's sort cannot compare — order those first
    # explicitly (matching the range partitioner's nulls-first placement).
    null_min = [m for m in entries if m["min_key"] is None]
    manifest = null_min + sorted(
        (m for m in entries if m["min_key"] is not None),
        key=lambda m: m["min_key"],
    )
    with open(os.path.join(target_path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, default=str)


def sorted_point_read(
    spark: SparkSession, table_path: str, key_col: str, value
) -> DataFrame:
    """Point lookup through the sorted-export manifest: open ONLY the
    files whose [min_key, max_key] range can contain the key — the
    poor man's index every sorted lake table carries for free."""
    with open(os.path.join(table_path, "_manifest.json")) as fh:
        manifest = json.load(fh)

    # The manifest was written with json.dump(default=str), so sort keys JSON
    # has no native type for (dates, timestamps, Decimals) come back as
    # strings. Parse them back to the lookup value's type when possible;
    # only compare lexicographically as a last resort (ISO date/time strings
    # order correctly that way; a failed parse never raises a TypeError).
    import datetime
    import decimal

    def _parse_like(stored):
        if stored is None or isinstance(value, str) or not isinstance(stored, str):
            return stored
        try:
            if isinstance(value, decimal.Decimal):
                return decimal.Decimal(stored)
            if isinstance(value, datetime.datetime):
                return datetime.datetime.fromisoformat(stored)
            if isinstance(value, datetime.date):
                return datetime.date.fromisoformat(stored)
            return type(value)(stored)
        except (ValueError, TypeError, decimal.InvalidOperation):
            return stored

    def _may_contain(m):
        lo, hi = _parse_like(m["min_key"]), _parse_like(m["max_key"])
        if hi is None:  # all-null file: cannot contain a concrete key
            return False
        try:
            return (lo is None or lo <= value) and value <= hi
        except TypeError:
            # Unparseable stored type: fall back to the default=str domain.
            sv = str(value)
            return (lo is None or str(lo) <= sv) and sv <= str(hi)

    hits = [
        os.path.join(table_path, m["file"]) for m in manifest if _may_contain(m)
    ]
    if not hits:
        return spark.read.parquet(table_path).where(F.lit(False))
    return spark.read.parquet(*hits).where(F.col(key_col) == value)


# ---------------------------------------------------------------- D24
def repartition_layout(
    spark: SparkSession,
    src_path: str,
    target_path: str,
    src_col: str,
    expr: str,
    new_col: str,
) -> dict:
    """Partition-layout migration: rewrite a table partitioned on one
    derivation of a column into a coarser/finer layout (e.g. daily
    ``event_date`` -> monthly ``event_month``) — the maintenance op
    behind "our daily partitions are too small now". The rewrite is
    one scan + one partitioned write; per-partition file counts drop
    by the fan-in, and queries filtered on the NEW column prune at
    the directory level. Returns {rows, partitions_before,
    partitions_after} — the caller's invariant check (row counts must
    match; the test also pins pruning on the new layout)."""
    df = spark.read.parquet(src_path)
    before = df.select(src_col).distinct().count()
    out = df.withColumn(new_col, F.expr(expr))
    out.repartition(F.col(new_col)).write.mode("overwrite").partitionBy(
        new_col
    ).parquet(target_path)
    back = spark.read.parquet(target_path)
    return {
        "rows": back.count(),
        "partitions_before": before,
        "partitions_after": back.select(new_col).distinct().count(),
    }


# ---------------------------------------------------------------- D25
def _dv_fname(col) -> F.Column:
    """``parent/basename`` key from a ``_metadata.file_path`` URI.
    Every dv join matches on this suffix, never the raw URI: the URI
    form varies by Spark version / filesystem ('file:/p',
    'file:///p', raw '/p'), so only the path tail is stable. The
    basename alone would already be unique for files THIS repo writes
    (the parquet writer embeds a UUID), but a table assembled by
    copying part files from other tables can repeat basenames —
    keeping the immediate parent directory in the key (ADVICE r6)
    means one file's deletion vector can never suppress rows in a
    same-named file elsewhere in the table."""
    parts = F.split(col, "/")
    return F.concat_ws(
        "/", F.element_at(parts, -2), F.element_at(parts, -1)
    )


def dv_delete(spark: SparkSession, table_path: str, predicate: str) -> dict:
    """MERGE-ON-READ delete via deletion vectors (the Delta/Iceberg
    v2 "position delete" mechanism): instead of rewriting every file
    that contains a matching row (D10's copy-on-write price), record
    the (file, row position) pairs the predicate hits under the
    table's ``_dv/`` sidecar and leave the data files untouched.
    Positions come from the parquet reader's own ``_metadata.file_path
    / row_index`` columns — no key column or uniqueness assumption
    needed, and the delete costs one scan of the PREDICATE-pruned
    files regardless of table size. Repeating a delete is idempotent
    (vectors are per-position, the reader applies them set-wise).
    The ``_dv`` prefix keeps the sidecar invisible to any plain
    parquet reader of the table directory (Spark hides ``_``-paths),
    so non-DV-aware readers see the pre-delete snapshot — exactly the
    contract table formats document. Returns {rows_deleted(new),
    files_touched}."""
    recover_dir(table_path)
    base = spark.read.parquet(table_path).select(
        "*",
        F.col("_metadata.file_path").alias("_dv_file"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )
    hits = base.where(F.expr(predicate)).select(
        F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos")
    )
    dv_dir = os.path.join(table_path, "_dv")
    if os.path.isdir(dv_dir):
        # a sidecar that exists but fails to read must RAISE — treating
        # it as absent would over-report rows_deleted and duplicate
        # vector entries
        existing = spark.read.parquet(dv_dir)
        fresh = hits.join(
            existing.select(
                _dv_fname("file").alias("_fn"), F.col("pos").alias("_fp")
            ),
            (_dv_fname(F.col("file")) == F.col("_fn"))
            & (F.col("pos") == F.col("_fp")),
            "left_anti",
        )
    else:  # first delete: no sidecar yet
        fresh = hits
    fresh = fresh.transform(pin)
    n_new = fresh.count()
    if n_new:
        # one partitioned sidecar layout, shared with the streaming
        # erasure maintainer (E40 writes under its own batch_id);
        # ad-hoc deletes append into the batch_id=-1 partition
        fresh.withColumn("batch_id", F.lit(-1)).write.mode(
            "append"
        ).partitionBy("batch_id").parquet(dv_dir)
    files = fresh.select("file").distinct().count()
    return {"rows_deleted": n_new, "files_touched": files}


def dv_read(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the table MINUS its deletion vectors: one anti-join of
    the scan (carrying its own file/position metadata) against the
    ``_dv`` sidecar — the merge-on-read cost every DV-aware reader
    pays until compaction folds the deletes in. The sidecar is
    (file, pos) pairs, tiny next to the data, so the join broadcasts;
    with no sidecar the plan is the plain scan."""
    recover_dir(table_path)
    base = spark.read.parquet(table_path).select(
        "*",
        F.col("_metadata.file_path").alias("_dv_file"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )
    dv_dir = os.path.join(table_path, "_dv")
    if not os.path.isdir(dv_dir):
        return base.drop("_dv_file", "_dv_pos")
    # an unreadable sidecar must RAISE: silently falling back to the
    # plain scan would resurrect deleted (possibly GDPR-erased) rows
    dv = spark.read.parquet(dv_dir)
    return (
        base.withColumn("_dv_fn", _dv_fname("_dv_file"))
        .join(
            F.broadcast(
                dv.select(
                    _dv_fname("file").alias("_dv_fn"),
                    F.col("pos").alias("_dv_pos"),
                )
            ),
            ["_dv_fn", "_dv_pos"],
            "left_anti",
        )
        .drop("_dv_file", "_dv_fn", "_dv_pos")
    )


def dv_compact(spark: SparkSession, table_path: str) -> dict:
    """Fold accumulated deletion vectors into the data (the
    copy-on-write step deferred until it is worth paying): rewrite
    ONLY the files that carry deletions, leave untouched files'
    bytes alone, drop the sidecar, and swap the staging directory in
    with :func:`swap_dir`, so a crash at any point leaves the old or
    the new table for :func:`dv_read` to recover. After compaction a
    plain reader and :func:`dv_read` agree again. Returns
    {files_rewritten, files_kept, rows_dropped}.

    FLAT tables only: a table whose part files live in
    subdirectories (Hive partitions, copied-in layouts) REFUSES
    loudly — the rewrite emits one flat file set, which would both
    change the layout and (before this guard) silently delete every
    subdirectory file in the swap. :func:`dv_delete`/:func:`dv_read`
    support nested layouts; compact a partitioned table per
    partition directory instead."""
    import glob as _glob
    import shutil

    dv_dir = os.path.join(table_path, "_dv")
    if not os.path.isdir(dv_dir):
        return {"files_rewritten": 0, "files_kept": 0, "rows_dropped": 0}
    nested = [
        f
        for f in _glob.glob(
            os.path.join(_glob.escape(table_path), "**", "*.parquet"),
            recursive=True,
        )
        if os.path.dirname(f) != table_path
        and not os.path.relpath(f, table_path).startswith("_")
    ]
    if nested:
        raise ValueError(
            "dv_compact supports flat tables only; found part files in "
            f"subdirectories (e.g. {os.path.relpath(nested[0], table_path)!r}). "
            "Compact each partition directory separately."
        )
    dv = spark.read.parquet(dv_dir)
    # parent/basename identity throughout (see _dv_fname): the sidecar
    # may carry a different URI normalization than this reader emits
    touched = [r.fn for r in dv.select(_dv_fname("file").alias("fn")).distinct().collect()]
    base = spark.read.parquet(table_path).select(
        "*",
        _dv_fname(F.col("_metadata.file_path")).alias("_dv_fn"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )
    dirty = base.where(F.col("_dv_fn").isin(touched))
    before = dirty.count()
    clean_rows = (
        dirty.join(
            F.broadcast(
                dv.select(
                    _dv_fname("file").alias("_dv_fn"),
                    F.col("pos").alias("_dv_pos"),
                )
            ),
            ["_dv_fn", "_dv_pos"],
            "left_anti",
        )
        .drop("_dv_fn", "_dv_pos")
    )
    clean_rows = clean_rows.transform(pin)
    after = clean_rows.count()
    staged = table_path + "_dv_staged"
    clean_rows.write.mode("overwrite").parquet(staged)

    # `touched` holds parent/basename keys (_dv_fname), so the
    # local-file match is URI-normalization-proof: no dirty file is
    # silently kept (which would duplicate its rewritten rows after
    # the swap). Kept files are linked (or copied) into the staging
    # directory: the live table stays whole until swap_dir replaces it.
    kept = 0
    for f in _glob.glob(os.path.join(table_path, "*.parquet")):
        fkey = os.path.basename(os.path.dirname(f)) + "/" + os.path.basename(f)
        if fkey not in touched:
            kept += 1
            dst = os.path.join(staged, "kept-" + os.path.basename(f))
            try:
                os.link(f, dst)
            except OSError:
                shutil.copy2(f, dst)
    swap_dir(table_path, staged)
    return {
        "files_rewritten": len(touched),
        "files_kept": kept,
        "rows_dropped": before - after,
    }


# ---------------------------------------------------------------- D26
def cdc_envelope_apply(
    spark: SparkSession,
    target_path: str,
    envelopes: DataFrame,
    key_col: str,
    value_schema: str,
) -> dict:
    """Apply a Debezium-style CDC envelope batch to a parquet table:
    each change record is JSON carrying ``op`` (c/u/d), ``before``,
    ``after``, and a total-order position ``lsn``. The apply is ONE
    declarative plan — parse, keep each key's LATEST change by lsn
    (max_by over the envelope batch, so a key updated then deleted
    within the batch nets out to the delete), then merge: surviving
    upserts replace current rows by key, deletes anti-join them away.
    Late/duplicate envelope replays are absorbed by the lsn ordering
    (an older change for a key already superseded in the batch never
    wins). The rewrite swaps in atomically via the staging dir like
    :func:`merge_upsert`; on a transactional table format the same
    plan is MERGE WHEN MATCHED [AND op='d' THEN DELETE]. Returns
    {inserts_updates, deletes, rows_after}."""
    parsed = envelopes.select(
        F.from_json(
            F.col("value"),
            f"op string, lsn bigint, before struct<{value_schema}>, "
            f"after struct<{value_schema}>",
        ).alias("e")
    ).select("e.op", "e.lsn", "e.before", "e.after")
    # Reject unknown/NULL ops: such an envelope would land its key in
    # clear_keys (dropping the current row) while producing neither an
    # upsert nor a counted delete — silent data loss. The count rides
    # the pin() materialization action below via observe() so the guard
    # costs no extra job (and no second from_json pass per batch).
    from pyspark.sql import Observation

    obs = Observation()
    parsed = parsed.observe(
        obs,
        F.sum(
            (
                F.col("op").isNull()
                | ~F.col("op").isin("c", "u", "r", "d")
            ).cast("long")
        ).alias("bad_ops"),
    )
    latest = (
        parsed.withColumn(
            "k",
            F.coalesce(F.col(f"after.{key_col}"), F.col(f"before.{key_col}")),
        )
        .groupBy("k")
        .agg(F.expr("max_by(struct(op, before, after), lsn)").alias("w"))
        .select(
            "k",
            F.col("w.op").alias("op"),
            F.col(f"w.before.{key_col}").alias("old_k"),
            F.col("w.after").alias("after"),
        )
    )
    latest = latest.transform(pin)
    bad_ops = int(obs.get["bad_ops"] or 0)
    if bad_ops:
        raise ValueError(
            f"cdc_envelope_apply: {bad_ops} envelope(s) with op not in "
            "('c','u','r','d'); refusing to apply the batch"
        )
    upserts = latest.where(F.col("op") != "d").select("after.*")
    delete_keys_df = latest.where(F.col("op") == "d").select(
        F.col("k").alias(key_col)
    )
    # Keys to clear from the current table: every netted key PLUS the
    # BEFORE-key of updates whose primary key changed (without it the
    # stale old-key row would survive next to the re-keyed insert).
    clear_keys = latest.select(F.col("k").alias(key_col)).unionByName(
        latest.where(
            (F.col("op") == "u")
            & F.col("old_k").isNotNull()
            & (F.col("old_k") != F.col("k"))
        ).select(F.col("old_k").alias(key_col))
    )
    n_up = upserts.count()
    n_del = delete_keys_df.count()
    if recover_dir(target_path):
        # A failing read of an EXISTING target must raise, never be
        # mistaken for first-load: the except-and-overwrite form would
        # replace the whole table with just this batch's upserts.
        current = spark.read.parquet(target_path)
        kept = current.join(clear_keys, key_col, "left_anti")
        merged = kept.unionByName(upserts)
    else:  # first batch: target does not exist yet
        merged = upserts
    merged.write.mode("overwrite").parquet(target_path + "_staged")
    swap_dir(target_path, target_path + "_staged")
    return {
        "inserts_updates": n_up,
        "deletes": n_del,
        "rows_after": spark.read.parquet(target_path).count(),
    }


# ---------------------------------------------------------------- D27
def ivm_join_build(
    view_dir: str,
    a: DataFrame,
    b: DataFrame,
    key: str,
) -> None:
    """Materialize an equi-join view A ⋈ B with INCREMENTAL
    maintenance (D13's mergeable-aggregate idea extended to joins):
    the classic delta rule ΔJ = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB means an append
    of Δ rows costs joins sized by Δ — never a recompute of |A⋈B|.
    Layout: ``a/ b/ j/`` each hold ``v=N`` version directories with a
    commit marker written LAST (idempotent_sink's recipe), so a crash
    mid-version leaves an uncommitted directory that readers skip and
    the retry overwrites — the three tables can never be observed
    inconsistent. ``v=0`` is the base load."""
    _ivm_write_version(view_dir, 0, a=a, b=b, j=a.join(b, key))


def ivm_join_append(
    spark: SparkSession,
    view_dir: str,
    key: str,
    delta_a: DataFrame | None = None,
    delta_b: DataFrame | None = None,
    tag: str | None = None,
) -> dict:
    """Apply an append batch to the maintained join view. The view
    delta joins each Δ against the OTHER side's committed state plus
    the cross term — all Δ-sized work (broadcast when small, AQE
    otherwise). Returns {version, delta_rows}. Re-running a failed
    (uncommitted) version is safe: content is a pure function of the
    committed prefix + the deltas, and the commit marker lands last.

    ``tag`` makes a RETRIED call idempotent across committed versions:
    the tag is stored INSIDE the version's commit marker (one atomic
    file), so a replayed batch whose previous attempt did commit is
    recognized and skipped — there is no window where the version
    committed but its identity didn't (the flaw of a separate
    marker-after-commit file)."""
    if delta_a is None and delta_b is None:
        raise ValueError("ivm_join_append: at least one delta required")
    if tag is not None:
        done = _ivm_tag_version(view_dir, tag)
        if done is not None:  # this batch already committed its version
            return {"version": done, "delta_rows": 0, "replayed": True}
    a_cur = _ivm_read(spark, view_dir, "a")
    b_cur = _ivm_read(spark, view_dir, "b")
    version = _ivm_next_version(view_dir)
    empty_a = delta_a is None
    empty_b = delta_b is None
    parts = []
    if not empty_a:
        parts.append(delta_a.join(b_cur, key))
    if not empty_b:
        parts.append(a_cur.join(delta_b, key))
    if not empty_a and not empty_b:
        parts.append(delta_a.join(delta_b, key))
    if parts:
        dj = parts[0]
        for p in parts[1:]:
            dj = dj.unionByName(p)
    else:
        dj = None
    dj = dj.transform(pin) if dj is not None else None
    n = dj.count() if dj is not None else 0
    _ivm_write_version(
        view_dir, version,
        a=delta_a, b=delta_b, j=dj, tag=tag,
    )
    return {"version": version, "delta_rows": n}


def ivm_join_read(spark: SparkSession, view_dir: str) -> DataFrame:
    """The maintained view: the union of committed ``j`` versions."""
    return _ivm_read(spark, view_dir, "j")


def _ivm_write_version(view_dir, version, a=None, b=None, j=None, tag=None) -> None:
    import shutil

    for name, df in (("a", a), ("b", b), ("j", j)):
        vdir = os.path.join(view_dir, name, f"v={version}")
        if df is None:
            continue
        shutil.rmtree(vdir, ignore_errors=True)  # uncommitted retry debris
        df.write.parquet(vdir)
    # marker LAST: the version exists only once all three parts do;
    # its CONTENT is the caller's idempotency tag, so committing the
    # version and recording which batch produced it is one atomic file
    with open(os.path.join(view_dir, f"_commit_v{version}"), "w") as fh:
        fh.write(tag or "done")


def _ivm_tag_version(view_dir, tag: str) -> int | None:
    """Version committed under ``tag``, or None."""
    if not os.path.isdir(view_dir):
        return None
    for f in os.listdir(view_dir):
        if f.startswith("_commit_v"):
            with open(os.path.join(view_dir, f)) as fh:
                if fh.read() == tag:
                    return int(f.split("_commit_v")[1])
    return None


def _ivm_committed(view_dir) -> list[int]:
    if not os.path.isdir(view_dir):
        return []
    return sorted(
        int(f.split("_commit_v")[1])
        for f in os.listdir(view_dir)
        if f.startswith("_commit_v")
    )


def _ivm_next_version(view_dir) -> int:
    vs = _ivm_committed(view_dir)
    return (vs[-1] + 1) if vs else 1


def _ivm_read(spark, view_dir, name) -> DataFrame:
    paths = [
        os.path.join(view_dir, name, f"v={v}")
        for v in _ivm_committed(view_dir)
        if os.path.isdir(os.path.join(view_dir, name, f"v={v}"))
    ]
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------- D28
def hilbert_write(
    df: DataFrame,
    target_path: str,
    key_a: str,
    key_b: str,
    bits: int = 8,
    files: int = 8,
) -> None:
    """Hilbert-curve clustered write — D7's layout with the
    space-filling curve that never makes Morton's long diagonal
    jumps: consecutive Hilbert cells are always grid neighbors, so a
    range box intersects fewer runs of the curve and min/max pruning
    keeps more row groups skippable. Same quantile bucketing as
    :func:`zorder_write`; the Hilbert index is the classic iterative
    xy2d (mask-per-level: emit the quadrant digit, then reflect/swap
    the remaining coordinates) run as ONE in-row integer fold with an
    [x, y, d] array accumulator — JVM codegen bit math, no UDF.
    Bijectivity and the neighbor property of the expression are
    pinned by test against a pure-Python reference."""
    ra, rb = _quantile_rank_cols(df, key_a, key_b, bits)
    (
        df.withColumn("_ra", ra)
        .withColumn("_rb", rb)
        .withColumn("_h", F.expr(hilbert_index_expr(bits, "_ra", "_rb")))
        .repartitionByRange(files, "_h")
        .sortWithinPartitions("_h")
        .drop("_ra", "_rb", "_h")
        .write.mode("overwrite")
        .parquet(target_path)
    )


def hilbert_index_expr(bits: int, xcol: str, ycol: str) -> str:
    """Hilbert xy->d for a 2^bits x 2^bits grid as a Spark SQL fold.

    Per level (mask s from high to low): rx/ry pick the quadrant,
    d += s*s*((3*rx) XOR ry), then the rotation — if ry=0, reflect
    (when rx=1) over the FULL grid and swap x/y. The [x, y, d]
    accumulator carries the mutated coordinates; all operations are
    long bit math, so the fold stays in codegen."""
    n = 1 << bits
    ss = ", ".join(f"CAST({1 << s} AS BIGINT)" for s in range(bits - 1, -1, -1))
    x, y, d = "element_at(acc, 1)", "element_at(acc, 2)", "element_at(acc, 3)"
    rx = f"IF({x} & s != 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT))"
    ry = f"IF({y} & s != 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT))"
    d2 = f"({d} + s * s * ((3 * {rx}) ^ {ry}))"
    return f"""element_at(aggregate(
      array({ss}),
      array(CAST({xcol} AS BIGINT), CAST({ycol} AS BIGINT), CAST(0 AS BIGINT)),
      (acc, s) -> IF({ry} = 0,
        IF({rx} = 1,
           array(CAST({n - 1} AS BIGINT) - {y},
                 CAST({n - 1} AS BIGINT) - {x}, {d2}),
           array({y}, {x}, {d2})),
        array({x}, {y}, {d2}))), 3)"""
