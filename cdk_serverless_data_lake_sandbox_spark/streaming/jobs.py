"""Structured Streaming jobs over the events stream: windowed counts
with watermark, exactly-once-style dedup, session windows.

Each job is a pure transformation ``stream_df -> stream_df`` so the
same code runs against any source (file, Kafka, rate); tests feed a
file source and validate against the batch twins in
``operators/events.py`` — same semantics, two execution modes, which
is exactly how Spark unifies batch and streaming.

Scale notes: state stores partition by the grouping key (window x
type, event_id range, user). Watermarks bound state: late data past
the watermark is dropped rather than growing state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-based streaming source over event parquet drops — the
    local stand-in for a Kafka/queue source. maxFilesPerTrigger keeps
    micro-batches bounded."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


# ---------------------------------------------------------------- E1
def windowed_counts(stream: DataFrame, window: str = "1 day", watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event type. The watermark lets the
    state store finalize and evict windows once event time passes
    window_end + watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------- E2
def stream_dedup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-style dedup on event_id within the watermark
    horizon — the streaming mirror of batch dropDuplicates. State
    holds one entry per id and is evicted at the watermark, so state
    size is bounded by the horizon, not the stream length."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


# ---------------------------------------------------------------- E5
def upsert_sink(stream: DataFrame, target_path: str, key_col: str = "event_id"):
    """CDC-style upsert sink via foreachBatch: each micro-batch is
    merged into the parquet target keeping the latest row per key
    (newest wins, the apply step of a change-data-capture pipeline).

    Parquet has no transactional merge, so the batch rewrite pattern
    is: read current + union batch -> window keep-latest -> overwrite.
    On a real lakehouse table format this maps 1:1 onto MERGE INTO.
    A target that exists but cannot be read fails the batch.
    Returns the StreamingQuery handle (caller awaits)."""
    from pyspark.sql.window import Window

    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
        recover_dir,
        swap_dir,
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if recover_dir(target_path):
            merged = spark.read.parquet(target_path).unionByName(batch)
        else:  # first batch: target doesn't exist yet
            merged = batch
        w = Window.partitionBy(key_col).orderBy(F.desc("ts"))
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # checkpointed rewrite: land in a staging dir, swap atomically
        latest.write.mode("overwrite").parquet(target_path + "_staged")
        swap_dir(target_path, target_path + "_staged")

    return stream.writeStream.foreachBatch(merge_batch).trigger(availableNow=True).start()


# ---------------------------------------------------------------- E3
def stream_sessionize(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Gap-based sessionization with native session windows
    (merging-window state), per user."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------- E6
def stream_static_enrich(stream: DataFrame, dim: DataFrame, dim_key: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the (re-read per batch, so updatable) static dimension with no
    streaming state at all — the canonical fact-stream x dim-table
    pattern. The dim side is broadcast; the stream never shuffles."""
    return stream.join(
        F.broadcast(dim), stream["user_id"] == dim[dim_key], "left"
    ).select(
        "event_id", "ts", "user_id", "event_type", "value",
        dim["c_mktsegment"].alias("segment"),
    )


# ---------------------------------------------------------------- E7
def stream_stream_conversions(
    stream: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same
    user's clicks at most `horizon` earlier. Both sides are
    watermarked and the join condition bounds event-time distance, so
    each side's state store evicts rows once the other side's
    watermark passes ts + horizon — bounded state, the requirement
    for an unbounded stream-stream join."""
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts", "amount")


# ---------------------------------------------------------------- E9
def stream_to_lake_versions(stream: DataFrame, lake, zone: str, table: str):
    """Streaming -> versioned lake: every micro-batch of windowed
    aggregates lands as a new immutable snapshot via foreachBatch, so
    downstream consumers read a consistent version while the next one
    builds — the continuous-refresh pattern for serving tables, with
    time travel for free. Returns the query handle (caller awaits)."""

    def write_version(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        lake.write_version(zone, table, batch)

    return (
        stream.writeStream.foreachBatch(write_version)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E11
DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def curate_document_stream(
    stream: DataFrame,
    min_words: int = 20,
    max_words: int = 5000,
    min_distinct_ratio: float = 0.2,
) -> DataFrame:
    """Streaming corpus curation: the quality gate + PII redaction a
    training-data pipeline applies AT INGEST, before anything lands in
    the raw zone (redacting later means the PII already persisted).

    Stateless, so it runs identically in batch and streaming (the test
    pins that), appends safely at any parallelism, and adds zero state
    store footprint: length + lexical-diversity gate, then
    email/phone/IPv4 masking with the same patterns `pii_scan`
    profiles. Redaction counts ride along per document so downstream
    audits don't rescan the text."""
    from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
        _EMAIL_RE,
        _IPV4_RE,
        _PHONE_RE,
    )

    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    gated = stream.where(
        n_words.between(min_words, max_words) & (distinct_ratio >= min_distinct_ratio)
    )
    n_pii = sum(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0)))
        for p in (_EMAIL_RE, _PHONE_RE, _IPV4_RE)
    )
    redacted = (
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE,
                "[PHONE]",
            ),
            _IPV4_RE,
            "[IP]",
        )
    )
    return gated.select(
        "doc_id",
        redacted.alias("text"),
        "lang",
        "source",
        F.length(redacted).cast("bigint").alias("n_chars"),
        n_pii.alias("n_redactions"),
    )


# ---------------------------------------------------------------- E12
def stream_dedup_gate(
    stream: DataFrame,
    corpus: DataFrame,
    target_path: str,
):
    """Streaming near-dup gate: each micro-batch of incoming documents
    is checked against a static reference corpus — exact content-hash
    match AND 3-gram Jaccard near-duplication — and only genuinely
    novel documents land in the target. This is ingest-time corpus
    hygiene: the alternative (land everything, dedup later) means the
    duplicates already cost storage and every downstream scan.

    foreachBatch applies the exact batch operator (`dedup_incremental`)
    to each micro-batch, so stream and batch semantics are identical
    by construction (the test pins it). The corpus-side intermediates
    (content-hash set, hashed shingle postings) are KEYED scratch
    tables, keyed on the corpus frame itself: hashed
    on the first micro-batch, re-scanned by every later one — the
    static side never pays per-batch recompute. Each
    micro-batch pays |batch| x (posting overlap), never a corpus
    self-join. Returns the StreamingQuery handle (caller awaits)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        dedup_incremental,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        survivors = dedup_incremental(batch, corpus, reuse_corpus=True)
        survivors.write.mode("append").parquet(target_path)

    return stream.writeStream.foreachBatch(gate).trigger(availableNow=True).start()


# ---------------------------------------------------------------- E14
def rate_limited_sink(
    stream: DataFrame,
    target_path: str,
    spill_path: str,
    max_rows_per_batch: int = 1000,
    order_col: str = "event_id",
):
    """Write-rate smoothing: each micro-batch admits at most
    ``max_rows_per_batch`` rows into the sink (lowest ``order_col``
    first — deterministic admission); the remainder spills to a
    carry-over queue that is prepended to the next batch, so bursts
    are absorbed without loss and the downstream store sees a bounded
    write rate. The admission is orderBy+limit, which Catalyst
    executes as TakeOrderedAndProject (no global sort); the spill
    rewrite is the same staged atomic swap the batch MERGE uses.
    Drain the tail by triggering empty batches until the spill is
    empty. A spill that exists but cannot be read fails the batch."""
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
        recover_dir,
        swap_dir,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if recover_dir(spill_path):
            pending = spark.read.parquet(spill_path).unionByName(batch)
        else:  # first batch: no spill yet
            pending = batch
        admitted = pending.orderBy(order_col).limit(max_rows_per_batch)
        remainder = pending.join(
            admitted.select(order_col), order_col, "left_anti"
        )
        admitted.write.mode("append").parquet(target_path)
        remainder.write.mode("overwrite").parquet(spill_path + "_staged")
        swap_dir(spill_path, spill_path + "_staged")

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E16
def trending_topk(stream: DataFrame, window: str = "1 day", k: int = 3) -> DataFrame:
    """Trending dashboard aggregate: event-type counts per tumbling
    window, globally ranked, top-k — the "what's hot right now" query.
    Sorting + LIMIT on a streaming aggregate requires COMPLETE output
    mode (the sink receives the full ranked table each trigger); state
    is the windowed count store, which complete mode retains for all
    windows — bound the key space (window x type), not the stream
    length, and prefer the update-mode + downstream-rank variant when
    window cardinality grows without limit. The rank itself is
    TakeOrderedAndProject-shaped: per-partition top-k merged on the
    driver, never a global sort."""
    counts = (
        stream.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    return counts.orderBy(F.desc("n_events"), "window_start", "event_type").limit(k)


# ---------------------------------------------------------------- E17
_PSI_MON_BUCKETS = 10


def value_psi(batch: DataFrame, baseline: DataFrame) -> DataFrame:
    """Population Stability Index of ``batch``'s value distribution
    against ``baseline``, per event_type (the batch-side core shared
    by the streaming monitor and its tests). Buckets come from the
    BASELINE range — drift monitoring must hold the reference frame
    fixed; Laplace smoothing keeps empty buckets finite; the 10-term
    sum is decimal-cast so accumulation order can't move results."""
    B = _PSI_MON_BUCKETS
    rng = baseline.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.greatest(F.max("value") - F.min("value"), F.lit(1e-12)).alias("width"),
    )

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        return (
            df.join(F.broadcast(rng), "event_type")
            .select(
                "event_type",
                F.least(
                    F.greatest(
                        F.floor(
                            (F.col("value") - F.col("lo")) / (F.col("width") / B)
                        ),
                        F.lit(0),
                    ),
                    F.lit(B - 1),
                ).alias("bucket"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.count("*").alias(out))
        )

    grid = rng.select(
        "event_type", F.explode(F.expr(f"sequence(0, {B - 1})")).alias("bucket")
    )
    c = (
        grid.join(bucketed(baseline, "n_base"), ["event_type", "bucket"], "left")
        .join(bucketed(batch, "n_new"), ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    tot = c.groupBy("event_type").agg(
        F.sum("n_base").alias("t_base"), F.sum("n_new").alias("t_new")
    )
    p = (F.col("n_new") + 0.5) / (F.col("t_new") + 0.5 * B)
    q = (F.col("n_base") + 0.5) / (F.col("t_base") + 0.5 * B)
    return (
        c.join(F.broadcast(tot), "event_type")
        .where(F.col("t_new") > 0)
        .select(
            "event_type",
            ((p - q) * F.log(p / q)).cast("decimal(18,12)").alias("term"),
            "t_new",
        )
        .groupBy("event_type")
        .agg(
            F.round(F.sum("term").cast("double"), 6).alias("psi"),
            F.min("t_new").cast("bigint").alias("n_events"),
        )
    )


def psi_monitor_sink(
    stream: DataFrame,
    baseline: DataFrame,
    monitor_path: str,
    raw_path: str | None = None,
):
    """Online drift detection at ingest: every micro-batch's value
    distribution is scored (PSI) against a static baseline and the
    per-type scores appended to a monitoring table — the alert feed a
    retraining pipeline watches. The baseline histogram is tiny
    (types x 10 buckets) and broadcast; per-batch cost is one
    aggregation of the batch. ``raw_path`` optionally archives each
    batch with its batch_id (lineage for test parity and incident
    replay)."""

    def monitor(batch: DataFrame, batch_id: int) -> None:
        if raw_path is not None:
            batch.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(raw_path)
        value_psi(batch, baseline).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(monitor_path)

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(monitor)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E18
def observed_event_stream(stream: DataFrame, watermark: str = "1 hour"):
    """Streaming observability without a second query: attach an
    ``observe`` metric set (row count, null-value count, value sum,
    max event time) to the micro-batch plan — the numbers ride the
    batch's own execution and surface in every progress event under
    ``observedMetrics['ingest_metrics']``, which is how a production
    monitor watches throughput/lateness/null-rate with ZERO extra
    state and zero extra scans (contrast psi_monitor_sink, which
    pays an aggregation per batch because it needs a distribution).

    Returns the observed stream; pair with any sink. Watermark is
    applied first so downstream stateful consumers compose."""
    return stream.withWatermark("ts", watermark).observe(
        "ingest_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("value").isNull()).alias("n_null_value"),
        F.coalesce(F.sum("value"), F.lit(0.0)).alias("value_sum"),
        F.max("ts").alias("max_event_ts"),
    )


# ---------------------------------------------------------------- E20
DLQ_PROPS_SCHEMA = "k BIGINT, _corrupt STRING"


def dlq_ingest(stream: DataFrame, good_path: str, dlq_path: str):
    """Schema-enforced ingest with a dead-letter queue — the pattern
    every production stream needs on day one: ``props`` is parsed
    against a declared schema; rows that parse land in the good
    table with typed columns, rows that don't (malformed JSON, or a
    JSON value the declared schema can't hold) land VERBATIM in the
    DLQ
    with the batch id, so nothing is dropped and reprocessing is a
    batch read of the DLQ after a parser fix.

    Stateless per batch (foreachBatch classifies with one from_json
    pass and writes both sides); at scale this is two appends per
    micro-batch with no shuffle — the classify filter is codegen on
    the scan. Detection uses the declared corrupt-record column
    (PERMISSIVE mode fills it with the raw text exactly when parsing
    fails — a null struct is NOT what from_json returns for garbage,
    it returns an all-null struct, so IS NULL checks silently pass
    everything)."""

    def split_batch(batch: DataFrame, batch_id: int) -> None:
        parsed = batch.withColumn(
            "_p",
            F.from_json(
                F.col("props"),
                DLQ_PROPS_SCHEMA,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
            ),
        )
        bad = parsed.where(F.col("_p._corrupt").isNotNull()).drop("_p")
        good = parsed.where(F.col("_p._corrupt").isNull()).select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            F.col("_p.k").alias("k"),
        )
        good.write.mode("append").parquet(good_path)
        bad.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(dlq_path)

    return stream.writeStream.foreachBatch(split_batch)


# ---------------------------------------------------------------- E21
def idempotent_sink(stream: DataFrame, data_path: str, manifest_path: str):
    """Exactly-once append to a NON-transactional sink (plain
    parquet / object storage): Structured Streaming guarantees each
    batch id is replayed with identical contents after a failure, so
    the sink keeps a batch-id manifest and makes the write a no-op
    when the marker already exists — the standard "exactly-once to
    S3" recipe when the sink itself has no transactions. Data lands
    under batch_id=N subdirectories BEFORE the marker is written, so
    a crash between the two leaves an orphan directory that the
    retry overwrites (mode=overwrite on the batch dir), never a
    duplicate in reader-visible state: readers go through the
    manifest-filtered view this function's companion
    ``read_committed`` returns. Each batch directory's schema is
    recorded in the catalog's schema store once written, so
    ``read_committed`` needs no footer job for it."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.catalog import record_written

    def write_once(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(manifest_path, f"batch_{batch_id}")
        if os.path.exists(marker):
            return
        batch_dir = os.path.join(data_path, f"batch_id={batch_id}")
        batch.write.mode("overwrite").parquet(batch_dir)
        record_written(batch_dir, batch.schema)
        os.makedirs(manifest_path, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return stream.writeStream.foreachBatch(write_once)


def read_committed(
    spark: SparkSession,
    data_path: str,
    manifest_path: str,
    schema: str | None = None,
) -> DataFrame:
    """Reader side of :func:`idempotent_sink`: only batch directories
    whose manifest marker exists are visible — an orphaned data dir
    from a mid-write crash is invisible until its retry commits.

    When nothing is committed yet the returned empty frame carries
    the sink's REAL schema: ``schema`` if the caller passed one, else
    the schema inferred from any data directory already on disk
    (uncommitted batches still reveal the sink's column layout), so
    downstream unions/column references behave identically in the
    empty and non-empty cases. Only with no schema hint and no data
    at all does it fall back to a zero-column frame.

    Committed batches are read with the schema their writer recorded
    (:func:`idempotent_sink`), with no footer job, when every one of
    them recorded the same schema; otherwise (a batch written by
    another application, or batches of different schemas) the schema
    is inferred from the files."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.catalog import recorded_schema

    committed = [
        int(f.split("_", 1)[1])
        for f in (os.listdir(manifest_path) if os.path.isdir(manifest_path) else [])
        if f.startswith("batch_")
    ]
    if not committed:
        if schema is not None:
            return spark.createDataFrame([], schema)
        if os.path.isdir(data_path) and any(
            d.startswith("batch_id=") for d in os.listdir(data_path)
        ):
            return spark.read.parquet(data_path).limit(0)
        return spark.createDataFrame([], StructType([]))
    paths = [
        os.path.join(data_path, f"batch_id={b}")
        for b in sorted(committed)
        if os.path.isdir(os.path.join(data_path, f"batch_id={b}"))
    ]
    recorded = [recorded_schema(p) for p in paths]
    if recorded and recorded[0] is not None and all(s == recorded[0] for s in recorded):
        return spark.read.schema(recorded[0]).parquet(*paths)
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------- E22
def backfill_handoff(
    history: DataFrame, stream: DataFrame, cutover_ts: str, target_path: str
):
    """Batch-backfill -> stream handoff at an exact event-time
    boundary (the lambda/kappa cutover every re-platform runs once):
    the batch side writes all history with ts <= cutover, the
    streaming side appends strictly ts > cutover — the half-open
    split means the union is exactly the full dataset, no seam
    duplicates and no seam gap, REGARDLESS of when the stream starts
    or how its micro-batches land. Returns the started-but-unawaited
    writeStream builder for the live side after running the batch
    side synchronously.

    The boundary filter sits on the stream BEFORE any stateful op,
    so watermark state never even sees pre-cutover events (cheap
    replays of a source that re-serves history).

    The live side appends via foreachBatch, NOT the streaming
    parquet sink: that sink keeps a _spark_metadata transaction log
    and readers of a directory containing one see ONLY log-listed
    files — the batch-written backfill would silently vanish from
    every read. foreachBatch appends are plain files, so batch and
    stream output stay one coherent table."""
    cut = F.lit(cutover_ts).cast("timestamp")
    history.where(F.col("ts") <= cut).write.mode("overwrite").parquet(
        target_path
    )
    live = stream.where(F.col("ts") > cut)

    def append_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(target_path)

    return live.writeStream.foreachBatch(append_batch)


def gc_uncommitted(data_path: str, manifest_path: str) -> list[int]:
    """Garbage-collect idempotent_sink orphans: batch_id directories
    with no manifest marker are mid-write crash residue — invisible
    to read_committed but still occupying storage. Removing them is
    always safe because the marker is written only after the data
    write completes, and a future retry of that batch overwrites the
    directory anyway. Returns the batch ids collected."""
    import os
    import shutil

    committed = {
        f.split("_", 1)[1]
        for f in (os.listdir(manifest_path) if os.path.isdir(manifest_path) else [])
        if f.startswith("batch_")
    }
    removed = []
    for d in os.listdir(data_path) if os.path.isdir(data_path) else []:
        if not d.startswith("batch_id="):
            continue
        bid = d.split("=", 1)[1]
        if bid not in committed:
            shutil.rmtree(os.path.join(data_path, d), ignore_errors=True)
            removed.append(int(bid))
    return sorted(removed)


# ---------------------------------------------------------------- E24
def column_stats_monitor(stream: DataFrame, stats_path: str):
    """Streaming ANALYZE: every micro-batch's per-column statistics
    (nulls, NDV sketch, min/max — the D17 collector) append to a
    stats history table keyed by batch id. The result is a
    time-series of column health at ingest: a null-rate step, an NDV
    collapse, or a min/max excursion shows up one batch after it
    happens, without a second scan of stored data (each batch is
    profiled while it is already in memory for the write)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        collect_column_stats,
    )

    def profile(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        stats = collect_column_stats(batch).withColumn(
            "_batch_id", F.lit(batch_id)
        )
        stats.write.mode("append").parquet(stats_path)

    return stream.writeStream.foreachBatch(profile)


# ---------------------------------------------------------------- E28
def stream_phrase_monitor(stream: DataFrame, phrases: tuple[str, ...] | None = None) -> DataFrame:
    """Running phrase-hit totals over a document stream — the live
    twin of the batch ``phrase_search`` probe (same probe list, same
    length-delta-over-replace counting expression, so batch and live
    counts cannot diverge). Emits per-phrase cumulative occurrence and
    containing-doc totals: the at-ingest alarm for memorization
    strings, benchmark leaks, or boilerplate flooding a crawl.

    Streaming-state design: the aggregation key is the PROBE PHRASE,
    so state is |phrases| rows — bounded by configuration, not by the
    stream — which is why this can run in update mode forever with no
    watermark and no TTL. The per-document work is the same in-row
    codegen projection as the batch operator (no join, no UDF)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.text import _PHRASES

    probe = phrases if phrases is not None else _PHRASES
    occ = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.col("phrase")))
    ) / F.length("phrase")
    return (
        stream.select(
            "text",
            F.explode(F.lit(list(probe)).cast("array<string>")).alias("phrase"),
        )
        .select("phrase", occ.cast("bigint").alias("occ"))
        .groupBy("phrase")
        .agg(
            F.sum("occ").cast("bigint").alias("n_occurrences"),
            F.sum(F.when(F.col("occ") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


# ---------------------------------------------------------------- E29
def stream_bloom_gate(
    stream: DataFrame,
    out_dir: str,
    state_dir: str,
    key: str = "doc_id",
    m_bits: int = 1 << 16,
    k: int = 4,
):
    """Approximate streaming dedup gate with BOUNDED state: a single
    m-bit Bloom filter (stored as (slot, bitmap) parquet rows,
    m/64 longs total) accumulates every key ever admitted; a
    micro-batch row is dropped when all k probe bits were already set
    BEFORE the batch. This is the at-scale complement of the exact
    ``stream_dedup_gate``: exact dedup state grows with the corpus,
    the bloom gate's state is m bits forever — the standard trade at
    ingest volume, with the standard asymmetry (a false positive
    drops a NON-duplicate at ~(1-e^(-kn/m))^k probability; a true
    duplicate is never admitted twice). Size m ~ 10 bits/expected-key
    for <1% fp, far below the keys themselves.

    Mechanics are the D18 bloom index's, pointed at a stream: keys
    hash to k seeded xxhash64 bit positions JVM-side; membership is a
    broadcast join on the slot column; the post-batch filter is the
    bit_or of the prior filter and the admitted keys' bits. Within a
    batch, exact dropDuplicates runs first (the batch is in memory
    anyway).

    Batch-retry safety (the ``idempotent_sink`` recipe, adapted):
    output lands under ``batch_id=N`` with overwrite and a marker
    commits the batch LAST. A retry that finds the marker is a no-op;
    a retry that finds a completed output dir (crash after admit,
    before/after the bits merge) REUSES that admit decision instead
    of re-deciding against possibly-already-merged bits — re-merging
    the same keys is free because bit_or is idempotent. So a replayed
    batch can neither duplicate output nor lose admitted rows.

    Filter-state durability: presence of prior bits is decided by
    PATH existence (no per-batch count job on the hot path), the
    bits swap moves the live dir aside before promoting the staged
    one (a crash mid-swap is recovered on the next read), and a real
    read failure — corrupt files, transient IO — RAISES rather than
    being treated as 'no prior state', which would re-admit
    previously admitted keys and void the no-duplicate guarantee."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
        recover_dir,
        swap_dir,
    )
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        _bloom_positions,
    )

    bits_dir = os.path.join(state_dir, "bits")
    manifest_dir = os.path.join(state_dir, "manifest")

    def _bits_of(df: DataFrame, col: str):
        pos = F.array(*_bloom_positions(F.col(col), k, m_bits))
        return df.select(F.explode(pos).alias("p")).select(
            (F.col("p") / 64).cast("long").alias("slot"),
            F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("mask"),
        )

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        marker = os.path.join(manifest_dir, f"batch_{batch_id}")
        if os.path.exists(marker):
            return
        spark = batch.sparkSession
        batch_dir = os.path.join(out_dir, f"batch_id={batch_id}")
        prior_done = os.path.exists(os.path.join(batch_dir, "_SUCCESS"))
        if prior_done:
            # crash landed between output and marker on the last try:
            # the admit decision is already durable — reuse it.
            fresh = spark.read.parquet(batch_dir)
        else:
            batch = batch.dropDuplicates([key])
            probes = batch.select(F.col(key).alias("_v")).select(
                "_v", F.explode(F.array(*_bloom_positions(F.col("_v"), k, m_bits))).alias("p")
            ).select(
                "_v",
                (F.col("p") / 64).cast("long").alias("slot"),
                F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("mask"),
            )
            if recover_dir(bits_dir):
                seen = spark.read.parquet(bits_dir)
                hit = (
                    probes.join(F.broadcast(seen), "slot")
                    .where(
                        F.col("bitmap").bitwiseAND(F.col("mask")) == F.col("mask")
                    )
                    .groupBy("_v")
                    .agg(F.count("*").alias("n_hit"))
                    .where(F.col("n_hit") >= k)
                    .select(F.col("_v").alias(key))
                )
                fresh = batch.join(hit, key, "left_anti")
            else:
                fresh = batch
            fresh.write.mode("overwrite").parquet(batch_dir)
            fresh = spark.read.parquet(batch_dir)
        new_bits = (
            _bits_of(fresh.select(key), key)
            .groupBy("slot")
            .agg(F.bit_or("mask").alias("bitmap"))
        )
        if recover_dir(bits_dir):
            old = spark.read.parquet(bits_dir)
            merged = (
                old.unionByName(new_bits)
                .groupBy("slot")
                .agg(F.bit_or("bitmap").alias("bitmap"))
            )
        else:
            merged = new_bits
        staged = bits_dir + f"_staged{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        swap_dir(bits_dir, staged)
        os.makedirs(manifest_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E30
def stream_histogram_sink(stream: DataFrame, rng_rows: list, bins_path: str):
    """Streaming half of the mergeable-histogram percentile rollup
    (B88): every micro-batch appends its (event_type, bin, count)
    rows — <= types x bins tiny rows per batch — against FIXED
    reference ranges (``rng_rows``: (event_type, lo, width), captured
    from a baseline period; monitors must hold the reference frame
    fixed, same rule as the PSI monitor). Because bin counts merge by
    addition, the reader can answer p50/p95/p99 for ANY batch range
    by summing stored bins — no raw-event retention, which is the
    entire point at ingest volume.

    State: none (stateless foreachBatch append); the parquet bins ARE
    the rollup artifact."""
    from cdk_serverless_data_lake_sandbox_spark.operators.analytics import (
        bin_values,
    )

    def write(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        rng = spark.createDataFrame(
            rng_rows, "event_type string, lo double, width double"
        )
        (
            bin_values(batch, rng)
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("c"))
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(bins_path)
        )

    return stream.writeStream.foreachBatch(write)


def read_histogram_percentiles(
    spark: SparkSession, bins_path: str, rng_rows: list
) -> DataFrame:
    """Reader for :func:`stream_histogram_sink`'s bins: sum counts
    across stored batches and decode percentiles with the SAME shared
    helper the batch operator uses — stream and batch cannot drift."""
    from cdk_serverless_data_lake_sandbox_spark.operators.analytics import (
        percentiles_from_bins,
    )

    rng = spark.createDataFrame(
        rng_rows, "event_type string, lo double, width double"
    )
    merged = (
        spark.read.parquet(bins_path)
        .groupBy("event_type", "bin")
        .agg(F.sum("c").alias("c"))
    )
    return percentiles_from_bins(merged, rng)


# ---------------------------------------------------------------- E31
def stream_minhash_dedup_gate(
    stream: DataFrame,
    index_path: str,
    out_dir: str,
    min_est_jaccard: float = 0.5,
):
    """Near-dup ingest gate backed by the PERSISTED MinHash index
    (D19) — the full production loop: each micro-batch (1) signs only
    itself, (2) probes the stored band buckets and drops documents
    whose signature agreement with any indexed document clears the
    threshold, (3) appends the survivors AND their signatures/band
    keys back to the index, so later batches dedup against everything
    admitted so far. The corpus is hashed exactly once, ever; batch
    cost is batch-sized.

    Versus the exact ``stream_dedup_gate`` (scratch-keyed shingle
    verify) this is the approximate-but-index-maintained variant: the
    index is durable across applications and its size is
    corpus-linear in SIGNATURES (32 longs/doc), not text. Within a
    batch, exact text dropDuplicates runs first; batch-internal
    near-dup pairs are admitted together (documented — run a batch
    self-join or rely on the next compaction pass if that matters).

    Batch-retry safety (the ``stream_bloom_gate`` recipe): output
    lands under ``batch_id=N`` with overwrite, a marker commits LAST,
    and a retry that finds completed output reuses that admit
    decision instead of re-deciding against the already-updated index
    (which would drop the whole batch as self-duplicates). Index
    appends carry their own replay guard (r8): signatures for doc_ids
    the index already holds are anti-joined away before the append,
    so a crash between output and marker — even a crash LOOP — never
    accumulates duplicate signature or band rows."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        _band_key_expr,
        _minhash_signatures,
        minhash_index_query,
    )

    manifest_dir = os.path.join(index_path, "manifest")

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        marker = os.path.join(manifest_dir, f"batch_{batch_id}")
        if os.path.exists(marker):
            return
        spark = batch.sparkSession
        batch_dir = os.path.join(out_dir, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(batch_dir, "_SUCCESS")):
            fresh = spark.read.parquet(batch_dir)
        else:
            batch = batch.dropDuplicates(["text"])
            # Bootstrap: a fresh index has no bands/ or sig/ yet (the
            # gate may be the first writer, with no prior
            # minhash_index_build). Skip the probe and admit the whole
            # deduped batch; the post-batch append below creates the
            # index for every later batch to probe.
            if os.path.exists(os.path.join(index_path, "bands")) and os.path.exists(
                os.path.join(index_path, "sig")
            ):
                hits = (
                    minhash_index_query(spark, index_path, batch, min_est_jaccard)
                    .select(F.col("new_id").alias("doc_id"))
                    .distinct()
                )
                fresh = batch.join(hits, "doc_id", "left_anti")
            else:
                fresh = batch
            fresh.write.mode("overwrite").parquet(batch_dir)
            fresh = spark.read.parquet(batch_dir)
        sigs = _minhash_signatures(fresh)
        # stamp the hash-scheme format ONLY on true bootstrap (no sig/
        # yet — the gate is the index's first writer). An existing
        # sig/ without a stamp is a pre-format-marker index of unknown
        # hash scheme: blessing it with the current format would let
        # this gate append new-scheme signatures beside old ones whose
        # entries then silently never match a future probe — exactly
        # the failure the marker exists to prevent (r8 advice). Raise
        # the same rebuild error minhash_index_query raises.
        import json as _json

        from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
            _MINHASH_INDEX_FORMAT,
        )

        fmt_path = os.path.join(index_path, "_format.json")
        stored = None
        if os.path.exists(fmt_path):
            with open(fmt_path) as fh:
                stored = _json.load(fh).get("format")
        if stored != _MINHASH_INDEX_FORMAT:
            if stored is not None or os.path.exists(
                os.path.join(index_path, "sig")
            ):
                raise ValueError(
                    f"minhash index at {index_path} has format {stored!r}, "
                    f"this build appends {_MINHASH_INDEX_FORMAT!r} — rebuild "
                    "with minhash_index_build (a cross-format probe would "
                    "silently match nothing)"
                )
            os.makedirs(index_path, exist_ok=True)
            with open(fmt_path, "w") as fh:
                _json.dump({"format": _MINHASH_INDEX_FORMAT}, fh)
        sig_dir = index_path + "/sig"
        if os.path.exists(sig_dir):
            # replay guard for the append itself (r8 review): a crash
            # AFTER these appends but BEFORE the marker re-runs the
            # batch, and a crash LOOP would re-append the same
            # signatures every retry. doc_id is the index identity, so
            # drop any doc the index already carries — one batch-sized
            # broadcast semi probe of sig/, the same cost class as the
            # band probe above. (This also stops a cross-batch
            # re-ingest of an already-indexed doc_id from accumulating
            # divergent signatures for one identity.)
            already = (
                spark.read.parquet(sig_dir)
                .join(F.broadcast(sigs.select("doc_id")), "doc_id", "left_semi")
                .select("doc_id")
                .distinct()
            )
            sigs = sigs.join(already, "doc_id", "left_anti")
        sigs.write.mode("append").parquet(sig_dir)
        (
            sigs.select(
                "doc_id",
                F.explode(F.expr(f"array({_band_key_expr()})")).alias("b"),
            )
            .select(
                F.col("b.band").alias("band"),
                F.col("b.key").alias("key"),
                "doc_id",
            )
            .write.mode("append")
            .partitionBy("band")
            .parquet(index_path + "/bands")
        )
        os.makedirs(manifest_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E32
def stream_charspan_gate(
    stream: DataFrame,
    index_path: str,
    out_dir: str,
    max_coverage: float = 0.5,
):
    """Exact-substring ingest gate backed by the persisted char-span
    index (D20) — the streaming application of ``strip_dup_chars``'
    coverage notion: each micro-batch (1) hashes only itself, (2)
    probes the stored span set and DROPS documents whose character
    coverage by already-indexed 50-grams reaches ``max_coverage``
    (a boilerplate-heavy near-copy of indexed text), (3) appends the
    survivors' distinct span hashes back, so later batches dedup
    against everything admitted so far. The corpus is hashed exactly
    once, ever; per-batch cost is batch-sized plus one hash join
    against the set.

    Versus the minhash gate (E31) this is the EXACT membership tier:
    no banding probability, a document is dropped only when measured
    character overlap clears the threshold. Index rows are bare
    8-byte hashes; duplicate appends are harmless (probes are
    semi-joins) and a periodic rewrite compacts them.

    Batch-retry safety: the stream_bloom_gate recipe — output lands
    under ``batch_id=N`` with overwrite, a marker commits LAST, a
    retry that finds completed output reuses that admit decision
    (re-appending the same span hashes is a no-op for semi-join
    probes). Bootstrap: a fresh index (no spans/ yet) admits the
    whole deduped first batch and creates the index for batch 2."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.shaping import (
        _char_spans,
        charspan_index_query,
    )

    manifest_dir = os.path.join(index_path, "manifest")

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        marker = os.path.join(manifest_dir, f"batch_{batch_id}")
        if os.path.exists(marker):
            return
        spark = batch.sparkSession
        batch_dir = os.path.join(out_dir, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(batch_dir, "_SUCCESS")):
            fresh = spark.read.parquet(batch_dir)
        else:
            batch = batch.dropDuplicates(["text"])
            if os.path.exists(os.path.join(index_path, "spans")):
                hot = (
                    charspan_index_query(spark, batch, index_path)
                    .where(F.col("coverage") >= max_coverage)
                    .select("doc_id")
                )
                fresh = batch.join(hot, "doc_id", "left_anti")
            else:
                fresh = batch
            fresh.write.mode("overwrite").parquet(batch_dir)
            fresh = spark.read.parquet(batch_dir)
        (
            _char_spans(fresh, with_pos=False)
            .select("h")
            .distinct()
            .write.mode("append")
            .parquet(index_path + "/spans")
        )
        os.makedirs(manifest_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E33
def stream_anomaly_gate(
    stream: DataFrame,
    baseline: DataFrame,
    out_dir: str,
):
    """Live traffic-anomaly routing: every micro-batch's hourly
    (event_type, day, hour) cells are scored against a STATIC
    hour-of-day baseline via the exact code path of the batch
    ``seasonal_anomaly`` detector (operators/events.py
    ``score_cells``), so live and backfill flags cannot diverge.
    Rows in flagged cells are quarantined; the rest are accepted —
    the spike/outage circuit-breaker in front of a training-data
    ingest, keeping a bot flood or an instrumentation bug from
    polluting the corpus while the normal tail keeps flowing.

    Per-batch cost: one aggregation of the batch (cells), one
    broadcast join against the tiny (types x 24) baseline, and one
    broadcast semi/anti join to route rows — no streaming state at
    all, because the baseline is static and cells are scored
    batch-locally. Outputs land under ``accepted/``, ``quarantine/``
    and the per-cell ``anomalies/`` monitor feed, each tagged with
    the batch id; exactly-once replay hardening would wrap the writes
    in the ``idempotent_sink`` marker recipe."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.events import (
        hourly_cells,
        score_cells,
    )

    # Streaming foreachBatch deliberately keeps localCheckpoint (not
    # pin()'s scratch placement): executor loss mid-batch fails
    # the micro-batch, and Structured Streaming's own checkpoint
    # replays it on restart — that IS the recovery path, whereas
    # keyless scratch-parquet state would accumulate unboundedly over
    # a long-running query.
    b = baseline.localCheckpoint()

    def gate(batch: DataFrame, batch_id: int) -> None:
        flagged = score_cells(hourly_cells(batch), b).localCheckpoint()
        flagged.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(os.path.join(out_dir, "anomalies"))
        keyed = batch.withColumn(
            "day", F.date_trunc("day", F.col("ts"))
        ).withColumn("hour", F.hour("ts"))
        cells = flagged.select("event_type", "day", "hour")
        tagged = lambda df: df.drop("day", "hour").withColumn(  # noqa: E731
            "batch_id", F.lit(batch_id)
        )
        tagged(
            keyed.join(F.broadcast(cells), ["event_type", "day", "hour"], "left_semi")
        ).write.mode("append").parquet(os.path.join(out_dir, "quarantine"))
        tagged(
            keyed.join(F.broadcast(cells), ["event_type", "day", "hour"], "left_anti")
        ).write.mode("append").parquet(os.path.join(out_dir, "accepted"))

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(gate)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E34
def stream_cms_monitor(stream: DataFrame, cells_dir: str):
    """Incremental Count-Min maintenance at ingest: each micro-batch's
    token counts collapse into a d x w cell table written under its
    ``batch_id=N`` partition — nothing else is touched, so a crash
    retry dynamically re-overwrites exactly its own partition
    (``ledger_ingest``'s idempotency recipe) and there is NO
    read-modify-write race on shared state. Because Count-Min cells
    are MERGEABLE (cell-wise sums), the reader (:func:`read_cms`)
    folds all batch partitions into the corpus sketch — identical,
    cell for cell, to rebuilding from scratch (the test pins this) —
    which is how a sketch over an unbounded stream stays d*w-sized
    while supporting exact-merge semantics across batches, backfills,
    and replays."""
    from cdk_serverless_data_lake_sandbox_spark.operators.analytics import (
        cms_cells,
        word_counts,
    )

    def update(batch: DataFrame, batch_id: int) -> None:
        (
            cms_cells(word_counts(batch))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(cells_dir)
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(update)
        .trigger(availableNow=True)
        .start()
    )


def read_cms(spark: SparkSession, cells_dir: str) -> DataFrame:
    """Fold the per-batch cell partitions into the corpus CMS."""
    return (
        spark.read.parquet(cells_dir)
        .groupBy("row_id", "bucket")
        .agg(F.sum("total").alias("total"))
    )


# ---------------------------------------------------------------- E35
def stream_ivf_ingest(stream: DataFrame, index_dir: str):
    """Incremental IVF vector-index maintenance at ingest — the
    embedding-side completion of the persisted-index maintainer
    family (bloom E29, minhash E31, charspan E32, CMS E34): each
    micro-batch of (vec_id, embedding) rows is assigned to its
    nearest stored coarse centroid and appended to the hive-
    partitioned member set, so ``ivf_index_query`` serves the fresh
    vectors immediately with the same partition-pruned probe reads.

    Bootstrap: when no quantizer exists yet, the first batch elects
    its lowest-vec_id vectors as centroids (the same deterministic
    seeding ``ivf_index_build`` uses) and every later batch quantizes
    against that frozen codebook — standard IVF practice: the coarse
    quantizer is trained once, membership grows forever; re-training
    is an offline rebuild, not an ingest-path concern.

    Replay safety without markers: members land under their own
    ``batch_id=N`` partition with DYNAMIC overwrite, so a crash-retry
    of batch N re-overwrites exactly batch N's partitions
    (``ledger_ingest``'s recipe); the assignment of a replayed batch
    is deterministic, so the rewrite is byte-equivalent. Queries
    prune on the ``cell`` partition level exactly as against a
    batch-built index."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _N_CENTROIDS,
        _dot,
        _norm,
    )

    cents_dir = os.path.join(index_dir, "centroids")
    members_dir = os.path.join(index_dir, "members")

    def ingest(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        batch = batch.dropDuplicates(["vec_id"])
        if not os.path.exists(os.path.join(cents_dir, "_SUCCESS")):
            (
                batch.orderBy("vec_id")
                .limit(_N_CENTROIDS)
                .select(
                    F.col("vec_id").alias("cent_id"),
                    F.col("embedding").alias("ce"),
                )
                .write.mode("overwrite")
                .parquet(cents_dir)
            )
        cents = spark.read.parquet(cents_dir)
        cos_c = _dot("embedding", "ce") / (_norm("embedding") * _norm("ce"))
        assign = (
            batch.crossJoin(F.broadcast(cents))
            .select("vec_id", "embedding", "cent_id", cos_c.alias("c_cos"))
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    "cent_id",
                    F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("nid")),
                ).alias("cell"),
                F.first("embedding").alias("embedding"),
            )
        )
        (
            assign.select(
                "vec_id",
                "embedding",
                _norm("embedding").alias("nrm"),
                F.lit(batch_id).alias("batch_id"),
                "cell",
            )
            .repartition("cell")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell")
            .parquet(members_dir)
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E36
def stream_hll_monitor(stream: DataFrame, registers_dir: str):
    """Incremental HyperLogLog maintenance at ingest: each
    micro-batch's per-type registers land under their ``batch_id=N``
    partition (dynamic overwrite — idempotent on retry, no shared
    read-modify-write), and the reader folds them by MAX — HLL's
    merge operator — into registers identical to a one-pass build.
    Pairs with E34's Count-Min maintainer: between them, the two
    engineered-oracle sketches (C103, C105) both run continuously at
    ingest with exact-merge semantics."""
    from cdk_serverless_data_lake_sandbox_spark.operators.analytics import (
        _HLL_M,
        _RHO_SQL,
        _hll_hash_spark,
    )

    def update(batch: DataFrame, batch_id: int) -> None:
        (
            batch.select(
                "event_type",
                _hll_hash_spark("CAST(user_id AS STRING)").alias("hv"),
            )
            .select(
                "event_type",
                (F.col("hv") % _HLL_M).alias("bucket"),
                F.expr(f"hv div {_HLL_M}").alias("w"),
            )
            .withColumn("rho", F.expr(_RHO_SQL))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("m_j"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(registers_dir)
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(update)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_registers(spark: SparkSession, registers_dir: str) -> DataFrame:
    """Fold per-batch register partitions by MAX into the corpus
    registers (event_type, bucket, m_j)."""
    return (
        spark.read.parquet(registers_dir)
        .groupBy("event_type", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )


# ---------------------------------------------------------------- E37
def stream_baseline_monitor(stream: DataFrame, cells_dir: str):
    """Continuously-maintained anomaly baseline: each micro-batch's
    hourly (event_type, day, hr, n) cells land under their
    ``batch_id=N`` partition (dynamic overwrite — idempotent replay);
    cells SUM-merge across batches (a batch split across two
    micro-batches contributes two partial cells that fold into the
    true count), and :func:`read_hourly_baseline` derives the
    (event_type, hr) mean/std baseline from the folded cells — proven
    equal to the batch ``hourly_baseline`` over the same events. With
    E33 this closes the anomaly loop end-to-end in streaming: the
    baseline grows with every batch, the gate scores against any
    snapshot of it."""
    from cdk_serverless_data_lake_sandbox_spark.operators.events import hourly_cells

    def update(batch: DataFrame, batch_id: int) -> None:
        (
            hourly_cells(batch)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(cells_dir)
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(update)
        .trigger(availableNow=True)
        .start()
    )


def read_hourly_baseline(spark: SparkSession, cells_dir: str) -> DataFrame:
    """Fold per-batch hourly cells (SUM over batch partials), then
    derive the per-(event_type, hour) baseline exactly as the batch
    ``hourly_baseline`` does from its one-pass cells."""
    cells = (
        spark.read.parquet(cells_dir)
        .groupBy("event_type", "day", "hr")
        .agg(F.sum("n").alias("n"))
    )
    return cells.groupBy("event_type", "hr").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )


# ---------------------------------------------------------------- E38
def stream_image_dedup_gate(
    stream: DataFrame,
    out_dir: str,
    index_dir: str,
    hamming_max: int = 8,
):
    """Near-duplicate IMAGE ingest gate: each micro-batch's payloads
    are dHashed (real PNG/GIF/JPEG decode), probed against the
    persisted hash index with the SimHash 16-bit-chunk band scheme
    (exact chunk match -> candidate, bit_count(xor) exact score), and
    admitted only when no indexed image sits within ``hamming_max``;
    admitted hashes append to the index under the batch's own
    ``batch_id=N`` partition (dynamic overwrite — idempotent retry,
    the E31/E34 recipe). The image-side member of the dedup-gate
    family: E12 exact text, E31 MinHash text, E32 char-span text —
    this one catches the same PICTURE re-encoded in another format,
    which no byte-level gate can. Within a batch, exact duplicate
    hashes collapse first (lowest doc_id wins)."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.multimodal import (
        image_dhash,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        sigs = image_dhash(batch).where(F.col("dhash").isNotNull())
        # collapse exact-hash dups within the batch (keep lowest id)
        sigs = (
            sigs.groupBy("dhash")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "dhash")
        )
        chunk_expr = ", ".join(
            f"named_struct('chunk', {c}, 'key', shiftright(dhash, {c * 16}) & 65535)"
            for c in range(4)
        )
        probe = sigs.select(
            "doc_id", "dhash", F.explode(F.expr(f"array({chunk_expr})")).alias("b")
        ).select("doc_id", "dhash", F.col("b.chunk").alias("chunk"), F.col("b.key").alias("key"))
        idx_path = os.path.join(index_dir, "bands")
        dup_ids = None
        if os.path.exists(os.path.join(idx_path, "_SUCCESS")) or any(
            p.startswith("batch_id=") for p in (os.listdir(idx_path) if os.path.isdir(idx_path) else [])
        ):
            # Probe only STRICTLY EARLIER batches: a crash-replayed batch N
            # must not see its own prior partial batch_id=N rows (every doc
            # matches itself at hamming 0, shrinking `fresh`, and the dynamic
            # overwrite would then silently drop previously admitted docs).
            # batch_id is the partition column, so this is a pruned read.
            idx = spark.read.parquet(idx_path).where(
                F.col("batch_id") < F.lit(batch_id)
            )
            dup_ids = (
                probe.join(
                    idx.select(
                        F.col("chunk").alias("ic"),
                        F.col("key").alias("ik"),
                        F.col("dhash").alias("ih"),
                    ),
                    (F.col("chunk") == F.col("ic")) & (F.col("key") == F.col("ik")),
                )
                .where(F.expr(f"bit_count(dhash ^ ih) <= {hamming_max}"))
                .select("doc_id")
                .distinct()
            )
        fresh = sigs if dup_ids is None else sigs.join(dup_ids, "doc_id", "left_anti")
        admitted = batch.join(fresh.select("doc_id"), "doc_id", "left_semi")
        admitted.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(os.path.join(out_dir, "admitted"))
        (
            fresh.select(
                "doc_id", "dhash",
                F.explode(F.expr(f"array({chunk_expr})")).alias("b"),
            )
            .select(
                "doc_id", "dhash",
                F.col("b.chunk").alias("chunk"), F.col("b.key").alias("key"),
                F.lit(batch_id).alias("batch_id"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(idx_path)
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(gate)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E39
def stream_graph_edges(stream: DataFrame, graph_dir: str):
    """Incremental co-purchase GRAPH maintenance at ingest — the
    graph-side member of the persisted-index maintainer family
    (bloom E29, minhash E31, charspan E32, CMS E34, IVF E35, HLL
    E36): each micro-batch of lineitem rows contributes (a) its own
    distinct (order, part) memberships, stored under ``lp/
    batch_id=N``, and (b) the EDGE DELTAS it creates — pairs among
    the batch's parts within an order plus pairs between batch parts
    and previously-stored parts of the SAME order (orders legally
    straddle micro-batches), stored under ``edges/batch_id=N``. Both
    writes are dynamic partition overwrites and the membership probe
    reads only ``batch_id < N`` (the E38 replay rule), so a crash
    retry recomputes byte-identical deltas and re-overwrites exactly
    its own partitions.

    The within-batch pairs expand IN-ROW from per-order part sets
    (the ``copurchase_edges`` build); the cross-batch pairs are one
    order-keyed join against the stored membership table — matching
    orders only, the join a runtime filter prunes to the batch's
    order set at scale. :func:`read_stream_graph` serves the same
    (src, dst, src_deg) contract as the batch build and is proven
    edge-identical to it (tested, including across a replay)."""
    import os

    def update(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        lp_new = (
            batch.select(
                F.col("l_orderkey").alias("okey"),
                F.col("l_partkey").alias("pkey"),
            )
            .distinct()
            .localCheckpoint()
        )
        sets = lp_new.groupBy("okey").agg(F.collect_set("pkey").alias("ps"))
        within = (
            sets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, x -> transform("
                        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))"
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
        )
        lp_dir = os.path.join(graph_dir, "lp")
        deltas = within
        if os.path.isdir(lp_dir) and any(
            p.startswith("batch_id=") for p in os.listdir(lp_dir)
        ):
            lp_old = (
                spark.read.parquet(lp_dir)
                .where(F.col("batch_id") < F.lit(batch_id))
                .select("okey", F.col("pkey").alias("old_pkey"))
            )
            cross = (
                lp_new.join(lp_old, "okey")
                .where(F.col("pkey") != F.col("old_pkey"))
                .select(F.col("pkey").alias("src"), F.col("old_pkey").alias("dst"))
            )
            deltas = within.unionByName(cross).unionByName(
                cross.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        deltas.distinct().withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(os.path.join(graph_dir, "edges"))
        lp_new.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(lp_dir)

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(update)
        .trigger(availableNow=True)
        .start()
    )


def read_stream_graph(spark: SparkSession, graph_dir: str) -> DataFrame:
    """Serve the streamed graph with the batch build's contract:
    distinct symmetrized edges with the source degree attached. Edge
    deltas may repeat across batches (the same pair can arise from
    different orders, and replays rewrite partitions); the distinct
    is the fold, exactly as summing folds the CMS cells."""
    import os

    from pyspark.sql import Window

    edges = (
        spark.read.parquet(os.path.join(graph_dir, "edges"))
        .select("src", "dst")
        .distinct()
    )
    w = Window.partitionBy("src")
    return edges.withColumn("src_deg", F.count("*").over(w))


# ---------------------------------------------------------------- E40
def stream_key_erasure(
    requests: DataFrame, table_path: str, key_col: str
):
    """Streaming right-to-erasure on DELETION VECTORS: each
    micro-batch of erasure requests (rows carrying ``key_col``)
    marks the matching positions of the static table in its ``_dv/``
    sidecar instead of rewriting data files — D10's anti-join rewrite
    deferred to ``dv_compact``, which is how a 100 TB table absorbs a
    daily trickle of GDPR requests without daily rewrites. DV entries
    land under ``_dv/batch_id=N`` with dynamic overwrite, so a crash
    replay re-overwrites exactly its own partition (byte-identical:
    positions are a pure function of table + keys); duplicate
    (file, pos) pairs across batches are harmless by construction —
    the reader applies vectors set-wise. An audit row (batch id,
    keys requested, positions marked) appends per batch — the
    compliance log an erasure pipeline must keep."""
    import os

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        keys = batch.select(F.col(key_col)).distinct()
        base = spark.read.parquet(table_path).select(
            F.col(key_col),
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.row_index").alias("pos"),
        )
        hits = base.join(F.broadcast(keys), key_col, "left_semi").select(
            "file", "pos"
        )
        hits = hits.localCheckpoint()
        hits.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(os.path.join(table_path, "_dv"))
        # audit rows share the batch_id-partition dynamic-overwrite
        # discipline: a crash replay re-overwrites its own row
        # instead of appending a duplicate to the compliance log
        audit = spark.createDataFrame(
            [(keys.count(), hits.count(), batch_id)],
            "n_keys long, n_positions long, batch_id long",
        )
        audit.coalesce(1).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(os.path.join(table_path, "_erasure_audit"))

    return (
        requests.writeStream.outputMode("append")
        .foreachBatch(apply)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E41
def stream_cdc_apply(
    envelopes: DataFrame, target_path: str, key_col: str, value_schema: str
):
    """Streaming CDC apply: each micro-batch of Debezium-style
    envelopes runs :func:`operators.etl.cdc_envelope_apply` against
    the target table — upserts replace by key, deletes anti-join
    away, lsn ordering nets within-batch churn. E5's upsert_sink
    handles the insert/update half; this is the full op set including
    DELETES, which an append-only sink cannot express. Replay safety
    is twofold: a committed batch short-circuits on its marker file
    (the E21 recipe), and even a crash BETWEEN swap and marker is
    safe because the apply is a state OVERWRITE by key — re-applying
    the same envelopes reproduces the identical table (keys set to
    the same values, deletes already absent), unlike an increment
    sink where replay double-counts."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        cdc_envelope_apply,
    )

    marker_dir = target_path + "_markers"

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return
        cdc_envelope_apply(
            batch.sparkSession, target_path, batch, key_col, value_schema
        )
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("done")

    return (
        envelopes.writeStream.outputMode("append")
        .foreachBatch(apply)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E43
def stream_ivm_join(
    stream: DataFrame, view_dir: str, key: str, side: str = "a"
):
    """Continuous maintenance of the D27 incremental join view: each
    micro-batch of new ``side`` rows appends its Δ-sized view delta
    (the other side stays committed state). D27's version-commit
    protocol makes a crash INSIDE a version invisible; replay safety
    ACROSS versions comes from the batch id stored inside the
    version's own commit marker (ivm_join_append's tag) — a replayed
    batch whose prior attempt committed is recognized and skipped,
    with no non-atomic second marker to crash between. With E39 this
    closes the streaming-maintainer family over derived artifacts:
    indexes (bloom/minhash/charspan/CMS/HLL/IVF), graphs, deletion
    vectors, CDC tables, and now materialized join views."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        ivm_join_append,
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # the batch id rides INSIDE the version's commit marker
        # (ivm_join_append's tag), so version commit and replay guard
        # are one atomic file — a separate marker-after-commit file
        # would leave a crash window in which the replay re-appends
        # the same delta under a fresh version
        kw = {"delta_a": batch} if side == "a" else {"delta_b": batch}
        ivm_join_append(
            batch.sparkSession, view_dir, key,
            tag=f"batch-{batch_id}", **kw,
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(apply)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- E44
def contamination_index_build(bench_docs: DataFrame, index_dir: str) -> int:
    """Build the persisted benchmark gram index the E44 gate probes:
    the DISTINCT word 5-gram hashes of the held-out benchmark docs
    (the C37/C123 gram convention — same shingle expression, same
    xxhash64), written once. Index size is benchmark-linear (8 bytes a
    gram), corpus-independent — the asymmetry that lets the gate
    broadcast it into every micro-batch. Returns the gram count."""
    from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
        contam_gram_hashes,
    )

    grams = (
        bench_docs.select(F.split(F.col("text"), " ").alias("_w"))
        .select(F.explode_outer(F.expr(contam_gram_hashes("_w"))).alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
    )
    grams.write.mode("overwrite").parquet(index_dir)
    return grams.sparkSession.read.parquet(index_dir).count()


def stream_contamination_gate(
    stream: DataFrame, index_dir: str, out_dir: str, quarantine_dir: str
):
    """Benchmark-contamination ingest gate (the streaming half of
    C37/C123): each micro-batch's documents are gram-hashed with the
    shared 5-gram convention and semi-joined against the PERSISTED
    benchmark index (D29's `contamination_index_build`); overlapping
    docs land in ``quarantine`` (full rows, for audit/strip-review),
    clean docs are admitted to ``out``. The eval suite must never
    leak into a training corpus through the streaming door when the
    batch pipeline already guards the batch door.

    The gate is STATELESS (the index is read-only here; re-crawling
    the benchmark is an explicit rebuild) — so replay safety needs no
    marker protocol: both sinks land under ``batch_id=N`` with
    overwrite, and a replayed batch overwrites its own output
    byte-identically. Cost per batch: one gram explode of the batch +
    one broadcast semi join; the corpus is never rescanned."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
        contam_gram_hashes,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        index = spark.read.parquet(index_dir)
        grams = contam_gram_hashes("_w")
        hit_ids = (
            # _w is a Project below the Generate, so the split runs
            # once per row, not once per gram (the lambda references
            # a materialized column, not the split expression)
            batch.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
            .select("doc_id", F.explode_outer(F.expr(grams)).alias("g"))
            .where(F.col("g").isNotNull())
            .join(F.broadcast(index), "g", "left_semi")
            .select("doc_id")
            .distinct()
        )
        dirty = batch.join(hit_ids, "doc_id", "left_semi")
        clean = batch.join(hit_ids, "doc_id", "left_anti")
        clean.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        dirty.write.mode("overwrite").parquet(
            os.path.join(quarantine_dir, f"batch_id={batch_id}")
        )

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E45
def stream_boilerplate_gate(
    stream: DataFrame, state_dir: str, out_dir: str
):
    """Streaming half of the C124 boilerplate stripper: a persisted
    (source, prefix) count state accumulates across micro-batches, and
    a doc whose word-{4}-prefix has been seen by >= the C124 threshold
    docs of its source — across ALL admitted traffic so far plus the
    current batch — lands with its header stripped. Late copies of a
    banner that only becomes hot in batch N are stripped from batch N
    on, which is the streaming analog of C124's corpus-wide count.

    Replay safety WITHOUT count-merge hazards (counts, unlike the
    bloom gate's bit_or, are not idempotent under re-merge): the state
    is a DIRECTORY OF PER-BATCH COUNT DELTAS, each written with
    overwrite under ``counts/batch_id=N`` — a replayed batch rewrites
    its own delta byte-identically instead of double-adding. The hot
    set is aggregated from the delta tree at probe time (delta count
    grows with batches; a compaction pass can collapse them the
    minhash_index_compact way). Output lands under ``batch_id=N``
    overwrite too, so the whole gate is marker-free idempotent.

    At-least-once note: a re-delivered doc inflates its prefix's
    count by one. Unlike the E46 cap or E48 reservoir (hard budget /
    slot semantics, which carry id-level guards since r9), this state
    feeds a >= threshold HEURISTIC — inflation can only strip a
    banner slightly earlier, never corrupt a budget — so the
    bounded-id-set guard is deliberately not paid here."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
        _BP_K,
        _BP_MIN,
    )

    counts_dir = os.path.join(state_dir, "counts")

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        p = batch.select(
            "*",
            F.concat_ws(
                " ", F.slice(F.split(F.col("text"), " "), 1, _BP_K)
            ).alias("_pre"),
        )
        delta = p.groupBy("source", "_pre").count()
        delta.write.mode("overwrite").parquet(
            os.path.join(counts_dir, f"batch_id={batch_id}")
        )
        # hot set over every delta INCLUDING the one just written —
        # batch-internal repeats count toward the threshold, like the
        # batch operator's corpus-wide aggregation
        all_counts = spark.read.parquet(counts_dir)
        hot = (
            all_counts.groupBy("source", "_pre")
            .agg(F.sum("count").alias("_n"))
            .where(F.col("_n") >= _BP_MIN)
            .select("source", "_pre", F.lit(True).alias("_bp"))
        )
        stripped = (
            p.join(hot, ["source", "_pre"], "left")
            .withColumn(
                "text",
                F.when(
                    F.col("_bp"),
                    F.array_join(
                        F.expr(
                            f"slice(split(text, ' '), {_BP_K + 1},"
                            f" greatest(size(split(text, ' ')) - {_BP_K}, 0))"
                        ),
                        " ",
                    ),
                ).otherwise(F.col("text")),
            )
            .withColumn("boilerplate", F.coalesce(F.col("_bp"), F.lit(False)))
            .drop("_pre", "_bp")
        )
        stripped.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return stream.writeStream.foreachBatch(gate)



def _committed_batch_dirs(path: str, before: int) -> list[str]:
    """Delta-tree directories committed STRICTLY BEFORE ``before`` —
    the read guard every strictly-prior-state gate needs: a crash can
    leave the tree root existing with zero committed ``batch_id=``
    children (only _temporary debris), and a bare
    ``spark.read.parquet(root)`` then fails schema inference on every
    replay instead of self-healing (r8 session review)."""
    import os

    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("batch_id="):
            try:
                bid = int(d.split("=", 1)[1])
            except ValueError:
                continue
            if bid < before:
                out.append((bid, os.path.join(path, d)))
    # numeric order, NOT lexicographic: 'batch_id=9' > 'batch_id=10' as
    # strings, so a lexicographic sort would hand E48's [-1] "newest
    # snapshot" pick a stale batch once ids reach double digits (r8
    # advice) — silently re-folding from batch 9 forever after.
    out.sort(key=lambda t: t[0])
    return [p for _, p in out]


# ---------------------------------------------------------------- E46
def stream_domain_cap_gate(stream: DataFrame, state_dir: str, out_dir: str):
    """Streaming half of the C127 domain frequency cap: admit a
    document only while its source's ADMITTED total (across every
    prior micro-batch plus earlier-priority docs in this batch) is
    under the cap — the ingest-time guard that stops one exploding
    domain from swamping a corpus between offline re-mixes. Within a
    batch, admission order is the same deterministic md5
    priority as the batch operator, so a burst of one domain admits a
    stable pseudo-random subset, not arrival order.

    At-least-once safety (r9): within-batch duplicate doc_ids
    collapse deterministically before ranking, and docs a PRIOR batch
    already admitted anti-join away against the admitted-id snapshot
    (bounded by cap x sources — the set cannot outgrow the caps it
    enforces), so re-delivery can neither double-admit nor burn a
    source's budget twice.

    Replay safety (the E45 per-batch-delta recipe, with one twist):
    admitted counts persist as one overwrite-written delta per batch
    under ``admitted/batch_id=N``, and batch N's admissions read ONLY
    deltas with ``batch_id < N`` — its own replay then recomputes the
    identical decision set from identical prior state instead of
    seeing its first attempt's counts (counts are not idempotent
    under re-merge). Output lands overwrite under ``batch_id=N`` too:
    the whole gate is marker-free idempotent. The delta tree is a
    directory listing away from any object store; compaction can
    collapse old batches the minhash_index_compact way."""
    import os

    from pyspark.sql.window import Window as PWindow

    from cdk_serverless_data_lake_sandbox_spark.operators.curation import _DFC_CAP

    counts_dir = os.path.join(state_dir, "admitted")
    ids_dir = os.path.join(state_dir, "admitted_ids")

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        prior_dirs = _committed_batch_dirs(counts_dir, batch_id)
        if prior_dirs:
            prior = (
                spark.read.parquet(*prior_dirs)
                .groupBy("source")
                .agg(F.sum("n_admitted").alias("_prior"))
            )
        else:
            prior = None
        from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
            md5_priority,
        )

        # at-least-once guards (r9, mirroring E47/E48): collapse
        # within-batch duplicate doc_ids deterministically (min
        # payload), and anti-join docs ALREADY ADMITTED by a prior
        # batch — the admitted-id set is bounded by cap x sources, so
        # it persists as a full snapshot per batch (E48 recipe).
        batch = (
            batch.groupBy("doc_id")
            .agg(F.min(F.struct("source", "text")).alias("_s"))
            .select("doc_id", "_s.source", "_s.text")
        )
        ids_dirs = _committed_batch_dirs(ids_dir, batch_id)
        prior_ids = (
            spark.read.parquet(ids_dirs[-1]) if ids_dirs else None
        )
        if prior_ids is not None:
            batch = batch.join(
                prior_ids.select("doc_id"), "doc_id", "left_anti"
            )
        p = batch.withColumn("_priority", md5_priority("dfc"))
        w = PWindow.partitionBy("source").orderBy("_priority", "doc_id")
        ranked = p.withColumn("_rk", F.row_number().over(w))
        if prior is not None:
            ranked = ranked.join(prior, "source", "left")
        else:
            ranked = ranked.withColumn("_prior", F.lit(None).cast("long"))
        admitted = (
            ranked.withColumn(
                "keep_rank", F.coalesce(F.col("_prior"), F.lit(0)) + F.col("_rk")
            )
            .where(F.col("keep_rank") <= _DFC_CAP)
            .drop("_priority", "_rk", "_prior")
        )
        delta = admitted.groupBy("source").agg(
            F.count("*").alias("n_admitted")
        )
        delta.write.mode("overwrite").parquet(
            os.path.join(counts_dir, f"batch_id={batch_id}")
        )
        new_ids = admitted.select("doc_id")
        if prior_ids is not None:
            new_ids = prior_ids.select("doc_id").unionByName(new_ids)
        new_ids.write.mode("overwrite").parquet(
            os.path.join(ids_dir, f"batch_id={batch_id}")
        )
        admitted.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E47
def stream_knn_insert(stream: DataFrame, index_dir: str, out_dir: str):
    """Incremental node insertion into the D30 persisted kNN graph —
    the maintenance half of a graph ANN index (a full NN-Descent
    re-run per arriving vector would be absurd; this is the
    insert-by-search recipe every navigable-graph index uses): each
    new vector beam-searches the CURRENT graph for its k nearest,
    links to them, and becomes reachable via the mirrored reverse
    edges. Base ``edges/`` are never rewritten — inserts land as
    per-batch deltas the next search unions in, and a periodic
    NN-Descent rebuild (D30) is the compaction that restores the
    degree bound the reverse edges erode.

    Replay safety (the E46 strictly-prior recipe): batch N searches
    base + deltas with ``batch_id < N`` only and writes its own edge
    and vector deltas overwrite under ``batch_id=N`` — a replay
    recomputes identical links from identical prior state. Intra-batch
    arrivals don't see each other (they search the pre-batch graph);
    the format stamp refuses indexes built under other parameters."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _KNN_K,
        _beam_search,
        _knn_index_check,
        _norm,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        stamp = _knn_index_check(index_dir)
        graph = spark.read.parquet(os.path.join(index_dir, "edges")).select(
            "src", "dst", "cosine"
        )
        ev = spark.read.parquet(os.path.join(index_dir, "vectors")).select(
            "vec_id", "embedding", "nrm"
        )
        e_delta_dir = os.path.join(index_dir, "edges_delta")
        v_delta_dir = os.path.join(index_dir, "vectors_delta")
        # guard each tree independently: a crash between the two delta
        # writes must not wedge the replay (r8 session review)
        e_dirs = _committed_batch_dirs(e_delta_dir, batch_id)
        v_dirs = _committed_batch_dirs(v_delta_dir, batch_id)
        if e_dirs:
            graph = graph.unionByName(
                spark.read.parquet(*e_dirs).select("src", "dst", "cosine")
            )
        if v_dirs:
            ev = ev.unionByName(
                spark.read.parquet(*v_dirs).select("vec_id", "embedding", "nrm")
            )
        # at-least-once guard (mirrors the E48 dedup): a vec_id
        # re-delivered in a later batch must not write a second
        # vectors_delta row — the vec_id-keyed scoring join would then
        # count that node twice per beam expansion and skew every
        # subsequent cut. First delivery stays canonical.
        batch = (
            batch.join(ev.select("vec_id"), "vec_id", "left_anti")
            # within-batch duplicates (one trigger folding two files)
            # must also collapse; min over the array column keeps the
            # choice deterministic if payloads ever differ
            .groupBy("vec_id")
            .agg(F.min("embedding").alias("embedding"))
        ).localCheckpoint()
        if batch.isEmpty():
            return
        q = batch.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
            _norm("embedding").alias("qn"),
        )
        found = _beam_search(
            graph, ev, q, entry=int(stamp["entry"]), k=_KNN_K
        ).localCheckpoint()
        out = found.select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"),
            "cosine",
        )
        back = found.select(
            F.col("neighbor_id").alias("src"), F.col("query_id").alias("dst"),
            "cosine",
        )
        # vectors land first: an edge delta must never reference a
        # vector the crash lost (the reverse order would)
        batch.select(
            "vec_id", "embedding", _norm("embedding").alias("nrm")
        ).write.mode("overwrite").parquet(
            os.path.join(v_delta_dir, f"batch_id={batch_id}")
        )
        out.unionByName(back).write.mode("overwrite").parquet(
            os.path.join(e_delta_dir, f"batch_id={batch_id}")
        )
        found.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E48
_RES_SIZE = 8  # reservoir slots per source


def stream_reservoir_sample(stream: DataFrame, state_dir: str, out_dir: str):
    """Bounded per-source UNIFORM sample over an unbounded stream —
    the eval-set / monitoring sampler. E46's cap gate admits the
    first N by priority and then closes; a reservoir stays uniform
    over EVERYTHING seen, so a late arrival can evict an early one.
    Determinism replaces randomness the usual way here: the reservoir
    is the _RES_SIZE lowest md5 priorities seen so far —
    exactly a uniform random sample under the hash, reproducible
    across runs, engines, and arrival orders of equal content.

    State is a FULL reservoir snapshot per batch (bounded:
    sources x slots rows), written overwrite under
    ``reservoir/batch_id=N``; batch N folds the newest snapshot with
    ``batch_id < N`` into its arrivals and writes its own snapshot +
    the same rows to the output tree. Replay recomputes byte-identical
    snapshots from strictly-prior state (the E46 recipe). Snapshots,
    unlike count deltas, also make reads O(1): the current sample is
    ONE partition, no delta-tree fold."""
    import os

    from pyspark.sql.window import Window as PWindow

    res_dir = os.path.join(state_dir, "reservoir")

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
            md5_priority,
        )

        # within-batch duplicate doc_ids collapse deterministically
        # (min payload) before ranking — two copies in one trigger
        # must not occupy two reservoir slots (r9, the E47 guard)
        arrivals = (
            batch.groupBy("doc_id")
            .agg(F.min(F.struct("source", "text")).alias("_s"))
            .select(
                "doc_id", "_s.source", "_s.text",
                md5_priority("rsv").alias("priority"),
            )
        )
        snap_dirs = _committed_batch_dirs(res_dir, batch_id)
        if snap_dirs:
            snapshot = spark.read.parquet(snap_dirs[-1]).select(
                "doc_id", "source", "text", "priority"
            )
            # a re-delivered doc must not occupy two slots, and the
            # FIRST-admitted copy stays canonical: arrivals already in
            # the snapshot are dropped before the union (r8 review)
            arrivals = snapshot.unionByName(
                arrivals.join(
                    snapshot.select("doc_id"), "doc_id", "left_anti"
                )
            )
        w = PWindow.partitionBy("source").orderBy("priority", "doc_id")
        reservoir = (
            arrivals.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= _RES_SIZE)
            .drop("_rk")
        )
        reservoir.write.mode("overwrite").parquet(
            os.path.join(res_dir, f"batch_id={batch_id}")
        )
        reservoir.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E49
def stream_tokenize_gate(stream: DataFrame, index_dir: str, out_dir: str):
    """Ingest-time tokenization against the D31 persisted unigram-LM
    tokenizer: every arriving document lands already segmented, with
    its piece count and piece-LM log-prob (the subword perplexity
    signal downstream quality gates bucket on) — so the corpus's
    tokenized form is maintained AS data arrives instead of by a
    full-corpus batch pass per training run.

    Stateless-idempotent (the E44 recipe): the output is a pure
    function of the batch and the immutable artifact, written
    overwrite under ``batch_id=N`` — replays rewrite byte-identical
    shards, no cross-batch state to corrupt. The format stamp refuses
    a tokenizer trained under other parameters loudly."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        tokenizer_apply_indexed,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        out = tokenizer_apply_indexed(
            batch.sparkSession, index_dir, batch
        ).localCheckpoint()
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E50
_KC_MAX = 8           # center budget (K)
_KC_R0 = 1.0          # initial covering radius (squared-distance units)
_KC_FOLD_MAX = 4096   # driver-fold guard: survivors above this re-double


def stream_kcenter_maintain(stream: DataFrame, state_dir: str, out_dir: str):
    """Streaming k-center coverage maintainer — the ONLINE half of the
    C137 coreset (Charikar et al. doubling algorithm, run on SQUARED
    L2): keep <= K centers and a working radius R; an arrival farther
    than R from every center becomes a center, and when the budget
    overflows, R doubles and centers within the new R of an earlier
    center merge away.

    Coverage contract (what radius2 in the snapshot MEANS): squared
    distances do not satisfy the triangle inequality, so a merge that
    drops a center does NOT keep its points within the new R — each
    doubling can at most quadruple the true squared covering radius
    of forgotten points ((a+b)^2 <= 2a^2+2b^2 applied per merge
    chain). The guarantee is therefore the COMPOUNDED bound the E50
    test pins: every vector ever seen lies within a bounded factor
    (16x at the test's doubling depth; 4^d after d doublings past
    its admission) of the final radius2 — not within radius2 itself.
    Readers needing a true covering radius must scale radius2 by 4
    per doubling (the admissions log carries radius2 per batch, so
    the doubling count is log2(radius2 / _KC_R0)) or re-assign
    against the centers (C138). The curation use: a live,
    bounded geometric summary of an unbounded embedding stream (eval
    seeding, drift sentinels) without re-running the batch selector.

    Within-batch determinism: arrivals fold in vec_id order, so
    replays and arrival-order permutations of equal content produce
    identical state. The fold is NOT corpus-sized: a distributed
    anti-coverage pass first drops every arrival within R of the
    batch-start centers (the overwhelmingly common case at steady
    state — one in-row argmin against <= K inlined centers, the C138
    shape); only the novel survivors collect to the driver, and a
    guard re-doubles R wholesale if they exceed _KC_FOLD_MAX (which
    is exactly what the doubling algorithm would do to them anyway).

    Replay safety (the E48 full-snapshot recipe): batch N reads the
    newest state snapshot with ``batch_id < N`` (numeric order) and
    overwrite-writes its own ``centers/batch_id=N`` snapshot
    (center_id, embedding, radius2 — bounded: <= K rows) plus a
    per-batch admissions log to the output tree."""
    import os

    cen_dir = os.path.join(state_dir, "centers")

    def _d2(a, b) -> float:
        return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        snap_dirs = _committed_batch_dirs(cen_dir, batch_id)
        if snap_dirs:
            rows = spark.read.parquet(snap_dirs[-1]).collect()
            radius = float(rows[0].radius2) if rows else _KC_R0
            centers = [(int(r.center_id), list(r.embedding)) for r in rows]
        else:
            radius, centers = _KC_R0, []

        def survivors(frame: DataFrame, cens, rad) -> DataFrame:
            """Distributed anti-coverage pass: arrivals NOT within
            rad of any center in ``cens`` (in-row argmin against
            inlined centers — no join, no shuffle)."""
            if not cens:
                return frame
            dists = [
                F.expr(
                    "aggregate(zip_with(embedding, array({lits}),"
                    " (x, y) -> (CAST(x AS DOUBLE) - y)"
                    " * (CAST(x AS DOUBLE) - y)),"
                    " 0.0d, (acc, v) -> acc + v)".format(
                        lits=", ".join(
                            f"CAST({float(v)} AS DOUBLE)" for v in emb
                        )
                    )
                )
                for _, emb in cens
            ]
            # F.least needs >= 2 columns; a one-center state is legal
            mind = dists[0] if len(dists) == 1 else F.least(*dists)
            return frame.where(mind > F.lit(rad))

        novel = survivors(
            batch.select("vec_id", "embedding"), centers, radius
        ).orderBy("vec_id")
        cand = novel.limit(_KC_FOLD_MAX + 1).collect()
        while len(cand) > _KC_FOLD_MAX:
            radius *= 2.0
            centers = _kc_merge(centers, radius, _d2)
            novel = survivors(
                batch.select("vec_id", "embedding"), centers, radius
            ).orderBy("vec_id")
            cand = novel.limit(_KC_FOLD_MAX + 1).collect()

        admitted = []
        for r in cand:
            vid, emb = int(r.vec_id), list(r.embedding)
            if any(_d2(emb, ce) <= radius for _, ce in centers):
                continue  # covered by a center admitted earlier this batch
            centers.append((vid, emb))
            admitted.append(vid)
            while len(centers) > _KC_MAX:
                radius *= 2.0
                centers = _kc_merge(centers, radius, _d2)

        spark.createDataFrame(
            [(cid, emb, radius) for cid, emb in centers],
            "center_id long, embedding array<float>, radius2 double",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(cen_dir, f"batch_id={batch_id}")
        )
        # an admission can be merged away by a later doubling in the
        # SAME batch; the log lists only admissions that survived, so
        # it always joins cleanly against the paired snapshot
        final_ids = {cid for cid, _ in centers}
        admitted = [v for v in admitted if v in final_ids]
        spark.createDataFrame(
            [(batch_id, v, radius) for v in admitted]
            or [(batch_id, None, radius)],
            "batch_id long, admitted_center long, radius2 double",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return stream.writeStream.foreachBatch(gate)


def _kc_merge(centers, radius, d2):
    """Doubling-step merge: keep a center only if it is farther than
    ``radius`` from every KEPT earlier center (vec_id order — the
    same deterministic greedy as admission)."""
    kept: list = []
    for cid, emb in sorted(centers, key=lambda t: t[0]):
        if all(d2(emb, ke) > radius for _, ke in kept):
            kept.append((cid, emb))
    return kept


# ---------------------------------------------------------------- E52
def stream_semantic_dedup_gate(
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    min_cosine: float = 0.9,
    probes: int = 4,
):
    """Semantic (embedding-level) near-dup ingest gate — the E31
    recipe at the embedding tier, completing the ingest-gate family
    (text exact E12 / MinHash E31 / char-span E32 / image E38): each
    micro-batch of (vec_id, embedding) rows (1) quantizes against the
    persisted IVF coarse centroids (C86's layout; bootstrap elects
    them from the first batch, the E35 recipe), (2) probes its
    ``probes`` nearest stored cells — a PARTITION-PRUNED members read,
    never the full index — and drops arrivals whose exact cosine
    against any ADMITTED vector clears ``min_cosine``, (3) appends the
    survivors (with norms) to the cell-partitioned members tree, so
    later batches dedup against everything admitted so far. Each
    vector is embedded once, ever; batch cost is batch-sized times
    probes/cells of the index.

    Composes with a C86 ``ivf_index_build`` artifact: point it at an
    existing index and the gate probes + grows that index in place
    (same centroids/members layout, same ``nrm`` column). NOT for
    E35's batch_id-partitioned ingest tree — that maintainer has no
    admit decision, this gate owns its members layout.

    Within a batch, exact vec_id dropDuplicates runs first;
    batch-internal near-dup pairs are admitted together (the E31
    caveat — run a batch self-join or a compaction pass if that
    matters). Batch-retry safety is the full E31 protocol: output
    lands under ``batch_id=N`` with overwrite, a marker commits LAST,
    a retry that finds completed output reuses the stored admit
    decision instead of re-deciding against the already-grown index
    (which would drop the whole batch as self-duplicates), and the
    members append anti-joins vec_ids the index already holds so a
    crash loop never accumulates duplicate member rows."""
    import os

    from pyspark.sql import Window

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _N_CENTROIDS,
        _dot,
        _norm,
    )

    cents_dir = os.path.join(index_dir, "centroids")
    members_dir = os.path.join(index_dir, "members")
    manifest_dir = os.path.join(index_dir, "manifest")

    def gate(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        marker = os.path.join(manifest_dir, f"batch_{batch_id}")
        if os.path.exists(marker):
            return
        spark = batch.sparkSession
        batch_dir = os.path.join(out_dir, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(batch_dir, "_SUCCESS")):
            fresh = spark.read.parquet(batch_dir)
        else:
            batch = batch.dropDuplicates(["vec_id"])
            if not os.path.exists(os.path.join(cents_dir, "_SUCCESS")):
                (
                    batch.orderBy("vec_id")
                    .limit(_N_CENTROIDS)
                    .select(
                        F.col("vec_id").alias("cent_id"),
                        F.col("embedding").alias("ce"),
                    )
                    .write.mode("overwrite")
                    .parquet(cents_dir)
                )
            if os.path.exists(members_dir):
                cents = spark.read.parquet(cents_dir)
                cos_c = _dot("embedding", "ce") / (
                    _norm("embedding") * _norm("ce")
                )
                probe = (
                    batch.crossJoin(F.broadcast(cents))
                    .select(
                        "vec_id", "embedding",
                        F.col("cent_id"), cos_c.alias("c_cos"),
                    )
                    .withColumn(
                        "pr",
                        F.row_number().over(
                            Window.partitionBy("vec_id").orderBy(
                                F.desc("c_cos"), "cent_id"
                            )
                        ),
                    )
                    .where(F.col("pr") <= probes)
                    .select(
                        "vec_id",
                        F.col("embedding").alias("eq"),
                        _norm("embedding").alias("nq"),
                        F.col("cent_id").alias("cell"),
                    )
                )
                # bounded probed-cell set -> PARTITION-pruning
                # predicate on the members scan (ivf_index_query's
                # move): the gate reads probes/cells of the index,
                # not the corpus
                cells = sorted(
                    r["cell"] for r in probe.select("cell").distinct().collect()
                )
                members = (
                    spark.read.parquet(members_dir)
                    .where(F.col("cell").isin(cells))
                    .withColumnRenamed("vec_id", "member_id")
                )
                cosine = _dot("eq", "embedding") / (F.col("nq") * F.col("nrm"))
                # NaN guard (r10 review): a zero-norm vector on either
                # side makes cosine 0/0 = NaN, and Spark orders NaN
                # ABOVE every number, so a bare >= would count it as a
                # duplicate hit — one zero vector in a cell would then
                # silently reject every later arrival probing it.
                # Degenerate vectors are never near-dup evidence.
                dups = (
                    F.broadcast(probe)
                    .join(members, "cell")
                    .where((~F.isnan(cosine)) & (cosine >= F.lit(min_cosine)))
                    .select("vec_id")
                    .distinct()
                )
                fresh = batch.join(dups, "vec_id", "left_anti")
            else:
                fresh = batch
            fresh.write.mode("overwrite").parquet(batch_dir)
            fresh = spark.read.parquet(batch_dir)
        cents = spark.read.parquet(cents_dir)
        cos_c = _dot("embedding", "ce") / (_norm("embedding") * _norm("ce"))
        assign = (
            fresh.crossJoin(F.broadcast(cents))
            .select("vec_id", "embedding", "cent_id", cos_c.alias("c_cos"))
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    "cent_id",
                    F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("nid")),
                ).alias("cell"),
                F.first("embedding").alias("embedding"),
            )
        )
        if os.path.exists(members_dir):
            # replay guard, CELL-PRUNED (r10 review): centroids are
            # frozen after bootstrap, so a replayed vec_id re-assigns
            # to the same cell its prior member row lives in — the
            # duplicate check only needs the batch's own cells, not a
            # full-index scan per micro-batch (the op's cost contract
            # is batch-sized x probes/cells).
            own_cells = sorted(
                r["cell"] for r in assign.select("cell").distinct().collect()
            )
            already = (
                spark.read.parquet(members_dir)
                .where(F.col("cell").isin(own_cells))
                .join(
                    F.broadcast(assign.select("vec_id")), "vec_id", "left_semi"
                )
                .select("vec_id")
                .distinct()
            )
            assign = assign.join(already, "vec_id", "left_anti")
        (
            assign.select(
                "vec_id", "embedding", _norm("embedding").alias("nrm"), "cell"
            )
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(members_dir)
        )
        os.makedirs(manifest_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("committed")

    return stream.writeStream.foreachBatch(gate)


# ---------------------------------------------------------------- E53
def stream_source_tvd_monitor(stream: DataFrame, counts_dir: str):
    """Continuous source-drift monitoring at ingest — C144's
    total-variation report served from streamed state: each
    micro-batch's (source, word) count deltas land under their own
    ``batch_id=N`` partition (dynamic overwrite — a crash retry
    re-overwrites exactly its own partition, the E34/E36 mergeable-
    sketch recipe; no read-modify-write on shared state), and
    :func:`read_source_tvd` folds all partitions by SUM into exactly
    the counts frame the batch op builds — so the streamed TVD report
    is bit-identical to running C144 over the union of every batch
    (test-pinned). Within a batch, exact doc_id dropDuplicates runs
    first; cross-batch re-delivery of the same doc_id double-counts
    (counts are sum-merged — route at-least-once sources through an
    E12/E31-style admit gate first if that matters)."""

    def update(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
            source_word_counts,
        )

        (
            source_word_counts(batch.dropDuplicates(["doc_id"]))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(counts_dir)
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(update)
        .trigger(availableNow=True)
        .start()
    )


def read_source_tvd(spark: SparkSession, counts_dir: str) -> DataFrame:
    """Fold the per-batch count deltas by SUM and serve C144's TVD
    report over them (identical to the one-pass batch build)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
        source_tvd_report,
    )

    wc = (
        spark.read.parquet(counts_dir)
        .groupBy("source", "word")
        .agg(F.sum("a").cast("bigint").alias("a"))
    )
    return source_tvd_report(wc)


# ---------------------------------------------------------------- E54
def inspect_stream_state(
    spark: SparkSession, checkpoint_dir: str, **options
) -> DataFrame:
    """Read a Structured Streaming checkpoint's STATE STORE as a
    DataFrame (Spark's ``statestore`` data source): the typed
    key/value rows Spark keeps per stateful operator — windows
    mid-aggregation, dedup horizons, join buffers — become queryable
    like any table, WITHOUT touching the running job. The ops
    debugging primitive behind "why is this watermark not evicting" /
    "which keys hold the state": pass ``batchId``/``operatorId``/
    ``storeName`` through ``options`` to pin a snapshot (defaults:
    latest committed batch, operator 0)."""
    reader = spark.read.format("statestore")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(checkpoint_dir)


def stream_state_profile(
    spark: SparkSession, checkpoint_dir: str, **options
) -> DataFrame:
    """Per-partition state-row counts plus each partition's share —
    the SKEW triage view over :func:`inspect_stream_state` (a hot key
    group concentrating state on one partition is the streaming twin
    of a skewed shuffle key; this is where it becomes visible)."""
    from pyspark.sql import Window

    st = inspect_stream_state(spark, checkpoint_dir, **options)
    per = st.groupBy("partition_id").agg(
        F.count("*").cast("bigint").alias("n_keys")
    )
    # the window runs over the PARTITION-count-bounded aggregate
    # (shuffle-partition cardinality, never key cardinality)
    # integer-exact share (round_rat; r11 rounding-audit class)
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import round_rat

    return (
        per.select(
            "partition_id",
            "n_keys",
            F.sum("n_keys").over(Window.partitionBy()).alias("_tot"),
        )
        .select(
            "partition_id",
            "n_keys",
            round_rat("n_keys", "_tot", 4).alias("share"),
        )
        .orderBy("partition_id")
    )


# ---------------------------------------------------------------- E-maint
def vacuum_batch_snapshots(path: str, keep_last: int = 3) -> list[int]:
    """Retention for FULL-SNAPSHOT state trees (E46 admitted-ids, E48
    reservoir, E50 centers): every batch leaves a complete snapshot,
    so only the newest matters for correctness — older ones exist for
    replay of in-flight batches and for audit. Drops all but the
    newest ``keep_last`` committed snapshots (numeric batch order, the
    r9 sort discipline) and returns the batch ids removed.

    Safe bound: Structured Streaming replays at most the LAST
    uncommitted batch, which reads strictly-prior state — so
    keep_last >= 2 always preserves what any replay can ask for;
    the default keeps one more for audit headroom. NOT for per-batch
    DELTA trees (E45 counts, E47 edge deltas) — those fold history
    and need the compaction path instead."""
    import os
    import shutil

    if not os.path.isdir(path):
        return []
    snaps = []
    for d in os.listdir(path):
        if d.startswith("batch_id="):
            try:
                snaps.append(int(d.split("=", 1)[1]))
            except ValueError:
                continue
    snaps.sort()
    drop = snaps[:-keep_last] if keep_last > 0 else snaps
    for bid in drop:
        shutil.rmtree(os.path.join(path, f"batch_id={bid}"), ignore_errors=True)
    return drop
