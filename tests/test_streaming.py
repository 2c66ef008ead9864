"""Streaming jobs validated against their batch twins: the same
aggregation run as a micro-batched stream and as a batch query must
agree (Spark's unified semantics, used here as the oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
    read_event_stream,
    stream_dedup,
    stream_sessionize,
    windowed_counts,
)

from tests.conftest import SF_SMALL, await_stream_done, count_jobs


@pytest.fixture(scope="module")
def event_drop_dir(tmp_path_factory):
    """Events written as several files to exercise multi-batch
    triggers."""
    spark_dir = tmp_path_factory.mktemp("events_stream")
    return str(spark_dir)


def _prepare(spark, path, dup=False):
    ev = load_tables(spark, SF_SMALL, ("events",))["events"]
    src = ev.unionAll(ev) if dup else ev
    src.repartition(8).write.mode("overwrite").parquet(path)
    return ev


def _run_to_memory(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    return q


def test_windowed_counts_match_batch(spark, event_drop_dir):
    ev = _prepare(spark, event_drop_dir + "/w")
    stream = read_event_stream(spark, event_drop_dir + "/w")
    _run_to_memory(windowed_counts(stream), "win_counts", "complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 2))
        for r in spark.table("win_counts").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 2))
        for r in (
            ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
            .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "total_value")
            .collect()
        )
    }
    assert got == expected


def test_stream_dedup_drops_exact_copies(spark, event_drop_dir):
    ev = _prepare(spark, event_drop_dir + "/d", dup=True)
    stream = read_event_stream(spark, event_drop_dir + "/d")
    _run_to_memory(stream_dedup(stream), "dedup_out", "append")
    out = spark.table("dedup_out")
    assert out.count() == ev.count()  # each duplicated id kept once
    assert out.select("event_id").distinct().count() == ev.count()


def test_stateful_running_totals_match_batch(spark, event_drop_dir):
    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import running_user_totals

    ev = _prepare(spark, event_drop_dir + "/st")
    stream = read_event_stream(spark, event_drop_dir + "/st", max_files_per_trigger=2)
    _run_to_memory(running_user_totals(stream), "running_totals", "update")
    # update mode emits one row per touched key per batch; the final
    # state is the row with the max n_events per user
    out = (
        spark.table("running_totals")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
        .collect()
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in out}
    expected = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert set(got) == set(expected)
    for u in expected:
        assert got[u][0] == expected[u][0]
        assert abs(got[u][1] - expected[u][1]) < 1e-6


def test_upsert_sink_keeps_latest_per_key(spark, event_drop_dir, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import upsert_sink

    ev = _prepare(spark, event_drop_dir + "/up")
    # duplicate stream: same ids arrive twice across micro-batches
    dup_dir = event_drop_dir + "/updup"
    ev.unionAll(ev.withColumn("value", F.col("value") + 1)).repartition(8).write.mode(
        "overwrite"
    ).parquet(dup_dir)
    stream = read_event_stream(spark, dup_dir, max_files_per_trigger=2)
    target = str(tmp_path / "cdc_target")
    q = upsert_sink(stream, target)
    await_stream_done(q)
    out = spark.read.parquet(target)
    assert out.count() == ev.count()  # one row per key survives
    assert out.select("event_id").distinct().count() == ev.count()


def test_stream_sessionize_matches_batch_session_window(spark, event_drop_dir):
    ev = _prepare(spark, event_drop_dir + "/s")
    stream = read_event_stream(spark, event_drop_dir + "/s")
    _run_to_memory(stream_sessionize(stream), "sessions_out", "complete")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessions_out").collect()
    }
    expected = {
        (r.user_id, r["sw"].start, r["sw"].end, r.n_events)
        for r in (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .collect()
        )
    }
    assert got == expected


# ---------------------------------------------------------------- E6
def test_stream_static_enrich_matches_batch(spark, event_drop_dir):
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import stream_static_enrich

    ev = _prepare(spark, event_drop_dir + "/enrich")
    dim = load_tables(spark, SF_SMALL, ("customer",))["customer"]
    stream = read_event_stream(spark, event_drop_dir + "/enrich")
    _run_to_memory(stream_static_enrich(stream, dim), "enriched", "append")
    got = {
        (r.event_id, r.segment) for r in spark.table("enriched").collect()
    }
    expected = {
        (r.event_id, r.segment)
        for r in stream_static_enrich(ev, dim).collect()
    }
    assert got == expected and len(got) == ev.count()


# ---------------------------------------------------------------- E7
def test_stream_stream_conversions_match_batch(spark, event_drop_dir):
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_stream_conversions,
    )

    ev = _prepare(spark, event_drop_dir + "/ss")
    stream = read_event_stream(spark, event_drop_dir + "/ss")
    _run_to_memory(stream_stream_conversions(stream), "conversions", "append")
    got = {
        (r.purchase_id, r.click_id) for r in spark.table("conversions").collect()
    }
    expected = {
        (r.purchase_id, r.click_id)
        for r in stream_stream_conversions(ev).collect()
    }
    # append-mode emission requires watermark passage; availableNow
    # drains the source fully so all joinable pairs inside the horizon
    # must appear, and nothing else.
    assert got == expected
    assert got, "expected some click->purchase conversions"


# ---------------------------------------------------------------- E8 (checkpoint recovery)
def test_checkpointed_source_exactly_once_across_restarts(spark, tmp_path):
    """Restarting a checkpointed stream must resume from the recorded
    source offsets: files already ingested before the stop are not
    reprocessed, new files are — the exactly-once ingestion guarantee
    a lake pipeline depends on."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = load_tables(spark, SF_SMALL, ("events",))["events"]
    batch_a = ev.where(F.col("event_id") % 2 == 0)
    batch_b = ev.where(F.col("event_id") % 2 == 1)
    batch_a.write.mode("overwrite").parquet(src)

    def run_once():
        q = (
            read_event_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)

    run_once()
    n_a = spark.read.parquet(sink).count()
    assert n_a == batch_a.count()
    # restart with no new data: nothing reprocessed
    run_once()
    assert spark.read.parquet(sink).count() == n_a
    # drop batch B alongside (append mode on the directory)
    batch_b.write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


# ---------------------------------------------------------------- E1 (late data)
def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """The watermark persisted in the checkpoint must carry across
    restarts: a second batch containing an event far older than the
    advanced watermark may not resurrect its window in append mode."""
    import datetime as dt

    src = str(tmp_path / "late_src")
    sink = str(tmp_path / "late_sink")
    ckpt = str(tmp_path / "late_ckpt")
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    recent = [
        (i, base + dt.timedelta(days=5, hours=i), 1, "click", 1.0, "{}") for i in range(4)
    ]
    mk(recent).write.mode("overwrite").parquet(src)

    def run_once():
        q = (
            windowed_counts(read_event_stream(spark, src), window="1 day", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)

    run_once()
    # a whole-day-late straggler: watermark is now ~day 5, event at day 1
    late = [(99, base, 1, "click", 100.0, "{}")]
    mk(late).write.mode("append").parquet(src)
    run_once()
    # force one more advance so closed windows flush
    mk([(100, base + dt.timedelta(days=9), 1, "click", 1.0, "{}")]).write.mode(
        "append"
    ).parquet(src)
    run_once()
    got = spark.read.parquet(sink)
    late_day = dt.datetime(2024, 6, 1)
    assert got.where(F.col("window_start") == late_day).count() == 0, (
        "late event must not reopen its window"
    )
    assert got.where(F.col("n_events") >= 1).count() >= 1


# ---------------------------------------------------------------- E9
def test_stream_to_lake_versions(spark, event_drop_dir, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_to_lake_versions,
        windowed_counts,
    )

    ev = _prepare(spark, event_drop_dir + "/lake")
    lake = Lake(spark, str(tmp_path / "lake_root"))
    lake.add_zone("serving")
    stream = read_event_stream(spark, event_drop_dir + "/lake", max_files_per_trigger=4)
    q = stream_to_lake_versions(
        windowed_counts(stream), lake, "serving", "win_counts"
    )
    await_stream_done(q)
    # at least one snapshot; the registered view serves the newest
    latest = lake.table("serving", "win_counts")
    expected = (
        ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type").count().count()
    )
    assert latest.count() == expected
    # older snapshots remain readable (time travel)
    assert lake.read_version("serving", "win_counts", 0).count() > 0


# ---------------------------------------------------------------- E10
def test_timeout_closed_sessions_emit_once(spark, tmp_path):
    """Event-time timeouts: a user's session row appears only after
    the watermark passes last_event + gap, exactly once."""
    import datetime as dt

    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import (
        timeout_closed_sessions,
    )

    src = str(tmp_path / "to_src")
    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        # user 1: two events, then silence -> closes
        (1, base, 1, "click", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=5), 1, "click", 2.0, "{}"),
        # user 2: a late event keeps the session open past user 1's
        (3, base, 2, "click", 5.0, "{}"),
        # watermark driver: far-future event from user 3
        (4, base + dt.timedelta(days=2), 3, "click", 0.5, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).repartition(1).write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        timeout_closed_sessions(stream, gap_s=1800)
        .writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    got = {r.user_id: (r.n_events, r.total_value) for r in spark.table("closed_sessions").collect()}
    # users 1 and 2 closed when the day-2 event advanced the watermark;
    # user 3's own session has nothing after it, so it stays open
    assert got.get(1) == (2, 3.0), got
    assert got.get(2) == (1, 5.0), got
    assert 3 not in got


# ---------------------------------------------------------------- E11
def test_streaming_curation_matches_batch_and_redacts(spark, tmp_path):
    """curate_document_stream is stateless, so the streamed result must
    equal the batch application of the same transform — and planted PII
    must come out masked with its redaction count."""
    from pyspark.sql import Row

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        curate_document_stream,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    dirty = spark.createDataFrame(
        [
            Row(
                doc_id=900001,
                text="contact me at a.b@site.org or 555-123-4567 soon "
                + "with unique tokens " + " ".join(f"w{i}" for i in range(30)),
                lang="en",
                source="dirty",
                n_chars=0,
            )
        ],
        DOCS_STREAM_SCHEMA,
    )
    drop = str(tmp_path / "docs_drop")
    docs.select(*DOCS_STREAM_SCHEMA.fieldNames()).unionAll(dirty).repartition(
        6
    ).write.parquet(drop)

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(drop)
    )
    q = _run_to_memory(curate_document_stream(stream), "curated_docs", "append")
    got = spark.table("curated_docs").toPandas()
    want = curate_document_stream(spark.read.parquet(drop)).toPandas()
    from tests.compare import assert_frames_match

    assert_frames_match(got, want, "streaming_curation")
    q.stop()

    planted = got[got.doc_id == 900001]
    assert len(planted) == 1
    row = planted.iloc[0]
    assert "[EMAIL]" in row.text and "[PHONE]" in row.text
    assert "a.b@site.org" not in row.text and "555-123-4567" not in row.text
    assert row.n_redactions == 2


def test_stream_dedup_gate_matches_batch_incremental(spark, tmp_path):
    """E12: the streaming near-dup gate must admit exactly the
    documents the batch incremental dedup admits — exact copies and
    near-dups of the static corpus are rejected, novel docs land."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        dedup_incremental,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        stream_dedup_gate,
    )

    corpus = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    base = corpus.orderBy("doc_id").limit(2).collect()
    novel_text = " ".join(f"novel{i} tok{i % 7}" for i in range(40))
    near_dup_text = base[1].text + " extra tail"
    incoming = spark.createDataFrame(
        [
            # exact copy of a corpus doc -> rejected by the hash gate
            (800001, base[0].text, "en", "feed", len(base[0].text)),
            # near-dup (tiny suffix added) -> rejected by jaccard
            (800002, near_dup_text, "en", "feed", len(near_dup_text)),
            # genuinely novel -> admitted
            (800003, novel_text, "en", "feed", len(novel_text)),
        ],
        DOCS_STREAM_SCHEMA,
    )
    drop = str(tmp_path / "incoming")
    incoming.repartition(3).write.parquet(drop)

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    target = str(tmp_path / "admitted")
    q = stream_dedup_gate(stream, corpus, target)
    await_stream_done(q)

    got = sorted(r.doc_id for r in spark.read.parquet(target).collect())
    want = sorted(
        r.doc_id
        for r in dedup_incremental(spark.read.parquet(drop), corpus).collect()
    )
    assert got == want, (got, want)
    assert got == [800003], got


# ---------------------------------------------------------------- E13
def test_quota_enforcer_caps_per_user(spark, event_drop_dir):
    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import quota_enforcer

    ev = _prepare(spark, event_drop_dir + "/quota")
    stream = read_event_stream(spark, event_drop_dir + "/quota", max_files_per_trigger=2)
    _run_to_memory(quota_enforcer(stream, quota=10), "quota_out", "update")
    # update mode re-emits per batch; the final row per user carries
    # the running totals.
    final = spark.sql(
        """SELECT user_id, n_accepted, n_rejected FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_accepted + n_rejected DESC) rn
             FROM quota_out) WHERE rn = 1"""
    ).collect()
    truth = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert {r.user_id for r in final} == set(truth)
    for r in final:
        assert r.n_accepted == min(10, truth[r.user_id])
        assert r.n_rejected == truth[r.user_id] - r.n_accepted


# ---------------------------------------------------------------- E14
def test_rate_limited_sink_bounds_batches_and_loses_nothing(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import rate_limited_sink

    src = str(tmp_path / "rl_src")
    sink = str(tmp_path / "rl_sink")
    spill = str(tmp_path / "rl_spill")
    ev = _prepare(spark, src)
    total = ev.count()
    cap = 300
    stream = read_event_stream(spark, src, max_files_per_trigger=2)
    q = rate_limited_sink(stream, sink, spill, max_rows_per_batch=cap)
    await_stream_done(q)
    import glob

    written = spark.read.parquet(sink)
    spilled = (
        spark.read.parquet(spill)
        if glob.glob(spill + "/*.parquet")
        else spark.createDataFrame([], written.schema)
    )
    # nothing lost, nothing duplicated
    assert written.count() + spilled.count() == total
    assert written.select("event_id").distinct().count() == written.count()
    # each append wrote at most `cap` rows: every admitted batch is a
    # separate append; check via per-file row counts grouped by commit
    # (a single append's files share a write UUID prefix is not stable,
    # so assert the stronger invariant: sink grew by <= cap per batch
    # == total appended <= cap * n_batches, and the FIRST batch's
    # admission is exactly the cap when enough rows were pending).
    assert written.count() <= cap * 4  # 8 files / 2 per trigger = 4 batches
    ordered = sorted(r.event_id for r in written.select("event_id").collect())
    # deterministic admission: the sink holds the globally lowest ids
    # except where arrival order delayed them; the union of sink+spill
    # must still be exactly the source set
    all_ids = {r.event_id for r in ev.select("event_id").collect()}
    assert set(ordered) | {r.event_id for r in spilled.select("event_id").collect()} == all_ids


# ---------------------------------------------------------------- E15
def test_idle_key_eviction_flushes_and_drops_state(spark, tmp_path):
    """A key seen only in the first micro-batch gets evicted by the
    processing-time TTL during a later batch, emitting exactly one
    evicted=1 row with its final totals."""
    import time

    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import (
        idle_key_eviction,
    )

    src = str(tmp_path / "ttl_src")
    rows1 = [(1, None, 100, "click", 1.5, "{}"), (2, None, 100, "click", 2.5, "{}")]
    rows2 = [(3, None, 200, "click", 1.0, "{}")]
    rows3 = [(4, None, 300, "click", 1.0, "{}")]
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    for i, rows in enumerate([rows1, rows2, rows3]):
        spark.createDataFrame(
            [(eid, base, uid, et, v, p) for (eid, _, uid, et, v, p) in rows],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).repartition(1).write.mode("overwrite").parquet(f"{src}/f{i}")
        time.sleep(0.05)
    # one source dir with three files, one file per trigger
    import glob
    import shutil

    merged = str(tmp_path / "ttl_merged")
    import os

    os.makedirs(merged)
    for i in range(3):
        part = glob.glob(f"{src}/f{i}/part-*.parquet")[0]
        shutil.copy(part, f"{merged}/{i:03d}.parquet")
    stream = read_event_stream(spark, merged, max_files_per_trigger=1)
    # Processing-time timeouts keep scheduling timer micro-batches, so
    # availableNow termination is NOT a reliable contract under load
    # (observed: the query alive after 600 s on a busy machine while
    # the evictions themselves had long since flushed). The gate is
    # the SEMANTIC condition — poll for it, then stop the query.
    q = (
        idle_key_eviction(stream, ttl_ms=1)
        .writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.monotonic() + 300
        evicted = []
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise q.exception()
            out = spark.sql("SELECT * FROM ttl_out").collect()
            evicted = [r for r in out if r.evicted == 1 and r.user_id == 100]
            if evicted and not q.isActive:
                break
            if evicted and q.isActive:
                # condition reached; give the query one more beat to
                # finish naturally, else stop it below
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(60)
    out = spark.sql("SELECT * FROM ttl_out").collect()
    evicted = [r for r in out if r.evicted == 1 and r.user_id == 100]
    assert len(evicted) == 1, f"expected exactly one eviction for user 100, got {out}"
    assert evicted[0].n_events == 2 and abs(evicted[0].total_value - 4.0) < 1e-9
    # state.remove() makes re-eviction impossible: every key flushes at
    # most once, and only with its final totals.
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rows in by_user.items():
        ev_rows = [r for r in rows if r.evicted == 1]
        assert len(ev_rows) <= 1, f"user {uid} evicted twice"
        if ev_rows:
            final = max(r.n_events for r in rows)
            assert ev_rows[0].n_events == final, f"user {uid} evicted early"


# ---------------------------------------------------------------- E16
def test_trending_topk_matches_batch(spark, event_drop_dir):
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import trending_topk

    ev = _prepare(spark, event_drop_dir + "/trend")
    stream = read_event_stream(spark, event_drop_dir + "/trend", max_files_per_trigger=3)
    _run_to_memory(trending_topk(stream, k=3), "trend_out", "complete")
    got = [
        (r.window_start, r.event_type, r.n_events)
        for r in spark.sql(
            "SELECT * FROM trend_out ORDER BY n_events DESC, window_start, event_type"
        ).collect()
    ]
    expected = [
        (r.window_start, r.event_type, r.n_events)
        for r in (
            ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"), "event_type", "n_events"
            )
            .orderBy(F.desc("n_events"), "window_start", "event_type")
            .limit(3)
        ).collect()
    ]
    assert got == expected


# ---------------------------------------------------------------- E17
def test_psi_monitor_matches_batch_twin(spark, tmp_path):
    """Each micro-batch's recorded PSI must equal value_psi() run on
    that exact batch's archived rows — streaming and batch share one
    code path, so equality is exact, not approximate."""
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        psi_monitor_sink,
        value_psi,
    )

    src = str(tmp_path / "psi_src")
    mon = str(tmp_path / "psi_mon")
    raw = str(tmp_path / "psi_raw")
    ev = _prepare(spark, src)
    baseline = ev
    stream = read_event_stream(spark, src, max_files_per_trigger=3)
    q = psi_monitor_sink(stream, baseline, mon, raw_path=raw)
    await_stream_done(q)
    got = {
        (r.batch_id, r.event_type): (r.psi, r.n_events)
        for r in spark.read.parquet(mon).collect()
    }
    assert got, "monitor table is empty"
    archived = spark.read.parquet(raw)
    batch_ids = [r._batch_id for r in archived.select("_batch_id").distinct().collect()]
    assert len(batch_ids) >= 2, "expected multiple micro-batches"
    for bid in batch_ids:
        expected = {
            r.event_type: (r.psi, r.n_events)
            for r in value_psi(
                archived.where(F.col("_batch_id") == bid).drop("_batch_id"),
                baseline,
            ).collect()
        }
        for et, vals in expected.items():
            assert got[(bid, et)] == vals, (bid, et)
    # A batch drawn from the baseline itself cannot show major drift —
    # but only where the sample is big enough for PSI to mean
    # anything: with B buckets, E[PSI] under the null is ~(B-1)/n, so
    # a rare event type inside one micro-batch (n in the tens) can
    # exceed any fixed cut from sampling noise alone. That is the
    # monitor CORRECTLY reporting an under-sampled cell, not drift;
    # the batch-twin parity above already pinned the values exactly.
    assert all(psi < 0.25 for psi, n in got.values() if n >= 500), {
        k: v for k, v in got.items() if v[1] >= 500 and v[0] >= 0.25
    }


def test_tws_user_totals_matches_batch(spark, event_drop_dir):
    """transformWithStateInPandas twin of running_user_totals: the
    modern typed-state API must converge to the same per-user totals
    as a batch aggregation. Requires the RocksDB state store
    provider; skipped if the build lacks it."""
    import pytest

    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import (
        tws_user_totals,
    )

    ev = _prepare(spark, event_drop_dir + "/tws")
    stream = read_event_stream(
        spark, event_drop_dir + "/tws", max_files_per_trigger=2
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        try:
            _run_to_memory(tws_user_totals(stream), "tws_totals", "update")
        except Exception as e:  # pragma: no cover - env-dependent
            pytest.skip(f"RocksDB state store unavailable: {e}")
        out = (
            spark.table("tws_totals")
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("total_value").alias("total_value"),
            )
            .collect()
        )
        got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in out}
        expected = {
            r.user_id: (r.n_events, round(r.total_value, 6))
            for r in ev.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("value").alias("total_value"),
            )
            .collect()
        }
        assert set(got) == set(expected)
        for u in expected:
            assert got[u][0] == expected[u][0]
            assert abs(got[u][1] - expected[u][1]) < 1e-6
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_dlq_ingest_splits_good_and_bad(spark, tmp_path):
    """Parseable rows land typed in the good table; malformed props
    land verbatim in the DLQ with a batch id; nothing is lost."""
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        dlq_ingest,
    )

    ev = load_tables(spark, SF_SMALL, ("events",))["events"].limit(60)
    corrupted = ev.withColumn(
        "props",
        F.when(F.col("event_id") % 5 == 0, F.lit("{not json")).otherwise(
            F.col("props")
        ),
    )
    src = str(tmp_path / "src")
    corrupted.write.parquet(src)
    stream = read_event_stream(spark, src, max_files_per_trigger=100)
    good_path = str(tmp_path / "good")
    dlq_path = str(tmp_path / "dlq")
    q = (
        dlq_ingest(stream, good_path, dlq_path)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    good = spark.read.parquet(good_path)
    dlq = spark.read.parquet(dlq_path)
    n_bad = corrupted.where(F.col("event_id") % 5 == 0).count()
    assert dlq.count() == n_bad
    assert good.count() == 60 - n_bad
    # typed extraction worked on the good side
    assert good.where(F.col("k").isNull()).count() == 0
    # DLQ keeps the original payload for reprocessing
    assert set(dlq.select("props").distinct().toPandas()["props"]) == {"{not json"}
    assert "_batch_id" in dlq.columns


def test_idempotent_sink_no_duplicates_on_replay(spark, tmp_path):
    """Replaying the stream from scratch against the same sink (the
    checkpoint lost, worst case) must not duplicate committed
    batches; the committed view hides orphaned data dirs."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        idempotent_sink,
        read_committed,
    )

    ev = load_tables(spark, SF_SMALL, ("events",))["events"].limit(40)
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    data = str(tmp_path / "data")
    manifest = str(tmp_path / "manifest")

    def run(ck: str) -> None:
        stream = read_event_stream(spark, src, max_files_per_trigger=100)
        q = (
            idempotent_sink(stream, data, manifest)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)

    run("ck1")
    first = read_committed(spark, data, manifest).count()
    assert first == 40
    # fresh checkpoint -> the source replays batch 0; the marker makes
    # the second write a no-op
    run("ck2")
    assert read_committed(spark, data, manifest).count() == 40
    # an orphaned (uncommitted) batch dir stays invisible
    spark.range(5).selectExpr("id AS event_id").write.parquet(
        os.path.join(data, "batch_id=999")
    )
    assert read_committed(spark, data, manifest).count() == 40


def test_read_committed_uses_the_recorded_schema_of_every_batch(spark, tmp_path):
    """Each batch directory's recorded schema is what a footer read of
    it returns, so the committed view is built with no Spark job; one
    committed batch of another schema sends it back to inference."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.catalog import record_written, recorded_schema
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        idempotent_sink,
        read_committed,
    )

    ev = load_tables(spark, SF_SMALL, ("events",))["events"].limit(40)
    src = str(tmp_path / "src")
    ev.repartition(2).write.parquet(src)
    data, manifest = str(tmp_path / "data"), str(tmp_path / "manifest")
    q = (
        idempotent_sink(read_event_stream(spark, src, max_files_per_trigger=1), data, manifest)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    dirs = [os.path.join(data, d) for d in sorted(os.listdir(data))]
    assert len(dirs) == 2
    for d in dirs:
        assert recorded_schema(d) == spark.read.parquet(d).schema

    def committed(tag):
        return count_jobs(spark, tag, lambda: read_committed(spark, data, manifest))

    df, n = committed("committed-recorded")
    assert n == 0
    assert df.schema == spark.read.parquet(*dirs).schema
    assert df.count() == 40

    other = os.path.join(data, "batch_id=99")
    narrow = spark.range(3).selectExpr("id AS event_id")
    narrow.write.parquet(other)
    record_written(other, narrow.schema)
    with open(os.path.join(manifest, "batch_99"), "w") as fh:
        fh.write("committed")
    df, n = committed("committed-mixed")
    assert n >= 1
    assert df.schema == spark.read.parquet(*dirs, other).schema
    assert df.count() == 43


def test_backfill_handoff_no_seam_dup_or_gap(spark, tmp_path):
    """Union of the batch backfill and the live stream must equal the
    full dataset exactly — even when the streaming source re-serves
    ALL history (the worst-case replay)."""
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        backfill_handoff,
    )

    ev = load_tables(spark, SF_SMALL, ("events",))["events"].limit(300)
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    cutover = ev.agg(F.percentile_approx("ts", 0.5).alias("c")).first().c
    cut_str = cutover.strftime("%Y-%m-%d %H:%M:%S.%f")
    target = str(tmp_path / "target")
    stream = read_event_stream(spark, src, max_files_per_trigger=100)
    q = (
        backfill_handoff(ev, stream, cut_str, target)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    got = spark.read.parquet(target)
    assert got.count() == 300
    assert got.select("event_id").distinct().count() == 300
    assert set(r.event_id for r in got.collect()) == set(
        r.event_id for r in ev.collect()
    )


def test_gc_uncommitted_removes_only_orphans(spark, tmp_path):
    import os

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        gc_uncommitted,
        idempotent_sink,
        read_committed,
    )

    ev = load_tables(spark, SF_SMALL, ("events",))["events"].limit(20)
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    data, manifest = str(tmp_path / "data"), str(tmp_path / "manifest")
    stream = read_event_stream(spark, src, max_files_per_trigger=100)
    q = (
        idempotent_sink(stream, data, manifest)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    # fabricate a crash orphan
    spark.range(3).selectExpr("id AS event_id").write.parquet(
        os.path.join(data, "batch_id=777")
    )
    assert gc_uncommitted(data, manifest) == [777]
    assert not os.path.exists(os.path.join(data, "batch_id=777"))
    # committed batches untouched
    assert read_committed(spark, data, manifest).count() == 20
    assert gc_uncommitted(data, manifest) == []


def test_column_stats_monitor_tracks_batches(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        column_stats_monitor,
    )

    ev = load_tables(spark, SF_SMALL, ("events",))["events"].limit(100)
    src = str(tmp_path / "src")
    ev.repartition(2).write.parquet(src)
    stats_path = str(tmp_path / "stats")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        column_stats_monitor(stream, stats_path)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    hist = spark.read.parquet(stats_path)
    n_batches = hist.select("_batch_id").distinct().count()
    assert n_batches >= 2  # one per input file
    per_batch_cols = (
        hist.groupBy("_batch_id").count().select("count").distinct().collect()
    )
    assert len(per_batch_cols) == 1  # every batch profiled every column
    total_rows = (
        hist.where(F.col("column") == "event_id")
        .agg(F.sum("n_rows"))
        .first()[0]
    )
    assert total_rows == 100


def test_tws_type_counts_matches_batch(spark, event_drop_dir):
    """MapState twin: per-(user, event_type) streaming counts via
    transformWithStateInPandas must converge to the batch groupBy.
    Also an end-to-end conformance check on the map-state RPC paths
    (ContainsKey/GetValue/UpdateValue/Iterator) through the vendored
    protobuf mini-runtime."""
    import pytest

    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import (
        tws_type_counts,
    )

    ev = _prepare(spark, event_drop_dir + "/twsmap")
    stream = read_event_stream(
        spark, event_drop_dir + "/twsmap", max_files_per_trigger=2
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        try:
            _run_to_memory(tws_type_counts(stream), "tws_type_counts", "update")
        except Exception as e:  # pragma: no cover - env-dependent
            pytest.skip(f"RocksDB state store unavailable: {e}")
        got = {
            (r.user_id, r.event_type): r.n_events
            for r in spark.table("tws_type_counts")
            .groupBy("user_id", "event_type")
            .agg(F.max("n_events").alias("n_events"))
            .collect()
        }
        expected = {
            (r.user_id, r.event_type): r.n
            for r in ev.groupBy("user_id", "event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == expected
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_tws_recent_events_keeps_last_n(spark, event_drop_dir):
    """ListState twin: the per-user buffer must end with exactly the
    top-N event ids per user (ids are monotone in the testdata feed
    order, so last-N == max-N) and the latest id must match the batch
    max. Also conformance-checks the list-state RPC paths through the
    vendored protobuf mini-runtime."""
    import pytest

    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import (
        tws_recent_events,
    )

    ev = _prepare(spark, event_drop_dir + "/twslist")
    stream = read_event_stream(
        spark, event_drop_dir + "/twslist", max_files_per_trigger=2
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        try:
            _run_to_memory(
                tws_recent_events(stream, keep=5), "tws_recent", "update"
            )
        except Exception as e:  # pragma: no cover - env-dependent
            pytest.skip(f"RocksDB state store unavailable: {e}")
        got = {
            r.user_id: (r.n_kept, r.latest_event_id)
            for r in spark.table("tws_recent")
            .groupBy("user_id")
            .agg(
                F.max("n_kept").alias("n_kept"),
                F.max("latest_event_id").alias("latest_event_id"),
            )
            .collect()
        }
        expected = {
            r.user_id: (min(r.n, 5), r.mx)
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.max("event_id").alias("mx"))
            .collect()
        }
        assert got == expected
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_tws_session_flush_fires_event_time_timers(spark, tmp_path):
    """TWS event-time timers: sessions flush exactly once when the
    watermark passes last_event + gap — the E10 semantics on the
    modern timer API, and the conformance check for the timer RPC
    paths (RegisterTimer/DeleteTimer/expired-timer callback) through
    the vendored protobuf runtime."""
    import datetime as dt

    import pytest

    from cdk_serverless_data_lake_sandbox_spark.streaming.stateful import (
        tws_session_flush,
    )

    src = str(tmp_path / "tws_to_src")
    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "click", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=5), 1, "click", 2.0, "{}"),
        (3, base, 2, "click", 5.0, "{}"),
        (4, base + dt.timedelta(days=2), 3, "click", 0.5, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).repartition(1).write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        try:
            q = (
                tws_session_flush(stream, gap_s=1800)
                .writeStream.format("memory")
                .queryName("tws_sessions")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            await_stream_done(q)
        except Exception as e:  # pragma: no cover - env-dependent
            pytest.skip(f"RocksDB state store unavailable: {e}")
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.table("tws_sessions").collect()
        }
        assert got.get(1) == (2, 3.0), got
        assert got.get(2) == (1, 5.0), got
        assert 3 not in got
        assert spark.table("tws_sessions").count() == 2  # exactly once each
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


# ---------------------------------------------------------------- E28
def test_stream_phrase_monitor_matches_batch_twin(spark, tmp_path):
    """The streaming phrase monitor's cumulative totals after draining
    the stream must equal the batch phrase_search over the same docs —
    same probe list, same counting expression, state bounded by the
    probe list."""
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        phrase_search_frame,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        stream_phrase_monitor,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    drop = str(tmp_path / "docs_drop")
    docs.select(*DOCS_STREAM_SCHEMA.fieldNames()).repartition(6).write.parquet(
        drop
    )
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(drop)
    )
    q = _run_to_memory(
        stream_phrase_monitor(stream), "phrase_monitor", "complete"
    )
    got = spark.table("phrase_monitor").toPandas()
    q.stop()
    want = (
        phrase_search_frame(spark.read.parquet(drop))
        .select("phrase", "n_occurrences", "n_docs")
        .toPandas()
    )
    from tests.compare import assert_frames_match

    assert_frames_match(got, want, "stream_phrase_monitor")


# ---------------------------------------------------------------- E29
def test_stream_bloom_gate_admits_each_key_once(spark, tmp_path):
    """Keys repeated across micro-batches are admitted exactly once;
    at test sizes (m=2^16 bits, ~500 keys) the false-positive
    probability is ~1e-6, so every distinct key must come through."""
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        stream_bloom_gate,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    base = docs.select(*DOCS_STREAM_SCHEMA.fieldNames()).limit(400)
    drop = str(tmp_path / "drop")
    # four files, each containing overlapping halves -> duplicates
    # arrive in LATER batches than the originals
    base.where("doc_id < 200").repartition(1).write.parquet(drop)
    base.where("doc_id >= 100 and doc_id < 300").repartition(1).write.mode(
        "append"
    ).parquet(drop)
    base.where("doc_id >= 200").repartition(1).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    q = (
        stream_bloom_gate(stream, out, state)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    q.stop()

    got = spark.read.parquet(out).toPandas()
    want_ids = set(base.toPandas().doc_id)
    assert set(got.doc_id) == want_ids
    assert got.doc_id.is_unique, "a duplicate slipped through the gate"
    # state is the m/64-long bitmap, not the key set
    bits = spark.read.parquet(state + "/bits")
    assert bits.count() <= (1 << 16) // 64


def test_stream_bloom_gate_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed batch is a no-op (marker); replaying an
    UNcommitted-but-written batch reuses its durable admit decision
    instead of re-deciding against already-merged bits — no data loss,
    no duplicates."""
    import os

    from pyspark.sql import Row

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        stream_bloom_gate,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    base = docs.select(*DOCS_STREAM_SCHEMA.fieldNames()).limit(100)
    drop = str(tmp_path / "drop")
    base.repartition(1).write.parquet(drop)
    out, state = str(tmp_path / "out"), str(tmp_path / "state")

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        stream_bloom_gate(stream, out, state)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    q.stop()
    first = spark.read.parquet(out).toPandas()

    # simulate the crash-before-marker retry: delete the marker and
    # replay the same batch through a fresh gate instance
    markers = os.listdir(os.path.join(state, "manifest"))
    assert markers, "gate wrote no commit marker"
    os.remove(os.path.join(state, "manifest", markers[0]))
    stream2 = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q2 = (
        stream_bloom_gate(stream2, out, state)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q2)
    q2.stop()
    replayed = spark.read.parquet(out).toPandas()
    assert sorted(replayed.doc_id) == sorted(first.doc_id)
    assert replayed.doc_id.is_unique


# ---------------------------------------------------------------- E30
def test_stream_histogram_rollup_matches_batch(spark, event_drop_dir):
    """Summing the streamed per-batch bin counts and decoding with the
    shared helper must reproduce the batch histogram_rollup exactly
    (bin counts are mergeable — the property the artifact exists for)."""
    import tempfile

    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA,
        read_histogram_percentiles,
        stream_histogram_sink,
    )

    _prepare(spark, event_drop_dir)
    ev = spark.read.parquet(event_drop_dir)
    rng_rows = [
        (r["event_type"], r["lo"], r["width"])
        for r in ev.groupBy("event_type")
        .agg(
            F.min("value").alias("lo"),
            F.greatest(F.max("value") - F.min("value"), F.lit(1e-12)).alias(
                "width"
            ),
        )
        .collect()
    ]
    bins_path = tempfile.mkdtemp() + "/bins"
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(event_drop_dir)
    )
    q = (
        stream_histogram_sink(stream, rng_rows, bins_path)
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    q.stop()

    got = read_histogram_percentiles(spark, bins_path, rng_rows).toPandas()
    want = all_queries()["histogram_rollup_percentiles"](
        spark, SF_SMALL
    ).toPandas()
    from tests.compare import assert_frames_match

    assert_frames_match(got, want, "stream_histogram_rollup")


# ---------------------------------------------------------------- E31
def test_stream_minhash_gate_drops_near_dups_and_maintains_index(
    spark, tmp_path
):
    """Batch 2's near-copy of a batch-1 document is dropped even
    though it was never in the ORIGINAL corpus index — the gate
    appended batch 1's signatures, proving index maintenance. Novel
    docs pass; corpus near-copies are dropped on first sight."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        minhash_index_build,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_minhash_dedup_gate,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    corpus = docs.where("doc_id < 300")
    idx = str(tmp_path / "idx")
    minhash_index_build(corpus, idx)

    src = corpus.orderBy("doc_id").limit(1).collect()[0]
    novel1 = " ".join(f"aa{i}b{i * 5 % 13}" for i in range(50))
    batch1 = [
        (900001, src["text"] + " tiny tail"),  # near-dup of corpus -> drop
        (900002, novel1),  # novel -> admit
    ]
    batch2 = [
        (900003, novel1 + " edited end"),  # near-dup of batch-1 admit -> drop
        (900004, " ".join(f"zz{i}c{i * 7 % 11}" for i in range(50))),  # admit
    ]
    drop = str(tmp_path / "drop")
    spark.createDataFrame(batch1, "doc_id long, text string").repartition(
        1
    ).write.parquet(drop)
    spark.createDataFrame(batch2, "doc_id long, text string").repartition(
        1
    ).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    out = str(tmp_path / "out")
    q = (
        stream_minhash_dedup_gate(stream, idx, out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    q.stop()

    admitted = set(spark.read.parquet(out).toPandas().doc_id)
    assert admitted == {900002, 900004}, admitted

    # replay with a missing marker (simulated crash-before-commit):
    # the durable admit decisions are reused, so nothing duplicates
    # and nothing is re-dropped against the already-updated index
    import os

    for m in os.listdir(os.path.join(idx, "manifest")):
        os.remove(os.path.join(idx, "manifest", m))
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q2 = (
        stream_minhash_dedup_gate(stream2, idx, out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q2)
    q2.stop()
    replayed = spark.read.parquet(out).toPandas()
    assert set(replayed.doc_id) == {900002, 900004}
    assert replayed.doc_id.is_unique


# ---------------------------------------------------------------- E44
def test_stream_contamination_gate_quarantines_bench_overlap(spark, tmp_path):
    """Docs sharing a benchmark 5-gram are quarantined, clean docs are
    admitted; the union is exactly the input and the split agrees with
    the batch operator's definition (C37 convention)."""
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        contamination_index_build,
        stream_contamination_gate,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    bench = docs.where("doc_id % 20 = 0")
    corpus = docs.where("doc_id % 20 != 0").select(
        *DOCS_STREAM_SCHEMA.fieldNames()
    )

    index_dir = str(tmp_path / "bench_grams")
    n_grams = contamination_index_build(bench, index_dir)
    assert n_grams > 0

    drop = str(tmp_path / "drop")
    corpus.where("doc_id < 250").repartition(1).write.parquet(drop)
    corpus.where("doc_id >= 250").repartition(1).write.mode("append").parquet(
        drop
    )
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    out = str(tmp_path / "out")
    quarantine = str(tmp_path / "quarantine")
    q = (
        stream_contamination_gate(stream, index_dir, out, quarantine)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    q.stop()

    clean_ids = {r.doc_id for r in spark.read.parquet(out).collect()}
    dirty_ids = {r.doc_id for r in spark.read.parquet(quarantine).collect()}
    all_ids = {r.doc_id for r in corpus.collect()}
    assert clean_ids | dirty_ids == all_ids
    assert clean_ids & dirty_ids == set()

    # the split matches the batch detector exactly
    from cdk_serverless_data_lake_sandbox_spark.operators.curation import (
        contamination_check,
    )

    n_contaminated = contamination_check(spark, SF_SMALL).collect()[0][
        "n_contaminated"
    ]
    assert len(dirty_ids) == n_contaminated

    # replay safety without a marker protocol: the gate is stateless,
    # so re-running the same input with a fresh checkpoint overwrites
    # its own batch dirs byte-identically instead of duplicating
    stream2 = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q2 = (
        stream_contamination_gate(stream2, index_dir, out, quarantine)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q2)
    q2.stop()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == clean_ids


# ---------------------------------------------------------------- E45
def test_stream_boilerplate_gate_cross_batch_memory(spark, tmp_path):
    """Boilerplate counts accumulate ACROSS batches: a banner that is
    hot in batch 1 strips a single late copy in batch 2; replaying the
    whole stream rewrites identical outputs (per-batch-delta state,
    no count double-add)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_boilerplate_gate,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    header = "terms of use apply"
    b1 = [
        (1, "srcA", f"{header} alpha beta"),
        (2, "srcA", f"{header} gamma delta"),
        (3, "srcA", "unique words entirely here"),
    ]
    b2 = [
        (4, "srcA", f"{header} epsilon"),  # late copy: stripped via state
        (5, "srcB", f"{header} zeta"),  # different source: untouched
    ]
    drop = str(tmp_path / "drop")
    spark.createDataFrame(b1, schema).repartition(1).write.parquet(drop)
    spark.createDataFrame(b2, schema).repartition(1).write.mode(
        "append"
    ).parquet(drop)

    def run(tag: str) -> dict:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_boilerplate_gate(
                stream, str(tmp_path / "state"), str(tmp_path / "out")
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()
        return {
            r.doc_id: (r.text, r.boilerplate)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }

    got = run("1")
    assert got[1] == ("alpha beta", True)
    assert got[2] == ("gamma delta", True)
    assert got[3] == ("unique words entirely here", False)
    assert got[4] == ("epsilon", True)  # cross-batch memory
    assert got[5] == (f"{header} zeta", False)  # per-source isolation

    # full replay: identical output, counts not double-added (doc 5's
    # source never crosses the threshold even after two passes)
    again = run("2")
    assert again == got


# ------------------------------------------------------ E46
def test_stream_domain_cap_gate_cross_batch_budget(spark, tmp_path):
    """Admitted counts accumulate across batches: a source that used
    8 of its 10 slots in batch 1 admits only its 2 best-priority docs
    from batch 2; an under-cap source admits everything. Full replay
    rewrites byte-identical decisions (strictly-prior delta reads)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    import hashlib

    from cdk_serverless_data_lake_sandbox_spark.operators.curation import _DFC_CAP
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_domain_cap_gate,
    )

    assert _DFC_CAP == 10
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    b1 = [(i, "srcA", f"doc {i}") for i in range(8)] + [
        (100, "srcB", "b one"), (101, "srcB", "b two"),
    ]
    b2 = [(i, "srcA", f"doc {i}") for i in range(20, 25)] + [
        (102, "srcB", "b three"),
    ]
    drop = str(tmp_path / "drop")
    spark.createDataFrame(b1, schema).repartition(1).write.parquet(drop)
    spark.createDataFrame(b2, schema).repartition(1).write.mode(
        "append"
    ).parquet(drop)

    def run(tag: str) -> list:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_domain_cap_gate(
                stream, str(tmp_path / f"state{tag}"), str(tmp_path / f"out{tag}")
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()
        return sorted(
            (r.doc_id, r.source, r.keep_rank)
            for r in spark.read.parquet(str(tmp_path / f"out{tag}")).collect()
        )

    got = run("a")
    a_rows = [r for r in got if r[1] == "srcA"]
    b_rows = [r for r in got if r[1] == "srcB"]
    # srcA: all 8 from batch 1 + exactly 2 from batch 2, ranks 1..10
    assert len(a_rows) == 10
    assert sorted(r[2] for r in a_rows) == list(range(1, 11))
    # the 2 batch-2 survivors are the best-priority ones, not arrival
    pri = {
        i: (hashlib.md5(f"dfc{i}".encode()).hexdigest()[:12], i)
        for i in range(20, 25)
    }
    expect_b2 = set(sorted(pri, key=pri.get)[:2])
    assert {r[0] for r in a_rows if r[0] >= 20} == expect_b2
    # srcB never near the cap: everything admitted
    assert {r[0] for r in b_rows} == {100, 101, 102}

    # full replay (fresh checkpoint, fresh state) = identical decisions
    assert run("b") == got


# ------------------------------------------------------ E47
def test_stream_knn_insert_links_and_replay(spark, tmp_path):
    """Inserted vectors link to their true neighbors (an exact twin of
    the entry node scores ~1.0 immediately), batch 2 reaches a batch-1
    insert through the mirrored reverse delta edges, and a full replay
    against the same index rewrites identical links."""
    from pyspark.sql import Row
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _emb,
        knn_graph_index_build,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_knn_insert,
    )

    idx = str(tmp_path / "knn_idx")
    knn_graph_index_build(spark, SF_SMALL, idx)
    v0 = _emb(spark, SF_SMALL).where("vec_id = 0").first().embedding

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    drop = str(tmp_path / "drop")
    spark.createDataFrame([Row(vec_id=1000, embedding=v0)], schema).repartition(
        1
    ).write.parquet(drop)
    spark.createDataFrame([Row(vec_id=1001, embedding=v0)], schema).repartition(
        1
    ).write.mode("append").parquet(drop)

    def run(tag: str) -> dict:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_knn_insert(stream, idx, str(tmp_path / f"out{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ckpt{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()
        out = {}
        for r in spark.read.parquet(str(tmp_path / f"out{tag}")).collect():
            out.setdefault(r.query_id, []).append(
                (r.rank, r.neighbor_id, r.cosine)
            )
        return {k: sorted(v) for k, v in out.items()}

    got = run("a")
    # batch 1: the twin of vec 0 links to vec 0 first, cosine ~ 1
    b1 = got[1000]
    assert b1[0][1] == 0 and abs(b1[0][2] - 1.0) < 1e-9
    # batch 2: the second twin reaches BOTH vec 0 and the batch-1
    # insert (via its reverse delta edge), each at cosine ~ 1
    b2_top2 = {nid for rk, nid, c in got[1001][:2]}
    assert b2_top2 == {0, 1000}
    assert all(abs(c - 1.0) < 1e-9 for rk, nid, c in got[1001][:2])

    # replay against the same index state: identical decisions
    assert run("b") == got


# ------------------------------------------------------ E48
def test_stream_reservoir_sample_uniform_over_stream(spark, tmp_path):
    """The reservoir after N batches equals the batch-computed top-R
    priorities over EVERYTHING streamed (late arrivals evict early
    ones — the property the E46 cap gate deliberately lacks), and a
    full replay rewrites identical snapshots."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    import hashlib

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        _RES_SIZE,
        stream_reservoir_sample,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    b1 = [(i, "srcA", f"doc {i}") for i in range(12)]
    # doc 1 is RE-DELIVERED in batch 2: it must not occupy two slots
    b2 = [(i, "srcA", f"doc {i}") for i in range(100, 112)] + [
        (200, "srcB", "tiny source"), (1, "srcA", "doc 1"),
    ]
    drop = str(tmp_path / "drop")
    spark.createDataFrame(b1, schema).repartition(1).write.parquet(drop)
    spark.createDataFrame(b2, schema).repartition(1).write.mode(
        "append"
    ).parquet(drop)

    def run(tag: str) -> dict:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_reservoir_sample(
                stream, str(tmp_path / f"state{tag}"), str(tmp_path / f"out{tag}")
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()
        snaps = spark.read.parquet(str(tmp_path / f"state{tag}/reservoir"))
        final_id = snaps.agg({"batch_id": "max"}).first()[0]
        return {
            r.source: sorted(
                rr.doc_id
                for rr in snaps.where(snaps.batch_id == final_id).collect()
                if rr.source == r.source
            )
            for r in snaps.select("source").distinct().collect()
        }

    got = run("a")
    # re-delivery must not duplicate a slot
    assert len(got["srcA"]) == len(set(got["srcA"]))
    # batch-computed expectation: top-R priorities over the WHOLE stream
    all_a = [i for i in range(12)] + [i for i in range(100, 112)]
    pri = sorted(
        all_a,
        key=lambda i: (hashlib.md5(f"rsv{i}".encode()).hexdigest()[:12], i),
    )
    assert got["srcA"] == sorted(pri[:_RES_SIZE])
    # late arrivals must have evicted at least one early doc
    assert any(i >= 100 for i in got["srcA"])
    assert got["srcB"] == [200]
    # replay: identical snapshots
    assert run("b") == got


# ------------------------------------------------------ E49
def test_stream_tokenize_gate_matches_batch_apply(spark, tmp_path):
    """Streamed tokenization equals the batch apply on the same docs,
    and a full replay rewrites identical shards (stateless gate)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _docs,
        tokenizer_apply_indexed,
        tokenizer_index_build,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_tokenize_gate,
    )
    from tests.conftest import SF_SMALL

    idx = str(tmp_path / "tok_idx")
    tokenizer_index_build(spark, SF_SMALL, idx)

    docs = _docs(spark, SF_SMALL).where("doc_id < 40")
    drop = str(tmp_path / "drop")
    docs.where("doc_id < 20").repartition(1).write.parquet(drop)
    docs.where("doc_id >= 20").repartition(1).write.mode("append").parquet(drop)

    def run(tag: str) -> list:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_tokenize_gate(stream, idx, str(tmp_path / f"out{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ckpt{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()
        return sorted(
            (r.doc_id, r.n_pieces, r.piece_text, r.doc_logp)
            for r in spark.read.parquet(str(tmp_path / f"out{tag}")).collect()
        )

    got = run("a")
    want = sorted(
        (r.doc_id, r.n_pieces, r.piece_text, r.doc_logp)
        for r in tokenizer_apply_indexed(spark, idx, docs).collect()
    )
    assert got == want
    assert run("b") == got


def test_table_loads_and_dynamic_overwrite_sinks_leave_the_session_conf_as_found(spark, tmp_path):
    """Loading every table, registering the ``kvscan`` source, and one
    micro-batch of each sink that overwrites its batch's partition
    dynamically, leave the session's conf exactly as found: the
    overwrite mode is a per-write option, the events loader restores
    the conf it reads nanos with, and the session already allows the
    filter pushdown ``kvscan`` needs."""
    from cdk_serverless_data_lake_sandbox_spark.operators.multimodal import attach_image_variants
    from cdk_serverless_data_lake_sandbox_spark.sources.kv import register_kvscan
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        stream_baseline_monitor,
        stream_cms_monitor,
        stream_graph_edges,
        stream_hll_monitor,
        stream_image_dedup_gate,
        stream_ivf_ingest,
        stream_key_erasure,
        stream_source_tvd_monitor,
    )

    conf = spark.conf.getAll
    t = load_tables(spark, SF_SMALL)
    register_kvscan(spark)
    assert spark.conf.getAll == conf

    def written(name, df):
        path = str(tmp_path / name)
        df.coalesce(1).write.parquet(path)
        return path

    def one_batch(name, df):
        return spark.readStream.schema(df.schema).parquet(written(name, df))

    docs = t["documents"].select(*DOCS_STREAM_SCHEMA.fieldNames()).limit(30)
    events = written("events", t["events"].limit(200))
    orders = written("orders", t["orders"].select("o_orderkey", "o_custkey"))
    sinks = [
        lambda: stream_cms_monitor(one_batch("cms_in", docs), str(tmp_path / "cms")),
        lambda: stream_ivf_ingest(
            one_batch("ivf_in", t["embeddings"].select("vec_id", "embedding").limit(20)),
            str(tmp_path / "ivf"),
        ),
        lambda: stream_hll_monitor(read_event_stream(spark, events), str(tmp_path / "hll")),
        lambda: stream_baseline_monitor(read_event_stream(spark, events), str(tmp_path / "base")),
        lambda: stream_image_dedup_gate(
            one_batch("img_in", attach_image_variants(docs.limit(6)).select("doc_id", "media")),
            str(tmp_path / "img"),
            str(tmp_path / "img_idx"),
        ),
        lambda: stream_graph_edges(
            one_batch("li_in", t["lineitem"].select("l_orderkey", "l_partkey").limit(50)),
            str(tmp_path / "graph"),
        ),
        lambda: stream_key_erasure(
            one_batch("req_in", t["orders"].select("o_orderkey").limit(3)), orders, "o_orderkey"
        ),
        lambda: stream_source_tvd_monitor(one_batch("tvd_in", docs), str(tmp_path / "tvd")),
    ]
    for start in sinks:
        await_stream_done(start())
    assert spark.conf.getAll == conf
    for out in ("cms", "ivf/members", "hll", "base", "img/admitted", "graph/edges", "orders/_dv", "tvd"):
        assert spark.read.parquet(str(tmp_path / out)).count() > 0, out
