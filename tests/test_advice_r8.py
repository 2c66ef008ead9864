"""Regression tests for the round-7 VERDICT/ADVICE findings fixed in
round 8. Items 3 and 7 (pin's scratch reclaim and the placement on
local-cluster masters) are tested in test_pin.py.

ADVICE items:
1. Lake.open restores grants BEFORE the add_zone loop (add_zone saves
   the manifest; saving while grants was still {} silently erased every
   durable grant when no register() followed to re-save them).
2. RelationalStore.load_table_from_parquet walks an explicit file list:
   underscore/dot sidecars (_dv, _SUCCESS) are skipped (DuckDB's glob
   does not honor the Spark hidden-path convention) and a versioned
   v=N lake table root resolves to the NEWEST snapshot instead of
   unioning every snapshot with a spurious v column.
4. crawl_delimited defaults corrupt_col="_corrupt": rows that widen
   past the sample horizon land loudly in the DLQ column instead of
   becoming silent all-NULLs (tested with the other crawler tests in
   test_etl_sources.py).
5. stream_minhash_dedup_gate stamps _format.json only on TRUE
   bootstrap (no sig/ yet); a pre-existing unstamped or cross-format
   index raises the rebuild error instead of being blessed.

VERDICT items:
6. crawl_grok evaluates its match regex ONCE per row in every mode
   (the match predicate and value are let-bound via a single-element
   transform; plan carries exactly one RLike).
8. Write-side catalog governance: Lake.write / Lake.delete_table are
   default-deny on the new "write" action, audit every attempt, and
   legacy read grants do NOT imply write.
9. The audit log is one immutable file per attempt — multi-writer-safe
   (two concurrent governed reads land two intact rows).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- fix 1
def test_lake_open_preserves_grants_without_tables(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.add_zone("processed")
    lake.grant("analyst", "processed", "users", columns=["id"])

    # no table ever registered (or its data dir vanished): reopening
    # must NOT erase the grant — before the fix, add_zone() inside
    # open() re-saved the manifest while grants was still {}
    reopened = Lake.open(spark, root)
    assert reopened._grant_for("analyst", "processed", "users")[0]
    with open(os.path.join(root, "catalog.json")) as fh:
        on_disk = json.load(fh)
    assert on_disk["grants"]["analyst"]["processed"]["users"] == ["id"]

    # and a second reopen (the crash-before-register scenario twice
    # over) still holds them
    again = Lake.open(spark, root)
    assert again._grant_for("analyst", "processed", "users")[0]


# ------------------------------------------------------------- fix 2
def test_jdbc_parquet_load_skips_sidecars_and_old_versions(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake
    from cdk_serverless_data_lake_sandbox_spark.sources.jdbc import RelationalStore

    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.add_zone("processed")
    v1 = spark.range(3).select(F.col("id"), F.lit("old").alias("tag"))
    v2 = spark.range(5).select(F.col("id"), F.lit("new").alias("tag"))
    lake.write_version("processed", "users", v1)
    lake.write_version("processed", "users", v2)
    table_root = os.path.join(root, "processed", "users")
    # a Spark-convention underscore sidecar next to the snapshots
    dv_dir = os.path.join(table_root, "_dv")
    os.makedirs(dv_dir)
    spark.range(2).write.parquet(os.path.join(dv_dir, "junk"))

    store = RelationalStore(str(tmp_path / "db" / "store.duckdb"))
    store.load_table_from_parquet("users", table_root)
    import duckdb

    con = duckdb.connect(store.path, read_only=True)
    try:
        cols = [d[0] for d in con.execute("SELECT * FROM users").description]
        n, tags = con.execute(
            "SELECT count(*), count(DISTINCT tag) FROM users"
        ).fetchone()
    finally:
        con.close()
    assert "v" not in cols  # newest snapshot resolved, not unioned
    assert (n, tags) == (5, 1)

    # flat directory with a _SUCCESS marker still loads cleanly
    flat = str(tmp_path / "flat")
    v2.write.parquet(flat)
    assert os.path.exists(os.path.join(flat, "_SUCCESS"))
    store.load_table_from_parquet("flat_users", flat)
    con = duckdb.connect(store.path, read_only=True)
    try:
        assert con.execute("SELECT count(*) FROM flat_users").fetchone()[0] == 5
    finally:
        con.close()

    # an empty directory is a loud error, not an empty table
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        store.load_table_from_parquet("nothing", str(empty))


# ------------------------------------------------------------- fix 5
def test_minhash_gate_refuses_unstamped_preexisting_index(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_minhash_dedup_gate,
    )
    from tests.conftest import await_stream_done

    index_path = str(tmp_path / "index")
    # a partial pre-format-marker index: sig/ exists, no _format.json
    spark.createDataFrame(
        [(1, [1, 2, 3])], "doc_id long, sig array<long>"
    ).write.parquet(os.path.join(index_path, "sig"))

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(10, "some document text here")], "doc_id long, text string"
    ).write.json(src_dir)
    stream = spark.readStream.schema("doc_id long, text string").json(src_dir)
    q = (
        stream_minhash_dedup_gate(
            stream, index_path, str(tmp_path / "out")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="format|rebuild"):
        await_stream_done(q)
    # the old-format index was NOT blessed with the current stamp
    assert not os.path.exists(os.path.join(index_path, "_format.json"))


def test_minhash_gate_bootstrap_still_stamps(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        _MINHASH_INDEX_FORMAT,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_minhash_dedup_gate,
    )
    from tests.conftest import await_stream_done

    index_path = str(tmp_path / "index")
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(10, "some document text here")], "doc_id long, text string"
    ).write.json(src_dir)
    stream = spark.readStream.schema("doc_id long, text string").json(src_dir)
    q = (
        stream_minhash_dedup_gate(stream, index_path, str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    with open(os.path.join(index_path, "_format.json")) as fh:
        assert json.load(fh)["format"] == _MINHASH_INDEX_FORMAT


# ------------------------------------------------------------- fix 6
GROK = None


def _grok():
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import GrokClassifier

    return GrokClassifier(
        "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{INT:code:int} %{GREEDYDATA:msg}"
    )


@pytest.fixture()
def grok_log(tmp_path):
    p = tmp_path / "app.log"
    p.write_text(
        "2024-01-01T00:00:00Z INFO 200 ok\n"
        "not a log line\n"
        "2024-01-01T00:00:01Z ERROR 500 boom\n"
    )
    return str(p)


def test_grok_single_rlike_in_plan_all_modes(spark, grok_log):
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import crawl_grok

    for mode, corrupt in [
        ("PERMISSIVE", "_corrupt"),
        ("PERMISSIVE", None),
        ("DROPMALFORMED", None),
        ("FAILFAST", "_corrupt"),
    ]:
        df = crawl_grok(spark, grok_log, _grok(), mode=mode, corrupt_col=corrupt)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        n_rlike = plan.lower().count("rlike")
        assert n_rlike == 1, (mode, corrupt, n_rlike, plan)


def test_grok_mode_semantics_preserved(spark, grok_log):
    from cdk_serverless_data_lake_sandbox_spark.sources.crawler import crawl_grok

    # DLQ mode: both matched lines typed, the bad line lands raw
    df = crawl_grok(spark, grok_log, _grok(), corrupt_col="_bad")
    rows = sorted(df.collect(), key=lambda r: (r["ts"] or ""))
    assert [r["code"] for r in rows] == [None, 200, 500]
    assert rows[0]["_bad"] == "not a log line"
    assert df.columns == ["ts", "level", "code", "msg", "_bad"]

    # drop mode: unmatched line gone, schema keeps the corrupt col only
    # when requested
    dropped = crawl_grok(spark, grok_log, _grok(), corrupt_col=None)
    assert dropped.columns == ["ts", "level", "code", "msg"]
    assert dropped.count() == 2

    # FAILFAST raises on the unmatched line
    with pytest.raises(Exception, match="unmatched line"):
        crawl_grok(
            spark, grok_log, _grok(), mode="FAILFAST", corrupt_col=None
        ).collect()


# ------------------------------------------------------------- fix 8
def _governed_lake(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.add_zone("processed")
    return lake


def test_write_governance_default_deny_and_audit(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import AccessDenied

    lake = _governed_lake(spark, tmp_path)
    df = spark.range(3)

    # read grant does NOT imply write (legacy grants stay read-only)
    lake.grant("analyst", "processed")
    with pytest.raises(AccessDenied):
        lake.write("analyst", "processed", "users", df)
    # ... and the denied attempt landed an audit row
    denied = lake.audit_log().where(
        "action = 'write' AND principal = 'analyst' AND NOT allowed"
    )
    assert denied.count() == 1

    # granted write succeeds, registers, audits
    lake.grant("etl", "processed", actions=("read", "write"))
    path = lake.write("etl", "processed", "users", df)
    assert os.path.isdir(path)
    assert lake.table("processed", "users").count() == 3
    ok = lake.audit_log().where(
        "action = 'write' AND principal = 'etl' AND allowed"
    )
    assert ok.count() == 1

    # write-action grants survive the manifest round-trip
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    reopened = Lake.open(spark, lake.root)
    assert reopened._grant_for("etl", "processed", "users", "write")[0]
    assert not reopened._grant_for("analyst", "processed", "users", "write")[0]


def test_delete_governance(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import AccessDenied

    lake = _governed_lake(spark, tmp_path)
    lake.grant("etl", "processed", actions=("read", "write"))
    lake.grant("reader", "processed")  # read-only
    path = lake.write("etl", "processed", "users", spark.range(3))

    with pytest.raises(AccessDenied):
        lake.delete_table("reader", "processed", "users")
    assert os.path.isdir(path)  # still there

    lake.delete_table("etl", "processed", "users")
    assert not os.path.exists(path)
    assert "users" not in lake.list_tables("processed")
    deletes = lake.audit_log().where("action = 'delete'").collect()
    assert {(r.principal, r.allowed) for r in deletes} == {
        ("reader", False),
        ("etl", True),
    }


# ------------------------------------------------------------- fix 9
def test_audit_log_concurrent_writers_land_intact_rows(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    lake = _governed_lake(spark, tmp_path)
    lake.register(
        "processed",
        "users",
        os.path.join(lake.root, "processed", "users"),
        spark.range(5),
    )
    lake.grant("a", "processed")
    lake.grant("b", "processed")

    def read(p):
        return lake.read(p, "processed", "users").count()

    with ThreadPoolExecutor(max_workers=2) as ex:
        counts = list(ex.map(read, ["a", "b"] * 8))
    assert counts == [5] * 16

    audit = lake.audit_log().where("action = 'read'")
    assert audit.count() == 16  # every attempt intact, none interleaved
    assert audit.where("NOT allowed").count() == 0
    # one immutable file per attempt — the multi-writer-safe layout
    files = [
        f
        for f in os.listdir(os.path.join(lake.root, "_audit"))
        if f.endswith(".json")
    ]
    assert len(files) == 16


# ----------------------------------------------- r8 self-review fixes
def test_write_rejects_zone_escape(spark, tmp_path):
    """A wildcard write grant must not let a traversal table name land
    data outside the granted zone (the bucket policy scopes PutObject
    to the bucket)."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import AccessDenied

    lake = _governed_lake(spark, tmp_path)
    lake.add_zone("raw")
    lake.grant("etl", "processed", actions=("read", "write"))
    for evil in ("../raw/evil", "a/b", "..", "."):
        with pytest.raises(AccessDenied):
            lake.write("etl", "processed", evil, spark.range(2))
    assert not os.path.exists(os.path.join(lake.root, "raw", "evil"))
    denied = lake.audit_log().where("action = 'write' AND NOT allowed")
    assert denied.count() == 4  # every attempt audited as denied


def test_empty_actions_grant_is_rejected_and_stays_deny(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    lake = _governed_lake(spark, tmp_path)
    with pytest.raises(ValueError, match="actions"):
        lake.grant("nobody", "processed", "t", actions=[])
    # a manifest hand-edited to actions: [] must decode deny-all, not
    # resurrect as a read grant
    lake.grants = {"nobody": {"processed": {"t": {"columns": None,
                                                  "row_filter": None,
                                                  "actions": []}}}}
    assert lake._grant_for("nobody", "processed", "t") == (False, None, None)
    assert lake._grant_for("nobody", "processed", "t", "write") == (
        False, None, None,
    )


def test_lake_open_crash_midway_preserves_manifest(spark, tmp_path, monkeypatch):
    """Manifest saves are SUSPENDED during open(): a crash mid-restore
    must leave the complete pre-open manifest on disk — zones, tables
    AND grants (the r8-advice grants fix, generalized)."""
    import json as _json

    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.add_zone("processed")
    lake.grant("analyst", "processed")
    path = os.path.join(root, "processed", "users")
    spark.range(3).write.parquet(path)
    lake.register("processed", "users", path, spark.read.parquet(path))
    with open(os.path.join(root, "catalog.json")) as fh:
        before = _json.load(fh)

    def boom(*a, **k):
        raise RuntimeError("simulated crash mid-open")

    monkeypatch.setattr(Lake, "register", boom)
    with pytest.raises(RuntimeError):
        Lake.open(spark, root)
    with open(os.path.join(root, "catalog.json")) as fh:
        after = _json.load(fh)
    assert after == before  # nothing was erased by the failed open
    monkeypatch.undo()
    reopened = Lake.open(spark, root)
    assert reopened.list_tables("processed") == ["users"]
    assert reopened._grant_for("analyst", "processed", "users")[0]


def test_minhash_gate_append_replay_never_duplicates(spark, tmp_path):
    """Crash-after-append-before-marker: replaying the batch must not
    append the same signatures again (r8 review: the marker alone
    left a double-append window; the doc_id anti-join closes it)."""
    import os as _os

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_minhash_dedup_gate,
    )
    from tests.conftest import await_stream_done

    index_path = str(tmp_path / "index")
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta words here"),
         (2, "totally different text content words")],
        "doc_id long, text string",
    ).write.json(src_dir)

    def run(ckpt: str) -> None:
        stream = spark.readStream.schema("doc_id long, text string").json(src_dir)
        q = (
            stream_minhash_dedup_gate(stream, index_path, str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()

    run("ckpt1")
    n1 = spark.read.parquet(index_path + "/sig").count()
    # simulate the crash window: output + appends landed, marker lost
    manifest = _os.path.join(index_path, "manifest")
    for f in _os.listdir(manifest):
        _os.remove(_os.path.join(manifest, f))
    run("ckpt2")  # full replay of the same batch
    n2 = spark.read.parquet(index_path + "/sig").count()
    assert n2 == n1  # no duplicate signatures
    bands = spark.read.parquet(index_path + "/bands")
    assert bands.count() == bands.distinct().count()
