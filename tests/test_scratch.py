"""Keyed scratch (``_helpers.scratch``).

An entry is keyed on (application, name, plan identity of the frame
the build read) and carries the version of that frame's input files:
a changed table rebuilds and replaces its entry, and two corpora never
share one. Hits must be value-identical to the build that wrote them.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators import _helpers as H
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

from .conftest import SF_SMALL, await_stream_done, parquet_calls


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _fans_out(spark, sf_dir: str) -> bool:
    """Whether ``catalog.spread`` fans out the documents table."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return spread(docs, sf_dir, "documents") is not docs


def _entries(spark, table_path: str) -> list[tuple[str, str]]:
    """(name, scratch path) of this application's entries whose build
    read ``table_path``."""
    app = spark.sparkContext.applicationId
    return sorted(
        (name, e.value[0])
        for (a, name, _), e in H._MATERIALIZED.items()
        if a == app and any(f.endswith(table_path) for f in e.reads.inputFiles())
    )


def test_jaccard_containment_share_keyed_postings(spark):
    """The keyed posting table: repeat invocations (scratch-hit path)
    must be value-identical for both consumers, and one posting entry
    over the corpus serves both generators."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import _docs

    qs = all_queries()
    j1 = _rows(qs["dedup_ngram_jaccard"](spark, SF_SMALL))
    c1 = _rows(qs["containment_dedup"](spark, SF_SMALL))
    docs = _docs(spark, SF_SMALL)
    app = spark.sparkContext.applicationId
    posting = [
        name
        for (a, name, _), e in H._MATERIALIZED.items()
        if a == app
        and name.startswith("ngram-postings:")
        and docs.sameSemantics(e.reads)
    ]
    assert posting == ["ngram-postings:auto"], posting  # shared, not per-consumer
    assert _rows(qs["dedup_ngram_jaccard"](spark, SF_SMALL)) == j1
    assert _rows(qs["containment_dedup"](spark, SF_SMALL)) == c1
    assert len(j1) > 0 and len(c1) > 0


def test_bm25_scratch_hit_path_identical(spark):
    q = all_queries()["bm25_retrieval"]
    first = _rows(q(spark, SF_SMALL))
    second = _rows(q(spark, SF_SMALL))  # bm25-index scratch hit
    assert first == second
    assert len(first) > 0


def test_hybrid_rrf_scratch_hit_path_identical(spark):
    q = all_queries()["hybrid_retrieval_rrf"]
    first = _rows(q(spark, SF_SMALL))
    second = _rows(q(spark, SF_SMALL))
    assert first == second
    assert len(first) > 0


@pytest.mark.parametrize(
    "copied, split_at_gate",
    [("doc_id < 5", False), ("true", True)],
    ids=["five-copies", "past-fan-out-gate"],
)
def test_table_change_mid_application_rebuilds(spark, tmp_path, copied, split_at_gate):
    """Rewriting a lake table inside one application: the next calls
    of the scratch-backed queries rebuild and equal a fresh build over
    the new table, and each rebuilt entry replaces its predecessor.
    ``past-fan-out-gate`` copies every document and sets a split size
    the grown file fills to the fan-out gate and the old one does not,
    so ``dedup._docs`` stops spreading the table: the plan the builds
    read changes, and the rebuilt entries (under new keys) must still
    replace the old ones."""
    lake, fresh = str(tmp_path / "lake"), str(tmp_path / "fresh")
    shutil.copytree(SF_SMALL, lake)
    doc_path = os.path.join(lake, "documents.parquet")
    # append exact copies of documents under new ids
    staged = str(tmp_path / "documents.parquet")
    duckdb.sql(
        f"""COPY (
          SELECT * FROM read_parquet('{doc_path}')
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
          FROM read_parquet('{doc_path}') WHERE {copied}
        ) TO '{staged}' (FORMAT PARQUET)"""
    )
    par = spark.sparkContext.defaultParallelism
    old_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    if split_at_gate:
        split = os.path.getsize(staged) // max(par // 2, 2)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    names = ("dedup_ngram_jaccard", "containment_dedup", "bm25_retrieval")
    qs = all_queries()
    try:
        gated_before = _fans_out(spark, lake)
        before = {n: _rows(qs[n](spark, lake)) for n in names}
        built = _entries(spark, doc_path)
        os.replace(staged, doc_path)
        gated_after = _fans_out(spark, lake)
        assert gated_before and gated_after != split_at_gate
        shutil.copytree(lake, fresh)
        after = {n: _rows(qs[n](spark, lake)) for n in names}
        for n in names:
            assert after[n] == _rows(qs[n](spark, fresh)), n
        rebuilt = _entries(spark, doc_path)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
    names_built = [n for n, _ in built]
    assert names_built == ["bm25-index", "ngram-hashed", "ngram-postings:auto"]
    if not split_at_gate:
        assert len(before["dedup_ngram_jaccard"]) == 28
        assert len(after["dedup_ngram_jaccard"]) == 35
    assert len(after["dedup_ngram_jaccard"]) > len(before["dedup_ngram_jaccard"])
    # one entry per name: each rebuild replaced its predecessor and
    # deleted the stale directory
    assert [n for n, _ in rebuilt] == names_built
    assert not any(os.path.exists(d) for _, d in built)


def test_unreadable_input_version_builds_unwritten(spark, tmp_path):
    """An input whose version cannot be read is a miss that records
    nothing and writes no scratch directory."""
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    reads = spark.read.parquet(path)  # lists the files now
    shutil.rmtree(path)
    frame = spark.range(3)
    before = dict(H._MATERIALIZED)
    app_dir = os.path.join(H._SCRATCH_ROOT, spark.sparkContext.applicationId)
    dirs = set(os.listdir(app_dir)) if os.path.isdir(app_dir) else set()
    assert H.scratch("unreadable", reads, lambda: frame) is frame
    assert H._MATERIALIZED == before
    assert (set(os.listdir(app_dir)) if os.path.isdir(app_dir) else set()) == dirs
    assert H.remember("unreadable", reads, lambda: 7) == 7
    assert not any(k[1] == "unreadable" for k in H._MEMO)


def test_two_corpora_through_one_gate(spark, tmp_path):
    """One application gates the same new documents against two
    corpora (the even and the odd doc_id halves of one table): each
    answer equals the keyless batch answer for its own corpus, through
    the batch operator and the streaming gate alike."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        dedup_incremental,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        stream_dedup_gate,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    new = docs.where("doc_id < 10").select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    drop = str(tmp_path / "incoming")
    new.repartition(2).write.parquet(drop)
    new = spark.read.schema(DOCS_STREAM_SCHEMA).parquet(drop)

    def ids(df):
        return sorted(r.doc_id for r in df.collect())

    for half in (0, 1):
        corpus = docs.where(F.col("doc_id") % 2 == half)
        want = ids(dedup_incremental(new, corpus))
        assert ids(dedup_incremental(new, corpus, reuse_corpus=True)) == want, half
        target = str(tmp_path / f"admitted{half}")
        stream = (
            spark.readStream.schema(DOCS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        await_stream_done(stream_dedup_gate(stream, corpus, target))
        assert ids(spark.read.parquet(target)) == want, half
        assert want, half
        # exact copies of the corpus half are gone, the other half stays
        assert all((i - 900000) % 2 != half for i in want), (half, want)


def test_scratch_hit_reuses_its_scan_until_the_entry_goes(spark, tmp_path, monkeypatch):
    """A hit returns the scan recorded with its entry (no path is
    resolved again). An entry that was dropped, or replaced because its
    input changed, never hands out its old scan: the next call builds
    and reads the new directory."""
    from urllib.parse import urlparse

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    src = {"reads": spark.read.parquet(path)}
    reads = src["reads"]
    builds = []

    def build():
        builds.append(1)
        return src["reads"].selectExpr("id * 3 AS v")

    def entry_dir():
        app = spark.sparkContext.applicationId
        (d,) = [e.value.path for k, e in H._MATERIALIZED.items() if k[:2] == (app, "relscan")]
        return d

    def read_dirs(df):
        return {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}

    first = H.scratch("relscan", reads, build)
    built = entry_dir()
    calls = parquet_calls(monkeypatch)
    hit = H.scratch("relscan", reads, build)
    assert calls == [] and len(builds) == 1
    assert read_dirs(hit) == {built} and _rows(hit) == _rows(first)
    # a hit is a new scan: it joins the first frame on Column references
    assert hit.join(first, hit.v == first.v).count() == 10

    key = next(k for k in H._MATERIALIZED if k[1] == "relscan")
    H._drop(H._MATERIALIZED, key)
    again = H.scratch("relscan", reads, build)
    rebuilt = entry_dir()
    assert len(builds) == 2 and rebuilt != built and not os.path.exists(built)
    assert read_dirs(again) == {rebuilt}

    spark.range(4).write.mode("overwrite").parquet(path)  # the input changes
    src["reads"] = spark.read.parquet(path)
    changed = H.scratch("relscan", src["reads"], build)
    assert len(builds) == 3 and entry_dir() not in (built, rebuilt)
    assert not os.path.exists(rebuilt)
    assert read_dirs(changed) == {entry_dir()}
    assert _rows(changed) == [(0,), (3,), (6,), (9,)]
