"""Round-4 operator tests: automatic hot-shingle guard engagement,
and the new operators landed this round."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables

from tests.conftest import SF_SMALL


# ------------------------------------------------ auto hot guard
def _saturated_corpus(spark):
    """1,200 docs sharing one leading trigram (posting size > the
    auto bound) with otherwise-unique tails, plus exact copies so the
    pair set is non-empty. This is the regime the sf1 soak proved
    OOMs the unguarded in-lambda flatten at scale."""
    rows = []
    for i in range(1200):
        tail = " ".join(f"t{i}w{j}" for j in range(8))
        rows.append((i, f"c0 c1 c2 {tail}"))
    # exact copies of the first 5 docs -> jaccard 1.0 pairs
    for j in range(5):
        rows.append((5000 + j, rows[j][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_auto_hot_guard_engages_and_is_lossless(spark):
    """On a corpus with a posting over _HOT_AUTO_BOUND the DEFAULT
    call (no hot_threshold argument) must take the guard path and
    still produce exactly the unguarded plan's pair set — auto
    engagement may never change results."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        _HOT_AUTO_BOUND,
        _shingled,
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = _saturated_corpus(spark)
    # precondition: the corpus really is in the hot regime
    max_posting = (
        _shingled(docs)
        .select(F.explode("sh").alias("s"))
        .groupBy("s")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_posting > _HOT_AUTO_BOUND, "test corpus lost its hot posting"

    for core in (ngram_jaccard_pairs, containment_pairs):
        auto = core(docs).collect()  # default: auto
        off = core(docs, hot_threshold=None).collect()
        cols = auto[0].asDict().keys() if auto else []
        a = {tuple(r[c] for c in cols) for r in auto}
        o = {tuple(r[c] for c in cols) for r in off}
        assert a == o and len(a) > 0, core.__name__


def test_auto_hot_guard_stays_off_on_bounded_postings(spark):
    """A Heaps-law corpus (the real testdata) resolves auto to the
    plain in-lambda plan: _resolve_hot returns None, so the physical
    plan is byte-identical to hot_threshold=None."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    # keyed scratch -> both calls scan the same materialized
    # intermediate, so the plans are comparable as strings
    auto_plan = (
        ngram_jaccard_pairs(docs, reuse=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    off_plan = (
        ngram_jaccard_pairs(docs, reuse=True, hot_threshold=None)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    import re

    strip = lambda p: re.sub(r"#\d+", "#", p)  # expression ids differ per plan
    assert strip(auto_plan) == strip(off_plan)


# --------------------------------------- SURVEY §2 kind bookkeeping
def test_survey_kinds_match_registry():
    """The §2 checklist is the coverage contract: a row marked [Q]
    must have a registered oracle and a row marked [R] must not —
    the r3 verdict found exactly one mismatch (C42), so pin the whole
    table."""
    import os
    import re

    from cdk_serverless_data_lake_sandbox_spark.registry import (
        all_oracles,
        all_queries,
    )

    qs, ors = all_queries(), all_oracles()
    survey = os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    with open(survey) as fh:
        text = fh.read()
    checked = 0
    for m in re.finditer(
        r"^\| ([A-E]\d+b?) \| `([a-z0-9_]+)`[^|]*\| ([A-Z]) \|", text, re.M
    ):
        row, name, kind = m.groups()
        if name not in qs:
            continue
        if kind == "Q":
            assert name in ors, f"{row} {name}: SURVEY says Q, registry has no oracle"
        elif kind == "R":
            assert name not in ors, f"{row} {name}: SURVEY says R, registry has an oracle"
        checked += 1
    assert checked > 120, f"only matched {checked} rows — regex drifted from SURVEY format"


# --------------------------------------- D20 char-span index + E32 gate
def test_charspan_index_query_coverage(spark, tmp_path):
    """Index the corpus slice, then probe: an exact copy of an
    indexed document reads coverage 1.0, a novel document 0.0, and a
    half-spliced document in between — the exact-membership notion
    strip_dup_chars uses, served from the persisted artifact."""
    from cdk_serverless_data_lake_sandbox_spark.operators.shaping import (
        charspan_index_build,
        charspan_index_query,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"].where(
        "doc_id < 100 and length(text) >= 120"
    )
    idx = str(tmp_path / "idx")
    stats = charspan_index_build(docs, idx)
    assert stats["n_spans"] > 0

    src = docs.orderBy("doc_id").limit(2).collect()
    novel = "".join(f"q{i}x{i * 3 % 7}z" for i in range(60))
    half = src[0]["text"][:100] + novel[:100]
    probe = spark.createDataFrame(
        [(9001, src[1]["text"]), (9002, novel), (9003, half)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in charspan_index_query(spark, probe, idx).collect()
    }
    assert got[9001]["coverage"] == 1.0
    assert got[9002]["coverage"] == 0.0
    assert 0.0 < got[9003]["coverage"] < 1.0
    assert got[9001]["n_covered"] == got[9001]["n_chars"]


def test_stream_charspan_gate_drops_covered_docs(spark, tmp_path):
    """The gate bootstraps a fresh index from batch 1, drops a batch-2
    document mostly composed of batch-1 text (coverage >= threshold),
    admits novel text, and replays idempotently after a deleted
    marker (the crash-before-commit retry)."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_charspan_gate,
    )

    from tests.conftest import await_stream_done

    base1 = "".join(f"a{i}b{i * 5 % 13}c" for i in range(80))
    base2 = "".join(f"d{i}e{i * 7 % 11}f" for i in range(80))
    novel = "".join(f"z{i}y{i * 3 % 17}w" for i in range(80))
    batch1 = [(1, base1), (2, base2)]
    batch2 = [
        (3, base1[:300] + "TAIL"),  # ~98% covered by doc 1 -> drop
        (4, novel),  # admit
    ]
    drop = str(tmp_path / "drop")
    spark.createDataFrame(batch1, "doc_id long, text string").repartition(
        1
    ).write.parquet(drop)
    spark.createDataFrame(batch2, "doc_id long, text string").repartition(
        1
    ).write.mode("append").parquet(drop)

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_charspan_gate(stream, idx, out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()

    run(str(tmp_path / "ckpt"))
    admitted = set(spark.read.parquet(out).toPandas().doc_id)
    assert admitted == {1, 2, 4}, admitted

    for m in os.listdir(os.path.join(idx, "manifest")):
        os.remove(os.path.join(idx, "manifest", m))
    run(str(tmp_path / "ckpt2"))
    replayed = spark.read.parquet(out).toPandas()
    assert set(replayed.doc_id) == {1, 2, 4}
    assert replayed.doc_id.is_unique
