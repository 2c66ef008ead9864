"""Regression tests for the round-6 VERDICT/ADVICE findings fixed in
round 7. Item 1 (where ``pin`` places iterative state) is tested in
test_pin.py.

2. baseline_check.py parses `--factor 2.5 BENCH.json` in either
   argument order (ADVICE: the hand-rolled parser crashed on the
   space-separated form placed first).
3. _ANN_MARGIN_FACTOR is a single module constant both BLAS selection
   UDFs read, and an exact-tie corpus denser than the margin still
   rescoes bit-identically to bruteforce (the lexsort tie-break
   contract).
4. dv sidecar matching is parent-directory-aware: two part files with
   the SAME basename in different tables can no longer suppress each
   other's rows (ADVICE: copied-part-file table assembly).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------- fix 2
def _run_baseline_check(args):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "baseline_check.py"), *args],
        capture_output=True,
        text=True,
        cwd=REPO,
    )


def test_baseline_check_factor_before_positional(tmp_path):
    """`--factor 9.9 BENCH.json` (value first) must parse — the old
    parser passed '9.9' to load_bench and crashed."""
    base = json.loads(
        open(os.path.join(REPO, "BASELINE.md"))
        .read()
        .split("<!-- BASELINE_JSON\n")[1]
        .split("\nBASELINE_JSON -->")[0]
    )
    bench = {
        "metric": "t",
        "value": 1.0,
        "unit": "sec",
        "sf": 0.1,
        "queries": {k: v for k, v in base["queries"].items()},
    }
    p = tmp_path / "bench.json"
    p.write_text(json.dumps(bench))
    r1 = _run_baseline_check(["--factor", "9.9", str(p)])
    r2 = _run_baseline_check([str(p), "--factor", "9.9"])
    assert r1.returncode == 0, r1.stderr
    assert r2.returncode == 0, r2.stderr
    assert json.loads(r1.stdout)["gate_factor"] == 9.9
    assert json.loads(r2.stdout)["gate_factor"] == 9.9


# ------------------------------------------------------------- fix 3
def test_ann_margin_factor_single_constant():
    """Both BLAS selection UDF bodies read the module constant (not a
    literal), so widening the margin is a one-line change."""
    import inspect

    from cdk_serverless_data_lake_sandbox_spark.operators import similarity

    assert similarity._ANN_MARGIN_FACTOR >= 2
    for fn in (similarity.ann_topk_vectorized, similarity.ann_topk_arrow):
        src = inspect.getsource(fn)
        assert "_ANN_MARGIN_FACTOR * k" in src, fn.__name__
        assert "2 * k" not in src, fn.__name__


def test_ann_vectorized_exact_ties_denser_than_margin(spark, tmp_path):
    """Adversarial near-tie corpus: more vectors than the margin
    (factor*k) tie EXACTLY at the kth-boundary score in one partition.
    The lexsort (score desc, id asc) tie-break must keep the same
    survivors the JVM window keeps, so the vectorized path stays
    bit-identical to bruteforce. This pins the documented failure
    mode loudly: if the margin logic regresses, the ids diverge."""
    from cdk_serverless_data_lake_sandbox_spark.operators import similarity

    k = similarity._TOP_K
    margin = similarity._ANN_MARGIN_FACTOR * k
    nq = similarity._N_QUERIES
    # query vectors 0..nq-1: distinct directions; corpus: 4*margin
    # copies of the SAME unit vector (exact ties for every query)
    dim = 8
    rows = []
    for vid in range(nq):
        v = [0.0] * dim
        v[vid % dim] = 1.0
        v[(vid + 1) % dim] = 0.5
        rows.append((vid, v))
    tie = [1.0] + [0.25] * (dim - 1)
    for vid in range(nq, nq + 4 * margin):
        rows.append((vid, list(tie)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sf_dir = str(tmp_path / "tie_sf")
    os.makedirs(sf_dir)
    df.coalesce(1).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    brute = _collect_sorted(similarity.ann_topk_bruteforce(spark, sf_dir))
    vec = _collect_sorted(similarity.ann_topk_vectorized(spark, sf_dir))
    assert vec == brute


# ------------------------------------------------------------- fix 4
def test_dv_sidecar_same_basename_different_parent(spark, tmp_path):
    """Assemble a table from two copied part files that share a
    BASENAME but live under different parent dirs; a deletion vector
    recorded against one must not suppress rows read from the other."""
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        dv_delete,
        dv_read,
    )

    table = str(tmp_path / "tbl")
    # two single-file source tables, same basename via manual copy
    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    spark.range(0, 10).withColumn("v", F.lit("a")).coalesce(1).write.parquet(src_a)
    spark.range(10, 20).withColumn("v", F.lit("b")).coalesce(1).write.parquet(src_b)
    import glob
    import shutil

    os.makedirs(os.path.join(table, "part=a"))
    os.makedirs(os.path.join(table, "part=b"))
    fa = glob.glob(os.path.join(src_a, "*.parquet"))[0]
    fb = glob.glob(os.path.join(src_b, "*.parquet"))[0]
    shared = "part-00000-copied.snappy.parquet"
    shutil.copy(fa, os.path.join(table, "part=a", shared))
    shutil.copy(fb, os.path.join(table, "part=b", shared))
    assert spark.read.parquet(table).count() == 20

    out = dv_delete(spark, table, "id < 3")  # rows live in part=a's file
    assert out["rows_deleted"] == 3
    remaining = dv_read(spark, table)
    assert remaining.count() == 17
    # part=b's same-named file is untouched: all of 10..19 survive
    assert remaining.where(F.col("id") >= 10).count() == 10


def test_multimodal_docstring_matches_decoder():
    """The module docstring must describe the REAL JPEG decoder, not
    the round-2 stub (round-6 verdict item 3)."""
    from cdk_serverless_data_lake_sandbox_spark.operators import multimodal

    doc = multimodal.__doc__
    assert "stays stubbed" not in doc
    assert "progressive" in doc
    assert "12-bit" in doc


# ------------------------------------------------------------- fix 6
def _legacy_minhash_pairs(spark, sf_dir):
    """The pre-round-7 xxhash64 MinHash path, reconstructed inline:
    the A/B baseline the verdict asked for (candidate sets unchanged
    after the portable-hash flip)."""
    from cdk_serverless_data_lake_sandbox_spark.operators import dedup as D

    docs = D._docs(spark, sf_dir)
    hashes = (
        D._hashed_shingles(docs, None)
        .select("doc_id", F.explode_outer("hs").alias("h"))
        .where(F.col("h").isNotNull())
    )
    mins = [F.min(F.xxhash64("h", F.lit(i))).alias(f"m{i}") for i in range(D._N_PERM)]
    sigs = hashes.groupBy("doc_id").agg(*mins).select(
        "doc_id", F.array(*[f"m{i}" for i in range(D._N_PERM)]).alias("sig")
    )
    band_arrays = ", ".join(
        f"named_struct('band', {i}, 'key', xxhash64(concat_ws(',',"
        f" slice(sig, {i * D._BAND_ROWS + 1}, {D._BAND_ROWS}))))"
        for i in range(D._N_PERM // D._BAND_ROWS)
    )
    banded = sigs.select(
        "doc_id", "sig", F.explode(F.expr(f"array({band_arrays})")).alias("b")
    ).select("doc_id", "sig", "b.band", "b.key")
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pair_expr = """
    flatten(transform(ms, (x, i) ->
      transform(slice(ms, i + 2, size(ms)), y ->
        struct(x.doc_id AS a_id, y.doc_id AS b_id))))
    """
    return {
        (r.a_id, r.b_id)
        for r in buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .distinct()
        .collect()
    }


def test_minhash_portable_hash_candidate_set_unchanged(spark):
    """A/B at the gate SF: the portable-hash MinHash emits EXACTLY
    the candidate pairs the xxhash64 path emitted (the near-dup mass
    collides under any decent hash; the band-collision tail happens
    to be empty on this corpus, making set equality checkable)."""
    from tests.conftest import SF_MEDIUM

    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

    new = {
        (r.a_id, r.b_id)
        for r in all_queries()["dedup_minhash_lsh"](spark, SF_MEDIUM)
        .select("a_id", "b_id")
        .collect()
    }
    legacy = _legacy_minhash_pairs(spark, SF_MEDIUM)
    assert new == legacy


def test_simhash_portable_hash_structural_guarantees(spark):
    """The simhash signature space changed with the hash (borderline
    candidates are realization-dependent by design), so the A/B
    contract is structural, pinned on the TRUE near-dups: every
    strong pair (exact jaccard >= 0.9) keeps hamming <= 16 under the
    new signatures, and every strong pair at hamming <= 3 appears in
    the candidate output (the 4x16-bit pigeonhole guarantee)."""
    from tests.conftest import SF_MEDIUM

    from cdk_serverless_data_lake_sandbox_spark.operators import dedup as D
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

    qs = all_queries()
    strong = {
        (r.a_id, r.b_id)
        for r in qs["dedup_ngram_jaccard"](spark, SF_MEDIUM).collect()
        if r.jaccard >= 0.9
    }
    assert strong, "gate corpus must contain strong near-dups"

    params = D._minhash_perm_params(64)
    docs = D._docs(spark, SF_MEDIUM)
    tokens = (
        docs.select("doc_id", F.explode_outer(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w").isNotNull())
        .select("doc_id", F.expr(D._horner_spark("w")).alias("h"))
    )
    votes = [
        F.sum(F.when(F.expr(D._simhash_bit(j, a, b)) == 1, 1).otherwise(-1)).alias(f"v{j}")
        for j, (a, b) in enumerate(params)
    ]
    sim_expr = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({D._simhash_addend(j)} AS BIGINT) ELSE 0L END)"
        for j in range(64)
    )
    sigs = {
        r.doc_id: r.sim
        for r in tokens.groupBy("doc_id").agg(*votes)
        .select("doc_id", F.expr(sim_expr).alias("sim"))
        .collect()
    }
    got = {
        (r.a_id, r.b_id)
        for r in qs["dedup_simhash"](spark, SF_MEDIUM).select("a_id", "b_id").collect()
    }
    for a, b in strong:
        ham = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
        assert ham <= 16, f"strong pair ({a},{b}) drifted to hamming {ham}"
        if ham <= 3:
            assert (a, b) in got, f"pigeonhole-guaranteed pair ({a},{b}) missing"


# --------------------------------------------- round-7 review findings
def test_dv_compact_refuses_nested_layout(spark, tmp_path):
    """dv_compact on a table with subdirectory part files must refuse
    loudly (review finding: the flat-only rewrite previously DELETED
    every subdirectory file in the swap — reproduced data loss), and
    the nested table must be untouched afterwards."""
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        dv_compact,
        dv_delete,
        dv_read,
    )

    table = str(tmp_path / "nested")
    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    spark.range(0, 10).withColumn("v", F.lit("a")).coalesce(1).write.parquet(src_a)
    spark.range(10, 20).withColumn("v", F.lit("b")).coalesce(1).write.parquet(src_b)
    import glob
    import shutil

    os.makedirs(os.path.join(table, "part=a"))
    os.makedirs(os.path.join(table, "part=b"))
    shared = "part-00000-copied.snappy.parquet"
    shutil.copy(glob.glob(os.path.join(src_a, "*.parquet"))[0],
                os.path.join(table, "part=a", shared))
    shutil.copy(glob.glob(os.path.join(src_b, "*.parquet"))[0],
                os.path.join(table, "part=b", shared))
    dv_delete(spark, table, "id < 3")
    assert dv_read(spark, table).count() == 17
    with pytest.raises(ValueError, match="flat tables only"):
        dv_compact(spark, table)
    # nothing destroyed: same 17 surviving rows, dv still applied
    assert dv_read(spark, table).count() == 17
    assert spark.read.parquet(table).count() == 20

    # the flat path still compacts
    flat = str(tmp_path / "flat")
    spark.range(0, 20).repartition(2).write.parquet(flat)
    dv_delete(spark, flat, "id < 5")
    out = dv_compact(spark, flat)
    assert out["rows_dropped"] == 5
    assert spark.read.parquet(flat).count() == 15


def test_minhash_index_format_stamp(spark, tmp_path):
    """A probe against an index built under a different (or unknown)
    hash scheme raises instead of silently matching nothing (review
    finding: a pre-r7 xxhash index would admit every duplicate)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_query,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    minhash_index_build(docs, idx)
    assert os.path.exists(os.path.join(idx, "_format.json"))
    # a matching probe works
    probe = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    assert minhash_index_query(spark, idx, probe).count() >= 1

    # unknown / legacy format -> loud failure
    import json

    with open(os.path.join(idx, "_format.json"), "w") as fh:
        json.dump({"format": "xxhash-v1"}, fh)
    with pytest.raises(ValueError, match="rebuild"):
        minhash_index_query(spark, idx, probe)
    os.remove(os.path.join(idx, "_format.json"))  # pre-stamp index
    with pytest.raises(ValueError, match="rebuild"):
        minhash_index_query(spark, idx, probe)
