"""Recall/sanity tests for the probabilistic (rows-only) operators,
measured against their exact counterparts."""

from __future__ import annotations

from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

from tests.conftest import SF_MEDIUM, SF_SMALL, count_jobs

_Q = all_queries()

# A cold Lloyd fit (k=8, 4 rounds) at sf0.001 and sf0.01 ran 9 jobs: the
# seed collect, then per round the per-(cid, pos) mean aggregate's
# shuffle stage and its collect. It ran 13 when each round grouped the
# means by cid again to build the centroid arrays on the executors. The
# bound adds one job of margin.
KMEANS_COLD_FIT_MAX_JOBS = 10


def _pairs(df, a="a_id", b="b_id"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_recall_vs_exact_jaccard(spark):
    exact = _Q["dedup_ngram_jaccard"](spark, SF_MEDIUM).collect()
    true_pairs = {(r.a_id, r.b_id) for r in exact}
    assert true_pairs, "expected some true near-dup pairs at sf0.01"
    cand = _pairs(_Q["dedup_minhash_lsh"](spark, SF_MEDIUM))
    recall = len(true_pairs & cand) / len(true_pairs)
    assert recall >= 0.9, f"minhash recall {recall:.2f} over {len(true_pairs)} pairs"


def test_simhash_pairs_sane(spark):
    rows = _Q["dedup_simhash"](spark, SF_MEDIUM).collect()
    assert rows, "simhash should surface candidate pairs"
    assert all(0 <= r.hamming <= 16 and r.a_id < r.b_id for r in rows)
    # near-dups by exact jaccard should mostly be low-hamming candidates
    exact = _Q["dedup_ngram_jaccard"](spark, SF_MEDIUM).collect()
    strong = {(r.a_id, r.b_id) for r in exact if r.jaccard >= 0.9}
    if strong:
        found = {(r.a_id, r.b_id) for r in rows}
        recall = len(strong & found) / len(strong)
        assert recall >= 0.5, f"simhash recall on strong pairs {recall:.2f}"


def test_ann_lsh_recall_vs_bruteforce(spark):
    exact = _Q["ann_topk_bruteforce"](spark, SF_MEDIUM).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    approx = _Q["ann_lsh_bucketed"](spark, SF_MEDIUM).collect()
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    # LSH on 64-dim data with 8-bit buckets x4 tables: imperfect by
    # design; the scale win is the candidate reduction.
    assert recall >= 0.3, f"ann lsh recall@5 {recall:.2f}"
    assert all(r.rank <= 5 for r in approx)


def test_approx_distinct_error_bound(spark):
    exact = {
        r.event_type: r.n_users
        for r in _Q["distinct_users"](spark, SF_MEDIUM).collect()
    }
    approx = {
        r.event_type: r.n_users_approx
        for r in _Q["approx_distinct_users"](spark, SF_MEDIUM).collect()
    }
    assert set(exact) == set(approx)
    for et, n in exact.items():
        assert abs(approx[et] - n) / n < 0.05, (et, n, approx[et])


def test_exact_dedup_keeps_min_id(spark):
    rows = _Q["dedup_exact"](spark, SF_MEDIUM).collect()
    assert sum(r.n_copies for r in rows) == 500  # all docs accounted for
    assert all(r.n_copies >= 1 for r in rows)


def test_ann_ivf_recall_vs_bruteforce(spark):
    exact = _Q["ann_topk_bruteforce"](spark, SF_MEDIUM).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    approx = _Q["ann_ivf"](spark, SF_MEDIUM).collect()
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    # 4-of-16 cells probed: a true neighbor is only missed when it
    # lands outside all probed cells.
    assert recall >= 0.5, f"ann ivf recall@5 {recall:.2f}"
    assert all(r.rank <= 5 for r in approx)


def test_approx_quantiles_error_bound(spark):
    from pyspark.sql import functions as F

    exact = {
        r.o_orderpriority: r.pcts
        for r in _Q["approx_quantiles"](spark, SF_MEDIUM)
        .sparkSession.read.parquet(f"{SF_MEDIUM}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.percentile("o_totalprice", F.lit([0.5, 0.95, 0.99])).alias("pcts"))
        .collect()
    }
    approx = {
        r.o_orderpriority: [r.p50, r.p95, r.p99]
        for r in _Q["approx_quantiles"](spark, SF_MEDIUM).collect()
    }
    assert set(approx) == set(exact)
    for k, av in approx.items():
        for a, e in zip(av, exact[k]):
            assert abs(a - e) / max(abs(e), 1e-9) < 0.02, (k, a, e)


def test_ann_vectorized_matches_bruteforce(spark):
    exact = _Q["ann_topk_bruteforce"](spark, SF_MEDIUM).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    vec = _Q["ann_topk_vectorized"](spark, SF_MEDIUM).collect()
    got = {(r.query_id, r.neighbor_id) for r in vec}
    # identical algorithm, different float summation order: allow a
    # tie swap but nothing more
    recall = len(truth & got) / len(truth)
    assert recall >= 0.98, f"vectorized recall {recall:.3f}"
    assert all(r.rank <= 5 for r in vec)


def test_frequent_items_contains_exact_heavy_hitters(spark):
    from pyspark.sql import functions as F

    row = _Q["frequent_items_sketch"](spark, SF_MEDIUM).collect()[0]
    ev = _Q["distinct_users"](spark, SF_MEDIUM)  # any events-derived frame
    exact = (
        ev.sparkSession.read.parquet(f"{SF_MEDIUM}/events.parquet")
        .groupBy("event_type")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in exact)
    heavy = {r.event_type for r in exact if r["count"] / total > 0.05}
    got = set(row.frequent_types.split(",")) if row.frequent_types else set()
    assert heavy <= got, (heavy, got)
    assert row.n_frequent_users >= 0


def test_kmeans_deterministic_and_complete(spark):
    a = {r.cluster: (r.n_vectors, r.inertia) for r in _Q["kmeans_clusters"](spark, SF_MEDIUM).collect()}
    b = {r.cluster: (r.n_vectors, r.inertia) for r in _Q["kmeans_clusters"](spark, SF_MEDIUM).collect()}
    assert a == b, "k-means must be run-to-run deterministic"
    n_total = sum(n for n, _ in a.values())
    corpus = _Q["embedding_norm_stats"](spark, SF_MEDIUM).agg(
        {"n_vectors": "sum"}
    ).collect()[0][0]
    assert n_total == corpus  # every vector assigned exactly once
    assert 1 <= len(a) <= 8


def test_kmeans_cold_fit_job_budget(spark):
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import _kmeans_centroids

    e = load_tables(spark, SF_SMALL, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    cents, jobs = count_jobs(spark, "kmeans-fit", lambda: _kmeans_centroids(e, 8, 4))
    assert jobs <= KMEANS_COLD_FIT_MAX_JOBS
    assert [cid for cid, _ in cents] == list(range(1, 9))
    assert len({len(ce) for _, ce in cents}) == 1


def test_scalable_quartiles_approximate_exact_ntile(spark):
    exact = {
        r.quartile: r.n_customers
        for r in _Q["ntile_quartiles"](spark, SF_MEDIUM).collect()
    }
    approx = {
        r.quartile: r.n_customers
        for r in _Q["quartiles_scalable"](spark, SF_MEDIUM).collect()
    }
    assert set(approx) == {1, 2, 3, 4}
    total = sum(exact.values())
    for q in exact:
        # sketch-boundary drift stays under 2% of the population
        assert abs(approx.get(q, 0) - exact[q]) <= max(0.02 * total, 2), (q, approx, exact)


def test_dedup_incremental_against_corpus(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import dedup_incremental

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "an entirely different document about spark pipelines"),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # exact dup
            (11, "the quick brown fox jumps over the lazy dog yesterday"),  # near dup
            (12, "completely novel content with no overlap at all here"),  # fresh
        ],
        schema,
    )
    kept = {r.doc_id for r in dedup_incremental(new, corpus).collect()}
    assert kept == {12}, kept
    # idempotent: a fresh batch against an empty corpus keeps everything
    empty = spark.createDataFrame([], schema)
    assert {r.doc_id for r in dedup_incremental(new, empty).collect()} == {10, 11, 12}


def test_incremental_prefix_filter_prunes_candidates(spark):
    """The AllPairs prefix condition must prune cross-side candidate
    pairs that share only non-prefix shingles on BOTH sides, without
    changing dedup results. The pair below shares exactly one shingle
    that sorts into neither side's prefix at tau=0.9 (prefix length =
    n - ceil(0.9 n) + 1 = 1 for n<=10, so only the smallest hash may
    open a candidate)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        _hashed_side,
        incremental_candidates,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], schema
    )
    new = spark.createDataFrame(
        [(10, "one two three four five six seven eta theta iota")], schema
    )
    new_h, old_h = _hashed_side(new, "new"), _hashed_side(corpus, "old")

    def n_cands(tau):
        return incremental_candidates(new_h, old_h, tau).count()

    # At tau=0.5 the shared shingle may open the pair (prefix is about
    # half the shingles); at a high tau the prefix shrinks to the very
    # smallest hashes and the pair must be pruned UNLESS one of its
    # shared shingles happens to hash minimal — assert the filtered
    # count never exceeds the unfiltered inverted-index join.
    naive = (
        _hashed_side(new, "new")
        .crossJoin(_hashed_side(corpus, "old"))
        .where(F.size(F.array_intersect("hs_new", "hs_old")) > 0)
        .count()
    )
    assert n_cands(0.5) <= naive
    # tau=0.9: size ratio alone passes (10 vs 10 shingles) but the one
    # shared 3-gram run can't reach jaccard 0.9, and prefix filtering
    # must already prune the pair at candidate time (count == 0) or at
    # worst keep it (count <= 1); dedup output must keep doc 10 either
    # way.
    assert n_cands(0.9) <= 1
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import dedup_incremental

    kept = {r.doc_id for r in dedup_incremental(new, corpus, tau=0.9).collect()}
    assert kept == {10}


def test_semantic_dedup_deterministic_and_exact(spark):
    """semantic_dedup (SemDeDup-style) must be run-to-run stable, and
    every emitted dup group must be reachable through genuine
    cosine>=tau pairs — verified against the unblocked brute-force
    pair graph's connected components."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _COSINE_TAU, _dot, _norm,
    )

    a = {tuple(r) for r in _Q["semantic_dedup"](spark, SF_MEDIUM).collect()}
    b = {tuple(r) for r in _Q["semantic_dedup"](spark, SF_MEDIUM).collect()}
    assert a == b, "semantic_dedup must be deterministic"
    assert len(a) > 0, "synthetic corpus has semantic dup groups"

    # Brute-force ground truth: every pair with cosine >= tau.
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.pipeline import (
        min_label_components,
    )

    e = load_tables(spark, SF_MEDIUM, ("embeddings",))["embeddings"].select(
        "vec_id", "embedding"
    )
    qa = e.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"),
        _norm("embedding").alias("na"),
    )
    qb = e.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"),
        _norm("embedding").alias("nb"),
    )
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    bf_pairs = (
        qa.join(qb, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", cos.alias("c"))
        .where(F.col("c") >= _COSINE_TAU)
        .select("a_id", "b_id")
    )
    bf_labels = min_label_components(e.select(F.col("vec_id").alias("doc_id")), bf_pairs)
    bf_groups = {
        (r["label"], r["n"])
        for r in bf_labels.groupBy("label").agg(F.count("*").alias("n")).where(F.col("n") > 1).collect()
    }
    got_groups = {(g, n) for (g, _cl, n) in a}
    # Exactness: k-means blocking can only SPLIT brute-force groups,
    # never merge unrelated vectors — so every emitted group's
    # canonical member must belong to a brute-force component at
    # least as large.
    vec_to_bf = {r["doc_id"]: r["label"] for r in bf_labels.collect()}
    bf_sizes = dict(bf_groups)
    for g, n in got_groups:
        bf_label = vec_to_bf[g]
        assert n <= bf_sizes.get(bf_label, 1), (g, n, bf_label)
    # Recall: the blocked scan must recover most of the brute-force
    # dup mass (near-dups co-locate in embedding space, so they land
    # in the same k-means cell).
    bf_mass = sum(n for _, n in bf_groups)
    got_mass = sum(n for _, n in got_groups)
    assert got_mass >= 0.6 * bf_mass, (got_mass, bf_mass)


def test_sketch_rollup_dau_error_bound(spark):
    """Weekly uniques from unioned daily HLL sketches must sit within
    HLL error (lgK=12 -> ~1.6% std) of the exact weekly distincts,
    and day/event counts are exact."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables

    got = {r.week_start: r for r in _Q["sketch_rollup_dau"](spark, SF_MEDIUM).collect()}
    ev = load_tables(spark, SF_MEDIUM, ("events",))["events"]
    exact = {
        r.week_start: (r.n_users, r.n_events)
        for r in ev.groupBy(
            F.date_trunc("week", F.col("ts")).alias("week_start")
        )
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for wk, r in got.items():
        n_users, n_events = exact[wk]
        assert r.n_events == n_events
        assert abs(r.approx_users - n_users) <= max(3, 0.05 * n_users), (
            wk, r.approx_users, n_users
        )


def test_ann_pq_recall_and_compression(spark):
    """PQ-ANN: 8x4-bit codes must keep usable recall vs exact brute
    force, codes must be valid (M entries, values in [1, K]), and
    reconstruction must be lossy-but-close (quantization sanity)."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        pq_codebooks,
        pq_encode,
    )

    exact = _Q["ann_topk_bruteforce"](spark, SF_MEDIUM).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    approx = _Q["ann_topk_pq"](spark, SF_MEDIUM).collect()
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"pq recall@5 {recall:.2f}"
    assert all(r.rank <= 5 and -1.0001 <= r.approx_cosine <= 1.0001 for r in approx)

    e = load_tables(spark, SF_MEDIUM, ("embeddings",))["embeddings"].select(
        "vec_id", "embedding"
    )
    enc = pq_encode(e, pq_codebooks(e))
    rows = enc.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
        F.size("recon").alias("d"),
        F.expr(
            "sqrt(aggregate(zip_with(recon, recon, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0d, (a, v) -> a + v))"
        ).alias("rn"),
    ).collect()
    assert all(r.m == _PQ_M and 1 <= r.lo and r.hi <= _PQ_K and r.d == 64 for r in rows)
    # reconstructed vectors are non-degenerate
    assert all(r.rn > 0 for r in rows)


def test_minhash_band_planner_constraints_and_default():
    """The planner must (a) satisfy the recall floor, (b) dominate
    every other feasible config on false-positive probability, and
    (c) endorse a config at least as good as the hand-picked 8x4
    default for the module's own parameters."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        _BAND_ROWS,
        _N_PERM,
        plan_minhash_bands,
    )

    plan = plan_minhash_bands(_N_PERM, 0.9, min_recall=0.99)
    assert plan["recall_at_tau"] >= 0.99
    assert plan["perms_used"] <= _N_PERM
    for r in range(1, _N_PERM + 1):
        b = _N_PERM // r
        if b < 1:
            continue
        recall = 1.0 - (1.0 - 0.9**r) ** b
        if recall < 0.99:
            continue
        fp = 1.0 - (1.0 - 0.2**r) ** b
        assert plan["candidate_prob_at_noise"] <= fp + 1e-12
    # the module default is feasible for its own parameters
    default_recall = 1.0 - (1.0 - 0.9**_BAND_ROWS) ** (_N_PERM // _BAND_ROWS)
    assert default_recall >= 0.99
    # and the planner's pick rejects noise at least as hard
    default_fp = 1.0 - (1.0 - 0.2**_BAND_ROWS) ** (_N_PERM // _BAND_ROWS)
    assert plan["candidate_prob_at_noise"] <= default_fp + 1e-12
    import pytest

    with pytest.raises(ValueError):
        plan_minhash_bands(4, 0.3, min_recall=0.999)


def test_near_dup_hot_block_routes_to_subblocking(spark):
    """A label block whose pair count exceeds the budget must leave the
    exact pairwise path: the guard routes it through k-means
    sub-blocking so no quadratic single-block join survives, while
    small blocks stay exact (verdict r2 item 7)."""
    import pyspark.sql.functions as F

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        near_dup_embedding_frame,
    )

    e = (
        spark.read.parquet(f"{SF_MEDIUM}/embeddings.parquet")
        .select("vec_id", "label", "embedding")
        # one synthetic hot label: ~half the corpus collapses onto it
        .withColumn(
            "label",
            F.when(F.col("vec_id") % 2 == 0, F.lit(-1)).otherwise(F.col("label")),
        )
    )
    n_hot = e.where(F.col("label") == -1).count()
    assert n_hot * (n_hot - 1) / 2 > 1000  # budget below guarantees a flip

    out = near_dup_embedding_frame(e, pair_budget=1000, subblock_target=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The exact side must filter the hot label out BEFORE its block
    # join: the scan-side filter NOT (label = -1) is the guard, and the
    # hot side's pair join must carry the k-means cluster key.
    assert "-1" in plan and "cluster" in plan
    rows = out.collect()
    # Exact small-block pairs are still exact: recompute without the
    # guard for the small side only and compare.
    small = e.where(F.col("label") != -1)
    exact_small = near_dup_embedding_frame(small)  # default budget: no flip
    got_small = {
        (r["a_id"], r["b_id"]) for r in rows
    } & {(r["a_id"], r["b_id"]) for r in exact_small.collect()}
    assert got_small == {(r["a_id"], r["b_id"]) for r in exact_small.collect()}
    # The hot side still finds pairs (sub-blocked, approximate).
    hot_pairs = [
        r for r in rows
        if (r["a_id"] % 2 == 0) and (r["b_id"] % 2 == 0)
    ]
    assert len(hot_pairs) > 0
