"""100x scale soak: time heavy operators at sf0.1 vs the synthesized
sf1 dataset (scripts/make_sf1.py) and report 10x-data runtime ratios —
the evidence behind SURVEY §6's sf1 paragraph.

Usage:
    python scripts/make_sf1.py /tmp/sfx10     # once
    python scripts/scale_soak.py [/tmp/sfx10] [query ...]

Coverage: the ENTIRE bench.py headline set (so every benchmarked
query carries a measured 10x-data ratio) plus the non-bench heavies
the r2/r3 soaks tracked. Named exceptions, excluded by default:
dedup_ngram_jaccard / containment_dedup — the synthetic corpus's
31-word vocabulary saturates the trigram space, so their pair OUTPUT
grows quadratically with corpus size (a property of the data, not the
plan; since r4 the auto hot-posting guard makes the run memory-safe
regardless, it is merely output-bound — see SURVEY §6). The soak's
final step drives a saturated slice through the DEFAULT
(no-argument) jaccard path to prove the auto guard engages.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from bench import HEADLINE  # noqa: E402
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries  # noqa: E402
from cdk_serverless_data_lake_sandbox_spark.session import get_spark  # noqa: E402

EXCLUDED = {
    "dedup_ngram_jaccard": "pair OUTPUT quadratic on saturated synthetic vocab",
    "containment_dedup": "pair OUTPUT quadratic on saturated synthetic vocab",
}

# near_dup_edit_distance is deliberately NOT in any soak list: it
# inherits the jaccard pair stage through near_dup_review_sample, so
# on the vocabulary-saturated synthetic corpus it enumerates the
# quadratic pair set (r7 probe: >580s at sf1). Its scaling evidence
# is edit_distance_slice_check below (1/4 slice = 1/16 pair output).

EXTRA_OPS = [  # non-bench heavies with r2/r3 ratio history
    "brand_recommendations",
    "seasonal_anomaly",
    "unigram_entropy",
    "phrase_search",
    "global_shuffle",
    "keyness_llr",
    "quality_classifier_score",
    "dataset_card",
    "cuped_lift",
    # r5 iterative graph ops (kept out of the bench: round counts
    # dominate at bench SF; the soak is where their scaling is read)
    "copurchase_kcore",
    "copurchase_communities",
    "quality_decile_lift",
    "k_anonymity_check",
    # r7 additions (round-6 verdict item 6): the never-soaked in-row
    # fold family B99-B113, the windowed/event heavies, and the
    # similarity/curation tiers most likely to hide a super-linear
    # step — target >= 80 ops with measured 10x-data ratios.
    "ses_forecast",
    "cusum_changepoint",
    "price_elasticity",
    "holt_forecast",
    "weekday_seasonality",
    "holt_winters_forecast",
    "copurchase_trend",
    "copurchase_pagerank_weighted",
    "attribution_weights",
    "repurchase_survival",
    "rfm_segments",
    "windowed_funnel",
    "top_paths",
    "order_reconciliation",
    "scd2_point_in_time_join",
    "cogroup_conversion_latency",
    "open_order_concurrency",
    "audience_overlap",
    "session_window_agg",
    "brand_lift",
    "ship_latency_percentiles",
    "join_size_contribution",
    "histogram_rollup_percentiles",
    "mad_outliers",
    "semantic_dedup",
    "tokenize_to_ids",
    "sequence_packing",
    "packed_sequences",
    "span_corruption",
    "dsir_importance_weights",
    "bigram_lm_logprob",
    "feature_hash_embedding",
    "psi_drift",
    "corpus_mi_profile",
    "preference_pairs",
    "dedup_simhash",
    "ann_lsh_multiprobe",
    # r8 continuation additions (the heavies joined bench.py HEADLINE;
    # these are the lighter Q ops that still deserve ratio history)
    "event_markov_transitions",
    "unimax_mix",
    "domain_frequency_cap",
    "markov_anomaly_users",
    "graph_ann_recall_report",
    "tokenizer_compression_eval",
]

DEFAULT_OPS = [q for q in HEADLINE if q not in EXCLUDED] + EXTRA_OPS


def saturated_guard_check(spark, sf1: str) -> None:
    """Drive a saturated slice (postings far over the auto bound)
    through the DEFAULT ngram_jaccard path — no hot_threshold
    argument — and report pair count + runtime. Before the auto
    guard this OOM'd; green here is the guard's acceptance check."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # 1/4 of sf1 keeps max posting ~3,300 — 3x over the auto bound
    # (guard must engage) at 1/16 the full corpus's quadratic pair
    # output, so the check finishes in soak time.
    docs = (
        spark.read.parquet(os.path.join(sf1, "documents.parquet"))
        .where("doc_id % 4 = 0")
        .select("doc_id", "text")
    )
    t = time.time()
    n = ngram_jaccard_pairs(docs).count()
    print(f"saturated_guard_check: {n} pairs in {time.time() - t:.1f}s (auto guard)")


def edit_distance_slice_check(spark, sf1: str) -> None:
    """near_dup_edit_distance completion check on a 1/4 slice of the
    saturated sf1 corpus (1/16 of the quadratic pair output): the
    exact Levenshtein tier itself is bounded (<= 30 sampled pairs);
    what grows is the parent pair enumeration, so green here at a
    measured wall time is the scaling evidence the full-corpus run
    cannot give on this vocabulary-saturated synthetic data."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        near_dup_review_sample_frame,
    )

    docs = (
        spark.read.parquet(os.path.join(sf1, "documents.parquet"))
        .where("doc_id % 4 = 0")
    )
    t = time.time()
    n = near_dup_review_sample_frame(docs).count()
    print(
        f"edit_distance_slice_check: {n} sampled pairs in "
        f"{time.time() - t:.1f}s (quarter slice)"
    )


def winnowing_hot_check(spark, sf1: str) -> None:
    """Drive winnowing pair generation through the saturated sf1
    corpus (hot-fingerprint regime: the 31-word synthetic vocabulary
    repeats k-grams corpus-wide, so postings hit _MAX_POSTING) and
    report pair count + runtime — green proves the posting cap keeps
    the in-posting pair expansion bounded where an uncapped plan
    would go quadratic (round-6 verdict item 6)."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.catalog import spread
    from cdk_serverless_data_lake_sandbox_spark.operators.fingerprint import (
        _MAX_POSTING,
        _MIN_SHARED,
        _fingerprints,
    )

    docs = spread(
        spark.read.parquet(os.path.join(sf1, "documents.parquet"))
        .where("doc_id % 4 = 0")
        .select("doc_id", "text"),
        sf1,
        "documents",
    )
    t = time.time()
    dh = _fingerprints(docs).select("doc_id", "h").distinct()
    posting = (
        dh.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds").between(2, _MAX_POSTING))
    )
    n = (
        posting.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> transform("
                    "slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .groupBy("e.a", "e.b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= _MIN_SHARED)
        .count()
    )
    print(f"winnowing_hot_check: {n} pairs in {time.time() - t:.1f}s (posting cap)")


def knn_build_check(spark, tiers: list[str]) -> dict:
    """Time the RAW NN-Descent graph build per tier, bypassing the
    r9 keyed materialization (which makes the registered graph
    queries near-free after the first build — correct for bench,
    wrong for measuring build scaling)."""
    import time as _t

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _emb,
        _knn_graph_frame,
    )

    out = {}
    for sf in tiers:
        t = _t.time()
        _knn_graph_frame(_emb(spark, sf)).write.format("noop").mode(
            "overwrite"
        ).save()
        out[sf] = round(_t.time() - t, 2)
        print(f"knn_build_check {sf}: {out[sf]}s", flush=True)
    return out


def main() -> None:
    args = sys.argv[1:]
    sf1 = args[0] if args and os.path.isdir(args[0]) else "/tmp/sfx10"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    if not os.path.isdir(sf1):
        raise SystemExit(f"{sf1} missing — run scripts/make_sf1.py first")
    # SOAK_BASE overrides the 1x tier (default the driver's sf0.1) —
    # the r8 Heaps-law soak measures /tmp/heaps/sf0.1 -> /tmp/heaps/sf1
    base = os.environ.get("SOAK_BASE", "/root/testdata/sf0.1")
    spark = get_spark(app_name="scale_soak")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    def run(name, sf):
        # warm once (bench.py's discipline): Python-boundary ops pay
        # worker-pool startup and scratch writes on first execution —
        # one-time costs that would otherwise masquerade as scaling
        qs[name](spark, sf).write.format("noop").mode("overwrite").save()
        t = time.time()
        qs[name](spark, sf).write.format("noop").mode("overwrite").save()
        return time.time() - t

    run("q6_forecast_revenue", "/root/testdata/sf0.1")  # warm
    print(f"{'query':30s} {'sf0.1':>7s} {'sf1':>8s} {'ratio':>6s}")
    results = {}
    out = os.environ.get("SOAK_OUT")

    def flush_out() -> None:
        # incremental: a multi-hour sweep must not lose every measured
        # ratio to one failing op (the r7 broad tier crashed 66 ops in
        # on an env mismatch and the artifact had to be re-harvested
        # from progress-bar-polluted logs)
        if out:
            import json

            tmp = out + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(results, fh, indent=1)
            os.replace(tmp, out)

    failures = {}
    for n in names or DEFAULT_OPS:
        try:
            a = run(n, base)
            b = run(n, sf1)
        except Exception as e:  # record and keep sweeping
            failures[n] = f"{type(e).__name__}: {e}"
            results["_failures"] = failures  # crash-durable like ratios
            print(f"{n:30s} FAILED  {type(e).__name__}: {e}", flush=True)
            flush_out()
            continue
        results[n] = {
            "sf0.1_sec": round(a, 2),
            "sf1_sec": round(b, 2),
            "ratio": round(b / a, 2),
        }
        print(f"{n:30s} {a:7.2f} {b:8.2f} {b / a:6.2f}", flush=True)
        flush_out()
    if not names:
        saturated_guard_check(spark, sf1)
        winnowing_hot_check(spark, sf1)
        edit_distance_slice_check(spark, sf1)
    flush_out()
    if failures:
        raise SystemExit(f"{len(failures)} op(s) failed: {sorted(failures)}")


if __name__ == "__main__":
    main()
