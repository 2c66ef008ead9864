"""Physical-plan regression guards: the scale properties we designed
for must survive refactors — filters reach the parquet scan, dims are
broadcast, pruned reads stay pruned. These assert on explain output,
not timings, so they're stable in CI."""

from __future__ import annotations

import pytest

from cdk_serverless_data_lake_sandbox_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schemas,
)
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

from tests.conftest import SF_MEDIUM

_Q = all_queries()

# Queries whose star-join must broadcast the dim side (no fact-fact
# shuffle for dimension lookups).
_BROADCAST_QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q14_promo_effect",
    "join_two_tables",
    "federated_kv_lookup",
]


@pytest.mark.parametrize("name", _BROADCAST_QUERIES)
def test_dim_joins_broadcast(spark, name):
    assert has_broadcast_join(_Q[name](spark, SF_MEDIUM)), name


def test_q6_filters_reach_scan(spark):
    df = _Q["q6_forecast_revenue"](spark, SF_MEDIUM)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    # projection pruned to the 4 referenced columns
    schema = read_schemas(df)[0]
    assert schema.count(":") == 4, schema


def test_q1_prunes_columns(spark):
    df = _Q["q1_pricing_summary"](spark, SF_MEDIUM)
    schema = read_schemas(df)[0]
    # 7 of 11 lineitem columns referenced
    assert schema.count(":") == 7, schema


def test_no_cartesian_products(registry_frames):
    """Nothing in the registry may plan an unconstrained cartesian
    product (scalar-subquery broadcasts are single-row and fine).
    Runs over the session-shared registry build (r12: constructing
    all 279 frames a second time was 267 s of the suite wall)."""
    offenders = []
    for name, df in registry_frames.items():
        if "CartesianProduct" in formatted_plan(df):
            offenders.append(name)
    assert not offenders, offenders


def test_q12_date_filters_reach_scan(spark):
    df = _Q["q12_shipmode_priority"](spark, SF_MEDIUM)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, pushed


def test_funnel_stage_filters_reach_scan(spark):
    """Each funnel stage's event_type equality must be pushed into its
    own parquet scan — at 100 TB this is the difference between three
    filtered scans and three full scans."""
    df = _Q["funnel_conversion"](spark, SF_MEDIUM)
    pushed = " ".join(pushed_filters(df))
    for t in ("signup", "click", "purchase"):
        assert t in pushed, f"{t} not pushed: {pushed}"


def test_corpus_pipeline_prunes_columns(spark):
    """The pipeline touches text/lang/source/n_chars/doc_id only —
    the scan must not read more."""
    df = _Q["corpus_pipeline"](spark, SF_MEDIUM)
    for schema in read_schemas(df):
        assert "text" in schema or "doc_id" in schema
        cols = schema.count(":")
        assert cols <= 5, schema


def test_stats_ops_broadcast_scalars(spark):
    """Scalar thresholds (corpus size, max revenue, avg balance) join
    back as broadcasts, never as shuffles."""
    for name in ("idf_top_terms", "q15_top_supplier", "q22_global_sales"):
        plan = formatted_plan(_Q[name](spark, SF_MEDIUM))
        # single-row scalar joins may plan as BroadcastNestedLoopJoin,
        # which is equally shuffle-free
        assert "Broadcast" in plan, name


def test_runtime_bloom_filter_injected(spark):
    """With a selective dimension filter, Spark should inject a
    runtime bloom filter on the fact side's join key — at 100 TB this
    prunes fact rows before the shuffle instead of after the join.
    Thresholds lowered so sandbox-sized input qualifies."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        t = load_tables(spark, SF_MEDIUM, ("lineitem", "orders"))
        o = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        j = t["lineitem"].join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan or "BloomFilter" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_topn_queries_fuse_limit_and_sort(spark):
    """Global ordered-LIMIT queries must plan as TakeOrderedAndProject
    (per-partition top-N merged on the driver) — never a full global
    sort followed by a limit, which is the classic scale killer."""
    for name in (
        "q3_shipping_priority",
        "q10_returned_items",
        "word_frequencies",
        "idf_top_terms",
        "brand_affinity",
    ):
        plan = formatted_plan(_Q[name](spark, SF_MEDIUM))
        assert "TakeOrderedAndProject" in plan, name


def test_ngram_jaccard_single_tokenize_pass(spark):
    """The hashed-shingle frame feeds three plan branches (postings +
    both verify sides). It must be a materialized intermediate, not
    recomputed per branch: the final plan may contain NO tokenize
    expressions (split/sequence/xxhash-of-shingle) — only scans of the
    scratch parquet."""
    plan = formatted_plan(_Q["dedup_ngram_jaccard"](spark, SF_MEDIUM))
    assert "split(" not in plan, "tokenize leaked into the pair plan"
    assert "sequence(" not in plan, "shingle windowing leaked into the pair plan"
    assert plan.count(".scratch") >= 3, plan


@pytest.mark.parametrize(
    "name", ["ntile_quartiles", "activity_gini", "pareto_revenue", "sequence_packing"]
)
def test_no_single_reducer_window(spark, name):
    """Global ranks/cumsums must come from range-bucketed parallel
    ranking (total_order_index), never an unpartitioned Window: a
    Window fed by Exchange SinglePartition pushes every row through
    one task. Detection parses node ids out of each Window's subtree
    and checks their detail arguments — formatted explain never
    prints the literal 'Exchange SinglePartition' in the tree, so a
    plain substring check would be vacuous (it was, until r2)."""
    from cdk_serverless_data_lake_sandbox_spark.plans import (
        single_reducer_window_nodes,
    )

    offenders = single_reducer_window_nodes(_Q[name](spark, SF_MEDIUM))
    assert not offenders, f"{name}: single-reducer Window nodes {offenders}"


def test_single_reducer_detector_catches_bad_plan(spark):
    """The detector itself must flag a genuinely global window —
    guards the guard against the vacuous-matcher regression."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from cdk_serverless_data_lake_sandbox_spark.plans import (
        single_reducer_window_nodes,
    )

    bad = spark.range(100).withColumn(
        "r", F.row_number().over(W.orderBy("id"))
    )
    assert single_reducer_window_nodes(bad)


def test_gopher_filter_two_stage_agg_no_window(spark):
    """gopher_quality_filter's word-level stats (dominance, diversity)
    must come from chained hash aggregations — never a per-doc Window
    over the exploded token stream, and never a second scan of the
    corpus (one Generate = one explode = one pass)."""
    plan = formatted_plan(_Q["gopher_quality_filter"](spark, SF_MEDIUM))
    assert "Window" not in plan, plan
    # one Generate node in the tree ("+- Generate (n)"); the detail
    # section repeats the name, so count tree entries only
    assert plan.count("- Generate") == 1, plan


def test_keep_best_argmax_is_aggregate_not_window(spark):
    """near_dup_keep_best's per-component winner must be the
    map-side-combinable max(struct(q, -doc_id)) aggregate, not a
    row_number window (a giant near-dup cluster would serialize
    through one task's sort)."""
    plan = formatted_plan(_Q["near_dup_keep_best"](spark, SF_MEDIUM))
    assert "Window" not in plan, plan


def test_source_overlap_no_cartesian_and_broadcast_assembly(spark):
    """source_overlap_matrix generates source pairs inside shingle
    postings; the only joins in the plan are the |sources|^2 matrix
    assembly, which must broadcast (never shuffle the corpus for a
    20-row frame)."""
    df = _Q["source_overlap_matrix"](spark, SF_MEDIUM)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df), plan


def test_dsir_scoring_join_broadcasts_bucket_table(spark):
    """dsir_importance_weights scores the token stream against the
    256-row bucket log-ratio table — that join must be broadcast, so
    the token stream's only shuffle is the final per-doc grouping."""
    df = _Q["dsir_importance_weights"](spark, SF_MEDIUM)
    assert has_broadcast_join(df), formatted_plan(df)


def test_doc_chunking_is_shuffle_free(spark):
    """Chunking is a pure per-row map (sequence + slice + explode):
    any Exchange in its plan means an accidental shuffle of the
    corpus — at 100 TB that's the difference between scan speed and
    moving the whole dataset."""
    plan = formatted_plan(_Q["doc_chunking"](spark, SF_MEDIUM))
    assert "Exchange" not in plan, plan


def test_plan_profile_counters(spark):
    """plan_profile must count what the plan actually contains: q5 has
    broadcast dim joins and a shuffle; q6 is scan+agg with pushdown
    and no join at all; dedup_simhash pins one fan-out exchange, and
    dedup_exact, whose hash aggregate combines map-side, pins none."""
    from cdk_serverless_data_lake_sandbox_spark.plans import plan_profile
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

    qs = all_queries()
    q5 = plan_profile(qs["q5_local_supplier_volume"](spark, SF_MEDIUM))
    assert q5["bhj"] >= 3 and q5["cartesian"] == 0
    q6 = plan_profile(qs["q6_forecast_revenue"](spark, SF_MEDIUM))
    assert q6["scans"] == 1 and q6["pushed"] >= 1
    assert q6["bhj"] == 0 and q6["smj"] == 0
    assert q6["pinned"] == []
    # the one-file documents scan fans out to the core count, keyed
    sh = plan_profile(qs["dedup_simhash"](spark, SF_MEDIUM))
    assert sh["pinned"] == [spark.sparkContext.defaultParallelism]
    assert plan_profile(qs["dedup_exact"](spark, SF_MEDIUM))["pinned"] == []
