"""Round-9 scale-path work: the shuffle-free unigram corpus stitch,
the large-vocab tokenize_to_ids broadcast-join path, and their
bit-identical parity with the default strategies."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ulm_assemble_map_equals_shuffle(spark):
    """The broadcast-map stitch (default for Heaps-small vocabs) and
    the explode+regroup fallback must emit bit-identical documents —
    including the position-ordered float fold for doc_logp."""
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _docs,
        _ulm_assemble_map,
        _ulm_assemble_shuffle,
        _ulm_final_seg,
    )
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMALL)
    seg = _ulm_final_seg(docs)
    wseg = seg.select(
        "w",
        F.size("toks").cast("bigint").alias("np"),
        F.expr("element_at(dp, 2 * length(w) - 1)").alias("wlp"),
        F.array_join(F.reverse("toks"), " ").alias("wtxt"),
    )
    a = _rows(_ulm_assemble_map(docs, wseg))
    b = _rows(_ulm_assemble_shuffle(docs, wseg))
    assert a == b and len(a) > 0


def test_ulm_assemble_map_drops_unknown_words_like_join(spark):
    """A word missing from the segmentation table must drop out of
    the stitched doc (inner-join semantics), and a doc with no
    surviving words must yield no row — on BOTH paths."""
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _docs,
        _ulm_assemble_map,
        _ulm_assemble_shuffle,
        _ulm_final_seg,
    )
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMALL)
    seg = _ulm_final_seg(docs)
    wseg = seg.select(
        "w",
        F.size("toks").cast("bigint").alias("np"),
        F.expr("element_at(dp, 2 * length(w) - 1)").alias("wlp"),
        F.array_join(F.reverse("toks"), " ").alias("wtxt"),
    )
    # drop one word from the vocab entirely
    victim = wseg.select("w").orderBy("w").first().w
    wseg2 = wseg.where(F.col("w") != victim)
    a = _rows(_ulm_assemble_map(docs, wseg2))
    b = _rows(_ulm_assemble_shuffle(docs, wseg2))
    assert a == b
    full = _rows(_ulm_assemble_map(docs, wseg))
    assert a != full  # the drop was observable


def test_tokenize_ids_join_path_bit_identical(spark):
    """The ranked-broadcast-join tokenize_to_ids (large-vocab path)
    equals the literal-map default row for row, and forcing the gate
    low routes the registered query through it with the same
    output."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators import text as T

    d = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    default = _rows(T.tokenize_to_ids(spark, SF_SMALL))
    # NULL text must yield no row on EITHER strategy (review r9):
    # size(split(NULL)) is -1, which the literal path must not emit
    from pyspark.sql import functions as F

    with_null = d.unionByName(
        d.limit(1).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.lit(None).cast("string").alias("text"),
            "lang", "source", "n_chars",
        )
    )
    assert _rows(T._tokenize_ids_join(with_null)) == _rows(
        T._tokenize_ids_join(d)
    )
    joined = _rows(T._tokenize_ids_join(d))
    assert joined == default and len(default) > 0

    orig = T._IDS_LITERAL_MAX
    try:
        T._IDS_LITERAL_MAX = 0  # force every vocab onto the join path
        gated = _rows(T.tokenize_to_ids(spark, SF_SMALL))
    finally:
        T._IDS_LITERAL_MAX = orig
    assert gated == default


def test_bitext_margin_properties(spark):
    """Every mined pair clears the margin threshold, is its source's
    unique best-margin candidate, and crosses sides (label 0 -> 1);
    margin > 1 means the pair beats both endpoints' neighborhood
    averages (the anti-hub property the criterion exists for)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _BITEXT_MARGIN_T,
        _emb,
        bitext_margin_mining,
    )

    rows = bitext_margin_mining(spark, SF_SMALL).collect()
    assert len(rows) > 0
    assert len({r.src_id for r in rows}) == len(rows)  # one per source
    labels = {
        r.vec_id: r.label for r in _emb(spark, SF_SMALL).collect()
    }
    for r in rows:
        assert r.margin >= _BITEXT_MARGIN_T
        assert labels[r.src_id] == 0 and labels[r.tgt_id] == 1
        assert -1.0001 <= r.cosine <= 1.0001


def test_coreset_kcenter_greedy_properties(spark):
    """Seed is the min vec_id at distance 0; picks are distinct; the
    chosen min-distances are non-increasing from round 2 on (the
    farthest-point invariant behind the 2-approximation)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _KCENTER_K,
        _emb,
        coreset_kcenter,
    )

    rows = sorted(
        coreset_kcenter(spark, SF_SMALL).collect(), key=lambda r: r.round
    )
    assert [r.round for r in rows] == list(range(1, _KCENTER_K + 1))
    assert len({r.vec_id for r in rows}) == _KCENTER_K
    min_id = _emb(spark, SF_SMALL).agg({"vec_id": "min"}).first()[0]
    assert rows[0].vec_id == min_id and rows[0].dist2 == 0.0
    ds = [r.dist2 for r in rows[1:]]
    assert all(a >= b for a, b in zip(ds, ds[1:])), ds
    assert ds[-1] > 0


def test_kcenter_assignment_covers_corpus(spark):
    """Every vector lands in exactly one cell, each center is its own
    cell's member at distance 0, and the global covering radius
    equals the max cell radius."""
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _KCENTER_K,
        _emb,
        kcenter_assignment_profile,
    )

    rows = kcenter_assignment_profile(spark, SF_SMALL).collect()
    assert len(rows) == _KCENTER_K
    n = _emb(spark, SF_SMALL).count()
    assert sum(r.n_assigned for r in rows) == n
    assert all(r.n_assigned >= 1 for r in rows)
    assert all(r.mean_dist2 <= r.max_dist2 + 1e-9 for r in rows)


def test_stream_kcenter_maintain_equivalence_and_invariants(spark, tmp_path):
    """E50: the streamed doubling maintainer matches a pure-Python
    fold of the same two-phase per-batch algorithm (batch-start
    anti-coverage pass, then vec_id-ordered sequential admission),
    keeps <= K centers pairwise separated by more than the current
    radius, covers every arrival within the compounded-doubling
    bound, and a full replay rewrites identical state."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import _emb
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        _KC_MAX,
        _KC_R0,
        _kc_merge,
        stream_kcenter_maintain,
    )
    from tests.conftest import await_stream_done

    vecs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in _emb(spark, SF_SMALL).orderBy("vec_id").limit(120).collect()
    ]
    batches = [vecs[:40], vecs[40:80], vecs[80:]]

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    drop = str(tmp_path / "drop")
    for b in batches:
        spark.createDataFrame(b, schema).repartition(1).write.mode(
            "append"
        ).parquet(drop)

    def run(tag: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_kcenter_maintain(
                stream, str(tmp_path / f"st{tag}"), str(tmp_path / f"out{tag}")
            )
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()
        snaps = spark.read.parquet(str(tmp_path / f"st{tag}/centers"))
        last = snaps.agg({"batch_id": "max"}).first()[0]
        rows = snaps.where(snaps.batch_id == last).collect()
        return sorted(
            (int(r.center_id), [float(x) for x in r.embedding]) for r in rows
        ), float(rows[0].radius2)

    got_centers, got_radius = run("a")

    # pure-Python reference of the same two-phase algorithm. The
    # stream reads floats back, so the reference must too.
    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    radius, centers = _KC_R0, []
    for b in batches:
        start = list(centers)
        surv = [
            (v, e) for v, e in sorted(b)
            if not start or min(d2(e, ce) for _, ce in start) > radius
        ]
        for vid, emb in surv:
            if any(d2(emb, ce) <= radius for _, ce in centers):
                continue
            centers.append((vid, emb))
            while len(centers) > _KC_MAX:
                radius *= 2.0
                centers = _kc_merge(centers, radius, d2)

    assert got_radius == radius
    assert got_centers == sorted(centers)
    assert len(got_centers) <= _KC_MAX
    # pairwise separation strictly above the current radius
    for i, (_, a) in enumerate(got_centers):
        for _, b in got_centers[i + 1:]:
            assert d2(a, b) > got_radius
    # compounded-doubling coverage bound over everything seen
    for _, e in vecs:
        assert min(d2(e, ce) for _, ce in got_centers) <= 16 * got_radius
    # replay: byte-identical state
    assert run("b") == (got_centers, got_radius)


def test_stream_kcenter_single_center_state(spark, tmp_path):
    """A one-center state must not crash the anti-coverage pass
    (F.least needs two columns), and a covered second batch admits
    nothing."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_kcenter_maintain,
    )
    from tests.conftest import await_stream_done

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    drop = str(tmp_path / "drop")
    spark.createDataFrame(
        [(1, [0.0, 0.0])], schema
    ).repartition(1).write.parquet(drop)
    # second batch: a point INSIDE the initial radius of center 1
    spark.createDataFrame(
        [(2, [0.5, 0.5])], schema
    ).repartition(1).write.mode("append").parquet(drop)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        stream_kcenter_maintain(
            stream, str(tmp_path / "st"), str(tmp_path / "out")
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    q.stop()
    snaps = spark.read.parquet(str(tmp_path / "st/centers"))
    last = snaps.agg({"batch_id": "max"}).first()[0]
    assert last == 1  # both batches processed
    rows = snaps.where(snaps.batch_id == last).collect()
    assert [int(r.center_id) for r in rows] == [1]


def test_publish_tables_atomic_consistency(spark, tmp_path):
    """D32: readers see either the complete new multi-table set or the
    complete previous one — a crash after staging but before the
    commit rename leaves the previous commit fully visible, and
    vacuum_staging reclaims exactly the orphaned transaction."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.add_zone("processed")

    docs1 = spark.range(5).withColumnRenamed("id", "doc_id")
    idx1 = spark.range(5).selectExpr("id AS doc_id", "id * 10 AS fp")
    c1 = lake.publish_tables("processed", {"docs": docs1, "index": idx1})
    assert lake.read_published("processed", "docs").count() == 5
    assert lake.read_published("processed", "index").count() == 5

    # second publish: both tables advance together
    docs2 = spark.range(7).withColumnRenamed("id", "doc_id")
    idx2 = spark.range(7).selectExpr("id AS doc_id", "id * 10 AS fp")
    c2 = lake.publish_tables("processed", {"docs": docs2, "index": idx2})
    assert c2 == c1 + 1
    assert lake.read_published("processed", "docs").count() == 7
    assert lake.read_published("processed", "index").count() == 7

    # simulate a crash: stage a third set WITHOUT the commit rename
    zroot = lake.zones["processed"]
    docs3 = spark.range(9).withColumnRenamed("id", "doc_id")
    docs3.write.parquet(os.path.join(zroot, "docs", "txn=deadbeef0000"))
    # readers still see the complete committed pair
    assert lake.read_published("processed", "docs").count() == 7
    assert lake.read_published("processed", "index").count() == 7

    # vacuum reclaims exactly the orphan, never committed snapshots
    removed = lake.vacuum_staging("processed", min_age_sec=0)
    assert removed == [os.path.join("docs", "txn=deadbeef0000")]
    assert lake.read_published("processed", "docs").count() == 7
    assert lake.read_published("processed", "index").count() == 7


def test_publish_tables_survives_reopen(spark, tmp_path):
    """The newest committed set resolves from disk state alone
    (commit manifests), so a fresh Lake.open sees it."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.add_zone("processed")
    lake.publish_tables(
        "processed",
        {"docs": spark.range(4).withColumnRenamed("id", "doc_id")},
    )
    lake2 = Lake.open(spark, root)
    assert lake2.read_published("processed", "docs").count() == 4


def test_bitext_lsh_recall_vs_exact(spark):
    """The LSH-candidate miner recovers most of the exact miner's
    pairs (candidate recall is the only loss source — scoring and
    margin are identical), and obeys the same per-pair contracts."""
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _BITEXT_MARGIN_T,
        bitext_margin_mining,
        bitext_margin_mining_lsh,
    )

    exact = {
        (r.src_id, r.tgt_id) for r in bitext_margin_mining(spark, SF_SMALL).collect()
    }
    rows = bitext_margin_mining_lsh(spark, SF_SMALL).collect()
    got = {(r.src_id, r.tgt_id) for r in rows}
    assert len({r.src_id for r in rows}) == len(rows)
    assert all(r.margin >= _BITEXT_MARGIN_T for r in rows)
    recall = len(exact & got) / max(1, len(exact))
    assert recall >= 0.5, f"bitext LSH recall {recall:.2f}"


def test_bootstrap_ci_brackets_mean_and_is_calibrated(spark):
    """The CI brackets the point estimate, is reasonably tight on a
    500-doc corpus (Poisson-bootstrap SE of the mean ~ sd/sqrt(n)),
    and the replicate machinery is deterministic across runs."""
    from cdk_serverless_data_lake_sandbox_spark.operators.stats import (
        bootstrap_ci_doclen,
    )

    r = bootstrap_ci_doclen(spark, SF_SMALL).first()
    assert r.ci_low <= r.mean_len <= r.ci_high
    width = r.ci_high - r.ci_low
    assert 0 < width < r.mean_len  # sane scale
    # deterministic
    r2 = bootstrap_ci_doclen(spark, SF_SMALL).first()
    assert (r.ci_low, r.ci_high) == (r2.ci_low, r2.ci_high)
    # calibration sanity vs the normal-theory interval: same order of
    # magnitude (loose factor-3 band; both estimate the same SE)
    import math

    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from pyspark.sql import functions as F

    d = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    st = d.where(F.col("text").isNotNull()).agg(
        F.stddev_pop(F.length("text")).alias("sd"),
        F.count("*").alias("n"),
    ).first()
    se = st.sd / math.sqrt(st.n)
    assert 3.92 * se / 3 < width < 3.92 * se * 3, (width, se)


def test_publish_vacuum_grace_and_commit_retention(spark, tmp_path):
    """r9 review hardening: staging younger than the grace period
    survives vacuum (an in-flight publish must not be reclaimed),
    keep_commits drops superseded snapshots, and a commit-id
    collision retries loudly instead of clobbering."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.add_zone("processed")
    zroot = lake.zones["processed"]

    lake.publish_tables(
        "processed", {"docs": spark.range(3).withColumnRenamed("id", "doc_id")}
    )
    # fresh orphan: survives a vacuum with the default grace period
    spark.range(9).write.parquet(os.path.join(zroot, "docs", "txn=inflight0001"))
    assert lake.vacuum_staging("processed") == []
    assert lake.vacuum_staging("processed", min_age_sec=0) == [
        os.path.join("docs", "txn=inflight0001")
    ]

    # a manually planted conflicting commit id: publish retries past it
    nxt = lake._latest_commit(os.path.join(zroot, "_commits")) + 1
    with open(
        os.path.join(zroot, "_commits", f"commit_{nxt:09d}.json"), "w"
    ) as fh:
        fh.write('{"commit": %d, "tables": {}}' % nxt)
    cid = lake.publish_tables(
        "processed", {"docs": spark.range(5).withColumnRenamed("id", "doc_id")}
    )
    assert cid == nxt + 1
    assert lake.read_published("processed", "docs").count() == 5

    # retention: keep only the newest commit; older snapshots reclaim
    lake.publish_tables(
        "processed", {"docs": spark.range(6).withColumnRenamed("id", "doc_id")}
    )
    removed = lake.vacuum_staging("processed", min_age_sec=0, keep_commits=1)
    assert len(removed) >= 1
    assert lake.read_published("processed", "docs").count() == 6

    # malformed commit filename is skipped, not fatal
    with open(
        os.path.join(zroot, "_commits", "commit_latest.json"), "w"
    ) as fh:
        fh.write("{}")
    assert lake.read_published("processed", "docs").count() == 6


def test_scan_lineage_reads_pruned_columns(spark):
    """Lineage comes from the OPTIMIZED scans: q6 reads exactly its
    four pruned lineitem columns, the two-table join names both
    tables with their join/projection columns, and a query over
    driver-literal data reports no file scan."""
    from cdk_serverless_data_lake_sandbox_spark.plans import scan_lineage
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

    qs = all_queries()
    lin = scan_lineage(qs["q6_forecast_revenue"](spark, SF_SMALL))
    assert lin == {
        "lineitem": [
            "l_discount", "l_extendedprice", "l_quantity", "l_shipdate",
        ]
    }
    lin2 = scan_lineage(qs["join_two_tables"](spark, SF_SMALL))
    assert set(lin2) == {"customer", "orders"}
    assert "c_custkey" in lin2["customer"]
    assert "o_custkey" in lin2["orders"]
