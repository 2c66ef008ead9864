"""BM25 retrieval and containment dedup: brute-force references and
plan-shape guards."""

from __future__ import annotations

import math

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
from cdk_serverless_data_lake_sandbox_spark.plans import formatted_plan
from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

from tests.conftest import SF_SMALL

_Q = all_queries()


# ---------------------------------------------------------------- BM25
def test_bm25_matches_python_reference(spark):
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _BM25_B,
        _BM25_K1,
        _BM25_QUERIES,
        _BM25_TOPK,
    )

    docs = {
        r.doc_id: r.text.strip().split()
        for r in load_tables(spark, SF_SMALL, ("documents",))["documents"]
        .select("doc_id", "text")
        .collect()
    }
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    terms = {t for ts in _BM25_QUERIES.values() for t in ts}
    df = {t: sum(1 for w in docs.values() if t in w) for t in terms}
    want = {}
    for qid, qterms in _BM25_QUERIES.items():
        scores = {}
        for d, words in docs.items():
            s = 0.0
            for t in qterms:
                tf = words.count(t)
                if tf == 0:
                    continue
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * tf / (tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * len(words) / avgdl))
            if s > 0:
                scores[d] = s
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_BM25_TOPK]
        for rank, (d, s) in enumerate(top, 1):
            want[(qid, d)] = (rank, round(s, 5))
    got = {
        (r.query_id, r.doc_id): (r.rank, r.score)
        for r in _Q["bm25_retrieval"](spark, SF_SMALL).collect()
    }
    assert got == want


def test_bm25_query_table_is_local_relation(spark):
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _BM25_QUERIES,
        _bm25_query_table,
    )

    qt = _bm25_query_table(spark)
    assert [f.name for f in qt.schema.fields] == ["query_id", "token"]
    assert qt.schema["query_id"].dataType.simpleString() == "int"
    rows = {(r.query_id, r.token) for r in qt.collect()}
    assert rows == {
        (qid, t) for qid, ts in _BM25_QUERIES.items() for t in ts
    }
    # LocalRelation, not a Python-RDD scan
    assert "ExistingRDD" not in qt._jdf.queryExecution().executedPlan().toString()


def test_bm25_broadcasts_and_filters_before_shuffle(spark):
    """Query terms / df / corpus stats must be broadcast (no shuffle
    of term-count-sized sides) and the vocabulary filter must sit on
    the exploded stream, not after a shuffle."""
    plan = formatted_plan(_Q["bm25_retrieval"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # rank <= k pushes down: partial top-k per partition pre-shuffle
    assert "WindowGroupLimit" in plan
    # the tokenize ran once, when the keyed BM25 index was built, so
    # the final plan contains NO Generate at all; it scans the index
    # alone, which carries df and the corpus stats with each row
    assert plan.count("Generate") == 0, plan
    assert plan.count(".scratch") == 1, plan
    assert "documents.parquet" not in plan, plan


# ---------------------------------------------------------- containment
def test_containment_matches_bruteforce_and_catches_quote_inclusion(spark):
    """Brute-force shingle containment on a hand-built corpus where a
    short doc is quoted inside a long one: Jaccard stays below 0.5
    (the symmetric op misses the pair) but containment is 1.0."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        _CONTAIN_TAU,
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} w{i + 1} pad{i}" for i in range(24))
    rows = [
        (1, short),
        (2, filler + " " + short + " tail one two three four five six"),
        (3, "unrelated words entirely different content here okay"),
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")

    def shingles(text):
        ws = text.split(" ")
        k = max(len(ws) - 2, 1)
        return {" ".join(ws[i : i + 3]) for i in range(k)}

    sh = {d: shingles(t) for d, t in rows}
    want = set()
    for a in sh:
        for b in sh:
            smaller = len(sh[a]) < len(sh[b]) or (
                len(sh[a]) == len(sh[b]) and a < b
            )
            if not smaller:
                continue
            c = len(sh[a] & sh[b]) / len(sh[a])
            if c >= _CONTAIN_TAU:
                want.add((a, b, round(c, 6)))
    got = {
        (r.contained_id, r.container_id, r.containment)
        for r in containment_pairs(docs).collect()
    }
    assert got == want
    assert (1, 2, 1.0) in got  # the quote-inclusion pair
    jac = {
        (r.a_id, r.b_id) for r in ngram_jaccard_pairs(docs).collect()
    }
    assert (1, 2) not in jac  # symmetric dedup misses it


def test_containment_shares_shingle_intermediate(spark):
    """containment_dedup and dedup_ngram_jaccard use the same scratch
    key: the containment plan must scan the materialized intermediate
    (no tokenize expressions in its final plan)."""
    plan = formatted_plan(_Q["containment_dedup"](spark, SF_SMALL))
    assert "split(" not in plan, "tokenize leaked into the containment plan"
    assert plan.count(".scratch") >= 3, plan


# ------------------------------------------------------------- arrow ANN
def test_ann_arrow_equals_vectorized(spark):
    """mapInArrow and mapInPandas scorers are execution-strategy
    twins: identical (query, rank) -> neighbor assignments and
    cosines to float precision."""
    import pytest as _pt

    a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in _Q["ann_topk_arrow"](spark, SF_SMALL).collect()
    }
    v = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in _Q["ann_topk_vectorized"](spark, SF_SMALL).collect()
    }
    assert a.keys() == v.keys()
    for key, (nid, cos) in a.items():
        vnid, vcos = v[key]
        assert cos == _pt.approx(vcos, abs=1e-12)
        # the final row_number window breaks cosine ties
        # deterministically, so neighbor identity must match exactly
        assert nid == vnid, (key, nid, vnid, cos, vcos)


# ---------------------------------------------------------------- BPE
def test_bpe_pair_explode_is_vocab_sized(spark):
    """The pair Generate must consume the AGGREGATED word-count table
    (vocab-sized), not the raw token stream: in the plan tree the
    Generate sits above a HashAggregate, and only one corpus Generate
    (the word split) exists below it."""
    plan = formatted_plan(_Q["bpe_merge_candidates"](spark, SF_SMALL))
    lines = plan.splitlines()
    gen_lines = [i for i, l in enumerate(lines) if "Generate" in l and "(" in l]
    assert "TakeOrderedAndProject" in plan
    # tree prints top-down: pair-Generate appears, then the word-count
    # HashAggregate below it, then the corpus word-Generate at the leaf
    first_gen = gen_lines[0]
    assert any("HashAggregate" in l for l in lines[first_gen:]), plan


def test_audience_overlap_matches_python(spark):
    from cdk_serverless_data_lake_sandbox_spark.operators.events import (
        _EVENT_TYPES,
    )

    ev = load_tables(spark, SF_SMALL, ("events",))["events"]
    seen: dict[int, set] = {}
    for r in ev.select("user_id", "event_type").collect():
        seen.setdefault(r.user_id, set()).add(r.event_type)
    want = {}
    for i, a in enumerate(_EVENT_TYPES):
        for b in _EVENT_TYPES[i + 1 :]:
            na = sum(1 for s in seen.values() if a in s)
            nb = sum(1 for s in seen.values() if b in s)
            nboth = sum(1 for s in seen.values() if a in s and b in s)
            want[(a, b)] = (nboth, na, nb)
    got = {
        (r.type_a, r.type_b): (r.n_both, r.n_a, r.n_b)
        for r in _Q["audience_overlap"](spark, SF_SMALL).collect()
    }
    assert got == want


# ---------------------------------------------------------------- PCA
def test_pca_variance_matches_numpy_and_sums_to_one(spark):
    """The distributed Gramian path must reproduce a plain numpy PCA
    on the collected matrix; ratios are positive, descending, and the
    full spectrum sums to 1."""
    import numpy as np

    emb = load_tables(spark, SF_SMALL, ("embeddings",))["embeddings"]
    m = np.array(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    cov = np.cov(m, rowvar=False, bias=True)
    evals = np.linalg.eigvalsh(cov)[::-1]
    want = evals[:8] / evals.sum()
    got = (
        _Q["embedding_pca_variance"](spark, SF_SMALL)
        .orderBy("component")
        .collect()
    )
    for i, r in enumerate(got):
        assert abs(r.explained_variance - want[i]) < 1e-6, (i, r, want[i])
    ratios = [r.explained_variance for r in got]
    assert all(a >= b - 1e-12 for a, b in zip(ratios, ratios[1:]))
    assert got[-1].cumulative <= 1.0 + 1e-9


def test_ann_recall_report_consistent_with_gates(spark):
    """The report's recall numbers must satisfy the same floors the
    dedicated recall tests enforce, and its bookkeeping must be
    internally consistent (k queries x top-k rows per method)."""
    rows = {r.method: r for r in _Q["ann_recall_report"](spark, SF_SMALL).collect()}
    assert set(rows) == {"lsh", "ivf", "pq"}
    for r in rows.values():
        assert r.n_queries == 10
        assert 0.0 <= r.worst_query_recall <= r.recall_at_k <= 1.0
    assert rows["ivf"].recall_at_k >= 0.5
    assert rows["pq"].recall_at_k >= 0.3


# ---------------------------------------------------------------- IVF index artifact
def test_ivf_index_roundtrip_and_partition_pruning(spark, tmp_path):
    """The persisted IVF index must (a) serve the same results as the
    inline ann_ivf path (same quantizer, same probe policy), and
    (b) prune the members scan to the probed cells via Hive partition
    pruning — the property that bounds the serving read at scale."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _N_QUERIES,
        ivf_index_build,
        ivf_index_query,
    )

    idx = str(tmp_path / "ivf")
    info = ivf_index_build(spark, SF_SMALL, idx)
    e = load_tables(spark, SF_SMALL, ("embeddings",))["embeddings"]
    assert info["vectors"] == e.count()

    queries = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = ivf_index_query(spark, idx, queries)
    inline = {
        (r.query_id, r.rank): r.neighbor_id
        for r in _Q["ann_ivf"](spark, SF_SMALL).collect()
    }
    got = {(r.query_id, r.rank): r.neighbor_id for r in served.collect()}
    assert got == inline

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # the pruning predicate must actually restrict the partition set
    assert "cell IN" in plan or "cell#" in plan
