"""Vector similarity over the ``embeddings`` table: exact cosine
near-dup pairs, brute-force top-k ANN baseline, and an LSH-bucketed
approximate path for scale.

Cosine math is a JVM-side left fold over the float vectors cast to
double (``aggregate(zip_with(...))``) — verified bit-identical to
DuckDB's ``list_sum(list_transform(...))``, so exact thresholds and
rankings agree with the oracle with no float tolerance games.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    RoundPins,
    pin,
    round_rat,
    scratch,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register

_COSINE_TAU = 0.3
_TOP_K = 5
_N_QUERIES = 10  # vec_id < 10 are the query vectors
# Per-partition candidate margin for the BLAS selection stages
# (ann_topk_vectorized / ann_topk_arrow keep factor*k local survivors
# per query before the JVM rescore). The margin is what makes
# BLAS-vs-fold float noise at the kth boundary irrelevant; widen it
# here (one place, both UDFs read it) if ever scoring a corpus of
# near-identical vectors — see _exact_rescore's margin caveat.
_ANN_MARGIN_FACTOR = 2
# 4 sign-bits per table x 8 independent tables: for a neighbor at
# cosine ~0.4 (theta ~66deg, per-bit agreement ~0.63) recall is
# 1-(1-0.63^4)^8 ~ 0.75. At larger corpora raise _N_PLANES so bucket
# population stays bounded (bucket count is 2^planes).
_N_PLANES = 4
_N_TABLES = 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0d, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " 0.0d, (acc, v) -> acc + v)"
        )
    )


_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)
_SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


# ---------------------------------------------------------------- C5
_NEARDUP_ORACLE = f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
  {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
    / ({_SQL_NORM.format(a="a.embedding")} * {_SQL_NORM.format(a="b.embedding")}) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
    / ({_SQL_NORM.format(a="a.embedding")} * {_SQL_NORM.format(a="b.embedding")})
    >= {_COSINE_TAU}
"""


# Max candidate pairs a single label block may generate on the exact
# pairwise path before it is routed through k-means sub-blocking. At
# the default, a block flips at ~141k rows (n(n-1)/2 > 1e10 pairs) —
# far above any sf testdata block, so the registered query stays
# exactly oracle-checkable; on a 100 TB corpus a hot label crosses it
# and the guard engages automatically.
_BLOCK_PAIR_BUDGET = 10_000_000_000
# Target rows per k-means sub-block when the guard engages.
_SUBBLOCK_TARGET = 50_000


def _pairwise_block_join(a_side: DataFrame, b_side: DataFrame, keys: list[str]) -> DataFrame:
    """Exact cosine tau-join inside equi-key blocks; norms hoisted."""
    cond = F.col("a_id") < F.col("b_id")
    for k in keys:
        cond = (F.col(f"a_{k}") == F.col(f"b_{k}")) & cond
    cosine = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a_side.join(b_side, cond)
        .select("a_id", "b_id", cosine.alias("cosine"))
        .where(F.col("cosine") >= _COSINE_TAU)
    )


def near_dup_embedding_frame(
    e: DataFrame,
    pair_budget: int = _BLOCK_PAIR_BUDGET,
    subblock_target: int = _SUBBLOCK_TARGET,
) -> DataFrame:
    """Near-dup pairs over an (vec_id, label, embedding) frame with an
    automatic oversized-block escape hatch. One cheap count-by-label
    agg classifies each block; blocks whose exact pair count n(n-1)/2
    would exceed ``pair_budget`` are k-means sub-blocked (SemDeDup,
    Abbas et al. 2023) and pairs generated only inside
    (label, cluster) cells — the explicit accuracy-for-cost trade,
    taken per-block instead of per-query so a single hot label cannot
    force the whole corpus onto the approximate path (nor onto the
    quadratic one). The oversized-label list is driver-sized by
    construction: at most total_rows / flip_point labels can exceed
    the budget."""
    sizes = e.groupBy("label").agg(F.count("*").alias("n"))
    big = [
        r["label"]
        for r in sizes.where(F.col("n") * (F.col("n") - 1) / 2 > pair_budget).collect()
    ]

    def side(df: DataFrame, p: str, keys: list[str]) -> DataFrame:
        cols = [
            F.col("vec_id").alias(f"{p}_id"),
            F.col("embedding").alias(f"e{p}"),
            _norm("embedding").alias(f"n{p}"),
        ] + [F.col(k).alias(f"{p}_{k}") for k in keys]
        return df.select(*cols)

    # Norms are hoisted to per-ROW scalars: computed per pair they are
    # 2 of the 3 O(d) array folds on the quadratic path. Same
    # expression tree as the oracle (dot / (norm_a * norm_b)), so the
    # doubles stay bit-identical.
    small = e.where(~F.col("label").isin(big)) if big else e
    out = _pairwise_block_join(side(small, "a", ["label"]), side(small, "b", ["label"]), ["label"])
    if big:
        hot = e.where(F.col("label").isin(big))

        def fit() -> DataFrame:
            k = max(2, -(-hot.count() // subblock_target))
            return (
                kmeans_assign(hot.select("vec_id", "embedding"), k, 2)
                .select("vec_id", "cluster")
                .join(hot.select("vec_id", "label"), "vec_id")
            )

        assign = scratch(
            f"neardup-hot-assign:{pair_budget}:{subblock_target}", e, fit
        ).join(e.select("vec_id", "embedding"), "vec_id")
        approx = _pairwise_block_join(
            side(assign, "a", ["label", "cluster"]),
            side(assign, "b", ["label", "cluster"]),
            ["label", "cluster"],
        )
        out = out.unionByName(approx)
    return out


@register("near_dup_embedding", oracle=_NEARDUP_ORACLE)
def near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= tau) blocked by label:
    pairs are only generated inside a label partition, the standard
    blocking trick that turns O(n^2) into O(sum of block^2). The join
    shuffles both sides on label; AQE splits skewed labels.

    Scale note: for DENSE vectors an exact tau-join inside a block is
    irreducibly pairwise (prefix/inverted-index filters need sparsity
    to prune), so the per-pair work is minimized instead (norms
    hoisted to row scalars; one fold per pair) and AQE spreads a hot
    label's quadrant across the cluster. Blocks that outgrow the
    pairwise budget are auto-routed through k-means sub-blocking —
    see ``near_dup_embedding_frame``; at testdata scales no block
    flips, so this query remains exactly oracle-checkable."""
    return near_dup_embedding_frame(_emb(spark, sf_dir))


# ---------------------------------------------------------------- C6
_ANN_ORACLE = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {_SQL_DOT.format(a="q.embedding", b="c.embedding")}
      / ({_SQL_NORM.format(a="q.embedding")} * {_SQL_NORM.format(a="c.embedding")}) AS cosine
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_TOP_K}
"""


@register("ann_topk_bruteforce", oracle=_ANN_ORACLE)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the query vectors: broadcast
    the (tiny) query set against a single scan of the corpus, then a
    per-query window for the top-k cut. One corpus scan regardless of
    query count — the exact-search baseline every ANN variant is
    measured against."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"),
        _norm("embedding").alias("nq"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ec"),
        _norm("embedding").alias("nc"),
    )
    # per-row norm scalars: one O(d) fold per pair instead of three
    cosine = _dot("eq", "ec") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
    )


# ---------------------------------------------------------------- C7
# Hyperplane components are PLAN-TIME constants since round 7 (verdict
# item 7): w_j = (horner("t{t}_p{p}_{j}") % 2001 - 1000)/1000, computed
# in Python from the portable Horner hash and inlined as exact rational
# literals (int/1000.0 — the division is the identical IEEE op in both
# engines). The old form derived the same pseudo-random weights from
# xxhash64 PER ROW, which was JVM-only (rows-only oracle) and paid the
# hash 8 tables x 4 planes x dim times per vector for constants.
_ORACLE_DIM = 64  # embeddings dim in the driver's testdata


def _plane_ints(table: int, p: int, dim: int) -> list[int]:
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import _horner_py

    return [(_horner_py(f"t{table}_p{p}_{j}") % 2001) - 1000 for j in range(dim)]


def _emb_dim(e: DataFrame) -> int:
    """Vector dimensionality — one bounded driver scalar per call."""
    row = e.select(F.size("embedding").alias("d")).first()
    return int(row.d) if row is not None else _ORACLE_DIM


def _bucket_expr(
    vec: str, table: int, dim: int, n_planes: int = _N_PLANES
) -> Column:
    """LSH bucket id: sign bits of dot products against ``n_planes``
    deterministic pseudo-random hyperplanes (literal weights, no
    stored model). Engine-portable; `_bucket_sql` is the DuckDB twin."""
    bits = []
    for p in range(n_planes):
        ws = ", ".join(
            f"(CAST({m} AS DOUBLE) / 1000.0D)" for m in _plane_ints(table, p, dim)
        )
        dot = (
            f"aggregate(zip_with({vec}, array({ws}), (x, w) -> CAST(x AS DOUBLE) * w),"
            " 0.0d, (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0.0d THEN shiftleft(1L, {p}) ELSE 0L END)")
    return F.expr(" + ".join(bits))


def _bucket_sql(vec: str, table: int, dim: int = _ORACLE_DIM) -> str:
    """DuckDB twin of :func:`_bucket_expr` (list_sum == the Spark
    0.0-seeded left fold — the proven _SQL_DOT recipe)."""
    bits = []
    for p in range(_N_PLANES):
        ws = ", ".join(
            f"(CAST({m} AS DOUBLE) / 1000)" for m in _plane_ints(table, p, dim)
        )
        dot = (
            f"list_sum(list_transform(list_zip({vec}, [{ws}]),"
            f" x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )
        bits.append(f"(CASE WHEN {dot} >= 0.0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _lsh_bucket_cte() -> str:
    """CTE ``b(vec_id, tbl, bucket)``: every vector bucketed in every
    table. MATERIALIZED — the probe and corpus sides both scan it, and
    DuckDB's default inlining would re-expand the 8-way bucket CASE
    per reference."""
    cases = " ".join(
        f"WHEN {t} THEN {_bucket_sql('embedding', t)}" for t in range(_N_TABLES)
    )
    return f"""b AS MATERIALIZED (
  SELECT vec_id, t.tbl AS tbl, CASE t.tbl {cases} END AS bucket
  FROM embeddings, UNNEST(range({_N_TABLES})) AS t(tbl)
)"""


_LSH_SCORE_SQL = f"""scored AS (
  SELECT cand.query_id, cand.neighbor_id,
    {_SQL_DOT.format(a="eq.embedding", b="ec.embedding")}
      / ({_SQL_NORM.format(a="eq.embedding")} * {_SQL_NORM.format(a="ec.embedding")}) AS cosine
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_TOP_K}"""


_LSH_BUCKETED_ORACLE = f"""
WITH {_lsh_bucket_cte()},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM b q JOIN b c ON c.tbl = q.tbl AND c.bucket = q.bucket
  WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
),
{_LSH_SCORE_SQL}
"""


@register("ann_lsh_bucketed", oracle=_LSH_BUCKETED_ORACLE)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: random-hyperplane LSH, _N_TABLES independent
    bucket tables. Queries only compare against corpus vectors landing
    in the same bucket of any table — candidate count is a small
    fraction of the corpus, which is the whole point at 100 TB.
    Exactness is traded for recall; tests/test_similarity.py measures
    recall@k against the brute-force baseline."""
    e = _emb(spark, sf_dir)
    dim = _emb_dim(e)
    tables = []
    for t in range(_N_TABLES):
        tables.append(
            e.select(
                "vec_id", "embedding", F.lit(t).alias("tbl"), _bucket_expr("embedding", t, dim).alias("bucket")
            )
        )
    bucketed = tables[0]
    for t in tables[1:]:
        bucketed = bucketed.unionAll(t)

    q = bucketed.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"), "tbl", "bucket"
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ec"), "tbl", "bucket"
    )
    cosine = _dot("eq", "ec") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        F.broadcast(q)
        .join(c, ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .join(
            _emb(spark, sf_dir).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"),
                _norm("embedding").alias("nq"),
            ),
            "query_id",
        )
        .join(
            _emb(spark, sf_dir).select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ec"),
                _norm("embedding").alias("nc"),
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
    )


# ---------------------------------------------------------------- C19
_N_CENTROIDS = 16
_N_PROBE = 4


_IVF_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce
  FROM embeddings ORDER BY vec_id LIMIT {_N_CENTROIDS}
),
assign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        {_SQL_DOT.format(a="e.embedding", b="c.ce")}
          / ({_SQL_NORM.format(a="e.embedding")}
             * {_SQL_NORM.format(a="c.ce")}) DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, eq, cell FROM (
    SELECT a.vec_id AS query_id, a.embedding AS eq, c.cent_id AS cell,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        {_SQL_DOT.format(a="a.embedding", b="c.ce")}
          / ({_SQL_NORM.format(a="a.embedding")}
             * {_SQL_NORM.format(a="c.ce")}) DESC, c.cent_id) AS rn
    FROM assign a CROSS JOIN cents c
    WHERE a.vec_id < {_N_QUERIES}
  ) WHERE rn <= {_N_PROBE}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT p.query_id, m.vec_id AS neighbor_id,
    {_SQL_DOT.format(a="p.eq", b="m.embedding")}
      / ({_SQL_NORM.format(a="p.eq")}
         * {_SQL_NORM.format(a="m.embedding")}) AS cosine,
    ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
      {_SQL_DOT.format(a="p.eq", b="m.embedding")}
        / ({_SQL_NORM.format(a="p.eq")}
           * {_SQL_NORM.format(a="m.embedding")}) DESC, m.vec_id) AS rank
  FROM probes p JOIN assign m ON m.cell = p.cell
  WHERE m.vec_id <> p.query_id
) WHERE rank <= {_TOP_K}
"""


@register("ann_ivf", oracle=_IVF_ORACLE)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: the corpus is coarsely partitioned
    into _N_CENTROIDS cells around deterministic seed vectors (the
    lowest vec_ids — a fixed, reproducible quantizer; a trained
    k-means would drop in the same way), each vector assigned to its
    nearest centroid with one broadcast join + max_by. Queries probe
    their _N_PROBE closest cells and exact-score only those members —
    the scan per query is ~ n * probe / cells instead of n, and the
    cell assignment is a write-once ETL artifact at real scale.
    Every step (seed quantizer, tie rules, fold cosines) is
    deterministic, so the DuckDB oracle replays the whole probe
    pipeline hash-exact; tests additionally measure recall@k against
    the brute-force baseline."""
    e = _emb(spark, sf_dir)
    cents = (
        e.orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    cos_c = _dot("embedding", "ce") / (_norm("embedding") * _norm("ce"))
    scored_cells = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cent_id", cos_c.alias("c_cos"))
    )
    # nearest cell per vector (ties -> lowest cent_id)
    assign = scored_cells.groupBy("vec_id").agg(
        F.max_by("cent_id", F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("nid"))).alias("cell"),
        F.first("embedding").alias("embedding"),
    )
    probes = (
        assign.where(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"))
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id", "eq", "cent_id",
            (_dot("eq", "ce") / (_norm("eq") * _norm("ce"))).alias("c_cos"),
        )
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("c_cos"), "cent_id")
            ),
        )
        .where(F.col("probe_rank") <= _N_PROBE)
        .select(
            "query_id", "eq", _norm("eq").alias("nq"),
            F.col("cent_id").alias("cell"),
        )
    )
    members = assign.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ec"),
        _norm("embedding").alias("nc"), "cell",
    )
    cosine = _dot("eq", "ec") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        F.broadcast(probes)
        .join(members, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
    )


# ---------------------------------------------------------------- C22
def _exact_rescore(e: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """Rescore BLAS-selected candidate pairs with the same JVM
    ``aggregate`` fold the bruteforce baseline uses, then take the
    final top-k. The matmul stage is candidate SELECTION only (with a
    2k-per-partition safety margin and a deterministic tie-break), so
    its float-associativity noise never reaches the emitted cosine:
    the output is bit-identical to :func:`ann_topk_bruteforce` and
    therefore to ``_ANN_ORACLE`` — which is what lets the
    execution-strategy twins carry the exact oracle instead of a
    rows-only check.

    Margin caveat (honest limit, not a proof): exact ties are safe
    (the lexsort id tie-break mirrors the JVM window), but the 2k
    margin is probabilistic against NEAR-ties — if more than 2k
    corpus vectors in ONE partition land within the BLAS-vs-fold
    discrepancy (~1e-13 relative) of a query's kth boundary without
    being exactly equal, a true neighbor could be dropped before the
    rescore. Real and synthetic embedding corpora are ~12 orders of
    magnitude away from that density; widen the margin if scoring a
    corpus of near-identical vectors differing in low-order bits."""
    qj = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"),
        _norm("embedding").alias("nq"),
    )
    cj = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ec"),
        _norm("embedding").alias("nc"),
    )
    cosine = _dot("eq", "ec") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    # Join order matters at scale: the corpus (cj) must stay a
    # stationary scan, with the candidate ID pairs broadcast INTO it —
    # joining the other way shuffles the whole corpus to re-score a
    # candidate set that is only (partitions x margin x queries) rows
    # (the r5->r6 ann_topk_arrow bench regression was exactly that
    # corpus shuffle; the one-boot probe confirmed it). The broadcast
    # carries bare id pairs — ~16 bytes each, bounded by the partition
    # count, never by corpus size; the query embeddings attach from
    # the separately broadcast query frame afterwards.
    return (
        cj.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qj), "query_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _exact_rescore_carried(e: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """:func:`_exact_rescore` for scorers that CARRY the selected
    candidates' raw embeddings out of the scoring stage as ``ec``
    (Arrow ``take`` — no value conversion): the candidate set is
    bounded (partitions x margin x queries rows), so shipping its
    float32 arrays through the shuffle costs less than the second
    full corpus scan the id-only rescore pays to re-fetch them (the
    r10 one-boot probe measured that re-scan as ann_topk_arrow's
    post-r9 drift). The JVM folds read exactly the bytes the corpus
    scan would deliver, so the output stays bit-identical to
    :func:`ann_topk_bruteforce` and the shared exact oracle."""
    qj = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"),
        _norm("embedding").alias("nq"),
    )
    cosine = _dot("eq", "ec") / (F.col("nq") * _norm("ec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cand.join(F.broadcast(qj), "query_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register("ann_topk_vectorized", oracle=_ANN_ORACLE)
def ann_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k again, but scored in an Arrow-batched pandas
    UDF: the query matrix ships to every task as a broadcast numpy
    array, each batch scores corpus vectors with one float64 matmul
    and keeps only its local top-2k per query (the safety margin that
    makes BLAS summation-order noise at the kth boundary irrelevant),
    and the final merge RESCORES the surviving k*partitions candidate
    pairs with the JVM fold (:func:`_exact_rescore`) so the emitted
    cosines and ranks are bit-identical to the bruteforce baseline.
    This is the shape a real embedding-model scorer takes (normalize
    once, BLAS matmul, partial top-k before any shuffle) — the
    shuffle carries candidates, not the corpus."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    e = _emb(spark, sf_dir)
    q_rows = (
        e.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()  # _N_QUERIES rows — the broadcast query set
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qm = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, qm))
    k = _TOP_K

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, queries = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ queries.T  # (batch, n_queries)
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out_q, out_n = [], []
            for qi, qid in enumerate(ids):
                col = sims[:, qi]
                cand_idx = np.nonzero(nids != qid)[0]
                # deterministic tie order (score desc, id asc),
                # margin*k safety margin — selection only, scores
                # discarded (see _ANN_MARGIN_FACTOR)
                order = np.lexsort((nids[cand_idx], -col[cand_idx]))
                top = cand_idx[order][: _ANN_MARGIN_FACTOR * k]
                out_q.extend([qid] * len(top))
                out_n.extend(nids[top])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    partial = e.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long"
    )
    return _exact_rescore(e, partial, k)


# ---------------------------------------------------------------- C25
_NORM_STATS_ORACLE = f"""
SELECT label, COUNT(*) AS n_vectors,
  CAST(ROUND(MIN({_SQL_NORM.format(a="embedding")}), 4) AS DOUBLE) AS min_norm,
  CAST(ROUND(MAX({_SQL_NORM.format(a="embedding")}), 4) AS DOUBLE) AS max_norm
FROM embeddings GROUP BY label
"""


@register("embedding_norm_stats", oracle=_NORM_STATS_ORACLE)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm range — the sanity profile run before any
    similarity work (catches unnormalized or degenerate vectors).
    min/max aggregates of the deterministic norm fold are
    order-independent, so no decimal games needed."""
    e = _emb(spark, sf_dir)
    norm = _norm("embedding")
    return e.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.min(norm), 4).alias("min_norm"),
        F.round(F.max(norm), 4).alias("max_norm"),
    )


# ---------------------------------------------------------------- C26
_CENTROID_ORACLE = f"""
WITH pos_vals AS (
  SELECT label, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(pos)
), centroids AS (
  SELECT label, pos,
    CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
  FROM pos_vals GROUP BY label, pos
), cent_arrays AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM centroids GROUP BY label
)
SELECT e.vec_id, e.label,
  CAST(ROUND(sqrt(list_sum(list_transform(list_zip(e.embedding, c.centroid),
    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))), 4) AS DOUBLE)
    AS dist_to_centroid
FROM embeddings e JOIN cent_arrays c USING (label)
"""


@register("label_centroid_distance", oracle=_CENTROID_ORACLE)
def label_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector's L2 distance to its label centroid (the
    cluster-compactness signal). Centroids come from a posexplode +
    (label, dim) aggregation — decimal sums so the mean is
    order-independent — reassembled into an array and broadcast back
    onto the vectors; the distance is the same deterministic fold the
    cosine ops use."""
    e = _emb(spark, sf_dir)
    pos_vals = e.select(
        "label", F.posexplode_outer("embedding").alias("pos", "val")
    ).where(F.col("val").isNotNull())
    centroids = pos_vals.groupBy("label", "pos").agg(
        (F.sum(F.col("val").cast("double").cast("decimal(18,9)")).cast("double") / F.count("*")).alias("c")
    )
    cent_arrays = centroids.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").alias(
            "centroid"
        )
    )
    dist = F.sqrt(
        F.expr(
            "aggregate(zip_with(embedding, centroid,"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " 0.0d, (acc, v) -> acc + v)"
        )
    )
    return (
        e.join(F.broadcast(cent_arrays), "label")
        .select("vec_id", "label", F.round(dist, 4).alias("dist_to_centroid"))
    )


# ---------------------------------------------------------------- C27
_KMEANS_K = 8
_KMEANS_ITERS = 4


def _kmeans_argmin(cents: list[tuple[int, list[float]]]):
    """Column: struct(cid, d2) of the nearest centroid, computed with
    the centroids inlined as a LITERAL array — one projection per row,
    NO crossJoin-by-k and NO argmin shuffle (r11 optimization: the
    previous crossJoin(broadcast(cents)) + groupBy(vec_id) expanded
    the corpus k-fold and shuffled it, embeddings included, once per
    Lloyd round). Float semantics are bit-identical to the old plan:
    the same per-dimension left fold
    (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))^2 accumulated from 0.0d,
    and the fold over centroids visits cids in ascending order keeping
    strict `<` winners, which reproduces min_by's (d2, cid) tie-break
    to the lowest cid."""
    # The literal is generated as ONE SQL string parsed in a single
    # py4j call: building k x d literals as pyspark Column objects
    # costs a py4j round-trip per node (~2 s per invocation for
    # 8 x 64 — measured r11, and the loop invokes this per round).
    # repr(float) round-trips exactly through the SQL double parser,
    # and CAST(.. AS FLOAT) restores the original float32 bits.
    arr = (
        "array("
        + ",".join(
            "named_struct('cid', {cid}, 'ce', array({vals}))".format(
                cid=int(cid),
                vals=",".join(f"CAST({float(v)!r} AS FLOAT)" for v in ce),
            )
            for cid, ce in cents
        )
        + ")"
    )
    d2 = (
        "aggregate(zip_with(embedding, c.ce,"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " 0.0d, (acc, v) -> acc + v)"
    )
    # struct(d2, cid) + array_min IS min_by's ordering (d2 first, ties
    # to the lowest cid), and each centroid's fold is evaluated once.
    return F.expr(f"array_min(transform({arr}, c -> struct({d2} AS d2, c.cid AS cid)))")


def _kmeans_centroids(e: DataFrame, k: int, iters: int) -> list[tuple[int, list[float]]]:
    """The driver-side Lloyd loop shared by :func:`kmeans_assign`:
    returns the final centroid list [(cid, [float dims])]. Centroids
    are k x d — driver-sized BY DEFINITION — so collecting them each
    round is not a scale smell; it is also what caps the analyzed
    plan at one round deep (with lazy chaining, optimizer time and
    plan size grow per round, which is what bites first on a real
    cluster)."""
    seed = e.orderBy("vec_id").limit(k).select("embedding").collect()
    cents = [(i + 1, list(r["embedding"])) for i, r in enumerate(seed)]
    for _ in range(iters):
        assigned = e.select(
            _kmeans_argmin(cents)["cid"].alias("cid"), "embedding"
        )  # only .cid referenced -> the argmin fold runs once per row
        # k x d per-dimension means, cast to FLOAT on the executors;
        # the driver orders them into centroids (no second shuffle)
        rows = (
            assigned.select("cid", F.posexplode_outer("embedding").alias("pos", "val"))
            .where(F.col("val").isNotNull())
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("double").cast("decimal(18,9)")).cast("double")
                    / F.count("*")
                )
                .cast("float")
                .alias("c")
            )
            .collect()
        )
        by_cid: dict[int, list] = {}
        for cid, pos, c in sorted((int(r["cid"]), r["pos"], r["c"]) for r in rows):
            by_cid.setdefault(cid, []).append(c)
        cents = sorted(by_cid.items())
    return cents


def kmeans_assign(e: DataFrame, k: int, iters: int) -> DataFrame:
    """Deterministic Lloyd's k-means assignment: vec_id, embedding,
    cluster, d2 (squared distance to the final centroid). Centroids
    initialize to the k lowest vec_ids; each iteration is one assign
    (LITERAL centroid argmin — a pure projection, no shuffle) + one
    recompute (posexplode, decimal per-dimension means: the only
    shuffle per round, and it is map-side combinable down to k x d
    rows per task). No RNG, no mllib, ties broken by centroid id.

    r11 plan change: assignment used to be crossJoin(broadcast(cents))
    + groupBy(vec_id) min_by — a k-fold row expansion and a full
    corpus shuffle (embeddings included) per round plus one more for
    the final assignment. Inlining the driver-collected centroids as
    a literal array removes every assignment Exchange; results are
    bit-identical (same fold order, same tie-break — see
    :func:`_kmeans_argmin`).

    The argmin projection is CPU-bound per row (k x d interpreted
    fold) and nothing shuffles ``e`` before it, so callers hand in
    ``e`` through the fan-out policy (``catalog.spread``); an
    under-split input would run the whole Lloyd loop on one core."""
    cents = _kmeans_centroids(e, k, iters)
    # two-stage select: the outer project references the argmin struct
    # twice, and CollapseProject keeps non-cheap aliases un-inlined,
    # so the fold still runs once per row.
    return e.select("vec_id", _kmeans_argmin(cents).alias("_b"), "embedding").select(
        "vec_id",
        F.col("_b.cid").alias("cluster"),
        F.round(F.col("_b.d2"), 4).alias("d2"),
        "embedding",
    )


def _kmeans_ctes(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS) -> list[str]:
    """The unrolled deterministic Lloyd's CTE chain (k lowest vec_ids
    seed, decimal per-dim means cast to REAL, argmin ties to lowest
    cid), ending in ``af`` (vec_id, cluster, d2 rounded 4dp) — shared
    by the kmeans, semantic-dedup-family, and balanced-sample oracles."""
    d2 = (
        "list_sum(list_transform(list_zip(e.embedding, c.ce), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
        " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    )
    ctes = [
        "emb AS (SELECT vec_id, embedding FROM embeddings)",
        f"""c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cid, embedding AS ce
  FROM (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT {k})
)""",
    ]
    for i in range(iters):
        ctes.append(f"""a{i + 1} AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM emb e CROSS JOIN c{i} c
  ) WHERE rn = 1
)""")
        ctes.append(f"""c{i + 1} AS (
  SELECT cid, list(CAST(c AS REAL) ORDER BY pos) AS ce FROM (
    SELECT cid, pos,
      CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
        / COUNT(*) AS c
    FROM (
      SELECT cid, unnest(embedding) AS val,
             unnest(range(1, len(embedding) + 1)) AS pos
      FROM a{i + 1}
    ) GROUP BY cid, pos
  ) GROUP BY cid
)""")
    ctes.append(f"""af AS (
  SELECT vec_id, cid AS cluster, ROUND(d2, 4) AS d2 FROM (
    SELECT e.vec_id, c.cid, {d2} AS d2,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM emb e CROSS JOIN c{iters} c
  ) WHERE rn = 1
)""")
    return ctes


def _kmeans_oracle(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS) -> str:
    """DuckDB oracle for :func:`kmeans_clusters`: the shared Lloyd's
    chain (``_kmeans_ctes``), finishing with the per-cluster count
    and the DECIMAL(18,4) inertia sum over the 4dp-rounded winning
    distances — decimal so the distributed Spark sum is
    order-independent and the hash compare holds exactly."""
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k, iters))
        + """
SELECT CAST(cluster AS INTEGER) AS cluster,
  COUNT(*) AS n_vectors,
  CAST(ROUND(CAST(SUM(CAST(d2 AS DECIMAL(18,4))) AS DOUBLE), 2) AS DOUBLE)
    AS inertia
FROM af GROUP BY cluster
"""
    )


@register("kmeans_clusters", oracle=_kmeans_oracle())
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means on the embeddings via ``kmeans_assign`` (fully
    deterministic — no RNG, no mllib), checked hash-exact against an
    unrolled-CTE DuckDB replay of the same iterations (the
    semantic_dedup oracle precedent). The inertia sum accumulates in
    DECIMAL(18,4) over the 4dp-rounded distances so the distributed
    sum is order-independent. Tests additionally assert labels are
    stable across runs and within-cluster distance never increases
    per iteration."""
    final = _kmeans_assign_fixed(spark, sf_dir)
    return final.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum(F.col("d2").cast("decimal(18,4)")).cast("double"), 2).alias(
            "inertia"
        ),
    )


def _kmeans_assign_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (k=_KMEANS_K, iters=_KMEANS_ITERS) Lloyd's assignment,
    fitted ONCE per embeddings version and kept as keyed scratch
    (r11 optimization; the `kmeans-assign:{sf_dir}` precedent one
    operator down): `kmeans_clusters` and `cluster_balanced_sample`
    run the IDENTICAL deterministic fit, so two operators in one
    application paid the 4-round centroid loop twice. The production
    analog is a persisted model/assignment table both consumers scan.
    Embeddings are projected OUT before the write — neither consumer
    reads them, and they are ~30x the row's bytes."""
    e = _emb(spark, sf_dir)
    return scratch(
        f"kmeans-assign-fixed:{_KMEANS_K}x{_KMEANS_ITERS}",
        e,
        lambda: kmeans_assign(
            spread(e.select("vec_id", "embedding"), sf_dir, "embeddings"),
            _KMEANS_K,
            _KMEANS_ITERS,
        ).select("vec_id", "cluster", "d2"),
    )


# ---------------------------------------------------------------- C122
_BAL_BUDGET = 100
_BAL_QUOTA = -(-_BAL_BUDGET // _KMEANS_K)  # ceil


def _balanced_sample_oracle() -> str:
    """DuckDB oracle for :func:`cluster_balanced_sample`: the shared
    Lloyd's chain (``_kmeans_ctes``) plus a per-cluster ROW_NUMBER cut
    — the whole selection is deterministic, so it replays hash-exact."""
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + f"""
SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, d2,
  CAST(rk AS INTEGER) AS sample_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster ORDER BY d2, vec_id) AS rk
  FROM af
) WHERE rk <= {_BAL_QUOTA}
"""
    )


@register("cluster_balanced_sample", oracle=_balanced_sample_oracle())
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling — the diversity-preserving
    selection step of embedding-curated training sets (cluster the
    corpus, take an equal quota from every cluster, prefer the most
    prototypical members): k-means assignment via the deterministic
    ``kmeans_assign`` (no RNG), then the ``ceil(budget/k)`` members
    CLOSEST to each centroid (ties to lowest vec_id). A uniform
    sample oversamples the dense clusters; the equal quota keeps rare
    modes represented — the reason curation pipelines sample per
    cluster, not per corpus.

    Scale: the assignment is the k-means cost (one corpus scan per
    Lloyd round, centroids broadcast), paid once per application via
    the shared fixed-k fit (see :func:`_kmeans_assign_fixed`); the cut
    is a window partitioned by cluster — at extreme per-cluster
    cardinality the d2 threshold could first be estimated per cluster
    to pre-filter before the window (the B76/top-k-per-group note)."""
    from pyspark.sql import Window

    assign = _kmeans_assign_fixed(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy("d2", "vec_id")
    return (
        assign.select("vec_id", "cluster", "d2")
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= _BAL_QUOTA)
    )


# ---------------------------------------------------------------- C42
def _semantic_dedup_oracle(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS) -> str:
    """DuckDB oracle for :func:`semantic_dedup`: the SAME
    deterministic Lloyd's k-means (k lowest vec_ids seed, per-dim
    decimal(18,9) means cast to REAL, argmin ties to lowest cid),
    intra-cluster cosine pairs, and recursive min-label components —
    unrolled as one CTE chain per iteration. Every float-sensitive
    expression mirrors the Spark tree exactly (double folds over REAL
    inputs, decimal mean accumulation), which is why the hash compare
    holds with no tolerance. ``k`` is pinned at the sf<=0.1 value of
    the Spark side's max(8, min(256, n//500)) sizing — valid for every
    gate/test SF (n <= 4000 ⇒ k = 8)."""
    d2 = (
        "list_sum(list_transform(list_zip(e.embedding, c.ce), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
        " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    )
    ctes = [
        "emb AS (SELECT vec_id, embedding FROM embeddings)",
        f"""c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cid, embedding AS ce
  FROM (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT {k})
)""",
    ]
    for i in range(iters):
        ctes.append(f"""a{i + 1} AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM emb e CROSS JOIN c{i} c
  ) WHERE rn = 1
)""")
        ctes.append(f"""c{i + 1} AS (
  SELECT cid, list(CAST(c AS REAL) ORDER BY pos) AS ce FROM (
    SELECT cid, pos,
      CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
        / COUNT(*) AS c
    FROM (
      SELECT cid, unnest(embedding) AS val,
             unnest(range(1, len(embedding) + 1)) AS pos
      FROM a{i + 1}
    ) GROUP BY cid, pos
  ) GROUP BY cid
)""")
    ctes.append(f"""af AS (
  SELECT vec_id, embedding, cid AS cluster,
         {_SQL_NORM.format(a="embedding")} AS nrm
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM emb e CROSS JOIN c{iters} c
  ) WHERE rn = 1
)""")
    ctes.append(f"""pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
      / (a.nrm * b.nrm) >= {_COSINE_TAU}
)""")
    ctes.append("""edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
)""")
    ctes.append("""walk(node, label) AS (
  SELECT vec_id, vec_id FROM af
  UNION
  SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node
)""")
    ctes.append(
        "comp AS (SELECT node AS vec_id, MIN(label) AS label FROM walk GROUP BY node)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + """
SELECT CAST(g.label AS BIGINT) AS group_id,
       CAST(af.cluster AS INTEGER) AS cluster,
       CAST(g.n_members AS BIGINT) AS n_members
FROM (
  SELECT label, COUNT(*) AS n_members FROM comp GROUP BY label
  HAVING COUNT(*) > 1
) g JOIN af ON af.vec_id = g.label
"""
    )


_SEMANTIC_DEDUP_ORACLE = _semantic_dedup_oracle()


@register("semantic_dedup", oracle=_SEMANTIC_DEDUP_ORACLE)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means partitions the embedding space, then
    near-duplicate pairs (cosine >= tau) are searched ONLY within each
    cluster — the published trick that turns the all-pairs O(n^2)
    semantic-dup scan into k disjoint O((n/k)^2) problems that
    parallelize perfectly. Pairs are grouped into semantic-dup
    clusters by min-label propagation; output is one row per dup
    group (its canonical min vec_id, the k-means cell it lives in,
    and its size) — the drop-list a curation run consumes.

    Scale: cluster count grows with the corpus (k ~ sqrt(n) keeps the
    per-cell quadratic bounded); the intra-cell join shuffles on the
    cluster id, and AQE splits any hot cell. The assignment is
    materialized (written scratch, lineage truncated) before the
    pairwise phase — without it the 4-iteration k-means plan is
    embedded in BOTH sides of the pair join and again in every label-
    propagation round, and the composed plan tree grows without
    bound. Tests pin determinism, exactness of emitted pairs, and
    recall against the unblocked brute-force pair set."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")

    def _fit():
        # Cell count grows with the corpus (SemDeDup's k ~ n trade):
        # ~500-vector cells keep the per-cell quadratic bounded while
        # staying large enough that near-dups co-locate. At the sf0.01
        # oracle/test scale this floors at _KMEANS_K, so gated results
        # are unchanged; at larger corpora pair work stays O(n * 500).
        n = e.count()
        k = max(_KMEANS_K, min(256, n // 500))
        fanned = spread(e, sf_dir, "embeddings")
        return kmeans_assign(fanned, k, _KMEANS_ITERS).select(
            "vec_id", "embedding", "cluster", _norm("embedding").alias("nrm")
        )

    # kmeans_assign collects centroids per Lloyd round while BUILDING
    # its frame, so on a scratch hit the whole fit is skipped, not
    # just the write.
    assign = scratch("kmeans-assign", e, _fit)
    a = assign.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"), "cluster",
    )
    b = assign.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"), "cluster",
    )
    cosine = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, ["cluster"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", cosine.alias("cosine"))
        .where(F.col("cosine") >= _COSINE_TAU)
        .select("a_id", "b_id")
    )
    from cdk_serverless_data_lake_sandbox_spark.operators.pipeline import (
        min_label_components,
    )

    labels = min_label_components(
        assign.select(F.col("vec_id").alias("doc_id")), pairs
    )
    groups = (
        labels.groupBy("label")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > 1)
    )
    return (
        groups.join(assign, groups.label == assign.vec_id)
        .select(
            F.col("label").alias("group_id"),
            "cluster",
            "n_members",
        )
    )


# ---------------------------------------------------------------- C33
_PURITY_ORACLE = f"""
WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
    c.vec_id AS neighbor_id, c.label AS n_label,
    {_SQL_DOT.format(a="q.embedding", b="c.embedding")}
      / ({_SQL_NORM.format(a="q.embedding")} * {_SQL_NORM.format(a="c.embedding")}) AS cosine
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
), topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_TOP_K}
)
SELECT query_id,
  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label,
  {sql_round_rat('SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)',
                  'COUNT(*)', 4)} AS purity
FROM topk GROUP BY query_id
"""


@register("ann_label_purity", oracle=_PURITY_ORACLE)
def ann_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metric: the fraction of each query's exact
    top-k neighbors sharing the query's label (the standard sanity
    check that an embedding space clusters its classes). Built on the
    same broadcast-scan top-k plan as the ANN baseline, plus one
    conditional aggregation."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        F.col("label").alias("q_label"),
        _norm("embedding").alias("nq"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ec"),
        F.col("label").alias("n_label"),
        _norm("embedding").alias("nc"),
    )
    cosine = _dot("eq", "ec") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    topk = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_label", "n_label", cosine.alias("cosine"), "neighbor_id")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
    )
    same = F.sum(F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0))
    # integer-exact purity fraction (round_rat)
    return (
        topk.groupBy("query_id")
        .agg(
            same.cast("bigint").alias("n_same_label"),
            F.count("*").alias("_nn"),
        )
        .select(
            "query_id",
            "n_same_label",
            round_rat("n_same_label", "_nn", 4).alias("purity"),
        )
    )


# ---------------------------------------------------------------- C54
_PQ_M = 16  # subspaces
_PQ_SUBDIM = 4  # dims per subspace (embeddings are 64-d)
_PQ_K = 16  # centroids per subspace -> 4-bit codes
_PQ_ITERS = 3


def pq_codebooks(e: DataFrame) -> DataFrame:
    """Product-quantization codebooks: deterministic Lloyd's k-means
    run INDEPENDENTLY in each of the {M} subspaces — but as ONE keyed
    job, not M driver loops: the (vec_id, sub, subvector) frame keys
    every iteration's assign/recompute by subspace, so all {M}
    codebooks train in the same two shuffles per iteration that one
    k-means costs. Initialization is the first {K} vec_ids'
    subvectors (no RNG). Returns (sub, cid, ce) centroid rows."""
    sv = e.select(
        "vec_id",
        F.posexplode_outer(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}),"
                f" m -> slice(embedding, m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}))"
            )
        ).alias("sub", "sv"),
    ).where(F.col("sv").isNotNull())
    cents = (
        sv.where(F.col("vec_id") < _PQ_K)
        .select("sub", (F.col("vec_id") + 1).cast("int").alias("cid"), F.col("sv").alias("ce"))
    )
    dist2 = F.expr(
        "aggregate(zip_with(sv, ce,"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " 0.0d, (acc, v) -> acc + v)"
    )
    for _ in range(_PQ_ITERS):
        assign = (
            sv.join(F.broadcast(cents), "sub")
            .select("vec_id", "sub", "sv", "cid", dist2.alias("d2"))
            .groupBy("vec_id", "sub")
            .agg(
                F.min_by("cid", F.struct(F.col("d2"), F.col("cid"))).alias("cid"),
                F.first("sv").alias("sv"),
            )
        )
        cents = (
            assign.select("sub", "cid", F.posexplode_outer("sv").alias("pos", "val"))
            .where(F.col("val").isNotNull())
            .groupBy("sub", "cid", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("double").cast("decimal(18,9)")).cast("double")
                    / F.count("*")
                ).alias("c")
            )
            .groupBy("sub", "cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, c))), x -> CAST(x.c AS FLOAT))"
                ).alias("ce")
            )
        )
        # M x K codebook rows are driver-sized; truncate lineage per
        # round exactly as kmeans_assign does (see its comment).
        rows = cents.collect()
        cents = e.sparkSession.createDataFrame(
            [(int(r["sub"]), int(r["cid"]), list(r["ce"])) for r in rows],
            "sub int, cid int, ce array<float>",
        )
    return cents


def pq_encode(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Encode every vector as {M} 4-bit codes (argmin centroid per
    subspace) and carry the reconstructed (decoded) vector for
    asymmetric scoring. 64 floats -> {M} codes = 32x memory
    compression for the stored index; at 100 TB this is the
    difference between an in-memory ANN index and none."""
    sv = e.select(
        "vec_id",
        F.posexplode_outer(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}),"
                f" m -> slice(embedding, m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}))"
            )
        ).alias("sub", "sv"),
    ).where(F.col("sv").isNotNull())
    dist2 = F.expr(
        "aggregate(zip_with(sv, ce,"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " 0.0d, (acc, v) -> acc + v)"
    )
    best = (
        sv.join(F.broadcast(cents), "sub")
        .select("vec_id", "sub", "cid", "ce", dist2.alias("d2"))
        .groupBy("vec_id", "sub")
        .agg(
            F.min_by("cid", F.struct(F.col("d2"), F.col("cid"))).alias("code"),
            F.min_by("ce", F.struct(F.col("d2"), F.col("cid"))).alias("part"),
        )
    )
    return best.groupBy("vec_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(sub, code))), x -> x.code)"
        ).alias("codes"),
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(sub, part))), x -> x.part))"
        ).alias("recon"),
    )


def _pq_ctes(m: int, sd: int, k: int, iters: int) -> list[str]:
    """Shared unrolled-CTE chain replaying pq_codebooks + pq_encode
    through the per-vector reconstruction ``recon`` (used by both the
    plain-PQ and the IVF-PQ oracles)."""
    d2 = (
        "list_sum(list_transform(list_zip(s.sv, c.ce), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
        " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    )
    ctes = [
        f"""sv AS MATERIALIZED (
  SELECT vec_id, CAST(t.m AS INTEGER) AS sub,
    embedding[t.m * {sd} + 1 : t.m * {sd} + {sd}] AS sv
  FROM embeddings, UNNEST(generate_series(0, {m - 1})) AS t(m)
)""",
        f"""c0 AS MATERIALIZED (
  SELECT sub, CAST(vec_id + 1 AS INTEGER) AS cid, sv AS ce
  FROM sv WHERE vec_id < {k}
)""",
    ]
    for i in range(iters):
        ctes.append(f"""a{i + 1} AS MATERIALIZED (
  SELECT vec_id, sub, sv, cid FROM (
    SELECT s.vec_id, s.sub, s.sv, c.cid,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
        ORDER BY {d2}, c.cid) AS rn
    FROM sv s JOIN c{i} c ON c.sub = s.sub
  ) WHERE rn = 1
)""")
        ctes.append(f"""c{i + 1} AS MATERIALIZED (
  SELECT sub, cid, list(CAST(cc AS REAL) ORDER BY pos) AS ce FROM (
    SELECT sub, cid, pos,
      CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
        / COUNT(*) AS cc
    FROM (
      SELECT sub, cid, unnest(sv) AS val,
             unnest(range(1, len(sv) + 1)) AS pos
      FROM a{i + 1}
    ) GROUP BY sub, cid, pos
  ) GROUP BY sub, cid
)""")
    ctes.append(f"""recon AS MATERIALIZED (
  SELECT vec_id, flatten(list(ce ORDER BY sub)) AS re FROM (
    SELECT vec_id, sub, ce FROM (
      SELECT s.vec_id, s.sub, c.ce,
        ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
          ORDER BY {d2}, c.cid) AS rn
      FROM sv s JOIN c{iters} c ON c.sub = s.sub
    ) WHERE rn = 1
  ) GROUP BY vec_id
)""")
    return ctes


def _pq_oracle(
    m: int = _PQ_M, sd: int = _PQ_SUBDIM, k: int = _PQ_K, iters: int = _PQ_ITERS
) -> str:
    """DuckDB oracle for :func:`ann_topk_pq`: the keyed per-subspace
    Lloyd's replayed as ONE unrolled CTE chain (subspace is a key
    column, so all {m} codebooks train in the same CTEs — mirroring
    pq_codebooks' single keyed job), then encode (argmin centroid,
    ties to lowest cid), reconstruct, and asymmetric-score against
    the true query vectors. Every float-sensitive step mirrors the
    Spark tree (decimal means cast to REAL, double folds), the
    semantic_dedup/kmeans precedent."""
    return (
        "WITH "
        + ",\n".join(_pq_ctes(m, sd, k, iters))
        + f"""
SELECT query_id, neighbor_id, approx_cosine, rank FROM (
  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
    {_SQL_DOT.format(a="q.embedding", b="r.re")}
      / ({_SQL_NORM.format(a="q.embedding")}
         * {_SQL_NORM.format(a="r.re")}) AS approx_cosine,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      {_SQL_DOT.format(a="q.embedding", b="r.re")}
        / ({_SQL_NORM.format(a="q.embedding")}
           * {_SQL_NORM.format(a="r.re")}) DESC, r.vec_id) AS rank
  FROM embeddings q JOIN recon r ON r.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
) WHERE rank <= 5
"""
    )


@register("ann_topk_pq", oracle=_pq_oracle())
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus vectors live as {M}x4-bit PQ
    codes (trained by keyed per-subspace Lloyd's, encoded once);
    queries score against the RECONSTRUCTED vectors — asymmetric
    distance computation, the FAISS IVF-PQ recipe minus the coarse
    quantizer (compose with ann_ivf's cells for both). One broadcast
    of the 10-row query set, one scan of the encoded corpus, per-query
    top-k window. The whole train/encode/score pipeline is
    deterministic, so the DuckDB oracle (``_pq_oracle``) replays it
    hash-exact; recall vs exact brute force is pinned by test; the
    32x index compression is the 100 TB story."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    encoded = scratch("pq-encode", e, lambda: pq_encode(e, pq_codebooks(e)))
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("nq"),
    )
    cand = encoded.select(
        F.col("vec_id").alias("neighbor_id"), F.col("recon").alias("re")
    ).select("neighbor_id", "re", _norm("re").alias("nr"))
    approx_cos = _dot("qe", "re") / (F.col("nq") * F.col("nr"))
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_cosine"), "neighbor_id")
    return (
        F.broadcast(q)
        .join(cand, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", approx_cos.alias("approx_cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------- C64
@register("ann_topk_arrow", oracle=_ANN_ORACLE)
def ann_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow variant of the vectorized scorer: the pandas
    path pays a per-row Arrow->Python-object conversion to build its
    matrix (``.tolist()`` on the list column); here each Arrow batch's
    list column flattens STRAIGHT into a contiguous numpy buffer
    (offset-aware, zero Python objects) and reshapes to the
    (batch, dim) matrix the BLAS matmul wants. Same partial-top-2k
    candidate-selection contract and the same JVM-fold rescore tail
    as :func:`ann_topk_vectorized` (see :func:`_exact_rescore`), so
    it carries the exact bruteforce oracle — only the deserialization
    boundary changes, which is exactly the knob mapInArrow exists
    for."""
    import numpy as np
    import pyarrow as pa
    from collections.abc import Iterator

    e = _emb(spark, sf_dir)
    q_rows = (
        e.where(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()  # _N_QUERIES rows — the broadcast query set
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qm = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, qm))
    k = _TOP_K

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids, queries = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            emb = batch.column(1)
            # flatten() is offset-aware: sliced batches still yield
            # exactly this batch's values, contiguously.
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            m = flat.astype(np.float64).reshape(batch.num_rows, -1)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ queries.T  # (batch, n_queries)
            nids = batch.column(0).to_numpy(zero_copy_only=False)
            out_q, idx_all = [], []
            for qi, qid in enumerate(ids):
                col = sims[:, qi]
                cand_idx = np.nonzero(nids != qid)[0]
                # deterministic tie order (score desc, id asc),
                # margin*k safety margin — selection only, scores
                # discarded (see _ANN_MARGIN_FACTOR)
                order = np.lexsort((nids[cand_idx], -col[cand_idx]))
                top = cand_idx[order][: _ANN_MARGIN_FACTOR * k]
                out_q.extend([qid] * len(top))
                idx_all.extend(top)
            take = pa.array(np.asarray(idx_all, dtype=np.int64))
            # carry the RAW float32 embeddings of the selected
            # candidates out of the scoring stage (Arrow take — no
            # value conversion): the rescore then folds over exactly
            # the bytes a second corpus scan would deliver, without
            # paying that scan (r10 one-boot probe: the rescore's
            # corpus re-read was the post-r9 drift on this query).
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, pa.int64()),
                    batch.column(0).take(take),
                    emb.take(take),
                ],
                names=["query_id", "neighbor_id", "ec"],
            )

    partial = e.select("vec_id", "embedding").mapInArrow(
        score, "query_id long, neighbor_id long, ec array<float>"
    )
    return _exact_rescore_carried(e, partial, k)


# ---------------------------------------------------------------- C69
_MINE_ORACLE = f"""
WITH q AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {_N_QUERIES}
), scored AS (
  SELECT q.vec_id AS anchor_id, e.vec_id AS cand_id,
    e.label = q.label AS same_label,
    {_SQL_DOT.format(a="q.embedding", b="e.embedding")}
      / ({_SQL_NORM.format(a="q.embedding")}
         * {_SQL_NORM.format(a="e.embedding")}) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
), ranked AS (
  SELECT anchor_id, cand_id, same_label, cosine,
    ROW_NUMBER() OVER (PARTITION BY anchor_id, same_label
      ORDER BY cosine DESC, cand_id) AS rn
  FROM scored
)
SELECT anchor_id,
  CASE WHEN same_label THEN 'positive' ELSE 'hard_negative' END AS role,
  cand_id, CAST(ROUND(cosine, 6) AS DOUBLE) AS cosine
FROM ranked WHERE rn = 1
"""


@register("hard_negative_mining", oracle=_MINE_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining: for each anchor (the query
    set), the single most similar SAME-label vector (the positive)
    and the most similar DIFFERENT-label vector (the hard negative —
    the near-boundary example that actually moves a contrastive
    loss; random negatives are trivially easy). One broadcast of the
    anchor set against one corpus scan, per-(anchor, role) argmax via
    max_by — no window over the corpus, no pairwise corpus join. At
    100 TB this is exactly the brute-force scorer's shape; swap the
    scan for the IVF route when the anchor set grows."""
    e = _emb(spark, sf_dir)
    anchors = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("ea"),
        F.col("label").alias("la"),
    )
    cosine = _dot("ea", "embedding") / (_norm("ea") * _norm("embedding"))
    scored = (
        e.join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.when(F.col("label") == F.col("la"), "positive")
            .otherwise("hard_negative")
            .alias("role"),
            F.col("vec_id").alias("cand_id"),
            cosine.alias("cosine"),
        )
    )
    # argmax by (cosine, -cand_id): max_by struct ordering matches the
    # oracle's ORDER BY cosine DESC, cand_id ASC tiebreak.
    pick = F.max_by(
        F.struct("cand_id", "cosine"),
        F.struct(F.col("cosine"), (-F.col("cand_id")).alias("_t")),
    )
    return (
        scored.groupBy("anchor_id", "role")
        .agg(pick.alias("_p"))
        .select(
            "anchor_id",
            "role",
            F.col("_p.cand_id").alias("cand_id"),
            F.round("_p.cosine", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------- C72
_PCA_TOP = 8
_PCA_DIM = 64  # embeddings.parquet dim (asserted in the operator)


def _pca_oracle(d: int = _PCA_DIM, top: int = _PCA_TOP, iters: int = 250, sq: int = 3) -> str:
    """DuckDB replay for :func:`embedding_pca_variance` (r10 verdict
    item 3 — the last eigensolver core without an oracle).

    The Spark side keeps LAPACK ``eigvalsh``; the oracle runs a
    fixed-iteration power iteration with deflation on the SAME float64
    covariance. Hash-exactness does not come from bit-identical
    arithmetic but from BOTH sides converging to the true spectrum far
    inside the 6 dp output rounding: iterating on B = A^(2^sq) = A^8
    gives a per-iteration contraction of (lambda2/lambda1)^8, so after
    250 iterations the subspace angle is <= gap^(-1)-free 0.997^4000
    ~ 6e-6 even for the near-degenerate tail this synthetic corpus has
    (measured gaps ~0.3% at sf0.1), the Rayleigh value error is
    O(gap * angle^2) ~ 1e-12, and the deflation perturbation
    lambda*angle^2 ~ 1e-12 — seven orders below the 5e-7 rounding
    margin (verified exact-6dp at sf0.001/0.01/0.1). The float64 SUMs
    here and numpy's blocked Gram folds differ by ~1e-15 on the
    covariance entries; Rayleigh values are second-order insensitive
    to that, same class as the shipped kmeans-oracle precedent.

    Cost notes: ``list_inner_product`` is DuckDB-native (a 4.65 s ->
    0.11 s per-stage measured drop vs zip/transform lambda folds), the
    matvec result is bound ONCE per iteration via a singleton-list
    transform (a bare ``list_transform(w, x -> x/sqrt(dot(w,w)))``
    with w inlined re-evaluates the matvec per element), and repeated
    squarings stage through nested subqueries because inlining doubles
    the expression text — and the computed work — per level (measured
    9 s -> 0.5 s end-to-end)."""
    dot = lambda a, b: f"list_inner_product({a}, {b})"  # noqa: E731
    mv = lambda m, v: f"list_transform({m}, row -> {dot('row', v)})"  # noqa: E731
    step = (
        f"list_transform([{mv('b', 'acc')}], w -> "
        f"list_transform(w, x -> x / sqrt({dot('w', 'w')})))[1]"
    )
    seed = "[" + ",".join(["0.125"] * d) + "]::DOUBLE[]"
    pad = f"list_transform(range({iters}), x -> CAST([] AS DOUBLE[]))"
    sqexpr = lambda m: (  # noqa: E731
        f"list_transform({m}, ri -> list_transform({m}, rj -> {dot('ri', 'rj')}))"
    )
    ctes = [
        f"""pairs AS (
  SELECT i.i AS i, j.j AS j,
    SUM(CAST(e.embedding[i.i+1] AS DOUBLE) * CAST(e.embedding[j.j+1] AS DOUBLE)) AS sxy
  FROM embeddings e, range(0,{d}) i(i), range(0,{d}) j(j) GROUP BY 1, 2)""",
        f"sums AS (SELECT t.i AS i, SUM(CAST(e.embedding[t.i+1] AS DOUBLE)) AS sx "
        f"FROM embeddings e, range(0,{d}) t(i) GROUP BY 1)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings)",
        """cov AS (SELECT p.i, p.j, p.sxy/nn.n - (si.sx/nn.n)*(sj.sx/nn.n) AS c
  FROM pairs p, nn, sums si, sums sj WHERE si.i = p.i AND sj.i = p.j)""",
        "tr AS (SELECT SUM(c) AS t FROM cov WHERE i = j)",
        "a0 AS (SELECT list(rw ORDER BY i) AS m FROM "
        "(SELECT i, list(c ORDER BY j) AS rw FROM cov GROUP BY i) GROUP BY ALL)",
    ]
    for k in range(top):
        inner = f"SELECT m, {sqexpr('m')} AS b FROM a{k}"
        for _ in range(sq - 1):
            inner = f"SELECT m, {sqexpr('b')} AS b FROM ({inner})"
        ctes.append(
            f"""v{k} AS (
  SELECT m, list_reduce([{seed}] || {pad}, (acc, x) -> {step}) AS v
  FROM ({inner}))"""
        )
        ctes.append(f"e{k} AS (SELECT m, v, {dot('v', mv('m', 'v'))} AS lam FROM v{k})")
        ctes.append(
            f"""a{k + 1} AS (
  SELECT list_transform(m, (row, i) -> list_transform(row, (x, j) -> x - lam * v[i] * v[j])) AS m, lam
  FROM e{k})"""
        )
    lams = " UNION ALL ".join(
        f"SELECT {k + 1} AS component, lam FROM a{k + 1}" for k in range(top)
    )
    ctes.append(f"lamt AS ({lams})")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(component AS INTEGER) AS component,
  ROUND(lam / tr.t, 6) AS explained_variance,
  ROUND(SUM(lam) OVER (ORDER BY component) / tr.t, 6) AS cumulative
FROM lamt, tr ORDER BY component"""
    )


@register("embedding_pca_variance", oracle=_pca_oracle())
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space spectrum diagnostic: explained-variance ratios
    of the top principal components — the "is this embedding space
    collapsed?" check (a healthy space spreads variance; a collapsed
    one concentrates it in a handful of directions, the classic
    representation-collapse signature).

    Scale shape: the d x d Gramian and the column means are computed
    as ONE Arrow-batched partial-sum pass (each task folds its rows
    into a d x d float64 accumulator — numpy outer products, nothing
    row-sized leaves the executor), the partials (d*d + d + 1 values
    per partition) are reduced driver-side, and the eigendecomposition
    runs on the driver where a 64x64 symmetric matrix belongs. Total
    shuffle traffic is partitions x d^2 doubles — independent of row
    count, the same shape at 100 TB."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    e = _emb(spark, sf_dir)
    dim = len(e.select("embedding").first()[0])
    # the registered oracle unrolls the deflation chain for _PCA_DIM;
    # a different corpus dim needs _pca_oracle(d=dim) regenerated
    assert dim == _PCA_DIM, f"oracle generated for d={_PCA_DIM}, corpus has d={dim}"

    def gram_fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = np.zeros((dim, dim), dtype=np.float64)
        s = np.zeros(dim, dtype=np.float64)
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            g += m.T @ m
            s += m.sum(axis=0)
            n += len(m)
        if n:
            yield pd.DataFrame(
                {"g": [g.ravel().tolist()], "s": [s.tolist()], "n": [n]}
            )

    parts = e.select("embedding").mapInPandas(
        gram_fold, "g array<double>, s array<double>, n long"
    ).collect()  # one row per non-empty partition: d^2+d+1 doubles each
    g = sum(np.array(p.g).reshape(dim, dim) for p in parts)
    s = sum(np.array(p.s) for p in parts)
    n = sum(p.n for p in parts)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    ratios = [float(v) / total for v in evals[:_PCA_TOP]]
    cum = np.cumsum(ratios)
    rows = [(i + 1, ratios[i], float(cum[i])) for i in range(len(ratios))]
    # round in the JVM (HALF_UP), not via python round() (half-even):
    # the DuckDB oracle's ROUND rounds away from zero on positives, and
    # every other hash-exact op pairs F.round with it
    raw = spark.createDataFrame(
        rows, "component int, explained_variance double, cumulative double"
    )
    return raw.select(
        "component",
        F.round("explained_variance", 6).alias("explained_variance"),
        F.round("cumulative", 6).alias("cumulative"),
    )


# ---------------------------------------------------------------- C77
def _recall_oracle() -> str:
    """DuckDB oracle for :func:`ann_recall_report`, composed from the
    three constituent strategies' own hash-exact oracles (the C107
    precedent): every leg — LSH, IVF, PQ — and the brute-force truth
    replay deterministically, so the recall REPORT itself is
    oracle-checked (r7 verdict item 5; rows-only 16 -> 15). Each leg's
    full query (with its own CTE chain) nests as a derived table;
    MATERIALIZED stops DuckDB re-expanding a leg per reference."""
    legs = [
        ("lsh", _LSH_BUCKETED_ORACLE),
        ("ivf", _IVF_ORACLE),
        ("pq", _pq_oracle()),
    ]
    leg_sql = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS method, query_id, neighbor_id "
        f"FROM ({sql}\n) _{name}"
        for name, sql in legs
    )
    return f"""
WITH exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({_ANN_ORACLE}
  ) _exact
),
legs AS MATERIALIZED (
{leg_sql}
),
per AS (
  SELECT m.method, e.query_id,
    COUNT(*) AS k,
    SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  -- enumerate the methods as literals, NOT from returned leg rows: a
  -- leg that finds zero candidates at some SF must still report
  -- recall 0 like the Spark side, not vanish (r8 review)
  FROM (VALUES {", ".join(f"('{name}')" for name, _ in legs)}) m(method)
  CROSS JOIN exact e
  LEFT JOIN legs l
    ON l.method = m.method AND l.query_id = e.query_id
       AND l.neighbor_id = e.neighbor_id
  GROUP BY m.method, e.query_id
)
SELECT method,
  COUNT(*) AS n_queries,
  {sql_round_rat('SUM(n_hits)', 'SUM(k)', 4)} AS recall_at_k,
  {sql_round_rat('MIN(n_hits * 10000 // k)', '10000', 4)}
    AS worst_query_recall
FROM per GROUP BY method
"""


@register("ann_recall_report", oracle=_recall_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which ANN path can you trust at this configuration: recall@k
    of every approximate strategy (LSH, IVF, PQ) against the exact
    brute-force top-k, per query and summarized per method — the
    go/no-go report an embedding-retrieval rollout reads before
    swapping the exact scorer out. The same measurement the pytest
    recall gates make, surfaced as a queryable diagnostic so
    operators can re-run it when dim/corpus/config change.

    Cost is the sum of the constituent strategies (each one scan);
    the comparison itself joins k-row-per-query frames."""
    exact = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    methods = {
        "lsh": ann_lsh_bucketed,
        "ivf": ann_ivf,
        "pq": ann_topk_pq,
    }
    per_method = []
    for name, fn in methods.items():
        approx = fn(spark, sf_dir).select(
            "query_id", F.col("neighbor_id").alias("got_id")
        )
        hits = exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (F.col("true_id") == F.col("got_id")),
            "left",
        ).select(exact.query_id, F.col("got_id").isNotNull().alias("hit"))
        per_method.append(
            hits.groupBy("query_id").agg(
                F.lit(name).alias("method"),
                F.count("*").alias("k"),
                F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_hits"),
            )
        )
    union = per_method[0]
    for m in per_method[1:]:
        union = union.unionByName(m)
    return (
        union.groupBy("method")
        .agg(
            F.count("*").alias("n_queries"),
            # integer-exact recalls (round_rat). worst-query: min of
            # per-row rationals via floor-scaled integer ranks
            # (min(floor(h*1e4/k)) picks the same row as min(h/k) up
            # to the 4dp resolution the output carries), then the
            # identity /1e4 through round_rat keeps both engines on
            # the same integer
            round_rat("sum(n_hits)", "sum(k)", 4).alias("recall_at_k"),
            round_rat(
                "min(n_hits * 10000 DIV k)", "10000", 4
            ).alias("worst_query_recall"),
        )
    )


# ---------------------------------------------------------------- C81
_OUT_Z = 2.5

_OUTLIER_ORACLE = f"""
WITH ex AS (
  SELECT label, vec_id,
    unnest(embedding) AS x,
    unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos,
    CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
      / COUNT(*) AS c
  FROM ex GROUP BY label, pos
), d AS (
  SELECT ex.vec_id, ex.label,
    ROUND(SUM(POW(CAST(ex.x AS DOUBLE) - cent.c, 2)), 6) AS d2
  FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
  GROUP BY ex.vec_id, ex.label
), mom AS (
  SELECT label,
    CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
    SQRT(GREATEST(
      CAST(SUM(CAST(d2 AS DECIMAL(18,6)) * CAST(d2 AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*)
      - POW(CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 2),
      1e-12)) AS sigma
  FROM d GROUP BY label
)
SELECT d.vec_id, d.label, d.d2,
  ROUND((d.d2 - mom.mu) / mom.sigma, 4) AS z
FROM d JOIN mom ON d.label = mom.label
WHERE (d.d2 - mom.mu) / mom.sigma > {_OUT_Z}
"""


@register("embedding_outliers", oracle=_OUTLIER_ORACLE)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scrub: per-label centroid, squared
    distance per vector, z-score of that distance within the label,
    flag z > {_OUT_Z} — the "drop mislabeled / corrupted vectors"
    pass an embedding-curation pipeline runs before ANN indexing or
    semantic dedup (far-from-every-centroid points poison both).

    Plan shape: one posexplode agg for centroids (per-dimension
    decimal means — the kmeans recompute idiom, exact across
    engines), centroids broadcast back for one distance fold per
    row, then per-label decimal moments of the 6dp-rounded distances
    broadcast for the z-cut. Everything is map-side-combinable or
    broadcast — no windows, no sorts, shuffle traffic is centroid/
    moment-sized (labels x dims), not corpus-sized."""
    e = _emb(spark, sf_dir).select("vec_id", "label", "embedding")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast("decimal(18,9)")).cast("double")
                / F.count("*")
            ).alias("c")
        )
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, c))), s -> s.c)"
            ).alias("ce")
        )
    )
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(embedding, ce,"
            " (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),"
            " 0.0d, (acc, v) -> acc + v)"
        ),
        6,
    )
    dist = e.join(F.broadcast(cent), "label").select("vec_id", "label", d2.alias("d2"))
    dd = F.col("d2").cast("decimal(18,6)")
    mom = dist.groupBy("label").agg(
        (F.sum(dd).cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(dd * dd).cast("double") / F.count("*")
                - F.pow(F.sum(dd).cast("double") / F.count("*"), 2),
                F.lit(1e-12),
            )
        ).alias("sigma"),
    )
    z = (F.col("d2") - F.col("mu")) / F.col("sigma")
    return (
        dist.join(F.broadcast(mom), "label")
        .where(z > _OUT_Z)
        .select("vec_id", "label", "d2", F.round(z, 4).alias("z"))
    )


# ---------------------------------------------------------------- C85
_SWEEP_TAUS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

_SWEEP_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
    {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
      / ({_SQL_NORM.format(a="a.embedding")} * {_SQL_NORM.format(a="b.embedding")}) AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
      / ({_SQL_NORM.format(a="a.embedding")} * {_SQL_NORM.format(a="b.embedding")})
      >= {min(_SWEEP_TAUS)}
), taus AS (
  SELECT UNNEST({list(_SWEEP_TAUS)}) AS tau
)
SELECT t.tau,
  CAST(COUNT(p.a_id) AS BIGINT) AS n_pairs,
  CAST(COUNT(DISTINCT p.b_id) AS BIGINT) AS n_docs_dropped
FROM taus t LEFT JOIN pairs p ON p.cosine >= t.tau
GROUP BY t.tau
"""


@register("dedup_threshold_sweep", oracle=_SWEEP_ORACLE)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tau-sensitivity curve for embedding near-dup removal: pair
    count and would-be-dropped doc count at every candidate cosine
    threshold, from ONE pair-generation pass (pairs are computed once
    at the loosest tau; each row of the tiny tau table counts the
    pairs at or above it). This is the dial-setting diagnostic a
    curation team runs before committing to a dedup threshold —
    without it, every tau candidate re-pays the blocked pair join.

    The pair side reuses the label-blocked guarded path (oversized
    blocks k-means sub-blocked); the tau table is 7 rows, broadcast,
    so the sweep costs one extra narrow aggregation over the pair
    set regardless of how many thresholds are swept."""
    pairs = near_dup_embedding_frame(_emb(spark, sf_dir))
    taus = spark.createDataFrame([(t,) for t in _SWEEP_TAUS], "tau double")
    return (
        F.broadcast(taus)
        .join(pairs, pairs.cosine >= taus.tau, "left")
        .groupBy("tau")
        .agg(
            F.count("a_id").cast("bigint").alias("n_pairs"),
            F.countDistinct("b_id").cast("bigint").alias("n_docs_dropped"),
        )
    )


# ---------------------------------------------------------------- C86
def ivf_index_build(spark: SparkSession, sf_dir: str, index_dir: str) -> dict:
    """Materialize the IVF index as a LAKE ARTIFACT: the coarse
    quantizer (centroids) and the cell assignment written as parquet
    PARTITIONED BY cell — ann_ivf's "write-once ETL artifact at real
    scale", made literal. Because members are hive-partitioned on
    cell, a probe-limited query prunes to its probed cells at the
    FILE level (Spark partition pruning), so the serving scan reads
    ~n*probe/cells bytes — the property that makes a 100 TB vector
    corpus servable without an external index server.

    Returns {cells, vectors} for the caller's audit."""
    e = _emb(spark, sf_dir)
    cents = (
        e.orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    cos_c = _dot("embedding", "ce") / (_norm("embedding") * _norm("ce"))
    assign = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cent_id", cos_c.alias("c_cos"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("nid"))
            ).alias("cell"),
            F.first("embedding").alias("embedding"),
        )
    )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    (
        assign.select("vec_id", "embedding", _norm("embedding").alias("nrm"), "cell")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/members")
    )
    return {
        "cells": _N_CENTROIDS,
        "vectors": spark.read.parquet(f"{index_dir}/members").count(),
    }


def ivf_index_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = _TOP_K,
    probes: int = _N_PROBE,
) -> DataFrame:
    """Serve top-k cosine neighbors from a persisted IVF index (built
    by :func:`ivf_index_build`, possibly in another session — the
    index is self-contained on disk). The probed-cell list is pushed
    into the members scan as a PARTITION filter (cell IN (...)), so
    only probe/cells of the index files are read; the query set is
    broadcast and each probed cell is exact-scored with the stored
    norms.

    ``queries`` needs (query_id, embedding)."""
    cents = spark.read.parquet(f"{index_dir}/centroids")
    probe = (
        queries.select(F.col("query_id"), F.col("embedding").alias("eq"))
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id", "eq",
            F.col("cent_id"),
            (_dot("eq", "ce") / (_norm("eq") * _norm("ce"))).alias("c_cos"),
        )
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("c_cos"), "cent_id")
            ),
        )
        .where(F.col("probe_rank") <= probes)
        .select("query_id", "eq", _norm("eq").alias("nq"), F.col("cent_id").alias("cell"))
    )
    # Collect the (tiny: queries x probes) probed-cell set so it lands
    # in the members scan as a partition PRUNING predicate, not a
    # post-scan join filter — this is what turns the read into
    # probe/cells of the index.
    cells = sorted({r["cell"] for r in probe.select("cell").distinct().collect()})
    members = spark.read.parquet(f"{index_dir}/members").where(F.col("cell").isin(cells))
    cosine = _dot("eq", "embedding") / (F.col("nq") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        F.broadcast(probe)
        .join(members.withColumnRenamed("vec_id", "neighbor_id"), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------- C94
_ABLATION_DIMS = (8, 16, 32, 64)

_ABL_SLICE_DOT = (
    "list_sum(list_transform(list_zip(list_slice({a}, 1, dim), list_slice({b}, 1, dim)),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)
_ABL_SLICE_NORM = (
    "sqrt(list_sum(list_transform(list_slice({a}, 1, dim),"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)

_ABLATION_ORACLE = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id, embedding FROM embeddings),
dims AS (SELECT UNNEST({list(_ABLATION_DIMS)}) AS dim),
sc AS (
  SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {_ABL_SLICE_DOT.format(a="q.embedding", b="c.embedding")}
      / ({_ABL_SLICE_NORM.format(a="q.embedding")}
         * {_ABL_SLICE_NORM.format(a="c.embedding")}) AS cos_d,
    {_SQL_DOT.format(a="q.embedding", b="c.embedding")}
      / ({_SQL_NORM.format(a="q.embedding")}
         * {_SQL_NORM.format(a="c.embedding")}) AS cos_full
  FROM q JOIN c ON c.vec_id <> q.vec_id CROSS JOIN dims d
), pick AS (
  SELECT dim, query_id, neighbor_id, cos_full,
    ROW_NUMBER() OVER (PARTITION BY dim, query_id
      ORDER BY cos_d DESC, neighbor_id) AS rn
  FROM sc
), best AS (SELECT * FROM pick WHERE rn = 1),
fullpick AS (
  SELECT query_id, neighbor_id AS full_id, cos_full AS full_cos
  FROM best WHERE dim = 64
)
SELECT CAST(b.dim AS INT) AS dim,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST(ROUND(AVG(CASE WHEN b.neighbor_id = f.full_id THEN 1.0 ELSE 0.0 END), 6)
    AS DOUBLE) AS top1_agreement,
  CAST(ROUND(AVG(b.cos_full), 6) AS DOUBLE) AS mean_pick_cosine,
  CAST(ROUND(AVG(f.full_cos), 6) AS DOUBLE) AS mean_best_cosine
FROM best b JOIN fullpick f USING (query_id)
GROUP BY b.dim
"""


@register("embedding_dim_ablation", oracle=_ABLATION_ORACLE)
def embedding_dim_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation ablation (Kusupati et al.
    2022, arXiv:2205.13147): for each prefix dimensionality d, how
    often does exact top-1 retrieval over the FIRST d components agree
    with full-dimension retrieval, and how much full-dim cosine does
    the truncated pick give up? The d=64 row is a built-in control
    (agreement exactly 1.0). This is the measurement that decides
    whether an index (IVF/PQ/brute force) can run at d/4 cost — on a
    real corpus the answer gates a 4x storage/compute saving.

    Scale: one corpus scan. The query set broadcasts (bounded, like
    every ANN path here). Per-vector prefix NORMS are hoisted out of
    the cross join (computed once per row side, not once per pair —
    same sequential sums as the oracle's inline norms, so values are
    bit-identical), leaving only the |dims| prefix dots per pair; the
    d=64 cosine doubles as cos_full, so no separate full-dim pass.
    One max_by aggregation per (dim, query) — no windows over the
    corpus, shuffle carries |dims| x |queries| rows. The corpus side
    fans out (``catalog.spread``: the |dims| prefix dots per pair
    are the cost), and the |dims| x |queries| pick frame is
    pinned — it feeds BOTH the dim=64 reference branch and the
    agreement join, and unpinned Spark executed the whole scoring
    pass twice (profiled: two ~1.3 s single-task stages per call,
    guide §7.2 duplicated subtrees)."""
    norms = F.expr(
        "transform(array({dims}), d -> sqrt(aggregate("
        "transform(slice(embedding, 1, d),"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0.0d, (acc, v) -> acc + v)))".format(
            dims=", ".join(str(d) for d in _ABLATION_DIMS)
        )
    )
    e = spread(
        load_tables(spark, sf_dir, ("embeddings",))["embeddings"], sf_dir, "embeddings"
    ).select("vec_id", "embedding", norms.alias("pnorm"))
    q = _emb(spark, sf_dir).where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norms.alias("qn"),
    )
    dim_idx = {d: i + 1 for i, d in enumerate(_ABLATION_DIMS)}
    cos_structs = ", ".join(
        f"named_struct('dim', {d}, 'cos_d',"
        f" aggregate(zip_with(slice(qe, 1, {d}), slice(ce, 1, {d}),"
        f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" 0.0d, (acc, v) -> acc + v) / (qn[{dim_idx[d] - 1}] * cn[{dim_idx[d] - 1}]))"
        for d in _ABLATION_DIMS
    )
    full_pos = len(_ABLATION_DIMS) - 1  # 64 is last in _ABLATION_DIMS
    scored = (
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ce"),
            F.col("pnorm").alias("cn"),
        )
        .crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(f"array({cos_structs})").alias("_cs"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(f"_cs[{full_pos}].cos_d").alias("cos_full"),
            F.explode("_cs").alias("c"),
        )
        .select(
            F.col("c.dim").alias("dim"),
            "query_id",
            "neighbor_id",
            F.col("c.cos_d").alias("cos_d"),
            "cos_full",
        )
    )
    pick = pin(
        scored.groupBy("dim", "query_id").agg(
            F.max_by(
                F.struct("neighbor_id", "cos_full"),
                F.struct(F.col("cos_d"), (-F.col("neighbor_id")).alias("nid")),
            ).alias("p")
        ).select(
            "dim",
            "query_id",
            F.col("p.neighbor_id").alias("neighbor_id"),
            F.col("p.cos_full").alias("cos_full"),
        )
    )
    fullpick = pick.where(F.col("dim") == 64).select(
        "query_id",
        F.col("neighbor_id").alias("full_id"),
        F.col("cos_full").alias("full_cos"),
    )
    return (
        pick.join(fullpick, "query_id")
        .groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.round(
                F.avg(
                    F.when(
                        F.col("neighbor_id") == F.col("full_id"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("top1_agreement"),
            F.round(F.avg("cos_full"), 6).alias("mean_pick_cosine"),
            F.round(F.avg("full_cos"), 6).alias("mean_best_cosine"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n_queries",
            "top1_agreement",
            "mean_pick_cosine",
            "mean_best_cosine",
        )
    )


# ---------------------------------------------------------------- C100
_LSH_MULTIPROBE_ORACLE = f"""
WITH {_lsh_bucket_cte()},
qp AS (
  SELECT vec_id AS query_id, tbl,
    UNNEST([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
  FROM b WHERE vec_id < {_N_QUERIES}
),
cand AS (
  SELECT DISTINCT qp.query_id, c.vec_id AS neighbor_id
  FROM qp JOIN b c ON c.tbl = qp.tbl AND c.bucket = qp.bucket
  WHERE c.vec_id <> qp.query_id
),
{_LSH_SCORE_SQL}
"""


@register("ann_lsh_multiprobe", oracle=_LSH_MULTIPROBE_ORACLE)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB 2007): each query probes
    its own bucket PLUS every bucket at Hamming distance 1 (one
    flipped sign bit) in each table. A near neighbor that lands just
    across one hyperplane — the dominant miss mode of sign-bit LSH —
    is recovered without adding tables, so recall rises at the same
    index size; candidates grow only by the probe factor
    (1 + planes per table), not by corpus size. The candidate set is
    a strict superset of ``ann_lsh_bucketed``'s, so recall@k is
    provably >= the single-probe path on identical data (the recall
    test asserts exactly that).

    Scale: the corpus is bucketed ONCE per table (same expression as
    the single-probe path — at real scale a write-once artifact, see
    D19 for the persisted-index pattern); only the bounded query side
    explodes its probe list. Exact scoring touches candidates only."""
    e = _emb(spark, sf_dir)
    dim = _emb_dim(e)
    tables = []
    for t in range(_N_TABLES):
        tables.append(
            e.select(
                "vec_id",
                F.lit(t).alias("tbl"),
                _bucket_expr("embedding", t, dim).alias("bucket"),
            )
        )
    bucketed = tables[0]
    for t in tables[1:]:
        bucketed = bucketed.unionAll(t)

    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(_N_PLANES)
        ],
    )
    q = (
        bucketed.where(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "tbl",
            F.explode(probes).alias("bucket"),
        )
    )
    c = bucketed.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket")
    cosine = _dot("eq", "ec") / (F.col("nq") * F.col("nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        F.broadcast(q)
        .join(c, ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .join(
            e.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("eq"),
                _norm("embedding").alias("nq"),
            ),
            "query_id",
        )
        .join(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ec"),
                _norm("embedding").alias("nc"),
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
    )


# ---------------------------------------------------------------- C104
_MMR_CAND = 25
_MMR_K = 8
# independent literals on BOTH sides (1.0 - 0.7 in double arithmetic
# is 0.30000000000000004, so the complement must never be derived)
_MMR_LAM = 0.7
_MMR_MU = 0.3


def _mmr_oracle(cand: int = _MMR_CAND, k: int = _MMR_K) -> str:
    """Unrolled greedy-MMR oracle: one CTE trio (remaining, max-sim
    to selected, argmax pick) per selection step, mirroring the Spark
    iteration's float expressions exactly."""
    lam = f"CAST({_MMR_LAM} AS DOUBLE)"
    mu = f"CAST({_MMR_MU} AS DOUBLE)"
    dot_qc = _SQL_DOT.format(a="q.embedding", b="c.embedding")
    dot_rs = _SQL_DOT.format(a="r.emb", b="s.emb")
    nrm = _SQL_NORM.format(a="embedding")
    ctes = [
        f"q AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings"
        f" WHERE vec_id < {_N_QUERIES})",
        f"c AS (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings)",
        f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.embedding AS emb, c.nrm AS nrm,
         {dot_qc} / (q.nrm * c.nrm) AS rel
  FROM q JOIN c ON c.vec_id <> q.vec_id
)""",
        f"""cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, emb, nrm, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY rel DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= {cand}
)""",
        f"""sel1 AS (
  SELECT query_id, neighbor_id, emb, nrm, rel, {lam} * rel AS score,
         1 AS mmr_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY {lam} * rel DESC, neighbor_id) AS rn2
    FROM cand
  ) WHERE rn2 = 1
)""",
        "selall1 AS MATERIALIZED (SELECT * FROM sel1)",
    ]
    for i in range(2, k + 1):
        ctes.append(f"""rem{i} AS (
  SELECT cd.* FROM cand cd
  LEFT JOIN selall{i - 1} s
    ON s.query_id = cd.query_id AND s.neighbor_id = cd.neighbor_id
  WHERE s.neighbor_id IS NULL
)""")
        ctes.append(f"""ms{i} AS (
  SELECT r.query_id, r.neighbor_id,
         MAX({dot_rs} / (r.nrm * s.nrm)) AS maxsim
  FROM rem{i} r JOIN selall{i - 1} s ON s.query_id = r.query_id
  GROUP BY r.query_id, r.neighbor_id
)""")
        ctes.append(f"""sel{i} AS (
  SELECT query_id, neighbor_id, emb, nrm, rel, score, {i} AS mmr_rank
  FROM (
    SELECT r.query_id, r.neighbor_id, r.emb, r.nrm, r.rel,
           {lam} * r.rel - {mu} * m.maxsim AS score,
           ROW_NUMBER() OVER (PARTITION BY r.query_id
               ORDER BY {lam} * r.rel - {mu} * m.maxsim DESC,
                        r.neighbor_id) AS rn3
    FROM rem{i} r JOIN ms{i} m
      ON m.query_id = r.query_id AND m.neighbor_id = r.neighbor_id
  ) WHERE rn3 = 1
)""")
        ctes.append(
            f"selall{i} AS MATERIALIZED (SELECT * FROM selall{i - 1}"
            f" UNION ALL SELECT * FROM sel{i})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
       ROUND(rel, 6) AS relevance, ROUND(score, 6) AS mmr_score
FROM selall{k}
ORDER BY query_id, mmr_rank
"""
    )


_MMR_ORACLE = _mmr_oracle()


@register("mmr_diversify", oracle=_MMR_ORACLE)
def mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of the exact top
    candidates: greedily select k results per query maximizing
    lam * relevance - mu * (max similarity to already-selected) —
    the diversification step between retrieval and a RAG context
    window, so near-duplicate passages don't crowd out coverage.

    r11 plan shape: the per-query candidate set is bounded (25), so
    the whole greedy recursion is PER-QUERY-LOCAL once the pairwise
    candidate similarities exist. One join builds the 25 x 25
    similarity matrix IN THE JVM (each pair computed once — the old
    k-step loop re-joined the embeddings and recomputed sims every
    pass), two map-side-combinable aggregations shape it into one row
    per query, and the k greedy picks run as a single in-row fold —
    replacing 7 x (anti-join + sim join + window + checkpoint) with
    zero additional shuffles. Embeddings never leave the matrix join.
    Float parity: sims/scores use the identical expressions
    (dot/(nrm*nrm), lam*rel - mu*maxsim; dot and norm products are
    commutatively exact), argmax ties resolve by neighbor_id via
    struct ordering on (-score, neighbor_id) — negation is exact, so
    the pick sequence is bit-identical. DuckDB oracle: the same
    greedy unrolled step-by-step (hash-exact)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        _norm("embedding").alias("nq"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb"),
        _norm("embedding").alias("nrm"),
    )
    rel = _dot("eq", "emb") / (F.col("nq") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "neighbor_id")
    cand = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "emb", "nrm", rel.alias("rel"))
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= _MMR_CAND)
        .transform(pin)
    )
    sim = _dot("emb", "semb") / (F.col("nrm") * F.col("snrm"))
    pairs = cand.join(
        cand.select(
            F.col("query_id").alias("sq"),
            F.col("pos").alias("spos"),
            F.col("emb").alias("semb"),
            F.col("nrm").alias("snrm"),
        ),
        F.col("query_id") == F.col("sq"),
    ).select("query_id", "pos", "neighbor_id", "rel", "spos", sim.alias("sim"))
    by_cand = pairs.groupBy("query_id", "pos").agg(
        F.first("neighbor_id").alias("nid"),
        F.first("rel").alias("rel"),
        F.expr("transform(array_sort(collect_list(struct(spos, sim))), x -> x.sim)").alias(
            "simrow"
        ),
    )
    by_query = by_cand.groupBy("query_id").agg(
        F.expr(
            "array_sort(collect_list(struct(pos, nid, rel, simrow)))"
        ).alias("cands")
    )
    lam = f"CAST({_MMR_LAM} AS DOUBLE)"
    mu = f"CAST({_MMR_MU} AS DOUBLE)"
    # k greedy steps as one fold: sel accumulates struct(p, score);
    # each step argmins struct(-score, neighbor_id) over the
    # not-yet-selected candidates (array_min skips the NULLed-out
    # selected slots). The transform-over-singleton names the picked
    # struct once (SQL lambdas have no let-binding).
    greedy = F.expr(
        f"""aggregate(
  sequence(1, LEAST({_MMR_K}, size(cands))),
  CAST(array() AS ARRAY<STRUCT<p: INT, score: DOUBLE>>),
  (sel, step) -> concat(sel,
    transform(
      array(array_min(transform(cands, cd ->
        IF(exists(sel, x -> x.p = cd.pos),
           CAST(NULL AS STRUCT<ns: DOUBLE, id: BIGINT, p: INT>),
           struct(
             -(CASE WHEN size(sel) = 0 THEN {lam} * cd.rel
                    ELSE {lam} * cd.rel - {mu} * array_max(
                      transform(sel, s -> element_at(cd.simrow, s.p)))
               END) AS ns,
             cd.nid AS id,
             cd.pos AS p))))),
      pk -> struct(pk.p AS p, -pk.ns AS score))))"""
    )
    return (
        by_query.select(
            "query_id",
            "cands",
            F.explode(
                F.transform(
                    greedy,
                    lambda x, i: F.struct(
                        x["p"].alias("p"),
                        (i + 1).alias("mmr_rank"),
                        x["score"].alias("score"),
                    ),
                )
            ).alias("s"),
        )
        .select(
            "query_id",
            F.expr("filter(cands, cd -> cd.pos = s.p)[0]").alias("cd"),
            "s",
        )
        .select(
            "query_id",
            F.col("cd.nid").alias("neighbor_id"),
            F.col("s.mmr_rank").cast("int").alias("mmr_rank"),
            F.round(F.col("cd.rel"), 6).alias("relevance"),
            F.round(F.col("s.score"), 6).alias("mmr_score"),
        )
        .orderBy("query_id", "mmr_rank")
    )


# ---------------------------------------------------------------- C107
_IVFPQ_RERANK = 15


def _ivfpq_oracle() -> str:
    """DuckDB oracle for :func:`ann_ivf_pq`: the PQ chain
    (``_pq_ctes``) composed with the IVF assign/probe CTEs, the
    PQ-scored shortlist (top ``_IVFPQ_RERANK`` per query, ties to
    lowest neighbor), and the exact-cosine rerank — the entire
    two-stage serving pipeline is deterministic, so the final top-k
    replays hash-exact."""
    ctes = _pq_ctes(_PQ_M, _PQ_SUBDIM, _PQ_K, _PQ_ITERS)
    ctes.append(f"""cents AS MATERIALIZED (
  SELECT vec_id AS cent_id, embedding AS ce
  FROM embeddings ORDER BY vec_id LIMIT {_N_CENTROIDS}
)""")
    ctes.append(f"""cell_assign AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        {_SQL_DOT.format(a="e.embedding", b="c.ce")}
          / ({_SQL_NORM.format(a="e.embedding")}
             * {_SQL_NORM.format(a="c.ce")}) DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
)""")
    ctes.append(f"""qprobes AS MATERIALIZED (
  SELECT query_id, eq, cell FROM (
    SELECT q.vec_id AS query_id, q.embedding AS eq, c.cent_id AS cell,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        {_SQL_DOT.format(a="q.embedding", b="c.ce")}
          / ({_SQL_NORM.format(a="q.embedding")}
             * {_SQL_NORM.format(a="c.ce")}) DESC, c.cent_id) AS rn
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id < {_N_QUERIES}
  ) WHERE rn <= {_N_PROBE}
)""")
    ctes.append(f"""shortlist AS MATERIALIZED (
  SELECT query_id, eq, neighbor_id FROM (
    SELECT p.query_id, p.eq, r.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
        {_SQL_DOT.format(a="p.eq", b="r.re")}
          / ({_SQL_NORM.format(a="p.eq")}
             * {_SQL_NORM.format(a="r.re")}) DESC, r.vec_id) AS r1
    FROM qprobes p
    JOIN cell_assign a ON a.cell = p.cell
    JOIN recon r ON r.vec_id = a.vec_id
    WHERE a.vec_id <> p.query_id
  ) WHERE r1 <= {_IVFPQ_RERANK}
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT s.query_id, s.neighbor_id,
    {_SQL_DOT.format(a="s.eq", b="t.embedding")}
      / ({_SQL_NORM.format(a="s.eq")}
         * {_SQL_NORM.format(a="t.embedding")}) AS cosine,
    ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
      {_SQL_DOT.format(a="s.eq", b="t.embedding")}
        / ({_SQL_NORM.format(a="s.eq")}
           * {_SQL_NORM.format(a="t.embedding")}) DESC, s.neighbor_id)
      AS rank
  FROM shortlist s JOIN embeddings t ON t.vec_id = s.neighbor_id
) WHERE rank <= {_TOP_K}
"""
    )


@register("ann_ivf_pq", oracle=_ivfpq_oracle())
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS-style IVF-PQ pipeline, composed from the two
    pieces the repo already proves separately (C19 coarse cells, C54
    PQ codes): queries probe their _N_PROBE closest cells, members of
    those cells are scored CHEAPLY against their PQ reconstructions
    (asymmetric distance — the scan reads 4-bit codes, not floats),
    the top _IVFPQ_RERANK per query re-rank EXACTLY against the true
    vectors, and the final top-k is exact cosine over that shortlist.
    This is the production serving shape at 100 TB: IO ~ codes *
    probe/cells, float reads only for the shortlist. Recall@k vs
    brute force is pinned by test and must dominate plain PQ (the
    rerank can only help)."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    encoded = scratch("pq-encode", e, lambda: pq_encode(e, pq_codebooks(e)))
    cents = (
        e.orderBy("vec_id")
        .limit(_N_CENTROIDS)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    cos_c = _dot("embedding", "ce") / (_norm("embedding") * _norm("ce"))
    assign = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cent_id", cos_c.alias("c_cos"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("nid"))
            ).alias("cell")
        )
    )
    probes = (
        e.where(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"))
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id", "eq", "cent_id",
            (_dot("eq", "ce") / (_norm("eq") * _norm("ce"))).alias("c_cos"),
        )
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("c_cos"), "cent_id")
            ),
        )
        .where(F.col("probe_rank") <= _N_PROBE)
        .select("query_id", "eq", _norm("eq").alias("nq"), F.col("cent_id").alias("cell"))
    )
    # stage 1: PQ approximate scoring inside probed cells only
    members = encoded.join(assign, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("recon").alias("re"),
        "cell",
    ).select("neighbor_id", "re", _norm("re").alias("nr"), "cell")
    approx = _dot("eq", "re") / (F.col("nq") * F.col("nr"))
    w1 = Window.partitionBy("query_id").orderBy(F.desc("approx_cosine"), "neighbor_id")
    shortlist = (
        F.broadcast(probes)
        .join(members, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "eq", "nq", "neighbor_id", approx.alias("approx_cosine"))
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= _IVFPQ_RERANK)
    )
    # stage 2: exact rerank of the shortlist against true vectors
    true_vecs = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ec"),
        _norm("embedding").alias("nc"),
    )
    exact = _dot("eq", "ec") / (F.col("nq") * F.col("nc"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        shortlist.join(true_vecs, "neighbor_id")
        .select("query_id", "neighbor_id", exact.alias("cosine"))
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= _TOP_K)
    )


# ---------------------------------------------------------------- C129
# NN-Descent kNN-graph construction (Dong et al., WWW 2011): start
# from a deterministic PSEUDO-RANDOM graph (md5-derived — a ring init
# would only diffuse K ids per round, taking O(n/K) rounds to mix),
# then repeatedly propose each node's
# neighbors-of-neighbors as candidates — "a neighbor of a neighbor is
# likely a neighbor". Fixed iteration count so the computation (and
# its oracle) is a finite dataflow, like the unrolled-Lloyd kmeans.
# K=10 x 3 rounds measures 0.79 recall@10 on the synthetic corpus —
# in line with the paper's near-random-data regime (recall scales
# with K^2/intrinsic-dim; the corpus has almost no cluster structure:
# mean true-neighbor cosine 0.32 vs 0.0004 background).
_KNN_K = 10
_KNN_ITERS = 3


def _knn_ctes() -> tuple[list[str], str]:
    """The NN-Descent dataflow as a reusable CTE chain: returns
    (cte_list, final_edge_cte_name) so C130's graph search (and any
    future consumer) composes the SAME graph instead of a drifting
    copy — the C107 IVF+PQ composition precedent."""
    dot = _SQL_DOT.format(a="a.embedding", b="b.embedding")
    # md5-derived init partner (the sampler convention): a Horner hash
    # of the id string is affine in the trailing digits, which would
    # seed every node with a CONSECUTIVE-ID clump instead of a spread.
    seed = (
        "CAST(('0x' || SUBSTR(md5('knn|' || CAST(ev.vec_id AS VARCHAR)"
        " || '|' || CAST(j AS VARCHAR)), 1, 12)) AS BIGINT)"
    )
    ctes = [
        f"""ev AS MATERIALIZED (
  SELECT vec_id, embedding, {_SQL_NORM.format(a="embedding")} AS nrm
  FROM embeddings
), nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM ev),
ip AS MATERIALIZED (
  SELECT DISTINCT ev.vec_id AS src, CAST({seed} % nn.n AS BIGINT) AS dst
  FROM ev, nn, unnest(generate_series(1, {_KNN_K})) t(j)
  WHERE {seed} % nn.n <> ev.vec_id
),
e0a AS MATERIALIZED (
  SELECT p.src, p.dst, {dot} / (a.nrm * b.nrm) AS cosine
  FROM ip p JOIN ev a ON a.vec_id = p.src JOIN ev b ON b.vec_id = p.dst
),
e0 AS MATERIALIZED (
  SELECT src, dst, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst)
      AS rk
    FROM e0a) WHERE rk <= {_KNN_K}
)"""
    ]
    for i in range(1, _KNN_ITERS + 1):
        ctes.append(f"""rev{i} AS MATERIALIZED (
  SELECT node, partner FROM (
    SELECT dst AS node, src AS partner,
      ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cosine DESC, src) AS rk
    FROM e{i - 1}) WHERE rk <= {_KNN_K}
),
b{i} AS MATERIALIZED (
  SELECT DISTINCT src AS node, dst AS partner FROM e{i - 1}
  UNION
  SELECT node, partner FROM rev{i}
),
cand{i} AS MATERIALIZED (
  SELECT DISTINCT x.partner AS u, y.partner AS w
  FROM b{i} x JOIN b{i} y ON x.node = y.node AND x.partner < y.partner
),
sc{i} AS MATERIALIZED (
  SELECT u, w, {dot} / (a.nrm * b.nrm) AS cosine
  FROM cand{i} c JOIN ev a ON a.vec_id = c.u JOIN ev b ON b.vec_id = c.w
),
un{i} AS MATERIALIZED (
  SELECT src, dst, MAX(cosine) AS cosine FROM (
    SELECT src, dst, cosine FROM e{i - 1}
    UNION ALL SELECT u AS src, w AS dst, cosine FROM sc{i}
    UNION ALL SELECT w AS src, u AS dst, cosine FROM sc{i}
  ) GROUP BY src, dst
),
e{i} AS MATERIALIZED (
  SELECT src, dst, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst)
      AS rk
    FROM un{i}) WHERE rk <= {_KNN_K}
)""")
    return ctes, f"e{_KNN_ITERS}"


def _knn_oracle() -> str:
    ctes, final = _knn_ctes()
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT src, dst, cosine,
  ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
FROM {final}"""
    )


@register("knn_graph_nn_descent", oracle=_knn_oracle())
def knn_graph_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs kNN GRAPH via NN-Descent (Dong et al., WWW 2011) —
    the construction step behind graph ANN indexes and kNN-based
    semantic dedup, where the query set IS the corpus (the C6/C22
    top-k shapes serve a small query set; building the full graph
    that way is an O(n^2) scan-per-vector). Deterministic
    pseudo-random init (md5-derived — stable across runs, engines,
    and partitionings, unlike rand()), then ``_KNN_ITERS``
    rounds of: take each node's out-neighbors
    union its top-k IN-neighbors, propose every pair of them to each
    other, keep each node's k best by exact cosine (ties to the lower
    vec_id, so the graph is reproducible bit-for-bit).

    Scale: per round the candidate set is O(n * (2k choose 2)) — never
    the n^2 matrix; pair proposal is the in-posting explode the LSH
    family uses (one shuffle keyed by node), scoring joins are keyed
    by vec_id (embeddings never broadcast), and each round's graph is
    pinned (``_helpers.pin``: scratch on a cluster), so lineage stays
    flat and executor loss replays one round, not the whole descent. The
    oracle unrolls the same finite dataflow (kmeans C27 precedent)."""
    edges = _knn_graph_shared(spark, sf_dir)
    w_topk = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    return edges.withColumn("rank", F.row_number().over(w_topk))


def _knn_graph_shared(
    spark: SparkSession, sf_dir: str, ev: DataFrame | None = None
) -> DataFrame:
    """The per-application kNN graph, built ONCE per embeddings version
    as keyed scratch (the kmeans-assign precedent): the
    C129 query, C130's search, and C134's recall report all walk the
    SAME deterministic edge set, so a bench run pays the NN-Descent
    rounds once instead of three times (r8 verdict item 4). On a hit
    the builder never runs — the edges re-scan from scratch parquet."""
    e = _emb(spark, sf_dir)
    return scratch(
        "knn-graph",
        e,
        lambda: _knn_graph_frame(
            e, ev=ev if ev is not None else _emb_norms_shared(spark, sf_dir)
        ),
    )


def _emb_norms_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The norm-augmented vector frame (vec_id, embedding, nrm), keyed
    scratch per embeddings version: the NN-Descent build, the beam search's
    scoring joins, and the D30 index build all score against the SAME
    frame, so computing the norms and materializing them is paid once
    per application instead of one pin per call (r11: the per-call
    pin was one localCheckpoint job plus a norm recompute on every
    invocation of graph_ann_search)."""
    e = _emb(spark, sf_dir)
    return scratch(
        "emb-norms",
        e,
        lambda: e.select("vec_id", "embedding", _norm("embedding").alias("nrm")),
    )


def _knn_graph_frame(e: DataFrame, ev: DataFrame | None = None) -> DataFrame:
    """The NN-Descent dataflow over an (vec_id, embedding) frame,
    returning the final (src, dst, cosine) edge set — shared by the
    C129 query, the D30 persisted index build, and C130's search
    (always through the keyed ``_knn_graph_shared`` wrapper)."""
    # pin the norm-augmented vector frame ONCE: the descent scores
    # candidates against it 2x per round plus the init — without the
    # pin each scoring join re-scans the source parquet and recomputes
    # every norm (5+ corpus scans at 100 TB; the D30 index persists
    # vectors+norms for the same reason). Callers that need the frame
    # themselves (beam search scoring, the index build's vectors/
    # write) pass their already-pinned copy instead of paying a second
    # scan + materialization of the identical data (r8 review).
    if ev is None:
        ev = pin(e.select("vec_id", "embedding", _norm("embedding").alias("nrm")))
    n = ev.count()  # bounded driver scalar (corpus cardinality)

    def score(pairs: DataFrame) -> DataFrame:
        a = ev.select(
            F.col("vec_id").alias("u"), F.col("embedding").alias("ea"),
            F.col("nrm").alias("na"),
        )
        b = ev.select(
            F.col("vec_id").alias("w"), F.col("embedding").alias("eb"),
            F.col("nrm").alias("nb"),
        )
        return (
            pairs.join(a, "u").join(b, "w")
            .select(
                "u", "w",
                (_dot("ea", "eb") / (F.col("na") * F.col("nb"))).alias("cosine"),
            )
        )

    seed = (
        "CAST(conv(substring(md5(concat('knn|', CAST(vec_id AS STRING),"
        " '|', CAST(j AS STRING))), 1, 12), 16, 10) AS BIGINT)"
    )
    init = (
        ev.select("vec_id", F.explode(F.expr(f"sequence(1, {_KNN_K})")).alias("j"))
        .select(
            F.col("vec_id").alias("u"),
            (F.expr(seed) % n).cast("bigint").alias("w"),
        )
        .where(F.col("u") != F.col("w"))
        .distinct()
    )
    w_topk = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    pins = RoundPins()
    edges = pins.pin(
        score(init)
        .select(F.col("u").alias("src"), F.col("w").alias("dst"), "cosine")
        .withColumn("rk", F.row_number().over(w_topk))
        .where(F.col("rk") <= _KNN_K)
        .select("src", "dst", "cosine")
    )
    w_rev = Window.partitionBy("dst").orderBy(F.desc("cosine"), "src")
    pair_expr = """
    flatten(transform(ps, (x, i) ->
      transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS w))))
    """
    for _ in range(_KNN_ITERS):
        rev = (
            edges.withColumn("rk", F.row_number().over(w_rev))
            .where(F.col("rk") <= _KNN_K)
            .select(F.col("dst").alias("node"), F.col("src").alias("partner"))
        )
        b = edges.select(
            F.col("src").alias("node"), F.col("dst").alias("partner")
        ).union(rev).distinct()
        posts = b.groupBy("node").agg(
            F.array_sort(F.collect_list("partner")).alias("ps")
        )
        cand = (
            posts.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.u", "p.w")
            .distinct()
        )
        sc = score(cand)
        alle = (
            edges.select("src", "dst", "cosine")
            .unionAll(sc.select(F.col("u").alias("src"), F.col("w").alias("dst"), "cosine"))
            .unionAll(sc.select(F.col("w").alias("src"), F.col("u").alias("dst"), "cosine"))
            .groupBy("src", "dst")
            .agg(F.max("cosine").alias("cosine"))
        )
        edges = pins.pin(
            alle.withColumn("rk", F.row_number().over(w_topk))
            .where(F.col("rk") <= _KNN_K)
            .select("src", "dst", "cosine")
        )
    return edges


# ---------------------------------------------------------------- C130
# Greedy beam search over the C129 kNN graph — the QUERY side of
# graph-based ANN (NSW/HNSW-family): walk from a fixed entry node,
# each step expanding the current beam's graph neighbors and keeping
# the beam-width best-so-far. Fixed step count keeps the dataflow
# finite (and the oracle unrollable).
# Beam 12 x 4 steps measures 0.84 recall@5 vs bruteforce on the
# synthetic corpus (graph recall is the ceiling; see _KNN_K note) —
# visiting ~beam*k*steps ~ 500 nodes per query worst case, but the
# expand joins dedupe against the seen set, so in practice far fewer.
_GAS_BEAM = 12
_GAS_STEPS = 4


def _gas_ctes() -> tuple[list[str], str]:
    """Beam-search dataflow as (cte_list, final_select) — the same
    structural contract as _knn_ctes(), so composers (C134's recall
    report) never splice rendered SQL text."""
    ctes, graph = _knn_ctes()
    dot = _SQL_DOT.format(a="q.qe", b="b.embedding")
    ctes = list(ctes)
    ctes.append(f"""qv AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM ev
  WHERE vec_id < {_N_QUERIES}
),
gseen0 AS MATERIALIZED (
  SELECT q.query_id, CAST(0 AS BIGINT) AS node, {dot} / (q.qn * b.nrm) AS cosine
  FROM qv q JOIN ev b ON b.vec_id = 0
)""")
    for i in range(1, _GAS_STEPS + 1):
        ctes.append(f"""gbeam{i - 1} AS MATERIALIZED (
  SELECT query_id, node FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, node) AS rk
    FROM gseen{i - 1}) WHERE rk <= {_GAS_BEAM}
),
gexp{i} AS MATERIALIZED (
  SELECT DISTINCT bm.query_id, g.dst AS node
  FROM gbeam{i - 1} bm JOIN {graph} g ON g.src = bm.node
  WHERE NOT EXISTS (SELECT 1 FROM gseen{i - 1} s
                    WHERE s.query_id = bm.query_id AND s.node = g.dst)
),
gsc{i} AS MATERIALIZED (
  SELECT x.query_id, x.node, {dot} / (q.qn * b.nrm) AS cosine
  FROM gexp{i} x JOIN qv q ON q.query_id = x.query_id
  JOIN ev b ON b.vec_id = x.node
),
gseen{i} AS MATERIALIZED (
  SELECT query_id, node, cosine FROM gseen{i - 1}
  UNION ALL SELECT query_id, node, cosine FROM gsc{i}
)""")
    final = f"""SELECT query_id, node AS neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, node) AS rank
  FROM gseen{_GAS_STEPS} WHERE node <> query_id
) WHERE rank <= {_TOP_K}"""
    return ctes, final


def _gas_oracle() -> str:
    ctes, final = _gas_ctes()
    return "WITH " + ",\n".join(ctes) + "\n" + final


@register("graph_ann_search", oracle=_gas_oracle())
def graph_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUERIES over the C129 kNN graph — the search half of a
    graph index (NSW/HNSW family): start every query's candidate set
    at a fixed entry node, then ``_GAS_STEPS`` rounds of: expand the
    current ``_GAS_BEAM`` best candidates' out-neighbors, score the
    unseen ones exactly, and re-cut the beam from everything seen so
    far (monotone best-first, deterministic ties). Output shape
    matches ``ann_topk_bruteforce`` so recall is directly measurable.

    Scale: the frontier state is (queries x visited) — never corpus-
    sized; each step is ONE join of the beam against the edge list
    (shuffled on node id) plus one scoring join against the vectors,
    both keyed, and the seen-set dedup is a keyed anti-join. Query
    fan-out parallelizes trivially because beams are independent;
    the walked graph is the pinned NN-Descent frame, so the whole
    search replays from storage, not lineage, after executor loss."""
    e = _emb(spark, sf_dir)
    # ONE pinned vector frame shared by the descent's scoring joins
    # and the search's per-step scoring joins. Pin, NOT the keyed
    # _emb_norms_shared scratch: the beam consumes ev in every step's
    # scoring join, and a scratch read re-reads (and re-repartitions)
    # per consumer — probed 1.4-1.7x SLOWER than executor-local blocks
    # here (r11).
    ev = pin(e.select("vec_id", "embedding", _norm("embedding").alias("nrm")))
    graph = _knn_graph_shared(spark, sf_dir, ev=ev)
    q = ev.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    return _beam_search(graph, ev, q, entry=0)


def _beam_search(
    graph: DataFrame, ev: DataFrame, q: DataFrame, entry: int,
    k: int = _TOP_K,
) -> DataFrame:
    """Greedy beam search over a (src, dst) edge frame: queries
    ``q(query_id, qe, qn)`` against vectors ``ev(vec_id, embedding,
    nrm)``, starting every beam at ``entry``. Shared by the C130
    query, the D30 persisted-index query, and E47's streaming insert
    (inside foreachBatch, pin() in local mode is the localCheckpoint
    the other streaming bodies use; recovery = micro-batch replay)."""
    b = ev.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("be"),
        F.col("nrm").alias("bn"),
    )
    cos = _dot("qe", "be") / (F.col("qn") * F.col("bn"))

    def score(nodes: DataFrame) -> DataFrame:
        return (
            nodes.join(F.broadcast(q), "query_id")
            .join(b, "node")
            .select("query_id", "node", cos.alias("cosine"))
        )

    w_beam = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "node")
    seen = score(
        q.select("query_id").withColumn("node", F.lit(entry).cast("bigint"))
    )
    pins = RoundPins()
    for _ in range(_GAS_STEPS):
        beam = (
            seen.withColumn("rk", F.row_number().over(w_beam))
            .where(F.col("rk") <= _GAS_BEAM)
            .select("query_id", "node")
        )
        exp = (
            beam.join(graph, beam.node == graph.src)
            .select("query_id", F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("query_id", "node"), ["query_id", "node"], "left_anti")
        )
        seen = pins.pin(seen.unionAll(score(exp)))
    return (
        seen.where(F.col("node") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w_beam))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("node").alias("neighbor_id"), "cosine", "rank")
    )


# ---------------------------------------------------------------- D30
_KNN_INDEX_FORMAT = {
    "algo": "nn-descent",
    "k": _KNN_K,
    "iters": _KNN_ITERS,
    "metric": "cosine-double-fold",
    "version": 1,
}


def knn_graph_index_build(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> dict:
    """Materialize the NN-Descent kNN graph as a LAKE ARTIFACT:
    ``edges/`` (src, dst, cosine — the navigable graph) and
    ``vectors/`` (vec_id, embedding, nrm — what the search scores
    against), plus a ``_format.json`` stamp (algo, k, iters, metric,
    entry node) so a query or incremental insert against an index
    built under different parameters fails LOUDLY instead of silently
    returning a worse graph (the D19 minhash-stamp lesson). Edges are
    repartitioned and sorted by src, so a beam expansion's src-keyed
    join reads clustered row groups.

    Returns {nodes, edges, entry} for the caller's audit."""
    import json
    import os

    ev = _emb_norms_shared(spark, sf_dir)
    edges = _knn_graph_shared(spark, sf_dir, ev=ev)
    (
        edges.repartition("src").sortWithinPartitions("src")
        .write.mode("overwrite").parquet(os.path.join(index_dir, "edges"))
    )
    ev.write.mode("overwrite").parquet(os.path.join(index_dir, "vectors"))
    # audit values from the artifacts just written: one pass each, and
    # the edge count is the TRUE written count, not n*k (init-seed
    # collisions can leave a node under k neighbors — r8 review)
    vstats = spark.read.parquet(os.path.join(index_dir, "vectors")).agg(
        F.count("*").alias("n"), F.min("vec_id").alias("m")
    ).first()
    entry = int(vstats.m)
    stamp = dict(_KNN_INDEX_FORMAT, entry=entry)
    with open(os.path.join(index_dir, "_format.json"), "w") as fh:
        json.dump(stamp, fh)
    n_edges = spark.read.parquet(os.path.join(index_dir, "edges")).count()
    return {"nodes": int(vstats.n), "edges": n_edges, "entry": entry}


def _knn_index_check(index_dir: str) -> dict:
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
        check_format_stamp,
    )

    return check_format_stamp(index_dir, _KNN_INDEX_FORMAT, "kNN graph index")


def knn_graph_index_query(
    spark: SparkSession, index_dir: str, queries: DataFrame
) -> DataFrame:
    """Beam-search ANN against a PERSISTED kNN graph index (D30):
    ``queries`` is (query_id, embedding); output matches
    ``ann_topk_bruteforce``. The graph and vectors come off storage —
    no rebuild — so serving cost is the search frontier only; the
    stamp check refuses cross-parameter indexes loudly."""
    import os

    stamp = _knn_index_check(index_dir)
    graph = spark.read.parquet(os.path.join(index_dir, "edges"))
    ev = spark.read.parquet(os.path.join(index_dir, "vectors"))
    q = queries.select(
        F.col("query_id"), F.col("embedding").alias("qe"),
        _norm("embedding").alias("qn"),
    )
    return _beam_search(graph, ev, q, entry=int(stamp["entry"]))


# ---------------------------------------------------------------- C134
def _gas_recall_oracle() -> str:
    ctes, final = _gas_ctes()
    ctes = list(ctes)
    # the exact leg nests _ANN_ORACLE itself (the C77 _recall_oracle
    # precedent): ONE definition of the brute-force ground truth, so a
    # tie-break or norm tweak can never silently diverge the report
    # from what ann_topk_bruteforce is graded against
    ctes.append(f"""gas_out AS (
{final}
),
exact AS (
  SELECT query_id, neighbor_id FROM ({_ANN_ORACLE}) _exact
)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT e.query_id,
  CAST(COUNT(g.neighbor_id) AS BIGINT) AS n_hits,
  {sql_round_rat('COUNT(g.neighbor_id)', str(_TOP_K), 4)} AS recall
FROM exact e LEFT JOIN gas_out g
  ON g.query_id = e.query_id AND g.neighbor_id = e.neighbor_id
GROUP BY e.query_id"""
    )


@register("graph_ann_recall_report", oracle=_gas_recall_oracle())
def graph_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the C130 graph search against the exact
    brute-force top-k, per query — the go/no-go check a graph index
    must pass before it serves traffic, here ORACLE-CHECKED end to
    end (both legs have exact twins, so the report itself is
    hash-exact — the ann_recall_report C77 composition precedent).
    The measured sf0.01 aggregate is 0.84; this query pins the
    per-query numbers under the driver gate permanently.

    Scale: the exact leg is the C6 broadcast-queries-into-one-corpus-
    scan shape (its cost is the recall AUDIT's price, paid on a query
    sample, never corpus x corpus); the graph leg reuses the pinned
    descent frame; the comparison joins two query-sized frames."""
    gas = graph_ann_search(spark, sf_dir).select("query_id", "neighbor_id")
    exact = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        exact.join(gas.withColumn("_hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            # integer-exact recall fraction (round_rat)
            round_rat("count(_hit)", str(_TOP_K), 4).alias("recall"),
        )
    )


# ---------------------------------------------------------------- C136
# Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
# Parallel Corpus Mining with Multilingual Sentence Embeddings"):
# label 0 plays the source language, label 1 the target; a candidate
# pair scores cosine(x, y) normalized by the mean of both sides'
# top-k neighborhood averages — the ratio-margin criterion that
# separates true translations from hubs that are merely close to
# everything. The standard mining recipe for parallel training data
# (CCMatrix / LASER pipelines).
_BITEXT_K = 4
_BITEXT_MARGIN_T = 1.05

_BITEXT_ORACLE = f"""
WITH sa AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
sb AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
sc AS MATERIALIZED (
  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
    {_SQL_DOT.format(a="a.embedding", b="b.embedding")}
      / ({_SQL_NORM.format(a="a.embedding")}
         * {_SQL_NORM.format(a="b.embedding")}) AS cosine
  FROM sa a, sb b
),
rk AS MATERIALIZED (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY src_id
        ORDER BY cosine DESC, tgt_id) AS r_src,
    ROW_NUMBER() OVER (PARTITION BY tgt_id
        ORDER BY cosine DESC, src_id) AS r_tgt
  FROM sc
),
ax AS (
  SELECT src_id, list_sum(list(cosine ORDER BY r_src)) / {_BITEXT_K} AS a_src
  FROM rk WHERE r_src <= {_BITEXT_K} GROUP BY src_id
),
ay AS (
  SELECT tgt_id, list_sum(list(cosine ORDER BY r_tgt)) / {_BITEXT_K} AS a_tgt
  FROM rk WHERE r_tgt <= {_BITEXT_K} GROUP BY tgt_id
),
m AS (
  SELECT rk.src_id, rk.tgt_id, rk.cosine,
    rk.cosine / ((ax.a_src + ay.a_tgt) / 2) AS margin
  FROM rk JOIN ax USING (src_id) JOIN ay USING (tgt_id)
  WHERE rk.r_src <= {_BITEXT_K}
)
SELECT src_id, tgt_id,
  ROUND(cosine, 6) AS cosine, ROUND(margin, 6) AS margin
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
      ORDER BY margin DESC, tgt_id) AS rr
  FROM m
) WHERE rr = 1 AND margin >= {_BITEXT_MARGIN_T}
"""


@register("bitext_margin_mining", oracle=_BITEXT_ORACLE)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine translation-pair candidates across two embedding spaces
    with the ratio-margin criterion: for each source vector, its
    best target by margin = cos(x,y) / ((avgk(x) + avgk(y)) / 2),
    kept when the margin clears the threshold. Raw cosine thresholds
    fail at this task (hub vectors are close to EVERYTHING; scale
    ruins absolute thresholds) — the neighborhood-normalized margin
    is what made mined corpora (CCMatrix-style) usable for MT
    training.

    Plan: score the label-0 x label-1 pair grid ONCE, rank it twice
    (per-source and per-target windows over the same frame), derive
    both sides' top-k neighborhood averages as in-row folds over
    RANK-ORDERED arrays (never a float sum across unordered rows —
    the repo's standing determinism discipline), then one join
    re-attaches the averages and the margin cut is a per-source
    window. At corpus scale the pair grid comes from the C130 graph /
    C7 LSH candidate generators instead of the exact cross join —
    same scoring tail; this registered form is the exact baseline the
    approximate ones are measured against (the C6 precedent).

    Oracle: DuckDB replays the identical grid, windows, and
    rank-ordered folds; cosine/margin are deterministic per-pair
    scalars, so the report is hash-exact."""
    e = _emb(spark, sf_dir)
    a = e.where(F.col("label") == 0).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("ea"),
        _norm("embedding").alias("na"),
    )
    b = e.where(F.col("label") == 1).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("eb"),
        _norm("embedding").alias("nb"),
    )
    scored = pin(
        F.broadcast(a)
        .join(b)
        .select(
            "src_id", "tgt_id",
            (_dot("ea", "eb") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    w_src = Window.partitionBy("src_id").orderBy(F.desc("cosine"), "tgt_id")
    w_tgt = Window.partitionBy("tgt_id").orderBy(F.desc("cosine"), "src_id")
    rk = scored.select(
        "src_id", "tgt_id", "cosine",
        F.row_number().over(w_src).alias("r_src"),
        F.row_number().over(w_tgt).alias("r_tgt"),
    )
    rk = pin(rk)

    def avgk(df: DataFrame, key: str, rank: str) -> DataFrame:
        # rank-ordered in-row fold: deterministic float summation
        return (
            df.where(F.col(rank) <= _BITEXT_K)
            .groupBy(key)
            .agg(
                F.expr(
                    f"aggregate(transform(array_sort(collect_list("
                    f"struct({rank}, cosine))), s -> s.cosine),"
                    " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
                    f" / {_BITEXT_K}"
                ).alias(f"a_{key}")
            )
        )

    ax = avgk(rk, "src_id", "r_src")
    ay = avgk(rk, "tgt_id", "r_tgt")
    m = (
        rk.where(F.col("r_src") <= _BITEXT_K)
        .join(ax, "src_id")
        .join(ay, "tgt_id")
        .select(
            "src_id", "tgt_id", "cosine",
            (
                F.col("cosine")
                / ((F.col("a_src_id") + F.col("a_tgt_id")) / 2)
            ).alias("margin"),
        )
    )
    w_best = Window.partitionBy("src_id").orderBy(F.desc("margin"), "tgt_id")
    return (
        m.withColumn("rr", F.row_number().over(w_best))
        .where((F.col("rr") == 1) & (F.col("margin") >= _BITEXT_MARGIN_T))
        .select(
            "src_id", "tgt_id",
            F.round("cosine", 6).alias("cosine"),
            F.round("margin", 6).alias("margin"),
        )
    )


# ---------------------------------------------------------------- C137
# Greedy k-center coreset (farthest-point traversal, Gonzalez 1985):
# the 2-approximation every coreset/active-learning selector builds
# on — pick the point farthest from everything chosen so far, k
# times. The data-curation use: a small, geometrically-covering
# sample of a huge embedding corpus (eval-set seeding, diverse
# finetuning subsets, cluster initialization).
_KCENTER_K = 8


def _sq_dist(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " 0.0d, (acc, v) -> acc + v)"
    )


_SQL_SQ_DIST = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
)


def _kcenter_oracle() -> str:
    """Unrolled greedy rounds as materialized CTEs (the kmeans / knn
    oracle precedent): c{r} = the r-th chosen center (argmax of the
    running min-squared-distance, ties to the smaller vec_id), d{r} =
    the running min updated with it."""
    ctes = [
        """c1 AS MATERIALIZED (
  SELECT vec_id, CAST(0 AS DOUBLE) AS d FROM embeddings
  ORDER BY vec_id LIMIT 1
),
d1 AS MATERIALIZED (
  SELECT e.vec_id,
    {d} AS d
  FROM embeddings e, (SELECT embedding AS ce FROM embeddings
                      WHERE vec_id = (SELECT vec_id FROM c1)) c
)""".format(d=_SQL_SQ_DIST.format(a="e.embedding", b="c.ce"))
    ]
    for r in range(2, _KCENTER_K + 1):
        p = r - 1
        dexpr = _SQL_SQ_DIST.format(a="e2.embedding", b="c.ce")
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT vec_id, d FROM d{p} ORDER BY d DESC, vec_id LIMIT 1
),
d{r} AS MATERIALIZED (
  SELECT e2.vec_id, LEAST(e2.d, {dexpr}) AS d
  FROM (SELECT d{p}.vec_id, d{p}.d, emb.embedding
        FROM d{p} JOIN embeddings emb USING (vec_id)) e2,
  (SELECT embedding AS ce FROM embeddings
   WHERE vec_id = (SELECT vec_id FROM c{r})) c
)""")
    rows = " UNION ALL ".join(
        f"SELECT {r} AS round, vec_id, ROUND(d, 6) AS dist2 FROM c{r}"
        for r in range(1, _KCENTER_K + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM ({rows})"


@register("coreset_kcenter", oracle=_kcenter_oracle())
def coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed entry for :func:`_kcenter_select`: the greedy selection
    runs ONCE per embeddings version (keyed scratch — the
    shared-knn-graph precedent), so the C138 assignment profile and a
    bench run never pay the k driver passes twice."""
    return scratch(
        "kcenter", _emb(spark, sf_dir), lambda: _kcenter_select(spark, sf_dir)
    )


def _kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center selection over the embedding corpus: seed at
    the minimum vec_id, then k-1 rounds of "take the point with the
    largest min-squared-distance to everything chosen" (deterministic
    ties to the smaller id). Output: (round, vec_id, dist2) — the
    final row's dist2 is the corpus covering radius, the quantity the
    2-approximation guarantee is about.

    Scale: the textbook distributed form — k linear passes. The
    running min-distance column is updated in-row against the single
    newly chosen center (its 64 floats inlined as literals, no join),
    pinned per round so lineage stays flat; the argmax is an
    orderBy-limit-1 reduce (driver receives ONE row per round, k
    rows total). The only per-round materialization is the
    (vec_id, embedding, dmin) frame — corpus-sized but carried
    anyway; keeping the embedding column in it is what lets each
    round update dmin without re-joining the source.

    Oracle: the same k rounds unrolled as materialized CTEs; every
    distance is the identical fixed-order fold in both engines, so
    selection (and therefore the whole report) is hash-exact."""
    e = _emb(spark, sf_dir)
    first = e.orderBy("vec_id").select("vec_id", "embedding").first()
    chosen = [(1, int(first.vec_id), 0.0)]

    def lit_vec(vals) -> str:
        return "array(" + ", ".join(f"CAST({float(v)} AS DOUBLE)" for v in vals) + ")"

    pins = RoundPins()
    cur = pins.pin(
        e.select(
            "vec_id", "embedding",
            _sq_dist("embedding", lit_vec(first.embedding)).alias("d"),
        )
    )
    for r in range(2, _KCENTER_K + 1):
        top = cur.orderBy(F.desc("d"), "vec_id").select(
            "vec_id", "d", "embedding"
        ).first()
        chosen.append((r, int(top.vec_id), float(top.d)))
        cur = pins.pin(
            cur.select(
                "vec_id", "embedding",
                F.least(
                    F.col("d"), _sq_dist("embedding", lit_vec(top.embedding))
                ).alias("d"),
            )
        )
    return spark.createDataFrame(
        [(r, v, d) for r, v, d in chosen], "round int, vec_id long, dist2 double"
    ).select("round", "vec_id", F.round("dist2", 6).alias("dist2"))


# ---------------------------------------------------------------- C138
def _kcenter_assign_oracle() -> str:
    """C137's unrolled center chain + one assignment pass: every
    vector to its nearest center (ties to the earlier round), then a
    per-cell profile with DECIMAL-summed means (order-free)."""
    base = _kcenter_oracle()
    chain = base[len("WITH "):base.rindex("\nSELECT")]
    centers = " UNION ALL ".join(
        f"SELECT {r} AS round, vec_id FROM c{r}"
        for r in range(1, _KCENTER_K + 1)
    )
    d = _SQL_SQ_DIST.format(a="e.embedding", b="ce.embedding")
    return f"""WITH {chain},
centers AS MATERIALIZED (
  SELECT cs.round, cs.vec_id, emb.embedding
  FROM ({centers}) cs JOIN embeddings emb USING (vec_id)
),
assign AS MATERIALIZED (
  SELECT vec_id, round, center_id, d FROM (
    SELECT e.vec_id, ce.round, ce.vec_id AS center_id, {d} AS d,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY {d}, ce.round) AS rk
    FROM embeddings e, centers ce
  ) WHERE rk = 1
)
SELECT round, center_id,
  CAST(COUNT(*) AS BIGINT) AS n_assigned,
  {sql_round_rat('SUM(CAST(ROUND(CAST(CAST(d AS DECIMAL(28,12))'
                 ' AS DECIMAL(38,12)) * 1000000000000) AS HUGEINT))',
                 'COUNT(*) * 1000000000000', 6, wide=True)} AS mean_dist2,
  ROUND(MAX(d), 6) AS max_dist2
FROM assign GROUP BY round, center_id"""


@register("kcenter_assignment_profile", oracle=_kcenter_assign_oracle())
def kcenter_assignment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage report for the C137 coreset: assign every vector to
    its nearest chosen center (ties to the earlier round) and profile
    each cell — member count, mean squared distance (DECIMAL-summed,
    order-free), and the cell's covering radius. The go/no-go check a
    curation run reads before trusting a k-point summary of a corpus:
    lopsided cells or one giant radius mean k is too small.

    Plan: the k selection passes of C137, then ONE corpus scan
    computing all k distances in-row against the k inlined center
    vectors (k x d literals — never a join) with an in-row argmin,
    then a k-row aggregation. Nothing corpus-sized shuffles except
    the final cell groupBy keyed on k values."""
    picks = {
        int(r.round): int(r.vec_id)
        for r in coreset_kcenter(spark, sf_dir).collect()
    }
    e = _emb(spark, sf_dir)
    cvecs = {
        int(r.vec_id): list(r.embedding)
        for r in e.where(
            F.col("vec_id").isin(list(picks.values()))
        ).collect()
    }

    def lit_vec(vals) -> str:
        return (
            "array(" + ", ".join(f"CAST({float(v)} AS DOUBLE)" for v in vals)
            + ")"
        )

    # build struct(d, round, center_id) per center; array_min picks the
    # lexicographically smallest -> nearest center, earlier round on ties
    entries = []
    for r in sorted(picks):
        dist_col = _sq_dist("embedding", lit_vec(cvecs[picks[r]]))
        entries.append(
            F.struct(
                dist_col.alias("d"),
                F.lit(r).alias("round"),
                F.lit(picks[r]).cast("long").alias("center_id"),
            )
        )
    best = F.array_min(F.array(*entries))
    assigned = e.select(
        "vec_id",
        best.getField("round").alias("round"),
        best.getField("center_id").alias("center_id"),
        best.getField("d").alias("d"),
    )
    return assigned.groupBy("round", "center_id").agg(
        F.count("*").cast("bigint").alias("n_assigned"),
        # integer-exact mean: d is 12dp-pinned by the decimal cast,
        # so the mean is sum(d*1e12)/(n*1e12) — wide round_rat
        round_rat(
            "sum(CAST(round(CAST(d AS DECIMAL(28,12)) * 1000000000000)"
            " AS DECIMAL(38,0)))",
            "count(*) * 1000000000000",
            6,
            wide=True,
        ).alias("mean_dist2"),
        F.round(F.max("d"), 6).alias("max_dist2"),
    )


# ---------------------------------------------------------------- C139
# LSH-candidate bitext mining: the SCALE path of C136. The exact
# cross-side grid is quadratic in corpus size; here candidates are
# pairs sharing any LSH bucket (the C7 plan-time-constant
# hyperplanes), scored exactly, with the margin's neighborhood
# averages taken over each side's top-k CANDIDATES. Same output
# contract as C136; recall against it is test-pinned.


def _bitext_lsh_oracle() -> str:
    b = " UNION ALL\n".join(
        f"SELECT vec_id, label, {t} AS tbl,"
        f" {_bucket_sql('embedding', t)} AS bucket"
        " FROM embeddings WHERE label IN (0, 1)"
        for t in range(_N_TABLES)
    )
    return f"""
WITH bk AS MATERIALIZED ({b}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS src_id, t.vec_id AS tgt_id
  FROM bk a JOIN bk t ON a.tbl = t.tbl AND a.bucket = t.bucket
  WHERE a.label = 0 AND t.label = 1
),
sc AS MATERIALIZED (
  SELECT c.src_id, c.tgt_id,
    {_SQL_DOT.format(a="a.embedding", b="t.embedding")}
      / ({_SQL_NORM.format(a="a.embedding")}
         * {_SQL_NORM.format(a="t.embedding")}) AS cosine
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.src_id
  JOIN embeddings t ON t.vec_id = c.tgt_id
),
rk AS MATERIALIZED (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY src_id
        ORDER BY cosine DESC, tgt_id) AS r_src,
    ROW_NUMBER() OVER (PARTITION BY tgt_id
        ORDER BY cosine DESC, src_id) AS r_tgt
  FROM sc
),
ax AS (
  SELECT src_id, list_sum(list(cosine ORDER BY r_src))
    / LEAST({_BITEXT_K}, COUNT(*)) AS a_src
  FROM rk WHERE r_src <= {_BITEXT_K} GROUP BY src_id
),
ay AS (
  SELECT tgt_id, list_sum(list(cosine ORDER BY r_tgt))
    / LEAST({_BITEXT_K}, COUNT(*)) AS a_tgt
  FROM rk WHERE r_tgt <= {_BITEXT_K} GROUP BY tgt_id
),
m AS (
  SELECT rk.src_id, rk.tgt_id, rk.cosine,
    rk.cosine / ((ax.a_src + ay.a_tgt) / 2) AS margin
  FROM rk JOIN ax USING (src_id) JOIN ay USING (tgt_id)
  WHERE rk.r_src <= {_BITEXT_K}
)
SELECT src_id, tgt_id,
  ROUND(cosine, 6) AS cosine, ROUND(margin, 6) AS margin
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
      ORDER BY margin DESC, tgt_id) AS rr
  FROM m
) WHERE rr = 1 AND margin >= {_BITEXT_MARGIN_T}
"""


# per-side cardinality above which the bitext miner adds hyperplanes:
# with FIXED planes the buckets-per-table count is constant, so
# cross-side candidates stay quadratic (merely the full grid divided
# by a constant — the r9 sf3 soak measured 8.2x wall on 3x data).
# Holding bucket OCCUPANCY constant instead (planes ~ log2(n/occ))
# keeps candidates ~ 8 * n * occ, i.e. linear. The gate sits above
# every oracle-checked SF — MEASURED side sizes are 56 (sf0.001), 50
# (sf0.01), 199 (sf0.1) — so the static 4-plane oracle stays exact
# everywhere the driver and xsf_check run; past the gate the plan
# changes, the semantics (exact scoring of LSH candidates) do not.
_BITEXT_LSH_OCC = 128  # max per-side bucket occupancy past the gate
# (gate = OCC * 2^4 = 2048 per side — 10x above the largest
# oracle-checked side's measured 199)
# Hot-bucket posting cap (the dedup-family auto-guard discipline):
# CLUSTERED sides defeat hyperplane pruning — a tight cluster falls on
# the same side of most hyperplanes, so its bucket stays grid-dense no
# matter how many planes are added (probed at the sf3 tier: 14.4M
# candidates = 40% of the full grid). Each (tbl, bucket, side) posting
# keeps its _BITEXT_MAX_POSTING best by deterministic md5 priority;
# the dense regions a cap truncates are hub territory, exactly where
# the ratio margin rejects pairs anyway. MEASURED posting occupancy at
# the oracle-checked SFs: max 27 / 23 / 79, mean 6.3 / 5.6 / 16.0 for
# sf0.001 / 0.01 / 0.1 — so the cap is inert there by a 3.2x margin,
# and the query body WARNS loudly whenever truncation engages in the
# 4-plane regime (r9 advice wanted a source-level signal; a hard
# raise was tried first and rejected — duplicate-heavy corpora like
# the cloned sf1 soak tier legitimately live in that regime, r10).
_BITEXT_MAX_POSTING = 256


def _bitext_planes(n_side: int) -> int:
    import math

    if n_side <= _BITEXT_LSH_OCC * (1 << _N_PLANES):
        return _N_PLANES
    # ceil keeps occupancy <= _BITEXT_LSH_OCC (a floor left the plane
    # count unchanged just past the gate — probed at the sf3 tier)
    return min(
        16,
        max(
            _N_PLANES + 1,
            math.ceil(math.log2(max(2, n_side / _BITEXT_LSH_OCC))),
        ),
    )


@register("bitext_margin_mining_lsh", oracle=_bitext_lsh_oracle())
def bitext_margin_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C136's ratio-margin bitext miner on LSH candidates — the form
    that survives corpus scale: both sides bucket through the C7
    hyperplane tables (plan-time literal weights), candidates are
    cross-side pairs sharing any bucket (a (tbl, bucket)-keyed join,
    never the full grid), scoring and the margin tail are exactly
    C136's. A neighborhood with fewer than k candidates averages over
    what it has (LEAST(k, count)); recall vs the exact miner is
    test-pinned. Hash-exact: the buckets, cosines, and rank-ordered
    folds replay identically in DuckDB (plane count is 4 at every
    oracle-checked SF; past the _bitext_planes occupancy gate more
    hyperplanes keep the candidate volume linear — see the gate
    comment)."""
    e = _emb(spark, sf_dir).where(F.col("label").isin(0, 1))

    def _postings():
        # Built at most once per corpus version — the capped
        # posting table is a pure function of the corpus, like the
        # kmeans-assign scratch (r9-endorsed): repeat invocations scan
        # the materialized table instead of re-running the side count,
        # the bucket union, the occupancy window, and the cap probe
        # (profiled: the per-call rebuild was ~8 of this query's 21
        # jobs, and wall ran 3.4x the stage time — orchestration-bound,
        # guide §1.2 "don't recompute").
        dim = _emb_dim(e)
        n_side = (
            e.groupBy("label").count().agg(F.max("count")).first()[0] or 0
        )
        planes = _bitext_planes(int(n_side))
        tables = []
        for t in range(_N_TABLES):
            tables.append(
                e.select(
                    "vec_id", "label", F.lit(t).alias("tbl"),
                    _bucket_expr("embedding", t, dim, planes).alias("bucket"),
                )
            )
        bk = tables[0]
        for t in tables[1:]:
            bk = bk.unionAll(t)
        w_post = Window.partitionBy("tbl", "bucket", "label").orderBy(
            F.md5(F.concat(F.lit("btx|"), F.col("vec_id").cast("string"))),
            "vec_id",
        )
        pre = pin(bk.withColumn("_pk", F.row_number().over(w_post)))
        if planes == _N_PLANES:
            # 4-plane regime == the regime the static oracle models.
            # The cap engaging here is NOT automatically an error: a
            # duplicate-heavy corpus (the r10 sf1 soak tier clones
            # every vector 10x) keeps the side count under the plane
            # gate while flooding buckets — exactly the hub territory
            # the cap exists to bound, and more planes cannot split
            # exact duplicates. So the guard is a LOUD WARNING at the
            # source (one bounded max() over the already-pinned frame
            # — r9 advice): at the oracle-checked SFs it stays silent
            # (measured occupancy <= 79 vs the 256 cap), and if data
            # drift ever engages it THERE the warning names the cause
            # while the driver's hash gate still fails the comparison.
            max_posting = pre.agg(F.max("_pk")).first()[0] or 0
            if max_posting > _BITEXT_MAX_POSTING:
                import warnings

                warnings.warn(
                    "bitext_margin_mining_lsh: posting cap truncating in "
                    f"the 4-plane regime (max occupancy {max_posting} > "
                    f"{_BITEXT_MAX_POSTING}) — duplicate-heavy buckets are "
                    "being bounded; results will not match the guard-free "
                    "exact oracle on this data",
                    stacklevel=2,
                )
        return pre.where(F.col("_pk") <= _BITEXT_MAX_POSTING).drop("_pk")

    bk = scratch("bitext-postings", e, _postings)
    cand = (
        bk.where(F.col("label") == 0)
        .select(F.col("vec_id").alias("src_id"), "tbl", "bucket")
        .join(
            bk.where(F.col("label") == 1).select(
                F.col("vec_id").alias("tgt_id"), "tbl", "bucket"
            ),
            ["tbl", "bucket"],
        )
        .select("src_id", "tgt_id")
        .distinct()
    )
    a = e.where(F.col("label") == 0).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("ea"),
        _norm("embedding").alias("na"),
    )
    b = e.where(F.col("label") == 1).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("eb"),
        _norm("embedding").alias("nb"),
    )
    # no pin: `scored` has exactly one consumer (rk, pinned right
    # below) — a checkpoint here was one pure-overhead materialization
    # per call (r11).
    scored = (
        cand.join(a, "src_id").join(b, "tgt_id").select(
            "src_id", "tgt_id",
            (_dot("ea", "eb") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    w_src = Window.partitionBy("src_id").orderBy(F.desc("cosine"), "tgt_id")
    w_tgt = Window.partitionBy("tgt_id").orderBy(F.desc("cosine"), "src_id")
    rk = pin(
        scored.select(
            "src_id", "tgt_id", "cosine",
            F.row_number().over(w_src).alias("r_src"),
            F.row_number().over(w_tgt).alias("r_tgt"),
        )
    )

    def avgk(df: DataFrame, key: str, rank: str) -> DataFrame:
        return (
            df.where(F.col(rank) <= _BITEXT_K)
            .groupBy(key)
            .agg(
                F.expr(
                    f"aggregate(transform(array_sort(collect_list("
                    f"struct({rank}, cosine))), s -> s.cosine),"
                    " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
                    f" / least({_BITEXT_K}, count(*))"
                ).alias(f"a_{key}")
            )
        )

    ax = avgk(rk, "src_id", "r_src")
    ay = avgk(rk, "tgt_id", "r_tgt")
    m = (
        rk.where(F.col("r_src") <= _BITEXT_K)
        .join(ax, "src_id")
        .join(ay, "tgt_id")
        .select(
            "src_id", "tgt_id", "cosine",
            (
                F.col("cosine")
                / ((F.col("a_src_id") + F.col("a_tgt_id")) / 2)
            ).alias("margin"),
        )
    )
    w_best = Window.partitionBy("src_id").orderBy(F.desc("margin"), "tgt_id")
    return (
        m.withColumn("rr", F.row_number().over(w_best))
        .where((F.col("rr") == 1) & (F.col("margin") >= _BITEXT_MARGIN_T))
        .select(
            "src_id", "tgt_id",
            F.round("cosine", 6).alias("cosine"),
            F.round("margin", 6).alias("margin"),
        )
    )
