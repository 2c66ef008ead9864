"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
algorithm).

The reference's data surface has no fingerprinting; this belongs to the
requested large-scale training-data extension next to the exact
(`strip_dup_chars`, char-k-grams) and probabilistic (`dedup_minhash_lsh`)
dedup tiers. Winnowing sits between them: it SELECTS a guaranteed,
position-aware subset of k-gram hashes — from every window of ``_W``
consecutive k-gram hashes, keep the rightmost minimal hash — such that
any shared substring of at least ``t = _K + _W - 1`` characters is
certain to share at least one selected fingerprint (the paper's
guarantee threshold), while storing only ~``2/(w+1)`` of the grams.
That density bound is what makes the fingerprint index affordable where
the full char-k-gram set (D20's charspan index) is not.

Spark-first shape: gram hashing AND window selection happen entirely
IN-ROW (nested higher-order functions — ``transform`` over window
starts, ``aggregate`` fold per window), so fingerprint extraction adds
ZERO shuffles to the corpus scan; the only shuffles are the distinct on
selected fingerprints and the posting-size aggregation, both map-side
combinable. The hash is an explicit Horner polynomial over character codes
(base 257, 40-bit prime modulus), which DuckDB replays bit-for-bit, so
both registered queries carry hash-exact oracles.

Cited for parity: /root/reference/stacks/demo_stack.py:267-293 is the
closest reference surface (named Athena queries); this module follows
the same register-a-named-query contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    round_rat,
    scratch,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register

_K = 8  # noise threshold: matches shorter than _K chars are never seen
_W = 12  # window size: guarantee threshold t = _K + _W - 1 = 19 chars
_B = 257  # polynomial hash base
_M = 1099511627689  # 40-bit prime modulus (keeps acc*_B + 255 < 2^63)
# Boilerplate guard: fingerprint hashes present in more than this many
# documents are dropped from pair generation (their in-posting pair
# expansion is quadratic in posting size and they carry no near-dup
# signal — the same reasoning as the ngram-jaccard hot-shingle guard).
_MAX_POSTING = 50
_MIN_SHARED = 3
_TOP_PAIRS = 50


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents through the fan-out policy (``catalog.spread``)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return spread(docs, sf_dir, "documents")


def _fingerprints(docs: DataFrame, k: int = _K, w: int = _W) -> DataFrame:
    """Distinct selected fingerprints per document:
    (doc_id, n_grams, h, p). Extraction is fully in-row; the distinct
    is the first shuffle (selected sets are ~2/(w+1) of gram count).
    The extraction is CPU-bound (interpreted higher-order functions),
    so callers hand in ``docs`` through the fan-out policy
    (:func:`_docs`)."""
    # Gram hash: an explicit Horner polynomial over character codes
    # (base 257, 40-bit prime modulus applied per step so nothing
    # overflows int64) — pure codegen arithmetic, measured 2.4x faster
    # than md5-prefix hashing at sf0.1, and DuckDB replays the same
    # expression bit-for-bit (the C103 Count-Min recipe). The char-code
    # array is let-bound for the same CollapseProject reason as ``gs``.
    poly = "CAST(0 AS BIGINT)"
    for j in range(k):
        poly = f"(({poly} * {_B} + element_at(cs, i + {j})) % {_M})"
    grams = f"""element_at(transform(
              array(transform(sequence(1, length(text)),
                              i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
              cs -> transform(sequence(1, greatest(size(cs) - {k - 1}, 0)),
                i -> struct(i - 1 AS p, {poly} AS h))), 1)"""
    # Rightmost-min per window: a left-to-right fold where a tie
    # (x.h <= acc.h) advances to the later position — the paper's
    # robust-winnowing tie rule, which makes the selection a pure
    # function of the text (no RNG, stable under partitioning).
    #
    # The gram array is LET-BOUND via a single-element transform
    # (``transform(array(<grams>), gs -> ...)[0]``): as separate
    # projections, CollapseProject inlines the gram-building
    # expression into EVERY window's slice — hash work goes from
    # O(chars) to O(chars * windows) per document (measured: minutes
    # instead of seconds at sf0.01). The lambda binding forces one
    # evaluation per row.
    # ONE expression produces the exploded (p, h, n_grams) structs:
    # any second reference to the selection (a struct field access, a
    # separate n_grams column) re-evaluates the whole extraction after
    # CollapseProject merges the projections — explode's generator
    # child evaluates exactly once per row.
    sel = F.expr(
        f"""element_at(transform(array({grams}), gs ->
              transform(
                sequence(1, greatest(size(gs) - {w - 1}, 0)),
                j -> struct(
                  aggregate(slice(gs, j, {w}),
                    struct(CAST(-1 AS INT) AS p, CAST(NULL AS BIGINT) AS h),
                    (acc, x) -> IF(acc.h IS NULL OR x.h <= acc.h, x, acc)) AS f,
                  size(gs) AS n))), 1)"""
    )
    return (
        docs.where(F.length("text") >= k + w - 1)
        .select("doc_id", F.explode(sel).alias("e"))
        .select(
            "doc_id",
            F.col("e.n").alias("n_grams"),
            F.col("e.f.h").alias("h"),
            F.col("e.f.p").cast("long").alias("p"),
        )
        .distinct()
    )


# Both oracles share the fingerprint CTEs (DuckDB replays the same
# polynomial-hash windowed-min selection; list_distinct over structs is unimplemented
# there, so the distinct happens after UNNEST — same set either way).
_FP_CTES = f"""
cc AS (
  SELECT doc_id,
    list_transform(generate_series(1, LENGTH(text)),
      i -> CAST(unicode(SUBSTR(text, i, 1)) AS BIGINT)) AS cs
  FROM documents WHERE LENGTH(text) >= {_K + _W - 1}
),
g AS (
  SELECT doc_id,
    list_transform(generate_series(1, GREATEST(len(cs) - {_K - 1}, 0)),
      i -> struct_pack(p := i - 1, h := ((((((((((((((((CAST(0 AS BIGINT) * 257 + cs[i + 0]) % 1099511627689) * 257 + cs[i + 1]) % 1099511627689) * 257 + cs[i + 2]) % 1099511627689) * 257 + cs[i + 3]) % 1099511627689) * 257 + cs[i + 4]) % 1099511627689) * 257 + cs[i + 5]) % 1099511627689) * 257 + cs[i + 6]) % 1099511627689) * 257 + cs[i + 7]) % 1099511627689))
    ) AS gs
  FROM cc
),
sel AS (
  SELECT doc_id, len(gs) AS n_grams,
    list_transform(
      generate_series(1, GREATEST(len(gs) - {_W - 1}, 0)),
      j -> list_reduce(list_slice(gs, j, j + {_W - 1}),
             (acc, x) -> CASE WHEN x.h <= acc.h THEN x ELSE acc END)) AS fps
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, n_grams, u.f.h AS h, u.f.p AS p
  FROM sel, UNNEST(sel.fps) AS u(f)
)"""

_WINNOW_ORACLE = f"""
WITH {_FP_CTES},
post AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM fp GROUP BY h
),
per_doc AS (
  SELECT f.doc_id,
    MAX(f.n_grams) AS n_grams,
    COUNT(*) AS n_fp,
    COUNT(DISTINCT CASE WHEN p.nd >= 2 THEN f.h END) AS n_shared_hashes,
    COUNT(DISTINCT f.h) AS n_hashes
  FROM fp f JOIN post p ON p.h = f.h
  GROUP BY f.doc_id
)
SELECT doc_id,
  CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_fp AS BIGINT) AS n_fingerprints,
  {sql_round_rat('n_fp', 'n_grams', 6)} AS fp_density,
  CAST(n_shared_hashes AS BIGINT) AS n_shared_hashes,
  {sql_round_rat('n_shared_hashes', 'n_hashes', 6)} AS shared_frac
FROM per_doc
ORDER BY doc_id
"""


@register("winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint profile: how many k-gram
    hashes the document produced, how many the window selection kept
    (the paper's expected density is 2/(w+1), ~0.154 at w=12), and
    what fraction of its distinct fingerprint hashes also occur in at
    least one other document — the per-doc overlap exposure a corpus
    audit reads before running pair detection. One corpus scan with
    in-row extraction, a distinct, one posting aggregation, one join
    back; every aggregation map-side combinable."""
    docs = _docs(spark, sf_dir)
    # fp feeds two plan branches (posting counts + the join back) and
    # the pairs query: materialize the extraction once per corpus.
    fp = scratch("winnow", docs, lambda: _fingerprints(docs))
    post = fp.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    per_doc = (
        fp.join(post, "h")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count("*").alias("n_fp"),
            F.count_distinct(
                F.when(F.col("nd") >= 2, F.col("h"))
            ).alias("n_shared_hashes"),
            F.count_distinct("h").alias("n_hashes"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_fp").cast("bigint").alias("n_fingerprints"),
        # integer-exact fractions (round_rat)
        round_rat("n_fp", "n_grams", 6).alias("fp_density"),
        F.col("n_shared_hashes").cast("bigint").alias("n_shared_hashes"),
        round_rat("n_shared_hashes", "n_hashes", 6).alias("shared_frac"),
    ).orderBy("doc_id")


_PAIRS_ORACLE = f"""
WITH {_FP_CTES},
dh AS (SELECT DISTINCT doc_id, h FROM fp),
post AS (
  SELECT h, COUNT(*) AS nd FROM dh GROUP BY h
  HAVING COUNT(*) BETWEEN 2 AND {_MAX_POSTING}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM dh a
  JOIN post p ON p.h = a.h
  JOIN dh b ON b.h = a.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {_MIN_SHARED}
),
sizes AS (SELECT doc_id, COUNT(*) AS n_h FROM dh GROUP BY doc_id)
SELECT p.doc_a, p.doc_b, CAST(p.n_shared AS BIGINT) AS n_shared,
  ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(sa.n_h, sb.n_h), 6)
    AS overlap_coef
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
ORDER BY n_shared DESC, doc_a, doc_b
LIMIT {_TOP_PAIRS}
"""


@register("winnowing_pairs", oracle=_PAIRS_ORACLE)
def winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair detection from winnowing fingerprints: top
    pairs by count of shared selected hashes, with the overlap
    coefficient (shared / smaller doc's fingerprint set). Pairs
    generate IN-POSTING (per shared hash, from the sorted in-row doc
    list — never a corpus self-join) and hot boilerplate hashes with
    postings above ``_MAX_POSTING`` docs are excluded on both engines,
    bounding the expansion at |posting|^2 <= 50^2. The guarantee
    threshold means any >=19-char shared substring produces at least
    one shared fingerprint, so lightly-edited mirrors surface here
    even when exact-hash dedup misses them."""
    docs = _docs(spark, sf_dir)
    dh = (
        scratch("winnow", docs, lambda: _fingerprints(docs))
        .select("doc_id", "h")
        .distinct()
    )
    sizes = dh.groupBy("doc_id").agg(F.count("*").alias("n_h"))
    posting = (
        dh.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds").between(2, _MAX_POSTING))
    )
    pairs = (
        posting.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> transform("
                    "slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .groupBy(F.col("e.a").alias("doc_a"), F.col("e.b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= _MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_h").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_h").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double") / F.least("na", "nb"), 6
            ).alias("overlap_coef"),
        )
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
        .limit(_TOP_PAIRS)
    )
