"""Deduplication operators over the ``documents`` table: exact,
exact n-gram Jaccard (inverted index), MinHash+LSH, SimHash.

Scale design: nothing here is O(n^2). Exact dedup is a hash-groupBy.
Jaccard runs on an inverted shingle index (pairs are generated only
for documents sharing a shingle). MinHash/SimHash candidate
generation goes through LSH band buckets, so comparisons happen only
inside buckets. All hashing/signature math is JVM-side expressions
(xxhash64 + higher-order array functions) — no Python UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    materialize,
    remember,
    round_rat,
    scratch,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register

# 3-word shingles as the similarity unit. The word array is projected
# once (`_w`) before the transform — inlining split(text) into the
# lambda would re-split the text for every shingle index (O(words^2)
# splits per document; Catalyst's common-subexpression elimination
# does not reach inside lambda bodies).
_SHINGLE_FROM_WORDS = (
    "array_distinct(transform(sequence(1, greatest(size(_w) - 2, 1)),"
    " i -> concat_ws(' ', slice(_w, i, 3))))"
)


def _shingled(docs: DataFrame) -> DataFrame:
    """doc_id + distinct 3-word shingle array."""
    return docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("_w")
    ).select("doc_id", F.expr(_SHINGLE_FROM_WORDS).alias("sh"))

_JACCARD_TAU = 0.5

# ---------------------------------------------------------------
# Portable string hash for the probabilistic dedup tier (round-6
# verdict item 7). xxhash64 is JVM-only, which forced
# dedup_minhash_lsh / dedup_simhash onto rows-only correctness
# checks; the explicit Horner polynomial below (same base/modulus as
# the winnowing fingerprints, C112) is replayed bit-for-bit by
# DuckDB, so both queries now carry hash-exact oracles. The 40-bit
# prime modulus keeps every intermediate (acc*257 + char, and the
# minhash permutations' a*h + b) inside int64.
_PH_B = 257
_PH_M = 1099511627689  # 40-bit prime


def _horner_spark(s: str) -> str:
    """Spark SQL fragment: Horner hash of string expression ``s``."""
    return (
        f"aggregate(transform(sequence(1, length({s})), i ->"
        f" CAST(ascii(substring({s}, i, 1)) AS BIGINT)), CAST(0 AS BIGINT),"
        f" (acc, x) -> (acc * {_PH_B} + x) % {_PH_M})"
    )


def _horner_sql(s: str) -> str:
    """DuckDB twin of :func:`_horner_spark` (unicode == Spark-4
    ascii codepoint semantics — pinned by the winnowing parity test)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
        f"range(1, len({s}) + 1), i -> CAST(unicode(SUBSTR({s}, i, 1)) AS BIGINT))),"
        f" (acc, x) -> (acc * {_PH_B} + x) % {_PH_M})"
    )


def _horner_py(s: str) -> int:
    """Pure-Python twin (plan-time constants, e.g. LSH hyperplanes)."""
    acc = 0
    for ch in s:
        acc = (acc * _PH_B + ord(ch)) % _PH_M
    return acc


def _minhash_perm_params(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations
    ``(a*h + b) % _PH_M``. Generated by an explicit LCG written out
    here (no RNG import) so both engines — and any future reader —
    see the exact constants. ``a`` is odd and < 2^22, keeping
    ``a*h < 2^62`` for 40-bit ``h``."""
    x, out = 1234567, []
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = (x % ((1 << 22) - 2)) | 1
        x = (x * 1103515245 + 12345) % (1 << 31)
        out.append((a, x))
    return out

# MinHash parameters: 32 permutations in 8 bands of 4 rows.
# P(candidate | jaccard j) = 1-(1-j^4)^8: ~0.9998 at j=0.9 (where the
# near-dup mass lives), ~0.001 at j=0.15 (the unrelated-pair mass for
# shared-vocabulary corpora) — high recall with ~100x fewer false
# candidate pairs than 2-row bands.
_N_PERM = 32
_BAND_ROWS = 4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents through the one fan-out entry point
    (``catalog.spread``), hashed on the stable key: an under-split scan
    (the sandbox tables are one parquet file) would pin the shingle
    explode and pair generation to a single task."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return spread(docs, sf_dir, "documents", "doc_id")


# ---------------------------------------------------------------- C1
_EXACT_ORACLE = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


@register("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep the lowest doc_id
    per content hash. One shuffle on the hash; map-side partial
    aggregation keeps the exchange tiny even with heavy duplication,
    so the scan is not fanned out."""
    return (
        load_tables(spark, sf_dir, ("documents",))["documents"]
        .groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------- C4
_NGRAM_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
  CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) AS jaccard
FROM w a JOIN w b ON a.doc_id < b.doc_id
WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= {_JACCARD_TAU}
"""



def _hashed_shingles(docs: DataFrame, reuse: bool) -> DataFrame:
    """doc_id + sorted xxhash64 shingle array + size, materialized to
    scratch — the shared physical input of the Jaccard AND containment
    pair generators (``reuse``: one keyed entry per corpus, so it is
    tokenized+hashed once even across the two operators)."""

    def build() -> DataFrame:
        return _shingled(docs).select(
            "doc_id",
            F.array_sort(F.expr("transform(sh, s -> xxhash64(s))")).alias("hs"),
        ).select("doc_id", "hs", F.size("hs").alias("n_sh"))

    return scratch("ngram-hashed", docs, build) if reuse else materialize(build())


# Auto-mode posting-size bound: the in-lambda pair flatten allocates
# |posting|^2/2 structs in one task — at 1024 that's ~0.5M structs
# (~16 MB), comfortably inside task memory; the sf1 soak's observed
# OOM posting (13,410 members -> ~90M structs) is 13x over it. Normal
# (Heaps-law) corpora max out far below the bound (sf0.1: 25), so the
# guard stays off for them and they pay only the probe aggregation.
_HOT_AUTO_BOUND = 1024


def _resolve_hot(
    docs: DataFrame, inv: DataFrame, hot_threshold, reuse: bool
) -> DataFrame | None:
    """Shared hot-shingle policy for the jaccard/containment pair
    generators. ``"auto"`` (the default): one cheap map-side-combined
    count over the posting rows finds shingles whose posting exceeds
    ``_HOT_AUTO_BOUND``; if none exist — every corpus obeying Heaps'
    law — the guard stays off and the plan is the unchanged in-lambda
    one. A saturated feature space (the failure mode the sf1 soak
    exposed: linear posting growth on a fixed vocabulary) engages the
    guard automatically, so the default path can no longer OOM on a
    data property the caller would otherwise have to know in advance.
    An explicit int forces the guard at that bound (tests route every
    posting through it); ``None`` forces it off. A non-None result is
    materialized to scratch: three plan branches consume it (anti,
    semi, and the emptiness probe) and the count agg should run once.

    With ``reuse`` the "auto" decision is remembered per corpus
    version (:func:`_helpers.remember`) and an engaged hot set is
    keyed scratch: posting sizes are a property of the corpus, so
    every query deriving from it (jaccard / containment / removal /
    components / source-matrix) pays the probe aggregation once per
    corpus version, like the postings themselves. An engaged "auto"
    guard then aggregates twice on its first call (probe, then
    write)."""
    if hot_threshold is None:
        return None
    bound = _HOT_AUTO_BOUND if hot_threshold == "auto" else int(hot_threshold)

    def hot_set() -> DataFrame:
        return (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("psz"))
            .where(F.col("psz") > bound)
            .select("shingle")
        )

    if not reuse:
        hot = materialize(hot_set())
        return None if hot_threshold == "auto" and hot.isEmpty() else hot
    if hot_threshold == "auto" and remember(
        f"ngram-hot:{bound}", docs, lambda: hot_set().isEmpty()
    ):
        return None
    return scratch(f"ngram-hot:{bound}", docs, hot_set)


def _raw_postings(
    docs: DataFrame, hashed: DataFrame, reuse: bool, hot_threshold
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """(postings_raw, inv, hot) — the inverted shingle index shared by
    the Jaccard and containment pair generators: shingle -> UNSORTED
    member structs (doc_id, n_sh, pos), hot shingles excluded,
    single-member postings dropped. ``hashed`` is the caller's
    :func:`_hashed_shingles` frame of ``docs``.

    With ``reuse`` it is keyed scratch per (corpus, hot bound): eight
    registered queries walk this index per sf_dir and each would
    re-run the corpus-wide explode + shingle shuffle per invocation.
    Members are tau-FREE (position instead of a precomputed prefix
    flag) so every threshold derives its own prefix in-row, and
    UNSORTED so each consumer applies its own in-row array_sort —
    collection order never reaches a result. At 100 TB this scratch
    is the one posting shuffle a query would have paid anyway, written
    once per application instead of re-shuffled per query."""
    inv = (
        hashed.select(
            "doc_id", "n_sh", F.posexplode_outer("hs").alias("pos", "shingle")
        )
        .where(F.col("shingle").isNotNull())
    )
    hot = _resolve_hot(docs, inv, hot_threshold, reuse)

    def build() -> DataFrame:
        src = (
            inv.join(F.broadcast(hot), "shingle", "left_anti")
            if hot is not None
            else inv
        )
        return (
            src.groupBy("shingle")
            .agg(F.collect_list(F.struct("doc_id", "n_sh", "pos")).alias("mr"))
            .where(F.size("mr") > 1)
        )

    raw = scratch(f"ngram-postings:{hot_threshold}", docs, build) if reuse else build()
    return raw, inv, hot


def _pref_expr(tau: float) -> str:
    """In-row prefix flag for a posting member ``m``: its position
    falls inside the document's tau-prefix (n - ceil(tau*n) + 1)."""
    return f"m.pos < (m.n_sh - CAST(ceil(m.n_sh * {tau}D) AS INT) + 1)"


def ngram_jaccard_pairs(
    docs: DataFrame,
    tau: float = _JACCARD_TAU,
    reuse: bool = False,
    hot_threshold: int | str | None = "auto",
) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (jaccard >= tau) over any
    documents-shaped frame — the reusable core of dedup_ngram_jaccard
    and the corpus pipeline.

    AllPairs-style prefix filtering (Bayardo et al., WWW'07): shingle
    hashes are sorted into a global order and only a document's first
    ``n - ceil(tau*n) + 1`` shingles (its *prefix*) may open a
    candidate pair. Lossless proof: if none of x's prefix shingles
    occurs in y, the overlap fits inside x's suffix, so
    ``o <= ceil(tau*|x|) - 1 < tau*|x|``; with the length filter
    ``|y| >= tau*|x|`` the required overlap is
    ``ceil(tau/(1+tau)*(|x|+|y|)) >= tau*|x| > o`` — contradiction.
    Pairs sharing only non-prefix shingles on BOTH sides are pruned
    before the shuffle; survivors are verified exactly by
    intersecting full shingle-hash arrays (so the prefix trick can
    only prune, never change a jaccard value).

    The hashed-shingle frame feeds three plan branches (postings and
    both sides of the verify join); Spark would tokenize + hash the
    corpus three times, so it is materialized once (a written scratch
    intermediate, not an in-memory cache — at 100 TB the corpus does
    not fit executor memory) and every branch scans the parquet.
    ``reuse`` additionally shares the intermediate across queries
    deriving from the same input (jaccard / removal / components over
    one sf_dir) as keyed scratch."""
    # Hash shingles to 8-byte keys (collisions are 2^-64 per pair;
    # the oracle parity test would catch one) and sort for the global
    # prefix order.
    hashed = _hashed_shingles(docs, reuse)
    # AUTO hybrid pair generation for saturated feature spaces.
    # Normal corpora obey Heaps' law — the shingle space grows with
    # the corpus, postings stay bounded (sf0.1 max posting: 25) — and
    # the default plan emits pairs in-lambda from collect_list'd
    # postings: one shuffle, one |posting|^2/2 allocation, no joins.
    # A corpus whose feature space SATURATES (the synthetic tables
    # have a 31-word vocabulary, so every possible trigram exists and
    # postings grow linearly with corpus size — measured max 13,410
    # members at 10x sf0.1) makes that one allocation ~90M structs
    # and OOMs the task. The guard: hot shingles (posting size over
    # the bound — see :func:`_resolve_hot` for the auto policy) are
    # BROADCAST-excluded from the posting build; their pairs come
    # from a spillable sort-merge self-join on member rows — same
    # pairs, quadratic work distributed and memory-bounded. Bounded-
    # posting corpora pay only the probe aggregation; only the hot
    # shingles themselves pay the join path.
    #
    # The posting build itself (explode + shingle shuffle) is the
    # keyed :func:`_raw_postings` intermediate; this consumer sorts
    # members and derives its tau-prefix flag IN-ROW, so pairs come
    # out with a_id < b_id exactly as before.
    raw, inv, hot = _raw_postings(docs, hashed, reuse, hot_threshold)
    postings = raw.select(
        F.expr(
            f"array_sort(transform(mr, m -> struct("
            f"m.doc_id AS doc_id, m.n_sh AS n_sh, {_pref_expr(tau)} AS pref"
            f")))"
        ).alias("ms")
    )
    pair_expr = f"""
    flatten(transform(ms, (x, i) ->
      transform(
        filter(slice(ms, i + 2, size(ms)),
               y -> (x.pref OR y.pref)
                AND y.n_sh >= x.n_sh * {tau}D
                AND x.n_sh >= y.n_sh * {tau}D),
        y -> struct(x.doc_id AS a_id, y.doc_id AS b_id,
                    x.n_sh AS n_a, y.n_sh AS n_b))))
    """
    # PPJoin-style count filter (Xiao et al., WWW'08): the groupBy
    # that deduplicates candidate pairs ALSO counts how many prefix-
    # qualifying shingles each pair shares (same shuffle as the old
    # distinct — the count is free). A shared shingle goes uncounted
    # only when it sits in BOTH suffixes, so true overlap
    # o <= c + min(suffix_a, suffix_b) with suffix = ceil(tau*n) - 1;
    # jaccard >= tau needs o >= ceil(tau/(1+tau)*(n_a+n_b)). Pairs
    # whose count can't bridge that gap are pruned LOSSLESSLY before
    # they ever reach the array-intersect verify join — on shared-
    # vocabulary corpora this kills the ~95% of candidates that share
    # a handful of common shingles but nowhere near the threshold.
    suffix_bound = F.least(
        F.ceil(F.col("n_a") * tau) - 1, F.ceil(F.col("n_b") * tau) - 1
    )
    min_overlap = F.ceil((F.col("n_a") + F.col("n_b")) * (tau / (1.0 + tau)))
    all_pairs = (
        postings.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
    )
    if hot is not None:
        pref = F.col("pos") < (
            F.col("n_sh") - F.ceil(F.col("n_sh") * tau) + 1
        )
        hot_members = inv.join(F.broadcast(hot), "shingle", "left_semi")
        ha = hot_members.select(
            "shingle",
            F.col("doc_id").alias("a_id"),
            F.col("n_sh").alias("n_a"),
            pref.alias("pref_a"),
        )
        hb = hot_members.select(
            "shingle",
            F.col("doc_id").alias("b_id"),
            F.col("n_sh").alias("n_b"),
            pref.alias("pref_b"),
        )
        hot_pairs = (
            ha.join(hb, "shingle")
            .where(
                (F.col("a_id") < F.col("b_id"))
                & (F.col("pref_a") | F.col("pref_b"))
                & (F.col("n_b") >= F.col("n_a") * tau)
                & (F.col("n_a") >= F.col("n_b") * tau)
            )
            .select("a_id", "b_id", "n_a", "n_b")
        )
        all_pairs = all_pairs.unionByName(hot_pairs)
    candidates = (
        all_pairs
        .groupBy("a_id", "b_id", "n_a", "n_b")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") + suffix_bound >= min_overlap)
        .select("a_id", "b_id")
    )
    a = hashed.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("hs_a"))
    b = hashed.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("hs_b"))
    n_common = F.size(F.array_intersect("hs_a", "hs_b"))
    jaccard = n_common.cast("double") / (
        F.size("hs_a") + F.size("hs_b") - n_common
    )
    return (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= tau)
    )


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (tau=0.5) via an inverted
    shingle index: pairs are generated only inside shingle postings,
    so cost is O(sum of posting^2), never O(n_docs^2). The DuckDB
    oracle computes the same thing the quadratic way — exact
    agreement is the test that the indexed plan loses nothing."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir), reuse=True)


# ---------------------------------------------------------------- C2
def _portable_hashed_shingles(docs: DataFrame, reuse: bool) -> DataFrame:
    """doc_id + Horner-hashed shingle array, materialized to scratch
    (keyed per corpus with ``reuse``). The exact-jaccard family keeps
    its own xxhash64 frame (:func:`_hashed_shingles`): its oracles never see
    hash VALUES (only set sizes), so the 64-bit JVM hash is the right
    perf/collision tradeoff there — whereas the minhash signature IS
    made of hash values, so its frame must be engine-portable."""

    def build() -> DataFrame:
        return _shingled(docs).select(
            "doc_id",
            F.expr(f"transform(sh, s -> {_horner_spark('s')})").alias("hs"),
        )

    return scratch("ngram-phashed", docs, build) if reuse else materialize(build())


def _minhash_signatures(docs: DataFrame, reuse: bool = False) -> DataFrame:
    """doc_id + array<long> MinHash signature, entirely JVM-side.
    Shingles are Horner-hashed to longs once (materialized); each
    permutation is a columnar ``min((a_i*h + b_i) % p)`` universal-
    hash aggregate over the exploded hashes — 32 codegen'd min-aggs
    with map-side partials (one narrow shuffle on doc_id) rather than
    per-row nested array transforms. Every constant is explicit
    (:func:`_minhash_perm_params`), so the DuckDB oracle replays the
    signature bit-for-bit."""
    # explode_outer: see ngram_jaccard_pairs — the non-outer explode
    # triggers a pushed-down size(sh) > 0 filter that duplicates the
    # shingle computation.
    hashes = (
        _portable_hashed_shingles(docs, reuse)
        .select("doc_id", F.explode_outer("hs").alias("h"))
        .where(F.col("h").isNotNull())
    )
    mins = [
        F.min(F.expr(f"({a} * h + {b}) % {_PH_M}")).alias(f"m{i}")
        for i, (a, b) in enumerate(_minhash_perm_params(_N_PERM))
    ]
    per_doc = hashes.groupBy("doc_id").agg(*mins)
    return per_doc.select(
        "doc_id", F.array(*[f"m{i}" for i in range(_N_PERM)]).alias("sig")
    )


def _band_key_i(i: int) -> str:
    """Spark fragment: the band-``i`` bucket key — the 4 signature
    values joined as a string. Portable by construction (bigint ->
    string casts agree across engines); the string key costs ~50
    bytes on the band shuffle vs 8 for the old xxhash64 key, which
    is noise next to the signature column riding along anyway."""
    return (
        f"array_join(transform(slice(sig, {i * _BAND_ROWS + 1}, {_BAND_ROWS}),"
        f" x -> CAST(x AS STRING)), ',')"
    )


def _minhash_sig_sql() -> str:
    """DuckDB CTEs ending in ``sig(doc_id, sig)`` that replay
    :func:`_minhash_signatures` exactly from ``documents.text``."""
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_PH_M}))"
        for a, b in _minhash_perm_params(_N_PERM)
    )
    return f"""w AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
), hs AS (
  SELECT doc_id, list_transform(sh, s -> {_horner_sql('s')}) AS hs FROM w
), sig AS (
  SELECT doc_id, [{perms}] AS sig FROM hs
)"""


_MINHASH_ORACLE = f"""
WITH {_minhash_sig_sql()},
banded AS (
  SELECT doc_id, sig, band,
    array_to_string(sig[band * {_BAND_ROWS} + 1 : band * {_BAND_ROWS} + {_BAND_ROWS}], ',') AS key
  FROM sig, UNNEST(range({_N_PERM // _BAND_ROWS})) AS t(band)
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
  CAST(len(list_filter(range(1, {_N_PERM} + 1), i -> a.sig[i] = b.sig[i]))
       AS DOUBLE) / {_N_PERM} AS est_jaccard
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 32-perm signatures banded into
    8 buckets of 4; documents sharing any band bucket become a
    candidate pair, scored by signature agreement (estimated Jaccard).
    Hash-exact since round 7: signatures are universal hashes over
    portable Horner shingle hashes, replayed by the DuckDB oracle.

    Scale path: the only shuffles are the band-bucket groupBy and the
    signature re-join; bucket sizes are bounded by collision rate, so
    candidate generation is near-linear in corpus size."""
    docs = _docs(spark, sf_dir)
    sigs = _minhash_signatures(docs, reuse=True)

    n_bands = _N_PERM // _BAND_ROWS
    band_arrays = ", ".join(
        f"named_struct('band', {i}, 'key', {_band_key_i(i)})"
        for i in range(n_bands)
    )
    # The signature rides along through the band explode and pairs are
    # generated inside each bucket (groupBy + collect_list) rather
    # than by a bucket self-join: a self-join would recompute the
    # whole signature pipeline for both sides, doubling the dominant
    # cost. One scan, one shuffle on (band, key). Bucket membership
    # lists are bounded by the band collision rate; a pathological
    # cluster of k identical docs costs k^2 pairs — inherent in the
    # pair output itself, not this plan.
    banded = sigs.select(
        "doc_id", "sig", F.explode(F.expr(f"array({band_arrays})")).alias("b")
    ).select("doc_id", "sig", F.col("b.band").alias("band"), F.col("b.key").alias("key"))

    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pair_expr = f"""
    flatten(transform(ms, (x, i) ->
      transform(slice(ms, i + 2, size(ms)), y ->
        struct(x.doc_id AS a_id, y.doc_id AS b_id,
          CAST(size(filter(zip_with(x.sig, y.sig, (u, v) -> u = v), e -> e))
               AS DOUBLE) / {_N_PERM} AS est_jaccard))))
    """
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .distinct()
    )


# ---------------------------------------------------------------- C14
_REMOVAL_ORACLE = f"""
WITH w AS (
  SELECT doc_id, text,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
), near_drops AS (
  SELECT DISTINCT b.doc_id AS drop_id
  FROM w a JOIN w b ON a.doc_id < b.doc_id
  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= {_JACCARD_TAU}
), exact_keeps AS (
  SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY md5(text)
)
SELECT d.doc_id, d.lang, d.source FROM documents d
WHERE d.doc_id IN (SELECT keep_id FROM exact_keeps)
  AND d.doc_id NOT IN (SELECT drop_id FROM near_drops)
"""


@register("near_dup_removal", oracle=_REMOVAL_ORACLE)
def near_dup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline end-to-end: keep the lowest doc_id per exact
    content hash, then greedily drop the higher id of every near-dup
    pair (exact 3-gram Jaccard >= tau). Two semi/anti joins over the
    already-indexed pair plan — the shape of a production corpus
    dedup pass."""
    docs = _docs(spark, sf_dir)
    exact_keeps = (
        docs.groupBy(F.md5("text").alias("_h")).agg(F.min("doc_id").alias("keep_id"))
    )
    near_drops = (
        dedup_ngram_jaccard(spark, sf_dir).select(F.col("b_id").alias("drop_id")).distinct()
    )
    return (
        docs.join(exact_keeps, docs.doc_id == exact_keeps.keep_id, "left_semi")
        .join(near_drops, docs.doc_id == near_drops.drop_id, "left_anti")
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------- C15
_CORPUS_FILTER_ORACLE = """
WITH m AS (
  SELECT doc_id, lang,
    LEN(string_split_regex(TRIM(text), '\\s+')) AS n_words,
    CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\\s+'))) AS DOUBLE)
      / LEN(string_split_regex(TRIM(text), '\\s+')) AS distinct_ratio
  FROM documents
)
SELECT lang,
  COUNT(*) AS n_docs,
  COUNT(*) FILTER (WHERE n_words BETWEEN 20 AND 5000
                     AND distinct_ratio >= 0.2) AS n_kept
FROM m GROUP BY lang
"""


@register("corpus_filter", oracle=_CORPUS_FILTER_ORACLE)
def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate pass rates per language: the length + lexical
    diversity filter a pretraining corpus pipeline applies before
    dedup. One scan, conditional aggregation."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    return (
        docs.select("lang", n_words.alias("n_words"), distinct_ratio.alias("dr"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("n_words").between(20, 5000) & (F.col("dr") >= 0.2), 1)).alias(
                "n_kept"
            ),
        )
    )


# ---------------------------------------------------------------- C3
# bit j of the signature: a universal hash of the portable word hash,
# reduced mod 2 — 64 engine-replayable pseudo-random bits per word
# (the xxhash64 bit-slicing this replaces was JVM-only). Bit 63's
# power-of-two addend is int64-min, written as (-MAX-1) because
# neither engine parses the bare min-long literal / 1<<63.


def _simhash_bit(j: int, a: int, b: int, h: str = "h") -> str:
    return f"((({a} * {h} + {b}) % {_PH_M}) % 2)"


def _simhash_addend(j: int) -> str:
    if j == 63:
        return "(-9223372036854775807 - 1)"
    return str(1 << j)


def _simhash_oracle() -> str:
    """DuckDB replay of :func:`dedup_simhash` — identical vote /
    signature / chunk constants; the partial sums of the signature
    addends stay in int64 (the min-long addend is ordered last)."""
    params = _minhash_perm_params(64)
    votes = ",\n    ".join(
        f"SUM(CASE WHEN {_simhash_bit(j, a, b)} = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j, (a, b) in enumerate(params)
    )
    sim = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({_simhash_addend(j)} AS BIGINT) ELSE 0 END)"
        for j in range(64)
    )
    chunks = ",\n    ".join(
        " + ".join(
            f"(CASE WHEN v{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        + f" AS ck{c}"
        for c in range(4)
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_horner_sql('w')} AS h
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
), v AS (
  SELECT doc_id,
    {votes}
  FROM t GROUP BY doc_id
), s AS (
  SELECT doc_id, {sim} AS simhash,
    {chunks}
  FROM v
), banded AS (
  SELECT doc_id, simhash, c AS chunk,
    CASE c WHEN 0 THEN ck0 WHEN 1 THEN ck1 WHEN 2 THEN ck2 ELSE ck3 END AS key
  FROM s, UNNEST(range(4)) AS u(c)
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature from word-level
    portable Horner hashes (per-bit +/-1 vote via 64 universal hash
    bits, sign -> bit), candidates generated by matching any of four
    16-bit chunks (finds all pairs with hamming distance <= 3 plus
    lucky further ones), scored by exact hamming distance via
    bit_count(xor). Hash-exact since round 7: every constant is
    explicit, so the DuckDB oracle rebuilds identical signatures.

    The per-bit votes are 64 conditional sums in one groupBy — single
    shuffle on doc_id, no Python, no x64 row explosion."""
    docs = _docs(spark, sf_dir)
    params = _minhash_perm_params(64)
    tokens = docs.select(
        "doc_id", F.explode_outer(F.split(F.col("text"), " ")).alias("w")
    ).where(F.col("w").isNotNull()).select(
        "doc_id", F.expr(_horner_spark("w")).alias("h")
    )
    votes = [
        F.sum(
            F.when(F.expr(_simhash_bit(j, a, b)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j, (a, b) in enumerate(params)
    ]
    per_doc = tokens.groupBy("doc_id").agg(*votes)
    sim_expr = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({_simhash_addend(j)} AS BIGINT) ELSE 0L END)"
        for j in range(64)
    )
    # chunk keys summed from the votes directly (always positive, no
    # sign-extension subtleties to mirror across engines)
    chunk_exprs = [
        " + ".join(
            f"(CASE WHEN v{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        for c in range(4)
    ]
    sigs = per_doc.select(
        "doc_id",
        F.expr(sim_expr).alias("simhash"),
        *[F.expr(e).alias(f"ck{c}") for c, e in enumerate(chunk_exprs)],
    )

    chunks = ", ".join(
        f"named_struct('chunk', {c}, 'key', ck{c})" for c in range(4)
    )
    banded = sigs.select(
        "doc_id", "simhash", F.explode(F.expr(f"array({chunks})")).alias("b")
    ).select("doc_id", "simhash", F.col("b.chunk").alias("chunk"), F.col("b.key").alias("key"))
    # Same single-pass bucket pairing as MinHash: the 64-vote
    # signature aggregation runs once, not once per join side.
    buckets = (
        banded.groupBy("chunk", "key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pair_expr = """
    flatten(transform(ms, (x, i) ->
      transform(slice(ms, i + 2, size(ms)), y ->
        struct(x.doc_id AS a_id, y.doc_id AS b_id,
               bit_count(x.simhash ^ y.simhash) AS hamming))))
    """
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .distinct()
        .where(F.col("hamming") <= 16)
    )


# ---------------------------------------------------------------- C31
def _hashed_side(df: DataFrame, side: str, reuse: bool = False) -> DataFrame:
    """Sorted shingle-hash arrays for one side of the incremental
    join, materialized once (each side feeds its inverted index AND
    the verify join — two plan branches). ``reuse`` additionally
    shares the scratch across calls — the static-corpus side of a
    streaming gate is hashed once, not once per micro-batch."""

    def build() -> DataFrame:
        return _shingled(df).select(
            F.col("doc_id").alias(f"{side}_id"),
            F.array_sort(F.expr("transform(sh, s -> xxhash64(s))")).alias(f"hs_{side}"),
        )

    return scratch(f"hashed-side:{side}", df, build) if reuse else materialize(build())


def _side_inv(h: DataFrame, side: str, tau: float) -> DataFrame:
    """Inverted shingle index with the AllPairs prefix flag: only a
    document's first ``n - ceil(tau*n) + 1`` sorted hashes may OPEN a
    candidate (same lossless argument as ngram_jaccard_pairs —
    cross-side, a qualifying pair must share a prefix shingle of at
    least one side)."""
    n = F.size(f"hs_{side}")
    pl = n - F.ceil(n * tau) + 1
    return (
        h.select(
            f"{side}_id",
            n.alias(f"n_{side}"),
            F.posexplode_outer(f"hs_{side}").alias("pos", "shingle"),
            pl.alias("_pl"),
        )
        .where(F.col("shingle").isNotNull())
        .select(
            f"{side}_id", f"n_{side}", "shingle",
            (F.col("pos") < F.col("_pl")).alias(f"pref_{side}"),
        )
    )


def incremental_candidates(
    new_h: DataFrame, old_h: DataFrame, tau: float = _JACCARD_TAU
) -> DataFrame:
    """Cross-side candidate pairs: share a shingle, pass the size-ratio
    filter, and the shared shingle is in at least one side's prefix.
    Exposed separately so tests can assert the candidate count."""
    return (
        _side_inv(new_h, "new", tau)
        .join(_side_inv(old_h, "old", tau), "shingle")
        .where(
            (F.col("n_old") >= F.col("n_new") * tau)
            & (F.col("n_new") >= F.col("n_old") * tau)
            & (F.col("pref_new") | F.col("pref_old"))
        )
        .select("new_id", "old_id")
        .distinct()
    )


def dedup_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    tau: float = _JACCARD_TAU,
    reuse_corpus: bool = False,
) -> DataFrame:
    """Incremental ingest dedup: drop new documents that exactly match
    or near-duplicate (jaccard >= tau) anything in the existing
    corpus. Asymmetric by construction — the corpus side contributes
    only its content hashes and shingle postings, never pairs within
    itself, so a daily batch pays for |batch| x (posting overlap)
    work, not a corpus self-join. The same length AND AllPairs-prefix
    filters as the self-join variant bound the candidate count; both
    sides' hashed-shingle frames are materialized once.

    ``reuse_corpus`` keeps the corpus-side intermediates (content-hash
    set + hashed shingles) as keyed scratch, so repeated calls against
    the same corpus — a streaming gate's micro-batches — hash the
    corpus once and re-scan the scratch."""

    def hash_corpus() -> DataFrame:
        return corpus.select(F.md5("text").alias("_h")).distinct()

    # exact: content-hash anti join
    corpus_hashes = (
        scratch("corpus-md5", corpus, hash_corpus) if reuse_corpus else hash_corpus()
    )
    fresh = new_docs.join(
        corpus_hashes, F.md5(new_docs["text"]) == corpus_hashes["_h"], "left_anti"
    )
    new_h = _hashed_side(fresh, "new")
    old_h = _hashed_side(corpus, "old", reuse_corpus)
    candidates = incremental_candidates(new_h, old_h, tau)
    n_common = F.size(F.array_intersect("hs_new", "hs_old"))
    jaccard = n_common.cast("double") / (
        F.size("hs_new") + F.size("hs_old") - n_common
    )
    near_dups = (
        candidates.join(new_h, "new_id")
        .join(old_h, "old_id")
        .where(jaccard >= tau)
        .select("new_id")
        .distinct()
    )
    return fresh.join(near_dups, fresh["doc_id"] == near_dups["new_id"], "left_anti")


# ---------------------------------------------------------------- C62
_CONTAIN_TAU = 0.8

_CONTAIN_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
  CAST(ROUND(CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) / LEN(a.sh), 6)
    AS DOUBLE) AS containment
FROM w a JOIN w b
  ON (LEN(a.sh) < LEN(b.sh)
      OR (LEN(a.sh) = LEN(b.sh) AND a.doc_id < b.doc_id))
WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) / LEN(a.sh)
  >= {_CONTAIN_TAU}
"""


def containment_pairs(
    docs: DataFrame,
    tau: float = _CONTAIN_TAU,
    reuse: bool = False,
    hot_threshold: int | str | None = "auto",
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: C(a in b) = |a ∩ b| / |a|
    >= tau, tested with the smaller-shingle-set document as the
    contained side (ties by doc_id). Jaccard misses exactly this case
    — a short document quoted wholesale inside a long one scores
    |a|/|b| under Jaccard (arbitrarily low) but 1.0 under
    containment; it's the dedup signal for quote-inclusion /
    boilerplate-wrapping, the web-corpus case symmetric dedup leaves
    behind.

    Scale: same inverted-index shape as ngram_jaccard_pairs, sharing
    its materialized hashed-shingle intermediate (with ``reuse``, one
    keyed tokenize+hash pass feeds both operators). Prefix filtering
    adapts to the asymmetric threshold: only the CONTAINED side needs
    a prefix — postings sort by (n_sh, doc_id) so the opener x is the
    smaller doc, and a pair opens only on x's first
    n - ceil(tau*n) + 1 shingles (lossless: overlap confined to x's
    suffix is < tau*|x|). The candidate-dedup groupBy counts shared
    x-prefix shingles AND tracks the container-side position of the
    last counted match, giving a positional (PPJoin-style, Xiao et
    al. WWW'08) upper bound that actually prunes:

        o <= c + min(T - 1, n_b - 1 - M_b),   T = ceil(tau * n_a)

    where c counts common shingles whose a-copy sits in a's prefix,
    and M_b is the largest b-position among them. Losslessness: every
    UNCOUNTED common shingle has a-position >= prefix_len, hence a
    larger hash than every counted one (arrays share one global
    ascending hash sort), hence b-position > M_b — so at most
    n_b - 1 - M_b of them exist; and a's suffix holds at most T - 1.
    Pairs whose bound falls below T cannot reach containment tau and
    are dropped before the verify join ships full shingle arrays.
    (The naive bound o <= c + (T - 1) reduces to c >= 1 — true for
    every generated candidate — and prunes nothing; the positional
    term is what bites, e.g. when a's prefix matches only near the
    END of b.) Rides the same 2^-64 hash-collision assumption as the
    Jaccard family."""
    hashed = _hashed_shingles(docs, reuse)
    # Auto hybrid generation, same policy and rationale as
    # ngram_jaccard_pairs (see :func:`_resolve_hot`): hot shingles are
    # broadcast-excluded from the posting build; their pairs come
    # from a spillable self-join on member rows. Bounded-posting
    # corpora resolve to the single in-lambda plan. The posting build
    # is the keyed :func:`_raw_postings` intermediate shared with the
    # Jaccard family; this consumer sorts by (n_sh, doc_id): within
    # flatten/transform the opener x always has the fewer shingles, so
    # the containment direction is fixed at pair-generation time and
    # only x's prefix can open a pair. Each posting keeps its
    # in-document position so the candidate filter can apply the
    # positional bound.
    raw, inv, hot = _raw_postings(docs, hashed, reuse, hot_threshold)
    postings = raw.select(
        F.expr(
            f"array_sort(transform(mr, m -> struct("
            f"m.n_sh AS n_sh, m.doc_id AS doc_id, {_pref_expr(tau)} AS pref,"
            f" m.pos AS pos)))"
        ).alias("ms")
    )
    pair_expr = f"""
    flatten(transform(ms, (x, i) ->
      transform(
        filter(slice(ms, i + 2, size(ms)), y -> x.pref),
        y -> struct(x.doc_id AS a_id, y.doc_id AS b_id, x.n_sh AS n_a,
                    y.n_sh AS n_b, y.pos AS pos_b))))
    """
    min_overlap = F.ceil(F.col("n_a") * tau)
    positional_bound = F.col("c") + F.least(
        F.ceil(F.col("n_a") * tau) - 1,
        F.col("n_b") - 1 - F.col("max_pos_b"),
    )
    all_pairs = (
        postings.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
    )
    if hot is not None:
        pref = F.col("pos") < (
            F.col("n_sh") - F.ceil(F.col("n_sh") * tau) + 1
        )
        hot_members = inv.join(F.broadcast(hot), "shingle", "left_semi")
        ha = hot_members.select(
            "shingle",
            F.col("doc_id").alias("a_id"),
            F.col("n_sh").alias("n_a"),
            pref.alias("pref_a"),
        )
        hb = hot_members.select(
            "shingle",
            F.col("doc_id").alias("b_id"),
            F.col("n_sh").alias("n_b"),
            F.col("pos").alias("pos_b"),
        )
        # the sorted-posting order is (n_sh, doc_id); replicate it in
        # the join condition so the opener is the smaller-set side
        hot_pairs = (
            ha.join(hb, "shingle")
            .where(
                (
                    (F.col("n_a") < F.col("n_b"))
                    | ((F.col("n_a") == F.col("n_b")) & (F.col("a_id") < F.col("b_id")))
                )
                & F.col("pref_a")
            )
            .select("a_id", "b_id", "n_a", "n_b", "pos_b")
        )
        all_pairs = all_pairs.unionByName(hot_pairs)
    candidates = (
        all_pairs
        .groupBy("a_id", "b_id", "n_a", "n_b")
        .agg(F.count("*").alias("c"), F.max("pos_b").alias("max_pos_b"))
        .where(positional_bound >= min_overlap)
        .select("a_id", "b_id")
    )
    a = hashed.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("hs_a"))
    b = hashed.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("hs_b"))
    containment = F.size(F.array_intersect("hs_a", "hs_b")).cast(
        "double"
    ) / F.size("hs_a")
    return (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .select(
            F.col("a_id").alias("contained_id"),
            F.col("b_id").alias("container_id"),
            F.round(containment, 6).alias("containment"),
        )
        .where(F.col("containment") >= tau)
    )


@register("containment_dedup", oracle=_CONTAIN_ORACLE)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`containment_pairs` (tau=0.8),
    sharing the keyed ngram-hashed scratch intermediate."""
    return containment_pairs(_docs(spark, sf_dir), reuse=True)


# ---------------------------------------------------------------- C66
_REVIEW_K = 5

_REVIEW_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
    CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) AS jaccard
  FROM w a JOIN w b ON a.doc_id < b.doc_id
), q AS (
  SELECT a_id, b_id,
    CAST(FLOOR(jaccard * 10) / 10 AS DOUBLE) AS sim_bucket,
    CAST(ROUND(jaccard, 6) AS DOUBLE) AS jaccard,
    ROW_NUMBER() OVER (
      PARTITION BY CAST(FLOOR(jaccard * 10) / 10 AS DOUBLE)
      ORDER BY md5(CAST(a_id AS VARCHAR) || '_' || CAST(b_id AS VARCHAR)),
        a_id, b_id) AS rn
  FROM pairs WHERE jaccard >= {_JACCARD_TAU}
)
SELECT sim_bucket, a_id, b_id, jaccard FROM q WHERE rn <= {_REVIEW_K}
"""


@register("near_dup_review_sample", oracle=_REVIEW_ORACLE)
def near_dup_review_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified QA sample of near-dup pairs: up to
    {k} pairs per similarity decile (0.5, 0.6, ... 1.0), chosen by
    md5 order so the review queue is reproducible across runs and
    partitionings — what a human-in-the-loop dedup-threshold
    calibration actually reads. Composes the indexed pair generator
    (shared hashed-shingle scratch) with the md5-ranked
    exactly-k-per-group pattern (B76); the ranking window partitions
    by decile, bounded at 6 buckets whose populations are the pair
    set, not the corpus."""
    return near_dup_review_sample_frame(_docs(spark, sf_dir), reuse=True)


def near_dup_review_sample_frame(docs: DataFrame, reuse: bool = False) -> DataFrame:
    """Frame-level body of :func:`near_dup_review_sample` (the soak's
    slice check drives it on a corpus subset)."""
    pairs = ngram_jaccard_pairs(docs, reuse=reuse)
    bucket = (F.floor(F.col("jaccard") * 10) / 10).cast("double")
    order_key = F.md5(
        F.concat(
            F.col("a_id").cast("string"), F.lit("_"), F.col("b_id").cast("string")
        )
    )
    w = Window.partitionBy("sim_bucket").orderBy(order_key, "a_id", "b_id")
    return (
        pairs.select(
            bucket.alias("sim_bucket"),
            "a_id",
            "b_id",
            F.round("jaccard", 6).alias("jaccard"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _REVIEW_K)
        .drop("rn")
    )


# ---------------------------------------------------------------- C68
def plan_minhash_bands(
    n_perm: int, tau: float, min_recall: float = 0.9, noise_sim: float = 0.2
) -> dict:
    """LSH parameter planner: among all (bands b, rows r) with
    b*r <= n_perm, pick the config that minimizes the candidate
    probability for unrelated pairs (similarity = ``noise_sim``, the
    shared-vocabulary noise floor) subject to recall at the dedup
    threshold ``tau`` being at least ``min_recall``, where
    P(candidate | j) = 1 - (1 - j^r)^b. This is the calculation
    behind the 8x4 default (see _N_PERM/_BAND_ROWS) — exposed so a
    pipeline can re-plan when it changes tau or signature width
    instead of cargo-culting band counts. Pure driver-side math;
    raises if no config meets the recall floor (the signal to widen
    the signature)."""
    best = None
    for r in range(1, n_perm + 1):
        b = n_perm // r
        if b < 1:
            break
        recall = 1.0 - (1.0 - tau**r) ** b
        if recall < min_recall:
            continue
        fp = 1.0 - (1.0 - noise_sim**r) ** b
        cand = {
            "bands": b,
            "rows": r,
            "perms_used": b * r,
            "recall_at_tau": round(recall, 6),
            "candidate_prob_at_noise": round(fp, 6),
        }
        if best is None or fp < best["candidate_prob_at_noise"]:
            best = cand
    if best is None:
        raise ValueError(
            f"no (bands, rows) within {n_perm} permutations reaches "
            f"recall {min_recall} at tau={tau}; widen the signature"
        )
    return best


# ---------------------------------------------------------------- C91
_CDC_MOD = 8  # expected chunk length ~8 words

# Portable 16-bit word hash shared verbatim with the DuckDB oracle:
# the first 4 hex digits of md5 parsed as an integer. Both engines
# implement RFC-1321 md5 over UTF-8 bytes, so the boundary decisions
# (and therefore the chunking) are bit-identical. Production runs on a
# single engine can swap in xxhash64(word) without changing the plan.
_CDC_SPARK_H16 = "cast(conv(substr(md5(word), 1, 4), 16, 10) as bigint)"
_CDC_SQL_H16 = "CAST(('0x' || substr(md5(word), 1, 4)) AS INTEGER)"

_CDC_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, string_split_regex(TRIM(text), '\\s+') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, source, i AS p, ws[i] AS word
  FROM w, UNNEST(generate_series(1, LEN(ws))) AS t(i)
), fl AS (
  SELECT doc_id, source, p, word,
    CASE WHEN {_CDC_SQL_H16} % {_CDC_MOD} = 0 THEN 1 ELSE 0 END AS bnd
  FROM tok
), ch AS (
  SELECT doc_id, source, p, word,
    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM fl
), chunks AS (
  SELECT doc_id, source, chunk_id,
    md5(string_agg(word, ' ' ORDER BY p)) AS chunk_hash,
    LENGTH(string_agg(word, ' ' ORDER BY p)) AS chunk_bytes
  FROM ch GROUP BY doc_id, source, chunk_id
), hs AS (
  SELECT chunk_hash, COUNT(DISTINCT source) AS n_sources,
    MIN(chunk_bytes) AS chunk_bytes
  FROM chunks GROUP BY chunk_hash
), per AS (
  SELECT c.source, c.chunk_hash, COUNT(*) AS cnt,
    MIN(c.chunk_bytes) AS chunk_bytes, MIN(h.n_sources) AS n_sources
  FROM chunks c JOIN hs h USING (chunk_hash)
  GROUP BY c.source, c.chunk_hash
)
SELECT source,
  CAST(SUM(cnt) AS BIGINT) AS n_chunks,
  CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
  CAST(COUNT(*) FILTER (WHERE n_sources >= 2) AS BIGINT) AS n_shared_chunks,
  CAST(SUM(cnt * chunk_bytes) AS BIGINT) AS bytes_total,
  CAST(SUM(chunk_bytes) AS BIGINT) AS bytes_unique,
  {sql_round_rat('SUM(cnt * chunk_bytes) - SUM(chunk_bytes)',
                 'SUM(cnt * chunk_bytes)', 6)} AS dedup_ratio
FROM per GROUP BY source
"""


def cdc_chunk_dedup_frame(docs: DataFrame, mod: int = _CDC_MOD) -> DataFrame:
    """Content-defined-chunking dedup profile (the rolling-hash
    boundary trick of LBFS/rsync applied at word granularity): a word
    whose 16-bit hash is 0 mod {mod} closes a chunk, so chunk
    boundaries are CONTENT-anchored — insert or delete a sentence and
    only the chunks touching the edit change identity, which is what
    makes chunk-level storage dedup robust where fixed-size blocks
    are not. Chunks are identified by md5 of their text; per source
    the report gives chunk counts, unique-chunk counts, how many of
    its distinct chunks also appear in ANOTHER source, and the byte
    dedup ratio a chunk-store would realize.

    Scale: tokenize is one scan; the boundary prefix-count is a
    per-document window (bounded by doc length, embarrassingly
    parallel); chunk assembly groups by (doc, chunk), written once as
    keyed scratch. A query aggregates the chunks per (source,
    chunk_hash), map-side combinable, and counts a hash's sources as
    the rows of its ``chunk_hash`` window over that aggregate, so
    there is no second aggregate branch and no join back. No pairwise
    joins anywhere — dedup detection is hash-groupBy, the same shape
    as ``dedup_exact`` one level below documents."""

    def build() -> DataFrame:
        tok = docs.select(
            "doc_id",
            "source",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("p", "word"),
        ).withColumn(
            "bnd",
            F.when(F.expr(_CDC_SPARK_H16) % mod == 0, 1).otherwise(0),
        )
        w = (
            Window.partitionBy("doc_id")
            .orderBy("p")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        ch = tok.withColumn("chunk_id", F.coalesce(F.sum("bnd").over(w), F.lit(0)))
        chunk_text = F.expr(
            "array_join(transform(array_sort(collect_list(struct(p, word))),"
            " s -> s.word), ' ')"
        )
        return (
            ch.groupBy("doc_id", "source", "chunk_id")
            .agg(chunk_text.alias("ctext"))
            .select(
                "source",
                F.md5("ctext").alias("chunk_hash"),
                F.length("ctext").alias("chunk_bytes"),
            )
        )

    chunks = scratch(f"cdc-chunks:{mod}", docs, build)
    # one row per (source, chunk_hash), so the rows sharing a hash
    # count its distinct sources
    per = (
        chunks.groupBy("source", "chunk_hash")
        .agg(F.count("*").alias("cnt"), F.min("chunk_bytes").alias("chunk_bytes"))
        .withColumn(
            "n_sources", F.count("*").over(Window.partitionBy("chunk_hash"))
        )
    )
    return per.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("n_unique_chunks"),
        F.sum(F.when(F.col("n_sources") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_shared_chunks"),
        F.sum(F.col("cnt") * F.col("chunk_bytes"))
        .cast("bigint")
        .alias("bytes_total"),
        F.sum("chunk_bytes").cast("bigint").alias("bytes_unique"),
        # integer-exact ratio: (total - unique)/total bytes
        round_rat(
            "sum(cnt * chunk_bytes) - sum(chunk_bytes)",
            "sum(cnt * chunk_bytes)",
            6,
        ).alias("dedup_ratio"),
    )


@register("cdc_chunk_dedup", oracle=_CDC_ORACLE)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`cdc_chunk_dedup_frame` over the
    documents table."""
    return cdc_chunk_dedup_frame(load_tables(spark, sf_dir, ("documents",))["documents"])


# ---------------------------------------------------------------- D19
# Hash-scheme stamp for persisted MinHash indexes. Bumped when the
# signature/band-key construction changes (r7: xxhash64 bigints ->
# portable Horner/universal-hash string keys); a probe checks it so a
# pre-change index raises instead of admitting every duplicate via an
# empty candidate join.
_MINHASH_INDEX_FORMAT = "horner-universal-v2"


def _band_key_expr() -> str:
    # same portable per-band key as dedup_minhash_lsh (_band_key_i):
    # index and inline paths must bucket identically, and the string
    # key keeps the persisted index engine-replayable
    n_bands = _N_PERM // _BAND_ROWS
    return ", ".join(
        f"named_struct('band', {i}, 'key', {_band_key_i(i)})"
        for i in range(n_bands)
    )


def minhash_index_build(docs: DataFrame, index_path: str) -> dict:
    """Persist the MinHash LSH index as a lake artifact — the
    production shape of corpus dedup, symmetric with the IVF index
    (C86): a dedup SERVICE hashes the corpus once at index time and
    every daily/streaming batch joins against the stored band buckets
    instead of re-tokenizing terabytes per batch (the inline
    ``dedup_incremental`` path re-derives corpus scratch per
    application; this survives across applications and ships to a
    metastore like any table).

    Layout: ``sig/`` = (doc_id, 32-long signature); ``bands/`` =
    (key, doc_id) partitioned by band id, so the candidate join
    co-partitions on the same (band, key) the probe side produces;
    ``_format.json`` stamps the hash scheme so a probe against an
    index built under a DIFFERENT scheme fails loudly instead of
    silently matching nothing. Returns {n_docs, n_bands} for the
    caller's manifest."""
    import json as _json
    import os

    sigs = _minhash_signatures(docs)
    sigs.write.mode("overwrite").parquet(index_path + "/sig")
    with open(os.path.join(index_path, "_format.json"), "w") as fh:
        _json.dump({"format": _MINHASH_INDEX_FORMAT}, fh)
    spark = docs.sparkSession
    stored = spark.read.parquet(index_path + "/sig")
    banded = stored.select(
        "doc_id", F.explode(F.expr(f"array({_band_key_expr()})")).alias("b")
    ).select(F.col("b.band").alias("band"), F.col("b.key").alias("key"), "doc_id")
    banded.write.mode("overwrite").partitionBy("band").parquet(
        index_path + "/bands"
    )
    return {
        "n_docs": stored.count(),
        "n_bands": _N_PERM // _BAND_ROWS,
    }


def minhash_index_query(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Probe the stored index with a batch of NEW documents: the batch
    is signed (only the batch is tokenized — the corpus work was paid
    at build time), its band keys join the stored bucket table on
    (band, key), and candidates are scored by signature agreement
    against the stored signatures. Returns (new_id, corpus_id,
    est_jaccard >= threshold) — the admit/drop decision feed for an
    ingest gate.

    Scale: batch-sized work plus one join per side against the index;
    the band join shuffles on (band, key) — ~50-byte string keys
    (portable since r7), bucket lists bounded by collision rate — and
    the signature re-join fetches
    only candidate rows."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import recover_dir

    # Heal an interrupted compact swap (live dir moved aside, staged
    # promotion crashed) before reading.
    for part in ("bands", "sig"):
        recover_dir(os.path.join(index_path, part))
    import json as _json

    fmt_path = os.path.join(index_path, "_format.json")
    stored = None
    if os.path.exists(fmt_path):
        with open(fmt_path) as fh:
            stored = _json.load(fh).get("format")
    if stored != _MINHASH_INDEX_FORMAT:
        raise ValueError(
            f"minhash index at {index_path} has format {stored!r}, this build "
            f"probes {_MINHASH_INDEX_FORMAT!r} — rebuild with minhash_index_build "
            "(a cross-format probe would silently match nothing)"
        )
    new_sigs = _minhash_signatures(new_docs)
    probe = new_sigs.select(
        F.col("doc_id").alias("new_id"),
        F.col("sig").alias("new_sig"),
        F.explode(F.expr(f"array({_band_key_expr()})")).alias("b"),
    ).select(
        "new_id", "new_sig", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    bands = spark.read.parquet(index_path + "/bands").select(
        "band", "key", F.col("doc_id").alias("corpus_id")
    )
    cand = (
        probe.join(bands, ["band", "key"])
        .select("new_id", "new_sig", "corpus_id")
        .distinct()
    )
    sig = spark.read.parquet(index_path + "/sig").select(
        F.col("doc_id").alias("corpus_id"), F.col("sig").alias("corpus_sig")
    )
    est = (
        F.size(
            F.expr("filter(zip_with(new_sig, corpus_sig, (u, v) -> u = v), e -> e)")
        ).cast("double")
        / _N_PERM
    )
    return (
        cand.join(sig, "corpus_id")
        .select("new_id", "corpus_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_est_jaccard)
    )


# ---------------------------------------------------------------- C99
_SRC_MATRIX_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
), pairs AS (
  SELECT LEAST(a.source, b.source) AS source_a,
    GREATEST(a.source, b.source) AS source_b,
    CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) AS jaccard
  FROM w a JOIN w b ON a.doc_id < b.doc_id
  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)))
      >= {_JACCARD_TAU}
)
SELECT source_a, source_b,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(ROUND(AVG(jaccard), 6) AS DOUBLE) AS mean_jaccard
FROM pairs GROUP BY source_a, source_b
"""


@register("near_dup_source_matrix", oracle=_SRC_MATRIX_ORACLE)
def near_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which SOURCES near-duplicate each other: the exact Jaccard pair
    set rolled up to an (unordered) source-pair matrix with pair
    counts and mean similarity — the mirror-site / syndication
    detector a crawl curator reads before deciding which source to
    drop wholesale (``source_overlap_matrix`` answers this for exact
    copies; this catches the lightly-edited mirrors it misses).

    Scale: rides ``ngram_jaccard_pairs`` unchanged (AllPairs prefix +
    PPJoin count filters, shared hashed-shingle scratch), then two
    broadcast-sized joins to attach sources and one
    map-side-combinable rollup — the matrix is |sources|^2 at most."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), reuse=True)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("mean_jaccard"),
        )
    )


def minhash_index_compact(spark: SparkSession, index_path: str) -> dict:
    """Compaction for the streaming-maintained index: E31 appends one
    small file set per micro-batch; periodically rewrite ``sig/`` and
    ``bands/`` consolidated (the D3 compaction policy applied to the
    index artifact) so probe-side scans stay O(partitions), not
    O(batches). Results are unchanged by construction — the rewrite
    is a read + coalesced write of the same rows, staged then
    atomically swapped (live dir moved aside before the staged one is
    promoted — a crash mid-swap never leaves the index missing; the
    probe side restores the aside copy). Returns file counts
    before/after."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import swap_dir

    def _n_files(p):
        return sum(
            1
            for root, _d, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    before = _n_files(index_path)
    sig = spark.read.parquet(index_path + "/sig")
    sig.coalesce(max(1, sig.rdd.getNumPartitions() // 8)).write.mode(
        "overwrite"
    ).parquet(index_path + "/sig_staged")
    bands = spark.read.parquet(index_path + "/bands")
    (
        bands.repartition("band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(index_path + "/bands_staged")
    )
    for part in ("sig", "bands"):
        swap_dir(os.path.join(index_path, part), os.path.join(index_path, part + "_staged"))
    return {"files_before": before, "files_after": _n_files(index_path)}


# ---------------------------------------------------------------- C121
_EDIT_ORACLE = f"""
WITH base AS ({_REVIEW_ORACLE}),
j AS (
  SELECT b.sim_bucket, b.a_id, b.b_id, b.jaccard,
    levenshtein(da.text, db.text) AS edit_distance,
    GREATEST(LENGTH(da.text), LENGTH(db.text)) AS max_len
  FROM base b
  JOIN documents da ON da.doc_id = b.a_id
  JOIN documents db ON db.doc_id = b.b_id
)
SELECT sim_bucket, a_id, b_id, jaccard,
  CAST(edit_distance AS BIGINT) AS edit_distance,
  ROUND(CAST(1 AS DOUBLE)
        - CAST(edit_distance AS DOUBLE) / max_len, 6) AS edit_sim
FROM j ORDER BY sim_bucket, a_id, b_id
"""


@register("near_dup_edit_distance", oracle=_EDIT_ORACLE)
def near_dup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification tier over the near-dup REVIEW
    SAMPLE: exact Levenshtein (and its normalized similarity
    1 - d/max_len) for each sampled pair — the character-level ground
    truth a reviewer compares against the shingle Jaccard when
    calibrating the dedup threshold (high Jaccard + low edit
    similarity exposes shingle-set aliasing; the reverse exposes
    word-order rewrites Jaccard forgives). Levenshtein is O(len^2)
    per pair, which is exactly why it runs on the BOUNDED md5-ranked
    sample (<= 5 pairs x 6 deciles), never the corpus: the expensive
    exact metric rides the cheap indexed candidates — the standard
    verify-tier shape. Both engines ship the same built-in, so the
    oracle is integer-exact."""
    sample = near_dup_review_sample(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    da = docs.select(F.col("doc_id").alias("a_id"), F.col("text").alias("ta"))
    db = docs.select(F.col("doc_id").alias("b_id"), F.col("text").alias("tb"))
    return (
        sample.join(da, "a_id")
        .join(db, "b_id")
        .select(
            "sim_bucket",
            "a_id",
            "b_id",
            "jaccard",
            F.levenshtein("ta", "tb").cast("bigint").alias("edit_distance"),
            F.round(
                F.lit(1.0).cast("double")
                - F.levenshtein("ta", "tb").cast("double")
                / F.greatest(F.length("ta"), F.length("tb")),
                6,
            ).alias("edit_sim"),
        )
        .orderBy("sim_bucket", "a_id", "b_id")
    )
