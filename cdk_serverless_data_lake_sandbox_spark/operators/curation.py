"""Corpus-curation operators: the compliance / contamination /
mixing passes a pretraining-data pipeline runs after cleaning and
dedup — PII density scanning, intra-document repetition scoring,
benchmark-contamination checks, and domain mixing weights.

All batch paths are JVM-side expressions over one scan (regexp /
array functions inside whole-stage codegen); the contamination check
reuses the inverted-index shape of the dedup family, so nothing here
is O(n^2). Each operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    round_rat,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


# ---------------------------------------------------------------- C35
# Patterns restricted to syntax Java regex and RE2 interpret
# identically (no backrefs, no lookaround).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_ORACLE = f"""
WITH m AS (
  SELECT source,
    LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
    LEN(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone,
    LEN(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ip
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_email) AS BIGINT) AS total_emails,
  CAST(SUM(n_phone) AS BIGINT) AS total_phones,
  CAST(SUM(n_ip) AS BIGINT) AS total_ips,
  COUNT(*) FILTER (WHERE n_email + n_phone + n_ip > 0) AS n_docs_with_pii
FROM m GROUP BY source
"""


@register("pii_scan", oracle=_PII_ORACLE)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII density per source: email / phone / IPv4 pattern counts,
    the redaction-planning profile a corpus compliance pass produces.
    One scan, conditional aggregation; patterns stay inside codegen
    (regexp_extract_all), so this runs at parquet-scan speed and the
    same plan handles 100 TB."""
    d = _docs(spark, sf_dir)

    def hits(pattern: str) -> F.Column:
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0)))

    m = d.select(
        "source",
        hits(_EMAIL_RE).alias("n_email"),
        hits(_PHONE_RE).alias("n_phone"),
        hits(_IPV4_RE).alias("n_ip"),
    )
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("total_emails"),
        F.sum("n_phone").cast("bigint").alias("total_phones"),
        F.sum("n_ip").cast("bigint").alias("total_ips"),
        F.count(
            F.when(F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0, 1)
        ).alias("n_docs_with_pii"),
    )


# ---------------------------------------------------------------- C36
_REP_ORACLE = """
WITH g AS (
  SELECT doc_id, lang,
    greatest(len(string_split(text, ' ')) - 2, 1) AS n_grams,
    len(list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))) AS n_distinct
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(ROUND(AVG(1.0 - CAST(n_distinct AS DOUBLE) / n_grams), 6) AS DOUBLE)
    AS avg_rep_ratio,
  COUNT(*) FILTER (WHERE 1.0 - CAST(n_distinct AS DOUBLE) / n_grams > 0.2)
    AS n_high_rep
FROM g GROUP BY lang
"""


@register("doc_repetition", oracle=_REP_ORACLE)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score (the Gopher/C4-style repetition
    filter): fraction of a document's word 3-grams that are duplicates
    of an earlier 3-gram in the SAME document. Templated / spammy
    pages score high and get filtered before training. One scan; the
    word array is projected once so the lambda never re-splits."""
    d = _docs(spark, sf_dir)
    words = d.select("doc_id", "lang", F.split(F.col("text"), " ").alias("_w"))
    shingles = "transform(sequence(1, greatest(size(_w) - 2, 1)), i -> concat_ws(' ', slice(_w, i, 3)))"
    g = words.select(
        "lang",
        F.greatest(F.size("_w") - 2, F.lit(1)).alias("n_grams"),
        F.size(F.expr(f"array_distinct({shingles})")).alias("n_distinct"),
    )
    rep = 1.0 - F.col("n_distinct").cast("double") / F.col("n_grams")
    return g.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(rep), 6).alias("avg_rep_ratio"),
        F.count(F.when(rep > 0.2, 1)).alias("n_high_rep"),
    )


# ---------------------------------------------------------------- C37
_N_CONTAM = 5  # benchmark n-gram size (words)


def _contam_gram_seq(arr: str) -> str:
    return f"sequence(1, greatest(size({arr}) - {_N_CONTAM - 1}, 1))"


def _contam_gram_hash(arr: str) -> str:
    return f"xxhash64(concat_ws(' ', slice({arr}, i, {_N_CONTAM})))"


def contam_gram_hashes(arr: str = "_w") -> str:
    """``array<long>`` of the word-5-gram hashes of word-array column
    ``arr`` — THE shared shingle convention of the contamination
    family. The batch detector (C37), the span stripper (C123), the
    persisted index builder (D29) and the streaming gate (E44) must
    hash identically or the gate's semi join silently matches nothing
    (the cross-format failure the minhash index's ``_format.json``
    guards against) — so all four compose this ONE expression instead
    of carrying four string literals (r8 review)."""
    return f"transform({_contam_gram_seq(arr)}, i -> {_contam_gram_hash(arr)})"


def contam_gram_structs(arr: str = "_w") -> str:
    """Position-tagged variant: ``array<struct<pos:int, g:long>>``
    (the stripper needs the flagged START positions, same hashes)."""
    return (
        f"transform({_contam_gram_seq(arr)},"
        f" i -> struct(i AS pos, {_contam_gram_hash(arr)} AS g))"
    )

_CONTAM_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, (doc_id % 20) = 0 AS is_bench,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - {_N_CONTAM - 1}, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+{_N_CONTAM - 1}], ' '))) AS gs
  FROM documents
), bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE is_bench
), exploded AS (
  SELECT doc_id, unnest(gs) AS g FROM grams WHERE NOT is_bench
), hits AS (
  SELECT DISTINCT doc_id FROM exploded WHERE g IN (SELECT g FROM bench)
)
SELECT
  (SELECT COUNT(*) FROM grams WHERE is_bench) AS n_benchmark,
  (SELECT COUNT(*) FROM grams WHERE NOT is_bench) AS n_corpus,
  (SELECT COUNT(*) FROM hits) AS n_contaminated
"""


@register("contamination_check", oracle=_CONTAM_ORACLE)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag corpus documents sharing any
    word 5-gram with a held-out benchmark set (here a deterministic
    5% doc_id split standing in for an eval suite). Same asymmetric
    inverted-index shape as dedup_incremental — the benchmark side
    contributes a distinct-gram index (tiny), the corpus side streams
    through one semi join on the gram hash. Never O(corpus x bench
    docs); at 100 TB the gram index broadcasts."""
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id",
        (F.pmod("doc_id", F.lit(20)) == 0).alias("is_bench"),
        F.split(F.col("text"), " ").alias("_w"),
    )
    shingles = f"array_distinct({contam_gram_hashes('_w')})"
    grams = words.select("doc_id", "is_bench", F.expr(shingles).alias("gs"))
    bench_grams = (
        grams.where("is_bench")
        .select(F.explode_outer("gs").alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
    )
    corpus = grams.where(~F.col("is_bench"))
    corpus_grams = corpus.select(
        "doc_id", F.explode_outer("gs").alias("g")
    ).where(F.col("g").isNotNull())
    contaminated = (
        corpus_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        grams.groupBy()
        .agg(
            F.count(F.when(F.col("is_bench"), 1)).alias("n_benchmark"),
            F.count(F.when(~F.col("is_bench"), 1)).alias("n_corpus"),
        )
        .crossJoin(
            # 1-row aggregate: broadcast explicitly rather than relying
            # on AQE to notice the size at runtime
            F.broadcast(contaminated.agg(F.count("*").alias("n_contaminated")))
        )
    )


# ---------------------------------------------------------------- C123
_DECON_ORACLE = f"""
WITH w AS (
  SELECT doc_id, (doc_id % 20) = 0 AS is_bench,
    string_split(text, ' ') AS ws
  FROM documents
), g AS (
  SELECT doc_id, is_bench, i AS pos,
    array_to_string(ws[i:i+{_N_CONTAM - 1}], ' ') AS gram
  FROM w, unnest(generate_series(1, greatest(len(ws) - {_N_CONTAM - 1}, 1)))
    AS t(i)
), bench AS (
  SELECT DISTINCT gram FROM g WHERE is_bench
), flags AS (
  SELECT doc_id, list(pos) AS fs
  FROM g WHERE NOT is_bench AND gram IN (SELECT gram FROM bench)
  GROUP BY doc_id
), kept AS (
  SELECT w.doc_id, w.ws,
    list_transform(
      list_filter(
        list_transform(w.ws, (x, i) -> {{'w': x, 'p': i}}),
        s -> len(list_filter(COALESCE(f.fs, []),
                 st -> st <= s.p AND s.p <= st + {_N_CONTAM - 1})) = 0),
      s -> s.w) AS kw
  FROM w LEFT JOIN flags f USING (doc_id)
  WHERE NOT w.is_bench
)
SELECT doc_id,
  CAST(len(ws) AS INTEGER) AS n_tokens,
  CAST(len(ws) - len(kw) AS INTEGER) AS n_removed,
  -- DuckDB's array_to_string([]) is NULL; Spark's array_join([]) is ''
  COALESCE(array_to_string(kw, ' '), '') AS clean_text
FROM kept
"""


@register("decontaminate_strip", oracle=_DECON_ORACLE)
def decontaminate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION, not just detection (C37 counts the
    contaminated docs; training-data releases must REMOVE the overlap
    and keep the rest of the document): every corpus position covered
    by a word {_N_CONTAM}-gram that also appears in the held-out
    benchmark split (the C37 convention: doc_id % 20 == 0) is
    stripped, and the surviving tokens are rejoined. Per corpus doc:
    token count, removed-token count, cleaned text.

    Scale shape is C37's asymmetric index: the benchmark side
    contributes a distinct-gram hash set (tiny — broadcast), the
    corpus streams through ONE gram explode + semi join that returns
    the flagged START positions per doc; the strip itself is an
    in-row filter over the bound position list. Never
    O(corpus x bench); no shuffle of document text beyond the flagged
    position lists."""
    # fan out: the gram explode and the in-row strip fold are this
    # query's CPU
    d = spread(
        load_tables(spark, sf_dir, ("documents",))["documents"], sf_dir, "documents"
    ).select(
        "doc_id",
        (F.pmod("doc_id", F.lit(20)) == 0).alias("is_bench"),
        F.split(F.col("text"), " ").alias("_w"),
    )
    shingles = contam_gram_structs("_w")
    # outer explode: the non-outer form lets the optimizer infer a
    # size(arr) > 0 filter that re-inlines (and recomputes) the gram
    # build below the projection (SURVEY §6); the array is never empty
    grams = d.select(
        "doc_id", "is_bench", F.explode_outer(F.expr(shingles)).alias("s")
    )
    bench = (
        grams.where("is_bench")
        .select(F.col("s.g").alias("g"))
        .distinct()
    )
    flagged = (
        grams.where(~F.col("is_bench"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))
        .join(F.broadcast(bench), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("fs"))
    )
    corpus = d.where(~F.col("is_bench")).join(flagged, "doc_id", "left")
    kept = (
        f"transform(filter(transform(_w, (x, i) -> struct(x AS w, i + 1 AS p)),"
        f" s -> size(filter(coalesce(fs, array()),"
        f" st -> st <= s.p AND s.p <= st + {_N_CONTAM - 1})) = 0), s -> s.w)"
    )
    return corpus.select(
        "doc_id",
        F.size("_w").alias("n_tokens"),
        (F.size("_w") - F.size(F.expr(kept))).alias("n_removed"),
        F.array_join(F.expr(kept), " ").alias("clean_text"),
    )


# ---------------------------------------------------------------- C124
_BP_K = 4  # boilerplate prefix length (words)
_BP_MIN = 2  # docs sharing the prefix within a source to call it boilerplate

_BOILER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), p AS (
  SELECT doc_id, source, ws,
    array_to_string(ws[1:{_BP_K}], ' ') AS pre
  FROM w
), hot AS (
  SELECT source, pre FROM p
  GROUP BY source, pre HAVING COUNT(*) >= {_BP_MIN}
)
SELECT p.doc_id, p.source,
  h.source IS NOT NULL AS boilerplate,
  CAST(len(ws) AS INTEGER) AS n_tokens,
  CAST(CASE WHEN h.source IS NOT NULL
       THEN LEAST(len(ws), {_BP_K}) ELSE 0 END AS INTEGER) AS n_removed,
  CASE WHEN h.source IS NOT NULL
    THEN COALESCE(array_to_string(ws[{_BP_K + 1}:len(ws)], ' '), '')
    ELSE array_to_string(ws, ' ') END AS clean_text
FROM p LEFT JOIN hot h ON p.source = h.source AND p.pre = h.pre
"""


@register("boilerplate_prefix_strip", oracle=_BOILER_ORACLE)
def boilerplate_prefix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix removal — the header-strip stage of web/dump
    curation (docs from one source often open with the same banner /
    license header / nav text; left in, it dominates n-gram stats and
    manufactures near-dup pairs): a word {_BP_K}-prefix shared by
    >= {_BP_MIN} docs of the SAME source is declared boilerplate and
    stripped from each of them. Per doc: boilerplate flag, token
    counts, cleaned text.

    Scale: one aggregation over (source, prefix) — map-side combined,
    output bounded by the boilerplate cardinality, tiny next to the
    corpus — joined back on (source, prefix); AQE picks the broadcast
    side from the agg's runtime size. The corpus text itself is
    scanned once and never shuffled."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return boilerplate_prefix_strip_frame(docs)


def boilerplate_prefix_strip_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of :func:`boilerplate_prefix_strip` (tests
    plant synthetic boilerplate through this)."""
    d = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_w")
    )
    p = d.withColumn(
        "pre", F.concat_ws(" ", F.slice(F.col("_w"), 1, _BP_K))
    )
    hot = (
        p.groupBy("source", "pre")
        .count()
        .where(F.col("count") >= _BP_MIN)
        .select("source", "pre", F.lit(True).alias("_bp"))
    )
    strip_tail = F.expr(
        f"slice(_w, {_BP_K + 1}, greatest(size(_w) - {_BP_K}, 0))"
    )
    return p.join(hot, ["source", "pre"], "left").select(
        "doc_id",
        "source",
        F.coalesce(F.col("_bp"), F.lit(False)).alias("boilerplate"),
        F.size("_w").alias("n_tokens"),
        F.when(F.col("_bp"), F.least(F.size("_w"), F.lit(_BP_K)))
        .otherwise(0)
        .alias("n_removed"),
        F.when(F.col("_bp"), F.array_join(strip_tail, " "))
        .otherwise(F.array_join(F.col("_w"), " "))
        .alias("clean_text"),
    )


# ---------------------------------------------------------------- C38
_MIX_ALPHA = 0.7

_MIX_ORACLE = f"""
WITH t AS (
  SELECT source,
    CAST(SUM(len(string_split_regex(TRIM(text), '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), s AS (
  SELECT source, n_tokens,
    CAST(n_tokens AS DOUBLE) / (SELECT SUM(CAST(n_tokens AS DOUBLE)) FROM t) AS share,
    (SELECT SUM(n_tokens) FROM t) AS tot
  FROM t
)
SELECT source, n_tokens,
  {sql_round_rat('n_tokens', 'tot', 6)} AS share,
  CAST(ROUND(POW(share, {_MIX_ALPHA})
      / (SELECT SUM(POW(share, {_MIX_ALPHA})) FROM s), 6) AS DOUBLE) AS weight
FROM s
"""


@register("domain_mix_weights", oracle=_MIX_ORACLE)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing weights (share^alpha,
    alpha=0.7, renormalized — the standard upweight-the-tail recipe
    for multi-source pretraining). Token totals aggregate per source
    in one pass; the normalizing constants are source-count-sized
    scalar subqueries, broadcast by Catalyst."""
    d = _docs(spark, sf_dir)
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("n_tokens")
    )
    total = t.agg(F.sum(F.col("n_tokens").cast("double")).alias("_tot"))
    s = t.crossJoin(F.broadcast(total)).select(
        "source",
        "n_tokens",
        "_tot",
        (F.col("n_tokens").cast("double") / F.col("_tot")).alias("_share"),
    )
    z = s.agg(F.sum(F.pow("_share", F.lit(_MIX_ALPHA))).alias("_z"))
    return s.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        # integer-exact share (round_rat); the alpha-powered weight
        # stays double (transcendental, 17-digit reprs don't straddle
        # rounding boundaries)
        round_rat("n_tokens", "_tot", 6).alias("share"),
        F.round(F.pow("_share", F.lit(_MIX_ALPHA)) / F.col("_z"), 6).alias("weight"),
    )


# ---------------------------------------------------------------- C50
from cdk_serverless_data_lake_sandbox_spark.operators.text import _TOKEN_RE  # noqa: E402

_FERTILITY_ORACLE = f"""
WITH t AS (
  SELECT lang,
    LEN(string_split_regex(TRIM(text), '\\s+')) AS ws,
    LEN(regexp_extract_all(text, '{_TOKEN_RE}')) AS re_t
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
  {sql_round_rat('SUM(CAST(ROUND(CAST(CAST(CAST(re_t AS DOUBLE) / ws'
                 ' AS DECIMAL(18,9)) AS DECIMAL(28,9)) * 1000000000)'
                 ' AS BIGINT))',
                 'COUNT(*) * 1000000000', 6, wide=True)} AS mean_fertility,
  {sql_round_rat('SUM(re_t)', 'SUM(ws)', 6)} AS corpus_fertility
FROM t GROUP BY lang
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword-ish tokens per
    whitespace word (the metric that decides whether a tokenizer
    punishes a language — fertility 2x means half the effective
    context window). Mean of per-doc ratios (decimal-summed, order-
    independent) plus the token-weighted corpus ratio. One scan,
    regexes inside codegen."""
    d = _docs(spark, sf_dir)
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    re_t = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), F.lit(0)))
    per = d.select("lang", ws.alias("ws"), re_t.alias("re_t"))
    # integer-exact means: the per-doc ratio is pinned at 9dp by the
    # decimal cast, so mean_fertility is the rational
    # sum(ratio*1e9)/(n*1e9) (wide round_rat — the scaled sum
    # outgrows BIGINT) and corpus_fertility is a plain count ratio
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        round_rat(
            "sum(CAST(round(CAST(CAST(re_t AS DOUBLE) / ws"
            " AS DECIMAL(18,9)) * 1000000000) AS BIGINT))",
            "count(*) * 1000000000",
            6,
            wide=True,
        ).alias("mean_fertility"),
        round_rat("sum(re_t)", "sum(ws)", 6).alias("corpus_fertility"),
    )


# ---------------------------------------------------------------- C51
_NOVELTY_K = 3

_NOVELTY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
), g AS (
  SELECT DISTINCT doc_id,
    array_to_string(list_slice(ws, i, i + {_NOVELTY_K - 1}), ' ') AS gram
  FROM w, UNNEST(generate_series(1, LEN(ws) - {_NOVELTY_K - 1})) AS t(i)
  WHERE LEN(ws) >= {_NOVELTY_K}
), f AS (
  SELECT gram, MIN(doc_id) AS mind FROM g GROUP BY gram
)
SELECT g.doc_id, COUNT(*) AS n_grams,
  COUNT(*) FILTER (WHERE f.mind = g.doc_id) AS n_novel,
  {sql_round_rat("COUNT(*) FILTER (WHERE f.mind = g.doc_id)", 'COUNT(*)', 6)}
    AS novelty
FROM g JOIN f USING (gram) GROUP BY g.doc_id
"""


@register("ngram_novelty", oracle=_NOVELTY_ORACLE)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty in corpus order: the fraction of a doc's
    distinct {k}-grams whose FIRST corpus occurrence (min doc_id) is
    this document — the curriculum/diversity signal that decays as a
    crawl saturates. Distinct grams are computed row-locally
    (array_distinct before the explode — no dedup shuffle), then one
    min-aggregation per gram and a join back: linear, the inverted-
    index shape of the dedup family. Grams travel as xxhash64 (the
    oracle uses raw strings; collision odds ~2^-65 per pair)."""
    d = _docs(spark, sf_dir)
    grams = F.expr(
        f"""array_distinct(transform(sequence(1, size(_w) - {_NOVELTY_K - 1}),
              i -> xxhash64(array_join(slice(_w, i, {_NOVELTY_K}), ' '))))"""
    )
    g = (
        d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w"))
        .where(F.size("_w") >= _NOVELTY_K)
        .select("doc_id", F.explode_outer(grams).alias("gram"))
    )
    f = g.groupBy("gram").agg(F.min("doc_id").alias("mind"))
    novel = F.sum(F.when(F.col("mind") == F.col("doc_id"), 1).otherwise(0)).cast(
        "bigint"
    )
    return (
        g.join(f, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), novel.alias("n_novel"))
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            # integer-exact novelty rate (round_rat)
            round_rat("n_novel", "n_grams", 6).alias("novelty"),
        )
    )


# ---------------------------------------------------------------- C52
_HEAPS_BUCKETS = 20

_HEAPS_ORACLE = f"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
 d AS (
  SELECT CAST(FLOOR(doc_id * {_HEAPS_BUCKETS}.0 / (m + 1)) AS BIGINT) AS bucket,
    string_split_regex(TRIM(text), '\\s+') AS ws
  FROM documents, mx
), tb AS (
  SELECT bucket, SUM(LEN(ws)) AS toks FROM d GROUP BY bucket
), wf AS (
  SELECT w, MIN(bucket) AS b
  FROM (SELECT DISTINCT bucket, w FROM d, UNNEST(ws) AS t(w))
  GROUP BY w
), nb AS (
  SELECT b AS bucket, COUNT(*) AS new_words FROM wf GROUP BY b
), c AS (
  SELECT tb.bucket,
    SUM(toks) OVER (ORDER BY tb.bucket) AS cum_toks,
    SUM(COALESCE(new_words, 0)) OVER (ORDER BY tb.bucket) AS cum_vocab
  FROM tb LEFT JOIN nb USING (bucket)
)
SELECT COUNT(*) AS n_buckets,
  CAST(ROUND(REGR_SLOPE(LN(CAST(cum_vocab AS DOUBLE)),
      LN(CAST(cum_toks AS DOUBLE))), 4) + 0.0 AS DOUBLE) AS heaps_beta,
  CAST(MAX(cum_toks) AS BIGINT) AS total_tokens,
  CAST(MAX(cum_vocab) AS BIGINT) AS total_vocab
FROM c WHERE cum_vocab > 0
"""


@register("heaps_law_fit", oracle=_HEAPS_ORACLE)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: docs are bucketed into
    {B} equal doc_id ranges, cumulative (tokens, distinct-vocabulary)
    counts per bucket feed a log-log regression — beta well below 1
    means vocabulary saturates (a healthy natural corpus); beta near
    1 flags synthetic or ID-heavy text. First-occurrence buckets come
    from one min-agg per word (no cumulative distinct needed); the
    only window runs over exactly {B} rows post-aggregation, so the
    single-partition frame is constant-sized at any corpus scale.
    No r2 in the output: when the vocabulary saturates inside the
    first bucket (constant cum_vocab) the determination coefficient
    is 0/0 and engines disagree on the convention; the (tokens,
    vocab) totals are exact instead. The +0.0 normalizes IEEE -0.0
    slopes so both engines hash identically."""
    d = _docs(spark, sf_dir)
    mx = d.agg(F.max("doc_id").alias("_m"))
    base = d.crossJoin(F.broadcast(mx)).select(
        F.floor(
            F.col("doc_id") * float(_HEAPS_BUCKETS) / (F.col("_m") + 1)
        ).alias("bucket"),
        F.split(F.trim(F.col("text")), r"\s+").alias("_w"),
    )
    tb = base.groupBy("bucket").agg(F.sum(F.size("_w")).alias("toks"))
    wf = (
        base.select("bucket", F.explode_outer(F.array_distinct("_w")).alias("w"))
        .groupBy("w")
        .agg(F.min("bucket").alias("b"))
    )
    nb = wf.groupBy(F.col("b").alias("bucket")).agg(
        F.count("*").alias("new_words")
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        tb.join(nb, "bucket", "left")
        .select(
            "bucket",
            F.sum("toks").over(w).alias("cum_toks"),
            F.sum(F.coalesce("new_words", F.lit(0))).over(w).alias("cum_vocab"),
        )
        .where(F.col("cum_vocab") > 0)
    )
    ln_v = F.log(F.col("cum_vocab").cast("double"))
    ln_t = F.log(F.col("cum_toks").cast("double"))
    return c.agg(
        F.count("*").alias("n_buckets"),
        (F.round(F.regr_slope(ln_v, ln_t), 4) + F.lit(0.0)).alias("heaps_beta"),
        F.max("cum_toks").cast("bigint").alias("total_tokens"),
        F.max("cum_vocab").cast("bigint").alias("total_vocab"),
    )


# ---------------------------------------------------------------- C53
_SIZE_DIST_ORACLE = """
WITH c AS (
  SELECT md5(text) AS h, COUNT(*) AS sz FROM documents GROUP BY md5(text)
)
SELECT sz AS n_copies, COUNT(*) AS n_clusters,
  CAST(SUM(sz) AS BIGINT) AS n_docs
FROM c GROUP BY sz
"""


@register("dup_cluster_sizes", oracle=_SIZE_DIST_ORACLE)
def dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution: how many content
    hashes occur once, twice, k times — the shape that decides the
    dedup strategy (a fat head of boilerplate clones vs a long tail
    of singletons). Two cheap aggregations; the first groupBy does
    map-side partials on the hash, the second is histogram-sized."""
    d = _docs(spark, sf_dir)
    c = d.groupBy(F.md5("text").alias("h")).agg(F.count("*").alias("sz"))
    return c.groupBy(F.col("sz").alias("n_copies")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------- C55
_PSI_BUCKETS = 10

_PSI_ORACLE = f"""
WITH ev AS (
  SELECT event_type, value,
    EXTRACT(dow FROM ts) IN (0, 6) AS is_weekend
  FROM events
), rng AS (
  SELECT event_type, MIN(value) AS lo,
    GREATEST(MAX(value) - MIN(value), 1e-12) AS width
  FROM ev GROUP BY event_type
), b AS (
  SELECT ev.event_type, is_weekend,
    LEAST(CAST(FLOOR((value - lo) / (width / {_PSI_BUCKETS})) AS BIGINT),
          {_PSI_BUCKETS - 1}) AS bucket
  FROM ev JOIN rng USING (event_type)
), c AS (
  SELECT event_type, bucket,
    COUNT(*) FILTER (WHERE NOT is_weekend) AS n_wd,
    COUNT(*) FILTER (WHERE is_weekend) AS n_we
  FROM b GROUP BY event_type, bucket
), tot AS (
  SELECT event_type, SUM(n_wd) AS t_wd, SUM(n_we) AS t_we
  FROM c GROUP BY event_type
), terms AS (
  SELECT c.event_type,
    (CAST(n_wd + 0.5 AS DOUBLE) / (t_wd + 0.5 * {_PSI_BUCKETS})) AS p,
    (CAST(n_we + 0.5 AS DOUBLE) / (t_we + 0.5 * {_PSI_BUCKETS})) AS q,
    t_wd, t_we
  FROM c JOIN tot USING (event_type)
)
SELECT event_type,
  CAST(ROUND(CAST(SUM(CAST((p - q) * LN(p / q) AS DECIMAL(18,12)))
      AS DOUBLE), 6) AS DOUBLE) AS psi,
  CAST(MIN(t_wd) AS BIGINT) AS n_weekday,
  CAST(MIN(t_we) AS BIGINT) AS n_weekend
FROM terms GROUP BY event_type
"""


@register("psi_drift", oracle=_PSI_ORACLE)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between weekday and weekend value
    distributions per event type — the standard drift monitor run
    before retraining on fresh data (PSI < 0.1 stable, > 0.25 major
    shift). Ten fixed-width buckets from the per-type range
    (broadcast), Laplace-smoothed fractions so empty buckets don't
    blow up the log, and the 10-term PSI sum decimal-cast so
    accumulation order can't move the hash. Two aggregations plus a
    broadcast range join — one scan of events at any scale."""
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_type",
        "value",
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
    )
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.greatest(F.max("value") - F.min("value"), F.lit(1e-12)).alias("width"),
    )
    b = ev.join(F.broadcast(rng), "event_type").select(
        "event_type",
        "is_weekend",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / (F.col("width") / _PSI_BUCKETS)),
            F.lit(_PSI_BUCKETS - 1),
        ).alias("bucket"),
    )
    c = b.groupBy("event_type", "bucket").agg(
        F.count(F.when(~F.col("is_weekend"), 1)).alias("n_wd"),
        F.count(F.when(F.col("is_weekend"), 1)).alias("n_we"),
    )
    tot = c.groupBy("event_type").agg(
        F.sum("n_wd").alias("t_wd"), F.sum("n_we").alias("t_we")
    )
    p = (F.col("n_wd") + 0.5) / (F.col("t_wd") + 0.5 * _PSI_BUCKETS)
    q = (F.col("n_we") + 0.5) / (F.col("t_we") + 0.5 * _PSI_BUCKETS)
    return (
        c.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            ((p - q) * F.log(p / q)).cast("decimal(18,12)").alias("term"),
            "t_wd",
            "t_we",
        )
        .groupBy("event_type")
        .agg(
            F.round(F.sum("term").cast("double"), 6).alias("psi"),
            F.min("t_wd").cast("bigint").alias("n_weekday"),
            F.min("t_we").cast("bigint").alias("n_weekend"),
        )
    )


# ---------------------------------------------------------------- C75
_REDACT_ORACLE = f"""
WITH r AS (
  SELECT doc_id,
    LEN(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
    LEN(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone,
    LEN(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ip,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
        '{_PHONE_RE}', '[PHONE]', 'g'),
      '{_IPV4_RE}', '[IP]', 'g') AS redacted_text
  FROM documents
)
SELECT doc_id, redacted_text,
  CAST(n_email AS BIGINT) AS n_email,
  CAST(n_phone AS BIGINT) AS n_phone,
  CAST(n_ip AS BIGINT) AS n_ip
FROM r
"""


@register("redact_corpus", oracle=_REDACT_ORACLE)
def redact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch PII redaction — the destructive compliance twin of
    pii_scan (which only measures): emails, phone numbers, and IPv4
    addresses are replaced with typed placeholders, and per-doc
    counts are emitted so the run is auditable (count > 0 with
    unchanged text would be a redaction bug). Shares its patterns
    with pii_scan and the streaming curation gate (E11), so batch
    backfills and the live path redact identically. Pure regexp
    codegen, zero shuffle, scan speed at any scale."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ),
        _IPV4_RE,
        "[IP]",
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted_text"),
        *[
            F.size(F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0)))
            .cast("bigint")
            .alias(n)
            for p, n in (
                (_EMAIL_RE, "n_email"),
                (_PHONE_RE, "n_phone"),
                (_IPV4_RE, "n_ip"),
            )
        ],
    )


# ---------------------------------------------------------------- C78
# Fixed, documented weights for the linear quality model. Real
# pipelines train a fastText/logistic classifier (e.g. the GPT-3 /
# LLaMA "quality classifier" stage); the FEATURES and the serving
# plan are what matters for the engine — swapping learned weights in
# changes no plan shape. Signs follow the published heuristics:
# stopword density up-weights prose, punctuation soup and digit walls
# down-weight, moderate length helps.
_QC_W_STOP = 3.0
_QC_W_PUNCT = -8.0
_QC_W_DIGIT = -4.0
_QC_W_LOGLEN = 0.35
_QC_W_WORDLEN = -0.25
_QC_BIAS = -2.0
_QC_KEEP = 0.60
_QC_DROP = 0.40

_QC_FEATURES_SQL = """
  SELECT doc_id, source,
    CAST(LEN(list_filter(string_split(text, ' '),
      w -> list_contains({stop}, w))) AS DOUBLE)
      / LEN(string_split(text, ' ')) AS stop_ratio,
    CAST(LEN(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
      / LEN(text) AS punct_ratio,
    CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
      / LEN(text) AS digit_ratio,
    LN(1 + LEN(text)) AS log_len,
    CAST(LEN(REPLACE(text, ' ', '')) AS DOUBLE)
      / LEN(string_split(text, ' ')) AS mean_word_len
  FROM documents
"""

_QC_ORACLE: str  # assigned below once the stopword list is imported


def _qc_score_sql() -> str:
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _ALL_STOP,
        _sql_list,
    )

    feats = _QC_FEATURES_SQL.format(stop=_sql_list(_ALL_STOP))
    lin = (
        f"{_QC_W_STOP} * stop_ratio + {_QC_W_PUNCT} * punct_ratio"
        f" + {_QC_W_DIGIT} * digit_ratio + {_QC_W_LOGLEN} * log_len"
        f" + {_QC_W_WORDLEN} * mean_word_len + {_QC_BIAS}"
    )
    return f"""
WITH f AS ({feats}), s AS (
  SELECT doc_id, source, ROUND(1.0 / (1.0 + EXP(-({lin}))), 6) AS score FROM f
)
SELECT doc_id, source, score,
  CASE WHEN score >= {_QC_KEEP} THEN 'keep'
       WHEN score < {_QC_DROP} THEN 'drop'
       ELSE 'review' END AS decision
FROM s
"""


@register("quality_classifier_score", oracle=_qc_score_sql())
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier serving pass (the fastText-style
    "looks like reference text?" stage of GPT-3/LLaMA-class data
    pipelines, Brown et al. 2020 §2.2): engineered per-doc features
    -> fixed logistic score -> keep/review/drop decision. The
    features (stopword density, punctuation/digit ratios, log length,
    mean word length) are computed in ONE projection inside
    whole-stage codegen — no shuffle at all, so the pass runs at
    parquet-scan speed on any corpus size; a learned weight vector
    drops in without changing the plan.

    The score is rounded to 6 dp BEFORE thresholding in both engines
    so keep/drop decisions cannot straddle a float ulp."""
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _ALL_STOP,
        _spark_array,
    )

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    arr = _spark_array(_ALL_STOP)
    n_stop = F.expr(f"size(filter(split(text, ' '), w -> array_contains({arr}, w)))")
    stop_ratio = n_stop.cast("double") / F.size(words)
    punct_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-z0-9 ]"), F.lit(0))).cast("double")
        / F.length("text")
    )
    digit_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), F.lit(0))).cast("double")
        / F.length("text")
    )
    log_len = F.log1p(F.length("text"))
    mean_word_len = (
        F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / F.size(words)
    )
    lin = (
        F.lit(_QC_W_STOP) * stop_ratio
        + F.lit(_QC_W_PUNCT) * punct_ratio
        + F.lit(_QC_W_DIGIT) * digit_ratio
        + F.lit(_QC_W_LOGLEN) * log_len
        + F.lit(_QC_W_WORDLEN) * mean_word_len
        + F.lit(_QC_BIAS)
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-lin)), 6)
    return d.select("doc_id", "source", score.alias("score")).withColumn(
        "decision",
        F.when(F.col("score") >= _QC_KEEP, "keep")
        .when(F.col("score") < _QC_DROP, "drop")
        .otherwise("review"),
    )


# ---------------------------------------------------------------- C79
# z-score tercile boundaries (Phi^-1(1/3) ~ -0.4307, Phi^-1(2/3) ~
# +0.4307): the scalable stand-in for CCNet's exact perplexity
# terciles — means/stddevs are map-side-combinable where exact
# per-language quantiles are not.
_PPL_Z = 0.4307

_PPL_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
  FROM documents
), vocab AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY word
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab
), bits AS (
  SELECT t.doc_id,
    ROUND(AVG(-LOG2(CAST(v.cnt AS DOUBLE) / (SELECT n FROM total))), 4) AS bpt
  FROM tok t JOIN vocab v ON t.word = v.word GROUP BY t.doc_id
), scored AS (
  SELECT d.lang, b.bpt FROM bits b JOIN documents d ON b.doc_id = d.doc_id
), mom AS (
  SELECT lang, COUNT(*) AS n,
    CAST(SUM(CAST(bpt AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mu,
    SQRT(GREATEST(
      CAST(SUM(CAST(bpt AS DECIMAL(18,4)) * CAST(bpt AS DECIMAL(18,4))) AS DOUBLE)
        / COUNT(*)
      - POW(CAST(SUM(CAST(bpt AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 2),
      1e-12)) AS sigma
  FROM scored GROUP BY lang
)
SELECT s.lang,
  CASE WHEN s.bpt < mom.mu - {_PPL_Z} * mom.sigma THEN 'head'
       WHEN s.bpt > mom.mu + {_PPL_Z} * mom.sigma THEN 'tail'
       ELSE 'middle' END AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  {sql_round_rat('COUNT(*)', 'mom.n', 6)} AS share,
  {sql_round_rat('SUM(CAST(ROUND(CAST(s.bpt AS DECIMAL(18,4)) * 10000)'
                 ' AS BIGINT))', 'COUNT(*) * 10000', 4)} AS avg_bits
FROM scored s JOIN mom ON s.lang = mom.lang
GROUP BY s.lang, mom.n,
  CASE WHEN s.bpt < mom.mu - {_PPL_Z} * mom.sigma THEN 'head'
       WHEN s.bpt > mom.mu + {_PPL_Z} * mom.sigma THEN 'tail'
       ELSE 'middle' END
"""


@register("perplexity_bucket_mix", oracle=_PPL_ORACLE)
def perplexity_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail mix report (Wenzek et al. 2020):
    per language, documents are bucketed by their LM quality score
    (unigram bits-per-token, the same proxy unigram_logprob emits)
    and the mix (count, share, mean bits) per bucket is reported —
    the dashboard a curation run uses to pick which perplexity band
    to keep per language.

    CCNet buckets on exact per-language perplexity terciles; exact
    per-group quantiles need a per-language sort (one reducer per
    language — a skew bomb when one language is half the corpus).
    This uses the scalable threshold variant: per-language mean/std
    (map-side-combinable, decimal-exact over the 4dp-rounded scores
    so both engines see identical sums) and z-score cuts at
    +-0.4307 = Phi^-1(2/3), which ARE the terciles under normality
    and a fixed, auditable approximation otherwise. No windows, no
    sorts: token scan -> two keyed aggs -> broadcast per-lang
    moments joined back."""
    from cdk_serverless_data_lake_sandbox_spark.operators.text import unigram_logprob

    bits = (
        unigram_logprob(spark, sf_dir)
        .select("doc_id", F.col("bits_per_token").alias("bpt"))
    )
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    scored = bits.join(d, "doc_id").select("lang", "bpt")
    dbpt = F.col("bpt").cast("decimal(18,4)")
    mom = scored.groupBy("lang").agg(
        F.count("*").alias("n"),
        (F.sum(dbpt).cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(dbpt * dbpt).cast("double") / F.count("*")
                - F.pow(F.sum(dbpt).cast("double") / F.count("*"), 2),
                F.lit(1e-12),
            )
        ).alias("sigma"),
    )
    s = scored.join(F.broadcast(mom), "lang")
    bucket = (
        F.when(F.col("bpt") < F.col("mu") - _PPL_Z * F.col("sigma"), "head")
        .when(F.col("bpt") > F.col("mu") + _PPL_Z * F.col("sigma"), "tail")
        .otherwise("middle")
    )
    return (
        s.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.first("n").alias("_n"),
            # integer-exact mean: bpt pinned at 4dp by the decimal
            # cast, so the mean is sum(bpt*1e4)/(n*1e4) (round_rat)
            round_rat(
                "sum(CAST(round(CAST(bpt AS DECIMAL(18,4)) * 10000)"
                " AS BIGINT))",
                "count(*) * 10000",
                4,
            ).alias("avg_bits"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            # integer-exact share (round_rat)
            round_rat("n_docs", "_n", 6).alias("share"),
            "avg_bits",
        )
    )


# ---------------------------------------------------------------- C97
def _card_oracle() -> str:
    return """
WITH w AS (
  SELECT doc_id, lang, source, text,
    LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tokens
  FROM documents
), base AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
    CAST(SUM(n_tokens) AS DOUBLE) AS n_tokens,
    CAST(COUNT(DISTINCT text) AS DOUBLE) AS n_distinct_texts,
    CAST(COUNT(DISTINCT lang) AS DOUBLE) AS n_langs,
    CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources,
    CAST(AVG(n_tokens) AS DOUBLE) AS mean_tokens,
    CAST(AVG(LENGTH(text)) AS DOUBLE) AS mean_chars
  FROM w
), top_src AS (
  SELECT CAST(MAX(c) AS DOUBLE) / SUM(c) AS share
  FROM (SELECT source, COUNT(*) AS c FROM w GROUP BY source)
)
SELECT metric, CAST(ROUND(value, 6) AS DOUBLE) AS value FROM (
  SELECT 'n_docs' AS metric, n_docs AS value FROM base
  UNION ALL SELECT 'n_tokens', n_tokens FROM base
  UNION ALL SELECT 'exact_dup_rate',
    1.0 - n_distinct_texts / n_docs FROM base
  UNION ALL SELECT 'n_langs', n_langs FROM base
  UNION ALL SELECT 'n_sources', n_sources FROM base
  UNION ALL SELECT 'mean_tokens_per_doc', mean_tokens FROM base
  UNION ALL SELECT 'mean_chars_per_doc', mean_chars FROM base
  UNION ALL SELECT 'top_source_share', share FROM top_src
)
"""


@register("dataset_card", oracle=_card_oracle())
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card's quantitative face — the first query anyone
    runs against an unfamiliar corpus: size (docs/tokens), exact
    duplicate rate, language and source spread, mean document length,
    and source concentration, as (metric, value) rows a docs page or
    a drift monitor ingests directly.

    Scale: ONE scan feeding a single multi-aggregate (count_distinct
    on text hashes under the hood is a shuffle on the dedup key —
    the same shape as dedup_exact), plus a source-histogram max for
    concentration. Everything map-side combinable; output is a
    constant eight rows."""
    d = _docs(spark, sf_dir)
    w = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    base = w.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("n_tokens").cast("double").alias("n_tokens"),
        F.count_distinct("text").cast("double").alias("n_distinct_texts"),
        F.count_distinct("lang").cast("double").alias("n_langs"),
        F.count_distinct("source").cast("double").alias("n_sources"),
        F.avg("n_tokens").alias("mean_tokens"),
        F.avg(F.length("text")).alias("mean_chars"),
    )
    top_src = (
        w.groupBy("source")
        .agg(F.count("*").alias("c"))
        .agg((F.max("c").cast("double") / F.sum("c")).alias("share"))
    )
    rows = base.crossJoin(F.broadcast(top_src)).select(
        F.expr(
            "stack(8,"
            " 'n_docs', n_docs,"
            " 'n_tokens', n_tokens,"
            " 'exact_dup_rate', 1.0 - n_distinct_texts / n_docs,"
            " 'n_langs', n_langs,"
            " 'n_sources', n_sources,"
            " 'mean_tokens_per_doc', mean_tokens,"
            " 'mean_chars_per_doc', mean_chars,"
            " 'top_source_share', share"
            ") AS (metric, value)"
        )
    )
    return rows.select("metric", F.round("value", 6).alias("value"))


# ---------------------------------------------------------------- C106
_MI_ORACLE = """
WITH j AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS t FROM j),
ml AS (SELECT lang, SUM(n) AS nl FROM j GROUP BY lang),
ms AS (SELECT source, SUM(n) AS ns FROM j GROUP BY source)
SELECT j.lang, j.source, CAST(j.n AS BIGINT) AS n,
  ROUND(LN((CAST(j.n AS DOUBLE) / tot.t)
        / ((CAST(ml.nl AS DOUBLE) / tot.t) * (CAST(ms.ns AS DOUBLE) / tot.t))), 6)
    AS pmi,
  ROUND((CAST(j.n AS DOUBLE) / tot.t)
        * LN((CAST(j.n AS DOUBLE) / tot.t)
        / ((CAST(ml.nl AS DOUBLE) / tot.t) * (CAST(ms.ns AS DOUBLE) / tot.t))), 6)
    AS mi_contribution
FROM j CROSS JOIN tot
JOIN ml ON ml.lang = j.lang
JOIN ms ON ms.source = j.source
ORDER BY j.lang, j.source
"""


@register("corpus_mi_profile", oracle=_MI_ORACLE)
def corpus_mi_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language x source dependence profile: per-cell pointwise mutual
    information and its MI contribution (the contributions sum to the
    corpus's lang/source mutual information). High-|pmi| cells are
    where the corpus's language mix is source-specific — exactly what
    a mixing/rebalancing pass needs to know before reweighting
    sources, since MI ~ 0 means language targets can be hit by
    source weights alone, while strong dependence means per-(source,
    lang) quotas.

    One cell aggregation (langs x sources rows) plus broadcast
    marginal joins; identical double expressions on both sides, ln
    rounded to 6."""
    d = _docs(spark, sf_dir)
    j = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    tot = j.agg(F.sum("n").alias("t"))
    ml = j.groupBy("lang").agg(F.sum("n").alias("nl"))
    ms = j.groupBy("source").agg(F.sum("n").alias("ns"))
    pj = F.col("n").cast("double") / F.col("t")
    ratio = pj / (
        (F.col("nl").cast("double") / F.col("t"))
        * (F.col("ns").cast("double") / F.col("t"))
    )
    return (
        j.crossJoin(F.broadcast(tot))
        .join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .select(
            "lang",
            "source",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.log(ratio), 6).alias("pmi"),
            F.round(pj * F.log(ratio), 6).alias("mi_contribution"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------- C120
_PREF_MIN_GAP = 0.05

_PREF_ORACLE_TMPL = """
WITH s AS ({qc}),
d AS (
  SELECT doc.doc_id, doc.lang, doc.source, s.score
  FROM documents doc JOIN s ON s.doc_id = doc.doc_id
),
rk AS (
  SELECT lang, source, doc_id, score,
    ROW_NUMBER() OVER (PARTITION BY lang, source
                       ORDER BY score DESC, doc_id ASC) AS rn_hi,
    ROW_NUMBER() OVER (PARTITION BY lang, source
                       ORDER BY score ASC, doc_id ASC) AS rn_lo,
    COUNT(*) OVER (PARTITION BY lang, source) AS n_docs
  FROM d
),
ranked AS (
  SELECT h.lang, h.source,
    h.doc_id AS chosen_id, h.score AS chosen_score,
    l.doc_id AS rejected_id, l.score AS rejected_score,
    h.n_docs
  FROM (SELECT * FROM rk WHERE rn_hi = 1) h
  JOIN (SELECT * FROM rk WHERE rn_lo = 1) l
    ON h.lang = l.lang AND h.source = l.source
)
SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
  chosen_id, rejected_id,
  ROUND(chosen_score - rejected_score, 6) AS score_gap
FROM ranked
WHERE n_docs >= 2 AND chosen_score - rejected_score >= {gap}
ORDER BY lang, source
"""


def _pref_oracle() -> str:
    return _PREF_ORACLE_TMPL.format(qc=_qc_score_sql(), gap=_PREF_MIN_GAP)


@register("preference_pairs", oracle=_pref_oracle())
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training: per
    (language, source) stratum, the highest- and lowest-scoring
    documents under the quality classifier become a (chosen,
    rejected) pair, kept only when the score gap clears a margin —
    weak pairs teach nothing and noisy ones teach the wrong thing.
    Stratifying keeps pairs in-domain, so the preference signal is
    quality, not topic. Deterministic ties (min doc_id at equal
    score) make the pair set a pure function of the corpus. One
    scoring pass + one map-side-combinable max_by/min_by aggregation;
    output is stratum-bounded."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    s = quality_classifier_score(spark, sf_dir).select("doc_id", "score")
    d = docs.select("doc_id", "lang", "source").join(s, "doc_id")
    ranked = d.groupBy("lang", "source").agg(
        F.expr("max_by(doc_id, struct(score, -doc_id))").alias("chosen_id"),
        F.max("score").alias("chosen_score"),
        F.expr("min_by(doc_id, struct(score, doc_id))").alias("rejected_id"),
        F.min("score").alias("rejected_score"),
        F.count("*").alias("n_docs"),
    )
    return (
        ranked.where(
            (F.col("n_docs") >= 2)
            & (F.col("chosen_score") - F.col("rejected_score") >= _PREF_MIN_GAP)
        )
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "chosen_id",
            "rejected_id",
            F.round(
                F.col("chosen_score") - F.col("rejected_score"), 6
            ).alias("score_gap"),
        )
        .orderBy("lang", "source")
    )



def md5_priority(prefix: str):
    """Deterministic sampling priority: the first 12 hex digits of
    md5(prefix || doc_id) — fixed-width lowercase hex orders exactly
    like its numeric value and, unlike a Horner hash of the id string,
    is not affine in the trailing digits. ONE definition shared by the
    batch cap (C127), its streaming gate (E46), and the reservoir
    (E48), so admission order can never silently desynchronize."""
    from pyspark.sql import functions as F

    return F.substring(
        F.md5(F.concat(F.lit(prefix), F.col("doc_id").cast("string"))), 1, 12
    )


# ---------------------------------------------------------------- C126
# UniMax sampling (Chung et al. 2023): spend a fixed token budget
# across languages so no language exceeds _UNIMAX_CAP epochs, then
# share what remains EQUALLY among the languages big enough not to
# hit the cap (water-filling). Budget = _UNIMAX_BUDGET_X x total
# corpus tokens. All comparisons run on exact int64 token counts; the
# only float ops are the final divisions, identical in both engines.
_UNIMAX_CAP = 3
_UNIMAX_BUDGET_X = 2

_UNIMAX_ORACLE = f"""
WITH s AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(SUM(n_tokens) * {_UNIMAX_BUDGET_X} AS BIGINT) AS budget,
    COUNT(*) AS n_langs
  FROM s
), r AS (
  SELECT lang, n_tokens,
    CAST({_UNIMAX_CAP} * n_tokens AS BIGINT) AS cap_tokens,
    ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS rk,
    COALESCE(SUM({_UNIMAX_CAP} * n_tokens) OVER (
      ORDER BY n_tokens, lang
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix_cap
  FROM s
), c AS (
  SELECT r.*, tot.budget, tot.n_langs,
    MIN(CASE WHEN cap_tokens * (n_langs - rk + 1) <= budget - prefix_cap
        THEN 1 ELSE 0 END)
      OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS capped
  FROM r, tot
), fill AS (
  SELECT c.*,
    SUM(CASE WHEN capped = 1 THEN cap_tokens ELSE 0 END) OVER () AS capped_sum,
    SUM(CASE WHEN capped = 0 THEN 1 ELSE 0 END) OVER () AS uncapped_n
  FROM c
)
SELECT lang, n_tokens, cap_tokens,
  ROUND(CASE WHEN capped = 1 THEN CAST(cap_tokens AS DOUBLE)
    ELSE CAST(budget - capped_sum AS DOUBLE) / CAST(uncapped_n AS DOUBLE)
    END, 6) AS alloc_tokens,
  ROUND(CASE WHEN capped = 1 THEN CAST(cap_tokens AS DOUBLE)
    ELSE CAST(budget - capped_sum AS DOUBLE) / CAST(uncapped_n AS DOUBLE)
    END / CAST(n_tokens AS DOUBLE), 6) AS epochs,
  ROUND(CASE WHEN capped = 1 THEN CAST(cap_tokens AS DOUBLE)
    ELSE CAST(budget - capped_sum AS DOUBLE) / CAST(uncapped_n AS DOUBLE)
    END / CAST(budget AS DOUBLE), 6) AS budget_share
FROM fill
"""


@register("unimax_mix", oracle=_UNIMAX_ORACLE)
def unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023): allocate a fixed
    token budget across languages with a hard per-language epoch cap,
    water-filling the remainder equally over the languages that never
    hit the cap. ``domain_mix_weights`` (C38) is the temperature
    heuristic; this is the quota algorithm multilingual pretraining
    actually ships, closed-form instead of the paper's sequential loop:
    sorted ascending by size, a language is capped iff
    ``cap_i * langs_remaining <= budget - caps_already_granted`` and
    every smaller language is capped too (the running-AND window) —
    provably the same fixpoint, because granting the equal share keeps
    the per-language average constant while caps keep growing.

    Scale: one map-side-combined token count per language, then every
    window runs over the LANGUAGE-cardinality frame — a few hundred
    rows at any corpus size (single-partition by design, reviewed in
    the plan audit). Capping decisions compare exact int64s, so the
    float boundary is two final divisions."""
    docs = _docs(spark, sf_dir)
    s = docs.groupBy("lang").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    tot = s.agg(
        (F.sum("n_tokens") * _UNIMAX_BUDGET_X).alias("budget"),
        F.count("*").alias("n_langs"),
    )
    w_ord = Window.orderBy("n_tokens", "lang")
    w_prefix = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    r = s.select(
        "lang", "n_tokens",
        (F.lit(_UNIMAX_CAP) * F.col("n_tokens")).alias("cap_tokens"),
        F.row_number().over(w_ord).alias("rk"),
        F.coalesce(
            F.sum(F.lit(_UNIMAX_CAP) * F.col("n_tokens")).over(w_prefix),
            F.lit(0),
        ).alias("prefix_cap"),
    ).crossJoin(F.broadcast(tot))
    w_run = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    c = r.withColumn(
        "capped",
        F.min(
            F.when(
                F.col("cap_tokens") * (F.col("n_langs") - F.col("rk") + 1)
                <= F.col("budget") - F.col("prefix_cap"),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    w_all = Window.partitionBy()
    fill = c.withColumn(
        "capped_sum",
        F.sum(F.when(F.col("capped") == 1, F.col("cap_tokens")).otherwise(0)).over(w_all),
    ).withColumn(
        "uncapped_n",
        F.sum(F.when(F.col("capped") == 0, 1).otherwise(0)).over(w_all),
    )
    alloc = F.when(
        F.col("capped") == 1, F.col("cap_tokens").cast("double")
    ).otherwise(
        (F.col("budget") - F.col("capped_sum")).cast("double")
        / F.col("uncapped_n").cast("double")
    )
    return fill.select(
        "lang", "n_tokens", "cap_tokens",
        F.round(alloc, 6).alias("alloc_tokens"),
        F.round(alloc / F.col("n_tokens").cast("double"), 6).alias("epochs"),
        F.round(alloc / F.col("budget").cast("double"), 6).alias("budget_share"),
    )


# ---------------------------------------------------------------- C127
_DFC_CAP = 10


def _dfc_oracle() -> str:
    # md5-based priority (the weighted_sample/stratified_sample
    # convention): a fixed-width lowercase-hex prefix orders exactly
    # like its numeric value, and unlike a Horner hash of the id
    # string it is not affine in the trailing digits (consecutive
    # doc_ids must not get consecutive priorities in a SAMPLER).
    return f"""
WITH p AS (
  SELECT doc_id, source,
    SUBSTR(md5('dfc' || CAST(doc_id AS VARCHAR)), 1, 12) AS priority
  FROM documents
), r AS (
  SELECT doc_id, source, priority,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY priority, doc_id)
      AS keep_rank,
    COUNT(*) OVER (PARTITION BY source) AS source_docs
  FROM p
)
SELECT doc_id, source, keep_rank, source_docs
FROM r WHERE keep_rank <= {_DFC_CAP}
"""


@register("domain_frequency_cap", oracle=_dfc_oracle())
def domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap (the over-represented-domain guard
    every web-corpus recipe applies before mixing): keep at most
    _DFC_CAP documents per source, selected by a deterministic
    md5 priority — a seeded uniform sample that is stable
    across runs, engines, and partitionings, unlike rand(). Emits the
    survivors with their selection rank and the source's original
    volume, so downstream can report how hard each domain was cut.

    Scale: the hash is one linear pass fused into the scan, and the
    per-source top-N is a single hash-partitioned window — sources are
    the partition key, so a hot domain never serializes the corpus;
    with billions of docs per domain, swap the row_number for the
    group_sample_topk (B76) bounded-heap shape. No joins, no driver
    state."""
    docs = _docs(spark, sf_dir)
    p = docs.select("doc_id", "source", md5_priority("dfc").alias("priority"))
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        p.withColumn("keep_rank", F.row_number().over(w))
        .withColumn("source_docs", F.count("*").over(Window.partitionBy("source")))
        .where(F.col("keep_rank") <= _DFC_CAP)
        .select("doc_id", "source", "keep_rank", "source_docs")
    )


# ---------------------------------------------------------------- C144
_TVD_ORACLE = f"""
WITH w AS (
  SELECT source, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
  FROM documents WHERE text IS NOT NULL
),
wc AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS a
  FROM w GROUP BY source, word
),
tw AS (SELECT word, CAST(SUM(a) AS BIGINT) AS t FROM wc GROUP BY word),
ns AS (
  SELECT source, CAST(SUM(a) AS BIGINT) AS n_tokens,
    CAST(SUM(SUM(a)) OVER () AS BIGINT) AS n_total
  FROM wc GROUP BY source
),
num AS (
  SELECT wc.source,
    SUM(ABS(CAST(wc.a AS DECIMAL(19,0))
          * CAST(s.n_total - s.n_tokens AS DECIMAL(19,0))
        - CAST(tw.t - wc.a AS DECIMAL(19,0))
          * CAST(s.n_tokens AS DECIMAL(19,0)))) AS present,
    CAST(SUM(tw.t) AS BIGINT) AS seen_mass
  FROM wc JOIN tw ON tw.word = wc.word JOIN ns s ON s.source = wc.source
  GROUP BY wc.source
)
SELECT s.source, s.n_tokens,
  {sql_round_rat('CAST(num.present AS HUGEINT)'
                 ' + CAST(s.n_total - num.seen_mass AS HUGEINT) * s.n_tokens',
                 '2 * CAST(s.n_tokens AS HUGEINT) * (s.n_total - s.n_tokens)',
                 6, wide=True)} AS tvd_vs_rest
FROM ns s JOIN num ON num.source = s.source
WHERE s.n_total > s.n_tokens
ORDER BY tvd_vs_rest DESC, s.source
"""


@register("source_drift_tvd", oracle=_TVD_ORACLE)
def source_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOTAL-VARIATION distance between a source's word
    distribution and the rest of the corpus — the exact, unbinned
    drift diagnostic next to C55's binned PSI: TVD = 0.5 * sum_i
    |p_i - q_i| is the largest possible probability gap any event set
    can show, so a source with tvd 0.3 can shift any downstream
    statistic by up to 30%. Ranked descending, it is the "which crawl
    segment is most unlike the rest" triage view.

    Integer-exact by construction (no float sums over unordered
    rows): |a_i*(N-ns) - (T_i-a_i)*ns| is computed with decimal(19,0)
    operands (exact decimal(38,0) products — int64 would overflow
    near 1e19) and summed in decimal, words ABSENT from a source
    contribute in closed form ((N - seen_mass) * ns — their |0 - q_i|
    masses need no rows), and the single double division + round
    happens once per source. Shapes: ONE corpus-sized shuffle builds
    the (source, word) counts; every later aggregation/join (word
    totals, source totals, the scoring join) is word-table-sized
    (Heaps-law small) or sources-sized."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return source_tvd_report(source_word_counts(docs))


def source_word_counts(docs: DataFrame) -> DataFrame:
    """(source, word, a) counts — the SUM-MERGEABLE state the TVD
    report folds over (shared by the C144 batch op and the E53
    streaming monitor's per-batch deltas)."""
    w = docs.where(F.col("text").isNotNull()).select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    return w.groupBy("source", "word").agg(
        F.count("*").cast("bigint").alias("a")
    )


def source_tvd_report(wc: DataFrame) -> DataFrame:
    """The TVD dataflow over a (source, word, a) counts frame — the
    C144 tail, also served by E53's fold-on-read (summed batch deltas
    ARE this frame, so the streamed report is batch-twin exact)."""
    tw = wc.groupBy("word").agg(F.sum("a").cast("bigint").alias("t"))
    ns = (
        wc.groupBy("source")
        .agg(F.sum("a").cast("bigint").alias("n_tokens"))
        .withColumn(
            "n_total", F.sum("n_tokens").over(Window.partitionBy()).cast("bigint")
        )
    )
    num = (
        wc.join(tw, "word")
        .join(F.broadcast(ns), "source")
        .groupBy("source")
        .agg(
            # cast BEFORE multiplying (r10 review): the cross-products
            # are count * corpus-size and overflow int64 around 1e19 —
            # far below the op's claimed scale. decimal(19,0) operands
            # give exact decimal(38,0) products in both engines.
            F.sum(
                F.abs(
                    F.col("a").cast("decimal(19,0)")
                    * (F.col("n_total") - F.col("n_tokens")).cast(
                        "decimal(19,0)"
                    )
                    - (F.col("t") - F.col("a")).cast("decimal(19,0)")
                    * F.col("n_tokens").cast("decimal(19,0)")
                )
            ).alias("present"),
            F.sum("t").cast("bigint").alias("seen_mass"),
        )
    )
    return (
        ns.join(num, "source")
        .where(F.col("n_total") > F.col("n_tokens"))
        .select(
            "source",
            "n_tokens",
            # integer-exact TVD: every term is an exact integer, so
            # the statistic is num/(2*q) — wide round_rat
            round_rat(
                "CAST(present AS DECIMAL(38,0))"
                " + CAST(n_total - seen_mass AS DECIMAL(38,0)) * n_tokens",
                "2 * CAST(n_tokens AS DECIMAL(38,0))"
                " * (n_total - n_tokens)",
                6,
                wide=True,
            ).alias("tvd_vs_rest"),
        )
        .orderBy(F.desc("tvd_vs_rest"), "source")
    )


# ---------------------------------------------------------------- C145
_KS_ORACLE = f"""
WITH d AS (
  SELECT source, CAST(LENGTH(text) AS BIGINT) AS x
  FROM documents WHERE text IS NOT NULL
),
wc AS (SELECT source, x, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
ns AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
    CAST(SUM(SUM(c)) OVER () AS BIGINT) AS n_total
  FROM wc GROUP BY source
),
grid AS (
  SELECT s.source, xs.x, COALESCE(wc.c, 0) AS c
  FROM (SELECT DISTINCT x FROM wc) xs
  CROSS JOIN (SELECT DISTINCT source FROM wc) s
  LEFT JOIN wc ON wc.source = s.source AND wc.x = xs.x
),
cum AS (
  SELECT source, x,
    SUM(c) OVER (PARTITION BY source ORDER BY x) AS cum_s
  FROM grid
),
tot AS (
  SELECT x, SUM(c) AS cx FROM grid GROUP BY x
),
cumall AS (
  SELECT x, SUM(cx) OVER (ORDER BY x) AS cum_all FROM tot
),
gaps AS (
  SELECT c.source, s.n_docs, s.n_total,
    MAX(ABS(CAST(c.cum_s AS DECIMAL(19,0))
          * CAST(s.n_total - s.n_docs AS DECIMAL(19,0))
        - CAST(a.cum_all - c.cum_s AS DECIMAL(19,0))
          * CAST(s.n_docs AS DECIMAL(19,0)))) AS dnum
  FROM cum c
  JOIN cumall a ON a.x = c.x
  JOIN ns s ON s.source = c.source
  GROUP BY c.source, s.n_docs, s.n_total
)
SELECT source, n_docs,
  {sql_round_rat('CAST(dnum AS HUGEINT)',
                 'CAST(n_docs AS HUGEINT) * (n_total - n_docs)', 6,
                 wide=True)} AS ks_stat
FROM gaps WHERE n_total > n_docs
ORDER BY ks_stat DESC, source
"""


@register("ks_drift_doclen", oracle=_KS_ORACLE)
def ks_drift_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample Kolmogorov-Smirnov statistic on document
    LENGTH vs the rest of the corpus — the numeric-feature drift
    check beside C144's word-distribution TVD and C55's binned PSI:
    KS = max_x |F_source(x) - F_rest(x)| is distribution-free and
    catches shape changes (a source of uniformly truncated docs) that
    mean/percentile monitors miss.

    Integer-exact: the max runs over |cum_s*(N-ns) - cum_rest*ns|
    with decimal(19,0) operands (exact decimal(38,0) cross-products —
    int64 would overflow near 1e19; the single double division +
    round happens once per source).
    Scale shape: one shuffle for (source, length) counts; the
    evaluation grid is sources x DISTINCT lengths (value-domain-
    bounded, not corpus-bounded), cumulated by a window PARTITIONED
    BY source — no single-partition stage."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    d = docs.where(F.col("text").isNotNull()).select(
        "source", F.length("text").cast("bigint").alias("x")
    )
    # wc fans into four branches, but AQE's runtime exchange reuse
    # already deduplicates the identical count shuffle (r11 pin A/B:
    # no win), so the frame stays lazily shared.
    wc = d.groupBy("source", "x").agg(F.count("*").cast("bigint").alias("c"))
    ns = (
        wc.groupBy("source")
        .agg(F.sum("c").cast("bigint").alias("n_docs"))
        .withColumn(
            "n_total",
            F.sum("n_docs").over(Window.partitionBy()).cast("bigint"),
        )
    )
    xs = wc.select("x").distinct()
    sources = wc.select("source").distinct()
    grid = (
        xs.crossJoin(sources)
        .join(wc, ["source", "x"], "left")
        .select("source", "x", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w_s = Window.partitionBy("source").orderBy("x")
    cum = grid.select(
        "source", "x", F.sum("c").over(w_s).alias("cum_s")
    )
    tot = grid.groupBy("x").agg(F.sum("c").alias("cx"))
    w_all = Window.partitionBy(F.lit(0)).orderBy("x")
    cumall = tot.select("x", F.sum("cx").over(w_all).alias("cum_all"))
    gaps = (
        cum.join(F.broadcast(cumall), "x")
        .join(F.broadcast(ns), "source")
        .groupBy("source", "n_docs", "n_total")
        .agg(
            # decimal operands before the multiply — the int64
            # cross-product overflows around 1e19 (r10 review; the
            # C144 fix, same shape)
            F.max(
                F.abs(
                    F.col("cum_s").cast("decimal(19,0)")
                    * (F.col("n_total") - F.col("n_docs")).cast(
                        "decimal(19,0)"
                    )
                    - (F.col("cum_all") - F.col("cum_s")).cast(
                        "decimal(19,0)"
                    )
                    * F.col("n_docs").cast("decimal(19,0)")
                )
            ).alias("dnum")
        )
    )
    return (
        gaps.where(F.col("n_total") > F.col("n_docs"))
        .select(
            "source",
            "n_docs",
            # integer-exact KS statistic (wide round_rat)
            round_rat(
                "CAST(dnum AS DECIMAL(38,0))",
                "CAST(n_docs AS DECIMAL(38,0)) * (n_total - n_docs)",
                6,
                wide=True,
            ).alias("ks_stat"),
        )
        .orderBy(F.desc("ks_stat"), "source")
    )
