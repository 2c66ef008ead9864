"""Text-analysis operators over the ``documents`` table: quality
scoring, token counting, language ID, fingerprinting, stopword
density.

All expressions are JVM-side (split / regexp / array functions inside
whole-stage codegen) — no Python in the hot path, so these scan at
parquet speed and scale linearly. Each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    RoundPins,
    pin,
    remember,
    round_rat,
    scratch,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register

_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# Tiny per-language stopword lists (top function words).
_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "es": ("el", "la", "de", "y", "que", "es", "en"),
    "fr": ("le", "la", "de", "et", "un", "est", "en"),
    "de": ("der", "die", "das", "und", "ist", "ein", "in"),
    "zh": ("de", "shi", "bu", "le", "wo", "you", "he"),
}
_ALL_STOP = tuple(sorted({w for ws in _STOPWORDS.values() for w in ws}))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _spark_array(words: tuple[str, ...]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


# ---------------------------------------------------------------- C8
_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
    LENGTH(text) AS n_chars_calc,
    LEN(string_split_regex(TRIM(text), '\\s+')) AS n_words,
    LEN(list_distinct(string_split_regex(TRIM(text), '\\s+'))) AS n_distinct_words
  FROM documents
)
SELECT doc_id, n_chars_calc, n_words,
  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / n_words AS avg_word_len,
  CAST(LENGTH(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
    / LENGTH(text) AS punct_ratio,
  CAST(n_distinct_words AS DOUBLE) / n_words AS distinct_ratio,
  CASE WHEN n_words BETWEEN 5 AND 10000 THEN
    CAST(n_distinct_words AS DOUBLE) / n_words ELSE 0.0 END AS quality_score
FROM t
"""


@register("text_quality", oracle=_QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: length, word stats, punctuation
    density, lexical diversity, and a composite score (the
    length-gate x diversity heuristic used for corpus filtering)."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    distinct_ratio = n_distinct.cast("double") / n_words
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_words.alias("n_words"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words).alias(
            "avg_word_len"
        ),
        (
            F.length(F.regexp_replace(F.col("text"), r"[a-z0-9\s]", "")).cast("double")
            / F.length("text")
        ).alias("punct_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        F.when(n_words.between(5, 10000), distinct_ratio).otherwise(F.lit(0.0)).alias(
            "quality_score"
        ),
    )


# ---------------------------------------------------------------- C9
_TOKEN_ORACLE = f"""
SELECT doc_id,
  LEN(string_split_regex(TRIM(text), '\\s+')) AS ws_tokens,
  LEN(regexp_extract_all(text, '{_TOKEN_RE}')) AS re_tokens
FROM documents
"""


@register("token_count", oracle=_TOKEN_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish regex token counts per document (the
    regex splits runs of letters, digits, and single symbols — a cheap
    proxy for subword tokenizer counts)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0))).alias(
            "re_tokens"
        ),
    )


# ---------------------------------------------------------------- C10
def _lang_hits_sql(lang: str) -> str:
    return (
        f"LEN(list_intersect(string_split(text, ' '), {_sql_list(_STOPWORDS[lang])}))"
        f" AS hits_{lang}"
    )


_LANG_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang,
    {", ".join(_lang_hits_sql(code) for code in _STOPWORDS)}
  FROM documents
), p AS (
  SELECT lang,
    CASE
      WHEN hits_en >= hits_es AND hits_en >= hits_fr
       AND hits_en >= hits_de AND hits_en >= hits_zh THEN 'en'
      WHEN hits_es >= hits_fr AND hits_es >= hits_de
       AND hits_es >= hits_zh THEN 'es'
      WHEN hits_fr >= hits_de AND hits_fr >= hits_zh THEN 'fr'
      WHEN hits_de >= hits_zh THEN 'de'
      ELSE 'zh'
    END AS predicted_lang
  FROM h
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM p GROUP BY lang, predicted_lang
"""


@register("lang_id", oracle=_LANG_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: count distinct stopword types per
    language list, argmax with a fixed priority tiebreak; output the
    (actual, predicted) confusion counts."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    hits = {
        code: F.size(
            F.array_intersect(words, F.expr(_spark_array(_STOPWORDS[code])))
        ).alias(f"hits_{code}")
        for code in _STOPWORDS
    }
    h = docs.select("doc_id", "lang", *hits.values())
    predicted = (
        F.when(
            (F.col("hits_en") >= F.col("hits_es"))
            & (F.col("hits_en") >= F.col("hits_fr"))
            & (F.col("hits_en") >= F.col("hits_de"))
            & (F.col("hits_en") >= F.col("hits_zh")),
            "en",
        )
        .when(
            (F.col("hits_es") >= F.col("hits_fr"))
            & (F.col("hits_es") >= F.col("hits_de"))
            & (F.col("hits_es") >= F.col("hits_zh")),
            "es",
        )
        .when(
            (F.col("hits_fr") >= F.col("hits_de")) & (F.col("hits_fr") >= F.col("hits_zh")),
            "fr",
        )
        .when(F.col("hits_de") >= F.col("hits_zh"), "de")
        .otherwise("zh")
    )
    return (
        h.select("lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------- C11
_FINGERPRINT_ORACLE = """
SELECT doc_id,
  md5(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) AS norm_fingerprint,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    AS bag_fingerprint
FROM documents
"""


@register("doc_fingerprint", oracle=_FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two content fingerprints per document: md5 of the
    whitespace-normalized text (exact-dup key) and md5 of the sorted
    distinct word bag (order-insensitive near-dup key)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias(
            "norm_fingerprint"
        ),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
        ).alias("bag_fingerprint"),
    )


# ---------------------------------------------------------------- C12
_STOPRATIO_ORACLE = f"""
SELECT doc_id,
  LEN(list_filter(string_split(text, ' '),
      w -> list_contains({_sql_list(_ALL_STOP)}, w))) AS n_stopwords,
  CAST(LEN(list_filter(string_split(text, ' '),
      w -> list_contains({_sql_list(_ALL_STOP)}, w))) AS DOUBLE)
    / LEN(string_split(text, ' ')) AS stopword_ratio
FROM documents
"""


@register("stopword_ratio", oracle=_STOPRATIO_ORACLE)
def stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword token density per document (token occurrences, not
    distinct types) — a standard corpus-quality signal."""
    arr = _spark_array(_ALL_STOP)
    n_stop = F.expr(f"size(filter(split(text, ' '), w -> array_contains({arr}, w)))")
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / F.size(F.split(F.col("text"), " "))).alias("stopword_ratio"),
    )


# ---------------------------------------------------------------- C28
_RL_STRIPPED = "LEN(REPLACE(REPLACE(text, ' ', ''), '.', ''))"
_RL_WORDS = "LEN(string_split_regex(TRIM(text), '\\s+'))"
_RL_SENTS = "GREATEST(LEN(string_split_regex(text, '[.!?]+')) - 1, 1)"
_READING_ORACLE = f"""
SELECT doc_id,
  {_RL_WORDS} AS n_words,
  LEN(string_split_regex(text, '[.!?]+')) - 1 AS n_sentences,
  {sql_round_rat(_RL_STRIPPED, _RL_WORDS, 4)} AS chars_per_word,
  {sql_round_rat(_RL_WORDS, _RL_SENTS, 4)} AS words_per_sentence
FROM documents
"""


@register("reading_level", oracle=_READING_ORACLE)
def reading_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability raw features per document: word/sentence counts,
    mean word length, mean sentence length — the inputs every
    Flesch-style formula consumes, as pure codegen expressions (one
    scan, no shuffle at all)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    n_sentences = F.size(F.split(F.col("text"), r"[.!?]+")) - 1
    stripped = F.length(F.regexp_replace(F.col("text"), r"[ .]", ""))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        # integer-exact ratios (round_rat; r11 rounding-audit class)
        round_rat(
            "length(regexp_replace(text, '[ .]', ''))",
            "size(split(trim(text), '\\\\s+'))",
            4,
        ).alias("chars_per_word"),
        round_rat(
            "size(split(trim(text), '\\\\s+'))",
            "greatest(size(split(text, '[.!?]+')) - 1, 1)",
            4,
        ).alias("words_per_sentence"),
    )


# ---------------------------------------------------------------- C29
_TRIGRAM_ORACLE = """
WITH grams AS (
  SELECT lang, substring(lower(text), t.i, 3) AS g
  FROM documents, UNNEST(generate_series(1, len(text) - 2)) AS t(i)
  WHERE len(text) >= 3
), counted AS (
  SELECT lang, g, COUNT(*) AS n FROM grams
  WHERE g NOT LIKE '% %' GROUP BY lang, g
)
SELECT lang, g AS trigram, n FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, g) AS rn
  FROM counted
) WHERE rn <= 10
"""


@register("char_trigram_profile", oracle=_TRIGRAM_ORACLE)
def char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 character trigrams per language — the classic n-gram
    language-model profile (what a trained lang-ID ships instead of
    stopword lists). Trigrams come from one sequence-transform over
    the lowercased text; space-crossing grams are dropped; map-side
    partial counts keep the shuffle at distinct-gram size."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    grams_expr = """
    transform(sequence(1, greatest(length(_lt) - 2, 1)),
              i -> substring(_lt, i, 3))
    """
    grams = (
        docs.where(F.length("text") >= 3)
        .select("lang", F.lower(F.col("text")).alias("_lt"))
        .select("lang", F.explode_outer(F.expr(grams_expr)).alias("g"))
        .where(F.col("g").isNotNull() & (F.length("g") == 3) & ~F.col("g").contains(" "))
    )
    counted = grams.groupBy("lang", "g").agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("lang").orderBy(F.desc("n"), "g")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("lang", F.col("g").alias("trigram"), "n")
    )


# ---------------------------------------------------------------- C30
_DUPRATE_ORACLE = f"""
SELECT source, COUNT(*) AS n_docs,
  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups,
  {sql_round_rat('COUNT(*) - COUNT(DISTINCT md5(text))', 'COUNT(*)', 6)}
    AS dup_rate
FROM documents GROUP BY source
"""


@register("dup_rate_by_source", oracle=_DUPRATE_ORACLE)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per ingest source — the triage metric
    that decides which feed needs dedup attention first. One pass:
    count vs distinct content-hash count per source."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # integer-exact rate (round_rat; r11 rounding-audit class)
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.count("*") - F.count_distinct(F.md5("text"))).alias(
                "n_exact_dups"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dups",
            round_rat("n_exact_dups", "n_docs", 6).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------- C32
_ZIPF_ORACLE = """
WITH counts AS (
  SELECT w AS word, COUNT(*) AS n
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> '' GROUP BY w
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
  FROM counts
)
SELECT CAST(ROUND(REGR_SLOPE(LN(CAST(n AS DOUBLE)), LN(CAST(rank AS DOUBLE))), 4)
    AS DOUBLE) AS zipf_slope,
  CAST(ROUND(REGR_R2(LN(CAST(n AS DOUBLE)), LN(CAST(rank AS DOUBLE))), 4)
    AS DOUBLE) AS r2,
  COUNT(*) AS n_types
FROM ranked WHERE rank <= 1000
"""


@register("zipf_fit", oracle=_ZIPF_ORACLE)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus word distribution: log-frequency
    regressed on log-rank over the top 1000 types (a natural corpus
    should slope near -1; synthetic or templated text deviates —
    a cheap corpus-health check). The rank window runs over the
    word-count aggregate, not the tokens."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from pyspark.sql.window import Window as _W

    counts = (
        docs.select(F.explode_outer(F.split("text", " ")).alias("word"))
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    ranked = counts.select(
        "n", F.row_number().over(_W.orderBy(F.desc("n"), "word")).alias("rank")
    ).where(F.col("rank") <= 1000)
    ln_n = F.log(F.col("n").cast("double"))
    ln_r = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(ln_n, ln_r), 4).alias("zipf_slope"),
        F.round(F.regr_r2(ln_n, ln_r), 4).alias("r2"),
        F.count("*").alias("n_types"),
    )


# ---------------------------------------------------------------- C34
_NULLPROFILE_ORACLE = """
SELECT
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN text IS NULL OR TRIM(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
    AS blank_text,
  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
  CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars <> LEN(text) THEN 1 ELSE 0 END)
    AS BIGINT) AS bad_n_chars
FROM documents
"""


@register("null_profile", oracle=_NULLPROFILE_ORACLE)
def null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: blank text, missing language tags, and
    n_chars values that contradict the text length — the ingest
    validation a pipeline runs before anything downstream trusts the
    columns. One scan of conditional sums."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")
    return docs.agg(
        F.count("*").alias("n_docs"),
        flag(F.col("text").isNull() | (F.trim("text") == "")).alias("blank_text"),
        flag(F.col("lang").isNull()).alias("null_lang"),
        flag(
            F.col("n_chars").isNull() | (F.col("n_chars") != F.length("text"))
        ).alias("bad_n_chars"),
    )


# ---------------------------------------------------------------- C40
_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
  FROM documents
), pw AS (
  SELECT doc_id, word, COUNT(*) AS cnt FROM t GROUP BY doc_id, word
), pd AS (
  SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS nw,
    CAST(MAX(cnt) AS BIGINT) AS topc,
    CAST(SUM(cnt * LENGTH(word)) AS BIGINT) AS wchars,
    CAST(SUM(CASE WHEN regexp_matches(word, '[a-z]') THEN cnt ELSE 0 END) AS BIGINT) AS alpha_w,
    CAST(COUNT(*) AS BIGINT) AS ndw
  FROM pw GROUP BY doc_id
)
SELECT doc_id, nw AS n_words,
  CAST(wchars AS DOUBLE) / nw AS mean_word_len,
  CAST(topc AS DOUBLE) / nw AS top_word_share,
  CAST(ndw AS DOUBLE) / nw AS distinct_ratio,
  CAST(nw BETWEEN 25 AND 5000 AS INTEGER) AS pass_length,
  CAST(CAST(wchars AS DOUBLE) / nw BETWEEN 3 AND 10 AS INTEGER) AS pass_word_len,
  CAST(CAST(alpha_w AS DOUBLE) / nw >= 0.8 AS INTEGER) AS pass_alpha,
  CAST(CAST(topc AS DOUBLE) / nw <= 0.15 AS INTEGER) AS pass_dominance,
  CAST(CAST(ndw AS DOUBLE) / nw >= 0.35 AS INTEGER) AS pass_diversity,
  CAST(nw BETWEEN 25 AND 5000
    AND CAST(wchars AS DOUBLE) / nw BETWEEN 3 AND 10
    AND CAST(alpha_w AS DOUBLE) / nw >= 0.8
    AND CAST(topc AS DOUBLE) / nw <= 0.15
    AND CAST(ndw AS DOUBLE) / nw >= 0.35 AS INTEGER) AS keep
FROM pd
"""


@register("gopher_quality_filter", oracle=_GOPHER_ORACLE)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021, the
    public corpus-filter recipe): per-document word-count bounds, mean
    word length bounds, alphabetic-word ratio, single-word dominance,
    and lexical diversity, each as a 0/1 rule flag plus the composite
    keep decision.

    Plan shape: ONE explode of the word array, then two chained
    hash-aggregations (doc_id+word, then doc_id) — both map-side
    combinable, so the exploded frame never materializes a skewed
    shuffle. Every ratio derives from exact integer counts, so the
    doubles are a single IEEE division on both engines and the flags
    are reproducible. Word-level stats (dominance, diversity) come
    from the same pass as the length stats — the corpus is scanned
    once."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    per_word = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode_outer(words).alias("word"))
        .where(F.col("word").isNotNull())
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    pd_ = per_word.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("nw"),
        F.max("cnt").cast("bigint").alias("topc"),
        F.sum(F.col("cnt") * F.length("word")).cast("bigint").alias("wchars"),
        F.sum(F.when(F.col("word").rlike("[a-z]"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("alpha_w"),
        F.count("*").cast("bigint").alias("ndw"),
    )
    mean_wl = F.col("wchars").cast("double") / F.col("nw")
    top_share = F.col("topc").cast("double") / F.col("nw")
    dist_ratio = F.col("ndw").cast("double") / F.col("nw")
    alpha_ratio = F.col("alpha_w").cast("double") / F.col("nw")
    p_len = F.col("nw").between(25, 5000)
    p_wl = mean_wl.between(3, 10)
    p_alpha = alpha_ratio >= 0.8
    p_dom = top_share <= 0.15
    p_div = dist_ratio >= 0.35
    return pd_.select(
        "doc_id",
        F.col("nw").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        top_share.alias("top_word_share"),
        dist_ratio.alias("distinct_ratio"),
        p_len.cast("int").alias("pass_length"),
        p_wl.cast("int").alias("pass_word_len"),
        p_alpha.cast("int").alias("pass_alpha"),
        p_dom.cast("int").alias("pass_dominance"),
        p_div.cast("int").alias("pass_diversity"),
        (p_len & p_wl & p_alpha & p_dom & p_div).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------- C41
_OVERLAP_ORACLE = """
WITH sh AS (
  SELECT source,
    UNNEST(list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))) AS shingle
  FROM documents
), ss AS (
  SELECT DISTINCT source, shingle FROM sh
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ss GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT a.source AS src_a, b.source AS src_b,
  a.n AS n_a, b.n AS n_b,
  COALESCE(i.i, 0) AS inter,
  CAST(COALESCE(i.i, 0) AS DOUBLE) / (a.n + b.n - COALESCE(i.i, 0)) AS jaccard
FROM sizes a JOIN sizes b ON a.source < b.source
LEFT JOIN inter i ON i.src_a = a.source AND i.src_b = b.source
"""


@register("source_overlap_matrix", oracle=_OVERLAP_ORACLE)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap matrix: 3-gram shingle Jaccard between every
    pair of sources — the diagnostic that tells a data-mixing run
    which crawls/feeds are near-copies of each other before it
    assigns mixture weights.

    Scale story: the corpus is scanned once into distinct (source,
    shingle) pairs; source pairs are then generated INSIDE per-shingle
    postings (bounded by the source count, not the corpus size), the
    same inverted-index trick the document-level dedup uses — never a
    shingle-level self-join of the corpus against itself. The final
    matrix assembly joins frames that are |sources|^2 rows, broadcast
    territory at any scale."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        _SHINGLE_FROM_WORDS,
    )

    docs = _docs(spark, sf_dir)
    ss = (
        docs.select("source", F.split(F.col("text"), " ").alias("_w"))
        .select("source", F.explode_outer(F.expr(_SHINGLE_FROM_WORDS)).alias("shingle"))
        .where(F.col("shingle").isNotNull())
        .distinct()
    )
    sizes = ss.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    pair_expr = """
    flatten(transform(ss_list, (x, i) ->
      transform(slice(ss_list, i + 2, size(ss_list)),
                y -> struct(x AS src_a, y AS src_b))))
    """
    inter = (
        ss.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("ss_list"))
        .where(F.size("ss_list") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count("*").cast("bigint").alias("i"))
    )
    a = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    b = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    inter_n = F.coalesce(F.col("i"), F.lit(0)).cast("bigint")
    return (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .select(
            "src_a", "src_b", "n_a", "n_b",
            inter_n.alias("inter"),
            (
                inter_n.cast("double")
                / (F.col("n_a") + F.col("n_b") - inter_n)
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------- C43
_UNIGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
  FROM documents
), vocab AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY word
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab
)
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(AVG(-LOG2(CAST(v.cnt AS DOUBLE) / (SELECT n FROM total))), 4)
    AS bits_per_token
FROM tok t JOIN vocab v ON t.word = v.word
GROUP BY t.doc_id
"""


@register("unigram_logprob", oracle=_UNIGRAM_ORACLE)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality proxy (Wenzek et al. 2020
    use a KenLM; the unigram cross-entropy is its cheapest honest
    sibling): per-document bits-per-token under the corpus's own
    unigram distribution. Low = formulaic/repetitive text, high =
    rare-token soup — both tails are what a curation run inspects.

    Two scans of the token stream (vocabulary build, then doc
    scoring), one shuffle each, joined on the word key. The word join
    is Zipf-skewed by construction — exactly the case AQE skew-join
    splitting handles; at 100 TB the vocabulary still shuffles (it is
    corpus-sized in the tail), so no broadcast is attempted. The
    rounding (4 dp) pins the float-sum partial-aggregation order
    difference between engines."""
    tok = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .where(F.col("word").isNotNull())
    )
    vocab = tok.groupBy("word").agg(F.count("*").cast("bigint").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("n"))
    bits = -F.log2(F.col("cnt").cast("double") / F.col("n"))
    return (
        tok.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(bits), 4).alias("bits_per_token"),
        )
    )


# ---------------------------------------------------------------- C44
_DSIR_TARGET = "src1"
_DSIR_BUCKETS = 256

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
    CAST(('0x' || substring(md5(UNNEST(string_split_regex(TRIM(text), '\\s+'))), 1, 4))
      AS INTEGER) % {_DSIR_BUCKETS} AS b
  FROM documents
), raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY b
), tgt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM tok WHERE source = '{_DSIR_TARGET}' GROUP BY b
), totals AS (
  SELECT CAST(SUM(r) AS BIGINT) AS nr,
    (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) FROM tgt) AS nt
  FROM raw
), w AS (
  SELECT raw.b,
    LN((COALESCE(tgt.t, 0) + 1.0) / (totals.nt + {_DSIR_BUCKETS}))
      - LN((raw.r + 1.0) / (totals.nr + {_DSIR_BUCKETS})) AS lw
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN totals
)
SELECT tok.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(SUM(w.lw), 4) AS dsir_logweight
FROM tok JOIN w ON tok.b = w.b
GROUP BY tok.doc_id
"""


@register("dsir_importance_weights", oracle=_DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): score every
    document by how much more likely its hashed-unigram features are
    under a target domain than under the raw corpus — documents with
    high log-weight are resampled into the training mix to shift it
    toward the target. Here the target is the 'src1' source; features
    are md5-derived 256-bucket hashed unigrams with add-one smoothing,
    exactly the paper's hashed-ngram recipe (md5, not xxhash, because
    the bucket assignment must reproduce across engines).

    One token scan builds both bucket distributions (the target is a
    filtered re-aggregation, not a second scan); the per-bucket
    log-ratio table is 256 rows — broadcast — so scoring is a
    map-side join over the token stream followed by one per-doc
    aggregation. At 100 TB nothing here shuffles more than the token
    stream's doc_id grouping."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("word")), 1, 4), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )
    tok = (
        _docs(spark, sf_dir)
        .select(
            "doc_id", "source",
            F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .where(F.col("word").isNotNull())
        .select("doc_id", "source", bucket.alias("b"))
    )
    raw = tok.groupBy("b").agg(F.count("*").cast("bigint").alias("r"))
    tgt = (
        tok.where(F.col("source") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    totals = raw.agg(F.sum("r").cast("bigint").alias("nr")).crossJoin(
        tgt.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("nt"))
    )
    t_s = F.coalesce(F.col("t"), F.lit(0))
    lw = F.log((t_s + 1.0) / (F.col("nt") + float(_DSIR_BUCKETS))) - F.log(
        (F.col("r") + 1.0) / (F.col("nr") + float(_DSIR_BUCKETS))
    )
    w = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select("b", lw.alias("lw"))
    )
    return (
        tok.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.sum("lw"), 4).alias("dsir_logweight"),
        )
    )


# ---------------------------------------------------------------- C60
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
_BM25_QUERIES = {
    1: ("spark", "join", "merge"),
    2: ("window", "agg", "stream"),
    3: ("customer", "order", "line"),
}
_BM25_ALL_TERMS = tuple(sorted({t for ts in _BM25_QUERIES.values() for t in ts}))

_BM25_QT_SQL = " UNION ALL ".join(
    f"SELECT {qid} AS query_id, '{t}' AS token"
    for qid, ts in sorted(_BM25_QUERIES.items())
    for t in ts
)
_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _BM25_ALL_TERMS) + ")"

_BM25_ORACLE = f"""
WITH qt AS ({_BM25_QT_SQL}),
toks AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks
  WHERE token IN {_BM25_TERMS_SQL} GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), dl AS (
  SELECT doc_id, LEN(string_split_regex(TRIM(text), '\\s+')) AS dl
  FROM documents
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
), scored AS (
  SELECT qt.query_id, tf.doc_id,
    SUM(LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
        * tf.tf / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
            + {_BM25_B} * dl.dl / stats.avgdl))) AS score
  FROM tf
  JOIN qt ON tf.token = qt.token
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
      AS rank
  FROM scored
)
SELECT query_id, doc_id, CAST(rank AS INT) AS rank,
  CAST(ROUND(score, 5) AS DOUBLE) AS score
FROM ranked WHERE rank <= {_BM25_TOPK}
"""


@register("bm25_retrieval", oracle=_BM25_ORACLE)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (Robertson-Sparck Jones IDF, the Lucene
    formula) for a fixed query set: top-{k} documents per query by
    sum over query terms of IDF(t) * tf / (tf + k1*(1-b+b*|d|/avgdl)).
    The retrieval primitive a data-curation stack uses to pull
    topic-relevant subsets out of a web-scale corpus.

    Scale: df, avgdl and N are index-time statistics. They live in
    the keyed BM25 index next to each (doc, term) row's tf and dl
    (:func:`_bm25_index`), so a query scans one vocabulary-bounded
    table, joins it to the broadcast query terms and sums per (query,
    doc): one shuffle for that aggregate, one for the per-query top-k
    window. The window partitions by query_id, parallel across
    queries, and each query's candidate set is bounded by the
    vocabulary-filtered postings, not the corpus."""
    scored = _bm25_scored(spark, sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "doc_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _BM25_TOPK)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("score", 5).alias("score"),
        )
    )


def _bm25_query_table(spark: SparkSession) -> DataFrame:
    """The fixed (query_id, token) set as a VALUES LocalRelation —
    ``createDataFrame`` builds a Python RDD + applySchemaToPythonRDD
    round-trip per invocation for 9 constant rows (r12 before-plan:
    `Scan ExistingRDD ... UnknownPartitioning`); an inline VALUES list
    is a LocalRelation the optimizer can fold and broadcast directly."""
    vals = ", ".join(
        f"({qid}, '{t}')"
        for qid, ts in sorted(_BM25_QUERIES.items())
        for t in ts
    )
    return spark.sql(
        f"SELECT col1 AS query_id, col2 AS token FROM (VALUES {vals})"
    )


def _bm25_index(d: DataFrame) -> DataFrame:
    """The BM25 index of the documents frame ``d``, keyed scratch per
    version of ``d``: one row per (doc_id, token) of the query
    vocabulary with ``tf, dl, df, avgdl, n_docs`` — the statistics a
    Lucene-style engine stores at index time, so a query scans one
    table instead of re-deriving df and the corpus aggregate from it.
    The token explode is filtered to the query vocabulary on the
    Generate output, so off-vocabulary tokens never leave the scan
    stage. Rows are at most docs x |query vocab|; the only consumer
    is a join to a broadcast query table feeding a hash aggregate."""

    def build() -> DataFrame:
        ws = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
        tf = (
            ws.select("doc_id", F.explode_outer("ws").alias("token"))
            .where(F.col("token").isin(*_BM25_ALL_TERMS))
            .groupBy("doc_id", "token")
            .agg(F.count("*").alias("tf"))
        )
        df = tf.groupBy("token").agg(F.count("*").alias("df"))
        dl = ws.select("doc_id", F.size("ws").alias("dl"))
        stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
        return (
            tf.join(F.broadcast(df), "token")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
        )

    return scratch("bm25-index", d, build)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score) BM25 frame shared by the lexical
    retrieval entry and the hybrid RRF fusion: the index
    (:func:`_bm25_index`) joined to the broadcast query table and
    summed per (query, doc)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        _bm25_index(d)
        .join(F.broadcast(_bm25_query_table(spark)), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(idf * norm).alias("score"))
    )


# ---------------------------------------------------------------- C61
_VOCAB_K = 20

_OOV_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents
), vocab AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT {_VOCAB_K}
)
SELECT t.doc_id,
  COUNT(*) AS n_tokens,
  CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
  {sql_round_rat("COUNT(*) FILTER (WHERE v.token IS NULL)", 'COUNT(*)', 6)}
    AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
"""


@register("vocab_oov_profile", oracle=_OOV_ORACLE)
def vocab_oov_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage profile: the corpus' top-{k} words by
    frequency (deterministic tie-break on the word) form the "vocab",
    and every document reports its out-of-vocabulary token count and
    rate — the coverage analysis run before fixing a tokenizer vocab
    or pruning an embedding table, and a cheap outlier flag (a doc
    whose tokens are mostly OOV is boilerplate, noise, or the wrong language).

    Scale: vocab selection is a word-count aggregate fused to
    TakeOrderedAndProject (k rows cross the wire), then a k-row
    BROADCAST left join against the exploded token stream — one
    Generate, two linear shuffles (word counts, per-doc rollup), no
    sort of the corpus."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select(
        "doc_id",
        F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), "token")
        .limit(_VOCAB_K)
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    oov = F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).cast(
        "bigint"
    )
    # integer-exact rate (round_rat over the oov/total counts)
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), oov.alias("n_oov"))
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            round_rat("n_oov", "n_tokens", 6).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------- C63
_NORM_ORACLE = """
WITH n AS (
  SELECT doc_id, text,
    TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\\s]', '', 'g'),
                        '\\s+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
  LENGTH(text) AS n_chars_raw,
  LENGTH(norm_text) AS n_chars_norm,
  text <> norm_text AS changed
FROM n
"""


@register("normalize_corpus", oracle=_NORM_ORACLE)
def normalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the pass run before any hashing
    or dedup so near-identical byte variants collapse): lowercase,
    strip non-alphanumerics, collapse whitespace runs, trim — with
    before/after character counts and a changed flag so the pipeline
    can report how destructive the pass was. Pure codegen string
    expressions, zero shuffles: maps over 100 TB at scan speed."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
        (F.col("text") != norm).alias("changed"),
    )


# ---------------------------------------------------------------- C65
_BPE_TOPK = 25

_BPE_ORACLE = f"""
WITH wc AS (
  SELECT w AS word, COUNT(*) AS freq FROM (
    SELECT UNNEST(string_split_regex(TRIM(text), '\\s+')) AS w FROM documents
  ) GROUP BY w
), pairs AS (
  SELECT substr(word, i, 2) AS pair, freq
  FROM wc, UNNEST(generate_series(1, LEN(word) - 1)) AS t(i)
  WHERE LEN(word) >= 2
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair LIMIT {_BPE_TOPK}
"""


@register("bpe_merge_candidates", oracle=_BPE_ORACLE)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed heart of BPE tokenizer training: the most
    frequent adjacent symbol pairs across the corpus (here the
    character-pair base case — each merge iteration recomputes this
    over the updated symbol sequences). The classic scaling trick is
    built in: pair counting runs over the DISTINCT-WORD table
    weighted by word frequency, so cost is vocabulary-sized, not
    corpus-sized — a 100 TB corpus with a 10M-word vocab counts
    pairs over 10M rows.

    Two hash aggregations (word counts, pair counts) + a top-k that
    fuses to TakeOrderedAndProject; the pair explode touches only the
    vocab table."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = d.select(
        F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    wc = words.groupBy("word").agg(F.count("*").alias("freq"))
    pair_arr = F.expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
    )
    pairs = (
        wc.where(F.length("word") >= 2)
        .select(F.explode_outer(pair_arr).alias("pair"), "freq")
        .where(F.col("pair").isNotNull())
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------- C67
_SPLIT_SEED = "split1"

_SPLIT_ORACLE = f"""
WITH h AS (
  SELECT doc_id, n_chars,
    ('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || '_{_SPLIT_SEED}'), 1, 4))
      ::BIGINT AS bucket
  FROM documents
), s AS (
  SELECT CASE WHEN bucket < 52429 THEN 'train'
              WHEN bucket < 58982 THEN 'validation'
              ELSE 'test' END AS split,
    n_chars
  FROM h
), tot AS (SELECT COUNT(*) AS n FROM s)
SELECT split, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  {sql_round_rat('COUNT(*)', 'tot.n', 4)} AS doc_share
FROM s, tot GROUP BY split, tot.n
"""


@register("dataset_split", oracle=_SPLIT_ORACLE)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/validation/test split: each doc
    hashes into a 16-bit md5 bucket (52429/65536 = 0.80,
    58982/65536 = 0.90) so membership is a pure function of doc_id —
    stable across runs, partitionings, and machines, immune to the
    reordering bugs RNG-based splits hit in distributed loaders, and
    any later pipeline can recompute membership without a lookup
    table. Reports per-split doc counts, token mass, and realized
    shares (the audit that the hash didn't skew).

    One scan + one aggregation; the split expression is codegen'd
    and costs nothing at 100 TB."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(f"_{_SPLIT_SEED}"))
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    split = (
        F.when(bucket < 52429, "train")
        .when(bucket < 58982, "validation")
        .otherwise("test")
    )
    tot = d.agg(F.count(F.lit(1)).alias("_n"))
    return (
        d.select(split.alias("split"), "n_chars")
        .crossJoin(F.broadcast(tot))
        .groupBy("split", "_n")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            "split",
            "n_docs",
            "total_chars",
            # integer-exact share (round_rat)
            round_rat("n_docs", "_n", 4).alias("doc_share"),
        )
    )


# ---------------------------------------------------------------- C73
_IDS_UNK = 0

_IDS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token,
    generate_subscripts(string_split_regex(TRIM(text), '\\s+'), 1) AS pos
  FROM documents
), vocab AS (
  SELECT token,
    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS id
  FROM toks GROUP BY token
  ORDER BY COUNT(*) DESC, token LIMIT {_VOCAB_K}
), ids AS (
  SELECT t.doc_id, t.pos, COALESCE(v.id, {_IDS_UNK}) AS id
  FROM toks t LEFT JOIN vocab v ON t.token = v.token
)
SELECT doc_id, COUNT(*) AS n_tokens,
  CAST(SUM(CASE WHEN id = {_IDS_UNK} THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
  string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS token_ids
FROM ids GROUP BY doc_id
"""


# Vocab budget above which tokenize_to_ids abandons the literal-map
# expression (driver collect + codegen constant) for the ranked
# broadcast join — a literal map is unbeatable while it fits, hostile
# past ~tens of thousands of entries.
_IDS_LITERAL_MAX = 65_536


@register("tokenize_to_ids", oracle=_IDS_ORACLE)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus -> training-tensor bridge: words map to integer ids
    under a frequency-ranked vocabulary (top-{k} words; everything
    else is UNK=0), emitting each document's id sequence plus its
    UNK count — the step between curation and a training loader,
    with the UNK rate doubling as the vocabulary-coverage metric.

    Two strategies behind a vocab-budget gate (test-pinned
    bit-identical, the min_label_components two-strategy precedent):

    - literal map (vocab budget <= _IDS_LITERAL_MAX): the ranked
      vocab (a top-k aggregate, driver-collected at vocab size)
      becomes a literal map expression, so the corpus pass is
      map-lookup-per-token inside codegen with no explode, no join,
      no shuffle — at 100 TB the only distributed work after vocab
      selection is the linear scan.
    - broadcast join (million-entry vocabs, where a literal
      expression would blow codegen limits and the collect is
      driver-hostile): rank via `total_order_index` (no
      single-reducer sort), left-broadcast-join the exploded token
      stream, regroup per doc in position order."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    # NULL text yields no row on either strategy (and in the oracle,
    # whose token explode drops it): filter up front so the paths
    # cannot diverge on size(NULL) = -1
    d = d.where(F.col("text").isNotNull())
    if _VOCAB_K > _IDS_LITERAL_MAX:
        return _tokenize_ids_join(d)
    words = F.split(F.trim(F.col("text")), r"\s+")
    vocab_rows = (
        d.select(F.explode_outer(words).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), "token")
        .limit(_VOCAB_K)
        .collect()  # vocab-sized: the literal map below
    )
    entries = []
    for rank, r in enumerate(vocab_rows, start=1):
        entries.append(F.lit(r.token))
        entries.append(F.lit(rank))
    vocab_map = F.create_map(*entries) if entries else F.create_map()
    ids = F.transform(
        words, lambda w: F.coalesce(vocab_map[w], F.lit(_IDS_UNK))
    )
    return d.select("doc_id", ids.alias("_ids")).select(
        "doc_id",
        F.size("_ids").alias("n_tokens"),
        F.expr(f"size(filter(_ids, x -> x = {_IDS_UNK}))")
        .cast("bigint")
        .alias("n_unk"),
        F.array_join(F.transform("_ids", lambda x: x.cast("string")), ",").alias(
            "token_ids"
        ),
    )


def _tokenize_ids_join(d: DataFrame) -> DataFrame:
    """Large-vocab tokenize_to_ids: never collects the vocabulary.
    Ranks (count desc, token) through the range-bucketed parallel
    ranker, keeps the top _VOCAB_K as (token, id), left-joins the
    exploded token stream against it (Spark broadcasts the vocab side
    while it fits; past that AQE falls back to a shuffle join on the
    same plan), and regroups per document in position order. Output
    is bit-identical to the literal-map path (test-pinned)."""
    from cdk_serverless_data_lake_sandbox_spark.operators.stats import (
        total_order_index,
    )

    words = F.split(F.trim(F.col("text")), r"\s+")
    wc = (
        d.select(F.explode_outer(words).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("_c"))
    )
    ranked, _, _ = total_order_index(
        wc, F.col("_c"), [F.col("token").asc()], descending=True
    )
    vocab = ranked.where(F.col("_i") <= _VOCAB_K).select(
        "token", F.col("_i").cast("int").alias("_id")
    )
    toks = d.select(
        "doc_id", F.posexplode(words).alias("pos", "token")
    )
    ids = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos",
        F.coalesce(F.col("_id"), F.lit(_IDS_UNK)).alias("_id"),
    )
    return (
        ids.groupBy("doc_id")
        .agg(F.expr("array_sort(collect_list(struct(pos, _id)))").alias("a"))
        .select(
            "doc_id",
            F.size("a").alias("n_tokens"),
            F.expr(f"size(filter(a, s -> s._id = {_IDS_UNK}))")
            .cast("bigint")
            .alias("n_unk"),
            F.expr(
                "array_join(transform(a, s -> CAST(s._id AS STRING)), ',')"
            ).alias("token_ids"),
        )
    )


# ---------------------------------------------------------------- C74
_SPLITS = ("train", "validation", "test")

_LEAK_PAIR_SQL = " UNION ALL ".join(
    f"""SELECT '{a}' AS split_a, '{b}' AS split_b,
      CAST(SUM(CASE WHEN f_{a} AND f_{b} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_leaked_groups
    FROM flags"""
    for i, a in enumerate(_SPLITS)
    for b in _SPLITS[i + 1 :]
)

_LEAK_ORACLE = f"""
WITH h AS (
  SELECT md5(text) AS fp,
    CASE WHEN ('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
           || '_{_SPLIT_SEED}'), 1, 4))::BIGINT < 52429 THEN 'train'
         WHEN ('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)
           || '_{_SPLIT_SEED}'), 1, 4))::BIGINT < 58982 THEN 'validation'
         ELSE 'test' END AS split
  FROM documents
), flags AS (
  SELECT fp,
    {", ".join(f"BOOL_OR(split = '{t}') AS f_{t}" for t in _SPLITS)}
  FROM h GROUP BY fp
)
SELECT split_a, split_b, n_leaked_groups FROM ({_LEAK_PAIR_SQL})
"""


@register("split_leakage_check", oracle=_LEAK_ORACLE)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit over the C67 split: for every split
    pair, how many exact-duplicate text groups span BOTH sides —
    each one is a document the model can memorize from train and be
    scored on in test, the eval-inflation bug dedup exists to
    prevent. Run AFTER dedup this reports zeros; a nonzero row is
    the do-not-ship signal.

    Same linear shape as audience_overlap: per-fingerprint split
    flags via one bool_or aggregation (map-side combinable), then
    every pairwise count from one conditional-sum pass — never a
    self-join of the corpus."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(f"_{_SPLIT_SEED}"))
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    split = (
        F.when(bucket < 52429, "train")
        .when(bucket < 58982, "validation")
        .otherwise("test")
    )
    flags = (
        d.select(F.md5("text").alias("fp"), split.alias("split"))
        .groupBy("fp")
        .agg(
            *[
                F.bool_or(F.col("split") == t).alias(f"f_{t}")
                for t in _SPLITS
            ]
        )
    )
    agg = flags.agg(
        *[
            F.sum(F.when(F.col(f"f_{a}") & F.col(f"f_{b}"), 1).otherwise(0))
            .cast("bigint")
            .alias(f"g_{a}_{b}")
            for i, a in enumerate(_SPLITS)
            for b in _SPLITS[i + 1 :]
        ]
    )
    rows = [
        F.struct(
            F.lit(a).alias("split_a"),
            F.lit(b).alias("split_b"),
            F.col(f"g_{a}_{b}").alias("n_leaked_groups"),
        )
        for i, a in enumerate(_SPLITS)
        for b in _SPLITS[i + 1 :]
    ]
    return agg.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


# ---------------------------------------------------------------- C80
# 32 dims keeps the oracle comparison tractable; the plan is
# dimension-count-independent (dim is a value, not a column).
_FH_DIMS = 32

_FH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
  FROM documents
), h AS (
  SELECT doc_id,
    CAST(('0x' || substring(md5(word), 1, 4)) AS INTEGER) % {_FH_DIMS} AS dim,
    CASE WHEN CAST(('0x' || substring(md5(word), 5, 1)) AS INTEGER) % 2 = 0
         THEN 1 ELSE -1 END AS sgn
  FROM tok
), n AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id
)
SELECT h.doc_id, h.dim,
  CAST(ROUND(CAST(SUM(sgn) AS DOUBLE) / SQRT(MAX(n.n_tokens)), 6) AS DOUBLE) AS val
FROM h JOIN n ON h.doc_id = n.doc_id
GROUP BY h.doc_id, h.dim
"""


@register("feature_hash_embedding", oracle=_FH_ORACLE)
def feature_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the "hashing trick", Weinberger et al.
    2009): every token is hashed to one of {_FH_DIMS} dimensions with
    a +-1 sign from an independent hash bit, per-doc sums normalized
    by sqrt(n_tokens) — an unbiased, training-free sparse document
    embedding a retrieval/clustering stage can consume without a
    vocabulary or model artifact. Output is the exploded (doc_id,
    dim, val) triple form, which joins/pivots freely downstream.

    One token scan, one (doc, dim) aggregation — the same shuffle a
    word count pays, independent of vocabulary size; md5-derived
    bucket and sign reproduce bit-identically across engines (the
    same recipe the DSIR op pins)."""
    tok = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .where(F.col("word").isNotNull())
    )
    dim = (
        F.conv(F.substring(F.md5(F.col("word")), 1, 4), 16, 10).cast("long") % _FH_DIMS
    ).cast("int")
    sgn = F.when(
        F.conv(F.substring(F.md5(F.col("word")), 5, 1), 16, 10).cast("long") % 2 == 0, 1
    ).otherwise(-1)
    h = tok.select("doc_id", dim.alias("dim"), sgn.alias("sgn"))
    n = tok.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_tokens"))
    return (
        h.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("s"))
        .join(n, "doc_id")
        .select(
            "doc_id",
            "dim",
            F.round(F.col("s").cast("double") / F.sqrt(F.col("n_tokens")), 6).alias("val"),
        )
    )


# ---------------------------------------------------------------- C83
_LM_LAMBDA = 0.75  # bigram weight; (1-lambda) backs off to unigram

_BIGRAM_LM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
), tok AS (
  SELECT doc_id, UNNEST(ws) AS word FROM w
), uni AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY word
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM uni
), bg AS (
  SELECT doc_id,
    UNNEST(ws[1:LEN(ws)-1]) AS w1,
    UNNEST(ws[2:LEN(ws)]) AS w2
  FROM w WHERE LEN(ws) >= 2
), bgc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
), stats AS (
  SELECT bgc.w1, bgc.w2,
    {_LM_LAMBDA} * (CAST(bgc.c12 AS DOUBLE) / u1.cnt)
      + {1 - _LM_LAMBDA} * (CAST(u2.cnt AS DOUBLE) / (SELECT n FROM total)) AS p
  FROM bgc JOIN uni u1 ON bgc.w1 = u1.word JOIN uni u2 ON bgc.w2 = u2.word
)
SELECT bg.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(-LOG2(stats.p)), 4) AS bits_per_bigram
FROM bg JOIN stats ON bg.w1 = stats.w1 AND bg.w2 = stats.w2
GROUP BY bg.doc_id
"""


@register("bigram_lm_logprob", oracle=_BIGRAM_LM_ORACLE)
def bigram_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score per document: bits per
    bigram under P(w2|w1) = l*c(w1w2)/c(w1) + (1-l)*c(w2)/N — one
    modeling step past the unigram proxy (Jelinek-Mercer smoothing,
    the simplest member of the KenLM family CCNet actually serves).
    Repetitive/templated text scores low, rare-sequence soup scores
    high; both tails feed the curation review queue.

    Plan: bigrams come from ONE in-row transform over the split
    array (sequence + struct slices) — no positional self-join of
    the token stream. The (w1,w2)->p stats table carries every
    probability term pre-joined (bigram counts joined to both
    unigram marginals once, vocabulary-sized), so the corpus stream
    pays exactly one skewed join — the same AQE-split Zipf join
    unigram_logprob documents. Doc with <2 tokens have no bigrams
    and drop out identically in both engines."""
    w = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    tok = w.select("doc_id", F.explode_outer("ws").alias("word")).where(
        F.col("word").isNotNull()
    )
    uni = tok.groupBy("word").agg(F.count("*").cast("bigint").alias("cnt"))
    total = uni.agg(F.sum("cnt").cast("bigint").alias("n"))
    bg = (
        w.where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("cnt").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("cnt").alias("c2"))
    p = (
        F.lit(_LM_LAMBDA) * (F.col("c12").cast("double") / F.col("c1"))
        + F.lit(1 - _LM_LAMBDA) * (F.col("c2").cast("double") / F.col("n"))
    )
    stats = (
        bgc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", p.alias("p"))
    )
    return (
        bg.join(stats, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log2("p")), 4).alias("bits_per_bigram"),
        )
    )


# ---------------------------------------------------------------- C87
_BPE_MERGES = 12


def _merge_pair_expr(col: str, a: str, b: str) -> str:
    """SQL expression merging adjacent (a,b) symbol pairs in an array
    column via a left fold — the standard leftmost-non-overlapping
    merge order, fully JVM-side (no UDF)."""
    qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
    return (
        f"aggregate({col}, CAST(array() AS ARRAY<STRING>), (acc, x) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = '{qa}' AND x = '{qb}', "
        f"concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')), "
        f"concat(acc, array(x))))"
    )


# Merges adopted per Spark job in bpe_train. A real 32k-merge
# tokenizer run at one job per merge is 32k sequential driver round
# trips — wall-clock dies on job latency long before data size
# matters; batching divides job count by ~this factor.
_BPE_BATCH = 8


def select_disjoint_batch(
    ranked: list, batch_size: int, already: int, n_merges: int
) -> list:
    """Greedy batch selection over one round's (a, b, n) pair counts,
    sorted by (n desc, a, b): accept up to ``batch_size`` merges whose
    symbols neither touch any previously accepted pair's symbols nor
    any symbol CREATED by one (a later pair's count could be stale in
    either case — it waits for the next round's recount). Shared by
    the Spark trainer and the pure-Python test reference so both
    engines batch identically. With batch_size=1 this is classic
    sequential BPE selection."""
    accepted: list[tuple[str, str]] = []
    used: set[str] = set()
    for a, b, n in ranked:
        if len(accepted) >= min(batch_size, n_merges - already - len(accepted)):
            break
        if n < 2:
            break
        if a in used or b in used or (a + b) in used:
            continue
        accepted.append((a, b))
        used.update((a, b, a + b))
    return accepted


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = _BPE_MERGES,
    batch_size: int = _BPE_BATCH,
    stats: dict | None = None,
) -> list:
    """Distributed BPE training (Sennrich et al. 2016): rounds of
    [count adjacent symbol pairs over the DISTINCT-WORD table weighted
    by frequency -> adopt a BATCH of merges -> merge them everywhere].
    All heavy work is vocabulary-sized (the corpus is touched once for
    word counts); each round is one pair-count aggregation plus one
    JVM fold rewrite of the symbol arrays, with lineage truncated per
    round so the plan stays constant-size.

    Batching is the standard job-count fix: the round's top pairs are
    collected once and up to ``batch_size`` pairwise-DISJOINT merges
    adopted together (``select_disjoint_batch``); pairs touching an
    earlier accepted pair's symbols — whose counts the earlier merge
    may change — are deferred to the next round's recount. Job count
    is therefore ~n_merges/batch_size instead of n_merges; a 32k-merge
    production run becomes ~4k jobs. The trade (explicit): when merge
    ORDER is ambiguous (a later-accepted merge would, under strict
    sequential replay, have been outranked by a pair the batch's first
    merge created or shrank) the batched list can deviate from
    one-at-a-time BPE; with batch_size=1 the output is exactly classic
    sequential BPE, and the parity tests pin both modes against
    pure-Python references of the same selection rule. Ties break
    (count desc, pair asc) for cross-run determinism. Returns the
    ranked merge list [(a, b), ...]; ``stats`` (if given) records the
    round count."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = d.select(
        F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    pins = RoundPins()
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", F.expr("split(word, '')").alias("syms"))
        .transform(pins.pin)
    )
    merges: list[tuple[str, str]] = []
    rounds = 0
    while len(merges) < n_merges:
        # Collect a candidate margin past batch_size so symbol-overlap
        # skips still fill the batch; the collect is (8x batch) tiny
        # rows, not the vocabulary.
        top = (
            vocab.where(F.size("syms") >= 2)  # sequence(1,0) steps BACKWARD
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i-1] AS a, syms[i] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .where(F.col("n") >= 2)
            .orderBy(F.desc("n"), "a", "b")
            .limit(max(batch_size * 8, 8))
            .collect()
        )
        rounds += 1
        batch = select_disjoint_batch(
            [(r["a"], r["b"], r["n"]) for r in top],
            batch_size,
            len(merges),
            n_merges,
        )
        if not batch:
            break
        merges.extend(batch)
        # Disjoint symbols -> the chained folds commute; one select,
        # one lineage truncation per ROUND, not per merge.
        expr = "syms"
        for a, b in batch:
            expr = _merge_pair_expr(expr, a, b)
        vocab = vocab.select(
            "word", "freq", F.expr(expr).alias("syms")
        ).transform(pins.pin)
    if stats is not None:
        stats["rounds"] = rounds
    return merges


# ---- engineered DuckDB replay of the batched BPE trainer (C87) ----
# The whole training loop — per-round pair counts over the vocabulary,
# (n desc, a, b) ranking, the greedy DISJOINT batch selection of
# select_disjoint_batch, and the leftmost-non-overlap merge fold — is
# generated as _BPE_MERGES rounds of MATERIALIZED CTEs, the same
# unroll discipline as the unigram-LM oracle (_ulm_ctes). Rounds after
# the merge quota is met are deliberate no-ops (the selection fold's
# quota check accepts nothing), mirroring the trainer's `while` exit.
#
# Two DuckDB 1.0 landmines steered the encoding (probed in-session):
# struct-typed list_reduce accumulators silently drop state, so the
# greedy selection state rides in ONE delimited VARCHAR
# (acc-pairs \x03 used-set, separators \x01/\x02 — the corpus is
# printable ASCII, verified 32..121); and every CTE must be
# MATERIALIZED or the round chain inlines exponentially.
_BPE_SEP1, _BPE_SEP2, _BPE_SEP3 = "chr(1)", "chr(2)", "chr(3)"


def _bpe_sel_lambda() -> str:
    """The select_disjoint_batch fold as a DuckDB lambda over
    candidates encoded 'a<SEP2>b' (already n>=2-filtered and (n desc,
    a, b)-ranked): skip if a, b, or a||b touches the used set, stop —
    sticky because the state then never changes — once len(accepted)
    reaches min(batch, quota-left); `already` is the prior rounds'
    total, cross-joined in."""
    acc = f"split_part(s, {_BPE_SEP3}, 1)"
    used = f"split_part(s, {_BPE_SEP3}, 2)"
    nacc = (
        f"(CASE WHEN {acc} = '' THEN 0"
        f" ELSE len(string_split({acc}, {_BPE_SEP1})) END)"
    )
    a = f"split_part(x, {_BPE_SEP2}, 1)"
    b = f"split_part(x, {_BPE_SEP2}, 2)"
    return (
        f"(s, x) -> CASE"
        f" WHEN {nacc} >= LEAST({_BPE_BATCH},"
        f" {_BPE_MERGES} - already - {nacc}) THEN s"
        f" WHEN contains({used}, {_BPE_SEP1} || {a} || {_BPE_SEP1})"
        f"   OR contains({used}, {_BPE_SEP1} || {b} || {_BPE_SEP1})"
        f"   OR contains({used}, {_BPE_SEP1} || {a} || {b} || {_BPE_SEP1})"
        f" THEN s"
        f" ELSE (CASE WHEN {acc} = '' THEN x"
        f"       ELSE {acc} || {_BPE_SEP1} || x END)"
        f"      || {_BPE_SEP3} || {used} || {a} || {_BPE_SEP1} || {b}"
        f"      || {_BPE_SEP1} || {a} || {b} || {_BPE_SEP1}"
        f" END"
    )


def _bpe_round_ctes(r: int) -> str:
    """One trainer round: rank pairs from bv{r-1}, greedy-select the
    disjoint batch, apply it as a single left fold (valid because the
    batch's symbols are pairwise disjoint, so one combined pass equals
    the Spark side's chained per-pair folds)."""
    p = r - 1
    cand_lim = max(_BPE_BATCH * 8, 8)
    return f"""
bpc{r} AS MATERIALIZED (
  SELECT pr[1] AS a, pr[2] AS b, SUM(f) AS n FROM (
    SELECT f, unnest(list_transform(range(1, len(syms)),
      i -> [syms[i], syms[i+1]])) AS pr
    FROM bv{p} WHERE len(syms) >= 2
  ) GROUP BY a, b HAVING SUM(f) >= 2
  ORDER BY n DESC, a, b LIMIT {cand_lim}
),
bsel{r} AS MATERIALIZED (
  SELECT split_part(list_reduce(
    list_prepend({_BPE_SEP3} || {_BPE_SEP1},
      COALESCE((SELECT list(a || {_BPE_SEP2} || b ORDER BY n DESC, a, b)
                FROM bpc{r}), CAST([] AS VARCHAR[]))),
    {_bpe_sel_lambda()}), {_BPE_SEP3}, 1) AS accs
  FROM btot{p}
),
bpair{r} AS MATERIALIZED (
  SELECT CASE WHEN accs = '' THEN CAST([] AS VARCHAR[])
         ELSE list_transform(string_split(accs, {_BPE_SEP1}),
                             q -> split_part(q, {_BPE_SEP2}, 1)) END AS accA,
         CASE WHEN accs = '' THEN CAST([] AS VARCHAR[])
         ELSE list_transform(string_split(accs, {_BPE_SEP1}),
                             q -> split_part(q, {_BPE_SEP2}, 2)) END AS accB
  FROM bsel{r}
),
btot{r} AS MATERIALIZED (
  SELECT t.already + len(p.accA) AS already FROM btot{p} t, bpair{r} p
),
bv{r} AS MATERIALIZED (
  SELECT w, f, CASE WHEN len(p.accA) = 0 THEN v.syms ELSE
    list_reduce(list_transform(v.syms, y -> [y]),
      (acc, x) -> CASE WHEN len(acc) > 0
                   AND p.accB[list_position(p.accA, acc[-1])] = x[1]
                  THEN acc[:-2] || [acc[-1] || x[1]] ELSE acc || x END)
    END AS syms
  FROM bv{p} v, bpair{r} p
)"""


def _bpe_stats_oracle() -> str:
    sql = """WITH bw AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents
),
bwf AS MATERIALIZED (SELECT doc_id, w FROM bw WHERE w <> ''),
bv0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f, string_split(w, '') AS syms
  FROM bwf GROUP BY w
),
btot0 AS (SELECT 0 AS already)"""
    for r in range(1, _BPE_MERGES + 1):
        sql += "," + _bpe_round_ctes(r)
    return sql + f""",
bnp AS (SELECT w, len(syms) AS n_pieces FROM bv{_BPE_MERGES})
SELECT bwf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
  {sql_round_rat('SUM(n_pieces)', 'COUNT(*)', 4)} AS fertility
FROM bwf JOIN bnp USING (w) GROUP BY bwf.doc_id"""


@register("bpe_tokenize_stats", oracle=_bpe_stats_oracle())
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a corpus-trained BPE merge list and report per-doc
    tokenization stats (word count, piece count, fertility =
    pieces/word) — closing the tokenizer loop that
    bpe_merge_candidates opens: train (vocabulary-sized iterations,
    ``bpe_train``), apply (the ranked merges replayed as ONE nested
    JVM fold plan over the distinct-word table), then join the
    word->n_pieces map back to the corpus stream — so the 100 TB
    corpus pays one explode+join, never per-row Python.

    Driver-gradable despite the iterative training: the oracle
    (``_bpe_stats_oracle``) replays the ENTIRE trainer in DuckDB —
    per-round ranked pair counts, the shared disjoint-batch selection
    rule, and the leftmost-non-overlap merge folds — integer
    arithmetic end-to-end, so the per-doc stats hash-match exactly;
    pytest additionally pins both against a pure-Python reference."""
    merges = bpe_train(spark, sf_dir)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = d.select(
        "doc_id",
        F.explode_outer(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).where(F.col("word") != "")
    expr = "split(word, '')"
    for a, b in merges:
        expr = _merge_pair_expr(expr, a, b)
    pieces = (
        words.groupBy("word")
        .agg(F.count("*").alias("_"))
        .select("word", F.size(F.expr(expr)).alias("n_pieces"))
    )
    return (
        words.join(pieces, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            # integer-exact pieces-per-word (round_rat)
            round_rat("n_pieces", "n_words", 4).alias("fertility"),
        )
    )


# ---------------------------------------------------------------- C89
_PHRASES = (
    "spark",
    "hash join",
    "sort merge",
    "table scan",
    "slow query",
    "merge batch",
    "window window",
    "fast fast",
)

_PHRASE_ORACLE = f"""
WITH ph AS (
  SELECT UNNEST({_sql_list(_PHRASES)}) AS phrase
), sc AS (
  SELECT ph.phrase, d.source,
    CAST((LENGTH(d.text) - LENGTH(REPLACE(d.text, ph.phrase, '')))
      // LENGTH(ph.phrase) AS BIGINT) AS occ
  FROM documents d CROSS JOIN ph
)
SELECT phrase,
  CAST(COUNT(*) FILTER (WHERE occ > 0) AS BIGINT) AS n_docs,
  CAST(SUM(occ) AS BIGINT) AS n_occurrences,
  CAST(COUNT(DISTINCT source) FILTER (WHERE occ > 0) AS BIGINT) AS n_sources
FROM sc GROUP BY phrase
"""


def phrase_search_frame(
    docs: DataFrame, phrases: tuple[str, ...] = _PHRASES
) -> DataFrame:
    """WIMBD-style corpus phrase counting (Elazar et al. 2024, "What's
    In My Big Data?"): for each query phrase, how many documents
    contain it, how many (non-overlapping, left-to-right) occurrences
    exist corpus-wide, and how many sources it appears in — the
    look-before-you-train probe for memorization strings, benchmark
    leaks, and boilerplate.

    Scale: ONE corpus scan. The phrase list is exploded in-row (a
    literal array — |P| codegen'd length/replace evaluations per
    document, no join, no UDF) and the counts are map-side-combinable
    aggregations on a |P|-row result. Occurrence counting by
    length-delta-over-replace is exactly the oracle's expression, so
    both engines count identical non-overlapping matches."""
    occ = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.col("phrase")))
    ) / F.length("phrase")
    return (
        docs.select(
            "source",
            "text",
            F.explode(F.lit(list(phrases)).cast("array<string>")).alias(
                "phrase"
            ),
        )
        .select("source", "phrase", occ.cast("bigint").alias("occ"))
        .groupBy("phrase")
        .agg(
            F.sum(F.when(F.col("occ") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs"),
            F.sum("occ").cast("bigint").alias("n_occurrences"),
            F.count_distinct(
                F.when(F.col("occ") > 0, F.col("source"))
            ).cast("bigint").alias("n_sources"),
        )
    )


@register("phrase_search", oracle=_PHRASE_ORACLE)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`phrase_search_frame` with the
    module's fixed probe-phrase list over the documents table."""
    return phrase_search_frame(_docs(spark, sf_dir))


# ---------------------------------------------------------------- C90
_ENTROPY_ORACLE = """
WITH w AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
  FROM documents
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
), a AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd, SUM(c * log2(c)) AS s
  FROM wc GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(nd AS BIGINT) AS n_distinct,
  CAST(ROUND(log2(n) - s / n, 6) AS DOUBLE) AS entropy_bits,
  CAST(ROUND(CASE WHEN nd > 1 THEN (log2(n) - s / n) / log2(nd)
    ELSE 0.0 END, 6) AS DOUBLE) AS norm_entropy
FROM a
"""


def unigram_entropy_frame(docs: DataFrame) -> DataFrame:
    """Per-document unigram Shannon entropy (bits/token) and its
    normalized form H / log2(V_doc) — the lexical-diversity filter
    that catches keyword-stuffed or template-generated documents a
    plain type-token ratio misses (low entropy = mass concentrated on
    few words even when many distinct words appear once).

    Scale: two map-side-combinable aggregations — (doc, word) counts,
    then per-doc moments using H = log2(N) - sum(c*log2 c)/N so no
    per-word probability join is needed. Both shuffles are keyed by
    doc_id(+word); no windows, no UDFs."""
    wc = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    s = F.sum(F.col("c") * F.log2("c"))
    nd = F.count("*")
    h = F.log2(n) - s / n
    return wc.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        nd.cast("bigint").alias("n_distinct"),
        F.round(h, 6).alias("entropy_bits"),
        F.round(
            F.when(nd > 1, h / F.log2(nd)).otherwise(F.lit(0.0)), 6
        ).alias("norm_entropy"),
    )


@register("unigram_entropy", oracle=_ENTROPY_ORACLE)
def unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`unigram_entropy_frame` over the
    documents table."""
    return unigram_entropy_frame(_docs(spark, sf_dir))


# ---------------------------------------------------------------- C95
def compression_sizes_tail(sizes: DataFrame) -> DataFrame:
    """The relational tail shared by the real zlib operator and the
    planted scoring twin (C149): per-document ratio from (doc_id,
    n_bytes, n_compressed), rounded in the JVM (HALF_UP, the DuckDB
    ROUND pair) — zero-byte docs report ratio 0.0 like the original
    in-UDF arithmetic did."""
    # integer-exact ratio (round_rat): both byte counts are ints
    return sizes.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            round_rat("n_compressed", "n_bytes", 6),
        )
        .otherwise(F.lit(0.0))
        .alias("compression_ratio"),
    )


def compression_ratio_frame(docs: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio — the classic "too
    compressible = templated/repetitive, incompressible = noise"
    corpus-quality signal (a deflate pass approximates Kolmogorov
    complexity well enough to catch boilerplate that n-gram
    repetition scores miss, and it needs no vocabulary).

    This is the documented SLOW-PATH TIER used deliberately: no Spark
    built-in or DuckDB function exposes a compressor, so the operator
    is an Arrow-batched ``mapInPandas`` — zlib's C deflate runs per
    batch with only the (doc_id, byte counts) frame crossing the
    Arrow boundary, never the text back. Linear, shuffle-free,
    batch-sized by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
    the pytest gate pins it against direct zlib and the
    repetitive-vs-diverse ordering invariant."""
    import pandas as pd

    def batches(it):
        import zlib

        for pdf in it:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in raw],
                    "n_compressed": [len(zlib.compress(b, 6)) for b in raw],
                }
            )

    sizes = docs.select("doc_id", "text").mapInPandas(
        batches, "doc_id long, n_bytes long, n_compressed long"
    )
    return compression_sizes_tail(sizes)


@register("compression_ratio")
def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (rows-only) entry for
    :func:`compression_ratio_frame` — no oracle because DuckDB has no
    compressor; the pytest gate compares against direct zlib, and the
    ratio tail is hash-exact driver-gated through the planted twin
    (C149 `compressed_size_scoring`, shared `compression_sizes_tail`)."""
    return compression_ratio_frame(_docs(spark, sf_dir))


# ---------------------------------------------------------------- C149
# Planted-payload scoring twin for C95 (r10 verdict item 4, the C141
# recipe): zlib itself is genuinely non-SQL, but everything around the
# deflate call is deterministic arithmetic both engines can compute —
# the UTF-8 byte length (Spark octet_length / DuckDB strlen; multi-byte langs
# in the corpus make this a real check, not a char-count alias) and
# the ratio tail (shared `compression_sizes_tail` code). The planted
# "compressed size" mimics a deflate profile deterministically:
# 20 bytes of fixed overhead plus an md5-derived remainder bounded by
# the payload size, so tiny docs "expand" past 1.0 exactly like real
# zlib output and the zero-byte guard is exercised from the corpus's
# empty docs.
_CZS_SALT = "czs"


_COMPRESSED_SIZE_ORACLE = f"""
WITH sizes AS (
  SELECT doc_id,
    CAST(strlen(text) AS BIGINT) AS n_bytes,
    20 + (CAST(('0x' || substr(md5('{_CZS_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          % GREATEST(CAST(strlen(text) AS BIGINT) - 19, 1)) AS n_compressed
  FROM documents
)
SELECT doc_id, n_bytes, n_compressed,
  CASE WHEN n_bytes > 0
    THEN {sql_round_rat('n_compressed', 'n_bytes', 6)}
    ELSE 0.0 END AS compression_ratio
FROM sizes
"""


@register("compressed_size_scoring", oracle=_COMPRESSED_SIZE_ORACLE)
def compressed_size_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C95's byte-length + ratio arithmetic made hash-exact: planted
    deterministic per-doc "compressed sizes" (md5-derived, bounded by
    the real UTF-8 byte length) run the real operator's exact tail
    (`compression_sizes_tail`, shared code) — only the zlib call stays
    pytest-pinned in C95 itself."""
    docs = _docs(spark, sf_dir)
    planted = (
        F.lit(20)
        + F.expr(
            f"CAST(conv(substring(md5(concat('{_CZS_SALT}|', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        )
        % F.greatest(
            F.octet_length("text").cast("long") - F.lit(19), F.lit(1).cast("long")
        )
    )
    sizes = docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        planted.cast("long").alias("n_compressed"),
    )
    return compression_sizes_tail(sizes)


# ---------------------------------------------------------------- C98
_KEYNESS_SOURCE = "src0"
_KEYNESS_TOP_N = 25

# Dunning G2 = 2 * (a*ln(a/E_a) + b*ln(b/E_b)) with expected counts
# from the pooled rate; guarded with NULLIF/CASE so zero cells
# contribute zero (lim x->0 of x*ln x).
_KEYNESS_ORACLE = f"""
WITH w AS (
  SELECT source = '{_KEYNESS_SOURCE}' AS in_focus,
    UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
  FROM documents
), counts AS (
  SELECT word,
    CAST(SUM(CASE WHEN in_focus THEN 1 ELSE 0 END) AS DOUBLE) AS a,
    CAST(SUM(CASE WHEN in_focus THEN 0 ELSE 1 END) AS DOUBLE) AS b
  FROM w GROUP BY word
), tot AS (
  SELECT SUM(a) AS na, SUM(b) AS nb FROM counts
), g AS (
  SELECT c.word, c.a, c.b,
    2 * (
      CASE WHEN c.a > 0
        THEN c.a * LN(c.a / ((c.a + c.b) * t.na / (t.na + t.nb))) ELSE 0 END
      + CASE WHEN c.b > 0
        THEN c.b * LN(c.b / ((c.a + c.b) * t.nb / (t.na + t.nb))) ELSE 0 END
    ) AS g2,
    (c.a / t.na) > (c.b / t.nb) AS over_represented
  FROM counts c CROSS JOIN tot t
)
SELECT word, CAST(a AS BIGINT) AS n_focus, CAST(b AS BIGINT) AS n_rest,
  CAST(ROUND(g2, 4) AS DOUBLE) AS g2, over_represented
FROM g
ORDER BY g2 DESC, word LIMIT {_KEYNESS_TOP_N}
"""


@register("keyness_llr", oracle=_KEYNESS_ORACLE)
def keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-comparison keyness by Dunning's log-likelihood ratio
    (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    and Coincidence"): which words are statistically over- or
    under-represented in one source versus the rest of the corpus —
    the domain-diagnostic that shows what a crawl segment is actually
    ABOUT (and catches boilerplate tokens flooding a single source)
    before it is blended into a training mix.

    Scale: one tokenize scan -> (word, side) counts (map-side
    combinable), a 1-row total broadcast back, the G2 expression
    in-row, TakeOrdered top-N. Zero cells contribute zero via the
    analytic limit, so the statistic is defined for every word."""
    d = _docs(spark, sf_dir)
    w = d.select(
        (F.col("source") == _KEYNESS_SOURCE).alias("in_focus"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    counts = w.groupBy("word").agg(
        F.sum(F.when(F.col("in_focus"), 1).otherwise(0))
        .cast("double")
        .alias("a"),
        F.sum(F.when(F.col("in_focus"), 0).otherwise(1))
        .cast("double")
        .alias("b"),
    )
    tot = counts.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    a, b, na, nb = F.col("a"), F.col("b"), F.col("na"), F.col("nb")
    ea = (a + b) * na / (na + nb)
    eb = (a + b) * nb / (na + nb)
    g2 = 2 * (
        F.when(a > 0, a * F.log(a / ea)).otherwise(F.lit(0.0))
        + F.when(b > 0, b * F.log(b / eb)).otherwise(F.lit(0.0))
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "word",
            a.cast("bigint").alias("n_focus"),
            b.cast("bigint").alias("n_rest"),
            F.round(g2, 4).alias("g2"),
            ((a / na) > (b / nb)).alias("over_represented"),
        )
        .orderBy(F.desc("g2"), "word")
        .limit(_KEYNESS_TOP_N)
    )


# ---------------------------------------------------------------- C102
_RRF_K = 60  # Cormack et al. 2009's reciprocal-rank-fusion constant
_FUSE_DEPTH = 20  # candidate depth per leg
_FUSE_TOPK = 10

_HYBRID_ORACLE = f"""
WITH qt AS ({_BM25_QT_SQL}),
toks AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks
  WHERE token IN {_BM25_TERMS_SQL} GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), dl AS (
  SELECT doc_id, LEN(string_split_regex(TRIM(text), '\\s+')) AS dl
  FROM documents
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
), bm_scored AS (
  SELECT qt.query_id, tf.doc_id,
    SUM(LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
        * tf.tf / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
            + {_BM25_B} * dl.dl / stats.avgdl))) AS score
  FROM tf
  JOIN qt ON tf.token = qt.token
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
), bmk AS (
  SELECT query_id, doc_id, bm25_rank FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS bm25_rank
    FROM bm_scored
  ) WHERE bm25_rank <= {_FUSE_DEPTH}
), qv AS (
  SELECT vec_id AS query_id,
    embedding AS qe,
    sqrt(list_sum(list_transform(embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id IN ({", ".join(str(q) for q in sorted(_BM25_QUERIES))})
), dv AS (
  SELECT d.doc_id, e.embedding AS de,
    sqrt(list_sum(list_transform(e.embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS dn
  FROM documents d
  JOIN embeddings e
    ON e.vec_id = d.doc_id % (SELECT COUNT(*) FROM embeddings)
), annk AS (
  SELECT query_id, doc_id, ann_rank FROM (
    SELECT qv.query_id, dv.doc_id,
      ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
        list_sum(list_transform(list_zip(dv.de, qv.qe),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / (dv.dn * qv.qn) DESC, dv.doc_id) AS ann_rank
    FROM dv CROSS JOIN qv
  ) WHERE ann_rank <= {_FUSE_DEPTH}
), fused AS (
  SELECT COALESCE(b.query_id, a.query_id) AS query_id,
    COALESCE(b.doc_id, a.doc_id) AS doc_id,
    COALESCE(1e0 / ({_RRF_K} + b.bm25_rank), 0e0)
      + COALESCE(1e0 / ({_RRF_K} + a.ann_rank), 0e0) AS rrf,
    b.bm25_rank AS bm25_rank, a.ann_rank AS ann_rank
  FROM bmk b FULL OUTER JOIN annk a
    ON b.query_id = a.query_id AND b.doc_id = a.doc_id
)
SELECT query_id, doc_id, fused_rank,
  CAST(ROUND(rrf, 6) AS DOUBLE) AS rrf_score,
  CAST(COALESCE(bm25_rank, 0) AS INT) AS bm25_rank,
  CAST(COALESCE(ann_rank, 0) AS INT) AS ann_rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY rrf DESC, doc_id) AS INT) AS fused_rank
  FROM fused
) WHERE fused_rank <= {_FUSE_TOPK}
"""


@register("hybrid_retrieval_rrf", oracle=_HYBRID_ORACLE)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): the BM25 lexical leg and an embedding-cosine semantic leg
    each rank their top-{depth} candidates per query, and documents
    are re-ranked by sum over legs of 1/(60 + rank) — the standard
    RRF that needs no score calibration between legs. Documents are
    linked to vectors deterministically (vec_id = doc_id mod
    |embeddings|, the contract the synthetic tables support at every
    SF); query q's vector is embedding vec_id = q.

    Scale: the BM25 leg is the index scan ``bm25_retrieval``
    documents (shared scored frame). The semantic
    leg here is the exact cosine scan — |queries| is 3, so the
    cross-join side is a broadcast of 3 rows with hoisted norms, one
    corpus pass, per-query top-k windows partitioned by query_id; a
    production run swaps that leg for the IVF/LSH index probe
    (``ivf_index_query``) without touching the fusion, which only
    consumes (query_id, doc_id, rank) lists. The fusion unions the
    two depth-bounded rank lists and aggregates per (query, doc): both
    legs leave their windows hash-partitioned on query_id and the
    union keeps that partitioning, so the fusion and its top-k window
    add no shuffle."""
    from pyspark.sql.window import Window

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _dot,
        _norm,
    )

    bm_w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    bmk = (
        _bm25_scored(spark, sf_dir)
        .withColumn("bm25_rank", F.row_number().over(bm_w))
        .where(F.col("bm25_rank") <= _FUSE_DEPTH)
        .select("query_id", "doc_id", "bm25_rank")
    )

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # one bounded scalar per version of the embeddings table: the
    # doc->vec link modulus, remembered so the count job runs once
    n_vecs = remember("row-count", e, e.count)
    qids = sorted(_BM25_QUERIES)
    qv = e.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("qn"),
    )
    dv = d.select("doc_id", (F.col("doc_id") % n_vecs).alias("vec_id")).join(
        e.select("vec_id", F.col("embedding").alias("de"), _norm("embedding").alias("dn")),
        "vec_id",
    )
    ann_w = Window.partitionBy("query_id").orderBy(
        (_dot("de", "qe") / (F.col("dn") * F.col("qn"))).desc(), "doc_id"
    )
    annk = (
        dv.crossJoin(F.broadcast(qv))
        .withColumn("ann_rank", F.row_number().over(ann_w))
        .where(F.col("ann_rank") <= _FUSE_DEPTH)
        .select("query_id", "doc_id", "ann_rank")
    )

    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("bm25_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("ann_rank")), F.lit(0.0))
    # the full outer join of the two rank lists, as a union and an
    # aggregate that need no shuffle (see Scale above)
    no_rank = F.lit(None).cast("int")
    fused = (
        bmk.withColumn("ann_rank", no_rank)
        .unionByName(annk.withColumn("bm25_rank", no_rank))
        .groupBy("query_id", "doc_id")
        .agg(F.max("bm25_rank").alias("bm25_rank"), F.max("ann_rank").alias("ann_rank"))
        .select("query_id", "doc_id", rrf.alias("rrf"), "bm25_rank", "ann_rank")
    )
    fw = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(fw).cast("int"))
        .where(F.col("fused_rank") <= _FUSE_TOPK)
        .select(
            "query_id",
            "doc_id",
            "fused_rank",
            F.round("rrf", 6).alias("rrf_score"),
            F.coalesce("bm25_rank", F.lit(0)).cast("int").alias("bm25_rank"),
            F.coalesce("ann_rank", F.lit(0)).cast("int").alias("ann_rank"),
        )
    )


# ---------------------------------------------------------------- C116
_KN_D = 0.75  # absolute discount (Kneser-Ney's standard fixed D)

_KN_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
), uni AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT UNNEST(ws) AS word FROM w) GROUP BY word
), bg AS (
  SELECT doc_id,
    UNNEST(ws[1:LEN(ws)-1]) AS w1,
    UNNEST(ws[2:LEN(ws)]) AS w2
  FROM w WHERE LEN(ws) >= 2
), bgc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
), fwd AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1f FROM bgc GROUP BY w1
), rev AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1r FROM bgc GROUP BY w2
), btypes AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bgc
), stats AS (
  SELECT bgc.w1, bgc.w2,
    (CAST(bgc.c12 AS DOUBLE) - CAST({_KN_D} AS DOUBLE)) / u1.cnt
      + (CAST({_KN_D} AS DOUBLE) * fwd.n1f / u1.cnt)
        * (CAST(rev.n1r AS DOUBLE) / (SELECT b FROM btypes)) AS p
  FROM bgc
  JOIN uni u1 ON bgc.w1 = u1.word
  JOIN fwd ON fwd.w1 = bgc.w1
  JOIN rev ON rev.w2 = bgc.w2
)
SELECT bg.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(-LOG2(stats.p)), 4) AS bits_per_bigram
FROM bg JOIN stats ON bg.w1 = stats.w1 AND bg.w2 = stats.w2
GROUP BY bg.doc_id
"""


@register("kneser_ney_logprob", oracle=_KN_ORACLE)
def kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document (Kneser &
    Ney 1995; Chen & Goodman 1999's benchmark winner and the
    smoothing KenLM defaults to): P(w2|w1) = (c12 - D)/c1 +
    (D*N1+(w1,.)/c1) * N1+(.,w2)/B. The back-off weight redistributes
    exactly the discounted mass, and the CONTINUATION probability
    N1+(.,w2)/B replaces the raw unigram — "Francisco" is frequent
    but follows almost nothing except "San", so KN scores it low in
    novel contexts where JM (C83) overrates it. Scoring the training
    corpus itself means every scored bigram is observed, so every
    term is well-defined with no floor hacks; the model is proper
    (sums to 1 over the vocabulary — pinned by test).

    Plan shape is C83's with two extra vocabulary-sized count
    aggregations (distinct continuations per left and right word):
    the pre-joined (w1,w2)->p stats table keeps the corpus stream at
    exactly one skewed join, AQE-split on the Zipf key."""
    w = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    tok = w.select("doc_id", F.explode_outer("ws").alias("word")).where(
        F.col("word").isNotNull()
    )
    uni = tok.groupBy("word").agg(F.count("*").cast("bigint").alias("cnt"))
    bg = (
        w.where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS w1, ws[i+1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    # bgc fans into four branches (stats, fwd, rev, btypes) but AQE's
    # runtime exchange reuse already deduplicates the identical count
    # shuffle — an r11 pin A/B here measured 1.31x SLOWER (the pin
    # job plus lost runtime stats outweigh nothing).
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    fwd = bgc.groupBy("w1").agg(F.count("*").cast("bigint").alias("n1f"))
    rev = bgc.groupBy("w2").agg(F.count("*").cast("bigint").alias("n1r"))
    btypes = bgc.agg(F.count("*").cast("bigint").alias("b"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("cnt").alias("c1"))
    p = (
        (F.col("c12").cast("double") - F.lit(_KN_D).cast("double"))
        / F.col("c1")
        + (F.lit(_KN_D).cast("double") * F.col("n1f") / F.col("c1"))
        * (F.col("n1r").cast("double") / F.col("b"))
    )
    stats = (
        bgc.join(u1, "w1")
        .join(fwd, "w1")
        .join(rev, "w2")
        .crossJoin(F.broadcast(btypes))
        .select("w1", "w2", p.alias("p"))
    )
    return (
        bg.join(stats, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log2("p")), 4).alias("bits_per_bigram"),
        )
    )


# ---------------------------------------------------------------- C132
# SentencePiece-style UNIGRAM-LM tokenizer training via hard-EM
# (Kudo 2018, Viterbi E-step): candidate pieces are all substrings of
# length <= _ULM_MAXP with frequency-weighted occurrence count >=
# _ULM_MINC; each round re-segments every distinct word under the
# current piece log-probs and re-counts pieces from the 1-best
# segmentations. Counts stay exact int64s between rounds, so the only
# float surface is the per-word Viterbi fold — replayed with the
# identical expression tree by DuckDB (the B106/B108 array-accumulator
# recipe; a struct accumulator is the documented trap).
_ULM_MAXP = 4
_ULM_MINC = 5
_ULM_ITERS = 2
_ULM_TOP = 200
_ULM_NEG = "CAST(-1000000000 AS DOUBLE)"



def _ulm_sj_spark(j: int) -> str:
    prev = (f"CASE WHEN i - {j} = 0 THEN CAST(0 AS DOUBLE) "
            f"ELSE element_at(acc, 2 * (i - {j}) - 1) END")
    lp = f"element_at(lps, (i - 1) * {_ULM_MAXP} + {j})"
    return (f"CASE WHEN {j} > i THEN CAST(-1000000000000000 AS DOUBLE) "
            f"ELSE ({prev}) + {lp} END")


def _ulm_sj_duck(j: int) -> str:
    i = "CAST(x[1] AS INT)"
    prev = (f"CASE WHEN {i} - {j} = 0 THEN CAST(0 AS DOUBLE) "
            f"ELSE acc[2 * ({i} - {j}) - 1] END")
    lp = f"lps[({i} - 1) * {_ULM_MAXP} + {j}]"
    return (f"CASE WHEN {j} > {i} THEN CAST(-1000000000000000 AS DOUBLE) "
            f"ELSE ({prev}) + {lp} END")


def _ulm_cascade(sj, arr: str) -> str:
    """First-max-wins argmax over piece lengths j=1..MAXP, UNROLLED:
    DuckDB 1.0's vectorized list_reduce mis-computes NESTED lambda
    folds batch-wide (probed in-session: rows borrow each other's
    accumulators), so the inner max-over-j fold is a generated CASE
    cascade instead — semantically the sequential strictly-greater
    acceptance (smallest j wins ties), identical on both engines."""
    ss = [sj(j) for j in range(1, _ULM_MAXP + 1)]
    clauses = []
    for idx in range(len(ss) - 1):
        conds = " AND ".join(
            f"({ss[idx]}) >= ({t})" for t in ss[idx + 1:]
        )
        clauses.append(
            f"WHEN {conds} THEN {arr}(({ss[idx]}), "
            f"CAST({idx + 1} AS DOUBLE))"
        )
    return (
        "CASE " + " ".join(clauses)
        + f" ELSE {arr}(({ss[-1]}), CAST({len(ss)} AS DOUBLE)) END"
    )


_ULM_POS_SPARK = "(length(w) - length(replace(acc, '|', '')))"
_ULM_JB_SPARK = f"CAST(element_at(dp, 2 * {_ULM_POS_SPARK}) AS INT)"


def _ulm_ctes(rounds: int) -> list[str]:
    """The hard-EM dataflow as DuckDB CTEs: init counts, then
    ``rounds`` segmentation rounds (udp/ubt/ucounts per round). The
    train oracle reads ucounts{ITERS}; the APPLY oracle asks for
    ITERS+1 rounds — the extra round IS the application of the final
    model to the word table."""
    pos = "(len(w) - len(replace(acc, '|', '')))"
    jb = f"CAST(dp[2 * {pos}] AS INT)"
    ctes = [f"""uwords AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
ucounts0 AS MATERIALIZED (
  SELECT piece, CAST(SUM(f) AS BIGINT) AS c FROM (
    SELECT f, SUBSTR(w, i - j + 1, j) AS piece
    FROM uwords,
      unnest(generate_series(1, len(w))) a(i),
      unnest(generate_series(1, {_ULM_MAXP})) b(j)
    WHERE j <= i
  ) GROUP BY piece HAVING SUM(f) >= {_ULM_MINC}
)"""]
    for t in range(1, rounds + 1):
        ctes.append(f"""utot{t} AS (
  SELECT CAST(SUM(c) AS BIGINT) AS tot FROM ucounts{t - 1}
),
ulp{t} AS MATERIALIZED (
  SELECT piece, LN(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) AS lp
  FROM ucounts{t - 1}, utot{t}
),
udense{t} AS MATERIALIZED (
  SELECT g.w, g.f, list(COALESCE(l.lp, {_ULM_NEG}) ORDER BY g.i, g.j) AS lps
  FROM (
    SELECT w, f, i, j,
      CASE WHEN j <= i THEN SUBSTR(w, i - j + 1, j) END AS piece
    FROM uwords,
      unnest(generate_series(1, len(w))) a(i),
      unnest(generate_series(1, {_ULM_MAXP})) b(j)
  ) g LEFT JOIN ulp{t} l ON l.piece = g.piece
  GROUP BY g.w, g.f
),
udp{t} AS MATERIALIZED (
  SELECT w, f,
    list_reduce(
      list_prepend(CAST([] AS DOUBLE[]),
        list_transform(range(1, len(w) + 1), i -> [CAST(i AS DOUBLE)])),
      (acc, x) -> list_concat(acc, {_ulm_cascade(_ulm_sj_duck, "list_value")})) AS dp
  FROM udense{t}
),
ubt{t} AS MATERIALIZED (
  -- backtrace as an ALWAYS-APPEND fold over a scalar string: DuckDB
  -- 1.0's vectorized list_reduce mis-aligns rows when a lambda branch
  -- returns the accumulator unchanged (and when lambdas nest) -- both
  -- probed in-session; a step that always mutates is replayed
  -- correctly, so exhausted rows append an empty token instead of
  -- short-circuiting. Tokens land in REVERSE order (suffix first).
  SELECT w, f,
    list_reduce(
      list_prepend('', list_transform(range(1, len(w) + 1), i -> '')),
      (acc, z) -> acc || '|' || CASE WHEN {pos} <= 0 THEN ''
        ELSE SUBSTR(w, {pos} - {jb} + 1, {jb}) END) AS tb
  FROM udp{t}
),
ucounts{t} AS MATERIALIZED (
  SELECT piece, CAST(SUM(f) AS BIGINT) AS c FROM (
    SELECT f, unnest(string_split(tb, '|')) AS piece FROM ubt{t}
  ) WHERE piece <> '' GROUP BY piece
)""")
    return ctes


def _ulm_oracle() -> str:
    ctes = _ulm_ctes(_ULM_ITERS)
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT piece, c AS n_uses,
  ROUND(LN(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 6) AS logp
FROM ucounts{_ULM_ITERS},
  (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM ucounts{_ULM_ITERS}) t
ORDER BY n_uses DESC, piece LIMIT {_ULM_TOP}"""
    )


def _ulm_words(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )


def _ulm_init_counts(words: DataFrame) -> DataFrame:
    occ = words.select(
        "f",
        F.explode(F.expr(f"""
          flatten(transform(sequence(1, length(w)), i ->
            transform(sequence(1, least({_ULM_MAXP}, i)), j ->
              substring(w, i - j + 1, j))))
        """)).alias("piece"),
    )
    return (
        occ.groupBy("piece").agg(F.sum("f").alias("c"))
        .where(F.col("c") >= _ULM_MINC)
    )


def _ulm_lp(counts: DataFrame) -> DataFrame:
    tot = counts.agg(F.sum("c").alias("tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.log(F.col("c").cast("double") / F.col("tot").cast("double"))
        .alias("lp"),
    )


def _ulm_segment(words: DataFrame, lp_df: DataFrame) -> DataFrame:
    """Viterbi-segment every distinct word under ``lp_df``: returns
    (w, f, dp, toks) — toks in backtrace REVERSE order (suffix
    first), dp the flat [best_i, backpointer_i, ...] array whose
    dp[2*len(w)-1] is the word's total log-prob."""
    grid = words.select(
        "w", "f",
        F.explode(F.expr(f"""
          flatten(transform(sequence(1, length(w)), i ->
            transform(sequence(1, {_ULM_MAXP}), j ->
              struct(i AS i, j AS j,
                     CASE WHEN j <= i
                       THEN substring(w, i - j + 1, j) END AS piece))))
        """)).alias("g"),
    ).select("w", "f", "g.i", "g.j", "g.piece")
    dense = (
        grid.join(lp_df, "piece", "left")
        .groupBy("w", "f")
        .agg(F.expr(f"""
          transform(array_sort(collect_list(struct(i, j,
            coalesce(lp, {_ULM_NEG}) AS lp))), s -> s.lp)
        """).alias("lps"))
    )
    # Spark-side argmax over piece lengths: array_min over
    # struct(-s_j, j) computes each candidate score ONCE and picks the
    # max with ties to the smallest j — value-identical to the oracle's
    # first-max-wins CASE cascade (which stays unrolled on the DuckDB
    # side to dodge its vectorized-list_reduce bug; the cascade
    # re-evaluated every s_j up to MAXP times per cell, r11).
    s_j = (
        f"CASE WHEN j > i THEN CAST(-1000000000000000 AS DOUBLE) "
        f"ELSE (CASE WHEN i - j = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE element_at(acc, 2 * (i - j) - 1) END) "
        f"+ element_at(lps, (i - 1) * {_ULM_MAXP} + j) END"
    )
    dp = dense.withColumn("dp", F.expr(f"""
      aggregate(sequence(1, length(w)), cast(array() as array<double>),
        (acc, i) -> concat(acc,
          transform(
            array(array_min(transform(sequence(1, {_ULM_MAXP}),
              j -> struct(-({s_j}) AS ns, j AS j)))),
            pk -> array(-pk.ns, CAST(pk.j AS DOUBLE)))[0]))
    """))
    # mirrored always-append backtrace (see the oracle's ubt note)
    return dp.withColumn("toks", F.expr(f"""
      filter(split(aggregate(sequence(1, length(w)), '',
        (acc, z) -> concat(acc, '|', CASE WHEN {_ULM_POS_SPARK} <= 0 THEN ''
          ELSE substring(w, {_ULM_POS_SPARK} - {_ULM_JB_SPARK} + 1,
                         {_ULM_JB_SPARK}) END)), '\\\\|'),
        t -> t <> '')
    """))


def _ulm_train_counts(words: DataFrame) -> DataFrame:
    counts = _ulm_init_counts(words)
    pins = RoundPins()
    for _ in range(_ULM_ITERS):
        seg = _ulm_segment(words, _ulm_lp(counts))
        counts = pins.pin(
            seg.select("f", F.explode("toks").alias("piece"))
            .groupBy("piece").agg(F.sum("f").alias("c"))
        )
    return counts


def _ulm_counts_keyed(docs: DataFrame) -> DataFrame:
    """Hard-EM piece counts trained ONCE per corpus version and kept
    as keyed scratch (r11 optimization, the ulm-final-seg /
    kmeans-assign precedent): C132 (tokenizer), C133/C135 (corpus
    apply via `_ulm_final_seg`) and D31 (artifact build) all train the
    IDENTICAL model, so the 2-round EM loop ran up to three times per
    application. The builder runs only on a miss; the words pin lives
    inside it so a hit skips the word-table build too."""
    return scratch(
        "ulm-train-counts", docs, lambda: _ulm_train_counts(pin(_ulm_words(docs)))
    )


@register("unigram_lm_tokenizer", oracle=_ulm_oracle())
def unigram_lm_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a SentencePiece-style UNIGRAM-LM tokenizer (Kudo 2018)
    by hard-EM: seed the piece inventory with every frequent
    substring (length <= 4, freq-weighted count >= 5), then repeat
    [score pieces by ln(count/total) -> Viterbi-resegment every
    distinct word -> recount pieces from the 1-best segmentations].
    BPE (C65/C87) greedily merges upward; unigram-LM prunes a rich
    inventory downward to the pieces that EXPLAIN the corpus — the
    tokenizer family most modern LMs actually train. Output: the
    surviving inventory with usage counts and final log-probs.

    Scale: everything runs over the DISTINCT-WORD table weighted by
    frequency — corpus size only enters through the word count (Heaps
    ~ n^0.5); the Viterbi DP is ONE in-row fold per word (array
    accumulator [best_i, backpointer_i, ...], then a backtrace fold),
    piece lookups attach by a vocabulary-keyed broadcast join, and
    every inter-round statistic is an exact int64 map-side-combined
    sum, so hard-EM rounds compose without float drift and the DuckDB
    oracle replays the identical expression tree."""
    counts = _ulm_counts_keyed(_docs(spark, sf_dir))
    tot = counts.agg(F.sum("c").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            F.col("c").alias("n_uses"),
            F.round(
                F.log(F.col("c").cast("double") / F.col("tot").cast("double")),
                6,
            ).alias("logp"),
        )
        .orderBy(F.desc("n_uses"), "piece")
        .limit(_ULM_TOP)
    )


# ---------------------------------------------------------------- C133
_ULM_R = _ULM_ITERS + 1  # the apply round


def _ulm_apply_oracle() -> str:
    ctes = _ulm_ctes(_ULM_R)
    ctes.append(f"""wseg AS MATERIALIZED (
  SELECT b.w,
    CAST(len(list_filter(string_split(b.tb, '|'), t -> t <> ''))
      AS BIGINT) AS np,
    d.dp[2 * len(b.w) - 1] AS wlp,
    array_to_string(
      list_reverse(list_filter(string_split(b.tb, '|'), t -> t <> '')),
      ' ') AS wtxt
  FROM ubt{_ULM_R} b JOIN udp{_ULM_R} d ON d.w = b.w
),
dtoks AS (
  SELECT doc_id, i AS pos, ws[i] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    unnest(generate_series(1, len(ws))) a(i)
  WHERE ws[i] <> ''
),
assembled AS (
  SELECT d.doc_id,
    CAST(SUM(s.np) AS BIGINT) AS n_pieces,
    string_agg(s.wtxt, ' ' ORDER BY d.pos) AS piece_text,
    list(s.wlp ORDER BY d.pos) AS wlps
  FROM dtoks d JOIN wseg s ON s.w = d.w
  GROUP BY d.doc_id
)""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT doc_id, n_pieces, piece_text,
  ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), wlps),
    (a, x) -> a + x), 4) AS doc_logp
FROM assembled"""
    )



# Vocabulary rows the single-row-map stitch path will broadcast.
_ULM_BCAST_MAX = 4_000_000
# ...but ENTRY COUNT is not the binding limit: the map collapses to
# ONE row, and Spark's single-row / broadcast ceilings are byte-sized
# (2 GB hard), with wtxt payload length — not cardinality — dominating
# (r9 advice). The gate therefore also estimates the map row's bytes
# (key + struct overhead + both string payloads) and routes to the
# shuffle path past ~256 MB, an order of magnitude under the hard
# ceiling so torrent-broadcast chunking and task-side copies keep
# headroom.
_ULM_BCAST_BYTES = 256 * 1024 * 1024
# per-entry UnsafeRow overhead estimate: 8B key offset+len, struct
# header, long np, double wlp, string offsets + padding
_ULM_ENTRY_OVERHEAD = 48


def _ulm_assemble(docs: DataFrame, seg: DataFrame) -> DataFrame:
    """Stitch per-word segmentations back into documents (shared by
    the inline C133 apply and the D31 artifact apply). Two strategies
    behind a vocabulary-count gate, pinned bit-identical by test:

    - map stitch (vocab <= _ULM_BCAST_MAX entries AND estimated
      map-row payload <= _ULM_BCAST_BYTES): collapse the per-word
      segmentation to ONE map row, broadcast it, and rebuild every
      document in-row — ZERO shuffle, one corpus scan (the r8 soak
      flagged the explode path's doc-keyed reassembly shuffle as this
      op's only superlinear stage; a corpus-token shuffle is pure
      waste when the word table is Heaps-law small).
    - explode+regroup (larger vocabs): vocabulary-keyed join from the
      exploded token stream, doc-keyed regroup — the fallback when the
      map row itself would not broadcast.

    Both compute the per-doc log-prob in POSITION order — never a
    float sum across unordered rows."""
    wseg = seg.select(
        "w",
        F.size("toks").cast("bigint").alias("np"),
        F.expr("element_at(dp, 2 * length(w) - 1)").alias("wlp"),
        F.array_join(F.reverse("toks"), " ").alias("wtxt"),
    )
    # one map-side-combinable probe over the (Heaps-law small) word
    # table: entry count AND estimated map-row bytes — the byte bound
    # is the one that actually binds (single-row/broadcast limits are
    # byte-sized; wtxt length, not cardinality, dominates)
    # octet_length, not length (r10 review): UnsafeRow stores UTF-8
    # BYTES, and char counts under-estimate CJK payloads up to 4x —
    # the gate must measure what the 2 GB ceiling measures
    probe = wseg.agg(
        F.count("*").alias("n"),
        F.sum(
            F.octet_length("w")
            + F.octet_length("wtxt")
            + F.lit(_ULM_ENTRY_OVERHEAD)
        ).alias("b"),
    ).first()
    if _ulm_map_gate(probe.n, probe.b):
        return _ulm_assemble_map(docs, wseg)
    return _ulm_assemble_shuffle(docs, wseg)


def _ulm_map_gate(n_entries: int, est_bytes: int | None) -> bool:
    """Pure routing predicate (unit-testable without a 256 MB vocab):
    the map-stitch path needs BOTH bounds — entry count for driver
    fold cost, estimated bytes for Spark's single-row/broadcast
    ceilings, which payload length alone can blow at low cardinality."""
    return n_entries <= _ULM_BCAST_MAX and (est_bytes or 0) <= _ULM_BCAST_BYTES


def _ulm_assemble_map(docs: DataFrame, wseg: DataFrame) -> DataFrame:
    """Shuffle-free stitch: one broadcast map row, one corpus scan.
    The containment filter reproduces the explode path's inner-join
    semantics (a word absent from the segmentation table drops out,
    and a doc with no surviving words yields no row)."""
    mrow = wseg.agg(
        F.map_from_entries(
            F.collect_list(F.struct("w", F.struct("np", "wlp", "wtxt")))
        ).alias("m")
    )
    return (
        docs.crossJoin(F.broadcast(mrow))
        .select(
            "doc_id",
            F.expr(
                "filter(split(text, ' '), x -> x != ''"
                " AND map_contains_key(m, x))"
            ).alias("ws"),
            "m",
        )
        .where(F.size("ws") > 0)
        .select(
            "doc_id",
            F.expr(
                "aggregate(ws, CAST(0 AS BIGINT), (acc, x) -> acc + m[x].np)"
            ).alias("n_pieces"),
            F.expr("array_join(transform(ws, x -> m[x].wtxt), ' ')").alias(
                "piece_text"
            ),
            F.round(
                F.expr(
                    "aggregate(ws, CAST(0 AS DOUBLE),"
                    " (acc, x) -> acc + m[x].wlp)"
                ),
                4,
            ).alias("doc_logp"),
        )
    )


def _ulm_assemble_shuffle(docs: DataFrame, wseg: DataFrame) -> DataFrame:
    """Large-vocab stitch: vocabulary-keyed join + doc-keyed regroup."""
    dtoks = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w")
        )
        .where(F.col("w") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    assembled = (
        dtoks.join(wseg, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("np").alias("n_pieces"),
            F.expr("array_sort(collect_list(struct(pos, wtxt, wlp)))").alias("a"),
        )
    )
    return assembled.select(
        "doc_id", "n_pieces",
        F.expr("array_join(transform(a, s -> s.wtxt), ' ')").alias("piece_text"),
        F.round(
            F.expr(
                "aggregate(transform(a, s -> s.wlp), CAST(0 AS DOUBLE),"
                " (acc, x) -> acc + x)"
            ),
            4,
        ).alias("doc_logp"),
    )



def _ulm_final_seg(docs: DataFrame) -> DataFrame:
    """Train the unigram model and segment every distinct word once
    under the FINAL piece probabilities — the round the oracle chain
    calls ubt{ITERS+1}. ONE definition of the train-then-apply
    composition shared by C133, C135, and D31 (r8 review: three
    hand-kept copies could silently train different models than the
    shared oracle CTE chain assumes)."""
    words = pin(_ulm_words(docs))
    counts = _ulm_counts_keyed(docs)
    return _ulm_segment(words, _ulm_lp(counts))


@register("unigram_tokenize_corpus", oracle=_ulm_apply_oracle())
def unigram_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the C132 unigram-LM tokenizer to the whole corpus — the
    step a pretraining pipeline actually runs at 100 TB: train the
    piece inventory (hard-EM over the distinct-word table), then
    Viterbi-segment every word once under the FINAL model and stitch
    each document back together in token order. Output per document:
    piece count, the segmented text, and the document's total
    log-probability under the piece LM (the fluency signal perplexity
    filters bucket on, here at subword granularity).

    Scale: training cost is vocabulary-sized (Heaps ~ n^0.5); the
    apply is ONE vocabulary-keyed join from the corpus token stream
    to the per-word segmentation (AQE broadcasts the word side) and
    one doc-keyed shuffle to reassemble. The per-doc log-prob is an
    in-row fold over the POSITION-ORDERED word array — never a
    float sum across unordered rows, which would be partition-order
    dependent and break the oracle."""
    docs = _docs(spark, sf_dir)
    # the trained final segmentation is deterministic per corpus: key
    # it (the shared-knn-graph precedent) so the assemble gate's vocab
    # count and any repeat execution read the vocabulary-sized scratch
    # instead of re-running EM + Viterbi
    seg = scratch("ulm-final-seg", docs, lambda: _ulm_final_seg(docs))
    # fan out the stitch scan: the map-stitch path is one corpus pass
    # whose per-doc rebuild fold is CPU-heavy
    stitch_docs = spread(
        load_tables(spark, sf_dir, ("documents",))["documents"], sf_dir, "documents"
    )
    return _ulm_assemble(stitch_docs, seg)


# ---------------------------------------------------------------- D31
_ULM_INDEX_FORMAT = {
    "algo": "unigram-lm",
    "maxp": _ULM_MAXP,
    "minc": _ULM_MINC,
    "iters": _ULM_ITERS,
    "version": 1,
}


def tokenizer_index_build(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> dict:
    """Persist the C132 unigram-LM tokenizer as a LAKE ARTIFACT:
    ``pieces/`` (piece, n_uses, logp — the whole model; a unigram
    tokenizer IS its piece table) plus a ``_format.json`` stamp so an
    apply against a tokenizer trained under other parameters fails
    LOUDLY (the D19/D30 stamp discipline). Training happens once;
    every downstream job — batch apply, the E49 streaming gate —
    reads the artifact instead of re-running EM.

    Returns {pieces, total_uses} for the caller's audit."""
    import json
    import os

    docs = _docs(spark, sf_dir)
    counts = _ulm_counts_keyed(docs)
    tot = counts.agg(F.sum("c").alias("tot"))
    pieces = counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.col("c").alias("n_uses"),
        F.log(F.col("c").cast("double") / F.col("tot").cast("double"))
        .alias("logp"),
    )
    pieces.write.mode("overwrite").parquet(os.path.join(index_dir, "pieces"))
    with open(os.path.join(index_dir, "_format.json"), "w") as fh:
        json.dump(_ULM_INDEX_FORMAT, fh)
    agg = spark.read.parquet(os.path.join(index_dir, "pieces")).agg(
        F.count("*").alias("n"), F.sum("n_uses").alias("u")
    ).first()
    return {"pieces": int(agg.n), "total_uses": int(agg.u)}


def _ulm_index_check(index_dir: str) -> None:
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
        check_format_stamp,
    )

    check_format_stamp(index_dir, _ULM_INDEX_FORMAT, "tokenizer index")


def tokenizer_apply_indexed(
    spark: SparkSession, index_dir: str, docs: DataFrame
) -> DataFrame:
    """Tokenize a document frame against a PERSISTED tokenizer (D31):
    same output contract as ``unigram_tokenize_corpus`` — and pinned
    bit-identical to it when the artifact was trained on the same
    corpus — but the model comes off storage, so the serving job
    never pays (or depends on) training."""
    import os

    _ulm_index_check(index_dir)
    lp_df = spark.read.parquet(os.path.join(index_dir, "pieces")).select(
        "piece", "logp"
    ).withColumnRenamed("logp", "lp")
    words = _ulm_words(docs).transform(pin)
    seg = _ulm_segment(words, lp_df)
    return _ulm_assemble(docs, seg)


# ---------------------------------------------------------------- C135
def _tce_oracle() -> str:
    ctes = _ulm_ctes(_ULM_R)
    ctes.append(f"""twseg AS MATERIALIZED (
  SELECT w,
    CAST(len(list_filter(string_split(tb, '|'), t -> t <> ''))
      AS BIGINT) AS np
  FROM ubt{_ULM_R}
),
tdtoks AS (
  SELECT doc_id, lang, ws[i] AS w
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
    unnest(generate_series(1, len(ws))) a(i)
  WHERE ws[i] <> ''
)""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT lang,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(s.np) AS BIGINT) AS n_pieces,
  CAST(SUM(len(d.w)) AS BIGINT) AS n_chars,
  (SIGN(SUM(s.np)) * CAST((2 * ABS(CAST((SUM(s.np)) AS BIGINT)) * 1000000 + CAST((COUNT(*)) AS BIGINT)) // (2 * CAST((COUNT(*)) AS BIGINT)) AS DOUBLE) / 1000000) AS pieces_per_word,
  (SIGN(SUM(len(d.w))) * CAST((2 * ABS(CAST((SUM(len(d.w))) AS BIGINT)) * 1000000 + CAST((SUM(s.np)) AS BIGINT)) // (2 * CAST((SUM(s.np)) AS BIGINT)) AS DOUBLE) / 1000000) AS chars_per_piece
FROM tdtoks d JOIN twseg s ON s.w = d.w
GROUP BY lang"""
    )


@register("tokenizer_compression_eval", oracle=_tce_oracle())
def tokenizer_compression_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer quality report for the C132 unigram-LM
    model: subword fertility (pieces per word — the metric tokenizer
    papers compare; C50's ``tokenizer_fertility`` scores a toy
    word-level scheme, this scores the TRAINED subword model) and
    compression (chars per piece). A tokenizer trained on an
    en-dominated corpus shows its bias here: under-resourced
    languages segment into more, shorter pieces and so pay more
    sequence length per character — the number UniMax-style mixing
    decisions (C126) need as input.

    Scale: everything after the (vocabulary-sized) training is one
    token-stream scan joined to the per-word piece counts
    (vocabulary-keyed, AQE broadcasts), aggregated by language with
    map-side combine over exact int64s; the two ratios are final
    divisions."""
    docs = _docs(spark, sf_dir)
    # same keyed frame as unigram_tokenize_corpus: one training per
    # corpus serves both ops (r9 review)
    seg = scratch("ulm-final-seg", docs, lambda: _ulm_final_seg(docs))
    wseg = seg.select("w", F.size("toks").cast("bigint").alias("np"))
    dtoks = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
        )
        .where(F.col("w") != "")
    )
    return (
        dtoks.join(wseg, "w")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_words"),
            F.sum("np").alias("n_pieces"),
            F.sum(F.length("w")).alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_pieces",
            "n_chars",
            # integer-exact ratios (round_rat)
            round_rat("n_pieces", "n_words", 6).alias("pieces_per_word"),
            round_rat("n_chars", "n_pieces", 6).alias("chars_per_piece"),
        )
    )
