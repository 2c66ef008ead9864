"""Dataset-shaping operators: the steps that turn a cleaned corpus
into model-ready training batches — sequence packing, overlapping
chunking, duplicated-span detection (suffix-array-style dedup at
n-gram granularity), token-budget epoch allocation, and embedding
quantization error profiling.

Everything is JVM-side DataFrame expressions (split / slice /
sequence / zip_with inside whole-stage codegen); the span-dedup op
reuses the inverted-index shape of the dedup family (shuffle on the
span hash, never O(n^2)). Each operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    pin,
    round_rat,
    scratch,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
    _docs as _docs_by_id,  # documents hash-spread on doc_id when under-split
)
from cdk_serverless_data_lake_sandbox_spark.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


# ---------------------------------------------------------------- C45
_N_SHARDS = 8
_SEQ_BUDGET = 256

_PACKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id, doc_id % {_N_SHARDS} AS shard,
    LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tokens
  FROM documents
), c AS (
  SELECT shard, n_tokens,
    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT shard, CAST(FLOOR(cum / {_SEQ_BUDGET}.0) AS BIGINT) AS seq_id,
  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
  {sql_round_rat('SUM(n_tokens)', str(_SEQ_BUDGET), 6)} AS fill_ratio
FROM c GROUP BY shard, CAST(FLOOR(cum / {_SEQ_BUDGET}.0) AS BIGINT)
"""


@register("sequence_packing", oracle=_PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: documents are streamed in
    doc_id order within a deterministic shard, token counts are
    prefix-summed, and each document lands in the training sequence
    where its first token falls (seq_id = floor(prefix/budget)) —
    the classic concatenate-then-chunk packing a pretraining loader
    does. Per-sequence stats (doc count, token total, fill ratio)
    are the packing-efficiency profile.

    Scale: the running sum is windowed per shard, never global — a
    cluster raises _N_SHARDS to O(cores) and every shard packs in
    parallel, exactly how multi-worker loaders shard a corpus. Token
    sums are integers, so the prefix sum is exact under any plan.
    """
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id",
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        base.withColumn("seq_id", F.floor(cum / F.lit(float(_SEQ_BUDGET))))
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        )
        .select(
            "shard",
            "seq_id",
            "n_docs",
            "seq_tokens",
            # integer-exact fill ratio (round_rat; r11 audit class)
            round_rat("seq_tokens", str(_SEQ_BUDGET), 6).alias("fill_ratio"),
        )
    )


# ---------------------------------------------------------------- C46
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24

_CHUNK_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
)
SELECT doc_id,
  CAST(i // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
  CAST(i AS INT) AS chunk_start,
  CAST(LEN(list_slice(ws, i + 1, i + {_CHUNK_SIZE})) AS INT) AS n_chunk_tokens,
  array_to_string(list_slice(ws, i + 1, i + {_CHUNK_SIZE}), ' ') AS chunk_text
FROM w, UNNEST(generate_series(0, LEN(ws) - 1, {_CHUNK_STRIDE})) AS t(i)
"""


@register("doc_chunking", oracle=_CHUNK_ORACLE)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking: each document explodes into
    {size}-token windows every {stride} tokens (8-token overlap keeps
    cross-boundary context, the standard retrieval/embedding chunker).
    One codegen'd pass — sequence + slice + array_join inside the
    row, then a single explode; no shuffle at all, so this maps over
    100 TB at scan speed. The outer explode variant avoids the
    Generate size>0 filter that would re-inline the chunk-array
    expression (see SURVEY §6)."""
    d = _docs(spark, sf_dir)
    chunks = F.expr(
        f"""transform(sequence(0, size(_w) - 1, {_CHUNK_STRIDE}),
              s -> struct(s AS chunk_start,
                          size(slice(_w, s + 1, {_CHUNK_SIZE})) AS n_chunk_tokens,
                          array_join(slice(_w, s + 1, {_CHUNK_SIZE}), ' ') AS chunk_text))"""
    )
    return (
        d.select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w")
        )
        .select("doc_id", F.posexplode_outer(chunks).alias("chunk_idx", "_c"))
        .select(
            "doc_id",
            "chunk_idx",
            F.col("_c.chunk_start").alias("chunk_start"),
            F.col("_c.n_chunk_tokens").alias("n_chunk_tokens"),
            F.col("_c.chunk_text").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------- C47
_SPAN_K = 8

_SPAN_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
), pos AS (
  SELECT doc_id, array_to_string(list_slice(ws, i, i + {_SPAN_K - 1}), ' ') AS span
  FROM w, UNNEST(generate_series(1, LEN(ws) - {_SPAN_K - 1})) AS t(i)
  WHERE LEN(ws) >= {_SPAN_K}
), cnt AS (
  SELECT span, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY span
)
SELECT p.doc_id, COUNT(*) AS n_spans,
  COUNT(*) FILTER (WHERE c.nd >= 2) AS n_dup_spans,
  {sql_round_rat("COUNT(*) FILTER (WHERE c.nd >= 2)", 'COUNT(*)', 6)}
    AS dup_fraction
FROM pos p JOIN cnt c USING (span)
GROUP BY p.doc_id
"""


def dup_span_profile(docs: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """Exact-substring duplication profile at word-``k``-gram
    granularity (the scalable approximation of suffix-array dedup,
    Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better"): every ``k``-word span is hashed, spans occurring
    in >= 2 distinct documents are "duplicated", and each document
    reports the fraction of its span positions that are duplicated —
    the per-doc removal signal for span-level dedup.

    Scale: one tokenize+hash pass materialized once (two consumers:
    the span->doc-count index and the join back), then a shuffle on
    the span hash — linear in corpus size, never pairwise. The
    registered oracle groups raw span strings; this side groups
    xxhash64 of the span (shuffling 8 bytes instead of ~40),
    identical modulo a ~2^-65-per-pair collision probability."""
    spans = F.expr(
        f"""transform(sequence(1, size(_w) - {k - 1}),
              i -> xxhash64(array_join(slice(_w, i, {k}), ' ')))"""
    )
    pos = (
        docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w"))
        .where(F.size("_w") >= k)
        .select("doc_id", F.explode_outer(spans).alias("span_h"))
    )
    pos = scratch(f"span-hashes:{k}", docs, lambda: pos)
    cnt = pos.groupBy("span_h").agg(F.count_distinct("doc_id").alias("nd"))
    n_dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("bigint")
    return (
        pos.join(cnt, "span_h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_spans"), n_dup.alias("n_dup_spans"))
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            # integer-exact fraction (round_rat)
            round_rat("n_dup_spans", "n_spans", 6).alias("dup_fraction"),
        )
    )


@register("dup_span_fraction", oracle=_SPAN_ORACLE)
def dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`dup_span_profile` over the corpus
    documents table (k=8, span index kept as keyed scratch)."""
    return dup_span_profile(_docs(spark, sf_dir))


# ---------------------------------------------------------------- C48
_BUDGET_TOKENS = 1_000_000
_BUDGET_ALPHA = 0.7

_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT source,
    CAST(SUM(LEN(string_split_regex(TRIM(text), '\\s+'))) AS BIGINT)
      AS source_tokens
  FROM documents GROUP BY source
), s AS (
  SELECT source, source_tokens,
    CAST(source_tokens AS DOUBLE)
      / (SELECT SUM(CAST(source_tokens AS DOUBLE)) FROM t) AS share
  FROM t
), z AS (SELECT SUM(POW(share, {_BUDGET_ALPHA})) AS z FROM s)
SELECT source, source_tokens,
  CAST(ROUND(POW(share, {_BUDGET_ALPHA}) / z.z, 6) AS DOUBLE) AS mix_weight,
  CAST(FLOOR({_BUDGET_TOKENS} * POW(share, {_BUDGET_ALPHA}) / z.z) AS BIGINT)
    AS allocated_tokens,
  CAST(ROUND({_BUDGET_TOKENS} * POW(share, {_BUDGET_ALPHA}) / z.z
      / source_tokens, 4) AS DOUBLE) AS epochs,
  {_BUDGET_TOKENS} * POW(share, {_BUDGET_ALPHA}) / z.z
    / source_tokens > 1.0 AS oversampled
FROM s, z
"""


@register("token_budget_allocation", oracle=_BUDGET_ORACLE)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch planner for a fixed training-token budget: temperature-
    scaled mixing weights (share^alpha / Z, the domain_mix_weights
    recipe) are applied to a target token count, giving each source
    an allocation, an epoch multiplier (allocation / source tokens),
    and an oversampling flag (epochs > 1 means the source repeats).
    One scan plus two source-count-sized broadcast scalars — the same
    shape at 100 TB."""
    d = _docs(spark, sf_dir)
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("source_tokens")
    )
    total = t.agg(F.sum(F.col("source_tokens").cast("double")).alias("_tot"))
    s = t.crossJoin(F.broadcast(total)).select(
        "source",
        "source_tokens",
        (F.col("source_tokens").cast("double") / F.col("_tot")).alias("_share"),
    )
    z = s.agg(F.sum(F.pow("_share", F.lit(_BUDGET_ALPHA))).alias("_z"))
    alloc = F.lit(float(_BUDGET_TOKENS)) * F.pow("_share", F.lit(_BUDGET_ALPHA)) / F.col("_z")
    return s.crossJoin(F.broadcast(z)).select(
        "source",
        "source_tokens",
        F.round(F.pow("_share", F.lit(_BUDGET_ALPHA)) / F.col("_z"), 6).alias(
            "mix_weight"
        ),
        F.floor(alloc).cast("bigint").alias("allocated_tokens"),
        F.round(alloc / F.col("source_tokens"), 4).alias("epochs"),
        (alloc / F.col("source_tokens") > 1.0).alias("oversampled"),
    )


# ---------------------------------------------------------------- C49
_EMB_DIM = 64

_QUANT_ORACLE = f"""
WITH scales AS (
  SELECT t.pos AS pos,
    MAX(ABS(CAST(embedding[t.pos] AS DOUBLE))) / 127.0 AS s
  FROM embeddings, UNNEST(generate_series(1, {_EMB_DIM})) AS t(pos)
  GROUP BY t.pos
), sarr AS (
  SELECT list(s ORDER BY pos) AS scales FROM scales
), per_row AS (
  SELECT label,
    list_sum(list_transform(list_zip(embedding, scales),
      p -> CASE WHEN p[2] > 0
        THEN ABS(FLOOR(CAST(p[1] AS DOUBLE) / p[2] + 0.5) * p[2]
                 - CAST(p[1] AS DOUBLE))
        ELSE 0.0 END)) AS err_sum,
    list_max(list_transform(list_zip(embedding, scales),
      p -> CASE WHEN p[2] > 0
        THEN ABS(FLOOR(CAST(p[1] AS DOUBLE) / p[2] + 0.5) * p[2]
                 - CAST(p[1] AS DOUBLE))
        ELSE 0.0 END)) AS err_max
  FROM embeddings, sarr
)
SELECT label, COUNT(*) AS n_vectors,
  {sql_round_rat('SUM(CAST(ROUND(err_sum * 1000000000) AS BIGINT))',
                 'COUNT(*) * ' + str(_EMB_DIM) + ' * 1000000000', 6,
                 wide=True)} AS mean_abs_err,
  CAST(ROUND(MAX(err_max), 6) AS DOUBLE) AS max_abs_err
FROM per_row GROUP BY label
"""


@register("embedding_quantization", oracle=_QUANT_ORACLE)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization error profile: per-dimension scales
    from the global max-|v| (64 order-independent max aggregates in
    ONE pass, the minhash trick — no posexplode, so the scan never
    multiplies rows by dim), broadcast back, then per-vector
    round-half-up quantize/dequantize error folded inside the row.
    Per-label mean/max absolute error is the "is int8 storage safe
    for this corpus" report an embedding-store migration needs.

    Determinism: the per-row error fold is sequential in both
    engines; row error sums are decimal-cast before the group mean so
    accumulation order can't shift the hash (SURVEY §4)."""
    e = _emb(spark, sf_dir)
    maxabs = e.agg(
        *[
            F.max(F.abs(F.element_at("embedding", i + 1).cast("double"))).alias(
                f"_m{i}"
            )
            for i in range(_EMB_DIM)
        ]
    )
    scales = maxabs.select(
        F.array(*[(F.col(f"_m{i}") / F.lit(127.0)) for i in range(_EMB_DIM)]).alias(
            "_scales"
        )
    )
    err = F.expr(
        """zip_with(embedding, _scales, (v, s) -> CASE WHEN s > 0
             THEN abs(floor(cast(v AS double) / s + 0.5) * s - cast(v AS double))
             ELSE 0.0D END)"""
    )
    # The zip_with result is referenced twice; bind it once in its own
    # projection so the fold isn't re-evaluated per consumer.
    per_row = (
        e.crossJoin(F.broadcast(scales))
        .select("label", err.alias("_err"))
        .select(
            "label",
            F.expr("aggregate(_err, 0.0D, (acc, x) -> acc + x)").alias("err_sum"),
            F.expr("array_max(_err)").alias("err_max"),
        )
    )
    # err_sum is 9dp-exact after the decimal cast, so the mean is the
    # rational sum(err*1e9) / (n*dim*1e9) — wide (decimal/hugeint)
    # round_rat because the 1e9-scaled numerator outgrows BIGINT
    return per_row.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        round_rat(
            "sum(CAST(round(CAST(err_sum AS DECIMAL(18,9)) * 1000000000)"
            " AS BIGINT))",
            f"count(*) * {_EMB_DIM} * 1000000000",
            6,
            wide=True,
        ).alias("mean_abs_err"),
        F.round(F.max("err_max"), 6).alias("max_abs_err"),
    )


# ---------------------------------------------------------------- C57
_SEG_SIZE = 16

_SEGDEDUP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
), segs AS (
  SELECT doc_id, CAST(i // {_SEG_SIZE} AS BIGINT) AS seg_idx,
    array_to_string(list_slice(ws, i + 1, i + {_SEG_SIZE}), ' ') AS seg
  FROM w, UNNEST(generate_series(0, LEN(ws) - 1, {_SEG_SIZE})) AS t(i)
), win AS (
  SELECT seg, MIN(ROW(doc_id, seg_idx)) AS w FROM segs GROUP BY seg
), marked AS (
  SELECT s.doc_id, s.seg_idx, s.seg,
    ROW(s.doc_id, s.seg_idx) = win.w AS keep
  FROM segs s JOIN win USING (seg)
)
SELECT doc_id,
  COUNT(*) AS n_segments,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  COALESCE(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '')
    AS dedup_text
FROM marked GROUP BY doc_id
"""


@register("segment_dedup", oracle=_SEGDEDUP_ORACLE)
def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup REMOVAL with reassembly (the CCNet /
    RefinedWeb step dup_span_fraction only profiles): documents split
    into fixed {size}-word segments (the "line" analog for this
    corpus, which has no newlines), every segment that re-occurs
    anywhere in the corpus keeps only its first occurrence in
    (doc_id, position) order, and each document is rebuilt from its
    surviving segments — boilerplate shared across documents vanishes
    corpus-wide while first copies survive.

    Scale: one tokenize pass; winners are a hash aggregation keyed by
    the segment itself (min(struct(doc_id, pos)) — map-side
    combinable) and the mark-join shuffles on the same key, so the
    whole op is two linear shuffles on a ~100-char key, never
    pairwise. Reassembly is a per-doc hash aggregation
    (collect kept (pos, seg) -> sort in-row -> join) — no windows.
    The first-occurrence rule makes the result identical under any
    partitioning."""
    d = _docs(spark, sf_dir)
    segs_expr = F.expr(
        f"""transform(sequence(0, size(_w) - 1, {_SEG_SIZE}),
              s -> struct(CAST(s div {_SEG_SIZE} AS BIGINT) AS seg_idx,
                          array_join(slice(_w, s + 1, {_SEG_SIZE}), ' ') AS seg))"""
    )
    segs = (
        d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w"))
        .select("doc_id", F.explode_outer(segs_expr).alias("_s"))
        .select("doc_id", F.col("_s.seg_idx").alias("seg_idx"), F.col("_s.seg").alias("seg"))
    )
    # Two consumers (winner agg + mark join): materialize so the
    # tokenize+slice pass runs once, not once per branch (SURVEY §6).
    segs = scratch(f"segments:{_SEG_SIZE}", d, lambda: segs)
    winners = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("_w")
    )
    marked = segs.join(winners, "seg").withColumn(
        "keep",
        (F.col("doc_id") == F.col("_w.doc_id")) & (F.col("seg_idx") == F.col("_w.seg_idx")),
    )
    kept_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.when(F.col("keep"), F.struct("seg_idx", "seg")))),
            lambda x: x["seg"],
        ),
        " ",
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        kept_text.alias("dedup_text"),
    )


# ---------------------------------------------------------------- C70
_PACKED_ORACLE = f"""
WITH t AS (
  SELECT doc_id, doc_id % {_N_SHARDS} AS shard, TRIM(text) AS text,
    LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tokens
  FROM documents
), c AS (
  SELECT shard, doc_id, text, n_tokens,
    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT shard, CAST(FLOOR(cum / {_SEQ_BUDGET}.0) AS BIGINT) AS seq_id,
  string_agg(text, ' ' ORDER BY doc_id) AS seq_text,
  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
  COUNT(*) AS n_docs
FROM c GROUP BY shard, CAST(FLOOR(cum / {_SEQ_BUDGET}.0) AS BIGINT)
"""


@register("packed_sequences", oracle=_PACKED_ORACLE)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized twin of sequence_packing: emit the ACTUAL
    packed training sequences (concatenated doc text in doc_id order
    within each (shard, seq_id) bin), not just the fill statistics —
    the artifact a pretraining loader memory-maps. Assignment is
    identical to C45 (same sharded prefix sum), concatenation is an
    in-row fold of the collected (doc_id, text) structs — per-bin
    payloads are budget-bounded, so the collect_list is O(budget)
    per row and the whole op is one window + one hash aggregation
    per shard."""
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id",
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        F.trim(F.col("text")).alias("text"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    seq_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda x: x["text"],
        ),
        " ",
    )
    return (
        base.withColumn("seq_id", F.floor(cum / F.lit(float(_SEQ_BUDGET))))
        .groupBy("shard", "seq_id")
        .agg(
            seq_text.alias("seq_text"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------- C71
_MASK_RATE_HEX = 2621  # 2621/16384 ~ 0.16 of 14-bit md5 space

_CORRUPT_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
), flags AS (
  SELECT doc_id, ws,
    list_transform(generate_series(1, LEN(ws)),
      i -> ('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || ':' ||
                           CAST(i AS VARCHAR)), 1, 4))::BIGINT % 16384
           < {_MASK_RATE_HEX}) AS m
  FROM w
), toks AS (
  SELECT doc_id,
    LEN(ws) AS n_tokens,
    LEN(list_filter(generate_series(1, LEN(ws)), i -> m[i])) AS n_masked,
    list_filter(
      list_transform(generate_series(1, LEN(ws)),
        i -> CASE
          WHEN NOT m[i] THEN ws[i]
          WHEN i = 1 OR NOT m[i - 1] THEN '<extra_id>'
          ELSE NULL END),
      x -> x IS NOT NULL) AS out
  FROM flags
)
SELECT doc_id, n_tokens, CAST(n_masked AS BIGINT) AS n_masked,
  CAST(LEN(list_filter(out, x -> x = '<extra_id>')) AS BIGINT) AS n_spans,
  array_to_string(out, ' ') AS corrupted_text
FROM toks
"""


@register("span_corruption", oracle=_CORRUPT_ORACLE)
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption, deterministically: each token
    position draws a reproducible ~16% mask flag from
    md5(doc_id:pos), and RUNS of masked tokens collapse to a single
    sentinel (the span behavior that distinguishes T5 corruption
    from BERT token masking — a sentinel is emitted only where a
    masked run starts). Masking is a pure hash function of
    (doc_id, position): the same corruption on every run, machine,
    and partitioning, so training data built from it is auditable.

    Entirely in-row (transform + filter over the token array, no
    explode, no shuffle) — corruption maps over 100 TB at scan
    speed. Reports per-doc token/mask/span counts plus the corrupted
    text."""
    d = _docs(spark, sf_dir)
    flags = F.expr(
        f"""transform(sequence(1, size(_w)),
          i -> CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',
                    CAST(i AS STRING))), 1, 4), 16, 10) AS BIGINT) % 16384
               < {_MASK_RATE_HEX})"""
    )
    # Spark's arr[i] is 0-based (DuckDB lists are 1-based); get() is
    # the 0-based accessor that NULLs out of range, so the i=1 branch
    # never evaluates a negative lookup.
    out_arr = F.expr(
        """filter(
             transform(sequence(1, size(_w)),
               i -> CASE
                 WHEN NOT get(_m, i - 1) THEN get(_w, i - 1)
                 WHEN i = 1 OR NOT get(_m, i - 2) THEN '<extra_id>'
                 ELSE NULL END),
             x -> x IS NOT NULL)"""
    )
    return (
        d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w"))
        .select("doc_id", "_w", flags.alias("_m"))
        .select(
            "doc_id",
            F.size("_w").alias("n_tokens"),
            F.expr("size(filter(_m, x -> x))").cast("bigint").alias("n_masked"),
            out_arr.alias("_out"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            F.expr("size(filter(_out, x -> x = '<extra_id>'))")
            .cast("bigint")
            .alias("n_spans"),
            F.array_join("_out", " ").alias("corrupted_text"),
        )
    )


# ---------------------------------------------------------------- C82
_JSONL_WRITERS = 8
_JSONL_BUDGET = 64 * 1024  # bytes per output file

# The exported line is an explicit template (valid JSON for this
# corpus: keys are fixed, text is space-separated ASCII words with
# nothing to escape) rather than engine to_json, so both engines
# compute identical byte counts and the writer emits exactly the
# bytes the planner counted.
_JSONL_LINE_SQL = (
    "'{{\"doc_id\":' || doc_id || ',\"text\":\"' || text || '\",\"lang\":\"'"
    " || lang || '\",\"source\":\"' || source || '\"}}'"
)

_JSONL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, doc_id % {_JSONL_WRITERS} AS writer,
    LEN({_JSONL_LINE_SQL.format()}) + 1 AS line_bytes
  FROM documents
), c AS (
  SELECT writer, line_bytes,
    COALESCE(SUM(line_bytes) OVER (PARTITION BY writer ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT writer, CAST(FLOOR(cum / {_JSONL_BUDGET}.0) AS BIGINT) AS file_idx,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(line_bytes) AS BIGINT) AS file_bytes
FROM c GROUP BY writer, CAST(FLOOR(cum / {_JSONL_BUDGET}.0) AS BIGINT)
"""


def _jsonl_line() -> F.Column:
    return F.concat(
        F.lit('{"doc_id":'), F.col("doc_id").cast("string"),
        F.lit(',"text":"'), F.col("text"),
        F.lit('","lang":"'), F.col("lang"),
        F.lit('","source":"'), F.col("source"), F.lit('"}'),
    )


def _jsonl_plan(d: DataFrame) -> DataFrame:
    base = d.select(
        "doc_id",
        (F.col("doc_id") % _JSONL_WRITERS).alias("writer"),
        _jsonl_line().alias("line"),
    ).withColumn("line_bytes", F.length("line") + 1)
    w = (
        Window.partitionBy("writer")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("line_bytes").over(w), F.lit(0))
    return base.withColumn(
        "file_idx", F.floor(cum / F.lit(float(_JSONL_BUDGET)))
    )


@register("export_jsonl_shards", oracle=_JSONL_ORACLE)
def export_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard plan for a size-budgeted JSONL corpus export — the
    "write the curated corpus as ~64 KiB .jsonl shards a trainer
    streams" step. Documents are routed to a deterministic writer
    (doc_id % W), byte-exact line lengths are prefix-summed per
    writer, and a file rolls when the running total crosses the
    budget (file_idx = floor(prefix/budget)) — concat-then-chunk
    packing applied to BYTES, sharing sequence_packing's shape.
    Output is the shard manifest (docs + bytes per file), the
    artifact an export job publishes for the loader.

    Scale: per-writer windows only — writers scale with cores, the
    byte counts are integers (exact under any plan), and
    ``export_jsonl`` materializes exactly these bytes, so manifest
    and files cannot drift."""
    return (
        _jsonl_plan(_docs(spark, sf_dir))
        .groupBy("writer", "file_idx")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("line_bytes").cast("bigint").alias("file_bytes"),
        )
    )


def export_jsonl(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Materialize the export planned by ``export_jsonl_shards``:
    one directory per (writer, file_idx) holding the newline-
    terminated JSON lines whose byte counts the manifest promised.
    Returns {files, docs, bytes} totals for the caller's audit."""
    plan = _jsonl_plan(load_tables(spark, sf_dir, ("documents",))["documents"])
    (
        plan.repartition("writer", "file_idx")
        .sortWithinPartitions("doc_id")
        .select("writer", "file_idx", "line")
        .write.mode("overwrite")
        .partitionBy("writer", "file_idx")
        .text(out_dir)
    )
    manifest = (
        plan.groupBy().agg(
            F.countDistinct("writer", "file_idx").alias("files"),
            F.count("*").alias("docs"),
            F.sum("line_bytes").alias("bytes"),
        )
    ).collect()[0]
    return {"files": manifest[0], "docs": manifest[1], "bytes": manifest[2]}


# ---------------------------------------------------------------- C88
_STRIP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ws FROM documents
), tok AS (
  SELECT doc_id, i - 1 AS p, ws[i] AS word
  FROM w, UNNEST(generate_series(1, LEN(ws))) AS t(i)
), pos AS (
  SELECT doc_id, i - 1 AS p0,
    array_to_string(list_slice(ws, i, i + {_SPAN_K - 1}), ' ') AS span
  FROM w, UNNEST(generate_series(1, LEN(ws) - {_SPAN_K - 1})) AS t(i)
  WHERE LEN(ws) >= {_SPAN_K}
), own AS (
  SELECT span, MIN(doc_id) AS owner
  FROM pos GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT p.doc_id, p.p0 + u.o AS p
  FROM pos p JOIN own ON p.span = own.span AND p.doc_id <> own.owner,
    UNNEST(generate_series(0, {_SPAN_K - 1})) AS u(o)
), kept AS (
  SELECT t.doc_id, t.p, t.word FROM tok t
  ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(word, ' ' ORDER BY p) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id, CAST(LEN(w.ws) AS BIGINT) AS n_tokens,
  CAST(LEN(w.ws) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
  COALESCE(a.text_clean, '') AS text_clean
FROM w LEFT JOIN agg a USING (doc_id)
"""


def strip_dup_spans_frame(docs: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """The REMOVAL step of exact-substring dedup (Lee et al. 2022,
    arXiv:2107.06499 — ``dup_span_fraction`` is the matching profile
    step): every word-k-gram span occurring in >= 2 distinct documents
    keeps exactly ONE canonical occurrence set (the min-doc_id owner
    retains its text); every other document has the token positions
    covered by such spans excised, and its text is rebuilt from the
    surviving tokens. Output is one row per document with the original
    token count, how many tokens were removed, and the rewritten text
    — the corpus a trainer actually consumes after span-level dedup.

    Scale: linear passes only. The (doc, position, span-hash) index is
    one tokenize+hash scan, shuffled on the 8-byte span hash to find
    multi-doc spans (map-side-combinable agg); removable START
    positions come back per document as ONE sorted in-row array,
    collapse into disjoint [s, s+k) intervals with an in-row fold, and
    the clean text is rebuilt by slicing the complement gaps out of
    the token array — the same interval discipline as the char-level
    variant (r11: the previous shape exploded every covered position,
    distinct'd them, posexploded the ENTIRE corpus token stream and
    anti-joined + regrouped it by doc — three corpus-token-sized
    shuffles doing what one doc-keyed join of a start-position table
    does). The Spark side hashes spans with xxhash64 (8-byte shuffle
    keys); the oracle groups raw span strings — identical results
    modulo a ~2^-64 collision probability, the same trade
    ``dup_span_profile`` documents. The extraction is CPU-bound per
    row, so hand ``docs`` in through ``catalog.spread`` hashed on
    doc_id (the registered entry uses ``dedup._docs``)."""
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_w")
    )
    spans = F.expr(
        f"""transform(sequence(1, size(_w) - {k - 1}),
              i -> struct(i - 1 AS p0,
                          xxhash64(array_join(slice(_w, i, {k}), ' ')) AS span_h))"""
    )
    pos = (
        base.where(F.size("_w") >= k)
        .select("doc_id", F.explode(spans).alias("s"))
        .select("doc_id", F.col("s.p0").alias("p0"), F.col("s.span_h").alias("span_h"))
    )
    # keyed scratch, not pin: the extraction is word-level (cheap) and
    # the keyed scratch is shared across CALLS in one application —
    # an r11 A/B of pin-per-call here measured 1.14x slower than the
    # cached scratch re-read.
    pos = scratch(f"span-starts:{k}", docs, lambda: pos)
    own = (
        pos.groupBy("span_h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .where(F.col("nd") >= 2)
        .select("span_h", "owner")
    )
    starts = (
        pos.join(own, "span_h")
        .where(F.col("doc_id") != F.col("owner"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p0")).alias("ps"))
    )
    # merge sorted, fixed-length-k start positions into disjoint
    # [s, e) intervals — identical fold to strip_dup_chars_frame; the
    # removed-token count is then the interval lengths' sum (the
    # merged intervals ARE the distinct covered-position set)
    ivs = F.expr(
        f"""aggregate(ps, CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>),
              (acc, x) -> IF(size(acc) > 0 AND x <= element_at(acc, -1).e,
                concat(slice(acc, 1, size(acc) - 1),
                       array(struct(element_at(acc, -1).s AS s,
                                    x + {k} AS e))),
                concat(acc, array(struct(x AS s, x + {k} AS e)))))"""
    )
    # docs with NULL ivs are exactly the docs the old plan's anti-join
    # left untouched: zero removals, text rebuilt from every token
    # (array_join normalizes whitespace on BOTH branches, as the old
    # regroup did for every doc)
    return (
        base.join(starts, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_w").cast("bigint").alias("n_tokens"),
            "_w",
            ivs.alias("ivs"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(
                F.expr("aggregate(ivs, 0, (a, iv) -> a + (iv.e - iv.s))"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_removed"),
            F.when(F.col("ivs").isNull(), F.array_join("_w", " "))
            .otherwise(
                F.expr(
                    """aggregate(ivs,
                     struct(0 AS pos, CAST(array() AS ARRAY<STRING>) AS acc),
                     (st, iv) -> struct(iv.e AS pos,
                       concat(st.acc,
                              slice(_w, st.pos + 1, iv.s - st.pos)) AS acc),
                     st -> array_join(concat(st.acc,
                       slice(_w, st.pos + 1, size(_w) - st.pos)), ' '))"""
                )
            )
            .alias("text_clean"),
        )
    )


@register("strip_dup_spans", oracle=_STRIP_ORACLE)
def strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`strip_dup_spans_frame` over the
    corpus documents table (k=8, position-span index shared per
    corpus)."""
    return strip_dup_spans_frame(_docs_by_id(spark, sf_dir))


# ---------------------------------------------------------------- C93
_GS_SHARDS = 16

_GS_ORACLE = f"""
WITH k AS (
  SELECT doc_id, md5('gs:' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
)
SELECT doc_id, sort_key,
  CAST(CAST(('0x' || substr(sort_key, 1, 4)) AS INTEGER) % {_GS_SHARDS}
    AS INT) AS shard,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY CAST(('0x' || substr(sort_key, 1, 4)) AS INTEGER) % {_GS_SHARDS}
    ORDER BY sort_key, doc_id) AS BIGINT) AS pos_in_shard
FROM k
"""


@register("global_shuffle", oracle=_GS_ORACLE)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle — the "shuffle the corpus
    before sharding" step every pretraining loader needs, without RNG
    state: each document's sort key is a keyed cryptographic hash
    (md5 over a fixed salt + doc_id), its shard is a hash bucket of
    that key, and its position is the key's rank within the shard.
    Any two runs (and any two engines — the oracle evaluates the
    identical expressions) produce the same permutation, and changing
    the salt is a fresh epoch-level reshuffle with zero stored state.

    Scale: this is exactly how a distributed shuffle-sort executes —
    hash-partition into shards, then sort WITHIN each shard (Spark's
    spillable per-partition sort; no global ordering is ever
    materialized). The per-shard rank window partitions on the shard
    id: parallelism = shard count, which a cluster raises to O(cores)
    just like ``sequence_packing``'s shards. A writer materializes
    this plan with ``repartition(shard).sortWithinPartitions`` and
    never needs the rank column at all."""
    d = _docs(spark, sf_dir)
    sort_key = F.md5(F.concat(F.lit("gs:"), F.col("doc_id").cast("string")))
    k = d.select("doc_id", sort_key.alias("sort_key"))
    shard = (
        F.expr("cast(conv(substr(sort_key, 1, 4), 16, 10) as int)")
        % _GS_SHARDS
    ).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy("sort_key", "doc_id")
    )
    return (
        k.withColumn("shard", shard)
        .withColumn("pos_in_shard", F.row_number().over(w).cast("bigint"))
    )


# ---------------------------------------------------------------- C101
_CHAR_K = 50  # Lee et al. 2022's 50-character duplicate threshold

# Odd multiplier for the rolling char-k-gram hash (the FNV-1a prime;
# any random odd 64-bit constant works — odd => invertible mod 2^64,
# which is what lets the prefix form vectorize).
_ROLL_B = 1099511628211


def _char_kgram_rows_arrow(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, p0, h) — one row per character position, h a 64-bit
    rolling polynomial hash of the char-k-gram starting there.

    r11: this used to be an in-row ``transform(sequence(...), i ->
    xxhash64(substring(text, i, k)))`` — an interpreted higher-order
    expression allocating a k-char substring per position (O(n*k)
    bytes through the expression interpreter; measured 1.9 s of
    strip_dup_chars' 3.0 s at sf0.1). It is now a ``mapInArrow``
    stage handing whole Arrow batches to NumPy (guide-§4.2 shape):
    char codes via UTF-32 (code-point-exact, same unit as Spark's
    ``substring``), then the k-gram hashes fall out of a prefix
    polynomial in O(n) fully vectorized uint64 arithmetic
    (wrap-around IS mod 2^64; the multiplier is odd, so B^-1 exists
    and prefixes vectorize as cumsum(c_j * B^-j) * B^i).

    The hash VALUE is an internal grouping key only (the oracle
    groups by raw span text); equal k-grams hash equal by
    construction, and distinct k-grams collide with the same 2^-64
    birthday-bound trade the xxhash64 version documented. Only the
    (doc_id, text) columns cross the Python boundary, and the stage
    is a pure map — no shuffle, initialization per task, linear in
    corpus bytes at any scale."""
    import numpy as np
    import pyarrow as pa

    out_schema = "doc_id bigint, p0 int, h bigint"
    kk = int(k)

    def extract(batches):
        B = np.uint64(_ROLL_B)
        inv = np.uint64(pow(_ROLL_B, -1, 1 << 64))
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            out_d, out_p, out_h = [], [], []
            for did, s in zip(doc_ids, texts):
                if s is None:
                    continue
                codes = np.frombuffer(
                    s.encode("utf-32-le"), dtype="<u4"
                ).astype(np.uint64)
                n = codes.size
                m = n - kk + 1
                if m <= 0:
                    continue
                # pw[i] = B^i, invpw[i] = B^-i  (mod 2^64, wraparound)
                pw = np.ones(n + 1, dtype=np.uint64)
                np.cumprod(np.full(n, B, dtype=np.uint64), out=pw[1:])
                invpw = np.ones(n, dtype=np.uint64)
                np.cumprod(np.full(n - 1, inv, dtype=np.uint64), out=invpw[1:])
                # P[i] = sum_{j<i} c_j B^(i-1-j) = pw[i-1]*cumsum(c_j B^-j)
                s_pref = np.zeros(n + 1, dtype=np.uint64)
                np.cumsum(codes * invpw, out=s_pref[1:])
                p_pref = np.empty(n + 1, dtype=np.uint64)
                p_pref[0] = 0
                p_pref[1:] = s_pref[1:] * pw[:n]
                idx = np.arange(m)
                h = p_pref[idx + kk] - p_pref[idx] * pw[kk]
                out_d.append(np.full(m, did, dtype=np.int64))
                out_p.append(idx.astype(np.int32))
                out_h.append(h.view(np.int64))
            if out_d:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_d), type=pa.int64()),
                        pa.array(np.concatenate(out_p), type=pa.int32()),
                        pa.array(np.concatenate(out_h), type=pa.int64()),
                    ],
                    names=["doc_id", "p0", "h"],
                )

    return (
        docs.where(F.length("text") >= k)
        .select("doc_id", "text")  # prune BEFORE the opaque stage
        .mapInArrow(extract, out_schema)
    )

_STRIP_CHARS_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, i - 1 AS p0, substr(text, i, {_CHAR_K}) AS span
  FROM documents, UNNEST(generate_series(1, LENGTH(text) - {_CHAR_K - 1})) t(i)
  WHERE LENGTH(text) >= {_CHAR_K}
), own AS (
  SELECT span, MIN(doc_id) AS owner
  FROM pos GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT p.doc_id, p.p0 + u.o AS p
  FROM pos p JOIN own ON p.span = own.span AND p.doc_id <> own.owner,
    UNNEST(generate_series(0, {_CHAR_K - 1})) AS u(o)
), tok AS (
  SELECT doc_id, i - 1 AS p, substr(text, i, 1) AS ch
  FROM documents, UNNEST(generate_series(1, LENGTH(text))) t(i)
), kept AS (
  SELECT t.doc_id, t.p, t.ch FROM tok t
  ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(ch, '' ORDER BY p) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
  CAST(LENGTH(d.text) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
  COALESCE(a.text_clean, '') AS text_clean
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def strip_dup_chars_frame(docs: DataFrame, k: int = _CHAR_K) -> DataFrame:
    """CHARACTER-level exact-substring dedup removal (Lee et al. 2022,
    arXiv:2107.06499 §4's suffix-array method, re-expressed as linear
    DataFrame passes): any substring of >= ``k`` characters shared by
    two documents keeps one canonical copy (the min-doc_id owner) and
    is excised everywhere else, with the text rebuilt from surviving
    characters. This is the sub-word-granularity complement of
    ``strip_dup_spans``: word-8-grams miss boilerplate that does not
    align to word boundaries (markup fragments, concatenated
    identifiers, partial sentences) — a duplicated substring of length
    L >= k is exactly the union of its overlapping char-k-grams, so
    marking every position covered by a multi-document k-gram excises
    precisely the positions the suffix-array method would.

    Scale: the same inverted-index discipline as the word variant —
    one scan emits (doc, position, xxhash64(k-gram)) rows (one row per
    character, the suffix array's O(total chars) footprint), one
    map-side-combinable aggregation finds multi-document grams, and
    the removable occurrences come back as start positions. Excision
    is NOT per-character after that: starts collapse per document into
    merged [start, start+k) intervals with one in-row fold (intervals
    per doc bounded by duplicate regions, not length), and the clean
    text is rebuilt by slicing the complement gaps out of the original
    string — a second fold, no per-char shuffle. The oracle rebuilds
    per-character (quadratic-ish but exact) from raw span strings;
    Spark ships 8-byte hashes, the usual 2^-64 collision trade."""
    # The extraction is CPU-bound per row, so hand ``docs`` in through
    # ``catalog.spread`` hashed on doc_id: the extraction fans out, the
    # rebuild join on doc_id reuses the partitioning (no second docs
    # exchange), and the user-pinned partition count stops AQE from
    # coalescing the CPU-heavy rebuild fold to the 1-2 tasks its byte
    # size suggests. PIN the position rows for the two consumers: a
    # scratch-parquet materialization would re-read the
    # ~16-bytes-per-character pos table once per consumer, and at
    # scale the pos table is ~1.6x the corpus bytes, so pinning is the
    # cheaper discipline there too (reliable mode still lands it on
    # storage once).
    pos = pin(_char_kgram_rows_arrow(docs, k))
    own = (
        pos.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .where(F.col("nd") >= 2)
        .select("h", "owner")
    )
    starts = (
        pos.join(own, "h")
        .where(F.col("doc_id") != F.col("owner"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p0")).alias("ps"))
    )
    # merge sorted, fixed-length-k start positions into disjoint
    # [s, e) intervals: one in-row fold, no explode
    ivs = F.expr(
        f"""aggregate(ps, CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>),
              (acc, x) -> IF(size(acc) > 0 AND x <= element_at(acc, -1).e,
                concat(slice(acc, 1, size(acc) - 1),
                       array(struct(element_at(acc, -1).s AS s,
                                    x + {k} AS e))),
                concat(acc, array(struct(x AS s, x + {k} AS e)))))"""
    )
    # ONE left join (r11: previously an inner rebuild join plus a
    # second docs join to restore untouched documents — two full
    # passes and shuffles of the corpus text for one attach): ivs is
    # NULL exactly for the docs the old plan's inner join dropped, and
    # the fold expressions pass the original text through in that
    # case, which is what the old outer coalesce did.
    return (
        docs.join(starts, "doc_id", "left")
        .select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_chars"),
            "text",
            ivs.alias("ivs"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(
                F.expr("aggregate(ivs, 0, (a, iv) -> a + (iv.e - iv.s))"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_removed"),
            # slice the complement gaps out of the original text
            F.when(F.col("ivs").isNull(), F.col("text"))
            .otherwise(
                F.expr(
                    """aggregate(ivs,
                     struct(0 AS pos, '' AS acc),
                     (st, iv) -> struct(iv.e AS pos,
                       concat(st.acc,
                              substring(text, st.pos + 1, iv.s - st.pos)) AS acc),
                     st -> concat(st.acc, substring(text, st.pos + 1,
                                  length(text) - st.pos)))"""
                )
            )
            .alias("text_clean"),
        )
    )


@register("strip_dup_chars", oracle=_STRIP_CHARS_ORACLE)
def strip_dup_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`strip_dup_chars_frame` over the
    corpus documents table (k=50)."""
    return strip_dup_chars_frame(_docs_by_id(spark, sf_dir))


# ---------------------------------------------------------------- D20
def _char_spans(docs: DataFrame, k: int = _CHAR_K, with_pos: bool = True) -> DataFrame:
    """(doc_id [, p0], xxhash64(char-k-gram)) rows — one per character
    position; the probe/build primitive of the char-span index."""
    struct_expr = (
        f"transform(sequence(1, length(text) - {k - 1}),"
        f" i -> struct(i - 1 AS p0, xxhash64(substring(text, i, {k})) AS h))"
    )
    out = (
        docs.where(F.length("text") >= k)
        .select("doc_id", F.explode(F.expr(struct_expr)).alias("s"))
        .select("doc_id", F.col("s.p0").alias("p0"), F.col("s.h").alias("h"))
    )
    return out if with_pos else out.select("doc_id", "h")


def charspan_index_build(docs: DataFrame, index_path: str, k: int = _CHAR_K) -> dict:
    """Persist the corpus's char-k-gram hash SET as a lake artifact —
    the exact-substring counterpart of the MinHash index (D19): an
    ingest service hashes the corpus once at index time, and every
    later batch probes the stored hashes instead of re-scanning
    terabytes of text. Layout: ``spans/`` = distinct 8-byte xxhash64
    values (one column — the index is a membership set, positions are
    only needed on the PROBE side). Returns {n_spans}."""
    spans = _char_spans(docs, k, with_pos=False).select("h").distinct()
    spans.write.mode("overwrite").parquet(index_path + "/spans")
    return {"n_spans": docs.sparkSession.read.parquet(index_path + "/spans").count()}


def charspan_index_query(
    spark: SparkSession, new_docs: DataFrame, index_path: str, k: int = _CHAR_K
) -> DataFrame:
    """Coverage of each NEW document against the stored span set:
    (doc_id, n_chars, n_covered, coverage) where n_covered counts the
    characters lying inside at least one k-gram whose hash is already
    indexed — exactly strip_dup_chars' coverage notion, with the
    corpus side read from the index instead of recomputed.

    Scale: only the batch is hashed (batch-sized explode); the
    membership test is one join on the 8-byte hash against the stored
    set (shuffle keyed on h — or a broadcast when the index fits);
    covered positions explode k rows per MATCHED start only, then a
    distinct + count per doc. Never corpus x batch pairwise."""
    pos = _char_spans(new_docs, k)
    stored = spark.read.parquet(index_path + "/spans")
    covered = (
        pos.join(stored, "h", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p0"), F.col("p0") + F.lit(k - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_covered"))
    )
    return (
        new_docs.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_covered", F.lit(0)).cast("bigint").alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0))
                / F.greatest("n_chars", F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )
