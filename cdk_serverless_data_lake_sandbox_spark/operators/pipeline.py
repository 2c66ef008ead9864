"""The corpus pipeline end-to-end: quality gate -> exact dedup ->
near-dup removal -> deterministic stratified sample -> corpus stats.

This is the composition a pretraining-data pipeline actually runs,
ordered so the cheapest filter discards the most data first: the
quality gate is a pure scan filter, exact dedup is one hash-groupBy,
and only the survivors pay for shingle-based near-dup detection. The
whole thing is one declarative plan — Catalyst pipelines the gate
into the parquet scan and every stage stays distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.operators._helpers import RoundPins
from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
    _JACCARD_TAU,
    _docs,
    ngram_jaccard_pairs,
)
from cdk_serverless_data_lake_sandbox_spark.operators.stats import (
    _SEED,
    _strata_case_sql,
    sample_threshold_col,
)
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    round_rat,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register

_MIN_WORDS, _MAX_WORDS = 20, 5000
_MIN_DISTINCT_RATIO = 0.2

# ---------------------------------------------------------------- C20
_PIPELINE_ORACLE = f"""
WITH gated AS (
  SELECT * FROM documents
  WHERE LEN(string_split_regex(TRIM(text), '\\s+')) BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
    AND CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\\s+'))) AS DOUBLE)
        / LEN(string_split_regex(TRIM(text), '\\s+')) >= {_MIN_DISTINCT_RATIO}
), keeps AS (
  SELECT MIN(doc_id) AS keep_id FROM gated GROUP BY md5(text)
), survivors AS (
  SELECT g.* FROM gated g JOIN keeps k ON g.doc_id = k.keep_id
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM survivors
), drops AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= {_JACCARD_TAU}
), sampled AS (
  SELECT * FROM survivors
  WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    AND substring(md5(CAST(doc_id AS VARCHAR) || '_{_SEED}'), 1, 3)
        < {_strata_case_sql()}
)
SELECT lang, source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sampled GROUP BY lang, source
"""


@register("corpus_pipeline", oracle=_PIPELINE_ORACLE)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate -> exact-dedup -> near-dup-drop -> sample -> stats, as one
    plan. Stage order is the scale optimization: each stage runs on
    the previous stage's survivors only, so the expensive shingle
    pair-generation sees the smallest possible corpus."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    gated = docs.where(
        n_words.between(_MIN_WORDS, _MAX_WORDS)
        & (distinct_ratio >= _MIN_DISTINCT_RATIO)
    )
    keeps = gated.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    survivors = gated.join(
        keeps, gated.doc_id == keeps.keep_id, "left_semi"
    )
    drops = (
        ngram_jaccard_pairs(survivors, reuse=True)
        .select(F.col("b_id").alias("drop_id"))
        .distinct()
    )
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"_{_SEED}"))), 1, 3
    )
    sampled = (
        survivors.join(drops, survivors.doc_id == drops.drop_id, "left_anti")
        .where(bucket < sample_threshold_col())
    )
    return sampled.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------- C21
_COMPONENTS_ORACLE = f"""
WITH RECURSIVE w AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM w a JOIN w b ON a.doc_id < b.doc_id
  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= {_JACCARD_TAU}
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
), walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node
)
SELECT CAST(MIN(label) AS BIGINT) AS component, COUNT(*) AS n_docs
FROM (SELECT node, MIN(label) AS label FROM walk GROUP BY node)
GROUP BY label
"""


_FASTPATH_MAX_EDGES = 1_000_000  # two longs/edge -> <= ~16 MB on the driver


def min_label_components(
    docs: DataFrame,
    pairs: DataFrame,
    fastpath_max_edges: int = _FASTPATH_MAX_EDGES,
) -> DataFrame:
    """doc_id -> component label (the component's min doc_id).

    Two physical strategies behind one semantics:

    - **Driver union-find fast path** when the EDGE set is
      driver-sized (|pairs| <= ``fastpath_max_edges``, a hard count
      gate checked first). Dup pairs are rare even in huge corpora —
      the corpus can be 100 TB while the near-dup graph is a few
      thousand edges — and collecting <= 1M (long, long) rows
      (~16 MB) to run path-compressed union-find costs ONE job plus
      one broadcast join back to the (never collected) node frame,
      versus O(diameter) shuffle rounds. Isolated nodes label
      themselves via coalesce, so only edge endpoints ever leave the
      executors.
    - **Iterative min-label propagation** above the gate: each round
      every node adopts the smallest label among itself and its
      neighbors, converging in O(component diameter) rounds; per
      round one shuffle join against the (persisted, tiny) edge list
      with the convergence count riding the same action via
      observe(). The corpus itself is never rescanned inside the
      loop.

    Both paths produce identical labels (the component min) — a test
    pins the fast path against the forced-iterative path on the same
    graph."""
    from pyspark.sql import Observation

    spark = docs.sparkSession
    flat = pairs.select("a_id", "b_id").persist()
    if flat.count() <= fastpath_max_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        # ONE collect job (toLocalIterator would launch a sequential
        # job per shuffle partition); Arrow transfer keeps the gate's
        # 1M edges at ~16 MB of numpy, not 1M Row objects.
        edges_pdf = flat.toPandas()
        for ea, eb in zip(edges_pdf["a_id"].values, edges_pdf["b_id"].values):
            ra, rb = find(int(ea)), find(int(eb))
            if ra != rb:
                # union by min: the smaller root wins, so every
                # component's root IS its min member by induction.
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        flat.unpersist()
        labels = [(n, find(n)) for n in parent]
        lbl = spark.createDataFrame(
            labels, schema="doc_id long, label long"
        )
        return docs.join(F.broadcast(lbl), "doc_id", "left").select(
            "doc_id", F.coalesce("label", "doc_id").alias("label")
        )

    edges = (
        flat.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(flat.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .persist()
    )
    # Each round's plan references the previous round's labels TWICE
    # (the propagation join and the convergence check), so composing
    # lazily doubles the logical plan per round — after ~20 rounds the
    # tree alone OOMs the driver. Lineage is therefore truncated every
    # round: pin() for driver-reasonable label frames
    # (executor-local blocks, no parquet round-trip — each round costs
    # ONE action), written scratch above the size gate (durable across
    # executor loss, the correct choice when labels are corpus-sized).
    # Scratch rounds older than the newest two are deleted as it goes.
    # The convergence count rides the SAME action via observe() — the
    # old separate count() was a third action per round and most of
    # the iterative wall-time.
    pins = RoundPins()
    truncate = pins.pin if docs.count() <= 10_000_000 else pins.materialize
    labels = truncate(docs.select("doc_id", F.col("doc_id").alias("label")))
    for _ in range(32):  # diameter bound; near-dup clusters are shallow
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        obs = Observation()
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "new_label"
                ),
                F.col("label").alias("_old"),
            )
            .observe(
                obs,
                F.sum((F.col("new_label") != F.col("_old")).cast("long")).alias(
                    "changed"
                ),
            )
            .select("doc_id", F.col("new_label").alias("label"))
        )
        labels = truncate(stepped)
        if (obs.get["changed"] or 0) == 0:
            break
    # labels is checkpointed/materialized — lineage no longer reaches
    # the cached frames, so release them instead of leaking one cache
    # entry per call.
    edges.unpersist()
    flat.unpersist()
    return labels


@register("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph (jaccard >= tau)
    via min-label propagation (``min_label_components``). Output is
    one row per component with its canonical (min) doc_id and size,
    which is what a cluster-level dedup keep-one policy consumes. The
    DuckDB oracle computes the same fixpoint with a recursive CTE."""
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, reuse=True).select("a_id", "b_id")
    labels = min_label_components(docs, pairs)
    return labels.groupBy("label").agg(F.count("*").alias("n_docs")).select(
        F.col("label").alias("component"), "n_docs"
    )


# ---------------------------------------------------------------- C39
_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE w AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM documents
), pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM w a JOIN w b ON a.doc_id < b.doc_id
  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= {_JACCARD_TAU}
), edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
), walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node
), comp AS (
  SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
), scored AS (
  SELECT c.component, d.doc_id,
    LEN(list_distinct(string_split_regex(TRIM(text), '\\s+'))) AS q
  FROM documents d JOIN comp c ON d.doc_id = c.doc_id
)
SELECT CAST(component AS BIGINT) AS component,
       CAST(n_docs AS BIGINT) AS n_docs,
       doc_id AS keep_id,
       CAST(q AS BIGINT) AS keep_quality
FROM (
  SELECT component, doc_id, q,
    ROW_NUMBER() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY component) AS n_docs
  FROM scored)
WHERE rn = 1
"""


@register("near_dup_keep_best", oracle=_KEEP_BEST_ORACLE)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup retention: instead of keeping the
    lowest doc_id per near-dup cluster (``near_dup_removal``), keep
    the member with the best quality score — here vocabulary size
    (distinct words), ties broken by lowest doc_id. This is the
    retention policy real curation pipelines use: when k crawls of
    the same page survive near-dup detection, you keep the richest
    capture, not an arbitrary one.

    Plan shape: near-dup components via min-label propagation, then
    ONE hash-aggregation picks the winner per component — the argmax
    is a ``max(struct(q, -doc_id))``, a map-side-combinable aggregate,
    not a row_number window, so no per-component sort and no skew
    sensitivity to giant clusters. The oracle expresses the same
    argmax with a window over the recursive-CTE fixpoint."""
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, reuse=True).select("a_id", "b_id")
    labels = min_label_components(docs, pairs)
    q = F.size(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))).cast("long")
    scored = docs.select("doc_id", q.alias("q")).join(labels, "doc_id")
    return (
        scored.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("n_docs"),
            F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))).alias("best"),
        )
        .select(
            "component",
            "n_docs",
            (-F.col("best.nid")).alias("keep_id"),
            F.col("best.q").alias("keep_quality"),
        )
    )


# ---------------------------------------------------------------- C84
_TEP_ORACLE = f"""
WITH gated AS (
  SELECT * FROM documents
  WHERE LEN(string_split_regex(TRIM(text), '\\s+')) BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
    AND CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\\s+'))) AS DOUBLE)
        / LEN(string_split_regex(TRIM(text), '\\s+')) >= {_MIN_DISTINCT_RATIO}
), keeps AS (
  SELECT MIN(doc_id) AS keep_id FROM gated GROUP BY md5(text)
), survivors AS (
  SELECT g.* FROM gated g JOIN keeps k ON g.doc_id = k.keep_id
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
  FROM survivors
), drops AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))) >= {_JACCARD_TAU}
), kept AS (
  SELECT doc_id,
    doc_id % 8 AS shard,
    LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tokens
  FROM survivors WHERE doc_id NOT IN (SELECT doc_id FROM drops)
), packed AS (
  SELECT shard, n_tokens,
    CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT)
      AS seq_id
  FROM kept
)
SELECT shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  {sql_round_rat('SUM(n_tokens)', 'COUNT(DISTINCT seq_id) * 256', 6)}
    AS fill_ratio
FROM packed GROUP BY shard
"""


@register("training_export_pipeline", oracle=_TEP_ORACLE)
def training_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining preprocessing chain as one declarative
    plan: quality gate -> exact dedup -> near-dup drop -> shard ->
    concat-and-split sequence packing -> per-shard training manifest
    (docs, sequences, tokens, fill ratio). This is the end-to-end a
    data team hands to a trainer; expressing it as one composed
    DataFrame plan (instead of N materialized intermediate jobs) is
    exactly what the Spark-first design buys — Catalyst pushes the
    gate into the parquet scan, the dedup stages run only on
    survivors, and the SAME hashed-shingle scratch the standalone
    dedup family uses is reused here (one corpus tokenize+hash per
    application).

    Stage costs shrink monotonically: gate (scan filter), exact dedup
    (one hash-groupBy), near-dup (prefix-filtered in-bucket pairs on
    survivors only), packing (per-shard integer prefix sums — shards
    scale with cores)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    gated = docs.where(
        n_words.between(_MIN_WORDS, _MAX_WORDS)
        & (distinct_ratio >= _MIN_DISTINCT_RATIO)
    )
    keeps = gated.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    survivors = gated.join(keeps, gated.doc_id == keeps.keep_id, "left_semi")
    drops = (
        ngram_jaccard_pairs(survivors, reuse=True)
        .select(F.col("b_id").alias("drop_id"))
        .distinct()
    )
    kept = (
        survivors.join(drops, survivors.doc_id == drops.drop_id, "left_anti")
        .select(
            "doc_id",
            (F.col("doc_id") % 8).alias("shard"),
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = kept.withColumn("seq_id", F.floor(cum / F.lit(256.0)))
    return packed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        # integer-exact fill ratio (round_rat)
        round_rat(
            "sum(n_tokens)", "count(DISTINCT seq_id) * 256", 6
        ).alias("fill_ratio"),
    )
