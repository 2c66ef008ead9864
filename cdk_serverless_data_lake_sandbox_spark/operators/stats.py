"""Analytics wave 4: quantile bucketing, sequential deltas,
statistical aggregates, ordered string aggregation, argmin/argmax,
grouping sets, and corpus IDF.

All oracle-checked. Floating-point statistics (corr, stddev) are
rounded to 4 decimals before hashing — both engines compute them with
one-pass co-moment updates whose results agree well past 4 digits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from decimal import Decimal

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    dec,
    materialize,
    money,
    money_sum,
    pin,
    round_rat,
    scratch,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register


def total_order_index(
    df: DataFrame,
    key,
    tiebreaks: list,
    descending: bool = False,
    cum=None,
    cum_dtype: str = "decimal(38,2)",
    accuracy: int = 10000,
):
    """Exact global row numbers — and optionally an exact running sum —
    in the total order (key, *tiebreaks), WITHOUT a single-reducer sort.

    ``Window.orderBy(...)`` with no partition spec plans every row
    through one task: the classic scale killer. Instead: (1) sketch
    ~evenly populated key ranges with percentile_approx (boundaries
    need not be exact — any monotone bucketing of the key preserves
    the order between ranges); (2) assign each row its range id with a
    deterministic expression on the key value, so ties can never
    straddle ranges; (3) aggregate per-range counts (and decimal sums)
    — a <= shuffle-partitions-sized frame collected to the driver,
    where running offsets are accumulated exactly; (4) rank/cumsum
    WITHIN each range in parallel (one hash shuffle on the range id)
    and add the range's offset. Two extra cheap passes buy full
    parallelism at any scale.

    Returns (frame + `_i` [+ `_cum`] columns, total_count, total_cum);
    the totals come free from the offset pass — no extra scalar
    subquery needed downstream.
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dkey = key.cast("double")
    qs = [i / n_part for i in range(1, n_part)]
    raw = df.agg(F.percentile_approx(dkey, qs, accuracy).alias("c")).first()["c"]
    cuts = sorted(set(raw or []), reverse=descending)
    pid = F.lit(0)
    for c in cuts:
        past_cut = (dkey < F.lit(c)) if descending else (dkey > F.lit(c))
        pid = pid + F.when(past_cut, 1).otherwise(0)
    parted = df.withColumn("_pid", pid.cast("int"))
    aggs = [F.count("*").alias("_cnt")]
    if cum is not None:
        aggs.append(F.sum(cum.cast(cum_dtype)).alias("_s"))
    stats = {r["_pid"]: r for r in parted.groupBy("_pid").agg(*aggs).collect()}
    rows, run_n, run_s = [], 0, Decimal(0)
    for p in sorted(stats):
        rows.append((p, run_n, str(run_s)))
        run_n += stats[p]["_cnt"]
        if cum is not None:
            run_s += stats[p]["_s"]
    off = spark.createDataFrame(
        rows, "`_pid` int, `_off` long, `_soff` string"
    ).select("_pid", "_off", F.col("_soff").cast(cum_dtype).alias("_soff"))
    order = [key.desc() if descending else key.asc(), *tiebreaks]
    w = Window.partitionBy("_pid").orderBy(*order)
    out = parted.join(F.broadcast(off), "_pid").withColumn(
        "_i", F.row_number().over(w) + F.col("_off")
    )
    if cum is not None:
        frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = out.withColumn(
            "_cum",
            (F.sum(cum.cast(cum_dtype)).over(frame) + F.col("_soff")).cast(cum_dtype),
        )
    return out.drop("_pid", "_off", "_soff"), run_n, run_s


# ---------------------------------------------------------------- B43
_NTILE_ORACLE = """
WITH ranked AS (
  SELECT c_acctbal, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT quartile, COUNT(*) AS n_customers,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
FROM ranked GROUP BY quartile
"""


@register("ntile_quartiles", oracle=_NTILE_ORACLE)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance quartiles with exact NTILE(4) semantics but no
    single-partition sort: global row numbers come from
    total_order_index (range-bucketed parallel ranking), and the
    NTILE bucket is computed from the rank with the standard
    first-(n mod k)-buckets-get-the-extra-row rule. Hash-identical to
    the oracle's NTILE because the total order (c_acctbal, c_custkey)
    is the same."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    ranked, n, _ = total_order_index(
        c.select("c_acctbal", "c_custkey"), F.col("c_acctbal"), [F.col("c_custkey")]
    )
    s, m = divmod(n, 4)
    head = m * (s + 1)  # ranks covered by the size-(s+1) buckets
    i = F.col("_i")
    quartile = (
        F.when(i <= head, F.floor((i - 1) / (s + 1)) + 1)
        .otherwise(m + F.floor((i - 1 - head) / max(s, 1)) + 1)
        .cast("bigint")
    )
    return (
        ranked.select("c_acctbal", quartile.alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            money_sum("c_acctbal", 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------- B44
_DELTA_ORACLE = """
WITH deltas AS (
  SELECT user_id,
    CAST(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS DECIMAL(18,4)) AS delta
  FROM events
)
SELECT user_id, COUNT(delta) AS n_deltas,
  CAST(ROUND(SUM(delta), 2) AS DOUBLE) AS net_change
FROM deltas WHERE delta IS NOT NULL GROUP BY user_id
"""


@register("lead_lag_delta", oracle=_DELTA_ORACLE)
def lead_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-to-event value deltas (LAG) aggregated to a net
    change. The window partitions by user_id, so the sort is local to
    each user's rows — no global ordering anywhere."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = ev.select(
        "user_id",
        dec(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    ).where(F.col("delta").isNotNull())
    return deltas.groupBy("user_id").agg(
        F.count("delta").alias("n_deltas"),
        money(F.sum("delta")).alias("net_change"),
    )


# ---------------------------------------------------------------- B45
_CORR_ORACLE = """
SELECT l_returnflag,
  CAST(ROUND(CORR(l_quantity, l_extendedprice), 4) AS DOUBLE) AS qty_price_corr,
  CAST(ROUND(STDDEV_SAMP(l_discount), 4) AS DOUBLE) AS discount_sd,
  CAST(ROUND(VAR_SAMP(l_tax), 4) AS DOUBLE) AS tax_var
FROM lineitem GROUP BY l_returnflag
"""


@register("corr_stats", oracle=_CORR_ORACLE)
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / stddev / variance per return flag — all one-pass
    co-moment aggregates that merge associatively across partitions
    (no second scan, no driver math)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_discount"), 4).alias("discount_sd"),
        F.round(F.var_samp("l_tax"), 4).alias("tax_var"),
    )


# ---------------------------------------------------------------- B46
_STRAGG_ORACLE = """
SELECT o_orderpriority,
  STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
  COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


@register("ordered_string_agg", oracle=_STRAGG_ORACLE)
def ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct string aggregation (LISTAGG analog):
    collect_set -> array_sort -> array_join keeps the merge
    associative and the final order deterministic."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------- B47
_FIRSTLAST_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT f.user_id, f.event_type AS first_type, l.event_type AS last_type
FROM (SELECT user_id, event_type FROM ordered WHERE rn_a = 1) f
JOIN (SELECT user_id, event_type FROM ordered WHERE rn_d = 1) l USING (user_id)
"""


@register("first_last_event", oracle=_FIRSTLAST_ORACLE)
def first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last event type per user. Spark side uses
    min_by/max_by over a (ts, event_id) struct — a single hash
    aggregate, no window sort at all; the oracle spells out the
    equivalent ROW_NUMBER form."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", order_key).alias("first_type"),
        F.max_by("event_type", order_key).alias("last_type"),
    )


# ---------------------------------------------------------------- B48
_GSETS_ORACLE = """
SELECT event_type, CAST(HOUR(ts) AS INTEGER) AS hour, COUNT(*) AS n_events
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(HOUR(ts) AS INTEGER)), ())
"""


@register("grouping_sets_agg", oracle=_GSETS_ORACLE)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (marginals by type, by hour, and the
    grand total) — one scan produces all three groupings, vs three
    scans for a UNION ALL of plain GROUP BYs."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ev.createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT event_type, CAST(HOUR(ts) AS INT) AS hour, COUNT(*) AS n_events
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (CAST(HOUR(ts) AS INT)), ())
        """
    )


# ---------------------------------------------------------------- C16
_IDF_ORACLE = """
WITH words AS (
  SELECT DISTINCT doc_id, w AS word
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
), n_docs AS (SELECT COUNT(*) AS n FROM documents)
SELECT word, COUNT(*) AS df,
  CAST(ROUND(LN(CAST(n.n AS DOUBLE) / COUNT(*)), 4) AS DOUBLE) AS idf
FROM words, n_docs n
GROUP BY word, n.n
ORDER BY df DESC, word
LIMIT 30
"""


@register("idf_top_terms", oracle=_IDF_ORACLE)
def idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document frequency + IDF for the 30 most common terms.
    The per-doc DISTINCT collapses token repeats map-side before the
    word shuffle; the corpus size joins in as a broadcast scalar."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n_docs = docs.agg(F.count("*").alias("_n"))
    words = (
        docs.select("doc_id", F.explode_outer(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word",
            "df",
            F.round(F.log(F.col("_n").cast("double") / F.col("df")), 4).alias("idf"),
        )
        .orderBy(F.desc("df"), "word")
        .limit(30)
    )


# ---------------------------------------------------------------- B49
_REGR_ORACLE = """
SELECT event_type,
  CAST(ROUND(REGR_SLOPE(value, CAST(HOUR(ts) AS DOUBLE)), 4) AS DOUBLE) AS hourly_slope,
  CAST(ROUND(REGR_INTERCEPT(value, CAST(HOUR(ts) AS DOUBLE)), 4) AS DOUBLE) AS intercept,
  REGR_COUNT(value, CAST(HOUR(ts) AS DOUBLE)) AS n
FROM events GROUP BY event_type
"""


@register("regression_per_type", oracle=_REGR_ORACLE)
def regression_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear regression of event value on hour-of-day, per type —
    Spark's built-in REGR_* one-pass aggregates (no mllib, no UDF,
    merges associatively across partitions like any co-moment agg)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    x = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 4).alias("hourly_slope"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.regr_count(F.col("value"), x).alias("n"),
    )


# ---------------------------------------------------------------- B50
_TWA_ORACLE = """
WITH spans AS (
  SELECT user_id, value,
    epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      - epoch_us(ts) AS dt_us
  FROM events
)
SELECT user_id,
  CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(dt_us AS DECIMAL(18,0))) AS DOUBLE)
    / CAST(SUM(dt_us) AS DOUBLE), 6) AS DOUBLE) AS twa_value,
  COUNT(dt_us) AS n_spans
FROM spans WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY user_id
"""


@register("time_weighted_avg", oracle=_TWA_ORACLE)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user: each reading is
    held until the next one (LEAD), weighted by the span length in
    exact integer microseconds. The weighted sum is decimal-exact so
    partial-aggregation order can't change the hash; the final ratio
    is rounded to 6 decimals because the engines truncate parquet
    nanosecond timestamps to microseconds slightly differently."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = ev.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
    weighted = dec("value", 4) * F.col("dt_us").cast("decimal(18,0)")
    return spans.groupBy("user_id").agg(
        F.round(
            F.sum(weighted).cast("double") / F.sum("dt_us").cast("double"), 6
        ).alias("twa_value"),
        F.count("dt_us").alias("n_spans"),
    )


# ---------------------------------------------------------------- C18
# Per-language keep rates for the deterministic sample, expressed as
# 3-hex-digit thresholds (granularity 1/4096) over the md5 of the key.
_STRATA = {"en": 0.20, "de": 0.10, "fr": 0.10}
_DEFAULT_RATE = 0.05
_SEED = 42


def _hex_threshold(rate: float) -> str:
    return format(int(rate * 4096), "03x")


def _strata_case_sql() -> str:
    arms = " ".join(
        f"WHEN lang = '{k}' THEN '{_hex_threshold(v)}'" for k, v in _STRATA.items()
    )
    return f"CASE {arms} ELSE '{_hex_threshold(_DEFAULT_RATE)}' END"


def sample_threshold_col() -> F.Column:
    """Per-row hex threshold column for the stratified sample (CASE
    over lang) — shared with the corpus pipeline."""
    threshold = F.lit(_hex_threshold(_DEFAULT_RATE))
    for k, v in _STRATA.items():
        threshold = F.when(F.col("lang") == k, _hex_threshold(v)).otherwise(threshold)
    return threshold


_SAMPLE_ORACLE = f"""
SELECT lang, COUNT(*) AS n_sampled
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR) || '_{_SEED}'), 1, 3)
      < {_strata_case_sql()}
GROUP BY lang
"""


@register("stratified_sample", oracle=_SAMPLE_ORACLE)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff the md5 of
    (doc_id, seed) falls under the stratum's hex threshold. Unlike
    RNG-based sample(), the selection is a pure function of the key —
    reproducible across runs, partitionings, and engines, which is
    what a training-data pipeline needs for auditable subsets. md5 is
    the hash because Spark and DuckDB produce identical digests, so
    the oracle checks the exact selection, not just rates."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    threshold = sample_threshold_col()
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"_{_SEED}"))), 1, 3
    )
    return (
        docs.where(bucket < threshold)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )


# ---------------------------------------------------------------- C17
_AQ_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
      AS rn,
    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
  CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.50 * n) AS BIGINT), 1)
      THEN o_totalprice END) AS DOUBLE) AS p50,
  CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.95 * n) AS BIGINT), 1)
      THEN o_totalprice END) AS DOUBLE) AS p95,
  CAST(MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.99 * n) AS BIGINT), 1)
      THEN o_totalprice END) AS DOUBLE) AS p99,
  COUNT(*) AS n_orders
FROM ranked GROUP BY o_orderpriority
"""


@register("approx_quantiles", oracle=_AQ_ORACLE)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95/p99 of order totals per priority via
    percentile_approx (a mergeable quantile sketch). At 100 TB this
    replaces a full sort/exact-percentile shuffle with fixed-size
    sketch merges; tests bound the error against the exact answer.
    Below the sketch's per-GROUP retention bound (every gate/test SF:
    <=30k orders per priority at sf0.1) the sketch is exact and
    returns the order statistic at 1-based rank ceil(p * n), which
    the DuckDB oracle replays hash-exact — the quartiles_scalable
    ``_QSCALE_ACC`` argument, per group."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    # Scalar columns, not ARRAY<DOUBLE>: the driver's correctness
    # harness canonicalizes through a pandas sort and cannot hash
    # list cells (the video_scene_cuts r5 gate ERR).
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile_approx(
            "o_totalprice", [0.5, 0.95, 0.99], _QSCALE_ACC
        ).alias("pcts"),
        F.count("*").alias("n_orders"),
    )
    return agg.select(
        "o_orderpriority",
        F.col("pcts")[0].alias("p50"),
        F.col("pcts")[1].alias("p95"),
        F.col("pcts")[2].alias("p99"),
        "n_orders",
    )


# ---------------------------------------------------------------- B53
_RANKDIST_ORACLE = """
WITH ranked AS (
  SELECT c_custkey,
    ROW_NUMBER() OVER w AS rn,
    COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
)
SELECT c_custkey,
  CASE WHEN n = 1 THEN CAST(0 AS DOUBLE)
       ELSE CAST((2 * (rn - 1) * 1000000 + (n - 1)) // (2 * (n - 1))
                 AS DOUBLE) / 1000000 END AS pr,
  CAST((2 * rn * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000 AS cd
FROM ranked
"""


@register("rank_distribution", oracle=_RANKDIST_ORACLE)
def rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of each customer's balance within its
    nation — rank-statistic windows partitioned by nation, so the
    sort is per-nation, never global.

    The 6dp rounding is integer arithmetic over the exact rationals
    (the c_custkey tiebreak makes the order total, so pr and cd are
    (rn-1)/(n-1) and rn/n): round(double, 6) flips the last digit
    between engines when the rational lands exactly on a .xxxxxx5
    boundary — e.g. cd = 33300/64000 = 0.5203125 rounded 0.520313 by
    Spark (HALF_UP on the shortest decimal repr) but 0.520312 by
    DuckDB (binary double is a hair below the boundary); caught live
    by the r11 cross-SF rotation at sf0.1."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_nationkey")
    ranked = c.select(
        "c_custkey",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.select(
        "c_custkey",
        F.when(F.col("n") == 1, F.lit(0.0))
        .otherwise(
            F.expr(
                "CAST((2 * (rn - 1) * 1000000 + (n - 1))"
                " DIV (2 * (n - 1)) AS DOUBLE)"
            )
            / 1000000
        )
        .alias("pr"),
        (F.expr("CAST((2 * rn * 1000000 + n) DIV (2 * n) AS DOUBLE)") / 1000000).alias(
            "cd"
        ),
    )


# ---------------------------------------------------------------- B54
_UNPIVOT_ORACLE = """
SELECT measure, CAST(ROUND(SUM(v), 2) AS DOUBLE) AS total FROM (
  SELECT 'quantity' AS measure, CAST(l_quantity AS DECIMAL(18,4)) AS v FROM lineitem
  UNION ALL
  SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,4)) FROM lineitem
  UNION ALL
  SELECT 'discount', CAST(l_discount AS DECIMAL(18,4)) FROM lineitem
) GROUP BY measure
"""


@register("unpivot_measures", oracle=_UNPIVOT_ORACLE)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt) of three lineitem measures followed
    by a per-measure total — one scan; the unpivot is a projection,
    not a join or union of rescans."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    long = li.select(
        dec("l_quantity", 4).alias("quantity"),
        dec("l_extendedprice", 4).alias("extendedprice"),
        dec("l_discount", 4).alias("discount"),
    ).unpivot([], ["quantity", "extendedprice", "discount"], "measure", "v")
    return long.groupBy("measure").agg(money(F.sum("v")).alias("total"))


# ---------------------------------------------------------------- B55
_ROLLING_ORACLE = """
SELECT event_id, user_id,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER (
    PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trailing_24h
FROM events
"""


@register("rolling_time_window", oracle=_ROLLING_ORACLE)
def rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h value sum per event (RANGE frame over event-time
    seconds, not row counts — frames follow the clock even with
    uneven event density). Partitioned by user, so each frame scan is
    local; the decimal sum keeps the window arithmetic exact. Both
    engines order by whole seconds (Spark's unix_timestamp truncates;
    the oracle FLOORs epoch) so frame boundaries agree."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        money(F.sum(dec("value", 4)).over(w)).alias("trailing_24h"),
    )


# ---------------------------------------------------------------- C23
_PMI_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), bigrams AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE w[i] <> '' AND w[i + 1] <> ''
), uni AS (
  SELECT w1 AS word, COUNT(*) AS c FROM (
    SELECT w1 FROM bigrams UNION ALL SELECT w2 FROM bigrams
  ) GROUP BY 1
), big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2
), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM bigrams)
SELECT b.w1, b.w2, b.c12,
  CAST(ROUND(LN((CAST(b.c12 AS DOUBLE) * 2.0 * n.total)
      / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 4) AS DOUBLE) AS pmi
FROM big b JOIN uni u1 ON u1.word = b.w1
           JOIN uni u2 ON u2.word = b.w2, n
WHERE b.c12 >= 5
ORDER BY pmi DESC, b.w1, b.w2
LIMIT 25
"""


@register("bigram_collocations", oracle=_PMI_ORACLE)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    word pairs (min count 5, top 25). One token-pair explode feeds
    both the bigram and the (doubled) unigram counts; the corpus
    total joins back as a broadcast scalar. PMI's log runs on exact
    integer counts, so both engines agree to the rounded digit."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(F.split(F.col("text"), " ").alias("w"))
    pairs_expr = """
    filter(transform(sequence(1, greatest(size(w) - 1, 1)),
                     i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2)),
           p -> p.w1 <> '' AND p.w2 IS NOT NULL AND p.w2 <> '')
    """
    bigrams = toks.select(F.explode_outer(F.expr(pairs_expr)).alias("p")).where(
        F.col("p").isNotNull()
    ).select("p.w1", "p.w2")
    big = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = (
        bigrams.select(F.col("w1").alias("word"))
        .unionAll(bigrams.select(F.col("w2").alias("word")))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    n = bigrams.agg(F.count("*").cast("double").alias("total"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    return (
        big.where(F.col("c12") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c12",
            F.round(
                F.log(
                    (F.col("c12").cast("double") * 2.0 * F.col("total"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )


# ---------------------------------------------------------------- B57
_SALTED_ORACLE = """
SELECT event_type,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value,
  COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


@register("salted_agg", oracle=_SALTED_ORACLE)
def salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: phase 1 aggregates on
    (key, salt) — 16 partial rows per hot key spread across the
    cluster — phase 2 merges the partials per key. For a skewed key
    this turns one straggler reducer into 16 parallel ones; the
    decimal sums make the two-phase result bit-identical to the plain
    GROUP BY, which is exactly what the oracle checks."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    salt = F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("_salt")
    phase1 = (
        ev.groupBy("event_type", salt)
        .agg(F.sum(dec("value", 4)).alias("_pv"), F.count("*").alias("_pn"))
    )
    return phase1.groupBy("event_type").agg(
        money(F.sum("_pv")).alias("total_value"),
        F.sum("_pn").alias("n_events"),
    )


# ---------------------------------------------------------------- C24
_TFIDF_ORACLE = """
WITH tf AS (
  SELECT doc_id, w AS word, COUNT(*) AS tf
  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
  WHERE w <> ''
  GROUP BY doc_id, w
), df AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
    CAST(ROUND(tf.tf * LN(n.total / df.df), 4) AS DOUBLE) AS score
  FROM tf JOIN df USING (word), n
)
SELECT doc_id, word AS top_term, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY score DESC, word) AS rn
  FROM scored
) WHERE rn = 1
"""


@register("tfidf_doc_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's most characteristic term by TF-IDF. One token
    explode feeds the per-doc term frequencies; document frequencies
    aggregate from the tf frame (no second corpus scan); the corpus
    size joins as a broadcast scalar; a per-doc window picks the
    winner with the same (score desc, word) tiebreak as the oracle.
    Exact integer tf/df keep the rounded score engine-identical."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = (
        docs.select("doc_id", F.explode_outer(F.split("text", " ")).alias("word"))
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("total"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(F.col("tf") * F.log(F.col("total") / F.col("df")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("word").alias("top_term"), "score")
    )


# ---------------------------------------------------------------- B59
_OUTLIER_ORACLE = """
WITH stats AS (
  SELECT event_type,
    CAST(ROUND(AVG(value) + 3 * STDDEV_SAMP(value), 6) AS DOUBLE) AS cut
  FROM events GROUP BY event_type
)
SELECT e.event_type, COUNT(*) AS n_outliers,
  CAST(ROUND(MAX(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS max_value
FROM events e JOIN stats s ON s.event_type = e.event_type
WHERE e.value > s.cut
GROUP BY e.event_type
"""


@register("value_outliers", oracle=_OUTLIER_ORACLE)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-sigma outliers per event type: the per-group cut comes
    from one stats pass and joins back as a broadcast — two scans
    total, no window. The cut is rounded to 6 decimals on both
    engines so the strict comparison agrees bit-for-bit."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value") + 3 * F.stddev_samp("value"), 6).alias("cut")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.col("value") > F.col("cut"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_outliers"),
            money(F.max(dec("value", 4))).alias("max_value"),
        )
    )


# ---------------------------------------------------------------- B60
_MOM_ORACLE = f"""
WITH monthly AS (
  SELECT DATE_TRUNC('month', o_orderdate) AS month,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
),
cents AS (
  SELECT month, revenue, CAST(ROUND(revenue * 100) AS BIGINT) AS rev_c,
    LAG(CAST(ROUND(revenue * 100) AS BIGINT)) OVER (ORDER BY month) AS prev_c
  FROM monthly
)
SELECT month, revenue,
  {sql_round_rat('100 * (rev_c - prev_c)', 'prev_c', 4)} AS mom_pct
FROM cents
"""


@register("mom_growth", oracle=_MOM_ORACLE)
def mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: the global LAG window runs
    over a few dozen pre-aggregated monthly rows — the distributed
    work is the aggregation beneath it. Revenue is decimal-exact
    before the IEEE ratio, so the percentages match the oracle."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        money_sum("o_totalprice", 2).alias("revenue")
    )
    w = Window.orderBy("month")
    # exact-cents growth ratio: revenue is an exact 2dp value, so the
    # percentage is the rational 100*(Δcents)/prev_cents — rounded in
    # integer arithmetic (round_rat), not on the double quotient
    return (
        monthly.withColumn(
            "rev_c", F.expr("CAST(round(revenue * 100) AS BIGINT)")
        )
        .withColumn("prev_c", F.lag("rev_c").over(w))
        .select(
            "month",
            "revenue",
            round_rat("100 * (rev_c - prev_c)", "prev_c", 4).alias("mom_pct"),
        )
    )


# ---------------------------------------------------------------- B61
# Below its retention bound percentile_approx is EXACT and returns
# the order statistic at 1-based rank ceil(p * n), which the oracle's
# window-rank selection replays. The bound is NOT "n <= accuracy":
# per-partition partials each stay exact, but MERGING partials can
# trigger compression well before the head fills — at accuracy 50000
# a 30k-row group (orders/priority at sf0.1) came back 2-5 ranks off
# under local[32]'s 32-way merge (caught by the r11 cross-SF
# rotation); accuracy 100000 was rank-exact there, carried here at 2x
# margin. Probed exact for n in {10, 11, 1500, 15000, 30000}. Above
# the bound the epsilon guarantee takes over (the 100 TB mode — the
# oracle covers every gate/test SF, the error-bound test covers the
# compressed regime).
_QSCALE_ACC = 200000

_QSCALE_ORACLE = f"""
WITH ranked AS (
  SELECT c_acctbal, ROW_NUMBER() OVER (ORDER BY c_acctbal) AS rn,
    COUNT(*) OVER () AS n
  FROM customer
),
cuts AS (
  SELECT
    MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.25 * n) AS BIGINT), 1)
        THEN c_acctbal END) AS c1,
    MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.50 * n) AS BIGINT), 1)
        THEN c_acctbal END) AS c2,
    MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.75 * n) AS BIGINT), 1)
        THEN c_acctbal END) AS c3
  FROM ranked
)
SELECT quartile, COUNT(*) AS n_customers,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
FROM (
  SELECT CASE WHEN c_acctbal <= c1 THEN 1
              WHEN c_acctbal <= c2 THEN 2
              WHEN c_acctbal <= c3 THEN 3 ELSE 4 END AS quartile,
         c_acctbal
  FROM customer CROSS JOIN cuts
) GROUP BY quartile
"""


@register("quartiles_scalable", oracle=_QSCALE_ORACLE)
def quartiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ntile_quartiles: quartile boundaries come
    from an approx_percentile sketch (no global sort, no single
    reducer) and rows bucket themselves with a broadcast comparison.
    Same output shape as the exact NTILE; tests bound the per-bucket
    population drift against it. Below the sketch's retention bound
    the cuts are exact order statistics, so the DuckDB oracle checks
    the full output hash-exact at every gate SF (see ``_QSCALE_ACC``
    note)."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    cuts = c.agg(
        F.percentile_approx(
            "c_acctbal", [0.25, 0.5, 0.75], _QSCALE_ACC
        ).alias("cut")
    )
    quartile = (
        F.when(F.col("c_acctbal") <= F.col("cut")[0], 1)
        .when(F.col("c_acctbal") <= F.col("cut")[1], 2)
        .when(F.col("c_acctbal") <= F.col("cut")[2], 3)
        .otherwise(4)
    )
    return (
        c.crossJoin(F.broadcast(cuts))
        .select(quartile.alias("quartile"), "c_acctbal")
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            money_sum("c_acctbal", 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------- B63
_GINI_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n, user_id) AS i,
    COUNT(*) OVER () AS total_users
  FROM per_user
)
SELECT
  {sql_round_rat('SUM(CAST((2 * i - total_users - 1) * n AS HUGEINT))',
                 'MAX(total_users) * SUM(CAST(n AS HUGEINT))', 6,
                 wide=True)} AS gini,
  CAST(MAX(total_users) AS BIGINT) AS n_users
FROM ranked
"""


@register("activity_gini", oracle=_GINI_ORACLE)
def activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of event volume across users — the
    concentration metric a pipeline watches for hot-user skew. Ranks
    over the per-user aggregate come from total_order_index (parallel
    range-bucketed ranking, no single-reducer window), and the
    weighted sum runs in DECIMAL so it is exact and
    accumulation-order independent in both engines at any scale."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    per_user = materialize(
        ev.groupBy("user_id").agg(F.count("*").alias("n"))
    )
    ranked, n_users, _ = total_order_index(
        per_user, F.col("n"), [F.col("user_id")]
    )
    term = ((2 * F.col("_i") - n_users - 1) * F.col("n")).cast("decimal(38,0)")
    # integer-exact gini: numerator and denominator are exact integer
    # sums — wide round_rat (scaled terms outgrow BIGINT)
    return (
        ranked.agg(
            F.sum(term).alias("_num"),
            F.sum(F.col("n").cast("decimal(38,0)")).alias("_den"),
        )
        .select(
            round_rat(
                "_num", f"{n_users} * _den", 6, wide=True
            ).alias("gini"),
            F.lit(n_users).cast("bigint").alias("n_users"),
        )
    )


# ---------------------------------------------------------------- B64
_TRANSITION_ORACLE = """
WITH ordered AS (
  SELECT o_custkey, o_orderpriority,
    LAG(o_orderpriority) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey) AS prev_priority
  FROM orders
)
SELECT prev_priority, o_orderpriority AS next_priority, COUNT(*) AS n
FROM ordered WHERE prev_priority IS NOT NULL
GROUP BY prev_priority, next_priority
"""


@register("priority_transitions", oracle=_TRANSITION_ORACLE)
def priority_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive order priorities
    per customer (LAG over each customer's order history) — the
    sequence-mining shape behind churn/state models."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            F.lag("o_orderpriority").over(w).alias("prev_priority"),
        )
        .where(F.col("prev_priority").isNotNull())
        .groupBy("prev_priority", F.col("o_orderpriority").alias("next_priority"))
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------- B67
_AFFINITY_ORACLE = """
WITH order_brands AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
)
SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_orders
FROM order_brands a JOIN order_brands b
  ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
GROUP BY brand_a, brand_b
ORDER BY n_orders DESC, brand_a, brand_b
LIMIT 20
"""


@register("brand_affinity", oracle=_AFFINITY_ORACLE)
def brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: brand pairs co-occurring in the same
    order (association-rule support counts). Same in-bucket pair
    pattern as the dedup postings — distinct brands collapse per
    order first, pairs are generated inside each order's (tiny)
    brand list, and only pair counts shuffle."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    order_brands = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
              F.col("p_partkey") == F.col("l_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    baskets = order_brands.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("p_brand")).alias("brands")
    ).where(F.size("brands") > 1)
    pair_expr = """
    flatten(transform(brands, (x, i) ->
      transform(slice(brands, i + 2, size(brands)),
                y -> struct(x AS brand_a, y AS brand_b))))
    """
    return (
        baskets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------- B70
_HHI_ORACLE = """
WITH cust_rev AS (
  SELECT c.c_nationkey, o.o_custkey,
    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey, o.o_custkey
), nation_tot AS (
  SELECT c_nationkey, SUM(rev) AS tot, COUNT(*) AS n_customers
  FROM cust_rev GROUP BY c_nationkey
)
SELECT r.c_nationkey AS nationkey, MAX(t.n_customers) AS n_customers,
  CAST(ROUND(SUM((r.rev / t.tot) * (r.rev / t.tot)), 6) AS DOUBLE) AS hhi
FROM cust_rev r JOIN nation_tot t ON t.c_nationkey = r.c_nationkey
GROUP BY r.c_nationkey
"""


@register("revenue_concentration_hhi", oracle=_HHI_ORACLE)
def revenue_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl index of revenue concentration across customers per
    nation (1/n = perfectly even, 1 = single-customer nation — the
    skew early-warning for per-key partitioning). Per-customer
    revenue is decimal-exact; shares and their squares are IEEE
    doubles rounded to 6."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    cust_rev = (
        t["orders"]
        .join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
              F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(dec("o_totalprice", 2)).cast("double").alias("rev"))
    )
    nation_tot = cust_rev.groupBy("c_nationkey").agg(
        F.sum("rev").alias("tot"), F.count("*").alias("n_customers")
    )
    share = F.col("rev") / F.col("tot")
    return (
        cust_rev.join(nation_tot, "c_nationkey")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.max("n_customers").alias("n_customers"),
            F.round(F.sum(share * share), 6).alias("hhi"),
        )
    )


# ---------------------------------------------------------------- B71
_SEGMENT_ORACLE = f"""
WITH agg AS (
  SELECT c.c_mktsegment AS segment,
    COUNT(DISTINCT c.c_custkey) AS n_customers,
    COUNT(o.o_orderkey) AS n_orders,
    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
)
SELECT segment, n_customers, n_orders,
  CAST(rev_c AS DOUBLE) / 100 AS revenue,
  {sql_round_rat('rev_c', '100 * n_customers', 4)} AS revenue_per_customer
FROM agg
"""


@register("segment_summary", oracle=_SEGMENT_ORACLE)
def segment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment BI rollup: customers, orders, revenue, and
    revenue per customer in one left-join aggregation (customers with
    no orders still count in the denominator)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    # exact integer cents end-to-end: revenue_per_customer is the
    # rational cents/(100*n) rounded with round_rat — the double
    # quotient's round(., 4) is not engine-portable at boundaries
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            ).alias("rev_c"),
        )
        .select(
            "segment",
            "n_customers",
            "n_orders",
            (F.col("rev_c").cast("double") / 100).alias("revenue"),
            round_rat("rev_c", "100 * n_customers", 4).alias(
                "revenue_per_customer"
            ),
        )
    )


# ---------------------------------------------------------------- B72
_DAU_ORACLE = """
WITH dau AS (
  SELECT DATE_TRUNC('day', ts) AS day, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1
)
SELECT day, n_users,
  CAST(ROUND(AVG(n_users) OVER (ORDER BY day
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS dau_ma7
FROM dau
"""


@register("daily_active_users", oracle=_DAU_ORACLE)
def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU with a 7-day trailing average: the distinct-count shuffle
    collapses to one row per day before the (tiny) global window."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    dau = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count_distinct("user_id").alias("n_users")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return dau.select(
        "day", "n_users", F.round(F.avg("n_users").over(w), 4).alias("dau_ma7")
    )


# ---------------------------------------------------------------- B73
_PARETO_ORACLE = f"""
WITH cust_rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev,
    SUM(rev) OVER (ORDER BY rev DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS cum_rev,
    SUM(rev) OVER () AS total_rev,
    COUNT(*) OVER () AS n_customers
  FROM cust_rev
)
SELECT CAST(SUM(CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) <= 0.8
      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_top_customers,
  CAST(MAX(n_customers) AS BIGINT) AS n_customers,
  {sql_round_rat('SUM(CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) <= 0.8 THEN 1 ELSE 0 END) + 1', 'MAX(n_customers)', 4)} AS top_share
FROM ranked
"""


@register("pareto_revenue", oracle=_PARETO_ORACLE)
def pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto check: how many top customers cover 80% of revenue.
    The running revenue total comes from total_order_index (parallel
    range-bucketed cumulative sum over the per-customer aggregate —
    no single-reducer window), carried in DECIMAL so partial sums are
    exact and both engines agree bit-for-bit regardless of
    accumulation grouping."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    cust_rev = materialize(
        o.groupBy("o_custkey").agg(F.sum(dec("o_totalprice", 2)).alias("rev"))
    )
    ranked, n_customers, total_rev = total_order_index(
        cust_rev,
        F.col("rev"),
        [F.col("o_custkey")],
        descending=True,
        cum=F.col("rev"),
        cum_dtype="decimal(38,2)",
    )
    cum_share = F.col("_cum").cast("double") / float(total_rev)
    n_top = F.sum(F.when(cum_share <= 0.8, 1).otherwise(0)) + 1
    return ranked.agg(
        n_top.cast("bigint").alias("n_top_customers"),
        F.lit(n_customers).cast("bigint").alias("n_customers"),
    ).select(
        "n_top_customers",
        "n_customers",
        # integer-exact 4dp share (round_rat): round(double k/n, 4)
        # flips at .xxxx5 boundaries between engines
        round_rat("n_top_customers", "n_customers", 4).alias("top_share"),
    )


# ---------------------------------------------------------------- B74
_REGION_ROLLUP_ORACLE = """
SELECT r.r_name AS region, n.n_name AS nation,
  COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
"""


@register("region_rollup", oracle=_REGION_ROLLUP_ORACLE)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over the geography dimension
    (region -> nation -> grand total): the dims broadcast, one fact
    shuffle produces all three aggregation levels."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation", "region"))
    joined = (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    return (
        joined.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice", 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------- B77
_SKEW_TOP = 20

_SKEW_ORACLE = f"""
WITH c AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
), s AS (
  SELECT SUM(n) AS total, COUNT(*) AS n_keys
  FROM c
)
SELECT user_id, n,
  {sql_round_rat('n', 'total', 6)} AS share,
  {sql_round_rat('n * n_keys', 'total', 4)} AS skew_ratio,
  CAST((n * n_keys + total - 1) // total AS BIGINT) AS suggested_salts
FROM c, s ORDER BY n DESC, user_id LIMIT {_SKEW_TOP}
"""


@register("key_skew_profile", oracle=_SKEW_ORACLE)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-planning diagnostic: the hottest join/group keys with
    their share of all rows and skew ratio vs the mean key, plus the
    salt factor that would level each one (ceil(n/avg) replicas).
    This is what you run BEFORE a big join to decide between plain
    hash, AQE skew-split, and explicit salting (operators/joins.py).
    One count aggregation + a scalar broadcast + TakeOrdered top-N —
    diagnostic cost stays trivial at any scale."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    c = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    s = c.agg(F.sum("n").alias("total"), F.count("*").alias("n_keys"))
    # integer-exact ratios: share/skew/salts are rationals of counts
    # (n/total, n*keys/total); round_rat + integer ceil keep them
    # engine-portable at rounding boundaries (ceil of a double
    # quotient can even land on the wrong integer when the exact
    # ratio is integral)
    return (
        c.crossJoin(F.broadcast(s))
        .select(
            "user_id",
            "n",
            round_rat("n", "total", 6).alias("share"),
            round_rat("n * n_keys", "total", 4).alias("skew_ratio"),
            F.expr(
                "CAST((n * n_keys + total - 1) DIV total AS BIGINT)"
            ).alias("suggested_salts"),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(_SKEW_TOP)
    )


# ---------------------------------------------------------------- B79
_MAD_K = 1.4826  # normal-consistency constant
_MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, MIN(m.med) AS med,
    MEDIAN(ABS(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
  CAST(ROUND(MIN(m.med), 6) AS DOUBLE) AS median_value,
  CAST(ROUND(MIN(m.mad), 6) AS DOUBLE) AS mad,
  COUNT(*) FILTER (
    WHERE ABS(e.value - m.med) > 3 * {_MAD_K} * m.mad) AS n_outliers,
  COUNT(*) AS n_events
FROM events e JOIN mad m USING (event_type)
GROUP BY e.event_type
"""


@register("mad_outliers", oracle=_MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    three-sigma rule's resistant twin (value_outliers breaks when the
    outliers themselves inflate the stddev; MAD doesn't). Two
    aggregate passes (median, then median of absolute deviations),
    each joined back as a broadcast of one row per event type, then
    one counting pass — three scans of a column, no windows, same
    shape at any scale. Interpolated medians agree bit-for-bit with
    DuckDB's QUANTILE_CONT (the B14 parity result)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"),
        )
    )
    dev = F.abs(F.col("value") - F.col("med"))
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("median_value"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count(F.when(dev > 3 * _MAD_K * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------- B81
_CONC_ORACLE = """
WITH closes AS (
  SELECT l_orderkey AS okey, MAX(l_shipdate)::DATE AS close_d
  FROM lineitem GROUP BY l_orderkey
), spans AS (
  SELECT o_orderdate::DATE AS open_d, c.close_d
  FROM orders o JOIN closes c ON o.o_orderkey = c.okey
), deltas AS (
  SELECT open_d AS d, 1 AS delta FROM spans
  UNION ALL
  SELECT close_d + 1 AS d, -1 AS delta FROM spans
), daily AS (
  SELECT d, SUM(delta) AS delta FROM deltas GROUP BY d
), c AS (
  SELECT d, SUM(delta) OVER (ORDER BY d) AS open_orders FROM daily
)
SELECT DATE_TRUNC('month', d) AS month,
  CAST(MAX(open_orders) AS BIGINT) AS peak_open
FROM c GROUP BY DATE_TRUNC('month', d)
"""


@register("open_order_concurrency", oracle=_CONC_ORACLE)
def open_order_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrently-open orders per month, by interval sweep-line:
    an order is open from ``o_orderdate`` until its last line's
    ship date; +1/-1 boundary deltas are aggregated PER DAY first
    (a hash aggregation that shrinks the frame to O(calendar days) —
    data-size independent), and only that tiny daily frame flows
    through the ordered running sum. The classic interval-concurrency
    query without an interval join and without sorting fact rows: the
    facts are touched only by one groupBy each.

    Scale: the window input is bounded by days of history (~2.5k for
    seven years) no matter the row count; listed in the plan-audit
    bounded-window allowlist with that justification."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    closes = t["lineitem"].groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("close_d")
    )
    spans = (
        t["orders"]
        .select(F.col("o_orderkey"), F.col("o_orderdate").cast("date").alias("open_d"))
        .join(closes, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("open_d", "close_d")
    )
    deltas = spans.select(F.col("open_d").alias("d"), F.lit(1).alias("delta")).unionAll(
        spans.select(F.date_add("close_d", 1).alias("d"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("delta"))
    cum = F.sum("delta").over(Window.orderBy("d"))
    return (
        daily.withColumn("open_orders", cum)
        .groupBy(F.date_trunc("month", "d").alias("month"))
        .agg(F.max("open_orders").cast("bigint").alias("peak_open"))
    )


# ---------------------------------------------------------------- C58
_WS_K = 100
_WS_SEED = "ws1"

_WSAMPLE_ORACLE = f"""
WITH k AS (
  SELECT doc_id, n_chars,
    LN((('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR) || '_{_WS_SEED}'), 1, 12))
        ::BIGINT + 0.5) / 281474976710656.0) / n_chars AS sample_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars,
  CAST(ROUND(sample_key, 9) AS DOUBLE) AS sample_key
FROM k ORDER BY sample_key DESC, doc_id LIMIT {_WS_K}
"""


@register("weighted_sample", oracle=_WSAMPLE_ORACLE)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): each document draws a reproducible
    uniform u from the md5 of its key (first 12 hex digits -> a
    48-bit integer, +0.5 / 2^48 keeps u strictly inside (0,1)) and is
    ranked by ln(u)/weight — the top-k under that key are an exact
    weighted sample, here weighted by document length so the sample
    is token-mass-proportional (what a mixing-audit wants).

    Scale: no RNG state, no collect — the ranking is a pure row-local
    expression and the top-k fuses to TakeOrderedAndProject (k rows
    per partition cross the wire, the same pattern the plan tests pin
    for the TPC-H top-Ns). Re-running on any partitioning returns the
    identical sample, so audits are reproducible."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    u48 = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"_{_WS_SEED}"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    key = F.log((u48 + F.lit(0.5)) / F.lit(float(1 << 48))) / F.col("n_chars")
    return (
        d.where(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("_k"))
        .orderBy(F.col("_k").desc(), "doc_id")
        .limit(_WS_K)
        .select("doc_id", "n_chars", F.round("_k", 9).alias("sample_key"))
    )


# ---------------------------------------------------------------- B84
_LIFT_MIN_SUPPORT = 20

_LIFT_ORACLE = f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM ob
), singles AS (
  SELECT p_brand, COUNT(*) AS n FROM ob GROUP BY p_brand
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_both
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
)
SELECT brand_a, brand_b, n_both,
  {sql_round_rat('n_both', 'n.n_baskets', 6)} AS support,
  {sql_round_rat('n_both', 'sa.n', 6)} AS confidence,
  {sql_round_rat('n_both * n.n_baskets', 'sa.n * sb.n', 6)} AS lift
FROM pairs
JOIN singles sa ON sa.p_brand = brand_a
JOIN singles sb ON sb.p_brand = brand_b
CROSS JOIN n
WHERE n_both >= {_LIFT_MIN_SUPPORT}
"""


@register("brand_lift", oracle=_LIFT_ORACLE)
def brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: support, confidence
    (P(b|a)) and lift (observed co-occurrence over the independence
    expectation) for every brand pair above a minimum support — the
    Apriori 2-itemset pass. brand_affinity reports raw counts; lift
    is the signal merchandising actually ranks by (lift > 1 means
    the pair attracts).

    Scale: pairs come from in-basket generation (the dedup-postings
    pattern — never a basket self-join); single-brand counts and the
    basket total are brand-sized/one-row broadcasts joined onto the
    pair counts. The oracle's pairwise self-join is the quadratic
    reference this plan must (and does) reproduce exactly."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    ob = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    ob = scratch("order-brands", ob, lambda: ob)
    n_baskets = ob.select(
        F.count_distinct("l_orderkey").alias("n_baskets")
    )
    singles = ob.groupBy("p_brand").agg(F.count("*").alias("n"))
    baskets = ob.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("p_brand")).alias("brands")
    ).where(F.size("brands") > 1)
    pair_expr = """
    flatten(transform(brands, (x, i) ->
      transform(slice(brands, i + 2, size(brands)),
                y -> struct(x AS brand_a, y AS brand_b))))
    """
    pairs = (
        baskets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= _LIFT_MIN_SUPPORT)
    )
    sa = singles.select(
        F.col("p_brand").alias("brand_a"), F.col("n").alias("_na")
    )
    sb = singles.select(
        F.col("p_brand").alias("brand_b"), F.col("n").alias("_nb")
    )
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            # integer-exact association metrics (round_rat): all
            # three are rationals of basket counts
            round_rat("n_both", "n_baskets", 6).alias("support"),
            round_rat("n_both", "_na", 6).alias("confidence"),
            round_rat("n_both * n_baskets", "_na * _nb", 6).alias("lift"),
        )
    )


# ---------------------------------------------------------------- B85
_SHIP_LAT_ORACLE = """
WITH lat AS (
  SELECT DATE_TRUNC('month', o.o_orderdate) AS month,
    DATE_DIFF('day', o.o_orderdate::DATE, l.l_shipdate::DATE) AS lat_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT month, COUNT(*) AS n_lines,
  CAST(ROUND(QUANTILE_CONT(lat_days, 0.5), 4) AS DOUBLE) AS p50_days,
  CAST(ROUND(QUANTILE_CONT(lat_days, 0.9), 4) AS DOUBLE) AS p90_days,
  CAST(MAX(lat_days) AS BIGINT) AS max_days
FROM lat GROUP BY month
"""


@register("ship_latency_percentiles", oracle=_SHIP_LAT_ORACLE)
def ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order month (p50/p90/
    max days) — the fulfillment SLA report. One broadcast-joined scan
    and one aggregation keyed by month; interpolated percentiles
    agree bit-for-bit with DuckDB's QUANTILE_CONT (the B14 parity
    result). Month keys bound the group count, so exact in-group
    percentiles are safe at any corpus size (group payloads are
    lines-per-month; at extreme scale swap percentile for
    percentile_approx without changing the query shape)."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    lat = (
        t["lineitem"]
        .select("l_orderkey", "l_shipdate")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("lat_days"),
        )
    )
    return lat.groupBy("month").agg(
        F.count("*").alias("n_lines"),
        F.round(F.percentile("lat_days", 0.5), 4).alias("p50_days"),
        F.round(F.percentile("lat_days", 0.9), 4).alias("p90_days"),
        F.max("lat_days").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------- B86
_JOINSIZE_TOPK = 20

_JOINSIZE_ORACLE = f"""
WITH a AS (
  SELECT o_custkey AS k, COUNT(*) AS n_a FROM orders GROUP BY o_custkey
), b AS (
  SELECT c_custkey AS k, COUNT(*) AS n_b FROM customer GROUP BY c_custkey
), contrib AS (
  SELECT a.k, a.n_a, b.n_b, a.n_a * b.n_b AS out_rows
  FROM a JOIN b ON a.k = b.k
), tot AS (SELECT SUM(out_rows) AS total_out FROM contrib)
SELECT k AS join_key, n_a, n_b, CAST(out_rows AS BIGINT) AS out_rows,
  {sql_round_rat('out_rows', 'tot.total_out', 6)} AS out_share
FROM contrib, tot
ORDER BY out_rows DESC, join_key LIMIT {_JOINSIZE_TOPK}
"""


@register("join_size_contribution", oracle=_JOINSIZE_ORACLE)
def join_size_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join output-size planner: per join key, EXACTLY how many
    rows the equi-join will emit (count_a x count_b) and each key's
    share of the total — computed from two per-key count aggregates
    joined on the key, which costs two linear passes instead of
    running the join. The top contributors are the keys to salt (the
    key_skew_profile companion, but for the JOIN's output rather
    than one side's input — a key can be mild in both inputs and
    still dominate the product). Key-count frames are key-cardinality
    sized; the top-k fuses to TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    a = t["orders"].groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n_a")
    )
    b = t["customer"].groupBy(F.col("c_custkey").alias("k")).agg(
        F.count("*").alias("n_b")
    )
    contrib = a.join(b, "k").select(
        "k", "n_a", "n_b", (F.col("n_a") * F.col("n_b")).alias("out_rows")
    )
    tot = contrib.agg(F.sum("out_rows").alias("_total"))
    return (
        contrib.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("join_key"),
            "n_a",
            "n_b",
            F.col("out_rows").cast("bigint").alias("out_rows"),
            # integer-exact share (round_rat)
            round_rat("out_rows", "_total", 6).alias("out_share"),
        )
        .orderBy(F.col("out_rows").desc(), "join_key")
        .limit(_JOINSIZE_TOPK)
    )


# ---------------------------------------------------------------- B100
_RFM_ORACLE = f"""
WITH mx AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
base AS (
  SELECT o.o_custkey AS cust,
    DATEDIFF('day', MAX(o.o_orderdate), mx.dmax) AS recency_days,
    COUNT(*) AS frequency,
    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders o CROSS JOIN mx
  GROUP BY o.o_custkey, mx.dmax
),
cuts AS (
  SELECT
    quantile_cont(CAST(recency_days AS DOUBLE), 0.25) AS r25,
    quantile_cont(CAST(recency_days AS DOUBLE), 0.50) AS r50,
    quantile_cont(CAST(recency_days AS DOUBLE), 0.75) AS r75,
    quantile_cont(CAST(frequency AS DOUBLE), 0.25) AS f25,
    quantile_cont(CAST(frequency AS DOUBLE), 0.50) AS f50,
    quantile_cont(CAST(frequency AS DOUBLE), 0.75) AS f75,
    quantile_cont(monetary, 0.25) AS m25,
    quantile_cont(monetary, 0.50) AS m50,
    quantile_cont(monetary, 0.75) AS m75
  FROM base
),
scored AS (
  SELECT b.cust, b.recency_days, b.frequency, b.monetary,
    1 + CAST(b.recency_days > c.r25 AS INT) + CAST(b.recency_days > c.r50 AS INT)
      + CAST(b.recency_days > c.r75 AS INT) AS r_score,
    1 + CAST(b.frequency < c.f75 AS INT) + CAST(b.frequency < c.f50 AS INT)
      + CAST(b.frequency < c.f25 AS INT) AS f_score,
    1 + CAST(b.monetary < c.m75 AS INT) + CAST(b.monetary < c.m50 AS INT)
      + CAST(b.monetary < c.m25 AS INT) AS m_score
  FROM base b CROSS JOIN cuts c
)
SELECT CONCAT(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
              CAST(m_score AS VARCHAR)) AS segment,
  COUNT(*) AS n_customers,
  {sql_round_rat('SUM(recency_days)', 'COUNT(*)', 4)} AS avg_recency_days,
  {sql_round_rat('SUM(frequency)', 'COUNT(*)', 4)} AS avg_frequency,
  {sql_round_rat('SUM(CAST(ROUND(monetary * 100) AS BIGINT))',
                 '100 * COUNT(*)', 2)} AS avg_monetary
FROM scored
GROUP BY 1 ORDER BY segment
"""


@register("rfm_segments", oracle=_RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer, recency (days since
    last order against the corpus max date), frequency (order count),
    monetary (decimal-exact lifetime spend); each dimension scored
    1-4 (1 = best) against its exact quartile VALUE cuts, customers
    grouped into the up-to-64 'RFM' cells marketing teams target.

    Scale shape: scoring by value-quantile cuts (three broadcast
    scalars per dimension, exact linear-interpolated percentiles that
    DuckDB's quantile_cont mirrors bit-for-bit) instead of a global
    row NTILE — a row-ntile needs a total order over every customer,
    a single-reducer sort at 100 TB; the value cuts need one
    percentile aggregation and per-row comparisons. Equal values
    share a score (the honest consequence of value-based cuts); the
    fact-table aggregation is map-side combinable."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    mx = o.agg(F.max("o_orderdate").alias("dmax"))
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("cust"), "dmax")
        .agg(
            F.datediff(F.first("dmax"), F.max("o_orderdate")).alias("_r"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .select("cust", F.col("_r").alias("recency_days"), "frequency", "monetary")
    )
    cuts = base.agg(
        *[
            F.expr(f"percentile(CAST({c} AS DOUBLE), {p})").alias(f"{a}{int(p * 100)}")
            for c, a in (
                ("recency_days", "r"),
                ("frequency", "f"),
                ("monetary", "m"),
            )
            for p in (0.25, 0.50, 0.75)
        ]
    )
    b = base.crossJoin(F.broadcast(cuts))
    one = F.lit(1)
    r_score = (
        one
        + (F.col("recency_days") > F.col("r25")).cast("int")
        + (F.col("recency_days") > F.col("r50")).cast("int")
        + (F.col("recency_days") > F.col("r75")).cast("int")
    )
    f_score = (
        one
        + (F.col("frequency") < F.col("f75")).cast("int")
        + (F.col("frequency") < F.col("f50")).cast("int")
        + (F.col("frequency") < F.col("f25")).cast("int")
    )
    m_score = (
        one
        + (F.col("monetary") < F.col("m75")).cast("int")
        + (F.col("monetary") < F.col("m50")).cast("int")
        + (F.col("monetary") < F.col("m25")).cast("int")
    )
    return (
        b.select(
            F.concat(
                r_score.cast("string"), f_score.cast("string"), m_score.cast("string")
            ).alias("segment"),
            "recency_days",
            "frequency",
            "monetary",
        )
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("recency_days").alias("_sr"),
            F.sum("frequency").alias("_sf"),
            F.sum(F.expr("CAST(round(monetary * 100) AS BIGINT)")).alias(
                "_sc"
            ),
        )
        # integer-exact means (round_rat): every one is a rational of
        # exact integers — recency-day sums, order counts, and cents
        # (per-customer monetary is exact at 2dp). A double quotient
        # + round() flips the last digit across engines at .xx5
        # boundaries (caught live by the r11 cross-SF rotation: a
        # segment's cents mean landed on .445)
        .select(
            "segment",
            "n_customers",
            round_rat("_sr", "n_customers", 4).alias("avg_recency_days"),
            round_rat("_sf", "n_customers", 4).alias("avg_frequency"),
            round_rat("_sc", "100 * n_customers", 2).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------- B103
_SES_ALPHA = 0.3

_SES_ORACLE = f"""
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type,
    list(CAST(n AS DOUBLE) ORDER BY day) AS xs
  FROM daily GROUP BY event_type
),
sm AS (
  SELECT event_type, xs, len(xs) AS n_days,
    list_reduce(xs, (acc, x) ->
      CAST({_SES_ALPHA} AS DOUBLE) * x
      + (CAST(1 AS DOUBLE) - CAST({_SES_ALPHA} AS DOUBLE)) * acc) AS level
  FROM series
),
err AS (
  SELECT s.event_type, s.n_days, s.level, s.xs,
    list_sum(list_transform(
      list_zip(s.xs[2:], list_transform(
        range(1, len(s.xs)), i ->
          list_reduce(s.xs[1:i], (acc, x) ->
            CAST({_SES_ALPHA} AS DOUBLE) * x
            + (CAST(1 AS DOUBLE) - CAST({_SES_ALPHA} AS DOUBLE)) * acc))),
      p -> ABS(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
      / (s.n_days - 1) AS mae
  FROM sm s
)
SELECT event_type,
  CAST(n_days AS INTEGER) AS n_days,
  CAST(xs[len(xs)] AS DOUBLE) AS last_actual,
  ROUND(level, 6) AS forecast_next,
  ROUND(mae, 6) AS one_step_mae
FROM err ORDER BY event_type
"""


@register("ses_forecast", oracle=_SES_ORACLE)
def ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step demand forecast per event type by simple exponential
    smoothing (level_t = a*x_t + (1-a)*level_{t-1}, seeded at x_1),
    with the in-sample one-step MAE as the honesty metric. The
    sequential recurrence — poison for distributed execution if done
    as a row-ordered window — runs IN-ROW: each type's bounded
    day-series (calendar days, not data-sized) collects into one
    array and the fold executes as a JVM ``aggregate`` lambda, which
    DuckDB's list_reduce replays exactly. One shuffle to the daily
    grid, one to the per-type series; forecasting joins the analytics
    families with a hash-exact oracle."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " s -> CAST(s.n AS DOUBLE))"
        ).alias("xs")
    )
    a = _SES_ALPHA
    fold = (
        f"aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
        f" (acc, x) -> CAST({a} AS DOUBLE) * x"
        f" + (CAST(1 AS DOUBLE) - CAST({a} AS DOUBLE)) * acc)"
    )
    # one-step errors: level after prefix i forecasts x_{i+1}
    prefix_fold = (
        f"aggregate(slice(xs, 2, i - 1), element_at(xs, 1),"
        f" (acc, x) -> CAST({a} AS DOUBLE) * x"
        f" + (CAST(1 AS DOUBLE) - CAST({a} AS DOUBLE)) * acc)"
    )
    mae = (
        f"aggregate(transform(sequence(1, size(xs) - 1),"
        f" i -> abs(element_at(xs, i + 1) - {prefix_fold})),"
        f" 0.0d, (s, v) -> s + v) / (size(xs) - 1)"
    )
    return (
        series.select(
            "event_type",
            F.size("xs").cast("int").alias("n_days"),
            F.expr("element_at(xs, size(xs))").alias("last_actual"),
            F.round(F.expr(fold), 6).alias("forecast_next"),
            F.round(F.expr(mae), 6).alias("one_step_mae"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- B104
_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(CAST(n AS DOUBLE) ORDER BY day) AS xs
  FROM daily GROUP BY event_type
),
st AS (
  SELECT event_type, xs, len(xs) AS nd,
    list_sum(xs) / len(xs) AS mu
  FROM series
),
cs AS (
  SELECT event_type, xs, nd, mu,
    list_transform(range(1, nd + 1), i ->
      list_sum(list_transform(xs[1:i], x -> x - mu))) AS s
  FROM st
),
mx AS (
  SELECT event_type, nd, mu, s,
    list_max(list_transform(s, v -> ABS(v))) AS stat
  FROM cs
),
sd AS (
  SELECT c.event_type, c.nd, c.s, m.stat,
    SQRT(list_sum(list_transform(c.xs, x -> (x - c.mu) * (x - c.mu))) / c.nd)
      AS sigma
  FROM cs c JOIN mx m ON m.event_type = c.event_type
)
SELECT event_type,
  CAST(nd AS INTEGER) AS n_days,
  ROUND(stat, 6) AS cusum_stat,
  CAST(list_position(list_transform(s, v -> ABS(v)), stat) AS INTEGER)
    AS changepoint_day,
  CASE WHEN sigma = 0 THEN CAST(0 AS DOUBLE)
       ELSE ROUND(stat / (sigma * SQRT(CAST(nd AS DOUBLE))), 6) END
    AS normalized_stat
FROM sd ORDER BY event_type
"""


@register("cusum_changepoint", oracle=_CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: cumulative sums of
    mean-adjusted daily counts peak (in absolute value) at the most
    likely level-shift day; the peak height normalized by
    sigma*sqrt(n) is the standard CUSUM statistic (values well above
    ~1.3 indicate a genuine shift rather than noise). Same in-row
    bounded-series pattern as ``ses_forecast`` — day series collect
    per type, prefix sums and the argmax run as array lambdas inside
    codegen; nothing sequential ever crosses rows."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " s -> CAST(s.n AS DOUBLE))"
        ).alias("xs")
    )
    st = series.select(
        "event_type",
        "xs",
        F.size("xs").alias("nd"),
        (F.expr("aggregate(xs, 0.0d, (a, x) -> a + x)") / F.size("xs")).alias("mu"),
    )
    cs = st.select(
        "event_type",
        "xs",
        "nd",
        "mu",
        F.expr(
            "transform(sequence(1, nd), i ->"
            " aggregate(transform(slice(xs, 1, i), x -> x - mu),"
            " 0.0d, (a, v) -> a + v))"
        ).alias("s"),
    )
    sd = cs.select(
        "event_type",
        "nd",
        "s",
        F.expr("array_max(transform(s, v -> abs(v)))").alias("stat"),
        F.sqrt(
            F.expr(
                "aggregate(transform(xs, x -> (x - mu) * (x - mu)),"
                " 0.0d, (a, v) -> a + v)"
            )
            / F.col("nd")
        ).alias("sigma"),
    )
    return sd.select(
        "event_type",
        F.col("nd").cast("int").alias("n_days"),
        F.round("stat", 6).alias("cusum_stat"),
        F.expr("array_position(transform(s, v -> abs(v)), stat)")
        .cast("int")
        .alias("changepoint_day"),
        # a perfectly constant series has sigma = 0 AND stat = 0: the
        # normalized statistic is 0 by definition, not a division
        F.when(F.col("sigma") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("stat")
                / (F.col("sigma") * F.sqrt(F.col("nd").cast("double"))),
                6,
            )
        )
        .alias("normalized_stat"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- B105
_ELASTICITY_ORACLE = """
WITH pts AS (
  SELECT p.p_brand AS brand,
    LN(1 - CAST(l.l_discount AS DOUBLE)) AS x,
    LN(CAST(l.l_quantity AS DOUBLE)) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_discount > 0
),
sums AS (
  SELECT brand, COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(28,15))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(28,15))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(28,15))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(28,15))) AS DOUBLE) AS sxx
  FROM pts GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n_lines,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
    AS intercept
FROM sums
WHERE n >= 30 AND (n * sxx - sx * sx) > 0
ORDER BY brand
"""


@register("price_elasticity", oracle=_ELASTICITY_ORACLE)
def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: OLS slope of
    ln(quantity) on ln(effective price factor 1-discount) over
    discounted line items — the log-log regression whose slope reads
    directly as "percent quantity change per percent price change".
    Closed-form slope from the five sufficient sums (n, Sx, Sy, Sxy,
    Sxx), all map-side combinable — the regression never materializes
    points, which is the at-scale shape for any GLM-style sufficient-
    statistic fit. Degenerate brands (single discount level ->
    zero x-variance) are excluded on both sides."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    pts = (
        t["lineitem"]
        .where(F.col("l_discount") > 0)
        .join(t["part"], t["lineitem"].l_partkey == t["part"].p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.lit(1) - F.col("l_discount").cast("double")).alias("x"),
            F.log(F.col("l_quantity").cast("double")).alias("y"),
        )
    )
    # sufficient sums accumulate in DECIMAL: double sums are
    # accumulation-order-dependent across partitions, decimal sums
    # are exact and order-free (the repo-wide float discipline)
    dec = "decimal(28,15)"
    sums = pts.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    return (
        sums.where((F.col("n") >= 30) & (det > 0))
        .select(
            "brand",
            F.col("n").cast("bigint").alias("n_lines"),
            F.round(slope, 6).alias("elasticity"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
                "intercept"
            ),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------- B106
_HOLT_A = 0.3  # level smoothing
_HOLT_B = 0.2  # trend smoothing

# Constants appear as explicit double literals on BOTH sides (0.7 is
# NOT bit-equal to 1.0-0.3 in doubles), and the state is a 2-element
# ARRAY, not a struct: DuckDB's list_reduce evaluates struct fields
# sequentially against the half-updated accumulator (the 'b' field
# would see the new 'l'), while list literals build atomically — the
# mirror only holds with array state. The trend recurrence is written
# without repeating the level subexpression:
# b' = beta*(alpha*(x-l) + (1-alpha)*b) + (1-beta)*b.

_HOLT_ORACLE = """
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(CAST(n AS DOUBLE) ORDER BY day) AS xs
  FROM daily GROUP BY event_type
),
fit AS (
  SELECT event_type, len(xs) AS n_days,
    list_reduce(
      list_prepend(
        [xs[2], xs[2] - xs[1]],
        list_transform(xs[3:], v -> [v, CAST(0 AS DOUBLE)])),
      (acc, x) -> [
        CAST(0.3 AS DOUBLE) * x[1] + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]),
        CAST(0.2 AS DOUBLE) * (CAST(0.3 AS DOUBLE) * (x[1] - acc[1])
          + CAST(0.7 AS DOUBLE) * acc[2])
          + CAST(0.8 AS DOUBLE) * acc[2]]) AS st
  FROM series WHERE len(xs) >= 3
)
SELECT event_type, CAST(n_days AS INTEGER) AS n_days,
  ROUND(st[1], 6) AS level,
  ROUND(st[2], 6) AS trend,
  ROUND(st[1] + st[2], 6) AS forecast_1d,
  ROUND(st[1] + 7 * st[2], 6) AS forecast_7d
FROM fit ORDER BY event_type
"""


@register("holt_forecast", oracle=_HOLT_ORACLE)
def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend forecast per event type (double
    exponential smoothing: level + trend states), initialized the
    textbook way (l=x2, b=x2-x1) and folded IN-ROW over the bounded
    calendar-day series with a 2-element ARRAY accumulator — the
    struct form is a trap: DuckDB evaluates struct fields against the
    half-updated accumulator, arrays build atomically on both
    engines, so the two-state recurrence mirrors hash-exactly like
    B103's single-state fold. Emits 1-day and 7-day-ahead forecasts;
    trend is what SES structurally cannot express."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " s -> CAST(s.n AS DOUBLE))"
        ).alias("xs")
    )
    fold = (
        "aggregate(slice(xs, 3, greatest(size(xs) - 2, 0)),"
        " array(element_at(xs, 2), element_at(xs, 2) - element_at(xs, 1)),"
        " (acc, x) -> array("
        "CAST(0.3 AS DOUBLE) * x"
        " + CAST(0.7 AS DOUBLE) * (element_at(acc, 1) + element_at(acc, 2)),"
        " CAST(0.2 AS DOUBLE) * (CAST(0.3 AS DOUBLE) * (x - element_at(acc, 1))"
        " + CAST(0.7 AS DOUBLE) * element_at(acc, 2))"
        " + CAST(0.8 AS DOUBLE) * element_at(acc, 2)))"
    )
    return (
        series.where(F.size("xs") >= 3)
        .select(
            "event_type",
            F.size("xs").cast("int").alias("n_days"),
            F.expr(fold).alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            F.round(F.expr("element_at(st, 1)"), 6).alias("level"),
            F.round(F.expr("element_at(st, 2)"), 6).alias("trend"),
            F.round(F.expr("element_at(st, 1) + element_at(st, 2)"), 6).alias(
                "forecast_1d"
            ),
            F.round(
                F.expr("element_at(st, 1) + 7 * element_at(st, 2)"), 6
            ).alias("forecast_7d"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- B107
_WEEKDAY_ORACLE = f"""
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
keyed AS (
  SELECT event_type, dayofweek(day) AS dow, n FROM daily
),
overall AS (
  SELECT event_type, SUM(n) AS st, COUNT(*) AS ct FROM keyed GROUP BY event_type
)
SELECT k.event_type, CAST(k.dow AS INTEGER) AS dow,
  COUNT(*) AS n_days,
  {sql_round_rat('SUM(k.n)', 'COUNT(*)', 4)} AS mean_daily,
  {sql_round_rat('SUM(k.n) * o.ct', 'COUNT(*) * o.st', 6)} AS seasonal_index
FROM keyed k JOIN overall o ON o.event_type = k.event_type
GROUP BY k.event_type, k.dow, o.st, o.ct
ORDER BY k.event_type, dow
"""


@register("weekday_seasonality", oracle=_WEEKDAY_ORACLE)
def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal profile per event type: mean daily volume per
    day-of-week and its seasonal index (weekday mean / overall daily
    mean — the multiplicative factor a weekday-aware forecast or a
    staffing plan multiplies in). Two map-side-combinable
    aggregations + a broadcast join on the (type)-keyed totals.
    Day-of-week is normalized to DuckDB's 0=Sunday convention
    (Spark's dayofweek is 1-based), the one calendar-function
    mismatch between the engines."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    keyed = daily.select(
        "event_type", (F.dayofweek("day") - 1).alias("dow"), "n"
    )
    overall = keyed.groupBy("event_type").agg(
        F.sum("n").alias("st"), F.count("*").alias("ct")
    )
    return (
        keyed.groupBy("event_type", "dow")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("n").alias("sn"),
        )
        .join(F.broadcast(overall), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            # integer-exact rationals (round_rat): mean = sn/days,
            # index = (sn/days)/(st/ct) = sn*ct / (days*st)
            round_rat("sn", "n_days", 4).alias("mean_daily"),
            round_rat("sn * ct", "n_days * st", 6).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------- B108
_HW_A = 0.3  # level
_HW_B = 0.2  # trend
_HW_G = 0.1  # seasonal
_HW_M = 7  # weekly period

# The 9-element ARRAY accumulator is [level, trend, s_oldest..s_newest]
# (the seasonal queue holds the last 7 seasonal values, oldest first,
# so s_{t-m} is acc[3] and the post-update queue slides left). l' is
# needed inside b' and s_new; with no let-binding in either engine's
# lambda language it is INLINED — the identical expression tree
# evaluates identically, which is what keeps the mirror hash-exact.
# All smoothing constants appear as explicit double literals on both
# sides (0.7 is not bit-equal to 1.0-0.3 in doubles).

_HW_LP = (
    "CAST(0.3 AS DOUBLE) * (x[1] - acc[3])"
    " + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2])"
)

_HW_ORACLE = f"""
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(CAST(n AS DOUBLE) ORDER BY day) AS xs
  FROM daily GROUP BY event_type
),
init AS (
  SELECT event_type, xs, len(xs) AS n_days,
    (xs[1]+xs[2]+xs[3]+xs[4]+xs[5]+xs[6]+xs[7]) / CAST(7 AS DOUBLE) AS m1,
    (xs[8]+xs[9]+xs[10]+xs[11]+xs[12]+xs[13]+xs[14]) / CAST(7 AS DOUBLE) AS m2
  FROM series WHERE len(xs) >= 15
),
fit AS (
  SELECT event_type, n_days,
    list_reduce(
      list_prepend(
        [m1, (m2 - m1) / CAST(7 AS DOUBLE),
         xs[1]-m1, xs[2]-m1, xs[3]-m1, xs[4]-m1, xs[5]-m1, xs[6]-m1, xs[7]-m1],
        list_transform(xs[8:], v -> [v, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
          CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
          CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
      (acc, x) -> [
        {_HW_LP},
        CAST(0.2 AS DOUBLE) * (({_HW_LP}) - acc[1])
          + CAST(0.8 AS DOUBLE) * acc[2],
        acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
        CAST(0.1 AS DOUBLE) * (x[1] - ({_HW_LP}))
          + CAST(0.9 AS DOUBLE) * acc[3]]) AS st
  FROM init
)
SELECT event_type, CAST(n_days AS INTEGER) AS n_days,
  ROUND(st[1], 6) AS level,
  ROUND(st[2], 6) AS trend,
  ROUND(st[1] + st[2] + st[3], 6) AS forecast_1d,
  ROUND(st[1] + 7 * st[2] + st[9], 6) AS forecast_7d
FROM fit ORDER BY event_type
"""


@register("holt_winters_forecast", oracle=_HW_ORACLE)
def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing per event
    type (level + trend + weekly seasonal states) — the member of the
    forecasting family (B103 SES, B106 Holt) that models the weekday
    cycle B107 measures instead of averaging over it. Textbook
    two-week initialization (l0 = week-1 mean, b0 = (week-2 mean -
    week-1 mean)/7, s_i = x_i - l0), then the three-state recurrence
    folds IN-ROW over the bounded calendar-day series with a
    9-element ARRAY accumulator whose tail is the sliding seasonal
    queue; DuckDB's list_reduce replays the identical expression tree
    hash-exactly (array literals build atomically — the struct trap
    B106 documents). Forecast x_{{t+h}} = l + h*b + s_{{t+h-m}}: the
    1-day-ahead forecast reads the queue's oldest slot, the
    7-day-ahead its newest. Series are the observed-day sequences; a
    production run densifies gaps with zeros first so the seasonal
    queue stays dow-aligned."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " s -> CAST(s.n AS DOUBLE))"
        ).alias("xs")
    )
    m1 = (
        "(element_at(xs,1)+element_at(xs,2)+element_at(xs,3)+element_at(xs,4)"
        "+element_at(xs,5)+element_at(xs,6)+element_at(xs,7))"
        " / CAST(7 AS DOUBLE)"
    )
    m2 = (
        "(element_at(xs,8)+element_at(xs,9)+element_at(xs,10)+element_at(xs,11)"
        "+element_at(xs,12)+element_at(xs,13)+element_at(xs,14))"
        " / CAST(7 AS DOUBLE)"
    )
    lp = (
        "CAST(0.3 AS DOUBLE) * (x - element_at(acc,3))"
        " + CAST(0.7 AS DOUBLE) * (element_at(acc,1) + element_at(acc,2))"
    )
    fold = (
        f"aggregate(slice(xs, 8, greatest(size(xs) - 7, 0)),"
        f" array({m1}, ({m2} - {m1}) / CAST(7 AS DOUBLE),"
        f"  element_at(xs,1) - {m1}, element_at(xs,2) - {m1},"
        f"  element_at(xs,3) - {m1}, element_at(xs,4) - {m1},"
        f"  element_at(xs,5) - {m1}, element_at(xs,6) - {m1},"
        f"  element_at(xs,7) - {m1}),"
        f" (acc, x) -> array("
        f"  {lp},"
        f"  CAST(0.2 AS DOUBLE) * (({lp}) - element_at(acc,1))"
        f"   + CAST(0.8 AS DOUBLE) * element_at(acc,2),"
        f"  element_at(acc,4), element_at(acc,5), element_at(acc,6),"
        f"  element_at(acc,7), element_at(acc,8), element_at(acc,9),"
        f"  CAST(0.1 AS DOUBLE) * (x - ({lp}))"
        f"   + CAST(0.9 AS DOUBLE) * element_at(acc,3)))"
    )
    return (
        series.where(F.size("xs") >= 15)
        .select(
            "event_type",
            F.size("xs").cast("int").alias("n_days"),
            F.expr(fold).alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            F.round(F.expr("element_at(st,1)"), 6).alias("level"),
            F.round(F.expr("element_at(st,2)"), 6).alias("trend"),
            F.round(
                F.expr("element_at(st,1) + element_at(st,2) + element_at(st,3)"),
                6,
            ).alias("forecast_1d"),
            F.round(
                F.expr("element_at(st,1) + 7 * element_at(st,2) + element_at(st,9)"),
                6,
            ).alias("forecast_7d"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- B112
_BURST_S = 2.0  # burst-state rate multiplier
_BURST_GAM = 5.0  # state-entry cost (Kleinberg's gamma)

# Viterbi over Kleinberg's 2-state automaton runs as ONE in-row fold:
# the accumulator [c0, c1, b0, b1] carries the min cost of ending the
# prefix in base/burst state and the number of burst days along each
# best path. Day costs are the Poisson negative log-likelihoods with
# the state-independent ln(x!) term dropped (it cancels in every
# comparison). All comparisons use strict '<' with a stay-preference
# tie rule, and r0 derives from the EXACT integer day-count sum, so
# the whole recurrence is a pure function both engines replay
# bit-identically.


def _burst_fold_spark() -> str:
    gam = f"CAST({_BURST_GAM} AS DOUBLE)"
    return f"""aggregate(
      slice(xs, 2, greatest(size(xs) - 1, 0)),
      array(
        r0 - element_at(xs, 1) * ln(r0),
        {gam} + r1 - element_at(xs, 1) * ln(r1),
        CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)),
      (acc, x) -> array(
        IF(element_at(acc, 2) < element_at(acc, 1),
           element_at(acc, 2), element_at(acc, 1)) + (r0 - x * ln(r0)),
        IF(element_at(acc, 1) + {gam} < element_at(acc, 2),
           element_at(acc, 1) + {gam}, element_at(acc, 2)) + (r1 - x * ln(r1)),
        IF(element_at(acc, 2) < element_at(acc, 1),
           element_at(acc, 4), element_at(acc, 3)),
        IF(element_at(acc, 1) + {gam} < element_at(acc, 2),
           element_at(acc, 3), element_at(acc, 4)) + CAST(1 AS DOUBLE)))"""


_BURST_ORACLE = f"""
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(CAST(n AS DOUBLE) ORDER BY day) AS xs,
    CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS nd
  FROM daily GROUP BY event_type
),
rates AS (
  SELECT event_type, xs, nd, total,
    CAST(total AS DOUBLE) / nd AS r0,
    CAST({_BURST_S} AS DOUBLE) * (CAST(total AS DOUBLE) / nd) AS r1
  FROM series WHERE nd >= 2
),
fit AS (
  SELECT event_type, nd, total, r0, r1,
    list_reduce(
      list_prepend(
        [r0 - xs[1] * LN(r0),
         CAST({_BURST_GAM} AS DOUBLE) + r1 - xs[1] * LN(r1),
         CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)],
        list_transform(xs[2:], v -> [v, CAST(0 AS DOUBLE),
          CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
      (acc, x) -> [
        CASE WHEN acc[2] < acc[1] THEN acc[2] ELSE acc[1] END
          + (r0 - x[1] * LN(r0)),
        CASE WHEN acc[1] + CAST({_BURST_GAM} AS DOUBLE) < acc[2]
             THEN acc[1] + CAST({_BURST_GAM} AS DOUBLE) ELSE acc[2] END
          + (r1 - x[1] * LN(r1)),
        CASE WHEN acc[2] < acc[1] THEN acc[4] ELSE acc[3] END,
        CASE WHEN acc[1] + CAST({_BURST_GAM} AS DOUBLE) < acc[2]
             THEN acc[3] ELSE acc[4] END + CAST(1 AS DOUBLE)]) AS st
  FROM rates
)
SELECT event_type, CAST(nd AS INTEGER) AS n_days,
  CAST(CASE WHEN st[2] < st[1] THEN st[4] ELSE st[3] END AS BIGINT)
    AS burst_days,
  ROUND(CASE WHEN st[2] < st[1] THEN st[2] ELSE st[1] END, 6) AS path_cost,
  {sql_round_rat('total', 'nd', 6)} AS base_rate
FROM fit ORDER BY event_type
"""


@register("burst_detection", oracle=_BURST_ORACLE)
def burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg burst detection per event type (Kleinberg 2002,
    "Bursty and Hierarchical Structure in Streams", 2-state batched
    variant): a base state emitting at the observed mean daily rate
    and a burst state at 2x, entering burst costs gamma=5 — the
    Viterbi-optimal state path's burst-day count separates sustained
    elevated activity from one-day noise a z-score flags. The whole
    dynamic program runs as ONE in-row fold over each type's bounded
    calendar-day series (the accumulator carries both states' best
    costs AND their paths' burst-day counts), so nothing sequential
    crosses rows — the B103/104/106/108 family's shape, now for an
    argmin-with-statistics recurrence. Exact-integer mean, strict-<
    stay-preferring ties, and identical expression trees keep the
    DuckDB list_reduce mirror hash-exact; the burst-day count is
    pinned against a pure-Python Viterbi with backtracking on an
    injected burst window (tested)."""
    e = load_tables(spark, sf_dir, ("events",))["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " s -> CAST(s.n AS DOUBLE))"
        ).alias("xs"),
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").alias("nd"),
    )
    rates = series.where(F.col("nd") >= 2).select(
        "event_type",
        "xs",
        "nd",
        "total",
        (F.col("total").cast("double") / F.col("nd")).alias("r0"),
        (
            F.lit(_BURST_S).cast("double")
            * (F.col("total").cast("double") / F.col("nd"))
        ).alias("r1"),
    )
    fit = rates.select(
        "event_type",
        "nd",
        "total",
        "r0",
        F.expr(_burst_fold_spark()).alias("st"),
    )
    return fit.select(
        "event_type",
        F.col("nd").cast("int").alias("n_days"),
        F.expr(
            "CAST(IF(element_at(st, 2) < element_at(st, 1),"
            " element_at(st, 4), element_at(st, 3)) AS BIGINT)"
        ).alias("burst_days"),
        F.round(
            F.expr(
                "IF(element_at(st, 2) < element_at(st, 1),"
                " element_at(st, 2), element_at(st, 1))"
            ),
            6,
        ).alias("path_cost"),
        # base_rate is the rational total/nd — integer-exact 6dp
        # (r0 stays double: it feeds the Viterbi fold identically on
        # both engines)
        round_rat("total", "nd", 6).alias("base_rate"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- C128
# Sliding-window co-occurrence PMI (the GloVe/word2vec preprocessing
# matrix, distinct from bigram_collocations' ADJACENT-pair PMI): a
# pair is counted once per (position, offset<=_COOC_W) co-occurrence,
# canonicalized (least, greatest) so the matrix is symmetric.
_COOC_W = 3
_COOC_MIN = 5
_COOC_TOP = 50

_COOC_ORACLE = f"""
WITH d AS (
  SELECT string_split(text, ' ') AS ws FROM documents
), pr AS (
  SELECT least(ws[i], ws[i + off]) AS w1, greatest(ws[i], ws[i + off]) AS w2
  FROM d,
    unnest(generate_series(1, len(ws))) AS a(i),
    unnest(generate_series(1, {_COOC_W})) AS b(off)
  WHERE i + off <= len(ws) AND ws[i] <> '' AND ws[i + off] <> ''
), toks AS (
  SELECT w, COUNT(*) AS c FROM (
    SELECT unnest(ws) AS w FROM d
  ) WHERE w <> '' GROUP BY w
), totals AS (
  SELECT CAST((SELECT SUM(c) FROM toks) AS DOUBLE) AS tt,
    CAST((SELECT COUNT(*) FROM pr) AS DOUBLE) AS pp
), co AS (
  SELECT w1, w2, COUNT(*) AS n_cooc FROM pr GROUP BY w1, w2
)
SELECT w1, w2, n_cooc,
  ROUND(LN(((CAST(n_cooc AS DOUBLE) * tt) * tt)
    / ((pp * CAST(u1.c AS DOUBLE)) * CAST(u2.c AS DOUBLE))), 4) AS pmi
FROM co
JOIN toks u1 ON u1.w = co.w1
JOIN toks u2 ON u2.w = co.w2
CROSS JOIN totals
WHERE n_cooc >= {_COOC_MIN}
ORDER BY pmi DESC, w1, w2 LIMIT {_COOC_TOP}
"""


@register("cooccurrence_pmi", oracle=_COOC_ORACLE)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window word co-occurrence PMI — the corpus-scale
    matrix GloVe-style embedding training consumes and lexicon
    induction ranks by. ``bigram_collocations`` (C23) scores ADJACENT
    pairs only; here every unordered pair within a +/-3 token window
    counts once per co-occurrence, so "agg ... scan" and "scan ... agg"
    pool into one symmetric cell.

    Scale: pair generation is an in-row array transform fused into the
    scan (positions x 3 offsets, linear in corpus size, no join to
    build pairs); the matrix aggregates on (w1, w2) with map-side
    combine, and unigram totals attach by vocabulary-keyed joins that
    AQE broadcasts. The log runs on exact int64 counts with pinned
    parenthesization, so both engines agree to the rounded digit.

    r11: the co-occurrence matrix and the unigram table PIN
    (vocab^2-/vocab-bounded), and the pair/token totals are summed
    FROM them — the previous plan re-ran the pair explode for
    ``pp = pr.count()`` and the token explode for ``tt``, four corpus
    passes where two suffice. The scan fans out (``catalog.spread``):
    the windowed pair transform is the cost."""
    docs = spread(
        load_tables(spark, sf_dir, ("documents",))["documents"], sf_dir, "documents"
    )
    d = docs.select(F.split(F.col("text"), " ").alias("ws"))
    pairs_expr = f"""
    flatten(transform(sequence(1, size(ws)), i ->
      CASE WHEN i < size(ws) THEN
        filter(transform(sequence(i + 1, least(i + {_COOC_W}, size(ws))), j ->
          struct(least(element_at(ws, i), element_at(ws, j)) AS w1,
                 greatest(element_at(ws, i), element_at(ws, j)) AS w2)),
          p -> p.w1 <> '' AND p.w2 <> '')
      ELSE array() END))
    """
    pr = d.select(F.explode(F.expr(pairs_expr)).alias("p")).select("p.w1", "p.w2")
    co = pin(pr.groupBy("w1", "w2").agg(F.count("*").alias("n_cooc")))
    toks = pin(
        d.select(F.explode("ws").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    # pp = total pair count = sum over the UNFILTERED matrix cells —
    # identical to counting pr's rows, without the second pair explode
    totals = toks.agg(F.sum("c").cast("double").alias("tt")).crossJoin(
        co.agg(F.sum("n_cooc").cast("double").alias("pp"))
    )
    u1 = toks.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = toks.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        co.where(F.col("n_cooc") >= _COOC_MIN)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "n_cooc",
            F.round(
                F.log(
                    (F.col("n_cooc").cast("double") * F.col("tt") * F.col("tt"))
                    / (F.col("pp") * F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_COOC_TOP)
    )


# ---------------------------------------------------------------- C131
# word2vec training-pair generation: frequency subsampling (Mikolov
# et al. 2013's t/f(w) discard rule, deterministic md5 uniforms) THEN
# directed window pairs over the SURVIVING sequence — dropping a
# frequent token widens the effective window across it, exactly as
# the reference implementation behaves.
_SG_W = 3
_SG_T = "0.001"  # subsample threshold t (literal, identical both engines)
_SG_MIN = 2

_SG_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, i AS pos, ws[i] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    unnest(generate_series(1, len(ws))) AS t(i)
  WHERE ws[i] <> ''
), freq AS MATERIALIZED (
  SELECT w, COUNT(*) AS c FROM toks GROUP BY w
), tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tt FROM freq),
kept AS MATERIALIZED (
  SELECT doc_id, pos, w FROM (
    SELECT k.doc_id, k.pos, k.w,
      (CAST(('0x' || SUBSTR(md5(CAST(k.doc_id AS VARCHAR) || '|'
           || CAST(k.pos AS VARCHAR) || '|sg'), 1, 12)) AS BIGINT)
        + CAST(0.5 AS DOUBLE)) / CAST(281474976710656 AS DOUBLE) AS u,
      (SQRT((CAST(f.c AS DOUBLE) / tt) / {_SG_T}) + CAST(1 AS DOUBLE))
        * ({_SG_T} / (CAST(f.c AS DOUBLE) / tt)) AS p
    FROM toks k JOIN freq f ON f.w = k.w CROSS JOIN tot
  ) WHERE u < p
), seqs AS MATERIALIZED (
  SELECT doc_id, list(w ORDER BY pos) AS ws FROM kept GROUP BY doc_id
), pr AS (
  SELECT ws[i] AS center, ws[i + off] AS context
  FROM seqs,
    unnest(generate_series(1, len(ws))) AS a(i),
    unnest(generate_series(1, {_SG_W})) AS b(off)
  WHERE i + off <= len(ws)
  UNION ALL
  SELECT ws[i + off] AS center, ws[i] AS context
  FROM seqs,
    unnest(generate_series(1, len(ws))) AS a(i),
    unnest(generate_series(1, {_SG_W})) AS b(off)
  WHERE i + off <= len(ws)
)
SELECT center, context, COUNT(*) AS n_pairs
FROM pr GROUP BY center, context
HAVING COUNT(*) >= {_SG_MIN}
"""


@register("skipgram_pairs", oracle=_SG_ORACLE)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec (center, context) training-pair counts: frequency
    subsampling first — each token occurrence survives iff a
    deterministic md5 uniform clears Mikolov's (sqrt(f/t)+1)*(t/f)
    keep probability — then DIRECTED pairs within a +/-3 window over
    the SURVIVING sequence, so dropping a stopword widens the
    effective window across it, exactly like the reference
    implementation. The deterministic uniform makes the generated
    training set reproducible across runs and engines (an auditable
    property no rand()-based generator has).

    Scale: the keep decision is a vocabulary-keyed join (AQE
    broadcasts the frequency side) plus a row-local expression — the
    corpus shuffles ONCE, on doc_id, to re-pack surviving sequences;
    pair expansion is an in-row transform and the output aggregation
    is vocabulary-pair-keyed with map-side combine. The subsample is
    the step that makes 100 TB feasible: it deletes ~mass of the head
    words before any pair explodes.

    r11: the frequency table PINS (vocab-bounded, consumed by the keep
    join AND the total — unpinned it re-ran the corpus token explode
    per consumer), and the scan fans out (``catalog.spread``): the
    posexplode is the cost."""
    docs = spread(
        load_tables(spark, sf_dir, ("documents",))["documents"], sf_dir, "documents"
    )
    toks = (
        docs.select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w")
        )
        .where(F.col("w") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    freq = pin(toks.groupBy("w").agg(F.count("*").alias("c")))
    tot = freq.agg(F.sum("c").cast("double").alias("tt"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("|"),
                        F.col("pos").cast("string"), F.lit("|sg"),
                    )
                ),
                1, 12,
            ),
            16, 10,
        ).cast("bigint").cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 48))
    f_rel = F.col("c").cast("double") / F.col("tt")
    p = (F.sqrt(f_rel / F.expr(_SG_T)) + F.lit(1.0)) * (F.expr(_SG_T) / f_rel)
    kept = (
        toks.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .where(u < p)
        .select("doc_id", "pos", "w")
    )
    seqs = kept.groupBy("doc_id").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, w))), s -> s.w)")
        .alias("ws")
    )
    fwd = f"""
    flatten(transform(sequence(1, size(ws)), i ->
      CASE WHEN i < size(ws) THEN
        transform(sequence(i + 1, least(i + {_SG_W}, size(ws))), j ->
          struct(element_at(ws, i) AS center, element_at(ws, j) AS context))
      ELSE array() END))
    """
    bwd = f"""
    flatten(transform(sequence(1, size(ws)), i ->
      CASE WHEN i < size(ws) THEN
        transform(sequence(i + 1, least(i + {_SG_W}, size(ws))), j ->
          struct(element_at(ws, j) AS center, element_at(ws, i) AS context))
      ELSE array() END))
    """
    pairs = seqs.select(
        F.explode(F.expr(f"concat({fwd}, {bwd})")).alias("p")
    ).select("p.center", "p.context")
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").alias("n_pairs"))
        .where(F.col("n_pairs") >= _SG_MIN)
    )


# ---------------------------------------------------------------- C140
# Poisson bootstrap CI (the massive-data bootstrap: per doc and
# replicate, a deterministic Poisson(1) weight replaces resampling —
# weights are independent across docs, so replicate sums are ONE
# map-side-combinable aggregation over a single corpus scan, where a
# classic bootstrap would re-scan per replicate). Weights derive from
# the portable Horner hash, so DuckDB replays every replicate
# bit-for-bit; weighted sums are integer-exact, and the only float ops
# (u < cdf literal, S/W, nearest-rank pick) are identical IEEE ops.
_BOOT_R = 64
_BOOT_CAP = 6
# the per-(doc, replicate) uniform comes from NATIVE md5 (the
# md5_priority precedent — identical lowercase hex in both engines,
# C-speed, no per-char SQL fold): 48 hash bits scale to [0, 1).
# Multiply-mod mixing was tried first and rejected twice in-session:
# affine mixes make each doc's replicates (or each replicate's docs)
# a rank-1 lattice, under-dispersing the bootstrap.
_BOOT_SCALE = 1 << 48
# Poisson(1) CDF literals, shared verbatim by both engines
_BOOT_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
)
# nearest-rank indices (1-based) for a 2.5%/97.5% interval over R
_BOOT_LO = max(1, -(-25 * _BOOT_R // 1000))
_BOOT_HI = -(-975 * _BOOT_R // 1000)


def _boot_k_case(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {i}" for i, c in enumerate(_BOOT_CDF)
    )
    return f"(CASE {cases} ELSE {_BOOT_CAP} END)"


def _boot_u_spark(doc: str, r: str) -> str:
    return (
        f"(CAST(conv(substring(md5(concat(CAST({doc} AS STRING), '|',"
        f" CAST({r} AS STRING))), 1, 12), 16, 10) AS BIGINT)"
        f" / CAST({_BOOT_SCALE} AS DOUBLE))"
    )


def _boot_u_sql(doc: str, r: str) -> str:
    return (
        f"(CAST(('0x' || SUBSTR(md5(CAST({doc} AS VARCHAR) || '|' ||"
        f" CAST({r} AS VARCHAR)), 1, 12)) AS BIGINT)"
        f" / CAST({_BOOT_SCALE} AS DOUBLE))"
    )


def _boot_oracle() -> str:
    u = _boot_u_sql("doc_id", "r")
    return f"""
WITH x AS (SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS v FROM documents WHERE text IS NOT NULL),
rep AS (
  SELECT x.doc_id, x.v, r, {_boot_k_case(u)} AS k
  FROM x, UNNEST(range({_BOOT_R})) t(r)
),
means AS (
  SELECT r, CAST(SUM(k * v) AS DOUBLE) / SUM(k) AS m
  FROM rep GROUP BY r HAVING SUM(k) > 0
),
ordered AS (SELECT COALESCE(list(m ORDER BY m), []) AS ms FROM means)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM x) AS n_docs,
  ROUND((SELECT CAST(SUM(v) AS DOUBLE) / COUNT(*) FROM x), 6) AS mean_len,
  CAST(len(ms) AS INTEGER) AS n_replicates,
  CASE WHEN len(ms) > 0
       THEN ROUND(ms[LEAST({_BOOT_LO}, len(ms))], 6) END AS ci_low,
  CASE WHEN len(ms) > 0
       THEN ROUND(ms[LEAST({_BOOT_HI}, len(ms))], 6) END AS ci_high
FROM ordered
"""


@register("bootstrap_ci_doclen", oracle=_boot_oracle())
def bootstrap_ci_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean document length: each doc
    carries a deterministic Poisson(1) weight per replicate (native
    md5 -> 48-bit uniform -> inverse CDF, capped), replicate means are
    weighted integer sums, and the interval is the nearest-rank
    2.5/97.5 percentile of the _BOOT_R replicate means. The
    statistics recipe for "how sure is this corpus metric" at 100 TB:
    ONE corpus scan computes all replicates as map-side-combinable
    sums (the in-row transform emits _BOOT_R (k, k*v) pairs per doc),
    where naive resampling would re-scan per replicate.

    Engine-exactness: weights and weighted sums are integers; the
    uniform threshold comparisons, the S/W division, and the
    nearest-rank picks are the identical IEEE ops in both engines, so
    the report is hash-exact."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    x = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").cast("bigint").alias("v")
    )
    # fan out the NARROW (doc_id, v) rows feeding the replicate
    # expansion: the per-(doc, replicate) md5 transform is the query's
    # CPU, and spreading after the text column is projected away
    # shuffles 16-byte rows, not documents. The stats branch below
    # keeps the un-fanned frame.
    rep_src = spread(x, sf_dir, "documents")
    u = _boot_u_spark("doc_id", "r")
    # hash ONCE per (doc, replicate); the 6-way CDF CASE then reads
    # the u COLUMN instead of re-inlining the hash per branch
    pairs = F.expr(
        f"transform(sequence(0, {_BOOT_R - 1}), r ->"
        f" named_struct('r', r, 'u', {u}))"
    )
    rep = rep_src.select("v", F.explode(pairs).alias("p")).select(
        "v",
        F.col("p.r").alias("r"),
        F.expr(_boot_k_case("p.u")).alias("k"),
    )
    means = (
        rep.groupBy("r")
        .agg(F.sum(F.col("k") * F.col("v")).alias("s"), F.sum("k").alias("w"))
        .where(F.col("w") > 0)
        .select((F.col("s").cast("double") / F.col("w")).alias("m"))
    )
    ordered = means.agg(F.sort_array(F.collect_list("m")).alias("ms"))
    stats = x.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("v").cast("double") / F.count("*")).alias("_mean"),
    )
    # n_replicates is the SURVIVING replicate count (the HAVING-style
    # w > 0 filter can in principle drop replicates on a tiny corpus),
    # and the nearest-rank indices clamp to it so a short list yields
    # NULL-free, in-bounds picks instead of silent out-of-range NULLs
    # mislabeled as a 64-replicate interval (r9 advice).
    return stats.crossJoin(F.broadcast(ordered)).select(
        "n_docs",
        F.round("_mean", 6).alias("mean_len"),
        F.size("ms").alias("n_replicates"),
        F.expr(
            f"CASE WHEN size(ms) > 0 THEN"
            f" round(element_at(ms, least({_BOOT_LO}, size(ms))), 6) END"
        ).alias("ci_low"),
        F.expr(
            f"CASE WHEN size(ms) > 0 THEN"
            f" round(element_at(ms, least({_BOOT_HI}, size(ms))), 6) END"
        ).alias("ci_high"),
    )


# ---------------------------------------------------------------- B116
_TS_ORACLE = """
WITH r AS (
  SELECT p.p_brand AS brand,
    CAST(YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) AS BIGINT) AS x,
    CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
      AS DECIMAL(18,4))) AS DOUBLE) AS y
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
sl AS (
  SELECT a.brand, (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS s
  FROM r a JOIN r b ON a.brand = b.brand AND a.x < b.x
),
med AS (
  SELECT brand, ss[CAST(CEIL(len(ss) / 2.0) AS INTEGER)] AS slope,
    CAST(len(ss) AS BIGINT) AS n_pairs
  FROM (SELECT brand, list(s ORDER BY s) AS ss FROM sl GROUP BY brand)
),
ic AS (
  SELECT r.brand, m.slope, m.n_pairs,
    CAST(COUNT(*) AS BIGINT) AS n_months,
    list(r.y - m.slope * r.x ORDER BY r.y - m.slope * r.x) AS vs
  FROM r JOIN med m ON m.brand = r.brand
  GROUP BY r.brand, m.slope, m.n_pairs
)
SELECT brand, n_months, n_pairs,
  ROUND(slope, 6) AS slope,
  ROUND(vs[CAST(CEIL(n_months / 2.0) AS INTEGER)], 6) AS intercept
FROM ic ORDER BY brand
"""


@register("theil_sen_trend", oracle=_TS_ORACLE)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust monthly revenue trend per brand by the Theil-Sen
    estimator (Sen 1968): slope = median of all pairwise
    month-to-month slopes, intercept = median residual — the
    outlier-resistant alternative to B49's least-squares fit (one
    promo-spike month moves OLS, not the pairwise median).

    Scale shape: ONE shuffle builds the (brand, month) revenue table
    (DECIMAL-summed, calendar-bounded: <= ~84 months per brand), each
    brand's points collect into one row, and the O(m^2) pairwise
    slopes (<= ~3.5k values) expand IN-ROW — never a self-join. The
    medians are nearest-rank element picks of in-row sorted arrays,
    so no cross-row float summation exists anywhere; slope/intercept
    are single IEEE-identical values, hash-exact vs the oracle."""
    # fan out lineitem: the two broadcast-join probes, the month/decimal
    # projection and the partial aggregation are the cost, and the scan
    # feeds exactly one shuffle consumer (the brand-month groupBy).
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "part"))
    r = (
        spread(t["lineitem"], sf_dir, "lineitem")
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("y")
        )
    )
    # >= 2 months or no slope exists: a one-month brand has an empty
    # pairwise-slope list, and element_at(ss, 0) THROWS in Spark while
    # the oracle's self-join silently drops the brand — mirror the
    # oracle's drop explicitly (r10 review).
    pts = (
        r.groupBy("brand")
        .agg(F.array_sort(F.collect_list(F.struct("x", "y"))).alias("pts"))
        .where(F.size("pts") >= 2)
    )
    slopes = pts.select(
        "brand",
        "pts",
        F.expr(
            "array_sort(flatten(transform(pts, (p, i) ->"
            " transform(slice(pts, i + 2, size(pts) - i - 1), q ->"
            " (q.y - p.y) / CAST(q.x - p.x AS DOUBLE)))))"
        ).alias("ss"),
    )
    med = slopes.select(
        "brand",
        "pts",
        F.size("pts").cast("bigint").alias("n_months"),
        F.size("ss").cast("bigint").alias("n_pairs"),
        F.expr(
            "element_at(ss, CAST(CEIL(size(ss) / 2.0) AS INT))"
        ).alias("slope"),
    )
    return med.select(
        "brand",
        "n_months",
        "n_pairs",
        F.round("slope", 6).alias("slope"),
        F.round(
            F.expr(
                "element_at(array_sort(transform(pts, p ->"
                " p.y - slope * p.x)),"
                " CAST(CEIL(size(pts) / 2.0) AS INT))"
            ),
            6,
        ).alias("intercept"),
    ).orderBy("brand")


# ---------------------------------------------------------------- B117
_MW_ORACLE = f"""
WITH lat AS (
  SELECT o.o_orderpriority AS grp,
    CAST(DATE_DIFF('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS v
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM lat GROUP BY v),
rk AS (
  SELECT v, c,
    2 * COALESCE(SUM(c) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      AS r2
  FROM vc
),
gv AS (
  SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS a FROM lat GROUP BY grp, v
),
gs AS (
  SELECT gv.grp,
    CAST(SUM(gv.a) AS BIGINT) AS n1,
    SUM(CAST(gv.a AS DECIMAL(19,0)) * CAST(rk.r2 AS DECIMAL(19,0)))
      AS r2sum
  FROM gv JOIN rk ON rk.v = gv.v
  GROUP BY gv.grp
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
    CAST(SUM(CAST(c AS DECIMAL(19,0)) * c * c - c) AS DOUBLE) AS tie3
  FROM vc
)
SELECT grp AS priority, n1 AS n_lines,
  ROUND((CAST(r2sum AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)
         - CAST(n1 AS DOUBLE) * (t.n - n1)) / 2, 1) AS u_minus_mu,
  ROUND(((CAST(r2sum AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)
          - CAST(n1 AS DOUBLE) * (t.n - n1)) / 2)
    / SQRT(CAST(n1 AS DOUBLE) * (t.n - n1) / 12.0
           * ((t.n + 1) - t.tie3
              / (CAST(t.n AS DOUBLE) * (t.n - 1)))), 6) AS z,
  {sql_round_rat('n1 * (t.n - n1) - (CAST(r2sum AS HUGEINT) - n1 * (n1 + 1))',
                 'n1 * (t.n - n1)', 6, wide=True)} AS rank_biserial
FROM gs CROSS JOIN tot t
ORDER BY priority
"""


@register("mann_whitney_latency", oracle=_MW_ORACLE)
def mann_whitney_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric priority-class comparison of ship latency
    (l_shipdate - o_orderdate, days): for each order priority, the
    Mann-Whitney U of its latencies vs all other priorities, reported
    as the centered statistic (U - mu), the tie-corrected z, and the
    rank-biserial effect size — "does URGENT actually ship faster"
    answered without assuming a latency distribution, beside B85's
    percentile view.

    Determinism: average-tie ranks are carried DOUBLED (2*below +
    ties + 1 — an integer), per-group rank sums accumulate in
    decimal(19,0) products (exact), and the only float ops are the
    final per-group divisions/sqrt on identical integer inputs. The
    global rank table is one window over DISTINCT latency VALUES —
    value-domain-bounded (~130 day values), never corpus-sized."""
    # no fan-out: the per-row work (one datediff + broadcast probe) is
    # below the exchange's cost.
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    lat = t["lineitem"].join(
        t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("v"),
    )
    gv = pin(
        lat.groupBy("grp", "v").agg(F.count("*").cast("bigint").alias("a"))
    )
    # vc derives from gv (a ~priorities x day-values table), so the
    # heavy lineitem-orders join aggregates ONCE — building vc from
    # lat would execute that join a second time under a different
    # shuffle key with no exchange reuse (r10 review). The PIN makes
    # that literal (r11): gv feeds vc/rk/tot AND the gs join — four
    # plan branches that each replayed the lineitem-orders join
    # (12 parquet scans in the r11 plan audit); the pinned frame is
    # priorities x day-values rows, bounded at any SF.
    vc = gv.groupBy("v").agg(F.sum("a").cast("bigint").alias("c"))
    w = Window.partitionBy(F.lit(0)).orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rk = vc.select(
        "v",
        "c",
        (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1).alias(
            "r2"
        ),
    )
    gs = (
        gv.join(F.broadcast(rk), "v")
        .groupBy("grp")
        .agg(
            F.sum("a").cast("bigint").alias("n1"),
            F.sum(
                F.col("a").cast("decimal(19,0)")
                * F.col("r2").cast("decimal(19,0)")
            ).alias("r2sum"),
        )
    )
    tot = vc.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.col("c").cast("decimal(19,0)") * F.col("c") * F.col("c")
            - F.col("c")
        )
        .cast("double")
        .alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    u2_centered = (
        F.col("r2sum").cast("double")
        - n1d * (F.col("n1") + 1)
        - n1d * (F.col("n") - F.col("n1"))
    )
    sigma = F.sqrt(
        n1d
        * (F.col("n") - F.col("n1"))
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("tie3")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
    )
    return (
        gs.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias("priority"),
            F.col("n1").alias("n_lines"),
            F.round(u2_centered / 2, 1).alias("u_minus_mu"),
            F.round((u2_centered / 2) / sigma, 6).alias("z"),
            # integer-exact rank-biserial: r2sum (the DOUBLED rank
            # sum) is integer-valued, so the effect size is the
            # rational (q - p)/q with q = n1*(n-n1) — wide round_rat
            # (p outgrows BIGINT past ~sf1)
            round_rat(
                "n1 * (n - n1)"
                " - (CAST(r2sum AS DECIMAL(38,0)) - n1 * (n1 + 1))",
                "n1 * (n - n1)",
                6,
                wide=True,
            ).alias("rank_biserial"),
        )
        .orderBy("priority")
    )
