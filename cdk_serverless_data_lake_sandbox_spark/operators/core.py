"""Core batch SQL analytics: the Athena-query surface of the reference
plus a TPC-H-adapted library over the driver's star schema.

Reference parity:
- ``preview_*`` — the Athena named preview queries
  (``stacks/demo_stack.py:267-282``: ``SELECT * ... LIMIT 10``), made
  deterministic with ORDER BY on the primary key.
- ``join_two_tables`` — the Athena join query
  (``stacks/demo_stack.py:284-293``: title_ratings ⋈ title_basics on
  tconst, projecting one column from each side); here orders ⋈
  customer on custkey. The customer side is broadcast (dim-sized), so
  at 100 TB the fact table never shuffles.

Everything is a declarative DataFrame plan: filters sit directly on
the parquet scan (pushdown), projections prune columns, small dims are
broadcast, and AQE handles skew at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables, spread
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import dec, money, money_sum
from cdk_serverless_data_lake_sandbox_spark.registry import register

# ---------------------------------------------------------------- A1
# Preview factory: the reference loops its dataset folders and emits a
# named `SELECT * ... LIMIT 10` preview per asset
# (stacks/demo_stack.py:267-282). Same shape here: one preview per
# catalog table, made deterministic with ORDER BY on the primary key.
# TakeOrderedAndProject fuses the sort+limit, so a preview never sorts
# the table globally. The embeddings preview projects typed metadata
# (dim, L2 norm) instead of the raw vector — an array column can't be
# canonicalized by the correctness gate, and metadata IS the preview a
# human wants for a vector table.
_PREVIEW_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
}


def _make_preview(table: str, keys: tuple[str, ...]):
    def preview(spark: SparkSession, sf_dir: str, _t=table, _k=keys) -> DataFrame:
        return load_tables(spark, sf_dir, (_t,))[_t].orderBy(*_k).limit(10)

    preview.__name__ = f"preview_{table}"
    preview.__doc__ = (
        f"Named preview query for `{table}` "
        "(reference: stacks/demo_stack.py:267-282)."
    )
    return preview


for _t, _k in _PREVIEW_KEYS.items():
    register(
        f"preview_{_t}",
        oracle=f"SELECT * FROM {_t} ORDER BY {', '.join(_k)} LIMIT 10",
    )(_make_preview(_t, _k))


@register(
    "preview_embeddings",
    oracle="""
    SELECT vec_id, label, len(embedding) AS dim,
      CAST(ROUND(sqrt(list_sum(list_transform(embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS DOUBLE) AS l2_norm
    FROM embeddings ORDER BY vec_id LIMIT 10
    """,
)
def preview_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    norm = F.sqrt(
        F.expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " 0.0d, (acc, v) -> acc + v)"
        )
    )
    return (
        e.select(
            "vec_id",
            "label",
            F.size("embedding").cast("bigint").alias("dim"),
            F.round(norm, 4).alias("l2_norm"),
        )
        .orderBy("vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------- A2
@register(
    "join_two_tables",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_two_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]), t["orders"].o_custkey == t["customer"].c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
    )


# ---------------------------------------------------------------- B1
_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
    AS sum_disc_price,
  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,6))
      * (CAST(1 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE)
    AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary. Scan-filter-agg: the filter and the
    6-column projection push into the parquet scan; partial aggregation
    happens map-side so the shuffle carries only 6 grouped rows per
    partition regardless of input size. The scan fans out
    (``catalog.spread``): the chained decimal arithmetic is the cost
    here."""
    li = spread(load_tables(spark, sf_dir, ("lineitem",))["lineitem"], sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,4)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount"))
    charge = disc_price.cast("decimal(18,6)") * (one + dec("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity", 2).alias("sum_qty"),
            money_sum("l_extendedprice", 2).alias("sum_base_price"),
            money(F.sum(disc_price)).alias("sum_disc_price"),
            money(F.sum(charge)).alias("sum_charge"),
            (F.sum(dec("l_quantity", 2)).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(dec("l_extendedprice", 2)).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------- B2
_Q3_ORACLE = """
SELECT
  l.l_orderkey,
  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
    AS revenue,
  o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3. customer is dim-sized -> broadcast; orders⋈lineitem is
    the only shuffle and both sides are pre-filtered at the scan."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    one = F.lit(1).cast("decimal(18,4)")
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].where(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------- B3
_Q5_ORACLE = """
SELECT
  n.n_name,
  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
    AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


@register("q5_local_supplier_volume", oracle=_Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5, 6-way join. region/nation/supplier/customer are all
    broadcast; the single shuffle is lineitem⋈orders on orderkey."""
    t = load_tables(spark, sf_dir)
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    one = F.lit(1).cast("decimal(18,4)")
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = t["supplier"].join(
        F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = t["orders"].where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["customer"]),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(money(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))).alias("revenue"))
    )


# ---------------------------------------------------------------- B4
_Q6_ORACLE = """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6. Pure scan-filter-agg: all four predicates and the
    2-column projection push down into the parquet reader."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money(F.sum(dec("l_extendedprice") * dec("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------- B5
_Q10_ORACLE = """
SELECT
  c.c_custkey,
  c.c_name,
  n.n_name,
  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
    AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned items, top 20 by lost revenue."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    one = F.lit(1).cast("decimal(18,4)")
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    cust = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------- B6
_Q14_ORACLE = """
SELECT
  CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
      THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
      ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS promo_revenue,
  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
    AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@register("q14_promo_effect", oracle=_Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 conditional aggregation; part is broadcast."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    one = F.lit(1).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount"))
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            money(
                F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(zero))
            ).alias("promo_revenue"),
            money(F.sum(disc_price)).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------- B7
_Q18_ORACLE = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
  CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@register("q18_large_volume", oracle=_Q18_ORACLE)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold.
    The HAVING subquery becomes a semi-join on the aggregated keys —
    one shuffle on l_orderkey shared by both the filter and the agg.
    No lineitem fan-out: the scan feeds two shuffle consumers, so an
    added exchange is pure loss."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", 2)).alias("_q"))
        .where(F.col("_q") > 250)
        .select(F.col("l_orderkey").alias("_big_ok"))
    )
    return (
        t["lineitem"]
        .join(big, F.col("l_orderkey") == F.col("_big_ok"), "left_semi")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(money_sum("l_quantity", 2).alias("total_qty"))
    )


# ---------------------------------------------------------------- B8
_Q19_ORACLE = """
SELECT
  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
      * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE
  (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
     AND l.l_quantity BETWEEN 1 AND 20)
  OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
     AND l.l_quantity BETWEEN 10 AND 30)
  OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
     AND l.l_quantity BETWEEN 20 AND 40)
"""


@register("q19_disjunctive", oracle=_Q19_ORACLE)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs predicate across the join. part is
    broadcast; the disjunction is evaluated post-join but each side's
    single-table conjuncts (brand/size, quantity) are pushed to scans
    by Catalyst's predicate inference."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    one = F.lit(1).cast("decimal(18,4)")
    p, li = t["part"], t["lineitem"]
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            money(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------- B9
_TOPK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


@register("top_k_per_group", oracle=_TOPK_ORACLE)
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer: single hash-partition window,
    rank pushed down so only 3 rows per key survive the exchange."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------- B10
_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
)
"""


@register("semi_anti_join", oracle=_ANTI_ORACLE)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churned customers: no orders since 2000 — left-anti join
    (null-safe, no dup explosion; the orders side is filtered at the
    scan before the join)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    recent = t["orders"].where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------- B11
_SETOPS_ORACLE = """
SELECT custkey, 'buyer' AS tag FROM
  (SELECT c_custkey AS custkey FROM customer
   INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT custkey, 'prospect' AS tag FROM
  (SELECT c_custkey AS custkey FROM customer
   EXCEPT SELECT o_custkey FROM orders)
"""


@register("set_ops", oracle=_SETOPS_ORACLE)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT over key sets, tagged."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    cust = t["customer"].select(F.col("c_custkey").alias("custkey"))
    buyers = cust.intersect(t["orders"].select(F.col("o_custkey").alias("custkey")))
    prospects = cust.exceptAll(
        t["orders"].select(F.col("o_custkey").alias("custkey"))
    ).distinct()
    return buyers.withColumn("tag", F.lit("buyer")).unionAll(
        prospects.withColumn("tag", F.lit("prospect"))
    )


# ---------------------------------------------------------------- B12
_SCALAR_SUB_ORACLE = """
SELECT p_partkey, p_name, p_retailprice FROM part
WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
"""


@register("scalar_subquery", oracle=_SCALAR_SUB_ORACLE)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts above average retail price: scalar aggregate broadcast
    back against the scan (no driver round-trip)."""
    p = load_tables(spark, sf_dir, ("part",))["part"]
    avg_price = p.agg(F.avg("p_retailprice").alias("_avg"))
    return (
        p.crossJoin(F.broadcast(avg_price))
        .where(F.col("p_retailprice") > F.col("_avg"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


# ---------------------------------------------------------------- B13
_ROLLUP_ORACLE = """
SELECT n_name, c_mktsegment,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_acctbal,
  COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, c_mktsegment)
"""


@register("rollup_agg", oracle=_ROLLUP_ORACLE)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level totals via ROLLUP (nation, segment) -> (nation) ->
    grand total, one pass."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_name", "c_mktsegment")
        .agg(
            money_sum("c_acctbal", 2).alias("total_acctbal"),
            F.count("*").alias("n_customers"),
        )
    )
