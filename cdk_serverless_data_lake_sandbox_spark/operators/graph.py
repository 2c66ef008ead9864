"""Graph analytics over tables the lake already holds.

The reference exposes joins over relational zones (demo_stack.py's
two-table Athena join); this module covers the graph-shaped questions
the same data answers once you treat co-occurrence as edges — the
"customers also bought" / influence-ranking family. The flagship is a
fully deterministic PageRank whose float-sensitive sums accumulate in
DECIMAL so a DuckDB oracle can reproduce it hash-exactly (the same
trick ``semantic_dedup``'s oracle uses for k-means centroids).

Scale notes: the co-purchase edge build shuffles on orderkey once
(per-order part lists are tiny, so the in-order pair expansion is
bounded); each PageRank iteration is the standard two-shuffle
contribute/collect plan — shuffle on src to join ranks, shuffle on
dst to sum contributions. Degree is folded into the edge list once so
iterations never re-join it. Nothing collects to the driver except
the broadcast node-count scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
from cdk_serverless_data_lake_sandbox_spark.operators._helpers import (
    RoundPins,
    pin,
    round_rat,
    scratch,
    sql_round_rat,
)
from cdk_serverless_data_lake_sandbox_spark.registry import register

_DAMP = 0.85
_ITERS = 5
_TOP = 25
# Exact decimal accumulator for the per-node contribution sum: decimal
# addition is associative, so the distributed sum is order-independent
# and matches DuckDB bit-for-bit after the cast back to double.
_DEC = "decimal(28,14)"
# Below this node count the per-iteration rank table broadcasts;
# above it the joins run co-partitioned on the src-hashed edges.
_BCAST_NODES = 5_000_000


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges: parts that appear in the same
    order, deduplicated, symmetrized, with the source node's degree
    attached (``src``, ``dst``, ``src_deg``).

    Built ONCE per version of ``lineitem`` as keyed scratch — the
    kNN-graph precedent (similarity.py `_knn_graph_shared`):
    eight graph ops (B93–B96, B99, B109, B110, B113's static siblings)
    walk the SAME edge set, so one application run pays the
    three-shuffle build once and every later caller re-scans the
    scratch parquet (r9 verdict item 1). At production scale the
    equivalent is the persisted D23 graph artifact; this keyed scratch
    is its per-application twin."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return scratch("copurchase-edges", li, lambda: _copurchase_edges_frame(li))


def copurchase_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, deg) — one row per graph node, derived from the shared
    edge list ONCE per version of ``lineitem`` and materialized (r11:
    pagerank, PPR, BFS, triangles and the D23 artifact build each ran
    their own distinct over the 2m-row edge list per call; the node
    table is exactly the second artifact the D23 build already
    persists, so per-application it is keyed scratch like the edges)."""
    edges = copurchase_edges(spark, sf_dir)
    return scratch(
        "copurchase-nodes",
        load_tables(spark, sf_dir, ("lineitem",))["lineitem"],
        lambda: edges.select(
            F.col("src").alias("node"), F.col("src_deg").alias("deg")
        ).distinct(),
    )


def _copurchase_edges_frame(li: DataFrame) -> DataFrame:
    """The edge-list dataflow (always reached via the keyed
    :func:`copurchase_edges` wrapper).

    Build shape: per-order part sets (one map-side-combinable
    aggregation — per-order sets are tiny, so the in-row pair
    expansion is bounded), symmetric pairs expanded INSIDE the row
    (no self-join), one distinct, then BOTH endpoint degrees via count
    windows over dst and src (r11: carrying dst_deg costs one extra
    exchange ONCE in this shared build and turns the triangle
    orientation — previously a per-call join against the node table —
    into a pure filter; in a symmetrized list dst_deg of (a,b) equals
    src_deg of its twin (b,a), but reading the twin is exactly the
    join being avoided). Four shuffles total, each load-bearing."""
    sets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    sym = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> transform("
                    "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    # No pin() here: the keyed scratch wrapper lands the
    # result in scratch parquet, which both truncates lineage and is
    # executor-loss-safe — a second checkpoint would be pure waste.
    return sym.withColumn(
        "dst_deg", F.count("*").over(Window.partitionBy("dst"))
    ).withColumn("src_deg", F.count("*").over(Window.partitionBy("src")))


def pagerank(
    edges: DataFrame, damping: float, iters: int, nodes: DataFrame | None = None
) -> DataFrame:
    """Deterministic PageRank over a symmetrized edge list that
    already carries ``src_deg``. Returns (node, rank, deg).

    Every node in a symmetrized graph has in- and out-edges, so there
    is no dangling mass to redistribute; rank_{t+1}(v) =
    (1-d)/N + d * sum_{u->v} rank_t(u)/deg(u). The inner sum
    accumulates in DECIMAL(28,14) (exact, order-independent) and only
    then casts back to double, which is what lets the unrolled DuckDB
    oracle match with zero tolerance."""
    # nodes is read by every iteration (contribution join AND rank
    # rebuild); callers with a keyed node table pass it in
    # (copurchase_nodes — r11), otherwise materialize it once instead
    # of replaying the distinct five times. Rank lineage still
    # truncates per iteration — the standard persist-per-iteration
    # shape for iterative algorithms (on a cluster:
    # persist(MEMORY_AND_DISK) + unpersist of t-1).
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"), F.col("src_deg").alias("deg"))
            .distinct()
            .transform(pin)
        )
    # one bounded driver scalar (the node count) picks the join tier:
    # the rank table is one row per node, so up to millions of nodes
    # it BROADCASTS into the partitioned edge list (one shuffle per
    # iteration: the dst aggregation); past that the join falls back
    # to the co-partitioned path the src-hashed edge checkpoint
    # already supports. Checkpointed frames report no size stats, so
    # AQE cannot make this call — we make it from n explicitly.
    n = nodes.count()
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n)).alias("rank"))
    pins = RoundPins()
    for _ in range(iters):
        r_side = F.broadcast(ranks) if n <= _BCAST_NODES else ranks
        # In a SYMMETRIZED graph every node has at least one incoming
        # edge (its own symmetric partner), so the dst aggregation
        # already covers every node — the rank rebuild is a projection
        # of contrib itself, not a left join back onto nodes (r11:
        # that join was one Exchange + one nodes scan per iteration
        # for rows whose COALESCE(m, 0) branch can never fire).
        ranks = (
            edges.join(r_side, edges.src == ranks.node)
            .select(
                F.col("dst"),
                (F.col("rank") / F.col("src_deg")).cast(_DEC).alias("c"),
            )
            .groupBy("dst")
            .agg(
                (
                    (F.lit(1.0) - F.lit(damping)) / F.lit(n)
                    + F.lit(damping) * F.sum("c").cast("double")
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
            .transform(pins.pin)
        )
    return ranks.join(nodes, "node").select("node", "rank", "deg")


def _pagerank_oracle(damping: float = _DAMP, iters: int = _ITERS, top: int = _TOP) -> str:
    """Unrolled-CTE DuckDB oracle mirroring :func:`pagerank` exactly:
    same decimal contribution accumulation, same double arithmetic,
    same literal casts (DuckDB numeric literals are DECIMAL, so every
    constant is cast to DOUBLE explicitly to match Spark)."""
    d = f"CAST({damping} AS DOUBLE)"
    one = "CAST(1 AS DOUBLE)"
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """und AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        "edges AS (SELECT pa AS src, pb AS dst FROM und UNION ALL SELECT pb, pa FROM und)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        f"r0 AS (SELECT node, {one} / nn.n AS rank FROM deg CROSS JOIN nn)",
    ]
    for i in range(iters):
        ctes.append(f"""r{i + 1} AS (
  SELECT dg.node,
         ({one} - {d}) / nn.n
           + {d} * COALESCE(CAST(s.m AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
  FROM deg dg CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(r.rank / dgu.deg AS DECIMAL(28,14))) AS m
    FROM edges e
    JOIN r{i} r ON r.node = e.src
    JOIN deg dgu ON dgu.node = e.src
    GROUP BY e.dst
  ) s ON s.node = dg.node
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(r.node AS BIGINT) AS part_key,
       ROUND(r.rank, 12) AS rank,
       CAST(dg.deg AS BIGINT) AS n_copurchase
FROM r{iters} r JOIN deg dg ON dg.node = r.node
ORDER BY r.rank DESC, r.node
LIMIT {top}
"""
    )


_PAGERANK_ORACLE = _pagerank_oracle()


@register("copurchase_pagerank", oracle=_PAGERANK_ORACLE)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence ranking over the part co-purchase graph ("customers
    who bought X also bought"): PageRank, damping 0.85, 5 fixed
    iterations, top parts by final rank. The iterative Spark loop and
    the DuckDB oracle agree hash-exactly because contribution sums
    accumulate in DECIMAL on both sides (see :func:`pagerank`).

    Reference analog: the sandbox's Athena named queries join two
    relational zones (demo_stack.py:243-295); this is the same lake
    data asked a graph question — no separate graph store needed."""
    edges = copurchase_edges(spark, sf_dir)
    pr = pagerank(edges, _DAMP, _ITERS, nodes=copurchase_nodes(spark, sf_dir))
    return (
        pr.select(
            F.col("node").cast("bigint").alias("part_key"),
            F.round(F.col("rank"), 12).alias("rank"),
            F.col("deg").cast("bigint").alias("n_copurchase"),
        )
        .orderBy(F.desc("rank"), "part_key")
        .limit(_TOP)
    )


# --------------------------------------------------------------- B94
_PPR_BRAND = "Brand#4"
_PPR_TOP = 25


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float,
    iters: int,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: teleport mass returns
    to the SEED set instead of uniformly, so rank measures proximity
    to the seeds — the "customers who bought these also buy" walk.
    ``seeds`` is a (node) frame; rank starts and teleports at
    1/|seeds| per seed. Same decimal-sum determinism contract as
    :func:`pagerank`."""
    if nodes is None:
        nodes = edges.select(
            F.col("src").alias("node"), F.col("src_deg").alias("deg")
        ).distinct()
    seeded = nodes.join(
        seeds.select(F.col("node").alias("snode"), F.lit(1).alias("is_seed")),
        nodes.node == F.col("snode"),
        "left",
    ).select(
        "node", "deg", F.coalesce(F.col("is_seed"), F.lit(0)).alias("is_seed")
    ).transform(pin)
    # |S| counts seeds PRESENT IN THE GRAPH (a seed part never
    # co-purchased contributes no teleport mass on either side);
    # bounded driver scalars, same join-tier logic as pagerank()
    ns = seeded.agg(F.sum("is_seed")).collect()[0][0]
    n = seeded.count()
    teleport = F.col("is_seed").cast("double") / F.lit(ns)
    ranks = seeded.select("node", teleport.alias("rank"))
    base = seeded.select("node", "deg", "is_seed", teleport.alias("tele"))
    # teleport mass is nonzero ONLY at the seeds, and in a symmetrized
    # graph every node receives a contribution — so the per-iteration
    # rebuild joins contrib with the (seed-sized, broadcastable)
    # teleport table instead of the full node set (r11; see
    # pagerank() for the unweighted analog).
    seed_tele = base.where(F.col("is_seed") == 1).select(
        F.col("node").alias("tnode"), "tele"
    )
    pins = RoundPins()
    for _ in range(iters):
        r_side = F.broadcast(ranks) if n <= _BCAST_NODES else ranks
        ranks = (
            edges.join(r_side, edges.src == ranks.node)
            .select(
                F.col("dst"),
                (F.col("rank") / F.col("src_deg")).cast(_DEC).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("m"))
            .join(F.broadcast(seed_tele), F.col("dst") == F.col("tnode"), "left")
            .select(
                F.col("dst").alias("node"),
                (
                    (F.lit(1.0) - F.lit(damping))
                    * F.coalesce(F.col("tele"), F.lit(0.0))
                    + F.lit(damping) * F.col("m")
                ).alias("rank"),
            )
            .transform(pins.pin)
        )
    return ranks.join(base.select("node", "deg", "is_seed"), "node")


def _ppr_oracle(damping: float = _DAMP, iters: int = _ITERS, top: int = _PPR_TOP) -> str:
    d = f"CAST({damping} AS DOUBLE)"
    one = "CAST(1 AS DOUBLE)"
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """und AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        "edges AS (SELECT pa AS src, pb AS dst FROM und UNION ALL SELECT pb, pa FROM und)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)",
        f"""sd AS (
  SELECT dg.node, dg.deg,
         CASE WHEN p.p_partkey IS NULL THEN 0 ELSE 1 END AS is_seed
  FROM deg dg LEFT JOIN (
    SELECT p_partkey FROM part WHERE p_brand = '{_PPR_BRAND}'
  ) p ON p.p_partkey = dg.node
)""",
        "ns AS (SELECT SUM(is_seed) AS ns FROM sd)",
        f"""r0 AS (
  SELECT node, CAST(is_seed AS DOUBLE) / ns.ns AS rank FROM sd CROSS JOIN ns
)""",
    ]
    for i in range(iters):
        ctes.append(f"""r{i + 1} AS (
  SELECT sd.node,
         ({one} - {d}) * (CAST(sd.is_seed AS DOUBLE) / ns.ns)
           + {d} * COALESCE(CAST(s.m AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
  FROM sd CROSS JOIN ns
  LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(r.rank / dgu.deg AS DECIMAL(28,14))) AS m
    FROM edges e
    JOIN r{i} r ON r.node = e.src
    JOIN deg dgu ON dgu.node = e.src
    GROUP BY e.dst
  ) s ON s.node = sd.node
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(r.node AS BIGINT) AS part_key,
       ROUND(r.rank, 12) AS rank,
       CAST(sd.deg AS BIGINT) AS n_copurchase
FROM r{iters} r JOIN sd ON sd.node = r.node
WHERE sd.is_seed = 0 AND r.rank > 0
ORDER BY r.rank DESC, r.node
LIMIT {top}
"""
    )


_PPR_ORACLE = _ppr_oracle()


@register("brand_recommendations", oracle=_PPR_ORACLE)
def brand_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Customers who buy this brand also buy': personalized PageRank
    on the co-purchase graph with teleport pinned to one brand's
    parts; the top-ranked NON-seed parts are the recommendation list.
    Same two-shuffle-per-iteration plan and decimal-sum determinism
    as ``copurchase_pagerank``; the seed join is a broadcast (one
    brand's parts are a sliver of the part dim)."""
    edges = copurchase_edges(spark, sf_dir)
    part = load_tables(spark, sf_dir, ("part",))["part"]
    seeds = (
        part.where(F.col("p_brand") == _PPR_BRAND)
        .select(F.col("p_partkey").alias("node"))
    )
    pr = personalized_pagerank(
        edges, seeds, _DAMP, _ITERS, nodes=copurchase_nodes(spark, sf_dir)
    )
    return (
        pr.where((F.col("is_seed") == 0) & (F.col("rank") > 0))
        .select(
            F.col("node").cast("bigint").alias("part_key"),
            F.round(F.col("rank"), 12).alias("rank"),
            F.col("deg").cast("bigint").alias("n_copurchase"),
        )
        .orderBy(F.desc("rank"), "part_key")
        .limit(_PPR_TOP)
    )


# --------------------------------------------------------------- B95
_TRI_TOP = 20

_TRI_ORACLE = f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT pa AS node FROM und UNION ALL SELECT pb FROM und
  ) GROUP BY node
),
tri AS (
  SELECT a.pa AS x, a.pb AS y, b.pb AS z
  FROM und a
  JOIN und b ON b.pa = a.pa AND b.pb > a.pb
  JOIN und c ON c.pa = a.pb AND c.pb = b.pb
),
pernode AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT CAST(d.node AS BIGINT) AS part_key,
  CAST(d.deg AS BIGINT) AS n_copurchase,
  CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_triangles,
  {sql_round_rat('2 * COALESCE(p.n_tri, 0)', 'd.deg * (d.deg - 1)', 6)}
    AS clustering_coef
FROM deg d LEFT JOIN pernode p ON p.node = d.node
WHERE d.deg > 1
ORDER BY n_triangles DESC, part_key
LIMIT {_TRI_TOP}
"""


@register("copurchase_triangles", oracle=_TRI_ORACLE)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient on the
    co-purchase graph: how clique-ish each part's neighborhood is
    (bundle-detection — parts whose co-buyers also co-buy each
    other). Spark enumerates each triangle exactly once from its
    DEGREE-ORDERED orientation — every edge points from the lower
    (degree, id) endpoint to the higher, so wedge expansion at a node
    is bounded by its ORIENTED out-degree (O(m^1.5) total work, the
    standard bound; a raw wedge join would be sum(deg^2) and die on
    hubs at 100 TB). The closing-edge probe joins wedges back to the
    canonical undirected edge set on (min, max).

    Integer counts end-to-end; the DuckDB oracle enumerates the same
    triangle set from the canonical x<y<z orientation."""
    edges = copurchase_edges(spark, sf_dir)
    nodes = copurchase_nodes(spark, sf_dir)
    # dst_deg rides on the shared edge list (r11), so the
    # degree-ordered orientation is a pure FILTER over the scratch
    # scan — the per-call node join and its exchange are gone.
    oriented = (
        edges.where(
            (F.col("src_deg") < F.col("dst_deg"))
            | ((F.col("src_deg") == F.col("dst_deg")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
        .transform(pin)
    )
    # Wedge build stays the codegen'd self-join on src (r11 A/B: an
    # adjacency-list collect + in-row ordered-pair expansion removed
    # one Exchange but ran 8.5x SLOWER at sf0.1 — the nested
    # transform/flatten expansion is interpreted, and 9M wedge structs
    # through the expression interpreter dwarf the shuffle it saved).
    # (r11, second attempt: a post-pin repartition by src — pre-pin
    # partitioning is invisible after localCheckpoint — probed 0.99x
    # and the plan showed the wedge join is a BROADCAST join already,
    # so there was no shuffle to remove and the repartition was two
    # pure-overhead exchanges. The wedge expansion is not
    # parallelism-bound at bench SF. Left as-is.)
    b = oriented.select(F.col("src").alias("src2"), F.col("dst").alias("w"))
    wedges = (
        oriented.join(b, oriented.src == b.src2)
        .where(F.col("dst") < F.col("w"))
        .select("src", F.col("dst").alias("v"), "w")
    )
    canon = oriented.select(
        F.least("src", "dst").alias("ca"), F.greatest("src", "dst").alias("cb")
    )
    # The closing-edge probe stays a SHUFFLE join on the canonical
    # pair key: measured A/B at sf0.1 (2.4M edges, 9M wedges), a
    # broadcast edge set was ~1.5x SLOWER — the driver-side build of
    # a millions-entry broadcast map dwarfs the wedge shuffle it
    # saves, and at 100 TB the edge set does not broadcast anyway.
    # (v < w already holds for every wedge, so the probe keys are the
    # plain columns, not least/greatest recomputations.)
    tri = wedges.join(
        canon,
        (F.col("v") == F.col("ca")) & (F.col("w") == F.col("cb")),
    ).select("src", "v", "w")
    pernode = (
        tri.select(F.explode(F.array("src", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        nodes.join(pernode, "node", "left")
        .where(F.col("deg") > 1)
        .select(
            F.col("node").cast("bigint").alias("part_key"),
            F.col("deg").cast("bigint").alias("n_copurchase"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
            # integer-exact cc = 2*tri / deg*(deg-1) (round_rat)
            round_rat(
                "2 * coalesce(n_tri, 0)", "deg * (deg - 1)", 6
            ).alias("clustering_coef"),
        )
        .orderBy(F.desc("n_triangles"), "part_key")
        .limit(_TRI_TOP)
    )


# --------------------------------------------------------------- B96
_BFS_SEED_BRAND = "Brand#4"
_BFS_HOPS = 4
_BFS_TOP = 30


def _bfs_oracle(hops: int = _BFS_HOPS, top: int = _BFS_TOP) -> str:
    """Unrolled BFS oracle: one min-distance CTE per hop. Pure
    integer propagation — no float anywhere, so the mirror is exact
    by construction."""
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """und AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        "edges AS (SELECT pa AS src, pb AS dst FROM und UNION ALL SELECT pb, pa FROM und)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)",
        f"""d0 AS (
  SELECT dg.node,
         CASE WHEN p.p_partkey IS NULL THEN NULL ELSE 0 END AS dist
  FROM deg dg LEFT JOIN (
    SELECT p_partkey FROM part WHERE p_brand = '{_BFS_SEED_BRAND}'
  ) p ON p.p_partkey = dg.node
)""",
    ]
    for i in range(hops):
        ctes.append(f"""d{i + 1} AS (
  SELECT d.node,
         LEAST(
           COALESCE(d.dist, {hops + 1}),
           COALESCE(r.reach + 1, {hops + 1})
         ) AS dist0,
         CASE WHEN LEAST(COALESCE(d.dist, {hops + 1}),
                         COALESCE(r.reach + 1, {hops + 1})) = {hops + 1}
              THEN NULL
              ELSE LEAST(COALESCE(d.dist, {hops + 1}),
                         COALESCE(r.reach + 1, {hops + 1})) END AS dist
  FROM d{i} d
  LEFT JOIN (
    SELECT e.dst AS node, MIN(s.dist) AS reach
    FROM edges e JOIN d{i} s ON s.node = e.src AND s.dist IS NOT NULL
    GROUP BY e.dst
  ) r ON r.node = d.node
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(d.node AS BIGINT) AS part_key,
       CAST(d.dist AS INTEGER) AS hop_distance,
       CAST(dg.deg AS BIGINT) AS n_copurchase
FROM d{hops} d JOIN deg dg ON dg.node = d.node
WHERE d.dist IS NOT NULL AND d.dist > 0
ORDER BY d.dist, d.node
LIMIT {top}
"""
    )


_BFS_ORACLE = _bfs_oracle()


@register("copurchase_distance", oracle=_BFS_ORACLE)
def copurchase_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from one brand's parts over the co-purchase
    graph — "how many co-purchase hops does it take to reach this
    part from the brand's ecosystem", the reachability/market-adjacency
    question behind assortment planning. Frontier expansion is the
    textbook iterative min-join (hop h's reachable set joins the edge
    list, MIN-merges into the distance table); distances are pure
    integers, so Spark and the unrolled-CTE oracle agree exactly with
    no float discipline needed. Same materialize-per-iteration shape
    as :func:`pagerank`; each hop is one edges-sized join plus a
    node-sized MIN-merge. Nearest ``_BFS_TOP`` non-seed parts by
    (distance, part key)."""
    edges = copurchase_edges(spark, sf_dir)
    part = load_tables(spark, sf_dir, ("part",))["part"]
    nodes = copurchase_nodes(spark, sf_dir)
    seeds = part.where(F.col("p_brand") == _BFS_SEED_BRAND).select(
        F.col("p_partkey").alias("snode"), F.lit(0).alias("seed_dist")
    )
    unreached = _BFS_HOPS + 1
    dist = nodes.join(seeds, nodes.node == F.col("snode"), "left").select(
        "node", F.col("seed_dist").alias("dist")
    )
    n = nodes.count()
    pins = RoundPins()
    for _ in range(_BFS_HOPS):
        d_side = dist if n > _BCAST_NODES else F.broadcast(dist)
        reach = (
            edges.join(
                d_side.where(F.col("dist").isNotNull()),
                edges.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.min("dist").alias("reach"))
        )
        merged = F.least(
            F.coalesce(F.col("dist"), F.lit(unreached)),
            F.coalesce(F.col("reach") + 1, F.lit(unreached)),
        )
        dist = (
            dist.join(reach, dist.node == reach.dst, "left")
            .select(
                "node",
                F.when(merged == unreached, F.lit(None).cast("int"))
                .otherwise(merged)
                .alias("dist"),
            )
            .transform(pins.pin)
        )
    return (
        dist.join(nodes, "node")
        .where(F.col("dist").isNotNull() & (F.col("dist") > 0))
        .select(
            F.col("node").cast("bigint").alias("part_key"),
            F.col("dist").cast("int").alias("hop_distance"),
            F.col("deg").cast("bigint").alias("n_copurchase"),
        )
        .orderBy("hop_distance", "part_key")
        .limit(_BFS_TOP)
    )


# --------------------------------------------------------------- D23
def graph_edges_build(spark: SparkSession, sf_dir: str, graph_dir: str) -> dict:
    """Materialize the co-purchase graph as a LAKE ARTIFACT: the
    symmetrized, degree-annotated edge list written as parquet
    bucketed-by-convention on ``src`` (hash-partitioned files via
    repartition, one file per src partition), plus the node/degree
    table. Every graph query (PageRank, PPR, triangles, BFS) builds
    this same edge list inline; at production scale you build it
    once per snapshot and serve all graph workloads from it — the
    same write-once contract as the IVF/MinHash/char-span index
    artifacts (C86/D19/D20).

    Returns {nodes, edges} counts for the caller's audit."""
    import os

    edges = copurchase_edges(spark, sf_dir)
    nodes = copurchase_nodes(spark, sf_dir)
    edges.repartition(F.col("src")).write.mode("overwrite").parquet(
        os.path.join(graph_dir, "edges")
    )
    nodes.write.mode("overwrite").parquet(os.path.join(graph_dir, "nodes"))
    return {
        "nodes": spark.read.parquet(os.path.join(graph_dir, "nodes")).count(),
        "edges": spark.read.parquet(os.path.join(graph_dir, "edges")).count(),
    }


def graph_edges_load(spark: SparkSession, graph_dir: str) -> DataFrame:
    """Serve the persisted edge list (src, dst, src_deg) — drop-in
    for :func:`copurchase_edges` in any graph routine."""
    import os

    return spark.read.parquet(os.path.join(graph_dir, "edges"))


# --------------------------------------------------------------- B97
_III_TOP = 20

_III_ORACLE = f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
n1 AS (SELECT part, COUNT(*) AS n FROM cp GROUP BY part),
nc AS (SELECT COUNT(DISTINCT cust) AS n_cust FROM cp),
pairs AS (
  SELECT a.part AS pa, b.part AS pb, COUNT(*) AS n_ab
  FROM cp a JOIN cp b ON a.cust = b.cust AND a.part < b.part
  GROUP BY a.part, b.part
)
SELECT CAST(p.pa AS BIGINT) AS part_a, CAST(p.pb AS BIGINT) AS part_b,
  CAST(p.n_ab AS BIGINT) AS n_both,
  ROUND(CAST(p.n_ab AS DOUBLE) / SQRT(CAST(na.n AS DOUBLE) * nb.n), 6)
    AS cosine,
  ROUND(CAST(p.n_ab AS DOUBLE) * nc.n_cust
        / (CAST(na.n AS DOUBLE) * nb.n), 6) AS lift
FROM pairs p
JOIN n1 na ON na.part = p.pa
JOIN n1 nb ON nb.part = p.pb
CROSS JOIN nc
ORDER BY cosine DESC, part_a, part_b
LIMIT {_III_TOP}
"""


@register("item_item_similarity", oracle=_III_ORACLE)
def item_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering scores: for part pairs
    bought by the same customers, co-purchase cosine
    (n_ab / sqrt(n_a * n_b)) and lift (n_ab * N / (n_a * n_b)) —
    the scored "customers who bought X also bought Y" behind
    recommendation shelves, complementing the PageRank walk (B93/94)
    with a direct set-overlap measure.

    Scale shape: per-customer part sets aggregate map-side (bounded
    per customer), pairs expand IN-ROW from each set (the same
    no-self-join trick as the edge build — pair work is sum of
    per-customer set sizes squared, bounded by the heaviest customer,
    not the corpus), then one groupBy. Per-part counts broadcast into
    the score projection; top-k is TakeOrdered. Integer counts +
    mirrored double expressions; hash-exact oracle."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    cp = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    n1 = cp.groupBy("part").agg(F.count("*").alias("n"))
    n_cust = cp.select("cust").distinct().count()
    sets = cp.groupBy("cust").agg(F.collect_set("part").alias("ps"))
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> transform("
                    "filter(ps, y -> y > x), y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("e")
        )
        .select("e.pa", "e.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
    )
    na = n1.select(F.col("part").alias("pa"), F.col("n").alias("n_a"))
    nb = n1.select(F.col("part").alias("pb"), F.col("n").alias("n_b"))
    cosine = F.col("n_ab").cast("double") / F.sqrt(
        F.col("n_a").cast("double") * F.col("n_b")
    )
    lift = (
        F.col("n_ab").cast("double")
        * n_cust
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        pairs.join(F.broadcast(na), "pa")
        .join(F.broadcast(nb), "pb")
        .select(
            F.col("pa").cast("bigint").alias("part_a"),
            F.col("pb").cast("bigint").alias("part_b"),
            F.col("n_ab").cast("bigint").alias("n_both"),
            F.round(cosine, 6).alias("cosine"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("cosine"), "part_a", "part_b")
        .limit(_III_TOP)
    )


# --------------------------------------------------------------- B99
def _wpr_oracle(damping: float = _DAMP, iters: int = _ITERS, top: int = _TOP) -> str:
    d = f"CAST({damping} AS DOUBLE)"
    one = "CAST(1 AS DOUBLE)"
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """wund AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)""",
        "edges AS (SELECT pa AS src, pb AS dst, w FROM wund"
        " UNION ALL SELECT pb, pa, w FROM wund)",
        "wsum AS (SELECT src AS node, SUM(w) AS ws FROM edges GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM wsum)",
        f"r0 AS (SELECT node, {one} / nn.n AS rank FROM wsum CROSS JOIN nn)",
    ]
    for i in range(iters):
        ctes.append(f"""r{i + 1} AS (
  SELECT dg.node,
         ({one} - {d}) / nn.n
           + {d} * COALESCE(CAST(s.m AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
  FROM wsum dg CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(r.rank * e.w / ws.ws AS DECIMAL(28,14))) AS m
    FROM edges e
    JOIN r{i} r ON r.node = e.src
    JOIN wsum ws ON ws.node = e.src
    GROUP BY e.dst
  ) s ON s.node = dg.node
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(r.node AS BIGINT) AS part_key,
       ROUND(r.rank, 12) AS rank,
       CAST(dg.ws AS BIGINT) AS copurchase_weight
FROM r{iters} r JOIN wsum dg ON dg.node = r.node
ORDER BY r.rank DESC, r.node
LIMIT {top}
"""
    )


_WPR_ORACLE = _wpr_oracle()


@register("copurchase_pagerank_weighted", oracle=_WPR_ORACLE)
def copurchase_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: edges carry co-purchase MULTIPLICITY (how
    many orders contained the pair), and each node distributes rank
    proportionally to edge weight (rank * w / strength) — repeat
    co-purchases count for more than one-off baskets, the usual
    refinement once the unweighted walk (B93) is in place. Same
    decimal-sum determinism, materialization, and broadcast-tier
    shape; weights and strengths are integers, so only the mirrored
    rank arithmetic is float."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    lp = li.select("l_orderkey", "l_partkey").distinct()
    sets = lp.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    wund = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> transform("
                    "filter(ps, y -> y > x), y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("e")
        )
        .groupBy("e.pa", "e.pb")
        .agg(F.count("*").alias("w"))
    )
    edges = wund.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst"), "w"
    ).unionAll(wund.select(F.col("pb").alias("src"), F.col("pa").alias("dst"), "w"))
    wsum = edges.groupBy("src").agg(F.sum("w").alias("ws"))
    nparts = int(li.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        edges.join(wsum.select(F.col("src").alias("wn"), "ws"), edges.src == F.col("wn"))
        .select("src", "dst", "w", "ws")
        .repartition(nparts, "src")
        .transform(pin)
    )
    nodes = edges.select(
        F.col("src").alias("node"), F.col("ws").alias("strength")
    ).distinct().transform(pin)
    n = nodes.count()
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n)).alias("rank"))
    pins = RoundPins()
    for _ in range(_ITERS):
        r_side = F.broadcast(ranks) if n <= _BCAST_NODES else ranks
        # symmetrized edges -> every node receives a contribution, so
        # the rebuild projects contrib directly (see pagerank()).
        ranks = (
            edges.join(r_side, edges.src == ranks.node)
            .select(
                F.col("dst"),
                (F.col("rank") * F.col("w") / F.col("ws")).cast(_DEC).alias("c"),
            )
            .groupBy("dst")
            .agg(
                (
                    (F.lit(1.0) - F.lit(_DAMP)) / F.lit(n)
                    + F.lit(_DAMP) * F.sum("c").cast("double")
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
            .transform(pins.pin)
        )
    return (
        ranks.join(nodes, "node")
        .select(
            F.col("node").cast("bigint").alias("part_key"),
            F.round(F.col("rank"), 12).alias("rank"),
            F.col("strength").cast("bigint").alias("copurchase_weight"),
        )
        .orderBy(F.desc("rank"), "part_key")
        .limit(_TOP)
    )


# ---------------------------------------------------------------- B109
_CORE_ROUNDS = 24  # >= observed convergence (19 at sf0.01) + margin;
#                    extra rounds are no-ops (the iteration is monotone)
# Delta-iteration switch: once fewer than this fraction of nodes
# changed last round, recompute only the affected neighborhood (two
# cheap semi-joins) instead of the full |E| aggregation. Above it the
# frontier covers most of the graph and the full path is cheaper.
_DELTA_FRAC = 0.3


def coreness_frame(
    edges: DataFrame, max_rounds: int = _CORE_ROUNDS
) -> DataFrame:
    """Per-node coreness (the largest k such that the node survives
    k-core peeling) via the distributed H-index iteration (Montresor,
    De Pellegrini & Miorandi 2011, "Distributed k-core
    decomposition"): start from c0(v) = deg(v) and repeat
    c(v) <- min(c(v), H({c(u) : u ~ v})) where H is the H-index of
    the neighbor estimates — monotone non-increasing, fixpoint =
    exact coreness. The sequential min-heap peel (Batagelj-Zaversnik)
    is inherently serial; the H-index form is one join + one
    map-side-combinable aggregation per round, the shape that
    distributes.

    Each round: neighbor estimates shuffle on dst, collect per node
    (bounded by max degree — for web-scale hub degrees the in-row
    list becomes a count-bucket H-index, same contract), H-index
    computed IN-ROW over the sorted list, state lineage truncated per
    round like :func:`pagerank`. Early-stops via observe() when no
    value changed, so converged graphs never pay the full round
    budget; ``max_rounds`` keeps the unrolled oracle replayable.

    DELTA ITERATION (r6): after any round, a node's H can differ next
    round ONLY if some neighbor's estimate changed this round — so
    once the changed set is small (< ``_DELTA_FRAC`` of nodes), the
    recompute runs over the edges incident to changed nodes only:
    candidates = srcs with a changed dst, H recomputed just for them
    against the full current state, everyone else keeps c. The
    per-round states are identical to full recompute by induction
    (round 1 starts with every node changed), so the unrolled oracle
    still matches hash-exact; equality is additionally pinned by
    test. This pulls the long convergence tail (19+ rounds at sf0.01,
    a ~12x sf1 soak ratio) from rounds x |E| toward
    rounds x |E_active| — the dominant term at scale."""
    pins = RoundPins()
    cur = (
        edges.select(F.col("src").alias("node"), F.col("src_deg").alias("c"))
        .distinct()
        .transform(pins.pin)
    )
    n = cur.count()  # bounded driver scalar picks the join tier
    n_changed = n  # round 1: every node is "changed"
    changed = cur.select("node")
    hidx = (
        "aggregate(sequence(1, size(cs)), CAST(0 AS BIGINT),"
        " (a, j) -> greatest(a, least(element_at(cs, j), CAST(j AS BIGINT))))"
    )
    for _ in range(max_rounds):
        if n_changed == 0:
            break
        # the state table is node-sized: broadcast it EXPLICITLY —
        # checkpointed frames carry no stats, and under a small-driver
        # vanilla session the planner has been observed picking the
        # EDGE side as the broadcast candidate at sf0.1 (OOM)
        c_side = F.broadcast(cur) if n <= _BCAST_NODES else cur
        if n_changed > _DELTA_FRAC * n:
            act_edges = edges  # full recompute: delta joins not worth it
        else:
            ch_side = (
                F.broadcast(changed) if n_changed <= _BCAST_NODES else changed
            )
            cand = (
                edges.join(ch_side, edges.dst == changed.node, "left_semi")
                .select("src")
                .distinct()
            )
            cand_side = F.broadcast(cand) if n <= _BCAST_NODES else cand
            act_edges = edges.join(
                cand_side, edges.src == cand.src, "left_semi"
            )
        nb = (
            act_edges.join(c_side, act_edges.dst == cur.node)
            .groupBy(act_edges.src)
            .agg(F.sort_array(F.collect_list("c"), asc=False).alias("cs"))
            .select(F.col("src").alias("hn"), F.expr(hidx).alias("h"))
        )
        from pyspark.sql import Observation

        obs = Observation()
        # left join: nodes outside the candidate set keep c (their H
        # cannot have changed); new_c != c marks next round's frontier.
        # The change count rides the checkpoint action via observe()
        # instead of costing a separate per-round count job.
        stepped = (
            cur.join(nb, cur.node == F.col("hn"), "left")
            .select(
                "node",
                F.when(
                    F.col("h").isNotNull(), F.least(F.col("c"), F.col("h"))
                )
                .otherwise(F.col("c"))
                .alias("new_c"),
                F.col("c").alias("_old"),
            )
            .observe(
                obs,
                F.sum((F.col("new_c") != F.col("_old")).cast("long")).alias(
                    "changed"
                ),
            )
            .transform(pins.pin)
        )
        n_changed = int(obs.get["changed"] or 0)
        changed = stepped.where(F.col("new_c") != F.col("_old")).select("node")
        cur = stepped.select("node", F.col("new_c").alias("c"))
    return cur


def _coreness_oracle(rounds: int = _CORE_ROUNDS) -> str:
    """Unrolled H-index iteration: one (neighbor-list, H, min) CTE
    pair per round. Pure integer arithmetic — exact by construction.
    ``rounds`` exceeds the measured convergence round count, and the
    iteration is idempotent at the fixpoint, so the unrolled depth
    does not need to match Spark's early-stop round count."""
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """und AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        "edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM und UNION ALL SELECT pb, pa FROM und)",
        "r0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS c FROM edges GROUP BY src)",
    ]
    # every r{i} is referenced twice (the neighbor-list build and the
    # min-merge) and edges by every round: MATERIALIZED or the default
    # inlining re-expands the whole upstream chain per reference (the
    # exponential-CTE trap the mmr_diversify oracle documents).
    for i in range(rounds):
        ctes.append(f"""nb{i} AS MATERIALIZED (
  SELECT e.src AS node, list(c.c ORDER BY c.c DESC) AS cs
  FROM edges e JOIN r{i} c ON c.node = e.dst GROUP BY e.src
)""")
        ctes.append(f"""r{i + 1} AS MATERIALIZED (
  SELECT r.node, LEAST(r.c, list_max(list_transform(
    generate_series(1, len(nb.cs)), j -> LEAST(nb.cs[j], j)))) AS c
  FROM r{i} r JOIN nb{i} nb ON nb.node = r.node
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(c AS INTEGER) AS coreness,
  COUNT(*) AS n_parts,
  CAST(MIN(node) AS BIGINT) AS min_part,
  CAST(MAX(node) AS BIGINT) AS max_part
FROM r{rounds}
GROUP BY c ORDER BY coreness DESC
"""
    )


_CORENESS_ORACLE = _coreness_oracle()


@register("copurchase_kcore", oracle=_CORENESS_ORACLE)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph: the coreness
    histogram (how many parts survive to each peeling depth, with
    min/max part keys per level as deterministic witnesses). Coreness
    separates parts embedded in a densely cross-selling assortment
    from parts whose high degree is an artifact of a few big orders —
    the robustness signal degree alone cannot give (a hub connected
    to leaves has high degree and coreness 1). Runs the H-index
    iteration of :func:`coreness_frame`; the oracle unrolls the same
    integer recurrence, so the match is exact, not tolerance-based."""
    edges = copurchase_edges(spark, sf_dir)
    core = coreness_frame(edges)
    return (
        core.groupBy("c")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("node").alias("min_part"),
            F.max("node").alias("max_part"),
        )
        .select(
            F.col("c").cast("int").alias("coreness"),
            F.col("n_parts"),
            F.col("min_part").cast("bigint").alias("min_part"),
            F.col("max_part").cast("bigint").alias("max_part"),
        )
        .orderBy(F.desc("coreness"))
    )


# ---------------------------------------------------------------- B110
_LPA_ROUNDS = 4


def lpa_labels(edges: DataFrame, rounds: int = _LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    deterministic tie rule: every node adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label —
    synchronous updates plus a total tie order make the run a pure
    function of the graph (classic LPA's random update order is
    irreproducible, useless for an oracle-checked engine). A fixed
    round count bounds work and keeps the unrolled mirror replayable;
    communities denser than their surroundings stabilize in a few
    rounds (two bridged cliques label themselves by round 2, tested).
    Per round: one join (labels onto edge dsts), one (src, label)
    count aggregation, one per-src max_by argmax — all map-side
    combinable, lineage truncated per round.

    DELTA ITERATION (r6, same argument as :func:`coreness_frame`): a
    node's vote histogram differs from last round's ONLY if some
    neighbor's label changed, so once the changed set drops under
    ``_DELTA_FRAC`` of nodes the votes recompute only for srcs with a
    changed dst; everyone else keeps their label. Synchronous updates
    make the per-round states identical to full recompute, so the
    unrolled oracle still matches hash-exact."""
    pins = RoundPins()
    cur = (
        edges.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
        .distinct()
        .transform(pins.pin)
    )
    n = cur.count()  # bounded driver scalar picks the join tier
    n_changed = n  # round 1: every node is "changed"
    changed = cur.select("node")
    for _ in range(rounds):
        if n_changed == 0:
            break  # fixpoint: further synchronous rounds are no-ops
        # same explicit broadcast reasoning as coreness_frame
        c_side = F.broadcast(cur) if n <= _BCAST_NODES else cur
        if n_changed > _DELTA_FRAC * n:
            act_edges = edges
        else:
            ch_side = (
                F.broadcast(changed) if n_changed <= _BCAST_NODES else changed
            )
            cand = (
                edges.join(ch_side, edges.dst == changed.node, "left_semi")
                .select("src")
                .distinct()
            )
            cand_side = F.broadcast(cand) if n <= _BCAST_NODES else cand
            act_edges = edges.join(
                cand_side, edges.src == cand.src, "left_semi"
            )
        votes = (
            act_edges.join(c_side, act_edges.dst == cur.node)
            .groupBy(act_edges.src, "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        new_lbls = (
            votes.groupBy("src")
            .agg(F.expr("max_by(lbl, struct(cnt, -lbl))").alias("new_lbl"))
            .select(F.col("src").alias("vn"), "new_lbl")
        )
        from pyspark.sql import Observation

        obs = Observation()
        stepped = (
            cur.join(new_lbls, cur.node == F.col("vn"), "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("new_lbl"),
                F.col("lbl").alias("_old"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("new_lbl") != F.col("_old")).cast("long")
                ).alias("changed"),
            )
            .transform(pins.pin)
        )
        n_changed = int(obs.get["changed"] or 0)
        changed = stepped.where(F.col("new_lbl") != F.col("_old")).select("node")
        cur = stepped.select("node", F.col("new_lbl").alias("lbl"))
    return cur


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """und AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        "edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM und UNION ALL SELECT pb, pa FROM und)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges)",
    ]
    for i in range(rounds):
        ctes.append(f"""v{i} AS MATERIALIZED (
  SELECT e.src, c.lbl, COUNT(*) AS cnt
  FROM edges e JOIN l{i} c ON c.node = e.dst GROUP BY e.src, c.lbl
)""")
        ctes.append(f"""l{i + 1} AS MATERIALIZED (
  SELECT src AS node, lbl FROM (
    SELECT src, lbl,
      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cnt DESC, lbl ASC) AS rn
    FROM v{i}
  ) WHERE rn = 1
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(lbl AS BIGINT) AS community,
  COUNT(*) AS n_parts,
  CAST(MIN(node) AS BIGINT) AS min_part,
  CAST(MAX(node) AS BIGINT) AS max_part
FROM l{rounds}
GROUP BY lbl ORDER BY n_parts DESC, community
"""
    )


_LPA_ORACLE = _lpa_oracle()


@register("copurchase_communities", oracle=_LPA_ORACLE)
def copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the co-purchase graph by deterministic
    synchronous label propagation: the community histogram (label,
    member count, min/max part keys). On an assortment with real
    cross-sell clusters the labels split along them; a densely
    interconnected catalog collapses toward few communities — itself
    the finding (no substructure to merchandise against). The
    unrolled oracle replays the same integer votes and tie rule, so
    the match is exact even when synchronous LPA has not stabilized
    within the fixed rounds."""
    edges = copurchase_edges(spark, sf_dir)
    labels = lpa_labels(edges)
    return (
        labels.groupBy("lbl")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("node").alias("min_part"),
            F.max("node").alias("max_part"),
        )
        .select(
            F.col("lbl").cast("bigint").alias("community"),
            "n_parts",
            F.col("min_part").cast("bigint").alias("min_part"),
            F.col("max_part").cast("bigint").alias("max_part"),
        )
        .orderBy(F.desc("n_parts"), "community")
    )


# ---------------------------------------------------------------- B113
_TREND_ORACLE = f"""
WITH lo AS (
  SELECT l.l_orderkey, l.l_partkey, DATE_TRUNC('month', o.o_orderdate) AS m
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
pm AS (
  SELECT DISTINCT a.m, a.l_partkey AS pa, b.l_partkey AS pb
  FROM lo a JOIN lo b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
firsts AS (
  SELECT pa, pb, MIN(m) AS first_m FROM pm GROUP BY pa, pb
)
SELECT pm.m AS month,
  CAST(COUNT(*) AS BIGINT) AS n_active_edges,
  CAST(SUM(CASE WHEN pm.m = f.first_m THEN 1 ELSE 0 END) AS BIGINT)
    AS n_new_edges,
  {sql_round_rat('SUM(CASE WHEN pm.m = f.first_m THEN 1 ELSE 0 END)',
                 'COUNT(*)', 6)} AS new_frac
FROM pm JOIN firsts f ON f.pa = pm.pa AND f.pb = pm.pb
GROUP BY pm.m ORDER BY month
"""


@register("copurchase_trend", oracle=_TREND_ORACLE)
def copurchase_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL co-purchase graph churn: per month, how many distinct
    part pairs co-occurred in an order, and what fraction of them are
    NEW (first month that pair ever co-occurred) — the
    assortment-dynamics read (a maturing catalog shows new_frac
    decaying; a spike marks a merchandising change) that the static
    edge list cannot answer. Per-order pairs expand IN-ROW as
    always; each pair's month list aggregates once and its new-month
    flags come from one in-row sort + positional transform (no
    pair-month self-join); the month rollup is map-side combinable."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    lo = t["lineitem"].join(
        t["orders"].select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        ),
        "l_orderkey",
    )
    sets = lo.groupBy("l_orderkey", "m").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pm = (
        sets.select(
            "m",
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps)),"
                    " y -> struct(least(x, y) AS pa, greatest(x, y) AS pb))))"
                )
            ).alias("e"),
        )
        .select("m", "e.pa", "e.pb")
        .distinct()
    )
    per_pair = pm.groupBy("pa", "pb").agg(
        F.array_sort(F.collect_set("m")).alias("ms")
    )
    flags = per_pair.select(
        F.posexplode("ms").alias("idx", "month")
    ).select("month", (F.col("idx") == 0).cast("int").alias("is_new"))
    return (
        flags.groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_active_edges"),
            F.sum("is_new").cast("bigint").alias("n_new_edges"),
        )
        .select(
            "month",
            "n_active_edges",
            "n_new_edges",
            # integer-exact share (round_rat)
            round_rat("n_new_edges", "n_active_edges", 6).alias("new_frac"),
        )
        .orderBy("month")
    )
