"""Graph-analytics operators (SURVEY.md §2 extensions G1-G2) over a
deterministic derived edge set — the pair-graph staples beyond the
connected components already shipped in operators/dedup.py.

Edge set: distinct (u, v) = (o_custkey, o_orderkey mod 1500) with u < v —
arbitrary but engine-independent, giving a sparse ~|orders| graph that
both engines derive identically from the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.io import (
    load_table,
    scratch_path,
    scratch_table,
    write_bucketed,
)
from cellbase_spark.operators.ckpt import build_persist
from cellbase_spark.registry import register

_EDGES_SQL = """
SELECT DISTINCT LEAST(o_custkey, o_orderkey % 1500) AS u,
       GREATEST(o_custkey, o_orderkey % 1500) AS v
FROM orders WHERE o_custkey <> o_orderkey % 1500
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = F.col("o_orderkey") % 1500
    return (
        o.where(F.col("o_custkey") != m)
        .select(
            F.least(F.col("o_custkey"), m).alias("u"),
            F.greatest(F.col("o_custkey"), m).alias("v"),
        )
        .distinct()
    )


@register(
    "q_triangle_count",
    family="graph",
    oracle=f"""
WITH e AS ({_EDGES_SQL})
SELECT COUNT(*) AS n_triangles
FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting by oriented wedge closure: every edge is stored
    once as (u < v), so each triangle u<v<w is counted exactly once by
    joining wedges (u,v)+(v,w) against the closing edge (u,w). Two
    equi-join shuffles on node keys — the standard distributed algorithm
    (orientation kills the 6x duplication AND caps wedge fan-out by
    high-degree nodes' ORDER, not their degree). At 100 TB: partition
    edges by u, broadcast nothing, let AQE handle the wedge skew. The
    edge frame is persisted MEMORY_AND_DISK (evictable) and unpersisted
    by the thread's next registry build (ckpt.build_persist; see
    q_pagerank's note on why eager localCheckpoint accumulates
    non-evictable blocks across calls)."""
    e = build_persist(_edges(spark, sf_dir))
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    return wedges.join(e3, ["a", "c"]).agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "q_degree_distribution",
    family="graph",
    oracle=f"""
WITH e AS ({_EDGES_SQL}),
d AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
)
SELECT degree, COUNT(*) AS n_nodes FROM d GROUP BY degree
""",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the derived graph: two map-side-combinable
    hash aggs (node degree, then histogram). The first shuffle carries
    one row per node, the second one row per distinct degree."""
    e = _edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_PR_ITERS = 3

# One recursive step rendered as a CTE pair: contributions flow along the
# symmetric adjacency, are summed EXACTLY in decimal (order-independent),
# and the damping update is per-row IEEE (bit-identical across engines).
_PR_STEP_SQL = """
r{next} AS (
  SELECT a.dst AS node,
         0.15 + 0.85 * (CAST((SUM(CAST(CAST(r{cur}.rank / d.degree AS DECIMAL(25,10))
                                       * 10000000000 AS BIGINT)) + 5000) // 10000
                             AS DOUBLE) / 1e6) AS rank
  FROM adj a
  JOIN r{cur} ON a.src = r{cur}.node
  JOIN deg d ON a.src = d.node
  GROUP BY a.dst
)"""


def _pagerank_oracle() -> str:
    steps = ",".join(
        _PR_STEP_SQL.format(cur=i, next=i + 1) for i in range(_PR_ITERS)
    )
    return f"""
WITH e AS ({_EDGES_SQL}),
adj AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT src AS node, COUNT(*) AS degree FROM adj GROUP BY src),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
{steps}
SELECT node, ROUND(rank, 8) AS rank FROM r{_PR_ITERS}
"""


@register("q_pagerank", family="graph", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, {n} unrolled power iterations over the symmetric derived
    graph (damping 0.85, unnormalized teleport 0.15, r0 = 1). The oracle
    is the SAME {n} iterations as chained SQL CTEs — proving an iterative
    algorithm bit-matches when each iteration's sum goes through exact
    decimal and the damping update stays per-row IEEE.

    Spark plan: adjacency+degree computed once and persisted
    MEMORY_AND_DISK (the iteration input must not re-derive the edge set
    per round; the blocks stay EVICTABLE — lineage is kept, so an
    evicted block just recomputes — where an eager localCheckpoint's
    blocks are the only copy and can never be evicted: at sf10 two
    back-to-back calls accumulated ~2 non-evictable 43M-row caches and
    GC-locked the JVM). The thread's next registry build unpersists the
    frame (ckpt.build_persist), the same release contract as the eager
    checkpoints. Each round is one shuffle join rank⋈adj plus a dst-keyed
    hash agg. At 100 TB: pre-partition adj and ranks by the SAME key so
    every round's join is exchange-free, checkpoint every ~5 rounds to
    cut lineage, and let AQE coalesce the rank-side shuffle."""
    e = _edges(spark, sf_dir)
    adj = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    # adjacency annotated with the source degree once, reused every round
    adj_deg = build_persist(adj.join(deg, "src"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    for _ in range(_PR_ITERS):
        # Contributions sum in a LONG accumulator, not a wide decimal
        # (BigDecimal-backed, ~7x slower): the scale-10 cast is the same
        # half-up rounding, * 1e10 is exact, and the scale-6 re-round is
        # integer (s + 5000) div 10000. Bounds: per-edge uc <= rank*1e10
        # (~1e12), summed over |E| edges — int64-safe through ~1e6 edges
        # per dst; beyond that, split lanes as in q_agg_corr.
        uc = (
            (F.col("rank") / F.col("degree")).cast("decimal(25,10)") * 10000000000
        ).cast("bigint")
        ranks = (
            adj_deg.join(ranks, adj_deg.src == ranks.node)
            .select(F.col("dst"), uc.alias("uc"))
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    0.15
                    + 0.85
                    * (F.expr("(sum(uc) + 5000) div 10000").cast("double") / 1e6)
                ).alias("rank")
            )
        )
    return ranks.select("node", F.round("rank", 8).alias("rank"))


q_pagerank.__doc__ = q_pagerank.__doc__.format(n=_PR_ITERS)


def _adj_bucketed_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write the symmetric degree-annotated adjacency (src, dst, degree)
    as a 32-bucket, src-bucketed, src-sorted external table (once per
    process+sf — ingest-time layout, the joins.py _fact_bucketed_layout
    machinery applied to the graph family per VERDICT r6 item 4). Each
    PageRank power-iteration join then rides the bucket partitioning:
    the adjacency side needs NO exchange and NO sort (single-file
    buckets, trusted order), the rank side arrives hash-partitioned on
    the join key from the previous round's dst-keyed agg — so the ONLY
    per-round shuffle is the contribution transpose itself, which is the
    irreducible data motion of distributed PageRank. Degree is baked
    into the table so no per-round degree join/agg exists at all."""
    t_adj = scratch_table(sf_dir, "cb_adjb_edges")
    if not spark.catalog.tableExists(t_adj):
        e = _edges(spark, sf_dir)
        adj = (
            e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
            .unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        )
        deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        write_bucketed(
            adj.join(deg, "src"),
            t_adj,
            scratch_path(sf_dir, "adjbucketed", t_adj),
            "src",
            32,
        )
    return t_adj


@register("q_pagerank_bucketed", family="graph", oracle=_pagerank_oracle())
def q_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_pagerank on the INGEST-TIME bucketed adjacency layout — the
    bucketed-quartet trick (S13-S16) applied to the graph family: the
    per-round rank⋈adjacency join (the plain key's dominant sf10 cost
    alongside its 43M-row persist) is exchange-free (adjacency scans its 32 src-buckets in place;
    ranks arrive hash-partitioned on the join key from the previous
    round's agg), leaving exactly ONE exchange per iteration — the
    dst-keyed contribution transpose, PageRank's irreducible shuffle.
    No driver-side cache is needed at all (the plain key persists a
    43M-row adjacency at sf10 and must unpersist it across calls); the
    layout is immutable parquet, shared by repeated calls and safe
    under memory pressure by construction. Same exact-decimal rank
    algebra, same oracle as q_pagerank."""
    t_adj = _adj_bucketed_layout(spark, sf_dir)
    adj_deg = spark.table(t_adj)
    ranks = (
        adj_deg.groupBy("src")
        .agg(F.first(F.lit(1)).alias("_one"))
        .select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    )
    for _ in range(_PR_ITERS):
        uc = (
            (F.col("rank") / F.col("degree")).cast("decimal(25,10)") * 10000000000
        ).cast("bigint")
        ranks = (
            adj_deg.join(ranks, adj_deg.src == ranks.node)
            .select(F.col("dst"), uc.alias("uc"))
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    0.15
                    + 0.85
                    * (F.expr("(sum(uc) + 5000) div 10000").cast("double") / 1e6)
                ).alias("rank")
            )
        )
    return ranks.select("node", F.round("rank", 8).alias("rank"))
