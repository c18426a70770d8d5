"""Specialty join queries (SURVEY.md §2.3 J7 range, J8 as-of)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from cellbase_spark.io import load_table
from cellbase_spark.operators.joins import asof_join, band_join
from cellbase_spark.registry import register

_BANDS = [
    ("debt", -100000.0, 0.0),
    ("low", 0.0, 2500.0),
    ("mid", 2500.0, 7000.0),
    ("high", 7000.0, 100000.0),
]
_BAND_SCHEMA = StructType(
    [
        StructField("band", StringType()),
        StructField("lo", DoubleType()),
        StructField("hi", DoubleType()),
    ]
)
_BANDS_SQL = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)


@register(
    "q_join_range",
    family="join",
    oracle=f"""
SELECT c.c_custkey, c.c_acctbal, b.band
FROM customer c
JOIN (VALUES {_BANDS_SQL}) AS b(band, lo, hi)
  ON c.c_acctbal >= b.lo AND c.c_acctbal < b.hi
""",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band join: customer balances into literal bands via the
    band_join operator (broadcast + BroadcastNestedLoopJoin)."""
    c = load_table(spark, sf_dir, "customer")
    bands = spark.createDataFrame(_BANDS, _BAND_SCHEMA)
    return band_join(c, bands, "c_acctbal").select("c_custkey", "c_acctbal", "band")


@register(
    "q_join_asof",
    family="join",
    oracle="""
WITH purchases AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts, value AS c_value
  FROM events WHERE event_type = 'click'
)
SELECT p_id, user_id, p_ts, p_value, c_id, c_ts, c_value
FROM (
  SELECT p.p_id, p.user_id, p.p_ts, p.p_value, c.c_id, c.c_ts, c.c_value,
         ROW_NUMBER() OVER (PARTITION BY p.p_id
                            ORDER BY c.c_ts DESC NULLS LAST, c.c_id DESC NULLS LAST) AS rn
  FROM purchases p
  LEFT JOIN clicks c ON p.user_id = c.user_id AND c.c_ts <= p.p_ts
) WHERE rn = 1
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event gets the latest prior-or-equal
    click by the same user (asof_join operator: union + carry-forward
    window — one shuffle, no range blowup; see operators/joins.py).
    The oracle is the O(n*m) range-join+row_number algebra — identical
    semantics, intentionally the formulation we do NOT run at scale.
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="p_ts",
        right_ts="c_ts",
        right_cols=["c_id", "c_ts", "c_value"],
        tie_break="c_id",
    ).select("p_id", "user_id", "p_ts", "p_value", "c_id", "c_ts", "c_value")


@register(
    "q_sql_recursive",
    family="specialty",
    oracle="""
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
  UNION ALL
  SELECT node, cur // 7 AS cur, depth + 1 FROM anc WHERE cur > 0
)
SELECT a.node AS c_custkey,
       count(*) AS n_ancestors,
       CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS chain_bal
FROM anc a JOIN customer c ON a.cur = c.c_custkey
WHERE a.depth > 0
GROUP BY a.node
""",
)
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark >= 4.0): ancestor-chain
    aggregation over the derived 7-ary hierarchy parent(k) = k div 7 —
    each customer's data-dependent chain of ancestors (depth varies by
    key) joined back to customer and decimal-summed. Exercises the one
    SQL surface the DataFrame API can't express: iteration to a
    data-dependent depth inside ONE declarative query (contrast with
    operators/dedup.connected_components, which drives the loop from the
    driver). Spark plans each recursive step as a UnionLoop over the
    previous level — rows per level shrink geometrically here, so the
    loop is ~log7(maxkey) cheap narrow steps.

    The only cross-engine syntax delta is integer division (`div` vs
    `//`); everything else is shared ANSI."""
    from cellbase_spark.io import load_table

    # only relation the query touches — registering the full catalog
    # costs ~10 schema reads of pure overhead on this fixed-cost key
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    # the accumulated UnionLoop output is n_rows * chain_depth, over
    # Spark's 1M-row default at ~150k customers: the engine's settings
    # table raises spark.sql.cteRecursionRowLimit session-wide
    # (session._RUNTIME_CONF), so the query stays lazy.
    return spark.sql(
        """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
  UNION ALL
  SELECT node, cur div 7 AS cur, depth + 1 FROM anc WHERE cur > 0
)
SELECT a.node AS c_custkey,
       count(*) AS n_ancestors,
       CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS chain_bal
FROM anc a JOIN customer c ON a.cur = c.c_custkey
WHERE a.depth > 0
GROUP BY a.node
"""
    )


@register(
    "q_subquery_correlated",
    family="specialty",
    oracle="""
SELECT o_orderkey, o_totalprice,
       (SELECT CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
        FROM lineitem WHERE l_orderkey = o_orderkey) AS total_qty
FROM orders
""",
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: per order, the decimal-summed lineitem
    quantity. Catalyst's RewriteCorrelatedScalarSubquery de-correlates
    this into an aggregate + LEFT OUTER join — i.e., the executed plan is
    a join, never a per-row re-scan (check: one Aggregate feeding a Join
    in the physical plan). That rewrite is exactly why the declarative
    form scales; the oracle runs the identical SQL."""
    from cellbase_spark.io import load_table

    for t in ("orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
SELECT o_orderkey, o_totalprice,
       (SELECT CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
        FROM lineitem WHERE l_orderkey = o_orderkey) AS total_qty
FROM orders
"""
    )


@register(
    "q_lateral_topk",
    family="specialty",
    oracle="""
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
""",
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (top-2 customers per nation): the SQL
    spelling of q_topk_per_group. Spark plans the lateral as a
    de-correlated window/join, not a per-nation re-scan; identical SQL in
    DuckDB. Tie-broken by c_custkey so both engines pick the same rows."""
    from cellbase_spark.io import load_table

    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
"""
    )


@register(
    "q_unpivot",
    family="specialty",
    oracle="""
WITH wide AS (
  SELECT user_id,
         CAST(ROUND(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS click,
         CAST(ROUND(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS view,
         CAST(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS purchase
  FROM events GROUP BY user_id
)
SELECT user_id, event_type, total FROM (
  SELECT user_id, 'click' AS event_type, click AS total FROM wide
  UNION ALL SELECT user_id, 'view', view FROM wide
  UNION ALL SELECT user_id, 'purchase', purchase FROM wide
) WHERE total IS NOT NULL
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of q_pivot): wide per-user sums of three
    event types back to long (user_id, event_type, total), NULL cells
    dropped — df.unpivot (Spark >= 3.4) compiles to a single Expand node
    (each input row emits k rows in-place, no shuffle beyond the agg);
    the oracle spells the same thing as UNION ALL."""
    ev = load_table(spark, sf_dir, "events")

    def cell(t: str) -> F.Column:
        return (
            F.round(
                F.sum(
                    F.when(
                        F.col("event_type") == t,
                        F.col("value").cast("decimal(18,2)"),
                    )
                ),
                2,
            )
            .cast("double")
            .alias(t)
        )

    wide = ev.groupBy("user_id").agg(cell("click"), cell("view"), cell("purchase"))
    return wide.unpivot(
        ids=["user_id"],
        values=["click", "view", "purchase"],
        variableColumnName="event_type",
        valueColumnName="total",
    ).where(F.col("total").isNotNull())
