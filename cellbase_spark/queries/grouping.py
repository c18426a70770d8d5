"""Advanced grouping: ROLLUP / CUBE / PIVOT / collect (SURVEY.md §2.4 A6-A9).

Spark plans rollup/cube as an Expand node (one duplicated row per grouping
set) feeding the same two-phase hash aggregate — shuffle scales with
(#grouping sets x groups), not input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.functions.exact import dsum, dsum_sql
from cellbase_spark.io import fan_out, load_table
from cellbase_spark.registry import register

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_agg_rollup",
    family="agg",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice', 'total')}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority): per-pair, per-status subtotals, grand
    total; grouping_id disambiguates real NULLs from subtotal rows."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total")


@register(
    "q_agg_cube",
    family="agg",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_items,
       {dsum_sql('l_quantity', 'total_qty')}
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus): all 2^2 grouping sets in one pass."""
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity"
        )
    )
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity", "total_qty"),
    ).select("l_returnflag", "l_linestatus", "gid", "n_items", "total_qty")


@register(
    "q_pivot",
    family="agg",
    oracle=f"""
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click_n,
       COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error_n,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
       COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup_n,
       COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view_n,
       {dsum_sql("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END", 'purchase_value')}
FROM events
GROUP BY user_id
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns (explicit value list => stable output
    schema without a discovery pass — mandatory at scale). Oracle is the
    portable SUM(CASE...) rendering."""
    e = load_table(spark, sf_dir, "events")
    counts = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    for t in _EVENT_TYPES:
        counts = counts.withColumnRenamed(t, f"{t}_n").withColumn(
            f"{t}_n", F.coalesce(F.col(f"{t}_n"), F.lit(0))
        )
    pv = e.groupBy("user_id").agg(
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0),
            "purchase_value",
        )
    )
    return counts.join(pv, "user_id")


@register(
    "q_agg_collect",
    family="agg",
    oracle="""
SELECT c_nationkey,
       array_to_string(list(c_mktsegment ORDER BY c_mktsegment), ',') AS segs_all,
       array_to_string(list(DISTINCT c_mktsegment ORDER BY c_mktsegment), ',') AS segs_set,
       COUNT(*) AS n
FROM customer
GROUP BY c_nationkey
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set per group, made deterministic with
    sort_array and compared as joined strings (collection order is
    partition-dependent otherwise)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("c_mktsegment")), ",").alias("segs_all"),
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias("segs_set"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_grouping_sets",
    family="agg",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {dsum_sql('o_totalprice', 'total')}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (arbitrary subtotal combinations — rollup
    and cube are special cases): one Expand node feeds a single two-phase
    hash aggregate, so N grouping sets cost one pass, not N."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("cb_orders_gs")
    return spark.sql(
        f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {dsum_sql('o_totalprice', 'total')}
FROM cb_orders_gs
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
"""
    )
