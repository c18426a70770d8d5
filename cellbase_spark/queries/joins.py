"""Join queries (SURVEY.md §2.3 J1-J6, J9; J7/J8 live in specialty.py).

The reference has NO join operator — cross-table reference is a hand-rolled
per-row id lookup in a loop (SURVEY.md §2.3). Here every join is declared
via df.join and Catalyst/AQE picks the physical algorithm: broadcast-hash
for dims under the threshold, sort-merge/shuffled-hash for fact-fact, with
AQE skew-splitting at runtime — the property that makes the same code hold
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.functions.exact import dsum, dsum_sql
from cellbase_spark.io import load_table, scratch_path, scratch_table
from cellbase_spark.operators.factlayout import build_staged_fact_layout
from cellbase_spark.registry import register


@register(
    "q_join_inner",
    family="join",
    oracle="""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_totalprice > 100000
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join customer⋈orders; the o_totalprice filter is pushed
    below the join so the shuffle only carries qualifying orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_left",
    family="join",
    oracle="""
SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
  ON c.c_custkey = o.o_custkey
""",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (most customers have no huge order -> null side)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_full",
    family="join",
    oracle="""
SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
FROM (SELECT * FROM customer WHERE c_acctbal > 8000) c
FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
  ON c.c_custkey = o.o_custkey
""",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two filtered subsets (nulls on both sides)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 8000)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_semi",
    family="join",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): probe side streams, no row duplication,
    build side reduced to distinct keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q_join_anti",
    family="join",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no large order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 350000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q_join_broadcast",
    family="join",
    oracle="""
SELECT n.n_name, r.r_name, COUNT(*) AS n_customers,
       CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(25,10))), 2) AS DOUBLE) AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim joins with explicit broadcast(): nation (25 rows) and region
    (5 rows) ship to every executor — zero shuffle of the customer fact,
    the only correct plan when the fact side is 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_bal"),
        )
    )


@register(
    "q_join_cross",
    family="join",
    oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
""",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two dims (5 x 25); Spark requires the
    explicit crossJoin API — accidental cartesians don't type-check."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "q_star_join",
    family="join",
    oracle=f"""
SELECT r.r_name, n.n_name,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
""",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (region->nation->customer->orders->lineitem),
    revenue per nation. Dims broadcast; the single real shuffle is
    lineitem⋈orders on orderkey; AQE reorders/coalesces at runtime."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q_tpch_q3",
    family="join",
    oracle=f"""
SELECT l.l_orderkey,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority top orders): segment-filtered
    customer dim broadcast into orders, one shuffle join to lineitem on
    orderkey, then a 10-row TakeOrderedAndProject — the canonical
    filter-early/broadcast-small/top-k-late plan. Exact decimal revenue
    makes the top-10 cut deterministic across engines."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # customer scales with SF
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q_tpch_q5",
    family="join",
    oracle=f"""
SELECT n.n_name,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue by nation), selectivity-
    first join order: region→nation reduces customer 5x BEFORE orders,
    and the date+region-reduced orders relation is what meets lineitem —
    so the fact join's build side shrinks 5x before the big join, and
    AQE's runtime stats can (and at sf10 do) convert it to a broadcast,
    leaving lineitem without a single exchange. Measured at sf10
    (same session, results bit-identical): original order 6.7 s →
    reordered 3.8 s with the 64m AQE broadcast threshold, 5.4 s at the
    default threshold. At larger scales the reduced orders side outgrows
    the threshold and the join degrades gracefully to the spillable
    SMJ/SHJ — no forced-broadcast hint anywhere. The co-location
    condition s_nationkey = c_nationkey rides the supplier broadcast."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    # ASIA nation keys re-entered as literals (memoized config collect):
    # the In(c_nationkey)/In(s_nationkey) filters reach the customer and
    # supplier parquet scans, so both relations enter their joins ~1/5
    # sized instead of being reduced only after a full scan (round-9)
    asia_keys = _asia_nation_keys(spark, sf_dir, nr)
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(asia_keys)
    )
    s = load_table(spark, sf_dir, "supplier").where(
        F.col("s_nationkey").isin(asia_keys)
    )
    cr = c.join(F.broadcast(nr), c.c_nationkey == nr.n_nationkey).select(
        "c_custkey", "c_nationkey", "n_name"
    )
    o2 = o.join(cr, o.o_custkey == cr.c_custkey).select(
        "o_orderkey", "c_nationkey", "n_name"
    )
    return (
        l.join(o2, l.l_orderkey == o2.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == o2.c_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "q_join_salted",
    family="join",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join (operators/joins.salted_join): orders'
    custkey sharded 8 ways, the customer dim replicated across shards.
    The oracle is the PLAIN join — proving salting changes the physical
    distribution (no single hot-key straggler) but not one output row."""
    from cellbase_spark.operators.joins import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return salted_join(o, c, "o_custkey", salt=8).select(
        "o_orderkey", "o_custkey", "c_mktsegment"
    )


# build-once memos, held per-session via memo.session_memo (WeakKey —
# entries die with the session, so a recycled id() can never alias a
# dead session's cached table names / nation keys; r9 ADVICE low),
# keyed sf_dir inside: the layout-ensure catalog checks and q5's
# ASIA-key config collect are per-process constants over immutable
# testdata — paying them once per session instead of per call trims the
# measured 0.1-0.2 s driver floor on every bucketed/q5 call (BASELINE
# round-9 decomposition).


def _asia_nation_keys(spark: SparkSession, sf_dir: str, nr) -> list[int]:
    """The ASIA nation keys as literals (<= 25-row nation⋈region config
    collect), memoized per (session, sf_dir)."""
    from cellbase_spark.memo import session_memo

    memo = session_memo(spark, "asia_keys")
    keys = memo.get(sf_dir)
    if keys is None:
        keys = [int(row.n_nationkey) for row in nr.select("n_nationkey").collect()]
        memo[sf_dir] = keys
    return keys


def _fact_bucketed_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the fact tables as 32-bucket, orderkey-sorted external
    tables (once per process per sf — the layout is paid at ingest time
    in a real deployment, not per query). ONE shared layout serves every
    orderkey fact query (Q5/Q3/Q9/Q21 here — the deployment model: you
    lay the fact tables out once, every downstream query rides them).

    Round 7: the bucketed lineitem is DENORMALIZED — the 1:1-per-line
    order attributes (o_orderdate, o_orderstatus) and the 1:1-per-order
    customer attributes (c_mktsegment, c_nationkey) are baked in at
    ingest, because measured attribution showed the quartet's residual
    vs the baseline was exactly the query-time orders bucket-join +
    customer broadcast build, not the scan. Parquet column pruning keeps
    each individual query's scan narrow (a query that ignores the denorm
    lanes reads the same bytes as before), so widening the shared table
    costs the non-users nothing. The plain bucketed orders table is
    still written for queries that genuinely need order-grain rows.
    Returns the (lineitem, orders) table names.

    Built by the staged single-fact-shuffle build
    (operators/factlayout.py), the same one the durable attach face
    uses; the lineitem table is written last, so its presence in the
    catalog means the pair is complete."""
    t_l = scratch_table(sf_dir, "cb_factb_lineitem")
    t_o = scratch_table(sf_dir, "cb_factb_orders")
    if not spark.catalog.tableExists(t_l):
        build_staged_fact_layout(
            spark, sf_dir, 32, t_l, t_o, scratch_path(sf_dir, "factbucketed")
        )
    return t_l, t_o


@register(
    "q_tpch_q5_bucketed",
    family="join",
    oracle=f"""
SELECT n.n_name,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q_tpch_q5_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 on the DENORMALIZED bucketed fact layout (round 7). The
    round-6 bucketed form had already deleted the lineitem-sized
    exchange; measured attribution of its residual (BASELINE.md round-7
    section) put the remaining wall in the query-time orders bucket-join
    (~0.7 s at sf10) and the 1.5M-row ASIA customer broadcast build
    (~0.4 s) — both 1:1 lookups, so the layout now bakes o_orderdate and
    c_nationkey into the bucketed lineitem at ingest. The query
    collapses to scan-shape: one pruned fact scan with the date range
    pushed down, the supplier broadcast with the s_nationkey =
    c_nationkey colocation condition, a 25-row nation⋈region(ASIA)
    broadcast to name the nations, and the 5-row final agg — the single
    Exchange left in the plan (pinned in tests/test_plans.py). Same
    oracle as q_tpch_q5 — identical results.

    At 100 TB nothing here grows but the fact scan: both broadcast
    builds are dim-bounded (supplier filtered by the 25-row nation set,
    nation⋈region), and the fact side never shuffles."""
    t_l, _ = _fact_bucketed_layout(spark, sf_dir)
    bl = spark.table(t_l).where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    # ASIA nation keys as a memoized config collect (<= 25-row
    # nation⋈region) so the supplier BROADCAST BUILD scans a
    # nationkey-pruned relation — the In(s_nationkey) filter reaches the
    # parquet reader and the build carries ~1/5 of supplier (round-9)
    asia_keys = _asia_nation_keys(spark, sf_dir, nr)
    s = load_table(spark, sf_dir, "supplier").where(
        F.col("s_nationkey").isin(asia_keys)
    )
    return (
        # ASIA nation reduction FIRST (25→5 keys, ~1/5 of scanned rows
        # survive) so the supplier probe runs on the reduced stream —
        # measured 2x faster than supplier-first at sf10
        bl.join(F.broadcast(nr), F.col("c_nationkey") == nr.n_nationkey)
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == s.s_suppkey)
            & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "q_tpch_q3_bucketed",
    family="join",
    oracle=f"""
SELECT l.l_orderkey,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 on the DENORMALIZED bucketed fact layout (round 7): with
    o_orderdate and c_mktsegment baked into the bucketed lineitem at
    ingest, Q3 is a PURE SCAN-AGGREGATE — no join of ANY kind left in
    the plan (pinned in tests/test_plans.py). All three predicates
    (shipdate, orderdate, mktsegment) push into the one parquet scan,
    the groupBy(l_orderkey, o_orderdate) agg is satisfied by the bucket
    hash partitioning (l_orderkey ⊆ grouping keys, so Catalyst elides
    the exchange), and the top-10 is a TakeOrderedAndProject — zero
    shuffle exchanges end to end. Same oracle as q_tpch_q3 — identical
    results.

    At 100 TB this is the floor for Q3: one pruned columnar scan with
    every filter pushed down, partial aggs bucket-local, and a 10-row
    driver result. Nothing in the plan grows faster than the scan."""
    t_l, _ = _fact_bucketed_layout(spark, sf_dir)
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    bl = spark.table(t_l).where(
        (F.col("l_shipdate") > cutoff)
        & (F.col("o_orderdate") < cutoff)
        & (F.col("c_mktsegment") == "BUILDING")
    )
    return (
        bl.groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---- cross-session attach of the denormalized fact layout (round 15) —
# the FIFTH persisted-artifact family: the quartet's bucketed layout was
# (process, sf)-keyed scratch, so every fresh session re-paid the full
# denorm build before its first layout query. ---------------------------


_FACT_LAYOUT_INGEST_SCRIPT = """
import sys
sf_dir, n_buckets, t_l, t_o, home_l, home_o, scratch = (
    sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5],
    sys.argv[6], sys.argv[7],
)
from cellbase_spark.session import get_spark
spark = get_spark("cellbase-ingest-factlayout")
spark.sparkContext.setLogLevel("ERROR")
from cellbase_spark.operators.factlayout import build_staged_fact_layout

build_staged_fact_layout(
    spark, sf_dir, n_buckets, t_l, t_o, scratch,
    publish=True, home_l=home_l, home_o=home_o,
)
spark.stop()
"""


def _fact_bucketed_layout_attached(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> tuple[str, str]:
    """Cross-session twin of _fact_bucketed_layout: the denormalized
    bucketed fact pair as DURABLE published artifacts — built once per
    (sf, source signature) by a separate ingest interpreter via the
    STAGED single-fact-shuffle build (operators/factlayout.py), then
    ATTACHED by every serving session. The manifests record the bucket
    specs, so the foreign catalog recreates the layout's whole cost
    model: bucket-hash partitioning elides the quartet's fact
    exchanges, SelectedBucketsCount pruning survives, and the one-file-
    per-bucket sortBy trust holds. The child publishes orders FIRST and
    lineitem LAST, so lineitem's pointer (the one foreign_ingest waits
    on) implies the whole layout is serveable."""
    import os as _os

    from cellbase_spark.io import durable_path, source_signature
    from cellbase_spark.operators.publish import (
        attach_artifact,
        foreign_ingest,
        pointer_path,
    )

    sig = source_signature(sf_dir, "lineitem", "orders", "customer")
    home_l = durable_path(sf_dir, sig, f"factlayout_l_{n_buckets}")
    home_o = durable_path(sf_dir, sig, f"factlayout_o_{n_buckets}")
    t_l = f"cb_factb_att_l_{n_buckets}_{sig}"
    t_o = f"cb_factb_att_o_{n_buckets}_{sig}"
    if not _os.path.exists(pointer_path(home_l)):
        foreign_ingest(
            home_l,
            _FACT_LAYOUT_INGEST_SCRIPT,
            [sf_dir, str(n_buckets), t_l, t_o, home_l, home_o,
             _os.path.dirname(home_l)],
        )
    attach_artifact(spark, t_o, home_o)
    attach_artifact(spark, t_l, home_l)
    return t_l, t_o


@register(
    "q_tpch_q3_bucketed_attach",
    family="join",
    oracle=f"""
SELECT l.l_orderkey,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3_bucketed_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 on an ATTACHED denormalized fact layout built by a
    DIFFERENT process — the cross-session attach mechanism applied to
    the FIFTH persisted-artifact family (after the ANN index, BM25
    postings, dedup band table, and single-table bucketed layouts): the
    quartet's shared layout itself. A fresh serving session pays
    catalog registration only (pointer read + manifest validation +
    CREATE with the recorded bucket spec), then Q3 runs exactly as
    q_tpch_q3_bucketed: a pure scan-aggregate — all three predicates
    pushed into the one bucketed scan, the (l_orderkey, o_orderdate)
    agg satisfied by the recreated bucket hash partitioning (ZERO
    shuffle exchanges, plan-pinned in tests/test_plans.py), top-10 as
    TakeOrderedAndProject. Same oracle as q_tpch_q3 — attach must lose
    nothing. At 100 TB this is the serving model: the 278 s staged
    ingest (sf100, BASELINE round-15) is paid once; every session
    thereafter reads the fact in place."""
    t_l, _ = _fact_bucketed_layout_attached(spark, sf_dir)
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    bl = spark.table(t_l).where(
        (F.col("l_shipdate") > cutoff)
        & (F.col("o_orderdate") < cutoff)
        & (F.col("c_mktsegment") == "BUILDING")
    )
    return (
        bl.groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
