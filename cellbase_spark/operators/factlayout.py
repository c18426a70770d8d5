"""Staged build of the denormalized bucketed fact layout — as a
REUSABLE operator, for both the in-process layout
(queries/joins._fact_bucketed_layout) and the durable cross-session
ingest (queries/joins._fact_bucketed_layout_attached).

Why staged (r14 verdict #1, proven at sf100 in round 15): a one-shot
layout build shuffles the widened fact table TWICE — once for the
orders⋈customer denorm SMJ, once for the bucket repartition — a ~90 GB
transient peak at sf100. Staging materializes orders⋈customer first as
a TRANSIENT table bucketed on o_orderkey, so the big join's probe side
arrives pre-partitioned and never shuffles; the fact side shuffles
exactly once, by an explicit `repartition(n_buckets, l_orderkey)` —
HashPartitioning's murmur3-pmod IS the bucket-id function, so the join
output lands one-partition-per-bucket and the bucketBy writer needs no
second shuffle. `io.write_bucketed` checks the file count after every
write: a count above `n_buckets` means the alignment was lost (sortBy
trust would silently vanish) and the build FAILS rather than serve or
publish a slow layout.

At a deployment this halves ingest shuffle volume at any scale; the
bucket count is the partition-sizing lever (128 at sf100 ≈ 0.4 GB of
sort per write task under local[32])."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.io import load_table, write_bucketed

WIDE_LINEITEM_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_shipdate",
)
OC_COLS = (
    "o_orderkey", "o_orderdate", "o_orderstatus", "c_mktsegment", "c_nationkey"
)


def staged_oc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer, the 1:1-per-order denorm side (unbucketed plan;
    callers land it bucketed on o_orderkey)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"
    )
    return (
        orders.join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        ).select(*OC_COLS)
    )


def build_staged_fact_layout(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int,
    t_l: str,
    t_o: str,
    scratch_dir: str,
    publish: bool = False,
    home_l: str | None = None,
    home_o: str | None = None,
) -> tuple[str, str]:
    """Build the denormalized bucketed fact pair with ONE fact shuffle.

    publish=False (scratch face): tables land directly at
    `scratch_dir/<table>` under the given catalog names — the
    per-process form `_fact_bucketed_layout` builds.
    publish=True (durable face): each table goes through
    publish_artifact under its naming base (`home_l`/`home_o`), so a
    FOREIGN session can attach_artifact both — the manifest records the
    bucket spec and attach recreates it (bucket pruning + exchange
    elision survive process death). t_o publishes FIRST and t_l LAST,
    so the presence of t_l's pointer implies the whole layout is
    serveable (foreign_ingest waits on exactly that pointer)."""
    if publish and not (home_l and home_o):
        raise ValueError("publish=True requires home_l and home_o")
    oc_t = f"{t_l}_oc_stage"
    oc_path = os.path.join(scratch_dir, oc_t)
    try:
        write_bucketed(
            staged_oc(spark, sf_dir), oc_t, oc_path, "o_orderkey", n_buckets
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"
        )
        wide = (
            load_table(spark, sf_dir, "lineitem")
            .select(*WIDE_LINEITEM_COLS)
            .repartition(n_buckets, F.col("l_orderkey"))
        )
        wide = wide.join(
            spark.table(oc_t).withColumnRenamed("o_orderkey", "_ok"),
            wide.l_orderkey == F.col("_ok"),
        ).drop("_ok")

        from cellbase_spark.operators.publish import publish_artifact

        def land(df, table, home, key, kind, pre_partitioned=False):
            def write(tt, tp):
                write_bucketed(df, tt, tp, key, n_buckets, pre_partitioned)

            if publish:
                publish_artifact(spark, table, home, write, {"cellbase.kind": kind})
            else:
                write(table, os.path.join(scratch_dir, table))

        land(orders, t_o, home_o, "o_orderkey", "fact_layout_orders")
        land(wide, t_l, home_l, "l_orderkey", "fact_layout_lineitem_denorm",
             pre_partitioned=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {oc_t}")
        shutil.rmtree(oc_path, ignore_errors=True)
    return t_l, t_o
