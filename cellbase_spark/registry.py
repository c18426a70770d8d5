"""Query registry: the single source of truth wiring SURVEY.md §2 operator
inventory to the driver contract in ``__spark_entry__.py``.

Each registered query is a pair:
- a builder ``fn(spark, sf_dir) -> DataFrame`` (the Spark-first
  implementation), and
- an optional ANSI-SQL oracle string DuckDB runs over the same parquet
  (``None`` => the driver's weaker rows-only check, reserved for genuinely
  non-SQL-expressible or randomized operators).

Determinism rules enforced by convention here (SURVEY.md §5.2):
- alias every computed column identically in both engines;
- round floating aggregates on both sides;
- make collected lists order-stable (sort_array / ORDER BY inside list());
- break window/order ties with a unique key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    family: str
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, family: str, doc: str = ""):
    """Decorator: add a query builder + its oracle to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # free this thread's PREVIOUS query build's eager-checkpoint
            # blocks (non-evictable otherwise; see operators/ckpt.py) —
            # all engine surfaces consume a query's result before
            # building the next one, so those blocks are dead weight by
            # now. The build scope names (key, sf_dir) for the probe
            # caches that key on it.
            from cellbase_spark.operators.ckpt import registry_build, release_prior

            release_prior()
            with registry_build(name, sf_dir):
                return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, family=family, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _ordered_keys() -> list[str]:
    """Registry keys with the per-round gate-priority prefix first.

    The driver's correctness gate records only a bounded prefix (~50 keys)
    of this order each round, so the priority list rotates per round to
    give every key an official oracle row across rounds (the full battery
    always runs locally via scripts/check_oracle.py regardless of order).
    Unknown/stale names in the priority list are ignored; unlisted keys
    keep their registration order after the prioritized ones.
    """
    from cellbase_spark.queries import GATE_PRIORITY

    head = [k for k in GATE_PRIORITY if k in REGISTRY]
    seen = set(head)
    return head + [k for k in REGISTRY if k not in seen]


def queries() -> dict[str, QueryFn]:
    import cellbase_spark.queries  # noqa: F401  (populates REGISTRY)

    return {k: REGISTRY[k].fn for k in _ordered_keys()}


def oracle_sql() -> dict[str, str]:
    import cellbase_spark.queries  # noqa: F401

    return {
        k: REGISTRY[k].oracle
        for k in _ordered_keys()
        if REGISTRY[k].oracle is not None
    }
