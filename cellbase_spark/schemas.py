"""Explicit StructTypes for every table (exact parquet schemas; FIXTURES.md).

The reference (cellbase) requires users to *declare* row types on their row
subclass and coerces spreadsheet strings onto them at load; our analog is
explicit-first schemas used for CSV/JSONL ingestion and validation, while
parquet carries its own footer schema. Each declaration equals the schema
Spark infers from its file (tests/test_schemas.py): the timestamp columns
are written without a UTC adjustment and read as ``timestamp_ntz``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


REGION = _st(("r_regionkey", IntegerType()), ("r_name", StringType()))

NATION = _st(
    ("n_nationkey", IntegerType()),
    ("n_name", StringType()),
    ("n_regionkey", IntegerType()),
)

SUPPLIER = _st(
    ("s_suppkey", LongType()),
    ("s_name", StringType()),
    ("s_nationkey", IntegerType()),
    ("s_acctbal", DoubleType()),
)

CUSTOMER = _st(
    ("c_custkey", LongType()),
    ("c_name", StringType()),
    ("c_nationkey", IntegerType()),
    ("c_acctbal", DoubleType()),
    ("c_mktsegment", StringType()),
)

PART = _st(
    ("p_partkey", LongType()),
    ("p_name", StringType()),
    ("p_brand", StringType()),
    ("p_type", StringType()),
    ("p_size", IntegerType()),
    ("p_retailprice", DoubleType()),
)

ORDERS = _st(
    ("o_orderkey", LongType()),
    ("o_custkey", LongType()),
    ("o_orderstatus", StringType()),
    ("o_totalprice", DoubleType()),
    ("o_orderdate", TimestampNTZType()),
    ("o_orderpriority", StringType()),
)

LINEITEM = _st(
    ("l_orderkey", LongType()),
    ("l_partkey", LongType()),
    ("l_suppkey", LongType()),
    ("l_linenumber", IntegerType()),
    ("l_quantity", DoubleType()),
    ("l_extendedprice", DoubleType()),
    ("l_discount", DoubleType()),
    ("l_tax", DoubleType()),
    ("l_returnflag", StringType()),
    ("l_linestatus", StringType()),
    ("l_shipdate", TimestampNTZType()),
)

EVENTS = _st(
    ("event_id", LongType()),
    ("ts", TimestampNTZType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)

DOCUMENTS = _st(
    ("doc_id", LongType()),
    ("text", StringType()),
    ("lang", StringType()),
    ("source", StringType()),
    ("n_chars", LongType()),
)

EMBEDDINGS = _st(
    ("vec_id", LongType()),
    ("embedding", ArrayType(FloatType())),
    ("label", IntegerType()),
)

TABLES: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "supplier": SUPPLIER,
    "customer": CUSTOMER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TABLE_NAMES = list(TABLES)
