"""cellbase_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference (imjp94/cellbase, a spreadsheet-as-database addon — see SURVEY.md;
/root/reference was empty at survey time, so parity claims are behavioral,
graded against the DuckDB oracle contract in ``__spark_entry__.py``),
re-expressed Spark-first and extended with LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) designed for
100 TB scale.

Layout:
    session.py    SparkSession builder: one table of engine settings, applied once
    schemas.py    explicit StructTypes for every table (FIXTURES.md)
    io.py         load_table / save helpers (parquet, csv, jsonl)
    registry.py   query registry: name -> (builder fn, oracle SQL)
    queries/      one module per SURVEY.md §2 family; registers queries
    operators/    reusable operator library (as-of join, dedup, similarity…)
    functions/    scalar/array function helpers (pure built-in compositions)
    sources/      spreadsheet-style sources (csv/jsonl with declared schema)
    streaming/    Structured Streaming pipelines mirroring batch queries
    plans/        plan-inspection utilities (explain/assert helpers)
"""

__version__ = "0.1.0"

from cellbase_spark.session import get_spark  # noqa: F401
from cellbase_spark.io import load_table  # noqa: F401
