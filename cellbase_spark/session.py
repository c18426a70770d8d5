"""SparkSession builder tuned for this engine.

Every engine SQL setting lives in ONE table, ``_RUNTIME_CONF``, and is
applied once: ``get_spark`` passes it to the builder (``getOrCreate``
applies runtime builder options to an already-running session too), and
``configure_session`` applies it to a session the engine did not build
(the driver contract, ``__spark_entry__``). Caller ``extra_conf`` is laid
over the table and wins.

Scale notes (100 TB design intent, local test reality):
- master: ``local[$SPARK_GRAFT_CPUS]``, or ``local[*]`` (every core) when
  unset.
- AQE on: runtime partition coalescing + skew-join splitting (both on by
  default once AQE is) replace any hand-tuned static plan; at cluster
  scale AQE re-plans from shuffle stats.
- shuffle.partitions: a constant 32 locally; on a real cluster this is
  set to ~2-3x total executor cores, and AQE coalesces small partitions.
  Streaming state stores are sized separately, at stream start
  (streaming/pipelines.start_stream).
- UTC session timezone: parquet timestamps are naive; both the engine and
  the DuckDB oracle must interpret them identically.
- Arrow enabled: every Python<->JVM boundary (toPandas, pandas UDFs) is
  Arrow-batched, never row-at-a-time pickling.
- nanosAsLong: tolerance for TIMESTAMP(NANOS) parquet inputs (which
  Spark does not natively read); io.load_table and the streaming reader
  detect such files and convert to microsecond TimestampType (identical
  truncation to DuckDB's ns->us read). The driver testdata itself is
  timestamp[us] and takes the native path.
- Python worker daemon: ``cellbase_spark.pydaemon`` (static
  ``spark.python.daemon.module``) instead of ``pyspark.daemon``. Every
  Python task invalidates the import caches, and on Python 3.11 that
  re-reads the directory of Spark's 3.5 MB pyspark.zip once per
  zipimporter, 16 times per task on a warm worker. The engine daemon
  exempts the archives that were on ``sys.path`` at its start (Spark's own
  pyspark and py4j zips, which never change while it lives). Measured on
  4 cores: a warm one-partition ``rdd.map`` job 0.31-0.43 s -> 0.10-0.16 s,
  a warm ``mapInPandas`` job 0.47-0.67 s -> 0.26-0.30 s. The package root
  goes on the workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``) so
  the daemon imports whatever the driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Conf keys that are safe to set on an already-running session and that the
# engine depends on for correctness (timezone), for reading the testdata
# (nanos timestamps), or for sane shuffle sizing (a foreign session's
# default 200 partitions means 200 tasks per 25 MB shuffle at test scale).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Size-gated SMJ->SHJ conversion: AQE converts a sort-merge join to
    # a shuffled hash join only when runtime stats show every build-side
    # partition map fits under this threshold, so it never builds an
    # unbounded hash table (unlike preferSortMergeJoin=false). Measured
    # at sf10 (60M lineitem): q_tpch_q5 9.6s SMJ -> 6.3-7.3s converted;
    # above the threshold the plan stays the spillable SMJ, which is
    # the robust 100 TB default.
    "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold": "128m",
    # AQE-only broadcast threshold: unlike the static 10m default this
    # one acts on ACCURATE runtime shuffle sizes, so a filter-reduced
    # join side under 64 MB converts to broadcast after the fact
    # (q_tpch_q5's date+region-reduced orders at sf10: 5.4s -> 3.8s).
    # Static planning keeps the 10m threshold, and explicit merge
    # hints (q_knn_join_smj) are preserved through AQE re-planning.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Trust sortBy order on bucketed scans whose buckets are single
    # files (Spark verifies the one-file-per-bucket precondition itself;
    # multi-file buckets keep the defensive re-Sort). The engine writes
    # bucketed layouts repartitioned to the bucket count, so its sorted
    # layouts qualify: drops the per-partition Sort under bucket-local
    # SMJs (q_tpch_q5_bucketed sf10: 2.8s -> 2.1s).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Always read the engine's bucketed layouts AS bucketed: the
    # DisableUnnecessaryBucketedScan planner rule only credits bucketing
    # that feeds an interesting partitioning (join/agg), so it silently
    # drops the bucketed scan — and with it BUCKET PRUNING — on a point
    # lookup, reverting `SelectedBucketsCount: 1 out of 16` to a scan of
    # every file (r12, q_point_lookup_bucketed). Every bucketed layout
    # this engine writes is deliberate (join locality or key pruning),
    # so the auto-disable heuristic is never right here.
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    # A recursive CTE's accumulated UnionLoop output is n_rows * depth:
    # Spark's 1M-row guardrail trips q_sql_recursive at ~150k customers
    # although each level shrinks geometrically. One session-wide value
    # sized for the largest supported scale keeps the key lazy (a scoped
    # swap had to materialize the loop before restoring the limit).
    "spark.sql.cteRecursionRowLimit": "200000000",
}


def get_spark(app_name: str = "cellbase-spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession: the static settings,
    then ``_RUNTIME_CONF`` with ``extra_conf`` laid over it."""
    builder = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "cellbase_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # saveAsTable target for bucketed-table tests; keep out of the repo
        .config("spark.sql.warehouse.dir", "/tmp/cellbase_spark_warehouse")
    )
    for k, v in {**_RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply ``_RUNTIME_CONF`` to a session the engine did not build."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on foreign session
            pass
    return spark
