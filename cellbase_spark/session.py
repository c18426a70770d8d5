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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
}


def get_spark(app_name: str = "cellbase-spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession: the static settings,
    then ``_RUNTIME_CONF`` with ``extra_conf`` laid over it."""
    builder = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
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
