"""Batch/stream-unified event pipelines.

Scale notes:
- Tumbling/sliding aggs shuffle on (window, keys) with partial aggregation
  before the exchange; state per window x key is one row, evicted by the
  watermark — bounded memory on an unbounded stream.
- session_window state is per (user, open session); the 30-min gap +
  watermark bound how long a session stays open.
- Decimal accumulation keeps streamed sums bit-identical to the batch
  oracle regardless of micro-batch boundaries (float sums would differ by
  arrival order — the same partition-order issue, worse).
"""

from __future__ import annotations

import glob
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from cellbase_spark.functions.exact import DEC

_STATE_STORES = "2"
_START_LOCK = threading.Lock()


def start_stream(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """``writer.start()`` with the stream's state stores sized to its
    STATE volume, not to the batch shuffle count.

    A stateful streaming query instantiates one state-store provider per
    shuffle partition, and every micro-batch pays open + snapshot/delta
    maintenance + commit PER STORE — a fixed cost that has nothing to do
    with batch compute parallelism. So every engine stream starts with 2
    stores, the fastest count measured on 4 cores over sf0.01 (one
    session, results identical at every count):

    stores  3-batch tumbling  18 q_stream_run_* keys
    1       2.03 s            58.3 s
    2       1.91 s            50.8 s
    4       2.26 s            52.9 s
    8       2.84 s            61.4 s

    (medians of 2 interleaved runs; the keys column sums per-key medians.
    An earlier 32 -> 8 cut halved the tumbling pipeline and took the
    4-batch late-arrival key from 7.8 s to 3.9 s.) The bench states hold
    ~10^3-10^4 keys. At deployment this is the same sizing decision made
    explicitly: state volume / target store size (~100 MB-1 GB per
    store), NOT the executor-core count.

    The swap spans only ``start()``: the query clones the session when it
    starts, and its offset log pins the count from the first batch on
    (a restart from an existing checkpoint keeps the checkpointed count
    regardless). The session's own value is back before this returns, so
    batch queries planned while the stream runs never see it. The module
    lock keeps concurrent starts from restoring each other's value."""
    with _START_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", _STATE_STORES)
        try:
            return writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _events_ts_arrives_as_long(path: str) -> bool:
    """Peek at an existing parquet file to learn how Spark will surface
    `ts`: TIMESTAMP(NANOS) parquet arrives as LongType (nanosAsLong=true),
    while us/ms timestamps arrive as TimestampType. File-source streams
    need the schema declared up front, so we inspect the footer of the
    first file already in the watched directory (cheap: footer-only read,
    one file, once at stream definition). An empty directory defaults to
    TimestampType — the driver testdata and this repo's writers are all
    timestamp[us]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return False
    t = pq.read_schema(files[0]).field("ts").type
    return pa.types.is_integer(t) or (pa.types.is_timestamp(t) and t.unit == "ns")


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source streaming read of events parquet, normalized exactly
    like io.load_table: whatever the parquet timestamp physical unit, the
    stream carries a microsecond TimestampType `ts`."""
    as_long = _events_ts_arrives_as_long(path)
    ts_decl = "long" if as_long else "timestamp"
    schema = (
        f"event_id long, ts {ts_decl}, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if as_long:
        # ns-as-long -> us timestamp (truncating), same as DuckDB's ns read.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming DataFrame to completion over its (bounded)
    source and return the materialized result: availableNow trigger +
    memory sink, awaited. The streaming-native face of 'run this query':
    micro-batch planner, state store, sink commit — the full streaming
    engine, not the batch fast path. Restartable: a previous run under
    the same name is stopped and its sink replaced."""
    spark = stream_df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    start_stream(
        spark,
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True),
    ).awaitTermination()
    return spark.table(name)


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-hour x event_type counts and exact value sums."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)), 4).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "total")
    )


def sliding_agg(events: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in 4)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (30-min inactivity gap): start = first
    event, end = last event + gap, plus count and exact sum."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 4).cast("double").alias("total"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total",
        )
    )


def stream_dedup_keys(events: DataFrame, keys: list[str]) -> DataFrame:
    """Key-projected dedup: distinct on the key columns only — the
    batch-deterministic face of streaming dropDuplicates (which keeps
    first-arrival state per key within the watermark)."""
    return events.select(*keys).distinct()


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    return events.withWatermark("ts", delay)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count and value total, emitted once per micro-batch.

    This is the escape hatch for stateful logic windowed aggs can't
    express (custom accumulators, session machines, counters with
    app-specific reset rules). State is one (count, total) pair per user —
    bounded by key cardinality, partitioned across executors by the
    groupBy key like any shuffle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [count], "total": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total double",
        stateStructType="count long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Spark 4 successor of running_user_totals: the same per-user running
    (count, total) accumulator on transformWithStateInPandas — the
    StatefulProcessor API with named state variables (ValueState here;
    ListState/MapState and timers exist for richer machines). Unlike
    applyInPandasWithState's single opaque state tuple, state is declared
    per-variable with its own schema, and the processor object carries
    the lifecycle (init/handleInputRows/close) — the shape new stateful
    operators should take on Spark >= 4.0.

    Runtime dependency, CLOSED in round 4: the TWS workers speak
    protobuf to the JVM state server; where google.protobuf is absent
    (this container; installs barred) streaming/tws.py installs the
    pure-Python wire-format shim (streaming/pbshim.py) and the pipeline
    runs for real — see test_stateful_running_totals_tws and the
    oracle-gated q_stream_run_tws key."""
    from cellbase_spark.streaming import tws

    return tws.running_user_totals_tws(events)
