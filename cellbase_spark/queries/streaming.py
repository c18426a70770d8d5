"""Streaming-window queries (SURVEY.md §2.9 T1-T3, T5), batch-parity face.

The reference has no streams (SURVEY.md §1.2: "Not present in cellbase:
streams"); this family is the north-star extension, built on Spark's
unified batch/stream API: each transformation lives in
cellbase_spark.streaming.pipelines as a plain DataFrame->DataFrame
function, applied here to the *static* events table (the DuckDB-oracle
face) and in tests/test_streaming.py to a readStream file source with
watermarks (the true streaming face). The logical plan is identical; only
the sink/trigger differ — that's the point of Structured Streaming.

Oracle notes:
- events.ts is TIMESTAMP_NS parquet; both engines compare at us: Spark
  truncates on load (io.load_table), the oracle CASTs to TIMESTAMP.
- Sliding windows: an event at t belongs to exactly width/slide = 4
  windows whose starts are floor(t/slide)*slide - i*slide, i in 0..3 —
  the oracle generates them with an unnest cross join.
- Session windows: Spark's session_window(ts, gap) closes a session when
  the next event arrives >= gap after the previous one (end = last+gap);
  the oracle is the classic gaps-and-islands rewrite (lag -> new-session
  flag -> running sum as session id).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.functions.exact import dsum_sql
from cellbase_spark.io import load_table, scratch_path
from cellbase_spark.registry import register
from cellbase_spark.streaming import pipelines


@register(
    "q_stream_tumbling",
    family="stream",
    oracle=f"""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wstart,
       event_type,
       COUNT(*) AS n,
       {dsum_sql('value', 'total', 4)}
FROM events
GROUP BY 1, 2
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: tumbling 1-hour window x event_type counts + exact sums.

    Streaming shape: state is one row per (window, type), evicted by the
    watermark — bounded memory on an unbounded stream; batch shape: plain
    partial+final hash-agg on (hour(ts), type).
    """
    return pipelines.tumbling_agg(load_table(spark, sf_dir, "events"))


@register(
    "q_stream_sliding",
    family="stream",
    oracle="""
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + to_seconds((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) - s.i) * 900)
         AS wstart,
       event_type,
       COUNT(*) AS n
FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s
GROUP BY 1, 2
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 1-hour windows sliding every 15 min — each event contributes to
    width/slide = 4 windows (Spark expands via an internal explode; state
    and shuffle scale 4x a tumbling window, bounded by the watermark)."""
    return pipelines.sliding_agg(load_table(spark, sf_dir, "events"))


@register(
    "q_stream_session",
    family="stream",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM ordered
), sessions AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {dsum_sql('value', 'total', 4)}
FROM sessions
GROUP BY user_id, sid
""",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: per-user session windows (30-min inactivity gap) via the native
    session_window operator — state per open session, closed by watermark.
    The oracle proves the semantics equal the gaps-and-islands SQL."""
    return pipelines.session_agg(load_table(spark, sf_dir, "events"))


def _table_stream_dir(sf_dir: str, table: str) -> str:
    """A file stream source watches a DIRECTORY; a testdata table is a
    single file. Stage a scratch directory (`io.scratch_path`) holding a
    symlink to <table>.parquet — zero data copied, and the watched dir
    has exactly the table's files."""
    # abspath target: a relative sf_dir would leave the link broken from
    # any other cwd
    target = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    d = scratch_path(sf_dir, "stream_src", table)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != target:
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(target, link)
    return d


@register(
    "q_stream_run_tumbling",
    family="stream",
    oracle=f"""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wstart,
       event_type,
       COUNT(*) AS n,
       {dsum_sql('value', 'total', 4)}
FROM events
GROUP BY 1, 2
""",
)
def q_stream_run_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/S6 genuinely STREAMED: the same tumbling agg as
    q_stream_tumbling, but executed by the streaming engine end-to-end —
    readStream file source over the events parquet, micro-batch planner,
    windowed state store, availableNow trigger, memory sink. The oracle
    hash-checking this against DuckDB proves stream execution converges
    to the batch answer on real data (exact decimal sums make it
    arrival-order independent); tests/test_streaming.py additionally
    proves multi-batch incremental arrival (maxFilesPerTrigger=1) and
    watermark semantics the oracle can't see."""
    events = pipelines.read_events_stream(spark, _table_stream_dir(sf_dir, "events"))
    return pipelines.run_stream_to_memory(
        pipelines.tumbling_agg(events), "cb_stream_tumbling_sink"
    )


@register(
    "q_stream_run_sliding",
    family="stream",
    oracle="""
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + to_seconds((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) - s.i) * 900)
         AS wstart,
       event_type,
       COUNT(*) AS n
FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s
GROUP BY 1, 2
""",
)
def q_stream_run_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 genuinely STREAMED: overlapping-window state (each event lands
    in width/slide = 4 windows; 4x the state rows of tumbling) run
    end-to-end by the streaming engine against the offset-expansion
    batch oracle."""
    events = pipelines.read_events_stream(spark, _table_stream_dir(sf_dir, "events"))
    return pipelines.run_stream_to_memory(
        pipelines.sliding_agg(events), "cb_stream_sliding_sink"
    )


@register(
    "q_stream_run_session",
    family="stream",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM ordered
), sessions AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {dsum_sql('value', 'total', 4)}
FROM sessions
GROUP BY user_id, sid
""",
)
def q_stream_run_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 genuinely STREAMED: session_window state (per open session —
    the one state type that MERGES entries as late events bridge two
    sessions) run end-to-end by the streaming engine, hash-matched
    against the gaps-and-islands batch oracle."""
    events = pipelines.read_events_stream(spark, _table_stream_dir(sf_dir, "events"))
    return pipelines.run_stream_to_memory(
        pipelines.session_agg(events), "cb_stream_session_sink"
    )


@register(
    "q_stream_run_dedup",
    family="stream",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_run_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 genuinely STREAMED: stateful dropDuplicates over the event
    stream (key state, first-arrival wins), run to completion by the
    streaming engine. NO watermark on purpose: with one, a key first
    seen BELOW the advanced watermark in a later micro-batch would be
    silently dropped, diverging from the batch DISTINCT oracle under
    multi-batch arrival — order-independence requires unexpired key
    state, and this bounded source needs no state eviction. (Watermarked
    dedup-with-eviction semantics are pinned separately in
    tests/test_streaming.py.)"""
    events = pipelines.read_events_stream(spark, _table_stream_dir(sf_dir, "events"))
    deduped = events.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return pipelines.run_stream_to_memory(
        deduped, "cb_stream_dedup_sink", output_mode="append"
    )


@register(
    "q_stream_run_stateful",
    family="stream",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       round(SUM(value), 4) AS total
FROM events
GROUP BY user_id
""",
)
def q_stream_run_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 genuinely STREAMED and oracle-gated: the custom
    applyInPandasWithState operator (per-user running count/total with
    explicit state updates) run to completion by the streaming engine.
    The bounded source arrives as ONE micro-batch under availableNow, so
    the final emission per user equals the batch aggregate — which is
    exactly what the oracle checks; multi-batch state carry-over is
    pinned separately in tests/test_streaming.py. The kernel's float
    accumulation is per-user sequential within the single batch
    (pandas sum over the user's rows), matching DuckDB's per-group sum
    order after the 4dp round."""
    events = pipelines.read_events_stream(spark, _table_stream_dir(sf_dir, "events"))
    return pipelines.run_stream_to_memory(
        pipelines.running_user_totals(events),
        "cb_stream_stateful_sink",
        output_mode="update",
    )


@register(
    "q_stream_run_tws",
    family="stream",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       round(SUM(value), 4) AS total
FROM events
GROUP BY user_id
""",
)
def q_stream_run_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 genuinely STREAMED and oracle-gated: transformWithStateInPandas
    (Spark 4 StatefulProcessor with a named ValueState) running the same
    per-user (count, total) accumulator as U5 — same oracle, so the two
    stateful APIs are pinned to identical semantics. Runs on the RocksDB
    state store (TWS needs column families) and, in this container, on
    the pure-Python protobuf shim (streaming/pbshim.py) that
    streaming/tws.py installs for the JVM state-server protocol; with a
    real google.protobuf on a cluster the shim steps aside untouched.
    Single availableNow batch -> final emission per user == the batch
    aggregate, exactly what the oracle states."""
    from cellbase_spark.streaming import tws

    events = pipelines.read_events_stream(spark, _table_stream_dir(sf_dir, "events"))
    return pipelines.run_stream_to_memory(
        tws.running_user_totals_tws(events),
        "cb_stream_tws_sink",
        output_mode="update",
    )


def _late_arrival_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as four parquet files whose mtime order
    forces a deterministic out-of-order micro-batch arrival (the file
    source reads oldest-mtime first; maxFilesPerTrigger=1 makes each file
    one batch):

    - batch0 "bulk":      tmin+2h <= ts < H-2h   (H = date_trunc(hour, tmax))
    - batch1 "mixed late": ts < tmin+2h  (DROPPED: their window ends sit
      weeks below the watermark advanced by batch0)  UNION  H-2h <= ts <
      H-1h (ACCEPTED: window end H-1h is above that watermark)
    - batch2 "tail":      ts >= H-1h  (advances the watermark to tmax-10m)
    - batch3 "flush":     a re-delivery of the max-ts event — processing
      it emits every window finalized by batch2's watermark, and its own
      window [H, H+1h) can never finalize (end > tmax-10m always), so the
      duplicate is invisible in the emitted result at any SF.

    The driver-side footprint is two scalars (min/max ts); the splits are
    written by Spark. Margins are hours-vs-weeks, so the drop/accept
    verdicts are data-independent for any corpus spanning > ~5 hours.

    Returns (pending_dir, watch_dir): batch files staged under pending/,
    to be moved one-by-one into watch/ between triggers. Sequenced
    single-file triggers are REQUIRED, not a convenience: under
    Trigger.AvailableNow (+maxFilesPerTrigger) the engine reports an
    advancing watermark per inner batch but does NOT apply it to
    late-row filtering, so a one-shot availableNow run admits the late
    slice (verified empirically on Spark 4.1; separate triggers drop it).
    """
    import datetime
    import glob as _glob
    import shutil

    out = tempfile.mkdtemp(prefix="cb_stream_late_")
    pending = os.path.join(out, "pending")
    watch = os.path.join(out, "watch")
    os.makedirs(pending)
    os.makedirs(watch)
    e = load_table(spark, sf_dir, "events")
    b = e.agg(F.min("ts").alias("tmin"), F.max("ts").alias("tmax")).first()
    tmin, tmax = b["tmin"], b["tmax"]
    h = tmax.replace(minute=0, second=0, microsecond=0)
    cut_old = tmin + datetime.timedelta(hours=2)
    # ADVICE r3: the drop/keep verdicts assume the three splits are
    # disjoint, i.e. cut_old < H-2h. Assert it rather than document it —
    # a short-span corpus must fail loudly, not emit wrong verdicts.
    if not cut_old < h - datetime.timedelta(hours=2):
        raise ValueError(
            f"events span too short for the late-arrival staging: need "
            f"tmin+2h < trunc(tmax,hour)-2h, got tmin={tmin} tmax={tmax}"
        )
    h1, h2 = h - datetime.timedelta(hours=1), h - datetime.timedelta(hours=2)
    ts = F.col("ts")
    splits = [
        (ts >= F.lit(cut_old)) & (ts < F.lit(h2)),
        (ts < F.lit(cut_old)) | ((ts >= F.lit(h2)) & (ts < F.lit(h1))),
        ts >= F.lit(h1),
    ]
    batches = [e.where(c) for c in splits]
    batches.append(e.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(1))
    for i, df in enumerate(batches):
        stage = os.path.join(out, f"_stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(pending, f"batch{i}.parquet"))
        shutil.rmtree(stage)
    return pending, watch


@register(
    "q_stream_run_late",
    family="stream",
    oracle=f"""
WITH b AS (
  SELECT min(CAST(ts AS TIMESTAMP)) AS tmin,
         max(CAST(ts AS TIMESTAMP)) AS tmax
  FROM events
)
SELECT date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS wstart,
       e.event_type,
       COUNT(*) AS n,
       {dsum_sql('value', 'total', 4)}
FROM events e, b
WHERE CAST(e.ts AS TIMESTAMP) >= b.tmin + INTERVAL 2 HOUR
  AND date_trunc('hour', CAST(e.ts AS TIMESTAMP)) + INTERVAL 1 HOUR
      <= b.tmax - INTERVAL 10 MINUTE
GROUP BY 1, 2
""",
)
def q_stream_run_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 oracle-gated: watermark late-data semantics through the REAL
    micro-batch engine. The staged source (_late_arrival_dir) re-orders
    the events table so a crafted slice arrives a batch AFTER the
    watermark passed its windows: those rows must be dropped, while
    equally-late-arriving rows whose windows are still open must be
    kept. Append mode emits only finalized windows.

    The oracle is the pure batch statement of that contract: aggregate
    everything EXCEPT (a) the dropped slice (ts < tmin+2h — their hour
    windows ended weeks below the watermark when they arrived) and
    (b) windows not finalized by the final watermark
    (window end > tmax - 10min). Hash equality proves drop, keep, AND
    emission match the engine exactly — the one streaming behavior the
    batch-parity q_stream_* keys cannot see.

    Boundary note (probed empirically on Spark 4.1, round 4): append
    mode DOES emit a window when the final watermark equals the window
    end exactly (wm == end -> emitted), so the oracle's inclusive
    `window end <= tmax - 10min` is the correct mirror; a strict `<`
    would under-count whenever tmax lands on minute 50 of its hour."""
    import shutil

    pending, watch = _late_arrival_dir(spark, sf_dir)
    events = pipelines.read_events_stream(spark, watch)
    agg = pipelines.tumbling_agg(pipelines.with_watermark(events, "10 minutes"))
    name = "cb_stream_late_sink"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = pipelines.start_stream(
        spark,
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds"),
    )
    try:
        # One file per trigger, awaited: each move is one micro-batch,
        # so the watermark advanced by batch N filters batch N+1's
        # input — the semantics under test (see _late_arrival_dir on
        # why a single availableNow run cannot express this).
        for f in sorted(os.listdir(pending)):
            shutil.move(os.path.join(pending, f), os.path.join(watch, f))
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "q_stream_run_replay",
    family="stream",
    oracle=f"""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wstart,
       event_type,
       COUNT(*) AS n,
       {dsum_sql('value', 'total', 4)}
FROM events
GROUP BY 1, 2
""",
)
def q_stream_run_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON STREAMING SOURCE end-to-end: the events table
    replayed through the registered format('cellbase_replay') data
    source (sources/pyds.py) in 4 deterministic micro-batches — unlike
    the file source, multi-batch arrival is guaranteed by the source
    itself — aggregated by the same tumbling window pipeline and
    hash-matched against the batch oracle. Proves the pluggable
    streaming-source API (offsets, read, replay) composes with the
    engine's windowed state exactly like a built-in source; exact
    decimal sums make the result independent of the batch boundaries."""
    from cellbase_spark.sources.pyds import register as register_pyds

    register_pyds(spark)
    events = (
        spark.readStream.format("cellbase_replay")
        .schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("batches", "4")
        .load()
    )
    name = "cb_stream_replay_sink"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = pipelines.start_stream(
        spark,
        pipelines.tumbling_agg(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "q_stream_run_sink",
    family="stream",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def q_stream_run_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURABLE streaming sink end-to-end: events stream -> parquet
    writeStream with a checkpoint (offset log + commit log, the
    exactly-once file-sink protocol) -> read the committed files back.
    The memory-sink keys prove computation; this one proves the sink
    side — file commit via the manifest (_spark_metadata), so readers
    see only committed batches. Oracle: the projected events table
    (append of a bounded source re-emits exactly the input)."""
    src = _table_stream_dir(sf_dir, "events")
    out = tempfile.mkdtemp(prefix="cb_stream_sink_out_")
    ckpt = tempfile.mkdtemp(prefix="cb_stream_sink_ckpt_")
    events = pipelines.read_events_stream(spark, src)
    q = (
        events.select("event_id", "user_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


@register(
    "q_stream_run_join",
    family="stream",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment, n.n_name
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
""",
)
def q_stream_run_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 genuinely STREAMED: the enrichment join of every event pipeline
    — a streaming events feed inner-joined per micro-batch against the
    static customer->nation dim chain — run end-to-end by the streaming
    engine and hash-matched against the batch join oracle. The static
    side is planned as a normal (broadcastable) relation inside each
    micro-batch: at 100 TB of stream the dim broadcast happens once per
    executor per batch, and no stream-side state is kept at all
    (stateless join — contrast q_stream_run_join_interval)."""
    events = pipelines.read_events_stream(spark, _table_stream_dir(sf_dir, "events"))
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "n_name"
    )
    enriched = events.join(dim, "user_id").select(
        "event_id", "user_id", "event_type", "c_mktsegment", "n_name"
    )
    return pipelines.run_stream_to_memory(
        enriched, "cb_stream_join_sink", output_mode="append"
    )


@register(
    "q_stream_run_join_interval",
    family="stream",
    oracle="""
SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
       a.event_type AS type_a, b.event_type AS type_b
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
 AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
""",
)
def q_stream_run_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval self-join, genuinely streamed: pairs of
    same-user events where b follows a within 5 minutes — the
    correlation join (click->purchase, request->response) that needs
    BOTH sides buffered in state. Each side carries a watermark, and the
    range predicate on event time lets the engine bound how long a row
    waits for its match (state eviction = watermark minus the interval);
    the join itself runs in the micro-batch engine with two-sided join
    state — the one join shape batch execution cannot emulate
    incrementally. Bounded source => the emitted pair set equals the
    batch interval self-join, which is exactly what the oracle checks.
    The event_id inequality both de-mirrors the pair and breaks the
    a==b self-match."""
    src = _table_stream_dir(sf_dir, "events")
    a = pipelines.with_watermark(
        pipelines.read_events_stream(spark, src), "10 minutes"
    ).select(
        F.col("event_id").alias("id_a"),
        F.col("user_id").alias("user_id"),
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("ts_a"),
    )
    b = pipelines.with_watermark(
        pipelines.read_events_stream(spark, src), "10 minutes"
    ).select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_id_b"),
        F.col("event_type").alias("type_b"),
        F.col("ts").alias("ts_b"),
    )
    joined = a.join(
        b,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
    ).select("id_a", "id_b", "user_id", "type_a", "type_b")
    return pipelines.run_stream_to_memory(
        joined, "cb_stream_joinint_sink", output_mode="append"
    )


@register(
    "q_stream_dedup",
    family="stream",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: stateful key dedup. Streaming: dropDuplicates keeps
    first-arrival per key with state bounded by the watermark; batch face
    (this query) is DISTINCT on the key projection — same output set."""
    return pipelines.stream_dedup_keys(
        load_table(spark, sf_dir, "events"), ["user_id", "event_type"]
    )


@register(
    "q_stream_run_upsert",
    family="stream",
    oracle="""
WITH latest AS (
  SELECT user_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
)
SELECT user_id, ts, event_type, value
FROM latest WHERE rk = 1
""",
)
def q_stream_run_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch UPSERT sink end-to-end: the events stream arrives in
    4 guaranteed micro-batches (cellbase_replay source) and each batch
    MERGES into a keyed state table — latest row per user by
    (ts, event_id) — the streaming-CDC 'apply changes' pattern. The
    final state must equal the batch latest-per-user query, which only
    holds if every cross-batch upsert (later batch overwriting an
    earlier batch's row, earlier never resurrecting) applied correctly.

    foreachBatch is the sink face the format() sinks can't express:
    arbitrary batch-scoped Spark jobs with exactly-once semantics left
    to the writer (here: write-new-then-atomic-swap of the state dir,
    so a failed batch leaves the previous state intact — the
    copy-on-write MERGE contract; on a lakehouse this body becomes
    `MERGE INTO state USING batch`).

    Scale: each merge is one user-keyed window over (state ∪ batch) —
    state carries one row per key. The swap is metadata, not data."""
    import shutil

    from pyspark.sql.window import Window as W

    from cellbase_spark.sources.pyds import register as register_pyds

    register_pyds(spark)
    events = (
        spark.readStream.format("cellbase_replay")
        .schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("batches", "4")
        .load()
    )
    state_dir = tempfile.mkdtemp(prefix="cb_stream_upsert_") + "/state"

    def upsert(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        cols = ["user_id", "ts", "event_id", "event_type", "value"]
        merged = batch_df.select(*cols)
        if os.path.isdir(state_dir):
            merged = merged.unionByName(s.read.parquet(state_dir))
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            merged.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .drop("rk")
        )
        tmp = state_dir + f".tmp{batch_id}"
        latest.write.mode("overwrite").parquet(tmp)
        old = state_dir + f".old{batch_id}"
        if os.path.isdir(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    name = "cb_stream_upsert"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (
        events.writeStream.foreachBatch(upsert)
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(state_dir).select(
        "user_id", "ts", "event_type", "value"
    )


def _two_batch_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as two time-ordered parquet files (split at the
    midpoint of the ts span) with deterministic mtimes, so
    maxFilesPerTrigger=1 yields exactly two ascending micro-batches —
    the minimal shape under which event-time TIMERS can fire mid-stream
    (batch 1 runs under the watermark advanced by batch 0)."""
    import glob as _glob
    import shutil

    out = scratch_path(sf_dir, "stream_twobatch")
    if os.path.isdir(out) and _glob.glob(os.path.join(out, "*.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    e = load_table(spark, sf_dir, "events")
    b = e.agg(F.min("ts").alias("tmin"), F.max("ts").alias("tmax")).first()
    mid = b["tmin"] + (b["tmax"] - b["tmin"]) / 2
    for i, cond in enumerate(
        [F.col("ts") < F.lit(mid), F.col("ts") >= F.lit(mid)]
    ):
        part_dir = os.path.join(out, f"_b{i}")
        e.where(cond).coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = _glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        dst = os.path.join(out, f"{i:02d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        shutil.rmtree(part_dir)
    return out


@register(
    "q_stream_run_timer",
    family="stream",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms
  FROM events
), x AS (
  SELECT user_id, ts_ms,
         CASE WHEN lag(ts_ms) OVER w IS NULL
                   OR ts_ms - lag(ts_ms) OVER w > 3600000
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
), g AS (
  SELECT user_id, ts_ms,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
), s AS (
  SELECT user_id, sid,
         MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
         COUNT(*) AS n_events
  FROM g GROUP BY user_id, sid
), m AS (
  SELECT MAX(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)) AS tmax
  FROM events
), r AS (
  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY start_ms DESC) AS rk_desc
  FROM s
)
SELECT user_id, start_ms, end_ms, n_events
FROM r, m
WHERE rk_desc > 1 OR end_ms + 3600000 <= tmax - 600000
""",
)
def q_stream_run_timer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME TIMERS through the real streaming engine:
    transformWithStateInPandas sessionization (1-hour gap) where every
    user's open session holds ONE registered timer at session_end + gap,
    re-armed on each extension, and handleExpiredTimer closes the
    session once the watermark passes it (streaming/tws.py
    SessionGapProcessor). Runs over two deterministic ascending
    micro-batches (_two_batch_dir + maxFilesPerTrigger=1) so timers can
    actually fire mid-stream.

    The oracle states the emission contract exactly: a session emits iff
    it is closed in-stream by a later event of the same user (every
    non-last session) OR its close timer (end + gap) is at or below the
    final watermark (tmax - 10 min) — each user's final session emits
    only through the timer path, which is precisely the surface this key
    pins (in-stream gap detection alone would hold it open forever)."""
    from cellbase_spark.streaming import tws

    d = _two_batch_dir(spark, sf_dir)
    stream = pipelines.read_events_stream(spark, d, max_files_per_trigger=1)
    return pipelines.run_stream_to_memory(
        tws.session_windows_tws(stream),
        "cb_stream_timer_sink",
        output_mode="append",
    )


def _incremental_dedup_oracle() -> str:
    from cellbase_spark.queries.llm_dedup import _SIG_SQL

    return f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), corpus_bd AS (
  SELECT id, bidx, bkey FROM bd WHERE id % 10 <> 0
), kept_c AS (
  SELECT id, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM corpus_bd
  ) WHERE bn <= 8
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM bd a JOIN kept_c b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0
)
SELECT c.id_new, c.id_corpus,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
"""


@register(
    "q_stream_run_dedup_incremental",
    family="stream",
    oracle=_incremental_dedup_oracle(),
)
def q_stream_run_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup daily loop as a GENUINELY STREAMED ingest
    job — how a 100 TB pipeline actually consumes arriving documents:
    a file-source stream of the new batch is banded map-only per
    micro-batch, STREAM-STATIC-joined against the persisted corpus band
    table, deduplicated on the candidate pair (stateful dropDuplicates —
    candidate state is bounded by the batch's pair fan-out; a production
    job would add a watermark keyed on ingest time), then verified with
    exact Jaccard against the static corpus token sets — all inside the
    micro-batch engine. The stream side carries its own token sets
    through the join, so the verify step needs NO stream-side re-join:
    one stream-static equi-join + one stream-static fetch join per
    batch.

    SKEW GUARD, streaming-legal form: a runtime bucket-count window
    over stream+static rows is not expressible on a stream, so the cap
    rides the PERSISTED table's own bucket statistics — corpus buckets
    holding >8 docs are filtered on the STATIC side before the stream
    starts (exactly the stats q_dedup_band_update maintains per
    generation). Without it the sf1 dup-dense corpus pushed 3.84M
    candidate pairs through one micro-batch's dedup state and GC-locked
    the JVM; with it the probe state stays O(batch x small buckets).
    The oracle states the same static-side cap in SQL (corpus-only
    bucket count), so both engines keep exactly the same buckets."""
    from pyspark.sql.window import Window as W

    from cellbase_spark.operators.dedup import lsh_band_keys_fused
    from cellbase_spark.queries.llm_dedup import _corpus_band_table

    band_all = _corpus_band_table(spark, sf_dir)
    band_tab = band_all.withColumn(
        "_bn", F.count(F.lit(1)).over(W.partitionBy("_bidx", "_bkey"))
    ).where(F.col("_bn") <= 8).drop("_bn")
    tb = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id_corpus"),
        F.array_distinct(F.split("text", " ")).alias("_tb"),
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    stream = (
        spark.readStream.schema(schema)
        .parquet(_table_stream_dir(sf_dir, "documents"))
        .where(F.col("doc_id") % 10 == 0)
    )
    bt = stream.select(
        F.col("doc_id").alias("_sid"),
        F.array_distinct(F.split("text", " ")).alias("_ta"),
    )
    probe = bt.select(
        "_sid",
        "_ta",
        F.posexplode(lsh_band_keys_fused("_ta", 16, 2)).alias("_pbidx", "_pbkey"),
    )
    cand = (
        probe.join(
            band_tab,
            (probe._pbidx == band_tab._bidx) & (probe._pbkey == band_tab._bkey),
        )
        .select(
            F.col("_sid").alias("id_new"),
            F.col("_id").alias("id_corpus"),
            "_ta",
        )
        .dropDuplicates(["id_new", "id_corpus"])
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    verified = (
        cand.join(tb, "id_corpus")
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= 0.95)
        .select("id_new", "id_corpus", "jaccard")
    )
    return pipelines.run_stream_to_memory(
        verified, "cb_stream_incdedup_sink", output_mode="append"
    )


def _stage_query_vectors(spark: SparkSession, sf_dir: str) -> str:
    """Stage the 32-query batch (vec_id < 32) as a single parquet file
    for the replay source, under the data dir's per-process
    `io.scratch_path`. Returns the part-file path."""
    import glob as _glob

    out = scratch_path(sf_dir, "stream_annq")
    hits = _glob.glob(os.path.join(out, "*.parquet"))
    if hits:
        return hits[0]
    (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 32)
        .select("vec_id", "embedding")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    return _glob.glob(os.path.join(out, "*.parquet"))[0]



def _run_ann_stream(
    spark: SparkSession,
    sf_dir: str,
    index_table: str,
    name: str,
    tmp_prefix: str,
    centroids: dict | None = None,
) -> DataFrame:
    """The shared streamed-ANN serving loop behind q_stream_run_ann and
    q_stream_run_ann_trained (one copy, so sink/lifecycle fixes land
    once): replay the 32 staged query vectors in 4 micro-batches; per
    batch, quantize inline (formula seeds, or the LEARNED `centroids` —
    the trained key decodes them from the index's recorded properties),
    broadcast, equi-join on the centroid partition key, rank per-query
    cosine top-5, and OVERWRITE the batch_id-keyed directory (idempotent
    under micro-batch retry)."""
    from pyspark.sql.window import Window as W

    from cellbase_spark.operators.similarity import ivf_assign, norm_expr
    from cellbase_spark.queries.llm_similarity import _stored_norm_score
    from cellbase_spark.sources.pyds import register as register_pyds

    register_pyds(spark)
    qfile = _stage_query_vectors(spark, sf_dir)
    results_dir = tempfile.mkdtemp(prefix=tmp_prefix) + "/out"

    stream = (
        spark.readStream.format("cellbase_replay")
        .schema("vec_id long, embedding array<float>")
        .option("path", qfile)
        .option("batches", "4")
        .load()
    )

    # Materialize the probe-relevant index COLUMNS once per stream run
    # (optimization r16, guide §2/§1 — r15 VERDICT task #4): profiled at
    # sf0.1, every micro-batch's foreachBatch SQL re-listed and
    # re-scanned the index's ~630 one-file leaf directories (2.1 s for
    # batch 0, ~1.0 s each after — the hive layout that is pure pruning
    # win at 100 TB is pure scheduling overhead on a toy corpus). One
    # size-gated eager checkpoint of the four probe columns turns that
    # into one scan + four in-memory probes, and per-batch planning
    # drops to a LogicalRDD. The checkpoint is INSIDE the timed build —
    # every run re-reads the parquet index; nothing persists across
    # runs. Above the gate (a real 100 TB index) the checkpoint is
    # skipped and each batch keeps the partition-pruned catalog scan.
    #
    # Static-index assumption: under the gate the index CONTENT is frozen
    # for the whole run. Deletes stay visible (the per-batch tombstone
    # anti-join below re-reads the table properties), but rows upserted
    # or compacted into index_table mid-run (a build_id change) are not
    # seen until the next run. No engine path mutates an index while a
    # stream serves it; a serving loop that must see mid-run rebuilds
    # would re-check build_id per batch and fall back to
    # s.table(index_table) when it moved.
    from cellbase_spark.io import fits_checkpoint_gate
    from cellbase_spark.operators.ckpt import eager_checkpoint

    base = spark.table(index_table).select(
        "vec_id", "centroid_id", "embedding", "nrm"
    )
    if fits_checkpoint_gate(base):
        # coalesce the ~630 one-file leaf splits into core-count
        # partitions BEFORE checkpointing (narrow, no shuffle): a
        # LogicalRDD keeps its partition count forever — checkpointing
        # the raw scan would re-schedule 630 near-empty tasks per batch,
        # where the catalog scan at least got AQE file-packing
        base = eager_checkpoint(
            base.coalesce(spark.sparkContext.defaultParallelism)
        )

    def probe(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        q = (
            ivf_assign(
                batch_df.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                ),
                vec_col="qv",
                centroids=centroids,
            )
            .withColumnRenamed("centroid_id", "qc")
            .withColumn("qnorm", F.expr(norm_expr("qv")))
        )
        # logical deletes apply to STREAMED serving too: a takedown
        # (delete_from_ann_index) must vanish from the next micro-batch
        # on — the cached-props check + broadcast anti-join runs inside
        # EVERY batch against the materialized rows (apply_tombstones is
        # a no-op on a clean index), so the once-per-run checkpoint does
        # not change per-batch delete visibility
        from cellbase_spark.operators.similarity import apply_tombstones

        idx = apply_tombstones(s, index_table, base)
        cand = idx.join(
            F.broadcast(q),
            (idx.centroid_id == q.qc) & (idx.vec_id != q.query_id),
        ).select(
            "query_id",
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        )
        # batch_id-keyed overwrite = idempotent under micro-batch retry:
        # a replayed batch rewrites its directory, never duplicates it
        (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .write.mode("overwrite")
            .parquet(f"{results_dir}/batch_id={int(batch_id)}")
        )

    for qq in spark.streams.active:
        if qq.name == name:
            qq.stop()
    qq = (
        stream.writeStream.foreachBatch(probe)
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        qq.processAllAvailable()
    finally:
        qq.stop()
    return spark.read.parquet(results_dir).select(
        "query_id", "vec_id", "centroid_id", "score", "rk"
    )


def _ann_stream_oracle() -> str:
    from cellbase_spark.queries.llm_similarity import _BATCH_PROBE_ORACLE

    return _BATCH_PROBE_ORACLE


@register("q_stream_run_ann", family="stream", oracle=_ann_stream_oracle())
def q_stream_run_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING, genuinely streamed: query vectors arrive in 4
    micro-batches (cellbase_replay source) and each batch probes the
    PERSISTED partition-pruned index inside foreachBatch — quantize the
    batch inline (work proportional to batch), broadcast it, equi-join
    on the centroid partition key (dynamic partition pruning opens only
    the batch's centroid directories), rank per-query cosine top-5, and
    append the results. The static index is never rescanned in full and
    never re-quantized; per-micro-batch cost is (batch x probed-list)
    rows — the 100 TB online-serving shape. Exactly-once is by
    IDEMPOTENT WRITE, not by hope: each micro-batch overwrites its own
    batch_id-keyed subdirectory, so a replayed batch (foreachBatch's
    at-least-once contract after a failure) rewrites the same directory
    instead of appending duplicate (query_id, rk) rows — the standard
    batch-id-keyed idempotent-sink recipe (round-8 ADVICE low: plain
    parquet append was NOT idempotent under retry).

    Oracle: identical to q_ann_batch_probe (the one-shot batch form) —
    streaming the same 32 queries through 4 batches must change nothing.
    """
    from cellbase_spark.queries.llm_similarity import _ann_index_table

    t = _ann_index_table(spark, sf_dir)
    return _run_ann_stream(
        spark, sf_dir, t, name="cb_stream_ann", tmp_prefix="cb_stream_ann_"
    )


def _ann_stream_trained_oracle() -> str:
    """Learned-geometry rewrite of _BATCH_PROBE_ORACLE: the corpus AND
    the query batch are both assigned under the Lloyd-updated centroids
    (a1→cent→carr re-derived from the data), mirroring the frozen
    recorded geometry the streamed probe quantizes against."""
    from cellbase_spark.queries.llm_similarity import (
        _ARGMIN_STRUCT_DUCK,
        _D2_LEARNED_DUCK,
        _dot,
    )

    return f"""
WITH a1 AS (
  SELECT vec_id, embedding, best.j AS centroid_id
  FROM (SELECT vec_id, embedding, {_ARGMIN_STRUCT_DUCK} AS best FROM embeddings)
),
cent AS (
  SELECT centroid_id AS j, t.i AS i,
         CAST(ROUND(SUM(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(25,10))), 4)
              AS DOUBLE) / COUNT(*) AS m
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
),
carr AS (SELECT j, list(m ORDER BY i) AS cvec FROM cent GROUP BY j),
asg AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.j AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_LEARNED_DUCK} ASC, c.j ASC) AS rk
    FROM a1 e, carr c
  ) WHERE rk = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, centroid_id AS qc
  FROM asg WHERE vec_id < 32
)
SELECT query_id, vec_id, centroid_id, score, rk FROM (
  SELECT q.query_id, a.vec_id, CAST(a.centroid_id AS INTEGER) AS centroid_id,
         round({_dot('a.embedding', 'q.qv')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('q.qv', 'q.qv')})), 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY round({_dot('a.embedding', 'q.qv')}
                          / (sqrt({_dot('a.embedding', 'a.embedding')})
                             * sqrt({_dot('q.qv', 'q.qv')})), 6) DESC,
                    a.vec_id ASC) AS rk
  FROM asg a JOIN q ON a.centroid_id = q.qc AND a.vec_id <> q.query_id
) WHERE rk <= 5
"""


@register(
    "q_stream_run_ann_trained", family="stream", oracle=_ann_stream_trained_oracle()
)
def q_stream_run_ann_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-geometry ANN serving, genuinely streamed (round 9): the
    q_stream_run_ann pipeline pointed at the TRAINED persisted index —
    each micro-batch of query vectors is quantized under the index's
    FROZEN recorded centroids (decode_index_props, read once on the
    driver before the stream starts), broadcast, equi-joined on the
    learned centroid partition key, ranked top-5, and idempotently
    written per batch_id. The online-serving consistency rule this key
    pins: the STREAM-side quantizer must use the same learned geometry
    the lists were built with — a formula-seed quantizer against
    trained lists would open the wrong directories for every query
    batch (the round-8 ADVICE desync, now closed across batch, delta
    AND streaming tiers).

    Scale shape identical to q_stream_run_ann: per-batch cost is
    (batch x probed-list) rows; the static trained index is never
    rescanned in full; exactly-once via batch_id-keyed overwrite."""
    from cellbase_spark.operators.similarity import decode_index_props, table_props
    from cellbase_spark.queries.llm_similarity import _ensure_trained_ann_index

    t = _ensure_trained_ann_index(spark, sf_dir)
    centroids, _ = decode_index_props(table_props(spark, t))
    if centroids is None:
        # a half-built index (crash between saveAsTable and the
        # properties ALTER) must fail LOUDLY: quantizing query batches
        # under the formula-seed fallback against trained lists is the
        # silent desync this key exists to prevent (round-9 review)
        raise ValueError(
            f"trained index {t!r} has no recorded cellbase.centroids — "
            "rebuild it; refusing to quantize against formula seeds"
        )
    return _run_ann_stream(
        spark, sf_dir, t, name="cb_stream_ann_trained",
        tmp_prefix="cb_stream_ann_tr_", centroids=centroids,
    )


@register(
    "q_stream_run_recovery",
    family="stream",
    oracle="""
SELECT event_id, user_id, event_type, value,
       CASE WHEN event_id % 3 = 0 THEN 'p1' ELSE 'p2' END AS phase
FROM events
""",
)
def q_stream_run_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTART RECOVERY under the oracle gate (r10 VERDICT task #3 —
    the kill/restart/exactly-once contract, previously tests-only):
    phase 1 stages one source file (event_id % 3 == 0), runs the query
    to completion (availableNow), and STOPS it; phase 2 stages the two
    remaining files and RESTARTS from the same checkpoint. The restart
    must (a) pick up only the NEW files — pinned structurally by the
    phase column: each run stamps its literal, so a reprocessed
    phase-1 file would surface its rows tagged 'p2' (or twice) and
    hash-fail — and (b) lose nothing: the oracle is every event exactly
    once with the phase derived from the staging split. A belt-and-
    braces in-code assertion reads the checkpoint's file-source log and
    verifies the phase-1 file is referenced by exactly one batch.

    Exactly-once rides the two checkpoint logs this key exercises for
    real: the SOURCE seen-files log (restart never re-lists a committed
    file) and the SINK manifest (_spark_metadata — readers see only
    committed batches; spark.read of the output dir resolves files
    through it, not a directory listing). At 100 TB this is the
    mechanism that makes a mid-ingest executor loss or planned restart
    invisible to the training corpus."""
    import json
    import shutil

    src = tempfile.mkdtemp(prefix="cb_stream_rec_src_")
    out = tempfile.mkdtemp(prefix="cb_stream_rec_out_")
    ckpt = tempfile.mkdtemp(prefix="cb_stream_rec_ckpt_")
    ev = load_table(spark, sf_dir, "events")

    def stage(mod: int, name: str) -> None:
        tmp = tempfile.mkdtemp(prefix="cb_stream_rec_stage_")
        (
            ev.where(F.col("event_id") % 3 == mod)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    def run(phase: str) -> None:
        q = (
            pipelines.read_events_stream(spark, src)
            .select("event_id", "user_id", "event_type", "value")
            .withColumn("phase", F.lit(phase))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(0, "f0")
    run("p1")  # batch 0 commits f0; query STOPS (terminated, not killed)
    stage(1, "f1")
    stage(2, "f2")
    run("p2")  # restart from the checkpoint: only f1/f2 are new
    # offset-log pin: f0 appears in exactly one committed source batch
    src_log = os.path.join(ckpt, "sources", "0")
    n_seen = 0
    for batch_file in os.listdir(src_log):
        if not batch_file.isdigit():  # skip .crc checksum siblings
            continue
        with open(os.path.join(src_log, batch_file)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    n_seen += json.loads(line)["path"].endswith(
                        "f0.parquet"
                    )
    assert n_seen == 1, f"f0 referenced by {n_seen} source batches"
    return spark.read.parquet(out)


@register(
    "q_stream_run_recovery_stateful",
    family="stream",
    oracle=f"""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wstart,
       event_type,
       COUNT(*) AS n,
       {dsum_sql('value', 'total', 4)}
FROM events
GROUP BY 1, 2
""",
)
def q_stream_run_recovery_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL restart recovery (round 11 — the state-store half of
    q_stream_run_recovery): the tumbling windowed aggregation runs over
    phase-1 files, the query STOPS, and a restart from the same
    checkpoint drives the remaining files. The source seen-files log
    guarantees phase-1 files are never re-read (pinned in-code, exactly
    as the stateless key does) — so the ONLY way the restarted query's
    complete-mode output can cover ALL events, which the oracle's
    whole-table aggregate demands, is the STATE STORE reloading the
    phase-1 window aggregates from the checkpoint and folding the new
    batches into them. A from-scratch recomputation (lost state) would
    under-count every window with phase-1 events and hash-fail; a
    reprocessed source would double-count and hash-fail the other way.

    At 100 TB this is the semantics that makes a planned restart or
    executor loss invisible to a continuously-aggregating pipeline:
    offsets + state snapshot/changelog recover, nothing re-reads."""
    import json
    import shutil

    src = tempfile.mkdtemp(prefix="cb_stream_recst_src_")
    ckpt = tempfile.mkdtemp(prefix="cb_stream_recst_ckpt_")
    ev = load_table(spark, sf_dir, "events")

    def stage(mod: int, name: str) -> None:
        tmp = tempfile.mkdtemp(prefix="cb_stream_recst_stage_")
        (
            ev.where(F.col("event_id") % 3 == mod)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    def run(name: str) -> None:
        for q in spark.streams.active:
            if q.name == name:
                q.stop()
        pipelines.start_stream(
            spark,
            pipelines.tumbling_agg(pipelines.read_events_stream(spark, src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        ).awaitTermination()

    stage(0, "f0")
    run("cb_recst_p1")
    stage(1, "f1")
    stage(2, "f2")
    run("cb_recst_p2")  # restart: state reloads, only f1/f2 are read
    src_log = os.path.join(ckpt, "sources", "0")
    n_seen = 0
    for batch_file in os.listdir(src_log):
        if not batch_file.isdigit():
            continue
        with open(os.path.join(src_log, batch_file)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    n_seen += json.loads(line)["path"].endswith("f0.parquet")
    assert n_seen == 1, f"f0 referenced by {n_seen} source batches"
    return spark.table("cb_recst_p2")
