"""Engine settings: one table (session._RUNTIME_CONF), applied once by
get_spark or configure_session, and stream starts that size their state
stores without leaving the session's conf changed."""

from __future__ import annotations

from cellbase_spark.session import _RUNTIME_CONF, configure_session, get_spark
from cellbase_spark.streaming import pipelines

SHUFFLE = "spark.sql.shuffle.partitions"


def test_get_spark_extra_conf_wins_over_defaults(spark):
    try:
        s = get_spark(extra_conf={SHUFFLE: "8"})
        assert s.conf.get(SHUFFLE) == "8"
    finally:
        get_spark()
    assert spark.conf.get(SHUFFLE) == _RUNTIME_CONF[SHUFFLE]


def test_configure_session_applies_every_runtime_setting(spark):
    bare = spark.newSession()
    for k in _RUNTIME_CONF:
        bare.conf.unset(k)
    assert bare.conf.get(SHUFFLE) == "200"  # Spark's default, not ours
    configure_session(bare)
    assert {k: bare.conf.get(k) for k in _RUNTIME_CONF} == _RUNTIME_CONF


def test_stream_start_sizes_state_stores_without_changing_session(spark, tmp_path):
    """Every micro-batch of an engine-started stream runs 8 state stores,
    while the session keeps its own shuffle count between batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "events"
    src.mkdir()
    session_value = spark.conf.get(SHUFFLE)
    assert session_value != pipelines._STATE_STORES
    q = pipelines.start_stream(
        spark,
        pipelines.tumbling_agg(pipelines.read_events_stream(spark, str(src)))
        .writeStream.format("memory")
        .queryName("cb_test_state_stores")
        .outputMode("complete")
        .trigger(processingTime="0 seconds"),
    )
    try:
        for n in range(3):
            assert spark.conf.get(SHUFFLE) == session_value
            pq.write_table(
                pa.table(
                    {
                        "event_id": pa.array([n], pa.int64()),
                        "ts": pa.array([3_600_000_000 * n], pa.timestamp("us")),
                        "user_id": pa.array([1], pa.int64()),
                        "event_type": ["click"],
                        "value": [1.0],
                        "props": [""],
                    }
                ),
                str(src / f"batch{n}.parquet"),
            )
            q.processAllAvailable()
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
    assert spark.conf.get(SHUFFLE) == session_value
    assert len(batches) == 3
    assert [p.stateOperators[0].numShufflePartitions for p in batches] == [8, 8, 8]
    assert spark.table("cb_test_state_stores").count() == 3
