"""io.load_table reads each table's footer schema once per session and
source signature: later builds over the same files run no schema job, and
a rewritten file is inferred again."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from cellbase_spark.io import load_table


def test_second_build_runs_no_schema_job(spark, spark_jobs, sf_dir_medium, tmp_path):
    import cellbase_spark.queries  # noqa: F401  (populates REGISTRY)
    from cellbase_spark.registry import REGISTRY

    data = tmp_path / "sf0.01"
    shutil.copytree(sf_dir_medium, data)
    fn = REGISTRY["q_tpch_q5"].fn
    with spark_jobs() as first:
        fn(spark, str(data)).collect()
    with spark_jobs() as build:
        df = fn(spark, str(data))
    assert first, "the first build read no footer"
    assert build == []
    assert df.count() > 0


def test_rewritten_file_is_inferred_again(spark, spark_jobs, sf_dir_medium, tmp_path):
    data = tmp_path / "sf0.01"
    shutil.copytree(sf_dir_medium, data)
    load_table(spark, str(data), "region")
    with spark_jobs() as cached:
        assert load_table(spark, str(data), "region").columns == ["r_regionkey", "r_name"]
    assert cached == []

    path = data / "region.parquet"
    t = pq.read_table(path)
    pq.write_table(t.append_column("r_comment", pa.array(["x"] * t.num_rows)), path)
    with spark_jobs() as reread:
        df = load_table(spark, str(data), "region")
    assert reread, "a rewritten file was served the old schema"
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.where("r_comment = 'x'").count() == t.num_rows


def test_nanos_events_normalized_on_every_read(spark, tmp_path):
    """TIMESTAMP(NANOS) events arrive as long under nanosAsLong and are
    converted to microsecond timestamps, on the inferring read and on the
    reads that reuse its schema."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1_500, 3_600_000_000_001_999], pa.timestamp("ns")),
                "user_id": pa.array([1, 2], pa.int64()),
                "event_type": ["click", "view"],
                "value": [1.0, 2.0],
                "props": ["", ""],
            }
        ),
        tmp_path / "events.parquet",
    )
    reads = [load_table(spark, str(tmp_path), "events") for _ in range(2)]
    for df in reads:
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert [r[0] for r in df.selectExpr("unix_micros(ts)").orderBy("event_id").collect()] == [
            1,
            3_600_000_000_001,
        ]
