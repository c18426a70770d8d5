"""Engine settings: one table (session._RUNTIME_CONF), applied once by
get_spark or configure_session; stream starts that size their state
stores without leaving the session's conf changed; no library module
writes session conf outside a short list; and the engine's Python worker
daemon (cellbase_spark.pydaemon)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
import uuid
from pathlib import Path

from cellbase_spark.session import _RUNTIME_CONF, configure_session, get_spark
from cellbase_spark.streaming import pipelines

SHUFFLE = "spark.sql.shuffle.partitions"
REPO = Path(__file__).resolve().parent.parent


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
    """Every micro-batch of an engine-started stream runs 2 state stores,
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
    assert [p.stateOperators[0].numShufflePartitions for p in batches] == [2, 2, 2]
    assert spark.table("cb_test_state_stores").count() == 3


def test_sql_recursive_builds_lazily_without_touching_conf(spark, spark_jobs, sf_dir):
    """q_sql_recursive's row limit comes from the settings table, so its
    build runs no job and leaves the session conf as it found it."""
    import cellbase_spark.queries  # noqa: F401  (populates REGISTRY)
    from cellbase_spark.registry import REGISTRY

    fn = REGISTRY["q_sql_recursive"].fn
    fn(spark, sf_dir)  # first build may read the customer footer
    before = spark.conf.getAll
    with spark_jobs() as ids:
        df = fn(spark, sf_dir)
    assert ids == []
    assert spark.conf.getAll == before
    assert df.count() > 0


# Modules allowed to write session conf, with their count of conf.set(
# calls; a new writer (or a new call in one of these) fails here. Prefer a
# _RUNTIME_CONF entry or a per-write option.
_CONF_WRITERS = {
    "session.py": 1,  # configure_session, for foreign sessions
    "streaming/pipelines.py": 2,  # start_stream's locked state-store swap
    "streaming/tws.py": 2,
    "operators/similarity.py": 2,
}


def test_no_new_session_conf_writers():
    pkg = REPO / "cellbase_spark"
    found = {}
    for path in pkg.rglob("*.py"):
        n = len(re.findall(r"conf\.set\(", path.read_text()))
        if n:
            found[path.relative_to(pkg).as_posix()] = n
    over = {f: n for f, n in found.items() if n > _CONF_WRITERS.get(f, 0)}
    assert not over, f"new session-conf writers: {over}"


def test_bucketed_layouts_write_through_io():
    """Every bucketed layout is written by io.write_bucketed, which checks
    one file per bucket; no other module calls bucketBy."""
    pkg = REPO / "cellbase_spark"
    found = {}
    for path in pkg.rglob("*.py"):
        n = len(re.findall(r"bucketBy\(", path.read_text()))
        if n:
            found[path.relative_to(pkg).as_posix()] = n
    assert found == {"io.py": 1}, f"bucketBy outside io.write_bucketed: {found}"


def test_reused_worker_keeps_spark_zip_directory(spark):
    """A reused Python worker does not re-read pyspark.zip's directory per
    task: consecutive tasks on one worker see the same cache entry."""
    import pytest

    def probe(_):
        import os
        import sys
        import zipimport

        zp = next((p for p in sys.path if p.endswith("pyspark.zip")), None)
        cur = zipimport._zip_directory_cache.get(zp)
        prev = getattr(zipimport, "_cb_test_prev", None)
        zipimport._cb_test_prev = cur
        return [(os.getpid(), zp is not None, prev is not None, prev is cur)]

    sc = spark.sparkContext
    n = 2 * sc.defaultParallelism  # more tasks than cores: workers get reused
    seen = [r for _ in range(3) for r in sc.parallelize(range(n), n).mapPartitions(probe).collect()]
    if not all(zipped for _, zipped, _, _ in seen):
        pytest.skip("workers do not import pyspark from pyspark.zip")
    reused = [same for _, _, again, same in seen if again]
    assert reused, "no task ran on a reused worker"
    assert all(reused), seen


def test_add_py_file_after_udf_is_importable(spark, tmp_path):
    """Files shipped with addPyFile after workers are up are still found:
    only Spark's own archives skip the per-task cache invalidation."""
    from pyspark.sql import functions as F

    frame = spark.range(4).repartition(4)
    plus_one = F.udf(lambda x: x + 1, "long")
    assert frame.select(plus_one("id")).count() == 4  # workers are up
    mod = f"cb_late_{uuid.uuid4().hex[:12]}"
    (tmp_path / f"{mod}.py").write_text("VALUE = 41\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{mod}.py"))

    @F.udf("long")
    def late(x):
        import importlib

        return importlib.import_module(mod).VALUE + 1 + 0 * x

    assert [r[0] for r in frame.select(late("id")).collect()] == [42] * 4


def test_udf_runs_from_a_foreign_working_directory(tmp_path):
    """The engine daemon is importable by workers whatever the driver's
    working directory and PYTHONPATH are."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from pyspark.sql import functions as F
        from cellbase_spark.session import get_spark
        spark = get_spark("cb-cwd-test")
        spark.sparkContext.setLogLevel("ERROR")
        print(spark.range(3).select(F.udf(lambda x: x + 1, "long")("id").alias("y")).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "[Row(y=1), Row(y=2), Row(y=3)]" in r.stdout
