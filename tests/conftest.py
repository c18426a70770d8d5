from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from cellbase_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cellbase-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    if not Path(SF_SMOKE).is_dir():
        pytest.skip(f"testdata not present: {SF_SMOKE}")
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_dir_medium():
    """The sf0.01 fixture for tests that need enough rows for their
    invariant (e.g. k-anonymity classes that survive suppression).
    Skips, not errors, on machines without the driver testdata."""
    d = "/root/testdata/sf0.01"
    if not Path(d).is_dir():
        pytest.skip(f"testdata not present: {d}")
    return d


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` collects into ``ids`` the ids of the
    Spark jobs run inside the block."""

    @contextmanager
    def jobs():
        sc = spark.sparkContext
        group = f"cb-test-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return jobs
