"""schemas.py declares each table's row type; every declaration must equal
the schema Spark infers from the table's file, on the shipped sf0.01 data
and on the sf0.1 data scripts/gen_testdata.py generates."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from cellbase_spark import schemas

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from gen_testdata import generate  # noqa: E402


@pytest.fixture(scope="module")
def generated_sf01(tmp_path_factory):
    out = tmp_path_factory.mktemp("gen") / "sf0.1"
    generate(0.1, out)
    return str(out)


def _mismatches(spark, sf_dir: str) -> list[str]:
    out = []
    for name, declared in schemas.TABLES.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        if inferred != declared:
            out.append(f"{name}: inferred {inferred.simpleString()} declared {declared.simpleString()}")
    return out


def test_declared_schemas_match_shipped_sf001(spark, sf_dir_medium):
    assert _mismatches(spark, sf_dir_medium) == []


def test_declared_schemas_match_generated_sf01(spark, generated_sf01):
    assert _mismatches(spark, generated_sf01) == []
