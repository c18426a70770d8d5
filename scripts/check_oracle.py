"""Local replica of the driver's correctness gate.

Runs every registered query at sf0.01 in Spark AND its DuckDB oracle over
the same parquet, then compares row-count + schema-ish dtypes +
order-insensitive values. Usage:

    python scripts/check_oracle.py [key_prefix ...]      # all or filtered
    SPARK_GRAFT_CHECK_SF=/root/testdata/sf0.001 python scripts/check_oracle.py
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

_REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, _REPO)

import __spark_entry__ as entrymod  # noqa: E402
from cellbase_spark.session import get_spark  # noqa: E402
from cellbase_spark import schemas  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in schemas.TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: sort columns by name, normalize
    values to comparable primitives, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(_norm_obj)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: _norm_float(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _norm_float(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NaN"
    return repr(float(v))


def _norm_obj(v):
    import numpy as np
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return _norm_float(v)
    # Decimal-STRICT on purpose: the driver string-compares cell reprs, so
    # Spark Decimal('3343155.50') vs DuckDB float64 3343155.5 is a driver
    # hash FAIL even though the values are numerically equal (round-2
    # q_window_running_sum/q_window_range_frame). Keep the exact string so
    # the local gate predicts the driver instead of masking it.
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(str(_norm_obj(x)) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        return str(v.replace(tzinfo=None))
    if isinstance(v, dict):
        return str(sorted(v.items()))
    return str(v)


def _hostile_cells(df: pd.DataFrame, side: str) -> list[str]:
    """Driver-canon-hostile cell types. The driver's _canon sort_values
    dies with `unhashable type: 'numpy.ndarray'` on container cells
    (round-2 q_phonetic_key ERR), so ANY list/ndarray/dict cell in a
    hash-gated result is an automatic driver ERR — flag it here."""
    import numpy as np

    hostile = []
    for c in df.columns:
        if df[c].dtype == object and len(df):
            # ADVICE r3: iloc[0] alone misses a column whose first row is
            # None but holds containers later — scan a bounded sample of
            # non-null values (containers are all-or-nothing per column in
            # practice; 64 rows bounds the cost on wide results).
            sample = df[c].dropna().head(64)
            for v in sample:
                if isinstance(v, (list, tuple, np.ndarray, dict, set)):
                    hostile.append(f"{side}.{c}={type(v).__name__}")
                    break
    return hostile


def compare(key: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    hostile = _hostile_cells(spark_df, "spark") + _hostile_cells(duck_df, "duck")
    if hostile:
        problems.append(
            "driver-canon-hostile container cells (driver would ERR): "
            + ", ".join(hostile)
        )
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = canon(spark_df), canon(duck_df)
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b)
        bad_cols = [c for c in a.columns if neq[c].any()]
        for c in bad_cols[:3]:
            i = int(neq[c].idxmax())
            problems.append(f"value col={c} row{i}: spark={a[c][i]!r} duck={b[c][i]!r}")
    return problems


def main() -> int:
    prefixes = sys.argv[1:]
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if prefixes:
        qs = {k: v for k, v in qs.items() if any(k.startswith(p) for p in prefixes)}
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(SF_DIR)
    n_pass = n_fail = n_rowsonly = 0
    for key in sorted(qs):
        t0 = time.time()
        try:
            sdf = qs[key](spark, SF_DIR).toPandas()
        except Exception:
            print(f"FAIL {key}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if key not in oracles:
            print(f"rows {key}: {len(sdf)} rows (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            ddf = con.sql(oracles[key]).df()
        except Exception:
            print(f"FAIL {key}: duckdb raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(key, sdf, ddf)
        if problems:
            print(f"FAIL {key}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"ok   {key}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        # Checkpoint-handle leak guard (r9 verdict nit): release_prior()
        # drains this thread's handle list at the start of every wrapped
        # build, so after any single key's build+collect the list holds
        # at most THAT build's handles. A key that checkpoints per
        # iteration stays small (pagerank/CC: a handful); a bound of 64
        # catches a drain regression at the first leaking key instead of
        # an OOM at key 200 of the battery.
        from cellbase_spark.operators import ckpt

        n_live = len(ckpt.live_handles())
        if n_live > 64:  # if/raise, not assert: survives -O
            raise RuntimeError(
                f"eager-checkpoint handle leak after {key}: "
                f"{n_live} recorded handles (release_prior "
                "drain regression — see operators/ckpt.py)"
            )
    print(f"\n{n_pass} ok, {n_fail} FAIL, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
