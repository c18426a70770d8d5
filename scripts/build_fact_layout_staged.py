"""Staged sf100 fact-layout build + quartet bench under a tight disk
budget (r14 verdict #1).

The one-shot `_fact_bucketed_layout` path peaks at ~90 GB of transients
at sf100 (two full shuffles of the widened 600M-row lineitem: the
orders⋈customer denorm SMJ, then the bucket repartition) — ENOSPC on a
58 GB-free sandbox (BASELINE.md round-14 rung). This script builds the
SAME tables with ONE widened-lineitem shuffle:

1. bucketed ORDERS (t_o) — orders-sized, cheap;
2. orders⋈customer staged as a TRANSIENT table bucketed on o_orderkey
   (orders-sized, cheap) — so the big join's probe side arrives
   pre-partitioned and never shuffles;
3. the denorm join lineitem⋈oc: only lineitem shuffles (to exactly
   n_buckets partitions, AQE off for determinism), and because
   HashPartitioning's murmur3-pmod IS the bucket-id function, the join
   output lands one-partition-per-bucket — the bucketBy writer needs NO
   second shuffle (verified one file per bucket after the write);
4. drop the transient oc table + bytes, then run the quartet keys
   (their `_fact_bucketed_layout` sees tableExists and serves the
   staged layout as-is).

Peak transients: one ~25 GB lz4 shuffle + the ~20 GB bucketed output —
inside the sandbox budget. At a real 100 TB deployment the same staging
halves the ingest shuffle volume; the bucket count scales with the
cluster (128 here ≈ 0.4 GB sort per write task under local[32]).

Usage: python scripts/build_fact_layout_staged.py [sf_dir] [n_buckets]
         [n_runs] [out_json]
Env: SPARK_GRAFT_DRIVER_MEM (set e.g. 64g — local mode means one JVM).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cellbase_spark.session import get_spark  # noqa: E402

KEYS = [
    "q_tpch_q3_bucketed",
    "q_tpch_q5_bucketed",
    "q_tpch_q9_bucketed",
    "q_tpch_q21_bucketed",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.localdata/sf100"
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    out_json = sys.argv[4] if len(sys.argv) > 4 else None

    spark = get_spark("cellbase-staged-layout")
    spark.sparkContext.setLogLevel("ERROR")

    from cellbase_spark.operators.factlayout import build_staged_fact_layout
    from cellbase_spark.queries.scans import scratch_path, scratch_table

    base = scratch_path(sf_dir, "factbucketed")
    t_l = scratch_table(sf_dir, "cb_factb_lineitem")
    t_o = scratch_table(sf_dir, "cb_factb_orders")

    def free_gb() -> float:
        st = os.statvfs("/")
        return st.f_bavail * st.f_frsize / 1e9

    print(f"free before build: {free_gb():.1f} GB", flush=True)
    t0 = time.perf_counter()
    build_staged_fact_layout(spark, sf_dir, n_buckets, t_l, t_o, base)
    build_s = time.perf_counter() - t0
    for name in (t_l, t_o):
        path = os.path.join(base, name)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        print(
            f"{name}: {len(files)} files / {n_buckets} buckets, "
            f"{sum(os.path.getsize(os.path.join(path, f)) for f in files)/1e9:.2f} GB",
            flush=True,
        )
    print(f"staged layout build total: {build_s:.1f}s, free {free_gb():.1f} GB",
          flush=True)

    from cellbase_spark.registry import REGISTRY
    import cellbase_spark.queries  # noqa: F401

    results: dict[str, dict] = {}
    for k in KEYS:
        fn = REGISTRY[k].fn
        walls, err = [], None
        try:
            for _ in range(n_runs + 1):
                t1 = time.perf_counter()
                fn(spark, sf_dir).collect()
                walls.append(time.perf_counter() - t1)
        except Exception as e:  # record, keep going
            err = f"{type(e).__name__}: {e}"
        results[k] = {
            "cold_sec": round(walls[0], 3) if walls else None,
            "warm_best_sec": round(min(walls[1:]), 3) if len(walls) > 1 else None,
            "all_sec": [round(w, 3) for w in walls],
            "err": err,
        }
        print(f"{k}: {results[k]}", flush=True)

    payload = {
        "metric": "sf100_bucketed_quartet",
        "sf_dir": sf_dir,
        "n_buckets": n_buckets,
        "layout_build_sec": round(build_s, 1),
        "staged": True,
        "queries": results,
    }
    line = json.dumps(payload)
    print(line, flush=True)
    if out_json:
        with open(out_json, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
