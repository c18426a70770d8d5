"""Facade end-to-end key (SURVEY.md §2 E4, round 13 — r12 verdict #3).

The 886-line public facade (cellbase_spark/api.py: CellBase/CellTable,
the reference's workbook-of-tables ergonomics) was exercised by 41 unit
tests but no oracle-gated key drove it end-to-end; this module closes
that last unguarded public surface with ONE composed key that walks the
reference user's whole loop through the facade verbs only:

    open the database -> bucketed point lookup (get row by id) ->
    export dim sheets to ONE .ods workbook -> re-import the workbook
    as typed tables -> filter/join/aggregate the re-imported sheets
    against a parquet fact table.

Every step delegates to an already-gated operator (ensure_bucketed_table,
write_ods_workbook/read_ods_workbook, the join/agg built-ins), so the
value of this key is the COMPOSITION: the facade's glue — key-column
plumbing, workbook dict round-trip, CellTable wrapping — sits under the
driver's hash gate, not just unit asserts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark import schemas
from cellbase_spark.functions.exact import dsum
from cellbase_spark.io import scratch_path, scratch_table
from cellbase_spark.registry import register


@register(
    "q_facade_e2e",
    family="facade",
    oracle="""
SELECT n.n_name AS nation_name,
       r.r_name AS region_name,
       COUNT(s.s_suppkey) AS n_suppliers,
       CAST(ROUND(SUM(CAST(s.s_acctbal AS DECIMAL(25,10))), 2) AS DOUBLE)
           AS total_acctbal
FROM nation n
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN supplier s ON s.s_nationkey = n.n_nationkey
WHERE n.n_nationkey = (
    SELECT c_nationkey FROM customer WHERE c_custkey = 42
)
GROUP BY n.n_name, r.r_name
""",
)
def q_facade_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellBase/CellTable end-to-end: who supplies customer 42's nation,
    answered through the workbook round trip.

    1. `table("customer", bucketed=True).get(42)` — the reference's
       get-row-by-id on the key-bucketed layout (prunes to ONE bucket's
       files before any IO; the S21 cost model, driven via the facade).
    2. `export_workbook` writes nation+region as ONE two-sheet .ods
       (driver-collect path, guarded — dims only by contract).
    3. `import_workbook` re-opens it: each sheet an independent lazy
       distributed binaryFile+mapInPandas scan typed by its schema.
    4. The re-imported dims join (broadcast — both are dim-sized)
       against the parquet supplier fact, exact-decimal aggregated.

    Scale: steps 2-3 move 30 dim rows by design (workbooks are small
    files); the fact-side join and aggregate are ordinary Catalyst
    plans that scale with the supplier table.
    """
    from cellbase_spark.api import CellBase

    cb = CellBase(spark, sf_dir)

    # 1. bucketed point lookup (driver-side Row — one bucket's files)
    cust = cb.table("customer", bucketed=True).get(42)
    if cust is None:
        raise ValueError("facade e2e: customer 42 missing from testdata")

    # 2. export the dim sheets to one workbook file
    out = scratch_path(sf_dir, "facade", "dims.ods")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    cb.export_workbook(
        {"nation": cb.table("nation"), "region": cb.table("region")},
        out,
        fmt="ods",
    )

    # 3. re-import as typed lazy tables
    wb = cb.import_workbook(
        out,
        {"nation": schemas.NATION, "region": schemas.REGION},
        fmt="ods",
    )

    # 4. compose against the parquet fact side
    nation = wb["nation"].where(
        F.col("n_nationkey") == F.lit(cust["c_nationkey"])
    )
    supplier = cb.table("supplier").df
    return (
        nation.df.join(
            F.broadcast(wb["region"].df),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(supplier, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            dsum("s_acctbal", "total_acctbal"),
        )
    )


@register(
    "q_facade_ann",
    family="facade",
    oracle=None,  # bound below: MUST equal q_ann_ivf_indexed's oracle
)
def q_facade_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN half of the facade gate (SURVEY §2.14 E5): the reference
    user's similarity-search loop driven through CellTable verbs only —
    `build_ann_index` persists the hive-partitioned index (once per
    process+sf, the ingest-time artifact), `ann_search` probes it with
    an EXPLICIT query vector (the facade's API shape: callers bring
    their own vector, not a registry config relation).

    The query vector passed in is numerically identical to the engine
    keys' formula vector ((i*37 % 101)/101), so this key must
    hash-match q_ann_ivf_indexed's oracle EXACTLY — the facade glue
    (geometry decode from table properties, tombstone application,
    literal-vector quantization through the same Spark fold
    expressions) is thereby pinned to produce bit-identical ranking to
    the engine path. Probe cost: nprobe=2 PartitionFilters-pruned
    lists, flat in corpus size."""
    from cellbase_spark.api import CellBase

    cb = CellBase(spark, sf_dir)
    emb = cb.table("embeddings")
    t = scratch_table(sf_dir, "cb_facade_annindex")
    if not spark.catalog.tableExists(t):
        emb.build_ann_index(
            "embedding", t, scratch_path(sf_dir, "facade_annindex")
        )
    qv = [((i * 37) % 101) / 101.0 for i in range(1, 65)]
    return emb.ann_search(t, qv, k=20, nprobe=2)


def _bind_facade_ann_oracle() -> None:
    """q_facade_ann's oracle IS q_ann_ivf_indexed's — same query vector,
    same probe geometry, same scoring folds; the key exists to pin the
    facade path to the engine path bit for bit."""
    import dataclasses as _dc

    from cellbase_spark.queries import llm_similarity  # noqa: F401
    from cellbase_spark.registry import REGISTRY

    REGISTRY["q_facade_ann"] = _dc.replace(
        REGISTRY["q_facade_ann"], oracle=REGISTRY["q_ann_ivf_indexed"].oracle
    )


_bind_facade_ann_oracle()


@register(
    "q_facade_edit",
    family="facade",
    oracle="""
WITH nation_edit AS (
  SELECT n_nationkey,
         CASE WHEN n_nationkey = 3 THEN 'RENAMED' ELSE n_name END AS n_name,
         n_regionkey
  FROM nation
  WHERE n_nationkey <> 7
  UNION ALL
  SELECT 99, 'ATLANTIS', 2
)
SELECT r.r_name AS region_name,
       COUNT(*) AS n_nations,
       COUNT(CASE WHEN n.n_name IN ('RENAMED', 'ATLANTIS') THEN 1 END)
           AS n_edited,
       MIN(n.n_name) AS first_nation
FROM nation_edit n
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def q_facade_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutation half of the facade gate (SURVEY §2.14 E6, round 14 —
    r13 verdict #3): the reference's EDIT loop (table[key][col] = v,
    add_row, remove_row, save back to file) driven through CellTable
    verbs only, then re-read from the SAVED file and aggregated — so
    the whole write path (edit plan composition, schema-preserving
    save, round-trip fidelity) sits under the driver's hash gate, not
    just unit asserts:

        nation.set_value(3, 'n_name', 'RENAMED')   # cell edit
              .remove_row(7)                        # delete by key
              .add_row({99, 'ATLANTIS', region 2})  # append
              .save(parquet)                        # persist the sheet
        -> re-read -> join region -> per-region census + edit audit

    The oracle expresses the same three edits in SQL over the original
    parquet (CASE for the cell edit, WHERE for the delete, UNION ALL
    for the append) — a dropped edit, a type-coercion drift in
    set_value's cast, or a save/re-read corruption all hash-mismatch.

    Scale: the edits are narrow maps / a one-row union (no shuffle
    before the write); nation is a dim sheet by contract — fact-table
    mutation is q_merge_upsert's job."""
    from cellbase_spark.api import CellBase

    cb = CellBase(spark, sf_dir)
    edited = (
        cb.table("nation")
        .set_value(3, "n_name", "RENAMED")
        .remove_row(7)
        .add_row({"n_nationkey": 99, "n_name": "ATLANTIS", "n_regionkey": 2})
    )
    out = scratch_path(sf_dir, "facade_edit", "nation")
    edited.save(out, fmt="parquet")
    saved = spark.read.parquet(out)
    region = cb.table("region").df
    return (
        saved.join(
            F.broadcast(region),
            saved["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.count(
                F.when(F.col("n_name").isin("RENAMED", "ATLANTIS"), 1)
            ).alias("n_edited"),
            F.min("n_name").alias("first_nation"),
        )
    )
