"""Bucketed co-located join (the 100 TB shuffle-elimination story).

Writing both fact tables bucketed (and sorted) on the join key lets the
sort-merge join read bucket i of each side into the same task — the
physical plan contains NO Exchange for the join. At 100 TB this is the
difference between re-shuffling both tables per query and a scan-local
join; the engine's sink layer supports it via DataFrameWriter.bucketBy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cellbase_spark.io import load_table
from cellbase_spark.plans.inspect import formatted_plan


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    import shutil

    # a previous session's managed-table dirs survive the (in-memory)
    # catalog; clear them or saveAsTable fails with LOCATION_ALREADY_EXISTS
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"/tmp/cellbase_spark_warehouse/{t}", ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .format("parquet")
        .saveAsTable("b_orders")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .format("parquet")
        .saveAsTable("b_lineitem")
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, sf_dir):
    bo, bl = bucketed_tables
    # the merge hint pins SMJ (at test scale Catalyst would broadcast the
    # tiny dim and never consult bucketing; at 100 TB SMJ is what you get)
    j = (
        spark.table(bl)
        .hint("merge")
        .join(spark.table(bo).hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = formatted_plan(j)
    # both scans bucketed, SMJ with no shuffle on either input: the only
    # Exchange in the whole plan is the final tiny aggregation's
    import re

    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, plan[:1500]
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"join shuffled a bucketed side:\n{plan[:1500]}"
    # and the answer matches the plain (shuffling) join
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    want = {
        (r["o_orderstatus"], r["n"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {(r["o_orderstatus"], r["n"]) for r in j.collect()}
    assert got == want


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bucketed_tpch_variants_match_plain_forms(spark, sf_dir):
    """The three layout variants must be row-identical to their plain
    forms (same oracle SQL => the driver gate enforces this at sf0.01;
    this is the cheap in-repo differential at the smoke SF)."""
    from cellbase_spark.registry import queries

    qs = queries()
    for plain, bucketed in (
        ("q_tpch_q3", "q_tpch_q3_bucketed"),
        ("q_tpch_q9", "q_tpch_q9_bucketed"),
        ("q_tpch_q21", "q_tpch_q21_bucketed"),
        ("q_tpch_q5", "q_tpch_q5_bucketed"),
    ):
        assert _rows(qs[plain](spark, sf_dir)) == _rows(
            qs[bucketed](spark, sf_dir)
        ), f"{bucketed} diverges from {plain}"


def test_band_update_rolls_forward_without_contaminating_probe_table(
    spark, sf_dir, tmp_path
):
    """q_dedup_band_update writes a NEW generation: the corpus-only band
    table q_dedup_incremental probes must keep exactly its pre-update
    row count (no in-place append), and the new generation must hold
    corpus + batch rows."""
    from cellbase_spark.queries.llm_dedup import _corpus_band_table
    from cellbase_spark.registry import queries

    qs = queries()
    before = _corpus_band_table(spark, sf_dir).count()
    stats = qs["q_dedup_band_update"](spark, sf_dir).collect()
    after = _corpus_band_table(spark, sf_dir).count()
    assert after == before  # previous generation untouched
    total_next = sum(r["n_rows"] for r in stats)
    assert total_next > before  # batch bands actually appended
    # 2 bands x every doc: next generation covers the full corpus
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total_next == 2 * n_docs


def test_incremental_capped_pairs_subset_of_faithful(spark, sf_dir):
    """Containment law: the capped probe may only REMOVE candidates
    (mega-clique buckets) — every capped pair must appear, with the
    same jaccard, in the faithful probe's output."""
    from cellbase_spark.registry import queries

    qs = queries()
    full = {
        (r["id_new"], r["id_corpus"]): r["jaccard"]
        for r in qs["q_dedup_incremental"](spark, sf_dir).collect()
    }
    capped = qs["q_dedup_incremental_capped"](spark, sf_dir).collect()
    for r in capped:
        key = (r["id_new"], r["id_corpus"])
        assert key in full
        assert abs(full[key] - r["jaccard"]) < 1e-12


def test_compact_files_reduces_file_count_without_shuffle(spark, sf_dir):
    """q_compact_files must actually compact (fewer output files than
    the 64-file fragmented input) and the compaction plan must be a
    narrow coalesce — zero Exchange nodes."""
    import os

    from cellbase_spark.plans.inspect import formatted_plan
    from cellbase_spark.io import scratch_path
    from cellbase_spark.registry import queries

    queries()["q_compact_files"](spark, sf_dir).collect()  # materialize
    frag = scratch_path(sf_dir, "frag", "lineitem")
    compacted = scratch_path(sf_dir, "compacted", "lineitem")
    n = lambda p: len([f for f in os.listdir(p) if f.endswith(".parquet")])  # noqa: E731
    assert n(frag) == 64
    assert n(compacted) < n(frag)
    plan = formatted_plan(spark.read.parquet(frag).coalesce(1))
    assert "Exchange" not in plan


def test_ensure_bucketed_table_distinguishes_same_basename_dirs(spark, tmp_path):
    """Two data dirs sharing a basename must build two distinct bucketed
    tables — the cache keys on the full normalized path, not the
    basename (r12 advice: the second caller must not silently serve the
    first directory's rows)."""
    from cellbase_spark.io import ensure_bucketed_table

    for sub, ids in (("a", [1, 2]), ("b", [7, 8, 9])):
        d = tmp_path / sub / "sfx"
        spark.createDataFrame(
            [(i,) for i in ids], "r_regionkey long"
        ).write.parquet(str(d / "region.parquet"))

    ta = ensure_bucketed_table(spark, str(tmp_path / "a" / "sfx"), "region", "r_regionkey")
    tb = ensure_bucketed_table(spark, str(tmp_path / "b" / "sfx"), "region", "r_regionkey")
    assert ta != tb
    assert spark.table(ta).count() == 2
    assert spark.table(tb).count() == 3
    for t in (ta, tb):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_fact_layout_distinguishes_same_basename_dirs(
    spark, sf_dir_medium, tmp_path
):
    """The bucketed fact layout is keyed on the full data path: after a
    build over a/sf0.01, q_tpch_q3_bucketed over b/sf0.01 (same basename,
    lineitem without its odd orderkeys) must serve b's rows, not a's."""
    import shutil
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cellbase_spark.registry import queries

    dirs = {}
    for sub in ("a", "b"):
        d = tmp_path / sub / "sf0.01"
        d.mkdir(parents=True)
        for f in Path(sf_dir_medium).glob("*.parquet"):
            shutil.copyfile(f, d / f.name)
        dirs[sub] = str(d)
    li_path = Path(dirs["b"]) / "lineitem.parquet"
    li = pq.read_table(li_path)
    pq.write_table(
        li.filter(pc.equal(pc.bit_wise_and(li["l_orderkey"], 1), 0)), li_path
    )

    qs = queries()
    want_a = _rows(qs["q_tpch_q3"](spark, dirs["a"]))
    want_b = _rows(qs["q_tpch_q3"](spark, dirs["b"]))
    assert want_a != want_b  # the two directories really hold different data
    assert _rows(qs["q_tpch_q3_bucketed"](spark, dirs["a"])) == want_a
    assert _rows(qs["q_tpch_q3_bucketed"](spark, dirs["b"])) == want_b
