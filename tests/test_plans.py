"""Physical-plan assertions (the 100 TB scale contract, pinned in CI).

Correctness says what a query returns; these tests say how Spark may
execute it. Each assertion encodes a property that is invisible at sf0.001
but decides feasibility at 100 TB: filters reaching the parquet scan,
column pruning, dimension broadcasts instead of shuffles, top-k as
TakeOrderedAndProject instead of a global sort, and the absence of
nested-loop joins in the pair-forming operators.
"""

from __future__ import annotations

import pytest

from cellbase_spark.plans.inspect import formatted_plan
from cellbase_spark.registry import queries

QS = queries()


def plan_of(spark, key: str, sf_dir: str) -> str:
    return formatted_plan(QS[key](spark, sf_dir))


def test_point_lookup_pushes_filter_to_scan(spark, sf_dir):
    plan = plan_of(spark, "q_point_lookup", sf_dir)
    assert "PushedFilters" in plan
    # the key equality must reach the parquet reader, not sit in a Filter above it
    assert "EqualTo(c_custkey" in plan


def test_agg_prunes_scan_columns(spark, sf_dir):
    # Q1 uses 7 of lineitem's 11 columns; the unused join keys must not be read
    plan = plan_of(spark, "q_agg_groupby", sf_dir)
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_quantity" in read and "l_returnflag" in read
    for pruned in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert pruned not in read


def test_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, "q_join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(spark, "q_star_join", sf_dir)
    # region/nation/customer dims all under the broadcast threshold here;
    # no BNL anywhere in the 5-table chain
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_groupby_agg_is_two_phase(spark, sf_dir):
    plan = plan_of(spark, "q_agg_groupby", sf_dir)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_global_topk_avoids_total_sort(spark, sf_dir):
    plan = plan_of(spark, "q_topk_global", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_knn_join_is_arrow_kernel_bounded_memory(spark, sf_dir):
    # sub-bucketed dense path: probe slices cogrouped with a replicated
    # build side feed the Arrow kernel — one exchange per cogroup side,
    # no pair join, no post-shuffle ranking window (ranking is in-kernel)
    import re

    plan = plan_of(spark, "q_knn_join", sf_dir)
    assert "FlatMapCoGroupsInPandas" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "Join" not in plan and "Window" not in plan


def test_knn_join_smj_never_broadcasts(spark, sf_dir):
    # the 100 TB form: spillable sort-merge pair join, zero broadcasts —
    # survives buckets (and tables) too large for any build side
    plan = plan_of(spark, "q_knn_join_smj", sf_dir)
    assert "SortMergeJoin" in plan
    assert "Broadcast" not in plan


def test_asof_join_has_no_range_blowup(spark, sf_dir):
    plan = plan_of(spark, "q_join_asof", sf_dir)
    # union + carry-forward window: no join node at all in the physical plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


@pytest.mark.parametrize("key", ["q_dedup_minhash", "q_ngram_jaccard"])
def test_pair_ops_never_cartesian(spark, sf_dir, key):
    plan = plan_of(spark, key, sf_dir)
    assert "CartesianProduct" not in plan


def test_filter_compound_pushes_predicates(spark, sf_dir):
    plan = plan_of(spark, "q_filter_compound", sf_dir)
    assert "PushedFilters: []" not in plan.split("Scan parquet")[1].split("ReadSchema")[0]


def test_chunking_is_shuffle_free(spark, sf_dir):
    # Fixed-stride chunking is a narrow map: explode in the scan stage,
    # no Exchange anywhere.
    plan = plan_of(spark, "q_chunk_documents", sf_dir)
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_zorder_key_is_shuffle_free_codegen(spark, sf_dir):
    plan = plan_of(spark, "q_zorder", sf_dir)
    assert "Exchange" not in plan
    assert "codegen id" in plan  # bit-interleave runs inside whole-stage codegen


def test_ann_lsh_probe_is_filter_plus_topk(spark, sf_dir):
    # Bucket probe must be a filter + TakeOrderedAndProject: no shuffle
    # of the embeddings, no join to form candidates.
    plan = plan_of(spark, "q_ann_lsh", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") == 0 or "BroadcastExchange" in plan


def test_weighted_sample_is_takeordered(spark, sf_dir):
    plan = plan_of(spark, "q_sample_weighted", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.replace("BroadcastExchange", "")


def test_gap_fill_broadcasts_spine(spark, sf_dir):
    # The dense grid side (types x hours) is tiny and must broadcast into
    # the join against the hourly aggregate.
    plan = plan_of(spark, "q_gap_fill", sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefilter_join_double_broadcast(spark, sf_dir):
    # Both phases (bucket membership + exact keys) must broadcast; the
    # probe table never shuffles before the aggregate.
    plan = plan_of(spark, "q_join_prefilter", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_partitioned_readback_prunes_partitions(spark, sf_dir):
    # q_partitioned_write's read-back filter is on the partition column:
    # it must resolve against directory names (PartitionFilters), leaving
    # nothing for PushedFilters, and never appear as a post-scan Filter.
    QS["q_partitioned_write"](spark, sf_dir)  # materialize the sink
    from cellbase_spark.io import scratch_path

    out = scratch_path(sf_dir, "part", "lineitem")
    from pyspark.sql import functions as F
    back = spark.read.parquet(out).where(F.col("l_returnflag") == "R")
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in pf_line


def test_tpch_q6_filters_reach_scan(spark, sf_dir):
    plan = plan_of(spark, "q_tpch_q6", sf_dir)
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read  # 4-column query never reads the keys


def test_tpch_q18_single_orderkey_exchange(spark, sf_dir):
    # round-4 window form: the HAVING sum is a window over ONE
    # hashpartitioning(l_orderkey) exchange, reused by the orders join
    # and the final group-by — no survivor-set join-back at all
    plan = plan_of(spark, "q_tpch_q18", sf_dir)
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1
    assert "Window" in plan
    assert plan.count("lineitem.parquet") == 1


def test_tpch_q14_broadcasts_part_dim(spark, sf_dir):
    plan = plan_of(spark, "q_tpch_q14", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q4_semi_join_never_materializes_matches(spark, sf_dir):
    plan = plan_of(spark, "q_tpch_q4", sf_dir)
    assert "LeftSemi" in plan


def test_pagerank_rounds_are_hash_joins(spark, sf_dir):
    plan = plan_of(spark, "q_pagerank", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_map_battery_maps_add_no_shuffle(spark, sf_dir):
    # exactly the relational exchanges: the COUNT(DISTINCT day) dedup, the
    # (user_id, event_type) agg, and the user_id map-build agg — the map
    # zip/filter/explode hop itself must add none
    import re

    plan = plan_of(spark, "q_map_functions", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_tpch_q7_nation_filters_broadcast_prefilter(spark, sf_dir):
    # the two-nation supplier/customer dims broadcast; the only
    # SortMergeJoin allowed is lineitem x orders on orderkey
    plan = plan_of(spark, "q_tpch_q7", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_tpch_q8_single_pass_conditional_agg(spark, sf_dir):
    # numerator and denominator must share one hash-agg (no union of
    # two scans). Derived sides (supplier-filtered, customer-filtered)
    # carry no forced broadcast hint — statically they plan as SMJ and
    # AQE converts to broadcast at runtime while they fit; the static
    # plan may show at most those two SMJs, and base dims still
    # broadcast off file stats.
    plan = plan_of(spark, "q_tpch_q8", sf_dir)
    assert plan.count("Union") == 0
    assert plan.count("SortMergeJoin") <= 2
    assert "BroadcastHashJoin" in plan


def test_tpch_q2_min_is_window_not_rescan(spark, sf_dir):
    # the correlated MIN runs as a window over the grouped pairs — the
    # lineitem scan must appear once, not once per subquery
    plan = plan_of(spark, "q_tpch_q2", sf_dir)
    assert plan.count("lineitem.parquet") == 1  # no per-subquery re-scan
    assert "Window" in plan


def test_tpch_q21_uses_aggregates_not_self_joins(spark, sf_dir):
    # the EXISTS/NOT-EXISTS pair is compiled away: no anti/semi self-join
    # of lineitem against itself, and no nested-loop fallback. Round-4
    # window rewrite: both windows + the orders join ride ONE lineitem
    # exchange (hashpartitioning(l_orderkey) satisfies both clusterings),
    # so the whole query holds at <= 3 shuffle exchanges.
    plan = plan_of(spark, "q_tpch_q21", sf_dir)
    assert "LeftAnti" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 3
    assert plan.count("lineitem.parquet") == 1  # single scan, no self-join
    assert "Window" in plan


def test_tpch_q17_threshold_rides_back_without_forced_broadcast(spark, sf_dir):
    # the part filter reaches lineitem off file stats (broadcast), while
    # the per-part threshold ride-back — an aggregate keyed by partkey,
    # unbounded at SF — carries no forced hint: statically SMJ, runtime
    # broadcast via AQE while it fits. Never a nested loop or cartesian.
    plan = plan_of(spark, "q_tpch_q17", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 2
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_tpch_q3_broadcasts_filtered_dims(spark, sf_dir):
    # Q3's scale contract: lineitem is the only fact-sized input; the
    # date-filtered orders side and segment-filtered customer side must
    # join as broadcasts (size-based, not forced — AQE may swap to SMJ
    # only when a filtered side outgrows the threshold), with the
    # shipdate filter pushed into the lineitem scan.
    plan = plan_of(spark, "q_tpch_q3", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    li_scan = next(
        l for l in plan.splitlines() if "PushedFilters" in l and "l_shipdate" in l
    )
    assert "GreaterThan(l_shipdate" in li_scan


def test_dedup_near_plan_shape_pinned(spark, sf_dir):
    """q_dedup_near (word-vocab PPJoin, broadcast tier at test SF): the
    pair generation must stay equi-join-shaped — no CartesianProduct and
    no SortMergeJoin at this scale; the only nested-loop joins are the
    single-row vocab-map broadcasts (crossJoin(broadcast(vmap)), a 1-row
    build side by construction). Exchange ceiling pins "no new shuffle"
    round-over-round (r4 recorded 48 incl. reuse references)."""
    plan = plan_of(spark, "q_dedup_near", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") <= 48


def test_ngram_jaccard_bitmap_tier_pinned(spark, sf_dir):
    """q_ngram_jaccard (char-n-gram vocab): the adaptive chooser must
    land on the BITMAP verify tier at test SF (bounded vocab -> bigint
    bitmaps, bit_count intersections), with equi-join candidate
    generation only and at most the two recorded exchanges."""
    plan = plan_of(spark, "q_ngram_jaccard", sf_dir)
    assert "bit_count" in plan  # bitmap tier, not array_intersect
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2


def test_dedup_simhash_is_narrow_map(spark, sf_dir):
    """q_dedup_simhash's signature computation is embarrassingly
    parallel: one parquet scan, zero exchanges, zero joins — the plan a
    100 TB corpus needs (any shuffle here would be a regression)."""
    plan = plan_of(spark, "q_dedup_simhash", sf_dir)
    assert plan.count("Exchange") == 0
    assert "Join" not in plan


def test_bm25_is_zero_data_shuffle(spark, sf_dir):
    """BM25: per-doc tf/dl are array built-ins (no explode of the corpus);
    the only Exchange carries 1-row global-stats partials; top-k is
    TakeOrderedAndProject. The BNL is against the broadcast 1-row stats
    relation — the intended config-relation pattern."""
    plan = plan_of(spark, "q_bm25", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("(1) Scan") or True  # formatted ids vary; count nodes below
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Generate" not in plan  # no explode anywhere


def test_chunk_cdc_shuffles_only_doc_and_chunkhash(spark, sf_dir):
    """CDC chunking: one window pass keyed by doc_id + one chunk-hash agg;
    no pairwise joins of any kind."""
    plan = plan_of(spark, "q_chunk_cdc", sf_dir)
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2
    for node in ("Join", "CartesianProduct"):
        assert node not in plan
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan


def test_copurchase_pair_join_is_hash_not_nested_loop(spark, sf_dir):
    """The order-keyed self-join must plan as a hash/merge equi-join with
    the p1<p2 predicate attached — never a nested loop over the data.
    (The one BNL is the 1-row totals broadcast.)"""
    plan = plan_of(spark, "q_copurchase_lift", sf_dir)
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    import re

    bnl = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnl) <= 1  # only the 1-row count relation
    assert "TakeOrderedAndProject" in plan


def test_winsorize_bounds_broadcast_back(spark, sf_dir):
    """Percentile bounds (5 rows) broadcast onto the fact scan; the clamp
    aggregates in one partial+final pass."""
    plan = plan_of(spark, "q_winsorize", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_max_concurrency_no_global_single_partition_window(spark, sf_dir):
    """The sweep must never sort ALL boundaries in one partition: the
    boundary-level window partitions by (event_type, bucket); only the
    bucket-summary window (rows = #hours) is single-ordered per type.
    Detectable in the plan: no Exchange SinglePartition feeding a Sort
    over the full boundary union, and no joins at all."""
    plan = plan_of(spark, "q_max_concurrency", sf_dir)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan
    # the boundary window's exchange partitions by event_type#/bucket#
    assert "hashpartitioning(event_type" in plan


def test_json_variant_is_narrow_plus_one_agg(spark, sf_dir):
    plan = plan_of(spark, "q_json_variant", sf_dir)
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "Join" not in plan


def test_rrf_shortlists_are_takeordered(spark, sf_dir):
    """Both retriever arms must produce their shortlist via per-partition
    top-k heaps; the only single-partition work is over the 100-row
    shortlists."""
    plan = plan_of(spark, "q_rrf_fusion", sf_dir)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_embed_centroid_single_agg(spark, sf_dir):
    plan = plan_of(spark, "q_embed_centroid", sf_dir)
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "Join" not in plan
    assert "Generate" in plan  # the posexplode


def test_dpp_join_prunes_partitions_dynamically(spark, sf_dir):
    """The fact scan must carry a dynamicpruningexpression partition
    filter (runtime pruning fed by the dim's broadcast), not a static
    literal — the dim filter is aggregate-derived precisely so planning-
    time constraint propagation cannot resolve it."""
    QS["q_dpp_join"](spark, sf_dir)  # materialize the partitioned sink
    from pyspark.sql import functions as F

    from cellbase_spark.io import scratch_path

    out = scratch_path(sf_dir, "part", "events")
    from cellbase_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    fact = spark.read.parquet(out)
    dim = (
        ev.groupBy("event_type")
        .agg(F.min("event_id").alias("first_seen"))
        .where(F.col("first_seen") < 3)
        .select("event_type")
    )
    j = fact.join(F.broadcast(dim), "event_type").groupBy("event_type").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_bucketed_join_key_has_no_join_exchange(spark, sf_dir):
    """q_bucketed_join's join must read co-located buckets: no shuffle
    Exchange feeds the SortMergeJoin (only the final 5-group agg may
    exchange)."""
    QS["q_bucketed_join"](spark, sf_dir)  # author the bucketed tables
    from cellbase_spark.io import scratch_table

    bo = spark.table(scratch_table(sf_dir, "cb_b_orders"))
    bl = spark.table(scratch_table(sf_dir, "cb_b_lineitem"))
    # at sf0.001 AQE would broadcast the tiny side and hide the bucketed
    # path; disable broadcast to surface the layout the key exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = formatted_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    assert "SelectedBucketsCount" in plan


def test_bm25_zero_data_shuffle_topk(spark, sf_dir):
    """q_bm25: the corpus never shuffles — the only Exchange feeds the
    1-row corpus-stats aggregate (broadcast back as BNL), and the final
    ranking is TakeOrderedAndProject, never a global sort."""
    import re

    plan = plan_of(spark, "q_bm25", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_chunk_cdc_two_exchanges(spark, sf_dir):
    """q_chunk_cdc: content-defined chunking is doc-local; only the
    doc_id window partitioning and the chunk-hash agg may exchange."""
    import re

    plan = plan_of(spark, "q_chunk_cdc", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2
    assert "CartesianProduct" not in plan


def test_max_concurrency_no_global_window(spark, sf_dir):
    """q_max_concurrency: the sweep-line must run per event_type
    partition — a single-partition global window (Exchange
    SinglePartition) would serialize the whole table through one task
    at 100 TB."""
    import re

    plan = plan_of(spark, "q_max_concurrency", sf_dir)
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2


def test_embed_centroid_single_agg_exchange(spark, sf_dir):
    """q_embed_centroid: posexplode is narrow; ONE (label,pos)-keyed
    exchange carries the partial aggregates — no second shuffle, no join."""
    import re

    plan = plan_of(spark, "q_embed_centroid", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "Join" not in plan


def test_ann_eval_no_cartesian_on_data(spark, sf_dir):
    """q_ann_eval: every candidate set is a filter over a narrow map of
    the one embeddings scan; the only nested-loop joins are against
    1-row/20-row broadcast metric relations, never a data-side cross
    product (pair formation would be quadratic at scale)."""
    plan = plan_of(spark, "q_ann_eval", sf_dir)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_span_dedup_one_span_hash_shuffle_topk(spark, sf_dir):
    """q_span_dedup: shingle fan-out is a narrow map (no token-domain
    shuffle); the span-hash agg's exchanges (countDistinct expand) are
    the only shuffles, and the 100-row report is TakeOrderedAndProject
    under a total order — never a global sort of all spans."""
    import re

    plan = plan_of(spark, "q_span_dedup", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 3
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_minhash_shingle_banded_no_allpairs(spark, sf_dir):
    """q_minhash_shingle: same banded-equi-join plan as q_dedup_minhash
    (the pinned key it parametrizes) — candidate pairs form only inside
    (band, band-key) buckets; an all-pairs product would be quadratic
    in documents at 100 TB."""
    import re

    plan = plan_of(spark, "q_minhash_shingle", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 5


def test_dedup_full_summary_plan_bounded(spark, sf_dir):
    """q_dedup_full: the returned per-source summary must stay a single
    keyed agg over the survivor set (the edge generators + CC run
    inside); no cartesian and no single-partition funnel may appear in
    the result plan."""
    import re

    plan = plan_of(spark, "q_dedup_full", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2


def test_tpch_q5_bucketed_fact_join_no_exchange_no_sort(spark, sf_dir):
    """q_tpch_q5_bucketed's lineitem⋈orders must run bucket-local: no
    shuffle Exchange AND no Sort on either side (the layout was written
    one-sorted-file-per-bucket and the engine trusts bucket sort order).
    Broadcasts are disabled to surface the SMJ the layout exists for."""
    import re

    from cellbase_spark.queries.joins import _fact_bucketed_layout

    t_l, t_o = _fact_bucketed_layout(spark, sf_dir)
    bl = spark.table(t_l)
    bo = spark.table(t_o)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = formatted_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0
    assert "SelectedBucketsCount" in plan


def test_dedup_incremental_probes_band_table_only(spark, sf_dir):
    """q_dedup_incremental must not recompute corpus bands: exactly ONE
    Generate (the batch probe's posexplode) in the plan, and the corpus
    side of the candidate join is the persisted band-table parquet."""
    import re

    plan = formatted_plan(QS["q_dedup_incremental"](spark, sf_dir))
    assert "corpus_bands" in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)) == 0


def test_source_overlap_no_span_self_join(spark, sf_dir):
    """q_source_overlap's span state must stay bounded by SOURCE count:
    ONE documents scan, no join of any kind (the pair fan-out happens
    after the span-keyed reduction, inside an aggregate state), and the
    only Generates are the shingle explode + post-reduction pair
    fan-out."""
    import re

    plan = plan_of(spark, "q_source_overlap", sf_dir)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan
    assert len(re.findall(r"\(\d+\) Scan\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) <= 2


def test_sessionize_twophase_bounded_windows_no_global_sort(spark, sf_dir):
    """q_sessionize_twophase: both phases ride keyed window sorts — two
    Exchanges total (phase-1 (user,day) chunks, phase-2 user re-key),
    never a global range sort, never a join."""
    import re

    plan = plan_of(spark, "q_sessionize_twophase", sf_dir)
    assert "rangepartitioning" not in plan.lower()
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2
    for j in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan


def test_embed_outliers_broadcast_centroid_no_pair_join(spark, sf_dir):
    """q_embed_outliers: the per-label centroid joins back by BROADCAST
    (tiny label-keyed frame), distances are a narrow map — no pair join,
    no SMJ anywhere, and the top-5 rank is group-limit-pushed."""
    import re

    plan = plan_of(spark, "q_embed_outliers", sf_dir)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan)) == 1
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan
    assert "WindowGroupLimit" in plan


def test_tpch_q3_bucketed_zero_shuffle_exchanges(spark, sf_dir):
    """q_tpch_q3_bucketed on the DENORMALIZED layout (r7) must be a pure
    scan-aggregate: no shuffle exchange AND no join of any kind (all
    three predicates pushed into the one fact scan, the
    groupBy(l_orderkey, o_orderdate) agg satisfied by the bucket hash
    partitioning — l_orderkey ⊆ grouping keys), top-10 via
    TakeOrderedAndProject."""
    import re

    plan = plan_of(spark, "q_tpch_q3_bucketed", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    assert "TakeOrderedAndProject" in plan
    assert "SelectedBucketsCount" in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan
    # the pushed-down predicates must reach the parquet scan
    assert "PushedFilters: []" not in plan


def test_tpch_q5_bucketed_scan_shape_single_exchange(spark, sf_dir):
    """q_tpch_q5_bucketed on the DENORMALIZED layout (r7): the orders
    bucket-join and the 1.5M-row customer broadcast build are gone —
    only dim-bounded broadcasts (supplier, nation⋈region) may appear,
    with the 5-row final agg as the single Exchange and no Sort and no
    SMJ anywhere."""
    import re

    plan = plan_of(spark, "q_tpch_q5_bucketed", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan
    # no customer table anywhere in the read path (denormalized at ingest)
    assert "customer.parquet" not in plan


def test_tpch_q21_bucketed_single_tiny_exchange(spark, sf_dir):
    """q_tpch_q21_bucketed: both orderkey windows ride the bucket
    partitioning and the orders join is gone entirely on the r7
    denormalized layout (o_orderstatus baked in, filtered post-window) —
    the ONLY shuffle exchange allowed is the final ~|supplier|-row
    s_name aggregate, the only join the supplier-name broadcast. The
    window order needs at most a partition-LOCAL sort (no global sort
    anywhere)."""
    import re

    plan = plan_of(spark, "q_tpch_q21_bucketed", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1
    assert "TakeOrderedAndProject" in plan
    assert "SelectedBucketsCount" in plan
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan


def test_tpch_q9_bucketed_single_tiny_exchange(spark, sf_dir):
    """q_tpch_q9_bucketed: part/supplier/nation broadcast and NO
    fact⋈fact join at all on the r7 denormalized layout (o_orderdate
    baked into the bucketed lineitem) — only the ~(nations x years)-row
    final agg may shuffle, and no Sort and no SMJ may appear
    anywhere."""
    import re

    plan = plan_of(spark, "q_tpch_q9_bucketed", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin"):
        assert j not in plan
    # orders no longer in the read path — the denorm column serves it
    assert "cb_factb_orders" not in plan


def test_band_update_stats_read_only_the_new_generation(spark, sf_dir):
    """q_dedup_band_update's returned stats frame must aggregate the
    rolled-forward band-table parquet only — no documents text rescan
    in the read path (the batch-band computation happened once, at
    write time)."""
    plan = plan_of(spark, "q_dedup_band_update", sf_dir)
    assert "documents.parquet" not in plan
    assert "corpus_bands" in plan
    assert "CartesianProduct" not in plan


def test_dedup_incremental_capped_probes_band_table_only(spark, sf_dir):
    """The capped probe keeps the incremental contract: the only
    Generates are the BATCH bands' posexplode (it appears once per side
    of the candidate self-join because the windowed union subtree is
    duplicated textually — the (band,key) shuffle under both copies is
    byte-identical and AQE ReusedExchange collapses them at runtime);
    corpus bands come from the band-table parquet, never recomputed
    from text, and no cartesian appears anywhere."""
    import re

    plan = plan_of(spark, "q_dedup_incremental_capped", sf_dir)
    assert "corpus_bands" in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) <= 2
    assert len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)) == 0


def test_dedup_incremental_full_star_plus_capped_tail(spark, sf_dir):
    """The complete incremental verb reads BOTH persisted index tables
    (fingerprint star + band table) and never forms a cartesian; the
    only text-derived Generates are the batch bands."""
    import re

    plan = plan_of(spark, "q_dedup_incremental_full", sf_dir)
    assert "corpus_fps" in plan
    assert "corpus_bands" in plan
    assert len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)) == 0
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) <= 2


def test_dedup_generations_day2_probes_gen2_only(spark, sf_dir):
    """Multi-generation incremental dedup (r7): day 2's corpus side must
    scan the COMPACTED generation-2 band files ONLY — no gen-1 path, no
    raw pre-compaction generation, no corpus text rescan (the only
    Generates are the day-2 batch probe's posexplode — twice in the
    static capped plan: count side + join side, collapsed by AQE
    ReusedExchange at runtime like the _capped pin), and no cartesian
    anywhere."""
    import re

    from cellbase_spark.queries.llm_dedup import _generation_probe

    plan = formatted_plan(_generation_probe(spark, sf_dir, 2))
    assert "gen2_compacted" in plan
    assert "gen1" not in plan
    assert "gen2_raw" not in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) <= 2
    assert len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)) == 0


def test_pagerank_bucketed_one_exchange_per_iteration(spark, sf_dir):
    """q_pagerank_bucketed (r7): the adjacency side of every power-
    iteration join rides the 32-bucket src layout — SelectedBucketsCount
    present, NO broadcast of the adjacency, and exactly _PR_ITERS
    Exchanges in the whole plan (the dst-keyed contribution transpose,
    PageRank's irreducible shuffle) unless the tiny-sf rank side is
    broadcast (then the Exchange count is still _PR_ITERS and the
    broadcasts carry ranks, never adjacency). Sorts are rank-side only:
    at most one per iteration (bucket order is trusted)."""
    import re

    from cellbase_spark.queries.graph import _PR_ITERS

    plan = plan_of(spark, "q_pagerank_bucketed", sf_dir)
    assert "SelectedBucketsCount" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == _PR_ITERS
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) <= _PR_ITERS
    assert len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)) == 0


def test_ann_indexed_probe_is_partition_pruned(spark, sf_dir):
    """q_ann_ivf_indexed / q_ann_lsh_indexed (r7): the probe must be
    partition pruning of the persisted index — PartitionFilters carries
    the probe IN-list, the raw embeddings table is NEVER rescanned at
    query time (assignment was paid at ingest; rescanning it is exactly
    the measured inline-ANN defect: 33 s vs 0.5 s at sf10), the top-20
    is TakeOrderedAndProject (per-partition heaps), and nothing
    shuffles: the candidate set flows scan -> project -> topk."""
    import re

    p_ivf = plan_of(spark, "q_ann_ivf_indexed", sf_dir)
    p_lsh = plan_of(spark, "q_ann_lsh_indexed", sf_dir)
    for plan, col in ((p_ivf, "centroid_id"), (p_lsh, "bucket")):
        pf = next(line for line in plan.splitlines() if "PartitionFilters" in line)
        assert f"{col}#" in pf and " IN (" in pf
        assert "embeddings.parquet" not in plan
        assert "TakeOrderedAndProject" in plan
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
        # the only join is the 1-row (qv, qnorm) config broadcast (the
        # intended BNL-against-1-row pattern; see PLANS.md header) —
        # no data-sized join algorithm anywhere
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_ann_index_layout_single_file_per_leaf(spark, sf_dir):
    """build_ann_index's repartition-on-partition-keys contract: every
    (centroid_id, bucket) leaf directory holds exactly ONE parquet file
    (write-time small-file discipline — the alternative is 32 shards of
    a handful of rows in each of up to 2048 dirs)."""
    import glob
    import os

    from cellbase_spark.operators.publish import artifact_location
    from cellbase_spark.queries.llm_similarity import _ann_index_table

    t = _ann_index_table(spark, sf_dir)
    # the artifact's bytes live at the catalog-resolved location (a
    # __build_ dir since the crash-safe publish), not the naming base
    root = artifact_location(spark, t)
    leaves = glob.glob(os.path.join(root, "centroid_id=*", "bucket=*"))
    assert leaves, f"no leaf dirs under {root}"
    for leaf in leaves:
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == 1, f"{leaf}: {len(files)} files"


def test_ann_batch_probe_dynamic_partition_pruning(spark, sf_dir):
    """q_ann_batch_probe (r7): the probed centroid set is data-dependent
    (computed from the batch's embeddings), so the index scan must carry
    a dynamicpruningexpression — only the batch's distinct centroid
    directories are opened at runtime. The batch rides a broadcast; the
    only Exchange is the per-query ranking window over candidate rows
    (batch x list sized, never corpus sized); the index is never
    re-quantized (no second full-embeddings scan on the index side)."""
    import re

    plan = plan_of(spark, "q_ann_batch_probe", sf_dir)
    pf = next(
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "annindex" not in line
    )
    assert "dynamicpruningexpression" in pf
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_ann_index_update_prunes_both_generations(spark, sf_dir):
    """q_ann_index_update (r7): the probe's IN-list must be pushed into
    BOTH generation scans (base and delta), with no exchange and no
    join — the union is scan -> filter -> project -> topk."""
    import re

    plan = plan_of(spark, "q_ann_index_update", sf_dir)
    pfs = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert len(pfs) == 2
    for line in pfs:
        assert " IN (" in line
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    # only the 1-row config broadcast joins (intended BNL pattern)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_ivfpq_probe_reads_codes_only(spark, sf_dir):
    """q_ann_ivfpq_indexed (r7): the PQ serving tier must (a) partition-
    prune the probed lists, (b) read ONLY vec_id + codes — the raw
    256-byte embedding column must be pruned away by the parquet reader
    (the 8-bytes-per-candidate serving claim), (c) end in a
    TakeOrderedAndProject with zero exchanges and zero joins."""
    import re

    plan = plan_of(spark, "q_ann_ivfpq_indexed", sf_dir)
    pf = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "centroid_id#" in pf and " IN (" in pf
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "codes:array<bigint>" in rs and "vec_id" in rs
    assert "embedding:array<float>" not in rs
    assert "embeddings.parquet" not in plan
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    assert "Join" not in plan


def test_pipeline_e2e_neardup_gate_below_all_shuffles(spark, sf_dir):
    """The deployment pipeline's scale contract: the quality-gate Filter
    sits directly on the documents scan, BELOW every Exchange — the
    exact-dedup window, the LSH band self-join, and the bucket-cap
    window shuffle gate survivors only. Checked structurally on every
    scan branch of the plan tree (the plan re-scans documents per
    branch; each branch must filter before it shuffles)."""
    import re

    plan = plan_of(spark, "q_pipeline_e2e_neardup", sf_dir)

    # parse the tree section: depth from the connector prefix, name after
    # an optional codegen '*' marker; stop at the node-details section
    nodes = []
    for ln in plan.splitlines():
        if ln.startswith("("):
            break
        m = re.match(r"^([\s:+\-|]*)(\*\s*)?([A-Za-z].*)$", ln)
        if m:
            nodes.append((len(m.group(1)), m.group(3)))

    def _is_gate_filter(name: str) -> bool:
        """True only for the QUALITY-GATE Filter: resolve the tree
        node's id to its detail block and require the gate predicate
        itself (a pushed isnotnull/rn filter must NOT satisfy the pin —
        the round-9 review's false-pass hole)."""
        mid = re.search(r"\((\d+)\)", name)
        if not mid:
            return False
        blk = re.search(
            rf"^\({mid.group(1)}\) Filter.*?(?=\n\(\d+\)|\Z)", plan, re.S | re.M
        )
        return blk is not None and "size(split(text" in blk.group(0)

    scans = 0
    stack: list[tuple[int, str]] = []
    for depth, name in nodes:
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if name.startswith("Scan parquet"):
            scans += 1
            filt_i = exch_i = None
            for i in range(len(stack) - 1, -1, -1):
                head = stack[i][1].split(" ")[0]
                if filt_i is None and head == "Filter" and _is_gate_filter(stack[i][1]):
                    filt_i = i
                if exch_i is None and head.endswith("Exchange"):
                    exch_i = i
            assert filt_i is not None, (
                f"scan #{scans} has no quality-GATE Filter above it:\n{plan}"
            )
            assert exch_i is None or filt_i > exch_i, (
                f"scan #{scans}: nearest Exchange (stack {exch_i}) is below the "
                f"gate Filter (stack {filt_i}) — the shuffle carries unfiltered rows"
            )
        stack.append((depth, name))
    assert scans >= 2  # canon is rebuilt per branch: multiple gated scans
    # and the pair former is the banded equi-join, never a cross product
    assert "CartesianProduct" not in plan


def test_ann_index_compact_probe_scans_compacted_only(spark, sf_dir):
    """q_ann_index_compact (round 10): after compaction the probe must
    resolve ONE artifact — exactly one scan, on the compacted table's
    path; no base/delta generation path anywhere in the plan (the
    q_dedup_generations day-2 discipline). The probe IN-list rides
    PartitionFilters into that single scan, nothing exchanges, and the
    only join is the 1-row (qv, qnorm) config broadcast."""
    import re

    plan = plan_of(spark, "q_ann_index_compact", sf_dir)
    pfs = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert len(pfs) == 1, f"expected 1 pruned scan, got {len(pfs)}"
    assert " IN (" in pfs[0]
    assert "anncompact_tr" in plan
    for gen_path in ("annindex_tr", "anndelta_tr", "anndelta2_tr"):
        assert gen_path not in plan, f"probe still scans {gen_path}"
    assert "embeddings.parquet" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_index_compact_layout_and_geometry(spark, sf_dir):
    """compact_ann_index's physical + metadata contract: (a) every
    (centroid_id, bucket) leaf of the compacted artifact holds exactly
    ONE parquet file (the repair q_compact_files does post-hoc, applied
    at merge time); (b) the frozen geometry is carried forward verbatim
    — centroids/codebook/n_centroids/dim on the compacted table equal
    the base generation's, under a FRESH build_id; (c) row payloads are
    carried verbatim: the compacted table equals the generation union
    exactly (no re-quantization drift); (d) compacting generations with
    MISMATCHED geometry refuses loudly."""
    import glob
    import os

    import pytest

    from cellbase_spark.operators.similarity import (
        compact_ann_index,
        table_props,
    )
    from cellbase_spark.queries.llm_similarity import (
        _ensure_trained_ann_compact,
        _ensure_trained_ann_delta,
        _ensure_trained_ann_delta2,
        _ensure_trained_ann_index,
    )
    from cellbase_spark.operators.publish import artifact_location
    from cellbase_spark.io import scratch_path

    t = _ensure_trained_ann_compact(spark, sf_dir)
    base_t = _ensure_trained_ann_index(spark, sf_dir)

    root = artifact_location(spark, t)
    leaves = glob.glob(os.path.join(root, "centroid_id=*", "bucket=*"))
    assert leaves, f"no leaf dirs under {root}"
    for leaf in leaves:
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == 1, f"{leaf}: {len(files)} files"

    base_props = table_props(spark, base_t)
    comp_props = table_props(spark, t)
    for k in (
        "cellbase.n_centroids",
        "cellbase.n_planes",
        "cellbase.dim",
        "cellbase.centroids",
        "cellbase.pq_codebook",
    ):
        assert comp_props.get(k) == base_props.get(k), k
    assert comp_props["cellbase.build_id"] != base_props["cellbase.build_id"]

    union = (
        spark.table(base_t)
        .unionByName(spark.table(_ensure_trained_ann_delta(spark, sf_dir)))
        .unionByName(spark.table(_ensure_trained_ann_delta2(spark, sf_dir)))
    )
    cols = sorted(spark.table(t).columns)
    assert (
        spark.table(t).select(*cols).exceptAll(union.select(*cols)).isEmpty()
        and union.select(*cols).exceptAll(spark.table(t).select(*cols)).isEmpty()
    )

    # (d) mixed geometry refuses: a generation with different recorded
    # centroids must not silently merge into the base's lists
    from cellbase_spark.operators.similarity import _tblprops_cache

    delta_t = _ensure_trained_ann_delta(spark, sf_dir)
    orig = table_props(spark, delta_t)["cellbase.centroids"]
    try:
        spark.sql(
            f"ALTER TABLE {delta_t} SET TBLPROPERTIES"
            " ('cellbase.centroids' = '{\"0\": [0.0]}')"
        )
        _tblprops_cache(spark).pop(delta_t, None)
        with pytest.raises(ValueError, match="different geometry"):
            compact_ann_index(
                spark,
                "cb_should_not_exist",
                str(scratch_path(sf_dir, "anncompact_bad")),
                [base_t, delta_t],
            )
    finally:
        escaped = orig.replace("'", "''")
        spark.sql(
            f"ALTER TABLE {delta_t} SET TBLPROPERTIES"
            f" ('cellbase.centroids' = '{escaped}')"
        )
        _tblprops_cache(spark).pop(delta_t, None)
    assert not spark.catalog.tableExists("cb_should_not_exist")


def test_ann_index_compact_partial_probe_and_oracle_shape(spark, sf_dir):
    """q_ann_index_compact_partial (round 10): after the in-place repair
    the probe resolves ONE artifact — a single PartitionFilters-pruned
    scan of the partial table, no delta/base generation path, no
    exchange, only the 1-row config broadcast."""
    import re

    plan = plan_of(spark, "q_ann_index_compact_partial", sf_dir)
    pfs = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert len(pfs) == 1 and " IN (" in pfs[0]
    assert "annpart_tr" in plan
    for gen_path in ("annindex_tr", "anndelta_tr", "anndelta2_tr", "anncompact_tr"):
        assert gen_path not in plan, f"probe still scans {gen_path}"
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "TakeOrderedAndProject" in plan


def test_ann_index_compact_partial_rewrites_only_touched_leaves(
    spark, sf_dir, tmp_path
):
    """compact_ann_index_partial's physical contract, pinned on a fresh
    copy of the trained base: (a) leaves the delta does NOT touch keep
    their exact parquet files (same names — never opened for write);
    (b) touched leaves are rewritten to exactly ONE file; (c) the
    repaired table equals base UNION delta row-for-row; (d) the return
    value counts the touched leaves; (e) build_id changes, geometry
    does not; (f) mixed geometry refuses before any write."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from cellbase_spark.operators.similarity import (
        _tblprops_cache,
        compact_ann_index,
        compact_ann_index_partial,
        table_props,
    )
    from cellbase_spark.queries.llm_similarity import (
        _ensure_trained_ann_delta,
        _ensure_trained_ann_index,
    )

    base_t = _ensure_trained_ann_index(spark, sf_dir)
    delta_t = _ensure_trained_ann_delta(spark, sf_dir)
    from cellbase_spark.operators.publish import artifact_location

    t = f"cb_partialtest_{os.getpid()}"
    compact_ann_index(spark, t, str(tmp_path / "partial"), [base_t])
    root = artifact_location(spark, t)

    def leaf_files() -> dict[str, tuple[str, ...]]:
        out = {}
        for leaf in glob.glob(os.path.join(root, "centroid_id=*", "bucket=*")):
            out[os.path.relpath(leaf, root)] = tuple(
                sorted(f for f in os.listdir(leaf) if f.endswith(".parquet"))
            )
        return out

    before = leaf_files()
    bid_before = table_props(spark, t)["cellbase.build_id"]
    touched_expected = {
        f"centroid_id={int(r.centroid_id)}/bucket={int(r.bucket)}"
        for r in spark.table(delta_t)
        .select("centroid_id", "bucket")
        .distinct()
        .collect()
    }

    n = compact_ann_index_partial(spark, t, [delta_t])
    assert n == len(touched_expected)

    after = leaf_files()
    for leaf, files in before.items():
        if leaf in touched_expected:
            assert after[leaf] != files, f"touched leaf {leaf} not rewritten"
        else:
            assert after[leaf] == files, f"untouched leaf {leaf} rewritten"
    for leaf in touched_expected:
        assert len(after[leaf]) == 1, (leaf, after[leaf])

    cols = sorted(spark.table(t).columns)
    union = spark.table(base_t).unionByName(spark.table(delta_t))
    assert (
        spark.table(t).select(*cols).exceptAll(union.select(*cols)).isEmpty()
        and union.select(*cols).exceptAll(spark.table(t).select(*cols)).isEmpty()
    )

    props = table_props(spark, t)
    assert props["cellbase.build_id"] != bid_before
    assert props["cellbase.centroids"] == table_props(spark, base_t)[
        "cellbase.centroids"
    ]

    # mixed geometry refuses BEFORE any write (build_id unchanged after)
    bid = props["cellbase.build_id"]
    orig = table_props(spark, delta_t)["cellbase.centroids"]
    try:
        spark.sql(
            f"ALTER TABLE {delta_t} SET TBLPROPERTIES"
            " ('cellbase.centroids' = '{\"0\": [1.0]}')"
        )
        _tblprops_cache(spark).pop(delta_t, None)
        with pytest.raises(ValueError, match="different geometry"):
            compact_ann_index_partial(spark, t, [delta_t])
    finally:
        escaped = orig.replace("'", "''")
        spark.sql(
            f"ALTER TABLE {delta_t} SET TBLPROPERTIES"
            f" ('cellbase.centroids' = '{escaped}')"
        )
        _tblprops_cache(spark).pop(delta_t, None)
    assert table_props(spark, t, max_age_sec=0)["cellbase.build_id"] == bid

    # IDEMPOTENT (r10 ADVICE medium): a repeat absorb of an already-
    # absorbed generation is a no-op — returns 0, no rows duplicated,
    # build_id untouched.
    rows_after = spark.table(t).count()
    assert compact_ann_index_partial(spark, t, [delta_t]) == 0
    assert spark.table(t).count() == rows_after
    assert table_props(spark, t, max_age_sec=0)["cellbase.build_id"] == bid

    # crash-window self-repair: a crash between a previous call's
    # insertInto and its properties ALTER leaves the delta rows in the
    # base but no absorbed marker — simulate by clearing the marker;
    # the retry re-unions but the vec_id dedup keeps the leaves
    # duplicate-free, so the retry CONVERGES instead of compounding.
    spark.sql(
        f"ALTER TABLE {t} UNSET TBLPROPERTIES ('cellbase.absorbed_ids')"
    )
    _tblprops_cache(spark).pop(t, None)
    assert compact_ann_index_partial(spark, t, [delta_t]) == n
    assert spark.table(t).count() == rows_after
    assert table_props(spark, t, max_age_sec=0)[
        "cellbase.absorbed_ids"
    ] == table_props(spark, delta_t, max_age_sec=0)["cellbase.build_id"]


def test_ann_index_delete_lifecycle(spark, sf_dir, tmp_path):
    """delete_from_ann_index's full contract on a fresh base copy:
    (a) the tombstone lands logically — ann_search/apply_tombstones
        exclude the ids immediately, no file rewritten;
    (b) re-deleting the same ids is a no-op (idempotent);
    (c) a delete-only partial compaction (generations=[]) physically
        drops the rows, clears the tombstone table, zeroes the counter;
    (d) a leaf fully emptied by deletion is dropped from BOTH the
        catalog and the filesystem (dynamic overwrite alone would leave
        its old files resurrecting deleted rows);
    (e) full compaction of a tombstoned generation lands clean."""
    import glob
    import os

    from pyspark.sql import functions as F

    from cellbase_spark.operators.similarity import (
        apply_tombstones,
        compact_ann_index,
        compact_ann_index_partial,
        delete_from_ann_index,
        table_props,
        tombstone_table_name,
    )
    from cellbase_spark.queries.llm_similarity import (
        _ensure_trained_ann_index,
    )

    base_t = _ensure_trained_ann_index(spark, sf_dir)
    from cellbase_spark.operators.publish import artifact_location

    t = f"cb_deltest_{os.getpid()}"
    compact_ann_index(spark, t, str(tmp_path / "deltest"), [base_t])
    root = artifact_location(spark, t)
    all_rows = spark.table(t).count()

    # victim leaf: every vec_id of one whole (centroid_id, bucket) leaf,
    # plus a few ids from another leaf (partial-leaf delete)
    leaves = [
        (int(r.centroid_id), int(r.bucket), int(r.n))
        for r in spark.table(t)
        .groupBy("centroid_id", "bucket")
        .count()
        .selectExpr("centroid_id", "bucket", "count as n")
        .collect()
    ]
    leaves.sort(key=lambda x: x[2])
    victim_c, victim_b, victim_n = leaves[0]
    other_c, other_b, _ = leaves[-1]
    victim_ids = [
        int(r.vec_id)
        for r in spark.table(t)
        .where(
            (F.col("centroid_id") == victim_c) & (F.col("bucket") == victim_b)
        )
        .select("vec_id")
        .collect()
    ]
    partial_ids = [
        int(r.vec_id)
        for r in spark.table(t)
        .where(
            (F.col("centroid_id") == other_c) & (F.col("bucket") == other_b)
        )
        .select("vec_id")
        .limit(3)
        .collect()
    ]
    doomed = victim_ids + partial_ids

    # (a) logical delete: list form, then DataFrame form for the rest
    n_ts = delete_from_ann_index(spark, t, doomed)
    assert n_ts == len(doomed)
    assert int(table_props(spark, t, max_age_sec=0)["cellbase.tombstones"]) == len(doomed)
    served = apply_tombstones(spark, t, spark.table(t))
    assert served.where(F.col("vec_id").isin(doomed)).isEmpty()
    assert served.count() == all_rows - len(doomed)
    # physical files untouched by the logical delete
    assert (
        spark.read.parquet(root).where(F.col("vec_id").isin(doomed)).count()
        == len(doomed)
    )

    # (b) idempotent re-delete (DataFrame form)
    redo = spark.createDataFrame([(i,) for i in doomed], "vec_id long")
    assert delete_from_ann_index(spark, t, redo) == len(doomed)

    # (c)+(d) delete-only physical repair
    n_leaves = compact_ann_index_partial(spark, t, [])
    assert n_leaves == 2  # the emptied leaf + the partially-deleted one
    assert spark.read.parquet(root).where(F.col("vec_id").isin(doomed)).isEmpty()
    assert spark.table(t).count() == all_rows - len(doomed)
    assert not spark.catalog.tableExists(tombstone_table_name(t))
    assert table_props(spark, t, max_age_sec=0)["cellbase.tombstones"] == "0"
    victim_dir = os.path.join(
        root, f"centroid_id={victim_c}", f"bucket={victim_b}"
    )
    assert not glob.glob(os.path.join(victim_dir, "*.parquet")), (
        "emptied leaf still holds files"
    )
    # repeat repair is a no-op
    assert compact_ann_index_partial(spark, t, []) == 0

    # (e) full compaction of a freshly-tombstoned generation lands clean
    survivor = int(spark.table(t).select("vec_id").first().vec_id)
    delete_from_ann_index(spark, t, [survivor])
    t2 = f"cb_deltest2_{os.getpid()}"
    compact_ann_index(spark, t2, str(tmp_path / "deltest2"), [t])
    assert spark.table(t2).count() == all_rows - len(doomed) - 1
    assert "cellbase.tombstones" not in table_props(spark, t2, max_age_sec=0)
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(f"DROP TABLE IF EXISTS {tombstone_table_name(t)}")
    spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_partial_compaction_base_slice_is_partition_pruned(spark, sf_dir):
    """compact_ann_index_partial's 'untouched leaves are never opened'
    claim rests on struct(centroid_id, bucket) IN (...) reaching
    PartitionFilters — pin that Catalyst property on the exact predicate
    shape the operator builds (a regression here would silently turn
    the pruned base-slice read into a full index scan)."""
    from pyspark.sql import functions as F

    from cellbase_spark.queries.llm_similarity import _ensure_trained_ann_index

    t = _ensure_trained_ann_index(spark, sf_dir)
    pred = F.struct(F.col("centroid_id"), F.col("bucket")).isin(
        [F.struct(F.lit(c), F.lit(b)) for c, b in [(1, 5), (2, 9)]]
    )
    plan = spark.table(t).where(pred)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert " IN (" in pf and "struct(centroid_id" in pf, pf
    # and nothing is read besides the data columns (no post-scan filter
    # re-evaluating the partition predicate over row data)
    assert "PushedFilters: []" in plan or "PushedFilters" not in plan


def test_bm25_indexed_probe_is_partition_pruned(spark, sf_dir):
    """q_bm25_indexed (r11): the serving probe must be partition pruning
    of the persisted postings index — PartitionFilters carries the
    query tokens' bucket IN-list, the token equality is PUSHED into the
    pruned files, and the documents table is NEVER rescanned or
    re-tokenized at query time (that full-scan-per-query cost is
    exactly what the index exists to remove). The only wide ops are the
    matching-postings df/pivot aggregations; top-20 is
    TakeOrderedAndProject."""
    import re

    plan = plan_of(spark, "q_bm25_indexed", sf_dir)
    pf = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "tok_bucket#" in pf and " IN (" in pf
    assert "documents.parquet" not in plan
    assert "PushedFilters" in plan and "In(token, [" in plan
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)) == 0

    # the generation probe (base UNION delta) keeps BOTH scans pruned —
    # every postings scan carries the bucket IN-list, and the text is
    # still never rescanned
    plan_u = plan_of(spark, "q_bm25_indexed_update", sf_dir)
    pfs = [l for l in plan_u.splitlines() if "PartitionFilters" in l and "tok_bucket#" in l]
    assert len(pfs) >= 2 and all(" IN (" in l for l in pfs)
    assert "documents.parquet" not in plan_u


def test_point_lookup_bucketed_prunes_to_one_bucket(spark, sf_dir):
    """The keyed layout's contract: an equality predicate on the bucket
    key prunes the scan to ONE of 16 buckets BEFORE any IO (r11 verdict
    task #5). The pushed filter must also still reach the reader for the
    in-bucket row-group pruning."""
    plan = plan_of(spark, "q_point_lookup_bucketed", sf_dir)
    assert "SelectedBucketsCount: 1 out of 16" in plan
    assert "EqualTo(c_custkey" in plan


def test_pipeline_incremental_reports_from_published_generation(spark, sf_dir):
    """q_pipeline_incremental's RESULT plan must be derived from the
    rolled-forward generation-2 band table, never a band recompute:
    the plan scans the pipegens/gen2 parquet, contains ZERO Generates
    (band explosion happened at publish time, not report time), and
    the only documents access is the report's id-join fetch."""
    import re

    plan = formatted_plan(QS["q_pipeline_incremental"](spark, sf_dir))
    assert "pipegens" in plan and "gen2" in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 0
    assert len(re.findall(
        r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan
    )) == 0


def test_facade_ann_probe_is_partition_pruned(spark, sf_dir):
    """q_facade_ann's probe must ride the same PartitionFilters pruning
    as the engine-path key: the index scan carries a centroid_id IN
    filter and the raw embeddings table is never rescanned."""
    plan = formatted_plan(QS["q_facade_ann"](spark, sf_dir))
    assert "PartitionFilters" in plan and "centroid_id" in plan
    assert "embeddings.parquet" not in plan


def test_point_lookup_attach_prunes_in_foreign_catalog(spark, sf_dir, monkeypatch):
    """Cross-session bucketed layout (round 14): the ATTACHED layout
    must keep the keyed-layout contract in a catalog that never built
    it — SelectedBucketsCount pruning + pushed key filter — with both
    build paths forbidden (zero rebuild: attach is catalog
    registration only)."""
    import cellbase_spark.io as io_mod
    from cellbase_spark.io import source_signature

    # ensure the durable artifact exists (may ingest in a subprocess)
    QS["q_point_lookup_attach"](spark, sf_dir).collect()
    # foreign-session shape: drop the attachment, forbid rebuilds
    sig = source_signature(sf_dir, "customer")
    spark.sql(f"DROP TABLE IF EXISTS cb_keyed_att_customer_16_{sig}")

    def _forbid(*a, **k):
        raise AssertionError("attach path attempted a rebuild")

    monkeypatch.setattr(io_mod, "foreign_ingest", _forbid, raising=False)
    from cellbase_spark.operators import publish as pub_mod

    monkeypatch.setattr(pub_mod, "foreign_ingest", _forbid)
    plan = plan_of(spark, "q_point_lookup_attach", sf_dir)
    assert "SelectedBucketsCount: 1 out of 16" in plan
    assert "EqualTo(c_custkey" in plan


def test_dedup_incremental_attach_probes_attached_bands_only(spark, sf_dir):
    """The ATTACHED variant keeps q_dedup_incremental's probe contract
    in a session that never built the band table: exactly ONE Generate
    (the batch posexplode — corpus bands come from the attached durable
    parquet, never recomputed), scanning the durable home."""
    import re

    plan = formatted_plan(QS["q_dedup_incremental_attach"](spark, sf_dir))
    assert "bandtable_corpus" in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan)) == 0


def test_tpch_q3_bucketed_attach_zero_shuffle_foreign_plan(spark, sf_dir, monkeypatch):
    """Round 15 (S26): Q3 on an ATTACHED denorm fact layout must keep
    the exact cost model of the in-process layout — a pure ZERO-exchange
    scan-aggregate with bucket pruning available (the manifest's
    recorded CLUSTERED BY spec recreates the bucket hash partitioning in
    the foreign catalog) — with BOTH build paths forbidden: a fresh
    session pays catalog registration only, never the denorm build."""
    import re

    from cellbase_spark.io import source_signature
    from cellbase_spark.queries import joins as qj

    # first call ingests (separate process) iff the durable layout is
    # absent, then attaches
    rows1 = [tuple(r) for r in qj.q_tpch_q3_bucketed_attach(spark, sf_dir).collect()]

    # simulate a fresh/foreign session: empty the catalog of the
    # attachment and forbid every build path
    sig = source_signature(sf_dir, "lineitem", "orders", "customer")
    spark.sql(f"DROP TABLE IF EXISTS cb_factb_att_l_16_{sig}")
    spark.sql(f"DROP TABLE IF EXISTS cb_factb_att_o_16_{sig}")

    def _forbid(*a, **k):
        raise AssertionError("attach path attempted a layout rebuild")

    import cellbase_spark.operators.factlayout as fl

    monkeypatch.setattr(fl, "build_staged_fact_layout", _forbid)
    monkeypatch.setattr(qj, "build_staged_fact_layout", _forbid)
    monkeypatch.setattr(qj, "_fact_bucketed_layout", _forbid)

    df = qj.q_tpch_q3_bucketed_attach(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    assert "TakeOrderedAndProject" in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan
    assert "PushedFilters: []" not in plan
    rows2 = [tuple(r) for r in df.collect()]
    assert rows1 == rows2  # attach loses nothing, hash-identical


def test_attached_fact_pair_joins_bucket_to_bucket(spark, sf_dir):
    """The attached layout must keep bucket⋈bucket locality ACROSS
    tables: joining the attached denorm lineitem to the attached orders
    on the shared bucket key must plan with ZERO shuffle exchanges —
    both recreated bucket specs report the same HashPartitioning, so
    the SMJ is bucket-local (the S12/S13 cost model surviving process
    death on both sides at once)."""
    import re

    from pyspark.sql import functions as F

    from cellbase_spark.queries.joins import _fact_bucketed_layout_attached

    t_l, t_o = _fact_bucketed_layout_attached(spark, sf_dir)
    joined = (
        spark.table(t_l)
        .select("l_orderkey", "l_quantity")
        .join(
            # merge hint: at test scale the tiny orders side would
            # auto-broadcast, hiding the bucket-locality property under
            # pin; the hint forces the SMJ the 100 TB plan would pick
            spark.table(t_o).select("o_orderkey", "o_orderstatus").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0, plan
    assert "SortMergeJoin" in plan
    n = joined.count()
    assert n > 0
