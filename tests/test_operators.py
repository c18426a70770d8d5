"""Unit tests for the operator library (as-of join, dedup, similarity)
on tiny hand-built frames with exact expected rows (SURVEY.md §5.2)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from cellbase_spark.operators.dedup import exact_dedup, jaccard_pairs, minhash_lsh_pairs
from cellbase_spark.operators.joins import asof_join, band_join
from cellbase_spark.operators.similarity import cosine_topk, ivf_assign, knn_join


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_backward_inclusive_and_ties(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), "L1"), (1, ts("2024-01-01 09:00:00"), "L0"),
         (2, ts("2024-01-01 10:00:00"), "L2")],
        "k int, lts timestamp, lval string",
    )
    right = spark.createDataFrame(
        [
            (1, ts("2024-01-01 09:00:00"), 10, "A"),   # equal ts -> included
            (1, ts("2024-01-01 09:30:00"), 11, "B"),
            (1, ts("2024-01-01 09:30:00"), 12, "C"),   # tie: higher rid wins
            (1, ts("2024-01-01 11:00:00"), 13, "D"),   # future -> never matches
        ],
        "k int, rts timestamp, rid int, rval string",
    )
    out = {
        r.lval: (r.rid, r.rval)
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts", tie_break="rid"
        ).collect()
    }
    assert out["L0"] == (10, "A")      # backward INCLUSIVE at equal ts
    assert out["L1"] == (12, "C")      # latest ts, tie broken by max rid
    assert out["L2"] == (None, None)   # no right rows for key 2


def test_band_join_edges(spark):
    fact = spark.createDataFrame([(1, 0.0), (2, 2499.99), (3, 2500.0)], "id int, v double")
    bands = spark.createDataFrame(
        [("low", 0.0, 2500.0), ("mid", 2500.0, 7000.0)], "band string, lo double, hi double"
    )
    got = {r.id: r.band for r in band_join(fact, bands, "v").collect()}
    assert got == {1: "low", 2: "low", 3: "mid"}  # [lo, hi) boundaries


def test_exact_dedup_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello world "), (3, "other")], "doc_id long, text string"
    )
    d1 = exact_dedup(df, "text", "doc_id")
    rows = {r.doc_id: r.n_copies for r in d1.collect()}
    assert rows == {1: 2, 3: 1}  # normalized dup collapses to min id
    d2 = exact_dedup(d1.select("doc_id", F.lit("x").alias("text")), "text", "doc_id")
    assert d2.count() == 1  # dedup of deduped ids collapses fully


def test_jaccard_pairs_exact_values(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, ["a", "b", "c", "e"]), (3, ["x", "y", "z", "w"])],
        "doc_id long, toks array<string>",
    )
    rows = jaccard_pairs(df, "doc_id", "toks", threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b, r.n_shared) == (1, 2, 3)
    assert abs(r.jaccard - 3 / 5) < 1e-12


def test_jaccard_ranking_paths_agree(spark, sf_dir):
    """The three vocab-ranking strategies (bitmap ids / broadcast map /
    explode+shuffle-join) are physical variants of one operator: identical
    pair sets on the real documents corpus. Limits forced to 0 route the
    same input down each branch."""
    from cellbase_spark.io import load_table

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )

    def pairs(**kw):
        out = jaccard_pairs(toks, "doc_id", "toks", threshold=0.6, **kw)
        return sorted(
            (r.id_a, r.id_b, r.n_shared, round(r.jaccard, 9)) for r in out.collect()
        )

    bitmap = pairs(bitmap_vocab_limit=10**9)
    bcast = pairs(bitmap_vocab_limit=0)
    shuffled = pairs(bitmap_vocab_limit=0, vocab_broadcast_limit=0)
    assert bitmap == bcast == shuffled
    assert len(shuffled) > 0  # corpus has known near-dups


def test_minhash_finds_exact_dupes_and_skips_disjoint(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d", "e"]), (2, ["a", "b", "c", "d", "e"]), (3, ["p", "q", "r", "s", "t"])],
        "doc_id long, toks array<string>",
    )
    rows = minhash_lsh_pairs(df, "doc_id", "toks", threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert rows[0].jaccard == 1.0


def test_knn_join_k_and_symmetry(spark, sf_dir):
    from cellbase_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    out = knn_join(e, k=3)
    per = out.groupBy("a_id").count().agg(F.min("count"), F.max("count")).first()
    assert per[0] == 3 and per[1] == 3
    # distances are non-negative and ranked ascending
    bad = out.where(F.col("dist2") < 0).count()
    assert bad == 0


def test_knn_all_three_forms_agree(spark, sf_dir):
    """broadcast join, smj join, and sub-bucketed dense kernel are three
    physical strategies for ONE operator — identical (a,b,dist,rk) sets."""
    from cellbase_spark.io import load_table
    from cellbase_spark.operators.similarity import knn_join_dense_sub, knn_join_smj

    e = load_table(spark, sf_dir, "embeddings")
    cols = ["a_id", "b_id", "bkt", "dist2", "rk"]

    def rows(df):
        return sorted(map(tuple, df.select(cols).collect()))

    base = rows(knn_join(e, k=3))
    assert base == rows(knn_join_smj(e, k=3))
    assert base == rows(knn_join_dense_sub(e, k=3, n_sub=3))


def test_cosine_topk_scores_bounded(spark, sf_dir):
    from cellbase_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    rows = cosine_topk(e, k=5).collect()
    assert len(rows) == 5
    assert all(-1.0 <= r.score <= 1.0 for r in rows)
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ivf_assign_total_and_range(spark, sf_dir):
    from cellbase_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a = ivf_assign(e, n_centroids=8)
    assert a.count() == e.count()
    rng = a.agg(F.min("centroid_id"), F.max("centroid_id")).first()
    assert 0 <= rng[0] and rng[1] <= 7


def test_salted_join_equals_plain_join(spark):
    """salted_join is result-identical to a plain equi-join on skewed data."""
    from cellbase_spark.operators.joins import salted_join

    # one celebrity key (90% of rows) + a long tail
    left = spark.createDataFrame(
        [(1 if i % 10 else i, f"v{i}") for i in range(200)], "k long, v string"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "cold"), (7, "warm")], "k long, tag string")
    got = sorted(map(tuple, salted_join(left, right, "k").collect()))
    want = sorted(map(tuple, left.join(right, "k").collect()))
    assert got == want and len(got) > 100


def test_salted_join_outer_keeps_unmatched(spark):
    from cellbase_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "a"), (99, "b")], "k long, v string")
    right = spark.createDataFrame([(1, "hot")], "k long, tag string")
    got = sorted(map(tuple, salted_join(left, right, "k", how="left").collect()))
    want = sorted(map(tuple, left.join(right, "k", "left").collect()))
    assert got == want


def test_connected_components_string_ids_fast_path(spark):
    """The driver union-find fast path must stay type-generic: string ids
    (the reference convention allows string row keys) label correctly,
    with cluster_id = lexicographic-min id and null edge endpoints
    dropped rather than crashing Python comparisons."""
    from cellbase_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("z",)], "id string"
    )
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), (None, "d"), ("d", None)],
        "id_a string, id_b string",
    )
    got = {
        r["id"]: (r["cluster_id"], r["is_canonical"])
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert got == {
        "a": ("a", True),
        "b": ("a", False),
        "c": ("a", False),
        "d": ("d", True),
        "z": ("z", True),
    }


def test_connected_components_driver_probe_ships_at_most_limit_plus_one(
    spark, monkeypatch
):
    """The path probe never ships more than driver_cc_limit + 1 edge rows
    to the driver, even when the cached bytes pass the 64 B/row gate: a
    two-long edge row takes ~84 B in memory, but blocks stored on disk
    are serialized and smaller. The test reports such a size (40 B/row),
    so the cached-bytes branch sees more rows than the limit."""
    from cellbase_spark.operators import dedup

    limit, n_pairs = 1000, 1500
    nodes = spark.range(0, 2 * n_pairs)
    # pairs (2i, 2i+1): 1500 two-node components, so the iterative path
    # converges in two rounds
    edges = spark.range(0, n_pairs).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    shipped = []
    real_collect = type(edges).collect

    def counting_collect(df):
        rows = real_collect(df)
        shipped.append(len(rows))
        return rows

    monkeypatch.setattr(dedup, "_cached_rdd_bytes", lambda df: 40 * n_pairs)
    monkeypatch.setattr(type(edges), "collect", counting_collect)
    out = dedup.connected_components(
        nodes, edges, id_col="id", driver_cc_limit=limit
    )
    monkeypatch.undo()
    assert max(shipped) <= limit + 1, shipped
    assert dedup.LAST_CC_STATS["path"] == "iterative"
    assert all(
        r["cluster_id"] == r["id"] - r["id"] % 2 for r in out.collect()
    )


def test_canonical_selection_policy_on_handbuilt_groups(spark, tmp_path):
    """q_dedup_canonical's survival policy on hand-built duplicate groups:
    within each near-dup cluster the winner is (n_chars desc, doc_id asc)
    and grp_size counts every member; singleton clusters are excluded.
    Non-vacuous by construction — the corpus has two real dup groups."""
    from cellbase_spark.queries.llm_dedup import q_dedup_canonical

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # group 1: three exact copies (identical token sets) — winner must
        # be doc 11 (highest n_chars column; ties broken by doc_id asc)
        (10, base, 60, "en", "web"),
        (11, base, 61, "en", "web"),
        (12, base, 60, "en", "web"),
        # group 2: two exact copies with equal n_chars — doc_id asc wins
        (20, "one two three four five six seven eight nine ten", 50, "en", "book"),
        (21, "one two three four five six seven eight nine ten", 50, "en", "book"),
        # singleton: never emitted
        (30, "completely different text with unrelated words entirely", 56, "en", "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, n_chars int, lang string, source string"
    )
    sf = str(tmp_path / "sfcanon")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = {
        r["cluster_id"]: (r["kept_doc_id"], r["grp_size"])
        for r in q_dedup_canonical(spark, sf).collect()
    }
    assert got == {10: (11, 3), 20: (20, 2)}


def test_minhash_band_bucket_cap_drops_megabucket_keeps_small(spark):
    """band_bucket_cap excludes pairs whose ONLY collision is an
    over-full band bucket, while pairs meeting in small buckets survive
    with identical jaccard values."""
    from cellbase_spark.operators.dedup import minhash_lsh_pairs

    # 12 identical docs (a mega-clique: every band bucket holds all 12)
    # plus one small pair of identical docs with disjoint vocabulary
    rows = [(i, "x0 x1 x2 x3 x4 x5") for i in range(12)]
    rows += [(100, "y0 y1 y2 y3 y4 y5"), (101, "y0 y1 y2 y3 y4 y5")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import functions as F

    t = df.select("doc_id", F.split("text", " ").alias("toks"))
    uncapped = minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.9
    )
    capped = minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.9,
        band_bucket_cap=8,
    )
    got_un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    got_cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got_un and len(got_un) == 66 + 1  # C(12,2) + small pair
    assert got_cap == {(100, 101)}  # mega-clique excluded, small pair kept


def test_source_overlap_handbuilt_matrix(spark, tmp_path):
    """q_source_overlap on a hand-built corpus with known shared 8-token
    spans: full-mirror pair gets jaccard 1.0, partial overlaps 0.25, and
    span counting is per DISTINCT span per source."""
    import os

    from cellbase_spark.queries.llm_dedup import q_source_overlap

    t10 = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"          # spans s1 s2 s3
    t8 = "t1 t2 t3 t4 t5 t6 t7 t8"                   # span s1 only
    other = "u1 u2 u3 u4 u5 u6 u7 u8"                # span u1 only
    rows = [
        (1, t10, 30, "en", "srcA"),
        (2, t10, 30, "en", "srcB"),   # mirrors srcA exactly
        (3, other, 23, "en", "srcC"),
        (4, t8, 23, "en", "srcC"),    # shares s1 with A and B
        (5, t8, 23, "en", "srcC"),    # duplicate within source: no double count
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, n_chars int, lang string, source string"
    )
    sf = str(tmp_path / "sfoverlap")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = {
        (r["src_a"], r["src_b"]): (r["n_shared"], r["n_a"], r["n_b"], r["jaccard"])
        for r in q_source_overlap(spark, sf).collect()
    }
    assert got == {
        ("srcA", "srcB"): (3, 3, 3, 1.0),
        ("srcA", "srcC"): (1, 3, 2, 0.25),
        ("srcB", "srcC"): (1, 3, 2, 0.25),
    }


def test_embed_outliers_ranks_farthest_from_centroid(spark, tmp_path):
    """q_embed_outliers: per-label centroid is the exact mean; ranking is
    squared-L2 distance desc with vec_id tiebreak; labels don't mix."""
    import os

    from cellbase_spark.queries.llm_similarity import q_embed_outliers

    rows = [
        (1, [0.0, 0.0, 0.0, 0.0], 1),
        (2, [2.0, 0.0, 0.0, 0.0], 1),
        (3, [100.0, 0.0, 0.0, 0.0], 1),   # centroid [34,0,0,0] -> farthest
        (10, [5.0, 5.0, 0.0, 0.0], 2),
        (11, [5.0, 5.0, 0.0, 0.0], 2),    # same dist2: vec_id asc tiebreak
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sf = str(tmp_path / "sfemb")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "embeddings.parquet"))
    got = [
        (r["label"], r["rk"], r["vec_id"], r["dist2"])
        for r in q_embed_outliers(spark, sf)
        .orderBy("label", "rk")
        .collect()
    ]
    assert got == [
        (1, 1, 3, 4356.0),   # (100-34)^2
        (1, 2, 1, 1156.0),   # (0-34)^2
        (1, 3, 2, 1024.0),   # (2-34)^2
        (2, 1, 10, 0.0),
        (2, 2, 11, 0.0),
    ]


def test_zscore_normalize_exact_moments(spark, tmp_path):
    """q_zscore_normalize: z from exact integer moments; zero-variance
    groups emit z=0 instead of inf/nan."""
    import os

    from cellbase_spark.queries.quality import q_zscore_normalize

    rows = [
        (1, "A", 1.00),
        (2, "A", 3.00),   # mean 2.00, std 1.00 -> z = -1, +1
        (3, "B", 7.77),   # singleton: var 0 -> z = 0
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_mktsegment string, c_acctbal double")
    sf = str(tmp_path / "sfz")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "customer.parquet"))
    got = {r["c_custkey"]: r["z"] for r in q_zscore_normalize(spark, sf).collect()}
    assert got == {1: -1.0, 2: 1.0, 3: 0.0}


def test_sessionize_batch_gap_numbering(spark, tmp_path):
    """q_sessionize_batch: 30-min gap opens a new session; numbering is
    per-user running count; duration is end-start in seconds."""
    import datetime as dt
    import os

    from cellbase_spark.queries.analytics import q_sessionize_batch

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        (1, m(0), 1, "view", 0.0, "{}"),
        (2, m(10), 1, "click", 0.0, "{}"),   # gap 10m: same session
        (3, m(50), 1, "view", 0.0, "{}"),    # gap 40m: NEW session
        (4, m(5), 2, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path / "sfsess")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    got = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_s"])
        for r in q_sessionize_batch(spark, sf).collect()
    }
    assert got == {(1, 1): (2, 600), (1, 2): (1, 0), (2, 1): (1, 0)}


def test_sessionize_gap_microsecond_boundary(spark, tmp_path):
    """The 30-min gap rule is strict (>) at MICROSECOND precision: a gap
    of exactly 1800s stays one session; 1800s + 1us (and 1800.5s, which a
    whole-second floor diff would see as exactly 1800) opens a new one.
    Regression test for the unix_timestamp truncation bug (ADVICE r5)."""
    import datetime as dt
    import os

    from cellbase_spark.queries.analytics import (
        q_sessionize_batch,
        q_sessionize_twophase,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec, us=0: t0 + dt.timedelta(seconds=sec, microseconds=us)  # noqa: E731
    rows = [
        # user 1: gap exactly 1800s -> SAME session
        (1, s(0), 1, "e", 0.0, "{}"),
        (2, s(1800), 1, "e", 0.0, "{}"),
        # user 2: gap 1800s + 1us -> NEW session
        (3, s(0), 2, "e", 0.0, "{}"),
        (4, s(1800, 1), 2, "e", 0.0, "{}"),
        # user 3: gap 1800.5s -> NEW session (floor-second diff says 1800)
        (5, s(0, 500_000), 3, "e", 0.0, "{}"),
        (6, s(1801), 3, "e", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path / "sfgapus")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    for q in (q_sessionize_batch, q_sessionize_twophase):
        # max session_seq per user == number of sessions
        agg = {}
        for r in q(spark, sf).collect():
            agg[r["user_id"]] = max(agg.get(r["user_id"], 0), r["session_seq"])
        assert agg == {1: 1, 2: 2, 3: 2}, q.__name__


def test_ivf_train_inertia_monotone(spark, sf_dir):
    """Lloyd's algorithm guarantee: reassigning under the updated
    centroids can only lower total inertia. Also: every vector stays
    assigned (cluster sizes sum to the corpus) in both iterations."""
    from cellbase_spark.registry import queries

    rows = queries()["q_ivf_train"](spark, sf_dir).collect()
    by_iter = {1: [r for r in rows if r.iter == 1], 2: [r for r in rows if r.iter == 2]}
    n1 = sum(r.n for r in by_iter[1])
    n2 = sum(r.n for r in by_iter[2])
    assert n1 == n2 > 0
    assert sum(r.inertia for r in by_iter[2]) <= sum(r.inertia for r in by_iter[1])


def test_k_suppress_output_is_k_anonymous(spark, sf_dir_medium):
    """The released table must be 5-anonymous by construction: every
    surviving (non-NULL) QI class has >= 5 members, and suppressed rows
    carry NULL QIs only."""
    from cellbase_spark.registry import queries

    # needs enough rows for some classes to survive (>= 5 members):
    # at the default tiny fixture every class is suppressed
    rows = queries()["q_k_suppress"](spark, sf_dir_medium).collect()
    sizes = {}
    for r in rows:
        if r.suppressed:
            assert r.nationkey_out is None and r.mktsegment_out is None
            assert r.bal_band_out is None
        else:
            key = (r.nationkey_out, r.mktsegment_out, r.bal_band_out)
            sizes[key] = sizes.get(key, 0) + 1
    assert sizes, "no surviving classes at this sf"
    assert min(sizes.values()) >= 5


def test_bpe_train_merge_removes_winning_pair(spark, sf_dir):
    """BPE invariant: after merging round 1's winning pair everywhere,
    that exact pair cannot appear in round 2's table (its occurrences
    became the new symbol), and round 2 must contain at least one pair
    INVOLVING the merged symbol."""
    from cellbase_spark.registry import queries

    rows = queries()["q_bpe_train"](spark, sf_dir).collect()
    r1 = [r for r in rows if r.round == 1]
    r2 = [r for r in rows if r.round == 2]
    assert len(r1) == 5 and len(r2) == 5
    winner = sorted(r1, key=lambda r: (-r.cnt, r.pair))[0]
    assert all(r.pair != winner.pair for r in r2)
    # universal BPE invariant: any NEW pair involves the merged symbol,
    # so its count is bounded by the deposed winner's occurrence count
    assert max(r.cnt for r in r2) <= winner.cnt
    # corpus-specific pin (deterministic testdata): the old #2 leads round 2
    assert max(r.cnt for r in r2) == sorted(r1, key=lambda r: (-r.cnt, r.pair))[1].cnt


def test_bpe_single_symbol_word_and_boundary_anchoring(spark, tmp_path):
    """Round-8 ADVICE regressions, hand-built corpus.

    (a) HIGH: the winning round-1 pair is (i, n) and 'in' is also a
    complete 2-letter word — after merge 1 that word is ONE symbol, and
    the unguarded round-2 fan-out crashed with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (sequence(1, 0) = [1, 0]).
    (b) LOW: docs also contain 'ath' contexts ('a' then 'th'-prefixed
    symbols); the unanchored replace could merge ACROSS a symbol
    boundary. With anchoring, round 2's table must contain only pairs
    of whole current symbols (every pair involving the merged symbol
    'in' must show it intact on one side).
    """
    from cellbase_spark.registry import queries

    # 'in' x6 standalone -> (i,n) wins round 1 and those words collapse
    # to a single symbol; 'aint' words give an a|i boundary where a
    # non-anchored merge of a later pair could corrupt symbols.
    text = "in in in in in in aint aint pint mint ain"
    df = spark.createDataFrame(
        [(1, text, "en", "s1", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.write.parquet(d + "/documents.parquet")

    rows = queries()["q_bpe_train"](spark, d).collect()  # must not raise
    r1 = [r for r in rows if r.round == 1]
    r2 = [r for r in rows if r.round == 2]
    assert r1 and r2
    winner = sorted(r1, key=lambda r: (-r.cnt, r.pair))[0]
    assert winner.pair == "i+n"
    assert all(r.pair != "i+n" for r in r2)
    # boundary anchoring: any round-2 pair containing 'in' must carry it
    # as a WHOLE side, never split across the '+' boundary
    for r in r2:
        a, b = r.pair.split("+")
        if "in" in r.pair.replace("+", ""):
            assert a == "in" or b == "in" or "in" not in (a + "+" + b).replace("+", "")

    enc = {r.source: r for r in queries()["q_bpe_encode"](spark, d).collect()}
    assert enc["s1"].syms_after < enc["s1"].syms_before


def test_bpe_self_pair_run_is_textbook_greedy(spark):
    """Round-10 (r9 verdict task #5): the doubled-delimiter merge makes
    SELF-pair merges textbook greedy BPE — a run of n repeated symbols
    merges floor(n/2) times at positions (1,2),(3,4),... The retired
    two-pass variant under-merged runs >= 4 ('------' gave 'aa a aa a'
    shapes). Checked directly on the merge column against hand-computed
    greedy results for every run length 2..9, plus the a != b case and
    the prefix-hazard case the anchoring exists for."""
    from pyspark.sql import functions as F

    from cellbase_spark.queries.corpus import _BPE_US, _bpe_merge_col

    us = _BPE_US

    def merge(sym_string: str, pair: str) -> str:
        df = spark.createDataFrame([(sym_string,)], "s string")
        return df.select(_bpe_merge_col(F.col("s"), pair).alias("m")).first().m

    def greedy(syms: list[str], a: str, b: str) -> list[str]:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    # self-pair runs of every length 2..9 (pure and embedded in context)
    for n in range(2, 10):
        run = ["-"] * n
        for syms in (run, ["x"] + run + ["y"], run + ["-x"] + run):
            got = merge(us.join(syms), "-" + us + "-")
            want = us.join(greedy(syms, "-", "-"))
            assert got == want, (syms, got, want)
    # a != b alternation stays exact
    syms = ["a", "b", "a", "b", "a"]
    assert merge(us.join(syms), "a" + us + "b") == us.join(
        greedy(syms, "a", "b")
    )
    # prefix hazard: merging (a, t) must not touch symbols [a, th]
    syms = ["a", "th", "a", "t"]
    assert merge(us.join(syms), "a" + us + "t") == us.join(
        ["a", "th", "at"]
    )
    # merged-symbol runs: merging (aa, aa) over 5 x 'aa'
    syms = ["aa"] * 5
    assert merge(us.join(syms), "aa" + us + "aa") == us.join(
        ["aaaa", "aaaa", "aa"]
    )


def test_span_runs_island_stitching(spark, tmp_path):
    """Hand-built: two docs share a 9-token prefix (2 consecutive
    duplicated 8-token windows -> one island of run 2 -> max span 9
    tokens) plus disjoint tails; a third doc shares nothing."""
    from cellbase_spark.registry import queries

    shared = " ".join(f"w{i}" for i in range(9))
    rows = [
        (1, shared + " tailA1 tailA2 tailA3", "en", "s1", 0),
        (2, shared + " tailB1 tailB2 tailB3", "en", "s1", 0),
        (3, "completely different text with no shared windows at all x y z", "en", "s1", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "docs")
    df.write.parquet(d + "/documents.parquet")
    out = {r.doc_id: r for r in queries()["q_span_runs"](spark, d).collect()}
    assert set(out) == {1, 2}
    for doc in (1, 2):
        assert out[doc].n_dup_windows == 2
        assert out[doc].max_dup_span_tokens == 9


def test_quality_percentile_gate_keeps_ceil_half(spark, sf_dir):
    from cellbase_spark.registry import queries

    rows = queries()["q_quality_percentile_gate"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_kept == -(-r.n_total // 2)  # ceil(n/2)
        assert r.kept_tokens > 0
        assert r.cutoff_quality is not None


def test_snapshot_diff_classes_reconcile(spark, sf_dir):
    """added + removed + changed + unchanged must reconcile with the
    generation derivation rules: |old| = removed + changed + unchanged,
    |new| = added + changed + unchanged."""
    from cellbase_spark.io import load_table
    from cellbase_spark.registry import queries

    n_old = load_table(spark, sf_dir, "orders").count()
    got = {r.change_type: r.n_rows for r in queries()["q_snapshot_diff"](spark, sf_dir).collect()}
    assert set(got) <= {"added", "removed", "changed", "unchanged"}
    assert got.get("removed", 0) + got.get("changed", 0) + got.get("unchanged", 0) == n_old
    assert got.get("added", 0) > 0 and got.get("changed", 0) > 0


def test_pq_codes_nearest_centroid_handbuilt(spark):
    """A vector placed EXACTLY on subspace-0's code-3 centroid must
    encode subspace 0 as code 3; all codes must lie in [0, 16)."""
    from cellbase_spark.operators.similarity import pq_codes_expr

    # centroid formula: cv(c, d) = ((c*13 + d*7) % 29) / 29, d = global dim
    vec = [((3 * 13 + d * 7) % 29) / 29.0 for d in range(1, 9)]  # subspace 0 = code 3
    vec += [0.0] * 56
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = df.select(F.expr(pq_codes_expr("embedding")).alias("codes")).head()
    assert len(row.codes) == 8
    assert row.codes[0] == 3
    assert all(0 <= c < 16 for c in row.codes)


def test_embed_project_linearity(spark):
    """Projection is linear: p(2x) = 2*p(x) for every output dim."""
    from cellbase_spark.registry import queries
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        base = [float(i % 7) / 7.0 for i in range(64)]
        df = spark.createDataFrame(
            [(1, base, 0), (2, [2.0 * v for v in base], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        rows = {r.vec_id: r for r in queries()["q_embed_project"](spark, d).collect()}
        for j in range(1, 9):
            assert abs(rows[2][f"p{j}"] - 2.0 * rows[1][f"p{j}"]) < 1e-4


def test_pq_encode_arrow_bit_identical(spark, sf_dir):
    """Round-9 ingest lever: the Arrow numpy PQ encode must produce
    BIT-IDENTICAL codes to the codegen expression it replaces — same
    left-to-right fold order, same round-6dp-half-up first-occurrence
    argmin (tie-sets re-ranked via decimal-string rounding). Includes a
    crafted exact tie: a vector sitting equidistant between two codebook
    centroids must take the LOWER code on both paths."""
    from cellbase_spark.io import load_table
    from cellbase_spark.operators.similarity import pq_codes_expr, pq_encode_arrow

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # crafted tie rows: subspace 0 dims g=1..8; centroid c values
    # ((c*13 + g*7) % 29)/29 — the midpoint of codes 0 and 1 per dim
    # makes both distances identical, so rounding ties and code 0 wins
    mids = [
        (((0 * 13 + g * 7) % 29) / 29.0 + ((1 * 13 + g * 7) % 29) / 29.0) / 2.0
        for g in range(1, 65)
    ]
    tie = spark.createDataFrame(
        [(100001, [float(v) for v in mids])], "vec_id long, embedding array<double>"
    )
    both = e.withColumn("embedding", F.col("embedding").cast("array<double>")).unionByName(tie)
    expr = {
        r.vec_id: r.codes
        for r in both.withColumn("codes", F.expr(pq_codes_expr("embedding"))).select("vec_id", "codes").collect()
    }
    kern = {
        r.vec_id: r.codes
        for r in pq_encode_arrow(both, "embedding").select("vec_id", "codes").collect()
    }
    assert expr == kern
    assert len(expr) == both.count()


def test_trained_pq_codebook_recorded_and_used(spark, sf_dir, tmp_path):
    """Round-9 trained-codes tier: build_ann_index(pq_codebook=...) must
    (a) record the codebook in table properties with exact float
    round-trip, and (b) store codes drawn ONLY from each subspace's
    surviving learned code set (k-means drops empty codes, so the
    stored ids must match the codebook keys, not 0..15)."""
    import json
    import os

    from cellbase_spark.io import load_table
    from cellbase_spark.operators.similarity import (
        build_ann_index,
        train_pq_codebook,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = train_pq_codebook(e)
    assert set(cb) == set(range(8))
    table = f"cb_op_pqtr_{os.getpid()}"
    build_ann_index(e, table, str(tmp_path / "pqtr"), pq_codebook=cb)
    props = {r.key: r.value for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}
    got = {
        int(s): {int(c): v for c, v in cs.items()}
        for s, cs in json.loads(props["cellbase.pq_codebook"]).items()
    }
    assert got == cb  # exact float round-trip through JSON repr
    rows = spark.table(table).select("codes").collect()
    for r in rows:
        for s, c in enumerate(r.codes):
            assert c in cb[s], f"stored code {c} not in subspace {s} codebook"


def test_dedup_index_delete_and_compaction(spark, tmp_path):
    """delete_from_dedup_index + compact_dedup_bands on a hand-built
    corpus: (a) the tombstoned corpus doc stops pairing the moment the
    tombstone lands (band-level anti-join — no band file rewritten);
    (b) the exact-fp star drops pairs whose canon_id was deleted;
    (c) compact_dedup_bands physically drops the tombstoned band rows
    into a NEW generation and clears the side-table, after which a
    probe with no tombstones at all returns the same pairs."""
    import os

    from pyspark.sql import functions as F

    from cellbase_spark.operators.dedup import (
        compact_dedup_bands,
        dedup_tombstone_path,
        delete_from_dedup_index,
        incremental_dedup_pairs,
        lsh_band_keys_fused,
        read_dedup_tombstones,
    )

    # corpus docs 1..3 (1 and 2 identical), batch doc 100 identical too
    words = [f"w{i}" for i in range(40)]
    rows = [
        (1, words),
        (2, words),
        (3, [f"x{i}" for i in range(40)]),
        (100, words),
    ]
    t = spark.createDataFrame(rows, "_id long, _toks array<string>")
    corpus = t.where(F.col("_id") < 100)
    batch = t.where(F.col("_id") == 100)
    band_dir = str(tmp_path / "bands")
    corpus.select(
        "_id",
        F.posexplode(lsh_band_keys_fused("_toks", 16, 2)).alias("_bidx", "_bkey"),
    ).write.mode("overwrite").parquet(band_dir)
    fps = (
        corpus.select(
            "_id", F.md5(F.concat_ws(" ", F.array_sort("_toks"))).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min("_id").alias("canon_id"))
    )

    def probe(tombs, with_fps=True):
        return {
            (int(r.id_new), int(r.id_corpus))
            for r in incremental_dedup_pairs(
                batch=batch,
                corpus_bands=spark.read.parquet(band_dir),
                corpus_tokens=t,
                id_col="_id",
                tokens_col="_toks",
                corpus_fps=fps if with_fps else None,
                corpus_tombstones=tombs,
            ).collect()
        }

    assert read_dedup_tombstones(spark, band_dir) is None
    assert probe(None) == {(100, 1), (100, 2)}

    # (a)+(b): delete doc 1 (which is also the clique's fp canon)
    delete_from_dedup_index(spark, band_dir, [1])
    tombs = read_dedup_tombstones(spark, band_dir)
    assert tombs is not None
    # band path still finds the surviving dup; the deleted canon is gone
    # from BOTH the band tail and the fp star
    assert probe(tombs) == {(100, 2)}
    assert probe(tombs, with_fps=False) == {(100, 2)}

    # (c): physical drop into a new generation + cleared marks
    gen2 = str(tmp_path / "bands_gen2")
    compact_dedup_bands(spark, [band_dir], gen2)
    assert spark.read.parquet(gen2).where(F.col("_id") == 1).isEmpty()
    assert spark.read.parquet(dedup_tombstone_path(band_dir)).isEmpty()
    after = {
        (int(r.id_new), int(r.id_corpus))
        for r in incremental_dedup_pairs(
            batch=batch,
            corpus_bands=spark.read.parquet(gen2),
            corpus_tokens=t,
            id_col="_id",
            tokens_col="_toks",
            corpus_tombstones=None,
        ).collect()
    }
    assert after == {(100, 2)}
    # idempotent: re-deleting an already-dropped id is harmless
    delete_from_dedup_index(spark, band_dir, [1, 1])
    assert os.path.exists(dedup_tombstone_path(band_dir))
