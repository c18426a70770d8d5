"""Empty-input robustness: operators with driver-side adaptivity
(vocab counts, checkpointed edge lists, iterative loops) must degrade to
empty/identity results instead of crashing when their input collapses to
zero rows — the oracle gate never exercises this because the testdata is
never empty."""

from __future__ import annotations

from pyspark.sql import functions as F

from cellbase_spark.io import load_table
from cellbase_spark.operators.dedup import (
    blocked_bitmap_jaccard_pairs,
    connected_components,
    jaccard_pairs,
    minhash_lsh_pairs,
)


def _empty_docs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.where(F.lit(False)).select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )


def test_connected_components_no_edges(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = d.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    ).where(F.lit(False))
    out = connected_components(d, edges, id_col="doc_id")
    rows = out.collect()
    assert len(rows) == d.count()
    assert all(r["cluster_id"] == r["doc_id"] and r["is_canonical"] for r in rows)


def test_jaccard_operators_empty_input(spark, sf_dir):
    t = _empty_docs(spark, sf_dir)
    assert (
        jaccard_pairs(
            t, id_col="doc_id", tokens_col="toks", block_col="source", threshold=0.5
        ).count()
        == 0
    )
    assert (
        blocked_bitmap_jaccard_pairs(
            t, id_col="doc_id", tokens_col="toks", block_col="source", threshold=0.5
        ).count()
        == 0
    )


def test_minhash_empty_input(spark, sf_dir):
    t = _empty_docs(spark, sf_dir).select("doc_id", "toks")
    assert (
        minhash_lsh_pairs(
            t, id_col="doc_id", tokens_col="toks", bitmap_vocab_limit=4096
        ).count()
        == 0
    )


def test_singleton_block_yields_no_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    one = d.orderBy("doc_id").limit(1).select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    assert (
        blocked_bitmap_jaccard_pairs(
            one, id_col="doc_id", tokens_col="toks", block_col="source", threshold=0.5
        ).count()
        == 0
    )


def test_gram_explode_guards_short_docs(spark):
    """Docs shorter than the gram width must yield ZERO grams, not crash:
    Spark's sequence(1, 0) produces descending [1, 0] and slice(toks, 0, n)
    then raises — the CASE guard in corpus.py keeps short docs empty
    (matching the oracle's empty generate_series)."""
    from cellbase_spark.queries.corpus import q_boilerplate, q_contamination

    rows = [(i, "s", t) for i, t in enumerate(
        ["one two three", "a", "", "w x y z v u t s r q"]
    )]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.createOrReplaceTempView("___short_docs")
    # Exercise the exact gram expression both keys use (6-gram form).
    from pyspark.sql import functions as F

    g = df.select(
        "doc_id",
        F.explode(
            F.expr(
                "flatten(transform(array(split(text, ' ')), toks ->"
                " transform(CASE WHEN size(toks) >= 6"
                "   THEN sequence(1, size(toks) - 5) ELSE array() END,"
                " i -> concat_ws(' ', slice(toks, i, 6)))))"
            )
        ).alias("gram"),
    )
    out = g.collect()
    assert {r["doc_id"] for r in out} == {3}  # only the 10-token doc
    assert len(out) == 5  # 10 - 6 + 1


def test_bounded_vocab_probe_small_vocab_exact(spark):
    """Under the limit, the probe returns the EXACT distinct count (the
    bitmap builders size their words with it)."""
    from cellbase_spark.operators import dedup

    df = spark.range(0, 2000).select((F.col("id") % 37).cast("string").alias("_tok"))
    assert dedup._bounded_vocab_size(df, "_tok", limit=100) == 37


def test_bounded_vocab_probe_large_vocab_never_full_counts(spark, monkeypatch):
    """Over the limit, the probe must decide from the SAMPLE alone — the
    100 TB contract is that a huge vocabulary is detected without a full
    token shuffle. _exact_distinct is forbidden via monkeypatch."""
    from cellbase_spark.operators import dedup

    def _boom(*a, **k):
        raise AssertionError("exact distinct count ran on the over-limit path")

    monkeypatch.setattr(dedup, "_exact_distinct", _boom)
    df = spark.range(0, 50_000).select(F.col("id").cast("string").alias("_tok"))
    assert (
        dedup._bounded_vocab_size(df, "_tok", limit=64, probe_df=df.sample(0.2, seed=7))
        is None
    )


PROBE_KEYS = (
    "q_dedup_near",
    "q_ngram_jaccard",
    "q_dedup_minhash",
    "q_dedup_clusters",
    "q_pipeline_e2e_neardup",
)


def _count_probe_runs(monkeypatch) -> list:
    """Record every vocab probe that actually runs (cache hits append
    nothing); the real cache logic stays in place."""
    from cellbase_spark.operators import dedup

    runs: list = []
    real = dedup._cached_probe

    def counting(kind, compute):
        def counted():
            runs.append(kind)
            return compute()

        return real(kind, counted)

    monkeypatch.setattr(dedup, "_cached_probe", counting)
    return runs


def test_vocab_probe_cached_across_executions(spark, sf_dir, monkeypatch):
    """The probe result is an engine-stats cache entry scoped to registry
    builds: rebuilding the same key over the same files must run ZERO
    probe jobs (round 4 — the r3 tiered probe's per-call driver actions
    were the whole q_dedup_near bench regression). Three consecutive
    builds of each probe-using key run its probes exactly once."""
    from cellbase_spark.operators import dedup
    from cellbase_spark.registry import queries

    qs = queries()
    dedup._VOCAB_STATS.clear()
    runs = _count_probe_runs(monkeypatch)
    for key in PROBE_KEYS:
        per_build = []
        for _ in range(3):
            before = len(runs)
            qs[key](spark, sf_dir).collect()
            per_build.append(len(runs) - before)
        assert per_build[0] >= 1 and per_build[1:] == [0, 0], (key, per_build)


def test_vocab_probe_uncached_outside_registry_build(spark, monkeypatch):
    """Outside a registry build (the CellTable API, direct operator
    calls) there is no build identity to key on: every call probes."""
    from cellbase_spark.operators import dedup

    runs = _count_probe_runs(monkeypatch)
    df = spark.range(0, 1000).select((F.col("id") % 21).cast("string").alias("_tok"))
    assert dedup._bounded_vocab_size(df, "_tok", limit=100) == 21
    assert dedup._bounded_vocab_size(df, "_tok", limit=100) == 21
    assert len(runs) == 2


def test_vocab_probe_misses_after_source_file_changes(
    spark, sf_dir_medium, tmp_path, monkeypatch
):
    """The cache keys on the source files' signature: rewriting a table
    with different rows makes the next build of the same key re-run its
    probe, and the result still matches the DuckDB oracle on the new
    files. The rewrite adds trigrams (digits) the old vocabulary lacks,
    so a stale vocab size would under-size the Jaccard bitmap."""
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cellbase_spark.registry import queries, oracle_sql

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "scripts"))
    import check_oracle

    key = "q_ngram_jaccard"
    data = tmp_path / "sf"
    data.mkdir()
    for f in Path(sf_dir_medium).iterdir():  # copyfile: writable copies
        shutil.copyfile(f, data / f.name)
    q, oracle = queries()[key], oracle_sql()[key]
    runs = _count_probe_runs(monkeypatch)

    def build_and_check() -> int:
        before = len(runs)
        got = q(spark, str(data)).toPandas()
        con = check_oracle.duck_con(str(data))
        want = con.sql(oracle).df()
        assert check_oracle.compare(key, got, want) == []
        return len(runs) - before

    assert build_and_check() >= 1
    assert build_and_check() == 0  # same files: cache hit
    docs_path = data / "documents.parquet"
    docs = pq.read_table(docs_path)
    # every other doc gets a digit suffix: new trigrams, near-dups kept
    tagged = pc.if_else(
        pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 1),
        pc.binary_join_element_wise(docs["text"], pa.scalar(" 7x9 0q1"), ""),
        docs["text"],
    )
    text_idx = docs.schema.get_field_index("text")
    pq.write_table(docs.set_column(text_idx, "text", tagged), docs_path)
    assert build_and_check() >= 1  # changed file: the probe re-runs


def test_release_prior_frees_only_own_threads_blocks(spark, sf_dir):
    """Checkpoint handles are recorded per thread: a registry build on
    thread B (and B's own release_prior) never frees the blocks behind
    thread A's built-but-unconsumed result."""
    import threading

    from cellbase_spark.operators import ckpt
    from cellbase_spark.registry import queries

    qs = queries()
    out: dict = {}
    a_built, b_done = threading.Event(), threading.Event()

    def guarded(name, fn):
        def run():
            try:
                fn()
            except Exception as exc:  # surfaced by the main thread
                out[name + "_error"] = exc
            finally:  # never leave the other thread waiting
                a_built.set()
                b_done.set()

        return run

    def thread_a():
        df = qs["q_cc_iterative"](spark, sf_dir)
        out["a_handles"] = len(ckpt.live_handles())
        a_built.set()
        b_done.wait(timeout=600)
        out["a_rows"] = len(df.collect())  # recompute-fails if B freed A's blocks
        ckpt.release_prior()

    def thread_b():
        a_built.wait(timeout=600)
        for _ in range(2):  # the second build releases B's first build
            qs["q_cc_iterative"](spark, sf_dir).collect()
        out["b_handles"] = len(ckpt.live_handles())
        out["b_freed"] = ckpt.release_prior()

    threads = [
        threading.Thread(target=guarded("a", thread_a)),
        threading.Thread(target=guarded("b", thread_b)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
        assert not t.is_alive()
    for name in ("a", "b"):
        if name + "_error" in out:
            raise out[name + "_error"]
    assert out["a_handles"] >= 1 and out["b_handles"] >= 1, out
    assert out["b_freed"] == out["b_handles"], out
    assert out["a_rows"] > 0


# ---- round-4 operators: q_bm25 / q_chunk_cdc / q_copurchase_lift / q_winsorize


def test_bm25_scores_monotone_in_tf(spark, sf_dir):
    """A doc containing a query term must outscore one with none (same
    length); BM25 of an all-absent doc is exactly 0."""
    from cellbase_spark.registry import queries

    out = queries()["q_bm25"](spark, sf_dir).collect()
    assert len(out) == 20
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)  # query terms exist in the corpus


def test_bm25_zero_when_no_terms(spark):
    """Direct check of the formula's zero point on a hand-built corpus."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "spark spark spark")], ["doc_id", "text"]
    )
    df.createOrReplaceTempView("tiny_docs")
    # tf of absent terms is 0 -> contribution 0 regardless of idf
    tf0 = df.select(
        F.expr("size(filter(split(text,' '), x -> x = 'join'))").alias("tf")
    ).collect()
    assert [r["tf"] for r in tf0] == [0, 0]


def test_chunk_cdc_rechunks_after_insertion(spark):
    """The CDC property fixed-stride chunking lacks: inserting one token
    BEFORE a boundary leaves every chunk after the boundary identical."""
    from cellbase_spark.queries.corpus import q_chunk_cdc  # noqa: F401  (registered)
    import pyspark.sql.functions as F

    # find a boundary token of the real vocabulary (md5 % 8 == 0)
    toks = ["spark", "window", "merge", "table", "column", "vector", "stream",
            "value", "data", "small", "join", "filter", "big", "group", "hash"]
    rows = spark.createDataFrame([(t,) for t in toks], ["tok"]).select(
        "tok",
        F.expr(
            "pmod(cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint), 8)"
        ).alias("b"),
    ).collect()
    boundary = [r["tok"] for r in rows if r["b"] == 0]
    nonboundary = [r["tok"] for r in rows if r["b"] != 0]
    assert boundary, "vocab must contain at least one boundary token"
    bt, nb = boundary[0], nonboundary[0]
    # doc A: x x B y y ; doc B: z x x B y y  -- the chunk after B is shared
    base = f"{nb} {nb} {bt} {nb} {nb}"
    shifted = f"{nb} {nb} {nb} {bt} {nb} {nb}"
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], ["doc_id", "text"]
    )
    tok = df.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).select(
        "doc_id", "tok", (F.col("pos") + 1).alias("pos"),
        F.expr(
            "case when pmod(cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint), 8) = 0"
            " then 1 else 0 end"
        ).alias("boundary"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    chunks = (
        tok.withColumn("cid", F.sum("boundary").over(w))
        .groupBy("doc_id", "cid")
        .agg(F.concat_ws(" ", F.collect_list("tok")).alias("chunk"))
        .collect()
    )
    a = {r["chunk"] for r in chunks if r["doc_id"] == 1}
    b = {r["chunk"] for r in chunks if r["doc_id"] == 2}
    # the boundary-started chunk re-synchronizes despite the upstream insert
    assert f"{bt} {nb} {nb}" in a and f"{bt} {nb} {nb}" in b


def test_copurchase_lift_bounds(spark, sf_dir):
    from cellbase_spark.registry import queries

    out = queries()["q_copurchase_lift"](spark, sf_dir).collect()
    for r in out:
        assert r["p1"] < r["p2"]
        assert r["n_pair"] >= 2
        assert r["lift"] > 0


def test_winsorize_invariants(spark, sf_dir):
    from cellbase_spark.registry import queries

    out = queries()["q_winsorize"](spark, sf_dir).collect()
    assert len(out) == 5  # one row per segment
    for r in out:
        assert r["p05"] <= r["p95"]
        assert 0 <= r["n_low"] <= r["n"] and 0 <= r["n_high"] <= r["n"]
        # clamped sum must lie within [n*p05, n*p95]
        assert r["n"] * r["p05"] - 1e-6 <= r["sum_winsorized"] <= r["n"] * r["p95"] + 1e-6


def _docs_sf(spark, tmp_path, rows):
    """Write a minimal documents.parquet corpus and return its sf dir."""
    import os

    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    sf = str(tmp_path / "sfmini")
    os.makedirs(sf, exist_ok=True)
    df.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_span_dedup_short_docs_yield_no_spans(spark, tmp_path):
    """Docs under the 8-token window contribute zero spans (no crash from
    Spark's descending sequence(1, n<1)); unique long docs surface no rows."""
    from cellbase_spark.queries.llm_dedup import q_span_dedup

    rows = [
        (1, "a b c", "en", "web", 5),
        (2, "", "en", "web", 0),
        (3, "one two three four five six seven eight nine", "en", "web", 40),
    ]
    assert q_span_dedup(spark, _docs_sf(spark, tmp_path, rows)).count() == 0


def test_dedup_full_exact_only_corpus(spark, tmp_path):
    """A corpus whose only duplication is exact copies clusters entirely
    through the star edges: every copy labels to the min doc_id and the
    clusters match exact_dedup's groups."""
    from cellbase_spark.queries.llm_dedup import q_dedup_full

    rows = [
        (1, "alpha beta gamma delta epsilon", "en", "web", 30),
        (2, "alpha beta gamma delta epsilon", "en", "web", 30),
        (7, "alpha beta gamma delta epsilon", "en", "web", 30),
        (3, "one two three four five six", "en", "web", 27),
        (4, "totally different words appear here", "en", "web", 35),
    ]
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in q_dedup_full(spark, _docs_sf(spark, tmp_path, rows)).collect()
    }
    assert got == {
        1: (1, True),
        2: (1, False),
        7: (1, False),
        3: (3, True),
        4: (4, True),
    }


def test_dedup_full_fingerprint_star_links_reordered_sets(spark, tmp_path):
    """Two docs with identical token SETS but different order (J=1.0,
    not byte-exact) must cluster together via the fingerprint star even
    when the LSH bucket cap would have dropped their band bucket."""
    from cellbase_spark.queries.llm_dedup import q_dedup_full

    words = "w0 w1 w2 w3 w4 w5 w6 w7"
    rev = " ".join(words.split()[::-1])
    # 12 copies of the same token set (cap=8 drops every band bucket)
    rows = [(i, words if i % 2 == 0 else rev, "en", "web", 31) for i in range(12)]
    rows.append((99, "unrelated vocabulary entirely here now", "en", "web", 38))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in q_dedup_full(spark, _docs_sf(spark, tmp_path, rows)).collect()
    }
    assert all(got[i] == 0 for i in range(12))  # one cluster rooted at min id
    assert got[99] == 99


def test_round5_keys_empty_documents(spark, tmp_path):
    """Round-5 document keys degrade to empty results (correct schema,
    no crash) on an empty corpus — the create_map() typing bug class."""
    import os

    from cellbase_spark.queries.analytics import q_sessionize_batch
    from cellbase_spark.queries.llm_dedup import q_source_overlap, q_span_dedup

    sf = str(tmp_path / "sfempty")
    os.makedirs(sf, exist_ok=True)
    docs = spark.createDataFrame(
        [], "doc_id long, text string, n_chars int, lang string, source string"
    )
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    ev = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ev.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    assert q_source_overlap(spark, sf).count() == 0
    assert q_span_dedup(spark, sf).count() == 0
    assert q_sessionize_batch(spark, sf).count() == 0


def test_build_persisted_frame_released_by_next_build(spark, sf_dir):
    """A frame a key persists (ckpt.build_persist) is freed by the same
    thread's NEXT registry build, whatever key that is — not kept until
    the same key runs again."""
    from cellbase_spark.queries.graph import _edges
    from cellbase_spark.registry import queries

    qs = queries()
    edges = _edges(spark, sf_dir)  # same plan: storageLevel finds the cache
    qs["q_triangle_count"](spark, sf_dir).collect()
    assert edges.storageLevel.useMemory, "q_triangle_count persists its edges"
    qs["q_degree_distribution"](spark, sf_dir).collect()
    assert not edges.storageLevel.useMemory, "next build left the edges cached"
