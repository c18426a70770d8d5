"""Property-based algebraic laws (SURVEY.md §5.2 layer 2).

Hypothesis generates small adversarial inputs (nulls, duplicates, empty
strings, negative values); each law is one the engine's rewrites and
operators must preserve at any scale. Spark session startup dominates, so
examples are kept small and deadline is disabled.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cellbase_spark.operators.dedup import exact_dedup, jaccard_pairs

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # key
        st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),  # val
        st.sampled_from(["a", "b", "c", ""]),  # tag
    ),
    min_size=0,
    max_size=40,
)


def _sorted_rows(df):
    """None-safe canonical row list for set comparison."""
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, tag string")


@given(rows=rows_strategy)
@SETTINGS
def test_filter_project_commute(spark, rows):
    """where(p).select(c) == select(c).where(p) when p only uses kept cols."""
    df = _df(spark, rows)
    a = df.where(F.col("k") > 10).select("k", "tag")
    b = df.select("k", "tag").where(F.col("k") > 10)
    assert _sorted_rows(a) == _sorted_rows(b)


@given(rows=rows_strategy)
@SETTINGS
def test_running_sum_last_row_equals_group_sum(spark, rows):
    """Window running sum at each group's last row == groupBy sum."""
    from pyspark.sql import Window

    df = _df(spark, rows).withColumn("rid", F.monotonically_increasing_id())
    w = Window.partitionBy("tag").orderBy("rid").rowsBetween(Window.unboundedPreceding, 0)
    last = (
        df.withColumn("run", F.sum("v").over(w))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("tag").orderBy(F.col("rid").desc())),
        )
        .where(F.col("rn") == 1)
        .select("tag", "run")
    )
    grouped = df.groupBy("tag").agg(F.sum("v").alias("run"))
    assert _sorted_rows(last) == _sorted_rows(grouped)


@given(rows=rows_strategy)
@SETTINGS
def test_exact_dedup_idempotent(spark, rows):
    """Deduplicating an already-deduplicated table is a no-op."""
    df = _df(spark, rows).select(F.col("k").alias("doc_id"), F.col("tag").alias("text"))
    once = exact_dedup(df, "text", "doc_id").select("content_hash", "doc_id")
    again = exact_dedup(
        once.withColumnRenamed("content_hash", "text"), "text", "doc_id"
    )
    assert once.count() == again.count()


@given(rows=rows_strategy)
@SETTINGS
def test_union_distinct_absorbs_self(spark, rows):
    """(A union A).distinct() == A.distinct()"""
    df = _df(spark, rows)
    a = df.unionByName(df).distinct()
    b = df.distinct()
    assert _sorted_rows(a) == _sorted_rows(b)


@given(rows=rows_strategy)
@SETTINGS
def test_except_intersect_partition(spark, rows):
    """|A| == |A exceptAll B| + |A intersectAll B| for any B (here B = evens)."""
    df = _df(spark, rows)
    b = df.where(F.col("k") % 2 == 0)
    assert df.count() == df.exceptAll(b).count() + df.intersectAll(b).count()


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=8),
        ),
        min_size=0,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    tau=st.sampled_from([0.5, 0.7, 0.9]),
)
@SETTINGS
def test_prefix_filter_is_lossless(spark, docs, tau):
    """jaccard_pairs (prefix-filtered) == brute-force pair enumeration."""
    pdf = [(i, toks) for i, toks in docs]
    df = spark.createDataFrame(pdf, "doc_id long, toks array<string>")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(df, "doc_id", "toks", threshold=tau).collect()
    }
    sets = {i: set(t) for i, t in pdf}
    want = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            if len(a | b) and len(a & b) / len(a | b) >= tau:
                want.add((ids[x], ids[y]))
    assert got == want


docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # doc id (dups possible -> dedup below)
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=8,
        ),  # token multiset over a tiny alphabet
        st.sampled_from(["s0", "s1"]),  # block
    ),
    min_size=0,
    max_size=16,
)


@given(docs=docs_strategy, threshold=st.sampled_from([0.34, 0.5, 0.75]))
@SETTINGS
def test_bitmap_and_prefix_jaccard_agree(spark, docs, threshold):
    """Differential law: blocked_bitmap_jaccard_pairs (all-pairs bitmap
    compare) and jaccard_pairs (PPJoin prefix filter) are two physical
    strategies for the SAME operator — on any corpus they must emit the
    identical pair set with identical (n_a, n_b, n_shared, jaccard)."""
    from cellbase_spark.operators.dedup import blocked_bitmap_jaccard_pairs

    uniq = {}
    for i, toks, blk in docs:
        uniq[i] = (i, toks, blk)
    rows = list(uniq.values())
    if not rows:
        return
    t = spark.createDataFrame(rows, "id long, toks array<string>, blk string")
    a = blocked_bitmap_jaccard_pairs(
        t, id_col="id", tokens_col="toks", block_col="blk", threshold=threshold
    )
    b = jaccard_pairs(
        t, id_col="id", tokens_col="toks", block_col="blk", threshold=threshold
    )

    def canon(df):
        return sorted(
            (r["id_a"], r["id_b"], r["n_a"], r["n_b"], r["n_shared"],
             round(r["jaccard"], 9))
            for r in df.collect()
        )

    assert canon(a) == canon(b)


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11), st.integers(min_value=0, max_value=11)
    ),
    min_size=0,
    max_size=20,
)


@given(edges=edges_strategy)
@SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    """Differential law: the distributed label-propagation CC must match a
    driver-side union-find on any small graph (chains, cliques, isolated
    nodes, self-loops, duplicate edges)."""
    from cellbase_spark.operators.dedup import connected_components

    nodes = list(range(12))
    parent = list(range(12))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical min-id label per component
    expected = {}
    for n in nodes:
        root = find(n)
        expected.setdefault(root, []).append(n)
    want = {n: min(members) for root, members in expected.items() for n in members}

    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = spark.createDataFrame(edges or [], "id_a long, id_b long") if edges else \
        ndf.select(F.col("id").alias("id_a"), F.col("id").alias("id_b")).where(F.lit(False))
    # BOTH execution paths must match the reference: the size-gated
    # driver union-find (default) AND the iterative min-label loop
    # (forced with driver_cc_limit=0)
    for limit in (2_000_000, 0):
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                ndf, edf, id_col="id", driver_cc_limit=limit
            ).collect()
        }
        assert got == want, f"driver_cc_limit={limit}"


def test_bmp_codec_roundtrip_property():
    """Property: encode_bmp/decode_bmp are exact inverses for any image
    shape (incl. every row-padding class) and any pixel content."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cellbase_spark.operators.multimodal import decode_bmp, encode_bmp

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=9),
        w=st.integers(min_value=1, max_value=9),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(h, w, seed):
        img = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, 3), dtype=np.uint8
        )
        assert (decode_bmp(encode_bmp(img)) == img).all()

    check()


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            # min_size=1: an empty cell IS null in the spreadsheet model
            # ('' is never materialized in xlsx), so '' would read back
            # as None by design — see sources/pyds._coerce.
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7E
                ),
                min_size=1,
                max_size=12,
            ),
            st.floats(
                allow_nan=False, allow_infinity=False, width=32,
                min_value=-1e6, max_value=1e6,
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_pyds_xlsx_roundtrip_typed(spark, tmp_path_factory, rows):
    """Property: any (long, string, double) table survives the Python
    Data Source write -> read loop bit-exactly in BOTH spreadsheet
    dialects (numeric cells serialize with repr-roundtrip precision;
    strings via sharedStrings / escaped text:p)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cellbase_spark.sources.pyds import register

    register(spark)
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("s", StringType()),
            StructField("x", DoubleType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    # both spreadsheet dialects share the coercion contract: the same
    # table must survive the xlsx AND ods DataSource loops bit-exactly
    for fmt in ("xlsx", "ods"):
        out = str(tmp_path_factory.mktemp(f"pyds_prop_{fmt}"))
        df.write.format(f"cellbase_{fmt}").mode("append").save(out)
        back = spark.read.format(f"cellbase_{fmt}").schema(schema).load(out)
        got = sorted((r["k"], r["s"], r["x"]) for r in back.collect())
        assert got == sorted(rows), fmt


docs_words = st.lists(
    st.lists(st.sampled_from(["w0", "w1", "w2", "w3", "w4"]), min_size=0, max_size=14),
    min_size=1,
    max_size=8,
)


@given(docs=docs_words)
@SETTINGS
def test_span_hash_counts_match_python_reference(spark, docs):
    """q_span_dedup's distributed span-hash aggregation equals a pure
    Python sliding-window reference on the same corpus: per duplicated
    span, (distinct docs, occurrences, min doc) all agree, and spans in
    only one doc never surface."""
    import hashlib
    from collections import defaultdict

    W = 4  # smaller window than production so tiny docs exercise it
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    # python reference
    by_hash: dict = defaultdict(lambda: [set(), 0])
    for i, ws in enumerate(docs):
        for j in range(max(len(ws) - W + 1, 0)):
            h = hashlib.md5(" ".join(ws[j : j + W]).encode()).hexdigest()
            by_hash[h][0].add(i)
            by_hash[h][1] += 1
    want = {
        h: (len(d), n, min(d)) for h, (d, n) in by_hash.items() if len(d) >= 2
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = df.select("doc_id", F.split("text", " ").alias("ws"))
    spans = F.expr(
        f"case when size(ws) >= {W} then transform(sequence(1, size(ws) - {W - 1}),"
        f" i -> md5(concat_ws(' ', slice(ws, i, {W})))) else array() end"
    )
    got = {
        r["span_hash"]: (r["n_docs"], r["n_occ"], r["min_doc"])
        for r in (
            t.select("doc_id", F.explode(spans).alias("span_hash"))
            .groupBy("span_hash")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_occ"),
                F.min("doc_id").alias("min_doc"),
            )
            .where(F.col("n_docs") >= 2)
            .collect()
        )
    }
    assert got == want


@given(ws=st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=5, max_size=12))
@SETTINGS
def test_shingles_encode_word_order(spark, ws):
    """5-word shingle sets match the Python reference, and (unlike token
    sets) reversing the document changes the shingle set whenever the
    word sequence is not a palindrome — the property that makes
    q_minhash_shingle order-sensitive."""
    df = spark.createDataFrame([(0, " ".join(ws))], "doc_id long, text string")
    t = df.select(F.split("text", " ").alias("ws")).select(
        F.expr(
            "transform(sequence(1, size(ws) - 4),"
            " i -> concat_ws(' ', slice(ws, i, 5)))"
        ).alias("sh")
    )
    got = set(t.collect()[0]["sh"])
    want = {" ".join(ws[i : i + 5]) for i in range(len(ws) - 4)}
    assert got == want


def test_shingles_distinguish_reordered_docs(spark):
    """Order-sensitivity witness: two docs with identical token SETS but
    different word order share no 5-shingle — exactly the near-dup false
    positive q_minhash_shingle eliminates vs unigram-set MinHash."""
    a = "a b c d e f g h"
    b = "h g f e d c b a"
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    sh = df.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(split(text, ' ')) - 4),"
            " i -> concat_ws(' ', slice(split(text, ' '), i, 5)))"
        ).alias("sh"),
    ).collect()
    s0, s1 = (set(r["sh"]) for r in sh)
    assert set(a.split()) == set(b.split())  # token sets identical
    assert not (s0 & s1)  # shingle sets disjoint


@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    ch=st.sampled_from([3, 4]),
    f=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@SETTINGS
def test_png_codec_roundtrip_property(h, w, ch, f, seed):
    """decode_png(encode_png(img, filter)) == img for every image shape,
    RGB and RGBA, and ALL five scanline filters — the inflate+unfilter
    inverse that q_mm_decode_png's oracle hash depends on. Pure local
    kernels: no SparkSession needed."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img, filter_type=f)), img)


# -- round-5 keys: algebraic laws ------------------------------------------

docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B", "C"]),                       # source
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4", "w5", "w6"]),
                 min_size=0, max_size=12),                      # tokens
    ),
    min_size=0,
    max_size=10,
)


def _overlap_rows(spark, tmp_path_factory, rows, tag):
    import os

    from cellbase_spark.queries.llm_dedup import q_source_overlap

    sf = str(tmp_path_factory.mktemp(f"ovl_{tag}"))
    data = [
        (i, " ".join(toks), len(" ".join(toks)), "en", src)
        for i, (src, toks) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "doc_id long, text string, n_chars int, lang string, source string"
    )
    df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    return _sorted_rows(q_source_overlap(spark, sf))


@SETTINGS
@given(rows=docs_strategy)
def test_source_overlap_duplicate_doc_invariant(spark, tmp_path_factory, rows):
    """Duplicating any document does not change the overlap matrix:
    span sets are DISTINCT per source, so a copy adds no new spans."""
    base = _overlap_rows(spark, tmp_path_factory, rows, "base")
    dup = _overlap_rows(spark, tmp_path_factory, rows + rows[:1], "dup")
    assert base == dup


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),            # user
            st.integers(min_value=0, max_value=200),          # minute offset
        ),
        min_size=0,
        max_size=25,
    ),
    shift=st.integers(min_value=0, max_value=10_000),
)
def test_sessionize_time_shift_invariant(spark, tmp_path_factory, rows, shift):
    """Shifting every event by a constant offset preserves the session
    structure exactly: per-user session count, sizes, and durations."""
    import datetime as dt
    import os

    from cellbase_spark.queries.analytics import q_sessionize_batch

    t0 = dt.datetime(2024, 1, 1)

    def build(extra_min, tag):
        sf = str(tmp_path_factory.mktemp(f"sess_{tag}"))
        data = [
            (i, t0 + dt.timedelta(minutes=m + extra_min), u, "e", 0.0, "{}")
            for i, (u, m) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
        return sorted(
            (r["user_id"], r["session_seq"], r["n_events"], r["duration_s"])
            for r in q_sessionize_batch(spark, sf).collect()
        )

    assert build(0, "a") == build(shift, "b")


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),              # user
            st.integers(min_value=0, max_value=3 * 24 * 60),    # minute in a 3-day span
        ),
        min_size=0,
        max_size=30,
    )
)
def test_sessionize_twophase_equals_onepass(spark, tmp_path_factory, rows):
    """q_sessionize_twophase must equal q_sessionize_batch row-for-row —
    including sessions that CROSS the day-chunk boundary (events minutes
    apart across midnight), the case the interval-merge pass exists for."""
    import datetime as dt
    import os

    from cellbase_spark.queries.analytics import (
        q_sessionize_batch,
        q_sessionize_twophase,
    )

    t0 = dt.datetime(2024, 1, 1)
    sf = str(tmp_path_factory.mktemp("sess2"))
    data = [
        (i, t0 + dt.timedelta(minutes=m), u, "e", 0.0, "{}")
        for i, (u, m) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))

    def canon(q):
        return sorted(
            (
                r["user_id"],
                r["session_seq"],
                r["n_events"],
                r["session_start"],
                r["session_end"],
                r["duration_s"],
            )
            for r in q(spark, sf).collect()
        )

    assert canon(q_sessionize_batch) == canon(q_sessionize_twophase)


# --- Round-10 codec properties (pure Python/numpy — no Spark session,
# so these can afford more examples than the session-bound laws above).

_CODEC_SETTINGS = settings(max_examples=40, deadline=None)


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ri=st.sampled_from([0, 1, 3]),
)
@_CODEC_SETTINGS
def test_jpeg_gray_roundtrip_property(h, w, seed, ri):
    """ANY grayscale image, ANY dims (incl. non-multiple-of-8), with or
    without restart markers: decode(encode(img)) preserves shape/dtype
    and stays within the all-ones-quant rounding bound (max |diff| <= 3,
    empirically <= 2; a framing/Huffman/IDCT bug produces wild pixels,
    not off-by-rounding)."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_jpeg, encode_jpeg

    img = np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, restart_interval=ri))
    assert out.shape == img.shape and out.dtype == np.uint8
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    subsample=st.booleans(),
)
@_CODEC_SETTINGS
def test_jpeg_color_roundtrip_property(h, w, seed, subsample):
    """ANY RGB image through 4:4:4 or 4:2:0: the decode must match an
    INDEPENDENT in-test reference model of the non-DCT pipeline (JFIF
    YCbCr forward, round-half-up 2x2 chroma mean + replication upsample
    when subsampled, inverse transform with floor(x+.5) + clip) within
    the all-ones-quant DCT rounding bound. 4:2:0 legitimately shifts
    RGB far on adversarial neighboring hues (chroma is averaged, and
    clipping then bends even luma for saturated pixels) — so the
    property is fidelity to the MODEL, not to the input."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_jpeg, encode_jpeg

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, subsample=subsample))
    assert out.shape == img.shape and out.dtype == np.uint8

    r = img[:, :, 0].astype(np.float64)
    g = img[:, :, 1].astype(np.float64)
    b = img[:, :, 2].astype(np.float64)
    yy = np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)
    cb = np.clip(np.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5), 0, 255)
    cr = np.clip(np.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5), 0, 255)
    if subsample:
        cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge").astype(np.int64)
        crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge").astype(np.int64)
        cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2] + 2) // 4
        cr = (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2] + 2) // 4
        cb = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)[:h, :w].astype(np.float64)
        cr = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)[:h, :w].astype(np.float64)
    cbd, crd = cb - 128.0, cr - 128.0
    model = np.clip(
        np.floor(
            np.stack(
                [
                    yy + 1.402 * crd,
                    yy - 0.344136 * cbd - 0.714136 * crd,
                    yy + 1.772 * cbd,
                ],
                axis=2,
            )
            + 0.5
        ),
        0,
        255,
    )
    assert np.abs(out.astype(np.float64) - model).max() <= 5


@given(
    h=st.integers(min_value=1, max_value=30),
    w=st.integers(min_value=1, max_value=30),
    n_colors=st.integers(min_value=2, max_value=256),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_gif_roundtrip_property(h, w, n_colors, seed):
    """ANY palette image: GIF LZW is lossless — decode(encode) is
    pixel-EXACT for every size, palette size, and content."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    idx = rng.integers(0, n_colors, (h, w), dtype=np.uint8)
    out = decode_gif(encode_gif(idx, pal))
    assert np.array_equal(out, pal[idx])


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    ch=st.sampled_from([0, 3, 4]),  # 0 = grayscale
    ft=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_png_roundtrip_property(h, w, ch, ft, seed):
    """ANY image, every color type x every scanline filter: PNG is
    lossless — decode(encode) is pixel-EXACT."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 0 else (h, w, ch)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    out = decode_png(encode_png(img, filter_type=ft))
    assert out.shape == shape
    assert np.array_equal(out, img)


def _greedy_merge_ref(syms: list[str], a: str, b: str) -> list[str]:
    """Reference textbook BPE merge: greedy leftmost non-overlapping."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@given(
    syms=st.lists(st.sampled_from(["a", "b", "ab", "-", "th"]), min_size=1, max_size=14),
    pair=st.sampled_from([("a", "a"), ("a", "b"), ("-", "-"), ("a", "th"), ("ab", "a")]),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_bpe_merge_equals_textbook_greedy(spark, syms, pair):
    """The doubled-delimiter merge == textbook greedy leftmost
    non-overlapping for ARBITRARY symbol sequences and pairs, including
    self-pairs, prefix-colliding symbols ('a' vs 'ab'), and runs — the
    property the round-10 rewrite claims, checked against an
    independent reference implementation."""
    from cellbase_spark.queries.corpus import _BPE_US, _bpe_merge_col

    a, b = pair
    df = spark.createDataFrame([(_BPE_US.join(syms),)], "s string")
    got = df.select(_bpe_merge_col(F.col("s"), a + _BPE_US + b).alias("m")).first().m
    assert got == _BPE_US.join(_greedy_merge_ref(syms, a, b)), (syms, pair)


@given(
    h=st.integers(min_value=1, max_value=16),
    w=st.integers(min_value=1, max_value=16),
    ch=st.sampled_from([0, 3, 4]),  # 0 = grayscale
    ft=st.integers(min_value=0, max_value=4),
    depth16=st.booleans(),
    interlace=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_png_depth_interlace_property(h, w, ch, ft, depth16, interlace, seed):
    """Round 11 lanes: ANY image x {8, 16}-bit x {plain, Adam7} x every
    filter x every color type — PNG stays lossless through the
    byte-level unfilter + pass scatter."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 0 else (h, w, ch)
    if depth16:
        img = rng.integers(0, 65536, shape, dtype=np.uint16)
    else:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
    out = decode_png(encode_png(img, filter_type=ft, interlace=interlace))
    assert out.dtype == img.dtype
    assert np.array_equal(out, img)


@given(
    h=st.integers(min_value=1, max_value=14),
    w=st.integers(min_value=1, max_value=14),
    gray=st.booleans(),
    packbits=st.booleans(),
    big_endian=st.booleans(),
    rps=st.sampled_from([1, 3, 64]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_tiff_roundtrip_property(h, w, gray, packbits, big_endian, rps, seed):
    """ANY image x {gray, RGB} x {none, PackBits} x {II, MM} x strip
    sizes: baseline TIFF is lossless — decode(encode) pixel-EXACT."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    out = decode_tiff(
        encode_tiff(img, packbits=packbits, big_endian=big_endian,
                    rows_per_strip=rps)
    )
    assert np.array_equal(out, img)


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    gray=st.booleans(),
    predictor=st.sampled_from([1, 2]),
    big_endian=st.booleans(),
    rps=st.sampled_from([1, 4, 64]),
    runny=st.booleans(),
    wide=st.booleans(),
    planar=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_tiff_lzw_roundtrip_property(
    h, w, gray, predictor, big_endian, rps, runny, wide, planar, seed
):
    """ANY image x {gray, RGB} x {8, 16}-bit x {Predictor 1, 2} x
    {II, MM} x strip sizes x {random, runny}: LZW TIFF is lossless —
    decode(encode) pixel-EXACT. Runny images drive long matches
    (replicate-heavy dictionaries); random ones drive one-entry-per-
    code growth across the early-change width bumps; 16-bit exercises
    sample-level (not byte-level) differencing and the
    header-byte-order sample encoding; planar adds per-channel chunk
    runs, one strip-size arm swaps in the 5x3 TILED layout (edge
    tiles zero-padded), and another swaps LZW for DEFLATE (tag 8)."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    dtype = np.uint16 if wide else np.uint8
    top = 65536 if wide else 256
    if runny:
        img = np.full(shape, rng.integers(0, top), dtype=dtype)
        img[tuple(d // 2 for d in shape)] = (int(img.flat[0]) + 97) % top
    else:
        img = rng.integers(0, top, shape, dtype=dtype)
    out = decode_tiff(
        encode_tiff(img, lzw=rps != 64, deflate=rps == 64,
                    predictor=predictor,
                    big_endian=big_endian, rows_per_strip=rps,
                    planar=planar and not gray,
                    tile=(5, 3) if rps == 4 else None)
    )
    assert out.dtype == dtype and np.array_equal(out, img)


@given(
    n=st.integers(min_value=1, max_value=600),
    stereo=st.booleans(),
    mid_side=st.booleans(),
    block=st.sampled_from([32, 256, 4096]),
    porder=st.integers(min_value=0, max_value=3),
    escape=st.booleans(),
    lpc=st.sampled_from([None, 1, 4, 8]),
    shape=st.sampled_from(["const", "ramp", "walk", "rand", "extreme"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_flac_roundtrip_property(
    n, stereo, mid_side, block, porder, escape, lpc, shape, seed
):
    """ANY clip x {mono, stereo} x {independent, mid/side} x block and
    Rice-partition sizes x {Rice, raw-bits escape} x {fixed-search,
    quantized-LPC orders} x content shapes (constant, linear ramp,
    random walk, full-range random, ±extremes): FLAC is lossless —
    decode(encode) sample-EXACT, CRCs verified on the way through."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_flac, encode_flac

    rng = np.random.default_rng(seed)
    ch = 2 if stereo else 1
    if shape == "const":
        clip = np.full((n, ch), int(rng.integers(-32768, 32768)), np.int32)
    elif shape == "ramp":
        base = np.arange(n) * int(rng.integers(-40, 41))
        clip = np.stack([base + 7 * c for c in range(ch)], 1).astype(np.int32)
        clip = np.clip(clip, -32768, 32767)
    elif shape == "walk":
        clip = np.cumsum(rng.integers(-60, 61, (n, ch)), axis=0).astype(np.int32)
        clip = np.clip(clip, -32768, 32767)
    elif shape == "rand":
        clip = rng.integers(-32768, 32768, (n, ch)).astype(np.int32)
    else:
        clip = rng.choice(
            np.array([32767, -32768, 0, 1, -1], np.int32), (n, ch)
        )
    if ch == 1:
        clip = clip[:, 0]
    out, rate = decode_flac(
        encode_flac(
            clip,
            48000,
            block_size=block,
            stereo_mode="mid_side" if stereo and mid_side else "independent",
            partition_order=porder,
            force_escape=escape,
            lpc_order=lpc,
        )
    )
    assert rate == 48000
    assert np.array_equal(np.asarray(out), clip)


def test_flac_uncommon_lanes():
    """Decoder lanes the round-trip property can't reach through this
    encoder: (1) wasted-bits subframes (hand-built bitstream — samples
    shifted left by the unary-coded count), (2) multi-byte UTF-8-style
    frame numbers (>127 frames forces the 2-byte form), (3) truncated
    stream fails loudly."""
    import numpy as np
    import pytest

    from cellbase_spark.operators.multimodal import (
        _FlacBitWriter,
        _FlacBits,
        _flac_read_subframe,
        decode_flac,
        encode_flac,
    )

    # (1) CONSTANT subframe with 2 wasted bits: stored value 5 -> 20
    w = _FlacBitWriter()
    w.write(0, 1)        # pad
    w.write(0, 6)        # CONSTANT
    w.write(1, 1)        # wasted-bits flag
    w.write(1, 2)        # unary 1 -> k = 2 (one 0 then the terminating 1)
    w.write(5, 14)       # bps 16 - 2 wasted = 14
    w.align()
    got = _flac_read_subframe(_FlacBits(bytes(w.buf)), 3, 16)
    assert got == [20, 20, 20]
    # VERBATIM with 1 wasted bit
    w = _FlacBitWriter()
    w.write(0, 1)
    w.write(1, 6)        # VERBATIM
    w.write(1, 1)
    w.write(1, 1)        # unary 0 -> k = 1
    for v in (3, -2, 7):
        w.write(v, 15)
    w.align()
    assert _flac_read_subframe(_FlacBits(bytes(w.buf)), 3, 16) == [6, -4, 14]

    # (2) >127 frames: 2-byte coded frame numbers decode through
    clip = (np.arange(5000) * 13 % 4096 - 2048).astype(np.int32)
    out, _ = decode_flac(encode_flac(clip, 8000, block_size=32))
    assert np.array_equal(out, clip)  # 157 frames

    # (3) truncation is loud
    data = encode_flac(clip[:200], 8000)
    with pytest.raises(ValueError):
        decode_flac(data[: len(data) - 7])


def test_flac_corruption_is_loud():
    """A flipped payload bit fails a CRC (or structural check) rather
    than decoding to silently-wrong samples; reserved subframe types
    refuse loudly; LPC beats the fixed-order search on narrowband
    content (the Welch-window regression pin — a rectangular-window
    autocorrelation loses to FIXED here)."""
    import numpy as np
    import pytest

    from cellbase_spark.operators.multimodal import (
        _FlacBits,
        _flac_read_subframe,
        decode_flac,
        encode_flac,
    )

    clip = (np.arange(500) * 13 % 4096 - 2048).astype(np.int32)
    data = bytearray(encode_flac(clip, 8000, block_size=128))
    # flip one bit inside the last frame's payload
    data[-10] ^= 0x40
    with pytest.raises((ValueError, NotImplementedError)):
        decode_flac(bytes(data))
    # reserved subframe type (000010) is a loud refusal
    w = bytearray([0b0_000010_0])
    with pytest.raises(ValueError, match="reserved FLAC subframe"):
        _flac_read_subframe(_FlacBits(bytes(w) + b"\x00" * 8), 4, 16)
    t = np.arange(4096)
    sine = (8000 * np.sin(t * 0.05) + 100 * np.sin(t * 0.31)).astype(np.int32)
    assert len(encode_flac(sine, block_size=1024, lpc_order=8)) < len(
        encode_flac(sine, block_size=1024)
    )


@given(
    n=st.integers(min_value=1, max_value=1500),
    spb=st.sampled_from([9, 64, 505]),
    stereo=st.booleans(),
    shape=st.sampled_from(["sine", "walk", "steps", "extreme"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_ima_adpcm_tracks_input(n, spb, stereo, shape, seed):
    """encode->decode through the IMA ADPCM state machine: output has
    the exact sample count (fact-chunk honored across multi-block
    streams incl. a short final block), sample 0 is exact (block
    headers carry it verbatim), and the decoded signal tracks the
    input within the quantizer's worst step (ADPCM is lossy but its
    error is step-bounded, not unbounded drift); stereo runs two
    independent state machines through the interleaved-word layout."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    t = np.arange(n)
    if shape == "sine":
        sig = (6000 * np.sin(t * 0.03)).astype(np.int16)
    elif shape == "walk":
        sig = np.clip(np.cumsum(rng.integers(-80, 81, n)), -32768, 32767).astype(np.int16)
    elif shape == "steps":
        sig = ((t // 50) % 7 * 4000 - 12000).astype(np.int16)
    else:
        sig = rng.choice(np.array([32767, -32768, 0], np.int16), n)
    if stereo:
        sig = np.stack([sig, np.roll(sig, 1)], axis=1)
    out, rate = decode_wav(
        encode_wav(sig, 8000, codec="ima_adpcm", adpcm_block_samples=spb)
    )
    assert rate == 8000 and out.dtype == np.int16
    assert out.shape == sig.shape
    assert np.array_equal(out.reshape(n, -1)[0], sig.reshape(n, -1)[0])
    # worst-case per-sample error is bounded by ~2x the max step
    err = np.abs(out.astype(np.int64) - sig.astype(np.int64))
    assert int(err.max()) <= 2 * 32767


def test_ima_adpcm_state_machine_pins():
    """Exhaustive nibble-level pins of the published IMA tables: all
    16 nibbles from a known state, both clamps (predictor at ±32768,
    index at 0/88), and a formula-nibble WAV decodes identically to
    the reference fold — the exact contract the SQL-oracle recursive
    CTE replays."""
    import numpy as np

    from cellbase_spark.operators.multimodal import (
        _IMA_INDEX_TABLE,
        _IMA_STEP_TABLE,
        _ima_decode_nibble,
        decode_wav,
        ima_wav_from_nibbles,
    )

    assert len(_IMA_STEP_TABLE) == 89 and _IMA_STEP_TABLE[-1] == 32767
    assert _IMA_INDEX_TABLE == [-1, -1, -1, -1, 2, 4, 6, 8]
    # all 16 nibbles from (pred=0, idx=44): sign and magnitude bits
    step = _IMA_STEP_TABLE[44]
    for nib in range(16):
        pred, idx = _ima_decode_nibble(0, 44, nib)
        d = (
            (step >> 3)
            + (nib & 1) * (step >> 2)
            + ((nib >> 1) & 1) * (step >> 1)
            + ((nib >> 2) & 1) * step
        )
        assert pred == (-d if nib & 8 else d)
        assert idx == max(0, min(88, 44 + _IMA_INDEX_TABLE[nib & 7]))
    # clamps
    assert _ima_decode_nibble(32767, 88, 7)[0] == 32767
    assert _ima_decode_nibble(-32768, 88, 15)[0] == -32768
    assert _ima_decode_nibble(0, 0, 0)[1] == 0       # index floor
    assert _ima_decode_nibble(0, 88, 4)[1] == 88     # index ceiling
    # formula WAV == reference fold
    nibs = [(5 * j + 3) % 16 for j in range(77)]
    out, _ = decode_wav(ima_wav_from_nibbles(nibs, -1000, 30))
    pred, idx = -1000, 30
    ref = [pred]
    for nb in nibs:
        pred, idx = _ima_decode_nibble(pred, idx, nb)
        ref.append(pred)
    assert list(out) == ref


@given(
    n=st.integers(min_value=1, max_value=400),
    n_ch=st.sampled_from([1, 2]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_wav_float32_bit_exact(n, n_ch, seed):
    """ANY finite float32 clip (full exponent range, subnormals,
    ±zero) round-trips BIT-EXACT through the fmt-3 RIFF container —
    the container stores raw IEEE bytes, so this is an identity the
    parser must not disturb."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    bits = rng.integers(0, 1 << 32, (n, n_ch), dtype=np.uint64).astype(np.uint32)
    clip = bits.view(np.float32)
    clip = np.where(np.isfinite(clip), clip, np.float32(0.0))
    clip[0, 0] = np.float32(-0.0)
    if n > 1:
        clip[1, 0] = np.float32(1e-42)  # subnormal
    if n_ch == 1:
        clip = clip[:, 0]
    out, rate = decode_wav(encode_wav(clip, 96000, codec="float32"))
    assert rate == 96000 and out.dtype == np.float32
    assert out.shape == clip.shape
    assert np.array_equal(out.view(np.uint32), clip.view(np.uint32))


def test_g711_codec_exactness():
    """The published G.711 invariants, pinned exhaustively: every
    A-law code is a fixed point of encode∘decode; every μ-law code
    except 0x7F is (negative zero re-encodes as positive-zero 0xFF,
    which expands to the same sample); peak magnitudes are the standard
    32124 (μ) / 32256 (A); compression error is bounded by the
    top-segment clip (644 μ at −32768 / 512 A); and the WAV fmt-6/7 plumbing
    round-trips lattice-exact clips through real RIFF files."""
    import numpy as np

    from cellbase_spark.operators.multimodal import (
        _g711_decode_table,
        alaw_decode_byte,
        alaw_encode_sample,
        decode_wav,
        encode_wav,
        ulaw_decode_byte,
        ulaw_encode_sample,
    )

    assert [b for b in range(256)
            if alaw_encode_sample(alaw_decode_byte(b)) != b] == []
    assert [b for b in range(256)
            if ulaw_encode_sample(ulaw_decode_byte(b)) != b] == [0x7F]
    assert ulaw_decode_byte(0xFF) == ulaw_decode_byte(0x7F) == 0
    u_vals = [ulaw_decode_byte(b) for b in range(256)]
    a_vals = [alaw_decode_byte(b) for b in range(256)]
    assert (max(u_vals), min(u_vals)) == (32124, -32124)
    assert (max(a_vals), min(a_vals)) == (32256, -32256)
    xs = np.linspace(-32768, 32767, 4001).astype(int)
    assert max(abs(ulaw_decode_byte(ulaw_encode_sample(int(x))) - int(x))
               for x in xs) <= 644
    assert max(abs(alaw_decode_byte(alaw_encode_sample(int(x))) - int(x))
               for x in xs) <= 512
    for law in ("ulaw", "alaw"):
        clip = _g711_decode_table(law)[np.arange(256)]
        out, rate = decode_wav(encode_wav(clip, 8000, codec=law))
        assert rate == 8000 and np.array_equal(out, clip)


def _tiff_lzw_code_walk(enc: bytes) -> tuple[int, int]:
    """(widest code width, mid-stream CLEAR count) of a TIFF LZW stream,
    read code by code on the decoder's early-change width schedule
    without rebuilding any dictionary entries."""
    CLEAR, EOI = 256, 257
    bits, total = int.from_bytes(enc, "big"), len(enc) * 8
    pos, width, size, widest, clears, first = 0, 9, 258, 9, 0, True
    prev = False
    while True:
        code = (bits >> (total - pos - width)) & ((1 << width) - 1)
        pos += width
        widest = max(widest, width)
        if code == CLEAR:
            clears += not first
            width, size, prev = 9, 258, False
        elif code == EOI:
            return widest, clears
        else:
            if prev and size < 4096:
                size += 1
                if size == (1 << width) - 1 and width < 12:
                    width += 1
            prev = True
        first = False


def test_tiff_lzw_width_bumps_and_reset():
    """A low-redundancy 12k-byte stream forces every width bump
    (9->10->11->12) AND several 4094-entry dictionary resets — the
    deep-stream lanes a hypothesis-sized image can't reach. The code
    walk proves the stream really reaches both lanes."""
    import numpy as np

    from cellbase_spark.operators.multimodal import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    rng = np.random.default_rng(11)
    b = rng.integers(0, 256, 12_000, dtype=np.uint8).tobytes()
    enc = _tiff_lzw_encode(b)
    widest, clears = _tiff_lzw_code_walk(enc)
    assert widest == 12 and clears >= 2, (widest, clears)
    assert _tiff_lzw_decode(enc, len(b)) == b
    # KwKwK lane: the code-equals-table-size case
    b = b"a" * 1000
    assert _tiff_lzw_decode(_tiff_lzw_encode(b), len(b)) == b
    # empty payload: CLEAR + EOI only
    assert _tiff_lzw_decode(_tiff_lzw_encode(b""), 0) == b""


def test_tiff_lzw_large_strip_roundtrips():
    """A 400 kB random strip round-trips. Encoder and decoder keep only the
    unconsumed bits in their accumulators; an accumulator holding the
    whole stream makes every shift copy it, and this strip then takes
    minutes instead of about a second."""
    import numpy as np

    from cellbase_spark.operators.multimodal import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    b = np.random.default_rng(7).integers(0, 256, 400_000, dtype=np.uint8).tobytes()
    assert _tiff_lzw_decode(_tiff_lzw_encode(b), len(b)) == b


@given(
    n=st.integers(min_value=1, max_value=200),
    n_ch=st.sampled_from([1, 2, 4]),
    bits=st.sampled_from([16, 24]),
    runny=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_wav_pcm_roundtrip_property(n, n_ch, bits, runny, seed):
    """ANY clip x {mono, stereo, 4ch} x {16, 24}-bit PCM: WAV is
    lossless — decode(encode) sample-EXACT incl. the 24-bit sign bit."""
    import numpy as np

    from cellbase_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    lim = (1 << (bits - 1)) - 1
    shape = (n,) if n_ch == 1 else (n, n_ch)
    if runny:  # long constant runs stress nothing here but mirror GIF's style
        clip = np.full(shape, rng.integers(-lim, lim), dtype=np.int64)
    else:
        clip = rng.integers(-lim - 1, lim, shape).astype(np.int64)
    clip = clip.astype(np.int16 if bits == 16 else np.int32)
    out, rate = decode_wav(encode_wav(clip, 32000, bits=bits))
    assert rate == 32000
    assert out.shape == shape
    assert np.array_equal(out, clip)


@given(
    h=st.integers(min_value=1, max_value=4).map(lambda v: v * 8),
    w=st.integers(min_value=1, max_value=4).map(lambda v: v * 8),
    color=st.booleans(),
    subsample=st.booleans(),
    qshift=st.sampled_from([1, 8, 16]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_CODEC_SETTINGS
def test_jpeg_progressive_equals_baseline_property(
    h, w, color, subsample, qshift, seed
):
    """ANY image x {gray, color} x {4:4:4, 4:2:0} x quant coarseness:
    progressive and baseline encode the SAME quantized coefficients, so
    their decodes are pixel-IDENTICAL — the strongest cross-check the
    two independent entropy pipelines admit."""
    import numpy as np

    from cellbase_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    if subsample and not color:
        subsample = False  # gray has no chroma to subsample
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    q = [qshift] * 64
    base = decode_jpeg(encode_jpeg(img, qtable=q, subsample=subsample))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, qtable=q, subsample=subsample)
    )
    assert np.array_equal(prog, base)


_names = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=4),
    min_size=1, max_size=6, unique=True,
)


@given(declared=_names, header=_names, data=st.data())
@settings(max_examples=200, deadline=None)
def test_header_positions_contract(declared, header, data):
    """sources/grid.header_positions invariants for ANY drift shape:
    strict raises iff the sets differ (order-free); evolve NEVER raises,
    maps every declared name present in the header to its position and
    null-fills the rest; both modes are insensitive to header order."""
    import pytest

    from cellbase_spark.sources.grid import header_positions

    shuffled = data.draw(st.permutations(header))
    if set(declared) == set(header):
        pos = header_positions(shuffled, declared, "strict", where="t")
        assert all(shuffled[pos[n]] == n for n in declared)
    else:
        with pytest.raises(ValueError, match="schema mismatch"):
            header_positions(shuffled, declared, "strict", where="t")

    pos = header_positions(shuffled, declared, "evolve", where="t")
    for n in declared:
        if n in header:
            assert shuffled[pos[n]] == n
        else:
            assert pos[n] is None
