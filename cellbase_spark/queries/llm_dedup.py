"""Dedup queries over the documents table (SURVEY.md §2.8 L1-L3 + SimHash
and char-n-gram variants mandated by the north star).

Every key here INCLUDING MinHash and SimHash is fully oracle-checked:
hashing is md5-derived, bit-identical in Spark and DuckDB (see
operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.io import fan_out_barrier, load_table, scratch_path
from cellbase_spark.operators.dedup import (
    blocked_bitmap_jaccard_pairs,
    connected_components,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash48,
)
from cellbase_spark.registry import register

# DuckDB fragment: 16-seed minhash signature of list column `toks`
_SIG_SQL = (
    "list_transform(range(0, 16), i -> list_min(list_transform(toks,"
    " t -> ('0x'||substr(md5(t||'#'||i), 1, 15))::BIGINT)))"
)


@register(
    "q_dedup_exact",
    family="llm-dedup",
    oracle="""
SELECT md5(lower(trim(text))) AS content_hash,
       MIN(doc_id) AS doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(lower(trim(text)))
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-content hash groupBy, min-id winner.
    One shuffle keyed on the hash; state per key is a single row."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


@register(
    "q_dedup_near",
    family="llm-dedup",
    oracle="""
WITH t AS (
  SELECT doc_id AS id, source, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
), e AS (
  SELECT id, source, len(toks) AS n, unnest(toks) AS tok FROM t
)
SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
       COUNT(*) AS n_shared,
       COUNT(*) / (a.n + b.n - COUNT(*)) AS jaccard
FROM e a JOIN e b
  ON a.tok = b.tok AND a.id < b.id AND a.source = b.source
GROUP BY a.id, b.id, a.n, b.n
HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.9
""",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-Jaccard near-dup pairs, blocked by source (metadata
    blocking bounds the pair space; the global-scale path is MinHash)."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    t = d.select("doc_id", "source", F.split("text", " ").alias("toks"))
    return jaccard_pairs(
        t, id_col="doc_id", tokens_col="toks", block_col="source", threshold=0.9
    ).select("id_a", "id_b", "n_a", "n_b", "n_shared", "jaccard")


@register(
    "q_dedup_minhash",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, toks, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bd a JOIN bd b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_a = ta.id JOIN t tb ON c.id_b = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
""",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (16 hashes, 2 bands x 8 rows), verified
    with exact Jaccard. Candidate generation is an equi-join on band keys
    — bucket-sized shuffle, never all-pairs. Fully oracle-checked because
    the min-hashes are md5-derived (deterministic in both engines)."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    return minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096,
    )


@register(
    "q_dedup_minhash_capped",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, toks, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), kept AS (
  SELECT id, toks, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM bd
  ) WHERE bn <= 8
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_a = ta.id JOIN t tb ON c.id_b = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
""",
)
def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_minhash's 100 TB skew-guarded form: band buckets larger
    than 8 rows are excluded from candidate generation (their members
    are trivially near-identical mega-cliques — one such bucket of B
    rows emits B^2/2 candidates and turns the band join quadratic; at
    sf1 that is where the 21.5M-edge blow-up comes from). Over-full
    buckets belong to the exact-hash dedup path, not pairwise
    verification. The bucket count is a window keyed on the same
    (band,key) columns the self-join shuffles on; the capped plan shows
    two extra pre-AQE exchanges for the window subtree (deduped by AQE
    exchange reuse at runtime), and the measured trade is decisively
    positive the moment any bucket is hot: 2.8 s vs 10.7 s at sf0.01,
    4.7 s vs 37.3 s at sf1 (8x). Deterministic: the cap is a pure count
    filter, so both engines keep exactly the same buckets."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    return minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096, band_bucket_cap=8,
    )


@register(
    "q_dedup_simhash",
    family="llm-dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 48), k ->
         CASE WHEN CAST(list_sum(list_transform(toks, t ->
                ((('0x'||substr(md5(t), 1, 12))::BIGINT >> k) & 1) * 2 - 1)) AS BIGINT) > 0
              THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash,
       CAST(list_sum(list_transform(range(0, 48), k ->
         CASE WHEN CAST(list_sum(list_transform(toks, t ->
                ((('0x'||substr(md5(t), 1, 12))::BIGINT >> k) & 1) * 2 - 1)) AS BIGINT) > 0
              THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) & 65535 AS band0
FROM t
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash per document + low 16-bit band key (hamming-LSH
    bucketing: near-identical docs collide on a band). Per-row fold —
    the only exchange is fan_out_barrier's parallelism repartition of the
    narrow local scan (a no-op on a wide corpus scan, where this stays a
    pure shuffle-free map); oracle recomputes the identical md5-derived
    bit votes."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    return t.select(
        "doc_id",
        simhash48("toks").alias("simhash"),
    ).withColumn("band0", F.col("simhash").bitwiseAND(F.lit(65535)))


@register(
    "q_ngram_jaccard",
    family="llm-dedup",
    oracle="""
WITH t AS (
  SELECT doc_id AS id, source,
         list_distinct(list_transform(range(1, length(text) - 1),
                                      i -> substring(text, i, 3))) AS toks
  FROM documents
), e AS (
  SELECT id, source, len(toks) AS n, unnest(toks) AS tok FROM t
)
SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
       COUNT(*) AS n_shared,
       COUNT(*) / (a.n + b.n - COUNT(*)) AS jaccard
FROM e a JOIN e b
  ON a.tok = b.tok AND a.id < b.id AND a.source = b.source
GROUP BY a.id, b.id, a.n, b.n
HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.62
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Jaccard near-dup pairs (robust to token
    reordering/typos vs token Jaccard), source-blocked. The trigram
    vocabulary is tiny, so the prefix filter degenerates (every pair
    shares a prefix gram) — the blocked bitmap all-pairs operator is the
    right plan here (see blocked_bitmap_jaccard_pairs for the adaptive
    fallback to prefix filtering on big vocabularies)."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    # raw (possibly duplicated) grams: the bitmap operator dedups via
    # bit_or, and its jaccard_pairs fallback array_distincts internally —
    # never pay array_distinct's quadratic string path here
    grams = F.expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
    )
    t = d.select("doc_id", "source", grams.alias("toks"))
    return blocked_bitmap_jaccard_pairs(
        t, id_col="doc_id", tokens_col="toks", block_col="source", threshold=0.62
    ).select("id_a", "id_b", "n_a", "n_b", "n_shared", "jaccard")


# Shared by q_dedup_clusters and q_cc_iterative (identical semantics;
# the two keys differ only in which connected-components branch runs)
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, toks, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bd a JOIN bd b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN t ta ON c.id_a = ta.id JOIN t tb ON c.id_b = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
), e AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach AS (
  -- transitive closure (UNION dedups, so it terminates)
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
)
SELECT t.id AS doc_id,
       least(t.id, coalesce(MIN(r.v), t.id)) AS cluster_id,
       least(t.id, coalesce(MIN(r.v), t.id)) = t.id AS is_canonical
FROM t LEFT JOIN reach r ON t.id = r.u
GROUP BY t.id
"""


@register(
    "q_dedup_clusters",
    family="llm-dedup",
    oracle=_CLUSTERS_ORACLE,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (the dedup deliverable): MinHash-LSH pairs at
    Jaccard >= 0.95 -> connected components -> every document labeled
    with its cluster's canonical (min) doc_id. The oracle re-derives the
    same clusters with a recursive-CTE transitive closure — feasible at
    oracle scale, while the Spark side is the iterative label-propagation
    loop that scales (operators/dedup.connected_components)."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    pairs = minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096,
    )
    return connected_components(
        d.select("doc_id"), pairs, id_col="doc_id"
    )


@register(
    "q_span_dedup",
    family="llm-dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - 7, 0) + 1),
                i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))) AS span_hash
  FROM t
)
SELECT span_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occ,
       MIN(doc_id) AS min_doc
FROM s
GROUP BY span_hash
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, span_hash ASC
LIMIT 100
""",
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated SPAN detection (the discovery stage of
    exact-substring dedup a la the dedup literature): every 8-token
    sliding window is hashed, and spans appearing in >= 2 distinct
    documents are ranked by spread — the granularity BETWEEN exact-doc
    dedup (L1) and chunk dedup (L42): boilerplate/quote spans shared
    across otherwise-distinct documents, which doc- and chunk-level
    hashing both miss.

    Scale shape: shingle fan-out is a narrow map (one md5 per window,
    no token-domain shuffle); ONE shuffle keyed on the span hash with
    map-side partial aggregation; the report is TakeOrderedAndProject
    under a total order (n_docs desc, n_occ desc, hash asc). At 100 TB
    the span-hash agg is the same shape as exact dedup — state per key
    is one row."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("ws"))
    # sequence(1, 0) descends in Spark — guard short docs explicitly
    spans = F.expr(
        "case when size(ws) >= 8 then transform(sequence(1, size(ws) - 7),"
        " i -> md5(concat_ws(' ', slice(ws, i, 8)))) else array() end"
    )
    s = t.select("doc_id", F.explode(spans).alias("span_hash"))
    return (
        s.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("min_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occ").desc(), F.col("span_hash").asc()
        )
        .limit(100)
    )


@register(
    "q_minhash_shingle",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                       i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS toks
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 5
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, toks, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bd a JOIN bd b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_a = ta.id JOIN t tb ON c.id_b = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.8
""",
)
def q_minhash_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over 5-WORD SHINGLES (the standard
    web-corpus dedup configuration — Gopher/RefinedWeb use word
    n-grams, not unigram token sets, because shingles encode word ORDER:
    two documents with the same vocabulary but different sentences stop
    colliding). Same 16-hash/2-band geometry and the same banded
    equi-join plan as q_dedup_minhash; only the set elements change.
    Docs under 5 words have no shingle and drop out (both engines)."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(ws) - 4),"
                " i -> concat_ws(' ', slice(ws, i, 5)))"
            ).alias("toks"),
        )
    )
    return minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.8,
        bitmap_vocab_limit=4096,
    )


@register(
    "q_cluster_size_histogram",
    family="llm-dedup",
    oracle=f"""
SELECT csize AS cluster_size, COUNT(*) AS n_clusters
FROM (
  SELECT cluster_id, COUNT(*) AS csize
  FROM ({_CLUSTERS_ORACLE})
  GROUP BY cluster_id
)
GROUP BY csize
""",
)
def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the dedup REPORT a pipeline
    owner reads before pulling the trigger: how much of the corpus sits
    in singletons vs mega-cliques decides both the space saved and the
    blast radius of a bad threshold. Two tiny aggs on top of the cluster
    labels (cluster-keyed count, then size-keyed count) — the heavy
    lifting is the same banded LSH + CC pipeline as q_dedup_clusters."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    pairs = minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096,
    )
    cc = connected_components(d.select("doc_id"), pairs, id_col="doc_id")
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


@register(
    "q_dedup_full",
    family="llm-dedup",
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, toks, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), kept AS (
  SELECT id, toks, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM bd
  ) WHERE bn <= 8
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
), npairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN t ta ON c.id_a = ta.id JOIN t tb ON c.id_b = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
), hstar AS (
  SELECT min_id AS id_a, doc_id AS id_b FROM (
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS min_id
    FROM documents
  ) WHERE doc_id <> min_id
), fstar AS (
  SELECT min_id AS id_a, id AS id_b FROM (
    SELECT id,
           MIN(id) OVER (
             PARTITION BY md5(array_to_string(list_sort(toks), ' '))) AS min_id
    FROM t
  ) WHERE id <> min_id
), alle AS (
  SELECT id_a, id_b FROM npairs
  UNION SELECT id_a, id_b FROM hstar
  UNION SELECT id_a, id_b FROM fstar
), e AS (
  SELECT id_a AS u, id_b AS v FROM alle UNION SELECT id_b, id_a FROM alle
), reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
)
SELECT t.id AS doc_id,
       least(t.id, coalesce(MIN(r.v), t.id)) AS cluster_id,
       least(t.id, coalesce(MIN(r.v), t.id)) = t.id AS is_canonical
FROM t LEFT JOIN reach r ON t.id = r.u
GROUP BY t.id
""",
)
def q_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE dedup pipeline as a 100 TB deployment composes it —
    three edge generators, each LINEAR where the naive form is quadratic,
    into ONE connected-components pass:

    1. exact duplicates: normalized-content-hash STAR edges (doc -> min
       doc of its hash group: B-1 edges for a B-copy clique, not B^2/2);
    2. Jaccard-1.0 duplicates: token-set FINGERPRINT star edges
       (md5 of the sorted distinct token set — docs with identical sets
       are exactly the maximal signature-colliding cliques that blow up
       LSH buckets, and J=1.0 >= any threshold makes star-linking them
       correct, not approximate);
    3. the 0.95 <= J < 1 tail: skew-guarded MinHash-LSH
       (band_bucket_cap=8, q_dedup_minhash_capped's geometry).

    Documented accuracy trade: pairs with 0.95 <= J < 1 whose ONLY band
    collisions happen inside over-full buckets are missed — the cap's
    residual loss after fingerprint stars absorb every J=1.0 clique.

    Scale evidence (sf1, .localdata, local[32]): the uncapped cluster
    pipeline costs ~117 s on a 21.5M-edge pair graph; this composition
    reduces the SAME corpus to ~17k star + capped-pair edges and runs
    end-to-end in ~6 s (measured round 5, BASELINE.md)."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    npairs = minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096, band_bucket_cap=8,
    ).select("id_a", "id_b")
    from pyspark.sql.window import Window as W

    grp = F.md5(F.lower(F.trim(F.col("text"))))
    star = (
        d.select("doc_id", grp.alias("_grp"))
        .withColumn("_root", F.min("doc_id").over(W.partitionBy("_grp")))
        .where(F.col("doc_id") != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("toks")))))
    fstar = (
        t.select("doc_id", fp.alias("_fp"))
        .withColumn("_root", F.min("doc_id").over(W.partitionBy("_fp")))
        .where(F.col("doc_id") != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    edges = npairs.unionByName(star).unionByName(fstar)
    return connected_components(d.select("doc_id"), edges, id_col="doc_id")


@register(
    "q_cc_iterative",
    family="llm-dedup",
    oracle=_CLUSTERS_ORACLE,
)
def q_cc_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_clusters' 100 TB branch under the official gate: the SAME
    MinHash-LSH pair graph, but with the driver union-find fast path
    disabled (driver_cc_limit=0) so the iterative min-label/path-halving
    loop — the branch that runs above the 2M-edge gate on dup-heavy
    corpora — is what actually executes. Result-identical to
    q_dedup_clusters by the two paths' shared min-id contract
    (differentially tested in tests/test_properties.py); registering both
    gives the iterative branch its own oracle-verified row instead of
    only toy-scale unit coverage."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    pairs = minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096,
    )
    return connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", driver_cc_limit=0
    )


@register(
    "q_neardup_eval",
    family="llm-dedup",
    oracle="""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
  WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5) = 0
), e AS (
  SELECT id, len(toks) AS n, unnest(toks) AS tok FROM t
), truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM e a JOIN e b ON a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id, a.n, b.n
  HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.8
), s AS (
  SELECT id, list_transform(range(0, 16),
           i -> list_min(list_transform(toks,
                  t -> ('0x'||substr(md5(t||'#'||i), 1, 15))::BIGINT))) AS sig
  FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3],
                        sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6],
                        sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bd a JOIN bd b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
), u AS (
  SELECT COALESCE(tr.id_a, c.id_a) AS id_a,
         CASE WHEN tr.id_a IS NULL THEN 0 ELSE 1 END AS in_truth,
         CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS in_cand
  FROM truth tr FULL OUTER JOIN cand c
    ON tr.id_a = c.id_a AND tr.id_b = c.id_b
)
SELECT CAST(SUM(in_truth) AS BIGINT) AS n_truth,
       CAST(SUM(in_cand) AS BIGINT) AS n_cand,
       CAST(SUM(in_truth * in_cand) AS BIGINT) AS n_tp,
       round(CAST(SUM(in_truth * in_cand) AS DOUBLE) / SUM(in_cand), 6)
         AS precision,
       round(CAST(SUM(in_truth * in_cand) AS DOUBLE) / SUM(in_truth), 6)
         AS recall
FROM u
""",
)
def q_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation: precision/recall of the RAW MinHash band
    candidates (16 hashes, 2 bands of 8 — q_dedup_minhash's geometry)
    against ground-truth token-Jaccard >= 0.8 pairs — the measurement a
    pipeline owner runs before trusting an LSH dedup config at scale
    (band geometry trades recall against candidate volume; this key
    makes the trade measurable in-engine).

    Scale shape: truth pairs come from the token-keyed self-join (never
    all-pairs); candidates from the banded equi-join; both pair sets
    are id-pair keyed for the full-outer overlap join, and the final
    metrics are one global agg. Precision/recall are single IEEE
    divisions of exact integer counts."""
    from cellbase_spark.operators.dedup import lsh_band_keys_fused

    # barrier below the sample filter (r16, guide §2): the filter and
    # the 2-column projection push through the repartition into the
    # parquet scan, so the checkpoint pins only the 20% sample's
    # (doc_id, text); the tokenize + 16-seed banding that previously ran
    # on the single scan split now start from the 32-way RDD scan.
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents")
        .where(
            F.expr(
                "pmod(cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10)"
                " as bigint), 5) = 0"
            )
        )
        .select("doc_id", "text")
    )
    # deterministic 20% hash sample: LSH quality is ESTIMATED on a
    # sample because the exact ground truth (token self-join) is
    # near-quadratic on dense-vocab corpora — the very cost LSH exists
    # to avoid. The sample is md5-bucketed (repartition-stable, same
    # rows in both engines); measured: full-corpus truth at sf0.1 costs
    # ~108 s, the 20% sample ~4 s, with the same geometry verdict.
    t = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    e = t.select("id", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
    a, b = e.alias("a"), e.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = shared.where(
        F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")) >= 0.8
    ).select("id_a", "id_b")
    banded = t.select(
        "id", F.posexplode(lsh_band_keys_fused("toks", 16, 2)).alias("bidx", "bkey")
    )
    ba, bb = banded.alias("ba"), banded.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.bidx") == F.col("bb.bidx"))
            & (F.col("ba.bkey") == F.col("bb.bkey"))
            & (F.col("ba.id") < F.col("bb.id")),
        )
        .select(F.col("ba.id").alias("id_a"), F.col("bb.id").alias("id_b"))
        .distinct()
    )
    u = truth.withColumn("in_truth", F.lit(1)).join(
        cand.withColumn("in_cand", F.lit(1)), ["id_a", "id_b"], "full_outer"
    ).select(
        F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
        F.coalesce(F.col("in_cand"), F.lit(0)).alias("in_cand"),
    )
    return u.agg(
        F.sum("in_truth").alias("n_truth"),
        F.sum("in_cand").alias("n_cand"),
        F.sum(F.col("in_truth") * F.col("in_cand")).alias("n_tp"),
        F.round(
            F.sum(F.col("in_truth") * F.col("in_cand")).cast("double")
            / F.sum("in_cand"),
            6,
        ).alias("precision"),
        F.round(
            F.sum(F.col("in_truth") * F.col("in_cand")).cast("double")
            / F.sum("in_truth"),
            6,
        ).alias("recall"),
    )


@register(
    "q_dedup_canonical",
    family="llm-dedup",
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, toks, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bd a JOIN bd b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN t ta ON c.id_a = ta.id JOIN t tb ON c.id_b = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
), e AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
), clusters AS (
  SELECT t.id AS doc_id,
         least(t.id, coalesce(MIN(r.v), t.id)) AS cluster_id
  FROM t LEFT JOIN reach r ON t.id = r.u
  GROUP BY t.id
), g AS (
  SELECT d.doc_id, d.n_chars, d.lang, d.source, c.cluster_id,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_id
           ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS grp_size
  FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
)
SELECT cluster_id, doc_id AS kept_doc_id, CAST(grp_size AS BIGINT) AS grp_size,
       n_chars, lang, source
FROM g
WHERE rk = 1 AND grp_size >= 2
""",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each NEAR-duplicate cluster
    (MinHash-LSH pairs at Jaccard >= 0.95 -> connected components), keep
    the single best representative — highest n_chars, doc_id tie-break —
    and report the group it represents. The 'which copy survives' step
    that follows any dedup pass: dedup without a canonical policy
    silently keeps an arbitrary partition-order-dependent row.

    Keyed on near-dup clusters (not the exact-dup content hash) so the
    oracle check is NON-vacuous: sf0.01 has zero exact-duplicate groups
    but 447 near-dup pairs, so real groups flow through the policy at
    gate scale. The pure-policy window is additionally unit-tested on
    hand-built duplicate groups (tests/test_dedup.py).

    Scale shape: the cluster labels come from the banded-LSH pair join +
    connected components (never all-pairs); selection is ONE
    cluster-keyed window pass (rank + group size over the same
    partitioning — no second shuffle), filter to winners of multi-doc
    groups. Deterministic: the policy is a total order
    (n_chars desc, doc_id asc)."""
    from pyspark.sql.window import Window as W

    doc = load_table(spark, sf_dir, "documents")
    d = fan_out_barrier(doc.select("doc_id", "text"))
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    pairs = minhash_lsh_pairs(
        t, id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096,
    )
    clusters = connected_components(
        d.select("doc_id"), pairs, id_col="doc_id"
    ).select("doc_id", "cluster_id")
    # metadata comes from a second PRUNED scan of the table (no text),
    # not through the barrier: the checkpoint pins only (doc_id, text)
    # for the tokenize, and the metadata join reads 4 light columns
    g = doc.select("doc_id", "n_chars", "lang", "source").join(
        clusters, "doc_id"
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = g.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("cluster_id")).alias("grp_size"),
    )
    return (
        ranked.where((F.col("rk") == 1) & (F.col("grp_size") >= 2))
        .select("cluster_id", F.col("doc_id").alias("kept_doc_id"), "grp_size",
                "n_chars", "lang", "source")
    )


@register(
    "q_source_overlap",
    family="llm-dedup",
    oracle="""
WITH t AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
), s AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, greatest(len(ws) - 7, 0) + 1),
                i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))) AS h
  FROM t
), ps AS (
  SELECT source, COUNT(*) AS n FROM s GROUP BY source
), ov AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM s a JOIN s b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT o.src_a, o.src_b, o.n_shared, pa.n AS n_a, pb.n AS n_b,
       round(o.n_shared / CAST(pa.n + pb.n - o.n_shared AS DOUBLE), 6) AS jaccard
FROM ov o
JOIN ps pa ON o.src_a = pa.source
JOIN ps pb ON o.src_b = pb.source
""",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-mass matrix: for every pair of sources, how
    many distinct 8-token spans they share, plus span-set Jaccard — the
    planning statistic a corpus owner reads BEFORE running dedup (which
    source pairs mirror each other; where cross-source exact-substring
    dedup will bite; which acquisitions add nothing new).

    Scale shape: spans are a narrow map; ONE shuffle on (span, source)
    for the distinct, then ONE shuffle on the span hash whose per-key
    state is the distinct-source set — bounded by the number of SOURCES
    (tens), never by document count, so a span shared by millions of
    docs still reduces to one bounded row (vs the naive hash self-join,
    whose hot spans explode quadratically). Pair fan-out happens AFTER
    that reduction, emitting at most C(n_sources, 2) rows per span. The
    per-source span totals are collected once — bounded by the SOURCE
    dimension, one row per source, the sanctioned bounded-collect
    pattern — and folded in as a literal map, so the corpus is scanned
    exactly twice (totals job + pairs job) instead of once per join
    branch."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("source", "text")
    )
    t = d.select("source", F.split("text", " ").alias("ws"))
    spans = F.expr(
        "case when size(ws) >= 8 then transform(sequence(1, size(ws) - 7),"
        " i -> md5(concat_ws(' ', slice(ws, i, 8)))) else array() end"
    )
    hs = t.select("source", F.explode(spans).alias("h")).distinct()
    per_src = {
        r["source"]: r["n"]
        for r in hs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # empty corpus / all-short docs: create_map() with no args types as
    # map<void,void> and the string lookup fails analysis — use a typed
    # empty map instead (found by the duplicate-doc hypothesis law)
    n_of = (
        F.create_map(*[F.lit(x) for s, n in sorted(per_src.items()) for x in (s, n)])
        if per_src
        else F.expr("cast(map() as map<string,bigint>)")
    )
    pair_expr = (
        "flatten(transform(ss, (x, i) ->"
        " transform(slice(ss, i + 2, size(ss)),"
        " y -> struct(x AS src_a, y AS src_b))))"
    )
    return (
        hs.groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "src_a",
            "src_b",
            "n_shared",
            n_of[F.col("src_a")].cast("long").alias("n_a"),
            n_of[F.col("src_b")].cast("long").alias("n_b"),
            F.round(
                F.col("n_shared")
                / (
                    n_of[F.col("src_a")] + n_of[F.col("src_b")] - F.col("n_shared")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _corpus_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize (once per process+sf) the corpus's MinHash band table
    — the persisted index an incremental-dedup deployment maintains: one
    (doc_id, band_idx, band_key) parquet row per corpus doc per band.
    Returns a READER of the parquet, so downstream plans scan the band
    table, never recompute corpus signatures."""
    import os

    from cellbase_spark.operators.dedup import lsh_band_keys_fused

    out = scratch_path(sf_dir, "bandtable", "corpus_bands")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        corpus = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % 10 != 0
        )
        t = corpus.select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(F.split("text", " ")).alias("_toks"),
        )
        (
            t.select(
                "_id",
                F.posexplode(lsh_band_keys_fused("_toks", 16, 2)).alias(
                    "_bidx", "_bkey"
                ),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
    return spark.read.parquet(out)


@register(
    "q_dedup_incremental",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM bd a JOIN bd b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0 AND b.id % 10 <> 0
)
SELECT c.id_new, c.id_corpus,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch-vs-corpus) near-dup detection — the verb a
    100 TB pipeline runs DAILY (VERDICT r5 item 5): instead of
    re-clustering the whole corpus, the new batch's MinHash bands
    (doc_id % 10 == 0 plays the arriving batch) probe the PERSISTED
    corpus band table (built once by _corpus_band_table, maintained by
    appending each processed batch's bands in deployment). Work scales
    with |batch| x bands, not |corpus|:

    - probe side: one scan of the batch, band keys computed on the fly
      (map-only), equi-join on (band_idx, band_key) against the band
      table — a shuffle of batch-bands + matching band-table partitions,
      never a corpus text rescan;
    - verify side: candidate (id_new, id_corpus) pairs fetch token sets
      by id-join (point-ish lookups into documents), exact Jaccard
      >= 0.95 — same verification contract as q_dedup_minhash.

    Oracle: the full-corpus LSH pair set RESTRICTED to batch x corpus
    pairs — identical band keys are deterministic md5 math in both
    engines, so incremental probing must find exactly those pairs.
    Plan pin (tests/test_plans.py): exactly ONE Generate (the batch
    probe's posexplode — corpus bands are NEVER recomputed, they come
    from the band-table parquet scan), and the only documents scans are
    the batch probe plus the two id-keyed verify fetches."""
    from cellbase_spark.operators.dedup import incremental_dedup_pairs

    band_tab = _corpus_band_table(spark, sf_dir)
    # shared-tokenize barrier (r16, guide §2 — see q_dedup_band_delete):
    # one 32-way checkpoint of (doc_id, text) feeds the batch bands and
    # both verify fetch sides; without it the broadcast-build tokenize
    # runs on the raw scan's 1-2 splits
    docs = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.split("text", " ")).alias("_toks"),
    )
    return incremental_dedup_pairs(
        batch=t.where(F.col("_id") % 10 == 0),
        corpus_bands=band_tab,
        corpus_tokens=t,
        id_col="_id",
        tokens_col="_toks",
        n_hashes=16,
        bands=2,
        threshold=0.95,
    )


@register(
    "q_dedup_band_update",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS band_idx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), bs AS (
  SELECT band_idx, bkey, COUNT(*) AS c FROM bd GROUP BY band_idx, bkey
)
SELECT bd.band_idx,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT bd.bkey) AS n_keys,
       COUNT(DISTINCT bd.id) AS n_docs,
       (SELECT MAX(c) FROM bs WHERE bs.band_idx = bd.band_idx) AS max_bucket
FROM bd
GROUP BY bd.band_idx
""",
)
def q_dedup_band_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-table ROLL-FORWARD — the write/maintenance side of the
    incremental-dedup daily loop (q_dedup_incremental is the read side):
    after the arriving batch (doc_id % 10 == 0) has been probed, its
    bands are appended to the persisted corpus band table so TOMORROW's
    batch probes today's corpus+batch. The update writes a NEW table
    generation (bandtable_next) rather than appending in place — the
    previous generation stays immutable for readers mid-probe (the
    swap is an atomic pointer flip in a real deployment), and
    q_dedup_incremental's corpus-only table is never contaminated
    within this process.

    Work: batch bands are the same map-only computation the probe used
    (ONE batch scan, never a corpus rescan — the corpus side is a
    parquet scan of the existing band table), one union write, then a
    2-group stats aggregate over the new generation: per band_idx the
    row count, distinct band keys, distinct docs, and the largest
    bucket (the LSH skew statistic the capped-dedup path keys off).

    Oracle: the SAME stats computed from scratch over ALL documents —
    the rolled-forward table must be indistinguishable from a full
    rebuild, band for band."""
    import os

    from cellbase_spark.operators.dedup import lsh_band_keys_fused

    band_tab = _corpus_band_table(spark, sf_dir)
    out = scratch_path(sf_dir, "bandtable_next", "corpus_bands")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        batch = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % 10 == 0
        )
        bt = batch.select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(F.split("text", " ")).alias("_toks"),
        )
        batch_bands = bt.select(
            "_id",
            F.posexplode(lsh_band_keys_fused("_toks", 16, 2)).alias(
                "_bidx", "_bkey"
            ),
        )
        band_tab.unionByName(batch_bands).write.mode("overwrite").parquet(out)
    nxt = spark.read.parquet(out)
    bucket_sizes = nxt.groupBy("_bidx", "_bkey").agg(F.count(F.lit(1)).alias("c"))
    maxb = bucket_sizes.groupBy("_bidx").agg(F.max("c").alias("max_bucket"))
    stats = nxt.groupBy("_bidx").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("_bkey").alias("n_keys"),
        F.countDistinct("_id").alias("n_docs"),
    )
    return (
        stats.join(maxb, "_bidx")
        .select(
            F.col("_bidx").alias("band_idx"),
            "n_rows",
            "n_keys",
            "n_docs",
            "max_bucket",
        )
    )


@register(
    "q_dedup_incremental_capped",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), kept AS (
  SELECT id, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM bd
  ) WHERE bn <= 8
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM kept a JOIN kept b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0 AND b.id % 10 <> 0
)
SELECT c.id_new, c.id_corpus,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
""",
)
def q_dedup_incremental_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_incremental's DEPLOYMENT form — the same band-table probe
    with the q_dedup_minhash_capped skew guard: buckets holding more
    than 8 docs (corpus + batch combined) are excluded from candidate
    generation. On a dup-dense corpus the faithful all-pairs probe is
    quadratic-in-the-clique (measured at sf1: 3.84M pairs, 65 s —
    MORE than re-clustering the corpus outright); over-full buckets are
    mega-cliques whose members belong to the exact-hash path, and
    capping returns the probe to O(batch x bands). The bucket count is
    a window over the union of the persisted corpus band table and the
    batch's map-only bands — keyed on exactly the (band, key) columns
    the candidate join shuffles on, so the count and the join ride one
    partitioning. Deterministic: the cap is a pure count filter, so
    both engines keep exactly the same buckets."""
    from cellbase_spark.operators.dedup import incremental_dedup_pairs

    band_tab = _corpus_band_table(spark, sf_dir)
    # shared-tokenize barrier (r16, guide §2 — see q_dedup_band_delete):
    # one 32-way checkpoint of (doc_id, text) feeds the batch bands and
    # both verify fetch sides; without it the broadcast-build tokenize
    # runs on the raw scan's 1-2 splits
    docs = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.split("text", " ")).alias("_toks"),
    )
    return incremental_dedup_pairs(
        batch=t.where(F.col("_id") % 10 == 0),
        corpus_bands=band_tab,
        corpus_tokens=t,
        id_col="_id",
        tokens_col="_toks",
        n_hashes=16,
        bands=2,
        threshold=0.95,
        band_bucket_cap=8,
    )


def _corpus_fp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize (once per process+sf) the corpus token-set
    FINGERPRINT star: one (fp, canon_id) row per distinct token set,
    canon_id = MIN doc_id sharing it. The exact-dup side of the
    incremental daily loop probes this instead of pairwise-verifying
    mega-cliques — O(1) rows per batch doc regardless of clique size."""
    import os

    out = scratch_path(sf_dir, "fptable", "corpus_fps")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        corpus = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % 10 != 0
        )
        (
            corpus.select(
                "doc_id",
                F.md5(
                    F.concat_ws(
                        " ", F.array_sort(F.array_distinct(F.split("text", " ")))
                    )
                ).alias("fp"),
            )
            .groupBy("fp")
            .agg(F.min("doc_id").alias("canon_id"))
            .write.mode("overwrite")
            .parquet(out)
        )
    return spark.read.parquet(out)


@register(
    "q_dedup_incremental_full",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), f AS (
  SELECT id, md5(array_to_string(list_sort(toks), ' ')) AS fp FROM t
), cf AS (
  SELECT fp, MIN(id) AS canon FROM f WHERE id % 10 <> 0 GROUP BY fp
), exact AS (
  SELECT f.id AS id_new, cf.canon AS id_corpus, CAST(1.0 AS DOUBLE) AS jaccard
  FROM f JOIN cf ON f.fp = cf.fp
  WHERE f.id % 10 = 0
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), kept AS (
  SELECT id, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM bd
  ) WHERE bn <= 8
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM kept a JOIN kept b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0 AND b.id % 10 <> 0
), tail AS (
  SELECT c.id_new, c.id_corpus,
         len(list_intersect(ta.toks, tb.toks))
           / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
  FROM cand c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
)
SELECT DISTINCT id_new, id_corpus, jaccard
FROM (SELECT * FROM exact UNION ALL SELECT * FROM tail)
""",
)
def q_dedup_incremental_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE incremental daily verb — q_dedup_full's composition
    applied to the new-batch-vs-corpus probe, with bounded output:

    - EXACT star: each batch doc joins the persisted corpus fingerprint
      table (token-set md5 -> canonical MIN corpus id) — a mega-clique
      of any size costs ONE row per batch doc (jaccard exactly 1.0),
      never a pairwise verification;
    - CAPPED LSH tail: the q_dedup_incremental_capped probe picks up
      genuine near-dups (0.95 <= J < 1) from small band buckets;
    - DISTINCT union: a J=1.0 pair surviving in a small bucket appears
      in both branches with identical values and collapses.

    Work: O(batch) fingerprints + O(batch x bands) capped probe; output
    O(batch + tail). This is what a 100 TB pipeline actually runs daily
    — the faithful all-pairs key (q_dedup_incremental) documents the
    semantics, this key has the deployment cost envelope."""
    from cellbase_spark.operators.dedup import incremental_dedup_pairs

    band_tab = _corpus_band_table(spark, sf_dir)
    fp_tab = _corpus_fp_table(spark, sf_dir)
    # shared-tokenize barrier (r16, guide §2 — see q_dedup_band_delete):
    # one 32-way checkpoint of (doc_id, text) feeds the batch bands and
    # both verify fetch sides; without it the broadcast-build tokenize
    # runs on the raw scan's 1-2 splits
    docs = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.split("text", " ")).alias("_toks"),
    )
    return incremental_dedup_pairs(
        batch=t.where(F.col("_id") % 10 == 0),
        corpus_bands=band_tab,
        corpus_tokens=t,
        id_col="_id",
        tokens_col="_toks",
        n_hashes=16,
        bands=2,
        threshold=0.95,
        band_bucket_cap=8,
        corpus_fps=fp_tab,
    )


def _generation_probe(spark: SparkSession, sf_dir: str, day: int) -> DataFrame:
    """One day of the multi-generation incremental-dedup loop (VERDICT
    r6 item 5) — the REAL artifact chain, not a simulation of it:

    - generation 1: band table over the base corpus
      (doc_id % 10 NOT IN (0, 5)), written once;
    - day 1: batch1 (doc_id % 10 == 5) probes generation 1 (capped);
    - roll-forward: generation 2 = generation-1 FILES + batch1 bands,
      written to a NEW immutable directory (never append-in-place —
      readers mid-probe keep a consistent gen-1 view), then COMPACTED
      with the q_compact_files plan (narrow coalesce, no shuffle);
    - day 2: batch2 (doc_id % 10 == 0) probes the COMPACTED
      generation 2 — so day 2's corpus is base + day-1 batch, exactly
      what a daily pipeline sees tomorrow.

    The plan pin (tests/test_plans.py) asserts day 2's corpus side scans
    generation-2 files ONLY (no gen-1 path, no corpus text rescan)."""
    import math
    import os

    from cellbase_spark.operators.dedup import (
        incremental_dedup_pairs,
        lsh_band_keys_fused,
    )

    # shared-tokenize barrier (r16, guide §2 — see q_dedup_band_delete):
    # one 32-way checkpoint of (doc_id, text) feeds the batch bands and
    # both verify fetch sides; without it the broadcast-build tokenize
    # runs on the raw scan's 1-2 splits
    docs = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.split("text", " ")).alias("_toks"),
    )
    batch1 = t.where(F.col("_id") % 10 == 5)
    gen1 = scratch_path(sf_dir, "gens", "gen1")
    if not os.path.exists(os.path.join(gen1, "_SUCCESS")):
        corpus = t.where(~(F.col("_id") % 10).isin(0, 5))
        (
            corpus.select(
                "_id",
                F.posexplode(lsh_band_keys_fused("_toks", 16, 2)).alias(
                    "_bidx", "_bkey"
                ),
            )
            .write.mode("overwrite")
            .parquet(gen1)
        )
    if day == 1:
        return incremental_dedup_pairs(
            batch=batch1,
            corpus_bands=spark.read.parquet(gen1),
            corpus_tokens=t,
            id_col="_id",
            tokens_col="_toks",
            n_hashes=16,
            bands=2,
            threshold=0.95,
            band_bucket_cap=8,
        )
    # -- roll-forward: gen2 = gen1 files + batch1 bands (new directory)
    gen2_raw = scratch_path(sf_dir, "gens", "gen2_raw")
    if not os.path.exists(os.path.join(gen2_raw, "_SUCCESS")):
        batch1_bands = batch1.select(
            "_id",
            F.posexplode(lsh_band_keys_fused("_toks", 16, 2)).alias(
                "_bidx", "_bkey"
            ),
        )
        (
            spark.read.parquet(gen1)
            .unionByName(batch1_bands)
            .write.mode("overwrite")
            .parquet(gen2_raw)
        )
    # -- compaction: the generation write above leaves one file per
    #    upstream task; coalesce (narrow, no shuffle) to ~128 MB files
    #    so tomorrow's probe pays one open per 128 MB, not per task.
    gen2 = scratch_path(sf_dir, "gens", "gen2_compacted")
    if not os.path.exists(os.path.join(gen2, "_SUCCESS")):
        n_bytes = sum(
            os.path.getsize(os.path.join(gen2_raw, f))
            for f in os.listdir(gen2_raw)
            if f.endswith(".parquet")
        )
        target = max(1, math.ceil(n_bytes / (128 * 1024 * 1024)))
        spark.read.parquet(gen2_raw).coalesce(target).write.mode(
            "overwrite"
        ).parquet(gen2)
    return incremental_dedup_pairs(
        batch=t.where(F.col("_id") % 10 == 0),
        corpus_bands=spark.read.parquet(gen2),
        corpus_tokens=t,
        id_col="_id",
        tokens_col="_toks",
        n_hashes=16,
        bands=2,
        threshold=0.95,
        band_bucket_cap=8,
    )


@register(
    "q_dedup_generations",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), k1 AS (
  SELECT id, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn
    FROM bd WHERE id % 10 <> 0
  ) WHERE bn <= 8
), c1 AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM k1 a JOIN k1 b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 5 AND b.id % 10 NOT IN (0, 5)
), k2 AS (
  SELECT id, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM bd
  ) WHERE bn <= 8
), c2 AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM k2 a JOIN k2 b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0 AND b.id % 10 <> 0
), p1 AS (
  SELECT 1 AS day, c.id_new, c.id_corpus,
         len(list_intersect(ta.toks, tb.toks))
           / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
  FROM c1 c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
), p2 AS (
  SELECT 2 AS day, c.id_new, c.id_corpus,
         len(list_intersect(ta.toks, tb.toks))
           / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
  FROM c2 c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
)
SELECT * FROM p1 UNION ALL SELECT * FROM p2
""",
)
def q_dedup_generations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO simulated days through the REAL incremental-dedup artifact
    chain — day-1 probe -> band-table roll-forward (new immutable
    generation) -> compaction -> day-2 probe against the NEW generation
    (VERDICT r6 item 5: the verbs existed separately, this key proves
    the COMPOSITION across generations).

    Oracle: a from-scratch rebuild after both days — day 1 is the
    capped batch1-vs-gen1 pair set (cap population = gen1 + batch1),
    day 2 is capped batch2-vs-gen2 (cap population = everything). If
    roll-forward or compaction lost or duplicated a single band row,
    day-2 candidates (and hence the day-tagged pair set) would diverge.

    Scale shape: each day is O(batch x bands) probe work; the
    roll-forward is one band-table read + batch-bands append; the
    compaction is a narrow coalesce. Nothing rescans corpus text."""
    d1 = _generation_probe(spark, sf_dir, 1).select(
        F.lit(1).alias("day"), "id_new", "id_corpus", "jaccard"
    )
    d2 = _generation_probe(spark, sf_dir, 2).select(
        F.lit(2).alias("day"), "id_new", "id_corpus", "jaccard"
    )
    return d1.unionByName(d2)


@register(
    "q_span_runs",
    family="llm-dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(ws, CAST(i AS INTEGER),
                                        CAST(i AS INTEGER) + 7), ' ')) AS h
  FROM (SELECT doc_id, ws,
               unnest(range(1, greatest(len(ws) - 7, 0) + 1)) AS i
        FROM t)
), dup AS (
  SELECT h FROM s GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), dpos AS (
  SELECT s.doc_id, s.pos FROM s JOIN dup ON s.h = dup.h
), isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dpos
), runs AS (
  SELECT doc_id, grp, COUNT(*) AS run FROM isl GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(SUM(run) AS BIGINT) AS n_dup_windows,
       CAST(MAX(run) + 7 AS BIGINT) AS max_dup_span_tokens
FROM runs GROUP BY doc_id
""",
)
def q_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-SPAN length per document (the measurement stage
    of exact-substring dedup a la the dedup literature): q_span_dedup
    finds which 8-token windows are shared across documents; this key
    stitches CONSECUTIVE duplicated window positions back into maximal
    runs (gaps-and-islands: pos - row_number() is constant within a
    run) and reports, per affected document, the duplicated-window
    count and the longest contiguous duplicated span in tokens
    (run + 7) — the number a pipeline thresholds to cut documents that
    are mostly boilerplate vs ones with one quoted sentence.

    Scale shape: same narrow window fan-out and span-hash agg as
    q_span_dedup (state per key = one row); the dup-set join is
    hash-keyed (semi-join shape); the islands window sort is per-doc
    (bounded by document length, never corpus-wide). At 100 TB every
    shuffle is keyed on span_hash or doc_id — no self-join, no
    token-domain blowup."""
    from pyspark.sql import Window

    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("ws"))
    s = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "case when size(ws) >= 8 then transform(sequence(1, size(ws) - 7),"
                    " i -> struct(cast(i as bigint) AS pos,"
                    " md5(concat_ws(' ', slice(ws, i, 8))) AS h))"
                    " else array() end"
                )
            ).alias("z"),
        )
        .select("doc_id", "z.pos", "z.h")
    )
    dup = (
        s.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    dpos = s.join(dup, "h").select("doc_id", "pos")
    isl = dpos.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    runs = isl.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run"))
    return runs.groupBy("doc_id").agg(
        F.sum("run").alias("n_dup_windows"),
        (F.max("run") + F.lit(7)).alias("max_dup_span_tokens"),
    )


def _ensure_band_tombstones(spark: SparkSession, sf_dir: str) -> str:
    """Tombstone (once per process+sf) the corpus docs with
    doc_id % 7 == 2 against the persisted band table — the dedup-index
    takedown (operators.dedup.delete_from_dedup_index). Returns the
    band-table DIRECTORY (the tombstones live at its conventional
    sibling path). The side-table is O(|takedown|); no band file is
    touched."""
    from cellbase_spark.operators.dedup import (
        delete_from_dedup_index,
        read_dedup_tombstones,
    )

    _corpus_band_table(spark, sf_dir)  # materialize the index first
    band_dir = scratch_path(sf_dir, "bandtable", "corpus_bands")
    if read_dedup_tombstones(spark, band_dir) is None:
        doomed = (
            load_table(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 7 == 2))
            .select("doc_id")
        )
        delete_from_dedup_index(spark, band_dir, doomed)
    return band_dir


@register(
    "q_dedup_band_delete",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM bd a JOIN bd b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0 AND b.id % 10 <> 0
   AND b.id % 7 <> 2
)
SELECT c.id_new, c.id_corpus,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
""",
)
def q_dedup_band_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index DELETE (r10 VERDICT task #2, band-table half): the
    takedown ids (corpus docs with doc_id % 7 == 2) are tombstoned by
    delete_from_dedup_index — an O(|takedown|) side-table append next
    to the persisted band table — and today's batch probe
    (q_dedup_incremental's exact chain) excludes them via the
    corpus-side broadcast anti-join BEFORE candidate generation, so a
    deleted doc costs no verify work either. The oracle is the
    incremental pair set REBUILT WITHOUT the deleted corpus docs: a
    tombstone that leaked one deleted doc into a candidate pair, or
    dropped a surviving doc's pair, hash-fails. The physical drop
    (compact_dedup_bands excluding tombstoned rows and clearing the
    side-table) is pinned in tests/test_operators.py — probing the
    compacted generation with no tombstones at all must return this
    same frame."""
    from cellbase_spark.operators.dedup import (
        incremental_dedup_pairs,
        read_dedup_tombstones,
    )

    band_dir = _ensure_band_tombstones(spark, sf_dir)
    # barrier the shared tokenize feeding BOTH probe sides (r16, guide
    # §2): profiled, the verify stage (tokenize + array_intersect over
    # the candidate fetches) ran on the raw documents scan's 2 splits —
    # 6.8 CPU-s on 2 tasks with 30 cores idle — because the broadcast
    # verify join streams the scan side. One 32-way checkpoint of
    # (doc_id, text) feeds batch bands AND both verify fetches. (The r15
    # revert in incremental_dedup_pairs concerned per-side barriers
    # inside the operator; this is one shared barrier above it.)
    docs = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.split("text", " ")).alias("_toks"),
    )
    return incremental_dedup_pairs(
        batch=t.where(F.col("_id") % 10 == 0),
        corpus_bands=spark.read.parquet(band_dir),
        corpus_tokens=t,
        id_col="_id",
        tokens_col="_toks",
        n_hashes=16,
        bands=2,
        threshold=0.95,
        corpus_tombstones=read_dedup_tombstones(spark, band_dir),
    )


# ---- cross-session attach (round 14) — the FOURTH artifact family: the
# persisted corpus band table served to a foreign session -----------------


_BAND_INGEST_SCRIPT = """
import sys
sf_dir, home = sys.argv[1], sys.argv[2]
from cellbase_spark.session import get_spark
spark = get_spark("cellbase-ingest-bands", extra_conf={"spark.sql.shuffle.partitions": "8"})
spark.sparkContext.setLogLevel("ERROR")
from pyspark.sql import functions as F
from cellbase_spark.io import load_table
from cellbase_spark.operators.dedup import lsh_band_keys_fused
from cellbase_spark.operators.publish import (
    publish_artifact_dir,
    publish_dir_pointer,
)

corpus = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 != 0)
bands = corpus.select(
    F.col("doc_id").alias("_id"),
    F.array_distinct(F.split("text", " ")).alias("_toks"),
).select(
    "_id",
    F.posexplode(lsh_band_keys_fused("_toks", 16, 2)).alias("_bidx", "_bkey"),
)
publish_artifact_dir(lambda tmp: bands.write.mode("overwrite").parquet(tmp), home)
publish_dir_pointer(home)
spark.stop()
"""


def _corpus_band_table_attached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-session twin of _corpus_band_table: the corpus band table
    as a DURABLE published generation (path face) built by a
    separate-process ingest — a serving session resolves the pointer,
    validates completeness, and scans the parquet; corpus text is never
    rescanned, in ANY session."""
    import os as _os

    from cellbase_spark.io import durable_path, source_signature
    from cellbase_spark.operators.publish import (
        attached_dir,
        foreign_ingest,
        pointer_path,
    )

    sig = source_signature(sf_dir, "documents")
    home = durable_path(sf_dir, sig, "bandtable_corpus")
    if not _os.path.exists(pointer_path(home)):
        foreign_ingest(home, _BAND_INGEST_SCRIPT, [sf_dir, home])
    return spark.read.parquet(attached_dir(home))


@register(
    "q_dedup_incremental_attach",
    family="llm-dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM bd a JOIN bd b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0 AND b.id % 10 <> 0
)
SELECT c.id_new, c.id_corpus,
       len(list_intersect(ta.toks, tb.toks))
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) AS jaccard
FROM cand c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
WHERE len(list_intersect(ta.toks, tb.toks))
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
""",
)
def q_dedup_incremental_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup probe against an ATTACHED corpus band table
    built by a DIFFERENT process — the cross-session attach mechanism
    applied to the FOURTH (and last) persisted-artifact family the r13
    verdict named: band tables were (process, sf)-keyed, so a fresh
    daily-probe session re-banded the whole corpus before its first
    batch. The durable generation is published once per (sf, source
    signature) by a separate ingest interpreter (atomic dir publish +
    pointer); this session's work is ONE batch scan (map-only band
    keys) + the band equi-join + id-keyed verify fetches — identical
    probe shape and oracle to q_dedup_incremental, so attach must lose
    nothing."""
    from cellbase_spark.operators.dedup import incremental_dedup_pairs

    band_tab = _corpus_band_table_attached(spark, sf_dir)
    # shared-tokenize barrier (r16, guide §2 — see q_dedup_band_delete):
    # one 32-way checkpoint of (doc_id, text) feeds the batch bands and
    # both verify fetch sides; without it the broadcast-build tokenize
    # runs on the raw scan's 1-2 splits
    docs = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = docs.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.split("text", " ")).alias("_toks"),
    )
    return incremental_dedup_pairs(
        batch=t.where(F.col("_id") % 10 == 0),
        corpus_bands=band_tab,
        corpus_tokens=t,
        id_col="_id",
        tokens_col="_toks",
        n_hashes=16,
        bands=2,
        threshold=0.95,
    )
