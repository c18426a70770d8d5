"""Similarity-search queries over the embeddings table (SURVEY.md §2.8
L4/L5/L9 + IVF-bucketed ANN and embedding near-dup).

Vector math is higher-order-function algebra (codegen'd JVM loops); the
deterministic query vector / centroids are integer-formula-derived so the
DuckDB oracle re-derives them exactly (operators/similarity.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cellbase_spark.io import (
    fan_out_barrier,
    load_table,
    scratch_path,
    scratch_table,
)
from cellbase_spark.operators.similarity import (
    cosine_expr,
    cosine_topk,
    dot_expr,
    ivf_assign,
    knn_join,
    knn_join_dense,
    knn_join_dense_sub,
    knn_join_smj,
    lsh_bucket_expr,
    norm_expr,
    qvec_expr,
)
from cellbase_spark.registry import register

# DuckDB fragments mirroring operators/similarity.py exactly
_QV = "list_transform(range(1, 65), i -> ((i * 37) % 101) / CAST(101 AS DOUBLE))"


def _dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, 65),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _sq_dist(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, 65),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


_COS_Q = f"({_dot('embedding', 'qv')} / (sqrt({_dot('embedding', 'embedding')}) * sqrt({_dot('qv', 'qv')})))"


@register(
    "q_sim_topk",
    family="llm-sim",
    oracle=f"""
WITH q AS (SELECT {_QV} AS qv)
SELECT vec_id, round({_COS_Q}, 6) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id ASC
LIMIT 20
""",
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 against the deterministic query vector:
    one scan + TakeOrderedAndProject (per-partition heaps), no shuffle —
    the correct exact-search baseline at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(e, k=20)


@register(
    "q_knn_join",
    family="llm-sim",
    oracle=f"""
SELECT a_id, b_id, bkt, dist2, rk FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS bkt,
         round({_sq_dist('a.embedding', 'b.embedding')}, 6) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_sq_dist('a.embedding', 'b.embedding')}, 6) ASC,
                                     b.vec_id ASC) AS rk
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
) WHERE rk <= 3
""",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-NN join within each label bucket (squared euclidean). Bucketing
    is the scale pattern: pairs form only inside a label's partition, so
    the shuffle is bucket-sized, never the global cross product. Runs on
    the sub-bucketed Arrow dense kernel (knn_join_dense_sub): probe rows
    sliced by id-hash with a replicated build side, so a worker holds an
    (n_b/n_sub, n_b) block instead of the full (n_b, n_b) matrix — the
    bounded-memory form of the sanctioned pandas-UDF dense-linear-algebra
    exception. The per-dimension accumulation's IEEE fold order stays
    bit-identical to the SQL aggregate() the oracle replays."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_join_dense_sub(e, k=3).select("a_id", "b_id", "bkt", "dist2", "rk")


@register(
    "q_knn_join_smj",
    family="llm-sim",
    oracle=f"""
SELECT a_id, b_id, bkt, dist2, rk FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS bkt,
         round({_sq_dist('a.embedding', 'b.embedding')}, 6) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_sq_dist('a.embedding', 'b.embedding')}, 6) ASC,
                                     b.vec_id ASC) AS rk
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
) WHERE rk <= 3
""",
)
def q_knn_join_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_knn_join's no-broadcast form: both sides shuffle on the bucket
    key into a sort-merge pair join whose match buffer spills to disk —
    the shape for buckets (or tables) too big for any broadcast. Same
    scoring fold, same ranking window, same oracle as q_knn_join."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_join_smj(e, k=3).select("a_id", "b_id", "bkt", "dist2", "rk")


@register(
    "q_embed_neardup",
    family="llm-sim",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       round({_dot('a.embedding', 'b.embedding')}
             / (sqrt({_dot('a.embedding', 'a.embedding')})
                * sqrt({_dot('b.embedding', 'b.embedding')})), 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_dot('a.embedding', 'b.embedding')}
            / (sqrt({_dot('a.embedding', 'a.embedding')})
               * sqrt({_dot('b.embedding', 'b.embedding')})), 6) >= 0.25
""",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.25) within label
    buckets — semantic dedup for training corpora."""
    from cellbase_spark.io import fan_out
    from cellbase_spark.operators.similarity import dot_expr

    e = load_table(spark, sf_dir, "embeddings")
    # Precompute each row's norm once (identical fold expression => the
    # bit-identical value the per-pair form would produce) instead of
    # re-deriving both norms inside every pair: 2 folds per row + 1 per
    # pair, versus 3 per pair. Probe side fanned out for map parallelism.
    # No forced broadcast: the build side is the FULL table (unbounded at
    # corpus scale) — size-based planning broadcasts it while it fits and
    # shuffles on label past that; AQE skew-split covers hot labels.
    a = fan_out(e, ["vec_id"]).select(
        F.col("vec_id").alias("id_a"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        F.expr(norm_expr("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label"),
        F.col("embedding").alias("eb"),
        F.expr(norm_expr("embedding")).alias("nb"),
    )
    cos = F.round(F.expr(dot_expr("ea", "eb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, ["label"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= 0.25)
        .select("id_a", "id_b", "label", "cos_sim")
    )


@register(
    "q_ann_ivf",
    family="llm-sim",
    oracle=f"""
WITH cfg AS (SELECT {_QV} AS qv),
a AS (
  SELECT vec_id, embedding, qv,
         list_reduce(list_transform(range(0, 8), j -> {{'d': round(
             list_reduce(list_transform(range(1, 65),
               i -> (CAST(embedding[i] AS DOUBLE) - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))
                  * (CAST(embedding[i] AS DOUBLE) - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))),
               (x, y) -> x + y), 6), 'j': j}}),
           (best, cur) -> CASE WHEN cur.d < best.d OR (cur.d = best.d AND cur.j < best.j)
                               THEN cur ELSE best END).j AS centroid_id
  FROM embeddings, cfg
)
SELECT centroid_id, vec_id, score, rk FROM (
  SELECT centroid_id, vec_id,
         round({_COS_Q}, 6) AS score,
         ROW_NUMBER() OVER (PARTITION BY centroid_id
                            ORDER BY round({_COS_Q}, 6) DESC, vec_id ASC) AS rk
  FROM a
) WHERE rk <= 5
""",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest
    deterministic centroid (one map pass), then rank top-5 per inverted
    list by cosine to the query. At scale the table is written
    partitioned by centroid_id, so a query probes only its bucket's
    partitions (partition pruning) instead of the full 100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(e, n_centroids=8)
    scored = assigned.withColumn("qv", F.expr(qvec_expr())).select(
        "centroid_id",
        "vec_id",
        F.round(F.expr(cosine_expr("embedding", "qv")), 6).alias("score"),
    )
    w = Window.partitionBy("centroid_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)


def _duck_lsh_bucket(col: str, n_planes: int = 8) -> str:
    """DuckDB mirror of operators/similarity.lsh_bucket_expr (same plane
    formula, same sequential fold, same 6dp rounding before the sign)."""
    dot_p = (
        f"list_reduce(list_transform(range(1, 65),"
        f" i -> CAST({col}[i] AS DOUBLE)"
        f" * (((p * 31 + i * 17) % 23) / CAST(23 AS DOUBLE) - 0.5)), (x, y) -> x + y)"
    )
    return (
        f"list_reduce(list_transform(range(0, {n_planes}), p ->"
        f" CASE WHEN round({dot_p}, 6) >= 0 THEN (1 << p) ELSE 0 END), (x, y) -> x + y)"
    )


@register(
    "q_ann_lsh",
    family="llm-sim",
    oracle=f"""
WITH cfg AS (SELECT {_QV} AS qv),
q AS (SELECT qv, {_duck_lsh_bucket('qv')} AS qb FROM cfg),
b AS (SELECT vec_id, embedding, qv, qb,
             {_duck_lsh_bucket('embedding')} AS bucket
      FROM embeddings, q)
SELECT vec_id, hamming, score FROM (
  SELECT vec_id, CAST(bit_count(xor(bucket, qb)) AS INTEGER) AS hamming,
         round({_COS_Q}, 6) AS score
  FROM b WHERE bit_count(xor(bucket, qb)) <= 1
) ORDER BY score DESC, vec_id ASC LIMIT 20
""",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (the cosine-metric dual of q_ann_ivf's
    IVF): every vector maps to an 8-bit sign bucket; the query probes its
    own bucket plus all hamming-1 neighbors (multi-probe, recall without
    extra tables), then exact-cosine-ranks the candidates top-20.

    Plan shape: bucket assignment is a narrow map (one fused expression,
    codegen), the probe is a FILTER — no shuffle touches the data; the
    final top-20 is TakeOrderedAndProject. At 100 TB write the table
    partitioned by bucket and the probe becomes partition pruning of
    9/256 buckets (vs IVF's 1/8 lists but coarser geometry)."""
    e = load_table(spark, sf_dir, "embeddings")
    cfg = (
        spark.range(1)
        .select(F.expr(qvec_expr()).alias("qv"))
        .select("qv", F.expr(lsh_bucket_expr("qv")).alias("qb"))
    )
    b = e.crossJoin(F.broadcast(cfg)).withColumn(
        "bucket", F.expr(lsh_bucket_expr("embedding"))
    )
    cand = b.withColumn(
        "hamming", F.expr("cast(bit_count(bucket ^ qb) as int)")
    ).where(F.col("hamming") <= 1)
    scored = cand.select(
        "vec_id",
        "hamming",
        F.round(F.expr(cosine_expr("embedding", "qv")), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(20)


# DuckDB fragment: IVF centroid argmin (same formula as ivf_assign) for a
# 64-dim double list column `{col}` — reused by q_ann_ivf's oracle shape
def _duck_ivf_argmin(col: str, n_centroids: int = 8) -> str:
    d2 = (
        f"list_reduce(list_transform(range(1, 65),"
        f" i -> (CAST({col}[i] AS DOUBLE) - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))"
        f" * (CAST({col}[i] AS DOUBLE) - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))),"
        f" (x, y) -> x + y)"
    )
    return (
        f"list_reduce(list_transform(range(0, {n_centroids}),"
        f" j -> {{'d': round({d2}, 6), 'j': j}}),"
        f" (best, cur) -> CASE WHEN cur.d < best.d OR (cur.d = best.d AND cur.j < best.j)"
        f" THEN cur ELSE best END).j"
    )


def _duck_ann_eval_sql() -> str:
    """DuckDB mirror of q_ann_eval: recall@20 + candidate counts for
    IVF at nprobe in {1,2,4} and LSH at hamming radius in {1,2,3}."""
    qd_d2 = (
        "round(list_reduce(list_transform(range(1, 65),"
        " i -> (qv[i] - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))"
        " * (qv[i] - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))),"
        " (x, y) -> x + y), 6)"
    )
    parts = [
        f"""WITH cfg AS (SELECT {_QV} AS qv),
ex AS (
  SELECT vec_id FROM (
    SELECT vec_id, round({_COS_Q}, 6) AS score FROM embeddings, cfg
    ORDER BY score DESC, vec_id ASC LIMIT 20)
),
qd AS (
  SELECT j, {qd_d2} AS d
  FROM cfg, (SELECT unnest(range(0, 8)) AS j)
),
asg AS (
  SELECT vec_id, embedding, qv, {_duck_ivf_argmin('embedding')} AS centroid_id
  FROM embeddings, cfg
),
lb AS (
  SELECT e.vec_id, e.embedding, q2.qv,
         CAST(bit_count(xor({_duck_lsh_bucket('e.embedding')}, q2.qb)) AS INT) AS ham
  FROM embeddings e,
       (SELECT qv, {_duck_lsh_bucket('qv')} AS qb FROM cfg) q2
)"""
    ]
    selects = []
    for p in (1, 2, 4):
        parts.append(
            f""",
icand{p} AS (
  SELECT vec_id, round({_COS_Q}, 6) AS score
  FROM (SELECT a.vec_id, a.embedding, a.qv FROM asg a
        WHERE a.centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT {p}))
),
itop{p} AS (SELECT vec_id FROM icand{p} ORDER BY score DESC, vec_id ASC LIMIT 20)"""
        )
        selects.append(
            f"""SELECT 'ivf_np{p}' AS method, CAST(20 AS BIGINT) AS n_exact,
       (SELECT COUNT(*) FROM icand{p}) AS n_cand,
       (SELECT COUNT(*) FROM itop{p} JOIN ex USING (vec_id)) AS n_overlap,
       round((SELECT COUNT(*) FROM itop{p} JOIN ex USING (vec_id)) / 20.0, 6) AS recall"""
        )
    for h in (1, 2, 3):
        parts.append(
            f""",
lcand{h} AS (
  SELECT vec_id, round({_COS_Q}, 6) AS score FROM lb WHERE ham <= {h}
),
ltop{h} AS (SELECT vec_id FROM lcand{h} ORDER BY score DESC, vec_id ASC LIMIT 20)"""
        )
        selects.append(
            f"""SELECT 'lsh_h{h}' AS method, CAST(20 AS BIGINT) AS n_exact,
       (SELECT COUNT(*) FROM lcand{h}) AS n_cand,
       (SELECT COUNT(*) FROM ltop{h} JOIN ex USING (vec_id)) AS n_overlap,
       round((SELECT COUNT(*) FROM ltop{h} JOIN ex USING (vec_id)) / 20.0, 6) AS recall"""
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("q_ann_eval", family="llm-sim", oracle=_duck_ann_eval_sql())
def q_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: the recall-vs-scan-fraction CURVE for both
    approximate search paths — IVF probing its nprobe nearest inverted
    lists (nprobe in {1,2,4}) and random-hyperplane LSH probing all
    buckets within hamming radius h of the query bucket (h in {1,2,3}) —
    each measured as recall@20 against the exact brute-force cosine
    top-20 (q_sim_topk's ranking) plus the candidate count actually
    scanned. This is the measurement a pipeline owner runs before
    trusting an ANN index at 100 TB: where on the curve does recall
    become acceptable, and what scan fraction does it cost? (Same eval
    pattern as q_neardup_eval for MinHash bands. On this synthetic
    near-random corpus the curve is brutal — low radii have ~0 recall —
    which is exactly what the eval exists to expose: geometry must be
    validated per-corpus, not assumed.)

    Scale shape: the exact baseline is one scan + TakeOrderedAndProject
    (no shuffle); centroid/bucket assignment is computed ONCE per row
    and reused by every radius (filters over the same narrow map);
    metrics are 20-row broadcast joins and 1-row aggs. Everything
    integer/formula-derived, so the oracle re-derives identical scores,
    buckets, and centroids."""
    e = fan_out_barrier(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    exact = cosine_topk(e, k=20).select("vec_id")
    # query-to-centroid distances: 8-row frame, ranked once, reused per nprobe
    d2q = (
        "aggregate(zip_with(qv, transform(sequence(1, 64),"
        " i -> ((j * 13 + i * 7) % 29) / cast(29 as double)),"
        " (x, y) -> (x - y) * (x - y)), cast(0 as double), (acc, v) -> acc + v)"
    )
    qd = (
        spark.range(1)
        .select(F.expr(qvec_expr()).alias("qv"))
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, 7), j -> struct(j as j, round({d2q}, 6) as d))"
                )
            ).alias("s")
        )
        .select(F.col("s.j").alias("j"), F.col("s.d").alias("d"))
    )
    qrk = qd.withColumn(
        "qrk",
        F.row_number().over(Window.orderBy(F.col("d").asc(), F.col("j").asc())),
    )
    assigned = (
        ivf_assign(e, n_centroids=8)
        .withColumn("qv", F.expr(qvec_expr()))
        .select(
            "vec_id",
            "centroid_id",
            F.round(F.expr(cosine_expr("embedding", "qv")), 6).alias("score"),
        )
    )
    # LSH: hamming distance to the query bucket, computed once per row
    cfg = (
        spark.range(1)
        .select(F.expr(qvec_expr()).alias("qv"))
        .select("qv", F.expr(lsh_bucket_expr("qv")).alias("qb"))
    )
    bucketed = (
        e.crossJoin(F.broadcast(cfg))
        .withColumn("bucket", F.expr(lsh_bucket_expr("embedding")))
        .select(
            "vec_id",
            F.expr("cast(bit_count(bucket ^ qb) as int)").alias("ham"),
            F.round(F.expr(cosine_expr("embedding", "qv")), 6).alias("score"),
        )
    )

    def metrics(method: str, cand: DataFrame) -> DataFrame:
        top = (
            cand.orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(20)
            .select("vec_id")
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
        n_overlap = top.join(exact, "vec_id").agg(
            F.count(F.lit(1)).alias("n_overlap")
        )
        return n_cand.crossJoin(n_overlap).select(
            F.lit(method).alias("method"),
            F.lit(20).cast("long").alias("n_exact"),
            F.col("n_cand"),
            F.col("n_overlap"),
            F.round(F.col("n_overlap") / F.lit(20.0), 6).alias("recall"),
        )

    out = None
    for p in (1, 2, 4):
        lists = F.broadcast(qrk.where(F.col("qrk") <= p).select("j"))
        cand = assigned.join(lists, assigned.centroid_id == F.col("j")).select(
            "vec_id", "score"
        )
        m = metrics(f"ivf_np{p}", cand)
        out = m if out is None else out.unionByName(m)
    for h in (1, 2, 3):
        m = metrics(f"lsh_h{h}", bucketed.where(F.col("ham") <= h))
        out = out.unionByName(m)
    return out


@register(
    "q_multimodal_join",
    family="llm-sim",
    oracle=f"""
SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
       len(e.embedding) AS dim,
       round(sqrt({_dot('e.embedding', 'e.embedding')}), 6) AS emb_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def q_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row assembly: text metadata + embedding vector joined
    by id into one wide row (the doc_id=vec_id contract), with a derived
    vector feature. The join broadcasts whichever side is small; at scale
    both sides bucket on the id."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            "label",
            F.size("embedding").alias("dim"),
            F.round(F.expr(norm_expr("embedding")), 6).alias("emb_norm"),
        )
    )


@register(
    "q_embed_quantize",
    family="llm-sim",
    oracle="""
SELECT vec_id,
       round(scale, 6) AS scale,
       array_to_string(list_transform(embedding,
                      x -> CAST(floor(127 * CAST(x AS DOUBLE) / scale + 0.5) AS INT)
       ), ',') AS codes
FROM (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
)
WHERE scale > 0
""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4x memory cut for ANN at
    100 TB): per-vector scale = max|x|, code = floor(127*x/scale + 0.5).
    Pure higher-order-function map, zero shuffle; floor(+0.5) instead of
    round() because float round ties break differently across engines
    while floor is exact IEEE in both. `codes` is emitted comma-joined
    (not array<int>): the driver canonicalizer cannot hash ndarray cells
    (same failure mode q_phonetic_key hit in round 2)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.withColumn(
            "scale",
            F.expr("array_max(transform(embedding, x -> abs(cast(x as double))))"),
        )
        .where(F.col("scale") > 0)
        .select(
            "vec_id",
            F.round(F.col("scale"), 6).alias("scale"),
            F.array_join(
                F.expr(
                    "transform(embedding,"
                    " x -> cast(floor(127 * cast(x as double) / scale + 0.5) as int))"
                ),
                ",",
            ).alias("codes"),
        )
    )


@register(
    "q_embed_centroid",
    family="llm-sim",
    oracle="""
SELECT label, pos,
       CAST(ROUND(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(25,10))), 4) AS DOUBLE)
         / COUNT(*) AS centroid_v,
       COUNT(*) AS n
FROM (
  SELECT label, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)
GROUP BY label, pos
""",
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space in long format
    (label, dimension, mean) — the cluster-center computation behind
    IVF coarse quantizers, per-class prototypes, and drift monitoring.

    Scale shape: posexplode fans each vector into 64 (label, pos, v)
    rows, then ONE two-phase hash agg keyed by (label, pos) — the
    shuffle carries num_labels x dim partial sums per map task, a few
    hundred rows regardless of table size. Long output beats rebuilding
    arrays: no collect_list, and the driver hash-compare stays on
    scalars. Determinism: float -> double is exact in both engines; the
    mean is the exact-decimal sum (order-free) over one IEEE division."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "v")).select(
        "label", (F.col("pos0") + 1).alias("pos"), "v"  # 1-based like the oracle
    )
    return ex.groupBy("label", "pos").agg(
        (
            F.round(F.sum(F.col("v").cast("double").cast("decimal(25,10)")), 4)
            .cast("double")
            / F.count(F.lit(1))
        ).alias("centroid_v"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_embed_outliers",
    family="llm-sim",
    oracle="""
WITH cl AS (
  SELECT label, pos,
         CAST(ROUND(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(25,10))), 4) AS DOUBLE)
           / COUNT(*) AS cv
  FROM (
    SELECT label, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
  )
  GROUP BY label, pos
), ca AS (
  SELECT label, list(cv ORDER BY pos) AS cent FROM cl GROUP BY label
), d AS (
  SELECT e.vec_id, e.label,
         round(list_reduce(list_transform(range(1, 65),
               i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - c.cent[i])),
               (x, y) -> x + y), 6) AS dist2
  FROM embeddings e JOIN ca c ON e.label = c.label
)
SELECT label, vec_id, dist2, rk FROM (
  SELECT label, vec_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist2 DESC, vec_id ASC) AS rk
  FROM d
) WHERE rk <= 5
""",
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the 5 vectors farthest (squared L2)
    from their label centroid — the mislabel / contamination candidates
    an embedding-corpus owner reviews before training on the labels.

    Scale shape (third-variant A/B winner, round 6): the centroid is a
    single-pass Arrow mapInPandas partial agg — one (label, int64-lane
    sums, count) row per partition per label, exact-decimal quantization
    done in integer math inside the kernel (operators/similarity.py
    label_centroids_arrow) — so the shuffle carries partitions x labels
    rows, not the rows x 64 posexplode fan-out. The tiny centroid frame
    is BROADCAST back; the distance is a narrow map over the one
    embeddings scan (ordered zip_with/aggregate fold — bit-identical to
    the oracle's list_reduce); ranking is one label-partitioned window.
    No pair join anywhere: cost is O(rows x dim) + a labels-sized
    broadcast, the same shape at 100 TB.

    Three-way A/B at sf10 (best-of-3, idle box): posexplode 15.4 s,
    64-agg-lane 17.9 s (r5), Arrow partials 3.2 s — adopted; results
    bit-identical across all three (exact integer quantization).

    Determinism: centroid dims are exact-decimal means; the fold adds
    non-negative squares left-to-right from +0.0, so Spark's aggregate()
    and DuckDB's list_reduce produce bit-identical doubles before the
    single round(6)."""
    from cellbase_spark.operators.similarity import label_centroids_arrow

    e = load_table(spark, sf_dir, "embeddings")
    ca = label_centroids_arrow(e)
    d = e.join(F.broadcast(ca), "label").select(
        "vec_id",
        "label",
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, cent,"
                " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
                " cast(0 as double), (acc, v) -> acc + v)"
            ),
            6,
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), F.col("vec_id").asc())
    return (
        d.select("label", "vec_id", "dist2", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 5)
    )


# ---------------------------------------------------------------------------
# Persisted-index ANN (round 7): the measured scale answer to the inline keys
# ---------------------------------------------------------------------------

def _qd_d2_spark(dim: int = 64) -> str:
    """Squared distance from the query vector `qv` to formula centroid
    `j`, over `dim` dimensions (must equal the vector length: zip_with
    pads the short side with NULL and poisons the fold)."""
    return (
        f"aggregate(zip_with(qv, transform(sequence(1, {dim}),"
        " i -> ((j * 13 + i * 7) % 29) / cast(29 as double)),"
        " (x, y) -> (x - y) * (x - y)), cast(0 as double), (acc, v) -> acc + v)"
    )


_QD_D2_SPARK = _qd_d2_spark()
_QD_D2_DUCK = (
    "round(list_reduce(list_transform(range(1, 65),"
    " i -> (qv[i] - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))"
    " * (qv[i] - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))),"
    " (x, y) -> x + y), 6)"
)


def _index_ready(spark: SparkSession, t: str) -> bool:
    """True when index table `t` exists AND carries its recorded
    cellbase.* geometry. A build that crashed between saveAsTable and
    the properties ALTER leaves a propsless table; treating it as built
    would make every probe silently rank against fallback formula-seed
    geometry (round-10 review finding — the facade refuses this, the
    internal ensure helpers must REBUILD instead). build_ann_index /
    compact_ann_index write with mode overwrite, so the rebuild simply
    replaces the half-finished artifact."""
    from cellbase_spark.operators.similarity import table_props

    return (
        spark.catalog.tableExists(t)
        and "cellbase.n_centroids" in table_props(spark, t, max_age_sec=0)
    )


def _ann_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf) and return the persisted ANN
    index CATALOG TABLE: embeddings hive-partitioned by (centroid_id,
    bucket). In a deployment this is an ingest-time artifact like the
    bucketed fact layout (joins._fact_bucketed_layout) — queries only
    ever prune it, and the catalog (metastore model) holds the partition
    metadata so a probe never pays directory discovery."""
    from cellbase_spark.operators.similarity import build_ann_index

    t = scratch_table(sf_dir, "cb_annindex")
    if not _index_ready(spark, t):
        build_ann_index(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            t,
            scratch_path(sf_dir, "annindex"),
        )
    return t


def _query_probe_centroids(
    spark: SparkSession,
    nprobe: int,
    qv_sql: str | None = None,
    n_centroids: int = 8,
    dim: int = 64,
    centroids: dict[int, list[float]] | None = None,
) -> list[int]:
    """The query's nprobe nearest centroid ids — an n_centroids-row
    config relation (bounded by construction, no data touched),
    collected so the probe can be a PartitionFilters literal.
    `qv_sql` overrides the deterministic query vector with any SQL array
    expression; `n_centroids`/`dim` must match the INDEX's build
    geometry (api.ann_search reads them from the index's recorded table
    properties — round-8 ADVICE medium). `centroids` ranks against a
    LEARNED centroid table (trained-index probing) instead of the
    formula seeds — same fold/round expressions either way, so the
    probe order is engine-exact."""
    if centroids is None:
        ranked = F.expr(
            f"transform(sequence(0, {n_centroids - 1}),"
            f" j -> struct(j as j, round({_qd_d2_spark(dim)}, 6) as d))"
        )
        base = spark.range(1).select(F.expr(qv_sql or qvec_expr()).alias("qv"))
    else:
        js = sorted(centroids)
        d2l = (
            "aggregate(zip_with(qv, element_at(_cents, k),"
            " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
            " cast(0 as double), (acc, v) -> acc + v)"
        )
        ranked = F.expr(
            f"transform(sequence(1, size(_cents)),"
            f" k -> struct(element_at(_js, k) as j, round({d2l}, 6) as d))"
        )
        base = (
            spark.range(1)
            .select(F.expr(qv_sql or qvec_expr()).alias("qv"))
            .withColumn(
                "_cents",
                F.array(*[F.array(*[F.lit(float(v)) for v in centroids[j]]) for j in js]),
            )
            .withColumn("_js", F.array(*[F.lit(int(j)) for j in js]))
        )
    rows = (
        base.select(F.explode(ranked).alias("s"))
        .select("s.j", "s.d")
        .orderBy(F.col("d").asc(), F.col("j").asc())
        .limit(nprobe)
        .collect()
    )
    return [int(r.j) for r in rows]


def _q_cfg(spark: SparkSession) -> DataFrame:
    """1-row config frame (qv, qnorm): the query vector and its norm,
    computed once and broadcast — probe scoring is then one dot fold per
    candidate (the index stores the candidate-side norm)."""
    return (
        spark.range(1)
        .select(F.expr(qvec_expr()).alias("qv"))
        .select("qv", F.expr(norm_expr("qv")).alias("qnorm"))
    )


def _stored_norm_score() -> F.Column:
    """round(dot(embedding,qv) / (nrm * qnorm), 6) — bit-identical to
    cosine_expr (same folds, same product grouping), with both norm
    folds amortized away (index-side at ingest, query-side in _q_cfg)."""
    return F.round(
        F.expr(dot_expr("embedding", "qv")) / (F.col("nrm") * F.col("qnorm")), 6
    )


def _query_bucket(spark: SparkSession) -> int:
    """The query vector's LSH bucket — a 1-row config collect."""
    return int(
        spark.range(1)
        .select(F.expr(qvec_expr()).alias("qv"))
        .select(F.expr(lsh_bucket_expr("qv")).alias("qb"))
        .collect()[0].qb
    )


_IVF_INDEXED_ORACLE = f"""
WITH cfg AS (SELECT {_QV} AS qv),
qd AS (
  SELECT j, {_QD_D2_DUCK} AS d
  FROM cfg, (SELECT unnest(range(0, 8)) AS j)
),
asg AS (
  SELECT vec_id, embedding, qv,
         CAST({_duck_ivf_argmin('embedding')} AS INTEGER) AS centroid_id
  FROM embeddings, cfg
)
SELECT vec_id, centroid_id, round({_COS_Q}, 6) AS score
FROM asg
WHERE centroid_id IN (SELECT CAST(j AS INTEGER) FROM qd ORDER BY d, j LIMIT 2)
ORDER BY score DESC, vec_id ASC
LIMIT 20
"""


@register(
    "q_ann_ivf_indexed",
    family="llm-sim",
    oracle=_IVF_INDEXED_ORACLE,
)
def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against the PERSISTED index: top-20 cosine within the
    nprobe=2 nearest inverted lists, where the lists are hive partitions
    of the ingest-time index (operators/similarity.build_ann_index) and
    the probe is a PartitionFilters literal — directories outside the
    two probed lists are never opened.

    Why this key exists: the inline q_ann_ivf recomputes the coarse
    quantization per query (8 distance folds per row), which is ~16x the
    work of the one cosine the exact scan pays — measured at sf10 the
    "approximate" inline path lost to brute force 33 s vs 4.7 s. With
    assignment paid once at ingest, the probe reads only the candidate
    rows (n_cand/N = 3.5 percent at sf10) through one ordinary pruned
    scan: 0.5 s-class instead of 30 s-class, and at 100 TB the probe
    cost is proportional to list size, not corpus size.

    The two collects are formula-derived config relations (8 rows / 1
    row), bounded by construction — no data-dependent driver traffic."""
    t = _ann_index_table(spark, sf_dir)
    ids = _query_probe_centroids(spark, nprobe=2)
    idx = spark.table(t).where(F.col("centroid_id").isin(ids))
    return (
        idx.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


@register(
    "q_ann_lsh_indexed",
    family="llm-sim",
    oracle=f"""
WITH cfg AS (SELECT {_QV} AS qv),
q2 AS (SELECT qv, {_duck_lsh_bucket('qv')} AS qb FROM cfg),
b AS (
  SELECT vec_id, embedding, qv, qb,
         {_duck_lsh_bucket('embedding')} AS bucket
  FROM embeddings, q2
)
SELECT vec_id, CAST(bit_count(xor(bucket, qb)) AS INTEGER) AS hamming,
       round({_COS_Q}, 6) AS score
FROM b
WHERE bit_count(xor(bucket, qb)) <= 1
ORDER BY score DESC, vec_id ASC
LIMIT 20
""",
)
def q_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN against the SAME persisted index (the bucket
    partition key of build_ann_index's one artifact): the query bucket
    plus its 8 hamming-1 neighbors — 9 of 256 sign buckets — as a
    PartitionFilters IN-list, then exact cosine top-20 over the pruned
    candidates. Same measured motivation as q_ann_ivf_indexed: inline
    bucket recompute lost to brute force at sf10 (25 s vs 4.7 s); the
    indexed probe touches only candidate partitions."""
    t = _ann_index_table(spark, sf_dir)
    qb = _query_bucket(spark)
    probe = [qb] + [qb ^ (1 << p) for p in range(8)]
    idx = spark.table(t).where(F.col("bucket").isin(probe))
    return (
        idx.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.expr(f"cast(bit_count(bucket ^ {qb}) as int)").alias("hamming"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


_BATCH_PROBE_ORACLE = f"""
WITH asg AS (
  SELECT vec_id, embedding,
         CAST({_duck_ivf_argmin('embedding')} AS INTEGER) AS centroid_id
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         CAST({_duck_ivf_argmin('embedding')} AS INTEGER) AS qc
  FROM embeddings WHERE vec_id < 32
)
SELECT query_id, vec_id, centroid_id, score, rk FROM (
  SELECT q.query_id, a.vec_id, a.centroid_id,
         round({_dot('a.embedding', 'q.qv')}
               / (sqrt({_dot('a.embedding', 'a.embedding')})
                  * sqrt({_dot('q.qv', 'q.qv')})), 6) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY round({_dot('a.embedding', 'q.qv')}
                          / (sqrt({_dot('a.embedding', 'a.embedding')})
                             * sqrt({_dot('q.qv', 'q.qv')})), 6) DESC,
                    a.vec_id ASC) AS rk
  FROM asg a JOIN q ON a.centroid_id = q.qc AND a.vec_id <> q.query_id
) WHERE rk <= 5
"""


@register("q_ann_batch_probe", family="llm-sim", oracle=_BATCH_PROBE_ORACLE)
def q_ann_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN as a JOIN: a batch of 32 query vectors probes the persisted
    index in ONE pass — each query coarse-quantized inline (32 rows x 8
    folds, query-side cost only), broadcast, and equi-joined to the
    index on the centroid partition key; per-query cosine top-5 follows
    (self-matches excluded: the batch is drawn from the corpus).

    The scale property is DYNAMIC partition pruning: the probed
    centroid set is data-dependent (computed from the batch's
    embeddings, not plan-time literals), so Catalyst inserts a
    dynamicpruningexpression subquery on the index scan that reuses the
    broadcast — only the batch's distinct centroid directories are
    opened. This is the shape of serving a query STREAM against a
    100 TB index: per-batch work is (batch x probed-list) rows, never
    corpus-sized, and the index is never re-quantized (the inline keys'
    measured defect)."""
    from cellbase_spark.operators.similarity import ivf_assign

    t = _ann_index_table(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        ivf_assign(
            e.where(F.col("vec_id") < 32).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
            ),
            vec_col="qv",
        )
        .withColumnRenamed("centroid_id", "qc")
        .withColumn("qnorm", F.expr(norm_expr("qv")))
    )
    idx = spark.table(t)
    cand = idx.join(
        F.broadcast(q),
        (idx.centroid_id == q.qc) & (idx.vec_id != q.query_id),
    ).select(
        "query_id",
        "vec_id",
        F.col("centroid_id").cast("int").alias("centroid_id"),
        _stored_norm_score().alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return cand.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)


def _ann_delta_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf) the DELTA index generation: a
    simulated new-document batch (every 97th corpus vector, re-keyed
    +10M) quantized and laid out by the SAME build_ann_index operator
    into its OWN immutable table — the base artifact is never mutated
    (the LSM/generations discipline q_dedup_band_update established for
    the dedup band table, applied to the ANN index)."""
    from cellbase_spark.operators.similarity import build_ann_index

    t = scratch_table(sf_dir, "cb_annindex_d1")
    if not _index_ready(spark, t):
        delta = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") % 97 == 3)
            .select(
                (F.col("vec_id") + F.lit(10000000)).alias("vec_id"), "embedding"
            )
        )
        build_ann_index(delta, t, scratch_path(sf_dir, "annindex_d1"))
    return t


@register(
    "q_ann_index_update",
    family="llm-sim",
    oracle=f"""
WITH cfg AS (SELECT {_QV} AS qv),
qd AS (
  SELECT j, {_QD_D2_DUCK} AS d
  FROM cfg, (SELECT unnest(range(0, 8)) AS j)
),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 97 = 3
),
asg AS (
  SELECT vec_id, embedding, qv,
         CAST({_duck_ivf_argmin('embedding')} AS INTEGER) AS centroid_id
  FROM corpus, cfg
)
SELECT vec_id,
       CASE WHEN vec_id >= 10000000 THEN 'delta' ELSE 'base' END AS gen,
       centroid_id, round({_COS_Q}, 6) AS score
FROM asg
WHERE centroid_id IN (SELECT CAST(j AS INTEGER) FROM qd ORDER BY d, j LIMIT 2)
ORDER BY score DESC, vec_id ASC
LIMIT 20
""",
)
def q_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-maintenance verb: a new-document batch lands as its own
    immutable DELTA generation (same build_ann_index operator, own
    catalog table — the base is never rewritten), and the probe unions
    base + delta with the SAME PartitionFilters IN-list pushed into
    both scans. Top-20 over the union, each hit tagged with its
    generation.

    At 100 TB this is how the ANN index absorbs a daily ingest without
    an index rebuild: quantize the batch (work proportional to batch),
    append a generation, probe all generations pruned; q_compact_files
    is the periodic repair when generations accumulate. Exactly the
    band-table lifecycle q_dedup_band_update / q_dedup_generations
    proved for MinHash-LSH, applied to the vector index."""
    base = spark.table(_ann_index_table(spark, sf_dir))
    delta = spark.table(_ann_delta_table(spark, sf_dir))
    ids = _query_probe_centroids(spark, nprobe=2)
    probed = base.unionByName(delta).where(F.col("centroid_id").isin(ids))
    return (
        probed.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.when(F.col("vec_id") >= 10000000, F.lit("delta"))
            .otherwise(F.lit("base"))
            .alias("gen"),
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


_D2_FORMULA_DUCK = (
    "list_reduce(list_transform(range(1, 65),"
    " i -> (CAST(embedding[i] AS DOUBLE) - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))"
    " * (CAST(embedding[i] AS DOUBLE) - ((j * 13 + i * 7) % 29) / CAST(29 AS DOUBLE))),"
    " (x, y) -> x + y)"
)
_ARGMIN_STRUCT_DUCK = (
    f"list_reduce(list_transform(range(0, 8), j -> {{'d': round({_D2_FORMULA_DUCK}, 6), 'j': j}}),"
    " (best, cur) -> CASE WHEN cur.d < best.d OR (cur.d = best.d AND cur.j < best.j)"
    " THEN cur ELSE best END)"
)
_D2_LEARNED_DUCK = (
    "round(list_reduce(list_transform(range(1, 65),"
    " i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])"
    " * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])), (x, y) -> x + y), 6)"
)


@register(
    "q_ivf_train",
    family="llm-sim",
    oracle=f"""
WITH a1 AS (
  SELECT vec_id, embedding, best.j AS centroid_id, best.d AS d
  FROM (SELECT vec_id, embedding, {_ARGMIN_STRUCT_DUCK} AS best FROM embeddings)
),
cent AS (
  SELECT centroid_id AS j, t.i AS i,
         CAST(ROUND(SUM(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(25,10))), 4)
              AS DOUBLE) / COUNT(*) AS m
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
),
carr AS (SELECT j, list(m ORDER BY i) AS cvec FROM cent GROUP BY j),
a2 AS (
  SELECT vec_id, centroid_id, d FROM (
    SELECT e.vec_id, c.j AS centroid_id, {_D2_LEARNED_DUCK} AS d,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_LEARNED_DUCK} ASC, c.j ASC) AS rk
    FROM a1 e, carr c
  ) WHERE rk = 1
)
SELECT CAST(1 AS INTEGER) AS iter, CAST(centroid_id AS INTEGER) AS centroid_id,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(d AS DECIMAL(25,10))), 6) AS DOUBLE) AS inertia
FROM a1 GROUP BY 2
UNION ALL
SELECT CAST(2 AS INTEGER) AS iter, CAST(centroid_id AS INTEGER) AS centroid_id,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(d AS DECIMAL(25,10))), 6) AS DOUBLE) AS inertia
FROM a2 GROUP BY 2
""",
)
def q_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid TRAINING: two unrolled Lloyd (k-means) iterations
    starting from the deterministic formula seeds — assign every vector
    to its nearest centroid, recompute each centroid as the exact
    dimension-wise mean of its members, reassign under the LEARNED
    centroids — emitting per-iteration cluster sizes and inertia (the
    convergence witness: iteration-2 inertia <= iteration-1 on this
    corpus by Lloyd's monotonicity). Completes the IVF lifecycle the
    round built: TRAIN here, BUILD (build_ann_index), PROBE
    (q_ann_*_indexed / batch / update / streamed).

    Cross-engine exactness: per-pair distances are the proven sequential
    folds rounded 6dp; the centroid mean is functions.exact.davg's
    bit-identical form (DECIMAL-rescaled exact sum cast to double,
    divided by count — no output rounding needed); inertia is an exact
    decimal sum of the rounded per-row distances.

    Scale shape: iteration 1 is one narrow map + a 512-group agg
    (posexplode to (centroid, dim) partial means — map-side combined);
    the learned centroids are an 8 x 64 CONFIG relation (bounded by
    construction) collected and re-entered as literals, so iteration 2
    is again one narrow map — no per-row join, no driver data traffic
    beyond the 512 config values. More iterations = more of the same
    map passes; nothing grows with corpus size except the scans."""
    from cellbase_spark.functions.exact import dsum
    from cellbase_spark.operators.similarity import centroid_expr

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d2_formula = (
        f"aggregate(zip_with(embedding, {centroid_expr('j')},"
        " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    argmin1 = F.expr(
        f"""aggregate(
  transform(sequence(0, 7), j -> struct(round({d2_formula}, 6) as d, j as j)),
  struct(cast(1e18 as double) as d, -1 as j),
  (best, cur) -> if(cur.d < best.d or (cur.d = best.d and cur.j < best.j), cur, best)
)"""
    )
    a1 = e.withColumn("b", argmin1).select(
        "vec_id",
        "embedding",
        F.col("b.j").alias("centroid_id"),
        F.col("b.d").alias("d"),
    )
    # reused 3x (stats, centroid means, iteration-2 reassign): persist
    # EVICTABLE, released by the thread's next registry build (eager
    # checkpoints would accumulate non-evictable blocks)
    from cellbase_spark.operators.ckpt import build_persist

    a1 = build_persist(a1)
    stats1 = a1.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n"), dsum("d", "inertia", 6)
    )
    # exact per-(centroid, dim) means — davg's bit-identical form
    cent = (
        a1.select("centroid_id", F.posexplode("embedding").alias("i", "x"))
        .groupBy("centroid_id", "i")
        .agg(
            (
                F.round(F.sum(F.col("x").cast("double").cast("decimal(25,10)")), 4)
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    )  # bounded config: <= 8 centroids x 64 dims = 512 rows
    by_j: dict[int, list[float]] = {}
    for r in cent:
        by_j.setdefault(int(r.centroid_id), [0.0] * 64)[int(r.i)] = float(r.m)
    js = sorted(by_j)
    cents_col = F.array(*[F.array(*[F.lit(v) for v in by_j[j]]) for j in js])
    js_col = F.array(*[F.lit(j) for j in js])
    d2_learned = (
        "aggregate(zip_with(embedding, element_at(cents, k),"
        " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    argmin2 = F.expr(
        f"""aggregate(
  transform(sequence(1, size(cents)),
            k -> struct(round({d2_learned}, 6) as d, element_at(js, k) as j)),
  struct(cast(1e18 as double) as d, -1 as j),
  (best, cur) -> if(cur.d < best.d or (cur.d = best.d and cur.j < best.j), cur, best)
)"""
    )
    a2 = (
        a1.select("vec_id", "embedding")
        .withColumn("cents", cents_col)
        .withColumn("js", js_col)
        .withColumn("b", argmin2)
        .select(F.col("b.j").alias("centroid_id"), F.col("b.d").alias("d"))
    )
    stats2 = a2.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n"), dsum("d", "inertia", 6)
    )
    out = (
        stats1.withColumn("iter", F.lit(1).cast("int"))
        .unionByName(stats2.withColumn("iter", F.lit(2).cast("int")))
        .select(
            "iter",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            "n",
            "inertia",
        )
    )
    return out


def _learned_centroid_arrays(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
    """One Lloyd mean-update from the formula seeds (q_ivf_train's
    iteration-2 centroids), as a bounded config collect: <= 8 x 64
    exact-davg values. Delegates to the train_ivf_centroids operator —
    the trained-recall eval and the trained-index SERVING key
    (q_ann_index_trained) train through the identical code path."""
    from cellbase_spark.operators.similarity import train_ivf_centroids

    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    return train_ivf_centroids(e, n_centroids=8, dim=64, iters=1)


_TRAINED_EVAL_ORACLE = f"""
WITH cfg AS (SELECT {_QV} AS qv),
ex AS (
  SELECT vec_id FROM (
    SELECT vec_id, round({_COS_Q}, 6) AS score FROM embeddings, cfg
    ORDER BY score DESC, vec_id ASC LIMIT 20)
),
a1 AS (
  SELECT vec_id, embedding, best.j AS centroid_id
  FROM (SELECT vec_id, embedding, {_ARGMIN_STRUCT_DUCK} AS best FROM embeddings)
),
cent AS (
  SELECT centroid_id AS j, t.i AS i,
         CAST(ROUND(SUM(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(25,10))), 4)
              AS DOUBLE) / COUNT(*) AS m
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
),
carr AS (SELECT j, list(m ORDER BY i) AS cvec FROM cent GROUP BY j),
a2 AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.j AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_LEARNED_DUCK} ASC, c.j ASC) AS rk
    FROM a1 e, carr c
  ) WHERE rk = 1
),
qd AS (
  SELECT c.j,
         round(list_reduce(list_transform(range(1, 65),
           i -> (qv[i] - c.cvec[i]) * (qv[i] - c.cvec[i])), (x, y) -> x + y), 6) AS d
  FROM carr c, cfg
)
{{selects}}
"""


def _trained_eval_sql() -> str:
    selects = []
    for p in (1, 2, 4):
        selects.append(f"""SELECT 'ivf_train_np{p}' AS method, CAST(20 AS BIGINT) AS n_exact,
  (SELECT COUNT(*) FROM a2
   WHERE centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT {p})) AS n_cand,
  (SELECT COUNT(*) FROM (
     SELECT a.vec_id, round({_COS_Q}, 6) AS score
     FROM a2 a, cfg
     WHERE a.centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT {p})
     ORDER BY score DESC, a.vec_id ASC LIMIT 20) t
   JOIN ex USING (vec_id)) AS n_overlap,
  round((SELECT COUNT(*) FROM (
     SELECT a.vec_id, round({_COS_Q}, 6) AS score
     FROM a2 a, cfg
     WHERE a.centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT {p})
     ORDER BY score DESC, a.vec_id ASC LIMIT 20) t
   JOIN ex USING (vec_id)) / 20.0, 6) AS recall"""
        )
    return _TRAINED_EVAL_ORACLE.replace("{selects}", "\nUNION ALL\n".join(selects))


@register("q_ann_eval_trained", family="llm-sim", oracle=_trained_eval_sql())
def q_ann_eval_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of IVF probing under TRAINED centroids (one exact Lloyd
    update from the formula seeds — q_ivf_train's iteration-2 geometry),
    at nprobe in {1, 2, 4}: the before/after for the training verb.
    q_ann_eval measured the seed geometry's curve as brutal (nprobe=1
    recall 0.00 at sf1 AND sf10 — the seeds are off-manifold); this key
    measures how much ONE mean-update repairs it on the same corpus.

    Scale shape mirrors q_ann_eval: exact baseline is scan + top-k;
    both assignment passes are narrow maps (the learned centroids are a
    512-value config collect re-entered as literals); the per-nprobe
    candidate sets are filters over ONE materialized assignment;
    metrics are 20-row joins and 1-row aggs."""
    e = fan_out_barrier(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    exact = cosine_topk(e, k=20).select("vec_id")
    by_j = _learned_centroid_arrays(spark, sf_dir)
    js = sorted(by_j)
    cents_col = F.array(*[F.array(*[F.lit(v) for v in by_j[j]]) for j in js])
    js_col = F.array(*[F.lit(j) for j in js])
    d2_learned = (
        "aggregate(zip_with(embedding, element_at(cents, k),"
        " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    argmin2 = F.expr(
        f"""aggregate(
  transform(sequence(1, size(cents)),
            k -> struct(round({d2_learned}, 6) as d, element_at(js, k) as j)),
  struct(cast(1e18 as double) as d, -1 as j),
  (best, cur) -> if(cur.d < best.d or (cur.d = best.d and cur.j < best.j), cur, best)
)"""
    )
    assigned = (
        e.withColumn("cents", cents_col)
        .withColumn("js", js_col)
        .withColumn("b", argmin2)
        .withColumn("qv", F.expr(qvec_expr()))
        .select(
            "vec_id",
            F.col("b.j").alias("centroid_id"),
            F.round(F.expr(cosine_expr("embedding", "qv")), 6).alias("score"),
        )
    )
    # query-to-learned-centroid ranks: a bounded config relation (<= 8
    # rows), computed with the SAME fold/round expressions as the corpus
    # assignment so the probe order is engine-exact (a Python-side sum
    # would differ in tie rounding: banker's vs half-up)
    qd_rows = (
        spark.range(1)
        .select(F.expr(qvec_expr()).alias("embedding"))
        .withColumn("cents", cents_col)
        .withColumn("js", js_col)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(cents)),"
                    f" k -> struct(round({d2_learned}, 6) as d, element_at(js, k) as j))"
                )
            ).alias("s")
        )
        .select("s.d", "s.j")
        .orderBy(F.col("d").asc(), F.col("j").asc())
        .collect()
    )
    out = None
    for p in (1, 2, 4):
        probe = [int(r.j) for r in qd_rows[:p]]
        cand = assigned.where(F.col("centroid_id").isin(probe))
        top = (
            cand.orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(20)
            .select("vec_id")
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
        n_overlap = top.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_overlap"))
        m = n_cand.crossJoin(n_overlap).select(
            F.lit(f"ivf_train_np{p}").alias("method"),
            F.lit(20).cast("long").alias("n_exact"),
            F.col("n_cand"),
            F.col("n_overlap"),
            F.round(F.col("n_overlap") / F.lit(20.0), 6).alias("recall"),
        )
        out = m if out is None else out.unionByName(m)
    return out


def _trained_serving_sql() -> str:
    """Oracle for q_ann_index_trained: the a1→cent→carr→a2 Lloyd chain
    (identical to q_ann_eval_trained's prelude), then for each nprobe p
    the SERVED result — exact cosine top-20 over the p nearest learned
    lists. Mirrors ann_search row-for-row: same learned ranking (qd),
    same candidate filter, same round-6dp scores."""
    selects = []
    for p in (1, 2, 4):
        selects.append(
            f"""SELECT CAST({p} AS INTEGER) AS nprobe, vec_id,
       CAST(centroid_id AS INTEGER) AS centroid_id, score
FROM (
  SELECT a.vec_id, a.centroid_id, round({_COS_Q}, 6) AS score
  FROM a2 a, cfg
  WHERE a.centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT {p})
  ORDER BY score DESC, a.vec_id ASC LIMIT 20)"""
        )
    return _TRAINED_EVAL_ORACLE.replace("{selects}", "\nUNION ALL\n".join(selects))


def _ensure_trained_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once scratch copy of the TRAINED persisted ANN index: one
    exact Lloyd mean-update from the formula seeds for the IVF coarse
    tier (train_ivf_centroids) AND one per-subspace k-means mean-update
    for the PQ codes tier (train_pq_codebook), then the same
    hive-partitioned catalog layout as _ensure_ann_index with BOTH
    learned geometries recorded in the table properties — one artifact,
    every tier trained; ann_search ranks the learned centroids and the
    ADC key scores the learned codebook, each read back from the index
    itself."""
    from cellbase_spark.operators.similarity import (
        build_ann_index,
        train_ivf_centroids,
        train_pq_codebook,
    )

    t = scratch_table(sf_dir, "cb_annindex_tr")
    if not _index_ready(spark, t):
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        trained = train_ivf_centroids(e, n_centroids=8, dim=64, iters=1)
        cb = train_pq_codebook(e)
        build_ann_index(
            e, t, scratch_path(sf_dir, "annindex_tr"),
            centroids=trained, pq_codebook=cb,
        )
    return t


@register("q_ann_index_trained", family="llm-sim", oracle=_trained_serving_sql())
def q_ann_index_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-index SERVING end to end (round-8 verdict task #2): train
    IVF centroids with one exact Lloyd update (train_ivf_centroids),
    build the persisted partition-pruned index FROM the learned geometry
    (build_ann_index(centroids=...)), then serve top-20 through the real
    api.CellTable.ann_search path at nprobe in {1, 2, 4} — the probe
    ranks the learned centroids read back from the index's recorded
    `cellbase.centroids` property (round-8 ADVICE high: a formula-seed
    ranking over trained lists opens the wrong directories and silently
    misses neighbors). The output is the full served ranking, so the
    oracle hash pins every neighbor id, its list, and its score — a
    stronger witness than a recall scalar (the recall curve itself is
    q_ann_eval_trained).

    Scale shape: training is one narrow map + a 512-group agg per
    iteration (config-sized collect); the build is the one-artifact
    ingest layout; each serve is a PartitionFilters-pruned scan of p
    lists scoring one stored-norm dot per candidate — probe wall stays
    flat in corpus size (BASELINE.md ANN section)."""
    from cellbase_spark.api import CellTable

    e = load_table(spark, sf_dir, "embeddings")
    t = _ensure_trained_ann_index(spark, sf_dir)
    ct = CellTable(e, "embeddings", key_col="vec_id")
    qv = [((i * 37) % 101) / 101.0 for i in range(1, 65)]
    out = None
    for p in (1, 2, 4):
        r = ct.ann_search(t, qv, k=20, nprobe=p).select(
            F.lit(p).alias("nprobe"), "vec_id", "centroid_id", "score"
        )
        out = r if out is None else out.unionByName(r)
    return out


# DuckDB PQ fragments mirroring operators/similarity.pq_* exactly
_PQ_DIFF = (
    "(CAST(embedding[s*8+i] AS DOUBLE)"
    " - ((c*13 + (s*8+i)*7) % 29) / CAST(29 AS DOUBLE))"
)
_PQ_CODES = (
    "list_transform("
    " list_transform(range(0, 8), s ->"
    "  list_transform(range(0, 16), c ->"
    f"   round(list_reduce(list_transform(range(1, 9), i -> {_PQ_DIFF} * {_PQ_DIFF}),"
    "        (x, y) -> x + y), 6))),"
    " dl -> list_position(dl, list_min(dl)) - 1)"
)
_PQ_QDIFF = (
    "((((s*8+i) * 37) % 101) / CAST(101 AS DOUBLE)"
    " - ((codes[s+1]*13 + (s*8+i)*7) % 29) / CAST(29 AS DOUBLE))"
)
_PQ_ADC = (
    "round(list_reduce(list_transform(range(0, 8), s ->"
    f" round(list_reduce(list_transform(range(1, 9), i -> {_PQ_QDIFF} * {_PQ_QDIFF}),"
    "      (x, y) -> x + y), 6)), (x, y) -> x + y), 6)"
)


@register(
    "q_ann_pq",
    family="llm-sim",
    oracle=f"""
WITH enc AS (
  SELECT vec_id, {_PQ_CODES} AS codes FROM embeddings
)
SELECT vec_id,
       array_to_string(codes, '-') AS pq_codes,
       {_PQ_ADC} AS adc_dist
FROM enc
ORDER BY adc_dist ASC, vec_id ASC
LIMIT 10
""",
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the third classic index family next to
    IVF and LSH): each 64-dim float32 vector is encoded as EIGHT 4-bit
    codes (8 subspaces x 16 deterministic formula centroids — 8 bytes
    per vector, a 32x compression of the 256-byte raw vector), then the
    fixed query vector is served by ASYMMETRIC DISTANCE COMPUTATION:
    distance = sum over subspaces of ||q_s - cent[code_s]||^2 — table
    lookups against the codebook, never a raw-vector read. Returns the
    ADC top-10.

    Scale shape: encode is a narrow map (m*ks sub-dim folds per row,
    computed ONCE — the distance lists bind to a lambda variable, so
    Catalyst cannot re-inline them per reference; the whole
    codes+ADC struct is built inside one lambda scope for the same
    reason) and belongs at ingest next to build_ann_index; serving
    scans 8 bytes/vector + TakeOrderedAndProject, no shuffle. At
    100 TB the PQ-coded table is ~3 TB — the memory-resident serving
    tier IVF lists point into."""
    from cellbase_spark.io import fan_out
    from cellbase_spark.operators.similarity import pq_adc_expr, pq_codes_expr

    # fan_out: the encode map is CPU-heavy over few native splits
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    pq_struct = (
        f"element_at(transform(array({pq_codes_expr('embedding')}), codes ->"
        " struct(concat_ws('-', transform(codes, c -> cast(c as string)))"
        f" AS pq_codes, {pq_adc_expr('codes')} AS adc_dist)), 1)"
    )
    enc = e.select("vec_id", F.expr(pq_struct).alias("z"))
    return (
        enc.select("vec_id", "z.pq_codes", "z.adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "q_pq_eval",
    family="llm-sim",
    oracle=f"""
WITH enc AS (
  SELECT vec_id, {_PQ_CODES} AS codes FROM embeddings
), adc AS (
  SELECT vec_id, {_PQ_ADC} AS adc_dist
  FROM enc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
), q AS (SELECT {_QV} AS qv
), exact AS (
  SELECT vec_id, round({_sq_dist('embedding', 'qv')}, 6) AS d
  FROM embeddings, q ORDER BY d ASC, vec_id ASC LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / 10.0, 2) AS recall_at_10
FROM exact JOIN adc USING (vec_id)
""",
)
def q_pq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality eval — recall@10 of the ADC top-10 against the EXACT
    squared-L2 top-10 for the same query vector (the measured answer to
    'how much does 32x compression cost on THIS corpus', the same
    validate-per-corpus discipline as q_ann_eval for IVF/LSH). Both
    shortlists are deterministic total orders, so the overlap count is
    engine-exact.

    Scale shape: two independent narrow scans, each ending in a top-10
    TakeOrderedAndProject (per-partition heaps, no shuffle); the
    overlap join is 10x10. Nothing here grows with corpus size except
    the scans."""
    from cellbase_spark.io import fan_out
    from cellbase_spark.operators.similarity import pq_adc_expr, pq_codes_expr

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    pq_struct = (
        f"element_at(transform(array({pq_codes_expr('embedding')}), codes ->"
        f" struct({pq_adc_expr('codes')} AS adc_dist)), 1)"
    )
    adc = (
        e.select("vec_id", F.expr(pq_struct).alias("z"))
        .select("vec_id", "z.adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    qv = F.expr(qvec_expr())
    exact = (
        e.withColumn("qv", qv)
        .select(
            "vec_id",
            F.round(
                F.expr(
                    "aggregate(zip_with(embedding, qv, (x, y) ->"
                    " (cast(x as double) - cast(y as double))"
                    " * (cast(x as double) - cast(y as double))),"
                    " cast(0 as double), (acc, v) -> acc + v)"
                ),
                6,
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    return exact.join(adc, "vec_id").agg(
        F.lit(10).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(10.0), 2).alias("recall_at_10"),
    )


@register(
    "q_embed_project",
    family="llm-sim",
    oracle="""
SELECT vec_id, label,
    """
    + ",\n    ".join(
        "round(list_reduce(list_transform(range(1, 65), d ->"
        " CAST(embedding[d] AS DOUBLE)"
        f" * (1 - 2 * (((d*31 + {j}*17) % 23) % 2))), (x, y) -> x + y), 6) AS p{j}"
        for j in range(1, 9)
    )
    + """
FROM embeddings
""",
)
def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection 64 -> 8 dims (the Johnson-Lindenstrauss
    sketch a pipeline uses for cheap downstream clustering / dedup /
    visualization when full-dim cosine is overkill): p_j = sum_d x_d *
    s(d, j) with deterministic +/-1 signs s(d, j) = 1 - 2*(((d*31 +
    j*17) % 23) % 2) — the same integer-derived pseudo-plane family as
    the LSH buckets, so any engine re-derives the matrix; folds are
    sequential, outputs rounded to 6dp.

    Scale shape: pure narrow map (8 codegen'd 64-dim folds per row), no
    shuffle, no UDF; at 100 TB this is a single scan writing an 8x
    narrower table — the projection matrix never materializes."""
    e = load_table(spark, sf_dir, "embeddings")
    cols = [
        F.round(
            F.expr(
                "aggregate(transform(sequence(1, 64), d ->"
                " cast(element_at(embedding, d) as double)"
                f" * (1 - 2 * (((d*31 + {j}*17) % 23) % 2))),"
                " cast(0 as double), (acc, v) -> acc + v)"
            ),
            6,
        ).alias(f"p{j}")
        for j in range(1, 9)
    ]
    return e.select("vec_id", "label", *cols)


@register(
    "q_ann_ivfpq_indexed",
    family="llm-sim",
    oracle=f"""
WITH cfg AS (SELECT {_QV} AS qv),
qd AS (
  SELECT j, {_QD_D2_DUCK} AS d
  FROM cfg, (SELECT unnest(range(0, 8)) AS j)
),
asg AS (
  SELECT vec_id, embedding,
         CAST({_duck_ivf_argmin('embedding')} AS INTEGER) AS centroid_id
  FROM embeddings, cfg
),
enc AS (
  SELECT vec_id, centroid_id, {_PQ_CODES} AS codes
  FROM asg
  WHERE centroid_id IN (SELECT CAST(j AS INTEGER) FROM qd ORDER BY d, j LIMIT 2)
)
SELECT vec_id, centroid_id, {_PQ_ADC} AS adc_dist
FROM enc
ORDER BY adc_dist ASC, vec_id ASC
LIMIT 20
""",
)
def q_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving — the composed architecture of the production ANN
    stack (coarse quantizer prunes, product quantizer scores): the
    nprobe=2 nearest inverted lists arrive as a PartitionFilters
    IN-list on the persisted index, and the candidates are ranked by
    ASYMMETRIC DISTANCE over the STORED 8-byte PQ codes — the probe
    never reads the 256-byte raw vector column at all (ReadSchema is
    vec_id + codes; parquet column pruning makes the serving tier scan
    ~3 percent of the partitions x ~3 percent of the bytes).

    The codes are paid once at ingest (build_ann_index), like the IVF
    assignment, LSH bucket and norm — one artifact, four probe
    geometries. At 100 TB: a 3 TB codes tier over a 100 TB corpus,
    probed at list granularity; exact re-rank (fetch raw vectors for
    the ADC shortlist by vec_id) is the one extra point lookup a
    deployment adds."""
    from cellbase_spark.operators.similarity import pq_adc_expr

    t = _ann_index_table(spark, sf_dir)
    ids = _query_probe_centroids(spark, nprobe=2)
    idx = spark.table(t).where(F.col("centroid_id").isin(ids))
    return (
        idx.select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.expr(pq_adc_expr("codes")).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(20)
    )


_PQ_SUB_DUCK = f"""
  SELECT vec_id, t.s AS s, codes[t.s + 1] AS c,
         list_transform(range(1, 9),
                        i -> CAST(embedding[t.s * 8 + i] AS DOUBLE)) AS sv
  FROM (SELECT vec_id, embedding, {_PQ_CODES} AS codes FROM embeddings),
       range(0, 8) t(s)
"""
_PQ_D1_DUCK = (
    "round(list_reduce(list_transform(range(1, 9),"
    " i -> (sv[i] - ((c*13 + (s*8+i)*7) % 29) / CAST(29 AS DOUBLE))"
    " * (sv[i] - ((c*13 + (s*8+i)*7) % 29) / CAST(29 AS DOUBLE))),"
    " (x, y) -> x + y), 6)"
)
_PQ_D2_DUCK = (
    "round(list_reduce(list_transform(range(1, 9),"
    " i -> (e.sv[i] - k.cvec[i]) * (e.sv[i] - k.cvec[i])),"
    " (x, y) -> x + y), 6)"
)


@register(
    "q_pq_train",
    family="llm-sim",
    oracle=f"""
WITH sub AS ({_PQ_SUB_DUCK}),
cent AS (
  SELECT s, c, t.i AS i,
         CAST(ROUND(SUM(CAST(sv[t.i] AS DECIMAL(25,10))), 4) AS DOUBLE)
           / COUNT(*) AS m
  FROM sub, range(1, 9) t(i)
  GROUP BY 1, 2, 3
),
carr AS (SELECT s, c, list(m ORDER BY i) AS cvec FROM cent GROUP BY s, c),
a2 AS (
  SELECT vec_id, s, c, d FROM (
    SELECT e.vec_id, e.s, k.c, {_PQ_D2_DUCK} AS d,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s
                              ORDER BY {_PQ_D2_DUCK} ASC, k.c ASC) AS rk
    FROM sub e JOIN carr k ON e.s = k.s
  ) WHERE rk = 1
)
SELECT CAST(1 AS INTEGER) AS iter, CAST(s AS INTEGER) AS s,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT c) AS BIGINT) AS n_codes,
       CAST(ROUND(SUM(CAST({_PQ_D1_DUCK} AS DECIMAL(25,10))), 6) AS DOUBLE) AS qerr
FROM sub GROUP BY 2
UNION ALL
SELECT CAST(2 AS INTEGER) AS iter, CAST(s AS INTEGER) AS s,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT c) AS BIGINT) AS n_codes,
       CAST(ROUND(SUM(CAST(d AS DECIMAL(25,10))), 6) AS DOUBLE) AS qerr
FROM a2 GROUP BY 2
""",
)
def q_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook TRAINING — one exact k-means mean-update per subspace
    (the PQ analog of q_ivf_train, and the measured answer to
    q_pq_eval's 0.1 recall: formula codebooks are off-manifold; a
    deployment trains per corpus). Per subspace s: assign every
    8-dim subvector to its nearest formula code, recompute each code's
    centroid as the exact decimal-summed mean, re-assign against the
    TRAINED codebook, and report per (iteration, subspace) the total
    quantization error + codes-in-use — training quality is the qerr
    drop and the codebook utilization rise.

    Scale shape: the subspace explode is a narrow 8x map; the codebook
    agg carries (8 subspaces x <=16 codes x 8 dims) groups — config-
    sized, broadcast back for the re-assign join (each subvector meets
    only its subspace's <=16 candidates, never a cross product over
    vectors). Extra Lloyd iterations repeat the same two steps."""
    from cellbase_spark.io import fan_out
    from cellbase_spark.operators.similarity import pq_codes_expr

    # fan_out: the encode map is CPU-heavy and the embeddings table has
    # few native splits at small sf (the q_bpe_train straggler class)
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    # bind the full codes array to a lambda variable so the 128-fold
    # encode runs ONCE per row (inlining it under the per-subspace
    # lambda would recompute it 8x — measured 155 s vs seconds at sf1)
    sub = e.select(
        "vec_id",
        F.explode(
            F.expr(
                f"element_at(transform(array({pq_codes_expr('embedding')}),"
                " codes -> transform(sequence(0, 7), s -> struct(s AS s,"
                " element_at(codes, s + 1) AS c,"
                " transform(sequence(1, 8), i ->"
                " cast(element_at(embedding, s * 8 + i) as double)) AS sv))), 1)"
            )
        ).alias("z"),
    ).select("vec_id", "z.*")
    # trained codebook: exact decimal-summed per-dim means, config-sized
    cent_cols = [
        (
            F.round(
                F.sum(F.element_at("sv", i).cast("decimal(25,10)")), 4
            ).cast("double")
            / F.count(F.lit(1))
        ).alias(f"m{i}")
        for i in range(1, 9)
    ]
    carr = (
        sub.groupBy("s", "c")
        .agg(*cent_cols)
        .select("s", "c", F.array(*[f"m{i}" for i in range(1, 9)]).alias("cvec"))
    )
    d2 = (
        "round(aggregate(sequence(1, 8), cast(0 as double), (acc, i) ->"
        " acc + (element_at(sv, i) - element_at(cvec, i))"
        " * (element_at(sv, i) - element_at(cvec, i))), 6)"
    )
    a2 = (
        sub.join(F.broadcast(carr.withColumnRenamed("c", "kc")), "s")
        .select("vec_id", "s", "kc", F.expr(d2).alias("d"))
        # nearest trained code: min-struct agg instead of a rank window —
        # same (d asc, kc asc) total order, no per-group sort
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct(F.col("d"), F.col("kc"))).alias("best"))
        .select("vec_id", "s", F.col("best.kc").alias("kc"), F.col("best.d").alias("d"))
    )
    d1 = (
        "round(aggregate(sequence(1, 8), cast(0 as double), (acc, i) ->"
        " acc + (element_at(sv, i) - ((c*13 + (s*8+i)*7) % 29) / cast(29 as double))"
        " * (element_at(sv, i) - ((c*13 + (s*8+i)*7) % 29) / cast(29 as double))), 6)"
    )
    r1 = sub.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c").alias("n_codes"),
        F.round(F.sum(F.expr(d1).cast("decimal(25,10)")), 6)
        .cast("double")
        .alias("qerr"),
    ).select(F.lit(1).alias("iter"), F.col("s").cast("int").alias("s"), "n", "n_codes", "qerr")
    r2 = a2.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("kc").alias("n_codes"),
        F.round(F.sum(F.col("d").cast("decimal(25,10)")), 6)
        .cast("double")
        .alias("qerr"),
    ).select(F.lit(2).alias("iter"), F.col("s").cast("int").alias("s"), "n", "n_codes", "qerr")
    return r1.unionByName(r2)


def _ivfpq_trained_sql() -> str:
    """Oracle for q_ann_ivfpq_trained: BOTH training chains re-derived
    from the data — the IVF Lloyd update (a1→cent→carr→a2, as in the
    q_ann_index_trained oracle) and the per-subspace PQ mean-update
    (sub→cent2→carr2→enc, as in q_pq_train) — then the served ADC:
    candidates from the 2 nearest LEARNED lists, each scored by the sum
    over subspaces of round-6dp distances from the query subvector to
    its LEARNED code centroid, summed exactly in DECIMAL (order-free on
    both engines)."""
    return f"""
WITH cfg AS (SELECT {_QV} AS qv),
a1 AS (
  SELECT vec_id, embedding, best.j AS centroid_id
  FROM (SELECT vec_id, embedding, {_ARGMIN_STRUCT_DUCK} AS best FROM embeddings)
),
cent AS (
  SELECT centroid_id AS j, t.i AS i,
         CAST(ROUND(SUM(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(25,10))), 4)
              AS DOUBLE) / COUNT(*) AS m
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
),
carr AS (SELECT j, list(m ORDER BY i) AS cvec FROM cent GROUP BY j),
a2 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.j AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_LEARNED_DUCK} ASC, c.j ASC) AS rk
    FROM a1 e, carr c
  ) WHERE rk = 1
),
qd AS (
  SELECT c.j,
         round(list_reduce(list_transform(range(1, 65),
           i -> (qv[i] - c.cvec[i]) * (qv[i] - c.cvec[i])), (x, y) -> x + y), 6) AS d
  FROM carr c, cfg
),
sub AS ({_PQ_SUB_DUCK}),
cent2 AS (
  SELECT s, c, t.i AS i,
         CAST(ROUND(SUM(CAST(sv[t.i] AS DECIMAL(25,10))), 4) AS DOUBLE)
           / COUNT(*) AS m
  FROM sub, range(1, 9) t(i)
  GROUP BY 1, 2, 3
),
carr2 AS (SELECT s, c, list(m ORDER BY i) AS cvec FROM cent2 GROUP BY s, c),
enc AS (
  SELECT vec_id, s, c FROM (
    SELECT e.vec_id, e.s, k.c, {_PQ_D2_DUCK} AS d,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s
                              ORDER BY {_PQ_D2_DUCK} ASC, k.c ASC) AS rk
    FROM sub e JOIN carr2 k ON e.s = k.s
  ) WHERE rk = 1
),
qdist AS (
  SELECT en.vec_id, en.s,
         round(list_reduce(list_transform(range(1, 9), i ->
           ((((en.s * 8 + i) * 37) % 101) / CAST(101 AS DOUBLE) - k.cvec[i])
           * ((((en.s * 8 + i) * 37) % 101) / CAST(101 AS DOUBLE) - k.cvec[i])),
           (x, y) -> x + y), 6) AS d
  FROM enc en JOIN carr2 k ON en.s = k.s AND en.c = k.c
)
SELECT a.vec_id, CAST(a.centroid_id AS INTEGER) AS centroid_id,
       CAST(SUM(CAST(q.d AS DECIMAL(25,10))) AS DOUBLE) AS adc_dist
FROM a2 a JOIN qdist q ON a.vec_id = q.vec_id
WHERE a.centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT 2)
GROUP BY 1, 2
ORDER BY adc_dist ASC, a.vec_id ASC
LIMIT 20
"""


@register("q_ann_ivfpq_trained", family="llm-sim", oracle=_ivfpq_trained_sql())
def q_ann_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN stack FULLY TRAINED, served end to end (round
    9): the persisted index is built from a trained IVF coarse tier
    (train_ivf_centroids) AND a trained PQ codes tier
    (train_pq_codebook) — q_ann_ivfpq_indexed's composition with both
    formula geometries replaced by learned ones. The probe ranks the
    nprobe=2 lists against the centroids read back from
    cellbase.centroids; candidates are scored by ASYMMETRIC DISTANCE
    over the STORED learned codes against the codebook read back from
    cellbase.pq_codebook — the index is self-describing; neither
    geometry has a side-channel to desync (the round-8 ADVICE failure
    mode, closed for both tiers).

    Cross-engine exactness: per-subspace query-to-code distances are
    the proven folds rounded 6dp; the 8-term ADC total is an exact
    DECIMAL sum (order-free, so the small groupBy can hash-aggregate
    freely); codebook floats round-trip exactly through JSON repr.

    Scale shape: training = two config-sized collects; the probe scans
    2 of 8 lists reading vec_id+codes only; the codebook join is a
    broadcast of a <=128-row config relation; the ADC agg exchanges
    only (candidates x 8) rows. Nothing grows with corpus size but the
    pruned scan.

    Served through the REAL user path — api.CellTable.ann_search
    (method='adc') — so the hash gate pins exactly the code a
    deployment calls: geometry decode, learned probe ranking, codebook
    broadcast and decimal ADC live ONCE in the facade/operator layer
    (round-9 review: three inline copies collapsed to one)."""
    from cellbase_spark.api import CellTable

    e = load_table(spark, sf_dir, "embeddings")
    t = _ensure_trained_ann_index(spark, sf_dir)
    ct = CellTable(e, "embeddings", key_col="vec_id")
    qv = [((i * 37) % 101) / 101.0 for i in range(1, 65)]
    return ct.ann_search(t, qv, k=20, nprobe=2, method="adc")


def _pq_eval_trained_sql() -> str:
    """Oracle for q_pq_eval_trained: the q_pq_eval recall measurement
    run twice — ADC over the FORMULA codebook and ADC over the TRAINED
    codebook (sub→cent2→carr2→enc2 re-derived from the data) — against
    the same exact squared-L2 top-10."""
    return f"""
WITH q AS (SELECT {_QV} AS qv),
exact AS (
  SELECT vec_id, round({_sq_dist('embedding', 'qv')}, 6) AS d
  FROM embeddings, q ORDER BY d ASC, vec_id ASC LIMIT 10
),
encf AS (
  SELECT vec_id, {_PQ_CODES} AS codes FROM embeddings
),
adcf AS (
  SELECT vec_id, {_PQ_ADC} AS adc_dist
  FROM encf ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
),
sub AS ({_PQ_SUB_DUCK}),
cent2 AS (
  SELECT s, c, t.i AS i,
         CAST(ROUND(SUM(CAST(sv[t.i] AS DECIMAL(25,10))), 4) AS DOUBLE)
           / COUNT(*) AS m
  FROM sub, range(1, 9) t(i)
  GROUP BY 1, 2, 3
),
carr2 AS (SELECT s, c, list(m ORDER BY i) AS cvec FROM cent2 GROUP BY s, c),
enc2 AS (
  SELECT vec_id, s, c FROM (
    SELECT e.vec_id, e.s, k.c, {_PQ_D2_DUCK} AS d,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s
                              ORDER BY {_PQ_D2_DUCK} ASC, k.c ASC) AS rk
    FROM sub e JOIN carr2 k ON e.s = k.s
  ) WHERE rk = 1
),
qdist AS (
  SELECT en.vec_id,
         round(list_reduce(list_transform(range(1, 9), i ->
           ((((en.s * 8 + i) * 37) % 101) / CAST(101 AS DOUBLE) - k.cvec[i])
           * ((((en.s * 8 + i) * 37) % 101) / CAST(101 AS DOUBLE) - k.cvec[i])),
           (x, y) -> x + y), 6) AS d
  FROM enc2 en JOIN carr2 k ON en.s = k.s AND en.c = k.c
),
adct AS (
  SELECT vec_id, CAST(SUM(CAST(d AS DECIMAL(25,10))) AS DOUBLE) AS adc_dist
  FROM qdist GROUP BY 1 ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
)
SELECT 'pq_formula' AS method, CAST(10 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / 10.0, 2) AS recall_at_10
FROM exact JOIN adcf USING (vec_id)
UNION ALL
SELECT 'pq_trained' AS method, CAST(10 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_overlap,
       ROUND(COUNT(*) / 10.0, 2) AS recall_at_10
FROM exact JOIN adct USING (vec_id)
"""


@register("q_pq_eval_trained", family="llm-sim", oracle=_pq_eval_trained_sql())
def q_pq_eval_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ training's before/after recall witness (round 9, the codes
    analog of q_ann_eval_trained): recall@10 of ADC top-10 vs the exact
    squared-L2 top-10, measured for BOTH codebooks — the formula seeds
    (q_pq_eval's 0.1 on this corpus) and the trained one (one k-means
    mean-update per subspace, train_pq_codebook) — so the training
    verb's value is a measured delta, not an assumption.

    Scale shape: exact baseline and formula-ADC are narrow scans ending
    in top-10 heaps; the trained-ADC pass is the Arrow-kernel encode +
    a (rows x 8) decimal-sum agg — offline-eval cost, linear in corpus.
    The codebook is a config-sized collect re-entered as a broadcast
    relation."""
    from cellbase_spark.io import fan_out_barrier
    from cellbase_spark.operators.similarity import (
        pq_adc_expr,
        pq_codes_expr,
        pq_encode_arrow,
        train_pq_codebook,
    )

    e = fan_out_barrier(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    qv = F.expr(qvec_expr())
    exact = (
        e.withColumn("qv", qv)
        .select(
            "vec_id",
            F.round(
                F.expr(
                    "aggregate(zip_with(embedding, qv, (x, y) ->"
                    " (cast(x as double) - cast(y as double))"
                    " * (cast(x as double) - cast(y as double))),"
                    " cast(0 as double), (acc, v) -> acc + v)"
                ),
                6,
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    pq_struct = (
        f"element_at(transform(array({pq_codes_expr('embedding')}), codes ->"
        f" struct({pq_adc_expr('codes')} AS adc_dist)), 1)"
    )
    adcf = (
        e.select("vec_id", F.expr(pq_struct).alias("z"))
        .select("vec_id", "z.adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    cb = train_pq_codebook(e)
    carr = spark.createDataFrame(
        [(s, c, cb[s][c]) for s in sorted(cb) for c in sorted(cb[s])],
        "s int, c long, cvec array<double>",
    )
    qdist = (
        "round(aggregate(sequence(1, 8), cast(0 as double), (acc, i) ->"
        " acc + ((((s * 8 + i) * 37) % 101) / cast(101 as double) - element_at(cvec, i))"
        " * ((((s * 8 + i) * 37) % 101) / cast(101 as double) - element_at(cvec, i))), 6)"
    )
    adct = (
        pq_encode_arrow(e.select("vec_id", "embedding"), codebook=cb)
        .select("vec_id", F.posexplode("codes").alias("s", "c"))
        .join(F.broadcast(carr), ["s", "c"])
        .select("vec_id", F.expr(qdist).alias("d"))
        .groupBy("vec_id")
        .agg(F.sum(F.col("d").cast("decimal(25,10)")).cast("double").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )

    def row(method: str, short: DataFrame) -> DataFrame:
        return exact.join(short, "vec_id").agg(
            F.lit(method).alias("method"),
            F.lit(10).cast("long").alias("k"),
            F.count(F.lit(1)).alias("n_overlap"),
            F.round(F.count(F.lit(1)) / F.lit(10.0), 2).alias("recall_at_10"),
        )

    return row("pq_formula", adcf).unionByName(row("pq_trained", adct))


@register(
    "q_ann_ivfpq_rerank",
    family="llm-sim",
    oracle=f"""
WITH cfg AS (SELECT {_QV} AS qv),
qd AS (
  SELECT j, {_QD_D2_DUCK} AS d
  FROM cfg, (SELECT unnest(range(0, 8)) AS j)
),
asg AS (
  SELECT vec_id, embedding,
         CAST({_duck_ivf_argmin('embedding')} AS INTEGER) AS centroid_id
  FROM embeddings, cfg
),
enc AS (
  SELECT vec_id, embedding, centroid_id, {_PQ_CODES} AS codes
  FROM asg
  WHERE centroid_id IN (SELECT CAST(j AS INTEGER) FROM qd ORDER BY d, j LIMIT 2)
),
short AS (
  SELECT vec_id, embedding, centroid_id, {_PQ_ADC} AS adc_dist
  FROM enc
  ORDER BY adc_dist ASC, vec_id ASC
  LIMIT 50
)
SELECT vec_id, centroid_id, round({_COS_Q}, 6) AS score
FROM short, cfg
ORDER BY score DESC, vec_id ASC
LIMIT 20
""",
)
def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production serving pattern (round 9) — the exact
    RE-RANK tier q_ann_ivfpq_indexed's docstring names as 'the one
    extra point lookup a deployment adds': (1) coarse prune to the
    nprobe=2 lists via PartitionFilters, (2) ADC shortlist of 50 over
    the STORED 8-byte codes (raw vectors untouched), (3) exact cosine
    re-rank of ONLY those 50, reading the embedding column from the
    SAME already-pruned partitions (a 50-row semi-join back into the
    index, never a second corpus scan), (4) top-20 by exact score.

    ADC is cheap but lossy (recall@10 0.1 on this corpus, q_pq_eval);
    the re-rank buys back exactness for the final ranking at the cost
    of 50 raw-vector reads — the standard recall/bandwidth trade: scan
    bytes stay 8/vector for the list, 256 bytes for 50 candidates only.

    Scale shape: pruned codes-only scan + top-50 heap; the re-rank is a
    broadcast of 50 ids joined within the pruned scan (point-lookup
    cost); final top-20 is a driver-sized sort. Nothing rescans the
    corpus; nothing grows with it but the pruned list scan."""
    from cellbase_spark.operators.similarity import pq_adc_expr

    t = _ann_index_table(spark, sf_dir)
    ids = _query_probe_centroids(spark, nprobe=2)
    idx = spark.table(t).where(F.col("centroid_id").isin(ids))
    short = (
        idx.select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.expr(pq_adc_expr("codes")).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(50)
        .select("vec_id", "centroid_id")
    )
    cfg = _q_cfg(spark)
    rer = (
        idx.select("vec_id", "embedding", "nrm")
        .join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(cfg))
        .select("vec_id", "centroid_id", _stored_norm_score().alias("score"))
    )
    return rer.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(20)


def _trained_update_sql() -> str:
    """Oracle for q_ann_index_update_trained: the learned-centroid chain
    derived from the BASE corpus only (training is frozen at base-build
    time), the delta batch assigned under those SAME centroids, then the
    probe over the union's 2 nearest learned lists."""
    return f"""
WITH cfg AS (SELECT {_QV} AS qv),
a1 AS (
  SELECT vec_id, embedding, best.j AS centroid_id
  FROM (SELECT vec_id, embedding, {_ARGMIN_STRUCT_DUCK} AS best FROM embeddings)
),
cent AS (
  SELECT centroid_id AS j, t.i AS i,
         CAST(ROUND(SUM(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(25,10))), 4)
              AS DOUBLE) / COUNT(*) AS m
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
),
carr AS (SELECT j, list(m ORDER BY i) AS cvec FROM cent GROUP BY j),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 97 = 3
),
a2 AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.j AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_LEARNED_DUCK} ASC, c.j ASC) AS rk
    FROM corpus e, carr c
  ) WHERE rk = 1
),
qd AS (
  SELECT c.j,
         round(list_reduce(list_transform(range(1, 65),
           i -> (qv[i] - c.cvec[i]) * (qv[i] - c.cvec[i])), (x, y) -> x + y), 6) AS d
  FROM carr c, cfg
)
SELECT vec_id,
       CASE WHEN vec_id >= 10000000 THEN 'delta' ELSE 'base' END AS gen,
       CAST(centroid_id AS INTEGER) AS centroid_id,
       round({_COS_Q}, 6) AS score
FROM a2, cfg
WHERE centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT 2)
ORDER BY score DESC, vec_id ASC
LIMIT 20
"""


def _ensure_trained_ann_delta(spark: SparkSession, sf_dir: str) -> str:
    """Build-once DELTA generation for the TRAINED index, quantized
    under the base's FROZEN recorded geometry: the centroids and
    codebook are read back from the base index's table properties and
    passed to build_ann_index verbatim — the delta NEVER retrains
    (retraining per batch would silently shift list boundaries between
    generations, the exact desync class the round-8 ADVICE flagged on
    the probe side)."""
    from cellbase_spark.operators.similarity import (
        build_ann_index,
        decode_index_props,
        table_props,
    )

    t = scratch_table(sf_dir, "cb_anndelta_tr")
    if not _index_ready(spark, t):
        base_t = _ensure_trained_ann_index(spark, sf_dir)
        centroids, cb = decode_index_props(table_props(spark, base_t))
        batch = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") % 97 == 3)
            .select((F.col("vec_id") + 10000000).alias("vec_id"), "embedding")
        )
        build_ann_index(
            batch, t, scratch_path(sf_dir, "anndelta_tr"),
            centroids=centroids, pq_codebook=cb,
        )
    return t


@register(
    "q_ann_index_update_trained", family="llm-sim", oracle=_trained_update_sql()
)
def q_ann_index_update_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance under TRAINED geometry (round 9): a new-batch
    delta generation is quantized with the base index's FROZEN recorded
    centroids + codebook (read back from its table properties — the
    delta never retrains), and the probe unions base + delta with the
    learned-centroid ranking pushed into both scans as the same
    PartitionFilters IN-list. q_ann_index_update proved the
    immutable-generation lifecycle for the formula geometry; this key
    proves the part that only exists once training exists: generation
    CONSISTENCY. If the delta re-derived its own centroids, the same
    vector could land in different lists across generations and a
    pruned probe would silently miss it — the cross-generation analog
    of the round-8 probe-desync ADVICE.

    Scale shape: delta work is proportional to the batch; the probe
    scans nprobe lists of each generation; the learned ranking is a
    config-sized job. Compaction (q_compact_files) remains the periodic
    repair as generations accumulate."""
    from cellbase_spark.operators.similarity import decode_index_props, table_props

    base_t = _ensure_trained_ann_index(spark, sf_dir)
    base = spark.table(base_t)
    delta = spark.table(_ensure_trained_ann_delta(spark, sf_dir))
    centroids, _ = decode_index_props(table_props(spark, base_t))
    ids = _query_probe_centroids(spark, nprobe=2, centroids=centroids)
    probed = base.unionByName(delta).where(F.col("centroid_id").isin(ids))
    return (
        probed.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.when(F.col("vec_id") >= 10000000, F.lit("delta"))
            .otherwise(F.lit("base"))
            .alias("gen"),
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


def _compact_sql() -> str:
    """Oracle for q_ann_index_compact: identical chain to
    q_ann_index_update_trained's, with the corpus widened to base + TWO
    delta batches — compaction must be INVISIBLE to the probe, so the
    oracle is simply the union probe's answer (if the compaction lost,
    duplicated, or re-quantized one row, the top-20 would diverge)."""
    return f"""
WITH cfg AS (SELECT {_QV} AS qv),
a1 AS (
  SELECT vec_id, embedding, best.j AS centroid_id
  FROM (SELECT vec_id, embedding, {_ARGMIN_STRUCT_DUCK} AS best FROM embeddings)
),
cent AS (
  SELECT centroid_id AS j, t.i AS i,
         CAST(ROUND(SUM(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(25,10))), 4)
              AS DOUBLE) / COUNT(*) AS m
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
),
carr AS (SELECT j, list(m ORDER BY i) AS cvec FROM cent GROUP BY j),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 97 = 3
  UNION ALL
  SELECT vec_id + 20000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 97 = 11
),
a2 AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.j AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_LEARNED_DUCK} ASC, c.j ASC) AS rk
    FROM corpus e, carr c
  ) WHERE rk = 1
),
qd AS (
  SELECT c.j,
         round(list_reduce(list_transform(range(1, 65),
           i -> (qv[i] - c.cvec[i]) * (qv[i] - c.cvec[i])), (x, y) -> x + y), 6) AS d
  FROM carr c, cfg
)
SELECT vec_id,
       CASE WHEN vec_id >= 20000000 THEN 'delta2'
            WHEN vec_id >= 10000000 THEN 'delta1'
            ELSE 'base' END AS gen,
       CAST(centroid_id AS INTEGER) AS centroid_id,
       round({_COS_Q}, 6) AS score
FROM a2, cfg
WHERE centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT 2)
ORDER BY score DESC, vec_id ASC
LIMIT 20
"""


def _ensure_trained_ann_delta2(spark: SparkSession, sf_dir: str) -> str:
    """Second frozen-geometry delta batch (vec_id % 97 == 11, offset
    +20M), quantized under the base's recorded centroids + codebook
    exactly like _ensure_trained_ann_delta — two deltas exist so the
    compaction key exercises a REAL multi-generation merge, not a
    two-table special case."""
    from cellbase_spark.operators.similarity import (
        build_ann_index,
        decode_index_props,
        table_props,
    )

    t = scratch_table(sf_dir, "cb_anndelta2_tr")
    if not _index_ready(spark, t):
        base_t = _ensure_trained_ann_index(spark, sf_dir)
        centroids, cb = decode_index_props(table_props(spark, base_t))
        batch = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") % 97 == 11)
            .select((F.col("vec_id") + 20000000).alias("vec_id"), "embedding")
        )
        build_ann_index(
            batch, t, scratch_path(sf_dir, "anndelta2_tr"),
            centroids=centroids, pq_codebook=cb,
        )
    return t


def _ensure_trained_ann_compact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once COMPACTED generation: base + both frozen-geometry
    deltas merged into one artifact by compact_ann_index (geometry
    verified identical across generations, carried forward onto the
    compacted table). Probes then resolve ONE catalog table and open
    one file per probed leaf, however many delta days accumulated."""
    from cellbase_spark.operators.similarity import compact_ann_index

    t = scratch_table(sf_dir, "cb_anncompact_tr")
    if not _index_ready(spark, t):
        gens = [
            _ensure_trained_ann_index(spark, sf_dir),
            _ensure_trained_ann_delta(spark, sf_dir),
            _ensure_trained_ann_delta2(spark, sf_dir),
        ]
        compact_ann_index(
            spark, t, scratch_path(sf_dir, "anncompact_tr"), gens
        )
    return t


@register("q_ann_index_compact", family="llm-sim", oracle=_compact_sql())
def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-index COMPACTION across delta generations (round-10
    verdict task #3 — the last unwitnessed verb of the index
    lifecycle): base + two frozen-geometry delta batches are merged by
    compact_ann_index into ONE artifact — rows carried verbatim (no
    re-quantization; centroid_id/codes/nrm are ingest-time facts under
    the frozen geometry), one exchange on the partition keys
    re-clustering every (centroid_id, bucket) leaf to a single file,
    geometry properties verified identical across generations and
    carried forward. The probe then scans the COMPACTED table only —
    ranked against the geometry read back from the compacted table's
    own properties (proving the carry-forward, not just the merge) —
    and must return the union probe's answer verbatim (the oracle IS
    q_ann_index_update_trained's chain widened to two deltas).

    Scale shape: compaction cost is one shuffle of the merged bytes per
    repair cycle (amortized across the days of deltas it absorbs; a
    leaf-targeted variant under dynamic partition overwrite narrows it
    further); probe cost drops from one file-open per generation per
    probed leaf back to one per leaf. tests/test_plans.py pins that no
    base/delta path appears in the compacted probe's scan."""
    from cellbase_spark.operators.similarity import decode_index_props, table_props

    t = _ensure_trained_ann_compact(spark, sf_dir)
    centroids, _ = decode_index_props(table_props(spark, t))
    ids = _query_probe_centroids(spark, nprobe=2, centroids=centroids)
    probed = spark.table(t).where(F.col("centroid_id").isin(ids))
    return (
        probed.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.when(F.col("vec_id") >= 20000000, F.lit("delta2"))
            .when(F.col("vec_id") >= 10000000, F.lit("delta1"))
            .otherwise(F.lit("base"))
            .alias("gen"),
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


def _ensure_trained_ann_compact_partial(spark: SparkSession, sf_dir: str) -> str:
    """Build-once IN-PLACE compacted artifact: a private copy of the
    trained base (compact_ann_index over one generation = copy with the
    geometry carried) that then ABSORBS both frozen-geometry deltas via
    compact_ann_index_partial — only the delta-touched leaves are
    rewritten, under dynamic partition overwrite. A copy is mutated (not
    the shared base scratch table) so every other trained-serving key
    keeps its immutable artifact.

    CRASH-SAFE (r10 ADVICE low): readiness for THIS table additionally
    requires the cellbase.absorbed_ids completion marker that
    compact_ann_index_partial records only AFTER a successful absorb —
    a crash between the base copy and the partial absorb (or inside the
    absorb before its properties ALTER) leaves a table that passes the
    geometry check but is missing delta rows; the marker check routes
    that table through the rebuild path (overwrite copy + re-absorb)
    instead of probing a base-only artifact."""
    from cellbase_spark.operators.similarity import (
        compact_ann_index,
        compact_ann_index_partial,
        table_props,
    )

    t = scratch_table(sf_dir, "cb_annpart_tr")
    absorbed_done = _index_ready(spark, t) and table_props(
        spark, t, max_age_sec=0
    ).get("cellbase.absorbed_ids")
    if not absorbed_done:
        base = _ensure_trained_ann_index(spark, sf_dir)
        compact_ann_index(
            spark, t, scratch_path(sf_dir, "annpart_tr"), [base]
        )
        compact_ann_index_partial(
            spark,
            t,
            [
                _ensure_trained_ann_delta(spark, sf_dir),
                _ensure_trained_ann_delta2(spark, sf_dir),
            ],
        )
    return t


@register(
    "q_ann_index_compact_partial", family="llm-sim", oracle=_compact_sql()
)
def q_ann_index_compact_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAF-TARGETED in-place compaction (round 10 — the deployment form
    of q_ann_index_compact): the two delta generations are absorbed INTO
    the base artifact by rewriting only the (centroid_id, bucket) leaves
    the deltas touch — the base is read through a PartitionFilters-
    pruned slice, the merge lands under dynamic partition overwrite, and
    untouched leaves are never opened or rewritten
    (tests/test_plans.py pins both the untouched-files-identical
    invariant and the probe's single-artifact scan). The oracle is the
    SAME union-probe chain as q_ann_index_compact: whichever repair form
    ran, the probe answer must be unchanged.

    Scale shape: repair cost tracks the DELTA (its rows + the touched
    slice of the base), not the corpus — the daily form; the full
    rewrite (q_ann_index_compact) remains the periodic deep clean."""
    from cellbase_spark.operators.similarity import decode_index_props, table_props

    t = _ensure_trained_ann_compact_partial(spark, sf_dir)
    centroids, _ = decode_index_props(table_props(spark, t))
    ids = _query_probe_centroids(spark, nprobe=2, centroids=centroids)
    probed = spark.table(t).where(F.col("centroid_id").isin(ids))
    return (
        probed.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.when(F.col("vec_id") >= 20000000, F.lit("delta2"))
            .when(F.col("vec_id") >= 10000000, F.lit("delta1"))
            .otherwise(F.lit("base"))
            .alias("gen"),
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


def _delete_sql() -> str:
    """Oracle for the index-DELETE keys: the q_ann_index_trained probe
    chain with the corpus REBUILT WITHOUT the deleted ids (vec_id % 3
    == 0) — the compaction-invariance playbook applied to deletion.
    Training (a1/cent/carr) still runs over the FULL corpus: deletion
    happens AFTER the build, under the frozen learned geometry — a
    takedown never retrains. Both the tombstone-serving key and the
    post-compaction key hash against this same rebuild, which is
    exactly the delete contract: logical and physical deletion must be
    indistinguishable to a probe."""
    return f"""
WITH cfg AS (SELECT {_QV} AS qv),
a1 AS (
  SELECT vec_id, embedding, best.j AS centroid_id
  FROM (SELECT vec_id, embedding, {_ARGMIN_STRUCT_DUCK} AS best FROM embeddings)
),
cent AS (
  SELECT centroid_id AS j, t.i AS i,
         CAST(ROUND(SUM(CAST(CAST(embedding[t.i] AS DOUBLE) AS DECIMAL(25,10))), 4)
              AS DOUBLE) / COUNT(*) AS m
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
),
carr AS (SELECT j, list(m ORDER BY i) AS cvec FROM cent GROUP BY j),
corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0
),
a2 AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.j AS centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_LEARNED_DUCK} ASC, c.j ASC) AS rk
    FROM corpus e, carr c
  ) WHERE rk = 1
),
qd AS (
  SELECT c.j,
         round(list_reduce(list_transform(range(1, 65),
           i -> (qv[i] - c.cvec[i]) * (qv[i] - c.cvec[i])), (x, y) -> x + y), 6) AS d
  FROM carr c, cfg
)
SELECT vec_id, CAST(centroid_id AS INTEGER) AS centroid_id,
       round({_COS_Q}, 6) AS score
FROM a2, cfg
WHERE centroid_id IN (SELECT j FROM qd ORDER BY d, j LIMIT 2)
ORDER BY score DESC, vec_id ASC
LIMIT 20
"""


def _ensure_trained_ann_delete(spark: SparkSession, sf_dir: str) -> str:
    """Build-once DELETED artifact: a private copy of the trained base
    (compact_ann_index over one generation) that then TOMBSTONES every
    vec_id % 3 == 0 via delete_from_ann_index — the ids stay physically
    present in the leaves (this key witnesses the LOGICAL half of the
    delete contract; the physical half is _ensure_trained_ann_delete_
    compact). Readiness requires a nonzero cellbase.tombstones marker:
    a crash between the copy and the delete would otherwise serve an
    undeleted index under a green geometry check."""
    from cellbase_spark.operators.similarity import (
        compact_ann_index,
        delete_from_ann_index,
        table_props,
    )

    t = scratch_table(sf_dir, "cb_anndel_tr")
    ready = _index_ready(spark, t) and int(
        table_props(spark, t, max_age_sec=0).get("cellbase.tombstones", 0)
        or 0
    ) > 0
    if not ready:
        base = _ensure_trained_ann_index(spark, sf_dir)
        compact_ann_index(
            spark, t, scratch_path(sf_dir, "anndel_tr"), [base]
        )
        doomed = (
            spark.table(t).where(F.col("vec_id") % 3 == 0).select("vec_id")
        )
        delete_from_ann_index(spark, t, doomed)
    return t


@register("q_ann_index_delete", family="llm-sim", oracle=_delete_sql())
def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index DELETE, logical/serving half (r10 VERDICT task #2 — the
    missing lifecycle verb: every production corpus runs takedowns):
    one third of the trained index's ids (vec_id % 3 == 0, dense enough
    that the undeleted top-20 is certainly disturbed) are tombstoned by
    delete_from_ann_index — an O(|takedown|) side-table append, no leaf
    opened — and the probe excludes them through apply_tombstones (the
    same broadcast anti-join ann_search now applies). The oracle is a
    from-scratch rebuild WITHOUT the deleted ids under the same frozen
    learned geometry: a tombstone that leaked one deleted row into the
    top-20, or over-deleted one survivor, hash-fails.

    Scale shape: delete cost tracks the takedown list (append + one
    distinct count), probe overhead is one broadcast anti-join of a
    takedown-sized set — the corpus is never rescanned and no file is
    rewritten until the next compaction absorbs the tombstones."""
    from cellbase_spark.operators.similarity import (
        apply_tombstones,
        decode_index_props,
        table_props,
    )

    t = _ensure_trained_ann_delete(spark, sf_dir)
    centroids, _ = decode_index_props(table_props(spark, t))
    ids = _query_probe_centroids(spark, nprobe=2, centroids=centroids)
    probed = apply_tombstones(
        spark, t, spark.table(t).where(F.col("centroid_id").isin(ids))
    )
    return (
        probed.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


def _ensure_trained_ann_delete_compact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once PHYSICALLY-deleted artifact: compact_ann_index over
    the tombstoned copy — the full rewrite excludes every tombstoned
    row and the new table starts with no tombstone side-table at all
    (the physical half of the delete contract)."""
    from cellbase_spark.operators.similarity import compact_ann_index

    t = scratch_table(sf_dir, "cb_anndelc_tr")
    if not _index_ready(spark, t):
        src = _ensure_trained_ann_delete(spark, sf_dir)
        compact_ann_index(
            spark, t, scratch_path(sf_dir, "anndelc_tr"), [src]
        )
    return t


@register("q_ann_index_delete_compact", family="llm-sim", oracle=_delete_sql())
def q_ann_index_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index DELETE, physical half: compaction over the tombstoned
    artifact drops every deleted row from the rewritten leaves and the
    compacted table carries NO tombstones — the probe below runs with
    no anti-join at all (apply_tombstones is a no-op on a clean table)
    yet must hash-match the SAME rebuild-without-deleted oracle as
    q_ann_index_delete. Same answer from the logical state and the
    physical state is the whole delete contract; tests additionally
    pin that the deleted vec_ids are absent from the compacted parquet
    and that a leaf fully emptied by deletion is dropped rather than
    left serving stale files (the dynamic-partition-overwrite gap)."""
    from cellbase_spark.operators.similarity import (
        apply_tombstones,
        decode_index_props,
        table_props,
    )

    t = _ensure_trained_ann_delete_compact(spark, sf_dir)
    centroids, _ = decode_index_props(table_props(spark, t))
    ids = _query_probe_centroids(spark, nprobe=2, centroids=centroids)
    probed = apply_tombstones(
        spark, t, spark.table(t).where(F.col("centroid_id").isin(ids))
    )
    return (
        probed.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


def _ensure_trained_ann_lifecycle(spark: SparkSession, sf_dir: str) -> str:
    """Build-once artifact for the FULL lifecycle composition (r10
    VERDICT task #7 — the q_dedup_generations treatment for the vector
    index): train -> build -> delta1 -> PARTIAL compact (leaf-targeted
    absorb into a working copy) -> delta2 -> FULL compact (working copy
    + delta2 merged into the final artifact). Every verb is the real
    operator under the shared frozen geometry; the final table must be
    indistinguishable from any other composition order to a probe.
    Readiness of the intermediate working copy rides its absorbed_ids
    completion marker (the crash-safety discipline of
    _ensure_trained_ann_compact_partial); the final table's geometry
    check covers the last step."""
    from cellbase_spark.operators.similarity import (
        compact_ann_index,
        compact_ann_index_partial,
        table_props,
    )

    t = scratch_table(sf_dir, "cb_annlife_tr")
    if not _index_ready(spark, t):
        base = _ensure_trained_ann_index(spark, sf_dir)
        work = scratch_table(sf_dir, "cb_annlife_work")
        work_done = _index_ready(spark, work) and table_props(
            spark, work, max_age_sec=0
        ).get("cellbase.absorbed_ids")
        if not work_done:
            compact_ann_index(
                spark, work, scratch_path(sf_dir, "annlife_work"), [base]
            )
            compact_ann_index_partial(
                spark, work, [_ensure_trained_ann_delta(spark, sf_dir)]
            )
        compact_ann_index(
            spark,
            t,
            scratch_path(sf_dir, "annlife_tr"),
            [work, _ensure_trained_ann_delta2(spark, sf_dir)],
        )
    return t


@register("q_ann_index_lifecycle", family="llm-sim", oracle=_compact_sql())
def q_ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL index lifecycle under one hash (r10 VERDICT task #7): the
    chain train -> build -> delta1 -> partial-compact -> delta2 ->
    full-compact, probed once at the end — the composition witness that
    the lifecycle verbs COMMUTE with serving (q_ann_index_compact
    proves one full merge, q_ann_index_compact_partial one absorb; this
    key proves a mixed multi-step history). The oracle is the same
    union-probe rebuild as the compaction keys (base + both deltas,
    frozen learned geometry): if any step lost, duplicated, or
    re-quantized one row — e.g. the partial absorb double-counting
    delta1 inside the later full merge — the gen-tagged top-20 diverges.

    Scale shape: each verb keeps its own bound (absorb ∝ delta, full
    merge = one exchange of merged bytes, probe = pruned flat scan);
    the composition adds nothing — which is the property this key
    pins."""
    from cellbase_spark.operators.similarity import (
        decode_index_props,
        table_props,
    )

    t = _ensure_trained_ann_lifecycle(spark, sf_dir)
    centroids, _ = decode_index_props(table_props(spark, t))
    ids = _query_probe_centroids(spark, nprobe=2, centroids=centroids)
    probed = spark.table(t).where(F.col("centroid_id").isin(ids))
    return (
        probed.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.when(F.col("vec_id") >= 20000000, F.lit("delta2"))
            .when(F.col("vec_id") >= 10000000, F.lit("delta1"))
            .otherwise(F.lit("base"))
            .alias("gen"),
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )


# ---- cross-session attach (round 14, r13 verdict #1) ------------------------


_INGEST_SCRIPT = """
import sys
sf_dir, table, home = sys.argv[1], sys.argv[2], sys.argv[3]
from cellbase_spark.session import get_spark
spark = get_spark("cellbase-ingest-attach", extra_conf={"spark.sql.shuffle.partitions": "8"})
spark.sparkContext.setLogLevel("ERROR")
from cellbase_spark.io import load_table
from cellbase_spark.operators.similarity import build_ann_index
build_ann_index(
    load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
    table,
    home,
)
spark.stop()
"""


def _ingest_ann_index_foreign(sf_dir: str, table: str, home: str) -> None:
    """ANN ingest in a SEPARATE fresh interpreter+session (the
    deployment's ingest job; lock/retry semantics in
    operators/publish.foreign_ingest)."""
    from cellbase_spark.operators.publish import foreign_ingest

    foreign_ingest(home, _INGEST_SCRIPT, [sf_dir, table, home])


def _ann_index_attached(spark: SparkSession, sf_dir: str) -> str:
    """The cross-session serving path: ATTACH the durable published ANN
    index with zero rebuild; if no session ever published one for this
    (sf_dir, source-signature), run the ingest in a separate fresh
    process first. Contrast _ann_index_table, whose artifact is
    (process, sf)-keyed and rebuilt by every new process — here the
    probing session performs ONLY catalog registration (pointer read,
    manifest validation, CREATE + partition import, prop stamp): no
    scan, no write, no assignment recompute."""
    from cellbase_spark.io import durable_path, source_signature
    from cellbase_spark.operators.publish import attach_artifact, pointer_path

    sig = source_signature(sf_dir, "embeddings")
    home = durable_path(sf_dir, sig, "annindex")
    table = f"cb_annindex_att_{sig}"
    if not os.path.exists(pointer_path(home)):
        _ingest_ann_index_foreign(sf_dir, table, home)
    return attach_artifact(spark, table, home)


@register(
    "q_ann_index_attach",
    family="llm-sim",
    oracle=_IVF_INDEXED_ORACLE,
)
def q_ann_index_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against an ATTACHED index built by a DIFFERENT process
    (round 14, r13 verdict #1) — the missing half of the 100 TB story
    "build at ingest, serve forever": every other persisted artifact is
    (process, sf)-keyed, so a fresh session re-paid the full ingest
    before its first probe. Here the artifact home is keyed by sf +
    SOURCE SIGNATURE (never PID); the first-ever caller triggers the
    ingest in a separate fresh interpreter (the deployment's ingest
    job), and THIS session — the driver's own foreign session included
    — only attaches: pointer read, manifest completeness+build_id
    validation, CREATE TABLE with the manifest's recorded schema,
    partition import into this catalog, geometry-prop stamp. Zero
    rebuild by construction (the probing session never calls
    build_ann_index in-process; tests/test_publish.py pins a
    build-forbidden foreign attach), and the probe plan is the same
    PartitionFilters-pruned scan as q_ann_ivf_indexed, whose oracle
    this key must hash-match exactly — bit-identical serving through
    the attach path."""
    t = _ann_index_attached(spark, sf_dir)
    ids = _query_probe_centroids(spark, nprobe=2)
    idx = spark.table(t).where(F.col("centroid_id").isin(ids))
    return (
        idx.crossJoin(F.broadcast(_q_cfg(spark)))
        .select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            _stored_norm_score().alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(20)
    )
