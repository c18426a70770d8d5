"""Training-data-pipeline queries: deterministic sampling / splits,
sequence packing, repetition-quality signals, profiling histograms, and
the ORC columnar sink (SURVEY.md §2.8 extensions beyond L1-L21).

Reference analog: none — cellbase is a spreadsheet addon; these are the
north-star LLM-pipeline operators the task mandates as first-class.

Scale notes: every query here is either a pure per-row map (sampling,
masking), a single two-phase hash aggregate, or one window pass — no
query introduces a shuffle that grows faster than the data.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.functions.exact import dsum, dsum_sql
from cellbase_spark.io import load_table, scratch_path
from cellbase_spark.operators.sampling import (
    hash_bucket,
    hash_bucket_duck_sql,
    hash_bucket_spark_sql,
    hash_u60_duck_sql,
    hash_u60_spark_sql,
)
from cellbase_spark.registry import register


@register(
    "q_sample_hash",
    family="pipeline",
    oracle=f"""
SELECT o_orderkey, o_custkey, o_totalprice,
       {hash_bucket_duck_sql('o_orderkey')} AS bucket
FROM orders
WHERE {hash_bucket_duck_sql('o_orderkey')} < 10
""",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample: membership = md5-bucket(key) < 10.

    Unlike df.sample() (per-partition seeded -> membership changes when
    the cluster repartitions), a content-hash sample is stable across
    runs, engines, and partitionings — a pure narrow map with zero
    shuffle, so it costs one scan at any scale."""
    o = load_table(spark, sf_dir, "orders")
    b = hash_bucket("o_orderkey")
    return (
        o.withColumn("bucket", b)
        .where(F.col("bucket") < 10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "bucket")
    )


@register(
    "q_split_train_test",
    family="pipeline",
    oracle=f"""
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (SELECT n_chars, {hash_bucket_duck_sql('doc_id')} AS b FROM documents)
GROUP BY 1
""",
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by document-id hash, with per-split
    size accounting. The split column is a narrow map; the accounting agg
    shuffles 3 rows. At 100 TB the split is typically written out as a
    partition column (partitionBy('split')) so downstream jobs prune."""
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    return (
        d.withColumn("b", b)
        .withColumn(
            "split",
            F.when(F.col("b") < 80, "train").when(F.col("b") < 90, "val").otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "q_pack_sequences",
    family="pipeline",
    oracle="""
SELECT lang, CAST(FLOOR((cum_tok - 1) / 4096) AS BIGINT) AS bin,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
FROM (
  SELECT lang, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents)
)
GROUP BY lang, bin
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign docs (in stable doc_id order
    per language) to contiguous 4096-token bins via a running token sum —
    bin = floor((cumsum-1)/budget). One window pass, partitioned by lang,
    so each language packs independently and in parallel; no driver loop.
    (Greedy first-fit packs tighter but is inherently sequential; the
    contiguous-fill variant is the scalable deterministic choice.)"""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.withColumn("cum_tok", F.sum("n_tok").over(w))
        .withColumn("bin", F.floor((F.col("cum_tok") - 1) / 4096).cast("long"))
        .groupBy("lang", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("bin_tokens"))
    )


@register(
    "q_repetition_ratio",
    family="pipeline",
    oracle="""
SELECT doc_id, n_tok, n_distinct,
       CAST(ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tok, 6) AS DOUBLE) AS rep_ratio
FROM (
  SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_distinct
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
WHERE n_tok > 0
""",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style): fraction of tokens that
    repeat an earlier token, 1 - distinct/total. Computed per-row with
    array built-ins (no explode, no shuffle at all) — integer counts and
    one IEEE division keep it bit-identical to the oracle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    return (
        d.select(
            "doc_id",
            F.size("toks").alias("n_tok"),
            F.size(F.array_distinct("toks")).alias("n_distinct"),
        )
        .where(F.col("n_tok") > 0)
        .withColumn(
            "rep_ratio",
            F.round(1.0 - F.col("n_distinct").cast("double") / F.col("n_tok"), 6),
        )
    )


@register(
    "q_length_histogram",
    family="pipeline",
    oracle="""
SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket,
       COUNT(*) AS n_docs, MIN(n_chars) AS lo, MAX(n_chars) AS hi
FROM documents
GROUP BY bucket
""",
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling histogram: fixed-width (100-char) buckets over
    document length. floor-div bucketing is engine-agnostic algebra (vs
    width_bucket, which DuckDB lacks); one two-phase hash agg, shuffle
    carries one row per bucket."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("bucket", F.floor(F.col("n_chars") / 100).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
    )


@register(
    "q_pii_mask",
    family="pipeline",
    oracle="""
SELECT event_type,
       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS masked,
       COUNT(*) AS n
FROM events
GROUP BY event_type, masked
""",
)
def q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction: mask digit runs in a free-text payload before
    it enters a training corpus. Pure per-row regexp_replace (narrow map,
    JVM regex — no Python in the loop); the pattern is restricted to
    POSIX-class syntax so Java and RE2 agree byte-for-byte."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("masked", F.regexp_replace(F.col("props"), "[0-9]+", "<NUM>"))
        .groupBy("event_type", "masked")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_scan_orc",
    family="scan",
    oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_acctbal > 0
""",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/scan round-trip (the second columnar format Spark ships
    built-in; both get predicate pushdown + column pruning from the same
    DataSource V2 path). Write a filtered customer projection to ORC,
    read it back; oracle is the original table under the same filter."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0)
    c = c.select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    out = os.path.join(tempfile.gettempdir(), "cellbase_spark_orc", "customer_pos")
    c.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "q_sample_stratified",
    family="pipeline",
    oracle=f"""
SELECT c_nationkey, c_custkey, c_acctbal
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY {hash_u60_duck_sql('c_custkey')}, c_custkey) AS rn
  FROM customer
)
WHERE rn <= 5
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k stratified sample: 5 customers per nation, chosen by
    ordering each stratum by a content hash — a reproducible uniform
    draw, so the same rows win on every engine/run/partitioning (the
    deterministic analog of reservoir sampling). One window pass
    partitioned by the stratum key."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.expr(hash_u60_spark_sql("c_custkey")), F.col("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


# MERGE delta, derived deterministically from customer itself so both
# engines rebuild it byte-identically: every 10th key is an UPDATE
# (+100 balance), every 97th key spawns an INSERT under key+1_000_000.
_DELTA_DUCK = """
SELECT c_custkey, c_name, c_acctbal + CAST(100 AS DOUBLE) AS c_acctbal
FROM customer WHERE c_custkey % 10 = 0
UNION ALL
SELECT c_custkey + 1000000, 'NEW#' || CAST(c_custkey AS VARCHAR), CAST(0 AS DOUBLE)
FROM customer WHERE c_custkey % 97 = 0
"""


@register(
    "q_merge_upsert",
    family="pipeline",
    oracle=f"""
WITH delta AS ({_DELTA_DUCK})
SELECT COALESCE(d.c_custkey, b.c_custkey) AS c_custkey,
       COALESCE(d.c_name, b.c_name) AS c_name,
       COALESCE(d.c_acctbal, b.c_acctbal) AS c_acctbal,
       CASE WHEN d.c_custkey IS NULL THEN 'kept'
            WHEN b.c_custkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS merge_action
FROM (SELECT c_custkey, c_name, c_acctbal FROM customer) b
FULL OUTER JOIN delta d USING (c_custkey)
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert as a relational op (warehouse table maintenance —
    updates win, unmatched delta rows insert, unmatched base rows keep):
    one full-outer shuffle join on the key + per-column COALESCE. At
    100 TB the delta side is typically small -> Spark picks a broadcast
    or AQE-optimized join; the rewrite is the same plan Delta/Iceberg
    MERGE compiles to under copy-on-write."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    updates = (
        c.where(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0))
    )
    inserts = c.where(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    delta = updates.unionByName(inserts)
    b, d = c.alias("b"), delta.alias("d")
    j = b.join(d, on=F.col("b.c_custkey") == F.col("d.c_custkey"), how="full_outer")
    return j.select(
        F.coalesce("d.c_custkey", "b.c_custkey").alias("c_custkey"),
        F.coalesce("d.c_name", "b.c_name").alias("c_name"),
        F.coalesce("d.c_acctbal", "b.c_acctbal").alias("c_acctbal"),
        F.when(F.col("d.c_custkey").isNull(), "kept")
        .when(F.col("b.c_custkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )


@register(
    "q_agg_approx_percentile",
    family="agg",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n, TRUE AS within_tol
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — THE percentile at
    100 TB: mergeable fixed-size sketch per partition, one small final
    merge, vs exact percentile's full sort. Accuracy knob = max relative
    error (here 0.001).

    Gate form (round 14, r13 verdict #2): a GK sketch's merge result
    depends on partition order, so neither the raw percentile nor any
    rounding of it can hash-match a foreign engine. The key emits the
    deterministic TOLERANCE VERDICT instead — per group, `within_tol` =
    every one of p50/p90/p99 within 1% relative error of the EXACT
    sort-based percentile computed in the same agg. The envelope is
    ~10x wider than the sketch's worst merge-order wobble at
    accuracy=1000, so the boolean is stable across partitionings, and
    the exact value never crosses engines (Spark-vs-DuckDB percentile
    interpolation stays out of the hash). The oracle asserts the group
    census plus a TRUE literal: the gate fails iff the sketch drifts
    out of envelope."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_approx(l_extendedprice, array(0.5, 0.9, 0.99), 1000)"
            ).alias("_approx"),
            F.expr(
                "percentile(l_extendedprice, array(0.5, 0.9, 0.99))"
            ).alias("_exact"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "n",
            F.expr(
                "forall(zip_with(_approx, _exact,"
                " (a, e) -> abs(a - e) <= 0.01 * abs(e)), x -> x)"
            ).alias("within_tol"),
        )
    )


@register(
    "q_mix_reweight",
    family="pipeline",
    oracle=f"""
WITH c AS (
  SELECT source, COUNT(*) AS n,
         1 + (CAST(substr(source, 4) AS INT) % 3) AS w
  FROM documents GROUP BY source
), r AS (
  SELECT MIN(CAST(n AS DOUBLE) / w) AS r FROM c
)
SELECT d.doc_id, d.source
FROM documents d JOIN c ON d.source = c.source CROSS JOIN r
WHERE {hash_u60_duck_sql('d.doc_id')}
      < CAST(floor(r.r * c.w / c.n * 1152921504606846976) AS BIGINT)
""",
)
def q_mix_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting: subsample each source so the kept corpus
    matches target mixture weights w_s (here the deterministic formula
    w = 1 + (source_number % 3)) at the largest feasible total — the
    'mix web/code/books to a recipe' op of LLM corpus assembly.
    Feasibility: T * w_s/W <= n_s for all s, so the binding source keeps
    everything (rate 1) and every other source keeps r * w_s / n_s where
    r = min_s(n_s / w_s). Membership is the md5-u60 content hash
    (engine-identical, repartition-stable), so both engines keep exactly
    the same rows.

    Plan: per-source counts are one small agg; the rate rides back on a
    source-keyed join (source cardinality-bounded; no forced broadcast)
    plus a broadcast 1-row min. The sample itself is a narrow filter —
    one scan at any scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w", F.expr("1 + pmod(cast(substring(source, 4, 8) as int), 3)"))
    )
    r = counts.agg(F.min(F.col("n").cast("double") / F.col("w")).alias("r"))
    u60 = F.expr(hash_u60_spark_sql("doc_id"))
    return (
        d.join(counts, "source")
        .crossJoin(F.broadcast(r))
        .where(
            u60
            < F.expr("cast(floor(r * w / n * 1152921504606846976) as bigint)")
        )
        .select("doc_id", "source")
    )


@register(
    "q_snapshot_diff",
    family="pipeline",
    oracle="""
WITH new_gen AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000000, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 17 = 0
), old_gen AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
), diff AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS okey,
         CASE
           WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.o_totalprice <> n.o_totalprice
                OR o.o_orderstatus <> n.o_orderstatus THEN 'changed'
           ELSE 'unchanged'
         END AS change_type
  FROM old_gen o FULL OUTER JOIN new_gen n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(okey) AS BIGINT) AS key_checksum
FROM diff GROUP BY change_type
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF between two table generations — the audit verb of
    every retrain: \"what changed in the corpus since the last run?\".
    The new generation is derived deterministically from orders
    (mod-13 deletes, mod-7 price/status updates, mod-17 re-keyed
    inserts) so the oracle re-derives it; a deployment points the two
    sides at real generation paths. Full-outer join on the PK
    classifies every row added / removed / changed / unchanged and the
    report carries row counts plus a key checksum per class (the
    cheap invariant downstream jobs assert before consuming the diff).

    Scale shape: ONE PK-keyed shuffle (sort-merge full outer over the
    two generations — both sides bucketed by PK in a real layout makes
    it exchange-free, the S12 machinery); the classify is a narrow
    projection and the report agg carries 4 rows. No driver collect;
    at 100 TB the diff streams through executors."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    changed = F.col("o_orderkey") % 7 == 0
    new_gen = (
        o.where(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            F.when(changed, F.col("o_totalprice") * 2)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            F.when(changed, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + F.lit(10000000000)).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    old = o
    joined = old.alias("o").join(
        new_gen.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full_outer",
    )
    diff = joined.select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("okey"),
        F.when(F.col("o.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("removed"))
        .when(
            (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
            | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("okey").alias("key_checksum"),
    )


@register(
    "q_pipeline_e2e",
    family="pipeline",
    oracle=None,  # assembled below (imports llm_text's argmax fragment)
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE preprocessing pipeline as ONE declarative plan — the
    flagship user story: raw documents -> Gopher-style hard quality gate
    -> exact dedup (min-doc_id canonical per normalized-content hash) ->
    language-ID -> per (predicted language, source) corpus report
    (docs kept, token mass, decimal-summed mean quality). Every stage
    is an operator that also exists as its own key (L15b, L1, L14, L15);
    this key proves they COMPOSE into a single Catalyst plan: the gate
    is a pushable filter under the dedup window's hash partitioning,
    lang-ID and quality are narrow projections, and the only shuffles
    are the dedup hash window and the tiny (lang x source) report agg.

    At 100 TB: filter-before-shuffle ordering means the dedup exchange
    carries only gate survivors; nothing here is driver-side."""
    from pyspark.sql import Window

    from cellbase_spark.operators.text import lang_id, quality_score, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_words = F.size(toks)
    mean_wl = (F.length("text") - (n_words - F.lit(1))) / n_words
    uniq_frac = F.size(F.array_distinct(toks)).cast("double") / n_words
    digit_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ) / F.length("text").cast("double")
    passes = (
        n_words.between(10, 10000)
        & mean_wl.between(2, 12)
        & (uniq_frac >= 0.3)
        & (digit_ratio < 0.2)
    )
    kept = d.where(passes)
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy("doc_id")
    canon = kept.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    scored = canon.withColumn("toks", tokens("text")).select(
        lang_id("toks").alias("lang_pred"),
        "source",
        F.size("toks").alias("ntok"),
        quality_score("text", "toks").alias("quality"),
    )
    return scored.groupBy("lang_pred", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("quality"), 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            5,
        ).alias("mean_quality"),
    )


_GATE_SQL = """
  (len(string_split(text, ' ')) BETWEEN 10 AND 10000)
  AND ((length(text) - (len(string_split(text, ' ')) - 1))
       / len(string_split(text, ' ')) BETWEEN 2 AND 12)
  AND (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       / len(string_split(text, ' ')) >= 0.3)
  AND ((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
       / CAST(length(text) AS DOUBLE) < 0.2)
"""

_QUALITY_SQL = """
  0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
  + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / length(text))
  + 0.3 * least(1.0, ((length(text) - (len(string_split(text, ' ')) - 1))
                      / len(string_split(text, ' '))) / 8.0)
"""


def _pipeline_e2e_oracle() -> str:
    from cellbase_spark.queries.llm_text import _ARGMAX_SQL

    passes = _GATE_SQL
    quality = _QUALITY_SQL
    return f"""
WITH kept AS (
  SELECT * FROM documents WHERE {passes}
), dd AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) AS rn
  FROM kept
), canon AS (
  SELECT * FROM dd WHERE rn = 1
), scored AS (
  SELECT {_ARGMAX_SQL} AS lang_pred, source,
         len(string_split(text, ' ')) AS ntok,
         {quality} AS quality
  FROM canon
)
SELECT lang_pred, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(ROUND(quality, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 5) AS mean_quality
FROM scored GROUP BY lang_pred, source
"""


@register(
    "q_pipeline_e2e_neardup",
    family="pipeline",
    oracle=None,  # assembled below (imports llm_text + llm_dedup fragments)
)
def q_pipeline_e2e_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_pipeline_e2e with the CAPPED near-dup stage spliced in — the
    full deployment preprocessing chain as ONE declarative plan: gate ->
    exact dedup -> skew-capped MinHash-LSH near-dedup (L55's band
    buckets > 8 excluded; verified pairs at Jaccard >= 0.95 drop the
    HIGHER doc_id, the min-id-anchor rule) -> lang-ID -> per
    (language, source) corpus report. q_pipeline_e2e stays registered
    as the fast form without pairwise verification.

    Plan shape (pinned in tests/test_plans.py): the gate filter sits
    directly on the documents scan, BELOW all of the exchanges — the
    exact-dedup hash window, the band-key self-join, and the bucket-cap
    window all shuffle gate SURVIVORS only. At 100 TB that ordering is
    the difference between shuffling the corpus and shuffling the ~kept
    fraction; the near-dup stage itself is the banded equi-join (never
    all-pairs) with the mega-clique cap that kept sf1 candidate
    generation 8x off the uncapped blow-up."""
    from pyspark.sql import Window

    from cellbase_spark.operators.dedup import minhash_lsh_pairs
    from cellbase_spark.operators.text import lang_id, quality_score, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_words = F.size(toks)
    mean_wl = (F.length("text") - (n_words - F.lit(1))) / n_words
    uniq_frac = F.size(F.array_distinct(toks)).cast("double") / n_words
    digit_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ) / F.length("text").cast("double")
    passes = (
        n_words.between(10, 10000)
        & mean_wl.between(2, 12)
        & (uniq_frac >= 0.3)
        & (digit_ratio < 0.2)
    )
    kept = d.where(passes)
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy("doc_id")
    canon = (
        kept.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )
    pairs = minhash_lsh_pairs(
        canon.select("doc_id", F.split("text", " ").alias("toks")),
        id_col="doc_id", tokens_col="toks", n_hashes=16, bands=2, threshold=0.95,
        bitmap_vocab_limit=4096, band_bucket_cap=8,
    )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    surv = canon.join(drop, "doc_id", "left_anti")
    scored = surv.withColumn("toks", tokens("text")).select(
        lang_id("toks").alias("lang_pred"),
        "source",
        F.size("toks").alias("ntok"),
        quality_score("text", "toks").alias("quality"),
    )
    return scored.groupBy("lang_pred", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("quality"), 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            5,
        ).alias("mean_quality"),
    )


def _pipeline_e2e_neardup_oracle() -> str:
    from cellbase_spark.queries.llm_dedup import _SIG_SQL
    from cellbase_spark.queries.llm_text import _ARGMAX_SQL

    return f"""
WITH kept AS (
  SELECT * FROM documents WHERE {_GATE_SQL}
), dd AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) AS rn
  FROM kept
), canon AS (
  SELECT * FROM dd WHERE rn = 1
), t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM canon
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, toks, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), bk AS (
  SELECT id, toks, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM bd
  ) WHERE bn <= 8
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bk a JOIN bk b ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id
), verified AS (
  SELECT c.id_b
  FROM cand c JOIN t ta ON c.id_a = ta.id JOIN t tb ON c.id_b = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
), surv AS (
  SELECT * FROM canon WHERE doc_id NOT IN (SELECT id_b FROM verified)
), scored AS (
  SELECT {_ARGMAX_SQL} AS lang_pred, source,
         len(string_split(text, ' ')) AS ntok,
         {_QUALITY_SQL} AS quality
  FROM surv
)
SELECT lang_pred, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(ROUND(quality, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 5) AS mean_quality
FROM scored GROUP BY lang_pred, source
"""


# late-bind the oracles (they need llm_text / llm_dedup fragments at
# import time; QuerySpec is frozen, so swap the entries)
import dataclasses as _dc  # noqa: E402

from cellbase_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["q_pipeline_e2e"] = _dc.replace(
    _REG["q_pipeline_e2e"], oracle=_pipeline_e2e_oracle()
)
_REG["q_pipeline_e2e_neardup"] = _dc.replace(
    _REG["q_pipeline_e2e_neardup"], oracle=_pipeline_e2e_neardup_oracle()
)


@register(
    "q_mix_temperature",
    family="pipeline",
    oracle="""
WITH c AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), t AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c
), j AS (
  SELECT source, n, CAST(n AS DOUBLE) / total AS share,
         round(pow(CAST(n AS DOUBLE) / total, 0.3), 6) AS pa
  FROM c, t
), z AS (
  SELECT CAST(SUM(CAST(pa AS DECIMAL(28,6))) AS DOUBLE) AS zz FROM j
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
       round(share, 6) AS share,
       round(pa / zz, 6) AS temp_weight,
       round(round(pa / zz, 6) / share, 6) AS boost
FROM j, z
""",
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights (round 9): the standard
    multilingual-pretraining smoothing — sample source s with
    probability q_s ∝ p_s^alpha (alpha = 0.3, the mT5/XLM-R setting)
    instead of its natural share p_s, flattening the head and boosting
    the tail; `boost` = q_s / p_s is the per-source up/downsampling
    factor a pipeline feeds into q_mix_reweight-style row selection.
    Complements q_mix_reweight (which hits GIVEN weights): this key
    DERIVES the weights from corpus statistics.

    Cross-engine exactness: pow is the one libm call — rounded at 6dp
    (the registry's ln-rounding rule, q_tfidf precedent); the
    normalizer is an order-free DECIMAL sum of the rounded values;
    every downstream ratio is computed from already-rounded inputs.

    Scale shape: one source-keyed count agg (map-side combined), then
    config-sized arithmetic over a per-source relation (sources are
    bounded, never rows) with two 1-row broadcasts. Nothing but the
    count scan touches the corpus."""
    from pyspark.sql import Window

    # ONE corpus scan: the count agg, then global-window arithmetic over
    # the per-source relation (sources are bounded, so the single-
    # partition window holds config-sized rows — the crossJoin'd
    # multi-agg form re-instantiated the corpus scan per subtree).
    # boost divides by the RAW share (exact double division, identical
    # both engines): a sub-5e-7 share rounds to 0 at 6dp and a rounded
    # divisor would split NULL (Spark) vs inf (DuckDB) on a 1-doc
    # source in a >2M-doc corpus (round-9 review).
    w = Window.partitionBy()
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    j = (
        c.withColumn("total", F.sum("n_docs").over(w).cast("double"))
        .withColumn("share", F.col("n_docs") / F.col("total"))
        .withColumn("pa", F.round(F.pow("share", F.lit(0.3)), 6))
        .withColumn(
            "zz", F.sum(F.col("pa").cast("decimal(28,6)")).over(w).cast("double")
        )
    )
    return j.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("share"), 6).alias("share"),
        F.round(F.col("pa") / F.col("zz"), 6).alias("temp_weight"),
        F.round(
            F.round(F.col("pa") / F.col("zz"), 6) / F.col("share"), 6
        ).alias("boost"),
    )


@register(
    "q_pipeline_incremental",
    family="pipeline",
    oracle=None,  # assembled below (imports llm_text + llm_dedup fragments)
)
def q_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY-RUN form of the flagship pipeline (round 13, r12
    verdict #5) — q_pipeline_e2e_neardup is the one-shot rebuild; this
    key is what actually runs every day at 100 TB, composed from the
    persisted-artifact verbs:

      day 1: gated corpus (doc_id % 10 != 0 plays yesterday's state)
             banded into a PERSISTED MinHash band table — generation 1,
             landed through the crash-safe publish_artifact_dir rename;
      day 2: the arriving batch (doc_id % 10 == 0) is Gopher-gated,
             then probes generation 1 with the capped incremental
             near-dup verb (operators/dedup.incremental_dedup_pairs,
             band_bucket_cap=8 — work ∝ batch × bands, the corpus text
             is never rescanned); batch docs with a verified
             Jaccard >= 0.95 corpus match are dropped;
      roll-forward: generation 2 = generation-1 bands + the SURVIVING
             batch docs' bands (dups are never indexed), a NEW
             immutable directory — readers mid-probe keep gen 1;
      report: the post-run corpus data card — per (lang_pred, source)
             doc count, token mass, mean quality over exactly the docs
             generation 2 indexes (fetched by id-join; the report is
             derived FROM the published artifact, so the hash gate
             checks the whole chain's end state).

    Oracle: a from-scratch two-day rebuild in SQL — gate, band, cap,
    probe, drop, then the report over (corpus ∪ surviving batch). The
    rolled-forward artifact must be indistinguishable from the rebuild.

    Scale: day-2 cost is the capped probe (batch × bands candidate
    join) + one O(batch) band append + the report aggregate; nothing
    rescans or re-clusters the corpus. Repeat calls in one process hit
    the idempotent publishes and only re-run the report."""
    from cellbase_spark.operators.dedup import (
        incremental_dedup_pairs,
        lsh_band_keys_fused,
    )
    from cellbase_spark.operators.publish import publish_artifact_dir
    from cellbase_spark.operators.text import lang_id, quality_score, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_words = F.size(toks)
    mean_wl = (F.length("text") - (n_words - F.lit(1))) / n_words
    uniq_frac = F.size(F.array_distinct(toks)).cast("double") / n_words
    digit_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ) / F.length("text").cast("double")
    passes = (
        n_words.between(10, 10000)
        & mean_wl.between(2, 12)
        & (uniq_frac >= 0.3)
        & (digit_ratio < 0.2)
    )
    kept = d.where(passes)
    kept_t = kept.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.split("text", " ")).alias("_toks"),
    )

    def bands_of(df: DataFrame) -> DataFrame:
        return df.select(
            "_id",
            F.posexplode(lsh_band_keys_fused("_toks", 16, 2)).alias(
                "_bidx", "_bkey"
            ),
        )

    gen1 = scratch_path(sf_dir, "pipegens", "gen1")
    gen2 = scratch_path(sf_dir, "pipegens", "gen2")

    # day 1: persist the gated corpus band table (idempotent publish)
    corpus_t = kept_t.where(F.col("_id") % 10 != 0)
    publish_artifact_dir(
        lambda tmp: bands_of(corpus_t).write.parquet(tmp), gen1
    )
    gen1_bands = spark.read.parquet(gen1)

    # day 2: gated batch probes the persisted generation, capped
    batch_t = kept_t.where(F.col("_id") % 10 == 0)
    pairs = incremental_dedup_pairs(
        batch=batch_t,
        corpus_bands=gen1_bands,
        corpus_tokens=kept_t,
        id_col="_id",
        tokens_col="_toks",
        n_hashes=16,
        bands=2,
        threshold=0.95,
        band_bucket_cap=8,
    )
    dropped = pairs.select(F.col("id_new").alias("_id")).distinct()
    surv_batch = batch_t.join(dropped, "_id", "left_anti")

    # roll-forward: gen2 = gen1 bands + surviving batch bands
    publish_artifact_dir(
        lambda tmp: gen1_bands.unionByName(bands_of(surv_batch))
        .write.parquet(tmp),
        gen2,
    )

    # report over exactly the docs generation 2 indexes
    final_ids = spark.read.parquet(gen2).select("_id").distinct()
    final = d.join(final_ids, d["doc_id"] == final_ids["_id"]).drop("_id")
    scored = final.withColumn("toks", tokens("text")).select(
        lang_id("toks").alias("lang_pred"),
        "source",
        F.size("toks").alias("ntok"),
        quality_score("text", "toks").alias("quality"),
    )
    return scored.groupBy("lang_pred", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("quality"), 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            5,
        ).alias("mean_quality"),
    )


def _pipeline_incremental_oracle() -> str:
    from cellbase_spark.queries.llm_dedup import _SIG_SQL
    from cellbase_spark.queries.llm_text import _ARGMAX_SQL

    return f"""
WITH kept AS (
  SELECT * FROM documents WHERE {_GATE_SQL}
), t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks FROM kept
), s AS (
  SELECT id, toks, {_SIG_SQL} AS sig FROM t
), bd AS (
  SELECT id, j.j AS bidx,
         md5(concat_ws(',', sig[8*j.j+1], sig[8*j.j+2], sig[8*j.j+3], sig[8*j.j+4], sig[8*j.j+5], sig[8*j.j+6], sig[8*j.j+7], sig[8*j.j+8])) AS bkey
  FROM s, (VALUES (0), (1)) j(j)
), capped AS (
  SELECT id, bidx, bkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY bidx, bkey) AS bn FROM bd
  ) WHERE bn <= 8
), cand AS (
  SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
  FROM capped a JOIN capped b
    ON a.bidx = b.bidx AND a.bkey = b.bkey
   AND a.id % 10 = 0 AND b.id % 10 <> 0
), dropped AS (
  SELECT DISTINCT c.id_new
  FROM cand c JOIN t ta ON c.id_new = ta.id JOIN t tb ON c.id_corpus = tb.id
  WHERE len(list_intersect(ta.toks, tb.toks))
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.95
), final AS (
  SELECT * FROM kept
  WHERE doc_id % 10 <> 0 OR doc_id NOT IN (SELECT id_new FROM dropped)
), scored AS (
  SELECT {_ARGMAX_SQL} AS lang_pred, source,
         len(string_split(text, ' ')) AS ntok,
         {_QUALITY_SQL} AS quality
  FROM final
)
SELECT lang_pred, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(ROUND(quality, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 5) AS mean_quality
FROM scored GROUP BY lang_pred, source
"""


_REG["q_pipeline_incremental"] = _dc.replace(
    _REG["q_pipeline_incremental"], oracle=_pipeline_incremental_oracle()
)
