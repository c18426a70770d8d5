"""Text-analysis queries over the documents table (SURVEY.md §2.8 L6/L7 +
language-ID, quality scoring, token counting, fingerprinting).

All built-in expressions; integer counts and single IEEE divisions keep
every output bit-identical to the DuckDB oracle without rounding fudge
(ln() is the one libm call -> rounded to 6dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark.io import (
    fan_out_barrier,
    load_table,
    scratch_path,
    scratch_table,
)
from cellbase_spark.operators.text import (
    LANG_MARKERS,
    lang_id,
    lang_scores,
    quality_score,
    regex_tokens,
    rolling_fingerprint,
    rolling_fingerprint_sql,
    tokens,
)
from cellbase_spark.registry import register


@register(
    "q_text_tokenfreq",
    family="llm-text",
    oracle="""
SELECT tok, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 20
""",
)
def q_text_tokenfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token frequency: explode -> two-phase hash count ->
    TakeOrderedAndProject. The shuffle carries one row per distinct
    token (map-side partial counts), not per occurrence."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


@register(
    "q_tfidf",
    family="llm-text",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.tok, tf.tf, df.df,
       round(tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6), 6) AS tfidf
FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
WHERE tf.tf >= 2
""",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: per-doc term counts joined to document frequency,
    idf = ln(N/df), ln rounded at 6dp (libm ulps), product re-rounded.

    Scale shape: `df` is derived FROM `tf` (tf rows are already distinct
    per (doc_id, tok), so df = count per tok) — one explode of the corpus,
    no countDistinct. The tok-keyed join is a plain shuffle join: the df
    side is distinct-token-cardinality-sized, which at 100 TB is GBs —
    never broadcast; AQE's skew-join splitting covers the stopword keys.
    N arrives as a broadcast 1-row count relation (no driver-side
    collect/count job)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    return (
        tf.where(F.col("tf") >= 2)
        .join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "tok", "tf", "df", F.round(F.col("tf") * idf, 6).alias("tfidf"))
    )


_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{m}'" for m in ms) + "]" for lang, ms in LANG_MARKERS.items()
}
_SCORE_SQL = {
    lang: f"len(list_intersect(list_distinct(string_split(text, ' ')), {arr}))"
    for lang, arr in _MARKER_SQL.items()
}
# argmax with alphabetical tie-break: CASE over langs in sorted order,
# each winning iff its score >= every following lang's score (matches the
# Spark fold, which keeps the earlier lang on ties via strict >).
_LANGS = sorted(LANG_MARKERS)
_ARGMAX_SQL = "CASE " + " ".join(
    "WHEN "
    + " AND ".join(f"{_SCORE_SQL[lang]} >= {_SCORE_SQL[other]}" for other in _LANGS[i + 1 :])
    + f" THEN '{lang}'"
    if i < len(_LANGS) - 1
    else f"ELSE '{lang}' END"
    for i, lang in enumerate(_LANGS)
)


@register(
    "q_lang_id",
    family="llm-text",
    oracle=f"""
SELECT doc_id, lang AS lang_meta,
       {_SCORE_SQL['en']} AS en_score,
       {_SCORE_SQL['de']} AS de_score,
       {_ARGMAX_SQL} AS lang_pred
FROM documents
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic: per-language evidence scores ->
    argmax with alphabetical tie-break. One map pass over the corpus;
    the marker vocabulary is a broadcast literal."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("toks", tokens("text"))
    scores = lang_scores("toks")
    return t.select(
        "doc_id",
        F.col("lang").alias("lang_meta"),
        scores["en"].alias("en_score"),
        scores["de"].alias("de_score"),
        lang_id("toks").alias("lang_pred"),
    )


@register(
    "q_text_quality",
    family="llm-text",
    oracle="""
SELECT doc_id, lang,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_real,
       0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
       + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                      / length(text))
       + 0.3 * least(1.0, ((length(text) - (len(string_split(text, ' ')) - 1))
                           / len(string_split(text, ' '))) / 8.0) AS quality
FROM documents
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristic: token count, digit ratio, average token length
    folded into one [0,1] score (operators/text.py formula)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("toks", tokens("text"))
    return t.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.length("text").alias("n_chars_real"),
        quality_score("text", "toks").alias("quality"),
    )


@register(
    "q_quality_gopher",
    family="llm-text",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       round((length(text) - (len(string_split(text, ' ')) - 1))
             / len(string_split(text, ' ')), 6) AS mean_word_len,
       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS uniq_frac,
       round((length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g')))
             / CAST(length(text) AS DOUBLE), 6) AS digit_ratio,
       (len(string_split(text, ' ')) BETWEEN 10 AND 10000)
         AND ((length(text) - (len(string_split(text, ' ')) - 1))
              / len(string_split(text, ' ')) BETWEEN 2 AND 12)
         AND (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.3)
         AND ((length(text)
               - length(regexp_replace(text, '[0-9]', '', 'g')))
              / CAST(length(text) AS DOUBLE) < 0.2) AS passes
FROM documents
""",
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document filter in the Gopher/MassiveText style —
    the complement of q_text_quality's soft score: HARD per-rule bounds
    whose AND decides keep/drop, the shape production corpus cleaning
    actually runs. Rules (engine-portable arithmetic only):
    word-count in [10, 10000]; mean word length in [2, 12] chars;
    distinct-word fraction >= 0.3 (kills lexical loops); digit-char
    ratio < 0.2. Per-rule diagnostics are emitted alongside the verdict
    so a pipeline can report WHY documents fail.

    Zero shuffle: one narrow codegen map over the scan — at 100 TB this
    runs at IO speed and the filter composes with any downstream op."""
    d = load_table(spark, sf_dir, "documents")
    words = tokens("text")
    n_words = F.size(words).cast("bigint")
    mean_wlen = (F.length("text") - (n_words - 1)) / n_words
    uniq_frac = F.size(F.array_distinct(words)).cast("double") / n_words
    digit_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ) / F.length("text").cast("double")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(uniq_frac, 6).alias("uniq_frac"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        (
            n_words.between(10, 10000)
            & mean_wlen.between(2, 12)
            & (uniq_frac >= 0.3)
            & (digit_ratio < 0.2)
        ).alias("passes"),
    )


@register(
    "q_token_count",
    family="llm-text",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_lex_tokens,
       length(text) AS n_chars_real,
       length(text) / len(string_split(text, ' ')) AS chars_per_token
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish lexer
    (letter runs | digit runs via regexp_extract_all)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(regex_tokens("text")).alias("n_lex_tokens"),
        F.length("text").alias("n_chars_real"),
        (F.length("text") / F.size(tokens("text"))).alias("chars_per_token"),
    )


@register(
    "q_fingerprint",
    family="llm-text",
    oracle=f"""
SELECT doc_id,
       {rolling_fingerprint_sql('text')} AS fp_rolling,
       md5(text) AS fp_md5
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: order-sensitive polynomial rolling hash
    (seed 7, base 31, mod 1e9+7) + md5. Byte-identical in both engines."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rolling_fingerprint("text").alias("fp_rolling"),
        F.md5("text").alias("fp_md5"),
    )


@register(
    "q_fuzzy_name_match",
    family="llm-text",
    oracle="""
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       a.s_nationkey AS nk,
       levenshtein(a.s_name, b.s_name) AS edit_dist
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
""",
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: nation-blocked supplier-name pairs within
    edit distance 2. Levenshtein is a well-defined integer metric —
    bit-identical across engines, no rounding needed. Blocking bounds the
    pair space exactly like the dedup operators (never a global cross
    product); at 100 TB add a length/prefix filter before the distance."""
    s = load_table(spark, sf_dir, "supplier")
    a = s.select(
        F.col("s_suppkey").alias("id_a"), F.col("s_nationkey").alias("nk"),
        F.col("s_name").alias("name_a"),
    )
    b = s.select(
        F.col("s_suppkey").alias("id_b"), F.col("s_nationkey").alias("nk"),
        F.col("s_name").alias("name_b"),
    )
    return (
        a.join(b, ["nk"])  # full-table side: no forced broadcast
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("edit_dist") <= 2)
        .select("id_a", "id_b", "nk", "edit_dist")
    )


@register(
    "q_token_entropy",
    family="llm-text",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
), s AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(c * ln(c), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sclnc
  FROM c GROUP BY doc_id
)
SELECT doc_id, n, ROUND(ln(n) - sclnc / n, 5) AS entropy
FROM s
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (a diversity
    / boilerplate quality signal: near-zero = one token repeated, high =
    uniform). Algebra: H = ln(n) - (sum c_i ln c_i)/n with each ln-term
    rounded to 6dp and decimal-summed, so partial-aggregation order can't
    move the result and the one libm call matches DuckDB (the
    registry's ln-rounding rule, same as q_tfidf).

    Two map-side-combinable hash aggs keyed (doc_id, tok) then doc_id —
    the shuffle carries per-doc distinct-token counts, not occurrences."""
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.round(F.col("c") * F.log("c"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sclnc"),
    )
    return s.select(
        "doc_id",
        "n",
        F.round(F.log("n") - F.col("sclnc") / F.col("n"), 5).alias("entropy"),
    )


@register(
    "q_kl_source_drift",
    family="llm-text",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), st AS (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
), g AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS gc FROM st GROUP BY tok
), tot AS (
  SELECT CAST(SUM(gc) AS BIGINT) AS n FROM g
), per AS (
  SELECT st.source, CAST(SUM(st.c) AS BIGINT) AS ns,
         CAST(SUM(CAST(ROUND(st.c * (ln(st.c) - ln(g.gc)), 6) AS DECIMAL(28,6))) AS DOUBLE) AS s
  FROM st JOIN g ON st.tok = g.tok
  GROUP BY st.source
)
SELECT source, ns, ROUND(s / ns - ln(ns) + ln(tot.n), 5) AS kl_vs_corpus
FROM per, tot
""",
)
def q_kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the whole
    corpus — the drift/contamination monitor a data pipeline runs per
    ingest batch (a source whose language suddenly shifts spikes here).
    KL(p_s || p) = sum_t p ln(p/q) rearranged to integer counts:
    (1/n_s) * sum c_st (ln c_st - ln C_t) - ln n_s + ln N, with the same
    rounded-ln decimal-sum determinism as q_token_entropy.

    The per-(source, token) agg reuses one shuffle; the global token
    counts broadcast back onto it (token dim is the corpus vocabulary)."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g = st.groupBy("tok").agg(F.sum("c").alias("gc"))
    n_total = g.agg(F.sum("gc").alias("n"))
    per = (
        st.join(g, "tok")  # token-keyed dim is vocabulary-sized: no forced broadcast
        .groupBy("source")
        .agg(
            F.sum("c").alias("ns"),
            F.sum(
                F.round(F.col("c") * (F.log("c") - F.log("gc")), 6).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("s"),
        )
    )
    return per.crossJoin(F.broadcast(n_total)).select(
        "source",
        "ns",
        F.round(
            F.col("s") / F.col("ns") - F.log("ns") + F.log("n"), 5
        ).alias("kl_vs_corpus"),
    )


@register(
    "q_vocab_oov",
    family="llm-text",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), v AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT 20
  )
)
SELECT tok.doc_id,
       COUNT(*) AS n_tokens,
       COUNT(*) - COUNT(v.tok) AS n_oov,
       CAST(COUNT(*) - COUNT(v.tok) AS DOUBLE) / COUNT(*) AS oov_rate
FROM tok LEFT JOIN v ON tok.tok = v.tok
GROUP BY tok.doc_id
""",
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate
    against the corpus top-20 tokens (ties broken by token asc — the
    same deterministic cut both engines make). The signal a tokenizer
    change is evaluated with before retraining.

    Plan: the vocab side is top-k BOUNDED (k rows) -> broadcast by
    construction; the probe never shuffles gram strings, only the
    per-doc regroup ships (doc_id, flag)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
        .select("tok", F.lit(1).alias("in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("in_v")).alias("n_oov"),
            (
                (F.count(F.lit(1)) - F.count("in_v")).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


def _bm25_term_sql(t: str) -> str:
    """One query-term's BM25 contribution (DuckDB rendering)."""
    return (
        f"round(ln((s.n_docs - s.df_{t} + 0.5) / (s.df_{t} + 0.5) + 1.0), 6)\n"
        f"      * (len(list_filter(d.toks, x -> x = '{t}')) * 2.2)\n"
        f"      / (len(list_filter(d.toks, x -> x = '{t}'))\n"
        f"         + 1.2 * (0.25 + 0.75 * (d.dl / (CAST(s.total_len AS DOUBLE) / s.n_docs))))"
    )


# Shared CTE prefix: per-doc arrays + 1-row corpus stats + raw BM25 score,
# reused verbatim by the q_bm25 oracle and the q_rrf_fusion oracle; the
# `where` hook scopes the corpus (stats included) for the takedown keys,
# whose oracle is the same rescan WITHOUT the deleted documents.
def _bm25_scored_sql(where: str = "") -> str:
    return f"""d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS dl
  FROM documents {where}
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len,
         SUM(CASE WHEN list_contains(toks, 'spark')  THEN 1 ELSE 0 END) AS df_spark,
         SUM(CASE WHEN list_contains(toks, 'stream') THEN 1 ELSE 0 END) AS df_stream,
         SUM(CASE WHEN list_contains(toks, 'join')   THEN 1 ELSE 0 END) AS df_join
  FROM d
), scored AS (
  SELECT d.doc_id,
    (({_bm25_term_sql('spark')}
     +
      {_bm25_term_sql('stream')})
     +
      {_bm25_term_sql('join')}
    ) AS score
  FROM d CROSS JOIN stats s
)"""


_BM25_SCORED_SQL = _bm25_scored_sql()


@register(
    "q_bm25",
    family="llm-text",
    oracle=f"""
WITH {_BM25_SCORED_SQL}
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 20
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query {spark, stream, join}
    (k1=1.2, b=0.75), the standard retrieval scorer a training-data
    pipeline uses for quality-weighted sampling and query-based corpus
    slicing.

    Scale shape — ZERO data shuffle: per-doc tf and doclen are array
    built-ins on the split column (narrow map, no explode); corpus stats
    (N, total length, per-term document frequency) are ONE global
    conditional aggregate producing a 1-row relation that broadcasts
    back; scoring is a narrow map over it and the top-k plans as
    TakeOrderedAndProject (per-partition heaps). Works unchanged at
    100 TB: the only aggregation state is one row.

    Determinism: tf/df/dl/N are integers; idf's ln is rounded at 6dp
    (libm ulps); every other step is per-row IEEE arithmetic in an
    identical, explicitly-parenthesized expression tree in both engines
    (the three term contributions add in fixed written order — this is
    an expression, not a float SUM aggregate)."""
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score): raw BM25 of every document for the fixed query
    {spark, stream, join} — the shared scorer behind q_bm25 and
    q_rrf_fusion. See q_bm25's docstring for the scale/determinism
    contract."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.split(F.col("text"), " ")).alias("dl"),
    )
    terms = ["spark", "stream", "join"]
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
        *[
            F.sum(
                F.when(F.array_contains("toks", t), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"df_{t}")
            for t in terms
        ],
    )

    def contrib(t: str):
        tf = F.expr(f"size(filter(toks, x -> x = '{t}'))").cast("double")
        df = F.col(f"df_{t}")
        idf = F.round(
            F.log((F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)),
            6,
        )
        avgdl = F.col("total_len").cast("double") / F.col("n_docs")
        denom = tf + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / avgdl))
        return idf * (tf * F.lit(2.2)) / denom

    return d.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        ((contrib("spark") + contrib("stream")) + contrib("join")).alias("score"),
    )


_COS_DUCK = (
    "list_reduce(list_transform(range(1, 65),"
    " i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform(range(1, 65),"
    " i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform(range(1, 65),"
    " i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (x, y) -> x + y)))"
)


@register(
    "q_rrf_fusion",
    family="llm-text",
    oracle=f"""
WITH {_BM25_SCORED_SQL},
bm_short AS (
  SELECT doc_id, round(score, 6) AS score
  FROM scored ORDER BY score DESC, doc_id ASC LIMIT 100
),
bm_rank AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
  FROM bm_short
),
q AS (SELECT list_transform(range(1, 65), i -> ((i * 37) % 101) / CAST(101 AS DOUBLE)) AS qv),
cos_short AS (
  SELECT vec_id AS doc_id, round({_COS_DUCK}, 6) AS score
  FROM embeddings, q
  ORDER BY score DESC, doc_id ASC LIMIT 100
),
cos_rank AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rk
  FROM cos_short
)
SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
       (CASE WHEN b.rk IS NULL THEN 0.0 ELSE 1.0 / (60 + b.rk) END
        + CASE WHEN c.rk IS NULL THEN 0.0 ELSE 1.0 / (60 + c.rk) END) AS rrf
FROM bm_rank b FULL OUTER JOIN cos_rank c ON b.doc_id = c.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT 20
""",
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers: the BM25 lexical
    shortlist and the cosine-vs-query-vector embedding shortlist, fused
    as sum(1 / (60 + rank)) — the standard hybrid-search combiner
    (lexical + dense) a retrieval/dataset-curation pipeline runs.

    Scale shape: each retriever produces its top-100 via
    TakeOrderedAndProject (per-partition heaps — the corpus never
    globally sorts); ranking then happens on the two 100-ROW shortlists,
    so the single-partition row_number windows are bounded by the
    shortlist constant, not the data. The full-outer fuse joins two
    100-row relations. Determinism: ranks are integers with full
    (score desc, doc_id) tie-breaks on 6dp-rounded scores; the RRF sum
    is a fixed two-term expression (not a float aggregate)."""
    from pyspark.sql.window import Window

    from cellbase_spark.operators.similarity import cosine_expr, qvec_expr

    bm_short = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(100)
    )
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "qv", F.expr(qvec_expr())
    )
    cos_short = (
        e.select(
            F.col("vec_id").alias("doc_id"),
            F.round(F.expr(cosine_expr("embedding", "qv")), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(100)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    bm_rank = bm_short.select("doc_id", F.row_number().over(w).alias("b_rk"))
    cos_rank = cos_short.select("doc_id", F.row_number().over(w).alias("c_rk"))
    fused = bm_rank.join(cos_rank, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.when(F.col("b_rk").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60) + F.col("b_rk"))
            )
            + F.when(F.col("c_rk").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60) + F.col("c_rk"))
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(20)


@register(
    "q_lang_confusion",
    family="llm-text",
    oracle=f"""
SELECT lang AS lang_meta, {_ARGMAX_SQL} AS lang_pred, COUNT(*) AS n
FROM documents
GROUP BY lang, 2
""",
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: metadata language x predicted
    language with counts — the evaluation grid a corpus pipeline runs
    before trusting a classifier for filtering (which languages leak
    into which buckets, and how much).

    Scale shape: the marker-argmax is the same zero-shuffle narrow map
    as q_lang_id; the only exchange carries <= |langs|^2 = 25 partial
    counts per map task. Ties in the argmax break alphabetically in
    both engines (strict > fold vs >=-chain CASE — proven equivalent
    by q_lang_id's row-level hash match)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("toks", tokens("text"))
    return (
        t.select(F.col("lang").alias("lang_meta"), lang_id("toks").alias("lang_pred"))
        .groupBy("lang_meta", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_tokenizer_fertility",
    family="llm-text",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       round(CAST(SUM(n_chars) AS BIGINT)
             / CAST(SUM(len(string_split(text, ' '))) AS BIGINT), 6)
         AS chars_per_token,
       round(CAST(SUM(strlen(text)) AS BIGINT)
             / CAST(SUM(len(string_split(text, ' '))) AS BIGINT), 6)
         AS bytes_per_token
FROM documents
GROUP BY lang
""",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars/token and bytes/token over
    the whitespace tokenization — the number that prices a corpus in
    model tokens (training budget, context-window packing) and exposes
    languages a tokenizer fragments. All inputs are exact integer sums
    (token counts, n_chars, octet lengths), so the two IEEE divisions
    are bit-identical cross-engine.

    Scale shape: one narrow map (token count per row) + ONE lang-keyed
    agg with map-side partials; |langs| output rows."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("ntok"),
        F.octet_length("text").alias("nbytes"),
    )
    g = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("nbytes").alias("total_bytes"),
    )
    return g.select(
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        "total_bytes",
        F.round(F.col("total_chars") / F.col("total_tokens"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.col("total_bytes") / F.col("total_tokens"), 6).alias(
            "bytes_per_token"
        ),
    )


@register(
    "q_lm_perplexity",
    family="llm-text",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pr AS (
  SELECT doc_id,
         unnest(list_zip(list_slice(t, 1, len(t) - 1),
                         list_slice(t, 2, len(t)))) AS z
  FROM tok WHERE len(t) >= 2
), pairs AS (
  SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM pr
), dbg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS k FROM pairs GROUP BY doc_id, w1, w2
), bg AS (
  SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS cbg FROM dbg GROUP BY w1, w2
), uni AS (
  SELECT tok AS w, COUNT(*) AS cw
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
), vv AS (
  SELECT COUNT(*) AS v FROM uni
), per AS (
  SELECT dbg.doc_id,
         CAST(SUM(dbg.k) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(ROUND(dbg.k * ln((bg.cbg + 1.0) / (uni.cw + vv.v)), 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS slp
  FROM dbg
  JOIN bg  ON dbg.w1 = bg.w1 AND dbg.w2 = bg.w2
  JOIN uni ON dbg.w1 = uni.w
  CROSS JOIN vv
  GROUP BY dbg.doc_id
)
SELECT doc_id, n_pairs, ROUND(-slp / n_pairs, 5) AS nll
FROM per
""",
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model NLL per document — the CCNet-style
    perplexity quality signal: train an add-one-smoothed bigram LM on
    the corpus itself, then score every document by its average
    negative log-likelihood (low = in-distribution fluent text, high =
    gibberish / boilerplate / wrong-language). P(w2|w1) =
    (c(w1,w2)+1) / (c(w1)+V) with corpus-wide unigram/bigram counts and
    vocabulary size V; per-pair ln rounded to 6dp and decimal-summed
    (the registry's ln determinism rule, same as q_token_entropy).

    Scale shape: bigrams come from one narrow zip_with projection (no
    token-domain self-join); the model tables (bg, uni) are VOCABULARY-
    bounded aggregates with map-side combine, joined back onto per-doc
    DISTINCT-bigram rows (k collapsed first, so the join carries
    distinct bigrams per doc, not occurrences). At 100 TB the LM tables
    are ingest-time artifacts shared by every scoring batch — the
    per-batch cost is one map + two vocab-keyed joins."""
    d = fan_out_barrier(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.split("text", " ").alias("t")).where(F.size("t") >= 2)
    pairs = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("z"),
        )
        .select("doc_id", "z.w1", "z.w2")
    )
    dbg = pairs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    bg = dbg.groupBy("w1", "w2").agg(F.sum("k").alias("cbg"))
    uni = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    vv = uni.agg(F.count(F.lit(1)).alias("v"))
    per = (
        dbg.join(bg, ["w1", "w2"])
        .join(uni, dbg["w1"] == uni["w"])
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_pairs"),
            F.sum(
                F.round(
                    F.col("k")
                    * F.log((F.col("cbg") + F.lit(1.0)) / (F.col("cw") + F.col("v"))),
                    6,
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("slp"),
        )
    )
    return per.select(
        "doc_id",
        "n_pairs",
        F.round(-F.col("slp") / F.col("n_pairs"), 5).alias("nll"),
    )


def _ensure_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted BM25 postings index over documents
    (operators.text.build_bm25_index): token-bucket-partitioned catalog
    table with frozen n_docs/total_len properties — the ingest-time
    artifact the indexed serving key probes."""
    from cellbase_spark.operators.similarity import table_props
    from cellbase_spark.operators.text import build_bm25_index

    t = scratch_table(sf_dir, "cb_bm25idx")
    ready = spark.catalog.tableExists(t) and "cellbase.n_docs" in table_props(
        spark, t, max_age_sec=0
    )
    if not ready:
        build_bm25_index(
            load_table(spark, sf_dir, "documents"),
            t,
            scratch_path(sf_dir, "bm25idx"),
        )
    return t


@register(
    "q_bm25_indexed",
    family="llm-text",
    oracle=f"""
WITH {_BM25_SCORED_SQL}
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 20
""",
)
def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a PERSISTED inverted index (r10 VERDICT task
    #5 — the ANN-index playbook applied to text retrieval): the probe
    opens ONLY the query tokens' (tok_bucket) partitions
    (PartitionFilters IN-list, plan-pinned in tests/test_plans.py — the
    documents table is never rescanned or re-tokenized), computes each
    term's df inside that pruned read, scores matching postings against
    the stats frozen in the index's table properties, and pivots the
    per-term contributions so the final addition runs in the same
    written order as q_bm25's expression tree — the result hash-matches
    the RESCAN form's oracle exactly.

    Scale shape: q_bm25 pays one full corpus scan + tokenize per query
    (fine for batch slicing, wrong for serving); this probe pays
    |terms| bucket opens + a matching-postings shuffle — flat in corpus
    size for fixed query selectivity, the L13c flat-vs-linear story
    (BASELINE.md records the measured ladder)."""
    from cellbase_spark.operators.text import bm25_probe

    t = _ensure_bm25_index(spark, sf_dir)
    return bm25_probe(spark, t, ["spark", "stream", "join"], k=20)


def _ensure_bm25_base_delta(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once base + delta BM25 postings generations: the corpus
    (doc_id % 10 != 0) as the base artifact, the arriving batch
    (doc_id % 10 == 0) as its own generation — the incremental-dedup
    partitioning convention applied to the text index."""
    from cellbase_spark.operators.similarity import table_props
    from cellbase_spark.operators.text import build_bm25_index

    docs = load_table(spark, sf_dir, "documents")
    out = []
    for name, pred in (
        ("cb_bm25base", F.col("doc_id") % 10 != 0),
        ("cb_bm25delta", F.col("doc_id") % 10 == 0),
    ):
        t = scratch_table(sf_dir, name)
        ready = spark.catalog.tableExists(t) and "cellbase.n_docs" in table_props(
            spark, t, max_age_sec=0
        )
        if not ready:
            build_bm25_index(docs.where(pred), t, scratch_path(sf_dir, name))
        out.append(t)
    return out[0], out[1]


@register(
    "q_bm25_indexed_update",
    family="llm-text",
    oracle=f"""
WITH {_BM25_SCORED_SQL}
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 20
""",
)
def q_bm25_indexed_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index UPDATE as an immutable delta generation (round 11 —
    the ANN-index lifecycle applied to text): the corpus lives in the
    base postings artifact, the arriving batch (doc_id % 10 == 0) is
    ingested as its OWN generation by the same build, and the probe
    UNIONS the two pruned scans with the corpus stats SUMMED from the
    generations' frozen properties. n_docs/total_len are additive over
    disjoint doc sets and df is computed inside the union's pruned
    read, so the generation probe is EXACT — it must hash-match the
    SAME full-corpus oracle as q_bm25 and q_bm25_indexed (three
    serving states, one answer). Work: batch ingest ∝ batch; probe
    opens |terms| buckets per generation, never rescans text."""
    from cellbase_spark.operators.text import bm25_probe

    base, delta = _ensure_bm25_base_delta(spark, sf_dir)
    return bm25_probe(spark, [base, delta], ["spark", "stream", "join"], k=20)


def _ensure_bm25_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Build-once compacted artifact: base + delta generations merged
    by compact_bm25_index (rows verbatim, stats summed, one file per
    bucket leaf)."""
    from cellbase_spark.operators.similarity import table_props
    from cellbase_spark.operators.text import compact_bm25_index

    t = scratch_table(sf_dir, "cb_bm25compact")
    ready = spark.catalog.tableExists(t) and "cellbase.n_docs" in table_props(
        spark, t, max_age_sec=0
    )
    if not ready:
        base, delta = _ensure_bm25_base_delta(spark, sf_dir)
        compact_bm25_index(
            spark, t, scratch_path(sf_dir, "bm25compact"), [base, delta]
        )
    return t


@register(
    "q_bm25_indexed_compact",
    family="llm-text",
    oracle=f"""
WITH {_BM25_SCORED_SQL}
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 20
""",
)
def q_bm25_indexed_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index COMPACTION (round 11, closing the text-index
    lifecycle: build -> update -> compact, each state hash-matching the
    one oracle): base + delta generations merged into one artifact —
    postings carried verbatim, one exchange on tok_bucket, corpus
    stats summed into the compacted table's properties — then probed
    as a single table. If the merge lost, duplicated, or re-bucketed
    one posting, or mis-summed the stats, the top-20 diverges from the
    rescan oracle. Probe cost returns to one file-open per bucket per
    query (the generation probe paid one per generation)."""
    from cellbase_spark.operators.text import bm25_probe

    t = _ensure_bm25_compacted(spark, sf_dir)
    return bm25_probe(spark, t, ["spark", "stream", "join"], k=20)


# The takedown keys' oracle: the SAME rescan expression over the corpus
# WITHOUT the deleted documents (doc_id % 7 == 3) — stats, df and avgdl
# all recomputed over the survivors, exactly what the tombstone-aware
# probe must reproduce from the frozen stats + takedown-sized correction.
_BM25_DELETE_SQL = f"""
WITH {_bm25_scored_sql("WHERE doc_id % 7 <> 3")}
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""


def _ensure_bm25_deleted(spark: SparkSession, sf_dir: str) -> str:
    """Build-once TOMBSTONED postings artifact: a private full-corpus
    index that then deletes every doc_id % 7 == 3 via
    delete_from_bm25_index — posting rows stay physically present (this
    is the logical half; _ensure_bm25_delete_compacted is the physical
    half). Readiness requires a nonzero cellbase.tombstones marker so a
    crash between build and delete can't serve an undeleted index (the
    _ensure_trained_ann_delete discipline)."""
    from cellbase_spark.operators.similarity import table_props
    from cellbase_spark.operators.text import (
        build_bm25_index,
        delete_from_bm25_index,
    )

    t = scratch_table(sf_dir, "cb_bm25del")
    props = (
        table_props(spark, t, max_age_sec=0)
        if spark.catalog.tableExists(t)
        else {}
    )
    ready = "cellbase.n_docs" in props and int(
        props.get("cellbase.tombstones", 0) or 0
    ) > 0
    if not ready:
        docs = load_table(spark, sf_dir, "documents")
        build_bm25_index(docs, t, scratch_path(sf_dir, "bm25del"))
        delete_from_bm25_index(
            spark, t, docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
        )
    return t


@register("q_bm25_indexed_delete", family="llm-text", oracle=_BM25_DELETE_SQL)
def q_bm25_indexed_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index DELETE, logical/serving half (round 11 — the takedown
    verb, closing the text index's lifecycle to parity with the ANN
    index and the dedup band table: build -> update -> compact ->
    DELETE). One seventh of the corpus (doc_id % 7 == 3) is tombstoned
    by delete_from_bm25_index — an O(|takedown|) side-table append of
    (doc_id, dl) rows, no postings leaf rewritten — and the probe
    excludes them with a broadcast anti-join BEFORE computing df, while
    correcting the frozen n_docs/total_len by the takedown's count and
    summed dl so avgdl is the survivors'. The oracle is the full BM25
    rescan WITHOUT the deleted docs: a leaked deleted doc in the
    top-20, an over-deleted survivor, or a stale avgdl (the BM25-specific
    failure mode — every surviving score shifts) hash-fails.

    Scale shape: delete cost tracks the takedown list (one pruned
    doc_id+dl read + append), probe overhead is one broadcast anti-join
    and a takedown-sized driver aggregate; the corpus is never
    rescanned and nothing is rewritten until compaction."""
    from cellbase_spark.operators.text import bm25_probe

    t = _ensure_bm25_deleted(spark, sf_dir)
    return bm25_probe(spark, t, ["spark", "stream", "join"], k=20)


def _ensure_bm25_delete_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Build-once PHYSICALLY-deleted artifact: compact_bm25_index over
    the tombstoned index — posting rows of deleted docs excluded from
    the rewrite, stats reduced by the takedown, and the compacted table
    born with no tombstones (props set only after the write succeeds,
    so a mid-compaction crash leaves the table unready, not wrong)."""
    from cellbase_spark.operators.similarity import table_props
    from cellbase_spark.operators.text import compact_bm25_index

    t = scratch_table(sf_dir, "cb_bm25delc")
    ready = spark.catalog.tableExists(t) and "cellbase.n_docs" in table_props(
        spark, t, max_age_sec=0
    )
    if not ready:
        src = _ensure_bm25_deleted(spark, sf_dir)
        compact_bm25_index(spark, t, scratch_path(sf_dir, "bm25delc"), [src])
    return t


@register(
    "q_bm25_indexed_delete_compact",
    family="llm-text",
    oracle=_BM25_DELETE_SQL,
)
def q_bm25_indexed_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index DELETE, physical half: compaction over the tombstoned
    postings drops every deleted doc's rows from the rewritten leaves,
    subtracts the takedown from the compacted stats, and the new table
    carries NO tombstones — the probe below runs with no anti-join and
    no stats correction at all, yet must hash-match the SAME
    rescan-without-deleted oracle as q_bm25_indexed_delete. Logical and
    physical deletion indistinguishable to a probe is the delete
    contract; tests additionally pin that the deleted doc_ids are
    physically absent from the compacted parquet and that re-deleting
    already-tombstoned docs before compaction doesn't double-subtract
    the stats (the distinct() idempotency seam)."""
    from cellbase_spark.operators.text import bm25_probe

    t = _ensure_bm25_delete_compacted(spark, sf_dir)
    return bm25_probe(spark, t, ["spark", "stream", "join"], k=20)


def _ensure_bm25_lifecycle(spark: SparkSession, sf_dir: str) -> str:
    """Build-once artifact holding a FULL mixed lifecycle history:
    base generation (doc_id % 10 != 0) -> delta generation (doc_id %
    10 == 0) -> takedown (doc_id % 7 == 3) issued against BOTH
    generations (each captures dl only for the docs it physically
    holds) -> compaction of the two tombstoned generations into one
    table. Readiness gates: both generations must carry a nonzero
    tombstone marker before compaction runs (a crash between the
    deletes and the compact can't bake an undeleted merge), and the
    compacted table's props land only after its write."""
    from cellbase_spark.operators.similarity import table_props
    from cellbase_spark.operators.text import (
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )

    t = scratch_table(sf_dir, "cb_bm25lc")
    ready = spark.catalog.tableExists(t) and "cellbase.n_docs" in table_props(
        spark, t, max_age_sec=0
    )
    if ready:
        return t
    docs = load_table(spark, sf_dir, "documents")
    doomed = docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    gens = []
    for name, pred in (
        ("cb_bm25lcb", F.col("doc_id") % 10 != 0),
        ("cb_bm25lcd", F.col("doc_id") % 10 == 0),
    ):
        g = scratch_table(sf_dir, name)
        props = (
            table_props(spark, g, max_age_sec=0)
            if spark.catalog.tableExists(g)
            else {}
        )
        g_ready = "cellbase.n_docs" in props and int(
            props.get("cellbase.tombstones", 0) or 0
        ) > 0
        if not g_ready:
            build_bm25_index(docs.where(pred), g, scratch_path(sf_dir, name))
            delete_from_bm25_index(spark, g, doomed)
        gens.append(g)
    compact_bm25_index(spark, t, scratch_path(sf_dir, "bm25lc"), gens)
    return t


@register(
    "q_bm25_indexed_lifecycle",
    family="llm-text",
    oracle=_BM25_DELETE_SQL,
)
def q_bm25_indexed_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL text-index lifecycle composition (round 11 — the
    q_dedup_generations / q_ann_index_lifecycle treatment for BM25):
    build -> delta generation -> takedown spanning BOTH generations ->
    compaction, probed once at the end. The verbs must COMMUTE with
    serving across the mixed history: the takedown lands per
    generation (dl captured from whichever generation physically holds
    each doc), the union probe over the tombstoned generations and the
    single-table probe over the compacted artifact both equal the
    rescan-without-deleted oracle (the union form is pinned equal in
    tests; this key serves the compacted end state). A double-absorbed
    delta, a tombstone applied to the wrong generation's stats, or a
    compaction that dropped a survivor all diverge the top-20."""
    from cellbase_spark.operators.text import bm25_probe

    t = _ensure_bm25_lifecycle(spark, sf_dir)
    return bm25_probe(spark, t, ["spark", "stream", "join"], k=20)


# ---- cross-session attach (round 14 — the L13w mechanism applied to
# the text index, proving the attach path is artifact-family-generic) --


_BM25_INGEST_SCRIPT = """
import sys
sf_dir, table, home = sys.argv[1], sys.argv[2], sys.argv[3]
from cellbase_spark.session import get_spark
spark = get_spark("cellbase-ingest-bm25", extra_conf={"spark.sql.shuffle.partitions": "8"})
spark.sparkContext.setLogLevel("ERROR")
from cellbase_spark.io import load_table
from cellbase_spark.operators.text import build_bm25_index
build_bm25_index(load_table(spark, sf_dir, "documents"), table, home)
spark.stop()
"""


def _bm25_index_attached(spark: SparkSession, sf_dir: str) -> str:
    """Attach the durable published BM25 postings index with zero
    rebuild (same contract as llm_similarity._ann_index_attached:
    durable home keyed by sf + documents source signature, first-ever
    ingest in a separate fresh process, probing sessions pay catalog
    registration only)."""
    import os as _os

    from cellbase_spark.io import durable_path, source_signature
    from cellbase_spark.operators.publish import (
        attach_artifact,
        foreign_ingest,
        pointer_path,
    )

    sig = source_signature(sf_dir, "documents")
    home = durable_path(sf_dir, sig, "bm25idx")
    table = f"cb_bm25idx_att_{sig}"
    if not _os.path.exists(pointer_path(home)):
        foreign_ingest(home, _BM25_INGEST_SCRIPT, [sf_dir, table, home])
    return attach_artifact(spark, table, home)


@register(
    "q_bm25_index_attach",
    family="llm-text",
    oracle=f"""
WITH {_BM25_SCORED_SQL}
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 20
""",
)
def q_bm25_index_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 probe against an ATTACHED postings index built by a
    DIFFERENT process — the cross-session attach mechanism
    (q_ann_index_attach / operators/publish.attach_artifact) proven
    artifact-family-GENERIC: the manifest records the postings table's
    schema, tok_bucket partition key and frozen n_docs/total_len/k1/b
    scoring stats, so a foreign session's probe scores against exactly
    the geometry the builder froze — hash-matching the rescan-form
    oracle like q_bm25_indexed does. Probe cost unchanged: |terms|
    bucket opens through catalog partition pruning, flat in corpus
    size."""
    from cellbase_spark.operators.text import bm25_probe

    t = _bm25_index_attached(spark, sf_dir)
    return bm25_probe(spark, t, ["spark", "stream", "join"], k=20)
