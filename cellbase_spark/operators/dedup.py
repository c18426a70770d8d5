"""Deduplication operators for LLM training-data pipelines.

All hashing is md5-derived (first 15/12 hex chars -> BIGINT), chosen
because it is byte-identical in Spark (`conv(substr(md5(..)))`) and DuckDB
(`('0x'||substr(md5(..)))::BIGINT`) — so even the randomized-looking
operators (MinHash, SimHash) are fully oracle-checkable. Everything here
is built-in expressions (codegen'd, no Python in the row path).

Scale design:
- exact dedup: one hash-groupBy — shuffle keyed on the content hash, so
  100 TB dedups with per-key state of one row (min doc id).
- MinHash-LSH: signature computation is a per-row map (no shuffle);
  banding turns near-dup search into an equi-join on (band_idx, band_key)
  — the only shuffle is bucket-sized, never all-pairs. Candidates are
  then verified with exact Jaccard (standard LSH verify step).
- SimHash: per-row fold to one 48-bit integer; near-dup buckets come from
  bit-chunk keys the same banding way.
"""

from __future__ import annotations

import os

from cellbase_spark.io import source_signature
from cellbase_spark.operators.ckpt import current_build
from cellbase_spark.operators.ckpt import eager_checkpoint as _ckpt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Diagnostics from the most recent connected_components call in this
# process: {"edges": int, "path": "driver"|"iterative", "rounds": int}.
# Read by scripts/bench_trend-style measurements; not part of the result.
LAST_CC_STATS: dict = {}

MOD = 1_000_000_007

# -- hashing expression builders (Spark side) --------------------------------


def token_hash_expr(token_expr: str, seed_expr: str) -> str:
    """60-bit md5-derived hash of a token, parameterized by seed."""
    return (
        f"cast(conv(substr(md5(concat({token_expr}, '#', {seed_expr})), 1, 15), 16, 10)"
        " as bigint)"
    )


def minhash_sig(tokens_col: str, n_hashes: int = 16) -> Column:
    """Array of n_hashes min-hash values over a token array (pure map)."""
    h = token_hash_expr("t", "i")
    return F.expr(
        f"transform(sequence(0, {n_hashes - 1}),"
        f" i -> array_min(transform({tokens_col}, t -> {h})))"
    )


def lsh_band_keys(sig_col: str, bands: int = 4, rows: int = 4) -> Column:
    """Array of `bands` band keys: md5 over each signature slice."""
    parts = ", ".join(f"element_at({sig_col}, {rows}*j + {r})" for r in range(1, rows + 1))
    return F.expr(f"transform(sequence(0, {bands - 1}), j -> md5(concat_ws(',', {parts})))")


def lsh_band_keys_fused(tokens_col: str, n_hashes: int, bands: int) -> Column:
    """Band keys computed directly from the token array in ONE expression.

    Equivalent to lsh_band_keys(minhash_sig(...)) but immune to Catalyst's
    CollapseProject inlining the whole signature expression into every
    element_at reference (which turns 16 min-hash folds per row into 256):
    each seed's min-hash belongs to exactly one band, so computing hashes
    inside the band lambda evaluates each exactly once.
    """
    rows = n_hashes // bands
    h = token_hash_expr("t", f"({rows} * j + r)")
    return F.expr(
        f"transform(sequence(0, {bands - 1}), j ->"
        f" md5(concat_ws(',', transform(sequence(0, {rows - 1}),"
        f" r -> cast(array_min(transform({tokens_col}, t -> {h})) as string)))))"
    )


def simhash48(tokens_col: str) -> Column:
    """48-bit SimHash of a token array: per-bit +-1 vote fold, sign, pack.

    One aggregate() fold per row — no explode, no shuffle; the 48-bit
    space comes from md5's first 12 hex chars.
    """
    # Hash ONCE per token into an array first: a lambda body is
    # re-evaluated per zip_with element, so inlining md5(t) there would
    # cost 48 md5+conv evaluations per token (measured 3.5x on the whole
    # query at sf0.1). The vote fold then only shifts a bound bigint.
    hashes = f"transform({tokens_col}, t -> cast(conv(substr(md5(t), 1, 12), 16, 10) as bigint))"
    return F.expr(
        f"""aggregate(
  {hashes},
  array_repeat(cast(0 as bigint), 48),
  (acc, h) -> zip_with(acc,
                       transform(sequence(0, 47), k -> (shiftright(h, k) & 1) * 2 - 1),
                       (a, b) -> a + cast(b as bigint)),
  acc -> aggregate(zip_with(acc, sequence(0, 47),
                            (c, k) -> if(c > 0, shiftleft(cast(1 as bigint), k), cast(0 as bigint))),
                   cast(0 as bigint), (s, x) -> s + x)
)"""
    )


# -- dataframe-level operators ----------------------------------------------


def exact_dedup(df: DataFrame, content: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-content hash."""
    h = F.md5(F.lower(F.trim(F.col(content))))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def _exact_distinct(tok_df: DataFrame, col: str) -> int:
    """Exact distinct count (full scan; shuffle is tiny when the true
    domain is small thanks to map-side partial agg). Split out so tests
    can pin that the over-limit path never calls it."""
    return tok_df.agg(F.count_distinct(col).alias("_n")).first()["_n"]


# Vocab-size probe results of registry builds. The probes exist to pick
# a physical strategy (bitmap vs broadcast vs shuffle), but the bitmap
# path also SIZES its words from the cached count, so a wrong hit is a
# correctness failure, not a slow plan. The cache is therefore scoped to
# registry builds (ckpt.current_build) and keyed on data identity: the
# query key, io.source_signature over the tables in the build's sf_dir
# (file names, sizes, mtimes — a changed file always misses), the probe's
# ordinal within the build, and the probe's kind and limits. A rebuild of
# the same key over the same files pays its 2-3 probe actions once, not
# per execution (the r3 tiered probe's per-call actions were the whole
# q_dedup_near bench regression); each key's cold build pays its own
# probes; calls outside a registry build (the CellTable API) probe every
# time.
_VOCAB_STATS: dict[tuple, int | None] = {}
_VOCAB_STATS_MAX = 256


def _cached_probe(kind: tuple, compute):
    build = current_build()
    if build is None:
        return compute()
    build.probes += 1
    try:
        tables = [
            f[: -len(".parquet")]
            for f in os.listdir(build.sf_dir)
            if f.endswith(".parquet")
        ]
        sig = source_signature(build.sf_dir, *tables)
    except OSError:  # sf_dir is not a table directory: no data identity
        return compute()
    key = (build.key, sig, build.probes) + kind
    try:  # one lookup, not check-then-get: another thread may clear()
        return _VOCAB_STATS[key]
    except KeyError:
        pass
    value = compute()
    if len(_VOCAB_STATS) >= _VOCAB_STATS_MAX:
        _VOCAB_STATS.clear()
    _VOCAB_STATS[key] = value
    return value


def _bounded_vocab_size(
    tok_df: DataFrame, col: str, limit: int, probe_df: DataFrame | None = None
) -> int | None:
    """Vocabulary-size probe for adaptive strategy selection: the exact
    distinct count if it is <= limit, else None ("over limit").

    The 100 TB concern is paying a full-token shuffle just to learn the
    vocab is huge. So estimate from a cheap probe first: probe_df must be
    a SUBSET of tok_df's rows (callers pass a doc-level sample exploded,
    or a sample of an already-checkpointed token stream — either way the
    probe never tokenizes the full corpus). A subset's distinct set is a
    subset of the true one, so a probe approx_count_distinct already over
    the limit PROVES the true count is over — return None after scanning
    only the probe. Only when the probe looks small (which implies the
    exact count's shuffle is small too — a bounded key domain
    partial-aggregates map-side) do we pay the exact count, which the
    bitmap builders need anyway to size their words.

    The 1.05 slack absorbs approx_count_distinct's ~2% HLL error; a
    borderline vocab that lands on the fallback path is a strategy
    choice, never a correctness one.
    """
    if limit <= 0:
        return None

    def compute() -> int | None:
        probe = (
            tok_df.sample(fraction=0.05, seed=7) if probe_df is None else probe_df
        )
        est = probe.agg(F.approx_count_distinct(col).alias("_e")).first()["_e"]
        if est > limit * 1.05:
            return None
        n = _exact_distinct(tok_df, col)
        return n if n <= limit else None

    return _cached_probe(("bounded", col, limit), compute)


def jaccard_pairs(
    tokenized: DataFrame,
    id_col: str,
    tokens_col: str,
    block_col: str | None = None,
    threshold: float = 0.5,
    bitmap_vocab_limit: int = 4096,
    vocab_broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """Exact token-set Jaccard pairs >= threshold, via prefix filtering.

    Candidate generation is the PPJoin-family prefix filter (lossless for
    Jaccard >= tau): under any global token order, J(A,B) >= tau implies
    |A∩B| >= ceil(tau*|A|), and two sets with overlap >= alpha must share
    a token inside their (|X| - alpha + 1)-prefixes. Ordering tokens by
    ascending document frequency (rare first) makes those prefixes the
    least-selective-possible join keys, so the token self-join fans out on
    ~(1-tau)*|X| rare tokens per doc instead of every token — the
    difference between quadratic-on-hot-tokens and near-linear at 100 TB.

    Verification is adaptive on vocabulary size (one tiny driver-side
    count decides — the same shape as AQE's runtime re-planning):
    - small vocab (<= bitmap_vocab_limit, the char-n-gram case): every doc
      becomes a fixed-width bigint bitmap over integer token ids assigned
      in canonical order; n_shared = sum of bit_count(a & b) — a few dozen
      ALU ops per pair instead of a per-pair hash-set intersection, and
      prefixes join on ints, not strings (the compressed-bitmap verify of
      the set-similarity-join literature).
    - large vocab: exact array_intersect on the token arrays.
    Both paths shuffle candidate ids only and rejoin doc payloads after
    the distinct.

    Output: (id_a, id_b, n_a, n_b, n_shared, jaccard), id_a < id_b.
    """
    from cellbase_spark.io import fan_out

    blk = [F.col(block_col).alias("_blk")] if block_col else []
    t = fan_out(
        tokenized.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.col(tokens_col)).alias("_toks"),
            *blk,
        )
    ).withColumn("_n", F.size("_toks"))
    # Global document frequency -> the canonical token order (df asc, tok
    # asc). Three ranking strategies by measured vocabulary size (a
    # sample-first bounded probe decides, the same shape as AQE's runtime
    # re-plan — see _bounded_vocab_size: the over-limit verdict costs a
    # sample scan, never a full token shuffle): bitmap ids (tiny vocab),
    # ONE broadcast map row so each doc orders its tokens in a single
    # per-row pass (vocab fits a broadcast), or — for an unbounded key
    # domain where a vocab broadcast would OOM — explode + shuffle join
    # on the token + re-collect (below).
    vocab = (
        t.select(F.explode("_toks").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    # Three-step size probe, cheapest-first (the 100 TB contract: strategy
    # selection never shuffles the token domain):
    # 1. 5% of DOCS, exploded + HLL — tokenization stays sampled, so a
    #    hugely-over-limit vocab is detected from the sample alone;
    # 2. full-stream HLL — map-side sketches only (one row crosses the
    #    wire), decides bitmap-plausible vs broadcast vs shuffle-join;
    # 3. exact distinct count ONLY when the HLL says bitmap-plausible —
    #    the one consumer that needs exactness (word sizing), and then by
    #    construction the count's shuffle is <= ~bitmap_limit keys.
    # The broadcast tier runs on the HLL estimate: its vocab_size is used
    # only for the limit comparison, never for sizing, and a 2% HLL error
    # at the 2M boundary is a strategy choice, not a correctness one.
    toks = t.select(F.explode("_toks").alias("_tok"))

    def _probe_vocab() -> int | None:
        probe_est = (
            t.sample(fraction=0.05, seed=7)
            .select(F.explode("_toks").alias("_tok"))
            .agg(F.approx_count_distinct("_tok").alias("_e"))
            .first()["_e"]
        )
        if probe_est > vocab_broadcast_limit * 1.05:
            return None
        full_est = toks.agg(F.approx_count_distinct("_tok").alias("_e")).first()["_e"]
        if full_est > vocab_broadcast_limit * 1.05:
            return None
        if full_est <= bitmap_vocab_limit * 1.05:
            return _exact_distinct(toks, "_tok")
        return full_est

    # Probe result cached per registry build identity — see _VOCAB_STATS:
    # re-building the same dedup query over the same files pays the 2-3
    # probe actions once, not per execution.
    vocab_size = _cached_probe(
        ("jaccard", bitmap_vocab_limit, vocab_broadcast_limit), _probe_vocab
    )
    use_bitmap = vocab_size is not None and vocab_size <= bitmap_vocab_limit

    prefix_len = (
        F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")).cast("int") + F.lit(2)
    ).alias("_p")
    # (+1 safety margin over |X| - ceil(tau*|X|) + 1 absorbs any float ulp
    # in tau*|X|: a too-long prefix is harmless, a too-short one loses pairs)

    if use_bitmap:
        from pyspark.sql import Window

        n_words = (vocab_size + 63) // 64 if vocab_size else 1
        ranked_vocab = vocab.withColumn(
            "_tid",
            F.row_number().over(Window.orderBy(F.col("_df").asc(), F.col("_tok").asc())) - 1,
        )
        vmap = ranked_vocab.agg(
            F.map_from_entries(F.collect_list(F.struct("_tok", "_tid"))).alias("_vmap")
        )
        docs = t.crossJoin(F.broadcast(vmap)).select(
            "_id",
            "_n",
            *(["_blk"] if block_col else []),
            F.expr("array_sort(transform(_toks, t -> _vmap[t]))").alias("_ids"),
            prefix_len,
        )
        docs = docs.withColumn(
            "_bits",
            F.expr(
                f"transform(sequence(0, {n_words - 1}), w ->"
                " aggregate(filter(_ids, i -> i div 64 = w), cast(0 as bigint),"
                " (acc, i) -> acc | shiftleft(cast(1 as bigint), cast(i % 64 as int))))"
            ),
        )
        join_tok, payload = "_ids", "_bits"
        n_shared_expr = F.expr(
            "aggregate(zip_with(_ta, _tb, (x, y) -> bit_count(x & y)), 0, (acc, v) -> acc + v)"
        )
    elif vocab_size is not None:
        vmap = vocab.agg(
            F.map_from_entries(F.collect_list(F.struct("_tok", "_df"))).alias("_vmap")
        )
        docs = t.crossJoin(F.broadcast(vmap)).select(
            "_id",
            "_n",
            *(["_blk"] if block_col else []),
            F.expr(
                "transform(array_sort(transform(_toks,"
                " t -> struct(_vmap[t] as df, t as tok))), s -> s.tok)"
            ).alias("_sorted_toks"),
            prefix_len,
        )
        join_tok, payload = "_sorted_toks", "_sorted_toks"
        n_shared_expr = F.size(F.array_intersect("_ta", "_tb"))
    else:
        # Unbounded vocabulary: no broadcast anywhere. Each doc's tokens
        # go through an explode -> shuffle join against the df table ->
        # re-collect; array_sort on (df, tok) structs restores the exact
        # canonical order the broadcast path produces (collect_list order
        # is nondeterministic, the sort makes it irrelevant). Costs one
        # extra shuffle keyed by token (AQE skew-split covers hot tokens)
        # — the price of never materializing the vocab in one place.
        ex = t.select("_id", "_n", *(["_blk"] if block_col else []), F.explode("_toks").alias("_tok"))
        docs = (
            ex.join(vocab, "_tok")
            .groupBy("_id", "_n", *(["_blk"] if block_col else []))
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(_df as df, _tok as tok))),"
                    " s -> s.tok)"
                ).alias("_sorted_toks")
            )
            .select(
                "_id",
                "_n",
                *(["_blk"] if block_col else []),
                "_sorted_toks",
                prefix_len,
            )
        )
        join_tok, payload = "_sorted_toks", "_sorted_toks"
        n_shared_expr = F.size(F.array_intersect("_ta", "_tb"))

    pref = docs.select(
        "_id",
        "_n",
        *(["_blk"] if block_col else []),
        F.explode(F.slice(join_tok, F.lit(1), F.col("_p"))).alias("_tok"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    # prefix filter + length filter: J >= tau forces tau*|A| <= |B| <= |A|/tau
    cond = (
        (F.col("a._tok") == F.col("b._tok"))
        & (F.col("a._id") < F.col("b._id"))
        & (F.col("b._n") >= F.lit(threshold) * F.col("a._n"))
        & (F.col("a._n") >= F.lit(threshold) * F.col("b._n"))
    )
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    cand = (
        a.join(b, cond)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    ta = docs.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), F.col(payload).alias("_ta")
    )
    tb = docs.select(
        F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), F.col(payload).alias("_tb")
    )
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("n_shared", n_shared_expr)
        .withColumn(
            "jaccard", F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "n_a", "n_b", "n_shared", "jaccard")


def blocked_bitmap_jaccard_pairs(
    tokenized: DataFrame,
    id_col: str,
    tokens_col: str,
    block_col: str,
    threshold: float = 0.5,
    bitmap_vocab_limit: int = 4096,
) -> DataFrame:
    """Exact within-block Jaccard pairs for SMALL vocabularies: compress
    every doc to a fixed few bigint words (token-id bitmap), materialize
    that table ONCE (localCheckpoint — the self-join would otherwise
    re-run the whole tokenize+vocab pipeline for each side), and compare
    every same-block pair with an unrolled bit_count(a & b) chain plus
    the Jaccard length filter (tau*|A| <= |B| <= |A|/tau) applied inside
    the join.

    When to prefer this over jaccard_pairs' prefix filter: blocked
    corpora with modest block sizes, where the prefix join's candidate
    set degenerates to ~all within-block pairs anyway (tiny vocab => all
    prefixes collide) — then candidate generation buys nothing and the
    all-pairs bitmap compare is pure codegen ALU work (a 250-doc block is
    ~31k pair compares of ~6 words each). At 100 TB the same shape holds
    per block; skewed block sizes get the salted-join treatment
    (operators/joins.salted_join) before the pair join. Falls back to
    jaccard_pairs (prefix filtering) when the vocabulary outgrows the
    bitmap budget.

    Bitmap build is the codegen-friendly shape: explode RAW tokens ->
    broadcast-join the (token -> id) dim -> hash-agg with per-word bit_or
    (map-side partial agg). Two deliberate non-choices: no per-row
    higher-order lambda over a map literal (interpreted, O(vocab) per
    lookup), and NO array_distinct anywhere — array_distinct on string
    arrays is quadratic-ish per row (measured 6x the whole tokenize cost)
    and redundant here because bit_or dedups for free and
    sum(bit_count(words)) IS the distinct-token count.

    Output: (id_a, id_b, n_a, n_b, n_shared, jaccard), id_a < id_b.
    """
    from pyspark.sql import Window

    from cellbase_spark.io import fan_out

    # One materialization of the exploded token stream feeds the vocab
    # count, the broadcast dim build, AND the bitmap agg — without it the
    # tokenize+explode pipeline would run three times (once per consumer).
    ex = (
        fan_out(
            tokenized.select(
                F.col(id_col).alias("_id"),
                F.col(block_col).alias("_blk"),
                F.col(tokens_col).alias("_toks"),
            )
        )
        .select("_id", "_blk", F.explode("_toks").alias("_tok"))
        .transform(_ckpt)
    )
    vocab = ex.select("_tok").distinct()
    vocab_size = _bounded_vocab_size(ex, "_tok", bitmap_vocab_limit)
    if not vocab_size:
        return jaccard_pairs(
            tokenized,
            id_col=id_col,
            tokens_col=tokens_col,
            block_col=block_col,
            threshold=threshold,
            bitmap_vocab_limit=bitmap_vocab_limit,
        )
    n_words = (vocab_size + 63) // 64
    ranked = vocab.withColumn("_tid", F.row_number().over(Window.orderBy("_tok")) - 1)
    word_aggs = [
        F.expr(
            f"bit_or(if(_tid div 64 = {w},"
            " shiftleft(cast(1 as bigint), cast(_tid % 64 as int)),"
            " cast(0 as bigint)))"
        ).alias(f"_w{w}")
        for w in range(n_words)
    ]
    docs = (
        ex.join(F.broadcast(ranked), "_tok")
        .groupBy("_id", "_blk")
        .agg(*word_aggs)
        .withColumn(
            "_n", F.expr(" + ".join(f"bit_count(_w{w})" for w in range(n_words)))
        )
        .transform(_ckpt)
    )
    a, b = docs.alias("a"), docs.alias("b")
    tau = F.lit(threshold)
    shared = " + ".join(f"bit_count(a._w{w} & b._w{w})" for w in range(n_words))
    pairs = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.col("b._n") >= tau * F.col("a._n"))
            & (F.col("a._n") >= tau * F.col("b._n")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
            F.expr(shared).alias("n_shared"),
        )
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return pairs.select("id_a", "id_b", "n_a", "n_b", "n_shared", "jaccard")


def _cached_rdd_bytes(df: DataFrame) -> int | None:
    """Cached bytes (memory + disk) of an eager-checkpointed frame's
    RDD, from the block manager's storage info — driver-side metadata,
    no job. None when the frame is not a materialized LogicalRDD (or
    any accessor drifts), letting callers fall back to a job-based
    probe."""
    try:
        rid = int(df._jdf.queryExecution().analyzed().rdd().id())
        sc = df.sparkSession.sparkContext
        for info in sc._jsc.sc().getRDDStorageInfo():
            if int(info.id()) == rid:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:
        pass
    return None


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
    driver_cc_limit: int = 2_000_000,
) -> DataFrame:
    """Min-label propagation over an undirected pair graph: every node
    ends with cluster_id = min node id reachable from it — the grouping
    step that turns near-dup PAIRS into dedup CLUSTERS with a canonical
    (min-id) representative.

    Iterative Spark shape, tuned for the dedup workload where most of the
    corpus is ISOLATED (no near-dup edge at all):
    - only edge-touching nodes enter the loop; isolated docs are
      re-attached at the end with cluster_id = own id via one left join.
      At 100 TB this iterates over the dup-involved fraction (typically
      10-30% of docs), not the whole corpus, every round.
    - self-loops fold the node's own label into the neighbor-min, so a
      round is ONE groupBy-min plus the PATH HALVING join
      (label := label(label)); halving keeps convergence at
      O(log diameter) rounds instead of O(diameter).
    - labels only ever decrease, so "no label changed" ⟺ "sum(labels)
      unchanged" — the convergence probe is a cheap agg on the
      just-checkpointed round output, no join against the previous state.
    localCheckpoint truncates lineage each round so round N's plan doesn't
    replay rounds 1..N-1, and the (possibly expensive) edge pipeline is
    materialized once up front.
    """
    global LAST_CC_STATS
    e = edges.select(F.col(src_col).alias("_u"), F.col(dst_col).alias("_v")).transform(
        _ckpt
    )
    # Size-gated driver fast path (the AQE-broadcast-threshold pattern,
    # decided on the MEASURED edge count of the already-materialized
    # checkpoint): the CC working set is EDGES-bounded, not corpus-
    # bounded — a dedup pair graph is typically a tiny fraction of the
    # table — so below the limit, union-find on the driver replaces
    # O(log diameter) iterative rounds (each 2-3 stage launches) with
    # one collect of two-long rows + O(E α(E)) local work + one
    # parallelize back. Past the limit (100 TB dup-heavy corpora), the
    # iterative min-label/path-halving loop below runs unchanged; the
    # two paths are result-identical (same min-id canonical labels) and
    # the iterative path stays covered by tests at limit=0.
    # The probe decides the path AND delivers the driver-path edges, and
    # no branch ships more than driver_cc_limit + 1 rows to the driver:
    # cached bytes cannot bound a row count (a two-long row takes ~84 B
    # in memory, less in serialized disk blocks). It is sized from FREE
    # driver-side metadata (r16): the edges are already
    # eager-checkpointed, so the block manager knows their cached bytes
    # (getRDDStorageInfo) without running a job.
    #  - small cached bytes: limit(cap+1).collect() over the cached
    #    blocks coalesced to ONE partition — one job, one task, no
    #    CollectLimit take-ladder (the r15 limit+collect over the raw
    #    partitions ran a 1/4/11-task incremental ladder, measured ~2x
    #    slower than a straight collect at bench scale);
    #  - large cached bytes: a count() job decides FIRST, so the
    #    over-cap path never ships millions of rows to the driver only
    #    to discard them (r15 ADVICE low);
    #  - metadata unavailable (never-materialized or foreign RDD): the
    #    r15 bounded limit+collect over the raw partitions.
    nbytes = _cached_rdd_bytes(e)
    probe_gate = min(128 * 1024 * 1024, max(driver_cc_limit, 1) * 64)
    if nbytes is not None and nbytes > probe_gate:
        n_edges = e.count()
        _probe = e.collect() if n_edges <= driver_cc_limit else []
    else:
        src = e if nbytes is None else e.coalesce(1)
        _probe = src.limit(driver_cc_limit + 1).collect()
        n_edges = len(_probe)
    if n_edges <= driver_cc_limit:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for u, v in _probe:
            if u is None or v is None:
                # null endpoints carry no connectivity (the iterative
                # path's equi-joins drop them too) and would break
                # Python < comparisons in union-find
                continue
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN id keeps the canonical-label contract
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        spark = edges.sparkSession
        LAST_CC_STATS = {"edges": n_edges, "path": "driver", "rounds": 0}
        rows = [(x, find(x)) for x in parent]
        # label type == id type: derive the schema from the edge column
        # (ids may be string or any orderable type, not just long)
        id_type = e.schema["_u"].dataType
        labels_df = spark.createDataFrame(
            rows,
            schema=StructType(
                [StructField("_id", id_type), StructField("_lbl", id_type)]
            ),
        )
        out = nodes.select(F.col(id_col).alias("_nid")).join(
            F.broadcast(labels_df) if n_edges <= 500_000 else labels_df,
            F.col("_nid") == F.col("_id"),
            "left",
        )
        return out.select(
            F.col("_nid").alias(id_col),
            F.coalesce("_lbl", "_nid").alias("cluster_id"),
            (F.coalesce("_lbl", "_nid") == F.col("_nid")).alias("is_canonical"),
        )
    active = (
        e.select("_u").unionByName(e.select(F.col("_v").alias("_u"))).distinct()
    )
    # symmetric closure + self-loops (groupBy(_u).min covers min(own ∪
    # neighbors)), materialized ONCE — every round's join probes these
    # cached partitions instead of replaying union+distinct.
    sym = (
        e.unionByName(e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v")))
        .unionByName(active.select("_u", F.col("_u").alias("_v")))
        .transform(_ckpt)
    )

    def halve(stepped: DataFrame) -> DataFrame:
        # path halving: resolve each label one more hop (labels are node
        # ids, so join the step result onto itself). The checkpoint is
        # LAZY (r16, guide §2 — fewer jobs per round): the convergence
        # agg right after each halve is the round's first action, so it
        # materializes the checkpoint blocks AND computes the label sum
        # in ONE job — the loop pays one job per round instead of a
        # checkpoint job followed by an agg job (r15 profile: ~6 jobs
        # per halving round on q_cc_iterative).
        hop = stepped.select(F.col("_u").alias("_k"), F.col("_mid").alias("_kl"))
        return (
            stepped.join(hop, stepped["_mid"] == hop["_k"], "left")
            .select(F.col("_u").alias("_id"), F.coalesce("_kl", "_mid").alias("_lbl"))
            .transform(lambda f: _ckpt(f, eager=False))
        )

    # Round 1 specialized: the initial labeling is the identity, so
    # min-of-neighbor-labels is just min(_v) over sym — no join needed.
    labels = halve(sym.groupBy("_u").agg(F.min("_v").alias("_mid")))
    prev_sum = labels.agg(F.sum("_lbl")).first()[0]
    rounds = 1
    for _ in range(max_iters - 1):
        stepped = (
            sym.join(labels, sym["_v"] == labels["_id"])
            .groupBy("_u")
            .agg(F.min("_lbl").alias("_mid"))
        )
        labels = halve(stepped)
        rounds += 1
        label_sum = labels.agg(F.sum("_lbl")).first()[0]
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    LAST_CC_STATS = {"edges": n_edges, "path": "iterative", "rounds": rounds}
    out = nodes.select(F.col(id_col).alias("_nid")).join(
        labels, F.col("_nid") == F.col("_id"), "left"
    )
    return out.select(
        F.col("_nid").alias(id_col),
        F.coalesce("_lbl", "_nid").alias("cluster_id"),
        (F.coalesce("_lbl", "_nid") == F.col("_nid")).alias("is_canonical"),
    )


def minhash_lsh_pairs(
    tokenized: DataFrame,
    id_col: str,
    tokens_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bitmap_vocab_limit: int = 0,
    band_bucket_cap: int = 0,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    1. per-row signature (map only)
    2. band keys -> posexplode -> equi-join on (band_idx, key): candidates
    3. exact Jaccard verify on the candidate set. With
       bitmap_vocab_limit > 0 and a distinct-token vocabulary within it
       (one driver-side count decides), the verify takes the same bitmap
       fast path as jaccard_pairs: each doc compresses to a few bigint
       words and a pair verify is bit_count(a & b) instead of a
       string-array intersection, so the verify join ships 8-byte words,
       not token arrays. Worth the extra vocab-count job only when the
       band join yields MANY candidates (low bands/high threshold — the
       clustering workload); for a loose threshold with few candidates,
       leave it 0 and verify the arrays directly.

    band_bucket_cap > 0 is the 100 TB skew guard: a band bucket holding
    B rows emits B^2/2 candidates, so one mega-clique (boilerplate pages,
    empty docs) turns the band join quadratic. Buckets larger than the
    cap are EXCLUDED from candidate generation — their members are
    trivially near-identical and belong to the exact-hash dedup path,
    not pairwise verification (measured at sf1: the uncapped pair graph
    is 21.5M edges, almost all from mega-cliques; capping at 8 cuts the
    full pair key 37.3 s -> 4.7 s). The bucket count is a window keyed
    on the same (band, key) columns the self-join shuffles on (AQE
    exchange reuse dedups the duplicated window subtree at runtime).
    """
    from cellbase_spark.io import fan_out

    t = fan_out(
        tokenized.select(
            F.col(id_col).alias("_id"), F.array_distinct(F.col(tokens_col)).alias("_toks")
        )
    )
    banded = t.select(
        "_id",
        F.posexplode(lsh_band_keys_fused("_toks", n_hashes, bands)).alias("_bidx", "_bkey"),
    )
    if band_bucket_cap:
        from pyspark.sql import Window

        bn = F.count(F.lit(1)).over(Window.partitionBy("_bidx", "_bkey"))
        banded = (
            banded.withColumn("_bn", bn)
            .where(F.col("_bn") <= band_bucket_cap)
            .drop("_bn")
        )
    a, b = banded.alias("a"), banded.alias("b")
    # candidate ids only through the join + distinct: the dedup shuffle
    # carries two longs per row, not two token arrays
    cand = (
        a.join(
            b,
            (F.col("a._bidx") == F.col("b._bidx"))
            & (F.col("a._bkey") == F.col("b._bkey"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    ex = (
        t.select("_id", F.explode("_toks").alias("_tok")).transform(_ckpt)
        if bitmap_vocab_limit
        else None
    )
    vocab_size = (
        _bounded_vocab_size(ex, "_tok", bitmap_vocab_limit) if ex is not None else None
    )
    if vocab_size:
        # same codegen bitmap build as blocked_bitmap_jaccard_pairs:
        # explode -> broadcast (token -> id) dim -> per-word bit_or agg
        # (never a per-row lambda over a map literal — interpreted and
        # O(vocab) per lookup)
        from pyspark.sql import Window

        n_words = (vocab_size + 63) // 64
        ranked = ex.select("_tok").distinct().withColumn(
            "_tid", F.row_number().over(Window.orderBy("_tok")) - 1
        )
        word_aggs = [
            F.expr(
                f"bit_or(if(_tid div 64 = {w},"
                " shiftleft(cast(1 as bigint), cast(_tid % 64 as int)),"
                " cast(0 as bigint)))"
            ).alias(f"_w{w}")
            for w in range(n_words)
        ]
        docs = (
            ex.join(F.broadcast(ranked), "_tok")
            .groupBy("_id")
            .agg(*word_aggs)
            .withColumn(
                "_n", F.expr(" + ".join(f"bit_count(_w{w})" for w in range(n_words)))
            )
            .transform(_ckpt)
        )
        ta = docs.select(
            F.col("_id").alias("id_a"),
            F.col("_n").alias("_na"),
            *[F.col(f"_w{w}").alias(f"_a{w}") for w in range(n_words)],
        )
        tb = docs.select(
            F.col("_id").alias("id_b"),
            F.col("_n").alias("_nb"),
            *[F.col(f"_w{w}").alias(f"_b{w}") for w in range(n_words)],
        )
        inter = F.expr(" + ".join(f"bit_count(_a{w} & _b{w})" for w in range(n_words)))
        union = F.col("_na") + F.col("_nb") - F.col("_inter")
        return (
            cand.join(ta, "id_a")
            .join(tb, "id_b")
            .withColumn("_inter", inter)
            .withColumn("jaccard", F.col("_inter") / union)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    ta = t.select(F.col("_id").alias("id_a"), F.col("_toks").alias("_ta"))
    tb = t.select(F.col("_id").alias("id_b"), F.col("_toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_tombstone_path(band_dir: str) -> str:
    """Naming convention binding a band-table directory to its tombstone
    side-table (a SIBLING directory — a subdirectory inside the parquet
    dir would break the band table's own reads)."""
    return band_dir.rstrip("/") + "_tombstones"


def delete_from_dedup_index(spark, band_dir: str, doc_ids) -> None:
    """DELETE corpus docs from a persisted dedup band table — the
    takedown verb for the dedup index, mirroring
    similarity.delete_from_ann_index (r10 VERDICT task #2). Logical and
    O(|takedown list|): ids append to the tombstone side-table
    (`<band_dir>_tombstones`, one _id bigint column) and every probe
    anti-joins the corpus side against it
    (incremental_dedup_pairs(corpus_tombstones=...)); no band file is
    rewritten. The PHYSICAL drop happens at the next
    compact_dedup_bands, which excludes tombstoned rows and clears the
    side-table.

    `doc_ids`: a list of ids or a DataFrame whose FIRST column is the
    id (scale path — never collected). Duplicate tombstone rows across
    calls are harmless to anti-join semantics and cleared at
    compaction. Idempotent."""
    if isinstance(doc_ids, DataFrame):
        rows = doc_ids.select(
            F.col(doc_ids.columns[0]).cast("long").alias("_id")
        ).distinct()
    else:
        doc_ids = list(doc_ids)
        if not doc_ids:
            return
        rows = spark.createDataFrame(
            [(int(i),) for i in doc_ids], "_id long"
        ).distinct()
    rows.write.mode("append").parquet(dedup_tombstone_path(band_dir))


def read_dedup_tombstones(spark, band_dir: str) -> DataFrame | None:
    """Tombstone reader for `band_dir` (None when no delete ever ran —
    the probe's no-tombstones fast path is one existence check)."""
    import os

    p = dedup_tombstone_path(band_dir)
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        return None
    return spark.read.parquet(p)


# Test-only seam (mirrors publish.CRASH_POINTS): called after the fold
# takes its file snapshot, so tests can drive a takedown landing exactly
# inside the fold window. Production never sets it.
_TOMBSTONE_FOLD_HOOK = None


def compact_dedup_bands(
    spark, band_dirs: list[str], out_dir: str, tombstone_dir: str | None = None
) -> None:
    """Band-table compaction with physical tombstone drop: union the
    source generations, EXCLUDE tombstoned docs, land ~128 MB files in
    a NEW immutable directory (the q_dedup_generations roll-forward
    discipline — readers mid-probe keep their old generation), then
    FOLD the tombstone side-table against the published generation:
    only rows whose _id is ABSENT from the generation are cleared
    (provably folded — an anti-join on an absent id is a no-op), while
    rows whose _id survives in the generation are KEPT. The fold is
    FILE-SNAPSHOT scoped (r14 ADVICE low closed the last window): it
    reads a fixed list of the side-table's parquet files, appends the
    kept rows as NEW files, then removes exactly the snapshot files —
    a tombstone appended at ANY point during the fold lands in a file
    outside the snapshot and is never touched, and a crash between the
    append and the remove leaves harmless duplicate tombstone rows
    (probes anti-join on distinct ids). That makes the clear safe under
    every retry/append interleaving: a takedown landing in the crash
    window, after an earlier call already published out_dir
    (publish_artifact_dir's idempotent no-op retry), or concurrently
    with the fold itself, still guards the generation instead of being
    truncated and resurrecting the deleted doc in later probes.

    `tombstone_dir` defaults to band_dirs[0]'s conventional sibling.
    Note the fp-star seam: compact only rewrites BAND tables; a
    fingerprint star (build_dedup_index's fps/) holding a deleted
    canon_id must be served with its own anti-join until the next full
    index build — surviving exact-dupes still match through the band
    path (identical token sets -> identical band keys), only the
    O(1)-output star shortcut for that clique is lost."""
    import math
    import os

    if not band_dirs:
        raise ValueError("compact_dedup_bands: no band tables to compact")
    merged = spark.read.parquet(band_dirs[0])
    for d in band_dirs[1:]:
        merged = merged.unionByName(spark.read.parquet(d))
    ts_dir = tombstone_dir or dedup_tombstone_path(band_dirs[0])
    tombs = None
    if os.path.exists(os.path.join(ts_dir, "_SUCCESS")):
        tombs = spark.read.parquet(ts_dir).select("_id").distinct()
        merged = merged.join(F.broadcast(tombs), "_id", "left_anti")
    n_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d in band_dirs
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    target = max(1, math.ceil(n_bytes / (128 * 1024 * 1024)))
    from cellbase_spark.operators.publish import publish_artifact_dir

    # crash-safe publish (r11 verdict #4, path face): the generation is
    # written to a sibling temp dir and os.rename'd into place — atomic,
    # so out_dir either doesn't exist or is complete. Without this, a
    # crash mid-write leaves a partial directory that spark.read.parquet
    # would silently serve as a short generation.
    publish_artifact_dir(
        lambda tmp: merged.coalesce(target).write.mode("overwrite").parquet(tmp),
        out_dir,
    )
    # Fold the tombstones against the generation as PUBLISHED (re-read
    # the side-table AND the generation from disk: on the idempotent
    # no-op retry path the in-memory `tombs`/`merged` describe a
    # generation that was never written). KEEP any tombstone whose doc
    # survives in out_dir — it was not folded and must keep guarding
    # probes; rows absent from out_dir are folded (or never existed)
    # and clearing them is a no-op for anti-join semantics.
    #
    # The fold operates on a FILE SNAPSHOT of the side-table, never the
    # whole directory: append the kept rows as new files FIRST, then
    # remove only the snapshot files. A takedown appended after the
    # snapshot lives in a file the fold never lists; a crash between
    # append and remove leaves duplicate kept rows (distinct-ed by
    # every probe). The old in-place mode("overwrite") truncated any
    # tombstone that landed between its read and its write.
    if os.path.exists(os.path.join(ts_dir, "_SUCCESS")):
        snap = sorted(
            os.path.join(ts_dir, f)
            for f in os.listdir(ts_dir)
            if f.endswith(".parquet")
        )
        if _TOMBSTONE_FOLD_HOOK is not None:
            _TOMBSTONE_FOLD_HOOK()  # test seam: append-during-fold races
        if snap:
            kept = (
                spark.read.parquet(*snap)
                .select("_id")
                .distinct()
                .join(
                    spark.read.parquet(out_dir).select("_id").distinct(),
                    "_id",
                    "left_semi",
                )
                # materialize off the snapshot files before removing
                # them — a lazy self-read would see its own removal
                .localCheckpoint()
            )
            kept.write.mode("append").parquet(ts_dir)
            for f in snap:
                for victim in (f, os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")):
                    try:
                        os.remove(victim)
                    except FileNotFoundError:
                        pass


def incremental_dedup_pairs(
    batch: DataFrame,
    corpus_bands: DataFrame,
    corpus_tokens: DataFrame,
    id_col: str = "id",
    tokens_col: str = "toks",
    n_hashes: int = 16,
    bands: int = 2,
    threshold: float = 0.95,
    band_bucket_cap: int = 0,
    corpus_fps: DataFrame | None = None,
    fp_delim: str = " ",
    corpus_tombstones: DataFrame | None = None,
) -> DataFrame:
    """New-batch-vs-corpus near-dup pairs against a PERSISTED index —
    the verb a 100 TB pipeline runs daily (never re-cluster the corpus).

    - `batch`: (id_col, tokens_col) for the arriving docs; its MinHash
      bands are computed map-only, ONE batch scan.
    - `corpus_bands`: the persisted band table as (id_col, _bidx, _bkey)
      — scanned, never recomputed from text.
    - `corpus_tokens`: (id_col, tokens_col) reader for the exact-Jaccard
      verification fetches (id-keyed joins).
    - `band_bucket_cap` > 0 enables the skew guard: buckets holding more
      than cap docs across corpus+batch are excluded from candidate
      generation (their mega-clique mass belongs to the exact-hash star).
    - `corpus_fps`: optional persisted (fp, canon_id) token-set
      fingerprint star; when given, every batch doc with an exact corpus
      match emits ONE (id, canon_id, 1.0) row regardless of clique size,
      DISTINCT-unioned with the near-dup tail.
    - `fp_delim`: join delimiter for the token-set fingerprint
      md5(concat_ws(fp_delim, array_sort(toks))). The default " " is
      only injective when tokens contain no spaces (true for the
      engine's whitespace-split tokens, and it is what the persisted
      fp tables were built with). PUBLIC-API PRECONDITION (r6 ADVICE):
      if your tokens_col may contain spaces, pass a delimiter that
      cannot appear in tokens (e.g. "\\u0000") for BOTH the fp-table
      build and this probe — ["a","b c"] and ["a b","c"] collide under
      the space delimiter.

    - `corpus_tombstones`: optional (_id) frame of DELETED corpus docs
      (delete_from_dedup_index / read_dedup_tombstones): the corpus band
      side is anti-joined before candidate generation (broadcast —
      takedown-sized) and the exact-star tail drops pairs whose
      canon_id was deleted, so a takedown is invisible to probes the
      moment the tombstone lands, before any compaction rewrites files.

    Returns (id_new, id_corpus, jaccard) with jaccard >= threshold.
    Work: O(|batch| x bands) probe + O(candidates) verification; with
    the cap and the star both on, output is O(batch + tail). Backs
    q_dedup_incremental[_capped|_full] (queries/llm_dedup.py) and
    CellTable.dedup_incremental (api.py)."""
    from pyspark.sql.window import Window as W

    # NOTE (optimization r15): fan_out_barrier on the batch/corpus fetch
    # sides was A/B'd here and reverted — the barrier's checkpoint job
    # costs more than the serial band-key map it parallelizes at batch
    # sizes this verb sees (work is O(|batch|), deliberately small), and
    # on a wide deployment batch the barrier is a no-op anyway.
    probe = batch.select(
        F.col(id_col).alias("_id"),
        F.posexplode(lsh_band_keys_fused(tokens_col, n_hashes, bands)).alias(
            "_bidx", "_bkey"
        ),
    )
    corpus_side = corpus_bands.select(
        F.col(id_col).alias("_id") if id_col in corpus_bands.columns else F.col("_id"),
        "_bidx",
        "_bkey",
    )
    if corpus_tombstones is not None:
        ts = corpus_tombstones.select(
            F.col(corpus_tombstones.columns[0]).alias("_id")
        )
        corpus_side = corpus_side.join(F.broadcast(ts), "_id", "left_anti")
    if band_bucket_cap > 0:
        all_bands = corpus_side.withColumn("_side", F.lit(0)).unionByName(
            probe.withColumn("_side", F.lit(1))
        )
        kept = all_bands.withColumn(
            "bn", F.count(F.lit(1)).over(W.partitionBy("_bidx", "_bkey"))
        ).where(F.col("bn") <= band_bucket_cap)
        new_side = kept.where(F.col("_side") == 1)
        old_side = kept.where(F.col("_side") == 0)
    else:
        new_side, old_side = probe, corpus_side
    cand = (
        new_side.alias("a")
        .join(
            old_side.alias("b"),
            (F.col("a._bidx") == F.col("b._bidx"))
            & (F.col("a._bkey") == F.col("b._bkey")),
        )
        .select(F.col("a._id").alias("id_new"), F.col("b._id").alias("id_corpus"))
        .distinct()
        # Explicit round-robin fan-out of the candidate ids before the
        # verify joins (r16, guide §2.5 synthetic-parallelism note): AQE
        # coalesces the distinct's exchange by BYTES, and candidate rows
        # are two longs — profiled on q_dedup_band_delete, the entire
        # verify (two broadcast lookups + array_intersect per pair) ran
        # as 2 tasks / 6.7 CPU-s with 30 cores idle. The per-row verify
        # cost is invisible to AQE's sizing; a keyless repartition to
        # cluster parallelism pins it wide. Cost: one extra exchange of
        # id pairs (16 bytes/row). AQE leaves user repartitions alone,
        # and at 100 TB candidates are O(batch) so cluster-width
        # parallelism is the right size, not a constant.
        .repartition(batch.sparkSession.sparkContext.defaultParallelism)
    )
    ta = batch.select(
        F.col(id_col).alias("id_new"), F.col(tokens_col).alias("_ta")
    )
    tb = corpus_tokens.select(
        F.col(id_col).alias("id_corpus"), F.col(tokens_col).alias("_tb")
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    tail = (
        cand.join(ta, "id_new")
        .join(tb, "id_corpus")
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_new", "id_corpus", "jaccard")
    )
    if corpus_fps is None:
        return tail
    bfp = batch.select(
        F.col(id_col).alias("id_new"),
        F.md5(F.concat_ws(fp_delim, F.array_sort(F.col(tokens_col)))).alias("fp"),
    )
    exact = bfp.join(corpus_fps, "fp").select(
        "id_new", F.col("canon_id").alias("id_corpus"), F.lit(1.0).alias("jaccard")
    )
    if corpus_tombstones is not None:
        ts_c = corpus_tombstones.select(
            F.col(corpus_tombstones.columns[0]).alias("id_corpus")
        )
        exact = exact.join(F.broadcast(ts_c), "id_corpus", "left_anti")
    return exact.unionByName(tail).distinct()
