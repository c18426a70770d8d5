"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line on stdout:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The stdout line is kept deliberately small (headline subset, 2-decimal
seconds) so any consumer with a bounded capture buffer still sees the whole
line; the full per-key battery is written to BENCH_FULL.json next to this
script (and to stderr). Set SPARK_GRAFT_BENCH_ALL=1 to time every
registered key (still summarized compactly on stdout), or
SPARK_GRAFT_BENCH_KEYS=q_a,q_b,... to time a named subset (the
deployment-form scale rungs at .localdata/sf10 use this — running the
documented-quadratic eval baselines at sf10 would measure nothing the
cost model doesn't already state).

Timing protocol (BASELINE.md, hardened round 3): steady-state best-of-N —
one untimed warm-up (JIT, shuffle-service, file-index caches), then up to
3 timed runs per key (early-stop once a key's timed runs exceed an ~8 s
budget, so slow keys cost 1-2 runs and sub-second keys get the full 3);
the MINIMUM is reported — for repeated identical work, min is the
lowest-noise location estimate, and round-over-round diffs on sub-second
keys were previously dominated by scheduler jitter (BASELINE.md's ±2-3 s
noise floor). Per-key run lists land in BENCH_FULL.json ("runs") so any
consumer can judge variance; session startup is excluded. `value` is the
sum of per-query steady-state seconds over the headline set.

Contention guard v2 (round 10): TWO fixed micro-ops — CPU-bound
range-sum AND a shuffle-shaped repartition+agg — bracket the battery
(plus loadavg) and land under "guard"; if EITHER leaves its calibrated
per-host idle band (.bench_ref.json rolling min) the battery reruns once
and the artifact is marked "contended"/"reran" — a loaded box
self-identifies in the record instead of reading as a code regression
(three prior rounds carried phantoms; r9's was shuffle-side and the
CPU-only guard missed it).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One representative per operator family + every perf-flagged key, so the
# round-over-round BENCH diff tracks exactly what VERDICT watches.
HEADLINE = [
    "q_agg_groupby",        # TPC-H Q1 shape: the canonical scan+agg
    "q_tpch_q3",            # join + agg + topk
    "q_tpch_q5",            # 6-way star join
    "q_tpch_q9",            # widest join tree
    "q_tpch_q18",           # large-volume HAVING join
    "q_tpch_q21",           # multi-EXISTS self-join rewrite
    "q_join_inner",         # bread-and-butter equi-join
    "q_join_asof",          # custom as-of join
    "q_window_running_sum", # window frame
    "q_topk_per_group",     # rank + filter
    "q_dedup_exact",        # hash dedup
    "q_dedup_minhash",      # MinHash-LSH (flagged: watch trend)
    "q_dedup_near",         # PPJoin (flagged)
    "q_ngram_jaccard",      # bitmap verify (flagged)
    "q_dedup_simhash",      # simhash fold
    "q_dedup_clusters",     # iterative CC (flagged)
    "q_sim_topk",           # brute-force cosine top-k
    "q_knn_join",           # bucketed knn
    "q_ann_ivf",            # IVF ANN
    "q_tfidf",              # (flagged: broadcast fix)
    "q_lang_id",            # text analysis
    "q_token_count",
    "q_sample_hash",        # deterministic sampling
    "q_pagerank",           # iterative graph
    "q_sql_recursive",      # recursive CTE (flagged)
]


# Contention guard v2 (round-10: BENCH_r09 was the THIRD consecutive
# driver artifact with an environment phantom, and the round-9 CPU-only
# guard certified it clean — the drifted keys were all shuffle/IO-heavy,
# which a codegen'd range-sum never exercises). TWO fixed micro-ops now
# bracket the battery:
#   cpu     — whole-stage-codegen'd range-sum (no IO, no shuffle): pure
#             CPU availability.
#   shuffle — 2M-row repartition + hash-agg: shuffle write/read, disk,
#             and scheduler round-trips — the contention mode the r9
#             phantoms lived in.
# Contended = EITHER op out of its idle band on EITHER side of the
# battery; a contended pass re-runs the battery ONCE (per-key min
# across passes) and the artifact says so ("contended"/"reran").
#
# Idle bands are CALIBRATED, not hard-coded (r9 ADVICE: the old 0.22 s
# constant was one box's number — any slower host would re-run every
# battery and stamp artifacts 'contended' forever). References persist
# per (hostname, cpu-count) in .bench_ref.json as a rolling MIN over
# all runs, kept SEPARATELY per warm-up class: the pre-battery sample
# runs in a cold JVM (no JIT, no shuffle-service buffers — measured ~2x
# the warm figure for the shuffle op on an idle box), so comparing it
# against a warm-JVM min would read ordinary cold-start as contention.
# "cold" = the first bracket of a process; "warm" = every later
# bracket. A host with NO persisted refs bootstraps from the
# DEFAULT_REF bands below (round-10 review: pure self-reference was
# INERT on a first run — one cold sample can never exceed its own
# band, so a loaded new box would record a clean guard, the exact
# phantom class the guard exists for). The defaults are this repo's
# measured idle bands padded ~20%; a genuinely slower host's first run
# may therefore rerun once and stamp 'contended', after which its OWN
# rolling minima are persisted and every later run classifies against
# host truth — a one-run conservative bootstrap instead of a
# permanently wrong constant (the r9 ADVICE failure) or a silent first
# run (the r10 review failure). The shuffle op gets a wider factor
# (scheduler + disk variance is inherently noisier than codegen'd
# CPU). Env overrides win and apply to both classes:
# $SPARK_GRAFT_MICRO_REF / $SPARK_GRAFT_SHUFFLE_REF.
CONTENDED_FACTOR = {"cpu": 1.3, "shuffle": 1.6}
DEFAULT_REF = {
    "cpu": {"cold": 0.32, "warm": 0.12},
    "shuffle": {"cold": 0.80, "warm": 0.63},
}
_REF_PATH = os.path.join(_REPO, ".bench_ref.json")
GUARD_OPS = ("cpu", "shuffle")
GUARD_CLASSES = ("cold", "warm")
_ENV_REF = {
    "cpu": os.environ.get("SPARK_GRAFT_MICRO_REF"),
    "shuffle": os.environ.get("SPARK_GRAFT_SHUFFLE_REF"),
}


def _host_key() -> str:
    import platform

    return f"{platform.node()}_c{os.cpu_count()}"


def _load_refs() -> dict:
    try:
        with open(_REF_PATH) as f:
            return json.load(f).get(_host_key(), {})
    except (OSError, ValueError):
        return {}


def _save_refs(refs: dict) -> None:
    try:
        with open(_REF_PATH) as f:
            allrefs = json.load(f)
    except (OSError, ValueError):
        allrefs = {}
    allrefs[_host_key()] = refs
    try:
        with open(_REF_PATH, "w") as f:
            json.dump(allrefs, f, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench ref persist failed: {exc!r}", file=sys.stderr)


def micro_op_sec(spark, runs: int = 3) -> float:
    """Best-of-N seconds for the CPU reference micro-op (one untimed
    warm-up). Work is a whole-stage-codegen'd sum over range — no IO, no
    shuffle — so its only variable is CPU availability."""

    def one() -> float:
        t0 = time.time()
        spark.range(400_000_000).selectExpr("sum(id % 1000003) as s").collect()
        return time.time() - t0

    one()
    return min(one() for _ in range(runs))


def shuffle_op_sec(spark, runs: int = 3) -> float:
    """Best-of-N seconds for the SHUFFLE reference micro-op (one untimed
    warm-up): 2M rows repartitioned by key then hash-aggregated to 1024
    groups — real shuffle write + fetch + two exchanges, so it degrades
    under disk/scheduler contention that leaves the CPU op in band."""

    def one() -> float:
        t0 = time.time()
        (
            spark.range(2_000_000)
            .repartition(32, "id")
            .selectExpr("id % 1024 as g")
            .groupBy("g")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.time() - t0

    one()
    return min(one() for _ in range(runs))


GUARD_FNS = {"cpu": micro_op_sec, "shuffle": shuffle_op_sec}


class GuardBands:
    """Per-(op, warm-up class) idle reference: env override > persisted
    per-host rolling min > this run's own fastest same-class sample
    (first run on a host). Samples are (class, sec) pairs per op; the
    first bracket a process observes is "cold", all later ones "warm"."""

    def __init__(self) -> None:
        stored = _load_refs()
        self.samples: dict[str, list[tuple[str, float]]] = {
            op: [] for op in GUARD_OPS
        }
        self.stored = {
            op: {
                kl: (stored.get(op) or {}).get(kl)
                if isinstance(stored.get(op), dict)
                else None
                for kl in GUARD_CLASSES
            }
            for op in GUARD_OPS
        }
        self._n_brackets = 0

    def observe(self, spark) -> dict[str, float]:
        klass = "cold" if self._n_brackets == 0 else "warm"
        self._n_brackets += 1
        out = {}
        for op in GUARD_OPS:
            sec = round(GUARD_FNS[op](spark), 4)
            self.samples[op].append((klass, sec))
            out[op] = sec
        return out

    def ref(self, op: str, klass: str) -> float | None:
        if _ENV_REF[op]:
            return float(_ENV_REF[op])
        cands = [s for kl, s in self.samples[op] if kl == klass]
        if self.stored[op][klass] is not None:
            # floor a possibly glitch-tight value persisted by an older
            # bench (pre-decay) — see persist()
            cands.append(
                max(
                    self.stored[op][klass],
                    DEFAULT_REF[op][klass] * self.REF_FLOOR_FRAC,
                )
            )
        else:
            # no persisted host truth yet: bootstrap from the default
            # band so a loaded first run is DETECTED (own samples alone
            # can never exceed their own minimum — inert guard)
            cands.append(DEFAULT_REF[op][klass])
        return min(cands) if cands else None

    def _out_of_band(self, op: str, klass: str, sec: float) -> bool:
        ref = self.ref(op, klass)
        return ref is not None and sec > ref * CONTENDED_FACTOR[op]

    def contended(self) -> bool:
        """True if ANY sample of ANY op so far exceeds its class band."""
        return any(
            self._out_of_band(op, kl, s)
            for op in GUARD_OPS
            for kl, s in self.samples[op]
        )

    def contended_last(self, n: int = 2) -> bool:
        """True if any of the last n samples of either op is out of band
        (used after a rerun: pass-1's contended samples shouldn't
        permanently stamp a pass-2 that recovered)."""
        return any(
            self._out_of_band(op, kl, s)
            for op in GUARD_OPS
            for kl, s in self.samples[op][-n:]
        )

    # Stored mins DECAY 5% per persist unless re-confirmed by a fresh
    # sample, and never persist below 20% of the default band: a single
    # anomalously fast sample (timer glitch, turbo burst) used to
    # tighten the idle band FOREVER, after which every normal idle run
    # read as contended and was rerun (r10 ADVICE low). With decay, a
    # glitch relaxes back toward real host speed within a few runs; the
    # floor bounds how far a glitch can undershoot in the first place.
    REF_DECAY = 1.05
    REF_FLOOR_FRAC = 0.2

    def persist(self) -> dict[str, dict[str, float | None]]:
        """Roll the per-host per-class reference mins forward from
        observations + decayed prior stored values (env overrides are
        deliberately NOT persisted — they classify this run only)."""
        refs: dict[str, dict[str, float | None]] = {}
        for op in GUARD_OPS:
            refs[op] = {}
            for kl in GUARD_CLASSES:
                cands = [s for k, s in self.samples[op] if k == kl]
                if self.stored[op][kl] is not None:
                    cands.append(self.stored[op][kl] * self.REF_DECAY)
                ref = min(cands) if cands else None
                if ref is not None:
                    ref = max(
                        ref, DEFAULT_REF[op][kl] * self.REF_FLOOR_FRAC
                    )
                refs[op][kl] = round(ref, 4) if ref is not None else None
        _save_refs(refs)
        return refs


def _merge_timing(prev: float | None, best: float) -> float:
    """Per-key min-merge across battery passes: a rerun can only improve
    a key's figure, and a prior error sentinel (-1) is REPLACED, never
    propagated through min()."""
    return best if prev is None or prev < 0 else min(prev, best)


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query(fn, spark, sf_dir: str) -> float:
    t0 = time.time()
    df = fn(spark, sf_dir)
    # noop sink: forces FULL evaluation of every column (count() would let
    # Catalyst prune pure projections — a zorder/quantize/mask query would
    # measure only its scan), with no Py4J result transfer in the timing.
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def run_steady_state(
    fn, spark, sf_dir: str, max_runs: int = 3, budget_sec: float = 8.0
) -> list[float]:
    """One untimed warm-up, then up to max_runs timed runs (early-stop on
    the per-key budget). Caller takes min() as the steady-state figure."""
    run_query(fn, spark, sf_dir)  # warm-up
    times: list[float] = []
    for _ in range(max_runs):
        times.append(run_query(fn, spark, sf_dir))
        if sum(times) >= budget_sec:
            break
    return times


def measure_streaming(spark, sf_dir: str, runs: int = 2) -> dict:
    """Events/sec through the REAL streaming engine (readStream file
    source -> watermarked tumbling window agg -> availableNow -> memory
    sink, awaited). One warm-up then best-of-N wall-clock; every run
    executes the full micro-batch planner + state store + sink-commit
    path, not the batch fast path, on the 8 state stores every engine
    stream starts with (pipelines.start_stream). Gives the q_stream_run_*
    family a throughput number beside its correctness rows (VERDICT r3
    item 7)."""
    import time as _time

    from cellbase_spark.queries.streaming import _table_stream_dir
    from cellbase_spark.streaming import pipelines as sp

    ev_path = _table_stream_dir(sf_dir, "events")  # file source needs a directory
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()

    def one_run() -> float:
        stream = sp.read_events_stream(spark, ev_path)
        t0 = _time.time()
        sp.run_stream_to_memory(sp.tumbling_agg(stream), "bench_stream_tumbling")
        return _time.time() - t0

    one_run()  # warm-up (stream-engine class loading, state-store init)
    secs = min(one_run() for _ in range(runs))
    return {
        "pipeline": "tumbling_1h_availableNow",
        "events": n_events,
        "sec": round(secs, 4),
        "events_per_sec": round(n_events / secs) if secs > 0 else -1,
    }


def measure_streaming_sustained(spark, sf_dir: str, runs: int = 2) -> dict:
    """SUSTAINED multi-batch throughput (VERDICT r5 item 6): the same
    tumbling pipeline driven as 10 real micro-batches (maxFilesPerTrigger
    =1 over a 10-file split of the largest local events table), with the
    production state backend — RocksDB + changelog checkpointing — so
    every batch pays planner + state open/commit + changelog upload +
    sink commit. Reports sustained ev/s across ALL batches, not the
    single-batch figure the r4/r5 rows used. Source preference:
    $SPARK_GRAFT_STREAM_SUSTAINED_DIR, else the biggest .localdata/sf*
    (sf10 = 10 x 1M-event batches), else the bench SF_DIR itself."""
    import glob as _glob
    import time as _time

    from cellbase_spark.streaming import pipelines as sp

    src_sf = os.environ.get("SPARK_GRAFT_STREAM_SUSTAINED_DIR")
    if not src_sf:
        local = sorted(
            _glob.glob(os.path.join(_REPO, ".localdata", "sf*")),
            key=lambda p: os.path.getsize(os.path.join(p, "events.parquet"))
            if os.path.isfile(os.path.join(p, "events.parquet"))
            else -1,
        )
        src_sf = local[-1] if local else sf_dir
    n_batches = 10
    # Scratch dir keyed by source fingerprint (mtime+size) AND pid so a
    # concurrent bench can't read a half-written split and regenerated
    # source data at the same path is never silently reused stale
    # (r6 ADVICE — same hazard scratch_path's sf+PID scoping fixed in r4).
    src_events = os.path.join(src_sf, "events.parquet")
    try:
        st = os.stat(src_events)
        fprint = f"{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        fprint = "nosrc"
    split = os.path.join(
        "/tmp",
        "cb_bench_sustained_"
        + src_sf.strip("/").replace("/", "_")
        + f"_{fprint}_{os.getpid()}",
    )
    if not os.path.isdir(split):
        (
            spark.read.parquet(os.path.join(src_sf, "events.parquet"))
            .repartition(n_batches)
            .write.mode("overwrite")
            .parquet(split)
        )
    n_events = spark.read.parquet(split).count()

    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = {
        k: spark.conf.get(k, d)
        for k, d in [
            ("spark.sql.shuffle.partitions", "32"),
            (
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider",
            ),
            (
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                "false",
            ),
        ]
    }
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocksdb)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )

    def one_run() -> float:
        stream = sp.read_events_stream(spark, split, max_files_per_trigger=1)
        t0 = _time.time()
        sp.run_stream_to_memory(sp.tumbling_agg(stream), "bench_stream_sustained")
        return _time.time() - t0

    try:
        one_run()  # warm-up: RocksDB JNI load, file-index, changelog path
        secs = min(one_run() for _ in range(runs))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return {
        "pipeline": "tumbling_1h_sustained",
        "state_backend": "rocksdb+changelog",
        "source_sf_dir": src_sf,
        "events": n_events,
        "batches": n_batches,
        "sec": round(secs, 4),
        "events_per_sec_sustained": round(n_events / secs) if secs > 0 else -1,
        "sec_per_batch": round(secs / n_batches, 4),
    }


def main() -> None:
    # Nothing but the final JSON line may reach the real stdout: park fd 1
    # on stderr for the whole run (Spark banners, stray prints, warnings all
    # land there), keeping a dup of the original stdout for the result.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from cellbase_spark import registry  # deferred: import may print
    from cellbase_spark.session import get_spark

    spark = get_spark("cellbase-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    keys_env = os.environ.get("SPARK_GRAFT_BENCH_KEYS")
    if keys_env:
        requested = [n for n in keys_env.split(",") if n]
        unknown = [n for n in requested if n not in qs]
        if unknown:
            # A typo'd or stale explicit key list must fail loudly, not
            # silently time a smaller battery that downstream rounds
            # would treat as full evidence (r13 ADVICE low) — mirrors
            # how the gate validates GATE_PRIORITY names.
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_KEYS names {len(unknown)} unknown "
                f"key(s): {', '.join(sorted(unknown))}"
            )
        names = requested
    elif os.environ.get("SPARK_GRAFT_BENCH_ALL"):
        names = sorted(qs)
    else:
        names = [n for n in HEADLINE if n in qs]
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    runs_rerun: dict[str, list[float]] = {}

    def battery(dest: dict[str, list[float]]) -> None:
        """Time every selected key, merging per-key MIN into timings
        (so a contended-pass rerun can only improve a key's figure);
        raw samples land in `dest`, kept separate per pass so a
        variance-judging consumer never mixes contended pass-1 samples
        with clean pass-2 ones."""
        for name in names:
            fn = qs[name]
            try:
                ts = run_steady_state(fn, spark, SF_DIR)
                dest.setdefault(name, []).extend(round(t, 4) for t in ts)
                timings[name] = _merge_timing(timings.get(name), round(min(ts), 4))
            except Exception as exc:  # never let one query kill the bench
                print(f"bench error {name}: {exc!r}", file=sys.stderr)
                timings.setdefault(name, -1.0)
                dest.setdefault(name, [])

    bands = GuardBands()
    guard: dict = {
        "ops": list(GUARD_OPS),
        "loadavg_start": [round(v, 2) for v in os.getloadavg()],
        "start_sec": bands.observe(spark),
    }
    battery(runs)
    guard["end_sec"] = bands.observe(spark)
    contended = bands.contended()
    guard["reran"] = False
    if contended:
        print("bench: contention detected, re-running battery once", file=sys.stderr)
        guard["reran"] = True
        guard["rerun_start_sec"] = bands.observe(spark)
        battery(runs_rerun)
        guard["rerun_end_sec"] = bands.observe(spark)
        contended = bands.contended_last(2)
    guard["contended"] = contended
    try:
        streaming = measure_streaming(spark, SF_DIR)
    except Exception as exc:
        print(f"bench error streaming: {exc!r}", file=sys.stderr)
        streaming = {"error": str(exc)[:120]}
    try:
        streaming_sustained = measure_streaming_sustained(spark, SF_DIR)
    except Exception as exc:
        print(f"bench error streaming_sustained: {exc!r}", file=sys.stderr)
        streaming_sustained = {"error": str(exc)[:120]}
    # close the guard bracket AFTER the streaming measurements too —
    # otherwise the streaming ladder stays phantom-regression territory
    # (a box that loads up during the sustained run would read as a
    # streaming code regression with a clean guard)
    guard["post_streaming_sec"] = bands.observe(spark)
    guard["streaming_contended"] = bands.contended_last(1)
    guard["loadavg_end"] = [round(v, 2) for v in os.getloadavg()]
    # One-number-per-op load context (r10 VERDICT task #8): worst
    # observed sample over the classification reference, per warm-up
    # class — a judge adjudicates phantom regressions from the artifact
    # alone (ratio >> CONTENDED_FACTOR = loaded box, whatever the
    # contended flag ended up saying after the rerun).
    guard["load_ratio"] = {
        op: {
            kl: (
                round(
                    max(s for k, s in bands.samples[op] if k == kl)
                    / bands.ref(op, kl),
                    3,
                )
                if any(k == kl for k, _ in bands.samples[op])
                and bands.ref(op, kl)
                else None
            )
            for kl in GUARD_CLASSES
        }
        for op in GUARD_OPS
    }
    # Persist the rolled-forward per-host idle mins AFTER all samples are
    # in; record the bands this run was classified against.
    guard["ref_sec"] = bands.persist()
    headline = {n: t for n, t in timings.items() if n in HEADLINE}
    total = round(sum(t for t in headline.values() if t >= 0), 4)
    result = {
        "metric": "sum_headline_steady_state_sec",
        "value": total,
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in headline.items()},
        "sf": _sf_from_dir(SF_DIR),
        "n_headline": len(headline),
        "n_timed": len(timings),
        "guard": guard,
        "streaming": streaming,
        "streaming_sustained": streaming_sustained,
    }
    full = dict(
        result, queries=timings, runs=runs, metric="sum_headline_steady_state_sec_full"
    )
    if runs_rerun:
        full["runs_rerun"] = runs_rerun
    try:
        with open(os.path.join(_REPO, "BENCH_FULL.json"), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"BENCH_FULL.json write failed: {exc!r}", file=sys.stderr)
    print(json.dumps(full), file=sys.stderr)
    line = json.dumps(result) + "\n"
    os.write(real_stdout_fd, line.encode())


if __name__ == "__main__":
    main()
