"""cellbase-spark benchmark runner.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one process each

One run is one process, one client and one SparkSession on local[N], N the
cores this process may use. It generates the sf0.1 tables once per checkout
(scripts/gen_testdata.py, fixed data seed), sets the program up, runs one
checking pass that also warms every operation and the workload's untimed
warm-up passes (workloads.WARMUP_PASSES), then times whole passes for up to
--seconds (default: run_seconds in BENCHMARK.json): a pass starts only if
one as long as the last still ends in the window, and at least one runs.
--seed sets the order of operations in each pass and the keys and values
the facade reads and writes; the program receives only those inputs. The
last line of stdout is the result as one JSON object; the lines before it
name every metric with its unit and sample count, and a `report` line
records the run context, failures and checks.

--trace 0 reports the end-to-end metrics. --trace 1 runs a traced pass
between two untraced ones over the same plan and reports the per-layer
split, measured at the benchmark's own calls into each layer, plus the
tracing overhead.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

import layers  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SF = 0.1

# The end-to-end metrics of the result line: those steady enough across
# seeds to judge a change by. The run prints the others beside them.
E2E = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("ops_per_s", "1/s"),
)
# registry modules of the relational_mix keys
QUERY_MODULES = ("aggregates", "joins", "specialty", "windows", "filters")
STREAM_PHASES = tuple(name for _, name in layers.PHASES)
API_CALLS = {
    "get": "api.get_s",
    "get_bucketed": "api.get_bucketed_s",
    "export_xlsx": "api.export_workbook_s",
    "import_xlsx": "api.import_workbook_s",
}
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.registry_import_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    *((f"queries.{m}.{x}", u) for m in QUERY_MODULES for x, u in (("wall_s", "s"), ("jobs", "count"))),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.cpu_util", "ratio"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("io.input_bytes", "bytes"),
    ("io.output_bytes", "bytes"),
    ("io.bucketed_build_s", "s"),
    *((name, "s") for name in dict.fromkeys(API_CALLS.values())),
    ("api.edit_s", "s"),
    ("api.save_s", "s"),
    ("streaming.batches", "count"),
    *((f"streaming.{p}", "ms") for p in STREAM_PHASES),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.idle_s", "s"),
    ("trace.overhead_s", "s"),
)


class Bench:
    """One workload run: the session, its fixtures, and every operation
    record. Operation runners in workloads.py call back into `phase`."""

    def __init__(self, workload: str, seed: int, trace: bool, cpus: int, tmp: Path):
        self.workload, self.seed, self.trace, self.cpus = workload, seed, trace, cpus
        self.out_dir = str(tmp / "out")
        self.split_dir = str(tmp / "events_split")
        self.excluded_s = 0.0  # the benchmark's own checking, not the program's set-up
        self.setup: dict[str, float] = {"io.bucketed_build_s": 0.0}
        self.tables: dict = {}
        self.progress: layers.ProgressLog | None = None
        self.invariant_checked: set[str] = set()
        self._sources: dict = {}
        self._tracing = False
        self._rec: dict | None = None
        self._seq = 0

    # -- set-up -----------------------------------------------------------
    def start(self, warehouse: Path) -> None:
        from cellbase_spark.session import get_spark

        t = time.time()
        self.spark = get_spark("perfbench", extra_conf={"spark.sql.warehouse.dir": str(warehouse)})
        self.setup["session.get_spark_s"] = time.time() - t
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t = time.time()
        from cellbase_spark import registry

        self.queries = registry.queries()
        self.setup["session.registry_import_s"] = time.time() - t
        with self.own_work():
            import bench_oracle
            import check_oracle

            self.compare = check_oracle.compare
            self.oracles = registry.oracle_sql()
            self.infeasible = set(bench_oracle.INFEASIBLE_AT_BENCH)
            self.duck = check_oracle.duck_con(self.data_dir)
            self.store = layers.StatusStore(self.sc)
            self.sizes = {n: self.source(n).num_rows for n in (wl.LOOKUP_TABLE, wl.EDIT_TABLE)}
        unchecked = self.infeasible & set(wl.RELATIONAL + wl.LLM) - set(wl.INVARIANTS)
        if unchecked:
            raise RuntimeError(f"no invariant check for oracle-infeasible keys {sorted(unchecked)}")

    def fixtures(self) -> None:
        """Workload set-up that the program does once per process."""
        kinds = {s.kind for s in wl.plan(self.workload, self.seed, 0, self.sizes)}
        if "lookup" in kinds:
            from cellbase_spark.api import CellBase

            self.cb = CellBase(self.spark, self.data_dir)
            t = time.time()
            self.tables["get_bucketed"] = self.cb.table(wl.LOOKUP_TABLE, bucketed=True)
            self.setup["io.bucketed_build_s"] = time.time() - t
            self.tables["get"] = self.cb.table(wl.LOOKUP_TABLE)
        if "stream" in kinds:
            (
                self.spark.read.parquet(os.path.join(self.data_dir, "events.parquet"))
                .repartition(wl.SUSTAINED_BATCHES)
                .write.mode("overwrite")
                .parquet(self.split_dir)
            )
            # batch times are Spark's own progress reports; a listener is the
            # only way to receive them for queries the program starts itself
            self.progress = layers.ProgressLog()
            self.spark.streams.addListener(self.progress)

    @contextmanager
    def own_work(self):
        """Time spent here is the benchmark's, excluded from setup_s."""
        t = time.time()
        try:
            yield
        finally:
            self.excluded_s += time.time() - t

    def source(self, name: str):
        """A generated table as Arrow, the reference the checks compare to."""
        if name not in self._sources:
            import pyarrow.parquet as pq

            self._sources[name] = pq.read_table(os.path.join(self.data_dir, f"{name}.parquet"))
        return self._sources[name]

    # -- operations ---------------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        """One call into a layer. Traced passes give it its own job group."""
        group = None
        if self._tracing:
            group = f"perfbench-{self._seq}-{name}"
            self.sc.setJobGroup(group, f"{self._rec['name']} {name}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._rec["phases"].append((name, t0, t1, group))

    def execute(self, spec: wl.Spec, checking: bool) -> dict:
        self._seq += 1
        rec = self._rec = {"name": spec.name, "kind": spec.kind, "phases": [], "error": None}
        t0 = time.time()
        try:
            result = wl.runner_for(spec)(self, spec, checking)
        except Exception as e:  # an operation failure is a measured outcome
            traceback.print_exc(file=sys.stderr)
            lines = str(e).strip().splitlines()
            rec["error"] = f"{type(e).__name__}: {lines[0][:300] if lines else ''}"
        rec["t0"], rec["t1"] = t0, time.time()
        if checking and rec["error"] is None:
            c0 = time.time()
            with self.own_work():
                try:
                    problems = wl.check(self, spec, result)
                except Exception as e:  # a check that cannot run is a failed check
                    traceback.print_exc(file=sys.stderr)
                    problems = [f"check raised {type(e).__name__}: {e}"]
            rec["check_s"] = time.time() - c0
            if problems:
                rec["error"] = "wrong result: " + "; ".join(problems)
        return rec

    def run_pass(self, index: int, checking: bool, traced: bool) -> dict:
        self._tracing = traced
        mark = self.progress.mark() if self.progress else 0
        t0 = time.perf_counter()
        recs = [self.execute(s, checking) for s in wl.plan(self.workload, self.seed, index, self.sizes)]
        wall = time.perf_counter() - t0
        self._tracing = False
        p = {"index": index, "wall": wall, "ops": recs, "traced": traced}
        if self.progress or traced:
            self.store.drain()  # deliver outstanding job and progress events
        if self.progress:
            p["batches"] = self.progress.since(mark)
        if traced:
            p["layers"] = self.layer_figures(p)
        return p

    # -- per-layer figures of one traced pass -------------------------------------
    def layer_figures(self, p: dict) -> dict[str, float]:
        f = {name: 0.0 for name, _ in PER_LAYER}
        for rec in p["ops"]:
            query = rec["kind"] == "query"
            module = self.module(rec["name"]) if query else None
            module = module if module in QUERY_MODULES else None
            intervals = []
            for name, t0, t1, group in rec["phases"]:
                g = self.store.group(group)
                intervals += g["intervals"]
                for key, field in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                                   ("task_cpu_s", "cpu_s"), ("shuffle_read_bytes", "shuffle_read_bytes"),
                                   ("shuffle_write_bytes", "shuffle_write_bytes"),
                                   ("spill_bytes", "spill_bytes")):
                    f[f"spark.{key}"] += g[field]
                f["io.input_bytes"] += g["input_bytes"]
                f["io.output_bytes"] += g["output_bytes"]
                if module:
                    f[f"queries.{module}.jobs"] += g["jobs"]
                if name == "build" and query:
                    f["queries.build_s"] += t1 - t0
                    f["queries.build_jobs"] += g["jobs"]
                if name == "exec":
                    f["spark.exec_s"] += t1 - t0
            if module:
                f[f"queries.{module}.wall_s"] += rec["t1"] - rec["t0"]
            f["spark.driver_gap_s"] += stats.driver_gap(rec["t0"], rec["t1"], intervals)
        f["spark.cpu_util"] = f["spark.task_cpu_s"] / (p["wall"] * self.cpus)
        return f

    def module(self, key: str) -> str:
        from cellbase_spark import registry

        return registry.REGISTRY[key].fn.__wrapped__.__module__.rsplit(".", 1)[1]


# -- metrics -------------------------------------------------------------------


def metric(value: float, unit: str, n: int, **extra) -> dict:
    return {"value": float(value), "unit": unit, "n": n, **extra}


def latency(name: str, walls: list[float]) -> dict:
    """`<name>_p50_s` and `<name>_tail_s` with their sample counts."""
    value, pct, met = stats.tail(walls)
    return {
        f"{name}_p50_s": metric(stats.median(walls), "s", len(walls)),
        f"{name}_tail_s": metric(value, "s", len(walls), percentile=round(pct, 2), ten_beyond=met),
    }


def end_to_end(timed: list[dict], setup_s: float, peak_bytes: int) -> dict:
    ops = [r for p in timed for r in p["ops"]]
    walls = [r["t1"] - r["t0"] for r in ops]
    total = sum(p["wall"] for p in timed)
    return {
        "setup_s": metric(setup_s, "s", 1),
        "pass_s": metric(stats.median([p["wall"] for p in timed]), "s", len(timed)),
        "ops_per_s": metric(len(ops) / total, "1/s", len(ops)),
        **latency("op", walls),
        "peak_rss_mb": metric(peak_bytes / 2**20, "MB", 1),
    }


def workload_extras(b: Bench, timed: list[dict], attempted: int, failed: int) -> dict:
    """Figures only one workload has; reported, not part of the result line."""
    m = {"fail_frac": metric(failed / attempted, "ratio", attempted)}
    ops = [r for p in timed for r in p["ops"]]
    kinds = {r["kind"] for r in ops}
    if "lookup" in kinds:
        m.update(latency("lookup", [r["t1"] - r["t0"] for r in ops if r["kind"] == "lookup"]))
        m.update(latency("write", [r["t1"] - r["t0"] for r in ops if r["kind"] == "write"]))
    if "stream" in kinds:
        batches = [x for p in timed for x in p["batches"] if x["query"] == wl.SUSTAINED_NAME]
        m["events_per_s"] = metric(sum(x["rows"] for x in batches) / stream_s(ops), "1/s", len(batches))
        trig = [x["trigger_execution_ms"] / 1e3 for x in batches]
        m.update(latency("batch", trig))
    return m


def stream_s(ops: list[dict]) -> float:
    """Wall time of the streaming queries themselves: the `stream` phase of
    each sustained run, not the batch action on its result after it."""
    return sum(t1 - t0 for r in ops if r["kind"] == "stream"
               for name, t0, t1, _ in r["phases"] if name == "stream")


def per_layer(b: Bench, untraced: list[dict], traced: list[dict]) -> dict:
    m = {}
    for name, unit in PER_LAYER:
        m[name] = metric(stats.median([p["layers"][name] for p in traced]), unit, len(traced))
    for name in ("session.get_spark_s", "session.registry_import_s", "io.bucketed_build_s"):
        m[name] = metric(b.setup[name], "s", 1)
    calls: dict[str, list[float]] = {}
    for p in traced:
        for r in p["ops"]:
            if r["name"] in API_CALLS:
                calls.setdefault(API_CALLS[r["name"]], []).append(r["t1"] - r["t0"])
            for name, t0, t1, _ in r["phases"]:
                if name in ("edit", "save"):
                    calls.setdefault(f"api.{name}_s", []).append(t1 - t0)
    for name, walls in calls.items():
        m[name] = metric(stats.median(walls), "s", len(walls))
    batches = [x for p in traced for x in p.get("batches", [])]
    if batches:
        m["streaming.batches"] = metric(stats.median([len(p["batches"]) for p in traced]), "count", len(traced))
        for field in (*STREAM_PHASES, "state_rows", "state_memory_bytes", "state_commit_ms"):
            unit = dict(PER_LAYER)[f"streaming.{field}"]
            m[f"streaming.{field}"] = metric(stats.median([x[field] for x in batches]), unit, len(batches))
        idle = [stream_s(p["ops"]) - sum(x["trigger_execution_ms"] for x in p["batches"]) / 1e3
                for p in traced]
        m["streaming.idle_s"] = metric(stats.median(idle), "s", len(idle))
    m["trace.overhead_s"] = metric(
        stats.median([p["wall"] for p in traced]) - stats.median([p["wall"] for p in untraced]),
        "s", len(traced), untraced_pass_s=stats.median([p["wall"] for p in untraced]),
    )
    return m


# -- the run -------------------------------------------------------------------


def ensure_data() -> Path:
    """The sf0.1 tables, generated once per checkout with the generator's
    fixed seed: the workload seed varies operations, never the data."""
    d = WORK / "data" / f"sf{SF:g}"
    if not (d / "GENERATED.json").exists():
        import gen_testdata

        tmp = d.with_name(f"{d.name}.tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        gen_testdata.generate(SF, tmp)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def run_context(b: Bench) -> dict:
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    digest = hashlib.sha1()
    for f in sorted((ROOT / "cellbase_spark").rglob("*.py")):
        digest.update(f.relative_to(ROOT).as_posix().encode() + f.read_bytes())
    return {
        "workload": b.workload,
        "seed": b.seed,
        "trace": int(b.trace),
        "nproc": b.cpus,
        "master": b.sc.master,
        "shuffle_partitions": b.spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": b.spark.version,
        "pyspark_version": pyspark.__version__,
        "git_commit": commit,
        "source_sha1": digest.hexdigest(),
        "sf": SF,
    }


def stop_spark(b: Bench) -> None:
    """Stop the session, close the JVM and wait for every child to end."""
    if not hasattr(b, "sc"):
        return
    proc = getattr(b.sc._gateway, "proc", None)
    b.spark.stop()
    b.sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while layers.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp" / f"run{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("local", "out"):
        (tmp / d).mkdir(parents=True)
    # Python workers import the repo (Python data sources live in
    # cellbase_spark); every temporary file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    # the JVM's own temp files and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["TZ"] = "UTC"  # collected timestamps compare to Arrow's naive UTC
    time.tzset()
    b = Bench(workload, seed, trace, cpus, tmp)
    load_start = layers.loadavg()
    try:
        t = time.time()
        b.data_dir = str(ensure_data())
        b.excluded_s += time.time() - t
        with layers.RssSampler() as rss:
            b.start(tmp / "warehouse")
            b.fixtures()
            check_pass = b.run_pass(0, checking=True, traced=False)
            n_warm = wl.WARMUP_PASSES[workload]
            warm = [b.run_pass(i, checking=False, traced=False) for i in range(1, n_warm + 1)]
            setup_s = time.time() - PROCESS_T0 - b.excluded_s
            untraced, traced = [], []
            window = time.perf_counter()
            index, last = n_warm, 0.0
            # whole passes while one as long as the last still ends in the
            # window, so a run lasts set-up plus at most --seconds
            while not untraced or time.perf_counter() - window + last <= seconds:
                index += 1
                t0 = time.perf_counter()
                # with tracing, a traced pass sits between two untraced ones
                # over the same plan, so warm-up favours neither side
                for t in ((False, True, False) if trace else (False,)):
                    (traced if t else untraced).append(b.run_pass(index, checking=False, traced=t))
                last = time.perf_counter() - t0
            context = run_context(b)
    finally:
        stop_spark(b)
        shutil.rmtree(tmp, ignore_errors=True)
    context["loadavg_start"], context["loadavg_end"] = load_start, layers.loadavg()

    passes = [check_pass, *warm, *untraced, *traced]
    ops = [r for p in passes for r in p["ops"]]
    failures = [f"pass {p['index']}{' traced' if p['traced'] else ''}: {r['name']}: {r['error']}"
                for p in passes for r in p["ops"] if r["error"]]
    if trace:
        metrics = per_layer(b, untraced, traced)
    else:
        metrics = end_to_end(untraced, setup_s, rss.peak_bytes)
    extras = workload_extras(b, untraced, len(ops), len(failures))

    print(f"perfbench {workload} seed={seed} trace={int(trace)}")
    for name, m in {**metrics, **extras}.items():
        note = f" (p{m['percentile']:g}{'' if m['ten_beyond'] else ', fewer than 11 samples: max'})" \
            if "percentile" in m else ""
        print(f"  {name:34s} {m['value']:>16.6g} {m['unit']:6s} n={m['n']}{note}")
    for line in failures:
        print(f"  FAILED {line}")
    report = {
        "context": context,
        "metrics": {**metrics, **extras},
        "failures": failures,
        "checked": [r["name"] for r in check_pass["ops"]],
        "invariant_checked": sorted(b.invariant_checked),
        "passes": [{"index": p["index"], "traced": p["traced"], "wall_s": p["wall"],
                    "ops": [(r["name"], round(r["t1"] - r["t0"], 6), round(r.get("check_s", 0), 3))
                            for r in p["ops"]]}
                   for p in passes],
    }
    print("report " + json.dumps(report))
    names = PER_LAYER if trace else E2E
    print(json.dumps({
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {name: {"value": metrics[name]["value"], "unit": unit} for name, unit in names},
    }), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*wl.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="timed window; default: run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("cellbase_spark/__init__.py", "scripts/gen_testdata.py",
                           "scripts/check_oracle.py", "scripts/bench_oracle.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: the program is not here ({', '.join(missing)} missing under {ROOT})",
              file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = float(json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    if args.workload == "all":
        rc = 0
        for w in wl.WORKLOADS:
            rc |= subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace)]).returncode
        return rc
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
