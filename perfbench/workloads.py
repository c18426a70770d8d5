"""The benchmark's workloads: which operations one pass runs, in which seeded
order, how each operation calls into the program, and how its output is
checked.

Every workload is a closed loop with one client: an operation starts only
after the previous one has returned. `plan` is pure (no Spark) so the
self-tests can pin that a seed fixes the sequence.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from stats import pass_rng

# Relational keys bound by the per-query floor (build time, job count),
# not by compute: each runs in 0.3-1.3 s warm at sf0.1. A job-budget change
# shows here; the operator stack of the LLM pipeline is bypassed.
RELATIONAL = (
    "q_agg_groupby", "q_tpch_q5", "q_sql_recursive", "q_join_asof",
    "q_window_running_sum", "q_filter_compound",
)
# Compute- and shuffle-bound keys running through operators.dedup /
# similarity / text, ckpt, io.fan_out(_barrier) and memo.
LLM = (
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_near", "q_ngram_jaccard",
    "q_dedup_simhash", "q_dedup_clusters", "q_minhash_shingle", "q_sim_topk",
    "q_knn_join", "q_ann_ivf", "q_tfidf", "q_lang_id", "q_token_count",
    "q_pipeline_e2e_neardup",
)

# Facade pass: point lookups beside writes.
LOOKUPS_PER_PASS = 3  # each of plain and bucketed
EDITS_PER_PASS = 1
WORKBOOK_FORMATS = ("xlsx",)
LOOKUP_TABLE = "orders"
EDIT_TABLE = "customer"
DIM_TABLES = ("region", "nation", "supplier")
# Stream unit: the tumbling pipeline over `events` split into this many
# files, read one file per trigger, so one file is one micro-batch. A
# micro-batch costs ~0.5 s of engine overhead whatever its size, so this
# count sets the stream's share of a pass.
SUSTAINED_NAME = "perfbench_sustained"
SUSTAINED_BATCHES = 3

# facade_stream runs the facade and the stream in one pass, so one run pays
# one JVM start and one cold checking pass for both.
WORKLOADS = ("relational_mix", "facade_stream", "llm_corpus")
# Untimed passes after the cold checking pass. Passes keep getting faster
# for a few passes (JIT, codegen caches): relational_mix ran 5.4, 4.5, 4.0 s,
# then 3.1-4.1 s for a minute, so it warms for two. A facade_stream pass
# (6.5, 5.9, then 5.2-5.9 s) is long enough that a second warm-up pass would
# push a run past about a minute; its ten-seed spread was as low with one.
WARMUP_PASSES = {"relational_mix": 2, "facade_stream": 1, "llm_corpus": 1}


class Spec(NamedTuple):
    """One operation of a pass. `kind` groups latencies in the report:
    query, stream, lookup, write or read."""

    kind: str
    name: str
    args: tuple = ()


def plan(workload: str, seed: int, pass_index: int, sizes: dict[str, int]) -> list[Spec]:
    """The operations of one pass, in order. `sizes` gives the row counts of
    the lookup and edit tables, so the drawn keys exist."""
    rng = pass_rng(seed, pass_index)
    if workload in ("relational_mix", "llm_corpus"):
        keys = list(RELATIONAL if workload == "relational_mix" else LLM)
        rng.shuffle(keys)
        return [Spec("query", k) for k in keys]
    if workload != "facade_stream":
        raise ValueError(f"unknown workload {workload!r}")
    units = [[Spec("stream", "sustained")], *facade_units(rng, sizes)]
    rng.shuffle(units)
    return [s for u in units for s in u]


def facade_units(rng, sizes: dict[str, int]) -> list[list[Spec]]:
    """Lookups, edit-and-save chains and workbook round trips; a unit runs
    as one block, so an import reads back the workbook its export wrote."""
    units = []
    n_look, n_edit = sizes[LOOKUP_TABLE], sizes[EDIT_TABLE]
    for name in ("get", "get_bucketed"):
        units += [[Spec("lookup", name, (rng.randrange(n_look),))] for _ in range(LOOKUPS_PER_PASS)]
    for slot in range(EDITS_PER_PASS):
        k_set, k_remove = rng.sample(range(n_edit), 2)
        new_row = {
            "c_custkey": n_edit + slot,
            "c_name": f"Customer#new{slot}",
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-1000, 10_000), 2),
            "c_mktsegment": "BUILDING",
        }
        value = round(rng.uniform(-1000, 10_000), 2)
        units.append([Spec("write", "edit_save", (slot, k_set, value, new_row, k_remove))])
    for fmt in WORKBOOK_FORMATS:
        units.append([Spec("write", f"export_{fmt}", (fmt,)), Spec("read", f"import_{fmt}", (fmt,))])
    return units


# -- execution ---------------------------------------------------------------
# Each runner takes the run context (run.Bench), the spec and whether this
# is the checking pass; it returns what the checker needs. Timed passes use
# the noop sink for queries; the checking pass collects instead.


def run_query(b, spec: Spec, checking: bool):
    fn = b.queries[spec.name]
    with b.phase("build"):
        df = fn(b.spark, b.data_dir)
    with b.phase("exec"):
        if checking:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
    return None


def run_sustained(b, spec: Spec, checking: bool):
    from cellbase_spark.streaming import pipelines

    with b.phase("stream"):
        events = pipelines.read_events_stream(b.spark, b.split_dir, max_files_per_trigger=1)
        out = pipelines.run_stream_to_memory(pipelines.tumbling_agg(events), SUSTAINED_NAME)
    with b.phase("exec"):
        if checking:
            return out.toPandas()
        out.write.format("noop").mode("overwrite").save()
    return None


def run_get(b, spec: Spec, checking: bool):
    table = b.tables[spec.name]
    with b.phase("call"):
        return table.get(spec.args[0])


def edit_path(b, slot: int) -> str:
    return os.path.join(b.out_dir, f"{EDIT_TABLE}_edit{slot}.parquet")


def workbook_path(b, fmt: str) -> str:
    return os.path.join(b.out_dir, f"dims.{fmt}")


def run_edit_save(b, spec: Spec, checking: bool):
    slot, k_set, value, new_row, k_remove = spec.args
    with b.phase("edit"):
        t = (
            b.cb.table(EDIT_TABLE)
            .set_value(k_set, "c_acctbal", value)
            .add_row(new_row)
            .remove_row(k_remove)
        )
    with b.phase("save"):
        t.save(edit_path(b, slot), "parquet")


def run_export(b, spec: Spec, checking: bool):
    fmt = spec.args[0]
    with b.phase("call"):
        b.cb.export_workbook({n: b.cb.table(n) for n in DIM_TABLES}, workbook_path(b, fmt), fmt=fmt)


def run_import(b, spec: Spec, checking: bool):
    from cellbase_spark import schemas

    fmt = spec.args[0]
    declared = {n: getattr(schemas, n.upper()) for n in DIM_TABLES}
    with b.phase("call"):
        sheets = b.cb.import_workbook(workbook_path(b, fmt), declared, fmt=fmt)
        return {n: t.rows() for n, t in sheets.items()}


def runner_for(spec: Spec) -> Callable:
    if spec.kind == "query":
        return run_query
    if spec.kind == "stream":
        return run_sustained
    if spec.kind == "lookup":
        return run_get
    if spec.name == "edit_save":
        return run_edit_save
    return run_export if spec.name.startswith("export_") else run_import


# -- checks --------------------------------------------------------------------
# Each returns a list of problems; empty means the output is correct.


def check(b, spec: Spec, result) -> list[str]:
    if spec.kind == "query":
        return check_query(b, spec.name, result)
    if spec.kind == "stream":
        # the sustained run is the tumbling pipeline over a split of the
        # same events, so the tumbling key's oracle applies unchanged
        return b.compare(spec.name, result, b.duck.sql(b.oracles["q_stream_run_tumbling"]).df())
    if spec.kind == "lookup":
        return check_get(b, spec.args[0], result)
    if spec.name == "edit_save":
        return check_edit(b, spec)
    if spec.name.startswith("export_"):
        path = workbook_path(b, spec.args[0])
        return [] if os.path.getsize(path) > 0 else [f"{path} is empty"]
    return check_import(b, result)


def check_query(b, key: str, pdf) -> list[str]:
    if key in b.infeasible:
        b.invariant_checked.add(key)
        return INVARIANTS[key](b, pdf)
    return b.compare(key, pdf, b.duck.sql(b.oracles[key]).df())


def _cc_invariant(b, pdf) -> list[str]:
    """Connected-component labels: one row per document, each label the
    minimum id of its cluster, so a label is never above its id and every
    label labels itself."""
    n_docs = b.source("documents").num_rows
    label = dict(zip(pdf["doc_id"], pdf["cluster_id"]))
    problems = []
    if len(pdf) != n_docs or len(label) != n_docs:
        problems.append(f"rows={len(pdf)} distinct ids={len(label)} documents={n_docs}")
    if any(c > d for d, c in label.items()):
        problems.append("a cluster_id above its doc_id")
    if any(label.get(c) != c for c in set(label.values())):
        problems.append("a cluster_id that is not its own label")
    return problems


# keys whose DuckDB oracle is infeasible at bench scale get an invariant
INVARIANTS = {"q_dedup_clusters": _cc_invariant}


def check_get(b, key: int, row) -> list[str]:
    want = b.source(LOOKUP_TABLE).slice(key, 1).to_pylist()[0]
    got = row.asDict() if row is not None else None
    return [] if got == want else [f"get({key}) -> {got} expected {want}"]


def check_edit(b, spec: Spec) -> list[str]:
    import pyarrow.parquet as pq

    slot, k_set, value, new_row, k_remove = spec.args
    want = {r["c_custkey"]: r for r in b.source(EDIT_TABLE).to_pylist()}
    want[k_set] = {**want[k_set], "c_acctbal": value}
    want[new_row["c_custkey"]] = new_row
    del want[k_remove]
    got = {r["c_custkey"]: r for r in pq.read_table(edit_path(b, slot)).to_pylist()}
    if got == want:
        return []
    diff = sorted(set(got) ^ set(want)) + sorted(k for k in set(got) & set(want) if got[k] != want[k])
    return [f"saved {EDIT_TABLE} differs from the edits at keys {diff[:5]}"]


def check_import(b, sheets: dict) -> list[str]:
    problems = []
    for name, rows in sheets.items():
        want = sorted(tuple(r.values()) for r in b.source(name).to_pylist())
        if sorted(tuple(r) for r in rows) != want:
            problems.append(f"sheet {name}: imported rows differ from the exported table")
    return problems
