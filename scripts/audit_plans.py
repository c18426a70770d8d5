"""Physical-plan audit across the whole registry: the .explain review the
scale contract demands, mechanized. For every query key, summarize the
plan features that decide 100 TB feasibility — exchange count, join
algorithms, scan pushdown, top-k strategy, codegen coverage — and write
PLANS.md. Keys whose plan shape is pinned by tests/test_plans.py get the
stronger guarantee; this table is the full-surface snapshot.

Delta gate (VERDICT r3 item 8): before overwriting PLANS.md, the new
summaries are diffed against the previous round's table. A regression —
a CartesianProduct or BroadcastNestedLoopJoin appearing in a key that had
none, or (for the pinned keys) an exchange-count increase / lost scan
pushdown / lost TakeOrderedAndProject — fails the run with exit 2 and
leaves the previous PLANS.md in place, so plan damage surfaces in-round
instead of via bench noise. `--force` writes anyway.

    python scripts/audit_plans.py [sf_dir] [--force]   # default sf0.001
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

# Keys whose plan shape is load-bearing for the 100 TB contract: any
# exchange-count increase or lost pushdown/top-k here is a hard failure.
# (New CART/BNL is gated for EVERY key, not just these.)
PINNED_KEYS = [
    "q_agg_groupby",
    "q_point_lookup",
    "q_join_broadcast",
    "q_star_join",
    "q_topk_global",
    "q_knn_join",
    "q_knn_join_smj",
    "q_join_asof",
    "q_dedup_minhash",
    "q_dedup_near",
    "q_dedup_simhash",
    "q_ngram_jaccard",
    "q_chunk_documents",
    "q_zorder",
    "q_ann_lsh",
    "q_sample_weighted",
    "q_tpch_q3",
    "q_tpch_q6",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_tfidf",
    # round-4 additions (pinned in tests/test_plans.py since r5)
    "q_bm25",
    "q_chunk_cdc",
    "q_max_concurrency",
    "q_embed_centroid",
    # round-5 additions
    "q_span_dedup",
    "q_minhash_shingle",
    "q_dedup_full",
    "q_ann_eval",
]

_REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, _REPO)

from cellbase_spark.registry import REGISTRY, queries  # noqa: E402
from cellbase_spark.session import get_spark  # noqa: E402

_ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = _ARGS[0] if _ARGS else "/root/testdata/sf0.001"

JOIN_NODES = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes via the detail section's unique '(id) Name'
    lines (the tree section would double-count every node)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def summarize(plan: str) -> dict:
    joins = []
    for j in JOIN_NODES:
        n = _nodes(plan, j)
        if n:
            short = (
                j.replace("Join", "")
                .replace("BroadcastNestedLoop", "BNL")
                .replace("BroadcastHash", "BHash")
                .replace("SortMerge", "SM")
                .replace("ShuffledHash", "SHash")
                .replace("CartesianProduct", "CART")
            )
            joins.append(f"{short}x{n}")
    codegen = "Y" if "codegen id" in plan else (
        "aqe" if "AdaptiveSparkPlan" in plan else "-"
    )
    return {
        "exchanges": _nodes(plan, "Exchange"),
        "broadcasts": _nodes(plan, "BroadcastExchange"),
        "joins": ",".join(joins) or "-",
        "topk": "Y" if "TakeOrderedAndProject" in plan else "-",
        "pushed": "Y" if re.search(r"PushedFilters: \[[^\]]+\]", plan) else "-",
        "codegen": codegen,
        "aggs": _nodes(plan, "HashAggregate"),
    }


def parse_plans_md(text: str) -> dict[str, dict]:
    """Parse a PLANS.md table back into {key: summary-dict}. Tolerant of
    header/prose lines; only `| q_... |` rows are read."""
    rows: dict[str, dict] = {}
    for line in text.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) == 9 and cells[0].startswith("q_"):
            rows[cells[0]] = {
                "exchanges": int(cells[2]),
                "broadcasts": int(cells[3]),
                "joins": cells[4],
                "topk": cells[5],
                "pushed": cells[6],
                "codegen": cells[7],
                "aggs": int(cells[8]),
            }
    return rows


def diff_plans(old: dict[str, dict], new: dict[str, dict]) -> list[str]:
    """Regressions between two audit snapshots. Pure for unit-testing."""
    bad: list[str] = []
    # a pinned key that fails to explain this round must not silently
    # vanish from the table (r4 advisory): losing its row IS a regression
    for key in old:
        if key in PINNED_KEYS and key not in new:
            bad.append(f"{key}: pinned key missing from new audit (failed to explain?)")
    for key, n in new.items():
        o = old.get(key)
        if o is None:
            continue  # new key this round: no baseline to regress from
        for node in ("CART", "BNL"):
            if node in n["joins"] and node not in o["joins"]:
                bad.append(f"{key}: {node} appeared (was {o['joins']}, now {n['joins']})")
        if key in PINNED_KEYS:
            if n["exchanges"] > o["exchanges"]:
                bad.append(
                    f"{key}: exchanges {o['exchanges']} -> {n['exchanges']} (pinned)"
                )
            if o["pushed"] == "Y" and n["pushed"] != "Y":
                bad.append(f"{key}: lost scan pushdown (pinned)")
            if o["topk"] == "Y" and n["topk"] != "Y":
                bad.append(f"{key}: lost TakeOrderedAndProject (pinned)")
    return bad


def main() -> None:
    force = "--force" in sys.argv
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    lines = [
        "# PLANS — physical-plan audit (auto-generated by scripts/audit_plans.py)",
        "",
        f"Every registry key explained at `{SF_DIR}` (plan SHAPE is scale-",
        "factor-independent for these queries; AQE may re-plan sizes at runtime).",
        "Columns: shuffle exchanges / broadcast exchanges / join algorithms",
        "(B=BroadcastHash, SM=SortMerge, S=ShuffledHash, BNL, CART) / top-k as",
        "TakeOrderedAndProject / filters pushed to the scan / whole-stage",
        "codegen present / HashAggregate count (2 per logical agg = partial+final).",
        "",
        "BNL against a 1-row broadcast (the deterministic query-vector / bounds /",
        "vocab-map config relations) is an intended pattern, not a flag; joins are",
        "counted from the plan detail section (each node once). 'aqe' codegen means",
        "AdaptiveSparkPlan hides stage codegen ids pre-execution.",
        "",
        "Red flags this audit would surface: CART/BNL in a PAIR operator, a",
        "shuffle in a narrow map, a missing broadcast on a dim join, pushdown",
        "absent on a selective scan. tests/test_plans.py pins the critical ones.",
        "",
        "| key | family | xchg | bcast | joins | topk | pushdown | codegen | aggs |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    failures = []
    new_rows: dict[str, dict] = {}
    for key in sorted(qs):
        spec = REGISTRY[key]
        try:
            df = qs[key](spark, SF_DIR)
            from cellbase_spark.plans.inspect import formatted_plan

            plan = formatted_plan(df)
        except Exception as e:  # streaming-only or env-gated keys
            failures.append((key, str(e)[:80]))
            continue
        s = summarize(plan)
        new_rows[key] = s
        lines.append(
            f"| {key} | {spec.family} | {s['exchanges']} | {s['broadcasts']} |"
            f" {s['joins']} | {s['topk']} | {s['pushed']} | {s['codegen']} | {s['aggs']} |"
        )
    if failures:
        lines += ["", "Not explainable in this run:"] + [
            f"- {k}: {msg}" for k, msg in failures
        ]
    plans_path = Path(_REPO, "PLANS.md")
    regressions: list[str] = []
    if plans_path.exists():
        regressions = diff_plans(parse_plans_md(plans_path.read_text()), new_rows)
    if regressions and not force:
        print("PLAN REGRESSIONS vs previous PLANS.md (not overwritten):")
        for r in regressions:
            print(f"  {r}")
        sys.exit(2)
    plans_path.write_text("\n".join(lines) + "\n")
    note = f" ({len(regressions)} regressions overridden by --force)" if regressions else ""
    print(
        f"wrote PLANS.md ({len(qs) - len(failures)} keys, {len(failures)} skipped)"
        + note
    )


if __name__ == "__main__":
    main()
