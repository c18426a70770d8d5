"""Self-tests of the runner's own arithmetic. No Spark needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import random

import pytest

import stats
import workloads as wl

SIZES = {wl.LOOKUP_TABLE: 150_000, wl.EDIT_TABLE: 15_000}


# -- tail rule ----------------------------------------------------------------


@pytest.mark.parametrize("n", [11, 12, 20, 57, 100, 1000])
def test_tail_has_exactly_ten_samples_beyond(n):
    xs = random.Random(n).sample(range(10 * n), n)
    value, pct, met = stats.tail(xs)
    assert met
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_one_hundred_is_p90():
    value, pct, met = stats.tail(list(range(1, 101)))
    assert (value, pct, met) == (90, 90.0, True)


@pytest.mark.parametrize("n", [1, 5, 10])
def test_tail_below_eleven_samples_is_flagged_max(n):
    value, pct, met = stats.tail(list(range(n)))
    assert (value, pct, met) == (n - 1, 100.0, False)


def test_tail_and_median_of_nothing():
    assert stats.tail([]) == (0.0, 0.0, False)
    assert stats.median([]) == 0.0


# -- driver gap: op wall minus the union of its job intervals -----------------


def test_gap_with_no_jobs_is_the_whole_op():
    assert stats.driver_gap(10.0, 12.5, []) == pytest.approx(2.5)


def test_overlapping_and_nested_jobs_count_once():
    jobs = [(1.0, 3.0), (2.0, 4.0), (2.5, 2.7), (6.0, 7.0)]
    assert stats.covered(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert stats.driver_gap(0.0, 10.0, jobs) == pytest.approx(6.0)


def test_jobs_are_clipped_to_the_op_window():
    jobs = [(-5.0, 1.0), (9.0, 15.0), (20.0, 30.0)]
    assert stats.covered(jobs, 0.0, 10.0) == pytest.approx(2.0)


def test_touching_and_empty_intervals():
    assert stats.covered([(0.0, 1.0), (1.0, 2.0), (3.0, 3.0)], 0.0, 5.0) == pytest.approx(2.0)


def test_covered_matches_a_sampled_reference():
    rng = random.Random(7)
    for _ in range(200):
        jobs = []
        for _ in range(rng.randrange(6)):
            a = rng.uniform(0, 10)
            jobs.append((a, a + rng.uniform(0, 3)))
        lo, hi = sorted(rng.uniform(0, 12) for _ in range(2))
        steps = 4000
        width = (hi - lo) / steps
        hits = sum(any(a <= lo + (i + 0.5) * width < b for a, b in jobs) for i in range(steps))
        assert stats.covered(jobs, lo, hi) == pytest.approx(hits * width, abs=2 * width * (1 + len(jobs)))


# -- seeded operation sequence -------------------------------------------------


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_same_seed_same_sequence(workload):
    for p in range(3):
        assert wl.plan(workload, 5, p, SIZES) == wl.plan(workload, 5, p, SIZES)


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_other_seed_other_sequence(workload):
    runs = {s: [wl.plan(workload, s, p, SIZES) for p in range(10)] for s in (1, 2)}
    assert runs[1] != runs[2]


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_every_pass_runs_the_same_operations(workload):
    names = {tuple(sorted(s.name for s in wl.plan(workload, seed, 1, SIZES))) for seed in range(20)}
    assert len(names) == 1


def test_facade_keys_exist_and_imports_follow_their_export():
    for seed in range(20):
        specs = wl.plan("facade_stream", seed, 1, SIZES)
        for s in specs:
            if s.kind == "lookup":
                assert 0 <= s.args[0] < SIZES[wl.LOOKUP_TABLE]
            if s.name == "edit_save":
                _, k_set, _, new_row, k_remove = s.args
                assert k_set != k_remove
                assert max(k_set, k_remove) < SIZES[wl.EDIT_TABLE] <= new_row["c_custkey"]
        names = [s.name for s in specs]
        for fmt in wl.WORKBOOK_FORMATS:
            assert names.index(f"import_{fmt}") == names.index(f"export_{fmt}") + 1


# -- the result line lists exactly what BENCHMARK.json declares ------------------


def test_benchmark_json_matches_the_runner():
    import json
    from pathlib import Path

    import run

    declared = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in declared["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"]) for m in declared["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in declared["workloads"]} <= set(wl.WORKLOADS)
