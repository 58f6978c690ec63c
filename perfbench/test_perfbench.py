"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import checks, fixtures, spec  # noqa: E402
from perfbench.run import metrics_for  # noqa: E402
from perfbench.trace import Recorder, Span, layer_sum_gap, self_times  # noqa: E402


@pytest.fixture(scope="module")
def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- names and units ---------------------------------------------------------


def test_declared_metrics_match_spec(declared):
    assert declared["command"] == ["python3", "perfbench/run.py"]
    assert declared["paths"] == ["perfbench"]
    assert declared["run_seconds"] == spec.RUN_SECONDS
    assert [w["name"] for w in declared["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in declared["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == spec.PER_LAYER
    assert {m["name"] for m in declared["per_layer"] if m["better"] == "higher"} == (
        spec.PER_LAYER_HIGHER
    )


def test_bounds(declared):
    bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_workload_classes_match_spec():
    from perfbench.workloads import WORKLOADS

    assert set(WORKLOADS) == set(spec.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_declared(declared, trace):
    key = "per_layer" if trace else "end_to_end"
    names = {m["name"]: m["unit"] for m in declared[key]}
    printed = metrics_for(dict.fromkeys(names, 1.5), trace)
    assert {k: v["unit"] for k, v in printed.items()} == names
    missing = dict.fromkeys(names, 1.5)
    missing.popitem()
    with pytest.raises(KeyError):
        metrics_for(missing, trace)


# -- correctness checker -----------------------------------------------------


@pytest.fixture(scope="module")
def sample():
    """A small seeded corpus: expectation (DuckDB for ora, kernel
    replay for the rest) and the matching output structs."""
    path = fixtures.span_corpus(seed=11, n_docs=200)
    ids = fixtures.doc_ids(path)
    picked = checks.sample_ids(ids, 11, 4)
    spans = fixtures.read_sample(path, picked)
    expected = checks.expected_spans(path, spans)
    actual = {
        doc_id: [
            {"kind": k, "text": t, "media_ref": m, "order": i}
            for i, (k, t, m) in enumerate(out)
        ]
        for doc_id, out in checks.replay_expected(spans).items()
    }
    return len(ids), expected, actual


def test_sample_covers_every_family(sample):
    _, expected, _ = sample
    assert {d.split("-")[0] for d in expected} == {f for f, _ in fixtures.FLAT_MIX}


def test_ora_oracle_agrees_with_kernel(sample):
    n, expected, actual = sample
    assert checks.check_extraction(n, n, 0, 0, actual, expected).correct


def _mutated(actual, doc_id):
    return {d: [dict(s) for s in spans] for d, spans in actual.items()}, doc_id


def test_swapped_span_fails(sample):
    n, expected, actual = sample
    doc_id = next(d for d, s in actual.items() if len(s) > 2)
    bad, _ = _mutated(actual, doc_id)
    a, b = bad[doc_id][0], bad[doc_id][1]
    for key in ("kind", "text", "media_ref"):
        a[key], b[key] = b[key], a[key]
    v = checks.check_extraction(n, n, 0, 0, bad, expected)
    assert not v.correct and v.failed == 1


def test_dropped_doc_fails(sample):
    n, expected, actual = sample
    bad, doc_id = _mutated(actual, next(iter(actual)))
    del bad[doc_id]
    v = checks.check_extraction(n, n - 1, 0, 0, bad, expected)
    assert not v.correct and v.failed == 2


def test_non_dense_order_and_error_status_fail(sample):
    n, expected, actual = sample
    bad, doc_id = _mutated(actual, next(iter(actual)))
    bad[doc_id][0]["order"] = 7
    assert not checks.check_extraction(n, n, 0, 0, bad, expected).correct
    assert not checks.check_extraction(n, n, 1, 0, actual, expected).correct
    assert not checks.check_extraction(n, n, 0, 1, actual, expected).correct


def test_fixtures_are_seeded():
    a = fixtures.doc_ids(fixtures.span_corpus(seed=11, n_docs=200))
    b = fixtures.doc_ids(fixtures.span_corpus(seed=12, n_docs=200))
    assert sorted(a) != sorted(b) and len(a) == len(b) == 200
    assert checks.sample_ids(a, 3, 4) == checks.sample_ids(a, 3, 4)


# -- tracing -----------------------------------------------------------------


def test_self_time_subtracts_covered_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a: union 1..6
        Span(3, "c", 2.0, 3.0, 1, "r"),
    ]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
    assert layer_sum_gap([st[1], st[2], st[3]], 6.0) == 0.0


def test_recorder_nests_spans():
    rec = Recorder("r")
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    outer, inner = rec.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


# -- time budget ---------------------------------------------------------------


def test_budget_fits_allowance():
    """A full measurement is 4 + 22 x workloads runs (two sets of ten
    untraced runs and two traced runs per workload, plus four more,
    counted at the dearest traced cost) and must end within 3420 s,
    every run within 180 s.  Costs are per-run wall times measured on a
    4-CPU host, plus a tenth for the slow phases of its shared VM."""
    runs = spec.RUN_COST_S
    assert set(runs) == set(spec.WORKLOADS)
    for untraced, traced in runs.values():
        assert untraced < 180 and traced < 180
    total = 4 * max(t for _, t in runs.values()) + sum(
        20 * u + 2 * t for u, t in runs.values()
    )
    assert total <= 3420, total


# -- failure without the program ----------------------------------------------


def test_fails_without_the_program():
    """In a directory holding only BENCHMARK.json and perfbench/, the
    runner exits non-zero without printing a result."""
    bare = os.path.join(BENCH_DIR, ".out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(
        BENCH_DIR, os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns(".out", ".cache", "__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "extract_flat",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, env=env, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
