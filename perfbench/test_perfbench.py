"""The benchmark's own tests.

    python -m pytest perfbench/                 # all, ~5 min (four smoke runs)
    python -m pytest perfbench/ -k "not smoke"  # answer checks only, seconds

The answer-check tests need no Spark: they feed the checks the oracle's own
answers and then deliberately corrupted ones.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

from checks import Snapshot, check_bow, check_positional  # noqa: E402
from cuvs_lucene_spark.fixtures import generate_transcripts  # noqa: E402
from cuvs_lucene_spark.oracle import oracle_search  # noqa: E402
from workloads import K, Call, Inputs, Run  # noqa: E402


@pytest.fixture(scope="module")
def pdf():
    return generate_transcripts(30, 7).to_pandas()


@pytest.fixture(scope="module")
def snap(pdf):
    return Snapshot.build(pdf)


def _oracle_rows(snap, query, mode="or", accept=None):
    mask = snap.live if accept is None else snap.live & accept
    return [(*snap.keys[d], s) for d, s in oracle_search(snap.oracle, query, k=K, mode=mode,
                                                         accept=mask)]


def _phrase_rows(snap, kind, terms, slop):
    """A correct answer built from the brute-force matcher."""
    import checks

    match = {("phrase", 0): lambda t: checks.exact_phrase_count(t, terms) > 0,
             ("phrase", 2): lambda t: checks.sloppy_phrase_match(t, terms, 2),
             ("span", 2): lambda t: checks.ordered_near_match(t, terms, 2)}[(kind, slop)]
    hits = []
    for d in range(len(snap.keys)):
        if snap.live[d] and match(snap.tokens[d]):
            n = checks.exact_phrase_count(snap.tokens[d], terms)
            score = checks._phrase_score(snap, terms, n, d) if slop == 0 else 1.0
            hits.append((-score, d))
    hits.sort()
    return [(*snap.keys[d], -s) for s, d in hits[:K]]


def _run_of(n_terms: int, snap) -> list[str]:
    toks = next(t for t in snap.tokens if len(set(t[:n_terms])) == n_terms and len(t) > 5)
    return toks[:n_terms]


def test_oracle_answer_passes_and_corruptions_fail(snap):
    q = "the world school people"
    good = _oracle_rows(snap, q)
    assert len(good) == K
    assert check_bow(snap, q, "or", K, good) is None
    swapped = [good[1], good[0], *good[2:]]
    assert check_bow(snap, q, "or", K, swapped) is not None
    nudged = [(c, t, s + 1e-3) if i == 3 else (c, t, s) for i, (c, t, s) in enumerate(good)]
    assert check_bow(snap, q, "or", K, nudged) is not None
    assert check_bow(snap, q, "or", K, good[:-1]) is not None


def test_filter_and_and_mode_checked(snap):
    accept = (snap.oracle.meta["role"] == "user").to_numpy()
    q = "the be"
    good = _oracle_rows(snap, q, accept=accept)
    assert check_bow(snap, q, "or", K, good, accept) is None
    assert check_bow(snap, q, "or", K, _oracle_rows(snap, q), accept) is not None
    good_and = _oracle_rows(snap, q, mode="and")
    assert check_bow(snap, q, "and", K, good_and) is None


def test_deleted_key_is_never_accepted(pdf):
    full = Snapshot.build(pdf)
    q = "the world school"
    victim = _oracle_rows(full, q)[0]
    snap = Snapshot.build(pdf, {victim[:2]})
    assert check_bow(snap, q, "or", K, _oracle_rows(snap, q)) is None
    # the pre-delete answer still ranks the deleted doc first
    assert "deleted" in check_bow(snap, q, "or", K, _oracle_rows(full, q))


@pytest.mark.parametrize("kind,slop", [("phrase", 0), ("phrase", 2), ("span", 2)])
def test_positional_checks(snap, kind, slop):
    terms = _run_of(2, snap)
    good = _phrase_rows(snap, kind, terms, slop)
    assert good, terms
    assert check_positional(snap, kind, terms, slop, K, good) is None
    assert check_positional(snap, kind, terms, slop, K, good + good[:1]) is not None
    # a doc holding none of the terms cannot be a hit
    stranger = next(k for k, toks in zip(snap.keys, snap.tokens)
                    if not set(terms) & set(toks) and k not in {g[:2] for g in good})
    fake = [*good[:-1], (*stranger, good[-1][2])] if len(good) == K else [
        *good, (*stranger, good[-1][2] / 2)]
    assert check_positional(snap, kind, terms, slop, K, fake) is not None


def test_matchers_on_hand_cases():
    import checks

    toks = "a x b y c a b".split()
    assert checks.exact_phrase_count(toks, ["a", "b"]) == 1
    assert checks.sloppy_phrase_match(["b", "a"], ["a", "b"], 2)  # reversed: distance 2
    assert not checks.sloppy_phrase_match(["b", "a"], ["a", "b"], 1)
    assert checks.ordered_near_match(toks, ["a", "b", "c"], 2)  # gaps 1 + 1
    assert not checks.ordered_near_match(toks, ["a", "b", "c"], 1)
    assert not checks.ordered_near_match(["b", "a"], ["a", "b"], 5)


def test_corrupted_answer_raises_failed_op_ratio(tmp_path, pdf, snap):
    """The accounting run.py reports: one bad answer is one failed op."""
    run = Run(str(tmp_path / "w"), str(tmp_path / "c"), seed=1, seconds=1, trace=False)
    run.snapshots[0] = snap
    inputs = Inputs(pdf, seed=1)
    live = np.ones(len(pdf), dtype=bool)
    rng = np.random.default_rng(0)
    for op in ("or", "and", "filtered", "phrase", "phrase_slop2", "span_near2", "batch"):
        params = inputs.params(op, rng, live)
        call = Call(op, 0, params, measured=True)
        if op == "batch":
            call.rows = [_oracle_rows(snap, q["text"], q["mode"]) for q in params["queries"]]
        elif op.startswith(("phrase", "span")):
            kind = "span" if op == "span_near2" else "phrase"
            call.rows = _phrase_rows(snap, kind, params["terms"], 0 if op == "phrase" else 2)
        else:
            accept = (snap.oracle.meta["role"] == "user").to_numpy() if op == "filtered" else None
            call.rows = _oracle_rows(snap, " ".join(params["terms"]),
                                     "and" if op == "and" else "or", accept)
        run.calls.append(call)
    assert run.check() == []
    first = next(c for c in run.calls if c.op == "batch")
    q0 = first.rows[0]
    first.rows[0] = [(c, t, s * 1.01) for c, t, s in q0] if q0 else [("conv-x", 0, 1.0)]
    failures = run.check()
    assert len(failures) == 1 and failures[0].startswith("batch")
    assert len(failures) / run.attempted() > 0


def test_benchmark_json_matches_code():
    import run as bench

    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench._per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["interactive", "lifecycle"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "interactive",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["interactive", "lifecycle"])
def test_smoke_every_metric_printed_with_unit(workload, trace):
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace)],
                       cwd=REPO, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    summary = json.loads(next(x for x in lines if x.startswith("perfbench: "))[11:])
    for name in ("setup_s", "query_p50_s", "query_tail_s", "positional_p50_s", "batch_qps",
                 "write_turns_per_s", "index_bytes_per_input_byte", "peak_rss_mb",
                 "failed_op_ratio"):
        assert summary["metrics"][name]["unit"]
    assert summary["metrics"]["failed_op_ratio"]["value"] == 0.0
    props = summary["workload_properties"]
    assert {"docs", "turns", "op_counts", "term_repeat_share", "probes"} <= set(props)


def test_measured_work_depends_on_seconds_alone(tmp_path):
    """The round count comes from --seconds, never from the clock; a traced
    run needs two rounds to trace every op and to compare the halves."""
    from workloads import INTERACTIVE_ROUND_S

    def rounds(seconds, trace):
        return Run(str(tmp_path), str(tmp_path), 1, seconds, trace).n_rounds(INTERACTIVE_ROUND_S)

    assert rounds(1, False) == 1 and rounds(1, True) == 2
    assert rounds(15, False) == rounds(15, True) == 2
    assert rounds(60, False) == 8
