"""Tests of the benchmark's own code: generator determinism, the
correctness checks on corrupted outputs, and the span arithmetic. None of
them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TINY = {
    "epic_cohort": {"n_probes": 400, "n_samples": 8},
    "idat_ingest": {"n_probes": 300, "n_samples": 2, "type1_frac": 0.3},
    "corpus_curate": {"n_docs": 600, "n_sources": 3, "n_eval": 5},
}


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(TINY))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    da, db, dc = (
        _digest(gen.inputs(str(tmp_path / d), workload, seed, TINY[workload])[0])
        for d, seed in (("a", 7), ("b", 7), ("c", 8))
    )
    assert da == db
    assert set(da) == set(dc) and da != dc


def test_inputs_cache_keeps_one_input_set(tmp_path):
    p7, _ = gen.inputs(str(tmp_path), "epic_cohort", 7, TINY["epic_cohort"])
    assert gen.inputs(str(tmp_path), "epic_cohort", 7, TINY["epic_cohort"])[0] == p7
    p8, _ = gen.inputs(str(tmp_path), "epic_cohort", 8, TINY["epic_cohort"])
    assert os.path.isdir(p8) and not os.path.exists(p7)


def test_encoded_idat_matches_published_layout():
    blob = gen.encode_idat(np.array([10, 20], "<i4"), np.array([100, 65535], "<u2"), "B1", "R01C01")
    assert blob[:4] == b"IDAT"
    assert int.from_bytes(blob[4:12], "little") == 3
    assert int.from_bytes(blob[12:16], "little") == 9


# ------------------------------------------------------------------ checks


def _bh(p: np.ndarray) -> np.ndarray:
    order = np.argsort(p)
    ranked = p[order] * len(p) / np.arange(1, len(p) + 1)
    adj = np.minimum.accumulate(ranked[::-1])[::-1].clip(max=1.0)
    out = np.empty_like(adj)
    out[order] = adj
    return out


@pytest.fixture(scope="module")
def epic_truth(tmp_path_factory):
    return gen.inputs(str(tmp_path_factory.mktemp("epic")), "epic_cohort", 3, TINY["epic_cohort"])[1]


def _good_epic_output(truth):
    rng = np.random.default_rng(0)
    probes = truth["qc_probes"]
    planted = set(truth["dmp_probes"])
    p = np.array([1e-9 if pid in planted else rng.uniform(0.01, 1.0) for pid in probes])
    dmp = pd.DataFrame({"probe_id": probes, "p_value": p, "adj_p": _bh(p)})
    return list(truth["qc_samples"]), list(probes), dmp


def test_epic_check_accepts_correct_output(epic_truth):
    samples, probes, dmp = _good_epic_output(epic_truth)
    assert checks.check_epic(epic_truth, samples, probes, dmp, len(samples)) == []


def test_epic_check_rejects_dropped_probe_row(epic_truth):
    samples, probes, dmp = _good_epic_output(epic_truth)
    fails = checks.check_epic(epic_truth, samples, probes, dmp.iloc[1:], len(samples))
    assert any("DMP table covers" in f for f in fails)


def test_epic_check_rejects_qc_and_bh_errors(epic_truth):
    samples, probes, dmp = _good_epic_output(epic_truth)
    assert checks.check_epic(epic_truth, samples[1:], probes, dmp, len(samples))
    assert checks.check_epic(epic_truth, samples, probes[1:], dmp, len(samples))
    broken = dmp.assign(adj_p=dmp["adj_p"].to_numpy()[::-1])
    assert any("monotone" in f for f in checks.check_epic(epic_truth, samples, probes, broken, len(samples)))
    missed = dmp.assign(adj_p=1.0)
    assert any("recall" in f for f in checks.check_epic(epic_truth, samples, probes, missed, len(samples)))


@pytest.fixture(scope="module")
def idat_case(tmp_path_factory):
    path, truth = gen.inputs(str(tmp_path_factory.mktemp("idat")), "idat_ingest", 3, TINY["idat_ingest"])
    expected = np.load(os.path.join(path, "expected_beta.npy"))
    written = pd.DataFrame({
        "basename": np.repeat(truth["basenames"], len(truth["probe_ids"])),
        "probe_id": np.tile(truth["probe_ids"], len(truth["basenames"])),
        "beta": expected.ravel(),
    }).sample(frac=1.0, random_state=0)
    return truth, expected, written


def test_idat_check_accepts_correct_output(idat_case):
    truth, expected, written = idat_case
    assert checks.check_idat(truth, expected, written) == []


def test_idat_check_rejects_perturbed_dropped_or_doubled_beta(idat_case):
    truth, expected, written = idat_case
    perturbed = written.copy()
    perturbed.iloc[5, perturbed.columns.get_loc("beta")] += 1e-12
    assert any("differ" in f for f in checks.check_idat(truth, expected, perturbed))
    assert checks.check_idat(truth, expected, written.iloc[1:])
    doubled = pd.concat([written, written.iloc[:1]])
    assert any("more than once" in f for f in checks.check_idat(truth, expected, doubled))


def test_idat_expected_beta_formula(idat_case):
    truth, expected, _ = idat_case
    assert np.all((expected > 0) & (expected < 1))


@pytest.fixture(scope="module")
def corpus_truth(tmp_path_factory):
    return gen.inputs(str(tmp_path_factory.mktemp("corpus")), "corpus_curate", 3, TINY["corpus_curate"])[1]


def test_corpus_check_accepts_planted_survivors(corpus_truth):
    assert checks.check_corpus(corpus_truth, list(reversed(corpus_truth["survivors"]))) == []


def test_corpus_check_rejects_surviving_duplicate_or_lost_doc(corpus_truth):
    survivors = corpus_truth["survivors"]
    dropped = sorted(set(range(corpus_truth["input_rows"])) - set(survivors))
    assert dropped, "the corpus plants duplicates, rejects and contamination"
    assert checks.check_corpus(corpus_truth, survivors + dropped[:1])
    assert checks.check_corpus(corpus_truth, survivors + survivors[:1])
    assert checks.check_corpus(corpus_truth, survivors[1:])


def test_corpus_plants_every_kind_of_rejection(corpus_truth):
    assert corpus_truth["n_gate_rejects"] > 0
    assert corpus_truth["n_contaminated"] > 0
    assert len(corpus_truth["survivors"]) < corpus_truth["input_rows"] - corpus_truth["n_gate_rejects"]


def test_corpus_vocabulary_holds_no_stopword():
    # a stopword in the vocabulary would let a planted "no stopwords"
    # reject pass the quality gate; "and" is spelt from the corpus letters
    for seed in range(20):
        vocab = gen._vocab(np.random.default_rng(seed), 4000, "abcdefghijklmnop")
        assert len(vocab) == 4000 and not set(vocab) & set(gen.STOPWORDS)


# --------------------------------------------------------------- arithmetic


def _span(name, start, end, group):
    return {"name": name, "start": start, "end": end, "group": group}


def test_stage_reused_by_a_later_job_is_counted_once():
    jobs = [
        {"job_id": 0, "group": "a#1", "stage_ids": [0, 1]},
        {"job_id": 1, "group": "b#2", "stage_ids": [1, 2]},  # stage 1 skipped here
    ]
    assert trace.attribute_stages(jobs) == {0: "a#1", 1: "a#1", 2: "b#2"}


def test_layer_metrics_and_core_util():
    spans = [_span("a", 0.0, 2.0, "a#1"), _span("b", 2.0, 3.0, "b#2"), _span("a", 3.0, 4.0, "a#3")]
    jobs = [
        {"job_id": 0, "group": "a#1", "stage_ids": [0, 1]},
        {"job_id": 1, "group": "b#2", "stage_ids": [1, 2]},
        {"job_id": 2, "group": "a#3", "stage_ids": [3]},
    ]
    st = lambda tasks, rt, sh: {"tasks": tasks, "failed_tasks": 0, "run_time_s": rt,  # noqa: E731
                                "shuffle_write_bytes": sh, "spill_bytes": 0}
    stages = {0: st(4, 4.0, 2e6), 1: st(4, 2.0, 0), 2: st(2, 1.0, 1e6), 3: st(1, 0.5, 0)}
    m = trace.layer_metrics(spans, jobs, stages, cores=4)
    assert m["a"]["wall_s"] == pytest.approx(3.0)
    assert m["a"]["jobs"] == 2 and m["a"]["tasks"] == 9
    assert m["a"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["a"]["core_util"] == pytest.approx(6.5 / (3.0 * 4))
    assert m["b"]["tasks"] == 2 and m["b"]["core_util"] == pytest.approx(1.0 / 4)

    eng = trace.engine_metrics(list(m.values()), wall=5.0, cores=4)
    assert eng["jobs"] == 3 and eng["tasks"] == 11
    assert eng["core_util"] == pytest.approx(7.5 / 20)


def test_span_without_jobs_reports_wall_only():
    m = trace.layer_metrics([_span("cache", 1.0, 1.25, None)], [], {}, cores=4)
    assert m["cache"]["wall_s"] == pytest.approx(0.25)
    assert m["cache"]["jobs"] == 0 and m["cache"]["core_util"] == 0.0


def test_gap_is_composite_minus_stages():
    assert trace.gap_s(10.0, [2.0, 3.0, 1.5]) == pytest.approx(3.5)
    assert trace.gap_s(4.0, [2.5, 2.5]) == pytest.approx(-1.0)


# -------------------------------------------------------------- the record


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.per_layer_specs()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END.items())
    assert {w["name"] for w in bench["workloads"]} <= set(gen.SHAPES)


class _FakeWorkload:
    name = "fake"

    def __init__(self, fail: bool = False):
        self.fail, self.calls, self.checks = fail, 0, 0

    def prepare(self):
        pass

    def run(self):
        self.calls += 1
        time.sleep(0.05)
        if self.fail:
            raise RuntimeError("planted")
        return self.calls

    def check(self, out):
        self.checks += 1
        return [] if out < 3 else ["wrong"]

    def release(self, out):
        pass


def test_loop_checks_the_call_that_ends_it(monkeypatch):
    from perfbench import workloads

    monkeypatch.setattr(workloads, "persisted_count", lambda spark: 0)
    bench = run.Bench(None, 1)
    wl = _FakeWorkload()
    times = bench.loop(None, wl, 0.2)
    assert len(times) == wl.calls >= 3 and wl.checks == 1
    assert (bench.attempted, bench.failed) == (wl.calls, 1)

    raising = _FakeWorkload(fail=True)
    bench.loop(None, raising, 0.2)
    assert raising.checks == 0 and bench.failed == 1 + raising.calls
