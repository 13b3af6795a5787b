"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The fast tests check the harness pieces and that every oracle check
accepts the right answer and rejects a wrong one. The end-to-end tests run
each workload at sf0.001 in a fresh process (about a minute each): zero
failed ops, every named metric with its unit, and an injected wrong
answer counted as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_tail_rank_leaves_ten_samples_beyond():
    assert run.tail_rank(16) == 5  # 1-based rank 6, ranks 7..16 are beyond
    assert run.tail_rank(20) == 9
    assert run.tail_rank(5) == 0


def test_drifting_flags_a_kind_whose_halves_differ():
    lat = [1.0, 1.0, 1.0, 2.0, 2.0, 2.0] + [1.0] * 6
    kinds = ["a"] * 6 + ["b"] * 6
    assert run.drifting(lat, kinds) == ["a"]


def test_row_protocol_values_compare_by_value():
    got = [{"n": "16", "seg": "BUILDING"}]
    assert workloads._rows(got) == workloads._rows([{"seg": "BUILDING", "n": 16}])
    assert workloads._rows(got) != workloads._rows([{"seg": "BUILDING", "n": 17}])


def test_benchmark_json_names_what_the_runner_prints():
    assert [w["name"] for w in SPEC["workloads"]] == sorted(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_units()


@pytest.fixture(scope="module")
def analytics(tmp_path_factory):
    return workloads.GraphAnalytics(str(tmp_path_factory.mktemp("ga")), seed=3, sf=0.001)


def test_analytics_deck_keeps_batches_in_order_and_the_mix_fixed(analytics):
    deck = analytics.deck(np.random.default_rng(0))
    batches = [p["b"] for k, p in deck if k.startswith("stream_")]
    assert batches == list(range(analytics.N_BATCHES))
    restarts = [p["b"] for k, p in deck if k == "stream_restart_batch"]
    assert restarts == list(analytics.RESTART_BEFORE)
    assert [k for k, _ in deck if not k.startswith("stream_")] == list(analytics.ORDER)


def test_cypher_deck_mix_is_fixed_and_the_order_seeded(tmp_path):
    w = workloads.CypherInteractive(str(tmp_path), seed=3, sf=0.001)
    a, b = (w.deck(np.random.default_rng(s)) for s in (1, 2))
    for deck in (a, b):
        assert {k: [x for x, _ in deck].count(k) for k in w.counts} == w.counts
    assert a != b


def test_analytics_checks_accept_oracle_answers_and_reject_wrong_ones(analytics):
    w = analytics
    top = sorted(w.ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:w.TOP_K]
    v = w.vertices[0]
    w.check(("egonet", {"v": v}), [])  # fills the oracle cache
    ego = [{"a": a, "b": b} for a, b in w.egonets[v]]
    right = {
        ("triangle_count", ()): w.triangles,
        ("degree_distribution", ()): [{"degree": d, "n_nodes": n} for d, n in w.degrees],
        ("top_k_pagerank", ()): [{"node": n, "rank": r} for n, r in top],
        ("egonet", (("v", v),)): ego,
        ("stream_batch", (("b", 1),)): (w.prefix[1], None),
        ("stream_restart_batch", (("b", 7),)): (w.prefix[7], (7, 7)),
    }
    for (kind, p), result in right.items():
        op = (kind, dict(p))
        assert w.check(op, result), kind
        assert not w.check(op, run._corrupt(result)), kind
    # a restart that does not resume the exact total is a failure too
    assert not w.check(("stream_restart_batch", {"b": 7}), (w.prefix[7], (7, 8)))


def _bench(*extra) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "5", "--seconds", "1",
         "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _units(spec_key: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[spec_key]}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_untraced_run_is_correct_and_prints_every_end_to_end_metric(workload):
    r = _bench("--workload", workload, "--trace", "0")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units("end_to_end")
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_prints_every_per_layer_metric(workload):
    r = _bench("--workload", workload, "--trace", "1")
    assert r["correct"] and r["failed"] == 0
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units("per_layer")
    analytics = workload == "graph-analytics"
    # each layer reads non-zero only on the workload that drives it
    assert (m["analytics.build_jobs"] > 0) == analytics
    assert (m["streaming.batch_s"] > 0) == analytics
    assert (m["perf.ledger_s"] > 0) == (not analytics)
    assert m["spark.jobs"] > 0 and m["session.start_s"] > 0


def test_injected_wrong_answer_counts_as_failed():
    r = _bench("--workload", "cypher-interactive", "--trace", "0", "--inject-wrong-answer")
    assert r["failed"] >= 1 and not r["correct"]
