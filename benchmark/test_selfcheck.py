"""Self-check of the benchmark.

Run from the repository root, never alongside another Spark workload:

    python3 -m pytest benchmark/test_selfcheck.py -q

The fast tests pin the input digests, the oracles and BENCHMARK.json's
agreement with the code. ``test_tiny_run`` runs every workload at tiny size,
untraced and traced (about five minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs as I  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from oracle import VectorOracle, check_dedup  # noqa: E402

GENERATORS = (I.serve_inputs, I.ann_inputs, I.dedup_inputs)


@pytest.mark.parametrize("gen", GENERATORS, ids=lambda g: g.__name__)
def test_digest_follows_the_seed(gen):
    assert I.digest(gen(7, I.TINY)) == I.digest(gen(7, I.TINY))
    assert I.digest(gen(7, I.TINY)) != I.digest(gen(8, I.TINY))


def test_serve_schedule_is_stratified():
    ops = I.serve_inputs(3, I.TINY).ops
    for block in ops[: ops.size // 100 * 100].reshape(-1, 100):
        assert np.bincount(block, minlength=3).tolist() == [95, 4, 1]
        assert (np.flatnonzero(block) % I.WRITE_EVERY == I.WRITE_EVERY - 1).all()


def test_chains_stay_under_max_iter():
    docs = I.dedup_inputs(5, I.TINY)
    assert np.bincount(docs.family).max() <= I.MAX_CHAIN < 25


def test_family_sizes_do_not_follow_the_seed():
    sizes = [sorted(np.bincount(I.dedup_inputs(s, I.TINY).family)) for s in (5, 6)]
    assert sizes[0] == sizes[1]
    assert max(sizes[0]) == I.MAX_CHAIN


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.E2E_METRICS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(layers.METRICS)
    assert len(layers.METRICS) <= 128


def _vector_oracle():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((50, 8))
    oracle = VectorOracle(x, np.arange(50) < 40, k=3)
    q = rng.standard_normal(8)
    truth = oracle.truth(q[None, :])[0]
    scores = (oracle.x[truth] @ (q / np.linalg.norm(q))).tolist()
    return oracle, q, truth, scores


def test_vector_oracle_accepts_the_exact_answer():
    oracle, q, truth, scores = _vector_oracle()
    problems, recall = oracle.check(q, truth, truth.tolist(), truth.tolist(), scores)
    assert problems == [] and recall == 1.0


def test_vector_oracle_flags_violations():
    oracle, q, truth, scores = _vector_oracle()
    dead = [45, *truth[1:].tolist()]
    assert oracle.check(q, truth, dead, dead, scores)[0]  # removed / never-added key
    bad = list(scores)
    bad[0] += 1e-4
    assert oracle.check(q, truth, truth.tolist(), truth.tolist(), bad)[0]
    short = truth[:2].tolist()
    assert oracle.check(q, truth, short, short, scores[:2])[0]
    oracle.remove([int(truth[0])])
    assert oracle.check(q, truth, truth.tolist(), truth.tolist(), scores)[0]


def test_dedup_oracle():
    texts = ["a b c d e f g h", "a b c d e f g x", "p q r s t u v w"]
    pairs = [(0, 1, 5 / 7)]
    comps = {0: 0, 1: 0}
    assert check_dedup(texts, [(0, 1)], 0.7, pairs, comps, [0, 2]) == ([], 1.0)
    assert check_dedup(texts, [(0, 1)], 0.7, [(0, 1, 0.9)], comps, [0, 2])[0]
    assert check_dedup(texts, [(0, 1)], 0.7, pairs, {0: 0, 1: 1}, [0, 2])[0]
    assert check_dedup(texts, [(0, 1)], 0.7, pairs, comps, [0, 1, 2])[0]
    assert check_dedup(texts, [(0, 1)], 0.7, [], {}, [0, 1, 2]) == ([], 0.0)


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "4", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    detail, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return detail["detail"], result


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run(workload):
    for trace, names in ((0, run.E2E_METRICS), (1, layers.METRICS)):
        detail, result = _run(workload, 1, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert detail["fail_ratio"] == 0
        assert detail["input_digest"] == I.digest(
            {"serve_mixed": I.serve_inputs, "ann_spark": I.ann_inputs,
             "dedup_chains": I.dedup_inputs}[workload](1, I.TINY)
        )
        assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(names)
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())
        if trace:
            assert detail["tracing_overhead"]


def test_refuses_to_run_without_the_library(tmp_path):
    """In a directory holding only the benchmark the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "benchmark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", "ann_spark", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout.strip() == ""
