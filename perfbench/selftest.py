#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py           # unit checks + smoke runs
    python3 perfbench/selftest.py --quick   # unit checks only

* the question generator is deterministic per seed, and seeds differ;
* gold answers and the regular corpus have the shape the metrics assume;
* a perturbed output fails the digest check, an unperturbed one passes;
* a short run of every workload passes all of its output checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def test_generator_is_deterministic():
    from perfbench import corpus, questions

    g = questions.Graph(corpus.make_tables())
    for make in (questions.online_questions, questions.train_questions):
        assert make(g, 7) == make(g, 7), make.__name__
        assert make(g, 7) != make(g, 8), make.__name__
    assert corpus.make_tables() == corpus.make_tables()


def test_question_shapes():
    from perfbench import corpus, questions

    g = questions.Graph(corpus.make_tables())
    online = questions.online_questions(g, 0)
    assert all(len(q.entities) == 2 for q in online)
    assert len({q.entities for q in online}) == len(online)
    # regular corpus: every online question reaches a similar node count
    sizes = [len(q.gold) for q in online]
    assert max(sizes) < 1.15 * min(sizes), sizes
    train = questions.train_questions(g, 0)
    assert all(q.gold and len(q.entities) == 2 for q in train)
    assert questions.shape_stats(train)["hub_share"] == 0.0


def test_perturbed_output_fails_digest():
    from perfbench import checks

    answers, nodes = ["NATION_3", "Customer#000000007"], [4000000003, 17]
    good = checks.retrieval_digest(answers, nodes)
    record = {"0": good}
    assert checks.mismatches(record, {"0": good}) == set()
    # order does not matter, content does
    assert checks.retrieval_digest(answers[::-1], nodes[::-1]) == good
    for bad in (checks.retrieval_digest(answers, nodes[:-1]),
                checks.retrieval_digest(answers + ["x"], nodes),
                checks.retrieval_digest(answers, nodes + [18])):
        assert checks.mismatches(record, {"0": bad}) == {"0"}
    # questions the record does not hold are not judged
    assert checks.mismatches(record, {"1": good}) == set()


def test_recorded_digests_present():
    from perfbench import checks

    exp = checks.load_expected(checks.DEFAULT_SEED)
    assert exp and exp["online_qa"] and exp["train_sft"]["sft"]


def test_metric_names_match_benchmark_json():
    from collections import defaultdict
    from types import SimpleNamespace

    from perfbench import run, trace

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    acc = SimpleNamespace(value=0)
    ctx = SimpleNamespace(counts=defaultdict(float), seams=SimpleNamespace(
        rank_calls=acc, rank_candidates=acc, generate_calls=acc))
    out = run.Outcome()
    out.latencies, out.questions = [1.0], 1
    layer = run.layer_metrics(ctx, {}, {}, out, 0.0, trace)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (_, u) in layer.items()}


def smoke(workload: str) -> None:
    """One short run; every output check must pass."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 1, result
    assert all(m["value"] > 0 for m in result["metrics"].values()), result


def main() -> int:
    tests = [test_generator_is_deterministic, test_question_shapes,
             test_perturbed_output_fails_digest, test_recorded_digests_present,
             test_metric_names_match_benchmark_json]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    if "--quick" not in sys.argv:
        from perfbench.run import WORKLOADS

        for w in WORKLOADS:
            smoke(w)
            print(f"ok smoke {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
