"""LLM-surface tests: NER-parse parity with the reference algorithm,
trie-ranker invariants, end-to-end pipeline on the fixture graph."""

from pyspark.sql import functions as F

from graphraft_spark.llm import (
    EchoGenerator,
    LexicographicRanker,
    TrieConstrainedRanker,
    parse_labeled_entities,
    parse_unlabeled_entities,
)


def ref_parse_labeled(response, labels):
    """Verbatim port of ner.py:75-92 for parity checking."""
    idx0s, idx1s = [], []
    for label in labels:
        label_str = label + ":"
        if label_str not in response:
            continue
        idx0s.append(response.index(label_str))
        idx1s.append(response.index(label_str) + len(label_str))
    idx0s, idx1s = sorted(idx0s), sorted(idx1s)
    out = []
    for i in range(len(idx0s)):
        label = response[idx0s[i]:idx1s[i] - 1]
        value = (response[idx1s[i]:idx0s[i + 1]]
                 if i < len(idx0s) - 1 else response[idx1s[i]:])
        out.append((label, value.strip()))
    return out


def test_labeled_parse_parity():
    labels = ["Paper", "Author", "Institution", "FieldOfStudy"]
    cases = [
        "Author: Alice Paper: Graph Retrieval at Scale",
        "Paper: One Institution: MIT Author: Bob",
        "FieldOfStudy: ML",
        "no entities here",
        "Author: trailing spaces   ",
    ]
    for r in cases:
        assert parse_labeled_entities(r, labels) == ref_parse_labeled(r, labels)


def test_unlabeled_parse():
    assert parse_unlabeled_entities("A: x | y|z") == [
        ("_Entity_", " x "), ("_Entity_", " y"), ("_Entity_", "z")]


def test_trie_ranker_invariants():
    r = TrieConstrainedRanker()
    cands = [f"MATCH x{i} RETURN n{i}" for i in range(8)]
    top = r.rank("which?", cands, k=5)
    assert len(top) == 5
    assert all(t in cands for t in top)          # verbatim constraint
    assert len(set(top)) == 5
    assert r.rank("which?", cands, k=5) == top   # deterministic
    assert r.rank("other question", cands, k=5) != top or True
    # beam = min(k, n)
    assert len(r.rank("q", cands[:2], k=5)) == 2
    assert r.rank("q", [], k=5) == []
    # shared prefixes stay rankable
    shared = ["MATCH a b c", "MATCH a b d", "MATCH a x"]
    got = r.rank("q", shared, k=3)
    assert sorted(got) == sorted(shared)


def test_pipeline_end_to_end(spark, tiny_graph):
    from graphraft_spark.metrics import compute_metrics
    from graphraft_spark.pipeline import answer_questions, run_pipeline
    from graphraft_spark.search.text import batch_match_entities

    # stage 1: entity matching (batch C1)
    ents = spark.createDataFrame(
        [(1, " ADA "), (1, "bob"), (2, "MIT")],
        "qid bigint, entity string")
    matched = batch_match_entities(tiny_graph, ents) \
        .select("qid", "name").distinct().collect()
    by_q = {}
    for r in matched:
        by_q.setdefault(r["qid"], []).append(r["name"])
    assert sorted(by_q[1]) == ["Ada", "Bob"] and by_q[2] == ["MIT"]

    # stages 2-5
    retrieved = run_pipeline(
        spark, tiny_graph,
        questions=[(1, "what do Ada and Bob share?", by_q[1]),
                   (2, "who is at MIT?", by_q[2])],
        ranker=LexicographicRanker(),
        max_nodes=20, k=4)
    rows = retrieved.collect()
    assert {r["qid"] for r in rows} == {1, 2}
    assert all(r["patterns"] for r in rows)
    q2_names = {r["name"] for r in rows if r["qid"] == 2}
    assert {"Ada", "Bob"} & q2_names  # authors reachable from MIT

    # stage 6 + metrics
    qs = spark.createDataFrame(
        [(1, "what do Ada and Bob share?"), (2, "who is at MIT?")],
        "qid bigint, question string")
    answered = answer_questions(retrieved, qs, EchoGenerator(n_answers=5))
    out = answered.collect()
    assert all(len(r["predicted_answers"]) > 0 for r in out)

    labels = spark.createDataFrame(
        [(1, ["P-beta"]), (2, ["Ada", "Bob"])],
        "qid bigint, labels array<string>")
    scored = answered.join(labels, "qid").select(
        F.col("predicted_answers").alias("preds"), "labels")
    m = compute_metrics(scored, ["recall", "hit@5"]).collect()[0]
    assert m["recall"] > 0


def test_budget_cap_in_pipeline(spark, tiny_graph):
    from graphraft_spark.pipeline import run_pipeline

    out = run_pipeline(
        spark, tiny_graph,
        questions=[(1, "q", ["Ada", "Bob", "MIT", "ML"])],
        ranker=LexicographicRanker(),
        max_nodes=3, k=8)
    # budget fires → at most max_nodes-1 kept (drop-the-crosser)
    assert out.count() <= 2
