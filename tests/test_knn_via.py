"""batch_match_entities vector fallback: the exact top-1 must broadcast
the unmatched-entity side and find each misspelling's nearest name.
Reference surface: ner.py:95-120 (vector fallback after zero fulltext
hits)."""

import pytest

from graphraft_spark.graph.model import PropertyGraph
from graphraft_spark.search.text import batch_match_entities


def _one_hot(i):
    v = [0.05] * 8
    v[i % 8] = 1.0
    return v


@pytest.fixture(scope="module")
def emb_graph(spark):
    """Nodes with near-one-hot 8-dim name embeddings: every name's
    nearest neighbor is unambiguous."""
    names = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    nodes = spark.createDataFrame(
        [(i, "Thing", n, _one_hot(i)) for i, n in enumerate(names)],
        "nodeId bigint, label string, name string, nemb array<double>")
    edges = spark.createDataFrame(
        [(0, 1, "REL")], "src bigint, dst bigint, relType string")
    return PropertyGraph(nodes=nodes, edges=edges)


def test_brute_fallback_broadcasts_missing_side(spark, emb_graph):
    # "beta" fulltext-matches; the misspellings only vector-match.
    ents = spark.createDataFrame(
        [(1, "beta", _one_hot(1)),
         (1, "gamma-ish", _one_hot(2)),
         (2, "deltaX", _one_hot(3))],
        "qid int, entity string, qemb array<double>")
    out = batch_match_entities(emb_graph, ents,
                               name_emb_col="nemb", entity_emb_col="qemb")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the crossJoin of (tiny) missing entities against node embeddings
    # must be a broadcast nested-loop, never a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert {(r["qid"], r["entity"]): (r["name"], r["matched_by"])
            for r in out.collect()} == {
        (1, "beta"): ("beta", "fulltext"),
        (1, "gamma-ish"): ("gamma", "vector"),
        (2, "deltaX"): ("delta", "vector")}
