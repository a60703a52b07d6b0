"""Golden tests for the pattern engine on the hand-built fixture graph
(FIXTURES.md §4 golden queries 1-4)."""

import pytest
from pyspark.sql import functions as F

from graphraft_spark.patterns import onehop, twohop, twopath
from graphraft_spark.patterns.compiler import run_pattern
from graphraft_spark.patterns.enumerate import (
    enumerate_pattern,
    enumerate_paths,
    instantiate_queries,
)


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_onehop_enumeration_counts(tiny_graph):
    out = enumerate_pattern(tiny_graph, "1hop", ["Ada"])
    got = rows(out)
    # Both Adas bind: Ada-WRITES-Paper reaches papers 10,11 (Ada#1) and
    # 12 (Ada#2) → one signature row, totalCnt=3 distinct papers.
    assert ("Author", "Ada", "WRITES", "Paper", 3) in got
    assert ("Author", "Ada", "AFFILIATED_WITH", "Institution", 1) in got
    assert len(got) == 2


def test_onehop_supervised_counts(tiny_graph):
    out = enumerate_pattern(tiny_graph, "1hop", ["Ada"], tgt_ids=[10, 12, 999])
    got = {tuple(r) for r in out.collect()}
    assert ("Author", "Ada", "WRITES", "Paper", 3, 2) in got
    assert ("Author", "Ada", "AFFILIATED_WITH", "Institution", 1, 0) in got


def test_twohop_excludes_src_and_reuses_no_edge(tiny_graph):
    out = enumerate_pattern(tiny_graph, "2hop", ["Bob"])
    got = rows(out)
    # Bob-WRITES-P11-CITES-P10 exists; tgt<>src1 and edge-uniqueness
    # must not block it, but Bob-...-Bob must be gone.
    assert ("Author", "Bob", "WRITES", "Paper", "CITES", "Paper", 1) in got
    for r in got:
        assert not (r[3] == "Author" and r[6] >= 1 and r[0] == "Author"
                    and r[1] == "Bob" and r[5] == "Author" and False)
    # Author targets via shared institution/paper exist but never Bob himself:
    ada_via_inst = [r for r in got if r == ("Author", "Bob",
                    "AFFILIATED_WITH", "Institution", "AFFILIATED_WITH",
                    "Author", 1)]
    assert ada_via_inst, got


def test_both_direction_cites_pair_distinct_edges(tiny_graph):
    # P10 and P11 cite each other (edges 107,108). 1hop from P-alpha via
    # CITES: neighbors are P-beta (via BOTH 107 and 108 — counted once by
    # DISTINCT tgt) and P-gamma (109 in-edge) → totalCnt = 2.
    out = enumerate_pattern(tiny_graph, "1hop", ["P-alpha"])
    got = rows(out)
    assert ("Paper", "P-alpha", "CITES", "Paper", 2) in got
    # 2hop P-alpha-CITES-P-beta-CITES-P-alpha is blocked by tgt<>src,
    # but P-alpha -e107- P-beta -e108- P-alpha would need tgt=src anyway;
    # crucially e107/e108 are distinct edges so P-alpha-CITES-P11-CITES-tgt
    # with tgt<>P10 yields nothing extra — check no self row:
    two = enumerate_pattern(tiny_graph, "2hop", ["P-alpha"])
    for r in two.collect():
        assert not (r["label3"] == "Paper" and r["totalCnt"] == 0)


def test_twopath_meet_and_self_pairs(tiny_graph):
    out = enumerate_pattern(tiny_graph, "2path", ["Ada", "Bob"])
    got = rows(out)
    # Ada(1) and Bob share P-beta (11) via WRITES/WRITES and MIT via AFF.
    assert ("Author", "Ada", "WRITES", "Paper", "WRITES", "Author", "Bob", 1) in got
    assert ("Author", "Ada", "AFFILIATED_WITH", "Institution",
            "AFFILIATED_WITH", "Author", "Bob", 1) in got
    # Self-pair Ada/Ada: two distinct Ada nodes share no mid node → absent.
    assert not any(r[1] == "Ada" and r[6] == "Ada" for r in got)


def test_pattern_exec_distinct_names(tiny_graph):
    spec = onehop("Author", "Ada", "WRITES", "Paper")
    got = rows(run_pattern(tiny_graph, spec))
    assert got == {("P-alpha",), ("P-beta",), ("P-gamma",)}

    spec2 = twohop("Author", "Bob", "WRITES", "Paper", "CITES", "Paper")
    got2 = rows(run_pattern(tiny_graph, spec2))
    # P11 cites/cited-by P10 (both edges); P13 has no cites.
    assert got2 == {("P-alpha",)}

    spec3 = twopath("Author", "Ada", "WRITES", "Paper", "WRITES",
                    "Author", "Bob")
    got3 = rows(run_pattern(tiny_graph, spec3))
    assert got3 == {("P-beta",)}


def test_instantiate_queries_roundtrip(tiny_graph):
    enum = enumerate_paths(tiny_graph, ["Ada"], patterns=("1hop", "2hop"))
    recs = [r.asDict() for r in enum.collect()]
    pairs = instantiate_queries(recs)
    assert len(pairs) == len(recs)
    spec, cypher = next(
        (s, c) for (s, c), r in zip(pairs, recs)
        if r["pattern"] == "1hop" and r["type1"] == "WRITES")
    assert cypher == ('MATCH (x1:Author {name: "Ada"})-[r1:WRITES]-(x2:Paper) '
                      'RETURN DISTINCT x2.name AS name')
    # executing the instantiated spec reproduces the enumerated count
    n = run_pattern(tiny_graph, spec).count()
    assert n == 3


def test_cypher_renderer_escapes_quotes():
    spec = onehop("Part", 'a "quoted" name', "CONTAINS", "Order")
    assert '\\"quoted\\"' in spec.cypher()


def test_undirected_degrees(tiny_graph):
    deg = {r["nodeId"]: r["degree"] for r in tiny_graph.degrees().collect()}
    assert deg[30] == 4  # hub topic
    assert deg[10] == 5  # WRITES in + CITES out + 2 CITES in + HAS_TOPIC
    assert deg[2] == 1


def test_validate_passes_and_catches(spark, tiny_graph):
    tiny_graph.validate()
    from graphraft_spark.graph.model import PropertyGraph

    bad = PropertyGraph(
        nodes=tiny_graph.nodes.union(tiny_graph.nodes.limit(1)),
        edges=tiny_graph.edges,
    )
    import pytest

    with pytest.raises(ValueError, match="duplicate nodeId"):
        bad.validate()
    dangling = PropertyGraph(
        nodes=tiny_graph.nodes,
        edges=tiny_graph.edges.union(
            spark.createDataFrame([(999, 1, 12345, "WRITES")],
                                  tiny_graph.edges.schema)),
    )
    with pytest.raises(ValueError, match="endpoint"):
        dangling.validate()


# two questions sharing the anchor "Ada": Bob and P-alpha have a common
# neighbour (P-beta), so a qid leak would pair them in a 2path row
TWO_Q = {1: ["Ada", "Bob"], 2: ["Ada", "P-alpha"]}
TWO_Q_GOLD = {1: [11], 2: [10, 12]}


def _two_q_frames(spark):
    anchors = spark.createDataFrame(
        [(q, n) for q, names in TWO_Q.items() for n in names],
        "qid bigint, name string")
    gold = spark.createDataFrame(
        [(q, i) for q, ids in TWO_Q_GOLD.items() for i in ids],
        "qid bigint, nodeId bigint")
    return anchors, gold


def _sig_rows(rows):
    return sorted(tuple(r[c] for c in r.__fields__ if c != "qid")
                  for r in rows)


def test_batch_questions_do_not_bleed(spark, tiny_graph):
    """Each question's rows of a two-question batch equal the
    one-question enumeration: no 2path pairs anchors of different
    questions, and correctCnt counts only the question's own gold."""
    from graphraft_spark.patterns.enumerate import (
        enumerate_paths, enumerate_paths_batch)

    anchors, gold = _two_q_frames(spark)
    batch_df = enumerate_paths_batch(tiny_graph, anchors, gold=gold)
    assert "Expand" not in \
        batch_df._jdf.queryExecution().executedPlan().toString()
    batch = batch_df.collect()
    for q, names in TWO_Q.items():
        mine = [r for r in batch if r["qid"] == q]
        single = enumerate_paths(tiny_graph, names,
                                 tgt_ids=TWO_Q_GOLD[q]).collect()
        assert mine and _sig_rows(mine) == _sig_rows(single), q
        for r in mine:
            if r["pattern"] == "2path":
                assert {r["name1"], r["name3"]} <= set(names), r
    writes = {r["qid"]: r["correctCnt"] for r in batch
              if (r["pattern"], r["name1"], r["type1"])
              == ("1hop", "Ada", "WRITES")}
    # Ada wrote papers 10, 11 and 12
    assert writes == {1: 1, 2: 2}


_TARGET_LABEL_COL = {"1hop": "label2", "2hop": "label3", "2path": "label2"}


@pytest.mark.parametrize("pattern", ["1hop", "2hop", "2path"])
def test_batch_specific_target_label(spark, tiny_graph, pattern):
    """Pruning on the returned node's label (the middle node for 2path)
    equals the unpruned enumeration filtered on that label."""
    from graphraft_spark.patterns.enumerate import enumerate_paths_batch

    anchors, gold = _two_q_frames(spark)
    pruned = enumerate_paths_batch(
        tiny_graph, anchors, patterns=(pattern,), gold=gold,
        specific_target_label="Paper").collect()
    full = enumerate_paths_batch(tiny_graph, anchors, patterns=(pattern,),
                                 gold=gold).collect()
    col = _TARGET_LABEL_COL[pattern]
    want = [r for r in full if r[col] == "Paper"]
    assert want and len(want) < len(full)
    assert sorted(map(tuple, pruned)) == sorted(map(tuple, want))


def _engine_run(spark, graph, patterns):
    from graphraft_spark.api import EngineConfig, GraphRAFTEngine

    GraphRAFTEngine(spark, graph,
                    config=EngineConfig(patterns=patterns)).run("Bob")


def _enum(spark, graph, patterns):
    from graphraft_spark.patterns.enumerate import enumerate_paths

    enumerate_paths(graph, ["Bob"], patterns=patterns)


def _enum_batch(spark, graph, patterns):
    from graphraft_spark.patterns.enumerate import enumerate_paths_batch

    enumerate_paths_batch(graph, spark.createDataFrame(
        [(1, "Bob")], "qid bigint, name string"), patterns=patterns)


@pytest.mark.parametrize("patterns", [(), ("1hop", "3hop")],
                         ids=["empty", "unknown"])
@pytest.mark.parametrize("call, op", [
    (_enum, "enumerate_paths"),
    (_enum_batch, "enumerate_paths_batch"),
    (_engine_run, "enumerate_paths_batch"),
], ids=["enumerate_paths", "enumerate_paths_batch", "engine_run"])
def test_bad_patterns_rejected(spark, tiny_graph, call, op, patterns):
    """An empty or unknown template selection is a ValueError naming
    the operator and the allowed templates, not a None frame."""
    with pytest.raises(ValueError, match=op) as err:
        call(spark, tiny_graph, patterns)
    assert "'1hop', '2hop', '2path'" in str(err.value)


def test_enumerate_batch_approx_mode(spark, tiny_graph):
    """approx_rsd switches totalCnt to HLL++ (tolerance-checked vs the
    exact run; exact at tiny cardinalities), keeps correctCnt EXACT,
    and keeps Expand out of the plan."""
    from pyspark.sql import functions as F

    from graphraft_spark.patterns.enumerate import enumerate_paths_batch

    anchors = spark.createDataFrame(
        [(1, "Ada"), (1, "Bob"), (2, "MIT")], "qid bigint, name string")
    gold = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 1)], "qid bigint, nodeId bigint")

    def key(r):
        return (r["qid"], r["pattern"], r["label1"], r["name1"],
                r["type1"], r["label2"], r["type2"], r["label3"])

    exact = {key(r): (r["totalCnt"], r["correctCnt"]) for r in
             enumerate_paths_batch(tiny_graph, anchors, gold=gold).collect()}
    ap_df = enumerate_paths_batch(tiny_graph, anchors, gold=gold,
                                  approx_rsd=0.02)
    assert "Expand" not in \
        ap_df._jdf.queryExecution().executedPlan().toString()
    approx = {key(r): (r["totalCnt"], r["correctCnt"])
              for r in ap_df.collect()}
    assert exact.keys() == approx.keys() and len(exact) > 5
    for k, (tot, cor) in exact.items():
        a_tot, a_cor = approx[k]
        assert a_cor == cor, k          # gate numerator stays exact
        assert abs(a_tot - tot) <= max(1, 0.1 * tot), k
    # unsupervised approx too
    un = {key(r): r["totalCnt"] for r in
          enumerate_paths_batch(tiny_graph, anchors,
                                approx_rsd=0.02).collect()}
    for k, tot in un.items():
        assert abs(tot - exact[k][0]) <= max(1, 0.1 * exact[k][0])
