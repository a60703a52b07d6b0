"""The batch pipeline: ``run_pipeline`` retrieves each ranked query's
rows from the targets its enumeration carries, so its output is pinned
by golden rows and its plan does not grow with the number of ranked
specs."""

import pytest


def _collect_normalized(df):
    rows = df.collect()
    return sorted(
        (r["qid"], r["nodeId"], r["queryIdx"], r["rank"],
         round(r["similarity"], 9), r["name"], tuple(sorted(r["patterns"])))
        for r in rows)


QUESTIONS = [
    (1, "what do Ada and Bob share?", ["Ada", "Bob"]),
    (2, "who is at MIT?", ["MIT"]),
    (3, "what is ML about?", ["ML", "Ada"]),
]


# Provenance strings of the ranked specs: PatternSpec.text_pattern("").
_P = {
    "ada_inst":
        '(x1:Author {name: "Ada"})-[r1:AFFILIATED_WITH]-'
        '(x2:Institution {name: ""})',
    "ada_inst_author":
        '(x1:Author {name: "Ada"})-[r1:AFFILIATED_WITH]-(x2:Institution)'
        '-[r2:AFFILIATED_WITH]-(x3:Author {name: ""})',
    "ada_inst_bob":
        '(x1:Author {name: "Ada"})-[r1:AFFILIATED_WITH]-'
        '(x2:Institution {name: ""})-[r2:AFFILIATED_WITH]-'
        '(x3:Author {name: "Bob"})',
    "ada_paper": '(x1:Author {name: "Ada"})-[r1:WRITES]-(x2:Paper {name: ""})',
    "ada_paper_cited":
        '(x1:Author {name: "Ada"})-[r1:WRITES]-(x2:Paper)-[r2:CITES]-'
        '(x3:Paper {name: ""})',
    "bob_inst_author":
        '(x1:Author {name: "Bob"})-[r1:AFFILIATED_WITH]-(x2:Institution)'
        '-[r2:AFFILIATED_WITH]-(x3:Author {name: ""})',
    "bob_paper": '(x1:Author {name: "Bob"})-[r1:WRITES]-(x2:Paper {name: ""})',
    "mit_author":
        '(x1:Institution {name: "MIT"})-[r1:AFFILIATED_WITH]-'
        '(x2:Author {name: ""})',
    "mit_author_paper":
        '(x1:Institution {name: "MIT"})-[r1:AFFILIATED_WITH]-(x2:Author)'
        '-[r2:WRITES]-(x3:Paper {name: ""})',
}

# (qid, nodeId, queryIdx, rank, similarity, name, pattern keys): the
# retrieved rows of run_pipeline, captured when the per-spec union and
# the executor-ranked twin still agreed on them.
_LEX_1HOP_2HOP = [
    (1, 3, 1, 1, 0.226842613, "Bob", ("ada_inst_author",)),
    (1, 10, 2, 3, 0.756142043, "P-alpha", ("ada_paper", "ada_paper_cited")),
    (1, 11, 2, 2, 0.831756247, "P-beta", ("ada_paper", "ada_paper_cited")),
    (1, 12, 2, 1, 0.907370451, "P-gamma", ("ada_paper", "ada_paper_cited")),
    (1, 20, 0, 1, 0.512284086, "MIT", ("ada_inst",)),
    (2, 1, 0, 2, 0.075614204, "Ada", ("mit_author",)),
    (2, 3, 0, 1, 0.226842613, "Bob", ("mit_author",)),
    (2, 10, 1, 3, 0.756142043, "P-alpha", ("mit_author_paper",)),
    (2, 11, 1, 2, 0.831756247, "P-beta", ("mit_author_paper",)),
    (2, 13, 1, 1, 0.982984656, "P-delta", ("mit_author_paper",)),
    (3, 3, 1, 1, 0.226842613, "Bob", ("ada_inst_author",)),
    (3, 10, 2, 3, 0.756142043, "P-alpha", ("ada_paper", "ada_paper_cited")),
    (3, 11, 2, 2, 0.831756247, "P-beta", ("ada_paper", "ada_paper_cited")),
    (3, 12, 2, 1, 0.907370451, "P-gamma", ("ada_paper", "ada_paper_cited")),
    (3, 20, 0, 1, 0.512284086, "MIT", ("ada_inst",)),
]
_LEX_ALL = [
    (1, 3, 2, 1, 0.226842613, "Bob", ("ada_inst_author",)),
    (1, 10, 3, 3, 0.756142043, "P-alpha", ("ada_paper",)),
    (1, 11, 3, 2, 0.831756247, "P-beta", ("ada_paper",)),
    (1, 12, 3, 1, 0.907370451, "P-gamma", ("ada_paper",)),
    (1, 20, 0, 1, 0.512284086, "MIT", ("ada_inst", "ada_inst_bob")),
    (2, 1, 0, 2, 0.075614204, "Ada", ("mit_author",)),
    (2, 3, 0, 1, 0.226842613, "Bob", ("mit_author",)),
    (2, 10, 1, 3, 0.756142043, "P-alpha", ("mit_author_paper",)),
    (2, 11, 1, 2, 0.831756247, "P-beta", ("mit_author_paper",)),
    (2, 13, 1, 1, 0.982984656, "P-delta", ("mit_author_paper",)),
    (3, 3, 1, 1, 0.226842613, "Bob", ("ada_inst_author",)),
    (3, 10, 2, 3, 0.756142043, "P-alpha", ("ada_paper", "ada_paper_cited")),
    (3, 11, 2, 2, 0.831756247, "P-beta", ("ada_paper", "ada_paper_cited")),
    (3, 12, 2, 1, 0.907370451, "P-gamma", ("ada_paper", "ada_paper_cited")),
    (3, 20, 0, 1, 0.512284086, "MIT", ("ada_inst",)),
]
_TRIE = [
    (1, 1, 0, 1, 0.075614204, "Ada", ("bob_inst_author",)),
    (1, 11, 1, 2, 0.831756247, "P-beta", ("bob_paper",)),
    (1, 13, 1, 1, 0.982984656, "P-delta", ("bob_paper",)),
    (2, 1, 0, 2, 0.075614204, "Ada", ("mit_author",)),
    (2, 3, 0, 1, 0.226842613, "Bob", ("mit_author",)),
    (2, 10, 1, 3, 0.756142043, "P-alpha", ("mit_author_paper",)),
    (2, 11, 1, 2, 0.831756247, "P-beta", ("mit_author_paper",)),
    (2, 13, 1, 1, 0.982984656, "P-delta", ("mit_author_paper",)),
]


def _expand(golden):
    return sorted(row[:6] + (tuple(sorted(_P[p] for p in row[6])),)
                  for row in golden)


@pytest.mark.parametrize("ranker,questions,k,max_nodes,patterns,golden", [
    ("lex", QUESTIONS, 4, 20, ("1hop", "2hop"), _LEX_1HOP_2HOP),
    ("lex", QUESTIONS, 4, 20, ("1hop", "2hop", "2path"), _LEX_ALL),
    ("trie", QUESTIONS[:2], 2, 10, ("1hop", "2hop"), _TRIE),
], ids=["lex-1hop-2hop", "lex-2path", "trie"])
def test_run_pipeline_golden(spark, tiny_graph, ranker, questions, k,
                             max_nodes, patterns, golden):
    """Pipeline-level pin for all three templates (the p_full_pipeline
    oracle covers only 1hop and 2hop), for the lexicographic and the
    trie-constrained ranker."""
    from graphraft_spark.llm import LexicographicRanker
    from graphraft_spark.llm.protocols import TrieConstrainedRanker
    from graphraft_spark.pipeline import run_pipeline

    rk = LexicographicRanker() if ranker == "lex" else TrieConstrainedRanker()
    out = run_pipeline(spark, tiny_graph, questions=questions, ranker=rk,
                       max_nodes=max_nodes, k=k, patterns=patterns)
    assert out.columns == ["qid", "nodeId", "queryIdx", "rank",
                           "similarity", "name", "patterns"]
    assert _collect_normalized(out) == _expand(golden)


def _plan_shape(df):
    """(joins, leaf relations) in the optimized logical plan."""
    lines = df._jdf.queryExecution().optimizedPlan().treeString().splitlines()
    ops = [ln.lstrip(" :+-").split(" ")[0] for ln in lines]
    joins = sum(op == "Join" for op in ops)
    leaves = sum(op in ("LocalRelation", "LogicalRDD", "Relation",
                        "InMemoryRelation") for op in ops)
    return joins, leaves


def test_run_pipeline_plan_size_constant_in_k(spark, tiny_graph,
                                              monkeypatch):
    """The ranked queries are data: raising k from 1 to 8 adds rows to
    the budget's input, not join subtrees to its plan.  The budget reads
    one local relation of the ranked signatures' targets, and the
    result is a local relation too."""
    from graphraft_spark import pipeline
    from graphraft_spark.llm import LexicographicRanker

    budget_inputs = []

    def spy(results, **kw):
        budget_inputs.append(results)
        return budgeted_accumulate(results, **kw)

    budgeted_accumulate = pipeline.budgeted_accumulate
    monkeypatch.setattr(pipeline, "budgeted_accumulate", spy)

    def shapes(k):
        out = pipeline.run_pipeline(
            spark, tiny_graph, questions=QUESTIONS,
            ranker=LexicographicRanker(), k=k)
        return _plan_shape(budget_inputs[-1]), _plan_shape(out)

    assert shapes(1) == shapes(8) == ((0, 1), (0, 1))


def _leaf_classes(df):
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.size())]


def test_run_pipeline_driver_frames_are_local(spark, tiny_graph,
                                              monkeypatch):
    """The anchors handed to the enumeration, and the empty result, are
    Arrow-backed LocalRelations: a parallelized Python list would plan
    as a LogicalRDD, whose first action starts Python workers."""
    from graphraft_spark import pipeline
    from graphraft_spark.llm import LexicographicRanker

    seen = []

    def spy(graph, anchors, **kw):
        seen.append(anchors)
        return enumerate_paths_batch(graph, anchors, **kw)

    enumerate_paths_batch = pipeline.enumerate_paths_batch
    monkeypatch.setattr(pipeline, "enumerate_paths_batch", spy)
    pipeline.run_pipeline(spark, tiny_graph, questions=QUESTIONS[:1],
                          ranker=LexicographicRanker(), k=1,
                          patterns=("1hop",))
    assert [_leaf_classes(a) for a in seen] == [["LocalRelation"]]

    empty = pipeline.run_pipeline(
        spark, tiny_graph, questions=[(1, "nobody?", [])],
        ranker=LexicographicRanker(), prop_cols=("detail",))
    assert _leaf_classes(empty) == ["LocalRelation"]
    assert empty.columns == ["qid", "nodeId", "queryIdx", "rank",
                             "similarity", "name", "detail", "patterns"]
    assert empty.collect() == []


def test_text_pattern_col_matches_ir_renderer(spark):
    """Native provenance strings == PatternSpec.text_pattern("") for all
    templates, including escaping."""
    from graphraft_spark.patterns.compiler import SPEC_COLS
    from graphraft_spark.patterns.ir import onehop, twohop, twopath
    from graphraft_spark.pipeline import text_pattern_col

    rows = [
        ("1hop", "Author", 'A"da\\x', "WRITES", "Paper", None, None, None),
        ("2hop", "Author", "Ada", "WRITES", "Paper", "CITES", "Paper",
         None),
        ("2path", "Author", "Ada", "WRITES", "Paper", "WRITES", "Author",
         'B"ob'),
    ]
    specs = [onehop(*rows[0][1:5]), twohop(*rows[1][1:7]),
             twopath(*rows[2][1:])]
    df = spark.createDataFrame(
        rows, ", ".join(f"{c} string" for c in SPEC_COLS))
    got = [r["p"] for r in
           df.select(text_pattern_col().alias("p")).collect()]
    want = [s.text_pattern("") for s in specs]
    assert got == want
