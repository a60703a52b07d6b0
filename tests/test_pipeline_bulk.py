"""Fully-distributed pipeline twin (run_pipeline_bulk): spec-as-data
execution + applyInPandas ranking must produce EXACTLY what the
driver-loop pipeline produces, with a plan that does not grow with the
number of specs and no driver-side signature collect."""

import pytest
from pyspark.sql import functions as F


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


@pytest.mark.parametrize("patterns", [("1hop", "2hop"),
                                      ("1hop", "2hop", "2path")])
def test_bulk_pipeline_matches_driver_pipeline(spark, tiny_graph, patterns):
    from graphraft_spark.llm import LexicographicRanker
    from graphraft_spark.pipeline import run_pipeline, run_pipeline_bulk

    kw = dict(questions=QUESTIONS, ranker=LexicographicRanker(),
              max_nodes=20, k=4,
              patterns=patterns)
    a = run_pipeline(spark, tiny_graph, **kw)
    b = run_pipeline_bulk(spark, tiny_graph, **kw)
    assert a.columns == b.columns
    assert _collect_normalized(a) == _collect_normalized(b)
    assert b.count() > 0


def test_bulk_pipeline_trie_ranker_pickles_and_matches(spark, tiny_graph):
    """The default TrieConstrainedRanker must survive pickling to
    executors and rank identically to the driver loop."""
    from graphraft_spark.llm.protocols import TrieConstrainedRanker
    from graphraft_spark.pipeline import run_pipeline, run_pipeline_bulk

    kw = dict(questions=QUESTIONS[:2], ranker=TrieConstrainedRanker(),
              max_nodes=10, k=2,
              patterns=("1hop", "2hop"))
    a = run_pipeline(spark, tiny_graph, **kw)
    b = run_pipeline_bulk(spark, tiny_graph, **kw)
    assert _collect_normalized(a) == _collect_normalized(b)


def test_run_patterns_bulk_matches_per_spec_execution(spark, tiny_graph):
    """One broadcast join tree per template == run_pattern_nodes looped
    over every spec, across all three templates."""
    from graphraft_spark.patterns.compiler import (
        SPEC_COLS,
        run_pattern_nodes,
        run_patterns_bulk,
    )
    from graphraft_spark.patterns.ir import onehop, twohop, twopath

    cases = [
        ("1hop", onehop("Author", "Ada", "WRITES", "Paper"),
         ("1hop", "Author", "Ada", "WRITES", "Paper", None, None, None)),
        ("1hop", onehop("Institution", "MIT", "AFFILIATED_WITH", "Author"),
         ("1hop", "Institution", "MIT", "AFFILIATED_WITH", "Author",
          None, None, None)),
        ("2hop", twohop("Author", "Ada", "WRITES", "Paper", "CITES",
                        "Paper"),
         ("2hop", "Author", "Ada", "WRITES", "Paper", "CITES", "Paper",
          None)),
        ("2hop", twohop("Institution", "MIT", "AFFILIATED_WITH", "Author",
                        "WRITES", "Paper"),
         ("2hop", "Institution", "MIT", "AFFILIATED_WITH", "Author",
          "WRITES", "Paper", None)),
        ("2path", twopath("Author", "Ada", "WRITES", "Paper", "WRITES",
                          "Author", "Bob"),
         ("2path", "Author", "Ada", "WRITES", "Paper", "WRITES", "Author",
          "Bob")),
    ]
    specs = spark.createDataFrame(
        [row for _, _, row in cases],
        ", ".join(f"{c} string" for c in SPEC_COLS))
    bulk = run_patterns_bulk(tiny_graph, specs).collect()
    got = {}
    for r in bulk:
        key = tuple(r[c] for c in SPEC_COLS)
        got.setdefault(key, set()).add((r["nodeId"], r["label"], r["name"]))
    for _, spec, key in cases:
        want = {(r["nodeId"], r["label"], r["name"])
                for r in run_pattern_nodes(tiny_graph, spec).collect()}
        assert got.get(key, set()) == want, key
    assert set(got) == {key for _, _, key in cases}


def test_bulk_plan_size_constant_in_spec_count(spark, tiny_graph):
    """run_pattern-per-spec unions O(#specs) join subtrees; the bulk
    plan must stay one join tree however many specs execute."""
    from graphraft_spark.patterns.compiler import SPEC_COLS, run_patterns_bulk

    def plan_len(n_specs):
        specs = spark.createDataFrame(
            [("1hop", "Author", f"name{i}", "WRITES", "Paper",
              None, None, None) for i in range(n_specs)],
            ", ".join(f"{c} string" for c in SPEC_COLS))
        df = run_patterns_bulk(tiny_graph, specs, patterns=("1hop",))
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    small, large = plan_len(2), plan_len(200)
    assert large < small * 2, (small, large)


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
