"""Physical-plan regression tests: the scale-design claims (pushdown,
broadcasts, no cartesian products, codegen coverage) asserted against
the actual optimized plans, so a refactor that silently degrades a plan
fails CI instead of a future benchmark.

Plans come from queryExecution().explainString — cheap (no execution).
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def physical(df) -> str:
    # executedPlan AFTER optimization, before execution
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def graph(spark):
    from graphraft_spark.graph import tpch_graph
    return tpch_graph(spark, SF)


def test_anchored_twohop_broadcasts_and_pushes_name_filter(spark, graph):
    from graphraft_spark.patterns.enumerate import enumerate_pattern

    df = enumerate_pattern(graph, "2hop", ["NATION_7"])
    p = physical(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p           # frontier must broadcast
    assert "CartesianProduct" not in p
    assert "PushedFilters: [In(name" in p or "EqualTo(name" in p, \
        "anchor name filter must reach the parquet scan"


def test_node_scan_prunes_columns(spark, graph):
    """A projection that only needs nodeId/label must not read name or
    detail from parquet."""
    df = graph.nodes.select("nodeId", "label")
    p = physical(df)
    assert "ReadSchema: struct<nodeId:bigint>" in p or \
        "detail" not in p.split("ReadSchema")[1].split("\n")[0], p


def test_knn_plan_has_no_shuffle_before_topk(spark):
    """Brute-force KNN is scan → local score → TakeOrdered: no exchange
    other than the final top-k gather."""
    from graphraft_spark.search.vector import knn

    emb = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .select(F.col("vec_id").alias("nodeId"),
                F.col("embedding").alias("emb"))
    q = [0.1] * len(emb.first()["emb"])
    df = knn(emb, "emb", q, k=5, id_col="nodeId")
    p = physical(df)
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_lsh_dedup_never_builds_all_pairs(spark):
    """The LSH candidate join must be an equi-join on (band, bucket) —
    no cartesian/broadcast nested loop anywhere in the plan."""
    from graphraft_spark.ops.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    df = minhash_lsh_dedup(docs, num_perm=8, bands=4, threshold=0.5)
    p = physical(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bucketed time-grid rewrite must produce an equi-join; the
    naive range join would be a BroadcastNestedLoopJoin."""
    from graphraft_spark.ops.temporal import interval_join_bucketed
    from graphraft_spark.streaming.events import load_events

    ev = load_events(spark, SF)
    inc = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("incident_id"),
                   F.col("ts").alias("start_ts"),
                   (F.col("ts") + F.expr("INTERVAL 10 MINUTES"))
                   .alias("end_ts")))
    df = interval_join_bucketed(ev.select("user_id", "ts"), inc,
                                on="ts", start="start_ts", end="end_ts",
                                bucket_seconds=600)
    p = physical(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_decontaminate_broadcasts_benchmark_side(spark):
    from graphraft_spark.ops.decontaminate import contamination_flags

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 7 == 3).select("text")
    df = contamination_flags(docs, bench, n=8)
    p = physical(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_text_features_stay_jvm_side_no_shuffle(spark):
    """Quality/langid/token features must be pure expressions — no
    Python evaluation (BatchEvalPython / ArrowEvalPython) and no
    exchange: one Project over the scan.  (Higher-order-function
    lambdas run JVM-side but outside WholeStageCodegen, so codegen
    presence is deliberately NOT asserted.)"""
    from graphraft_spark.ops.text_analysis import (
        langid_scores, quality_score, token_count_bpe_ish)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select(
        quality_score(F.col("text")).alias("q"),
        langid_scores(F.col("text")).alias("l"),
        token_count_bpe_ish(F.col("text")).alias("t"))
    p = physical(df)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "Exchange" not in p


def test_no_cartesian_anywhere_bnlj_only_in_knn_family(spark):
    """Sweep every PRIMARY query's physical plan: CartesianProduct is
    banned outright; BroadcastNestedLoopJoin is legitimate ONLY where a
    tiny broadcast side scores against the corpus (the KNN/ANN cross-
    score shape — one query row against every vector) and must not
    creep into any other family."""
    import sys

    from graphraft_spark import registry

    # single source of truth: the lint tool's allowlist, where every
    # entry carries its documented tiny-broadcast justification (a
    # duplicated list here went stale on the r7 tier rotation)
    sys.path.insert(0, f"{__file__.rsplit('/tests/', 1)[0]}/tools")
    from plan_lint import BNLJ_OK

    registry.load_all()
    offenders = {}
    for name, fn in registry.QUERIES.items():
        p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in p:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in p and name not in BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_tpch2_filters_push_and_dims_broadcast(spark):
    """Round-5 TPC-H additions: Q6's predicates must reach the lineitem
    scan; Q7's dimension joins must broadcast (no SMJ for nation/
    supplier); nothing builds a cartesian product."""
    from graphraft_spark.registry import EXTRA_QUERIES, QUERIES, load_all

    load_all()
    # q_forecast_revenue moved tiers (promoted r12 wave 7) — look it up
    # across both so rotation doesn't break the plan pin
    allq = dict(EXTRA_QUERIES)
    allq.update(QUERIES)
    p6 = physical(allq["q_forecast_revenue"](spark, SF))
    assert "PushedFilters" in p6 and "l_shipdate" in p6.split(
        "PushedFilters")[1][:400], "Q6 date filter must push to scan"
    assert "CartesianProduct" not in p6

    p7 = physical(EXTRA_QUERIES["q_nation_pair_volume"](spark, SF))
    assert "BroadcastHashJoin" in p7
    assert "CartesianProduct" not in p7


def test_span_dedup_plan_shape(spark):
    """Exact-substring dedup: window-hash shuffle + per-doc windows —
    no cartesian, no nested-loop join, no Python in the plan."""
    from graphraft_spark.ops.dedup import exact_substring_scrub

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = physical(exact_substring_scrub(docs, k=8))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, \
        "span dedup must stay whole-stage-codegen JVM-side"


def test_setops_plan_uses_joins_not_cartesian(spark):
    from graphraft_spark.registry import EXTRA_QUERIES, load_all

    load_all()
    p = physical(EXTRA_QUERIES["q_setops_customers"](spark, SF))
    assert "CartesianProduct" not in p


def test_plan_lint_clean_across_both_tiers(spark):
    """tools/plan_lint.py's checks over every non-eager registered
    query: zero errors.  (The standalone tool exists for ad-hoc runs;
    this pins the same sweep in CI.)"""
    import sys
    sys.path.insert(0, f"{__file__.rsplit('/tests/', 1)[0]}/tools")
    from plan_lint import EAGER, lint_plan

    from graphraft_spark import registry

    registry.load_all()
    lookup = dict(registry.EXTRA_QUERIES)
    lookup.update(registry.QUERIES)
    errors = {}
    for name, fn in sorted(lookup.items()):
        if name in EAGER:
            continue
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        errs = [m for lvl, m in lint_plan(name, plan) if lvl == "ERROR"]
        if errs:
            errors[name] = errs
    assert not errors, errors


def test_global_window_rule_fires_on_single_partition_exchange():
    """The rule detects the SinglePartition exchange a global window
    forces — and stays silent for keyed windows even when they carry
    no ordering (bracket-count lookalikes of the global header)."""
    import sys as _sys
    _sys.path.insert(0, "tools")
    from plan_lint import lint_plan

    globalw = ("AdaptiveSparkPlan\n"
               "+- Window [row_number() windowspecdefinition(x ASC)], [x ASC]\n"
               "   +- Sort [x ASC], false, 0\n"
               "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
               "         +- Scan parquet")
    assert any("global Window" in m for _, m in lint_plan("q", globalw))
    keyed_no_order = ("AdaptiveSparkPlan\n"
                      "+- Window [min(p) windowspecdefinition(k)], [k]\n"
                      "   +- Sort [k ASC], false, 0\n"
                      "      +- Exchange hashpartitioning(k, 32)\n"
                      "         +- Scan parquet")
    assert not lint_plan("q", keyed_no_order)
