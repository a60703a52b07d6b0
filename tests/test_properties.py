"""Property-based tests (SURVEY §5): random-instance invariants for the
core operators, checked against brute-force Python oracles.

Hypothesis generates small random graphs / result streams; each example
round-trips through Spark, so example counts are kept low — the value
is in the randomized structure (self-loops, multi-edges, shared names,
disconnected nodes), not in volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(max_examples=8, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


edge_lists = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7),
              st.sampled_from(["A", "B"])),
    min_size=1, max_size=14, unique=True)


def _graph_from(spark, edges, labels="N", detail=False):
    """The graph of ``edges``: node n is named ``n{n % 3}`` (shared
    names) and labelled ``labels[n % len(labels)]``; with ``detail``,
    nodes also carry a ``detail`` column ``d{n}``.  Local relations: a
    parallelized list would add a job per scan."""
    from pyspark.sql.types import StructType

    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.session import local_frame

    node_ids = sorted({n for s, d, _ in edges for n in (s, d)})
    nodes = local_frame(spark, [
        {"nodeId": n, "label": labels[n % len(labels)], "name": f"n{n % 3}",
         **({"detail": f"d{n}"} if detail else {})} for n in node_ids],
        StructType.fromDDL("nodeId bigint, label string, name string"
                           + (", detail string" if detail else "")))
    edf = local_frame(spark, [
        {"edgeId": i, "src": s, "dst": d, "relType": t}
        for i, (s, d, t) in enumerate(edges)], StructType.fromDDL(
        "edgeId bigint, src bigint, dst bigint, relType string"))
    return node_ids, PropertyGraph(nodes=nodes, edges=edf)


@settings(**SETTINGS)
@given(edges=edge_lists)
def test_onehop_counts_match_bruteforce(spark, edges):
    """totalCnt per (anchor-name, relType, tgt-label) == brute-force
    distinct-neighbor count over the undirected adjacency."""
    from graphraft_spark.patterns.enumerate import enumerate_pattern

    node_ids, g = _graph_from(spark, edges)
    got = {(r["name1"], r["type1"]): r["totalCnt"]
           for r in enumerate_pattern(g, "1hop", ["n0"]).collect()}

    # brute force: undirected neighbors of every node named n0, by rel
    want: dict[tuple[str, str], set[int]] = {}
    anchors = [n for n in node_ids if n % 3 == 0]
    for a in anchors:
        for s, d, t in edges:
            for u, v in ((s, d), (d, s)):
                if u == a:
                    want.setdefault(("n0", t), set()).add(v)
    assert got == {k: len(v) for k, v in want.items()}


@settings(**SETTINGS)
@given(edges=edge_lists)
def test_twohop_excludes_reused_edge_and_src(spark, edges):
    """2-hop semantics: every counted target is reachable via two
    DISTINCT edges (r1 ≠ r2) and differs from the anchor (tgt <> src),
    per path_retriever.py:7-9 + SURVEY §7.2 exactness."""
    from graphraft_spark.patterns.enumerate import enumerate_pattern

    node_ids, g = _graph_from(spark, edges)
    got_total = sum(r["totalCnt"] for r in
                    enumerate_pattern(g, "2hop", ["n0"]).collect())

    eid = list(enumerate(edges))
    want = set()  # (anchor, mid-label-ish grouping collapsed: count paths' targets)
    per_sig: dict[tuple, set[int]] = {}
    for a in (n for n in node_ids if n % 3 == 0):
        for i1, (s1, d1, t1) in eid:
            for m in ({d1} if s1 == a else set()) | ({s1} if d1 == a else set()):
                for i2, (s2, d2, t2) in eid:
                    if i2 == i1:
                        continue
                    for tgt in ({d2} if s2 == m else set()) | \
                               ({s2} if d2 == m else set()):
                        if tgt != a:
                            per_sig.setdefault(("n0", t1, t2), set()).add(tgt)
    want_total = sum(len(v) for v in per_sig.values())
    assert got_total == want_total


def _enumerate_brute(edges, labels, anchors, gold, patterns, limit, sim):
    """path_retriever.py's three templates as Python loops over the
    undirected multigraph (one adjacency entry per binding direction,
    so a self-loop binds twice with one edgeId): per signature,
    ``totalCnt`` / ``correctCnt`` over the targets some binding of
    which passes the node inequality, and the first ``limit`` targets
    in ``(similarity DESC, nodeId)`` order, inequality or not."""
    adj: dict[int, list[tuple[int, int, str]]] = {}
    for i, (s, d, t) in enumerate(edges):
        adj.setdefault(s, []).append((i, d, t))
        adj.setdefault(d, []).append((i, s, t))
    lab = lambda n: labels[n % len(labels)]
    name = lambda n: f"n{n % 3}"
    found: dict[tuple, dict[int, bool]] = {}

    def bind(key, tgt, ne):
        seen = found.setdefault(key, {})
        seen[tgt] = seen.get(tgt, False) or ne

    for qid, names in anchors.items():
        mine = [n for n in adj if name(n) in names]
        for a in mine:
            for e1, m, t1 in adj[a]:
                if "1hop" in patterns:
                    bind((qid, "1hop", lab(a), name(a), t1, lab(m), None,
                          None, None), m, True)
                for e2, c, t2 in adj[m]:
                    if e2 == e1:
                        continue
                    if "2hop" in patterns:
                        bind((qid, "2hop", lab(a), name(a), t1, lab(m), t2,
                              lab(c), None), c, a != c)
                    if "2path" in patterns and c in mine:
                        bind((qid, "2path", lab(a), name(a), t1, lab(m), t2,
                              lab(c), name(c)), m, a != c)
    out = {}
    for key, tgts in found.items():
        ok = {t for t, ne in tgts.items() if ne}
        if ok:
            first = sorted(tgts, key=lambda n: (-sim(n), n))[:limit]
            out[key] = (len(ok), len(ok & gold.get(key[0], set())),
                        [(n, sim(n), name(n)) for n in first])
    return out


@pytest.mark.parametrize("patterns", [("1hop",), ("2hop",), ("2path",),
                                      ("1hop", "2hop", "2path")],
                         ids=["1hop", "2hop", "2path", "all"])
@settings(**dict(SETTINGS, max_examples=5))
@given(edges=st.lists(
           st.tuples(st.integers(0, 7), st.integers(0, 7),
                     st.sampled_from(["A", "B"])),
           min_size=1, max_size=14),
       loop=st.integers(0, 7),
       anchors=st.lists(
           st.lists(st.sampled_from(["n0", "n1", "n2"]), min_size=1,
                    max_size=2, unique=True),
           min_size=1, max_size=2),
       gold=st.sets(st.integers(0, 7), max_size=4),
       limit=st.integers(1, 4))
# the 2hop signature from node 1 reaches 5 and, over the parallel
# edges, 1 itself: a target of the query that the count skips
@example(edges=[(1, 3, "A"), (5, 3, "A")], loop=0, anchors=[["n1"]],
         gold={5}, limit=3)
def test_enumeration_matches_bruteforce(spark, patterns, edges, loop,
                                        anchors, gold, limit):
    """enumerate_paths_batch with gold and targets == the Python
    enumerator, for every template alone and all three together, on
    random multigraphs: a parallel edge and a self-loop in every
    example, names shared across nodes, two labels, two questions
    whose 2path pairs must not cross."""
    from pyspark.sql.types import StructType

    from graphraft_spark.patterns.enumerate import (
        Targets,
        enumerate_paths_batch,
    )
    from graphraft_spark.session import local_frame

    spark_sim, py_sim = _SIMILARITY["mod3"]
    edges = edges + edges[:1] + [(loop, loop, "A")]
    _, g = _graph_from(spark, edges, labels="LM")
    by_q = dict(enumerate(anchors, 1))
    gold_q = {qid: {n for n in gold if n % len(by_q) == qid - 1}
              for qid in by_q}
    got = enumerate_paths_batch(
        g,
        local_frame(spark, [{"qid": q, "name": n}
                            for q, names in by_q.items() for n in names],
                    StructType.fromDDL("qid bigint, name string")),
        patterns=patterns,
        gold=local_frame(spark, [{"qid": q, "nodeId": n}
                                 for q, ns in gold_q.items() for n in ns],
                         StructType.fromDDL("qid bigint, nodeId bigint")),
        targets=Targets(limit, spark_sim)).collect()
    keys = ("qid", "pattern", "label1", "name1", "type1", "label2",
            "type2", "label3", "name3")
    assert {tuple(r[c] for c in keys): (
                r["totalCnt"], r["correctCnt"],
                sorted(((t["nodeId"], t["similarity"], t["name"])
                        for t in r["targets"]),
                       key=lambda t: (-t[1], t[0])))
            for r in got} == _enumerate_brute(
        edges, "LM", {q: set(ns) for q, ns in by_q.items()}, gold_q,
        patterns, limit, py_sim)
    assert len(got) == len({tuple(r[c] for c in keys) for r in got})


@settings(**SETTINGS)
@given(rows=st.lists(
    st.tuples(st.integers(0, 1),      # queryIdx
              st.integers(0, 9),      # nodeId
              st.integers(0, 99)),    # similarity basis
    min_size=1, max_size=20),
    budget_small=st.integers(2, 4))
def test_budget_monotonicity_and_dedup(spark, rows, budget_small):
    """Budgeted accumulation: kept(m) ⊆ kept(m+2); no duplicate nodes;
    never ≥ budget nodes (drop-the-crosser)."""
    from graphraft_spark.retrieve.budget import budgeted_accumulate

    df = spark.createDataFrame(
        [(0, q, n, float(s), f"p{q}") for q, n, s in rows],
        "qid bigint, queryIdx int, nodeId bigint, similarity double, "
        "pattern string")
    small = budgeted_accumulate(df, budget_small).collect()
    large = budgeted_accumulate(df, budget_small + 2).collect()
    small_nodes = [r["nodeId"] for r in small]
    assert len(small_nodes) == len(set(small_nodes))  # dedup
    assert len(small_nodes) < budget_small            # strict cap
    assert set(small_nodes) <= {r["nodeId"] for r in large}


def _sequential_budget(rows, max_nodes, pattern_rate):
    """retriever.py:71-90 as a loop: per qid, consume rows in (queryIdx,
    similarity DESC, nodeId) order, first-seen wins, re-encounters
    append their pattern flat, and the row that brings the distinct
    count to B = ceil(pattern_rate * max_nodes) stops consumption and
    its node is dropped."""
    import math

    budget = math.ceil(pattern_rate * max_nodes)
    out = set()
    for qid in sorted({r[0] for r in rows}):
        stream = sorted((r for r in rows if r[0] == qid),
                        key=lambda r: (r[1], -r[3], r[2]))
        rank, data = {}, {}
        for _, q, node, sim, pat in stream:
            rank[q] = rank.get(q, 0) + 1
            if node in data:
                data[node][3].append(pat)
                continue
            data[node] = [q, rank[q], sim, [pat]]
            if len(data) >= budget:
                del data[node]
                break
        out |= {(qid, node, q, rk, sim, tuple(pats))
                for node, (q, rk, sim, pats) in data.items()}
    return out


@pytest.mark.parametrize("pattern_rate", [0.5, 1.0])
@settings(**SETTINGS)
@given(rows=st.lists(
    st.tuples(st.integers(1, 3),      # qid
              st.integers(0, 2),      # queryIdx
              st.integers(0, 7),      # nodeId
              st.integers(0, 9)),     # similarity basis (ties happen)
    min_size=1, max_size=30, unique_by=lambda r: r[:3]),
    max_nodes=st.integers(1, 7))
def test_budget_matches_sequential_consumption(spark, rows, max_nodes,
                                               pattern_rate):
    """budgeted_accumulate == the reference's consumption loop, row for
    row: kept nodes, their first-seen (queryIdx, rank, similarity) and
    their patterns in consumption order, across several questions."""
    from graphraft_spark.retrieve.budget import budgeted_accumulate

    rows = [(qid, q, n, s / 10.0, f"p{qid}.{q}.{n}")
            for qid, q, n, s in rows]
    df = spark.createDataFrame(
        rows, "qid bigint, queryIdx int, nodeId bigint, similarity double, "
              "pattern string")
    got = {(r["qid"], r["nodeId"], r["queryIdx"], r["rank"],
            r["similarity"], tuple(r["patterns"]))
           for r in budgeted_accumulate(
               df, budget=pattern_rate * max_nodes).collect()}
    assert got == _sequential_budget(rows, max_nodes, pattern_rate)


_SIMILARITY = {
    # (Spark column of nodeId, Python twin); ties are resolved by nodeId
    "mod3": (lambda c: (c % 3) / 3.0, lambda n: (n % 3) / 3.0),
    "const": (lambda c: F.lit(0.5), lambda n: 0.5),
}


@pytest.mark.parametrize("sim", sorted(_SIMILARITY))
@settings(**dict(SETTINGS, max_examples=6))
@given(edges=st.lists(
           st.tuples(st.integers(0, 7), st.integers(0, 7),
                     st.sampled_from(["A", "B"])),
           min_size=1, max_size=14),
       loop=st.integers(0, 7),
       anchors=st.lists(
           st.lists(st.sampled_from(["n0", "n1", "n2"]), min_size=1,
                    max_size=2, unique=True),
           min_size=1, max_size=2),
       max_nodes=st.integers(1, 4), k=st.integers(1, 3))
# a query with more targets than the budget, all tied under "const":
# (M n1)-[A]-(M) reaches 1, 3, 5 and 7, and B = 2 keeps only the
# lowest nodeIds' rows
@example(edges=[(1, 3, "A"), (1, 5, "A"), (1, 7, "A")], loop=0,
         anchors=[["n1"]], max_nodes=2, k=1)
# the 2hop query from node 1 returns 1 itself over the parallel edges:
# the enumeration's count skips it (x1 <> x3), the query does not
@example(edges=[(1, 3, "A"), (5, 3, "A")], loop=0, anchors=[["n1"]],
         max_nodes=3, k=2)
def test_pipeline_matches_per_query_replay(spark, sim, edges, loop, anchors,
                                           max_nodes, k):
    """run_pipeline == retriever.py:71-90 replayed over each ranked
    query's own rows (run_pattern_nodes, one query at a time), on random
    multigraphs: a parallel edge and a self-loop in every example, names
    shared across nodes and labels.  The enumeration's truncated
    targets must consume exactly what the executed queries would."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from graphraft_spark.llm import LexicographicRanker
    from graphraft_spark.patterns.compiler import run_pattern_nodes
    from graphraft_spark.patterns.cypher_parse import parse_cypher_query
    from graphraft_spark.pipeline import run_pipeline

    _, g = _graph_from(spark, edges + edges[:1] + [(loop, loop, "A")],
                       labels="LM", detail=True)
    questions = [(qid, f"q{qid}", names)
                 for qid, names in enumerate(anchors, 1)]
    ranked: dict[str, list[str]] = {}

    class Recording(LexicographicRanker):
        def rank(self, question, candidates, k=5):
            ranked[question] = super().rank(question, candidates, k)
            return ranked[question]

    spark_sim, py_sim = _SIMILARITY[sim]
    got = run_pipeline(spark, g, questions, Recording(), max_nodes=max_nodes,
                       k=k, similarity=spark_sim,
                       prop_cols=("detail",)).collect()
    assert all(r["detail"] == f"d{r['nodeId']}" for r in got)

    # each ranked query executes on its own; one collect for all of them
    specs = {(qid, idx): parse_cypher_query(query, escaped=True)
             for qid, text, _ in questions
             for idx, query in enumerate(ranked.get(text, []))}
    rows = []
    if specs:
        per_query = [run_pattern_nodes(g, spec).select(
                         F.lit(qid).alias("qid"), F.lit(idx).alias("idx"),
                         "nodeId")
                     for (qid, idx), spec in specs.items()]
        rows = [(r["qid"], r["idx"], r["nodeId"], py_sim(r["nodeId"]),
                 specs[r["qid"], r["idx"]].text_pattern(""))
                for r in reduce(DataFrame.unionByName, per_query).collect()]
    assert ({(r["qid"], r["nodeId"], r["queryIdx"], r["rank"],
              r["similarity"], tuple(r["patterns"])) for r in got}
            == _sequential_budget(rows, max_nodes, 1.0))


@settings(**SETTINGS)
@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=30), min_size=1,
    max_size=8))
def test_exact_dedup_partitions_by_normalized_text(spark, texts):
    """exact_dedup: exactly one canonical row per distinct normalized
    text; canonical = smallest id in its group."""
    from graphraft_spark.ops.dedup import exact_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string")
    out = exact_dedup(df).collect()
    norm = lambda t: " ".join(t.lower().split())
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(norm(t), []).append(i)
    canon = {r["doc_id"] for r in out if r["is_canonical"]}
    assert canon == {min(v) for v in groups.values()}


sizes_lists = st.lists(st.integers(1, 15), min_size=1, max_size=25)


@settings(**SETTINGS)
@given(sizes=sizes_lists, cap=st.integers(1, 5))
def test_source_quota_keeps_first_cap_per_source(spark, sizes, cap):
    from graphraft_spark.ops.text_analysis import source_quota

    rows = [(i, f"s{v % 3}") for i, v in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = sorted(r["doc_id"] for r in source_quota(df, cap).collect())

    per: dict[str, list[int]] = {}
    for i, src in rows:
        per.setdefault(src, []).append(i)
    want = sorted(i for ids in per.values() for i in sorted(ids)[:cap])
    assert got == want


@settings(**SETTINGS)
@given(corpus=st.lists(st.text(alphabet="abcd ", min_size=1, max_size=40),
                       min_size=1, max_size=8),
       bench_idx=st.data())
def test_decontamination_matches_python_oracle(spark, corpus, bench_idx):
    """contamination_flags == brute-force n-gram intersection in Python
    (same normalization, same whole-text-gram rule for short docs)."""
    from graphraft_spark.ops.decontaminate import contamination_flags

    n = 3

    def grams(text):
        ws = text.lower().split()
        if not ws:
            return set()
        if len(ws) < n:
            return {" ".join(ws)}
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    docs = [(i, t) for i, t in enumerate(corpus) if t.split()]
    if not docs:
        return
    k = bench_idx.draw(st.integers(0, len(docs) - 1))
    bench_text = docs[k][1]
    bench_grams = grams(bench_text)
    want = {i: len(grams(t) & bench_grams) for i, t in docs}

    ddf = spark.createDataFrame(docs, "doc_id bigint, text string")
    bdf = spark.createDataFrame([(0, bench_text)], "qid bigint, text string")
    got = {r.doc_id: r.n_hits
           for r in contamination_flags(ddf, bdf, n=n).collect()}
    assert got == want


@settings(**SETTINGS)
@given(sizes=st.lists(st.integers(1, 40), min_size=1, max_size=30),
       budget=st.integers(5, 60), parts=st.integers(1, 5))
def test_pack_bins_scalable_property(spark, sizes, budget, parts):
    from graphraft_spark.ops.text_analysis import pack_bins, pack_bins_scalable

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "doc_id bigint, sz bigint")
    want = {(r.doc_id, r.bin_id) for r in
            pack_bins(df, budget, "sz").collect()}
    got = {(r.doc_id, r.bin_id) for r in pack_bins_scalable(
        df, budget, "sz", partitions=parts).collect()}
    assert got == want
