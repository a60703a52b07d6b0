"""Property-based tests (SURVEY §5): random-instance invariants for the
core operators, checked against brute-force Python oracles.

Hypothesis generates small random graphs / result streams; each example
round-trips through Spark, so example counts are kept low — the value
is in the randomized structure (self-loops, multi-edges, shared names,
disconnected nodes), not in volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(max_examples=8, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


edge_lists = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7),
              st.sampled_from(["A", "B"])),
    min_size=1, max_size=14, unique=True)


def _graph_from(spark, edges):
    from graphraft_spark.graph.model import PropertyGraph

    node_ids = sorted({n for s, d, _ in edges for n in (s, d)})
    nodes = spark.createDataFrame(
        [(n, "N", f"n{n % 3}") for n in node_ids],  # shared names: n0/n1/n2
        "nodeId bigint, label string, name string")
    edf = spark.createDataFrame(
        [(i, s, d, t) for i, (s, d, t) in enumerate(edges)],
        "edgeId bigint, src bigint, dst bigint, relType string")
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
               df, max_nodes, pattern_rate=pattern_rate).collect()}
    assert got == _sequential_budget(rows, max_nodes, pattern_rate)


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
@given(sizes=sizes_lists)
def test_greedy_packing_matches_python_oracle(spark, sizes):
    """pack_bins_greedy == the sequential greedy algorithm, and no bin
    exceeds the budget unless it holds a single oversized document."""
    from graphraft_spark.ops.text_analysis import pack_bins_greedy

    budget = 10
    df = spark.createDataFrame(list(enumerate(sizes)),
                               "doc_id bigint, n bigint")
    got = {r["doc_id"]: r["bin_id"]
           for r in pack_bins_greedy(df, budget, size_col="n").collect()}

    want, cur, used = {}, 0, 0
    for i, s in enumerate(sizes):
        if used > 0 and used + s > budget:
            cur, used = cur + 1, 0
        want[i] = cur
        used += s
    assert got == want


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
@given(blobs=st.lists(st.binary(min_size=0, max_size=5000),
                      min_size=1, max_size=6),
       chunk=st.integers(1, 1500))
def test_chunk_reassemble_roundtrip_any_bytes(spark, blobs, chunk):
    """chunk_payload/reassemble_payload round-trip arbitrary payloads
    at arbitrary chunk sizes, byte-for-byte."""
    from graphraft_spark.ops.multimodal import chunk_payload, reassemble_payload

    media = spark.createDataFrame(
        list(enumerate(blobs)), "media_id bigint, payload binary")
    back = {r.media_id: bytes(r.payload) for r in reassemble_payload(
        chunk_payload(media, chunk_bytes=chunk)).collect()}
    assert back == {i: b for i, b in enumerate(blobs)}


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


@settings(**SETTINGS)
@given(edges=edge_lists, data=st.data())
def test_bulk_execution_matches_per_spec_on_random_graphs(spark, edges, data):
    """run_patterns_bulk == run_pattern_nodes looped, on random multi-
    edge graphs (self-loops, shared names, both labels ambiguous) and
    random instantiated specs of every template."""
    from graphraft_spark.patterns.compiler import (
        SPEC_COLS,
        run_pattern_nodes,
        run_patterns_bulk,
    )
    from graphraft_spark.patterns.ir import onehop, twohop, twopath

    _, g = _graph_from(spark, edges)
    names = st.sampled_from(["n0", "n1", "n2"])
    rels = st.sampled_from(["A", "B"])
    cases = []
    for _ in range(data.draw(st.integers(2, 4))):
        kind = data.draw(st.sampled_from(["1hop", "2hop", "2path"]))
        n1, t1 = data.draw(names), data.draw(rels)
        if kind == "1hop":
            spec = onehop("N", n1, t1, "N")
            row = ("1hop", "N", n1, t1, "N", None, None, None)
        elif kind == "2hop":
            t2 = data.draw(rels)
            spec = twohop("N", n1, t1, "N", t2, "N")
            row = ("2hop", "N", n1, t1, "N", t2, "N", None)
        else:
            t2, n3 = data.draw(rels), data.draw(names)
            spec = twopath("N", n1, t1, "N", t2, "N", n3)
            row = ("2path", "N", n1, t1, "N", t2, "N", n3)
        cases.append((spec, row))

    specs_df = spark.createDataFrame(
        [row for _, row in cases],
        ", ".join(f"{c} string" for c in SPEC_COLS))
    got = {}
    for r in run_patterns_bulk(g, specs_df).collect():
        key = tuple(r[c] for c in SPEC_COLS)
        got.setdefault(key, set()).add(r["nodeId"])
    for spec, row in cases:
        want = {r["nodeId"]
                for r in run_pattern_nodes(g, spec).collect()}
        assert got.get(row, set()) == want, row
