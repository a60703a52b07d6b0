"""Golden tests for the budgeted-retrieval dataflow (FIXTURES.md §4.6-7):
exact node set, first-seen dedup order, drop-the-crosser, provenance
accumulation, vector top-up with exclusion — mirroring the sequential
consumption loop of retriever.py:71-109."""

from pyspark.sql import functions as F

from graphraft_spark.retrieve import (
    budgeted_accumulate,
    retrieve_data,
    vector_topup,
)


def _results(spark):
    # qid 1: two queries with overlap.  Within a query, consumption is
    # similarity DESC.  q0: n1(.9) n2(.8) n3(.7); q1: n2(.8) n4(.6) n5(.5)
    rows = [
        (1, 0, 1, 0.9, "p0"),
        (1, 0, 2, 0.8, "p0"),
        (1, 0, 3, 0.7, "p0"),
        (1, 1, 2, 0.8, "p1"),
        (1, 1, 4, 0.6, "p1"),
        (1, 1, 5, 0.5, "p1"),
    ]
    return spark.createDataFrame(
        rows, "qid bigint, queryIdx int, nodeId bigint, similarity double,"
              " pattern string")


def test_budget_never_fires(spark):
    out = budgeted_accumulate(_results(spark), budget=10).collect()
    assert {r["nodeId"] for r in out} == {1, 2, 3, 4, 5}
    pat = {r["nodeId"]: r["patterns"] for r in out}
    assert pat[2] == ["p0", "p1"]  # re-encounter appends FLAT (SURVEY §7.6)
    assert pat[1] == ["p0"]


def test_budget_drop_the_crosser(spark):
    # consumption order: n1 n2 n3 (q0), then q1: n2(re-enc) n4 n5.
    # max_nodes=4 → n4 is the 4th distinct node → stop fires when n4 is
    # added, n4 deleted (retriever.py:87-90) → kept {1,2,3}.
    out = budgeted_accumulate(_results(spark), budget=4).collect()
    assert {r["nodeId"] for r in out} == {1, 2, 3}
    pat = {r["nodeId"]: r["patterns"] for r in out}
    # n2's re-encounter row (q1 rank1) is consumed BEFORE the crossing
    # row (q1 rank2) → pattern appended
    assert pat[2] == ["p0", "p1"]


def test_budget_crosser_mid_query_cuts_provenance(spark):
    # max_nodes=2 → crossing row is n2 in q0 (2nd distinct) → only rows
    # strictly before it are consumed → n2's q1 re-encounter NOT seen.
    out = budgeted_accumulate(_results(spark), budget=2).collect()
    assert {r["nodeId"] for r in out} == {1}
    assert out[0]["patterns"] == ["p0"]


def test_budget_reads_its_input_once(spark):
    """First-seen rows and provenance come from one aggregate, so the
    optimized plan references the input once: whatever computes the
    results (the pipeline's pattern joins) runs once."""
    out = budgeted_accumulate(_results(spark), budget=0.5 * 4)
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1, leaves.toString()


def test_vector_topup_exclusion_and_cap(spark):
    kept = budgeted_accumulate(_results(spark), budget=4)
    cands = spark.createDataFrame(
        [(1, 2, 0.99), (1, 7, 0.95), (1, 8, 0.90), (1, 9, 0.85)],
        "qid bigint, nodeId bigint, similarity double")
    up = vector_topup(cands, kept, max_nodes=6).collect()
    # kept k=3; take = min(3 avail after excluding node2, 6-1-3=2)
    assert [r["nodeId"] for r in sorted(up, key=lambda r: -r["similarity"])] \
        == [7, 8]
    assert all(r["patterns"] == ["No pattern"] for r in up)


def test_retrieve_data_end_to_end(spark):
    cands = spark.createDataFrame(
        [(1, 7, 0.95), (1, 8, 0.90)],
        "qid bigint, nodeId bigint, similarity double")
    out = retrieve_data(_results(spark), cands, max_nodes=10).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["nodeId"])
    assert by_src["pattern"] == {1, 2, 3, 4, 5}
    assert by_src["vector"] == {7, 8}


def test_multi_question_isolation(spark):
    base = _results(spark)
    shifted = base.withColumn("qid", F.lit(2)).withColumn(
        "nodeId", F.col("nodeId") + 100)
    out = budgeted_accumulate(base.unionByName(shifted), budget=4)
    got = {(r["qid"], r["nodeId"]) for r in out.collect()}
    assert got == {(1, 1), (1, 2), (1, 3), (2, 101), (2, 102), (2, 103)}


def test_token_budget_exact_matches_reference_loop(spark):
    """budgeted_accumulate with token costs vs a verbatim port of the
    reference's consumption loop (retriever.py:78-90 + stop check
    :63-69): appends count toward the budget, the stop deletes the LAST
    NEWLY ADDED node (which may differ from the crossing row's node),
    and patterns accumulate only from occurrences before the crossing.
    Fuzzed over seeded random streams including multi-question frames.
    """
    import random

    def ref_loop(occs, budget):
        data, total, last_new = {}, 0, None
        for node, pat, fl, al in occs:
            if node in data:
                data[node].append(pat)
                total += al
            else:
                data[node] = [pat]
                total += fl
                last_new = node
            if total >= budget:
                if last_new is not None:
                    del data[last_new]
                break
        return data

    rng = random.Random(7)
    for trial in range(12):
        budget = rng.choice([5, 12, 25, 10**6])
        rows, expect = [], {}
        for qid in (1, 2, 3):
            occs = []
            n_occ = rng.randint(1, 14)
            for i in range(n_occ):
                node = rng.randint(1, 6)
                occs.append((node, f"p{qid}-{i}", rng.randint(1, 6),
                             rng.randint(1, 3)))
            expect[qid] = ref_loop(occs, budget)
            for i, (node, pat, fl, al) in enumerate(occs):
                # similarity forces consumption order i inside queryIdx 0
                rows.append((qid, 0, node, float(-i), pat, fl, al))
        df = spark.createDataFrame(
            rows, "qid bigint, queryIdx int, nodeId bigint, "
                  "similarity double, pattern string, flen int, alen int")
        out = budgeted_accumulate(
            df, budget, first_cost=F.col("flen"), append_cost=F.col("alen"))
        got = {}
        for r in out.collect():
            got.setdefault(r["qid"], {})[r["nodeId"]] = list(r["patterns"])
        want = {q: {n: pats for n, pats in d.items()}
                for q, d in expect.items() if d}
        assert got == {q: d for q, d in want.items()}, f"trial {trial}"


def test_token_budget_exact_crossing_append_kept(spark):
    """Deterministic crossing-on-append case (retriever.py:82-89): the
    budget crosses on a pattern APPEND to an older node — the reference
    applies the append before the stop check, then deletes only
    last_new_node.  Stream: n1 new (3), n2 new (3), n1 append (2),
    budget 7 → cum 3,6,8; crossing row is n1's append → n1 keeps
    ['a','c'], n2 (last_new) is dropped."""
    rows = [
        (1, 0, 1, 0.9, "a", 3, 2),
        (1, 0, 2, 0.8, "b", 3, 2),
        (1, 0, 1, 0.7, "c", 3, 2),
    ]
    df = spark.createDataFrame(
        rows, "qid bigint, queryIdx int, nodeId bigint, "
              "similarity double, pattern string, flen int, alen int")
    out = budgeted_accumulate(
        df, 7, first_cost=F.col("flen"), append_cost=F.col("alen")).collect()
    assert {r["nodeId"]: list(r["patterns"]) for r in out} == {1: ["a", "c"]}
