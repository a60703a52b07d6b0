"""END-TO-END replay of the reference's retrieval-dataset build on its
own real data (VERDICT r4 item 4).

The reference produced mag-data/qa_with_cypher_queries by running
``PathRetriever.retrieve_paths(src_names=predicted_entities,
tgt_ids=answer_ids)`` per question against the STaRK-MAG graph in Neo4j
(prepare_for_text2cypher_ablation.ipynb cell "qa_with_cypher_queries =
qa_with_ner.map(...)", path_retriever.py:49-64).  The MAG graph itself
is not in-tree, so we reconstruct, from the stored signatures, a
synthetic graph slice that provably realizes every stored signature and
every stored ``hits`` count exactly (``num_results`` is capped — the
real counts sum to 804M nodes, infeasible to materialize; the slice's
expected counts are computed independently during construction and
asserted exactly).  Then ONE Spark job replays the whole pipeline:

    real NER entities (qa_with_ner)  ->  exact-name anchor match
      ->  enumerate_paths_batch(1hop, 2hop, target label Paper)
      ->  supervised distinct-target counts vs designated answers
      ->  IR render to Cypher text
      ->  E5 sort + E6 training gate (with the stored real-scale
          num_results joined back by signature)

and asserts, against the 2,665 real valid-split rows:

  * the enumerated signature SET per question == the stored set,
  * every ``correctCnt`` == the stored ``hits``,
  * every ``totalCnt`` == the independently-computed realized count,
  * our rendered Cypher text == the stored query strings,
  * the E5/E6 aggregate stats: mean candidates/question == 4.14
    (11,046 / 2,665) and the llm1 training gate keeps 1,525 / 2,665
    (the reference's ablation-gate analog, llm1.py:61-66).

Why the slice is *provably* faithful (no extra / missing signatures):

  * Per question, every node name is prefixed with ``{qid}|`` so
    questions can share one graph without cross-talk, and every
    non-source node is fresh per signature — signatures never share
    targets, so per-signature DISTINCT counts are exact by construction.
  * 1hop/2hop target nodes are leaves; Cypher relationship-uniqueness
    (enforced by our compiler) bars re-traversing the single edge into a
    leaf, so leaves generate no unintended paths.
  * The only node sharing is (a) the source node within a question and
    (b) ONE intermediate node per (label1,name1,type1,label2) group of
    2hop signatures.  An intermediate with a non-Paper label is
    invisible to enumeration (target-label pruning).  An intermediate
    with label Paper adds exactly one extra target to the 1hop signature
    (label1,name1,type1,Paper) — which the stored data ALWAYS contains
    (verified: 4,040/4,040 Paper-mid 2hop signatures have their matching
    stored 1hop signature; it must, because in the real graph the
    src-[type1]-PaperMid edge itself produces that 1hop row).  That +1
    is folded into the expected count.
"""

import collections
import os

import pyarrow as pa
import pytest

QA = ("/root/reference/mag-data/qa_with_cypher_queries/{split}/"
      "data-00000-of-00001.arrow")
NER = ("/root/reference/mag-data/qa_with_ner/{split}/"
       "data-00000-of-00001.arrow")

# per-split reference aggregates: total signatures, gate-kept questions,
# total questions (both splits happen to hold 2,665)
EXPECT = {"valid": (11046, 1525, 2665), "test": (10957, 1514, 2665)}

# cap on realized per-signature target counts: hits + slack
SLACK = 2


def _load(path):
    with pa.memory_map(path) as src:
        return pa.ipc.open_stream(src).read_all().to_pylist()


def _parse_sigs(row):
    """Stored Cypher strings -> structural signature dicts."""
    from graphraft_spark.patterns.cypher_parse import parse_cypher_query

    sigs = []
    for q, h, nr in zip(row["cypher_queries"], row["hits"],
                        row["num_results"]):
        spec = parse_cypher_query(q)
        nd = spec.nodes
        sig = {"query": q, "h": h, "nr": nr,
               "l1": nd[0].label, "n1": nd[0].name, "t1": spec.rels[0]}
        if len(nd) == 2:
            sig.update(pattern="1hop", l2=nd[1].label, t2=None, l3=None)
        else:
            sig.update(pattern="2hop", l2=nd[1].label, t2=spec.rels[1],
                       l3=nd[2].label)
        sigs.append(sig)
    return sigs


def _build_slice(qa_rows, ner_by_id):
    """Construct the synthetic slice + per-signature expectations."""
    nodes, edges, gold, anchors = [], [], [], []
    expected = []  # (qid, key-tuple) -> expect_total / expect_correct
    nid, eid = 0, 0

    def new_node(label, name):
        nonlocal nid
        nid += 1
        nodes.append((nid, label, name))
        return nid

    def new_edge(src, dst, rel):
        nonlocal eid
        eid += 1
        edges.append((eid, src, dst, rel))

    for row in qa_rows:
        qid = row["id"]
        pfx = f"{qid}|"
        sigs = _parse_sigs(row)
        for ent in dict.fromkeys(ner_by_id[qid]["predicted_entities"]):
            anchors.append((qid, pfx + ent))

        src_ids = {}  # (l1, n1) -> nodeId
        for s in sigs:
            k = (s["l1"], s["n1"])
            if k not in src_ids:
                src_ids[k] = new_node(s["l1"], pfx + s["n1"])

        # one shared intermediate per (l1, n1, t1, l2) group of 2hop sigs
        mid_ids = {}
        for s in sigs:
            if s["pattern"] != "2hop":
                continue
            g = (s["l1"], s["n1"], s["t1"], s["l2"])
            if g not in mid_ids:
                m = new_node(s["l2"], pfx + f"#mid{len(mid_ids)}")
                mid_ids[g] = m
                new_edge(src_ids[(s["l1"], s["n1"])], m, s["t1"])

        for j, s in enumerate(sigs):
            cap = min(s["nr"], s["h"] + SLACK)
            tgt_label = s["l2"] if s["pattern"] == "1hop" else s["l3"]
            attach = (src_ids[(s["l1"], s["n1"])] if s["pattern"] == "1hop"
                      else mid_ids[(s["l1"], s["n1"], s["t1"], s["l2"])])
            rel = s["t1"] if s["pattern"] == "1hop" else s["t2"]
            for k in range(cap):
                t = new_node(tgt_label, pfx + f"#s{j}t{k}")
                new_edge(attach, t, rel)
                if k < s["h"]:
                    gold.append((qid, t))
            if s["pattern"] == "1hop":
                # the shared Paper intermediate (if any) via t1 counts
                # toward this 1hop signature's distinct targets
                inflate = int((s["l1"], s["n1"], s["t1"], s["l2"])
                              in mid_ids)
            else:
                inflate = 0
            expected.append({
                "qid": qid, "pattern": s["pattern"], "l1": s["l1"],
                "n1": s["n1"], "t1": s["t1"], "l2": s["l2"],
                "t2": s["t2"], "l3": s["l3"], "query": s["query"],
                "stored_h": s["h"], "stored_nr": s["nr"],
                "expect_total": cap + inflate, "expect_correct": s["h"],
            })
    return nodes, edges, gold, anchors, expected


def _split(split):
    paths = (QA.format(split=split), NER.format(split=split))
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.param(split, marks=pytest.mark.skipif(
        bool(missing), reason=f"{', '.join(missing)} absent"))


@pytest.fixture(scope="module", params=[_split("valid"), _split("test")])
def replay(spark, request):
    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.patterns.enumerate import enumerate_paths_batch

    split = request.param
    qa_rows = _load(QA.format(split=split))
    ner_by_id = {r["id"]: r
                 for r in _load(NER.format(split=split))}
    nodes, edges, gold, anchors, expected = _build_slice(qa_rows, ner_by_id)

    graph = PropertyGraph(
        nodes=spark.createDataFrame(nodes,
                                    "nodeId bigint, label string, name string"),
        edges=spark.createDataFrame(
            edges, "edgeId bigint, src bigint, dst bigint, relType string"),
    ).materialize_undirected()
    anchors_df = spark.createDataFrame(anchors, "qid bigint, name string")
    gold_df = spark.createDataFrame(gold, "qid bigint, nodeId bigint")

    out = enumerate_paths_batch(
        graph, anchors_df, patterns=("1hop", "2hop"), gold=gold_df,
        specific_target_label="Paper",
    ).collect()
    graph.undirected.unpersist()
    return split, qa_rows, expected, out


def _key(qid, pattern, l1, n1, t1, l2, t2, l3):
    return (qid, pattern, l1, n1, t1, l2, t2, l3)


def test_signature_sets_and_counts_match(replay):
    """Enumeration over the slice reproduces the stored signature set,
    every stored hits count, and the independently-computed totals."""
    split, qa_rows, expected, out = replay
    n_sigs = EXPECT[split][0]
    got = {}
    for r in out:
        n1 = r["name1"].split("|", 1)[1]
        got[_key(r["qid"], r["pattern"], r["label1"], n1, r["type1"],
                 r["label2"], r["type2"], r["label3"])] = (
            r["totalCnt"], r["correctCnt"])
    exp = {_key(e["qid"], e["pattern"], e["l1"], e["n1"], e["t1"],
                e["l2"], e["t2"], e["l3"]):
           (e["expect_total"], e["expect_correct"]) for e in expected}
    assert len(got) == len(exp) == n_sigs
    missing = exp.keys() - got.keys()
    extra = got.keys() - exp.keys()
    assert not missing, sorted(missing)[:3]
    assert not extra, sorted(extra)[:3]
    bad = [(k, got[k], exp[k]) for k in exp if got[k] != exp[k]]
    assert not bad, bad[:5]


def test_rendered_cypher_matches_stored_strings(replay):
    """Our IR renderer reproduces the reference's stored query text from
    the enumerated records (B11 on real data; create_query parity,
    path_retriever.py:29-40).  Names the reference inlined raw
    (quotes/backslashes — its hygiene bug, SURVEY §7.4) are skipped;
    their structural identity is covered by the signature-set test."""
    from graphraft_spark.patterns.enumerate import instantiate_queries

    split, qa_rows, expected, out = replay
    stored = {_key(e["qid"], e["pattern"], e["l1"], e["n1"], e["t1"],
                   e["l2"], e["t2"], e["l3"]): e["query"]
              for e in expected}
    n_checked = 0
    for r in out:
        n1 = r["name1"].split("|", 1)[1]
        if '"' in n1 or "\\" in n1:
            continue
        rec = dict(pattern=r["pattern"], label1=r["label1"], name1=n1,
                   type1=r["type1"], label2=r["label2"], type2=r["type2"],
                   label3=r["label3"])
        (_, text), = instantiate_queries([rec])
        want = stored[_key(r["qid"], r["pattern"], r["label1"], n1,
                           r["type1"], r["label2"], r["type2"],
                           r["label3"])]
        norm = lambda s: s.replace("RETURN DISTINCT ", "RETURN ")
        assert norm(text) == norm(want), (text, want)
        n_checked += 1
    assert n_checked > EXPECT[split][0] - 100  # raw-inlined names are rare


def test_e5_e6_stage_reproduces_reference_aggregates(replay, spark):
    """Feed the pipeline's E5 sort + E6 gate from the ENUMERATED output
    (correctCnt straight from the replay; num_results joined back from
    the stored data, since the real-graph counts — 804M target rows —
    cannot be materialized) and reproduce the reference aggregates:
    mean candidates/question 11,046/2,665 = 4.1448 and the llm1
    training gate (recall==1, precision>=0.1) keeping 1,525/2,665."""
    from pyspark.sql import functions as F

    from graphraft_spark.data import best_label_is_good, sort_parallel_arrays

    split, qa_rows, expected, out = replay
    n_sigs, gate_expected, _ = EXPECT[split]
    enum_df = spark.createDataFrame(
        [(r["qid"], r["pattern"], r["label1"],
          r["name1"].split("|", 1)[1], r["type1"], r["label2"],
          r["type2"], r["label3"], r["correctCnt"]) for r in out],
        "qid bigint, pattern string, l1 string, n1 string, t1 string, "
        "l2 string, t2 string, l3 string, correct bigint")
    stored_df = spark.createDataFrame(
        [(e["qid"], e["pattern"], e["l1"], e["n1"], e["t1"], e["l2"],
          e["t2"], e["l3"], e["query"], e["stored_nr"])
         for e in expected],
        "qid bigint, pattern string, l1 string, n1 string, t1 string, "
        "l2 string, t2 string, l3 string, query string, nr bigint")
    keys = ["qid", "pattern", "l1", "n1", "t1", "l2", "t2", "l3"]
    # t2/l3 are NULL on 1hop rows: join must be null-safe
    cond = None
    for k in keys:
        c = enum_df[k].eqNullSafe(stored_df[k])
        cond = c if cond is None else cond & c
    joined = (enum_df.join(stored_df, on=cond, how="inner")
              .select(enum_df["qid"], "query", "correct", "nr"))
    assert joined.count() == n_sigs  # join keys line up 1:1

    answers_df = spark.createDataFrame(
        [(r["id"], len(r["answer_ids"])) for r in qa_rows],
        "qid bigint, n_answers bigint")
    per_q = (joined.groupBy("qid")
             .agg(F.collect_list(F.struct("query", "correct", "nr"))
                  .alias("triples"))
             .join(answers_df, "qid"))
    s = sort_parallel_arrays(
        F.transform("triples", lambda x: x["query"]),
        F.transform("triples", lambda x: x["correct"]),
        F.transform("triples", lambda x: x["nr"]))
    res = per_q.select(
        "qid", F.size("triples").alias("n_cand"),
        best_label_is_good(s, F.col("n_answers")).alias("good")).collect()

    n_questions = len(qa_rows)  # questions with zero candidates count too
    total_cand = sum(r["n_cand"] for r in res)
    assert total_cand == n_sigs
    if split == "valid":  # the SURVEY/BASELINE published stat
        assert abs(total_cand / n_questions - 4.14) < 0.01
    gate_kept = sum(r["good"] for r in res)
    assert gate_kept == gate_expected
