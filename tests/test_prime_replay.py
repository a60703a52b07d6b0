"""PRIME valid-split replay (VERDICT r5 item 3): replay every stage the
in-tree PRIME data supports, on all 2,241 real valid-split rows.

The reference's reproducible PRIME ablation counts (2,123 / 3,072 /
3,817 gate-passing of 6,162 train rows,
prepare_for_text2cypher_ablation.ipynb cells 20-26) derive from
prime-data/qa_with_cypher_queries/train and the 2nn/5nn kNN-ablation
arrows plus query_emb_dict.pt — ALL listed in
/root/reference/.MISSING_LARGE_BLOBS, so the enumeration+gate half of
the replay is not reproducible from the in-tree data.  (The gate
operator itself, best_label_is_good, is parity-tested against a
verbatim port in test_reference_data.py and exercised on 2x2,665 real
stored hits/num_results rows in test_reference_replay.py.)

What IS in-tree for PRIME — qa/valid, qa_with_ner/valid (2,241 rows),
ner_instructions.json — covers exactly the reference behaviors MAG
never exercises:

  * labels=None NER (prime ner_instructions.json has ``labels: null``
    -> _identify_unlabeled_entities, ner.py:68-72), and
  * the label-null '_Entity_' matching mode (one global fulltext
    index over every node name, ner.py:6,95-114), replayed here as ONE
    Spark job over all 7,000+ real entity mentions with the expected
    match set computed by an independent driver-side oracle.
"""

import json
import os

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

PRIME = "/root/reference/prime-data"
QA = f"{PRIME}/qa/valid/data-00000-of-00001.arrow"
NER = f"{PRIME}/qa_with_ner/valid/data-00000-of-00001.arrow"
N_VALID = 2241
PRIME_NER_INS = f"{PRIME}/ner_instructions.json"
MAG_NER_INS = f"{os.path.dirname(PRIME)}/mag-data/ner_instructions.json"


def _needs(*paths):
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(bool(missing),
                              reason=f"{', '.join(missing)} absent")


def _load(path):
    with pa.memory_map(path) as src:
        return pa.ipc.open_stream(src).read_all().to_pylist()


@pytest.fixture(scope="module")
def qa_rows():
    return _load(QA)


@pytest.fixture(scope="module")
def ner_rows():
    return _load(NER)


@_needs(QA, NER)
def test_ner_split_extends_qa(qa_rows, ner_rows):
    """qa_with_ner = qa + predicted_entities and nothing else changed
    (the reference builds it with a pure ``.map`` append,
    generate_training_data notebooks / ablation cell 7)."""
    assert len(qa_rows) == len(ner_rows) == N_VALID
    for a, b in zip(qa_rows, ner_rows):
        assert a["id"] == b["id"]
        assert a["question"] == b["question"]
        assert a["answer_ids"] == b["answer_ids"]
        assert isinstance(b["predicted_entities"], list)
        assert b["predicted_entities"], f"row {a['id']}: empty entity list"


@_needs(NER)
def test_unlabeled_parse_roundtrip_all_rows(ner_rows):
    """F3 on real data: the reference produced predicted_entities by
    splitting the LLM response on '|' (ner.py:68-72).  For every stored
    entity list the minimal response realizing it is
    'A:' + '|'.join(entities); our parser must invert it exactly, row
    by row, for all 2,241 rows.  Precondition asserted: no stored
    entity contains '|' (the reference's format could never emit one).
    """
    from graphraft_spark.llm.ner_parse import parse_unlabeled_entities

    for r in ner_rows:
        ents = r["predicted_entities"]
        assert all("|" not in e for e in ents)
        response = "A:" + "|".join(ents)
        parsed = parse_unlabeled_entities(response)
        assert parsed == [("_Entity_", e) for e in ents]


@_needs(PRIME_NER_INS)
def test_prime_ner_prompt_build():
    """F1 on the real prime ner_instructions.json: labels is null
    (selecting the unlabeled path) and the built message list matches
    the reference's construction (ner.py:38-53: system + Q/A multishot
    pairs + final user turn with an UNTERMINATED quote — verbatim
    quirk)."""
    from graphraft_spark.llm.prompts import (build_ner_messages,
                                             load_ner_instructions)

    ins = load_ner_instructions(f"{PRIME}/ner_instructions.json")
    assert ins["labels"] is None
    shots = ins["multi_shot_examples"]
    assert len(shots) == 3

    question = ("What drugs target the CYP3A4 enzyme and are used to "
                "treat strongyloidiasis?")
    msgs = build_ner_messages(ins["system_instruction"], shots, question)

    expected = [{"role": "system", "content": ins["system_instruction"]}]
    for ex in shots:
        expected.append({"role": "user",
                         "content": 'Q:"%s"' % ex["question"]})
        expected.append({"role": "assistant",
                         "content": "A:%s" % ex["answer"]})
    expected.append({"role": "user", "content": 'Q:"%s' % question})
    assert msgs == expected


@_needs(MAG_NER_INS)
def test_mag_instructions_select_labeled_mode():
    """The twin file on the MAG side must carry a label vocabulary
    (labels non-null selects _identify_labeled_entities) — pins that
    the mode switch our loader exposes matches both real configs."""
    from graphraft_spark.llm.prompts import load_ner_instructions

    ins = load_ner_instructions(
        "/root/reference/mag-data/ner_instructions.json")
    assert ins["labels"], "MAG must use the labeled path"


@_needs(NER)
def test_entity_match_label_null_batch(spark, ner_rows):
    """C1 in the '_Entity_' (label-null) mode over the REAL mention
    stream: corpus = the 4,033 distinct real entity strings as node
    names, queries = every (question, entity) mention from all 2,241
    rows, executed as ONE batch_match_entities job.  Expected result
    computed independently driver-side: a mention matches every corpus
    name equal to it under the reference's normalization
    (lower+trim, ner.py's case-insensitive fulltext analyzer) — case
    variants like 'Hyperthyroidism'/'hyperthyroidism' both occur in the
    real data, so the oracle genuinely exercises multi-hit mentions.
    """
    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.search.text import batch_match_entities

    names = sorted({e for r in ner_rows for e in r["predicted_entities"]})
    mentions = [(int(r["id"]), e)
                for r in ner_rows for e in r["predicted_entities"]]

    # independent oracle: normalized name -> corpus names
    by_norm = {}
    for n in names:
        by_norm.setdefault(n.strip().lower(), set()).add(n)
    expected = {(qid, e, n)
                for qid, e in set(mentions)
                for n in by_norm[e.strip().lower()]}
    multi = sum(1 for _, e in set(mentions)
                if len(by_norm[e.strip().lower()]) > 1)
    assert multi > 0, "real data should contain case-variant collisions"

    nodes = spark.createDataFrame(
        [(i, "_Entity_", n) for i, n in enumerate(names)],
        "nodeId bigint, label string, name string")
    edges = spark.createDataFrame([(0, 1, "REL")],
                                  "src bigint, dst bigint, relType string")
    g = PropertyGraph(nodes=nodes, edges=edges)
    ents = spark.createDataFrame(mentions, "qid bigint, entity string")

    out = batch_match_entities(g, ents)
    got = {(r["qid"], r["entity"], r["name"]) for r in out.collect()}
    assert all(r["matched_by"] == "fulltext"
               for r in out.select("matched_by").distinct().collect())
    assert got == expected


@_needs(NER)
def test_entity_match_vector_fallback_real_strings(spark, ner_rows):
    """C2 on real mention strings: drop 25 real entities from the
    corpus so they zero-hit fulltext, give each a one-hot embedding
    pointing at a designated surviving node — the brute fallback must
    map each dropped mention to exactly its designated node."""
    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.search.text import batch_match_entities

    names = sorted({e for r in ner_rows for e in r["predicted_entities"]})
    dropped = names[100:125]
    kept = [n for n in names[:100] if n.strip().lower()
            not in {d.strip().lower() for d in dropped}]
    dim = len(dropped)

    def one_hot(i):
        v = [0.0] * dim
        v[i] = 1.0
        return v

    # node i's embedding is one-hot(i mod dim); dropped mention j's
    # query embedding is one-hot(j) -> unique argmax at node j.
    nodes = spark.createDataFrame(
        [(i, "_Entity_", n, one_hot(i % dim))
         for i, n in enumerate(kept[:dim])],
        "nodeId bigint, label string, name string, nemb array<double>")
    edges = spark.createDataFrame([(0, 1, "REL")],
                                  "src bigint, dst bigint, relType string")
    g = PropertyGraph(nodes=nodes, edges=edges)

    ents = spark.createDataFrame(
        [(j, d, one_hot(j)) for j, d in enumerate(dropped)],
        "qid bigint, entity string, qemb array<double>")
    out = batch_match_entities(g, ents, name_emb_col="nemb",
                               entity_emb_col="qemb").collect()
    got = {(r["qid"], r["entity"]): (r["name"], r["matched_by"])
           for r in out}
    assert got == {(j, d): (kept[:dim][j], "vector")
                   for j, d in enumerate(dropped)}


@_needs(NER)
def test_knn_ner_ablation_path_all_questions(spark, ner_rows):
    """C5 kNN-NER ablation replay shape (ablation notebook cells 6-7 /
    23-24): question embeddings -> k=2 nearest node names as
    pseudo-entities -> batch enumeration, over ALL 2,241 real valid
    questions in one plan.  The real query_emb_dict.pt is a
    .MISSING_LARGE_BLOBS entry, so embeddings are deterministic
    synthetics (hash-seeded); the anchor stage is asserted against an
    independent numpy oracle, and the anchors drive
    enumerate_paths_batch end-to-end on a graph over the real entity
    names."""
    import hashlib

    import numpy as np

    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.patterns.enumerate import enumerate_paths_batch
    from graphraft_spark.search.vector import knn_pseudo_entities

    dim = 16
    names = sorted({e for r in ner_rows
                    for e in r["predicted_entities"]})[:400]

    def emb(text):
        h = hashlib.md5(text.encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
        v = rng.standard_normal(dim)
        return (v / np.linalg.norm(v)).tolist()

    node_embs = {n: emb(n) for n in names}
    qids, qembs = [], {}
    for r in ner_rows:
        qids.append(int(r["id"]))
        qembs[int(r["id"])] = emb(r["question"])

    nodes = spark.createDataFrame(
        [(i, "_Entity_", n, node_embs[n]) for i, n in enumerate(names)],
        "nodeId bigint, label string, name string, "
        "nameEmbedding array<double>")
    edges = spark.createDataFrame(
        [(i, i, (i + 1) % len(names), "RELATES")
         for i in range(len(names))],
        "edgeId bigint, src bigint, dst bigint, relType string")
    g = PropertyGraph(nodes=nodes, edges=edges)
    questions = spark.createDataFrame(
        [(q, qembs[q]) for q in qids], "qid bigint, q_emb array<double>")

    anchors = knn_pseudo_entities(g, questions, k=2)
    got = {}
    for r in anchors.collect():
        got.setdefault(r["qid"], []).append((r["rn"], r["name"]))
    got = {q: [n for _, n in sorted(v)] for q, v in got.items()}

    # independent oracle: numpy matmul, ties by name ascending
    M = np.array([node_embs[n] for n in names])
    expect = {}
    for q in qids:
        scores = M @ np.array(qembs[q])
        order = sorted(range(len(names)),
                       key=lambda i: (-scores[i], names[i]))[:2]
        expect[q] = [names[i] for i in order]
    assert got == expect

    # the anchors ARE the enumeration's anchor frame: every question
    # must produce 1hop signatures (ring graph: every node has edges)
    sigs = enumerate_paths_batch(
        g, anchors.select("qid", "name"), patterns=("1hop",))
    per_q = {r["qid"]: r["n"] for r in
             sigs.groupBy("qid").agg(F.count("*").alias("n")).collect()}
    assert set(per_q) == set(qids)
    assert all(n >= 1 for n in per_q.values())
